package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import perfbench.Tracer

/** Per-layer decomposition of the curation flagship (q72) and the
  * MinHash shingle family, for the benchmark's traced run. Lives in
  * `graft.llm` to call the package-private building blocks the public
  * operators compose (`TextDedup.spread`, `TextDedup.bucketsFromSets`).
  *
  * Each layer's input is materialized before its span opens, and the
  * span covers materializing the layer's own output, so a span's time
  * is the layer's self time. */
object BenchLayers {
  private def materialize(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    (p, p.count())
  }

  private def share(n: Long, of: Long): Double = if (of == 0) 0.0 else n.toDouble / of

  /** The stages of `Curation.curate` with q72's parameters. Returns
    * `(metric, value)` pairs: seconds per stage and each filtering
    * stage's kept share of its input. */
  def curation(docs: DataFrame, tracer: Tracer): Seq[(String, Double)] = {
    val (evalDocs, _) = materialize(docs.filter(col("doc_id") % 20 === 0))
    val (corpus, nCorpus) = materialize(docs.filter(col("doc_id") % 20 =!= 0))
    def stage(name: String, input: DataFrame)(ids: DataFrame => DataFrame) = {
      val ((kept, _), span) = tracer.span(s"cur.$name")(materialize(ids(input)))
      val (next, n) = materialize(input.join(kept, Seq("doc_id"), "left_semi"))
      kept.unpersist()
      (next, n, span.seconds)
    }
    val ((sampled, nSampled), sampleSpan) = tracer.span("cur.sample")(
      materialize(Sampling.sampleCorpus(corpus, 0.9, "curate")))
    val (clean, nClean, decS) = stage("decontam", sampled)(d =>
      Decontaminate.decontaminate(d, evalDocs, 3, 0.2).select(col("doc_id")))
    val (unique, nUnique, dedupS) = stage("dedup", clean)(d =>
      TextDedup.dedupPipeline(d, 3, 12, 4, 0.5, 5, None))
    val (good, nGood, qualS) = stage("quality", unique)(d =>
      TextAnalysis.qualityFilter(d).select(col("doc_id")))
    val (_, packSpan) = tracer.span("cur.pack")(
      materialize(Packing.packBlocks(good, 512, 64)))
    Seq(
      "cur.sample_s" -> sampleSpan.seconds,
      "cur.decontam_s" -> decS,
      "cur.dedup_s" -> dedupS,
      "cur.quality_s" -> qualS,
      "cur.pack_s" -> packSpan.seconds,
      "cur.sample.keep_frac" -> share(nSampled, nCorpus),
      "cur.decontam.keep_frac" -> share(nClean, nSampled),
      "cur.dedup.keep_frac" -> share(nUnique, nClean),
      "cur.quality.keep_frac" -> share(nGood, nUnique))
  }

  /** MinHash-LSH near-dup detection split into tokenize+hash, gram-set
    * assembly, signature+banding, the band self-join and connected
    * components, with `minhashLshPairs`' defaults (k=3, 12 hashes, 4
    * bands, threshold 0.5). */
  def shingle(docs: DataFrame, tracer: Tracer): Seq[(String, Double)] = {
    val ((hs, _), tok) = tracer.span("shingle.tokenize")(materialize(
      docs.select(col("doc_id"), TextFns.tokenHashes(col("text")).as("hs"))))
    val ((sets, _), grams) = tracer.span("shingle.grams")(materialize(
      TextDedup.spread(hs, "doc_id")
        .select(col("doc_id"), explode(TextFns.gramHashArray(col("hs"), 3)).as("gh"))
        .groupBy(col("doc_id")).agg(collect_set(col("gh")).as("sh"))))
    val ((buckets, _), sig) = tracer.span("shingle.signature")(materialize(
      TextDedup.bucketsFromSets(sets, 12, 4, None, checkpointSignatures = false)))
    val ((_, nCand), join) = tracer.span("shingle.band_join")(materialize(
      buckets.as("a").join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
        .distinct()))
    val (pairs, nPairs) = materialize(TextDedup.minhashLshPairs(docs, 3, 12, 4, 0.5))
    val (_, comp) = tracer.span("shingle.components")(
      materialize(TextDedup.duplicateComponents(pairs)))
    Seq(
      "shingle.tokenize_s" -> tok.seconds,
      "shingle.grams_s" -> grams.seconds,
      "shingle.signature_s" -> sig.seconds,
      "shingle.band_join_s" -> join.seconds,
      "shingle.components_s" -> comp.seconds,
      "shingle.candidate_pairs" -> nCand.toDouble,
      "shingle.pair_precision" -> share(nPairs, nCand))
  }
}
