package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Null-input behavior of the curation layer — at 100 TB there IS a
  * null text and a null embedding somewhere, and an operator that
  * throws under ANSI mode kills the job. These tests pin the
  * contract: null rows either drop out or carry null outputs; nothing
  * throws.
  */
class NullRobustnessSpec extends AnyFunSuite with SparkSpec {

  private def withNullText = {
    val s = spark
    import s.implicits._
    Seq((1L, Option("alpha beta gamma delta epsilon")),
      (2L, Option.empty[String]),
      (3L, Option("alpha beta gamma delta epsilon")))
      .toDF("doc_id", "text")
  }

  test("exact dedup: null text forms its own (null-hash) group, no throw") {
    val out = TextDedup.exactDupGroups(withNullText).collect()
    assert(out.map(_.getAs[Long]("n_copies")).sum === 3L)
  }

  test("segmentDedup: null text behaves like an empty doc (one null segment)") {
    val out = TextDedup.segmentDedup(withNullText, width = 2).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_segments"), r.getAs[Long]("n_kept"),
          r.getAs[String]("clean_text"))).toMap
    // null tokenizes to a null segment array -> ONE null segment: the
    // doc survives with empty clean text (the empty-doc contract), and
    // all null-text docs dedup together on the null hash
    assert(out(2L) === ((1L, 1L, "")))
    assert(out(1L)._2 === 3L) // doc 1 keeps its 3 distinct segments
    assert(out(3L)._2 === 0L) // exact dup of doc 1: everything drops
  }

  test("boilerplateStrip: null text behaves like an empty doc, survives") {
    val out = TextDedup.boilerplateStrip(withNullText, width = 2, minDocs = 2)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_segments"), r.getAs[Long]("n_dropped"),
          r.getAs[String]("clean_text"))).toMap
    assert(out(2L)._1 === 1L) // one null segment, never boilerplate-joined
    assert(out(2L)._3 === "")
    // docs 1 and 3 share every segment → all boilerplate at minDocs=2
    assert(out(1L) === ((3L, 3L, "")))
    assert(out(3L) === ((3L, 3L, "")))
  }

  test("verbatimSpans / cdcChunkStats / splitLeakage: null-text docs drop") {
    val s = spark
    import s.implicits._
    assert(TextDedup.verbatimSpans(withNullText, k = 5).collect()
      .map(_.getAs[Long]("doc_id")).toSet === Set(1L, 3L))
    val sourced = Seq((1L, Option("alpha beta"), "s1"),
      (2L, Option.empty[String], "s1"))
      .toDF("doc_id", "text", "source")
    val cdc = TextDedup.cdcChunkStats(sourced, modulus = 4).collect()
    assert(cdc.length === 1) // s1 counts only doc 1's chunks
    assert(TextDedup.clusterRepresentatives(
      Seq((1L, 3L)).toDF("da", "db"),
      withNullText.withColumn("n_chars", length(col("text")))).count() === 1)
    assert(graft.llm.Curation.splitLeakage(withNullText, valFraction = 0.5,
      seed = "x").collect() !== null) // no throw; null doc forms no pairs
  }

  test("qualityBlend / paddingEfficiency: null text ranks as zero tokens") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, Option("alpha beta gamma"), 10L),
      (2L, Option.empty[String], 0L)).toDF("doc_id", "text", "n_chars")
    val blend = TextAnalysis.qualityBlend(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("blend")).toMap
    assert(blend(2L) === 0.0) // bottom rank on every signal, no throw
    assert(blend(1L) === 1.0)
    val pads = graft.llm.Packing.paddingEfficiency(docs, bucketWidth = 32)
      .collect().map(r => r.getAs[Long]("bucket_ceil") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"))).toMap
    assert(pads(0L) === ((1L, 0L))) // null text = zero tokens, not -1
    assert(pads(32L) === ((1L, 3L)))
  }

  test("quality scores / filter reasons: null-text doc drops with the score frame") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, Option("the quick brown fox jumps"), "en"),
      (2L, Option.empty[String], "en")).toDF("doc_id", "text", "lang")
    assert(TextAnalysis.qualityScores(docs).collect()
      .map(_.getAs[Long]("doc_id")).toSet === Set(1L))
    assert(TextAnalysis.filterReasons(docs).collect()
      .map(_.getAs[Long]("doc_id")).toSet === Set(1L))
  }

  test("bm25: null-text doc scores null and is filtered, no throw") {
    val out = TextAnalysis.bm25Rank(withNullText,
      terms = Seq("alpha"), topK = 10).collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSet === Set(1L, 3L))
  }

  test("quantizeInt8: null embedding carries null outputs, no throw") {
    val s = spark
    import s.implicits._
    val emb = Seq((1L, Option(Seq(0.0f, 1.0f))),
      (2L, Option.empty[Seq[Float]])).toDF("vec_id", "embedding")
    val out = Similarity.quantizeInt8(emb).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.isNullAt(r.fieldIndex("code_sum")))
      .toMap
    assert(out === Map(1L -> false, 2L -> true))
  }

  test("corpusDigest / releaseGate inputs: null text does not throw") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, Option("alpha beta"), "web"),
      (2L, Option.empty[String], "web")).toDF("doc_id", "text", "source")
    val dig = graft.llm.Curation.corpusDigest(docs).collect()
    assert(dig.map(_.getAs[Long]("n_docs")).sum === 2L)
  }

  test("Percentiles.groupedExactSelect: null keys, null values, empty input") {
    val s = spark
    import s.implicits._
    // a NULL group key is a real group (SQL GROUP BY semantics); null
    // VALUES leave rank space; an all-null-value group is absent
    val d = Seq(
      (Option("a"), Option(1.0)), (Option("a"), Option(3.0)),
      (Option.empty[String], Option(10.0)), (Option.empty[String], Option(20.0)),
      (Option("b"), Option.empty[Double]))
      .toDF("g", "v")
    val out = graft.operators.Percentiles
      .groupedExactSelect(d, "g", "v", Seq(0.5))
      .collect().map(r => Option(r.getString(0)) -> r.getDouble(1)).toMap
    assert(out === Map(Some("a") -> 2.0, None -> 15.0))
    // empty input: empty result, no throw
    assert(graft.operators.Percentiles
      .groupedExactSelect(d.filter(lit(false)), "g", "v", Seq(0.5))
      .collect().isEmpty)
  }

  test("Percentiles.groupedExact: null values leave rank space; all-null group absent") {
    val s = spark
    import s.implicits._
    val d = Seq(
      ("a", Option(1.0)), ("a", Option(2.0)), ("a", Option.empty[Double]),
      ("b", Option.empty[Double])).toDF("g", "v")
    val out = graft.operators.Percentiles
      .groupedExact(d, "g", "v", Seq(0.5), singleWindow = true)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2)))
      .toMap
    // group a: median over the two non-null values, n counts non-null;
    // group b (all null): absent, not a null row, not a throw
    assert(out === Map("a" -> ((1.5, 2L))))
  }

  test("Percentiles.groupedExact: null group key survives the two-phase form") {
    val s = spark
    import s.implicits._
    // pre-r15 the two-phase stats/offset join-back used plain equality
    // on the group key, silently DROPPING the null group that the
    // single-window form kept (a window treats null as its own
    // partition) — the PrefixSum kernel joins null-safely, so the two
    // regimes must agree, null group included
    val d = Seq((Option("a"), 1.0), (Option("a"), 3.0),
      (Option.empty[String], 2.0), (Option.empty[String], 4.0),
      (Option.empty[String], 6.0)).toDF("g", "v")
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => Option(r.getString(0)) -> ((r.getDouble(1), r.getLong(2))))
      .toMap
    val one = m(graft.operators.Percentiles
      .groupedExact(d, "g", "v", Seq(0.5), singleWindow = true))
    val two = m(graft.operators.Percentiles
      .groupedExact(d, "g", "v", Seq(0.5), singleWindow = false))
    assert(one === Map(Option("a") -> ((2.0, 2L)), None -> ((4.0, 3L))))
    assert(two === one)
  }

  test("topFractionPerGroup: null order values rank last, not dropped") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "en", Option(40L)), (2L, "en", Option(30L)),
      (3L, "en", Option.empty[Long]), (4L, "en", Option(10L)))
      .toDF("doc_id", "lang", "n_chars")
    // DESC ranks NULLS LAST (the r6 row_number semantics): k = 2 keeps
    // the two best rankable docs; the null-quality doc ranks 4th
    val kept = Sampling.topFractionPerGroup(d, "lang", "n_chars", 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 2L))
    // null rows are genuinely ranked, not silently dropped: at k = 3
    // the null doc is still out (10L ranks 3rd), at fraction = 1.0 it
    // is IN — the null-safe join-back keeps every counted row
    assert(Sampling.topFractionPerGroup(d, "lang", "n_chars", 0.75)
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L, 4L))
    assert(Sampling.topFractionPerGroup(d, "lang", "n_chars", 1.0)
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L, 4L))
  }

  test("videoMeta: garbage, truncated, and empty payloads refuse quietly") {
    assert(Multimodal.videoMeta(Array.emptyByteArray).isEmpty)
    assert(Multimodal.videoMeta("RIFFxxxxAVI ".getBytes).isEmpty)
    val avi = Multimodal.syntheticAvi(64, 48, 10, 5)
    (1 until avi.length by 37).foreach { cut =>
      Multimodal.videoMeta(avi.take(cut)) // any prefix: None or Some, no throw
    }
    assert(Multimodal.videoMeta(avi).nonEmpty)
  }

  test("bigramPmi / langDivergence: null text and null slice survive") {
    // null text: tokens(null) is null, explode drops the row; the doc
    // contributes nothing to either statistic
    val pmi = TextAnalysis.bigramPmi(withNullText, minCount = 1, topK = 10)
      .collect()
    assert(pmi.nonEmpty) // the two identical docs still yield bigrams
    assert(pmi.forall(r => !r.isNullAt(2) && !r.isNullAt(3)))
    val s0 = spark
    import s0.implicits._
    val d = Seq(
      (1L, Option("x y"), Option("en")),
      (2L, Option.empty[String], Option("en")),  // null text
      (3L, Option("x z"), Option.empty[String])) // null slice
      .toDF("doc_id", "text", "lang")
    // null slice forms its own group but null comparisons are filtered
    // out of the pair list (slice_a < slice_b is null-safe by SQL
    // semantics: null predicates drop) — only real pairs emit
    val div = TextAnalysis.langDivergence(d).collect()
    assert(div.forall(r => r.getString(0) != null && r.getString(1) != null))
  }
}
