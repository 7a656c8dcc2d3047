package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Physical-plan regression guards: the 100 TB properties the DuckDB
  * value-compare can't see. Each assertion is a property that, if
  * lost, silently turns a scale-ready plan into a cluster-killer —
  * pushdown reaching the parquet scan, column pruning, dimension
  * broadcasts, top-k without a global sort, no cartesian candidate
  * generation.
  */
class PlanPropertiesSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    QueryPack.queries(name)(spark, sf).queryExecution.executedPlan.toString

  private def planExt(name: String): String =
    QueryPackExt.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q02: filters push into the parquet scan; schema is pruned") {
    val p = plan("q02_filter_pushdown")
    // the plan renderer truncates the filter list, so assert on the head
    assert(p.contains("PushedFilters: [IsNotNull("), p)
    // projection reaches the scan: untouched columns never leave parquet
    val readSchema = p.linesIterator.mkString
    assert(!readSchema.contains("l_comment"), "scan reads unprojected columns")
  }

  test("q03: dimension tables broadcast; fact join is not nested-loop") {
    val p = plan("q03_revenue_by_nation")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q10: top-k compiles to TakeOrderedAndProject, not a global sort") {
    val p = plan("q10_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q21: correlated NOT EXISTS plans as a hash anti-join on the equi key") {
    val p = plan("q21_correlated_exists")
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q30/q41: candidate generation is keyed, never cartesian") {
    assert(!planExt("q30_minhash_lsh_pairs").contains("CartesianProduct"))
    assert(!planExt("q41_embed_neardup").contains("CartesianProduct"))
    assert(!planExt("q43_ann_ivf").contains("CartesianProduct"))
    assert(!planExt("q33_simhash_pairs").contains("CartesianProduct"))
    assert(!planExt("q52_lsh_capped").contains("CartesianProduct"))
    assert(!planExt("q54_dedup_pipeline").contains("CartesianProduct"))
  }

  test("q39: brute-force ANN broadcasts the query side (corpus streams once)") {
    val p = planExt("q39_ann_topk")
    assert(p.contains("BroadcastNestedLoopJoin"), p) // intended: tiny broadcast side
    // top-k is the bounded ObjectHashAggregate, NOT a window sort over
    // every scored candidate (the r4 scale fix)
    assert(p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("Window"), p)
  }

  test("q42: multimodal metadata stays in one codegen stage (no shuffle)") {
    val p = planExt("q42_multimodal_meta")
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("q67: no Filter node contains the gram-hash expression (432s regression shape)") {
    // the near-dedup fingerprint must be evaluated in exactly one
    // Project over the concrete token-hash array; a nullness (or any)
    // predicate over the fingerprint column gets pushed down and
    // re-inlines the whole quadratic expression into a per-row Filter
    val qe = QueryPackExt.queries("q67_stream_neardedup_twin")(spark, sf)
      .queryExecution
    val filters = qe.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition.toString
    }
    assert(filters.nonEmpty, "expected the short-doc split filters")
    filters.foreach { c =>
      assert(!c.contains("array_min") && !c.contains("2000029"),
        s"fingerprint expression leaked into a Filter: ${c.take(200)}")
    }
  }

  test("q72: curation flagship has no cartesian and inline-filter stage barriers") {
    val p = planExt("q72_curation_flagship")
    assert(!p.contains("CartesianProduct"), p)
    // r12 dual-regime barriers: at test scale the keep-lists inline as
    // InSet codegen filters — the FINAL plan is a single filtered
    // scan→pack pipeline with NO stage joins and NO checkpoint reads
    // (the stage pipelines ran once during construction, their result
    // ids baked into the filter). Asserted POSITIVELY (r12 ADVICE: the
    // old `|| ExistingRDD` escape hatch let a silent fall-back to the
    // checkpointed-join regime pass): the sf0.001 keep-lists are
    // hundreds of ids, and the InSet conversion threshold is pinned so
    // an ambient conf change can't flip INSET back to In and fail
    // spuriously. The over-probe checkpoint-join shape is separately
    // regime-equivalence-gated in CurationOpsSpec.
    spark.conf.set("spark.sql.optimizer.inSetConversionThreshold", "10")
    try {
      val pi = planExt("q72_curation_flagship")
      assert(pi.contains("doc_id#") && pi.contains("INSET"), pi)
      assert(!pi.contains("ExistingRDD"), pi)
    } finally
      spark.conf.unset("spark.sql.optimizer.inSetConversionThreshold")
  }

  test("q49 fused form: exactly two corpus scans (histogram + sketch), exchange reused") {
    // the one-scan histogram side holds ONLY if every consumer of the
    // (rf, kind, v) frame shares the same canonical exchange: a
    // kind-Filter pushed below it, or column pruning diverging the
    // stats subtree (the 0.0*sum(__c) ballast), silently resurrects
    // full corpus scans — observed during r13 development as 3 scan
    // stages. Guard: the fused plan reads lineitem exactly twice
    // (histogram pass + the separate percentile_approx pass) and
    // carries at least one ReusedExchange.
    // AQE's initial plan predates reuse (it dedupes at stage
    // submission via its stage cache); the STATIC planner's
    // ReuseExchange is what Bench (AQE off) runs and what this guard
    // can see — assert under that config, like the bench harness
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val li = spark.read.parquet(s"$sf/lineitem.parquet")
      val p = QueryPackExt.q49Fused(li).queryExecution.executedPlan.toString
      val scans = "Scan parquet".r.findAllMatchIn(p).length
      assert(scans == 2,
        s"expected 2 lineitem scans in fused q49, got $scans:\n$p")
      assert(p.contains("ReusedExchange"), p)
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("q127: divergence reads the corpus twice, shares the counts exchange") {
    // the closed-form shared-token shape (tv = 1 + 0.5*sum(|pa-pb| -
    // pa - pb)) exists precisely so no dense (slice x vocab) grid and
    // no diverged distinct-vocab subtree multiply corpus scans — the
    // first cut paid 12. Static planner, AQE off (the q49 convention).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = planExt("q127_lang_divergence")
      val scans = "Scan parquet".r.findAllMatchIn(p).length
      assert(scans == 2, s"expected 2 documents scans in q127, got $scans:\n$p")
      assert(p.contains("ReusedExchange"), p)
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("q74: stream-stream attribution twin is an equi-join with a range residual") {
    val p = planExt("q74_stream_attribution_twin")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Join") || p.contains("join"), p)
  }

  test("q75/q77/q78: mixing, index probe, and budget select stay keyed/broadcast") {
    val mix = planExt("q75_temperature_mix")
    assert(mix.contains("BroadcastHashJoin"), mix)
    assert(!mix.contains("SortMergeJoin"), mix) // corpus is never shuffled
    val probe = planExt("q77_dedup_index_probe")
    assert(!probe.contains("CartesianProduct"), probe)
    val sel = planExt("q78_budget_select")
    assert(sel.contains("BroadcastHashJoin"), sel)
    assert(!sel.contains("CartesianProduct"), sel)
  }

  test("q76/q79/q80: stopwords, familiarity, semantic dedup stay keyed/bounded") {
    val stop = planExt("q76_corpus_stopwords")
    // the DF-qualifying set joins back as a broadcast, never a shuffle
    assert(stop.contains("BroadcastHashJoin"), stop)
    assert(!stop.contains("CartesianProduct"), stop)
    val fam = planExt("q79_familiarity")
    assert(!fam.contains("CartesianProduct"), fam)
    // the bigram-count join is gh-keyed: bounded exchange count guards
    // against a future shape regression re-shuffling the corpus
    val nEx = "Exchange hashpartitioning".r.findAllMatchIn(fam).length
    assert(nEx <= 5, s"q79 exchange count grew to $nEx:\n$fam")
    assert(!planExt("q80_semantic_dedup").contains("CartesianProduct"))
  }

  test("q64: overlap count aggregates partially map-side (no pair rows shuffled)") {
    val p = planExt("q64_count_overlaps")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_"), p) // map-side partial aggregation
    // r14 rank form: the quadratic candidate loop's signature is the
    // bucket-REPLICATION Generate — explode over `sequence(lo, hi)`,
    // whose output grows with interval length/density. Its absence IS
    // the scale property: no pair candidate is ever formed. The r17
    // fused cascade DOES carry fixed 2-way explodes (the side
    // taggers — one histogram union, one signed-threshold union; the
    // plan TEXT repeats them once per stats/offset re-reference of
    // the frame), so the assert pins "no sequence replication" plus
    // "every Generate is the constant-fan-out side tagger", not "no
    // Generate at all".
    assert(!p.contains("sequence("), p)
    // r22: BOTH cascade inputs are lazy-checkpointed (the histogram
    // since r21, the query-side ±1 tagger now too), so the fixed
    // 2-way side-tagger Generates sit behind the ExistingRDD fences —
    // the visible plan must show the two fences and may show NO
    // Generate at all; any that does appear must still be the
    // constant-fan-out tagger, never a replication explode.
    assert("Scan ExistingRDD".r.findAllIn(p).size >= 2, p)
    val gens = p.linesIterator.filter(_.contains("Generate")).toSeq
    assert(gens.forall(_.contains("explode(array(struct(__side")), p)
  }

  test("q58: pair-level bucket join under the probe, pair-free rank form when forced") {
    // default at sf0.001 routes the pair-level operator demo — the
    // bucket-replication Generate (explode over sequence) present,
    // each pair exactly once
    val dflt = planExt("q58_interval_join")
    assert(dflt.contains("Generate"), dflt)
    assert(dflt.contains("sequence("), dflt)
    assert(!dflt.contains("CartesianProduct"), dflt)
    // forced = the 100 TB form: same values (oracle-certified), ZERO
    // pair candidates — no sequence replication anywhere; every
    // Generate is the rank form's fixed 2-way side tagger
    val fPlan = forced { planExt("q58_interval_join") }
    assert(!fPlan.contains("sequence("), fPlan)
    // r22: the rank form's tagger Generates sit behind the two
    // ExistingRDD fences (histogram + query side) — see the q64 pin
    assert("Scan ExistingRDD".r.findAllIn(fPlan).size >= 2, fPlan)
    val fGens = fPlan.linesIterator.filter(_.contains("Generate")).toSeq
    assert(fGens.forall(_.contains("explode(array(struct(__side")), fPlan)
    assert(!fPlan.contains("CartesianProduct"), fPlan)
  }

  test("q84: segments are built per-row — no Generate below the dedup window") {
    val p = planExt("q84_segment_dedup")
    // exactly one Generate (the posexplode of the per-row segment
    // array); a second would mean tokens explode before chunking
    assert(p.linesIterator.count(_.contains("Generate")) === 1, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q85: BM25 never explodes or joins the corpus; top-k is TakeOrdered") {
    val p = planExt("q85_bm25_rank")
    assert(!p.contains("Generate"), p) // tf is a per-row array filter
    assert(p.contains("BroadcastNestedLoopJoin"), p) // one-row stats broadcast
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q87: quantization is shuffle-free (only the output sort exchanges)") {
    val p = planExt("q87_embed_quantize")
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("Generate"), p)
  }

  test("q89: pair explode runs over the aggregated word frame, not the corpus") {
    val p = planExt("q89_bpe_pair_counts")
    // the corpus-side Generate (regex pre-tokenize) feeds an aggregate
    // BEFORE the pair Generate: assert the pair explode sees a
    // HashAggregate child, i.e. the plan has an agg between the two
    val lines = p.linesIterator.toSeq
    val genIdx = lines.zipWithIndex.filter(_._1.contains("Generate")).map(_._2)
    assert(genIdx.size === 2, p)
    assert(lines.slice(genIdx.min, genIdx.max)
      .exists(_.contains("HashAggregate")), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q91: IVF probe joins the inverted file on the cell equi-key") {
    val p = planExt("q91_ivf_index_probe")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p) // probes broadcast to cells
  }

  test("q105: boilerplate join is hash-keyed; segments build per-row") {
    val p = planExt("q105_boilerplate_strip")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // every Generate is the per-row segment-array posexplode — token
    // explosion before chunking would double the generated row count
    assert(p.linesIterator.count(_.contains("Generate")) <= 2, p)
  }

  test("q106: percent-ranks join back as broadcasts — no corpus-wide sort") {
    // assert on the OPERATOR plan (the wrapper adds the result-sized
    // harness sort exchange, which is not the corpus)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = graft.llm.TextAnalysis.qualityBlend(docs)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p) // the distinct-value rank tables
    assert(p.contains("BroadcastNestedLoopJoin"), p) // the one-row N
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    // the only single-partition exchanges feed the three HISTOGRAM
    // windows (distinct-value-sized) and the one-row count — the
    // corpus itself never converges to one partition
    val single = p.linesIterator.count(_.contains("Exchange SinglePartition"))
    assert(single <= 4, s"corpus-sized single-partition exchange appeared:\n$p")
  }

  test("q107: cluster election is keyed by component — no cartesian") {
    val p = planExt("q107_cluster_representative")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Window"), p) // the per-component row_number
  }

  test("q109: leakage pairs inherit the keyed LSH shape — no cartesian") {
    val p = planExt("q109_split_leakage")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q110: padding report is ONE keyed agg — no joins, no explode") {
    val p = planExt("q110_padding_efficiency")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Generate"), p) // token count is per-row size()
    assert(p.contains("partial_"), p)  // map-side partial aggregation
    val nEx = "Exchange".r.findAllMatchIn(p).length
    assert(nEx <= 2, s"q110 exchange count grew to $nEx:\n$p") // agg + sort
  }

  test("q111/q112: span coverage joins stay equi-keyed — no cartesian") {
    val p = planExt("q111_verbatim_spans")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    val q = planExt("q112_strip_spans")
    assert(!q.contains("CartesianProduct") &&
      !q.contains("BroadcastNestedLoopJoin"), q)
  }

  test("q113: grouped ranks ride source-keyed histograms, broadcast back") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = graft.llm.TextAnalysis.sourceQualityRank(docs)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p) // (source, value) rank tables
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    // the cumulative window partitions by source over the value
    // histogram — never a single-partition corpus window
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("q49: sketch aggregates partial-aggregate map-side (mergeable state)") {
    val p = planExt("q49_approx_sketches")
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("partial_"), p) // sketches merge, never re-scan
  }

  test("q50: exact percentiles histogram-interpolate — nothing buffers a group") {
    // r14: the default-small regime is the native ObjectHashAggregate
    // (graft_exact_percentile, mergeable primitive-array state, one
    // scan); Spark's boxed percentile() must appear in neither regime
    val small = planExt("q50_exact_percentiles")
    assert(small.contains("ObjectHashAggregate"), small)
    assert(small.contains("graft_exact_percentile"), small)
    assert(!small.replace("graft_exact_percentile(", "")
      .contains("percentile("), small)
    // the forced/100 TB regime keeps the histogram guarantees below
    val p = forced { planExt("q50_exact_percentiles") }
    // no percentile() aggregate anywhere: exactness comes from the
    // (group, value) histogram + rank interpolation
    assert(!p.contains("percentile("), p)
    assert(!p.contains("graft_exact_percentile"), p) // nothing buffers a group
    assert(p.contains("partial_"), p) // histogram counts partial-agg map-side
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q63: BPE encode fuses into the scan — no exchange before the sort") {
    val p = planExt("q63_bpe_encode")
    assert(!p.contains("Join"), p)
    // the merge-rank replace chain is ONE Project straight over the
    // scan: the only exchange is the output sort's range partitioning
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(p.linesIterator.count(_.contains("Project")) === 1, p)
  }

  test("q81: top-fraction rides group-value histograms — no raw-group corpus window") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = graft.llm.Sampling
      .topFractionPerGroup(docs, "lang", "n_chars", 0.3)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p) // histogram + limits join back
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    // machine form of the skew claim (every window composite-keyed or
    // over an aggregate) is in LlmLayerSpec's topFractionPerGroup test;
    // here: the corpus never converges to one partition
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("q115: HNSW shard merge is the bounded top-k aggregate — no window sort") {
    val p = planExt("q115_ann_hnsw")
    assert(p.contains("ObjectHashAggregate"), p) // graft_topk merge
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p) // never a scored-candidate window sort
  }

  test("q43/q91: IVF centroids are literal — map-only assignment, one output window (r11)") {
    // the inverted-file build must be a pure projection over the scan:
    // no exchange (the old spread() repartition), no checkpoint scan
    // (the old localCheckpoint), no broadcast build (the old one-row
    // centroid-array frame) — centroids are inlined literals
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val (_, cells) = graft.llm.Similarity.ivfTrain(emb)
    val pc = cells.queryExecution.executedPlan.toString
    assert(!pc.contains("Exchange"), pc)
    assert(!pc.contains("ExistingRDD"), pc)
    assert(!pc.contains("BroadcastExchange"), pc)
    // end-to-end: exactly ONE window remains (the output rank); the
    // probe-selection window was replaced by the literal sort_array
    val p = planExt("q43_ann_ivf")
    assert(p.linesIterator.count(_.contains("Window [")) === 1, p)
    assert(!p.contains("ExistingRDD"), p)
    val q = planExt("q91_ivf_index_probe")
    assert(q.linesIterator.count(_.contains("Window [")) === 1, q)
  }

  test("q123: heavy hitters partial-aggregate map-side — the token space never shuffles raw") {
    val p = planExt("q123_freq_items")
    // the Space-Saving aggregate must run as ObjectHashAggregate with a
    // partial phase: <= capacity counters per partition through the
    // exchange, never the exploded token rows themselves
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("partial_graft_freq_items"), p)
    assert(!p.contains("Window ["), p) // ranking is the summary slice, not a window
  }

  test("q108: CDC chunk windows stay keyed by doc_id — no cartesian") {
    val p = planExt("q108_cdc_chunks")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_"), p) // map-side partials on the stats agg
  }

  test("q117: coverage stages stay doc_id-keyed — no cross-doc shuffle shapes") {
    val p = planExt("q117_dup_gram_coverage")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_"), p) // repeat/coverage aggs combine map-side
    // r18: covered positions come from the lag interval-union windows,
    // never the k-fold explode(sequence) + corpus distinct (r17 #1);
    // the one remaining join is the doc_id-keyed token-count restore
    assert(!p.contains("explode(sequence"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q60: probe-regime gram audit is zero-shuffle — scan to stats with no join/window/groupBy (r18)") {
    val p = planExt("q60_decontaminate")
    // the ONLY exchange is the harness determinism sort; the corpus
    // pass itself is scan -> projections -> explode keep-guard
    assert("Exchange".r.findAllIn(p).size === 1, p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window ["), p)
    assert(!p.contains("HashAggregate"), p)
    assert(p.contains("graft_count_map"), p) // exact broadcast membership probe
  }

  test("q100: probe-regime release gate is ONE corpus scan (r18)") {
    val p = planExt("q100_release_gate")
    assert("Scan parquet".r.findAllIn(p).size === 1, p)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"), p)
    assert(p.contains("graft_count_map"), p)
  }

  test("q118: fenced cosine pass, broadcast threshold — the corpus is never shuffled") {
    val p = planExt("q118_centroid_outliers")
    // r22: the scored frame localCheckpoints (both the quantile
    // threshold and the final outlier projection consume the cosine
    // pass), so the CENTROID broadcast join sits behind the
    // ExistingRDD fence; the visible plan is the threshold broadcast
    // join over the fence. The corpus side is still scanned, never
    // exchanged on a key.
    assert(p.contains("ExistingRDD"), p)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 1, p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // the quantile threshold rides the value HISTOGRAM (distinct sims
    // per label — the q50 contract), never a ranking window over the
    // raw vectors: any Window input hangs off a histogram aggregate
    assert(!p.contains("row_number"), p)
  }

  test("q119: chunking is one codegen span over the scan — no exchange before the sort") {
    val p = planExt("q119_stride_chunks")
    // exactly the harness-sort exchange and nothing else
    assert("Exchange".r.findAllIn(p).size === 1, p)
    assert(!p.contains("CartesianProduct") && !p.contains("Join"), p)
  }

  test("operator APIs return unsorted relations — no trailing range shuffle (r8)") {
    // The library entry points must not end in a total-order sort (the
    // harness wrappers sort for oracle determinism; a production caller
    // at 100 TB must not pay a full range exchange it never asked for).
    // A window's internal per-partition sort is fine — the killer is
    // the global Sort + rangepartitioning exchange at the plan ROOT.
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val ops: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
      "exactDupGroups" -> graft.llm.TextDedup.exactDupGroups(docs),
      "dedupPipeline" -> graft.llm.TextDedup.dedupPipeline(docs),
      "simhashPairs" -> graft.llm.TextDedup.simhashPairs(docs),
      "clusterRepresentatives" -> graft.llm.TextDedup.clusterRepresentatives(
        graft.llm.TextDedup.minhashLshPairs(docs), docs),
      "qualityScores" -> graft.llm.TextAnalysis.qualityScores(docs),
      "sourceQualityRank" -> graft.llm.TextAnalysis.sourceQualityRank(docs),
      "bruteForceTopK" -> graft.llm.Similarity.bruteForceTopK(emb, 3, 5),
      "semanticDedup" -> graft.llm.Similarity.semanticDedup(emb),
      "quantizeInt8" -> graft.llm.Similarity.quantizeInt8(emb),
      "packBlocks" -> graft.llm.Packing.packBlocks(docs, 512),
      "shardStats" -> graft.llm.Sampling.shardStats(docs, 4, "s"),
      "corpusDigest" -> graft.llm.Curation.corpusDigest(docs),
      "importanceSelect" -> graft.llm.Dsir.importanceSelect(
        docs, docs.filter(col("lang") === "en")),
      "dupGramCoverage" -> graft.llm.TextAnalysis.dupGramCoverage(docs),
      "centroidOutliers" -> graft.llm.Similarity.centroidOutliers(emb),
      "strideChunks" -> graft.llm.Packing.strideChunks(docs))
    ops.foreach { case (name, df) =>
      // walk from the root down to the first non-trivial operator: a
      // root-position SortExec (possibly under exchanges/AQE wrappers)
      // is exactly the trailing total-order sort the contract forbids
      def rootSort(p: org.apache.spark.sql.execution.SparkPlan): Boolean = p match {
        case s: SortExec if s.global => true
        case a: AdaptiveSparkPlanExec => rootSort(a.inputPlan)
        case e: ShuffleExchangeExec => rootSort(e.child)
        case proj: org.apache.spark.sql.execution.ProjectExec => rootSort(proj.child)
        case _ => false
      }
      assert(!rootSort(df.queryExecution.executedPlan),
        s"$name ends in a global Sort:\n${df.queryExecution.executedPlan}")
    }
  }
}
