package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Plan-audit dump: writes `PLANS.md` with the formatted physical plan
  * of a curated set of headline queries, each annotated with the scale
  * property the plan is expected to exhibit. Regenerate after plan-
  * shape changes:
  *
  *   sbt "runMain graft.Plans [sfDir] [outFile]"
  *
  * The machine-checked versions of these properties live in
  * PlanPropertiesSpec — this artifact exists so a human reviewer can
  * read the actual plans without running anything.
  */
object Plans {

  private val Audited: Seq[(String, String)] = Seq(
    "q02_filter_pushdown" ->
      "filters reach the parquet scan (PushedFilters), schema pruned to used columns",
    "q03_revenue_by_nation" ->
      "dimension tables broadcast (BroadcastHashJoin); no nested-loop anywhere",
    "q10_topk" ->
      "top-k compiles to TakeOrderedAndProject, not a global sort",
    "q29_ena_flagship" ->
      "whole parse+resolve pipeline: the exploded (locus key, pid) projection joins the raw idmapping before any aggregate (join first, group only the matches); no UDF",
    "q30_minhash_lsh_pairs" ->
      "candidate generation is an equi-join on (band, bucket) — no CartesianProduct; signature agg is partial (map-side)",
    "q33_simhash_pairs" ->
      "banded self-join on 16-bit chunks (2^16 keys/band); hamming filter after a keyed join, never all-pairs",
    "q39_ann_topk" ->
      "query side broadcasts (BroadcastNestedLoopJoin over a tiny set); ranking is the bounded ObjectHashAggregate, no Window",
    "q43_ann_ivf" ->
      "centroids are a LITERAL sorted array (r11 — collected once, inlined): assignment and probe ranking evaluate inside whole-stage codegen with no centroid broadcast, no checkpoint scan, no probe-selection window; the only window is the output rank; probe meets the inverted file on the cell equi-key — no CartesianProduct",
    "q45_asof_join" ->
      "as-of = ONE Exchange + Window; zero join operators",
    "q54_dedup_pipeline" ->
      "all three stages equi-keyed; LSH join keyed on (band, bucket); left_anti drop — no CartesianProduct",
    "q58_interval_join" ->
      "interval join (r14 dual regime): this default-small plan is the pair-level bucket demo — equi-join on bucket id with the exactly-once residual, Generate only for bucket replication. The forced/large form is the RANK reshape (see q64): no sequence-replication Generate, no pairs — only the fused cascade's two fixed 2-way side taggers (plan-asserted)",
    "q64_count_overlaps" ->
      "overlap count, RANK FORM (r14; fused r17): n = #(rs<=we) - #(re<ws) via ONE side-tagged prefix-sum cascade — both histograms and both signed threshold sets ride a single union frame partitioned by the side tag, so there is one bucket-stats pass, one 512-row cascade window, one bucket-keyed running sum, and NO join-back at all (each left row's two query rows carry (key, ±1) and the count is sum(sgn*cnt)). Still zero pairs formed, so interval density cannot enter the cost",
    "q67_stream_neardedup_twin" ->
      "fingerprint evaluated in ONE Project over the concrete token-hash array; NO Filter contains the gram expression (the pushed-nullness-predicate shape that re-inlined it cost 432 s at sf0.1)",
    "q70_sequence_packing" ->
      "two-phase prefix sum: per-group window keyed on grp, group offsets broadcast back; the only unpartitioned window runs over n/groupWidth rows",
    "q72_curation_flagship" ->
      "five chained stages, each handing the next its doc_id keep-list through the r12 dual-regime barrier: at this scale the ids INLINE as InSet codegen filters fused into the scan (each stage pipeline ran once at construction, NO stage joins or checkpoint reads in the final plan); over the 100k-id probe they localCheckpoint + broadcast-join as before; no CartesianProduct either way",
    "q74_stream_attribution_twin" ->
      "stream-stream interval join plans as an equi-join on user_id with the time range as residual predicate — never a nested loop",
    "q75_temperature_mix" ->
      "per-source thresholds broadcast back (BroadcastHashJoin); the corpus is scanned and filtered, never shuffled — no SortMergeJoin",
    "q77_dedup_index_probe" ->
      "probe meets the corpus index on the (band, bucket) equi-key; only the new batch is signatured; no CartesianProduct",
    "q78_budget_select" ->
      "two-phase prefix sum: per-quality offsets broadcast back; the row-level running sum rides a window PARTITIONED by quality — no global row-level sort",
    "q79_familiarity" ->
      "bigram counts join back on the 8-byte gram-hash key (equi-join, bounded exchange count); one md5 per token, never bigram strings",
    "q49_approx_sketches" ->
      "HLL++ and percentile sketches partial-aggregate map-side (partial_approx_count_distinct / partial_percentile_approx in an ObjectHashAggregate) — bounded mergeable state per partition, the 100 TB aggregation form the exact twins gate",
    "q50_exact_percentiles" ->
      "exact percentiles with NO group buffering (r7 — replaces the percentile() aggregate): per-(group, value) histogram counts partial-aggregate map-side, a running rank range over each group's VALUE DOMAIN, and (n-1)p linear interpolation via two conditional MINs — value-identical to quantile_cont; Percentiles.grouped auto-routes to percentile_approx sketches past a bounded row probe",
    "q63_bpe_encode" ->
      "the merge-table replace chain compiles into the scan's Project (whole-stage codegen, no UDF in the column path); zero exchanges before the output sort — encoding is embarrassingly parallel and stays that way",
    "q80_semantic_dedup" ->
      "sign-LSH bucketed pair generation (no CartesianProduct); the component closure is dual-regime (r12): under the 128k-edge probe the labels come back as a driver union-find LocalRelation (2 jobs), over it the bounded min-label propagation + star escalation runs; the keep/drop label is a left join back over the vectors",
    "q81_top_fraction" ->
      "histogram-rank selection (r7 — replaces the grouped row_number corpus window): per-(group, value) counts cumulated over each group's VALUE DOMAIN, broadcast back on the composite key; only the one boundary value per group pays a tie-break window, composite-keyed and over the boundary frame only",
    "q82_dup_source_attribution" ->
      "near-dup pair list (dedup-output-sized) joins source lookups; candidate generation inherits q30's equi-keyed shape — no CartesianProduct",
    "q83_dataset_card" ->
      "each distinct-count is its OWN tiny aggregate crossJoined back as a broadcast — no Expand multiplying the corpus through the agg",
    "q84_segment_dedup" ->
      "segments built per-row (ONE Generate, after the array chunking); dedup is one window on the segment hash + one reassembly agg on doc_id — no joins",
    "q85_bm25_rank" ->
      "tf per term is a per-row array filter (no Generate, no corpus join); corpus stats broadcast as one row; top-k is TakeOrderedAndProject",
    "q87_embed_quantize" ->
      "pure per-row codegen — no Exchange except the output sort",
    "q89_bpe_pair_counts" ->
      "pair explode runs over the AGGREGATED distinct-word frame (vocabulary-sized), never the corpus; top-k is TakeOrderedAndProject",
    "q91_ivf_index_probe" ->
      "probes broadcast to the inverted file on the cell equi-key; no CartesianProduct anywhere in train or probe",
    "q98_corpus_digest" ->
      "one scan, one keyed agg with map-side partial xor — the digest never moves more than one row per (source, partition)",
    "q100_release_gate" ->
      "every metric its own tiny aggregate (no Expand) crossJoined as broadcast one-row frames; contamination inherits decontaminate's broadcast-sized eval gram side",
    "q105_boilerplate_strip" ->
      "segments build per-row; document frequency is one keyed agg FILTERED to frequent keys before the join back (boilerplate-sized side) — no corpus-wide window, no cartesian",
    "q106_quality_blend" ->
      "no corpus-wide sort anywhere: percent-ranks come from distinct-VALUE histograms (keyed partial agg, then a window over the value domain only) joined back as broadcasts; the only single-partition exchanges are domain-sized",
    "q107_cluster_representative" ->
      "representative election is a row_number window KEYED by component (never a global or corpus-frame sort); the CC label table inherits q61's dual-regime shape (r12: driver union-find LocalRelation under the edge probe, equi-keyed rounds over it); quality signals join the pair list (dedup-output-sized), not the corpus",
    "q108_cdc_chunks" ->
      "token numbering and chunk ids ride windows KEYED by doc_id (never global); chunk text is hashed inside its keyed agg and discarded — stats aggregate partially map-side",
    "q111_verbatim_spans" ->
      "shared-gram table filtered to df>=2 BEFORE the join back; the xk coverage explode runs over shared occurrences only (duplication-bounded); every join equi-keyed on gram hash or (doc, pos) — no cartesian",
    "q112_strip_spans" ->
      "same span-strip shape with the marked set = DISTINCT eval grams (MB-scale, broadcastable); the corpus pays its gram front end plus one map-side join — never rescanned, never cartesian",
    "q113_source_quality_rank" ->
      "grouped percent-rank with NO grouped sort: per-(source, value) histograms cumulated over the per-source value domain, broadcast back — no single-partition exchange anywhere",
    "q115_ann_hnsw" ->
      "sharded HNSW probe: graph build is mapPartitions over the repartitioned corpus (one serialized graph row per shard), every shard searched independently, k-per-(query, shard) merged by the bounded ObjectHashAggregate top-k — no cartesian, no scored-corpus window sort",
    "q117_dup_gram_coverage" ->
      "every stage doc_id-keyed: gram window, in-doc repeat groupBy, coverage join (doc_id, gh), position distinct, final counts — no cross-document shuffle, all aggregates partial (map-side), no cartesian",
    "q118_centroid_outliers" ->
      "centroid agg partial-combines map-side (shuffle carries |labels|*dim rows per partition); centroids AND quantile thresholds broadcast back (BroadcastHashJoin both) — the corpus is never shuffled, no window over vectors",
    "q119_stride_chunks" ->
      "pure per-row chunking: tokenize + integer chunk count + posexplode + slice, ALL inside one WholeStageCodegen span over the scan — zero exchanges before the harness sort, output doc-clustered for free",
    "q120_select_percentiles" ->
      "exact percentiles by sketch-guided band SELECTION (r11): the visible plan is a LocalRelation + the harness sort because both bounded passes (per-group percentile_approx bounds; below/band/above classification against broadcast-literal bounds) ran at construction — nothing is ever sorted, and only the <= 4n/accuracy band is collected; the scale contract lives in the operator (Percentiles.groupedExactSelect) and its curve in BASELINE.md r11",
    "q123_freq_items" ->
      "Space-Saving heavy hitters: ONE ObjectHashAggregate whose partial state is <= capacity counters per partition (partial_graft_freq_items), merged counter-wise at a single exchange — the full distinct-token space never shuffles; top-20 is a slice of the already-ranked summary, no sort, no window",
    "q124_mjpg_frames" ->
      "MJPG frame decode (r12): per-partition streaming mapPartitions over a LocalRelation of media rows — each AVI's movi chunks decode through the JDK JPEG codec one frame at a time, no shuffle before the harness sort; tolerance flags are per-row codegen projections. At corpus scale the input is a binary-column parquet scan and the decode stays embarrassingly parallel",
    "q125_freq_items_eviction" ->
      "Space-Saving under EVICTION (r13): one range-generated stream feeds the bounded ObjectHashAggregate sketch (amortized-O(1) eviction, capacity 8192 counters per partial regardless of the 400k distinct keys) and a keyed exact-twin count agg; the 20-row sketch side broadcasts into the twin join. The sketch path's state is the POINT: no distinct-key shuffle anywhere near the 100 TB form",
    "q126_bigram_pmi" ->
      "bigram PMI (r13): bigrams assemble per-row with zip_with inside codegen (no posexplode self-join), both count frames are vocabulary-bounded keyed aggs with map-side partials, the unigram joins are keyed on the word, total mass rides a broadcast one-row crossJoin, and top-k is TakeOrderedAndProject — never a global sort",
    "q127_lang_divergence" ->
      "slice divergence (r13): counts/totals are keyed vocabulary-bounded aggs; the SHARED-token inner join carries both statistics via the closed form tv = 1 + 0.5*sum(|pa-pb| - pa - pb) (no dense slice x vocab grid), the pair universe is a bounded slice-list cross, and disjoint pairs left-join to their exact (1,1). Static planner: 2 corpus scans + 4 ReusedExchange (plan-asserted; the AQE-on text below predates reuse, which AQE applies at stage submission)",
    "q129_quantile_drift" ->
      "quantile drift (r13; lag dual-regime r14): the heavy stage is the L92 window-keyed value histogram (map-side partial aggs; two-phase rank at scale/forced); the lag window runs over the REPORT-sized one-row-per-window frame — the right plan under the 1M-window min/max probe, while larger spans (or forced) route to the range-sort + zipWithIndex + keyed-join lag with no single-task stage",
    "q128_bpe_train" ->
      "BPE training (r13): the plan shown is the learned table's LocalRelation tail — the training itself is the histogram trick (one corpus scan to a vocabulary-sized (word, count) agg, then an n-merge loop over the histogram, driver-side under the probe / distributed keyed pair-count aggregates above it). Nothing corpus-sized ever iterates",
    "q150_lm_rare_transitions" ->
      "bigram-LM quality score (r16; hashed keys + one-scan model + count-map probe r17): bigrams assemble per-row with zip_with over the CONCRETE token-hash array inside codegen (no position self-join, no Filter carrying the gram pipeline — short docs drop via a when-guarded empty array under the explode) as ONE packed 62-bit long (h1*2^31 + h2; the unigram context key is bg >> 31, recovered for free), so strings never leave their scan task. The model builds in ONE reference scan (unigram + bigram keys through a single keyed agg, train-vocab-bounded) and is dual-regime on a bounded row probe: bounded models compile into the EXACT broadcast count map (graft.functions.LongCountMap, built per call) and the corpus pass is JOIN-FREE — three codegen'd O(1) probes per bigram in a regular projection (never a higher-order-function lambda: HOFs are CodegenFallback), one map-side-combined per-doc agg as the only exchange; oversized/forced models keep the shuffle join behind the distinct pre-agg. The rare test is pure integer comparisons — nothing quadratic, nothing data-sized collected, no log anywhere. sf1: 2.52 -> 0.70 s, parity with the DuckDB oracle",
    "q146_increment_flagship" ->
      "increment gate (r16; fused r17): history index built once (never re-signed); the increment's distinct gram frame is checkpointed and feeds contamination AND familiarity in ONE kernel pass (eval membership = left-join marker, history document frequency = left-joined posting-list counts, both folded into a single doc_id aggregation); the verdict frame localCheckpoints so the keep-list fed to trainingOrder and the final join both read materialized rows instead of re-running the probe stack; order assignment rides the two-phase prefix sum. Every stage equi-keyed; the only pair generation is the capped banded probe",
    "q155_zorder3_key" ->
      "3-D Morton key (r17): three stride-3 mask cascades + two shifts + two ORs, all inside one WholeStageCodegen projection over the scan (no UDF, no exchange before the top-20 TakeOrderedAndProject); the d-dim layout rewrite (zorderByN) stays ONE tiny stats agg broadcast back + one range repartition + in-partition sort — the cost of the 1-D sort it replaces",
    "q151_dyadic_rank" ->
      "dyadic-CMS rank sketch (r16): the grid build is ONE corpus scan with a levels-way in-row explode into a map-side-combined ObjectHashAggregate collapsing to a single depth x width row (the whole order-statistics state); rank probes are pure driver-fed arithmetic against the broadcast-handle probe — the visible plan is probe-frame-sized, the corpus is never re-touched, and exact ranks for the report ride one conditional-count pass with the probe list broadcast",
    "q152_kcenter_coreset" ->
      "greedy k-center (r16): k bounded passes, each a TakeOrdered(1) over the running-min frame (never a global sort); centers travel as dims-sized plan literals; the running-min state is one double per row, localCheckpointed per step and released so lineage stays flat; the k one-row collects ARE the selections — bounded by construction",
    "q153_hard_negatives" ->
      "hard-negative mining (r16): the L39 brute-force shape with the label-mismatch predicate fused into the broadcast join condition BEFORE the bounded graft_topk heap — exact prefilter semantics at one corpus scan, label recovery joins on report-sized outputs only")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outFile = args.drop(1).headOption.getOrElse("PLANS.md")
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-plans")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.ensureRegistered(spark)

    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan audit of headline queries\n\n")
    sb.append(s"Generated by `graft.Plans` against `$sfDir`. Each plan is\n")
    sb.append("annotated with the scale property it must exhibit; the\n")
    sb.append("machine-checked versions live in PlanPropertiesSpec.\n")
    Audited.foreach { case (name, property) =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      sb.append(s"\n## $name\n\n")
      sb.append(s"**Expected property:** $property\n\n")
      sb.append("```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode).trim)
      sb.append("\n```\n")
    }
    Files.write(Paths.get(outFile),
      sb.toString.getBytes(StandardCharsets.UTF_8))
    println(s"[plans] wrote ${Audited.size} plans to $outFile")
    spark.stop()
  }
}
