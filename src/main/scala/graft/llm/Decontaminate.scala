package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Benchmark decontamination — the third curation pillar next to dedup
  * ([[TextDedup]]) and quality filtering ([[TextAnalysis.qualityFilter]]):
  * training documents that share word n-grams with a held-out
  * evaluation set are flagged and dropped, so eval numbers measure
  * generalization rather than memorized test data. Every production
  * training-data build runs this step against its benchmark suites.
  *
  * Mechanics: both corpora run through the shared polynomial gram-hash
  * front end ([[TextDedup.gramHashes]] — one md5 per token, k-grams
  * assembled with integer window arithmetic, 8-byte long keys). The
  * eval side collapses to a DISTINCT gram-hash set; corpus grams meet
  * it in an equi-join on the hash, and each document keeps the fraction
  * of its distinct grams that hit. `maxOverlap` = 0.0 is the strict
  * anti-join form (any shared n-gram contaminates); a small positive
  * threshold tolerates boilerplate n-grams shared by chance.
  *
  * Scale (100 TB corpus vs a benchmark suite): the eval gram set is
  * MB-scale by construction (benchmarks are small) — Catalyst/AQE
  * broadcasts it, so the corpus side is one scan + one map-side join +
  * one partial-aggregated groupBy riding the gram window's doc_id
  * partitioning; no shuffle of the corpus beyond the gram front end
  * itself, and never a cartesian (plan-asserted in LlmLayerSpec).
  * Documents with fewer than k tokens have no grams and are kept with
  * overlap 0 — too short to leak an n-gram of the eval set.
  */
object Decontaminate {

  /** Survivors of decontaminating `docs` against `evalDocs` (both need
    * `(doc_id, text)`): one row per KEPT document —
    * `(doc_id, n_grams, n_hit, overlap)` with overlap = n_hit/n_grams
    * over the doc's distinct k-gram hashes (0.0 for gram-less docs) —
    * documents with overlap > `maxOverlap` are dropped.
    */
  def decontaminate(
      docs: DataFrame,
      evalDocs: DataFrame,
      shingleK: Int = 3,
      maxOverlap: Double = 0.0): DataFrame = {
    require(maxOverlap >= 0.0 && maxOverlap < 1.0,
      "maxOverlap must be in [0, 1)")
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    buildGramSetProbe(evalDocs, shingleK) match {
      case Right(hit) => probeAuditKept(docs, shingleK, hit, maxOverlap)
      case Left(evalGrams) =>
        joinAudit(docs, evalGrams, shingleK).filter(col("overlap") <= maxOverlap)
    }
  }

  /** The unfiltered form of [[decontaminate]]: the same
    * `(doc_id, n_grams, n_hit, overlap)` row for EVERY document —
    * what an audit/report pass wants (how contaminated is the corpus,
    * and by how much per doc) before any keep rule is chosen.
    *
    * Dual regime: the common case — a BOUNDED eval gram set
    * (benchmark suites are small by construction) — compiles the
    * distinct eval grams into an exact [[graft.functions.LongCountMap]]
    * broadcast probe, and the corpus pass becomes a ZERO-SHUFFLE
    * projection ([[probeAudit]]): per-row gram array, in-row distinct,
    * probe-hit count — no gram window exchange+sort, no corpus-wide
    * distinct, no doc_id groupBy, no join-back. Values are IDENTICAL
    * to the join form (the probe is exact membership, not a sketch —
    * same oracle). An OVERSIZED eval set (decontaminating against a
    * prior training corpus), or a forced distributed run, keeps the certified
    * join form ([[joinAudit]]), whose eval side shuffles instead of
    * broadcasting and reads the distinct eval grams the probe already
    * checkpointed. Each call builds its probe from `evalDocs` as they
    * are now; nothing is remembered between calls.
    */
  def decontaminateAudit(
      docs: DataFrame,
      evalDocs: DataFrame,
      shingleK: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    buildGramSetProbe(evalDocs, shingleK) match {
      case Right(hit) => probeAudit(docs, shingleK, hit)
      case Left(evalGrams) => joinAudit(docs, evalGrams, shingleK)
    }
  }

  /** [[decontaminateAudit]]'s join regime over `evalGrams`, the
    * distinct eval gram set [[buildGramSetProbe]] returned.
    */
  private[llm] def joinAudit(
      docs: DataFrame,
      evalGrams: DataFrame,
      shingleK: Int): DataFrame =
    overlapFromGrams(
      docs.select(col("doc_id")),
      TextDedup.gramHashes(docs, shingleK).distinct(),
      evalGrams)

  /** Above this many distinct eval grams the exact membership map
    * stays in the join regime instead of compiling into a broadcast
    * probe: 2M entries ≈ a ~48 MB open-addressing image per executor
    * (the [[graft.llm.LangModel]] bound, same accounting) — far above
    * any benchmark suite's gram set, and a hard stop before a
    * prior-corpus-scale eval side would try to ship per executor
    * (that is [[bloomDecontaminate]]'s territory: fixed-size filter,
    * superset semantics).
    */
  private val GramSetProbeMaxRows = 2000000

  /** Compile `evalDocs`' DISTINCT k-gram hashes into an exact
    * membership test: `Right(hit)`, where `hit(gh)` is true iff the
    * gram is in the set (a [[graft.functions.LongCountMap]] probe, count
    * 1 per gram). `Left(evalGrams)` means "take the join regime": the
    * set exceeds [[GramSetProbeMaxRows]], or the distributed regime is
    * forced ([[graft.Regimes.boundedRows]]). `evalGrams` is the
    * distinct set's `gh` checkpoint — filled by the probe job when the
    * set overflowed, lazy when forced — which the join regime reads as
    * its eval side, so the eval grams are built once; like the other
    * lazy fences it is released by
    * [[graft.operators.Checkpoints.releaseLeaked]].
    */
  private[llm] def buildGramSetProbe(
      evalDocs: DataFrame,
      shingleK: Int): Either[DataFrame, Column => Column] = {
    val spark = evalDocs.sparkSession
    graft.functions.GraftFunctions.ensureRegistered(spark)
    graft.Regimes.boundedRows(
      TextDedup.gramHashes(evalDocs, shingleK).select(col("gh")).distinct(),
      GramSetProbeMaxRows).map { rows =>
      val probe = graft.functions.LongCountMap.probe(
        spark.sparkContext.broadcast(graft.functions.LongCountMap.build(
          rows.iterator.map(_.getLong(0) -> 1L), rows.length)))
      gh => probe(gh) > 0
    }
  }

  /** The ZERO-SHUFFLE audit kernel: one row per doc with the standard
    * `(doc_id, n_grams, n_hit, overlap)` statistics, computed entirely
    * in-row — token hashes ([[TextFns.tokenHashes]]), the per-row gram
    * array ([[TextFns.gramHashArray]]), `array_distinct`, and a
    * caller-supplied per-gram hit predicate (an exact count-map probe
    * or a Bloom bit test — any broadcast-handle function of the gram
    * hash). The whole plan is scan → two projections; nothing
    * exchanges, nothing joins, nothing aggregates across rows — the
    * shape that holds unchanged from sf0.01 to 100 TB. Gram-less docs
    * (< k tokens, null text) report `(0, 0, 0.0)` directly — no
    * doc_id join-back needed.
    */
  private[llm] def probeAudit(
      docs: DataFrame,
      shingleK: Int,
      hit: Column => Column): DataFrame =
    docs
      .select(col("doc_id"), TextFns.tokenHashes(col("text")).as("hs"))
      .select(col("doc_id"),
        array_distinct(TextFns.gramHashArray(col("hs"), shingleK)).as("dg"))
      .select(col("doc_id"),
        size(col("dg")).cast("long").as("n_grams"),
        size(filter(col("dg"), g => hit(g))).cast("long").as("n_hit"))
      .select(col("doc_id"), col("n_grams"), col("n_hit"),
        when(col("n_grams") === 0L, lit(0.0))
          .otherwise(col("n_hit").cast("double") / col("n_grams"))
          .as("overlap"))

  /** [[probeAudit]] with the keep rule applied — rows with
    * `overlap > maxOverlap` DROPPED via a when-guarded `explode`
    * (null array → no row), NEVER a `Filter` above the projection
    * chain: predicate pushdown substitutes a filtered alias's whole
    * expression tree into the pushed-down condition, so a plain
    * `.filter(overlap <= t)` over these per-row stats re-inlines the
    * entire tokenize+md5+gram+probe pipeline ~6× into one Filter node
    * (measured 0.46 → 7.5 s on q60 at sf0.1). The explode keeps every
    * stage a single-evaluation projection.
    */
  private[llm] def probeAuditKept(
      docs: DataFrame,
      shingleK: Int,
      hit: Column => Column,
      maxOverlap: Double): DataFrame =
    probeAudit(docs, shingleK, hit)
      .select(col("doc_id"),
        explode(when(col("overlap") <= maxOverlap,
          array(struct(col("n_grams"), col("n_hit"), col("overlap")))))
          .as("__s"))
      .select(col("doc_id"), col("__s.n_grams").as("n_grams"),
        col("__s.n_hit").as("n_hit"), col("__s.overlap").as("overlap"))

  /** The audit KERNEL on pre-built gram frames — one implementation of
    * the sizes/hits/overlap arithmetic for every caller that already
    * holds (or shares) the gram work: [[decontaminateAudit]] feeds it
    * fresh frames; [[Curation.incrementGate]] feeds its checkpointed
    * shared gram frame so the composition's contamination pillar IS
    * this code path, not a drifting copy. `docIds` restores gram-less
    * docs (< k tokens) with overlap 0.0 — too short to leak an n-gram.
    *
    * ONE pass over `docGrams` (r17, the q146 stage-floor cut): the
    * eval membership rides a left-join marker and the hit count is a
    * conditional sum in the SAME doc_id aggregation as `n_grams` —
    * the old sizes/hits two-groupBy form paid an extra shuffle plus
    * an extra doc_id join for arithmetic one aggregate expresses.
    * `gramDf` optionally fuses a second gram-keyed lookup into the
    * same pass: a `(gh, __df)` document-frequency table, emitted as
    * `mean_seen` = mean df over the doc's grams (0.0 for gram-less
    * docs) — [[Curation.incrementGate]]'s familiarity verdict, which
    * would otherwise re-join and re-aggregate the identical gram
    * frame a third time.
    */
  private[llm] def overlapFromGrams(
      docIds: DataFrame,
      docGrams: DataFrame,
      evalGrams: DataFrame,
      gramDf: Option[DataFrame] = None): DataFrame = {
    val marked = evalGrams.withColumn("__ev", lit(1))
    val joined = gramDf.foldLeft(docGrams.join(marked, Seq("gh"), "left")) {
      (d, df) => d.join(df, Seq("gh"), "left")
    }
    val aggs = Seq(
      count(lit(1)).as("n_grams"),
      sum(when(col("__ev").isNotNull, 1L).otherwise(0L)).as("n_hit")) ++
      gramDf.map(_ => sum(coalesce(col("__df"), lit(0L))).as("__seen"))
    val per = joined.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
    val outCols = Seq(col("doc_id"),
      coalesce(col("n_grams"), lit(0L)).as("n_grams"),
      coalesce(col("n_hit"), lit(0L)).as("n_hit"),
      when(col("n_grams").isNull, lit(0.0))
        .otherwise(coalesce(col("n_hit"), lit(0L)).cast("double") /
          col("n_grams"))
        .as("overlap")) ++
      gramDf.map(_ =>
        when(col("n_grams").isNull, lit(0.0))
          .otherwise(col("__seen").cast("double") / col("n_grams"))
          .as("mean_seen"))
    docIds
      .join(per, Seq("doc_id"), "left")
      .select(outCols: _*)
  }

  /** [[decontaminate]] with the eval side compressed to a Bloom filter
    * ([[graft.functions.BloomAgg]]) — the form for a "held-out set"
    * that is NOT broadcast-sized: decontaminating against an entire
    * prior training corpus, or hundreds of benchmark suites plus their
    * sampled generations. The exact form's equi-join needs the eval
    * gram set materialized per executor (or a corpus-side shuffle when
    * it outgrows broadcast); this form aggregates the eval grams into
    * ONE `numBits`-bit array (fixed size irrespective of eval
    * cardinality — ~120 MB covers 10⁹ grams at 1% FP), ships it as a
    * true torrent-broadcast handle probed by a codegen'd per-row bit
    * test ([[graft.functions.BloomProbe]]): the corpus side never
    * shuffles beyond the gram front end and never touches the filter
    * bytes per row. See [[buildGramBloomProbe]] for why the handle —
    * not a plan literal, not a joined column — is the only delivery
    * that survives the filter's size.
    *
    * Semantics vs [[decontaminate]]: `n_hit` counts BLOOM hits, so
    * `n_hit ≥` the true hit count always (no false negatives — a
    * contaminated doc can never slip through) and exceeds it at the
    * filter's false-positive rate (a clean doc may be dropped — the
    * conservative direction). Same output shape and keep rule.
    */
  def bloomDecontaminate(
      docs: DataFrame,
      evalDocs: DataFrame,
      shingleK: Int = 3,
      maxOverlap: Double = 0.0,
      numBits: Long = 1L << 22,
      numHashes: Int = 5): DataFrame = {
    require(maxOverlap >= 0.0 && maxOverlap < 1.0,
      "maxOverlap must be in [0, 1)")
    bloomAuditKeptWithProbe(docs,
      buildGramBloomProbe(evalDocs, shingleK, numBits, numHashes),
      shingleK, maxOverlap)
  }

  /** [[bloomAuditWithProbe]] with the keep rule applied — the
    * explode-guarded drop of [[probeAuditKept]] (a `Filter` over the
    * per-row stats would re-inline the gram pipeline into its pushed
    * predicate). The serve-many form for gates that keep, not audit:
    * [[graft.streaming.StreamOps.streamingContaminationGate]] runs
    * this per micro-batch.
    */
  def bloomAuditKeptWithProbe(
      docs: DataFrame,
      probe: Column => Column,
      shingleK: Int = 3,
      maxOverlap: Double = 0.0): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    probeAuditKept(docs, shingleK, probe, maxOverlap)
  }

  /** Build the eval-side gram Bloom filter and return its membership
    * probe ([[graft.functions.BloomAgg.probe]]): `probe(ghCol)` is the
    * per-row bit test against the filter's broadcast handle. Runs ONE
    * job now (the eval-side gram scan + bitwise-OR aggregation
    * collapsing to a single `numBits`-bit row collected on the driver)
    * — deliberately eager:
    *
    *  - the build side is the SMALL side by construction (the eval
    *    suite / prior-corpus signature), and a real pipeline builds
    *    the filter once then probes many corpora with it — the
    *    returned probe is the reusable handle, held by the caller;
    *  - the two lazy deliveries both collapse at real filter sizes
    *    (2²⁴ bits, sf0.1): a plan `Literal` is deep-hashed/equality-
    *    scanned by every optimizer pass (tens of seconds of pure plan
    *    time), and a one-row broadcast-joined column pays
    *    `UnsafeRow.getBinary`'s defensive copy of the FULL filter on
    *    every probed row (12.3 s vs 1.3 s for the same aggregation
    *    without the probe). The broadcast handle ships the bytes once
    *    per executor and the probe caches the deserialized reference
    *    — per-row cost is the k bit tests.
    */
  def buildGramBloomProbe(
      evalDocs: DataFrame,
      shingleK: Int = 3,
      numBits: Long = 1L << 22,
      numHashes: Int = 5): Column => Column = {
    val spark = evalDocs.sparkSession
    graft.functions.GraftFunctions.ensureRegistered(spark)
    // no distinct before the aggregate: duplicate inserts are idempotent
    val bytes = TextDedup.gramHashes(evalDocs, shingleK)
      .agg(call_function(graft.functions.GraftFunctions.BloomAggName,
        col("gh"), lit(numBits), lit(numHashes)).as("f"))
      .collect()(0).getAs[Array[Byte]]("f") // ONE row, numBits/8 bytes
    graft.functions.BloomAgg.probe(spark.sparkContext.broadcast(bytes))
  }

  /** Unfiltered [[bloomDecontaminate]] — see [[decontaminateAudit]].
    * `n_hit`/`overlap` here are the Bloom-side (superset) statistics.
    */
  def bloomDecontaminateAudit(
      docs: DataFrame,
      evalDocs: DataFrame,
      shingleK: Int = 3,
      numBits: Long = 1L << 22,
      numHashes: Int = 5): DataFrame =
    bloomAuditWithProbe(docs,
      buildGramBloomProbe(evalDocs, shingleK, numBits, numHashes), shingleK)

  /** [[bloomDecontaminateAudit]] against an ALREADY-BUILT probe (a
    * [[buildGramBloomProbe]] handle): the serve-many form — one filter
    * build amortizes over every corpus increment probed against it,
    * including the streaming ingest gate
    * ([[graft.streaming.StreamOps]]), which calls this per
    * micro-batch. The probe's broadcast travels once per executor for
    * the query's lifetime; per-doc stats are batch-local, so batch
    * boundaries cannot change any row.
    */
  def bloomAuditWithProbe(
      docs: DataFrame,
      probe: Column => Column,
      shingleK: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    // the zero-shuffle [[probeAudit]] kernel: the filter is a
    // fixed-size broadcast at ANY eval cardinality, so unlike the
    // exact form there is no oversized regime to fall back to
    probeAudit(docs, shingleK, probe)
  }

  /** Calibration audit — the exact join AND the Bloom probe from ONE
    * corpus gram scan: one row per document with the ground-truth
    * counts ([[decontaminateAudit]]'s `n_grams`/`n_hit`/`overlap`)
    * plus `bloom_hit`, the count the `numBits`/`numHashes` filter
    * would report for the same doc. This is how a Bloom sizing is
    * validated before it replaces the exact join at scale: run both
    * forms over a SAMPLE where the exact join is still affordable,
    * assert `bloom_hit ≥ n_hit` everywhere (no false negatives) and
    * that docs with `n_hit = 0 ∧ bloom_hit > 0` (clean docs the
    * filter would wrongly flag) stay inside the sizing's Poisson
    * band — then ship the filter alone against the full corpus.
    *
    * Composition over [[decontaminateAudit]] + [[bloomDecontaminateAudit]]
    * called separately: those would shingle + distinct the corpus
    * twice; here the distinct gram frame feeds the broadcast eval
    * join and the Bloom bit test in the SAME aggregation, so the
    * corpus pays its gram front end exactly once. The returned frame
    * is `localCheckpoint`ed (it is doc-count-sized — one row per doc,
    * five scalars) because a calibration consumer always reads it at
    * least twice (per-doc assertions + the corpus-wide FP count);
    * release with [[graft.operators.Checkpoints.release]].
    */
  def bloomCalibrationAudit(
      docs: DataFrame,
      evalDocs: DataFrame,
      shingleK: Int = 3,
      numBits: Long = 1L << 22,
      numHashes: Int = 5): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    val bloomHit = buildGramBloomProbe(evalDocs, shingleK, numBits, numHashes)
    // both the exact and the Bloom side of the calibration ride ONE
    // zero-shuffle projection over the per-row distinct gram array —
    // the exact side through the count-map membership probe (values
    // identical to an eval-distinct broadcast join). A calibration runs
    // on a SAMPLE by contract, so the eval set is bounded in every real
    // use; an oversized set (or the forced-distributed certification)
    // keeps the join form below.
    val audited = buildGramSetProbe(evalDocs, shingleK) match {
      case Right(exHit) =>
        docs
          .select(col("doc_id"), TextFns.tokenHashes(col("text")).as("hs"))
          .select(col("doc_id"),
            array_distinct(TextFns.gramHashArray(col("hs"), shingleK))
              .as("dg"))
          .select(col("doc_id"),
            size(col("dg")).cast("long").as("n_grams"),
            size(filter(col("dg"), g => exHit(g))).cast("long").as("n_hit"),
            size(filter(col("dg"), g => bloomHit(g))).cast("long")
              .as("bloom_hit"))
          .select(col("doc_id"), col("n_grams"), col("n_hit"),
            when(col("n_grams") === 0L, lit(0.0))
              .otherwise(col("n_hit").cast("double") / col("n_grams"))
              .as("overlap"),
            col("bloom_hit"))
      case Left(evalGrams) =>
        val evalDistinct = evalGrams.withColumn("ex", lit(1))
        val perDoc = TextDedup.gramHashes(docs, shingleK).distinct()
          .join(evalDistinct, Seq("gh"), "left")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("ex").isNotNull, 1L).otherwise(0L)).as("n_hit"),
            sum(when(bloomHit(col("gh")), 1L).otherwise(0L)).as("bloom_hit"))
        docs.select(col("doc_id"))
          .join(perDoc, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_grams"), lit(0L)).as("n_grams"),
            coalesce(col("n_hit"), lit(0L)).as("n_hit"),
            when(col("n_grams").isNull, lit(0.0))
              .otherwise(coalesce(col("n_hit"), lit(0L)).cast("double") /
                col("n_grams"))
              .as("overlap"),
            coalesce(col("bloom_hit"), lit(0L)).as("bloom_hit"))
    }
    // lazy: the caller's first action materializes the audit frame;
    // downstream multi-consumers then read blocks
    audited.localCheckpoint(eager = false)
  }

  /** Surgical decontamination — strip the leaked SPANS, keep the
    * document: every `k`-token window of a training doc that appears
    * verbatim in the eval set marks its positions covered; covered
    * tokens strip and the survivors reassemble. The modern alternative
    * to [[decontaminate]]'s drop-the-document rule when benchmarks
    * quote common boilerplate — a 10k-token doc quoting one test
    * sentence loses the sentence, not the doc. One row per doc with
    * ≥1 token: `(doc_id, n_tokens, n_covered, cov_frac, clean_text)`.
    *
    * Scale: identical shape to [[TextDedup.verbatimSpans]] — the
    * marked-gram set here is the DISTINCT eval gram hashes (MB-scale,
    * benchmarks are small → broadcast), so the corpus pays its gram
    * front end plus one map-side join; never a cartesian.
    */
  def stripSpans(
      docs: DataFrame,
      evalDocs: DataFrame,
      k: Int = 5): DataFrame = {
    val evalGrams = TextDedup.gramHashes(evalDocs, k)
      .select(col("gh")).distinct()
    TextDedup.stripCoveredSpans(docs, k, _ => evalGrams)
  }
}
