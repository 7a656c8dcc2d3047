package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.embl.{EnaPipeline, LocusRow, SegMetrics}

/** Structured Streaming surface (SURVEY.md §2.10). The reference is
  * pure batch, so nothing here is required for parity — this is the
  * engine's incremental path: the same transforms run on
  * `spark.readStream` sources, with watermarks bounding state.
  *
  * Every transform below is source-agnostic: pass a batch DataFrame
  * and it runs as a batch query; pass a streaming one and Catalyst
  * plans the incremental version — that symmetry is the point of
  * building on the DataFrame API rather than a bespoke stream runtime.
  */
object StreamOps {

  /** Tumbling-window event counts with a watermark (the streaming twin
    * of q24): late events beyond `watermarkDelay` are dropped and window
    * state is reclaimed — bounded memory at any volume.
    */
  def windowedEventCounts(
      events: DataFrame,
      watermarkDelay: String = "10 minutes",
      windowLength: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLength).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("v"))
      .select(col("w.start").as("win_start"), col("event_type"),
        col("n"), col("v"))

  /** Watermark-bounded dedup that is ACTUALLY source-agnostic:
    * streaming inputs get `dropDuplicatesWithinWatermark` (state
    * reclaimed past the horizon), batch inputs lower to plain
    * `dropDuplicates` — the fixpoint the incremental form converges to
    * on a complete input, and the lowering Spark refuses to do itself
    * (`dropDuplicatesWithinWatermark` throws on batch frames).
    */
  private def dedupWithinWatermark(df: DataFrame, key: String): DataFrame =
    if (df.isStreaming) df.dropDuplicatesWithinWatermark(key)
    else df.dropDuplicates(key)

  /** Streaming exact dedup (the streaming twin of q27): first
    * occurrence of each content hash passes, duplicates arriving within
    * the watermark window are dropped, and hash state older than the
    * watermark is reclaimed — bounded dedup state at unbounded volume.
    * Input needs an event-time `ts` column.
    */
  def streamingExactDedup(
      docs: DataFrame,
      watermarkDelay: String = "10 minutes"): DataFrame =
    dedupWithinWatermark(
      docs
        .withColumn("content_hash", md5(col("text")))
        .withWatermark("ts", watermarkDelay),
      "content_hash")

  /** Streaming NEAR-dedup (the streaming twin of the q34 fingerprint
    * candidates): each row gets its min-gram-hash fingerprint
    * ([[graft.llm.TextFns.fingerprintFromHashes]] — the stateless
    * column twin of the batch window formulation, identical values),
    * and rows whose fingerprint was already seen within the watermark
    * are dropped. Docs with < k tokens have no fingerprint and pass
    * through undeduped (they'd collide on NULL otherwise). State is one
    * fingerprint per distinct doc within the watermark horizon —
    * bounded, and partitioned by fingerprint hash across executors.
    *
    * Two plan-shape rules keep this NON-quadratic (it shipped
    * quadratic twice — measured 430 s vs ~1 s at sf0.1):
    *  1. the token-hash array is materialized as its own column, so
    *     the gram HOF's ~2k `element_at` references per output element
    *     hit a concrete attribute instead of re-running tokenize+md5
    *     per reference ([[graft.llm.TextFns.tokenHashes]]);
    *  2. the short-doc split filters on `size(_tok_hashes) < k` — NOT
    *     on `fingerprint IS NULL`: `PushDownPredicates` substitutes a
    *     filtered alias's FULL defining expression into the pushed
    *     filter condition, so a nullness filter on the fingerprint
    *     re-inlines the whole quadratic expression into a Filter that
    *     runs per input row. The two conditions are equivalent by
    *     construction (the fingerprint is NULL iff the doc has < k
    *     tokens).
    */
  def streamingNearDedup(
      docs: DataFrame,
      shingleK: Int = 5,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    // token COUNT (no hashing) as the split predicate: it's the
    // expression the pushed Filter will inline, so it must be the
    // cheapest form that decides the branch
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    val nTok = size(graft.llm.TextFns.tokens(col("text")))
    val wm = docs.withWatermark("ts", watermarkDelay)
    val enough = wm
      .filter(nTok >= shingleK)
      .withColumn("_tok_hashes", graft.llm.TextFns.tokenHashes(col("text")))
      .withColumn("fingerprint",
        graft.llm.TextFns.fingerprintFromHashes(col("_tok_hashes"), shingleK))
      .drop("_tok_hashes")
    val short = wm
      .filter(nTok < shingleK)
      .withColumn("fingerprint", lit(null).cast("long"))
    dedupWithinWatermark(enough, "fingerprint").unionByName(short)
  }

  /** Stream-STREAM interval join: each purchase matches the signups of
    * the same user that happened within `windowSeconds` BEFORE it —
    * both sides unbounded streams. Watermarks on both inputs plus the
    * time-range join condition let Spark bound the join state: a
    * buffered signup is evicted once the purchase watermark passes
    * `s_ts + windowSeconds`, a buffered purchase once the signup
    * watermark passes it. This is the canonical attribution join; at
    * 100 TB/day the state store partitions by user hash and holds only
    * the in-window tail of each side.
    *
    * Inputs need columns: purchases(user_id, p_ts, …),
    * signups(user_id, s_ts, …) with timestamp types.
    */
  def streamStreamAttribution(
      purchases: DataFrame,
      signups: DataFrame,
      windowSeconds: Long = 3600,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    // only the join key may be shared: any other common name would
    // survive the join as a duplicate/ambiguous column (user_id itself
    // is renamed below; same contract as IntervalJoin.overlapJoin)
    val clash =
      purchases.columns.toSet.intersect(signups.columns.toSet) - "user_id"
    require(clash.isEmpty,
      s"non-key column names must be disjoint across streams, clash: $clash")
    val p = purchases.withWatermark("p_ts", watermarkDelay)
    val g = signups
      .withColumnRenamed("user_id", "s_user_id")
      .withWatermark("s_ts", watermarkDelay)
    p.join(g,
      col("user_id") === col("s_user_id") &&
        col("p_ts") >= col("s_ts") &&
        col("p_ts") <= col("s_ts") + expr(s"INTERVAL $windowSeconds SECONDS"))
      .drop("s_user_id")
  }

  /** One user event (the `events` table's streaming shape). */
  final case class UserEvent(user_id: Long, ts: Timestamp, event_type: String)

  /** A closed activity session. */
  final case class Session(
      user_id: Long,
      session_start: Timestamp,
      session_end: Timestamp,
      n_events: Long)

  /** State-store record for [[sessionize]] (not private: the state
    * encoder's generated code must access the constructor/accessors).
    */
  final case class OpenSession(start: Long, last: Long, n: Long)

  /** Custom stateful sessionization via `flatMapGroupsWithState` (the
    * streaming twin of q23): per user, events closer than `gapSeconds`
    * chain into one session; a closed session is emitted as soon as a
    * later event proves the gap. The open tail session is held in the
    * state store across micro-batches.
    *
    * State is O(1) per active user (three longs); at 100 TB/day scale
    * the state store partitions by user hash across executors, and an
    * event-time timeout (not used here to keep tests deterministic)
    * would evict idle users.
    */
  def sessionize(
      events: Dataset[UserEvent],
      gapSeconds: Long = 1800): Dataset[Session] = {
    import events.sparkSession.implicits._

    def fn(userId: Long, batch: Iterator[UserEvent],
        state: GroupState[OpenSession]): Iterator[Session] = {
      val closed = Seq.newBuilder[Session]
      var open = state.getOption
      // iterator order within a micro-batch is not time-ordered
      batch.toSeq.sortBy(_.ts.getTime).foreach { e =>
        val t = e.ts.getTime / 1000
        open match {
          case Some(s) if t - s.last <= gapSeconds =>
            open = Some(s.copy(last = t, n = s.n + 1))
          case Some(s) =>
            closed += Session(userId, new Timestamp(s.start * 1000),
              new Timestamp(s.last * 1000), s.n)
            open = Some(OpenSession(t, t, 1))
          case None =>
            open = Some(OpenSession(t, t, 1))
        }
      }
      open.foreach(state.update)
      closed.result().iterator
    }

    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(fn)
  }

  /** Streaming EMBL ingest: the batch scan/segmentation stage
    * (EnaPipeline S1-S5) under `readStream` — incremental ENA releases
    * process file-at-a-time with `Trigger.AvailableNow`. Safe because
    * gzip files are non-splittable: each file arrives whole inside one
    * partition of a micro-batch, so the per-partition state machine
    * sees complete records exactly as in batch.
    */
  def streamLoci(
      spark: SparkSession,
      roots: Seq[String],
      applyDivisionPrune: Boolean = true,
      metrics: Option[SegMetrics] = None): Dataset[LocusRow] = {
    def read(root: String): DataFrame =
      spark.readStream
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.dat.gz")
        .text(root) // streaming text source takes one root; union the rest
        .select(input_file_name().as("file_path"), col("value"))

    val text = roots.tail.foldLeft(read(roots.head))((acc, r) => acc.union(read(r)))
    val pruned = if (applyDivisionPrune) text.filter(EnaPipeline.DivisionPrune) else text
    EnaPipeline.segmentLines(spark, pruned, metrics)
  }

  /** ST10 (r11) — streaming heavy hitters: the Space-Saving aggregate
    * ([[graft.functions.FreqItemsAgg]]) over a token stream, windowed
    * by event time. The sketch's counter-wise merge is exactly what
    * incremental aggregation needs — each micro-batch updates bounded
    * per-window state, late data beyond the watermark is dropped and
    * window state reclaimed. Source-agnostic like everything here: on
    * a batch frame this is a plain windowed aggregation, the fixpoint
    * the incremental form converges to.
    */
  def streamingHeavyHitters(
      tokens: DataFrame,
      capacity: Int,
      watermarkDelay: String = "10 minutes",
      windowLength: String = "1 hour"): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(tokens.sparkSession)
    tokens
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLength).as("w"))
      .agg(expr(s"graft_freq_items(token, $capacity)").as("top"))
      .select(col("w.start").as("win_start"), col("top"))
  }

  /** ST11 (r15) — streaming windowed DISTINCT counts through the
    * mergeable HLL sketch ([[graft.functions.HllAgg]]): "distinct
    * users per hour" with per-window state FIXED at 2^p bytes no
    * matter how many users flow — the open-key-space regime where an
    * exact windowed countDistinct's state is unbounded (the same
    * bounded-state argument as ST10's heavy hitters, for
    * cardinality). The sketch's elementwise-max merge is exactly
    * incremental aggregation: each micro-batch folds into the window
    * state, late data beyond the watermark drops and window state
    * reclaims. Source-agnostic: on a batch frame this is a plain
    * windowed aggregation — the fixpoint the incremental form
    * converges to, oracle-gated as q139.
    */
  def streamingDistinctUsers(
      events: DataFrame,
      p: Int = 8,
      watermarkDelay: String = "10 minutes",
      windowLength: String = "1 hour"): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(events.sparkSession)
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLength).as("w"))
      .agg(expr(
        s"graft_hll_agg(graft_hash60(CAST(user_id AS STRING)), $p)")
        .as("sk"))
      .select(col("w.start").as("win_start"),
        expr("graft_hll_est(sk)").as("est_users"),
        expr("graft_hll_zeros(sk)").as("n_zero"))
  }

  /** ST13 (r15) — streaming windowed SEEN-COUNT sketches: one
    * Count-Min grid ([[graft.functions.CountMinAgg]]) per event-time
    * window, state FIXED at depth × width longs per window no matter
    * how many distinct keys flow — the open-key-space regime where an
    * exact per-(window, key) count's state is unbounded (ST11's
    * bounded-state argument, for frequencies instead of
    * cardinality). The grid's elementwise-ADD merge is exactly
    * incremental aggregation: each micro-batch folds into the window
    * state and the converged state equals the batch grid
    * bit-for-bit (spec-asserted); late data beyond the watermark
    * drops and window state reclaims. The payoff over a plain
    * windowed count: the emitted grid answers "how often did ANY key
    * appear in this window" POST-HOC — keys chosen after the stream
    * was compacted — via `graft_cms_query` on the stored rows, with
    * the never-undercount guarantee thresholds need. Each output row
    * carries the window plus the probed counts for `probeKeys`
    * (report-sized; ad-hoc keys query the `sketch` column later).
    */
  def streamingSeenCounts(
      events: DataFrame,
      probeKeys: Seq[String],
      width: Int = 1024,
      depth: Int = 4,
      watermarkDelay: String = "10 minutes",
      windowLength: String = "1 hour"): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(events.sparkSession)
    val base = events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLength).as("w"))
      .agg(expr(
        s"graft_cms_agg(graft_hash60(CAST(user_id AS STRING)), " +
          s"$width, $depth)").as("sketch"))
      .select(col("w.start").as("win_start"), col("sketch"))
    // typed probe build — never splice the key into SQL text (a quote
    // in a key would break/inject the streaming plan) or raw into a
    // column name (dots/backticks would be unresolvable); r15 ADVICE.
    // Derived names are also UNIQUENESS-checked: a clean key can
    // collide with another key's sanitized form (keys "x!" and
    // "0_x_" both derive n_0_x_) and withColumn would silently
    // REPLACE the first probe's counts — collisions get a
    // deterministic __j suffix instead (r16 review)
    val used = scala.collection.mutable.Set[String]()
    probeKeys.zipWithIndex.foldLeft(base) { case (df, (k, i)) =>
      val safe = k.replaceAll("[^A-Za-z0-9_]", "_")
      val want = if (safe == k) s"n_$k" else s"n_${i}_$safe"
      var cname = want
      var j = 0
      while (!used.add(cname)) { j += 1; cname = s"${want}__$j" }
      df.withColumn(cname,
        call_function(graft.functions.GraftFunctions.CmsQueryName,
          col("sketch"),
          call_function(graft.functions.GraftFunctions.Hash60Name, lit(k))))
    }
  }

  /** ST14 (r16) — streaming windowed RANK/QUANTILE sketch: one
    * dyadic-CMS grid ([[graft.operators.DyadicCms]]) per event-time
    * window — order statistics over an unbounded value stream at
    * state FIXED at depth × width longs per window (ST13's
    * bounded-state argument, for ranks instead of point
    * frequencies; an exact windowed percentile buffers every value).
    * Each value folds its `levels` dyadic nodes into the window's
    * grid; the grid's elementwise-ADD merge makes cross-batch
    * accumulation exactly incremental (converged state ≡ the batch
    * grid bit-for-bit, spec-asserted), late data beyond the
    * watermark drops and state reclaims. Each finalized row carries
    * the window, the grid, and `rank_lt_<p>` estimates (count of
    * values < p, never undercounting) for the fixed `probes` — and
    * because the GRID is emitted, any post-hoc rank or quantile
    * question runs against the stored rows
    * ([[graft.operators.DyadicCms.sketchRank]] /
    * [[graft.operators.DyadicCms.quantiles]]) without replaying the
    * stream. Values outside [0, 2^levels) are EXCLUDED (a
    * raise_error would kill the long-running query; size `levels`
    * to the domain — 2^40 is allowed and still bounds nothing but
    * the key strings).
    */
  def streamingRankSketch(
      events: DataFrame,
      valueCol: String,
      probes: Seq[Long],
      levels: Int = 12,
      width: Int = 1024,
      depth: Int = 4,
      watermarkDelay: String = "10 minutes",
      windowLength: String = "1 hour"): DataFrame = {
    require(levels > 0 && levels <= graft.operators.DyadicCms.MaxLevels,
      s"levels must be in (0, ${graft.operators.DyadicCms.MaxLevels}] — " +
        "out-of-range values would silently exclude every row " +
        "(1L << 63 is negative; 0 levels explode to nothing)")
    // validate probes UP FRONT with the rankEstimates message (r16
    // ADVICE: duplicates silently collapsed into one rank_lt_ column
    // via withColumn replacement, and out-of-range values only failed
    // deep in sketchRank without naming the `probes` parameter)
    require(probes.forall(p => p >= 0 && p < (1L << levels)),
      s"probes must lie in [0, 2^$levels) — the dyadic tree's domain")
    require(probes.distinct.size == probes.size,
      "probes must be distinct — each probe names one rank_lt_ column")
    graft.functions.GraftFunctions.ensureRegistered(events.sparkSession)
    val v = col(valueCol).cast("long")
    val base = events
      .withWatermark("ts", watermarkDelay)
      .filter(v.isNotNull && v >= 0 && v < (1L << levels))
      .select(col("ts"),
        explode(graft.operators.DyadicCms.insertKeys(v, levels)).as("k"))
      .groupBy(window(col("ts"), windowLength).as("w"))
      .agg(call_function(graft.functions.GraftFunctions.CmsAggName,
        col("k"), lit(width), lit(depth)).as("sketch"))
      .select(col("w.start").as("win_start"), col("sketch"))
    probes.foldLeft(base) { (df, p) =>
      df.withColumn(s"rank_lt_$p",
        graft.operators.DyadicCms.sketchRank(col("sketch"), p, levels))
    }
  }

  /** ST12 — streaming contamination gate: a document INGEST stream
    * filtered per micro-batch against the Bloom filter built
    * batch-side from the eval/blocklist set
    * ([[graft.llm.Decontaminate.buildGramBloomProbe]] — build once,
    * serve every increment). The gate holds the probe handle and the
    * filter rides its broadcast, so each executor holds the bytes ONCE
    * for the query's lifetime and per-row cost is the k bit tests;
    * there is zero stream state — the "known contaminated" knowledge
    * lives in the broadcast, not the state store, which is what lets
    * the gate run at any ingest rate with flat memory. Per-doc overlap
    * stats are
    * batch-local (a doc's grams arrive with it), so the gate's output
    * is byte-identical to the batch
    * [[graft.llm.Decontaminate.bloomDecontaminate]] on the same rows
    * regardless of batch boundaries (asserted in StreamOpsSpec); the
    * probe's value semantics are oracle-gated through q130's
    * calibration audit. `foreachBatch` is the same serving bridge as
    * ST7 — gramHashes' per-doc window is a batch-plan construct.
    */
  def streamingContaminationGate(
      docs: DataFrame,
      probe: Column => Column,
      shingleK: Int = 3,
      maxOverlap: Double = 0.0)(sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        sink(graft.llm.Decontaminate
          .bloomAuditKeptWithProbe(batch, probe, shingleK, maxOverlap),
          id)
      }
      .start()

  /** ST7 — online ANN serving: a stream of query vectors
    * `(query_id, qv)` probed against a STATIC (pre-trained, usually
    * [[graft.llm.Similarity.readIvfIndex]]-loaded) IVF index, each
    * micro-batch answered with exact-cosine top-k from its nProbe
    * nearest cells. `foreachBatch` is the idiomatic serving bridge:
    * the probe plan (windows included — not available on streaming
    * frames directly) runs as a BATCH query per micro-batch against
    * the static index, so results are identical to the batch probe on
    * the same queries (asserted in StreamOpsSpec), and index state
    * lives in the (broadcast) tables rather than stream state.
    */
  def streamingAnnProbe(
      queries: DataFrame,
      cent: DataFrame,
      cells: DataFrame,
      nProbe: Int = 2,
      k: Int = 3)(sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    queries.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        sink(graft.llm.Similarity.ivfProbe(cent, cells, batch, nProbe, k), id)
      }
      .start()

  /** ST7's high-recall twin (r7): each micro-batch of query vectors
    * probed against a STATIC sharded HNSW index
    * ([[graft.llm.Hnsw.readHnswIndex]]-loaded) — same foreachBatch
    * serving bridge, same stream≡batch guarantee (asserted), with the
    * graph index's recall instead of the IVF cell partitioner's.
    */
  def streamingHnswProbe(
      queries: DataFrame,
      index: DataFrame,
      k: Int = 10,
      ef: Int = 64)(sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    queries.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        sink(graft.llm.Hnsw.hnswProbe(index, batch, k, ef), id)
      }
      .start()
}
