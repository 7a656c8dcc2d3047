package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ordered-funnel and cohort-retention analytics over an event log
  * `(user_id, event_type, ts)` — the classic product-analytics pair,
  * here as engine operators because a training-data platform tracks
  * its OWN ingestion/labeling events the same way.
  *
  * Timestamps are truncated to whole seconds before any comparison:
  * the strict `>` between stage times must not depend on
  * sub-microsecond precision an engine may or may not retain (the
  * parquet column is ns; Spark reads us) — second granularity makes
  * the funnel decision identical everywhere.
  *
  * Scale: each funnel stage is one equi-join + keyed agg on user_id
  * (k shuffles for a k-step funnel, each stage's input strictly
  * shrinking — dropped-off users leave the pipeline at their stage);
  * retention is two keyed aggs and a user-keyed join. Nothing is
  * cross-joined, windowed globally, or collected.
  */
object EventAnalytics {

  private def tsec(ts: org.apache.spark.sql.Column) =
    unix_timestamp(date_trunc("second", ts))

  /** Per-step completion counts for the ordered `steps` funnel:
    * stage i's time is the user's FIRST occurrence of step i strictly
    * after their stage-(i−1) time — and, when `maxGapSecs` is set,
    * within that window of it (the conversion-window form: "purchased
    * within an hour of clicking"). One row per step:
    * `(step, event_type, n_users)`.
    */
  def funnelCounts(
      events: DataFrame,
      steps: Seq[String],
      maxGapSecs: Option[Long] = None): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val ev = events.select(col("user_id"), col("event_type"),
      tsec(col("ts")).as("tsec"))
    val stages = steps.foldLeft(List.empty[DataFrame]) { (acc, step) =>
      val hits = ev.filter(col("event_type") === step)
      val stage = acc match {
        case Nil =>
          hits.groupBy(col("user_id")).agg(min(col("tsec")).as("t"))
        case prev :: _ =>
          val inWindow = maxGapSecs
            .map(g => col("tsec") <= col("t_prev") + g)
            .getOrElse(lit(true))
          prev.select(col("user_id"), col("t").as("t_prev"))
            .join(hits, "user_id")
            .filter(col("tsec") > col("t_prev") && inWindow)
            .groupBy(col("user_id")).agg(min(col("tsec")).as("t"))
      }
      stage :: acc
    }.reverse
    stages.zip(steps).zipWithIndex.map { case ((df, step), i) =>
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1).as("step"), lit(step).as("event_type"),
          col("n_users"))
    }.reduce(_.unionAll(_)).orderBy(col("step"))
  }

  /** Weekly retention triangle: users grouped by their first-activity
    * day (the cohort), counted in each later week they were active.
    * `(cohort_sec, week_offset, n_users)` — cohort day as unix
    * seconds, offset in whole weeks since it.
    */
  def retentionCohorts(events: DataFrame): DataFrame = {
    val days = events.select(col("user_id"),
      unix_timestamp(date_trunc("day", col("ts"))).as("day_sec")).distinct()
    val cohorts = days.groupBy(col("user_id"))
      .agg(min(col("day_sec")).as("cohort_sec"))
    days.join(cohorts, "user_id")
      .withColumn("week_offset",
        floor((col("day_sec") - col("cohort_sec")) / lit(604800.0)).cast("long"))
      .groupBy(col("cohort_sec"), col("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_sec"), col("week_offset"))
  }

  /** Windowed quantile DRIFT monitor — the data-quality alarm a
    * pipeline runs over an event stream's value distribution: exact
    * per-window median (the L92 histogram interpolation — no group
    * buffering, no sketch error to band away), window-over-window
    * delta via `lag`, and a thresholded alert flag. A shifted sensor,
    * a schema-mangled feed, or an upstream resample shows up as a
    * drift spike long before a mean would move.
    *
    * Scale — DUAL REGIMES on both stages, all routed by ONE one-row
    * probe job (min/max ts + non-null row count), read only through
    * [[graft.Regimes.small]], so a forced run skips it. The median
    * stage takes the native buffering `graft_exact_percentile`
    * aggregate under [[MaxBufferedDriftRows]] (one scan, one
    * ObjectHashAggregate) and [[Percentiles.groupedExact]]'s two-phase
    * window-keyed histogram (map-side partials, state bounded by
    * distinct values) above it or forced. The lag stage routes on the
    * window count:
    *  - ≤ `maxGlobalLagWindows` windows (report-sized, the common
    *    monitoring case — e.g. a month of hourly windows is 720
    *    rows): a single-partition global `lag` window, which at that
    *    cardinality is the right plan, not a smell. The span bound
    *    decides cheaply when it can; a sparse feed that overshoots it
    *    re-probes the ACTUAL distinct window count
    *    ([[graft.Regimes.atMostRows]]) before being sent distributed;
    *  - more windows than that (multi-year fine-grained retention),
    *    or forced: a range-partitioned sort + `zipWithIndex` + keyed
    *    self-join on the index — the previous PRESENT row exactly as
    *    `lag` defines it (window starts are distinct group keys, so
    *    the total order is unambiguous), with no single-task stage
    *    anywhere.
    * [[graft.operators.OperatorsSpec]] pins the two forms identical
    * on a gap-bearing fixture. p50 is rounded to 6dp BEFORE
    * differencing so drift inherits the cross-engine parity of the
    * rounded medians.
    */
  def quantileDrift(
      events: DataFrame,
      valueCol: String = "value",
      windowLength: String = "1 hour",
      threshold: Double = 0.5,
      maxGlobalLagWindows: Long = 1L << 20): DataFrame = {
    val w = events.select(
      window(col("ts"), windowLength).getField("start").as("win_start"),
      col(valueCol))
    // ONE probe job carries both routing decisions: the ts span sizes
    // the lag regime, and the row count rides along free to size the
    // median regime
    lazy val probe = events
      .agg(min(col("ts")).cast("timestamp").as("lo"),
        max(col("ts")).cast("timestamp").as("hi"),
        count(col(valueCol)).as("nv"))
      .head()
    val q =
      if (graft.Regimes.small(probe.getLong(2) <= MaxBufferedDriftRows)) {
        graft.functions.GraftFunctions.ensureRegistered(events.sparkSession)
        w.filter(col(valueCol).isNotNull)
          .groupBy(col("win_start"))
          .agg(expr(s"graft_exact_percentile($valueCol, 0.5)").as("__p50"),
            count(lit(1)).as("n"))
          .select(col("win_start"), round(col("__p50"), 6).as("p50"), col("n"))
      } else graft.operators.Percentiles
        .groupedExact(w, "win_start", valueCol, Seq(0.5), singleWindow = false)
        .select(col("win_start"), round(col("p50"), 6).as("p50"), col("n"))
    // Lag routing, two tiers: span/windowLength is an UPPER BOUND on
    // the populated window count, so when it already fits the global
    // bound the common monitoring case routes with the one probe job
    // it has — but a sparse feed (years of retention, a handful of
    // populated windows) overshoots that bound without having many
    // windows, so the overshoot case re-checks the ACTUAL distinct
    // win_start count under the bounded row probe before paying the
    // distributed lag's extra stages. A duration string durationSeconds
    // doesn't know (Spark's window() grammar is wider) skips the span
    // shortcut and goes straight to the distinct probe — window()
    // itself already validated the duration, and counting windows
    // needs no parse at all.
    val winSec = scala.util.Try(durationSeconds(windowLength)).toOption
    val global = graft.Regimes.small(
      probe.isNullAt(0) ||
        winSec.exists { ws =>
          val spanSec =
            (probe.getTimestamp(1).getTime - probe.getTimestamp(0).getTime) / 1000.0
          spanSec / ws + 2.0 <= maxGlobalLagWindows.toDouble
        } ||
        graft.Regimes.atMostRows(w.select(col("win_start")).distinct(),
          maxGlobalLagWindows))
    val lagged =
      if (global) {
        val byStart = org.apache.spark.sql.expressions.Window
          .orderBy(col("win_start"))
        q.withColumn("graft_prev_p50", lag(col("p50"), 1).over(byStart))
      } else distributedLag(q)
    lagged
      .withColumn("drift",
        round(abs(col("p50") - col("graft_prev_p50")), 6))
      .withColumn("drift_alert",
        coalesce(col("drift") > threshold, lit(false)))
      .drop("graft_prev_p50")
  }

  /** Row bound under which the per-window median runs as the native
    * buffering aggregate (`graft_exact_percentile`; state O(window
    * rows) of primitive doubles, ~160 MB at the bound) instead of the
    * bounded-state histogram interpolation — value-identical (n−1)p
    * forms, the q50 dual-regime cut.
    */
  private val MaxBufferedDriftRows = 20000000L

  /** `lag(p50) over (order by win_start)` without a single global
    * partition: range-repartition + intra-partition sort give a total
    * order across ascending partition ids, `zipWithIndex` stamps the
    * global rank distributively, and the previous row arrives by an
    * equi-join on rank−1 (shuffle-keyed, AQE-splittable). Exactly
    * `lag` because win_start is a distinct group key — no peer ties.
    */
  private def distributedLag(q: DataFrame): DataFrame = {
    val spark = q.sparkSession
    val sorted = q.repartitionByRange(col("win_start"))
      .sortWithinPartitions(col("win_start"))
    val schema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields :+ org.apache.spark.sql.types.StructField(
        "graft_idx", org.apache.spark.sql.types.LongType, nullable = false))
    // zipWithIndex launches its partition-size count job HERE, at
    // construction (unavoidable — the index needs per-partition
    // offsets). PERSIST the indexed rows so the heavy range-shuffle +
    // sort lineage evaluates once, not once per self-join side below;
    // the blocks are released by Checkpoints.release on
    // the result (its plan scans this RDD) or the harness-level
    // releaseLeaked broom between queries.
    val rowRdd = sorted.rdd.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i)
      }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val indexed = spark.createDataFrame(rowRdd, schema)
    val prev = indexed.select((col("graft_idx") + 1).as("graft_idx"),
      col("p50").as("graft_prev_p50"))
    indexed.join(prev, Seq("graft_idx"), "left_outer").drop("graft_idx")
  }

  /** Seconds in a `window()`-style duration string ("1 hour",
    * "90 seconds", "interval 1 hour 30 minutes"). Unknown units throw
    * — [[quantileDrift]] catches and routes to the distributed lag
    * (scale-safe either way) rather than mis-sizing a regime.
    */
  private[operators] def durationSeconds(s: String): Double = {
    val unit = Map("microsecond" -> 1e-6, "millisecond" -> 1e-3,
      "second" -> 1.0, "minute" -> 60.0, "hour" -> 3600.0,
      "day" -> 86400.0, "week" -> 604800.0)
    val toks = s.trim.toLowerCase.stripPrefix("interval")
      .trim.split("\\s+") // window() accepts an optional interval prefix
    require(toks.nonEmpty && toks.length % 2 == 0,
      s"unparseable window duration: '$s'")
    toks.grouped(2).map { pair =>
      val n = pair(0).toDouble
      val u = unit.getOrElse(pair(1).stripSuffix("s"),
        sys.error(s"unknown duration unit '${pair(1)}' in '$s'"))
      n * u
    }.sum
  }
}
