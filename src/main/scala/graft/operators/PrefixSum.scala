package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** THE two-phase distributed prefix-sum kernel, shared by
  * [[Percentiles.groupedExact]]'s bucketed cumulative histogram,
  * [[IntervalJoin.countOverlaps]]'s threshold rank lookup, and the
  * [[graft.llm.Packing.packBlocks]] / [[graft.llm.Sampling.budgetSelect]]
  * group-offset decomposition.
  *
  * The shape they all share: a global (or per-group) running sum
  * `sum(weight) OVER (ORDER BY …)` is the classic single-partition
  * funnel — Spark plans an unpartitioned window as ONE task holding
  * the whole frame. The two-phase form restores parallelism:
  *
  *  1. rows carry a coarse BUCKET key that is order-consistent with
  *     the target sort order (a range bucket over the value span, a
  *     `div`-width id group, or the order column itself when coarse);
  *  2. per-bucket totals aggregate (map-side partial), and ONE window
  *     over that TINY bucket frame yields each bucket's exclusive
  *     global offset — the only unpartitioned stage, bounded by the
  *     bucket count, never by the data;
  *  3. offsets broadcast-join back and the within-bucket running sum
  *     rides a window PARTITIONED by the bucket key — embarrassingly
  *     parallel, exact, and tie-order-faithful.
  *
  * Phase-2's offset frame must therefore be SMALL BY CONSTRUCTION
  * (≤ nBuckets rows per group, distinct coarse values, n/width id
  * groups): that bound is the caller's contract, and what makes the
  * unconditional `broadcast()` hint in phase 3 safe at 100 TB.
  */
object PrefixSum {

  /** Attach an order-preserving range-bucket column `out` ∈
    * [0, nBuckets) derived from `value`'s per-group (or global, when
    * `partCols` is empty) span — the phase-1 key for value-ordered
    * prefix sums where no natural coarse key exists. Guarantees
    * b(x) <= b(y) whenever x <= y under Spark's sort order, and a
    * NON-NULL bucket for every row; exactness is phase-3's in-bucket
    * sort, so degenerate collapses (±Inf spans, constant groups) are
    * order-safe, just less parallel. Routing:
    *
    *  - NaN sorts LAST under Spark's ordering → top bucket, always;
    *  - min/max stats EXCLUDE NaN, or one NaN poisons the whole
    *    group's span;
    *  - a value whose double cast is null pins to bucket 0 (never a
    *    null bucket: a null key would silently drop the row at the
    *    phase-3 equi-join while its weight still counts upstream);
    *  - ±Inf spans make the bucket arithmetic NaN/null — clamped into
    *    range (order-degenerate, exactness unaffected).
    *
    * Global stats ride a one-row broadcast cross join; per-group stats
    * a NULL-SAFE broadcast join on the group keys (null groups are
    * groups — the window forms treat them so, and the two-phase form
    * must agree).
    */
  private[graft] def withRangeBucket(
      df: DataFrame,
      partCols: Seq[String],
      value: Column,
      nBuckets: Int,
      out: String): DataFrame = {
    require(nBuckets >= 1, "nBuckets must be positive")
    val v = value.cast("double")
    val mnA = min(when(!isnan(v), v)).as("__ps_mn")
    val mxA = max(when(!isnan(v), v)).as("__ps_mx")
    val withStats =
      if (partCols.isEmpty) df.crossJoin(broadcast(df.agg(mnA, mxA)))
      else {
        val stats = df.groupBy(partCols.map(col): _*).agg(mnA, mxA)
        val renamed = partCols.zipWithIndex.foldLeft(stats) {
          case (d, (c, i)) => d.withColumnRenamed(c, s"__ps_g$i")
        }
        val cond = partCols.zipWithIndex
          .map { case (c, i) => col(c) <=> col(s"__ps_g$i") }
          .reduce(_ && _)
        df.join(broadcast(renamed), cond)
          .drop(partCols.indices.map(i => s"__ps_g$i"): _*)
      }
    val span = col("__ps_mx") - col("__ps_mn")
    withStats
      .withColumn(out,
        when(v.isNull, lit(0))
          .when(isnan(v), lit(nBuckets - 1))
          .when(col("__ps_mn") === col("__ps_mx"), lit(0))
          .otherwise(coalesce(
            greatest(least(floor((v - col("__ps_mn")) / (span / nBuckets)),
              lit(nBuckets - 1.0)), lit(0.0)).cast("int"),
            lit(0))))
      .drop("__ps_mn", "__ps_mx")
  }

  /** Running INCLUSIVE prefix sum of `weight` under the total order
    * `(bucketCol asc|desc, orderCols…)` — optionally per `partCols`
    * group — appended as column `out`; `totalCol` additionally carries
    * the per-group grand total (it rides phase 2's tiny frame for
    * free). Exclusive prefixes are `out - weight` at the caller (with
    * a non-null weight).
    *
    * Contract: `bucketCol` is NON-NULL and order-consistent with
    * `orderCols` ([[withRangeBucket]] satisfies both); rows with a
    * null bucket are dropped (callers that want them keep them by
    * bucketing them — see withRangeBucket's null pin). Part keys join
    * back NULL-SAFELY: a null group is a group. The phase-2 offset
    * frame (one row per (group, bucket)) must be broadcast-small by
    * construction.
    */
  private[graft] def inclusive(
      df: DataFrame,
      partCols: Seq[String],
      bucketCol: String,
      orderCols: Seq[Column],
      weight: Column,
      out: String,
      bucketAsc: Boolean = true,
      totalCol: Option[String] = None): DataFrame = {
    val parts = partCols.map(col)
    val keyCols = parts :+ col(bucketCol)
    val bt = df.groupBy(keyCols: _*).agg(sum(weight).as("__ps_bt"))
    val bucketOrd = if (bucketAsc) col(bucketCol).asc else col(bucketCol).desc
    val wB = Window.partitionBy(parts: _*).orderBy(bucketOrd)
      .rowsBetween(Window.unboundedPreceding, -1)
    val boff0 = bt.withColumn("__ps_boff",
      coalesce(sum(col("__ps_bt")).over(wB), lit(0L)))
    val boff = totalCol.fold(boff0) { t =>
      boff0.withColumn(t,
        sum(col("__ps_bt")).over(Window.partitionBy(parts: _*)))
    }.drop("__ps_bt")
    val renamed = partCols.zipWithIndex.foldLeft(
        boff.withColumnRenamed(bucketCol, "__ps_kb")) {
      case (d, (c, i)) => d.withColumnRenamed(c, s"__ps_k$i")
    }
    val cond = partCols.zipWithIndex
      .map { case (c, i) => col(c) <=> col(s"__ps_k$i") }
      .foldLeft(col(bucketCol) === col("__ps_kb"))(_ && _)
    val dropCols = "__ps_kb" +: partCols.indices.map(i => s"__ps_k$i")
    val wIn = Window.partitionBy(keyCols: _*).orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.join(broadcast(renamed), cond)
      .drop(dropCols: _*)
      .withColumn(out,
        col("__ps_boff") + coalesce(sum(weight).over(wIn), lit(0L)))
      .drop("__ps_boff")
  }
}
