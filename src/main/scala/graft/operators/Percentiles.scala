package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Grouped percentile reporting with a scale-aware form switch.
  *
  * The EXACT form does NOT use Spark's `percentile` aggregate (which
  * buffers every group member in aggregation state and sorts it per
  * group — a memory cliff at scale and measured ~1.5 s per call on the
  * 600k-row sf0.1 lineitem). Instead it interpolates from a per-
  * (group, value) HISTOGRAM — the same technique as
  * `TextAnalysis.sourceQualityRank`: one keyed count agg, a running sum
  * over each group's VALUE DOMAIN, and `rank (n−1)p` interpolation
  * picked with two conditional aggregates. Value-identical to SQL
  * `quantile_cont` / Spark `percentile` (same (n−1)p linear
  * interpolation over the sorted multiset), but nothing ever buffers a
  * group: state is bounded by distinct values, partials merge map-side.
  *
  * `percentile_approx` (KLL-style sketch) remains the form for value
  * domains too large to histogram (continuous doubles at 100 TB):
  * bounded-memory sketches, rank error as the price. [[grouped]]
  * switches on the bounded [[graft.Regimes.atMostRows]] probe — never
  * a full scan — the same auto-fallback shape as
  * `TextAnalysis.familiarityBucketsAuto`.
  */
object Percentiles {

  private def name(p: Double) = "p" + math.round(p * 100)

  /** Above this group count, groupedExactSelect's pass-2 bounds ship
    * as a broadcast lookup join instead of inline literal when-chains
    * (a G·P-conditional chain overruns codegen method limits). A
    * forced run ships them as the broadcast lookup (the scale form).
    */
  private val LitChainMaxGroups = 64

  /** Row count up to which [[groupedExact]]'s single-window form is the
    * cheaper one; callers size its `singleWindow` argument against it,
    * on the input or on a cheap frame with as many rows. */
  val SingleWindowMaxRows = 2000000L

  /** Exact interpolated percentiles from the value histogram — one row
    * per group: `p<NN>` per requested prob, plus `n`. NULL values are
    * excluded from rank space (SQL semantics); a group with only NULLs
    * is absent from the result.
    *
    * Running rank range per distinct value: this value covers 0-based
    * ranks [__start, __cum). Two forms, bit-identical results (all
    * count arithmetic is integer), picked by `singleWindow`:
    *
    *  - SINGLE-WINDOW (small inputs): one exchange, the group total
    *    rides a second window over the same partitioning. With few
    *    groups this serializes — one task per group — which is fine
    *    up to [[SingleWindowMaxRows]] and cheapest in fixed stages.
    *  - TWO-PHASE (at scale): the Packing/budgetSelect prefix-sum
    *    decomposition. Values are range-bucketed (order-preserving
    *    floor over the group's [min, max] span), per-(group, bucket)
    *    totals cascade in a window over the TINY bucket frame, and
    *    the within-bucket running sum rides a window keyed by the
    *    COMPOSITE (group, bucket) — every heavy stage is parallel in
    *    the bucket count, so 3 groups no longer mean 3 tasks.
    *    (Measured at 10x lineitem, 6M rows: 7.96 s single-window vs
    *    4.14 s two-phase; at sf0.1 the extra stages cost ~0.7 s,
    *    hence the switch.)
    * The choice is the caller's, who knows its scale or probes a cheap
    * frame for it through [[graft.Regimes.small]], so that a forced
    * run takes the two-phase form — the 100 TB plan — through the
    * DuckDB gate.
    */
  def groupedExact(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      probs: Seq[Double],
      singleWindow: Boolean): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p >= 0 && p <= 1),
      "probs must be within [0, 1]")
    val hist = df.filter(col(valueCol).isNotNull)
      .groupBy(col(groupCol), col(valueCol))
      .agg(count(lit(1)).as("__c"))
    val cum =
      if (singleWindow) {
        val byValue = Window.partitionBy(col(groupCol)).orderBy(col(valueCol))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wholeGroup = Window.partitionBy(col(groupCol))
        hist
          .withColumn("__cum", sum(col("__c")).over(byValue))
          .withColumn("__start", col("__cum") - col("__c"))
          .withColumn("__n", sum(col("__c")).over(wholeGroup))
      } else {
        // The bucketed decomposition is [[PrefixSum]] verbatim:
        // [[PrefixSum.withRangeBucket]] holds the order-preserving
        // bucket derivation and its NaN/null/±Inf routing,
        // [[PrefixSum.inclusive]] the offset cascade + in-bucket
        // window; `__n` rides the tiny phase-2 frame.
        val histB = PrefixSum.withRangeBucket(
          hist, Seq(groupCol), col(valueCol), 256, "__b")
        PrefixSum.inclusive(histB, Seq(groupCol), "__b",
            Seq(col(valueCol)), col("__c"), "__cum",
            totalCol = Some("__n"))
          .withColumn("__start", col("__cum") - col("__c"))
      }
    // per prob: fractional rank r = (n-1)p is constant within a group,
    // so "value at rank k" is a simple conditional MIN over the
    // histogram rows
    val aggs: Seq[Column] = probs.map { p =>
      val r = (col("__n") - 1).cast("double") * lit(p)
      def at(k: Column) = min(when(
        col("__start") <= k && k < col("__cum"),
        col(valueCol).cast("double")))
      val lo = floor(r)
      val vLo = at(lo)
      val vHi = at(ceil(r))
      (vLo + (min(r) - min(lo)) * (vHi - vLo)).as(name(p))
    } :+ min(col("__n")).as("n")
    cum.groupBy(col(groupCol))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Exact interpolated percentiles by SKETCH-GUIDED BAND SELECTION —
    * the third exact form, for the regime where [[groupedExact]]'s
    * histogram degenerates: a near-unique value domain (e.g. sf0.1
    * `l_extendedprice`: 583k distinct of 600k rows) makes the
    * (group, value) histogram as large as the input, and its
    * running-sum window a per-group full sort. This form never sorts
    * the data:
    *
    *  1. one aggregation pass computes, per group, `n` and a sketch
    *     bound pair per prob — `percentile_approx` at `p ± 2/accuracy`
    *     (the GK sketch's rank error is deterministically ≤
    *     n/accuracy, so the true rank-(n−1)p order statistics lie
    *     inside the [lo, hi] value band; a bound at p ≤ 0 / p ≥ 1
    *     widens to ±∞);
    *  2. a second pass classifies every row against the broadcast-
    *     literal bounds (below / in-band / above, one explode row per
    *     prob) and aggregates (group, prob, class, band-value) counts —
    *     map-side combine collapses this to ≤ 4·n/accuracy distinct
    *     band values plus two counter rows per (group, prob);
    *  3. the driver reads the bounded result and picks the exact
    *     order statistics by rank arithmetic, interpolating with the
    *     same `(n−1)p` formula as [[groupedExact]] / `quantile_cont`.
    *
    * This is how a vectorized engine computes exact quantiles
    * (selection, not sorting), decomposed into two Spark passes. At
    * scale the collected band is bounded by construction — rank width
    * 4·n/accuracy collapses further under ties — so `accuracy` is the
    * knob that trades sketch state for band size (pick ≥ n/B for a
    * B-row band budget); group count must be report-sized (it is the
    * output cardinality). Groups smaller than 4·accuracy rows get
    * their bounds re-taken with a rank-based 8/n guard (see the
    * small-group note in the body): the percentage guard's rank margin
    * collapses below one rank exactly when the group is tiny, and the
    * extra pass is tiny for the same reason. Finite domains only:
    * NULLs leave rank space (SQL semantics, like [[groupedExact]]) and
    * NaN inputs are rejected by the sketch pass rather than silently
    * misranked. If a band still misses a target rank the driver fails
    * loudly instead of returning a wrong value.
    */
  def groupedExactSelect(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      probs: Seq[Double],
      accuracy: Int = 10000): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p >= 0 && p <= 1),
      "probs must be within [0, 1]")
    val spark = df.sparkSession
    val v = col(valueCol).cast("double")
    val rows = df.filter(v.isNotNull)
    val eps = 2.0 / accuracy

    // ---- pass 1: per-group n + sketch bounds per prob
    val pcts = probs.flatMap(p =>
      Seq(math.max(0.0, p - eps), math.min(1.0, p + eps)))
    val bounds = rows.groupBy(col(groupCol))
      .agg(percentile_approx(v, typedLit(pcts), lit(accuracy)).as("__b"),
        count(lit(1)).as("__n"),
        sum(when(isnan(v), 1L).otherwise(0L)).as("__nan"))
      .collect()
    require(bounds.forall(r => r.getLong(3) == 0L),
      s"groupedExactSelect: NaN values in '$valueCol' — the sketch " +
        "bound guarantee does not cover NaN; route this domain to " +
        "groupedExact (NaN sorts last there)")
    require(bounds.forall(r => !r.isNullAt(1)),
      s"groupedExactSelect: sketch pass returned no bounds for a group")

    // group key -> (n, per-prob (lo, hi)) with edge probs widened to ±∞.
    // `guardFor`/`offsetFor` pick the group's own guard and its slice
    // of the percentage array from its n (pass 1 uses one shared
    // guard; the weak-group re-pass batches guards by n).
    def toInfo(rws: Array[org.apache.spark.sql.Row],
               guardFor: Long => Double,
               offsetFor: Long => Int = _ => 0) =
      rws.map { r =>
        val bs = r.getSeq[Double](1)
        val n = r.getLong(2)
        val guard = guardFor(n)
        val off = offsetFor(n)
        val bnds = probs.indices.map { pi =>
          val lo = if (probs(pi) - guard <= 0.0) Double.NegativeInfinity
                   else bs(off + 2 * pi)
          val hi = if (probs(pi) + guard >= 1.0) Double.PositiveInfinity
                   else bs(off + 2 * pi + 1)
          (lo, hi)
        }
        r.get(0) -> ((n, bnds))
      }.toMap
    val gInfoFirst = toInfo(bounds, _ => eps)

    if (gInfoFirst.isEmpty) {
      // no non-null rows at all: empty result, same as groupedExact
      return groupedExact(rows, groupCol, valueCol, probs,
        singleWindow = graft.Regimes.small(true))
    }

    // SMALL-GROUP GUARD (found by the sf0.001 plan audit): the sketch's
    // rank error is ≤ n/accuracy, and the 2/accuracy percentage guard
    // leaves a rank margin of only n/accuracy — UNDER ONE RANK once
    // n < accuracy, where floor/ceil and 1-based/0-based convention
    // slop can push the target rank outside the band. For groups with
    // fewer than 4 ranks of margin (n < 4·accuracy), re-take their
    // bounds with a RANK-based guard of ~8/n — ≥ ~7 ranks of margin by
    // construction, one extra tiny pass paid only in the regime where
    // the group is small by definition (big-data groups never re-pass).
    // The guard is PER GROUP (one global 8/min(n) would let a
    // single tiny group widen every other weak group's band toward its
    // full width, inflating the pass-2 collect): groups batch by
    // floor(log2 n), each batch gets 8/2^⌊log2 n⌋ ∈ (8/n, 16/n] — at
    // most 2× the per-group optimum — and ONE re-pass evaluates every
    // batch's percentage pairs side by side in a single array, with
    // each group reading only its batch's slice.
    val weakNs = gInfoFirst.collect {
      case (gv, (n, _)) if n < 4L * accuracy => gv -> n
    }
    val gInfo =
      if (weakNs.isEmpty) gInfoFirst
      else {
        def batchOf(n: Long): Int =
          63 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n))
        val batches = weakNs.values.map(batchOf).toSeq.distinct.sorted
        val batchIdx = batches.zipWithIndex.toMap
        def guardOfBatch(b: Int): Double = 8.0 / math.max(1L, 1L << b)
        val wPcts: Seq[Double] = batches.flatMap { b =>
          val g = guardOfBatch(b)
          probs.flatMap(p =>
            Seq(math.max(0.0, p - g), math.min(1.0, p + g)))
        }
        val weakKeys = weakNs.keySet
        val nonNullKeys = weakKeys.filter(_ != null).toSeq
        // one In predicate, not an OR-chain per group (codegen-friendly
        // when many groups are weak), plus an isNull leg if needed
        val inWeak =
          if (nonNullKeys.isEmpty) lit(false)
          else col(groupCol).isin(nonNullKeys: _*)
        val weakCond =
          if (weakKeys.contains(null)) inWeak || col(groupCol).isNull
          else inWeak
        val reBounds = rows.filter(weakCond)
          .groupBy(col(groupCol))
          .agg(percentile_approx(v, typedLit(wPcts), lit(accuracy)).as("__b"),
            count(lit(1)).as("__n"),
            sum(when(isnan(v), 1L).otherwise(0L)).as("__nan"))
          .collect()
        gInfoFirst ++ toInfo(reBounds,
          n => guardOfBatch(batchOf(n)),
          n => batchIdx(batchOf(n)) * 2 * probs.size)
      }

    // ---- pass 2: classify rows against the per-group bounds. Two
    // regimes: at report-sized group counts the bounds inline as literal
    // when-chains — pure codegen, no join operator at all — but the
    // chain is G·P nested conditionals, which overruns the JIT/codegen
    // method-size limit as G grows. Past `LitChainMaxGroups` the
    // bounds ship as a one-row-per-group broadcast lookup joined
    // null-safely on the group key instead: one BroadcastHashJoin,
    // still zero exchanges on the data side, size-independent codegen.
    def classify(source: DataFrame,
                 loOf: Int => Column, hiOf: Int => Column) = {
      val perProb = probs.indices.map { pi =>
        val lo = loOf(pi); val hi = hiOf(pi)
        struct(lit(pi).as("pi"),
          when(v < lo, 0).when(v <= hi, 1).otherwise(2).as("m"),
          when(v >= lo && v <= hi, v).as("bv"))
      }
      source.select(col(groupCol), explode(array(perProb: _*)).as("__pc"))
        .groupBy(col(groupCol), col("__pc.pi").as("__pi"),
          col("__pc.m").as("__m"), col("__pc.bv").as("__bv"))
        .agg(count(lit(1)).as("__c"))
        .collect()
    }
    val classified =
      if (graft.Regimes.small(gInfo.size <= LitChainMaxGroups)) {
        def litChain(pick: Any => Double): Column =
          gInfo.foldLeft(lit(Double.NaN)) { case (acc, (gv, _)) =>
            val cond = if (gv == null) col(groupCol).isNull
                       else col(groupCol) === lit(gv)
            when(cond, lit(pick(gv))).otherwise(acc)
          }
        classify(rows,
          pi => litChain(gv => gInfo(gv)._2(pi)._1),
          pi => litChain(gv => gInfo(gv)._2(pi)._2))
      } else {
        val lookupSchema = org.apache.spark.sql.types.StructType(
          df.schema(groupCol).copy(name = "__g") +:
            probs.indices.flatMap(pi => Seq(
              org.apache.spark.sql.types.StructField(s"__lo$pi",
                org.apache.spark.sql.types.DoubleType, nullable = false),
              org.apache.spark.sql.types.StructField(s"__hi$pi",
                org.apache.spark.sql.types.DoubleType, nullable = false))))
        val lookupRows = gInfo.toSeq.map { case (gv, (_, bnds)) =>
          org.apache.spark.sql.Row.fromSeq(
            gv +: bnds.flatMap { case (lo, hi) => Seq(lo, hi) })
        }
        val lookup = spark.createDataFrame(
          java.util.Arrays.asList(lookupRows: _*), lookupSchema)
        classify(
          rows.join(broadcast(lookup), col(groupCol) <=> col("__g")),
          pi => col(s"__lo$pi"), pi => col(s"__hi$pi"))
      }

    // ---- driver: exact order statistics by rank arithmetic
    val byGroup = classified.groupBy(_.get(0))
    val outRows = byGroup.toSeq.map { case (gv, rs) =>
      val (n, _) = gInfo(gv)
      val vals = probs.indices.map { pi =>
        val mine = rs.filter(_.getInt(1) == pi)
        val below = mine.filter(_.getInt(2) == 0).map(_.getLong(4)).sum
        val band = mine.filter(_.getInt(2) == 1)
          .map(r => (r.getDouble(3), r.getLong(4))).sortBy(_._1)
        def at(k: Long): Double = {
          require(k >= below && k - below < band.map(_._2).sum,
            s"groupedExactSelect: band missed rank $k for group $gv " +
              s"prob ${probs(pi)} — raise accuracy")
          var rem = k - below
          band.find { case (_, c) =>
            if (rem < c) true else { rem -= c; false }
          }.get._1
        }
        val r = (n - 1).toDouble * probs(pi)
        val kLo = math.floor(r).toLong
        val vLo = at(kLo)
        val vHi = at(math.ceil(r).toLong)
        vLo + (r - kLo) * (vHi - vLo)
      }
      org.apache.spark.sql.Row.fromSeq(gv +: vals :+ n)
    }
    val schema = org.apache.spark.sql.types.StructType(
      df.schema(groupCol) +:
        probs.map(p => org.apache.spark.sql.types.StructField(
          name(p), org.apache.spark.sql.types.DoubleType)) :+
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType, nullable = false))
    spark.createDataFrame(
      java.util.Arrays.asList(outRows: _*), schema)
  }

  /** Sketch twin: `percentile_approx` per prob — bounded-memory
    * mergeable state, the only form for unhistogrammable domains.
    */
  def groupedApprox(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      probs: Seq[Double],
      accuracy: Int = 10000): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p >= 0 && p <= 1),
      "probs must be within [0, 1]")
    val aggs: Seq[Column] = probs.map { p =>
      percentile_approx(col(valueCol).cast("double"), lit(p), lit(accuracy))
        .as(name(p))
    } :+ count(when(col(valueCol).isNotNull, 1)).as("n")
    df.filter(col(valueCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Auto-routing entry point: exact histogram interpolation while the
    * input is provably small (bounded probe), sketch past the cap. The
    * sketch is approximate, so a forced run does not pin it; only the
    * exact form's rank form is gated.
    */
  def grouped(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      probs: Seq[Double] = Seq(0.5, 0.9),
      maxExactRows: Long = 2000000L,
      accuracy: Int = 10000): DataFrame =
    if (graft.Regimes.atMostRows(df, maxExactRows))
      groupedExact(df, groupCol, valueCol, probs,
        // under a cap this low the first probe already bounds the rows
        singleWindow = graft.Regimes.small(
          maxExactRows <= SingleWindowMaxRows || graft.Regimes.atMostRows(
            df.filter(col(valueCol).isNotNull), SingleWindowMaxRows)))
    else groupedApprox(df, groupCol, valueCol, probs, accuracy)
}
