package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{CountMinAgg, GraftFunctions}
import graft.llm.TextFns

/** Rank / quantile estimation over a numeric column at FIXED state —
  * the dyadic-decomposition construction of Cormode & Muthukrishnan
  * ("An Improved Data Stream Summary: The Count-Min Sketch and its
  * Applications", J. Algorithms 2005, §4.2) on the engine's mergeable
  * CMS kernel ([[graft.functions.CountMinAgg]]). This closes the
  * sketch family: Bloom answers membership, HLL cardinality, CMS
  * point frequency — this answers ORDER statistics (ranks and
  * quantiles) in the same fixed-state, broadcast-probe shape.
  *
  * Construction: each value `v` (a non-negative long below
  * `2^levels`) inserts one key per dyadic level `l ∈ [0, levels)`:
  * the node `(l, v >> l)` — the height-`l` dyadic interval
  * containing `v`. All `levels` insertions land in ONE CMS grid
  * (node keys carry the level, so levels never alias by
  * construction — only by ordinary CMS collision, which the standard
  * ε-bound already prices, now with `N' = levels·N` inserted mass).
  * The half-open prefix `[0, p)` is exactly the disjoint union of
  * one node per SET BIT of `p`: bit `l` set contributes node
  * `(l, 2·(p >> (l+1)))` — so
  * `rank(p) = |{v < p}| ≤ Σ_{set bits l of p} est(l-node) = est_rank(p)`,
  * an at-most-`levels`-term sum of point queries that NEVER
  * undercounts (each node estimate is an upper bound on its exact
  * count and the nodes partition `[0, p)`). Quantile inversion is a
  * `levels`-step descent on the same grid.
  *
  * Scale (100 TB): the whole order-statistics state is `depth×width`
  * longs regardless of row count or value skew — it survives any
  * shuffle as ONE row, merges losslessly across
  * shards/days/executors (CMS merge = elementwise add, determinism
  * spec-certified on the kernel), and serves rank queries from a
  * broadcast handle without re-touching the corpus: the same
  * build-once/serve-many shape as the gram-familiarity grid. The
  * build itself is one scan with a `levels`-way in-row explode into
  * a map-side-combined aggregate — no shuffle of the data, no sort.
  * Contrast the exact forms: a full sort (q50) pays a corpus
  * range-shuffle; the buffered percentile aggregate holds O(N) per
  * group. This holds O(1).
  *
  * Portability: node keys re-hash through the engine-portable
  * `hash60("l|prefix")`, and bucket arithmetic is the q140
  * Carter–Wegman form, so an independent SQL engine rebuilds the
  * grid AND the rank sums from the base table and matches every
  * estimate to the exact integer (q151's oracle does).
  */
object DyadicCms {

  val MaxLevels = 40 // values below 2^40; keeps levels·N far from wrap

  /** The CMS key of dyadic node (level, prefix). */
  private def nodeKey(level: Int, prefix: Column): Column =
    TextFns.hash60(concat(lit(s"$level|"), prefix.cast("string")))

  /** Driver-computed key of a CONSTANT dyadic node — same md5-60
    * arithmetic as [[nodeKey]] without a per-row hash expression
    * (rank probes at literal points fold to constants).
    */
  private def nodeKeyConst(level: Int, prefix: Long): Long =
    graft.functions.Hash60.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(
        s"$level|$prefix"))

  /** The `levels` insertion keys of one value, as an array column —
    * the shared front end of [[buildRankProbe]] and the streaming
    * per-window form ([[graft.streaming.StreamOps]] ST14).
    */
  private[graft] def insertKeys(v: Column, levels: Int): Column =
    array((0 until levels).map(l => nodeKey(l, shiftright(v, l))): _*)

  /** `rank(p)` against a dyadic grid carried in a SKETCH COLUMN
    * (a [[graft.functions.CountMinAgg]] grid built over
    * [[insertKeys]]) at a LITERAL probe point: the set-bit node sum
    * as `graft_cms_query` calls with driver-folded node-key
    * constants. The per-window streaming twin of [[estRank]]'s
    * broadcast-probe form.
    */
  def sketchRank(sketch: Column, p: Long, levels: Int): Column = {
    require(p >= 0 && p < (1L << levels),
      s"probe must lie in [0, 2^$levels)")
    val terms = (0 until levels)
      .filter(l => ((p >> l) & 1L) == 1L)
      .map { l =>
        call_function(GraftFunctions.CmsQueryName, sketch,
          lit(nodeKeyConst(l, 2L * (p >> (l + 1)))))
      }
    if (terms.isEmpty) lit(0L) else terms.reduce(_ + _)
  }

  /** Build the dyadic grid over `df(valueCol)` — one row of
    * `depth×width` longs — and return its broadcast-handle point query
    * ([[CountMinAgg.probe]]) over node keys. Eager, exactly like the
    * gram-probe builders: the caller holds the returned probe and
    * serves every rank query from it, and the broadcast bytes ship
    * once per executor. NULL and negative values are excluded
    * (rank is over the non-negative domain the dyadic tree covers);
    * values at or above `2^levels` error loudly rather than
    * silently folding into wrong nodes.
    */
  def buildRankProbe(
      df: DataFrame,
      valueCol: String,
      levels: Int,
      width: Int = 8192,
      depth: Int = 4): Column => Column = {
    require(levels > 0 && levels <= MaxLevels,
      s"levels must be in (0, $MaxLevels]")
    val spark = df.sparkSession
    GraftFunctions.ensureRegistered(spark)
    val vals = df
      .select(col(valueCol).cast("long").as("v"))
      .filter(col("v").isNotNull && col("v") >= 0)
      .select(when(col("v") < lit(1L << levels), col("v"))
        .otherwise(raise_error(concat(
          lit(s"dyadic value out of range [0, 2^$levels): "),
          col("v").cast("string")))).as("v"))
    val bytes = vals.select(explode(insertKeys(col("v"), levels)).as("k"))
      .agg(call_function(GraftFunctions.CmsAggName,
        col("k"), lit(width), lit(depth)).as("g"))
      .collect()(0).getAs[Array[Byte]]("g") // ONE row, depth·width longs
    CountMinAgg.probe(spark.sparkContext.broadcast(bytes))
  }

  /** Estimated `rank(p) = |{v < p}|` as a column over probe points
    * `p`: the fixed `levels`-term dyadic sum against a
    * [[buildRankProbe]] grid. Never undercounts the true rank.
    */
  def estRank(probe: Column => Column, p: Column, levels: Int): Column =
    (0 until levels).map { l =>
      when(shiftright(p, l).bitwiseAND(lit(1L)) === 1L,
        probe(nodeKey(l, shiftright(p, l + 1) * 2L)))
        .otherwise(lit(0L))
    }.reduce(_ + _)

  /** Rank-accuracy report at fixed probe points: one row per probe
    * `p` with the exact rank (one corpus pass for ALL probes — the
    * probe list broadcasts into a conditional count, no per-probe
    * scan), the sketch's estimate (zero corpus work — `levels` point
    * queries against the broadcast grid), and the overcount
    * `est_rank - exact_rank`, which is ≥ 0 by construction.
    */
  def rankEstimates(
      df: DataFrame,
      valueCol: String,
      probes: Seq[Long],
      levels: Int,
      width: Int = 8192,
      depth: Int = 4): DataFrame = {
    require(probes.nonEmpty && probes.forall(p =>
      p >= 0 && p < (1L << levels)),
      s"probes must lie in [0, 2^$levels) — the dyadic tree's domain")
    val spark = df.sparkSession
    val probe = buildRankProbe(df, valueCol, levels, width, depth)
    import spark.implicits._
    val pdf = probes.toDF("p")
    val exact = df
      .select(col(valueCol).cast("long").as("v"))
      .filter(col("v").isNotNull && col("v") >= 0)
      .crossJoin(broadcast(pdf))
      .groupBy(col("p"))
      .agg(sum(when(col("v") < col("p"), 1L).otherwise(0L))
        .as("exact_rank"))
    // left join: a probe below every value still reports rank 0
    pdf.join(exact, Seq("p"), "left")
      .select(col("p"),
        coalesce(col("exact_rank"), lit(0L)).as("exact_rank"),
        estRank(probe, col("p"), levels).as("est_rank"))
      .withColumn("overcount", col("est_rank") - col("exact_rank"))
  }

  /** Quantile inversion on a collected grid: for each `q`, the VALUE
    * `v` whose estimated rank interval crosses the target — i.e.
    * `est_rank(v) < ceil(q·n) ≤ est_rank(v+1)`, the conventional
    * quantile value (the returned `est_rank` is est_rank(v), so it is
    * always strictly BELOW the target; the smallest probe point at or
    * past the target is `v + 1`). A `levels`-step binary descent per
    * quantile, pure driver arithmetic on the `depth×width` image (the
    * grid was already driver-sized by construction; nothing here
    * touches the corpus). Because `est_rank` never undercounts, the
    * returned value's TRUE rank is below the target; the standard CMS
    * analysis bounds the other side by `ε·levels·n` with probability
    * `1 - δ` per query. Returns `(q, value, est_rank)` rows.
    */
  def quantiles(
      gridBytes: Array[Byte],
      n: Long,
      qs: Seq[Double],
      levels: Int): Seq[(Double, Long, Long)] = {
    require(qs.forall(q => q > 0.0 && q <= 1.0), "quantiles in (0, 1]")
    require(n >= 0, "n must be non-negative")
    require(levels > 0 && levels <= MaxLevels,
      s"levels must be in (0, $MaxLevels]")
    // Caller-supplied (n, levels) must MATCH the grid (r16 ADVICE:
    // both were trusted, and a stale n or a levels mismatch silently
    // returned wrong quantiles — against the loud raise_error stance
    // of the rest of the operator). Every inserted value adds exactly
    // `levels` keys and each key increments one counter per row, so
    // any single row of the grid must sum to n·levels exactly.
    val grid = CountMinAgg.fromBytes(gridBytes)
    val rowMass = (0 until CountMinAgg.widthOf(grid))
      .foldLeft(0L)((acc, b) => acc + grid(1 + b))
    require(rowMass == n * levels,
      s"quantiles: grid mass $rowMass != n*levels = ${n * levels} — " +
        "n or levels does not describe the grid these bytes were " +
        "built from (stale count, or a different dyadic height)")
    def est(level: Int, prefix: Long): Long =
      CountMinAgg.estimateBytes(gridBytes, graft.functions.Hash60.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(
          s"$level|$prefix")))
    qs.map { q =>
      val target = math.ceil(q * n).toLong max 1L
      // descend the dyadic tree: maintain the rank mass strictly left
      // of the current subtree; go right iff the left child alone
      // cannot reach the target
      var level = levels - 1
      var prefix = 0L // node (level+1, prefix) is the current subtree
      var leftMass = 0L
      while (level >= 0) {
        val leftChild = est(level, prefix * 2)
        if (leftMass + leftChild >= target) {
          prefix = prefix * 2 // descend left
        } else {
          leftMass += leftChild
          prefix = prefix * 2 + 1 // descend right
        }
        level -= 1
      }
      // prefix is now a leaf VALUE whose subtree crosses the target;
      // rank of value v is est_rank over [0, v), report rank at the
      // returned value inclusive of nothing (consistent with estRank)
      (q, prefix, leftMass)
    }
  }
}
