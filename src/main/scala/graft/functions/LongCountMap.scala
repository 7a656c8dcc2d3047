package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, PlanDataset}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** Exact bounded `long → long` count map with a broadcast-handle probe
  * — the EXACT member of the broadcast-probe family next to
  * [[BloomAgg]] (membership, approximate) and [[CountMinAgg]] (counts,
  * approximate): when a keyed count table is BOUNDED by construction
  * (a curated reference slice's vocabulary, a benchmark's gram set),
  * shipping the exact counters once per executor and reading them with
  * a codegen'd O(1) lookup beats joining the corpus against the table —
  * the corpus side never shuffles, and array-valued rows can be scored
  * IN PLACE with higher-order functions instead of explode → join →
  * re-aggregate.
  *
  * Image layout: one `Array[Long]` — word 0 is the slot count (a power
  * of two), then `cap` (key, value) slot pairs, open addressing with
  * linear probing under a ≤ 0.7 load factor. Probing hashes with
  * [[BloomAgg.mix]] (the splitmix64 finalizer — full avalanche, so
  * md5-derived and sequential keys both spread). Empty slots hold
  * [[LongCountMap.Empty]] (`Long.MinValue`) as the key — callers may
  * store any OTHER key, negative reserved keys included. Lookups of
  * absent keys return 0 — the natural identity for counts (mirrors the
  * join form's `coalesce(c, 0)`).
  *
  * Delivery contract is [[BloomAgg.probe]]'s: the image rides a
  * broadcast HANDLE inside the probe expression (a plan literal is
  * re-hashed by every optimizer pass; a joined one-row column pays a
  * defensive copy per row), and the plans built from the probe column
  * own the broadcast. The generated code caches the dereferenced array
  * in a mutable slot, so the per-row cost is the mix + a short probe
  * chain.
  */
object LongCountMap {

  val Empty: Long = Long.MinValue

  /** Build the probe image from (key, count) pairs. Keys must be
    * distinct (it is a MAP — feeding duplicates is a caller bug and
    * raises) and must not equal [[Empty]]. `n` must be the exact pair
    * count (callers know it from the aggregation that produced the
    * pairs).
    */
  /** Largest supported pair count: the biggest `n` whose table
    * (`cap` = next power of two with load ≤ 0.7, array of `1 + 2·cap`
    * longs) still fits a JVM array — cap tops out at 2²⁹ slots, so
    * n ≤ 0.7·2²⁹. Guarded loudly because the sizing loop below runs
    * in Long arithmetic but the ARRAY length is an Int (an Int-
    * arithmetic loop wraps `n * 10` negative past ~214M pairs and then
    * linear-probes a full 2-slot table forever).
    */
  val MaxPairs: Int = ((1L << 29) * 7 / 10).toInt

  def build(pairs: Iterator[(Long, Long)], n: Int): Array[Long] = {
    require(n >= 0, "pair count must be non-negative")
    require(n <= MaxPairs,
      s"count map supports at most $MaxPairs pairs, got $n — a table " +
        "this size should stay in the join regime, not broadcast")
    var cap = 2
    while (cap.toLong * 7 < n.toLong * 10) cap <<= 1 // load <= 0.7
    val table = new Array[Long](1 + 2 * cap) // values default to 0
    table(0) = cap
    var i = 1
    while (i < table.length) { table(i) = Empty; i += 2 }
    var m = 0
    while (pairs.hasNext) {
      val (k, v) = pairs.next()
      require(k != Empty, s"key $Empty is the empty-slot sentinel")
      var s = (BloomAgg.mix(k) & (cap - 1)).toInt
      while (table(1 + 2 * s) != Empty) {
        require(table(1 + 2 * s) != k, s"duplicate key $k")
        s = (s + 1) & (cap - 1)
      }
      table(1 + 2 * s) = k
      table(2 + 2 * s) = v
      m += 1
    }
    require(m == n, s"pair count $m != declared $n")
    table
  }

  /** O(1) exact lookup; absent keys count 0. Static so the generated
    * code calls it directly.
    */
  def get(table: Array[Long], key: Long): Long = {
    val cap = table(0).toInt
    var s = (BloomAgg.mix(key) & (cap - 1)).toInt
    while (true) {
      val k = table(1 + 2 * s)
      if (k == key) return table(2 + 2 * s)
      if (k == Empty) return 0L
      s = (s + 1) & (cap - 1)
    }
    0L // unreachable: the <= 0.7 load factor guarantees empty slots
  }

  /** The lookup for a broadcast image as a `Column` builder:
    * `probe(bc)(keyCol)` is a [[LongCountProbe]] over the key.
    */
  def probe(bc: Broadcast[Array[Long]]): Column => Column =
    key => PlanDataset.column(LongCountProbe(bc, PlanDataset.expression(key)))
}

case class LongCountProbe(bc: Broadcast[Array[Long]], key: Expression)
    extends UnaryExpression {

  override def child: Expression = key

  override def checkInputDataTypes(): TypeCheckResult =
    if (key.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a BIGINT key, got ${key.dataType.sql}")

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_count_map"

  override protected def nullSafeEval(k: Any): Any =
    LongCountMap.get(bc.value, k.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("countMapBc", bc,
      "org.apache.spark.broadcast.Broadcast")
    val tableVar = ctx.addMutableState("long[]", "countMapTable")
    nullSafeCodeGen(ctx, ev, k => s"""
      |if ($tableVar == null) {
      |  $tableVar = (long[]) $bcRef.value();
      |}
      |${ev.value} = graft.functions.LongCountMap.get($tableVar, $k);
    """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): LongCountProbe =
    copy(key = newChild)
}
