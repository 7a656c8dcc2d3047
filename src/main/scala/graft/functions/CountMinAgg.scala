package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, PlanDataset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._

/** Mergeable Count-Min frequency sketch (Cormode & Muthukrishnan,
  * J. Algorithms '05): `graft_cms_agg(key BIGINT, width INT,
  * depth INT)` → BINARY — a `depth × width` counter grid where each
  * occurrence of a key increments one counter per row (the row's own
  * bucket function of the key), and a key's estimated count is the MIN
  * over its `depth` counters ([[CmsQuery]]). Estimates never
  * UNDERcount (every true occurrence incremented all of the key's
  * counters) and overcount only by hash-collision mass — the one-sided
  * guarantee that makes the sketch safe for threshold rules
  * ("drop every n-gram seen > T times": no popular key ever escapes).
  *
  * Why it exists beside [[FreqItemsAgg]] (Space-Saving): heavy-hitters
  * answers "WHICH keys are frequent" with a capacity-bounded top list;
  * Count-Min answers "how often is THIS key" for ANY key after the
  * fact — the point-query primitive behind seen-count joins,
  * repetition caps, and per-n-gram familiarity at corpus scale, in
  * `depth·width` longs of state regardless of key cardinality. Merge
  * is elementwise ADD, exact for "sum of occurrences": any partial
  * layout, any merge tree, bit-identical to the single-pass grid
  * (spec-asserted) — so per-shard/per-day sketches persist once and
  * roll up by [[CmsUnionAgg]] without re-scanning the corpus (the
  * HLL/Bloom/IVF persisted-artifact convention).
  *
  * Determinism across engines — the repo's hash-compare bar: the key
  * must ALREADY be the engine-portable 60-bit md5 hash ([[Hash60]]),
  * and the row-d bucket is pure 64-bit-safe integer arithmetic both
  * engines reproduce exactly:
  * {{{
  *   hHi = h >>> 30;  hLo = h & (2^30 − 1)          // 60-bit halves
  *   bucket(d) = ((d+1)·hHi + hLo) mod 2147483647 mod width
  * }}}
  * (a Carter–Wegman `a·x + b mod P` family over the md5-uniform
  * halves, P = 2^31 − 1; products stay < 2^35, so the same
  * expression runs in DuckDB BIGINTs with no overflow). The q138
  * oracle REBUILDS the grid in SQL from the same arithmetic, so even
  * the collision overcounts match exactly — estimates hash-compare
  * with no tolerance band.
  *
  * NULL keys are ignored; `width`/`depth` must be literals (they fix
  * the buffer layout) and the serialized header carries them, so a
  * probe can never misread a grid built at another geometry.
  */
case class CountMinAgg(
    key: Expression,
    widthExpr: Expression,
    depthExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] {

  private lazy val width: Int =
    widthExpr.eval().asInstanceOf[Number].intValue()
  private lazy val depth: Int =
    depthExpr.eval().asInstanceOf[Number].intValue()

  override def checkInputDataTypes(): TypeCheckResult = {
    val intTypes = Seq[DataType](ByteType, ShortType, IntegerType, LongType)
    if (key.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a BIGINT key that is ALREADY a uniform " +
          s"60-bit hash (graft_hash60), got ${key.dataType.sql}")
    else if (!widthExpr.foldable || !depthExpr.foldable ||
        !intTypes.contains(widthExpr.dataType) ||
        !intTypes.contains(depthExpr.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName width/depth must be integral literals")
    else if (widthExpr.eval() == null || depthExpr.eval() == null)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName width/depth must not be null")
    else if (width < 2 || depth < 1 || depth > 16 ||
        width.toLong * depth > (1L << 22))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs width ≥ 2, depth in [1, 16], and " +
          s"width·depth ≤ 2^22 counters (32 MB of state)")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def children: Seq[Expression] = Seq(key, widthExpr, depthExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = "graft_cms_agg"

  override def createAggregationBuffer(): Array[Long] =
    CountMinAgg.emptyGrid(width, depth)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val k = key.eval(input)
    if (k != null) CountMinAgg.add(buf, k.asInstanceOf[Long], 1L)
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] =
    CountMinAgg.sum(buf, other, prettyName)

  override def eval(buf: Array[Long]): Any = CountMinAgg.toBytes(buf)

  override def serialize(buf: Array[Long]): Array[Byte] =
    CountMinAgg.toBytes(buf)

  override def deserialize(bytes: Array[Byte]): Array[Long] =
    CountMinAgg.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): CountMinAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CountMinAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CountMinAgg =
    copy(key = newChildren(0), widthExpr = newChildren(1),
      depthExpr = newChildren(2))
}

object CountMinAgg {

  private final val P = 2147483647L // 2^31 − 1, prime

  /** Grid layout: word 0 packs (depth << 32 | width); counters follow
    * row-major (`1 + d·width + bucket`).
    */
  def emptyGrid(width: Int, depth: Int): Array[Long] = {
    val g = new Array[Long](1 + width * depth)
    g(0) = (depth.toLong << 32) | (width.toLong & 0xFFFFFFFFL)
    g
  }

  def widthOf(grid: Array[Long]): Int = (grid(0) & 0xFFFFFFFFL).toInt
  def depthOf(grid: Array[Long]): Int = (grid(0) >>> 32).toInt

  /** Row-d bucket — the engine-portable Carter–Wegman form documented
    * on the class (also the exact expression the q138 oracle inlines).
    */
  def bucket(key: Long, d: Int, width: Int): Int = {
    val h = key & ((1L << 60) - 1)
    val hHi = h >>> 30
    val hLo = h & ((1L << 30) - 1)
    ((((d + 1).toLong * hHi + hLo) % P) % width).toInt
  }

  def add(grid: Array[Long], key: Long, n: Long): Unit = {
    val w = widthOf(grid)
    val depth = depthOf(grid)
    var d = 0
    while (d < depth) {
      grid(1 + d * w + bucket(key, d, w)) += n
      d += 1
    }
  }

  /** In-place elementwise sum of `b` into `a` — exact for occurrence
    * counts, hence merge-tree-invariant. An empty `a` (the union-agg's
    * pre-first-input marker) adopts a copy of `b`; a geometry mismatch
    * is a loud error (the counters describe different bucket spaces).
    */
  def sum(a: Array[Long], b: Array[Long], caller: String): Array[Long] = {
    if (b.isEmpty) return a
    if (a.isEmpty) return b.clone()
    require(a(0) == b(0),
      s"$caller: grids built at different geometry " +
        s"(${depthOf(a)}×${widthOf(a)} vs ${depthOf(b)}×${widthOf(b)}) " +
        "cannot merge")
    var i = 1
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  /** Point estimate: min over the key's `depth` counters — ≥ the true
    * count always, > it only by collision mass.
    */
  def estimate(grid: Array[Long], key: Long): Long = {
    val w = widthOf(grid)
    val depth = depthOf(grid)
    var best = Long.MaxValue
    var d = 0
    while (d < depth) {
      val c = grid(1 + d * w + bucket(key, d, w))
      if (c < best) best = c
      d += 1
    }
    best
  }

  /** Wire format: the long grid (header word included) as big-endian
    * bytes — bulk ByteBuffer transfer (the [[BloomAgg.toBytes]]
    * lesson: per-byte stream writes floor multi-MB sketch shuffles).
    */
  def toBytes(grid: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(grid.length * 8)
    bb.asLongBuffer().put(grid)
    bb.array()
  }

  def fromBytes(bytes: Array[Byte]): Array[Long] = {
    val grid = new Array[Long](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(grid)
    grid
  }

  /** The point query for a BROADCAST grid handle as a `Column`
    * builder: `probe(bc)(keyCol)` is a [[CmsProbe]] over the key — the
    * corpus-scale delivery, same analysis and lifetime as
    * [[BloomAgg.probe]]: a grid is MBs (512 KB at 4×16k, 32 MB at the
    * cap), and per-row column delivery pays `UnsafeRow.getBinary`'s
    * full-image copy on every probed row while a plan literal is
    * deep-hashed by every optimizer pass. The handle ships once per
    * executor; generated code caches `bc.value()` in a mutable slot;
    * each row pays `depth` counter reads. Use [[CmsQuery]] for
    * report-sized probe sides instead.
    */
  def probe(bc: Broadcast[Array[Byte]]): Column => Column =
    key => PlanDataset.column(CmsProbe(bc, PlanDataset.expression(key)))

  /** Static probe kernel for [[CmsQuery]]'s generated code — reads the
    * serialized image directly (two header ints + `depth` counter
    * words), no deserialization allocation per row.
    */
  def estimateBytes(sketch: Array[Byte], key: Long): Long = {
    val bb = java.nio.ByteBuffer.wrap(sketch)
    val header = bb.getLong(0)
    val w = (header & 0xFFFFFFFFL).toInt
    val depth = (header >>> 32).toInt
    var best = Long.MaxValue
    var d = 0
    while (d < depth) {
      val c = bb.getLong((1 + d * w + bucket(key, d, w)) * 8)
      if (c < best) best = c
      d += 1
    }
    best
  }
}

/** `graft_cms_union_agg(sketch BINARY)` → BINARY: roll pre-built
  * [[CountMinAgg]] grids up by elementwise add — per-shard/per-day
  * frequency sketches land in a table once and any later slice's
  * point-query table is an aggregation over sketch ROWS, never a
  * corpus re-scan. Exact for the sketch's semantics: the rolled grid
  * equals the grid of the concatenated inputs bit-for-bit
  * (spec-asserted). Geometry mismatches error loudly.
  */
case class CmsUnionAgg(
    sketch: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (sketch.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires BINARY graft_cms_agg sketches, got " +
        sketch.dataType.sql)

  override def children: Seq[Expression] = Seq(sketch)
  override def nullable: Boolean = true
  override def dataType: DataType = BinaryType
  override def prettyName: String = "graft_cms_union_agg"

  /** Empty marker until the first input fixes the geometry. */
  override def createAggregationBuffer(): Array[Long] = Array.emptyLongArray

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = sketch.eval(input)
    if (v == null) buf
    else CountMinAgg.sum(buf,
      CountMinAgg.fromBytes(v.asInstanceOf[Array[Byte]]), prettyName)
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] =
    CountMinAgg.sum(buf, other, prettyName)

  /** An all-null/empty group evals to NULL — not a placeholder grid,
    * whose made-up geometry would hard-fail a later merge/rollup level
    * ("grids built at different geometry") and poison the whole query
    * because one slice happened to be empty. NULL is the honest value
    * (the geometry is unknowable with zero inputs) and every consumer
    * already handles it: a higher-level union-agg's update skips NULL
    * inputs, and [[CmsQuery]]/[[CmsMerge]] are null-propagating.
    */
  override def eval(buf: Array[Long]): Any =
    if (buf.isEmpty) null else CountMinAgg.toBytes(buf)

  override def serialize(buf: Array[Long]): Array[Byte] =
    CountMinAgg.toBytes(buf)
  override def deserialize(bytes: Array[Byte]): Array[Long] =
    CountMinAgg.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): CmsUnionAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CmsUnionAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CmsUnionAgg =
    copy(sketch = newChildren(0))
}

/** `graft_cms_merge(a BINARY, b BINARY)` → BINARY: pairwise grid sum —
  * the scalar for sketch algebra on report-sized rows (combining two
  * named slices' counts without touching either corpus). Same
  * geometry contract as [[CmsUnionAgg]].
  */
case class CmsMerge(a: Expression, b: Expression) extends BinaryExpression {
  override def left: Expression = a
  override def right: Expression = b
  override def checkInputDataTypes(): TypeCheckResult =
    if (a.dataType == BinaryType && b.dataType == BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two BINARY graft_cms_agg sketches, got " +
        s"(${a.dataType.sql}, ${b.dataType.sql})")
  override def dataType: DataType = BinaryType
  override def prettyName: String = "graft_cms_merge"
  override protected def nullSafeEval(x: Any, y: Any): Any =
    CountMinAgg.toBytes(CountMinAgg.sum(
      CountMinAgg.fromBytes(x.asInstanceOf[Array[Byte]]),
      CountMinAgg.fromBytes(y.asInstanceOf[Array[Byte]]), prettyName))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) =>
      "graft.functions.CountMinAgg.toBytes(graft.functions.CountMinAgg.sum(" +
        s"graft.functions.CountMinAgg.fromBytes($x), " +
        s"graft.functions.CountMinAgg.fromBytes($y), " +
        s""""$prettyName"))""")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CmsMerge =
    copy(a = newLeft, b = newRight)
}

/** `graft_cms_query(sketch BINARY, key BIGINT)` → BIGINT: point
  * estimate against a [[CountMinAgg]] grid (min over the key's
  * counters; never undercounts). Codegen'd straight off the
  * serialized image — no per-row deserialization.
  *
  * Delivery contract (the [[BloomAgg.probe]] analysis): a
  * sketch COLUMN is read per row with a full-image copy, so this form
  * is for REPORT-SIZED probe sides — a top-k key list against a
  * one-row grid, or per-group grids probed once per group. A
  * corpus-sized probe stream against one big grid should ship the
  * image as a broadcast handle instead.
  */
case class CmsQuery(sketch: Expression, key: Expression)
    extends BinaryExpression {

  override def left: Expression = sketch
  override def right: Expression = key

  override def checkInputDataTypes(): TypeCheckResult =
    if (sketch.dataType == BinaryType && key.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (BINARY sketch, BIGINT key), got " +
        s"(${sketch.dataType.sql}, ${key.dataType.sql})")

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_cms_query"

  override protected def nullSafeEval(s: Any, k: Any): Any =
    CountMinAgg.estimateBytes(
      s.asInstanceOf[Array[Byte]], k.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, k) =>
      s"graft.functions.CountMinAgg.estimateBytes($s, $k)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CmsQuery =
    copy(sketch = newLeft, key = newRight)
}

/** Broadcast-handle twin of [[CmsQuery]] — the probe for grids too
  * big to travel as data (see [[CountMinAgg.probe]]). The
  * grid bytes ride `bc`, fetched from the executor's block manager
  * once and cached in a codegen mutable slot, so per-row cost is
  * exactly the `depth` counter reads regardless of grid size — the
  * [[BloomProbe]] delivery, for counts.
  */
case class CmsProbe(bc: Broadcast[Array[Byte]], key: Expression)
    extends UnaryExpression {

  override def child: Expression = key

  override def checkInputDataTypes(): TypeCheckResult =
    if (key.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a BIGINT key, got ${key.dataType.sql}")

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_cms_probe"

  override protected def nullSafeEval(k: Any): Any =
    CountMinAgg.estimateBytes(bc.value, k.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("cmsBc", bc,
      "org.apache.spark.broadcast.Broadcast")
    val gridVar = ctx.addMutableState("byte[]", "cmsGridBytes")
    nullSafeCodeGen(ctx, ev, k => s"""
      |if ($gridVar == null) {
      |  $gridVar = (byte[]) $bcRef.value();
      |}
      |${ev.value} = graft.functions.CountMinAgg.estimateBytes($gridVar, $k);
    """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): CmsProbe =
    copy(key = newChild)
}
