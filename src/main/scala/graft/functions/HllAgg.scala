package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._

/** Mergeable HyperLogLog distinct-count sketch:
  * `graft_hll_agg(key BIGINT, p INT)` → BINARY (2^p one-byte
  * registers), estimated by [[HllEst]] (`graft_hll_est`) and
  * inspected by [[HllZeros]] (`graft_hll_zeros`).
  *
  * Why it exists beside [[ExactDistinctAgg]]: the exact aggregate
  * carries the full key set through the shuffle — the right call when
  * the distinct count itself is report-sized, and certified as such.
  * At corpus scale ("distinct URLs ever crawled", "vocabulary of a
  * 100 TB slice") the key set is the dataset, and the only shape that
  * survives is a FIXED-size mergeable state: 2^p bytes per group, any
  * partitioning, any merge tree. HLL (Flajolet et al., AOFA'07) is
  * that state: register j holds the max leading-zero rank seen in
  * bucket j, merge is elementwise max (idempotent, commutative,
  * associative — exact for the sketch's semantics, so the merged
  * state equals the single-pass state bit-for-bit, spec-asserted).
  *
  * Determinism across engines, the repo's hash-compare bar: the KEY
  * is required to already be the engine-portable 60-bit md5 hash
  * ([[Hash60]] / the oracle's `CAST(concat('0x', substr(md5(x), 1,
  * 15)) AS BIGINT)`) — the aggregate adds NO private mixing (md5 is
  * already full-avalanche), so bucket = top p bits and
  * rho = leading-zero rank of the remaining 60−p bits are integer
  * arithmetic both engines reproduce exactly. The estimator follows
  * the repo's log-free-rational convention: the harmonic denominator
  * Σ 2^{−reg(j)} is computed as the INTEGER Σ 2^{shift+1−reg(j)}
  * (every term a power of two, max 2^{61−p} · 2^p = 2^61 < 2^63 —
  * no overflow, no rounding, no order dependence), and only the final
  * `alpha·m²·2^{shift+1} / S` runs in exactly-rounded IEEE doubles —
  * so q137's estimates hash-compare with no tolerance band.
  *
  * The raw estimate is reported as-is; the classical small-range
  * correction (linear counting `m·ln(m/V)` when V > 0 and the raw
  * estimate is small) needs a transcendental `ln` whose last bit
  * differs between libm builds, so it is left to the CALLER via
  * `graft_hll_zeros` (V comes out of the same state) — the
  * correction is a driver-side one-liner on report-sized rows.
  */
case class HllAgg(
    key: Expression,
    pExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Byte]] {

  private lazy val p: Int = pExpr.eval().asInstanceOf[Number].intValue()

  override def checkInputDataTypes(): TypeCheckResult = {
    val intTypes = Seq[DataType](ByteType, ShortType, IntegerType, LongType)
    if (key.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a BIGINT key that is ALREADY a uniform " +
          s"60-bit hash (graft_hash60), got ${key.dataType.sql}")
    else if (!pExpr.foldable || !intTypes.contains(pExpr.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName p must be an integral literal")
    else if (pExpr.eval() == null)
      TypeCheckResult.TypeCheckFailure(s"$prettyName p must not be null")
    else if (p < 4 || p > 18)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName p must be in [4, 18] (2^p registers)")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def children: Seq[Expression] = Seq(key, pExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = "graft_hll_agg"

  override def createAggregationBuffer(): Array[Byte] =
    HllAgg.emptyRegisters(p)

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val k = key.eval(input)
    if (k != null) HllAgg.add(buf, k.asInstanceOf[Long])
    buf
  }

  override def merge(buf: Array[Byte], other: Array[Byte]): Array[Byte] = {
    // elementwise max: exact for "max rank seen" semantics, so any
    // merge tree yields the single-pass state bit-for-bit
    var i = HllAgg.HeaderBytes
    while (i < buf.length) {
      if ((other(i) & 0xFF) > (buf(i) & 0xFF)) buf(i) = other(i)
      i += 1
    }
    buf
  }

  override def eval(buf: Array[Byte]): Any = buf.clone()

  override def serialize(buf: Array[Byte]): Array[Byte] = buf

  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes.clone()

  override def withNewMutableAggBufferOffset(newOffset: Int): HllAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HllAgg =
    copy(key = newChildren(0), pExpr = newChildren(1))
}

object HllAgg {

  /** Wire format: [int p][2^p register bytes] — self-describing, so
    * the estimator can never misread a sketch built at another p.
    */
  final val HeaderBytes = 4

  def emptyRegisters(p: Int): Array[Byte] = {
    val regs = new Array[Byte](HeaderBytes + (1 << p))
    regs(0) = ((p >>> 24) & 0xFF).toByte
    regs(1) = ((p >>> 16) & 0xFF).toByte
    regs(2) = ((p >>> 8) & 0xFF).toByte
    regs(3) = (p & 0xFF).toByte
    regs
  }

  def readP(regs: Array[Byte]): Int =
    ((regs(0) & 0xFF) << 24) | ((regs(1) & 0xFF) << 16) |
      ((regs(2) & 0xFF) << 8) | (regs(3) & 0xFF)

  /** Fold one pre-hashed key in: bucket = top p of the 60 hash bits,
    * rho = leading-zero rank of the remaining `shift` = 60−p bits
    * (all-zero remainder → shift+1, the standard convention).
    */
  def add(regs: Array[Byte], key: Long): Unit = {
    val p = readP(regs)
    val shift = 60 - p
    val h = key & ((1L << 60) - 1)
    val bucket = (h >>> shift).toInt
    val w = h & ((1L << shift) - 1)
    val rho =
      if (w == 0L) shift + 1
      else shift - (64 - java.lang.Long.numberOfLeadingZeros(w)) + 1
    val at = HeaderBytes + bucket
    if (rho > (regs(at) & 0xFF)) regs(at) = rho.toByte
  }

  /** Raw HLL estimate `alpha_m · m² / Σ 2^{−reg(j)}`, with the
    * harmonic sum carried as the exact integer `S = Σ 2^{shift+1−reg}`
    * (order-free) and one final exactly-rounded double expression —
    * the cross-engine-reproducible form the q137 oracle mirrors.
    */
  def estimate(regs: Array[Byte]): Double = {
    val p = readP(regs)
    val m = 1 << p
    val shift = 60 - p
    var s = 0L
    var i = 0
    while (i < m) {
      s += 1L << (shift + 1 - (regs(HeaderBytes + i) & 0xFF))
      i += 1
    }
    val md = m.toDouble
    0.7213 / (1.0 + 1.079 / md) * md * md *
      java.lang.Math.pow(2.0, (shift + 1).toDouble) / s.toDouble
  }

  /** In-place union of `b` into `a` (elementwise register max).
    * An empty `a` (the union-agg's pre-first-input marker) adopts a
    * copy of `b`; a p mismatch is a loud error, not a silent garbage
    * estimate. Exact for HLL semantics: union-of-states ≡
    * state-of-concatenated-inputs, bit-for-bit.
    */
  def union(a: Array[Byte], b: Array[Byte], caller: String): Array[Byte] = {
    if (b.isEmpty) return a
    if (a.isEmpty) return b.clone()
    require(readP(a) == readP(b),
      s"$caller: sketches built at different p (${readP(a)} vs " +
        s"${readP(b)}) describe different bucket spaces and cannot merge")
    var i = HeaderBytes
    while (i < a.length) {
      if ((b(i) & 0xFF) > (a(i) & 0xFF)) a(i) = b(i)
      i += 1
    }
    a
  }

  /** Zero-register count V — the linear-counting input the caller
    * needs to apply the small-range correction `m·ln(m/V)`.
    */
  def zeros(regs: Array[Byte]): Int = {
    val m = 1 << readP(regs)
    var v = 0
    var i = 0
    while (i < m) {
      if (regs(HeaderBytes + i) == 0) v += 1
      i += 1
    }
    v
  }
}

/** `graft_hll_union_agg(sketch BINARY)` → BINARY: roll pre-built
  * [[HllAgg]] sketches up by elementwise max — the persistence story:
  * per-shard/per-day sketches land in a table once, and any later
  * slice's cardinality is an aggregation over sketch ROWS, never a
  * re-scan of the corpus (the Bloom/IVF persisted-index convention,
  * for cardinality). Union is exact for HLL semantics, so the rolled
  * state equals the sketch of the concatenated inputs bit-for-bit
  * (spec-asserted). Mixed-p inputs are a loud error — a p mismatch
  * means the registers describe different bucket spaces, and max-ing
  * them silently would estimate garbage.
  */
case class HllUnionAgg(
    sketch: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Byte]] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (sketch.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires BINARY graft_hll_agg sketches, got " +
        sketch.dataType.sql)

  override def children: Seq[Expression] = Seq(sketch)
  override def nullable: Boolean = true
  override def dataType: DataType = BinaryType
  override def prettyName: String = "graft_hll_union_agg"

  /** Empty marker until the first input fixes p (zero-length array —
    * never a valid wire image, so it can't be confused with a state).
    */
  override def createAggregationBuffer(): Array[Byte] = Array.emptyByteArray

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = sketch.eval(input)
    if (v == null) buf
    else HllAgg.union(buf, v.asInstanceOf[Array[Byte]], prettyName)
  }

  override def merge(buf: Array[Byte], other: Array[Byte]): Array[Byte] =
    HllAgg.union(buf, other, prettyName)

  /** An all-null/empty group evals to NULL — not a placeholder sketch
    * at a made-up p, which would hard-fail a later rollup level
    * ("different p ... cannot merge") the moment a real-p sketch met
    * it, poisoning the whole query because one slice happened to be
    * empty (the r15 CmsUnionAgg review finding, applied to both
    * algebras). NULL is the honest value with zero inputs, and every
    * consumer handles it: a higher-level union-agg skips NULL inputs,
    * and [[HllEst]]/[[HllZeros]]/[[HllMerge]] are null-propagating.
    */
  override def eval(buf: Array[Byte]): Any =
    if (buf.isEmpty) null else buf.clone()

  override def serialize(buf: Array[Byte]): Array[Byte] = buf
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes.clone()

  override def withNewMutableAggBufferOffset(newOffset: Int): HllUnionAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllUnionAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HllUnionAgg =
    copy(sketch = newChildren(0))
}

/** `graft_hll_merge(a BINARY, b BINARY)` → BINARY: pairwise sketch
  * union — the scalar for sketch ALGEBRA on report-sized rows
  * (inclusion–exclusion intersection estimates, pairwise overlap
  * matrices between slices). Same p contract as [[HllUnionAgg]].
  */
case class HllMerge(a: Expression, b: Expression) extends BinaryExpression {
  override def left: Expression = a
  override def right: Expression = b
  override def checkInputDataTypes(): TypeCheckResult =
    if (a.dataType == BinaryType && b.dataType == BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two BINARY graft_hll_agg sketches, got " +
        s"(${a.dataType.sql}, ${b.dataType.sql})")
  override def dataType: DataType = BinaryType
  override def prettyName: String = "graft_hll_merge"
  override protected def nullSafeEval(x: Any, y: Any): Any =
    HllAgg.union(x.asInstanceOf[Array[Byte]].clone(),
      y.asInstanceOf[Array[Byte]], prettyName)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) =>
      s"graft.functions.HllAgg.union((byte[]) $x.clone(), $y, \"$prettyName\")")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HllMerge =
    copy(a = newLeft, b = newRight)
}

/** `graft_hll_est(sketch BINARY)` → DOUBLE: the raw HLL estimate of a
  * [[HllAgg]] state. Runs on report-sized rows (one per group).
  */
case class HllEst(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a BINARY graft_hll_agg sketch, got " +
        child.dataType.sql)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_hll_est"
  override protected def nullSafeEval(v: Any): Any =
    HllAgg.estimate(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HllAgg.estimate($c)")
  override protected def withNewChildInternal(newChild: Expression): HllEst =
    copy(child = newChild)
}

/** `graft_hll_zeros(sketch BINARY)` → INT: zero-register count of a
  * [[HllAgg]] state (the linear-counting correction's V).
  */
case class HllZeros(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a BINARY graft_hll_agg sketch, got " +
        child.dataType.sql)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_hll_zeros"
  override protected def nullSafeEval(v: Any): Any =
    HllAgg.zeros(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HllAgg.zeros($c)")
  override protected def withNewChildInternal(newChild: Expression): HllZeros =
    copy(child = newChild)
}
