package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, PlanDataset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._

/** Mergeable Bloom-filter membership aggregate:
  * `graft_bloom_agg(key BIGINT, numBits INT, numHashes INT)` → BINARY,
  * a self-describing filter probed per-row by [[BloomContains]]
  * (`graft_bloom_contains(filter, key)`).
  *
  * Why it exists: the engine's membership-style operators
  * ([[graft.llm.Decontaminate]]'s eval-gram set, the L52 dedup-index
  * probe, L36's broadcast join) all assume the "known set" side is
  * broadcast-joinable. That holds for benchmark suites, but the same
  * shape appears with a known set that is NOT small — decontaminating
  * against an entire prior training corpus, or membership-checking a
  * crawl increment against billions of already-ingested URLs. There the
  * exact equi-join shuffles the full probe stream; the Bloom form
  * compresses the known side to a FIXED m-bit array (one aggregated
  * row: ~120 MB for 10⁹ keys at 1% false positives, irrespective of
  * key bytes), ships it once per executor inside the stage's
  * torrent-broadcast task binary, and turns membership into a per-row
  * codegen'd bit probe — the probe side never shuffles at all.
  *
  * Guarantees (the classic ones, and the reason the drop-rule
  * direction matters): NO false negatives ever — a key inserted on any
  * partial is set in the merged filter because merge is bitwise OR,
  * which is exact for bit-union — and false positives at the standard
  * `(1 − e^{−kn/m})^k` rate. For decontamination that direction is
  * conservative: contaminated documents are ALWAYS flagged; a false
  * positive drops a clean document, never leaks a dirty one.
  *
  * Determinism: bit positions are a pure function of the key
  * (splitmix64 double hashing, Kirsch–Mitzenmacher `h1 + i·h2`), so
  * the merged filter bytes are identical under any row order,
  * partitioning, or merge tree — byte-stable across runs and cluster
  * sizes (spec-asserted).
  *
  * Keys are BIGINT because every membership key in this engine already
  * IS one (the gram-hash front end, [[Hash60]]/[[Hash64]] for
  * strings); NULL keys are ignored. `numBits` rounds up to a multiple
  * of 64 and both size parameters must be literals — they fix the
  * buffer layout, and the serialized header carries them so a probe
  * can never misread a filter built with different parameters.
  */
case class BloomAgg(
    key: Expression,
    bitsExpr: Expression,
    hashesExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[BloomAgg.BloomBuf] {
  import BloomAgg.BloomBuf

  private lazy val numWords: Int = {
    val b = bitsExpr.eval().asInstanceOf[Number].longValue()
    ((b + 63) / 64).toInt
  }
  private lazy val numHashes: Int =
    hashesExpr.eval().asInstanceOf[Number].intValue()

  override def checkInputDataTypes(): TypeCheckResult = {
    val intTypes = Seq[DataType](ByteType, ShortType, IntegerType, LongType)
    if (key.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a BIGINT key (hash strings through " +
          s"graft_hash64 first), got ${key.dataType.sql}")
    else if (!bitsExpr.foldable || !hashesExpr.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName numBits/numHashes must be literals")
    else if (!intTypes.contains(bitsExpr.dataType) ||
        !intTypes.contains(hashesExpr.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName numBits/numHashes must be integral literals")
    else if (bitsExpr.eval() == null || hashesExpr.eval() == null)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName numBits/numHashes must not be null")
    else if (bitsExpr.eval().asInstanceOf[Number].longValue() <= 0 ||
        bitsExpr.eval().asInstanceOf[Number].longValue() > (1L << 34) - 128)
      // 2^34 - 128 bits = the largest filter whose serialized form
      // (8 + numWords*8 bytes) still fits an Int-sized ByteBuffer:
      // numWords = 2^28 - 2 gives 8 + (2^28-2)*8 = 2147483640
      // <= Int.MaxValue, while one word more (numBits in
      // (2^34-128, 2^34-64]) wraps the allocation size negative and
      // fails mid-job — the exact failure this analysis-time bound
      // exists to prevent (r15 ADVICE; off-by-one-word fixed r16)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName numBits must be in (0, 2^34 - 128]")
    else if (numHashes <= 0 || numHashes > 32)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName numHashes must be in (0, 32]")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def children: Seq[Expression] = Seq(key, bitsExpr, hashesExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = "graft_bloom_agg"

  override def createAggregationBuffer(): BloomBuf =
    new BloomBuf(new Array[Long](numWords), numHashes)

  override def update(buf: BloomBuf, input: InternalRow): BloomBuf = {
    val k = key.eval(input)
    if (k != null) buf.add(k.asInstanceOf[Long])
    buf
  }

  override def merge(buf: BloomBuf, other: BloomBuf): BloomBuf = {
    // bitwise-OR union: exact for set union, hence no false negatives
    // survive any merge tree. Layouts agree by construction (literal
    // parameters fix numWords for every partial of this aggregate).
    var i = 0
    while (i < buf.words.length) { buf.words(i) |= other.words(i); i += 1 }
    buf
  }

  override def eval(buf: BloomBuf): Any = serialize(buf)

  override def serialize(buf: BloomBuf): Array[Byte] =
    BloomAgg.toBytes(buf.words, buf.k)

  override def deserialize(bytes: Array[Byte]): BloomBuf = {
    val (words, k) = BloomAgg.fromBytes(bytes)
    new BloomBuf(words, k)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BloomAgg =
    copy(key = newChildren(0), bitsExpr = newChildren(1),
      hashesExpr = newChildren(2))
}

object BloomAgg {

  /** Dense bit array + the hash count it was built with. */
  final class BloomBuf(val words: Array[Long], val k: Int) {
    def add(key: Long): Unit = {
      val h1 = mix(key)
      val h2 = mix(key ^ GoldenGamma) | 1L // odd → full-period stride
      val nBits = words.length.toLong * 64
      var i = 0
      while (i < k) {
        val bit = java.lang.Math.floorMod(h1 + i * h2, nBits)
        words((bit >>> 6).toInt) |= 1L << (bit & 63)
        i += 1
      }
    }
  }

  private final val GoldenGamma = 0x9E3779B97F4A7C15L

  /** splitmix64 finalizer — a full-avalanche 64→64 mix; NOT a
    * cross-engine-portable hash (nothing about the filter's internal
    * bit layout surfaces in results, only membership booleans do).
    */
  def mix(x0: Long): Long = {
    var x = x0 + GoldenGamma
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** Wire format: [int numHashes][int numWords][longs…] — the header
    * makes filters self-describing, so [[BloomContains]] can never
    * probe with the wrong hash count.
    */
  def toBytes(words: Array[Long], k: Int): Array[Byte] = {
    // Bulk ByteBuffer transfer: a filter is MBs (2^24 bits = 2 MB) and
    // every partial serializes one per shuffle — per-byte stream writes
    // here measurably floor the whole build (r15: ~0.6 s at 2^24×32
    // partials before this, dominated by DataOutputStream.writeLong).
    val bb = java.nio.ByteBuffer.allocate(8 + words.length * 8)
    bb.putInt(k)
    bb.putInt(words.length)
    bb.asLongBuffer().put(words)
    bb.array()
  }

  def fromBytes(bytes: Array[Byte]): (Array[Long], Int) = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val k = bb.getInt()
    val words = new Array[Long](bb.getInt())
    bb.asLongBuffer().get(words)
    (words, k)
  }

  /** Static probe kernel, called from [[BloomContains]]'s generated
    * code: header-parse-free after the first call would need caching,
    * but the header read is two ints against a byte array — the probe
    * cost is dominated by the k cache-line touches either way.
    */
  def contains(filter: Array[Byte], key: Long): Boolean = {
    val k = readInt(filter, 0)
    val numWords = readInt(filter, 4)
    val nBits = numWords.toLong * 64
    val h1 = mix(key)
    val h2 = mix(key ^ GoldenGamma) | 1L
    var i = 0
    while (i < k) {
      val bit = java.lang.Math.floorMod(h1 + i * h2, nBits)
      val word = readLong(filter, 8 + (bit >>> 6).toInt * 8)
      if ((word & (1L << (bit & 63))) == 0L) return false
      i += 1
    }
    true
  }

  private def readInt(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xFF) << 24) | ((b(off + 1) & 0xFF) << 16) |
      ((b(off + 2) & 0xFF) << 8) | (b(off + 3) & 0xFF)

  private def readLong(b: Array[Byte], off: Int): Long =
    ((readInt(b, off) & 0xFFFFFFFFL) << 32) |
      (readInt(b, off + 4) & 0xFFFFFFFFL)

  /** The membership probe for a BROADCAST filter handle, as a
    * `Column` builder: `probe(bc)(keyCol)` is a [[BloomProbe]] over the
    * key's expression.
    *
    * Why a separate delivery path exists next to [[BloomContains]]:
    * a filter is MBs (2 MB at 2²⁴ bits, ~120 MB at 10⁹ keys/1% FP),
    * and the two "pass it as data" deliveries both collapse at that
    * size — a plan `Literal` is deep-hashed by every optimizer pass
    * (seconds of pure plan time), and a one-row broadcast-joined
    * COLUMN pays `UnsafeRow.getBinary`'s defensive copy of the whole
    * filter on EVERY probed row (at sf0.1/2²⁴ bits: 12.3 s vs 1.3 s
    * for the identical aggregation without the probe). A [[Broadcast]]
    * handle inside the expression is the delivery that scales: the
    * bytes ship torrent-broadcast once per executor, the generated
    * code caches `bc.value()` in a mutable slot on first touch, and
    * each row pays only the k-probe bit test.
    *
    * Lifetime: the expression rides the `Column`, so every plan built
    * from it holds the broadcast, and nothing else does — no session
    * registry entry pins it. Once the last such plan (and the
    * caller's handle) is unreachable, Spark's `ContextCleaner` frees
    * the broadcast. A caller that serves many corpora from one filter
    * keeps the returned builder; a caller that builds again gets a
    * fresh filter over the sources as they are now.
    */
  def probe(bc: Broadcast[Array[Byte]]): Column => Column =
    key => PlanDataset.column(BloomProbe(bc, PlanDataset.expression(key)))
}

/** `graft_bloom_contains(filter BINARY, key BIGINT)` → BOOLEAN: per-row
  * membership probe against a [[BloomAgg]] filter. Codegen'd (one
  * static call, no allocation), so a probe over a literal filter fuses
  * into the scan like any other pushable predicate — the produced plan
  * for "drop rows whose gram hits the known set" is a plain Filter,
  * with no join operator at all.
  */
case class BloomContains(filter: Expression, key: Expression)
    extends BinaryExpression {

  override def left: Expression = filter
  override def right: Expression = key

  override def checkInputDataTypes(): TypeCheckResult =
    if (filter.dataType == BinaryType && key.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (BINARY filter, BIGINT key), got " +
        s"(${filter.dataType.sql}, ${key.dataType.sql})")

  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_contains"

  override protected def nullSafeEval(f: Any, k: Any): Any =
    BloomAgg.contains(f.asInstanceOf[Array[Byte]], k.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (f, k) =>
      s"graft.functions.BloomAgg.contains($f, $k)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomContains =
    copy(filter = newLeft, key = newRight)
}

/** Broadcast-handle twin of [[BloomContains]] — the probe for filters
  * too big to travel as data (see [[BloomAgg.probe]] for the delivery
  * analysis). The filter bytes are NOT a child expression: they ride
  * `bc`, fetched from the executor's block manager once and cached in
  * a codegen mutable slot, so per-row cost is exactly the k-bit test
  * regardless of filter size. Rows-level delivery of the same bytes
  * pays a full-filter copy per row (`UnsafeRow.getBinary`).
  */
case class BloomProbe(bc: Broadcast[Array[Byte]], key: Expression)
    extends UnaryExpression {

  override def child: Expression = key

  override def checkInputDataTypes(): TypeCheckResult =
    if (key.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a BIGINT key, got ${key.dataType.sql}")

  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_probe"

  // interpreted path: Broadcast.value already caches per-JVM
  override protected def nullSafeEval(k: Any): Any =
    BloomAgg.contains(bc.value, k.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("bloomBc", bc,
      "org.apache.spark.broadcast.Broadcast")
    val filterVar = ctx.addMutableState("byte[]", "bloomFilterBytes")
    nullSafeCodeGen(ctx, ev, k => s"""
      |if ($filterVar == null) {
      |  $filterVar = (byte[]) $bcRef.value();
      |}
      |${ev.value} = graft.functions.BloomAgg.contains($filterVar, $k);
    """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): BloomProbe =
    copy(key = newChild)
}
