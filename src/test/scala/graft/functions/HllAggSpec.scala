package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** The q137 oracle gates the cross-engine register/estimate
  * arithmetic on the real corpus; this spec pins the SKETCH CONTRACT:
  * merge-tree invariance (the one property that makes it a sketch),
  * duplicate insensitivity, the advertised accuracy at its standard
  * error, and the header/bounds guardrails.
  */
class HllAggSpec extends AnyFunSuite with SparkSpec {

  private def sketch(keys: Seq[Long], p: Int, partitions: Int): Array[Byte] = {
    GraftFunctions.ensureRegistered(spark)
    val s = spark
    import s.implicits._
    keys.map(Tuple1(_)).toDF("k").repartition(partitions)
      .agg(expr(s"graft_hll_agg(k, $p)").as("h"))
      .collect()(0).getAs[Array[Byte]]("h")
  }

  // uniform 60-bit stand-ins for hash60 output
  private def key60(i: Long): Long = BloomAgg.mix(i) & ((1L << 60) - 1)

  test("state bytes are invariant under partitioning, row order, and duplicates") {
    val keys = (0L until 3000L).map(key60)
    val a = sketch(keys, p = 10, partitions = 1)
    val shuffled = scala.util.Random.javaRandomToRandom(
      new java.util.Random(7)).shuffle(keys ++ keys.take(500))
    val b = sketch(shuffled, p = 10, partitions = 11)
    assert(java.util.Arrays.equals(a, b))
  }

  test("estimate tracks the true cardinality within 3 standard errors") {
    // sigma = 1.04/sqrt(m); at p=10, 3 sigma ~ 9.75%
    for (n <- Seq(2000, 20000, 100000)) {
      val est = HllAgg.estimate(sketch((0L until n.toLong).map(key60),
        p = 10, partitions = 8))
      val rel = math.abs(est - n) / n
      assert(rel < 0.0975, s"n=$n est=$est rel=$rel")
    }
  }

  test("zeros counts empty registers; estimate and zeros read the header p") {
    val one = sketch(Seq(key60(42L)), p = 8, partitions = 1)
    assert(HllAgg.readP(one) === 8)
    assert(HllAgg.zeros(one) === 255) // 256 registers, exactly one hit
    val est = HllAgg.estimate(one)
    // raw estimate without small-range correction sits near alpha*m,
    // NOT near 1 — the documented contract: the caller applies linear
    // counting from (m, zeros) when zeros > 0 and the estimate is small
    assert(est > 100.0 && est < 300.0, s"raw small-range estimate $est")
    val m = 256.0
    val linear = m * math.log(m / HllAgg.zeros(one))
    assert(math.abs(linear - 1.0) < 0.01, s"linear counting gives $linear")
  }

  test("scalar companions agree with the kernel through SQL") {
    GraftFunctions.ensureRegistered(spark)
    val s = spark
    import s.implicits._
    val row = (0L until 5000L).map(key60).map(Tuple1(_)).toDF("k")
      .agg(expr("graft_hll_agg(k, 10)").as("h"))
      .select(expr("graft_hll_est(h)").as("e"), expr("graft_hll_zeros(h)").as("z"),
        col("h"))
      .collect()(0)
    assert(row.getDouble(0) === HllAgg.estimate(row.getAs[Array[Byte]]("h")))
    assert(row.getInt(1) === HllAgg.zeros(row.getAs[Array[Byte]]("h")))
  }

  test("union-agg over per-shard sketches equals the direct sketch bit-for-bit") {
    GraftFunctions.ensureRegistered(spark)
    val s = spark
    import s.implicits._
    val keys = (0L until 8000L).map(key60)
    // per-shard sketches (the persisted-sketch-table shape), rolled up
    val rolled = keys.zipWithIndex.map { case (k, i) => (i % 5, k) }
      .toDF("shard", "k")
      .groupBy("shard").agg(expr("graft_hll_agg(k, 10)").as("h"))
      .agg(expr("graft_hll_union_agg(h)").as("u"))
      .collect()(0).getAs[Array[Byte]]("u")
    val direct = sketch(keys, p = 10, partitions = 3)
    assert(java.util.Arrays.equals(rolled, direct))
    // pairwise scalar merge of two half-sketches agrees too
    val halfRows = keys.zipWithIndex.map { case (k, i) => (i % 2, k) }
      .toDF("half", "k")
      .groupBy("half").agg(expr("graft_hll_agg(k, 10)").as("h"))
      .collect().map(_.getAs[Array[Byte]]("h"))
    assert(halfRows.length === 2)
    val merged = Seq((halfRows(0), halfRows(1))).toDF("a", "b")
      .select(expr("graft_hll_merge(a, b)").as("m"))
      .collect()(0).getAs[Array[Byte]]("m")
    assert(java.util.Arrays.equals(merged, direct))
  }

  test("graft_hll_merge's generated code compiles and matches the kernel") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.BinaryType
    val a = sketch((0L until 3000L).map(key60), p = 10, partitions = 2)
    val b = sketch((2000L until 6000L).map(key60), p = 10, partitions = 2)
    // compiles the projection directly: a compile error throws here
    // instead of falling back to interpreted evaluation
    val proj = GenerateUnsafeProjection.generate(Seq(HllMerge(
      BoundReference(0, BinaryType, nullable = true),
      BoundReference(1, BinaryType, nullable = true))))
    val merged = proj(InternalRow(a, b)).getBinary(0)
    assert(java.util.Arrays.equals(merged, HllAgg.union(a.clone(), b, "spec")))
    // the left input is cloned, not merged into in place
    assert(java.util.Arrays.equals(a,
      sketch((0L until 3000L).map(key60), p = 10, partitions = 2)))
  }

  test("inclusion-exclusion overlap tracks the true intersection") {
    // A = [0, 30k), B = [20k, 50k): true overlap 10k of 40k-sized union
    val a = sketch((0L until 30000L).map(key60), p = 12, partitions = 4)
    val b = sketch((20000L until 50000L).map(key60), p = 12, partitions = 4)
    val u = HllAgg.union(a.clone(), b, "spec")
    val overlap =
      HllAgg.estimate(a) + HllAgg.estimate(b) - HllAgg.estimate(u)
    // three estimates, each ~1.6% sigma at p=12 — 10% of the true
    // 10k intersection is a generous 3-sigma-ish band
    assert(math.abs(overlap - 10000.0) < 1000.0, s"overlap=$overlap")
  }

  test("union of sketches built at different p is a loud error") {
    val a = sketch(Seq(key60(1L)), p = 10, partitions = 1)
    val b = sketch(Seq(key60(2L)), p = 12, partitions = 1)
    val e = intercept[IllegalArgumentException](HllAgg.union(a, b, "spec"))
    assert(e.getMessage.contains("different p"))
    // empty-group union-agg evals to NULL (no made-up p that would
    // poison a later rollup level), and NULL propagates cleanly
    GraftFunctions.ensureRegistered(spark)
    val s = spark
    import s.implicits._
    val emptyRow = Seq.empty[Array[Byte]].map(Tuple1(_)).toDF("h")
      .agg(expr("graft_hll_union_agg(h)").as("u"))
      .select(expr("graft_hll_zeros(u)").as("z")).collect()(0)
    assert(emptyRow.isNullAt(0))
    // two-level rollup where one slice is all-NULL: the empty slice
    // contributes nothing instead of erroring the merge
    val real = sketch(Seq(key60(1L), key60(2L)), p = 10, partitions = 1)
    val rolled = Seq((0, real), (1, null.asInstanceOf[Array[Byte]]))
      .toDF("slice", "h")
      .groupBy($"slice").agg(expr("graft_hll_union_agg(h)").as("u"))
      .agg(expr("graft_hll_union_agg(u)").as("u"))
      .collect()(0).getAs[Array[Byte]]("u")
    assert(java.util.Arrays.equals(rolled, real))
  }

  test("p outside [4, 18] and non-bigint keys are clean analysis failures") {
    GraftFunctions.ensureRegistered(spark)
    val s = spark
    import s.implicits._
    val df = Seq(1L).map(Tuple1(_)).toDF("k")
    intercept[Exception](df.agg(expr("graft_hll_agg(k, 3)")).collect())
    intercept[Exception](df.agg(expr("graft_hll_agg(k, 19)")).collect())
    intercept[Exception](
      Seq("x").map(Tuple1(_)).toDF("sk").agg(expr("graft_hll_agg(sk, 10)"))
        .collect())
  }
}
