package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

class BloomAggSpec extends AnyFunSuite with SparkSpec {

  private def buildFilter(keys: Seq[Long], bits: Int, hashes: Int,
      partitions: Int): Array[Byte] = {
    GraftFunctions.ensureRegistered(spark)
    val s = spark
    import s.implicits._
    keys.map(Tuple1(_)).toDF("k").repartition(partitions)
      .agg(expr(s"graft_bloom_agg(k, $bits, $hashes)").as("f"))
      .collect()(0).getAs[Array[Byte]]("f")
  }

  test("no false negatives: every inserted key probes true, through partial merges") {
    val keys = (0L until 5000L).map(i => i * 2654435761L - 77L)
    val f = buildFilter(keys, bits = 1 << 16, hashes = 5, partitions = 7)
    keys.foreach { k =>
      assert(BloomAgg.contains(f, k), s"false negative for $k")
    }
  }

  test("filter bytes are deterministic under partitioning and row order") {
    val keys = (0L until 2000L).map(i => BloomAgg.mix(i))
    val a = buildFilter(keys, 1 << 14, 4, partitions = 1)
    val b = buildFilter(scala.util.Random.javaRandomToRandom(
      new java.util.Random(3)).shuffle(keys), 1 << 14, 4, partitions = 9)
    assert(java.util.Arrays.equals(a, b))
  }

  test("false-positive rate on disjoint probes tracks the (1-e^{-kn/m})^k bound") {
    val n = 4000
    val m = 1 << 16 // load kn/m ~ 0.3
    val k = 5
    val f = buildFilter((0L until n.toLong).map(BloomAgg.mix), m, k,
      partitions = 4)
    // probe keys disjoint from the inserted set by construction
    val probes = (1L to 20000L).map(i => BloomAgg.mix(-i))
    val fp = probes.count(BloomAgg.contains(f, _))
    val pExpected = math.pow(1 - math.exp(-k.toDouble * n / m), k)
    val bound = 3 * pExpected * probes.size + 10 // generous: 3x + slack
    assert(fp <= bound, s"fp=$fp expected<=$bound (p=$pExpected)")
    // and it does reject: the empty filter rejects everything
    val empty = buildFilter(Seq.empty, m, k, partitions = 1)
    assert(!probes.take(100).exists(BloomAgg.contains(empty, _)))
  }

  test("nulls are ignored; header round-trips numHashes and width") {
    GraftFunctions.ensureRegistered(spark)
    val s = spark
    import s.implicits._
    val f = Seq(Option(5L), None, Option(9L)).map(Tuple1(_)).toDF("k")
      .agg(expr("graft_bloom_agg(k, 128, 3)").as("f"))
      .collect()(0).getAs[Array[Byte]]("f")
    val (words, k) = BloomAgg.fromBytes(f)
    assert(k === 3 && words.length === 2) // 128 bits -> 2 words
    assert(BloomAgg.contains(f, 5L) && BloomAgg.contains(f, 9L))
  }

  test("graft_bloom_contains probes as a codegen'd filter: join-free plan") {
    GraftFunctions.ensureRegistered(spark)
    val s = spark
    import s.implicits._
    val f = buildFilter(Seq(1L, 2L, 3L), 1 << 10, 4, partitions = 1)
    val df = (0L until 100L).map(Tuple1(_)).toDF("k")
    val kept = df.filter(
      call_function(GraftFunctions.BloomContainsName,
        lit(f), col("k")))
    val plan = kept.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("join"), s"membership must be a Filter:\n$plan")
    val ids = kept.collect().map(_.getLong(0)).toSet
    assert(Set(1L, 2L, 3L).subsetOf(ids)) // no false negatives
    assert(ids.size <= 10) // 1024 bits for 3 keys: ~zero false positives
  }

  test("non-literal size parameters and wrong key type are clean analysis failures") {
    GraftFunctions.ensureRegistered(spark)
    val s = spark
    import s.implicits._
    val df = Seq(1L).map(Tuple1(_)).toDF("k")
    intercept[Exception] {
      df.agg(expr("graft_bloom_agg(k, k, 3)")).collect()
    }
    intercept[Exception] {
      df.select(col("k").cast("string").as("sk"))
        .agg(expr("graft_bloom_agg(sk, 64, 3)")).collect()
    }
    // a filter the serializer cannot materialize (bytes > Int.MaxValue)
    // must fail AT ANALYSIS, not mid-job (r15 ADVICE): the bound is
    // 2^34 - 128 bits — the largest numBits whose 8 + numWords*8-byte
    // form fits an Int-sized ByteBuffer (2^34 - 64 was off by one
    // word: its own maximum wrapped the allocation size negative)
    intercept[Exception] {
      df.agg(expr(s"graft_bloom_agg(k, ${1L << 35}, 3)")).collect()
    }
    // the exact boundary: one word past the maximum rejects at analysis
    intercept[Exception] {
      df.agg(expr(s"graft_bloom_agg(k, ${(1L << 34) - 64}, 3)")).collect()
    }
  }

  test("bloomDecontaminate never keeps a doc the exact form drops") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven"),
      (3L, "totally unrelated clean content words here"),
      (4L, "short")).toDF("doc_id", "text")
    val eval = Seq(
      (100L, "beta gamma delta"), // contaminates doc 1
      (101L, "three four five")) // contaminates doc 2
      .toDF("doc_id", "text")
    val exact = graft.llm.Decontaminate
      .decontaminate(docs, eval, shingleK = 3, maxOverlap = 0.0)
      .select("doc_id").as[Long].collect().toSet
    val bloom = graft.llm.Decontaminate
      .bloomDecontaminate(docs, eval, shingleK = 3, maxOverlap = 0.0,
        numBits = 1 << 16, numHashes = 5)
      .select("doc_id").as[Long].collect().toSet
    assert(exact === Set(3L, 4L))
    assert(bloom.subsetOf(exact), "bloom keep-set must be conservative")
    // with a generously sized filter there are no FP drops either
    assert(bloom === exact)
  }

  test("bloomCalibrationAudit matches the two single-form audits in one scan") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven"),
      (3L, "totally unrelated clean content words here"),
      (4L, "short")).toDF("doc_id", "text")
    val eval = Seq(
      (100L, "beta gamma delta"),
      (101L, "three four five")).toDF("doc_id", "text")
    val paired = graft.llm.Decontaminate
      .bloomCalibrationAudit(docs, eval, shingleK = 3,
        numBits = 1 << 16, numHashes = 5)
    try {
      val rows = paired.collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4))))
        .toMap
      val exact = graft.llm.Decontaminate
        .decontaminateAudit(docs, eval, shingleK = 3).collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
      val bloom = graft.llm.Decontaminate
        .bloomDecontaminateAudit(docs, eval, shingleK = 3,
          numBits = 1 << 16, numHashes = 5).collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(rows.keySet === exact.keySet)
      rows.foreach { case (id, (ng, nh, ov, bh)) =>
        assert((ng, nh, ov) === exact(id),
          s"exact columns for doc $id")
        assert(bh === bloom(id), s"bloom_hit for doc $id")
        assert(bh >= nh, s"no false negatives for doc $id")
      }
    } finally graft.operators.Checkpoints.release(paired)
  }
}
