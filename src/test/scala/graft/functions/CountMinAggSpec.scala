package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** The q140 oracle gates the cross-engine grid/estimate arithmetic
  * (collision overcounts included) on the real corpus; this spec pins
  * the SKETCH CONTRACT: merge-tree invariance, the union-agg rollup ≡
  * single-pass identity, the one-sided never-undercount guarantee,
  * accuracy at the classical ε·N bound, and the geometry guardrails.
  */
class CountMinAggSpec extends AnyFunSuite with SparkSpec {

  private def grid(keys: Seq[Long], w: Int, d: Int,
      partitions: Int): Array[Byte] = {
    GraftFunctions.ensureRegistered(spark)
    val s = spark
    import s.implicits._
    keys.map(Tuple1(_)).toDF("k").repartition(partitions)
      .agg(expr(s"graft_cms_agg(k, $w, $d)").as("g"))
      .collect()(0).getAs[Array[Byte]]("g")
  }

  // uniform 60-bit stand-ins for hash60 output
  private def key60(i: Long): Long = BloomAgg.mix(i) & ((1L << 60) - 1)

  test("grid bytes are invariant under partitioning and row order") {
    val keys = (0L until 4000L).map(i => key60(i % 700)) // skewed dups
    val a = grid(keys, w = 256, d = 4, partitions = 1)
    val b = grid(scala.util.Random.javaRandomToRandom(
      new java.util.Random(5)).shuffle(keys), w = 256, d = 4,
      partitions = 13)
    assert(java.util.Arrays.equals(a, b))
  }

  test("estimates never undercount and meet the eN/w bound at depth 4") {
    // zipf-ish: key i appears 1 + 5000/(i+1) times
    val keys = (0 until 400).flatMap(i =>
      Seq.fill(1 + 5000 / (i + 1))(key60(i.toLong)))
    val n = keys.length.toLong
    val w = 128
    val g = CountMinAgg.fromBytes(grid(keys, w = w, d = 4, partitions = 8))
    val exact = keys.groupBy(identity).map { case (k, v) => k -> v.length }
    // the classical guarantee: est <= exact + eN/w with prob 1-e^-d
    // per key; over 400 keys at d=4 a handful of modest excursions are
    // expected, so assert the 99th-percentile behavior, not the max
    val bound = (math.E * n / w).toLong
    var over = 0
    exact.foreach { case (k, c) =>
      val est = CountMinAgg.estimate(g, k)
      assert(est >= c, s"undercount: key $k est=$est exact=$c")
      if (est > c + bound) over += 1
    }
    assert(over <= 4, s"$over of ${exact.size} keys exceeded the eN/w bound")
  }

  test("union-agg rollup of per-slice grids equals the single-pass grid") {
    GraftFunctions.ensureRegistered(spark)
    val s = spark
    import s.implicits._
    val rows = (0L until 6000L).map(i => (i % 7, key60(i % 900)))
    val direct = grid(rows.map(_._2), w = 512, d = 3, partitions = 9)
    val rolled = rows.toDF("slice", "k")
      .groupBy(col("slice"))
      .agg(expr("graft_cms_agg(k, 512, 3)").as("g"))
      .agg(expr("graft_cms_union_agg(g)").as("g"))
      .collect()(0).getAs[Array[Byte]]("g")
    assert(java.util.Arrays.equals(direct, rolled))
    // pairwise scalar merge agrees too
    val half1 = grid(rows.filter(_._1 < 3).map(_._2), 512, 3, 4)
    val half2 = grid(rows.filter(_._1 >= 3).map(_._2), 512, 3, 4)
    val merged = Seq((half1, half2)).toDF("a", "b")
      .select(expr("graft_cms_merge(a, b)").as("g"))
      .collect()(0).getAs[Array[Byte]]("g")
    assert(java.util.Arrays.equals(direct, merged))
  }

  test("graft_cms_query probes through SQL; empty groups roll up as NULL") {
    GraftFunctions.ensureRegistered(spark)
    val s = spark
    import s.implicits._
    val k = key60(99L)
    val est = Seq(k, k, k, key60(7L)).map(Tuple1(_)).toDF("k")
      .agg(expr("graft_cms_agg(k, 1024, 4)").as("g"))
      .select(expr(s"graft_cms_query(g, ${k}L)").as("c"))
      .collect()(0).getLong(0)
    assert(est === 3L)
    // all-null input: the union-agg evals NULL (no made-up geometry
    // that would poison a later rollup level)
    val emptyRow = Seq(Tuple1(null.asInstanceOf[Array[Byte]])).toDF("g")
      .agg(expr("graft_cms_union_agg(g)").as("g")).collect()(0)
    assert(emptyRow.isNullAt(0))
    // two-level rollup where one slice is all-NULL: the empty slice
    // contributes nothing instead of erroring the geometry check
    val real = grid(Seq(k, k), w = 1024, d = 4, partitions = 1)
    val rolled = Seq((0, real), (1, null.asInstanceOf[Array[Byte]]))
      .toDF("slice", "g")
      .groupBy(col("slice")).agg(expr("graft_cms_union_agg(g)").as("g"))
      .agg(expr("graft_cms_union_agg(g)").as("g"))
      .collect()(0).getAs[Array[Byte]]("g")
    assert(java.util.Arrays.equals(rolled, real))
  }

  test("broadcast-handle probe equals the column-delivery query on every key") {
    GraftFunctions.ensureRegistered(spark)
    val s = spark
    import s.implicits._
    val keys = (0L until 3000L).map(i => key60(i % 250))
    val bytes = grid(keys, w = 512, d = 4, partitions = 6)
    val probe = CountMinAgg.probe(spark.sparkContext.broadcast(bytes))
    val probed = keys.distinct.map(Tuple1(_)).toDF("k")
      .select(col("k"), probe(col("k")).as("est"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    keys.distinct.foreach { k =>
      assert(probed(k) === CountMinAgg.estimateBytes(bytes, k), s"key $k")
    }
    // familiarity composition: self-reference => every doc's grams
    // were all seen, so seen_sum >= n_grams and mean_seen >= 1
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"), // exact dup: grams seen twice
      (3L, "completely different words entirely now"),
      (4L, "xy")).toDF("doc_id", "text")
    val fam = graft.llm.TextAnalysis.cmsFamiliarity(docs,
      graft.llm.TextAnalysis.buildGramCmsProbe(docs, 3, width = 4096),
      shingleK = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(fam(4L) === ((0L, 0L, 0.0))) // gram-less doc
    assert(fam(3L)._3 >= 1.0)
    // dup pair: each of its grams occurs twice in the reference
    assert(fam(1L)._3 >= 2.0 && fam(1L) === fam(2L))
  }

  test("geometry guardrails are clean analysis failures") {
    GraftFunctions.ensureRegistered(spark)
    val s = spark
    import s.implicits._
    val df = Seq(1L, 2L).map(Tuple1(_)).toDF("k")
    for (bad <- Seq("graft_cms_agg(k, 1, 4)", "graft_cms_agg(k, 512, 0)",
        "graft_cms_agg(k, 1048576, 16)", "graft_cms_agg(k, k, 4)")) {
      val e = intercept[Exception](df.agg(expr(bad)).collect())
      assert(e.getMessage != null)
    }
    // geometry-mismatched merge errors loudly, never estimates garbage
    val g1 = grid(Seq(key60(1L)), 256, 4, 1)
    val g2 = grid(Seq(key60(1L)), 512, 4, 1)
    val e = intercept[Exception](
      Seq((g1, g2)).toDF("a", "b")
        .select(expr("graft_cms_merge(a, b)")).collect())
    assert(e.getMessage.contains("geometry") ||
      e.getCause != null && e.getCause.getMessage.contains("geometry"))
  }
}
