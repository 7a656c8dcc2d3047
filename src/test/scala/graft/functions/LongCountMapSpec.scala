package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class LongCountMapSpec extends AnyFunSuite with SparkSpec {

  test("build + get: exact counts, absent keys 0, across load factors") {
    val rnd = new java.util.Random(7)
    for (n <- Seq(0, 1, 2, 3, 7, 100, 10000)) {
      val keys = scala.collection.mutable.LinkedHashSet[Long]()
      while (keys.size < n) keys += rnd.nextLong()
      keys -= LongCountMap.Empty
      val pairs = keys.toSeq.map(k => k -> (math.abs(k) % 1000 + 1))
      val table = LongCountMap.build(pairs.iterator, pairs.length)
      pairs.foreach { case (k, v) =>
        assert(LongCountMap.get(table, k) === v, s"n=$n key=$k")
      }
      // absent keys (including negatives and adjacent values) read 0
      (1 to 50).foreach { _ =>
        val miss = rnd.nextLong()
        if (!keys.contains(miss) && miss != LongCountMap.Empty)
          assert(LongCountMap.get(table, miss) === 0L)
      }
      assert(LongCountMap.get(table, -2L) ===
        pairs.toMap.getOrElse(-2L, 0L))
    }
  }

  test("duplicate keys and the empty-slot sentinel are loud errors") {
    intercept[IllegalArgumentException] {
      LongCountMap.build(Iterator(1L -> 1L, 1L -> 2L), 2)
    }
    intercept[IllegalArgumentException] {
      LongCountMap.build(Iterator(LongCountMap.Empty -> 1L), 1)
    }
    intercept[IllegalArgumentException] { // declared count must match
      LongCountMap.build(Iterator(1L -> 1L), 2)
    }
    // a pair count past the array-size ceiling raises up front (r17
    // ADVICE: the old Int-arithmetic sizing loop wrapped negative for
    // n > ~214M and linear-probed a full 2-slot table forever)
    intercept[IllegalArgumentException] {
      LongCountMap.build(Iterator.empty, LongCountMap.MaxPairs + 1)
    }
  }

  test("registered probe: codegen'd column path matches the driver get, nulls propagate") {
    val s = spark
    import s.implicits._
    val pairs = Seq(5L -> 50L, -7L -> 3L, ((1L << 62) | 123L) -> 9L)
    val table = LongCountMap.build(pairs.iterator, pairs.length)
    val probe = LongCountMap.probe(s.sparkContext.broadcast(table))
    val rows = Seq(Some(5L), Some(-7L), Some((1L << 62) | 123L),
      Some(999L), None).toDF("k")
      .select(col("k"), probe(col("k")).as("c"))
      .collect()
    val got = rows.map(r =>
      (if (r.isNullAt(0)) None else Some(r.getLong(0))) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(got(Some(5L)) === Some(50L))
    assert(got(Some(-7L)) === Some(3L))
    assert(got(Some((1L << 62) | 123L)) === Some(9L))
    assert(got(Some(999L)) === Some(0L))
    assert(got(None) === None) // null key -> null, the UnaryExpression rule
  }
}
