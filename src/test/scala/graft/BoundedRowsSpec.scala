package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Checkpoints

/** [[Regimes.boundedRows]], the one small-or-distributed decision of
  * the operators whose small form collects to the driver: which side it
  * returns, which checkpoint blocks it leaves behind, and that a
  * returned checkpoint is filled so the distributed form never re-runs
  * the input plan.
  */
class BoundedRowsSpec extends AnyFunSuite with SparkSpec {

  private def persistent: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def rowsOf(e: Either[DataFrame, Array[Row]]): Array[Row] =
    e.fold(_ => fail("expected the collected rows"), identity)

  private def checkpointOf(e: Either[DataFrame, Array[Row]]): DataFrame =
    e.fold(identity, _ => fail("expected the checkpoint"))

  /** 100 ids over 4 partitions, counting how often a row is computed. */
  private def counted(): (DataFrame, org.apache.spark.util.LongAccumulator) = {
    val s = spark
    import s.implicits._
    val evals = s.sparkContext.longAccumulator
    (s.range(0, 100, 1, 4).as[Long].map { x => evals.add(1); x }.toDF("id"), evals)
  }

  test("bounded input returns its rows and leaves no persistent RDD behind") {
    val (df, _) = counted()
    val before = persistent
    val rows = rowsOf(Regimes.boundedRows(df, 100))
    assert(rows.map(_.getLong(0)).sorted.toSeq === (0L until 100L))
    assert(persistent === before)
  }

  test("over the row cap: a filled checkpoint, read without re-running the input") {
    val (df, evals) = counted()
    val ck = checkpointOf(Regimes.boundedRows(df, 99))
    assert(evals.value === 100L)
    assert(ck.collect().map(_.getLong(0)).sorted.toSeq === (0L until 100L))
    assert(evals.value === 100L)
    Checkpoints.release(ck)
  }

  test("under the row cap but over the byte cap: the filled checkpoint") {
    val (df, evals) = counted()
    val ck = checkpointOf(Regimes.boundedRows(df, 1000, maxBytes = 99, rowBytes = _ => 1L))
    assert(evals.value === 100L)
    assert(ck.count() === 100L)
    assert(evals.value === 100L)
    Checkpoints.release(ck)
    // at the byte cap the rows still come back
    assert(rowsOf(Regimes.boundedRows(counted()._1, 1000, 100, _ => 1L)).length === 100)
  }

  test("forced distributed regime or a zero row cap: no job runs") {
    val (df, evals) = counted()
    val ((viaFlag, viaCap), jobs) = countingJobs {
      (forced { Regimes.boundedRows(df, 1000) }, Regimes.boundedRows(df, 0))
    }
    assert(jobs === 0)
    assert(evals.value === 0L)
    Seq(viaFlag, viaCap).map(checkpointOf).foreach(Checkpoints.release)
  }

  test("a frame read from an upstream checkpoint keeps that checkpoint's blocks") {
    val up = spark.range(0, 100, 1, 4).toDF("id").localCheckpoint()
    val upRdd = up.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }.head
    def cachedParts = spark.sparkContext.getRDDStorageInfo
      .find(_.id == upRdd).map(_.numCachedPartitions).getOrElse(0)
    assert(cachedParts === 4)
    val before = persistent
    val rows = rowsOf(Regimes.boundedRows(up.filter(col("id") % 2 === 0), 100))
    assert(rows.length === 50)
    assert(persistent === before)
    assert(cachedParts === 4)
    Checkpoints.release(up)
  }
}
