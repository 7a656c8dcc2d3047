package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LogicalRDD

/** Lifecycle control for `localCheckpoint` blocks.
  *
  * `Dataset.localCheckpoint()` pins its materialized rows as persisted
  * RDD blocks for the LIFETIME of the SparkContext — there is no
  * Dataset-level API to release them (`Dataset.unpersist` only talks to
  * the CacheManager, which never heard of them). Iterative operators
  * that checkpoint per round (connected components, the curation
  * flagship's stage keep-lists) therefore leak executor memory round
  * over round unless the superseded round is explicitly unpersisted —
  * at 100 TB that is N_rounds × |labels| of pinned blocks squeezing
  * the execution-memory pool for every later stage.
  *
  * [[release]] frees exactly one checkpointed frame (pattern-matching
  * the `LogicalRDD` scan its plan was replaced with); [[releaseLeaked]]
  * is the harness-level broom: drop EVERY persistent RDD plus the
  * CacheManager's entries, for use BETWEEN independent queries in
  * Bench/Verify where nothing may legitimately survive the query that
  * created it.
  */
object Checkpoints {

  /** Fused materialize-and-probe: fully drains every partition of
    * `df`'s physical RDD — completing lazy `localCheckpoint` blocks
    * exactly like `count()` does — while also shipping each partition's
    * first `cap / numPartitions + 1` rows back with its count, so a
    * bounded, evenly spread frame needs no second job to collect.
    *
    * Returns `(n, rows)`: `rows` holds every row of the frame (external
    * `Row`s in `df.schema`) iff `n <= cap`; for an oversized frame
    * `rows` is empty and only `n` is meaningful. When `n <= cap` but
    * some partitions held more than their share, a second job fetches
    * just those partitions. Driver transfer is therefore bounded by
    * about `cap + numPartitions` rows in either case, whatever the
    * partition count — an oversized frame ships counts and short
    * prefixes, never its bulk.
    */
  def countAndCollect(df: DataFrame, cap: Long)
      : (Long, Array[org.apache.spark.sql.Row]) = {
    val schema = df.schema
    val rdd = df.queryExecution.toRdd
    val sc = df.sparkSession.sparkContext
    val share = cap / math.max(1, rdd.getNumPartitions) + 1
    val parts = sc.runJob(rdd, (it: Iterator[InternalRow]) => {
      val buf = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
      var n = 0L
      while (it.hasNext) {
        val r = it.next() // rows are buffer-backed and reused: copy
        if (n < share) buf += r.copy()
        n += 1L
      }
      (n, buf.toArray)
    })
    val n = parts.iterator.map(_._1).sum
    if (n > cap) return (n, Array.empty)
    val over = parts.indices.filter(i => parts(i)._1 > parts(i)._2.length)
    val refetched =
      if (over.isEmpty) Map.empty[Int, Array[InternalRow]]
      else over.zip(sc.runJob(rdd,
        (it: Iterator[InternalRow]) => it.map(_.copy()).toArray, over)).toMap
    val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToScalaConverter(schema)
    (n, parts.indices.iterator
      .flatMap(i => refetched.getOrElse(i, parts(i)._2))
      .map(r => conv(r).asInstanceOf[org.apache.spark.sql.Row]).toArray)
  }

  /** Unpersist the pinned blocks behind a `localCheckpoint`ed frame.
    * No-op for frames that aren't checkpoint scans. Non-blocking: the
    * caller never waits on block eviction.
    */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }
      .foreach(_.unpersist(blocking = false))

  /** Drop every persistent RDD and cached plan in the session — the
    * between-queries broom for benchmark/verify harnesses. Without it,
    * checkpoint blocks from q61/q72 stay pinned for the rest of the
    * suite and every later query runs under their GC pressure.
    */
  def releaseLeaked(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
  }
}
