package graft.queries

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-keyed memo of base-table DataFrames. A DataFrame is an
  * immutable logical plan, so the harness can hand the SAME relation to
  * every query instead of re-running `spark.read.parquet` per query —
  * each fresh read re-lists the directory and re-reads parquet footers
  * for schema inference, a fixed per-query cost that the 113-query
  * bench pays hundreds of times for identical answers. Keyed by
  * (session, path) so test suites with multiple sessions never share a
  * relation across sessions. The relation is the plain parquet scan;
  * `Bench` spreads the single-row-group test tables over several files
  * once per run, before any query, rather than adding an exchange here.
  */
private[queries] object Tables {
  private val cache = new ConcurrentHashMap[(SparkSession, String), DataFrame]()
  private val watched =
    ConcurrentHashMap.newKeySet[org.apache.spark.SparkContext]()

  /** Evict a context's entries when it ends, so long-lived multi-session
    * JVMs (test suites) don't pin stopped sessions and their plans for
    * the process lifetime. Listener registration is idempotent per
    * context; a stopped-but-shared-context session (`newSession`) stays
    * memoized until its context ends, which is the memo's point.
    */
  private def watch(sess: SparkSession): Unit = {
    val sc = sess.sparkContext
    if (watched.add(sc)) {
      sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
          evict(sc)
      })
    }
  }

  private[queries] def evict(sc: org.apache.spark.SparkContext): Unit = {
    cache.keySet.removeIf(_._1.sparkContext eq sc)
    watched.remove(sc)
  }

  private[queries] def cachedEntriesFor(s: SparkSession): Int = {
    var n = 0
    cache.keySet.forEach(k => if (k._1 eq s) n += 1)
    n
  }

  def parquet(s: SparkSession, path: String): DataFrame = {
    watch(s)
    cache.computeIfAbsent((s, path), { case (sess, p) => sess.read.parquet(p) })
  }
}
