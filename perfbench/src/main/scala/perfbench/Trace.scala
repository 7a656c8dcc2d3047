package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Task-level totals of the jobs run under one job group. */
final class LayerStats {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var inputRecords = 0L
  var inputBytes = 0L

  def toJson: String =
    s"""{"jobs":$jobs,"tasks":$tasks,"executor_run_ms":$runMs,"gc_ms":$gcMs,""" +
      s""""shuffle_write_bytes":$shuffleWriteBytes,"shuffle_read_bytes":$shuffleReadBytes,""" +
      s""""input_records":$inputRecords,"input_bytes":$inputBytes}"""
}

/** Attributes jobs, tasks, GC, shuffle and input bytes to the job group
  * that was current when each job started. Attached only in the traced
  * run. */
final class LayerListener extends SparkListener {
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val byGroup = mutable.LinkedHashMap.empty[String, LayerStats]

  private def stats(g: String): LayerStats = byGroup.getOrElseUpdate(g, new LayerStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(s => stageGroup.put(s, g))
    synchronized { stats(g).jobs += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    synchronized {
      val s = stats(stageGroup.getOrDefault(e.stageId, ""))
      s.tasks += 1
      if (m != null) {
        s.runMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.inputRecords += m.inputMetrics.recordsRead
        s.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  def get(group: String): LayerStats = synchronized(byGroup.getOrElse(group, new LayerStats))

  /** Totals over every group whose name starts with `prefix`. */
  def sum(prefix: String): LayerStats = synchronized {
    val t = new LayerStats
    byGroup.foreach { case (g, s) =>
      if (g.startsWith(prefix)) {
        t.jobs += s.jobs; t.tasks += s.tasks; t.runMs += s.runMs; t.gcMs += s.gcMs
        t.shuffleWriteBytes += s.shuffleWriteBytes; t.shuffleReadBytes += s.shuffleReadBytes
        t.inputRecords += s.inputRecords; t.inputBytes += s.inputBytes
      }
    }
    t
  }

  def toJson: String = synchronized {
    byGroup.map { case (g, s) => Json.str(g) + ":" + s.toJson }.mkString("{", ",", "}")
  }
}

/** A timed region: name, start and end (ns since the tracer started)
  * and the enclosing span's id (-1 at top level). */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  def toJson: String =
    s"""{"id":$id,"name":${Json.str(name)},"parent":$parent,"start_ns":$startNs,"end_ns":$endNs}"""
}

/** Spans around the benchmark's calls into each layer. With a listener,
  * every span also names the Spark job group, and closing it drains the
  * listener bus so the group's counts are complete when read. */
final class Tracer(sc: SparkContext, listener: Option[LayerListener]) {
  private val origin = System.nanoTime()
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String)]
  private var nextId = 0

  def span[A](name: String)(body: => A): (A, Span) = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    stack = (id, name) :: stack
    if (listener.isDefined) sc.setJobGroup(name, name)
    val t0 = System.nanoTime()
    val out =
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        if (listener.isDefined) {
          org.apache.spark.BenchBus.drain(sc)
          stack.headOption.fold(sc.clearJobGroup())(p => sc.setJobGroup(p._2, p._2))
        }
        done += Span(id, name, parent, t0 - origin, t1 - origin)
      }
    (out, done.last)
  }

  /** Seconds spent in `body`. */
  def time(name: String)(body: => Unit): Double = span(name)(body)._2.seconds

  def spansJson: String = done.map(_.toJson).mkString("[", ",", "]")
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else java.math.BigDecimal.valueOf(v).toPlainString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
