package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test JVM (forked by sbt). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", // keep saveAsTable out of the repo
        java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
      .getOrCreate()
    graft.functions.GraftFunctions.ensureRegistered(s)
    s
  }
}

trait SparkSpec {
  lazy val spark: SparkSession = TestSpark.spark

  /** Runs `body` with [[graft.Regimes.forceDistributed]] on, so every
    * dual-regime operator takes its distributed form. */
  def forced[A](body: => A): A = {
    sys.props("spark.graft.forceDistributed") = "true"
    try body finally sys.props.remove("spark.graft.forceDistributed")
  }

  /** `body`'s result and the number of Spark jobs it started, counted
    * by a listener on a job group of its own. */
  def countingJobs[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"measured-${System.nanoTime()}"
    val sentinel = group + "-sentinel"
    val jobs = new AtomicInteger(0)
    val sentinelJobs = ConcurrentHashMap.newKeySet[Int]()
    val sentinelDone = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`sentinel`) => sentinelJobs.add(j.jobId)
          case _ =>
        }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        if (sentinelJobs.contains(j.jobId)) sentinelDone.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      val out = try body finally sc.clearJobGroup()
      // the bus is ordered: once the sentinel's end is seen, every
      // event of the measured body has been seen too
      sc.setJobGroup(sentinel, "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      require(sentinelDone.await(30, TimeUnit.SECONDS), "listener bus did not drain")
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
