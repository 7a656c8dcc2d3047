package graft

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
}
