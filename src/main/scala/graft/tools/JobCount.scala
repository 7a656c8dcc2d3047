// Scratch diagnostic: per-query Spark JOB counts and per-job times for
// the bench laggards — the fixed ~0.05-0.1 s driver floor multiplies
// by the job count, so collapsing jobs is the lever the per-query
// medians respond to. Run: sbt -batch "runMain graft.JobCount q72_... q101_..."
package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

object JobCount {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master(ToolSpark.master)
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    @volatile var jobs = List.empty[(Int, Long)]
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        starts.put(j.jobId, System.nanoTime())
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val t0 = Option(starts.get(j.jobId)).getOrElse(0L)
        jobs = (j.jobId, System.nanoTime() - t0) :: jobs
      }
    })

    val names = if (args.nonEmpty) args.toSeq else Seq(
      "q72_curation_flagship", "q54_dedup_pipeline", "q101_kmeans_step",
      "q100_release_gate", "q116_importance_select", "q49_approx_sketches",
      "q50_exact_percentiles", "q118_centroid_outliers", "q70_sequence_packing",
      "q96_retention_cohorts", "q44_salted_join", "q43_ann_ivf")
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      // warm
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      Thread.sleep(200)
      jobs = Nil
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      val times = jobs.sortBy(_._1).map(_._2 / 1e9)
      println(f"JOBCOUNT $n wall=$wall%.2f n_jobs=${times.size} " +
        s"jobs=[${times.map(t => f"$t%.2f").mkString(",")}]")
      graft.operators.Checkpoints.releaseLeaked(spark)
    }
    spark.stop()
  }
}
