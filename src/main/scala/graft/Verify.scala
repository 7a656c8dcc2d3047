package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // see Bench: let bytesPerCore, not the 4 MiB open-cost floor, size
      // file splits — small-SF tables otherwise scan as 1-3 partitions.
      // NO fan-out/layout rewrite here: correctness runs keep the exact
      // r6-proven read path (aggregation order stays stable vs the
      // oracle; Verify wall time isn't graded).
      .config("spark.sql.files.openCostInBytes", "65536")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.ensureRegistered(spark)
    // SPARK_GRAFT_FORCE_DISTRIBUTED=1 pins every dual-regime operator
    // to its large-scale form (graft.Regimes), so this same dump +
    // DuckDB compare hash-certifies the 100 TB plans, run alongside
    // the default-regime gate.
    if (Regimes.forceDistributed)
      System.err.println(
        "[verify] FORCED DISTRIBUTED REGIMES: bounded driver collects " +
          "(InSet barriers, gram-set and LM count maps, union-find, " +
          "driver centrality and BPE), single-window ranks, literal " +
          "bounds and file-byte fast paths disabled")
    new java.io.File(outDir).mkdirs()
    // dev-loop filter: SPARK_GRAFT_ONLY=q30_x,q31_y runs a subset
    // (the driver sets nothing, so its runs always dump everything)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // queries are independent: blocks a query checkpointed (q61/q72)
      // must not stay pinned while the remaining ~70 queries run
      graft.operators.Checkpoints.releaseLeaked(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
