package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.embl.{EnaPipeline, SegMetrics}

/** CLI entry point for the ENA build pipeline — the engine's analog of
  * the reference's `ena_dask_tskmgr` console script
  * (reference pyproject.toml:23, dask_tskmgr.py:45-257).
  *
  * Usage (positional form):
  *   EnaMain <outDir> <idmappingSource> <enaRoot> [<enaRoot> ...]
  *
  * Usage (reference-compatible flag form, dask_tskmgr.py:80-91):
  *   EnaMain --db-config <ini> --db-name <db> --output-dir <dir>
  *           --ena-paths <root> [<root> ...] [--n-workers n]
  *
  * The flag form reads the reference's Windows-INI `[database]`
  * section (host/port/user/password — see [[DbConfig]]) and builds the
  * MySQL JDBC source from it, so a migrating user's config file works
  * unchanged; `--n-workers` maps to `local[n]`, and the dask-specific
  * flags (`--scheduler-file`, `--tskmgr-log-file`, `--local-scratch`)
  * are accepted and ignored — Spark owns scheduling and shuffle
  * scratch.
  *
  * `idmappingSource` is either a parquet path or a JDBC URL
  * (`jdbc:...`) — the reference's MySQL side input
  * (mysql_database.py:92-117). For JDBC, credentials come from
  * ENA_DB_USER / ENA_DB_PASSWORD (or the INI in flag form) and the
  * table name from ENA_IDMAPPING_TABLE (default `idmapping`); rows
  * stream with fetchsize=1000, matching the reference's cursor
  * batching (S7).
  *
  * Env toggles: ENA_SINGLE_FILE=1 writes one globally ordered TSV
  * (the reference's `ena.tab` concat, S12/O2) instead of the parallel
  * division-partitioned layout.
  *
  * Reads gzipped EMBL flat files under the given roots (recursive,
  * `*.dat.gz`, sequence-tree division prune applied), resolves protein
  * ids against the idmapping relation, writes the 7-column headerless
  * TSV, and logs the segmentation counters (A5). The id-resolution
  * regime is not a setting: [[chooseBroadcastRegime]] picks broadcast
  * for mappings within 1 M rows and 256 MB, shuffle otherwise.
  */
object EnaMain {

  /** Range-bounded parallel-cursor spec for the JDBC side input: split
    * the snapshot read into `numPartitions` cursors, each bounded on
    * the numeric `column` — at real UniProt scale (~1e9 rows) a single
    * cursor IS the scan bottleneck.
    */
  final case class JdbcRange(
      numPartitions: Int, column: String, lower: Long, upper: Long)

  private def envJdbcRange: Option[JdbcRange] =
    (sys.env.get("ENA_JDBC_PARTITIONS"),
        sys.env.get("ENA_JDBC_PARTITION_COLUMN")) match {
      case (Some(n), Some(c)) => Some(JdbcRange(n.toInt, c,
        sys.env.getOrElse("ENA_JDBC_LOWER", "0").toLong,
        sys.env.getOrElse("ENA_JDBC_UPPER", "1000000000").toLong))
      case _ => None
    }

  /** S6/S7: idmapping side input from parquet snapshot or JDBC.
    * Explicit credentials (the `--db-config` path) win over the
    * ENA_DB_USER / ENA_DB_PASSWORD env fallbacks; an explicit `range`
    * wins over the ENA_JDBC_* env spec (main() passes neither and
    * relies on env).
    */
  def readIdmapping(
      spark: SparkSession,
      source: String,
      user: Option[String] = None,
      password: Option[String] = None,
      range: Option[JdbcRange] = None): DataFrame =
    if (source.startsWith("jdbc:")) {
      val base = spark.read.format("jdbc")
        .option("url", source)
        .option("dbtable", sys.env.getOrElse("ENA_IDMAPPING_TABLE", "idmapping"))
        .option("fetchsize", "1000") // S7: cursor batch size (mysql_database.py:50)
      val reader = range.orElse(envJdbcRange).fold(base) { r =>
        base.option("numPartitions", r.numPartitions)
          .option("partitionColumn", r.column)
          .option("lowerBound", r.lower)
          .option("upperBound", r.upper)
      }
      val withUser = user.orElse(sys.env.get("ENA_DB_USER"))
        .fold(reader)(u => reader.option("user", u))
      val withPass = password.orElse(sys.env.get("ENA_DB_PASSWORD"))
        .fold(withUser)(p => withUser.option("password", p))
      withPass.load().select(col("foreign_id"), col("uniprot_id"))
    } else {
      spark.read.parquet(source).select(col("foreign_id"), col("uniprot_id"))
    }

  /** Bounded broadcast-regime probe: decide broadcast vs shuffle by
    * reading AT MOST `maxRows`+1 rows. The former `idmapping.count()`
    * made a V1 JDBC relation scan the whole side table — at true
    * UniProt scale (~1e9 rows) a full read just to pick the join
    * strategy. `limit(n).count()` plans a per-partition LocalLimit, so
    * each cursor stops after n rows (with fetchsize batching, only ~n
    * rows ever cross the wire).
    *
    * BYTE cap as well as row cap: a row cap alone lets 10⁶ rows of
    * pathologically wide ids bloat the driver-built map, so the same
    * bounded probe also sums payload bytes (`octet_length` of both id
    * strings) and charges a per-entry JVM overhead (string headers,
    * map-entry boxing). Either cap exceeded → shuffle regime.
    */
  def chooseBroadcastRegime(
      idmapping: DataFrame,
      maxRows: Long,
      maxBytes: Long = 256L << 20): Boolean =
    if (graft.Regimes.forceDistributed) {
      // oracle runs certifying the 100 TB plan: always shuffle-resolve
      false
    } else if (maxRows >= Int.MaxValue) {
      // limit() can't probe past Int.MaxValue, and a threshold that
      // size means billions of driver-collected rows anyway — take the
      // regime that is safe regardless of the true count
      false
    } else {
      import org.apache.spark.sql.functions.{coalesce, count, lit, octet_length, sum}
      val row = idmapping.limit(maxRows.toInt + 1)
        .agg(
          count(lit(1)).as("n"),
          coalesce(sum(
            octet_length(col("foreign_id")).cast("long") +
              octet_length(col("uniprot_id")).cast("long")), lit(0L)).as("payload"))
        .head()
      val n = row.getLong(0)
      // ~2x for UTF-16 in-heap strings + ~48B/entry of headers and refs
      val estBytes = row.getLong(1) * 2 + n * 48
      n <= maxRows && estBytes <= maxBytes
    }

  /** Resolved launch parameters from either argument form. */
  final case class Launch(
      outDir: String,
      idmappingSource: String,
      roots: Seq[String],
      user: Option[String],
      password: Option[String],
      nWorkers: Option[Int])

  /** Both CLI forms → one launch spec (flag form iff args lead with a
    * flag). Separated from main() so the spec is unit-testable without
    * a SparkSession.
    */
  def resolveArgs(args: Seq[String]): Launch =
    if (args.headOption.exists(_.startsWith("-"))) {
      val cli = DbConfig.parseCli(args)
      def req[A](v: Option[A], flag: String): A = v.getOrElse(
        throw new IllegalArgumentException(s"$flag is required"))
      val conf = DbConfig.load(req(cli.dbConfig, "--db-config"))
      val dbName = req(cli.dbName, "--db-name")
      require(cli.enaPaths.nonEmpty, "--ena-paths requires at least one path")
      Launch(req(cli.outputDir, "--output-dir"), conf.jdbcUrl(dbName),
        cli.enaPaths, Some(conf.user), Some(conf.password), cli.nWorkers)
    } else {
      require(args.length >= 3,
        "usage: EnaMain <outDir> <idmappingSource> <enaRoot> [<enaRoot>...] | " +
          "EnaMain --db-config <ini> --db-name <db> --output-dir <dir> --ena-paths <root>...")
      Launch(args(0), args(1), args.drop(2).toSeq, None, None, None)
    }

  def main(args: Array[String]): Unit = {
    val launch = resolveArgs(args.toSeq)
    val outDir = launch.outDir
    val idmappingSource = launch.idmappingSource
    val roots = launch.roots

    val cpus = launch.nWorkers.map(_.toString)
      .getOrElse(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .appName("ena-build")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // Java serialization of the broadcast id-map measured 7x slower
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val idmapping =
      readIdmapping(spark, idmappingSource, launch.user, launch.password)
    // S8 connection preflight (dask_tskmgr.py:122-126): fail fast on bad
    // credentials/URL before the multi-hour scan launches
    if (idmappingSource.startsWith("jdbc:")) idmapping.limit(1).count()

    val metrics = Some(SegMetrics(spark.sparkContext))
    // regime selection: a driver-collected broadcast map only pays off
    // while it is small (the collect + map build is driver-serial);
    // past the caps the declarative shuffle join wins
    val broadcastIdMap =
      chooseBroadcastRegime(idmapping, maxRows = 1000000L, maxBytes = 256L << 20)
    val t0 = System.nanoTime()
    val enaTab = EnaPipeline.enaTab(spark, roots, idmapping,
      broadcastIdMap = broadcastIdMap, metrics = metrics)
    val tPlan = System.nanoTime()
    if (sys.env.get("ENA_SINGLE_FILE").contains("1"))
      EnaPipeline.writeTsvConcat(enaTab, outDir)
    else
      EnaPipeline.writeTsv(enaTab, outDir)
    val tWrite = System.nanoTime()
    println(f"[ena] plan_build_s=${(tPlan - t0) / 1e9}%.1f " +
      f"write_s=${(tWrite - tPlan) / 1e9}%.1f")

    metrics.foreach { m =>
      println(s"[ena] tombstoned_records=${m.tombstonedRecords.value} " +
        s"taxonomy_dropped=${m.taxonomyDropped.value} " +
        s"dropped_cds_blocks=${m.droppedCdsBlocks.value} " +
        s"emitted_loci=${m.emittedLoci.value}")
    }
    spark.stop()
  }
}
