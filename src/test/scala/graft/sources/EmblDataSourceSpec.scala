package graft.sources

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.file.{Files, Path}
import java.util.zip.GZIPOutputStream

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.embl.{EmblSegmenter, EnaPipeline, FlagshipFixture}

class EmblDataSourceSpec extends AnyFunSuite with SparkSpec {

  private lazy val root = FlagshipFixture.ensureFixture().toString

  private def writeGz(path: Path, content: String): Unit = {
    Files.createDirectories(path.getParent)
    val w = new BufferedWriter(new OutputStreamWriter(
      new GZIPOutputStream(new FileOutputStream(path.toFile)), "UTF-8"))
    try w.write(content) finally w.close()
  }

  /** One live record with one CDS at `start..start+99`. */
  private def record(id: String, start: Int): String =
    s"""ID   $id; SV 1; linear; genomic DNA; WGS; PRO; 100000 BP.
       |OC   Bacteria; Proteobacteria.
       |FT   CDS             $start..${start + 99}
       |FT                   /protein_id="$id.1"
       |""".stripMargin

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach { case (k, o) => o.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  private def messages(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))

  private def loci(df: DataFrame): Set[(String, String, Int, Long, Long)] =
    df.select("file_path", "ena_id", "locus_idx", "start", "end").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getLong(3), r.getLong(4)))
      .toSet

  /** Twelve one-record files, plus files the listing must skip. */
  private lazy val smallFiles: Path = {
    val dir = Files.createTempDirectory("embl_small_files")
    (0 until 12).foreach { i =>
      writeGz(dir.resolve(f"wgs/public/pk/F$i%02d.dat.gz"), record(f"PK$i%02d", 10 + i))
    }
    writeGz(dir.resolve("wgs/public/_tmp/T1.dat.gz"), record("HIDDEN1", 10))
    writeGz(dir.resolve("wgs/public/pk/.x.dat.gz"), record("DOT1", 10))
    dir
  }

  test("format(\"embl\") matches EnaPipeline.readLoci") {
    val viaSource = spark.read.format("embl").load(root)
      .select("ena_id", "locus_idx", "start", "end")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSet
    val viaPipeline = EnaPipeline.readLoci(spark, Seq(root))
      .collect().map(l => (l.ena_id, l.locus_idx, l.start, l.end)).toSet
    assert(viaSource === viaPipeline)
    assert(viaSource.nonEmpty)
  }

  test("division prune happens at file listing (S3 as partition pruning)") {
    val pruned = spark.read.format("embl").load(root)
    val unpruned = spark.read.format("embl")
      .option("divisionPrune", "false").load(root)
    val prunedIds = pruned.select("ena_id").distinct()
      .collect().map(_.getString(0)).toSet
    val allIds = unpruned.select("ena_id").distinct()
      .collect().map(_.getString(0)).toSet
    assert(!prunedIds.contains("HUM01"))
    assert(allIds.contains("HUM01"))
    // one partition per gzip file: 2 pruned, 3 unpruned
    assert(pruned.rdd.getNumPartitions === 2)
    assert(unpruned.rdd.getNumPartitions === 3)
  }

  test("column pruning pushes into the reader") {
    val df = spark.read.format("embl").load(root).select("ena_id")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("columns=ena_id"), s"scan should list pruned columns:\n$plan")
    assert(df.count() > 0)
  }

  test("file_path filters prune whole files at listing time") {
    val df = spark.read.format("embl")
      .option("divisionPrune", "false").load(root)
      .filter(col("file_path").contains("wgs"))
    assert(df.rdd.getNumPartitions === 1) // 1 of 3 files survives listing
    val ids = df.select("ena_id").distinct().collect().map(_.getString(0)).toSet
    assert(ids === Set("WGS01"))
  }

  test("multi-path load decodes the JSON-encoded paths option") {
    // load(p1, p2) ships paths as a JSON array string; split(",") used
    // to mangle it into bracket-wrapped nonexistent paths -> empty scan
    val single = spark.read.format("embl").load(root).count()
    val doubled = spark.read.format("embl").load(root, root).count()
    assert(single > 0)
    assert(doubled === 2 * single) // same tree listed twice
    assert(EmblScanBuilder.parsePaths("""["/a/b","/c d"]""") === Seq("/a/b", "/c d"))
    assert(EmblScanBuilder.parsePaths("/a,/b") === Seq("/a", "/b"))
  }

  test("nonexistent root fails loudly instead of returning empty") {
    val e = intercept[Exception] {
      spark.read.format("embl").load("/nonexistent/embl/tree").count()
    }
    assert(messages(e).exists(_.contains("does not exist")), e.toString)
  }

  test("reader factory ships the session hadoop conf to executors") {
    // a blank Configuration on the reader side would drop session
    // spark.hadoop.* settings (S3 creds, custom FS impls)
    spark.sparkContext.hadoopConfiguration.set("graft.test.marker", "propagated")
    val scan = new EmblScan(Seq(root), divisionPrune = true, EmblDataSource.Schema)
    val factory = scan.createReaderFactory().asInstanceOf[EmblReaderFactory]
    assert(factory.conf.value.get("graft.test.marker") === "propagated")
  }

  test("usable from pure SQL via CREATE TABLE ... USING embl") {
    spark.sql("DROP TABLE IF EXISTS ena_sql")
    try {
      spark.sql(s"CREATE TABLE ena_sql USING embl OPTIONS (path '$root')")
      val n = spark.sql(
        "SELECT count(*) FROM ena_sql WHERE chr_struct = 0").head().getLong(0)
      assert(n === 2) // the two CIRC01 loci
    } finally spark.sql("DROP TABLE IF EXISTS ena_sql")
  }

  test("many small files pack into fewer partitions, by FilePartition's rule") {
    val open = 1000L
    val maxBytes = 4000L
    withConf("spark.sql.files.openCostInBytes" -> open.toString,
        "spark.sql.files.maxPartitionBytes" -> maxBytes.toString,
        "spark.sql.files.minPartitionNum" -> "1") {
      val df = spark.read.format("embl").load(smallFiles.toString)
      // Spark's rule, restated: each file costs its length plus the
      // open cost; a partition closes before the file that would push
      // it past min(maxPartitionBytes, max(openCost, total / minPartitionNum))
      val sizes = Files.walk(smallFiles.resolve("wgs/public/pk")).iterator().asScala
        .filter(p => p.getFileName.toString.matches("F\\d+\\.dat\\.gz"))
        .map(Files.size).toSeq.sorted.reverse
      val maxSplit = math.min(maxBytes, math.max(open, sizes.map(_ + open).sum))
      assert(sizes.length === 12)
      val (closed, _) = sizes.tail.foldLeft((0, sizes.head + open)) {
        case ((n, cur), len) =>
          if (cur + len > maxSplit) (n + 1, len + open) else (n, cur + len + open)
      }
      val expected = closed + 1
      assert(expected < sizes.length)
      assert(df.rdd.getNumPartitions === expected)
      assert(df.count() === 12)
    }
  }

  test("packed read equals a one-file-per-partition read") {
    def read(open: String) = withConf(
        "spark.sql.files.openCostInBytes" -> open,
        "spark.sql.files.maxPartitionBytes" -> "4000",
        "spark.sql.files.minPartitionNum" -> "1") {
      val df = spark.read.format("embl").load(smallFiles.toString)
      (df.rdd.getNumPartitions, loci(df))
    }
    val (packedParts, packed) = read("1000")
    // open cost = max partition bytes: every file closes its partition
    val (singleParts, single) = read("4000")
    assert(singleParts === 12)
    assert(packedParts < singleParts)
    assert(packed === single)
    assert(packed.map(_._2) === (0 until 12).map(i => f"PK$i%02d").toSet)
  }

  test("files under _-prefixed directories and .-prefixed files are not read") {
    val ids = EnaPipeline.readLoci(spark, Seq(smallFiles.toString))
      .collect().map(_.ena_id).toSet
    assert(ids.size === 12)
    assert(!ids.contains("HIDDEN1") && !ids.contains("DOT1"))
  }

  /** A good file and a gzip cut off partway through its records. */
  private lazy val corruptTree: Path = {
    val dir = Files.createTempDirectory("embl_corrupt")
    writeGz(dir.resolve("wgs/public/ok/G.dat.gz"),
      record("GOOD1", 10) + record("GOOD2", 20))
    val bad = dir.resolve("wgs/public/bad/T.dat.gz")
    writeGz(bad, (0 until 400).map(i => record(f"TR$i%03d", 1 + i)).mkString)
    val bytes = Files.readAllBytes(bad)
    Files.write(bad, java.util.Arrays.copyOf(bytes, bytes.length / 2))
    dir
  }

  test("a truncated gzip fails the read with an error naming the file") {
    val e = intercept[Exception] {
      spark.read.format("embl").load(corruptTree.toString).collect()
    }
    assert(messages(e).exists(_.contains("T.dat.gz")), e.toString)
  }

  test("ignoreCorruptFiles keeps good files and the complete records before the cut") {
    withConf("spark.sql.files.ignoreCorruptFiles" -> "true") {
      val got = loci(spark.read.format("embl").load(corruptTree.toString))
      val good = got.filter(_._2.startsWith("GOOD")).map(l => (l._2, l._4))
      assert(good === Set(("GOOD1", 10L), ("GOOD2", 20L)))
      // the truncated file yields a prefix of its records, each whole
      val cut = got.filter(_._2.startsWith("TR")).toSeq.sortBy(_._2)
      assert(cut.nonEmpty && cut.length < 400)
      assert(cut.map(_._2) === (0 until cut.length).map(i => f"TR$i%03d"))
      assert(cut.forall { case (_, id, idx, s, e) =>
        idx == 1 && s == id.drop(2).toInt + 1 && e == s + 99 })
    }
    // a file that is not gzip at all yields nothing
    val notGz = Files.createTempDirectory("embl_not_gzip")
    writeGz(notGz.resolve("wgs/public/ok/G.dat.gz"), record("GOOD1", 10))
    Files.createDirectories(notGz.resolve("wgs/public/bad"))
    Files.write(notGz.resolve("wgs/public/bad/Z.dat.gz"), record("PLAIN1", 10).getBytes("UTF-8"))
    withConf("spark.sql.files.ignoreCorruptFiles" -> "true") {
      assert(loci(spark.read.format("embl").load(notGz.toString)).map(_._2) === Set("GOOD1"))
    }
    // the record in flight when a file is cut short is dropped
    val rows = Iterator(("f", "ID   A1; SV 1; linear; genomic DNA; WGS; PRO; 900 BP."),
      ("f", "FT   CDS             1..100"), ("f", null),
      ("g", "ID   B1; SV 1; linear; genomic DNA; WGS; PRO; 900 BP."),
      ("g", "FT   CDS             5..50"))
    assert(EmblSegmenter.segment(rows).map(_.ena_id).toSeq === Seq("B1"))
  }

  test("a file removed after listing fails the read unless ignoreMissingFiles") {
    def readAfterDelete(conf: (String, String)*): Set[String] = {
      val dir = Files.createTempDirectory("embl_missing")
      writeGz(dir.resolve("wgs/public/a/A.dat.gz"), record("KEEP1", 10))
      writeGz(dir.resolve("wgs/public/b/B.dat.gz"), record("GONE1", 10))
      withConf(conf: _*) {
        val rdd = spark.read.format("embl").load(dir.toString).select("ena_id").rdd
        assert(rdd.getNumPartitions > 0) // lists both files
        Files.delete(dir.resolve("wgs/public/b/B.dat.gz"))
        rdd.map(_.getString(0)).collect().toSet
      }
    }
    assert(readAfterDelete("spark.sql.files.ignoreMissingFiles" -> "true") === Set("KEEP1"))
    // as in FileScanRDD, ignoring corrupt files does not ignore missing ones
    Seq(Seq.empty, Seq("spark.sql.files.ignoreCorruptFiles" -> "true")).foreach { conf =>
      val e = intercept[Exception](readAfterDelete(conf: _*))
      assert(messages(e).exists(_.contains("B.dat.gz")), e.toString)
    }
  }
}
