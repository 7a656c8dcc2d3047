package graft.sources

import java.sql.DriverManager

import org.scalatest.funsuite.AnyFunSuite

import graft.{EnaMain, SparkSpec}

/** Integration coverage for the JDBC side-input path (S6 cursor scan,
  * S7 fetchsize batching, S8 connection preflight) against a REAL
  * database — embedded Derby, which ships in Spark's own jar dir for
  * the Hive metastore, so the exact `spark.read.format("jdbc")` code
  * path that would hit the reference's MySQL
  * (mysql_database.py:92-117) executes end-to-end here: URL dialect
  * resolution, cursor open, fetchsize batching (2,500 rows crosses
  * the 1,000-row fetch boundary twice), schema projection, and the
  * range-partitioned parallel-cursor plan.
  */
class JdbcIdmappingSpec extends AnyFunSuite with SparkSpec {

  private lazy val dbUrl: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_derby")
    // keep derby.log out of the repo working dir
    System.setProperty("derby.system.home", dir.toString)
    val url = s"jdbc:derby:$dir/idmap;create=true"
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.executeUpdate(
        """CREATE TABLE idmapping (
             row_id BIGINT NOT NULL,
             foreign_id VARCHAR(64) NOT NULL,
             uniprot_id VARCHAR(64) NOT NULL)""")
      val ins = conn.prepareStatement(
        "INSERT INTO idmapping VALUES (?, ?, ?)")
      (0 until 2500).foreach { i =>
        ins.setLong(1, i.toLong)
        ins.setString(2, f"F$i%05d")
        ins.setString(3, f"P$i%05d")
        ins.addBatch()
        if (i % 500 == 499) ins.executeBatch()
      }
      ins.executeBatch()
    } finally conn.close()
    url
  }

  test("S6/S7: JDBC snapshot reads through the single-cursor path") {
    val df = EnaMain.readIdmapping(spark, dbUrl)
    assert(df.columns.toSeq === Seq("foreign_id", "uniprot_id"))
    val rows = df.collect().map(r => r.getString(0) -> r.getString(1))
    assert(rows.length === 2500)
    assert(rows.toMap.get("F00042").contains("P00042"))
    assert(rows.toMap.get("F02499").contains("P02499"))
  }

  test("S6: range-partitioned parallel cursors return the same relation") {
    val ranged = EnaMain.readIdmapping(spark, dbUrl,
      range = Some(EnaMain.JdbcRange(4, "row_id", 0L, 2500L)))
    assert(ranged.rdd.getNumPartitions === 4)
    // every partition pulls real rows — the bounds actually split the
    // scan instead of funnelling everything through cursor 0
    val perPartition = ranged.rdd
      .mapPartitions(it => Iterator(it.size)).collect()
    assert(perPartition.forall(_ > 0), perPartition.mkString(","))
    assert(ranged.count() === 2500)
    assert(ranged.select("foreign_id", "uniprot_id").collect().toSet ===
      EnaMain.readIdmapping(spark, dbUrl).collect().toSet)
  }

  test("S8: preflight probe reads one row, not the table") {
    val df = EnaMain.readIdmapping(spark, dbUrl)
    assert(df.limit(1).count() === 1L) // the exact main() preflight call
  }

  test("broadcast-regime probe stays bounded over a JDBC relation") {
    val df = EnaMain.readIdmapping(spark, dbUrl)
    assert(!EnaMain.chooseBroadcastRegime(df, maxRows = 100))
    assert(EnaMain.chooseBroadcastRegime(df, maxRows = 10000))
    assert(!EnaMain.chooseBroadcastRegime(df, maxRows = Int.MaxValue.toLong))
  }

  test("broadcast hint: a JDBC idmapping broadcasts into J1 only when hinted") {
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("jdbc_resolve")
    val gz = dir.resolve("wgs/public/jdb/J1.dat.gz")
    java.nio.file.Files.createDirectories(gz.getParent)
    val out = new java.util.zip.GZIPOutputStream(java.nio.file.Files.newOutputStream(gz))
    try out.write(
      """ID   JDBC01; SV 1; linear; genomic DNA; WGS; PRO; 1000 BP.
        |OC   Bacteria; Proteobacteria.
        |FT   CDS             1..100
        |FT                   /protein_id="F00042"
        |FT                   /protein_id="F02499"
        |FT   CDS             200..300
        |FT                   /protein_id="UNMAPPED.1"
        |FT                   /db_xref="UniProtKB/TrEMBL:U_FALL"
        |""".stripMargin.getBytes("UTF-8"))
    finally out.close()
    val loci = graft.embl.EnaPipeline.readLoci(spark, Seq(dir.toString))
    def resolve(hint: Boolean) = graft.embl.EnaPipeline.resolveIds(
      loci, EnaMain.readIdmapping(spark, dbUrl), broadcastIdMap = hint)
    // the idmapping is broadcast iff some broadcast join builds on
    // foreign_id (Derby reports the column names upper-case)
    def broadcastsJdbc(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.sparkPlan.collect { case j: BroadcastHashJoinExec => j }
        .exists { j =>
          val buildKeys = if (j.buildSide == BuildRight) j.rightKeys else j.leftKeys
          buildKeys.exists(_.references.exists(_.name.equalsIgnoreCase("foreign_id")))
        }
    // a JDBC relation reports no size, so only the hint broadcasts it;
    // unhinted, Catalyst may broadcast the small loci side instead
    val hinted = resolve(hint = true)
    assert(broadcastsJdbc(hinted), hinted.queryExecution.sparkPlan)
    val unhinted = resolve(hint = false)
    assert(!broadcastsJdbc(unhinted), unhinted.queryExecution.sparkPlan)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"ena_id", $"uniprot_id", $"locus_count").as[(String, String, Int)]
        .collect().toSeq.sorted
    val expected = Seq(("JDBC01", "P00042", 1), ("JDBC01", "P02499", 1),
      ("JDBC01", "U_FALL", 2))
    assert(rows(hinted) === expected)
    assert(rows(unhinted) === expected)
  }

  test("bad URL fails fast — at plan build, before any scan launches") {
    // schema resolution connects eagerly, so a bad URL/credential dies
    // here — even earlier than main()'s explicit S8 preflight probe
    intercept[Exception] {
      EnaMain.readIdmapping(spark,
        "jdbc:derby:/nonexistent/definitely/missing/db").limit(1).count()
    }
  }
}
