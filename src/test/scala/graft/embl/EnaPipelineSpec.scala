package graft.embl

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Golden end-to-end test of the ENA pipeline over synthetic gzipped
  * EMBL fixtures (schema per FIXTURES.md §1), asserted row-for-row
  * against hand-computed expected output (reference semantics:
  * parse_embl.py:444-570 + 196-255).
  */
class EnaPipelineSpec extends AnyFunSuite with SparkSpec {

  private def writeGz(path: Path, content: String): Unit =
    FlagshipFixture.writeGz(path, content)

  private lazy val root: Path = {
    val dir = Files.createTempDirectory("ena_fixture")
    // sequence tree, PRO division (kept by the S3 prune)
    writeGz(dir.resolve("sequence/con/rel_std_PRO_01_r143.dat.gz"),
      """ID   CIRC01; SV 1; circular; genomic DNA; STD; PRO; 1000 BP.
        |XX
        |OC   Bacteria; Proteobacteria.
        |XX
        |FT   source          1..1000
        |FT                   /organism="Test bug"
        |FT   CDS             join(900..1000,1..70)
        |FT                   /protein_id="AAA1.1"
        |FT   gene            200..300
        |FT   CDS             complement(200..300)
        |FT                   /db_xref="UniProtKB/TrEMBL:U_FALL"
        |FT   CDS             467
        |ID   DROP01; SV 1; linear; genomic DNA; STD; MAM; 5000 BP.
        |OC   Eukaryota; Metazoa; Chordata.
        |FT   CDS             10..200
        |FT                   /protein_id="BBB1.1"
        |ID   FUN01; SV 1; linear; genomic DNA; STD; FUN; 800 BP.
        |OC   Eukaryota; Fungi; Ascomycota.
        |FT   CDS             <5..>100
        |FT                   /protein_id="CCC1.1"
        |FT                   /db_xref="UniProtKB/Swiss-Prot:U_CCC"
        |ID   XXX01; SV 1; XXX; protein; PRT; PRO; 409 BP.
        |FT   CDS             1..100
        |FT                   /protein_id="DDD1.1"
        |""".stripMargin)
    // sequence tree, HUM division (pruned away by S3)
    writeGz(dir.resolve("sequence/con/rel_std_HUM_01_r143.dat.gz"),
      """ID   HUM01; SV 1; linear; genomic DNA; STD; HUM; 1000 BP.
        |OC   Bacteria; pretend.
        |FT   CDS             1..10
        |FT                   /db_xref="UniProtKB/TrEMBL:U_HUM"
        |""".stripMargin)
    // wgs tree (no division prune applies)
    writeGz(dir.resolve("wgs/public/wds/ABZA01.dat.gz"),
      """ID   WGS01; SV 1; linear; genomic DNA; WGS; PRO; 478325 BP.
        |OC   Bacteria; Proteobacteria.
        |FT   CDS             join(12..78,134..202)
        |FT                   /protein_id="AAA1.1"
        |FT                   /protein_id="EEB56107.1"
        |FT                   /db_xref="UniProtKB/TrEMBL:U_PARSED"
        |""".stripMargin)
    dir
  }

  private lazy val idmapping = {
    val s = spark
    import s.implicits._
    Seq(
      ("AAA1.1", "P10001"), // 1 -> many
      ("AAA1.1", "P10002"),
      ("AAA1.1", "P10001"), // duplicate row: A1 collect_set dedups
      ("EEB56107.1", "P20001"),
      ("ZZZ9.9", "P99999") // never referenced
    ).toDF("foreign_id", "uniprot_id")
  }

  private def resultRows(): Set[(String, String, Int, Int, Int, Long, Long)] = {
    val out = EnaPipeline.enaTab(spark, Seq(root.toString), idmapping)
    out.collect().map { r =>
      (r.getString(0), r.getString(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getLong(5), r.getLong(6))
    }.toSet
  }

  test("golden end-to-end: 7-column relation matches reference semantics") {
    val expected = Set(
      // CIRC01 locus 1: circular wrap -> (900,70), AAA1.1 -> {P10001,P10002}
      ("CIRC01", "P10001", 1, 0, 1, 900L, 70L),
      ("CIRC01", "P10002", 1, 0, 1, 900L, 70L),
      // CIRC01 locus 2: complement, no protein ids -> parse-time fallback
      ("CIRC01", "U_FALL", 2, 0, 0, 200L, 300L),
      // CIRC01 third CDS "467" has no parsable range -> no locus
      // DROP01: eukaryote non-fungi -> dropped; XXX01 -> tombstoned;
      // HUM file -> pruned by division token
      // FUN01: fungi kept; CCC1.1 unmapped -> fallback to parsed id
      ("FUN01", "U_CCC", 1, 1, 1, 5L, 100L),
      // WGS01: two protein ids map -> multiplicity across pids kept
      ("WGS01", "P10001", 1, 1, 1, 12L, 202L),
      ("WGS01", "P10002", 1, 1, 1, 12L, 202L),
      ("WGS01", "P20001", 1, 1, 1, 12L, 202L))
    assert(resultRows() === expected)
  }

  test("division prune can be disabled (S3 off -> HUM file parsed)") {
    val loci = EnaPipeline.readLoci(spark, Seq(root.toString),
      applyDivisionPrune = false)
    val ids = loci.collect().map(_.ena_id).toSet
    assert(ids.contains("HUM01"))
  }

  test("division derivation (X11) and TSV sink layout (S9/S10)") {
    import org.apache.spark.sql.functions.col
    val out = EnaPipeline.enaTab(spark, Seq(root.toString), idmapping)
    val divisions = out
      .select(EnaPipeline.divisionFromPath(col("file_path")).as("d"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(divisions === Set("sequence-con", "wgs-public-wds"))

    val outDir = Files.createTempDirectory("ena_tab_out")
    EnaPipeline.writeTsv(out, outDir.toString + "/ena_tab")
    val dirs = new java.io.File(outDir.toString + "/ena_tab").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs === Set("division=sequence-con", "division=wgs-public-wds"))
    // read back: 7 tab-separated data columns + the discovered
    // `division` partition column, rows preserved
    val back = spark.read.option("sep", "\t").csv(outDir.toString + "/ena_tab")
    assert(back.count() === 7)
    assert(back.columns.length === 8)
  }

  test("broadcast resolveIds plans one broadcast J1 and agrees without the hint") {
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val bcast = EnaPipeline.enaTab(spark, Seq(root.toString), idmapping,
      broadcastIdMap = true)
    val plan = bcast.queryExecution.sparkPlan
    // J1: the one broadcast join keyed on foreign_id whose build side
    // scans only the idmapping
    val j1 = plan.collect { case j: BroadcastHashJoinExec => j }.filter { j =>
      val (build, buildKeys) =
        if (j.buildSide == BuildRight) (j.right, j.rightKeys) else (j.left, j.leftKeys)
      buildKeys.exists(_.references.exists(_.name == "foreign_id")) &&
        build.collectLeaves().forall(_.output.exists(_.name == "foreign_id"))
    }
    assert(j1.size === 1, s"no single broadcast J1 in plan:\n$plan")
    // join first: nothing aggregates the idmapping (or the loci) below J1
    assert(j1.head.collect { case a: BaseAggregateExec => a }.isEmpty,
      s"aggregate below J1:\n$plan")
    assert(!plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[ScalaUDF]))),
      s"UDF in plan:\n$plan")

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.drop("file_path").collect()
        .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getInt(3),
          r.getInt(4), r.getLong(5), r.getLong(6))).toSet
    val unhinted = EnaPipeline.enaTab(spark, Seq(root.toString), idmapping,
      broadcastIdMap = false)
    assert(rows(bcast) === rows(unhinted))
  }

  test("multiplicity: overlapping id sets across pids and duplicate mapping rows") {
    // per-pid dedup (A1), multiplicity across pids kept
    // (parse_embl.py:236,252): X1.1 -> {Q1, Q2}, X2.1 -> {Q2, Q3}, so
    // the locus emits Q2 twice and Q1, Q3 once each
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("ena_multi")
    writeGz(dir.resolve("wgs/public/mul/M1.dat.gz"),
      """ID   MULTI01; SV 1; linear; genomic DNA; WGS; PRO; 1000 BP.
        |OC   Bacteria; Proteobacteria.
        |FT   CDS             1..100
        |FT                   /protein_id="X1.1"
        |FT                   /protein_id="X2.1"
        |""".stripMargin)
    val mapping = Seq(
      ("X1.1", "Q1"), ("X1.1", "Q2"), ("X1.1", "Q1"),
      ("X2.1", "Q2"), ("X2.1", "Q3"), ("X2.1", "Q3")
    ).toDF("foreign_id", "uniprot_id")
    val expected = Seq("Q1", "Q2", "Q2", "Q3")
      .map(u => ("MULTI01", u, 1, 1, 1, 1L, 100L))
    for (hint <- Seq(true, false)) {
      val got = EnaPipeline.enaTab(spark, Seq(dir.toString), mapping,
        broadcastIdMap = hint).collect()
        .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getInt(3),
          r.getInt(4), r.getLong(5), r.getLong(6))).toSeq.sorted
      assert(got === expected, s"broadcastIdMap = $hint")
    }
  }

  test("shuffle resolve keeps same-ena_id records in DIFFERENT files apart") {
    // the composite natural key is (file_path, ena_id, locus_idx):
    // a record id reused across release files must not merge rev_ids
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("ena_samekey")
    val rec =
      """ID   SAME01; SV 1; linear; genomic DNA; WGS; PRO; 1000 BP.
        |OC   Bacteria; Proteobacteria.
        |FT   CDS             1..100
        |FT                   /protein_id="%s"
        |""".stripMargin
    writeGz(dir.resolve("wgs/public/aaa/F1.dat.gz"), rec.format("AAA1.1"))
    writeGz(dir.resolve("wgs/public/bbb/F2.dat.gz"), rec.format("EEB56107.1"))
    val out = EnaPipeline.enaTab(spark, Seq(dir.toString), idmapping,
      broadcastIdMap = false)
      .collect()
      .map(r => (r.getAs[String]("file_path").contains("F1"),
        r.getString(0), r.getString(1))).toSet
    // F1's locus resolves AAA1.1 -> {P10001, P10002}; F2's resolves
    // EEB56107.1 -> {P20001}; a uid or (ena_id, locus_idx)-only key
    // would cross-pollinate the two
    assert(out === Set(
      (true, "SAME01", "P10001"), (true, "SAME01", "P10002"),
      (false, "SAME01", "P20001")))
  }

  test("segmentation counters (A5): tombstones, taxonomy drops, CDS drops") {
    val metrics = SegMetrics(spark.sparkContext)
    EnaPipeline.readLoci(spark, Seq(root.toString), metrics = Some(metrics))
      .collect() // action materializes the accumulators
    assert(metrics.emittedLoci.value === 4L) // CIRC01 x2, FUN01, WGS01
    assert(metrics.tombstonedRecords.value === 1L) // XXX01 invalid structure
    assert(metrics.taxonomyDropped.value === 1L) // DROP01 eukaryote non-fungi
    assert(metrics.droppedCdsBlocks.value === 1L) // CIRC01's rangeless "CDS 467"
  }

  test("ordered single-file concat sink (S12/O2)") {
    val out = EnaPipeline.enaTab(spark, Seq(root.toString), idmapping)
    val outDir = Files.createTempDirectory("ena_concat")
    EnaPipeline.writeTsvConcat(out, outDir.toString + "/ena_tab")
    val parts = new java.io.File(outDir.toString + "/ena_tab").listFiles()
      .filter(f => f.getName.startsWith("part") && f.getName.endsWith(".csv"))
    assert(parts.length === 1) // one ena.tab analog
    val lines = scala.io.Source.fromFile(parts.head).getLines().toSeq
    val expected = Seq(
      "CIRC01\tP10001\t1\t0\t1\t900\t70",
      "CIRC01\tP10002\t1\t0\t1\t900\t70",
      "CIRC01\tU_FALL\t2\t0\t0\t200\t300",
      "FUN01\tU_CCC\t1\t1\t1\t5\t100",
      "WGS01\tP10001\t1\t1\t1\t12\t202",
      "WGS01\tP10002\t1\t1\t1\t12\t202",
      "WGS01\tP20001\t1\t1\t1\t12\t202")
    assert(lines === expected) // global order: file path, then record keys
  }

  test("filename stem extraction (X12)") {
    import org.apache.spark.sql.functions.lit
    val s = spark
    import s.implicits._
    val got = Seq("/a/b/rel_std_PRO_01_r143.dat.gz", "/x/ABZA01.dat.gz", "/no/match.txt")
      .toDF("p")
      .select(EnaPipeline.fileStem($"p"))
      .collect().map(_.getString(0)).toSeq
    assert(got === Seq("rel_std_PRO_01_r143", "ABZA01", ""))
  }

  test("locus numbering survives multi-record files (W1 fidelity)") {
    val loci = EnaPipeline.readLoci(spark, Seq(root.toString))
      .collect().map(l => (l.ena_id, l.locus_idx)).sorted
    assert(loci === Array(
      ("CIRC01", 1), ("CIRC01", 2), ("FUN01", 1), ("WGS01", 1)))
  }
}
