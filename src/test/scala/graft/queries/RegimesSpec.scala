package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** The `graft.Regimes.forceDistributed` switch: with the flag up,
  * every dual-regime operator must take its LARGE-SCALE form —
  * distributed CC loop, checkpoint+broadcast stage barriers, two-phase
  * percentile rank — and produce VALUE-IDENTICAL results, because the
  * whole point of the switch is pushing the 100 TB plans through the
  * DuckDB oracle gate.
  *
  * This spec gates the switch mechanism in-repo (cheap, sf0.001); the
  * full 124-query certification is the forced Verify + check_oracle
  * run recorded per round (scripts/gate.sh distributed leg).
  */
class RegimesSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def rows(name: String): Seq[Seq[Any]] =
    QueryPackExt.queries(name)(spark, sf).collect().toSeq.map(_.toSeq)

  test("flag reads env or system property") {
    assert(!graft.Regimes.forceDistributed)
    forced { assert(graft.Regimes.forceDistributed) }
    assert(!graft.Regimes.forceDistributed)
  }

  test("small: forced, its probe is not evaluated and no job runs") {
    var evaluated = false
    val probe = spark.range(10).toDF()
    val (answer, jobs) = countingJobs {
      forced { graft.Regimes.small { evaluated = true; graft.Regimes.atMostRows(probe, 100) } }
    }
    assert(!answer && !evaluated && jobs === 0)
    assert(graft.Regimes.small(graft.Regimes.atMostRows(probe, 100)))
    assert(!graft.Regimes.small(graft.Regimes.atMostRows(probe, 9)))
  }

  test("atMostRows: exact at n and n + 1 rows; reads a bounded prefix of a large source") {
    val s = spark
    import s.implicits._
    assert(graft.Regimes.atMostRows(s.range(100).toDF(), 100))
    assert(!graft.Regimes.atMostRows(s.range(101).toDF(), 100))
    val reads = s.sparkContext.longAccumulator("probe_reads")
    val big = s.range(0, 1000000, 1, 4).map { i => reads.add(1); i }.toDF()
    assert(!graft.Regimes.atMostRows(big, 100))
    // LocalLimit stops each partition's iterator after n + 1 rows
    assert(reads.value <= 4 * 101, s"probe read ${reads.value} of 1000000 rows")
  }

  test("atMostFileBytes: a missing path is not small; a file's size is the cut") {
    val dir = java.nio.file.Files.createTempDirectory("graft_file_bytes")
    val f = dir.resolve("part.bin")
    java.nio.file.Files.write(f, new Array[Byte](1000))
    try {
      assert(!graft.Regimes.atMostFileBytes(spark, dir.resolve("missing").toString, Long.MaxValue))
      assert(graft.Regimes.atMostFileBytes(spark, f.toString, 1000))
      assert(!graft.Regimes.atMostFileBytes(spark, f.toString, 999))
      assert(graft.Regimes.atMostFileBytes(spark, dir.toString, 1000))
    } finally {
      java.nio.file.Files.delete(f)
      java.nio.file.Files.delete(dir)
    }
  }

  test("q61 dup components: forced distributed loop is value-identical") {
    val default = rows("q61_dup_components")
    val dist = forced { rows("q61_dup_components") }
    assert(dist == default)
  }

  test("q72 curation flagship: forced barriers are value-identical and join-shaped") {
    val default = rows("q72_curation_flagship")
    val (dist, plan) = forced {
      val df = QueryPackExt.queries("q72_curation_flagship")(spark, sf)
      (df.collect().toSeq.map(_.toSeq), df.queryExecution.executedPlan.toString)
    }
    assert(dist == default)
    // the forced plan must be the checkpoint-join regime, not InSet
    assert(!plan.contains("INSET"), plan)
    assert(plan.contains("ExistingRDD"), plan)
  }

  test("q50/q120 percentiles: forced two-phase + broadcast bounds are value-identical") {
    assert(forced { rows("q50_exact_percentiles") } ==
      rows("q50_exact_percentiles"))
    assert(forced { rows("q120_select_percentiles") } ==
      rows("q120_select_percentiles"))
  }

  test("q29 ENA flagship: forced run is value-identical") {
    assert(forced { rows("q29_ena_flagship") } == rows("q29_ena_flagship"))
  }

  test("q60/q100/q130 gram audits: forced join regime is value-identical (r18)") {
    val default60 = rows("q60_decontaminate")
    val (dist60, plan60) = forced {
      val df = QueryPackExt.queries("q60_decontaminate")(spark, sf)
      (df.collect().toSeq.map(_.toSeq), df.queryExecution.executedPlan.toString)
    }
    assert(dist60 == default60)
    // forced = the certified eval-gram equi-join form, not the probe
    assert(plan60.contains("Join"), plan60)
    assert(!plan60.contains("graft_count_map"), plan60)
    assert(forced { rows("q100_release_gate") } == rows("q100_release_gate"))
    assert(forced { rows("q130_bloom_decontaminate") } ==
      rows("q130_bloom_decontaminate"))
  }

  test("q144 centrality: forced distributed loop is value-identical to the driver rounds (r18)") {
    val default = rows("q144_dup_pagerank")
    val dist = forced { rows("q144_dup_pagerank") }
    assert(dist == default)
  }

  test("q144 centrality degenerate mass: zero-truncating per-edge shares are " +
      "value-identical across regimes (r19, VERDICT r18 #4)") {
    // A 50-leaf star at initMass=10: the hub's per-edge share
    // (10·17/20)/50 = 8/50 TRUNCATES TO 0 — the one arithmetic corner
    // where driver and distributed forms could diverge if either
    // dropped zero-mass sends (the driver merges an explicit 0, the
    // distributed agg sums rows of 0; both must still add base mass).
    // Two rounds so the truncated round feeds the next one: after r1
    // every leaf holds exactly base=1 (hub sent 0) and the hub holds
    // 401; after r2 the LEAVES' sends truncate ((1·17/20)=0) and the
    // hub collapses back to base while leaves get 1+6=7.
    import spark.implicits._
    val pairs = (1L to 50L).map(l => (0L, l)).toDF("da", "db")
    def run(): Seq[(Long, Long, Long)] =
      graft.llm.TextDedup.pairGraphCentrality(pairs, iters = 2,
          initMass = 10L, dampNum = 17L, dampDen = 20L)
        .as[(Long, Long, Long)].collect().toSeq.sorted
    val default = run()
    val dist = forced { run() }
    assert(dist == default)
    // pin the truncation actually happened: r2 hub mass is pure base
    // (every leaf's send truncated to 0), leaves are base + 6
    val byId = default.map(r => r._1 -> r._2).toMap
    assert(byId(0L) == 1L, s"hub mass ${byId(0L)} — fixture no longer degenerate")
    assert(byId(1L) == 7L, s"leaf mass ${byId(1L)}")
    assert(default.count(_._1 > 0) == 50 && default.forall(r =>
      if (r._1 == 0L) r._3 == 50L else r._3 == 1L))
  }
}
