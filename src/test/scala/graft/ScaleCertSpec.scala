package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scale certifications as a GATED suite: the checks that certify
  * behavior ABOVE the dual-regime probe bounds. Run only by hand, a
  * regression there would drift silently; here it costs a red gate
  * instead: `scripts/gate.sh` runs it once per round with
  * `SPARK_GRAFT_SLOW=1`; the default `sbt test` pass skips it via
  * `assume` (shown as canceled, costs nothing), because each test is
  * tens of seconds.
  *
  * Kept deliberately BOUNDED (minutes, not a full media sweep): the
  * asserts target the failure shapes that matter — distributed-CC
  * value drift, heavy-hitter bound violations under eviction, and
  * super-linear flagship growth — not benchmark curves.
  */
class ScaleCertSpec extends AnyFunSuite with SparkSpec {

  private def slowEnabled = sys.env.contains("SPARK_GRAFT_SLOW")

  test("distributed CC at 550k edges matches union-find ground truth " +
      "(above the small-graph probe bound)") {
    assume(slowEnabled, "set SPARK_GRAFT_SLOW=1 (gate.sh does)")
    import spark.implicits._
    // planted graph: 50k star clusters of 8 members + 1k chains of
    // diameter 200 — the chains overrun the propagation budget and
    // force the star escalation
    val clusterEdges = (0 until 50000).flatMap { c =>
      val base = c.toLong * 10
      (1 to 7).map(i => (base, base + i))
    }
    val chainEdges = (0 until 1000).flatMap { c =>
      val base = 1000000L + c.toLong * 1000
      (0 until 200).map(i => (base + i, base + i + 1))
    }
    val all = clusterEdges ++ chainEdges
    assert(all.size > (1 << 17), "fixture must overrun the probe bound")
    val pairs = all.toDF("da", "db").repartition(8)
    val out = graft.llm.TextDedup.duplicateComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.operators.Checkpoints.releaseLeaked(spark)
    // driver union-find ground truth
    val parent = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    def find(x: Long): Long = {
      var r = x
      while ({ val p = parent.getOrDefault(r, r); p != r }) r = parent.get(r)
      var c = x
      while (c != r) { val n = parent.getOrDefault(c, c); parent.put(c, r); c = n }
      r
    }
    all.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb) }
    }
    val truth = all.flatMap(e => Seq(e._1, e._2)).distinct
      .map(id => id -> find(id)).toMap
    assert(out.size == truth.size)
    assert(out == truth, "distributed CC diverged from ground truth")
  }

  test("Space-Saving eviction regime: bounds hold and precision@20 is " +
      "perfect on a 2M-row Zipf stream (capacity << distinct)") {
    assume(slowEnabled, "set SPARK_GRAFT_SLOW=1 (gate.sh does)")
    // deterministic Zipf-ish stream (2M rows):
    // crc32-uniformized rank, ~50k distinct keys, capacity 256
    def zipfStream(rows: Long): DataFrame = {
      val u = greatest(
        crc32(col("id").cast("string")).cast("double") / 4294967296.0,
        lit(1e-9))
      val rank = pow(u, lit(-0.9)).cast("long") % 50000
      spark.range(rows).select(concat(lit("k"), rank).as("tok"))
    }
    val stream = zipfStream(2000000L)
    val sketchTop = stream
      .agg(expr("graft_freq_items(tok, 256)").as("fi"))
      .select(explode(slice(col("fi"), 1, 20)).as("e"))
      .select(col("e.item"), col("e.est"), col("e.err"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val exact = stream.groupBy(col("tok")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exactTop20 = exact.toSeq.sortBy { case (k, c) => (-c, k) }
      .take(20).map(_._1).toSet
    // the mergeable-summaries guarantee: est-err <= true <= est
    sketchTop.foreach { case (k, est, err) =>
      val t = exact.getOrElse(k, 0L)
      assert(t <= est && est - err <= t,
        s"bound violated for $k: true=$t est=$est err=$err")
    }
    val hits = sketchTop.count(t => exactTop20.contains(t._1))
    assert(hits == 20, s"precision@20 = $hits/20")
  }

  test("curation flagship grows sublinearly at 10x corpus " +
      "(dup-rate-preserving replicas)") {
    assume(slowEnabled, "set SPARK_GRAFT_SLOW=1 (gate.sh does)")
    // the dup-rate-preserving construction at gate-sized scale:
    // each replica suffixes every token with its replica id, so
    // within-replica dup structure is exactly the original's and
    // nothing collides across replicas. Base = sf0.01 documents
    // (~6k docs), 10x = ~60k — big enough that a quadratic pair
    // generator or a lost barrier shows up as >>10x growth, small
    // enough to keep the gate in seconds.
    // fixtures go to parquet, NOT localCheckpoint: wall() sweeps with
    // releaseLeaked between runs, which would evict checkpoint blocks
    // and fail later reads — and a scan-backed corpus is the
    // production shape anyway
    val root = java.nio.file.Files.createTempDirectory("scalecert").toString
    val base = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    base.write.mode("overwrite").parquet(s"$root/d1")
    (0 until 10).map { rep =>
      base.select(
        (col("doc_id") + lit(rep.toLong * 1000000000L)).as("doc_id"),
        concat_ws(" ", transform(split(col("text"), " "),
          x => concat(x, lit(s"_$rep")))).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
      .repartition(8).write.mode("overwrite").parquet(s"$root/d10")
    val d1 = spark.read.parquet(s"$root/d1")
    val d10 = spark.read.parquet(s"$root/d10")
    // RED-GATE on a load-insensitive WORK metric (ADVICE r13): total
    // shuffle records written across the run. A quadratic pair
    // generator or a lost barrier multiplies shuffled rows ~100x at
    // 10x input regardless of box load; wall-clock stays info()-only
    // (per the bench-noise protocol, a loaded box can inflate the tiny
    // 1x denominator and fail — or mask — a timing gate spuriously).
    val shuffled = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val m = sc.stageInfo.taskMetrics
          if (m != null)
            shuffled.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        }
      })
    // the listener bus is async; poll until the counter is quiescent
    def drainListeners(): Long = {
      var last = -1L
      var stable = 0
      var waited = 0
      while (stable < 3 && waited < 100) {
        val cur = shuffled.get()
        if (cur == last) stable += 1 else { stable = 0; last = cur }
        Thread.sleep(50); waited += 1
      }
      shuffled.get()
    }
    def measure(d: DataFrame): (Double, Long) = {
      def run(): Double = {
        val t0 = System.nanoTime()
        graft.llm.Curation.curate(
          d.filter(col("doc_id") % 20 =!= 0),
          d.filter(col("doc_id") % 20 === 0),
          blockSize = 512, groupWidth = 64)
          .write.format("noop").mode("overwrite").save()
        graft.operators.Checkpoints.releaseLeaked(spark)
        (System.nanoTime() - t0) / 1e9
      }
      run() // warm (fixture caches, codegen)
      drainListeners()
      val before = shuffled.get()
      val t = run()
      val work = drainListeners() - before
      (t, work)
    }
    val (t1, w1) = measure(d1)
    val (t10, w10) = measure(d10)
    val workRatio = w10.toDouble / math.max(w1, 1L)
    info(f"flagship 1x=$t1%.2f s 10x=$t10%.2f s wall-ratio=${t10 / t1}%.2f " +
      f"(info only); shuffle records 1x=$w1 10x=$w10 ratio=$workRatio%.2f")
    // linear-with-headroom: a 10x corpus may shuffle ~10x the rows
    // (plus log-factor band/bucket overhead); quadratic pair
    // generation lands at ~100x
    assert(workRatio < 30.0,
      f"10x flagship shuffled $workRatio%.1fx the records — super-linear")
  }
}
