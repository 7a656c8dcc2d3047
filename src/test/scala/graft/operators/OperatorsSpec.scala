package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

class OperatorsSpec extends AnyFunSuite with SparkSpec {

  test("lazy localCheckpoint lifecycle (r21): one count materializes " +
      "every partition; the frame survives its parent's release") {
    val s = spark
    import s.implicits._
    // the contract the r21 checkpoint fusions rely on: a lazy
    // localCheckpoint plus one full-partition action (an internal-row
    // count) is equivalent to the eager form — the pipeline runs once,
    // later consumers read blocks, and lineage is truncated so the
    // frame stays readable after upstream blocks are dropped (the
    // kcenter/keepFilter release ordering)
    val parent = s.range(100).toDF("id").repartition(4)
      .localCheckpoint(eager = false)
    assert(parent.queryExecution.toRdd.count() === 100L)
    val child = parent.filter(col("id") % 2 === 0)
      .localCheckpoint(eager = false)
    assert(child.queryExecution.toRdd.count() === 50L) // materializes child
    Checkpoints.release(parent) // parent blocks dropped
    assert(child.collect().length === 50) // child reads its own blocks
    Checkpoints.release(child)
  }

  test("countAndCollect ships about cap rows at any partition count and " +
      "refetches only the partitions over their share") {
    val s = spark
    import s.implicits._
    import org.apache.spark.scheduler._
    val sc = s.sparkContext
    val group = s"countAndCollect-${System.nanoTime()}"
    val sentinel = group + "-sentinel"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val shipped = new java.util.concurrent.atomic.AtomicLong(0)
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val sentinelJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val sentinelDone = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) =>
            jobs.incrementAndGet(); j.stageIds.foreach(stages.add)
          case Some(`sentinel`) => sentinelJobs.add(j.jobId)
          case _ =>
        }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        if (sentinelJobs.contains(j.jobId)) sentinelDone.add(j.jobId)
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (stages.contains(t.stageId) && t.taskMetrics != null)
          shipped.addAndGet(t.taskMetrics.resultSize)
    }
    // (result, jobs run, task-result bytes shipped to the driver). The
    // listener bus is async but ordered: once a later sentinel job's
    // end is seen, every event of the measured jobs has been seen too.
    def measured[A](body: => A): (A, Int, Long) = {
      jobs.set(0); shipped.set(0); stages.clear()
      sc.setJobGroup(group, "measured")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (sentinelDone.isEmpty && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(!sentinelDone.isEmpty, "listener bus did not drain")
      sentinelJobs.clear(); sentinelDone.clear()
      (out, jobs.get, shipped.get)
    }
    val cap = 10000L
    sc.addSparkListener(listener)
    try {
      // bounded and evenly spread: one job ships every row
      val ((n0, rows0), jobs0, bytes0) = measured(
        Checkpoints.countAndCollect(s.range(0, cap, 1, 8).toDF("id"), cap))
      assert(n0 === cap && jobs0 === 1)
      assert(rows0.map(_.getLong(0)).sorted.toSeq === (0L until cap))
      // oversized over many partitions: counts plus short prefixes, not
      // a cap-sized prefix from each of the 8 partitions
      val ((n1, rows1), jobs1, bytes1) = measured(
        Checkpoints.countAndCollect(s.range(0, 40 * cap, 1, 8).toDF("id"), cap))
      assert(n1 === 40 * cap && rows1.isEmpty && jobs1 === 1)
      assert(bytes1 < 2 * bytes0,
        s"oversized frame shipped $bytes1 B against $bytes0 B for cap rows")
      // bounded but skewed: the one partition over its share is fetched
      // by a second job, and the frame still comes back whole
      val skewed = sc.parallelize(0 until 8, 8)
        .flatMap(p => if (p == 0) 0L until cap / 2 else Nil).toDF("id")
      val ((n2, rows2), jobs2, _) =
        measured(Checkpoints.countAndCollect(skewed, cap))
      assert(n2 === cap / 2 && jobs2 === 2)
      assert(rows2.map(_.getLong(0)).sorted.toSeq === (0L until cap / 2))
    } finally sc.removeSparkListener(listener)
  }

  test("asof join: latest right row at-or-before, inclusive, null when none") {
    val s = spark
    import s.implicits._
    val right = Seq((1L, 10L, "early"), (1L, 50L, "late"), (2L, 20L, "only"))
      .toDF("k", "ts", "tag")
    val left = Seq((1L, 60L), (1L, 50L), (1L, 30L), (1L, 5L), (2L, 25L), (3L, 99L))
      .toDF("k", "t")
    val out = AsofJoin.joinAsof(left, right, "k", "t", "ts", Seq("tag"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.getAs[String]("asof_tag")))).toSet
    assert(out === Set(
      (1L, 60L, Some("late")),
      (1L, 50L, Some("late")), // inclusive: equal timestamps match
      (1L, 30L, Some("early")),
      (1L, 5L, None), // nothing at or before
      (2L, 25L, Some("only")),
      (3L, 99L, None))) // key with no right rows at all
  }

  test("asof join plans as ONE exchange + window, no join operator") {
    val s = spark
    import s.implicits._
    val right = Seq((1L, 10L, "x")).toDF("k", "ts", "tag")
    val left = Seq((1L, 60L)).toDF("k", "t")
    val plan = AsofJoin.joinAsof(left, right, "k", "t", "ts", Seq("tag"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"as-of should not plan a join:\n$plan")
    assert(plan.contains("Window"), plan)
    // exactly one shuffle: the window's partitionBy(key)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1, plan)
  }

  test("asof join: null payload values do NOT fall back to older rows") {
    val s = spark
    import s.implicits._
    // the matched right row (ts=20) has a NULL in payload `a`: the old
    // per-column last(ignoreNulls) stitched a="x" from ts=10 with
    // b="z20" from ts=20 — values from two different right rows
    val right = Seq((1L, 10L, Option("x"), Option("z10")),
        (1L, 20L, None: Option[String], Option("z20")))
      .toDF("k", "ts", "a", "b")
    val left = Seq((1L, 25L)).toDF("k", "t")
    val out = AsofJoin.joinAsof(left, right, "k", "t", "ts", Seq("a", "b"))
      .select("asof_a", "asof_b").head()
    assert(out.isNullAt(0), "null payload must come from the matched row")
    assert(out.getString(1) === "z20")
  }

  test("asof join equals in-memory brute force on randomized data (seeded)") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(42)
    val right = Seq.fill(100)((rnd.nextInt(10).toLong, rnd.nextInt(1000).toLong))
      .distinct.map { case (k, ts) => (k, ts, s"r$k-$ts") }
    val left = Seq.fill(200)((rnd.nextInt(12).toLong, rnd.nextInt(1100).toLong))
    val got = AsofJoin.joinAsof(
        left.toDF("k", "t"), right.toDF("k", "ts", "tag"),
        "k", "t", "ts", Seq("tag"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.getAs[String]("asof_tag"))))
      .groupBy(identity).view.mapValues(_.length).toMap
    val expected = left.map { case (k, t) =>
      val m = right.filter(r => r._1 == k && r._2 <= t)
        .sortBy(_._2).lastOption.map(_._3)
      (k, t, m)
    }.groupBy(identity).view.mapValues(_.length).toMap
    assert(got === expected) // multiset equality incl. duplicate left rows
  }

  test("salted join equals the plain join; shuffle keys include the salt") {
    val s = spark
    import s.implicits._
    val big = Seq((1L, 10.0), (1L, 20.0), (1L, 30.0), (2L, 5.0))
      .toDF("k", "v")
    val small = Seq((1L, "hot"), (2L, "cold"), (3L, "unused"))
      .toDF("k", "name")
    val salted = Skew.saltedJoin(big, small, "k", factor = 4)
    val plain = big.join(small, "k")
    assert(salted.select("k", "v", "name").collect().toSeq.sortBy(_.toString)
      === plain.select("k", "v", "name").collect().toSeq.sortBy(_.toString))
    val plan = salted.queryExecution.executedPlan.toString
    // hint respected: a SHUFFLE join (never broadcast — that would
    // defeat the salt); shuffled-hash since r21 (same exchange on
    // (key, salt), no sort of the salted big side)
    assert(plan.contains("ShuffledHashJoin"), plan)
    assert(plan.contains("__salt"), s"join keys should include the salt:\n$plan")
  }

  test("interval overlap join: exactly-once pairs, equals brute force, keyed plan") {
    val s = spark
    import s.implicits._
    val left = Seq((1L, 0L, 25L), (2L, 40L, 45L), (3L, 90L, 91L))
      .toDF("lk", "ls", "le") // interval 1 spans 3 buckets at width 10
    val right = Seq((10L, 5L, 12L), (11L, 24L, 50L), (12L, 60L, 70L),
      (13L, 25L, 25L)) // point interval touching 1's inclusive end
      .toDF("rk", "rs", "re")
    val got = IntervalJoin.overlapJoin(left, right, "ls", "le", "rs", "re",
        bucketWidth = 10)
      .select("lk", "rk").collect().map(r => (r.getLong(0), r.getLong(1)))
    // brute force on the same data
    val expected = left.crossJoin(right)
      .filter(col("ls") <= col("re") && col("rs") <= col("le"))
      .select("lk", "rk").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.sorted.toSeq === expected.sorted.toSeq)
    assert(got.length === got.distinct.length, "pair emitted more than once")
    assert(got.toSet === Set((1L, 10L), (1L, 11L), (1L, 13L), (2L, 11L)))
    // candidate generation is the bucket equi-join, never a nested loop
    val plan = IntervalJoin.overlapJoin(left, right, "ls", "le", "rs", "re", 10)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    // malformed (descending) intervals are dropped, not matched via
    // Spark's auto-descending sequence()
    val bad = Seq((9L, 15L, 2L)).toDF("lk", "ls", "le")
    assert(IntervalJoin.overlapJoin(bad, right, "ls", "le", "rs", "re", 10)
      .count() === 0)
  }

  test("interval overlap join: bounds past 2^53 bucket exactly (no double trip)") {
    val s = spark
    import s.implicits._
    // adjacent but non-overlapping giant bounds: a double-rounded
    // floor(c/w) collapses 2^53+1 and 2^53+3 into the same value and
    // can mis-bucket; integer floor-div must keep them apart
    val base = (1L << 53)
    val left = Seq((1L, base + 1L, base + 2L)).toDF("lk", "ls", "le")
    val right = Seq((10L, base + 3L, base + 4L), (11L, base + 2L, base + 5L))
      .toDF("rk", "rs", "re")
    val got = IntervalJoin.overlapJoin(left, right, "ls", "le", "rs", "re",
        bucketWidth = 2)
      .select("lk", "rk").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSet === Set((1L, 11L)))
    // negative bounds floor correctly too (-3/2 buckets to -2, not -1)
    val nl = Seq((2L, -3L, -2L)).toDF("lk", "ls", "le")
    val nr = Seq((20L, -2L, -1L), (21L, -1L, 0L)).toDF("rk", "rs", "re")
    val ngot = IntervalJoin.overlapJoin(nl, nr, "ls", "le", "rs", "re", 2)
      .select("lk", "rk").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(ngot.toSet === Set((2L, 20L)))
  }

  test("interval overlap join: derived width is value-identical to any explicit width") {
    val s = spark
    import s.implicits._
    // bucketWidth is PURE tuning: results must not depend on it, so the
    // DeriveWidth default must emit exactly the explicit-width pair set
    val left = (0L until 40L).map(i => (i, i * 3, i * 3 + 7))
      .toDF("lk", "ls", "le")
    val right = (0L until 60L).map(i => (100L + i, i * 2, i * 2 + 4))
      .toDF("rk", "rs", "re")
    def pairs(w: Long) = IntervalJoin
      .overlapJoin(left, right, "ls", "le", "rs", "re", w)
      .select("lk", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val derived = IntervalJoin
      .overlapJoin(left, right, "ls", "le", "rs", "re") // DeriveWidth
      .select("lk", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(derived === pairs(3) && derived === pairs(17))
    // the sizing agg itself: uniform 8-long vs 5-long sides -> the
    // geometric mean, and an empty side falls back to the other's median
    val w = IntervalJoin.derivedWidth(left, right, "ls", "le", "rs", "re")
    assert(w === math.round(math.sqrt(8.0 * 5.0)))
    val empty = Seq.empty[(Long, Long, Long)].toDF("lk", "ls", "le")
    assert(IntervalJoin.derivedWidth(empty, right, "ls", "le", "rs", "re") > 0)
  }

  test("salt spreads a hot key of BYTE-IDENTICAL rows across buckets") {
    val s = spark
    import s.implicits._
    // the r3 defect: hash-of-columns salt sent every identical copy of
    // a hot key to ONE salt value — re-concentrating the skew
    val hot = Seq.fill(400)((7L, "same payload")).toDF("k", "v")
    val factor = 8
    val salts = Skew.saltBig(hot, factor)
      .groupBy(col("__salt")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(salts.keySet.size >= factor / 2,
      s"identical rows collapsed onto salts ${salts.keySet}")
    assert(salts.values.max <= 400 / (factor / 2),
      s"salt distribution is skewed: $salts")
    // and the join result is still exactly the plain join
    val small = Seq((7L, "dim")).toDF("k", "name")
    assert(Skew.saltedJoin(hot, small, "k", factor).count() === 400L)
  }

  test("countOverlaps equals group-by over the pair join; partial-aggregates") {
    val s = spark
    import s.implicits._
    val left = Seq((1L, 0L, 25L), (2L, 40L, 45L), (3L, 90L, 91L))
      .toDF("lk", "ls", "le")
    val right = Seq((10L, 5L, 12L), (11L, 24L, 50L), (12L, 60L, 70L),
      (13L, 25L, 25L)).toDF("rk", "rs", "re")
    val got = IntervalJoin.countOverlaps(left, right, "ls", "le", "rs", "re",
        leftKey = "lk")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // pairs: 1->{10,11,13}, 2->{11}; 3 overlaps nothing -> absent
    assert(got === Map(1L -> 3L, 2L -> 1L))
    val plan = IntervalJoin.countOverlaps(left, right, "ls", "le", "rs", "re",
        "lk").queryExecution.executedPlan.toString
    // map-side partial aggregation below the final exchange; the only
    // nested-loop is the broadcast ONE-ROW min/max stats frame
    assert(plan.contains("partial_"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("countOverlaps rank form equals pair-join brute force on random dense intervals") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    // dense overlapping intervals + duplicates + boundary touches +
    // point intervals — the regimes where an off-by-one in the
    // <=/< rank decomposition would show
    val left = (1 to 60).map { i =>
      val a = rnd.nextInt(40).toLong; (i.toLong % 7, a, a + rnd.nextInt(12))
    }.toDF("lk", "ls", "le")
    val rightRows = (1 to 80).map { _ =>
      val a = rnd.nextInt(40).toLong - 5; (a, a + rnd.nextInt(10))
    }
    val right = rightRows.toDF("rs", "re")
    val got = IntervalJoin.countOverlaps(left, right, "ls", "le", "rs", "re",
        leftKey = "lk")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = left.collect().map(r =>
        (r.getLong(0), rightRows.count { case (rs, re) =>
          rs <= r.getLong(2) && r.getLong(1) <= re }))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2.toLong).sum }
      .filter(_._2 > 0)
    assert(got === brute)
  }

  test("countOverlaps served from a persisted endpoint histogram is " +
      "value-identical and never rescans the raw intervals (r19)") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(23)
    val left = (1 to 60).map { i =>
      val a = rnd.nextInt(40).toLong; (i.toLong % 7, a, a + rnd.nextInt(12))
    }.toDF("lk", "ls", "le")
    val right = (1 to 80).map { _ =>
      val a = rnd.nextInt(40).toLong - 5; (a, a + rnd.nextInt(10))
    }.toDF("rs", "re")
    val direct = IntervalJoin.countOverlaps(left, right,
        "ls", "le", "rs", "re", leftKey = "lk")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    try {
      IntervalJoin.overlapHistogram(right, "rs", "re")
        .write.mode("overwrite").saveAsTable("ivl_hist")
      val served = IntervalJoin.countOverlapsFromHistogram(
        left, s.table("ivl_hist"), "ls", "le", leftKey = "lk")
      assert(served.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        === direct)
      // the serve plan's only scans are the histogram table and the
      // left side — the raw interval relation is out of the loop
      val plan = served.queryExecution.executedPlan.toString
      assert(plan.contains("ivl_hist"), plan)
      assert(!plan.toLowerCase.contains("localtablescan [rs"), plan)
    } finally s.sql("DROP TABLE IF EXISTS ivl_hist")
    // fractional bounds must refuse the exact-long histogram encoding
    val frac = Seq((0.5, 1.5)).toDF("rs", "re")
    intercept[IllegalArgumentException] {
      IntervalJoin.overlapHistogram(frac, "rs", "re")
    }
  }

  test("funnel: strict first-occurrence ordering; drop-off leaves the stage") {
    val s = spark
    import s.implicits._
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val ev = Seq(
      // user 1 completes a->b->c in order
      (1L, "a", ts(10)), (1L, "b", ts(20)), (1L, "c", ts(30)),
      // user 2: b BEFORE a, never after -> stops at stage a
      (2L, "b", ts(5)), (2L, "a", ts(10)),
      // user 3: a then c (no b) -> stops at stage a
      (3L, "a", ts(10)), (3L, "c", ts(40)),
      // user 4: b same second as a -> strict '>' rejects it
      (4L, "a", ts(10)), (4L, "b", ts(10)))
      .toDF("user_id", "event_type", "ts")
    val out = EventAnalytics.funnelCounts(ev, Seq("a", "b", "c")).collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("n_users"))
      .toSeq
    assert(out === Seq("a" -> 4L, "b" -> 1L, "c" -> 1L))

    // conversion window: user 1's b at +10s misses a 5s gap cap, so
    // the funnel empties from stage b on
    val windowed = EventAnalytics
      .funnelCounts(ev, Seq("a", "b", "c"), maxGapSecs = Some(5L))
      .collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("n_users"))
      .toSeq
    assert(windowed === Seq("a" -> 4L, "b" -> 0L, "c" -> 0L))
    // a 10s cap readmits both downstream stages (gap = 10 <= cap)
    val cap10 = EventAnalytics
      .funnelCounts(ev, Seq("a", "b", "c"), maxGapSecs = Some(10L))
      .collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("n_users"))
      .toSeq
    assert(cap10 === Seq("a" -> 4L, "b" -> 1L, "c" -> 1L))
  }

  test("compaction: file count follows the byte target, not input partitioning") {
    val s = spark
    val docs = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .repartition(16) // simulate a many-task upstream
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString

    // generous target -> exactly one output file
    Compaction.compactTo(docs, targetBytes = 1L << 30)
      .write.mode("overwrite").parquet(s"$dir/one")
    def partFiles(p: String) =
      new java.io.File(p).listFiles.count(_.getName.startsWith("part-"))
    assert(partFiles(s"$dir/one") === 1)

    // tiny target -> file count scales with estimated bytes
    val est = docs.queryExecution.optimizedPlan.stats.sizeInBytes
    val tiny = Compaction.compactTo(docs, targetBytes = (est / 4).toLong max 1L)
    tiny.write.mode("overwrite").parquet(s"$dir/four")
    assert(partFiles(s"$dir/four") >= 4)
  }

  test("retention: cohort is first day, offsets count whole weeks") {
    val s = spark
    import s.implicits._
    val day = 86400L
    def ts(d: Long) = new java.sql.Timestamp(d * day * 1000L)
    val ev = Seq(
      (1L, "x", ts(0)), (1L, "x", ts(8)),  // week 0 and week 1
      (2L, "x", ts(0)), (2L, "x", ts(3)),  // both inside week 0
      (3L, "x", ts(7)))                    // later cohort, week 0 only
      .toDF("user_id", "event_type", "ts")
    val out = EventAnalytics.retentionCohorts(ev).collect()
      .map(r => (r.getAs[Long]("cohort_sec"), r.getAs[Long]("week_offset"),
        r.getAs[Long]("n_users"))).toSet
    assert(out === Set((0L, 0L, 2L), (0L, 1L, 1L), (7L * day, 0L, 1L)))
  }

  test("quantileDrift: distributed lag equals global lag across window gaps") {
    val s = spark
    import s.implicits._
    def ts(h: Long, m: Long) = new java.sql.Timestamp((h * 3600 + m * 60) * 1000L)
    // hours 0, 1, 3, 4 populated — hour 2 EMPTY, so lag must step over
    // the gap to the previous PRESENT window, the case a naive
    // win_start−1h self-join gets wrong
    val ev = Seq(
      (1L, ts(0, 0), 1.0), (2L, ts(0, 30), 3.0),
      (3L, ts(1, 10), 10.0),
      (4L, ts(3, 5), 2.0), (5L, ts(3, 50), 4.0), (6L, ts(3, 55), 6.0),
      (7L, ts(4, 0), 2.5))
      .toDF("user_id", "ts", "value")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .orderBy("win_start").collect()
      .map(r => (r.getTimestamp(0), r.getDouble(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]), r.getBoolean(4)))
      .toSeq
    val global = rows(EventAnalytics.quantileDrift(ev, threshold = 1.0))
    val dist = forced { rows(EventAnalytics.quantileDrift(ev, threshold = 1.0)) }
    assert(dist === global)
    // value spot-check: hour-3 median 4.0 lags hour-1 median 10.0
    assert(global.map(t => (t._2, t._4)) === Seq(
      (2.0, None), (10.0, Some(8.0)), (4.0, Some(6.0)), (2.5, Some(1.5))))
    assert(global.map(_._5) === Seq(false, true, true, true))
    // a TINY maxGlobalLagWindows bound routes the default path to the
    // distributed lag too — the loud-degradation guard, not one task
    assert(rows(EventAnalytics.quantileDrift(ev, threshold = 1.0,
      maxGlobalLagWindows = 2)) === global)
  }

  test("quantileDrift: sparse span routes on actual windows, not span (r14 #7)") {
    val s = spark
    import s.implicits._
    def ts(h: Long) = new java.sql.Timestamp(h * 3600 * 1000L)
    // 3 populated hourly windows spread over a 1000-hour span: the
    // span bound (~1002) overshoots maxGlobalLagWindows=10, but the
    // ACTUAL window count (3) fits — the bounded distinct probe must
    // keep this on the global lag (observable as a lag() in the plan;
    // the distributed path has no window function at all)
    val ev = Seq((1L, ts(0), 1.0), (2L, ts(500), 2.0), (3L, ts(1000), 3.0))
      .toDF("user_id", "ts", "value")
    val out = EventAnalytics.quantileDrift(ev, threshold = 1.0,
      maxGlobalLagWindows = 10)
    assert(out.queryExecution.analyzed.toString.contains("lag("),
      "sparse feed should route to the global lag")
    assert(out.collect().length === 3)
    // and a genuinely window-dense feed still goes distributed: plan
    // carries the zipWithIndex scan, not a lag window
    val dense = EventAnalytics.quantileDrift(ev, threshold = 1.0,
      maxGlobalLagWindows = 2)
    assert(!dense.queryExecution.analyzed.toString.contains("lag("),
      "3 windows over a bound of 2 must take the distributed lag")
  }

  test("durationSeconds parses window grammar, rejects junk") {
    assert(EventAnalytics.durationSeconds("1 hour") === 3600.0)
    assert(EventAnalytics.durationSeconds("90 seconds") === 90.0)
    assert(EventAnalytics.durationSeconds("1 hour 30 minutes") === 5400.0)
    assert(EventAnalytics.durationSeconds("2 weeks") === 1209600.0)
    // window() accepts an optional "interval" prefix — so must we
    assert(EventAnalytics.durationSeconds("interval 1 hour") === 3600.0)
    intercept[RuntimeException](EventAnalytics.durationSeconds("1 fortnight"))
    intercept[IllegalArgumentException](EventAnalytics.durationSeconds("hour"))
  }

  test("quantileDrift accepts the interval-prefixed duration window() allows") {
    val s = spark
    import s.implicits._
    val ev = Seq((1L, new java.sql.Timestamp(0L), 1.0),
      (2L, new java.sql.Timestamp(3700 * 1000L), 2.0))
      .toDF("user_id", "ts", "value")
    val plain = EventAnalytics.quantileDrift(ev, windowLength = "1 hour")
      .orderBy("win_start").collect().toSeq
    val prefixed = EventAnalytics
      .quantileDrift(ev, windowLength = "interval 1 hour")
      .orderBy("win_start").collect().toSeq
    assert(prefixed === plain && plain.size === 2)
  }

  test("countOverlaps: fractional bounds rank exactly (no long truncation)") {
    val s = spark
    import s.implicits._
    // [1.0, 2.5] vs [2.6, 3.0]: disjoint — a long-truncated rank
    // (we=2, rs=2) would falsely count it; [2.5, 2.5] point touch DOES
    // overlap; negative fractions exercise floor-vs-truncate
    val left = Seq((1L, 1.0, 2.5), (2L, -1.5, -0.5)).toDF("lk", "ls", "le")
    val right = Seq((2.6, 3.0), (2.5, 2.5), (0.5, 1.2), (-0.4, 0.1),
      (-2.0, -1.6)).toDF("rs", "re")
    val got = IntervalJoin.countOverlaps(left, right, "ls", "le", "rs", "re",
        leftKey = "lk")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 1 overlaps (2.5,2.5) and (0.5,1.2); 2 overlaps nothing in range
    // except... (-0.4,0.1) starts after -0.5? rs=-0.4 <= le=-0.5 is
    // FALSE -> no; (-2.0,-1.6) ends before ls=-1.5? re=-1.6 < -1.5 -> no
    assert(got === Map(1L -> 2L))
  }

  test("countOverlaps: 18-digit decimal bounds rank exactly (r14 ADVICE)") {
    val s = spark
    import s.implicits._
    // le and rs differ only at the 18th significant digit: identical
    // as doubles (the old rank currency would count the pair), but
    // rs > le exactly — the pair-level twin never matches them, and
    // the scaled-long rank must agree
    val dec = (c: String) => col(c).cast("decimal(18,6)").as(c)
    val left = Seq((1L, "100.000000", "123456789012.345678"))
      .toDF("lk", "l_s", "l_e")
      .select(col("lk"), dec("l_s"), dec("l_e"))
    val right = Seq(
      ("123456789012.345679", "999999999999.000000"), // exact: disjoint
      ("50.000000", "100.000000")) // point-touch at ls: overlaps
      .toDF("r_s", "r_e").select(dec("r_s"), dec("r_e"))
    val got = IntervalJoin.countOverlaps(left, right, "l_s", "l_e",
        "r_s", "r_e", leftKey = "lk")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L))
    // regime equivalence: the pair-level form agrees
    val pairs = IntervalJoin.overlapJoin(left, right, "l_s", "l_e",
        "r_s", "r_e")
      .groupBy(col("lk")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pairs === got)
  }
}
