package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.embl.FlagshipFixture
import StreamOps.{Session, UserEvent}

class StreamOpsSpec extends AnyFunSuite with SparkSpec {

  private def ts(s: Long): Timestamp = new Timestamp(s * 1000)

  test("windowed counts with watermark run incrementally (memory sink)") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val q = StreamOps.windowedEventCounts(
        in.toDF().toDF("ts", "event_type", "value"),
        watermarkDelay = "5 minutes", windowLength = "1 hour")
      .writeStream.format("memory").queryName("win_counts")
      .outputMode("append").start()
    try {
      in.addData((ts(0), "click", 1.0), (ts(60), "click", 2.0),
        (ts(120), "buy", 5.0))
      q.processAllAvailable()
      // watermark still inside hour 0: nothing finalized yet
      assert(spark.table("win_counts").count() === 0)
      // an event far in the future advances the watermark past hour 0
      in.addData((ts(3600 * 3), "click", 1.0))
      q.processAllAvailable()
      in.addData((ts(3600 * 3 + 1), "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("win_counts")
        .collect().map(r => (r.getTimestamp(0).getTime / 1000,
          r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(rows === Set((0L, "click", 2L, 3.0), (0L, "buy", 1L, 5.0)))
    } finally q.stop()
  }

  test("streaming seen-count sketch: cross-batch grid equals the batch grid bit-for-bit") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    graft.functions.GraftFunctions.ensureRegistered(s)
    // hour 0: user 7 three times, user 8 once; spread over two batches
    val batch1 = Seq((ts(0), 7L), (ts(60), 7L))
    val batch2 = Seq((ts(120), 7L), (ts(180), 8L))
    val in = MemoryStream[(Timestamp, Long)]
    val q = StreamOps.streamingSeenCounts(
        in.toDF().toDF("ts", "user_id"), probeKeys = Seq("7", "8"),
        width = 256, depth = 4,
        watermarkDelay = "5 minutes", windowLength = "1 hour")
      .writeStream.format("memory").queryName("seen_counts")
      .outputMode("append").start()
    try {
      in.addData(batch1)
      q.processAllAvailable()
      in.addData(batch2)
      q.processAllAvailable()
      in.addData(Seq((ts(3600 * 3), 9L))) // advance watermark past hr 0
      q.processAllAvailable()
      in.addData(Seq((ts(3600 * 3 + 1), 9L)))
      q.processAllAvailable()
      val rows = spark.table("seen_counts")
        .filter(col("win_start") === ts(0)).collect()
      assert(rows.length === 1)
      assert(rows(0).getLong(2) === 3L) // n_7
      assert(rows(0).getLong(3) === 1L) // n_8
      // the finalized cross-batch grid IS the batch grid, bit-for-bit
      val batchGrid = (batch1 ++ batch2).toDF("ts", "user_id")
        .agg(expr("graft_cms_agg(graft_hash60(CAST(user_id AS STRING)), 256, 4)"))
        .collect()(0).getAs[Array[Byte]](0)
      assert(java.util.Arrays.equals(
        rows(0).getAs[Array[Byte]]("sketch"), batchGrid))
    } finally q.stop()
  }

  test("streaming rank sketch: cross-batch grid equals the batch " +
      "grid bit-for-bit; ranks exact at collision-free width") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    graft.functions.GraftFunctions.ensureRegistered(s)
    // hour-0 values split over two micro-batches; one out-of-range
    // value (5000 >= 2^12) must be excluded, not kill the query
    val batch1 = Seq((ts(0), 100L), (ts(60), 200L), (ts(90), 5000L))
    val batch2 = Seq((ts(120), 300L), (ts(180), 150L), (ts(240), 100L))
    val in = MemoryStream[(Timestamp, Long)]
    val q = StreamOps.streamingRankSketch(
        in.toDF().toDF("ts", "n_chars"), valueCol = "n_chars",
        probes = Seq(150L, 250L), levels = 12, width = 4096, depth = 4,
        watermarkDelay = "5 minutes", windowLength = "1 hour")
      .writeStream.format("memory").queryName("rank_sketch")
      .outputMode("append").start()
    try {
      in.addData(batch1)
      q.processAllAvailable()
      in.addData(batch2)
      q.processAllAvailable()
      in.addData(Seq((ts(3600 * 3), 1L))) // advance watermark past hr 0
      q.processAllAvailable()
      in.addData(Seq((ts(3600 * 3 + 1), 1L)))
      q.processAllAvailable()
      val rows = spark.table("rank_sketch")
        .filter(col("win_start") === ts(0)).collect()
      assert(rows.length === 1)
      // in-range hour-0 values: 100, 200, 300, 150, 100
      assert(rows(0).getAs[Long]("rank_lt_150") === 2L) // 100, 100
      assert(rows(0).getAs[Long]("rank_lt_250") === 4L) // +150, 200
      // the finalized cross-batch grid IS the batch grid bit-for-bit
      val vals = Seq(100L, 200L, 300L, 150L, 100L)
      val batchGrid = vals.toDF("v")
        .select(org.apache.spark.sql.functions.explode(
          graft.operators.DyadicCms.insertKeys(col("v"), 12)).as("k"))
        .agg(expr("graft_cms_agg(k, 4096, 4)"))
        .collect()(0).getAs[Array[Byte]](0)
      val grid = rows(0).getAs[Array[Byte]]("sketch")
      assert(java.util.Arrays.equals(grid, batchGrid))
      // post-hoc quantiles from the STORED grid, stream long gone:
      // median of {100, 100, 150, 200, 300} is 150
      val qs = graft.operators.DyadicCms.quantiles(
        grid, n = vals.size, qs = Seq(0.5), levels = 12)
      assert(qs.head._2 === 150L)
    } finally q.stop()
  }

  test("streaming JSONL ingest quarantine: the batch operator runs " +
      "unchanged on a stream, verdicts identical across batch splits") {
    // ST15: parseJsonlQuarantine is a pure per-row codegen projection
    // (no shuffle, no state), so it applies to a streaming frame
    // DIRECTLY — this certifies the source-agnostic claim instead of
    // wrapping the operator in a redundant streaming variant
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val lines = Seq(
      """{"doc_id": 1, "text": "ok"}""",
      """{"doc_id": 2, "text": "truncat""", // cut-off feed
      """not json at all""",
      "", // blank trailing line
      """{"doc_id": 5, "text": "also ok"}""")
    val in = MemoryStream[String]
    val q = graft.llm.Ingest.parseJsonlQuarantine(
        in.toDF().toDF("line"), schema)
      .writeStream.format("memory").queryName("jsonl_q")
      .outputMode("append").start()
    try {
      in.addData(lines.take(2))
      q.processAllAvailable()
      in.addData(lines.drop(2))
      q.processAllAvailable()
      val stream = spark.table("jsonl_q").collect()
        .map(r => (Option(r.getString(0)).getOrElse(""),
          r.getBoolean(1))).toSet
      val batch = graft.llm.Ingest.parseJsonlQuarantine(
        lines.toDF("line"), schema).collect()
        .map(r => (Option(r.getString(0)).getOrElse(""),
          r.getBoolean(1))).toSet
      assert(stream === batch)
      assert(stream.count(_._2) === 2) // exactly the two clean rows
    } finally q.stop()
  }

  test("streaming heavy hitters: cross-batch counts finalize exact, late data drops") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val q = StreamOps.streamingHeavyHitters(
        in.toDF().toDF("ts", "token"), capacity = 10,
        watermarkDelay = "5 minutes", windowLength = "1 hour")
      .writeStream.format("memory").queryName("hh")
      .outputMode("append").start()
    try {
      // hour-0 tokens split across TWO micro-batches: the sketch's
      // counter merge must accumulate across them
      in.addData((ts(0), "a"), (ts(10), "a"), (ts(20), "b"))
      q.processAllAvailable()
      in.addData((ts(60), "a"), (ts(70), "b"), (ts(80), "c"))
      q.processAllAvailable()
      assert(spark.table("hh").count() === 0) // window not finalized
      in.addData((ts(3600 * 3), "z")) // advance the watermark
      q.processAllAvailable()
      in.addData((ts(3600 * 3 + 1), "z"))
      q.processAllAvailable()
      val rows = spark.table("hh").collect()
        .filter(_.getTimestamp(0).getTime == 0L)
      assert(rows.length === 1)
      val top = rows.head.getSeq[org.apache.spark.sql.Row](1)
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      // exact regime (capacity > distincts): finalized counts exact,
      // est DESC with item-ASC ties, zero error
      assert(top === Seq(("a", 3L, 0L), ("b", 2L, 0L), ("c", 1L, 0L)))
    } finally q.stop()
  }

  test("streaming distinct-user sketch: cross-batch state equals the batch fixpoint") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val q = StreamOps.streamingDistinctUsers(
        in.toDF().toDF("ts", "user_id"), p = 8,
        watermarkDelay = "5 minutes", windowLength = "1 hour")
      .writeStream.format("memory").queryName("du")
      .outputMode("append").start()
    try {
      // hour-0 users split across TWO micro-batches, with repeats:
      // the register max-merge must accumulate across them
      in.addData((ts(0), 1L), (ts(10), 2L), (ts(20), 1L))
      q.processAllAvailable()
      in.addData((ts(60), 3L), (ts(70), 2L), (ts(80), 4L))
      q.processAllAvailable()
      assert(spark.table("du").count() === 0) // window not finalized
      in.addData((ts(3600 * 3), 99L)) // advance the watermark
      q.processAllAvailable()
      in.addData((ts(3600 * 3 + 1), 99L))
      q.processAllAvailable()
      val got = spark.table("du").collect()
        .filter(_.getTimestamp(0).getTime == 0L)
      assert(got.length === 1)
      // the fixpoint: the SAME function over the combined batch frame
      val expect = StreamOps.streamingDistinctUsers(
          Seq((ts(0), 1L), (ts(10), 2L), (ts(20), 1L), (ts(60), 3L),
            (ts(70), 2L), (ts(80), 4L)).toDF("ts", "user_id"), p = 8)
        .collect().filter(_.getTimestamp(0).getTime == 0L)
      assert(got.head.getDouble(1) === expect.head.getDouble(1))
      assert(got.head.getInt(2) === expect.head.getInt(2))
      // 4 distinct users can zero out at most 4 of the 256 registers
      assert(got.head.getInt(2) >= 252 && got.head.getInt(2) < 256)
    } finally q.stop()
  }

  test("streaming heavy hitters: EVICTION regime recovers the planted top-4 in order") {
    // q125's planted-gap construction at stream scale: 4 heavy tokens
    // (80/60/40/20) + 18 singleton tail tokens, capacity 16 < 22
    // distinct — eviction runs in every partial, and the micro-batch
    // MERGES exercise the mergeable-summaries combine under eviction
    // (absent-side minimum absorption), not just the exact regime.
    // Bound: total n/m = 218/16 ≈ 13.6 < the 20-count gap between
    // heavies, so membership AND order of the top-4 are guaranteed
    // for ANY batch split.
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val q = StreamOps.streamingHeavyHitters(
        in.toDF().toDF("ts", "token"), capacity = 16,
        watermarkDelay = "5 minutes", windowLength = "1 hour")
      .writeStream.format("memory").queryName("hh_evict")
      .outputMode("append").start()
    try {
      val truth = Map("h1" -> 80, "h2" -> 60, "h3" -> 40, "h4" -> 20)
      val items = truth.toSeq.flatMap { case (k, n) => Seq.fill(n)(k) } ++
        (0 until 18).map(i => f"t$i%02d")
      val stream = scala.util.Random
        .javaRandomToRandom(new java.util.Random(7)).shuffle(items)
        .zipWithIndex.map { case (tok, i) => (ts(i % 3000), tok) }
      // three micro-batches: partial sketches must merge under eviction
      stream.grouped((stream.size + 2) / 3).foreach { batch =>
        in.addData(batch: _*)
        q.processAllAvailable()
      }
      in.addData((ts(3600 * 3), "zz"))
      q.processAllAvailable()
      in.addData((ts(3600 * 3 + 1), "zz"))
      q.processAllAvailable()
      val rows = spark.table("hh_evict").collect()
        .filter(_.getTimestamp(0).getTime == 0L)
      assert(rows.length === 1)
      val top = rows.head.getSeq[org.apache.spark.sql.Row](1)
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      assert(top.size === 16) // saturated: eviction genuinely ran
      assert(top.take(4).map(_._1) === Seq("h1", "h2", "h3", "h4"))
      top.take(4).foreach { case (k, est, err) =>
        val t = truth(k).toLong
        assert(est >= t && est - err <= t, s"$k: est=$est err=$err true=$t")
      }
      // bounded-state tripwire (state grows with open windows, not with
      // stream length): state is ONE sketch row per open window — never
      // a row per token or per event. 22 distinct tokens and 3
      // micro-batches ran through 2 open windows (hour 0 and the hour-3
      // advancer).
      val st = q.lastProgress.stateOperators.head
      assert(st.numRowsTotal <= 2,
        s"per-window sketch state leaked: ${st.numRowsTotal} rows")
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionizer closes sessions across batches") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val in = MemoryStream[UserEvent]
    val q = StreamOps.sessionize(in.toDS(), gapSeconds = 1800)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      // user 1: two events 10 min apart (one session, still open)
      in.addData(UserEvent(1L, ts(0), "click"), UserEvent(1L, ts(600), "click"))
      q.processAllAvailable()
      assert(spark.table("sessions").count() === 0) // nothing closed yet
      // a later event proves a >30min gap: the first session closes
      in.addData(UserEvent(1L, ts(600 + 1801), "click"))
      q.processAllAvailable()
      val got = spark.table("sessions").as[Session].collect().toSeq
      assert(got === Seq(Session(1L, ts(0), ts(600), 2L)))
    } finally q.stop()
  }

  test("streaming exact dedup drops in-watermark duplicates across batches") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val in = MemoryStream[(Long, Timestamp, String)]
    val q = StreamOps.streamingExactDedup(
        in.toDF().toDF("doc_id", "ts", "text"), watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      // timestamps must sit above the initial watermark (epoch 0), or
      // the first events are discarded as late
      in.addData((1L, ts(10000), "same text"), (2L, ts(10030), "other text"))
      q.processAllAvailable()
      in.addData((3L, ts(10060), "same text")) // dup of doc 1, within watermark
      q.processAllAvailable()
      val ids = spark.table("dedup_stream")
        .collect().map(_.getAs[Long]("doc_id")).toSet
      assert(ids === Set(1L, 2L)) // doc 3 deduplicated away
    } finally q.stop()
  }

  test("streaming near-dedup drops fingerprint dups; short docs pass through") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val in = MemoryStream[(Long, Timestamp, String)]
    val q = StreamOps.streamingNearDedup(
        in.toDF().toDF("doc_id", "ts", "text"),
        shingleK = 5, watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName("neardedup_stream")
      .outputMode("append").start()
    try {
      val base = "the quick brown fox jumps over the lazy dog today"
      in.addData((1L, ts(10000), base), (2L, ts(10030), "tiny"))
      q.processAllAvailable()
      // doc 3 shares doc 1's minimum 5-gram (identical text): near-dup
      in.addData((3L, ts(10060), base), (4L, ts(10090), "also small"))
      q.processAllAvailable()
      val ids = spark.table("neardedup_stream")
        .collect().map(_.getAs[Long]("doc_id")).toSet
      assert(ids === Set(1L, 2L, 4L)) // 3 deduped; <5-token docs kept
    } finally q.stop()
  }

  test("streaming fingerprint column equals the batch window formulation") {
    val s = spark
    import s.implicits._
    // the streaming path hashes via one column expression; the batch
    // path via window leads — same tokens, coefs, mod: same values
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta"),
      (2L, "one two three four five"),
      (3L, "the quick brown fox jumps over the lazy dog"),
      (4L, "too short")).toDF("doc_id", "text")
    val streaming = docs.select(col("doc_id"),
        graft.llm.TextFns.fingerprint(col("text"), 5).as("fp"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    // batch fingerprints via the pair generator's internal table: two
    // identical docs always pair, exposing the batch fp value
    val doubled = docs.unionByName(docs.withColumn("doc_id", col("doc_id") + 100))
    val batch = graft.llm.TextDedup.fingerprintPairs(doubled, shingleK = 5)
      .filter(col("db") === col("da") + 100)
      .collect().map(r => r.getLong(0) -> Some(r.getLong(2))).toMap
    assert(streaming(4L) === None)
    assert(batch.keySet === Set(1L, 2L, 3L))
    batch.foreach { case (id, fp) => assert(streaming(id) === fp, s"doc $id") }
  }

  test("stream-stream attribution join matches in-window signups only") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val pur = MemoryStream[(Long, Timestamp, Double)]
    val sgn = MemoryStream[(Long, Timestamp)]
    val q = StreamOps.streamStreamAttribution(
        pur.toDF().toDF("user_id", "p_ts", "value"),
        sgn.toDF().toDF("user_id", "s_ts"),
        windowSeconds = 3600, watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName("attrib")
      .outputMode("append").start()
    try {
      // signups arrive in one batch, purchases in a LATER one: the
      // join must buffer signup state across micro-batches
      sgn.addData((1L, ts(10000)), (2L, ts(10000)))
      q.processAllAvailable()
      pur.addData(
        (1L, ts(10000 + 1800), 5.0), // in window -> matches
        (1L, ts(10000 + 7200), 7.0), // past the hour -> no match
        (2L, ts(10000 - 100), 9.0), // before signup -> no match
        (3L, ts(10000 + 60), 2.0)) // user never signed up -> no match
      q.processAllAvailable()
      val got = spark.table("attrib")
        .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Double]("value")))
        .toSet
      assert(got === Set((1L, 5.0)))
    } finally q.stop()
  }

  test("stream-stream attribution rejects clashing non-key column names") {
    val s = spark
    import s.implicits._
    val pur = Seq((1L, ts(0), 1.0)).toDF("user_id", "p_ts", "value")
    val sgn = Seq((1L, ts(0), 2.0)).toDF("user_id", "s_ts", "value")
    val e = intercept[IllegalArgumentException] {
      StreamOps.streamStreamAttribution(pur, sgn)
    }
    assert(e.getMessage.contains("value"), e.getMessage)
  }

  test("streaming contamination gate equals the batch bloom keep set across batch splits") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // leaks 'beta gamma delta'
      (2L, "one two three four five six"),         // leaks 'three four five'
      (3L, "totally unrelated clean content words here"),
      (4L, "more clean text nothing shared at all"),
      (5L, "short"))
    val eval = Seq(
      (100L, "beta gamma delta"),
      (101L, "three four five")).toDF("doc_id", "text")
    // the filter builds ONCE, batch-side; the stream probes it forever
    val probe = graft.llm.Decontaminate
      .buildGramBloomProbe(eval, shingleK = 3, numBits = 1 << 16)

    val kept = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    val in = MemoryStream[(Long, String)]
    val q = StreamOps.streamingContaminationGate(
      in.toDF().toDF("doc_id", "text"), probe, shingleK = 3,
      maxOverlap = 0.0) { (batch, _) =>
      kept ++= batch.collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("overlap")))
    }
    try {
      in.addData(corpus.take(2)) // contaminated docs in batch 1
      q.processAllAvailable()
      in.addData(corpus.drop(2)) // clean docs in batch 2
      q.processAllAvailable()
    } finally q.stop()

    val batchKeep = graft.llm.Decontaminate
      .bloomDecontaminate(corpus.toDF("doc_id", "text"), eval,
        shingleK = 3, maxOverlap = 0.0, numBits = 1 << 16)
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toSet
    assert(kept.toSet === batchKeep)
    assert(!kept.map(_._1).contains(1L) && !kept.map(_._1).contains(2L))
    assert(kept.map(_._1).toSet === Set(3L, 4L, 5L))
  }

  test("streaming ANN probe equals the batch probe on the same queries") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val emb = s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val (cent, cells) = graft.llm.Similarity.ivfTrain(emb, dims = 64)
    val queryRows = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .as[(Long, Seq[Float])].collect()

    val results = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long)]
    val in = MemoryStream[(Long, Seq[Float])]
    val q = StreamOps.streamingAnnProbe(
      in.toDF().toDF("query_id", "qv"), cent, cells, nProbe = 2, k = 3) {
      (batchResult, _) =>
        results ++= batchResult.collect()
          .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rnk"),
            r.getAs[Long]("vec_id")))
    }
    try {
      in.addData(queryRows.take(2).toSeq) // two micro-batches
      q.processAllAvailable()
      in.addData(queryRows.drop(2).toSeq)
      q.processAllAvailable()
    } finally q.stop()

    val batch = graft.llm.Similarity.ivfProbe(cent, cells,
      emb.filter(col("vec_id") < 4)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv")),
      nProbe = 2, k = 3)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rnk"),
        r.getAs[Long]("vec_id"))).toSet
    assert(results.toSet === batch)
  }

  test("streaming HNSW probe equals the batch probe on the same queries") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val emb = s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // static sharded index, persisted + reloaded — the serving lifecycle
    val dir = java.nio.file.Files.createTempDirectory("hnsw_serve").toString
    graft.llm.Hnsw.writeHnswIndex(
      graft.llm.Hnsw.hnswIndex(emb.repartition(3), m = 8, efConstruction = 64),
      dir)
    val index = graft.llm.Hnsw.readHnswIndex(s, dir).localCheckpoint()
    val queryRows = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .as[(Long, Seq[Float])].collect()

    val results = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long)]
    val in = MemoryStream[(Long, Seq[Float])]
    val q = StreamOps.streamingHnswProbe(
      in.toDF().toDF("query_id", "qv"), index, k = 5, ef = 64) {
      (batchResult, _) =>
        results ++= batchResult.collect()
          .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rnk"),
            r.getAs[Long]("vec_id")))
    }
    try {
      in.addData(queryRows.take(2).toSeq) // two micro-batches
      q.processAllAvailable()
      in.addData(queryRows.drop(2).toSeq)
      q.processAllAvailable()
    } finally q.stop()

    val batch = graft.llm.Hnsw.hnswProbe(index,
      emb.filter(col("vec_id") < 4)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv")),
      k = 5, ef = 64)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rnk"),
        r.getAs[Long]("vec_id"))).toSet
    assert(results.toSet === batch)
    graft.operators.Checkpoints.release(index)
  }

  test("corpus digest runs incrementally: every prefix of micro-batches " +
      "equals that prefix's batch digest (ST8)") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    // XOR is the rare digest whose aggregation STATE is the digest —
    // Curation.corpusDigest plans unchanged under readStream in
    // complete mode (agg -> sort), each micro-batch folding in with no
    // rescan. This pins the incremental semantics the batch oracle
    // (q98) cannot see.
    val in = MemoryStream[(Long, String, String)]
    val q = graft.llm.Curation
      .corpusDigest(in.toDF().toDF("doc_id", "text", "source"))
      .writeStream.format("memory").queryName("stream_digest")
      .outputMode("complete").start()
    def streamed() = spark.table("stream_digest").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    def batch(rows: Seq[(Long, String, String)]) = graft.llm.Curation
      .corpusDigest(rows.toDF("doc_id", "text", "source")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val b1 = Seq((1L, "alpha beta", "s1"), (2L, "gamma", "s1"),
      (3L, "delta epsilon zeta", "s2"))
    val b2 = Seq((4L, "eta theta", "s1"), (5L, "iota", "s3"))
    try {
      in.addData(b1: _*)
      q.processAllAvailable()
      assert(streamed() === batch(b1)) // prefix 1
      in.addData(b2: _*)
      q.processAllAvailable()
      assert(streamed() === batch(b1 ++ b2)) // prefix 2: s1 xor-merged
    } finally q.stop()
  }

  test("streaming EMBL ingest matches the batch segmentation") {
    val s = spark
    import s.implicits._
    val root = FlagshipFixture.ensureFixture()
    val q = StreamOps.streamLoci(spark, Seq(root.toString))
      .writeStream.format("memory").queryName("stream_loci")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination(60000) finally q.stop()
    val got = spark.table("stream_loci")
      .collect().map(r => (r.getAs[String]("ena_id"), r.getAs[Int]("locus_idx")))
      .sorted.toSeq
    assert(got === Seq(("CIRC01", 1), ("CIRC01", 2), ("FUN01", 1), ("WGS01", 1)))
  }
}
