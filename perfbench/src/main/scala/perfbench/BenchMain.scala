package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.{EnaMain, SparkEntry}
import graft.embl.{EnaPipeline, LocusRow, SegMetrics}
import graft.operators.Checkpoints

/** One benchmark run in one JVM: generate the workload's inputs from
  * the seed, set up, then time ENA builds interleaved with passes over
  * the curation query suite (`--trace 0`), or decompose both into
  * layers under a job-group listener (`--trace 1`).
  *
  * Prints, as its last stdout line, one JSON object with `metrics`,
  * `attempted`, `failed`, the context `record`, and the query results
  * left for the DuckDB oracle compare that `run.py` performs.
  */
object BenchMain {
  /** Corpus shape per workload: the same EMBL record mix packed into
    * few large files or many small ones. The bulk idmapping stays above
    * `EnaMain`'s 1 M-row cap, so the shuffle regime is chosen; the
    * small-files one holds about 1.6 rows per locus, as a real release
    * does, so resolve stays a small share of that build. */
  val Shapes: Map[String, EnaShape] = Map(
    "ena_bulk" -> EnaShape(files = 8, recordsPerFile = 1500, decoyMappings = 1100000L),
    "ena_small_files" -> EnaShape(files = 1200, recordsPerFile = 8, decoyMappings = 6800L))

  /** `EnaMain.main`'s default regime caps. */
  val BroadcastMaxRows = 1000000L
  val BroadcastMaxBytes: Long = 256L << 20

  /** Documents-only queries: q72 is the curation flagship (sampling,
    * decontamination, dedup, quality, packing, `Checkpoints` fences),
    * q30 the MinHash shingle family, q27 a light exact dedup and q137 a
    * `functions/` aggregate (HLL). */
  val SuiteQueries: Seq[String] = Seq(
    "q72_curation_flagship", "q30_minhash_lsh_pairs", "q27_exact_dedup", "q137_hll_vocab")
  val Docs = 1500

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: File, scale: Double)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", new File(need("work")), m.getOrElse("scale", "1").toDouble)
    require(Shapes.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds > 0 && a.scale > 0, "seconds and scale must be positive")
    a
  }

  /** Driver heap still live once the run's cached blocks are released:
    * full collections repeated until the context cleaner has dropped
    * what the collections freed, and the lowest reading kept. */
  private def retainedHeapMb(spark: SparkSession): Double = {
    Checkpoints.releaseLeaked(spark)
    (0 until 4).map { _ =>
      System.gc()
      Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min
  }

  /** The row count and id payload `chooseBroadcastRegime` decides on,
    * read with the same aggregate over the same `limit`. */
  private def probeValues(idmapping: DataFrame): (Long, Long) = {
    val row = idmapping.limit(BroadcastMaxRows.toInt + 1)
      .agg(count(lit(1)), coalesce(sum(
        octet_length(col("foreign_id")).cast("long") +
          octet_length(col("uniprot_id")).cast("long")), lit(0L)))
      .head()
    (row.getLong(0), row.getLong(1))
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val a = parse(argv)
    EnaCorpus.checkRoot(a.work)
    val cpus = Runtime.getRuntime.availableProcessors
    val base = EnaShapes.scaled(Shapes(a.workload), a.scale)
    val docsN = math.max(200, (Docs * a.scale).toInt)

    // inputs, generated fresh from the seed before the session starts,
    // so that no generator thread runs during the set-up setup_s times
    val enaRoot = new File(a.work, "ena").toPath
    val docsDir = new File(a.work, "docs").getAbsolutePath
    val genT0 = System.nanoTime()
    val expected = EnaCorpus.generate(enaRoot, a.seed, base, cpus)
    val docsBytes = DocsCorpus.generate(new File(docsDir).toPath, a.seed, docsN, 4)
    val genS = (System.nanoTime() - genT0) / 1e9
    var phaseT0 = System.nanoTime()

    // EnaMain's session: local[cpus], cpus shuffle partitions, AQE on,
    // Kryo. The codegen cache size is Bench's (a static conf, so it has
    // to be set on the shared context).
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("ena-build")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", new File(a.work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").getAbsolutePath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(a.work, "tmp").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("OFF")
    val sc = spark.sparkContext

    val roots = Seq(EnaCorpus.corpusRoot(enaRoot))
    val outDir = new File(a.work, "out")

    // Bench's harness session for the query suite: AQE off, 64 KiB
    // open cost, shuffle partitions sized from the input bytes.
    val llm = spark.newSession()
    val shuffleParts = math.max(2, math.min(cpus, (docsBytes / (4L << 20)).toInt))
    llm.conf.set("spark.sql.shuffle.partitions", shuffleParts.toString)
    llm.conf.set("spark.sql.adaptive.enabled", "false")
    llm.conf.set("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
    llm.conf.set("spark.sql.files.openCostInBytes", "65536")
    llm.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.functions.GraftFunctions.ensureRegistered(llm)
    val order = new Random(a.seed).shuffle(SuiteQueries)

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val record = mutable.LinkedHashMap.empty[String, String]
    val phases = mutable.LinkedHashMap.empty[String, Double]
    def phase(name: String): Unit = {
      val t = System.nanoTime()
      phases(name) = (t - phaseT0) / 1e9
      phaseT0 = t
    }
    phases("generate") = genS
    var attempted = 0L
    var failed = 0L
    val problems = mutable.ArrayBuffer.empty[String]

    val segMetrics = Some(SegMetrics(sc))
    val idmapping = EnaMain.readIdmapping(spark, EnaCorpus.idmappingPath(enaRoot))
    def build(broadcast: Boolean, dir: File): Unit = EnaPipeline.writeTsv(
      EnaPipeline.enaTab(spark, roots, idmapping, broadcastIdMap = broadcast,
        metrics = segMetrics), dir.getAbsolutePath)
    def checkOutput(dir: File, what: String): OutputCheck.Observed = {
      val o = OutputCheck.read(dir)
      val ok = o.rows == expected.rows && o.resolvedLoci == expected.mappedLoci &&
        o.digest == expected.digest
      if (!ok) problems += s"$what: rows ${o.rows}/${expected.rows} " +
        s"resolved ${o.resolvedLoci}/${expected.mappedLoci} digest ${o.digest}/${expected.digest}"
      o
    }
    def runQuery(name: String): Double = {
      val t0 = System.nanoTime()
      noop(SparkEntry.queries(name)(llm, docsDir))
      val s = (System.nanoTime() - t0) / 1e9
      Checkpoints.releaseLeaked(llm)
      s
    }
    val mb = 1e6
    val broadcast = EnaMain.chooseBroadcastRegime(idmapping, BroadcastMaxRows, BroadcastMaxBytes)
    phase("session_and_probe")
    // Warm-up, part of set-up: one build and one suite pass, with the
    // build, q72 and the other queries side by side since the warm-up
    // only compiles and JITs their code paths. The pass writes each
    // query's rows for the oracle compare run.py makes; the blocks its
    // queries pin are released once all have finished.
    val results = new File(a.work, "results")
    def warmUp(): Unit = {
      def write(qs: Seq[String]): Unit = qs.foreach { q =>
        SparkEntry.queries(q)(llm, docsDir).write.mode("overwrite")
          .parquet(new File(results, q).getAbsolutePath)
      }
      val (flagship, rest) = order.partition(_ == "q72_curation_flagship")
      val side = Seq(new Thread(() => build(broadcast, outDir)),
        new Thread(() => write(flagship)))
      side.foreach(_.start())
      write(rest)
      // the lighter queries run a second time while the flagship, the
      // slowest to compile, finishes
      rest.foreach(q => noop(SparkEntry.queries(q)(llm, docsDir)))
      side.foreach(_.join())
      Checkpoints.releaseLeaked(llm)
      phase("warm_up")
    }

    if (!a.trace) {
      warmUp()
      val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - genS

      // timed window: suite passes alternating with builds, at least two
      // of each, until `seconds` have passed
      val builds = mutable.ArrayBuffer.empty[Double]
      val qTimes = mutable.LinkedHashMap(order.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
      val w0 = System.nanoTime()
      def elapsed = (System.nanoTime() - w0) / 1e9
      while (qTimes(order.head).size < 2 || elapsed < a.seconds) {
        order.foreach { q => attempted += 1; qTimes(q) += runQuery(q) }
        if (builds.size < 2 || elapsed < a.seconds) {
          val t0 = System.nanoTime()
          attempted += 1
          build(broadcast, outDir)
          builds += (System.nanoTime() - t0) / 1e9
          if (checkOutput(outDir, s"build ${builds.size}").digest != expected.digest) failed += 1
        }
      }
      phase("window")
      val heapMb = retainedHeapMb(llm)

      // best of the window's samples, as Bench reports: the first timed
      // samples still carry JIT warm-up, and a slow sample is the box,
      // not the plan
      val perQuery = qTimes.map { case (q, ts) => q -> ts.min }
      val buildS = builds.min
      metrics("setup_s") = (setupS, "s")
      metrics("build_s") = (buildS, "s")
      metrics("build_gz_mb_s_per_core") = (expected.gzBytes / mb / buildS / cpus, "MB/s")
      metrics("suite_s") = (perQuery.values.sum, "s")
      metrics("suite_geomean_ms") =
        (math.exp(perQuery.values.map(v => math.log(v * 1000)).sum / perQuery.size), "ms")
      metrics("q72_s") = (perQuery("q72_curation_flagship"), "s")
      metrics("retained_heap_mb") = (heapMb, "MB")
      record("builds") = builds.map(Json.num).mkString("[", ",", "]")
      record("query_s") = Json.obj(qTimes.toSeq.map { case (q, ts) =>
        q -> ts.map(Json.num).mkString("[", ",", "]") })
      record("query_runs") = qTimes.head._2.size.toString
    } else {
      warmUp()
      val listener = new LayerListener
      sc.addSparkListener(listener)
      val tracer = new Tracer(sc, Some(listener))
      val plain = new Tracer(sc, None)

      val layer = mutable.LinkedHashMap.empty[String, Double]
      tracer.span("ena") {
        val (text, listSpan) = tracer.span("ena.list")(spark.read
          .option("recursiveFileLookup", "true")
          .option("pathGlobFilter", "*.dat.gz")
          .text(roots: _*))
        layer("ena.list_s") = listSpan.seconds
        layer("ena.list.files") = text.inputFiles.length
        // readLoci's scan and prune, materialized as segmentation's input
        val pruned = text.select(input_file_name().as("file_path"), col("value"))
          .filter(!col("file_path").rlike("sequence.*/") ||
            col("file_path").rlike(EnaPipeline.DivisionTokenRegex))
          .persist(StorageLevel.MEMORY_AND_DISK)
        layer("ena.scan_s") = tracer.time("ena.scan")(pruned.count())
        layer("ena.scan.tasks") = listener.get("ena.scan").tasks
        layer("ena.scan.lines") = listener.get("ena.scan").inputRecords

        val loci: Dataset[LocusRow] = EnaPipeline.segmentLines(spark, pruned, segMetrics)
          .persist(StorageLevel.MEMORY_AND_DISK)
        val (nLoci, segSpan) = tracer.span("ena.segment")(loci.count())
        val segS = segSpan.seconds
        pruned.unpersist()
        layer("ena.segment_s") = segS
        layer("ena.segment.loci") = nLoci
        layer("ena.segment.mb_s_per_core") = expected.gzBytes / mb / segS / cpus
        layer("ena.segment.gc_s") = listener.get("ena.segment").gcMs / 1e3
        attempted += 1
        if (nLoci != expected.loci) {
          failed += 1
          problems += s"segment: loci $nLoci/${expected.loci}"
        }

        layer("ena.dsv2_segment_s") = tracer.time("ena.dsv2")(
          noop(spark.read.format("embl").load(roots: _*)))
        layer("ena.dsv2.tasks") = listener.get("ena.dsv2").tasks

        val (chosen, probeSpan) = tracer.span("ena.probe")(
          EnaMain.chooseBroadcastRegime(idmapping, BroadcastMaxRows, BroadcastMaxBytes))
        layer("ena.probe_s") = probeSpan.seconds
        layer("ena.probe.broadcast") = if (chosen) 1 else 0

        def resolve(bc: Boolean, name: String): (DataFrame, Long, Double) = {
          // inside the span: the broadcast regime collects its map while
          // the plan is built
          val ((r, n), s) = tracer.span(name) {
            val r = EnaPipeline.resolveIds(loci, idmapping, bc).persist(StorageLevel.MEMORY_AND_DISK)
            (r, r.count())
          }
          (r, n, s.seconds)
        }
        val (rb, nb, sb) = resolve(bc = true, "ena.resolve_broadcast")
        val (rs, ns, ss) = resolve(bc = false, "ena.resolve_shuffle")
        layer("ena.resolve_broadcast_s") = sb
        layer("ena.resolve_shuffle_s") = ss
        layer("ena.resolve.shuffle_mb") = listener.get("ena.resolve_shuffle").shuffleWriteBytes / mb
        attempted += 1
        if (nb != expected.rows || ns != expected.rows) {
          failed += 1
          problems += s"resolve: rows broadcast $nb shuffle $ns expected ${expected.rows}"
        }
        val (resolved, other) = if (chosen) (rb, rs) else (rs, rb)
        layer("ena.sink_s") = tracer.time("ena.sink")(
          EnaPipeline.writeTsv(resolved, outDir.getAbsolutePath))
        layer("ena.sink.rows") = if (chosen) nb else ns
        layer("ena.sink.tasks") = listener.get("ena.sink").tasks
        attempted += 1
        val o = checkOutput(outDir, "traced sink")
        if (o.digest != expected.digest) failed += 1
        // the regime not chosen must commit the same rows
        val otherDir = new File(a.work, "out_other_regime")
        EnaPipeline.writeTsv(other, otherDir.getAbsolutePath)
        attempted += 1
        if (checkOutput(otherDir, "other regime").digest != expected.digest) failed += 1
        Seq(rb, rs, loci).foreach(_.unpersist())
        layer("ena.resolve.resolved_frac") = o.resolvedLoci.toDouble / nLoci
      }

      val docs = llm.read.parquet(s"$docsDir/documents.parquet")
        .persist(StorageLevel.MEMORY_AND_DISK)
      docs.count()
      tracer.span("cur")(graft.llm.BenchLayers.curation(docs, tracer))._1
        .foreach { case (k, v) => layer(k) = v }
      tracer.span("shingle")(graft.llm.BenchLayers.shingle(docs, tracer))._1
        .foreach { case (k, v) => layer(k) = v }
      docs.unpersist()
      Checkpoints.releaseLeaked(llm)

      tracer.span("suite") {
        order.foreach { q => attempted += 1; tracer.span(s"suite.$q")(runQuery(q)) }
      }
      val suite = listener.sum("suite.")
      layer("suite.jobs") = suite.jobs
      layer("suite.tasks") = suite.tasks
      layer("suite.shuffle_mb") = suite.shuffleWriteBytes / mb
      layer("suite.gc_s") = suite.gcMs / 1e3
      layer("q72.jobs") = listener.get("suite.q72_curation_flagship").jobs

      // tracing overhead: builds without and with the listener and job
      // groups, in the order off, on, on, off so that neither side runs
      // only on warmer caches, compared by their means. One untimed build
      // first, so that neither side carries the switch from the layers.
      sc.removeSparkListener(listener)
      build(broadcast, outDir)
      val overhead = Seq(false, true, true, false).map { traced =>
        if (!traced) traced -> plain.time("overhead.off")(build(broadcast, outDir))
        else {
          sc.addSparkListener(listener)
          try traced -> tracer.time("overhead.on")(build(broadcast, outDir))
          finally sc.removeSparkListener(listener)
        }
      }
      layer("trace.overhead_frac") =
        overhead.collect { case (true, t) => t }.sum /
          overhead.collect { case (false, t) => t }.sum - 1
      layer.foreach { case (k, v) =>
        metrics(k) = (v, PerLayerUnits.unit(k))
      }
      val traceFile = new File(a.work, "trace.json")
      java.nio.file.Files.writeString(traceFile.toPath, Json.obj(Seq(
        "spans" -> tracer.spansJson,
        "listener" -> listener.toJson)))
      record("trace_file") = Json.str(traceFile.getAbsolutePath)
    }

    // context, measured outside every timed region
    record("workload") = Json.str(a.workload)
    record("seed") = a.seed.toString
    record("trace") = (if (a.trace) "1" else "0")
    record("cpus") = cpus.toString
    record("master") = Json.str(sc.master)
    record("corpus") = Json.obj(Seq(
      "files" -> expected.files.toString,
      "pruned_files" -> expected.prunedFiles.toString,
      "gz_bytes" -> expected.gzBytes.toString,
      "text_bytes" -> expected.textBytes.toString,
      "records" -> expected.records.toString,
      "expected_loci" -> expected.loci.toString,
      "expected_mapped_loci" -> expected.mappedLoci.toString,
      "expected_rows" -> expected.rows.toString,
      "idmapping_rows" -> expected.idmappingRows.toString,
      "documents" -> docsN.toString,
      "documents_bytes" -> docsBytes.toString))
    val (probeRows, probePayload) = probeValues(idmapping)
    record("regime") = Json.obj(Seq(
      "chosen" -> Json.str(if (broadcast) "broadcast" else "shuffle"),
      "probe_rows" -> probeRows.toString,
      "probe_payload_bytes" -> probePayload.toString,
      "max_rows" -> BroadcastMaxRows.toString,
      "max_bytes" -> BroadcastMaxBytes.toString))
    phase("tail")
    record("calibration") = Calibration.measure(spark)
    phase("calibration")
    record("query_order") = order.map(Json.str).mkString("[", ",", "]")
    record("problems") = problems.map(Json.str).mkString("[", ",", "]")

    val oracle = Json.obj(order.map(q => q -> Json.str(SparkEntry.oracleSql(q))))
    record("phase_s") = Json.obj(phases.toSeq.map { case (k, v) => k -> Json.num(v) })

    val metricsJson = Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })
    println(Json.obj(Seq(
      "metrics" -> metricsJson,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "runs_per_query" -> record.getOrElse("query_runs", "1"),
      "record" -> Json.obj(record.toSeq),
      "oracle" -> Json.obj(Seq(
        "documents" -> Json.str(s"$docsDir/documents.parquet"),
        "results" -> Json.str(results.getAbsolutePath),
        "sql" -> oracle)))))
    spark.stop()
  }
}

/** Scales a corpus shape for the self-test. */
object EnaShapes {
  def scaled(s: EnaShape, f: Double): EnaShape =
    if (f == 1.0) s
    else EnaShape(math.max(4, (s.files * math.sqrt(f)).toInt),
      math.max(4, (s.recordsPerFile * math.sqrt(f)).toInt),
      (s.decoyMappings * f).toLong)
}

/** Units of the per-layer metrics, by name. */
object PerLayerUnits {
  def unit(name: String): String =
    if (name.endsWith("_s")) "s"
    else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("mb_s_per_core")) "MB/s"
    else if (name.endsWith("_frac") || name.endsWith("precision")) "fraction"
    else if (name.endsWith("broadcast")) "bool"
    else "count"
}

/** Fixed-work anchors that normalize box drift between sessions: a
  * pure-CPU loop and one tiny fixed shuffle. */
object Calibration {
  def measure(spark: SparkSession): String = {
    def secs(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    var sink = 0L
    val cpu = secs {
      var x = 88172645463325252L
      var i = 0
      while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      sink += x
    }
    val shuffle = secs {
      spark.range(0, 200000, 1, 4).groupBy((col("id") % 1000).as("k")).count().collect()
    }
    Json.obj(Seq("cpu_loop_s" -> Json.num(cpu), "tiny_shuffle_s" -> Json.num(shuffle),
      "checksum" -> (sink & 0xff).toString))
  }
}
