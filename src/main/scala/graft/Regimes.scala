package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.operators.Checkpoints

/** Every small-or-distributed decision of a DUAL-REGIME operator, in
  * one place: one force gate and the probes it gates.
  *
  * [[forceDistributed]] pins every value-identical pair to its
  * large-scale (distributed) form, so the full DuckDB oracle gate
  * hash-certifies the 100 TB plans and not just the small-input fast
  * paths. It is activated by `SPARK_GRAFT_FORCE_DISTRIBUTED=1` (env,
  * what the driver/gate sets) or `-Dspark.graft.forceDistributed=true`
  * (system property, what in-JVM tests toggle), and read PER CALL, so
  * one JVM can run both regimes back to back (the regime-equivalence
  * specs do). Only this object and `Verify`'s banner read it.
  *
  *  - [[small]] is the gate: false, without evaluating its probe, when
  *    the flag is on. Its users: [[graft.operators.Percentiles]]'s
  *    single-window-or-two-phase rank (through the `singleWindow`
  *    argument of `groupedExact`, which q116's
  *    [[graft.llm.Dsir.importanceSelect]] and q118's
  *    [[graft.llm.Similarity.centroidOutliers]] size on a cheap scan)
  *    and its literal-or-broadcast bounds,
  *    [[graft.operators.EventAnalytics]]`.quantileDrift`'s median and
  *    lag forms, and the file-byte switches of q49, q50 and q58 in
  *    [[graft.queries.QueryPackExt]].
  *  - [[boundedRows]] is the decision of the six operators whose small
  *    form is a bounded driver collect, behind the same gate:
  *    [[graft.llm.Curation]]'s stage barrier, [[graft.llm.Decontaminate]]'s
  *    eval gram set, [[graft.llm.LangModel.rareTransitionScore]],
  *    [[graft.llm.TextDedup.duplicateComponents]] and
  *    `pairGraphCentrality`, and [[graft.llm.Bpe.bpeTrain]].
  *  - [[atMostRows]] is the bounded row-count probe, and
  *    [[atMostFileBytes]] the driver-side file-system stat.
  *
  * `Percentiles.grouped` and `TextAnalysis.familiarityBucketsAuto`
  * choose their exact or approximate form through [[atMostRows]]
  * WITHOUT the gate: their large forms are APPROXIMATE, and forcing
  * them would change values, which is exactly what an oracle run must
  * not do; their scale forms are gated by their own specs.
  */
object Regimes {

  /** True when the current process should take every distributed
    * regime regardless of probe outcomes. */
  def forceDistributed: Boolean =
    flag(sys.env.get("SPARK_GRAFT_FORCE_DISTRIBUTED")) ||
      flag(sys.props.get("spark.graft.forceDistributed"))

  private def flag(v: Option[String]): Boolean =
    v.exists(s => s == "1" || s.equalsIgnoreCase("true"))

  /** Whether a dual-regime operator may take its small form: `fits`,
    * or false without evaluating `fits` (so no probe job runs) when
    * [[forceDistributed]] is on. */
  def small(fits: => Boolean): Boolean = !forceDistributed && fits

  /** Whether `df` has at most `n` rows: one `limit(n + 1).count()` job,
    * which reads at most n + 1 rows of each partition, never a full
    * scan. `n` is clamped to `Int.MaxValue - 1` (the most `limit`
    * takes), so a source larger than that answers false; a negative
    * `n` answers false without a job. */
  def atMostRows(df: DataFrame, n: Long): Boolean = {
    val cap = math.min(n, Int.MaxValue - 1L)
    cap >= 0 && df.limit(cap.toInt + 1).count() <= cap
  }

  /** Whether the files under `path` hold at most `n` bytes: one
    * driver-side file-system stat, no job. A path it cannot read
    * counts as not small. */
  def atMostFileBytes(spark: SparkSession, path: String, n: Long): Boolean = {
    val p = new Path(path)
    scala.util.Try(p.getFileSystem(spark.sessionState.newHadoopConf())
      .getContentSummary(p).getLength).toOption.exists(_ <= n)
  }

  /** The small-or-distributed decision of a dual-regime operator whose
    * small form runs on the driver. `df` is checkpointed lazily, so
    * its plan executes at most once whichever form wins.
    *
    *  - `Left(checkpoint)`, no probe job run: the [[small]] gate is
    *    shut, or `maxRows <= 0` (the caller has no small form for this
    *    input).
    *  - `Right(rows)`: one job drained the checkpoint and shipped its
    *    rows ([[Checkpoints.countAndCollect]]), there are at most
    *    `maxRows` of them and their `rowBytes` sum to at most
    *    `maxBytes`. The checkpoint made here is released; blocks of
    *    any checkpoint `df` reads are left alone.
    *  - `Left(checkpoint)` after that job: either cap failed. The
    *    checkpoint is filled, so the distributed form reads its blocks
    *    instead of re-running `df`'s plan; releasing it is the
    *    caller's job.
    */
  def boundedRows(
      df: DataFrame,
      maxRows: Long,
      maxBytes: Long = Long.MaxValue,
      rowBytes: Row => Long = _ => 0L): Either[DataFrame, Array[Row]] = {
    val ck = df.localCheckpoint(eager = false)
    if (!small(maxRows > 0)) return Left(ck)
    val (n, rows) = Checkpoints.countAndCollect(ck, maxRows)
    if (n > maxRows || rows.iterator.map(rowBytes).sum > maxBytes) Left(ck)
    else {
      Checkpoints.release(ck)
      Right(rows)
    }
  }
}
