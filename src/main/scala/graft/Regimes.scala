package graft

import org.apache.spark.sql.{DataFrame, Row}

import graft.operators.Checkpoints

/** Central switch pinning every DUAL-REGIME operator to its
  * large-scale (distributed) form, so the full DuckDB oracle gate
  * hash-certifies the 100 TB plans and not just the small-input fast
  * paths.
  *
  * Activated by `SPARK_GRAFT_FORCE_DISTRIBUTED=1` (env, what the
  * driver/gate sets) or `-Dspark.graft.forceDistributed=true` (system
  * property, what in-JVM tests toggle). Read PER CALL, so one JVM can
  * run both regimes back to back (the regime-equivalence specs do).
  *
  * Only VALUE-IDENTICAL regime pairs are pinned. The six operators
  * whose small regime is a bounded driver collect decide through
  * [[boundedRows]], which alone reads the switch for them:
  *  - [[graft.llm.Curation]]'s stage barrier: inlined InSet filter vs
  *    checkpoint join;
  *  - [[graft.llm.Decontaminate]]'s eval gram set: broadcast count-map
  *    probe vs eval-gram equi-join;
  *  - [[graft.llm.LangModel.rareTransitionScore]]: broadcast count-map
  *    model vs shuffle joins on the model checkpoint;
  *  - [[graft.llm.TextDedup.duplicateComponents]]: driver union-find
  *    vs distributed min-label/star loop;
  *  - [[graft.llm.TextDedup.pairGraphCentrality]]: driver Long rounds
  *    vs distributed join rounds;
  *  - [[graft.llm.Bpe.bpeTrain]]: driver merge loop vs batched
  *    distributed loop.
  * The count-only and file-byte probes read [[forceDistributed]]
  * directly: [[graft.operators.Percentiles]] (single-window vs
  * two-phase rank, literal vs broadcast bounds),
  * [[graft.operators.EventAnalytics]]`.quantileDrift`'s lag, and
  * q49/q50/q58 in [[graft.queries.QueryPackExt]].
  * `Percentiles.grouped` and `TextAnalysis.familiarityBucketsAuto` are
  * deliberately NOT pinned: their large forms are APPROXIMATE, and
  * forcing them would change values, which is exactly what an oracle
  * run must not do; their scale forms are gated by their own specs.
  */
object Regimes {

  /** True when the current process should take every distributed
    * regime regardless of probe outcomes. */
  def forceDistributed: Boolean =
    flag(sys.env.get("SPARK_GRAFT_FORCE_DISTRIBUTED")) ||
      flag(sys.props.get("spark.graft.forceDistributed"))

  private def flag(v: Option[String]): Boolean =
    v.exists(s => s == "1" || s.equalsIgnoreCase("true"))

  /** The small-or-distributed decision of a dual-regime operator whose
    * small form runs on the driver. `df` is checkpointed lazily, so
    * its plan executes at most once whichever form wins.
    *
    *  - `Left(checkpoint)`, no probe job run: [[forceDistributed]] is
    *    on, or `maxRows <= 0` (the caller has no small form for this
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
    if (forceDistributed || maxRows <= 0) return Left(ck)
    val (n, rows) = Checkpoints.countAndCollect(ck, maxRows)
    if (n > maxRows || rows.iterator.map(rowBytes).sum > maxBytes) Left(ck)
    else {
      Checkpoints.release(ck)
      Right(rows)
    }
  }
}
