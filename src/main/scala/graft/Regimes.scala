package graft

/** Central switch pinning every DUAL-REGIME operator to its
  * large-scale (distributed) form, so the full DuckDB oracle gate
  * hash-certifies the 100 TB plans and not just the small-input fast
  * paths.
  *
  * Activated by `SPARK_GRAFT_FORCE_DISTRIBUTED=1` (env, what the
  * driver/gate sets) or `-Dspark.graft.forceDistributed=true` (system
  * property, what in-JVM tests toggle). Read PER CALL — default
  * arguments in Scala evaluate at the call site — so one JVM can run
  * both regimes back to back (the regime-equivalence specs do).
  *
  * Only VALUE-IDENTICAL regime pairs are pinned here:
  *  - [[graft.llm.TextDedup.duplicateComponents]]: driver union-find
  *    vs distributed min-label/star loop (same output relation);
  *  - [[graft.llm.Curation]]'s stage barrier: inlined InSet filter vs
  *    checkpoint broadcast join (same keep semantics);
  *  - [[graft.operators.Percentiles]]: single-window vs two-phase
  *    rank (bit-identical integer arithmetic), literal when-chain vs
  *    broadcast-lookup bounds (same values).
  * ENA id resolution is not a pair: `EnaPipeline.resolveIds` is one
  * join plan, and its broadcast flag is only a join-strategy hint.
  * `TextAnalysis.familiarityBucketsAuto` is deliberately NOT pinned:
  * its large form is APPROXIMATE — forcing it would change values,
  * which is exactly what an oracle run must not do; its scale form is
  * gated by its own spec instead.
  */
object Regimes {

  /** True when the current process should take every distributed
    * regime regardless of probe outcomes. */
  def forceDistributed: Boolean =
    flag(sys.env.get("SPARK_GRAFT_FORCE_DISTRIBUTED")) ||
      flag(sys.props.get("spark.graft.forceDistributed"))

  private def flag(v: Option[String]): Boolean =
    v.exists(s => s == "1" || s.equalsIgnoreCase("true"))
}
