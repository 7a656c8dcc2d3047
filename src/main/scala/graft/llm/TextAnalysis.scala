package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over `documents(doc_id, text, lang, source,
  * n_chars)`: corpus statistics, per-document quality scoring, token
  * frequency, and a marker-token language-ID heuristic. All pure
  * column expressions (array higher-order functions, no UDFs) — per-row
  * work stays in WholeStageCodegen; the only shuffles are the final
  * group-bys, which partial-aggregate map-side.
  */
object TextAnalysis {

  /** Corpus statistics by language: doc counts, exact char totals,
    * average length (exact integer sum ÷ count), token totals.
    */
  def langStats(docs: DataFrame): DataFrame =
    TextDedup.spread(docs, "doc_id")
      .withColumn("n_toks", size(TextFns.tokens(col("text"))).cast("long"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"),
        sum(col("n_toks")).as("total_tokens"))

  private val Stopwords = Seq("the", "a", "of", "and", "to")

  /** Per-document quality signals: token count, type-token ratio, mean
    * token length, stopword ratio — the length/punct/stopword family a
    * training-data filter thresholds on.
    *
    * Shape: explode to token rows and aggregate, rather than folding
    * arrays with higher-order functions — HOF lambdas run interpreted
    * (per-element projection dispatch) while explode + sum/count is
    * whole-stage-codegen end to end; measured ~4x faster at sf0.1.
    * Every ratio is an exact-integer division, so the values (and the
    * DuckDB oracle, which still uses list functions) are bit-identical
    * to the HOF formulation. Empty docs have no token rows and drop
    * out — same semantics as the former `size(w) > 0` filter, and no
    * ANSI division by zero.
    */
  def qualityScores(docs: DataFrame): DataFrame =
    TextDedup.spread(docs, "doc_id")
      .select(col("doc_id"), col("lang"),
        explode(TextFns.tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(
        count(lit(1)).as("n_tokens"),
        countDistinct(col("tok")).as("n_distinct"),
        sum(length(col("tok"))).as("sum_len"),
        sum(when(col("tok").isin(Stopwords: _*), 1L).otherwise(0L))
          .as("stop_hits"))
      .select(
        col("doc_id"),
        col("lang"),
        col("n_tokens"),
        col("n_distinct"),
        (col("n_distinct").cast("double") / col("n_tokens")).as("ttr"),
        (col("sum_len").cast("double") / col("n_tokens")).as("mean_tok_len"),
        (col("stop_hits").cast("double") / col("n_tokens")).as("stopword_ratio"))

  /** Rank-blended quality score: each signal (token count, distinct
    * tokens, characters) is converted to its empirical percent-rank
    * over the corpus and the three ranks averaged — the standard trick
    * for combining incommensurable quality signals without hand-tuned
    * scales (ranks are scale-free; an outlier distorts one signal's
    * tail, never the blend). The bucket is `floor(blend·10)` capped at
    * 9 — a per-row function of the blend, NOT an ntile, so no
    * corpus-wide sort exists anywhere in the plan: each percent-rank
    * comes from the signal's distinct-VALUE histogram (a groupBy the
    * size of the value domain, hundreds of rows here) cumulated with a
    * window over those values only, then equi-joined back (broadcast —
    * the rank tables are tiny by construction).
    *
    * percent_rank(v) = |{rows with value < v}| / (N−1): exactly SQL
    * PERCENT_RANK's tie semantics, one IEEE division of exact integer
    * counts, so engines agree bitwise. Assumes ≥2 documents (N=1 makes
    * PERCENT_RANK 0/0; SQL defines it as 0 — a corpus of one document
    * needs no quality ranking).
    */
  def qualityBlend(docs: DataFrame): DataFrame = {
    val toks = TextFns.tokens(col("text"))
    // greatest(…, 0): size(NULL) is -1 under non-ANSI — null text
    // ranks as a zero-token doc (it still needs a non-null n_chars to
    // survive the rank joins; a fully-null row drops)
    val base = docs.select(col("doc_id"),
      greatest(size(toks).cast("long"), lit(0L)).as("n_toks"),
      greatest(size(array_distinct(toks)).cast("long"), lit(0L))
        .as("n_distinct"),
      col("n_chars").cast("long").as("n_chars"))
    // rows strictly below each distinct value of `sig`, from the
    // value histogram (window runs over distinct VALUES, not rows)
    def lessTable(sig: String): DataFrame = {
      val byValue = Window.orderBy(col(sig))
        .rowsBetween(Window.unboundedPreceding, -1)
      base.groupBy(col(sig)).agg(count(lit(1)).as("cnt"))
        .select(col(sig),
          coalesce(sum(col("cnt")).over(byValue), lit(0L)).as(s"less_$sig"))
    }
    def pr(sig: String) =
      col(s"less_$sig").cast("double") / (col("n_total") - 1)
    base
      .crossJoin(broadcast(base.agg(count(lit(1)).as("n_total"))))
      .join(broadcast(lessTable("n_toks")), Seq("n_toks"))
      .join(broadcast(lessTable("n_distinct")), Seq("n_distinct"))
      .join(broadcast(lessTable("n_chars")), Seq("n_chars"))
      .select(col("doc_id"),
        round((pr("n_toks") + pr("n_distinct") + pr("n_chars")) / 3, 9)
          .as("blend"))
      .withColumn("bucket",
        least(floor(col("blend") * 10), lit(9L)).cast("int"))
  }

  /** Source-calibrated quality rank: percent-rank of a doc's token
    * count WITHIN ITS SOURCE — the grouped complement of
    * [[qualityBlend]]'s corpus-global ranks. Per-source calibration is
    * the standard fix for "one global threshold over-prunes the clean
    * source and under-prunes the noisy one": a doc competes against
    * its own source's distribution.
    *
    * Scale: NO grouped sort — `Window.partitionBy(source)` would put
    * each (possibly corpus-sized) source group through one partition.
    * Instead the q106 histogram technique with composite keys: counts
    * per (source, value), a cumulative window over the per-source
    * VALUE DOMAIN (small by construction), and an equi-join back on
    * (source, value). Single-doc sources rank 0 (SQL PERCENT_RANK's
    * N=1 convention, guarded here against 0/0).
    */
  def sourceQualityRank(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("source"),
      greatest(size(TextFns.tokens(col("text"))).cast("long"), lit(0L))
        .as("n_toks"))
    val byValueInSource = Window.partitionBy(col("source"))
      .orderBy(col("n_toks"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val hist = base.groupBy(col("source"), col("n_toks"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("source"), col("n_toks"),
        coalesce(sum(col("cnt")).over(byValueInSource), lit(0L)).as("less"))
    val totals = base.groupBy(col("source")).agg(count(lit(1)).as("n_src"))
    base
      .join(broadcast(hist), Seq("source", "n_toks"))
      .join(broadcast(totals), Seq("source"))
      .select(col("doc_id"), col("source"), col("n_toks"),
        round(col("less").cast("double") /
          greatest(col("n_src") - 1, lit(1L)), 9).as("pr_source"))
      .withColumn("bucket",
        least(floor(col("pr_source") * 10), lit(9L)).cast("int"))
  }

  /** Threshold-based quality filter — the second pillar of
    * training-data curation next to dedup: keep documents whose
    * [[qualityScores]] signals clear the given bounds. Returns the
    * surviving (doc_id, and the scores that justified keeping it) so a
    * pipeline can audit WHY a doc survived; join back to `docs` for
    * the text. Same aggregation shape as qualityScores (explode +
    * codegen'd sums), one filter on top.
    */
  def qualityFilter(
      docs: DataFrame,
      minTokens: Long = 5,
      minTtr: Double = 0.3,
      maxStopwordRatio: Double = 0.5,
      minMeanTokLen: Double = 2.0,
      maxMeanTokLen: Double = 12.0): DataFrame =
    qualityScores(docs)
      .filter(col("n_tokens") >= minTokens &&
        col("ttr") >= minTtr &&
        col("stopword_ratio") <= maxStopwordRatio &&
        col("mean_tok_len") >= minMeanTokLen &&
        col("mean_tok_len") <= maxMeanTokLen)

  /** Explainable rejection — the audit layer over [[qualityFilter]]'s
    * boolean: every doc gets the LIST of quality rules it fails (empty
    * ⇒ keep), so a curation run can report WHY each drop dropped and
    * which rule dominates. Same thresholds and score frame as
    * qualityFilter; the reasons array is a per-row filter over CASE
    * labels, so the only shuffles are [[qualityScores]]' own. Docs
    * with zero tokens drop out with the score frame (same as q36).
    */
  def filterReasons(
      docs: DataFrame,
      minTokens: Long = 5,
      minTtr: Double = 0.3,
      maxStopwordRatio: Double = 0.5,
      minMeanTokLen: Double = 2.0,
      maxMeanTokLen: Double = 12.0): DataFrame = {
    val rules: Seq[(String, Column)] = Seq(
      "too_short" -> (col("n_tokens") < minTokens),
      "low_ttr" -> (col("ttr") < minTtr),
      "high_stopword" -> (col("stopword_ratio") > maxStopwordRatio),
      "tok_len_out_of_range" -> (col("mean_tok_len") < minMeanTokLen ||
        col("mean_tok_len") > maxMeanTokLen))
    val reasons = filter(
      array(rules.map { case (n, c) => when(c, lit(n)) }: _*),
      r => r.isNotNull)
    qualityScores(docs)
      .select(col("doc_id"),
        array_join(reasons, ",").as("reasons"),
        size(reasons).cast("long").as("n_reasons"))
      .withColumn("keep", col("n_reasons") === 0)
  }

  /** Per-document repetition signals — the Gopher/FineWeb-style
    * "repetitious text" family a curation pipeline thresholds on
    * alongside [[qualityScores]]:
    *  - `top_token_frac`: occurrences of the most frequent token ÷
    *    n_tokens (high → "spam spam spam" pages);
    *  - `top_bigram_frac`: occurrences of the most frequent word
    *    bigram ÷ (n_tokens - 1); NULL when the doc has < 2 tokens.
    * Only the max COUNT is surfaced (not which token), so ties cost no
    * determinism. Empty docs drop out (no token rows). Shape: explode
    * + two keyed aggregations per signal — all shuffles are on doc_id
    * (or its prefix), partial-aggregated map-side; nothing is
    * corpus-global.
    */
  def repetitionSignals(docs: DataFrame): DataFrame = {
    // One tokenize+explode pass feeds BOTH signals (r8 — the two
    // separate explode pipelines each re-scanned and re-tokenized the
    // corpus): bigrams come from a window `lead` over the positioned
    // token frame, whose doc_id exchange both branch aggregations then
    // reuse (ReusedExchange — the doc_id-prefixed groupBys partial-
    // aggregate on top of it without a second corpus shuffle).
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val tok = TextDedup.spread(docs, "doc_id")
      .select(col("doc_id"), posexplode(TextFns.tokens(col("text"))))
      .select(col("doc_id"), col("pos"), col("col").as("tok"))
      .withColumn("bg",
        when(lead(col("tok"), 1).over(w).isNotNull,
          concat_ws(" ", col("tok"), lead(col("tok"), 1).over(w))))
    val uni = tok
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"), max(col("c")).as("max_uni"))
    val bi = tok
      .filter(col("bg").isNotNull)
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("max_bi"))
    uni.join(bi, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("n_tokens"),
        (col("max_uni").cast("double") / col("n_tokens")).as("top_token_frac"),
        (col("max_bi").cast("double") / (col("n_tokens") - 1))
          .as("top_bigram_frac"))
  }

  /** Within-document duplicated n-gram coverage — the position-level
    * Gopher repetition rule that [[repetitionSignals]]'s top-fraction
    * only approximates: the fraction of a document's token POSITIONS
    * lying inside some word `k`-gram that occurs MORE THAN ONCE in the
    * same document, overlapping occurrences counted once. A doc that
    * repeats one slogan five times and a doc whose every sentence
    * half-repeats score the same under top-fraction; coverage
    * separates them, which is why the production rule thresholds on
    * coverage.
    *
    * Shape: the shared gram-hash front end ([[TextDedup.gramHashes]]'s
    * window form, positions kept), then two doc_id-prefixed windows:
    * a per-(doc, gh) partition count marks in-doc repeats, and the
    * covered-position total falls out of the INTERVAL-UNION identity —
    * repeated-gram start positions `p_1 < p_2 < …` cover
    * `k + Σ min(k, p_i − p_{i−1})` positions, so one `lag` over the
    * doc-ordered repeat positions replaces the former k×-row
    * `explode(sequence)` + corpus-wide `distinct()` (r17 VERDICT #1:
    * that shape was the only query >2× vs oracle at BOTH scales —
    * the k-fold inflation and the extra distinct shuffle are pure
    * waste for what one running difference expresses). EVERY stage —
    * gram window, repeat-count window, position-lag window, final
    * counts — is keyed by doc_id (or a doc_id-prefixed composite), so
    * at 100 TB nothing shuffles across documents and the final
    * aggregates partial-combine map-side. Docs with fewer than `k`
    * tokens have no grams and report coverage 0.
    */
  def dupGramCoverage(docs: DataFrame, k: Int = 3): DataFrame = {
    require(k >= 2, "k must be at least 2")
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    // one shared spread subtree (exchange reuse dedups the shuffle);
    // positioned grams assemble IN-ROW over the concrete token-hash
    // array (r21 — the gramHashArray twin, value-identical to the old
    // window form with posexplode's index as the gram position), so
    // the exploded-token frame and its per-doc gram-window sort are
    // gone, and n_tokens is a per-row projection instead of an
    // explode + count
    val sp = TextDedup.spread(docs, "doc_id")
    val grams = sp
      .withColumn("hs", TextFns.tokenHashes(col("text")))
      .select(col("doc_id"),
        posexplode(TextFns.gramHashArray(col("hs"), k)))
      .select(col("doc_id"), col("pos"), col("col").as("gh"))
    // repeat marking as a whole-partition window count (one pipeline,
    // no groupBy + join-back of the same gram subtree); both window
    // partitions are doc_id-prefixed
    val covered = grams
      .withColumn("__c",
        count(lit(1)).over(Window.partitionBy(col("doc_id"), col("gh"))))
      .filter(col("__c") >= 2)
      .withColumn("__gap", col("pos") - lag(col("pos"), 1).over(w))
      .groupBy(col("doc_id"))
      .agg(sum(least(lit(k), coalesce(col("__gap"), lit(k)))).as("__cov"))
    sp.select(col("doc_id"),
        size(TextFns.tokens(col("text"))).cast("long").as("n_tokens"))
      .filter(col("n_tokens") >= 1) // 0-token/null docs had no rows before
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("__cov"), lit(0L)).as("n_covered"),
        (coalesce(col("__cov"), lit(0L)).cast("double") /
          col("n_tokens")).as("dup_frac"))
  }

  /** Token frequency: the corpus's top-`k` tokens by occurrence count
    * with document frequency (deterministic order: count desc, token).
    */
  def tokenFrequency(docs: DataFrame, k: Int = 50): DataFrame =
    TextDedup.spread(docs, "doc_id")
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n").desc, col("token"))
      .limit(k)

  /** Corpus-induced stopword signal: a token is a corpus stopword when
    * its document frequency reaches `dfThreshold` (as a fraction of
    * corpus size) — the data-driven counterpart of a fixed stopword
    * list, and the detector for corpus-specific boilerplate (site
    * headers, license blurbs) that no static list knows about. Emits
    * per document the token count, the number of occurrences that are
    * stopwords, and the stopword mass ratio — the curation signal
    * (a doc that is mostly corpus-stopwords carries no information).
    *
    * Scale shape: explode → one keyed token aggregation for DF; the
    * qualifying set is then broadcast back onto the exploded tokens.
    * The broadcast is bounded by construction: sum(df) ≤ total token
    * occurrences, so at most `avg_doc_len / dfThreshold` distinct
    * tokens can qualify — independent of corpus size. The final
    * per-doc aggregation partial-aggregates map-side on doc_id.
    * Docs with NULL or empty text emit no row (no tokens to score).
    */
  def corpusStopwordStats(
      docs: DataFrame,
      dfThreshold: Double): DataFrame = {
    require(dfThreshold > 0.0 && dfThreshold <= 1.0,
      "dfThreshold must be in (0, 1]")
    // per-(doc, token) occurrence counts, materialized ONCE: both the
    // DF aggregation and the per-doc scoring read this frame, so the
    // scan+explode+tokenize pipeline runs a single time (the
    // minhashIndex convention); it is doc-vocabulary-sized, far
    // smaller than the raw token stream
    val tc = TextDedup.spread(docs, "doc_id")
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = false)
    val nDocs = docs.agg(count(lit(1)).cast("double").as("__n_docs"))
    val stop = tc
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("df")) // tc is unique per (doc, tok): df = doc freq
      .crossJoin(broadcast(nDocs))
      .filter(col("df").cast("double") >= col("__n_docs") * lit(dfThreshold))
      .select(col("tok"), lit(1).as("__is_stop"))
    tc.join(broadcast(stop), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_tokens"),
        sum(col("c") * coalesce(col("__is_stop"), lit(0))).as("n_stop"))
      .select(col("doc_id"), col("n_tokens"), col("n_stop"),
        (col("n_stop").cast("double") / col("n_tokens")).as("stop_ratio"))
  }

  /** Corpus-LM familiarity score — the integer-exact stand-in for the
    * CCNet-style "LM perplexity" quality signal: score each document
    * by the mean corpus frequency of its word bigrams. Text that
    * looks like the rest of the corpus (common constructions,
    * boilerplate) scores high; rare/garbled text scores low. Unlike a
    * real LM logprob (whose `log` rounds differently across libm
    * implementations), counts and one final int→double division are
    * bit-identical on every engine.
    *
    * Bigrams ride the [[TextDedup.gramHashes]] front end: one md5 per
    * token on the codegen'd path, window-lead assembly, 8-byte keys
    * through both shuffles (never bigram strings). Docs with < 2
    * tokens drop out (no bigrams). Self-counting is intentional —
    * every doc contributes its own bigrams to the corpus model,
    * mirroring how the production signal trains on the corpus itself.
    */
  def familiarityScores(docs: DataFrame): DataFrame = {
    // per-(doc, gram) counts materialized once — corpus totals and
    // per-doc scoring both read this doc-vocabulary-sized frame, so
    // the tokenize+md5+window gram pipeline runs a single time; the
    // groupBy rides the gram window's doc_id partitioning (no extra
    // exchange before the checkpoint)
    val bgc = TextDedup.gramHashes(docs, 2)
      .groupBy(col("doc_id"), col("gh"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = false)
    val counts = bgc.groupBy(col("gh")).agg(sum(col("c")).as("corpus_c"))
    bgc.join(counts, "gh")
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"),
        sum(col("c") * col("corpus_c")).as("c_sum"))
      .select(col("doc_id"), col("n_bigrams"),
        (col("c_sum").cast("double") / col("n_bigrams")).as("familiarity"))
  }

  /** Per-document top-k TF-IDF terms — the sparse feature extraction
    * behind classic quality classifiers and lexical retrieval
    * indexes. The idf is the rational `(N + 1)/(df + 1)` (log-free
    * for cross-engine bit-parity; monotone in the log form, so
    * per-doc rankings agree). tf and df both derive from ONE
    * (doc, term) count frame (checkpointed — the tokenize+explode
    * pipeline runs once); N broadcasts back; the per-doc top-k is a
    * window over the doc's distinct terms only.
    */
  def tfidfTopTerms(docs: DataFrame, k: Int = 5): DataFrame = {
    val tf = TextDedup.spread(docs, "doc_id")
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(eager = false)
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("score", col("tf").cast("double") *
        ((col("n_docs").cast("double") + lit(1.0)) /
          (col("df").cast("double") + lit(1.0))))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("rnk"), col("term"), col("tf"), col("score"))
  }

  /** CCNet-style familiarity bucketing: split the corpus into `n`
    * equal-depth buckets (head = most corpus-familiar … tail = least)
    * by [[familiarityScores]]'s signal, `ntile` over the total order
    * (familiarity, doc_id) so the split is deterministic under ties.
    * Per bucket: doc count, familiarity min/max, total bigram mass —
    * all order-free aggregates (a mean of doubles would sum in
    * engine-dependent order and break bit-parity; min/max/long-sum
    * don't).
    *
    * Scale: the bucketing `ntile` is a single-partition window over
    * the per-DOC score frame (one row per doc — the corpus itself
    * never serializes); at 100 TB the same split comes from
    * `approx_percentile` cutoffs instead, trading exact equal depth
    * for a fully parallel pass — this exact form is the oracle-able
    * twin.
    */
  def familiarityBuckets(docs: DataFrame, n: Int = 3): DataFrame =
    familiarityScores(docs)
      .withColumn("bucket",
        ntile(n).over(Window.orderBy(col("familiarity"), col("doc_id"))))
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("familiarity")).as("min_familiarity"),
        max(col("familiarity")).as("max_familiarity"),
        sum(col("n_bigrams")).as("sum_bigrams"))

  /** The 100 TB twin of [[familiarityBuckets]]: bucket boundaries come
    * from `approx_percentile` over the scores instead of a
    * single-partition ntile — fully parallel (sketches merge
    * map-side), no global window anywhere; bucket depths are equal
    * only up to the sketch's rank error, which is the production
    * trade. Spec-gated, not oracled: approximate sketches aren't
    * SQL-mirrorable across engines.
    */
  def familiarityBucketsApprox(
      docs: DataFrame, n: Int = 3, accuracy: Int = 10000): DataFrame = {
    require(n >= 2, "need at least two buckets")
    val scores = familiarityScores(docs).localCheckpoint(eager = false)
    val probs = (1 until n).map(_.toDouble / n).toArray
    val cuts = scores.agg(
      percentile_approx(col("familiarity"), typedlit(probs), lit(accuracy))
        .as("cuts"))
    scores.crossJoin(broadcast(cuts))
      .withColumn("bucket",
        aggregate(col("cuts"), lit(1),
          (acc, c) => acc + when(col("familiarity") > c, 1).otherwise(0)))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("familiarity")).as("min_familiarity"),
        max(col("familiarity")).as("max_familiarity"),
        sum(col("n_bigrams")).as("sum_bigrams"))
  }

  /** Production entry point for familiarity bucketing: routes to the
    * exact single-window [[familiarityBuckets]] while the corpus is
    * provably small, and to the fully-parallel
    * [[familiarityBucketsApprox]] past `maxExactRows` — the same
    * bounded-probe auto-fallback shape as the ENA broadcast regime
    * (`EnaMain.chooseBroadcastRegime`): [[graft.Regimes.atMostRows]]
    * reads at most n+1 rows per partition, so the decision never scans
    * the corpus. The exact form stays what it was built to be — the
    * oracle twin — without being the default anyone runs at 100 TB.
    * The large form is approximate, so a forced run does not pin it.
    */
  def familiarityBucketsAuto(
      docs: DataFrame,
      n: Int = 3,
      maxExactRows: Long = 2000000L): DataFrame =
    if (graft.Regimes.atMostRows(docs, maxExactRows))
      familiarityBuckets(docs, n)
    else familiarityBucketsApprox(docs, n)

  /** BM25 keyword retrieval over the corpus for a literal term set —
    * the lexical half of a retrieval stack (the dense half is
    * [[Similarity]]). Per doc: tf per term via a per-row array filter
    * (NO posexplode — term frequency never shuffles), then corpus
    * stats (N, Σdl, df per term) as ONE tiny aggregate broadcast back,
    * and the score assembled with a fixed left-to-right term-sum so
    * float addition order is engine-portable. Top-k via
    * TakeOrderedAndProject (bounded heap per partition — never a full
    * sort).
    *
    * For oracle bit-parity the idf is the RATIONAL Robertson form
    * (N - df + 0.5)/(df + 0.5) *without* the usual log() wrap: log is
    * not correctly-rounded and differs between JVM and C runtimes;
    * every operation here is IEEE +,*,/ on exactly-derived doubles.
    * Monotone in the log form, so rankings agree.
    */
  def bm25Rank(
      docs: DataFrame,
      terms: Seq[String] = Seq("filter", "merge", "spark", "vector", "window"),
      k1: Double = 1.2,
      b: Double = 0.75,
      topK: Int = 20): DataFrame = {
    require(terms.nonEmpty && terms.forall(_.matches("[a-z0-9_]+")),
      "terms must be simple lowercase tokens (SQL-literal-safe)")
    val ts = terms.sorted
    val perDoc = docs
      .select(col("doc_id"), TextFns.tokens(col("text")).as("w"))
      .withColumn("dl", size(col("w")).cast("long"))
      .select(Seq(col("doc_id"), col("dl")) ++ ts.map(t =>
        size(filter(col("w"), x => x === t)).cast("double").as(s"tf_$t")): _*)
      // lazy fence (r22, guide §2.4): the corpus-stats agg AND the
      // scoring projection both consume this frame — without the fence
      // each re-runs the tokenize + per-term filter pass over the
      // corpus. One narrow row per doc pins; the stats agg
      // materializes it, the scorer reads blocks. Released by the
      // harness broom between queries.
      .localCheckpoint(eager = false)
    val statCols = Seq(
      count(lit(1)).as("n_docs"),
      sum(col("dl")).as("sum_dl")) ++ ts.map(t =>
      sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L)).as(s"df_$t"))
    val stats = perDoc.agg(statCols.head, statCols.tail: _*)
    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    val norm = lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl").cast("double") / avgdl))
    def termScore(t: String): Column = {
      val idf = ((col("n_docs") - col(s"df_$t")).cast("double") + lit(0.5)) /
        (col(s"df_$t").cast("double") + lit(0.5))
      idf * ((col(s"tf_$t") * lit(k1 + 1.0)) / (col(s"tf_$t") + norm))
    }
    perDoc.crossJoin(broadcast(stats))
      .select(col("doc_id"), col("dl"),
        ts.map(termScore).reduce(_ + _).as("score"))
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)
  }

  /** Token-length histogram on log2 buckets — the length-distribution
    * panel of a dataset report (q83's card gives the mean; this gives
    * the shape: truncation spikes, boilerplate stubs, outlier tails).
    * Bucket b covers lengths [2^b, 2^(b+1)); zero-token docs land in
    * bucket -1. Pure integer math (floor(log2 n) via bit length —
    * log() isn't bit-portable, integer comparisons are), one map-side
    * partial agg.
    */
  def lengthHistogram(docs: DataFrame): DataFrame = {
    val n = size(TextFns.tokens(col("text"))).cast("long")
    // floor(log2(n)) as the highest set bit: SUM over bit positions of
    // (n >= 2^b) - 1 ... expressed portably as a CASE chain over the
    // 31 possible buckets of an int-sized token count
    val bucket = (30 to 0 by -1).foldLeft(lit(-1)) { (acc, b) =>
      when(n >= (1L << b), lit(b)).otherwise(acc)
    }
    docs
      .select(bucket.as("bucket"), n.as("n"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n")).as("n_tokens"),
        min(col("n")).as("min_len"),
        max(col("n")).as("max_len"))
  }

  /** The dataset card: the one-row corpus summary every dataset
    * release ships — doc/token counts, language/source cardinalities,
    * exact-dup count, mean doc length. Each distinct-count runs as its
    * OWN tiny aggregate and the one-row frames broadcast-crossJoin
    * together: packing several countDistincts into one agg plans an
    * Expand that multiplies the corpus through every aggregate update
    * (the q49 lesson — 29.6 s → 2.5 s), while separate aggs are
    * map-side-partial scans. avg is computed as explicit sum/count
    * (exact long sum, one double division) — aggregate-mean
    * implementations are not bit-portable across engines.
    */
  def datasetCard(docs: DataFrame): DataFrame = {
    val toks = size(TextFns.tokens(col("text"))).cast("long")
    val base = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(toks).as("n_tokens"),
      (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"))
    val langs = docs.agg(countDistinct(col("lang")).as("n_langs"))
    val sources = docs.agg(countDistinct(col("source")).as("n_sources"))
    val dups = docs.agg(
      (count(lit(1)) - countDistinct(md5(col("text"))))
        .as("n_exact_dup_docs"))
    base.crossJoin(broadcast(langs))
      .crossJoin(broadcast(sources))
      .crossJoin(broadcast(dups))
  }

  // marker-token sets per language for the ID heuristic
  private val EnMarkers = Seq("the", "a", "of")
  private val DeMarkers = Seq("der", "die", "und")
  private val EsMarkers = Seq("el", "la", "los")

  private def hits(w: Column, markers: Seq[String]): Column =
    size(filter(w, x => x.isin(markers: _*)))

  /** Marker-token language-ID heuristic scored against the labeled
    * `lang` column: classify by max marker-hit count (ties resolved
    * en > de > es, 'unknown' when nothing hits) and emit the confusion
    * matrix. On this synthetic corpus (shared English-ish vocabulary
    * across langs) the classifier mostly predicts 'en' — the matrix
    * makes that honest rather than hiding it.
    */
  def langIdConfusion(docs: DataFrame): DataFrame = {
    val w = TextFns.tokens(col("text"))
    TextDedup.spread(docs, "doc_id")
      .select(col("lang"),
        hits(w, EnMarkers).as("he"),
        hits(w, DeMarkers).as("hd"),
        hits(w, EsMarkers).as("hs"))
      .withColumn("predicted",
        when(col("he") === 0 && col("hd") === 0 && col("hs") === 0, "unknown")
          .when(col("he") >= col("hd") && col("he") >= col("hs"), "en")
          .when(col("hd") >= col("hs"), "de")
          .otherwise("es"))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
  }

  /** Top-k bigram collocations by pointwise mutual information — the
    * phrase-mining/collocation report a corpus card leads with ("which
    * word pairs co-occur far beyond chance"). PMI's log is monotone,
    * so the emitted statistic is the RATIONAL lift
    * `n_ab·N / (c_a·c_b)` (the bm25/familiarity no-`log` convention):
    * every input is an exact integer count and each FACTOR is cast to
    * double before the multiply, so every step is an IEEE correctly-
    * rounded op on the same operands in any engine — BIT-IDENTICAL
    * results with no tolerance band, and no Long-product wrap when
    * n_ab·N exceeds 2^63 at web-corpus scale.
    * `minCount` suppresses the unstable singleton tail (a pair seen
    * twice in a tiny corpus otherwise tops the list on noise).
    *
    * Keys are HASHES, not strings (r17 VERDICT #2 — the same shuffle
    * shape q150 retired): the bigram count groupBy shuffles packed
    * 62-bit token-hash keys ([[LangModel.bigramKeys]], `h1·2³¹ + h2`
    * over [[TextFns.tokenHashes]]'s 31-bit space), not raw
    * `(w1, w2)` string pairs — token strings never leave their scan
    * task except into the VOCABULARY-sized unigram frame, which is
    * checkpointed once (it feeds the two count joins and the two
    * string join-backs; without the checkpoint each consumer re-runs
    * the corpus tokenize pipeline). Top-k selection orders on
    * `(lift desc, h1, h2)` and only the report-sized k rows join back
    * to strings. Collisions GENUINELY merge (r19 ADVICE — the r18
    * form kept `tok` in the unigram key, so a 31-bit collision
    * duplicated the count-join row per colliding token and the string
    * join-back could overflow topK with phantom pairs): the
    * vocabulary frame is re-aggregated BY HASH ALONE before the count
    * joins (`sum(c)` per h — colliding tokens contribute one merged
    * c_a), and string recovery picks `min(tok)` per hash, so the
    * output is always exactly ≤ topK rows. The SQL oracle mirrors the
    * identical md5 hashes and the same hash-level merge, so
    * collisions cannot diverge the compare.
    *
    * Scale: bigram keys assemble per-row with `zip_with` over the
    * token-hash array (codegen, no posexplode/self-join); both count
    * frames are vocabulary-bounded keyed aggregates with map-side
    * partials; the count joins are keyed on 8-byte longs; top-k is
    * TakeOrderedAndProject, never a global sort.
    */
  def bigramPmi(
      docs: DataFrame, minCount: Long = 5, topK: Int = 20): DataFrame = {
    // ONE corpus scan builds BOTH count tables (the q150 one-scan
    // model trick): unigram (tok, h) pairs and packed bigram keys ride
    // one tagged explode into a single keyed agg, checkpointed once —
    // the frame is vocabulary-bounded (Heaps' law), far below the raw
    // token stream. The checkpoint is load-bearing twice over:
    // ReuseExchange canNOT share these aggregations among their
    // consumers (the count joins' inferred `isnotnull(shiftright(bg,
    // 31))` key filters push below the exchange on the top-k side
    // only, diverging the subtree — the q49 kind-filter-below-the-
    // shuffle failure, r18 re-hit via InferFiltersFromConstraints;
    // plan-verified: the unshared form re-ran the corpus tokenize
    // pipeline twice), and the vocab frame feeds four consumers (two
    // count joins, two report-sized string join-backs).
    val model = docs
      .select(TextFns.tokens(col("text")).as("w"))
      .select(col("w"), transform(col("w"), t => TextFns.hash31(t)).as("hs"))
      .select(explode(concat(
        zip_with(col("w"), col("hs"),
          (t, h) => struct(lit(0).as("t"), h.as("k"), t.as("tok"))),
        transform(LangModel.bigramKeys(col("hs")),
          k => struct(lit(1).as("t"), k.as("k"),
            lit(null).cast("string").as("tok"))))).as("x"))
      .groupBy(col("x.t").as("t"), col("x.k").as("k"), col("x.tok").as("tok"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = false)
    val bgc = model.filter(col("t") === 1)
      .select(col("k").as("bg"), col("c").as("n_ab"))
    // total bigram mass — includes the sub-minCount tail by definition
    val nTotal = bgc.agg(sum(col("n_ab")).as("n_total"))
    // hash-level merge (r19 ADVICE): colliding tokens sum into ONE
    // count row and elect min(tok) as the reported string, so the
    // h1/h2 joins below are guaranteed key-unique — no row duplication,
    // no topK overflow. Vocabulary-bounded agg over the checkpointed
    // model frame; cheap for all four consumers.
    val uni = model.filter(col("t") === 0)
      .groupBy(col("k").as("h"))
      .agg(sum(col("c")).as("c"), min(col("tok")).as("tok"))
    val topHashed = bgc.filter(col("n_ab") >= minCount)
      .select(shiftright(col("bg"), 31).as("h1"),
        col("bg").bitwiseAND(lit((1L << 31) - 1)).as("h2"),
        col("n_ab"))
      .join(uni.select(col("h").as("h1"), col("c").as("c_a")), Seq("h1"))
      .join(uni.select(col("h").as("h2"), col("c").as("c_b")), Seq("h2"))
      .crossJoin(broadcast(nTotal))
      // Each FACTOR is cast to double before multiplying: the counts are
      // exact integers, IEEE multiplies of exact doubles are correctly
      // rounded and cross-engine deterministic, and — unlike a Long
      // product — there is no silent wrap when n_ab·N or c_a·c_b
      // exceeds Long range at web-corpus scale (~1e12 bigrams).
      .select(col("h1"), col("h2"), col("n_ab"),
        ((col("n_ab").cast("double") * col("n_total").cast("double")) /
          (col("c_a").cast("double") * col("c_b").cast("double"))).as("pmi_lift"))
      .orderBy(col("pmi_lift").desc, col("h1"), col("h2"))
      .limit(topK)
    // report-sized string recovery: the k rows broadcast against the
    // vocab frame (hinted — the checkpoint scan has no useful stats,
    // and a sort-merge join here would shuffle the vocab for 20 rows)
    broadcast(broadcast(topHashed)
      .join(uni.select(col("h").as("h1"), col("tok").as("w1")), Seq("h1")))
      .join(uni.select(col("h").as("h2"), col("tok").as("w2")), Seq("h2"))
      .select(col("w1"), col("w2"), col("n_ab"), col("pmi_lift"))
  }

  /** Pairwise divergence between per-`by` unigram distributions — the
    * data-mixture diagnostic behind "how different are my corpus
    * slices" (language/domain shift before and after curation, mixture
    * rebalancing). Emits TOTAL VARIATION distance (½ Σ|p−q|, the
    * fraction of mass you would have to move) and squared HELLINGER
    * distance (1 − Σ√(pq)) per slice pair. Both are chosen over
    * KL/JS specifically for engine parity: no `log` (libm rounding
    * differs across engines — the bm25 lesson); |x|, √x, and IEEE
    * ±/÷ are all correctly rounded. The only nondeterminism left is
    * float summation order across the vocabulary, absorbed by
    * round(6) (the q50 convention).
    *
    * Scale: both statistics need only the SHARED-token join — never a
    * dense (slice × vocab) grid. One-sided mass reaches TV through the
    * closed form: since each distribution sums to 1,
    * `tv = 1 + ½·Σ_shared(|pa−pb| − pa − pb)` (one-sided tokens
    * contribute their full p to the classic sum, which the identity
    * folds into the constant), and one-sided Hellinger terms are 0
    * outright. So the plan is: keyed vocabulary-bounded count/total
    * aggs, an inner self-join on the word, and a broadcast pair-
    * universe left-join so disjoint-support pairs (no shared words at
    * all) still emit their exact (1, 1) row. The first cut built the
    * dense grid and paid 12 corpus scans (pruning diverged the
    * distinct-vocab subtree from every other consumer — the q49
    * exchange-reuse lesson); this shape reads the corpus twice and is
    * plan-asserted.
    */
  def langDivergence(docs: DataFrame, by: String = "lang"): DataFrame = {
    val toks = docs
      .select(col(by).as("slice"), explode(TextFns.tokens(col("text"))).as("tok"))
    val counts = toks.groupBy(col("slice"), col("tok"))
      .agg(count(lit(1)).as("c"))
    val totals = counts.groupBy(col("slice")).agg(sum(col("c")).as("n"))
    val p = counts.join(broadcast(totals), Seq("slice"))
      .select(col("slice"), col("tok"),
        (col("c").cast("double") / col("n")).as("p"))
    val a = p.select(col("slice").as("slice_a"), col("tok"), col("p").as("pa"))
    val b = p.select(col("slice").as("slice_b"), col("tok"), col("p").as("pb"))
    val shared = a.join(b, Seq("tok"))
      .filter(col("slice_a") < col("slice_b"))
      .groupBy(col("slice_a"), col("slice_b"))
      .agg(
        sum(abs(col("pa") - col("pb")) - col("pa") - col("pb")).as("__s"),
        sum(sqrt(col("pa") * col("pb"))).as("__h"))
    // pair universe from the tiny totals frame: disjoint-support pairs
    // have no shared rows and must still report (tv, h2) = (1, 1)
    val pairs = totals.select(col("slice").as("slice_a"))
      .crossJoin(totals.select(col("slice").as("slice_b")))
      .filter(col("slice_a") < col("slice_b"))
    pairs.join(broadcast(shared), Seq("slice_a", "slice_b"), "left")
      .select(col("slice_a"), col("slice_b"),
        round(lit(1.0) + coalesce(col("__s"), lit(0.0)) * 0.5, 6)
          .as("tv_distance"),
        round(lit(1.0) - coalesce(col("__h"), lit(0.0)), 6)
          .as("hellinger_sq"))
  }

  /** Per-language vocabulary cardinality through the mergeable HLL
    * sketch ([[graft.functions.HllAgg]]), with the EXACT count
    * alongside as the accuracy control: `(lang, n_exact, est,
    * n_zero)`. The demo query reports both so the sketch's error is
    * visible in the result itself; at corpus scale the exact side is
    * the one you drop — the sketch carries 2^p bytes per language
    * through any merge tree while the exact count carries the
    * vocabulary. Separate aggregates joined on the tiny language key,
    * NOT one agg with a packed countDistinct (the q49/datasetCard
    * Expand lesson); the exact side is the two-phase distinct→count
    * reshape, both map-side partial.
    */
  def vocabSketch(docs: DataFrame, p: Int = 10): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    import graft.functions.GraftFunctions.{HllAggName, HllEstName, HllZerosName}
    val toks = docs.select(col("lang"),
      explode(TextFns.tokens(col("text"))).as("w"))
    val exact = toks.distinct()
      .groupBy(col("lang")).agg(count(lit(1)).as("n_exact"))
    val sk = toks
      .groupBy(col("lang"))
      .agg(call_function(HllAggName,
        TextFns.hash60(col("w")), lit(p)).as("__sk"))
      .select(col("lang"),
        call_function(HllEstName, col("__sk")).as("est"),
        call_function(HllZerosName, col("__sk")).as("n_zero"))
    exact.join(broadcast(sk), Seq("lang"))
      .select(col("lang"), col("n_exact"), col("est"), col("n_zero"))
  }

  /** Pairwise vocabulary overlap between sources by HLL sketch
    * algebra: one corpus pass builds a per-source sketch, then every
    * (a, b) pair reports `est_a`, `est_b`, `est_union`
    * (`graft_hll_merge` — exact register union) and the
    * inclusion–exclusion `est_overlap = est_a + est_b − est_union`.
    * The mixture diagnostic L106 answers with exact token
    * distributions, answered here at sketch cost: after the one scan,
    * the whole overlap matrix is arithmetic over (nSources × 2^p
    * bytes) — at 100 TB the per-source sketch table persists once
    * (`graft_hll_union_agg` rolls shards up) and pairwise overlap
    * never touches the corpus again.
    *
    * The sketch rows land driver-side (one per source — the ivfTrain
    * bounded-structural-collect convention) so the pair cross join is
    * a LocalRelation, not a recompute of the corpus agg per side.
    * `est_overlap` can go slightly negative on near-disjoint sources
    * (estimator noise); reported raw, not clamped — a clamp would
    * hide exactly the signal (noise magnitude) the control column
    * pair gives.
    */
  def vocabOverlap(docs: DataFrame, p: Int = 10): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    import graft.functions.GraftFunctions.{HllAggName, HllEstName, HllMergeName}
    val skPlan = docs
      .select(col("source"), explode(TextFns.tokens(col("text"))).as("w"))
      .groupBy(col("source"))
      .agg(call_function(HllAggName,
        TextFns.hash60(col("w")), lit(p)).as("sk"))
    val rows = skPlan.collect()
    val local = skPlan.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), skPlan.schema)
    val a = local.select(col("source").as("source_a"), col("sk").as("__ska"))
    val b = local.select(col("source").as("source_b"), col("sk").as("__skb"))
    a.crossJoin(b).filter(col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"),
        call_function(HllEstName, col("__ska")).as("est_a"),
        call_function(HllEstName, col("__skb")).as("est_b"),
        call_function(HllEstName,
          call_function(HllMergeName, col("__ska"), col("__skb")))
          .as("est_union"))
      .withColumn("est_overlap",
        col("est_a") + col("est_b") - col("est_union"))
  }

  /** Build a Count-Min grid over a REFERENCE corpus's k-gram stream
    * (every occurrence, duplicates included — frequencies are the
    * point) and return its point-query probe
    * ([[graft.functions.CountMinAgg.probe]]) over the grid's broadcast
    * handle. Deliberately eager, exactly like
    * [[Decontaminate.buildGramBloomProbe]]: the grid is the
    * build-once/serve-many artifact the caller holds, and lazy
    * deliveries collapse at real grid sizes (plan-literal
    * deep-hashing; per-row `getBinary` copies).
    */
  def buildGramCmsProbe(
      refDocs: DataFrame,
      shingleK: Int = 3,
      width: Int = 8192,
      depth: Int = 4): Column => Column = {
    val spark = refDocs.sparkSession
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val bytes = TextDedup.gramHashes(refDocs, shingleK)
      .agg(call_function(graft.functions.GraftFunctions.CmsAggName,
        cmsGramKey(col("gh")), lit(width), lit(depth)).as("g"))
      .collect()(0).getAs[Array[Byte]]("g") // ONE row, depth·width longs
    graft.functions.CountMinAgg.probe(spark.sparkContext.broadcast(bytes))
  }

  /** The CMS key for a polynomial gram hash: gram hashes are 31-bit
    * (mod MinhashP), and the grid's Carter–Wegman family needs the
    * full md5-uniform 60 bits (a 31-bit key leaves `hHi ∈ {0, 1}` —
    * the depth rows would collapse to near-identical bucket maps), so
    * the gram re-hashes through the same portable
    * `hash60(CAST(x AS STRING))` every non-string key in this engine
    * uses. The oracle mirrors it verbatim.
    */
  private def cmsGramKey(gh: Column): Column =
    TextFns.hash60(gh.cast("string"))

  /** Gram familiarity per document at FIXED state — "how much of this
    * doc has the reference corpus seen, and how often": every distinct
    * k-gram of a doc is point-queried against a [[buildGramCmsProbe]]
    * grid, reporting `(doc_id, n_grams, seen_sum, mean_seen)` with
    * `seen_sum = Σ est(gram)` and one exactly-rounded IEEE division
    * for the mean. The sketch-backed form of the exact familiarity
    * join (L69/L83): the exact form shuffles the reference's gram
    * table into every probe; this form compresses the reference to
    * `depth × width` longs that ride the probe's broadcast — the only
    * shape that serves "score this crawl increment against the last
    * 100 TB" without touching the reference again. Estimates never
    * undercount (collision mass only inflates), and because the
    * bucket arithmetic is the engine-portable q140 form, the q142
    * oracle rebuilds the grid in SQL and matches `seen_sum` /
    * `mean_seen` exactly. Gram-less docs (< k tokens) report 0/0/0.0.
    */
  def cmsFamiliarity(
      docs: DataFrame,
      probe: Column => Column,
      shingleK: Int = 3): DataFrame = {
    val est = probe(cmsGramKey(col("gh")))
    val perDoc = TextDedup.gramHashes(docs, shingleK).distinct()
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(est).as("seen_sum"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("seen_sum"), lit(0L)).as("seen_sum"),
        when(col("n_grams").isNull, lit(0.0))
          .otherwise(coalesce(col("seen_sum"), lit(0L)).cast("double") /
            col("n_grams"))
          .as("mean_seen"))
  }

  /** Token seen-counts by Count-Min sketch
    * ([[graft.functions.CountMinAgg]]), calibrated against the exact
    * counts: per-source grids built in one corpus pass, rolled up by
    * `graft_cms_union_agg` (elementwise add — exact, so the rollup
    * equals the single global grid bit-for-bit), then the global grid
    * point-queried for the `topN` most frequent tokens. One row per
    * probed token: `(token, n_exact, n_est, overcount)` with
    * `n_est ≥ n_exact` always (the sketch's one-sided guarantee) and
    * `overcount` the collision mass at the chosen geometry — the
    * sizing evidence a deploy reads before replacing exact counts
    * with `depth × width` longs of state.
    *
    * Scale shape: the exact side is the calibration CONTROL (a sample
    * affords it; the production path is sketch-only) — one token
    * shuffle for the counts, one for the per-source grids; the probe
    * side is report-sized (`topN` rows against a one-row grid, the
    * [[graft.functions.CmsQuery]] delivery contract). Estimates are
    * integer-exact cross-engine: the bucket arithmetic is the
    * engine-portable Carter–Wegman form over [[TextFns.hash60]], so
    * the oracle rebuilds the grid in SQL and matches the collision
    * overcounts exactly (q140).
    */
  def tokenSeenCounts(
      docs: DataFrame,
      width: Int = 512,
      depth: Int = 4,
      topN: Int = 50): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    import graft.functions.GraftFunctions.{CmsAggName, CmsQueryName, CmsUnionAggName}
    val toks = docs
      .select(col("source"), explode(TextFns.tokens(col("text"))).as("w"))
    val grid = toks
      .groupBy(col("source"))
      .agg(call_function(CmsAggName,
        TextFns.hash60(col("w")), lit(width), lit(depth)).as("__g"))
      .agg(call_function(CmsUnionAggName, col("__g")).as("__g"))
    val top = toks
      .groupBy(col("w")).agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("w"))
      .limit(topN)
    top.crossJoin(broadcast(grid))
      .select(col("w").as("token"), col("n_exact"),
        call_function(CmsQueryName, col("__g"),
          TextFns.hash60(col("w"))).as("n_est"))
      .withColumn("overcount", col("n_est") - col("n_exact"))
  }
}
