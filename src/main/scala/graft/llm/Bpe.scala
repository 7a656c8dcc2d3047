package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair encoding with a REAL merge table — true token counts for
  * cost estimation, not just the pre-tokenization of
  * [[TextFns.regexTokens]] (which is where BPE vocabularies are
  * trained, but counts word pieces, not merged tokens).
  *
  * Two equivalent encoders:
  *
  *  1. a pure COLUMN pipeline ([[encodeColumn]]): each pre-token's
  *     characters are individually wrapped (`cat` → `⟨c⟩⟨a⟩⟨t⟩`, words
  *     joined by `¦`), then every merge rule `(a, b)` becomes one
  *     literal `replace("⟨a⟩⟨b⟩" → "⟨ab⟩")` applied in rank order.
  *     String `replace` substitutes non-overlapping occurrences left
  *     to right — exactly BPE's "merge every occurrence of the best
  *     pair, leftmost first". Codegen'd scalar ops end to end, and
  *     mirrorable literal-for-literal in SQL — the oracle path.
  *  2. a per-partition RANK-LOOP encoder ([[encodeDocs]]): the
  *     classical algorithm — repeatedly merge the lowest-rank adjacent
  *     pair until none applies — over a broadcast rank map. The
  *     production path for real vocabularies: a 50k-merge GPT-style
  *     table cannot unroll into 50k replace calls, but is one shared
  *     hash map and an O(pieces · merges-applied) loop per word.
  *
  * Why in-order-once equals the rank loop: a rule's input tokens are
  * produced only by EARLIER rules (that is how merge tables are
  * learned), and merging never splits tokens, so once rule i's pass is
  * done no new `(aᵢ, bᵢ)` adjacency can ever form — each rule needs
  * exactly one exhaustive pass, in rank order. [[LlmLayerSpec]]
  * asserts the two encoders token-identical.
  *
  * Scale: the column form is a per-row scalar expression — no shuffle,
  * fuses into the scan; the rank-loop form is `mapPartitions` with the
  * merge table broadcast once per executor. The wrapper characters
  * `⟨⟩¦` are assumed absent from the corpus (they are not word
  * characters, so the pre-tokenizer isolates them and they can never
  * participate in a merge; a literal `⟨` in the text perturbs only its
  * own token's count).
  */
object Bpe {

  /** A small hand-learned English merge table (rank order; the merged
    * token is the concatenation). Inputs of every rule are chars or
    * outputs of earlier rules, as a learned table guarantees.
    */
  val DefaultMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "a" -> "n", "an" -> "d",
    "e" -> "r", "o" -> "u", "r" -> "e", "o" -> "n", "s" -> "t",
    "in" -> "g", "the" -> "re")

  private val L = "⟨" // ⟨
  private val R = "⟩" // ⟩
  private val Sep = "¦" // ¦ word boundary; merges never cross it

  /** Pre-tokenized, char-wrapped form of `text`: every character of
    * every [[TextFns.regexTokens]] piece wrapped as `⟨c⟩`, pieces
    * joined by `¦`.
    */
  def wrapColumn(text: Column): Column =
    regexp_replace(
      array_join(TextFns.regexTokens(text), Sep),
      s"([^$Sep])", s"$L$$1$R")

  /** Merge tokens must not contain the wrapper/boundary chars (they
    * would corrupt the wrapped encoding itself, in BOTH encoders).
    * Checked once per pipeline build — learned tables can't produce
    * them (non-word chars never enter a merge) but a hand-written
    * table could.
    */
  private def validateMerges(merges: Seq[(String, String)]): Unit =
    merges.foreach { case (a, b) =>
      require(!(a + b).exists(c => c == '⟨' || c == '⟩' || c == '¦'),
        s"merge tokens may not contain wrapper chars ⟨⟩¦: ($a, $b)")
    }

  /** The wrapped string after all merges applied in rank order. */
  def mergedColumn(text: Column, merges: Seq[(String, String)] = DefaultMerges): Column = {
    validateMerges(merges)
    merges.foldLeft(wrapColumn(text)) { case (acc, (a, b)) =>
      call_function("replace", acc, lit(s"$L$a$R$L$b$R"), lit(s"$L$a$b$R"))
    }
  }

  /** BPE token array under `merges` — codegen'd scalar pipeline. */
  def tokens(text: Column, merges: Seq[(String, String)] = DefaultMerges): Column =
    regexp_extract_all(mergedColumn(text, merges), lit(s"$L([^$R]*)$R"), lit(1))

  /** True BPE token count: the number of `⟨` wrappers left after all
    * merges.
    */
  def tokenCount(text: Column, merges: Seq[(String, String)] = DefaultMerges): Column = {
    val m = mergedColumn(text, merges)
    (length(m) - length(call_function("replace", m, lit(L), lit("")))).cast("long")
  }

  /** DuckDB mirror of [[mergedColumn]] over a raw column expression —
    * the same wrap + in-order replaces, literal for literal, so the
    * oracle reproduces token values exactly.
    */
  def mergedSql(textExpr: String, merges: Seq[(String, String)] = DefaultMerges): String = {
    validateMerges(merges)
    // NB: DuckDB single-quoted strings are escape-free (no backslash
    // escapes), so the Java regex (`\s` and all) passes through
    // verbatim — the same raw interpolation q51's token mirror uses.
    // The ONE char that needs escaping is the quote itself, doubled:
    // a merge token containing ' would otherwise break the literal.
    def q(s: String) = s.replace("'", "''")
    val pattern = TextFns.BpeTokenPattern
    val wrapped = s"regexp_replace(array_to_string(regexp_extract_all(" +
      s"lower($textExpr), '$pattern'), '$Sep'), '([^$Sep])', '$L\\1$R', 'g')"
    merges.foldLeft(wrapped) { case (acc, (a, b)) =>
      s"replace($acc, '$L${q(a)}$R$L${q(b)}$R', '$L${q(a)}${q(b)}$R')"
    }
  }

  /** The counting kernel of one BPE TRAINING iteration (step 0:
    * character pairs): distinct pre-tokens are counted once
    * corpus-wide, then each word's adjacent symbol pairs contribute
    * the word's corpus count — top-k pairs by weighted count, exactly
    * the statistic argmaxed to learn the next merge rule. Running it
    * as corpus aggregation instead of a driver loop is what makes
    * vocabulary induction distributable: the corpus is scanned ONCE
    * (word-count groupBy on the word string); the pair explosion runs
    * over the distinct-word frame, which is vocabulary-sized, not
    * corpus-sized.
    */
  def pairCounts(docs: DataFrame, topK: Int = 20): DataFrame = {
    val words = docs
      .select(explode(TextFns.regexTokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("c"))
    val pairs = when(length(col("word")) >= 2,
      transform(sequence(lit(1), length(col("word")) - 1),
        i => col("word").substr(i, lit(2))))
      .otherwise(array().cast("array<string>"))
    words
      .select(explode(pairs).as("pair"), col("c"))
      .groupBy(col("pair")).agg(sum(col("c")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(topK)
  }

  /** Split a word into per-CODE-POINT pieces. Splitting per UTF-16
    * char (`w.map(_.toString)`) would cut every non-BMP character
    * (emoji, CJK extension B) into two lone surrogates — invalid
    * UTF-8 that Spark's UTF8String encodes as `?`, silently collapsing
    * distinct pieces when they round-trip through the distributed
    * regime. Code points are exactly what the column encoder's Java
    * regex `[^¦]` wraps, so both encoders and both training regimes
    * share one alphabet.
    */
  private[llm] def codePointPieces(w: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      val n = Character.charCount(cp)
      out += w.substring(i, i + n)
      i += n
    }
    out.result()
  }

  /** Code-point lexicographic comparison — identical to UTF-8 binary
    * order, which is the order Spark's `orderBy` applies to strings.
    * Java's `String.compareTo` is UTF-16 code-UNIT order, which ranks
    * supplementary code points (surrogate range 0xD800–0xDFFF) BELOW
    * [0xE000, 0xFFFF]; the two regimes' tie-breaks would diverge on
    * exactly the inputs the code-point split exists for.
    */
  private[llm] def cpCompare(a: String, b: String): Int = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  private[llm] def cpPairLess(
      x: (String, String), y: (String, String)): Boolean = {
    val c1 = cpCompare(x._1, y._1)
    if (c1 != 0) c1 < 0 else cpCompare(x._2, y._2) < 0
  }

  /** The classical rank-loop BPE encode of one pre-token (the merged
    * pair with the lowest rank merges everywhere, repeat to fixpoint).
    */
  private[llm] def encodeWord(
      word: String, ranks: Map[(String, String), Int]): Vector[String] = {
    var toks = codePointPieces(word)
    var done = toks.length < 2
    while (!done) {
      var best = Int.MaxValue
      var a: String = null
      var b: String = null
      var i = 0
      while (i < toks.length - 1) {
        val r = ranks.getOrElse((toks(i), toks(i + 1)), Int.MaxValue)
        if (r < best) { best = r; a = toks(i); b = toks(i + 1) }
        i += 1
      }
      if (best == Int.MaxValue) done = true
      else {
        // merge every occurrence of the best pair, leftmost first
        val out = Vector.newBuilder[String]
        var j = 0
        while (j < toks.length) {
          if (j < toks.length - 1 && toks(j) == a && toks(j + 1) == b) {
            out += a + b; j += 2
          } else { out += toks(j); j += 1 }
        }
        toks = out.result()
        done = toks.length < 2
      }
    }
    toks
  }

  /** Rank map for [[encodeDocs]]/[[encodeWord]]. */
  def ranksOf(merges: Seq[(String, String)]): Map[(String, String), Int] =
    merges.zipWithIndex.toMap

  /** Production encode: `(doc_id, tokens, n_tokens)` per document via
    * `mapPartitions` with the merge-rank map broadcast — the path that
    * scales to real (50k-rule) vocabularies. Pre-tokenization is the
    * same regex as the column form.
    */
  def encodeDocs(
      docs: DataFrame,
      merges: Seq[(String, String)] = DefaultMerges): DataFrame = {
    val session = docs.sparkSession
    import session.implicits._
    val pattern = TextFns.BpeTokenPattern.r
    val ranksB = session.sparkContext.broadcast(ranksOf(merges))
    docs.select(col("doc_id").cast("long"), lower(col("text")))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val ranks = ranksB.value
        rows.map { case (id, text) =>
          val toks = pattern.findAllIn(Option(text).getOrElse(""))
            .flatMap(w => encodeWord(w, ranks)).toSeq
          (id, toks, toks.length.toLong)
        }
      }
      .toDF("doc_id", "tokens", "n_tokens")
  }

  // ------------------------------------------------------------- training

  /** Apply one merge rule to a word's piece sequence: every
    * non-overlapping adjacent `(a, b)`, leftmost first — the same
    * semantics [[encodeWord]] applies and string `replace` mirrors.
    */
  private[llm] def mergePieces(
      pieces: Vector[String], a: String, b: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var j = 0
    while (j < pieces.length) {
      if (j < pieces.length - 1 && pieces(j) == a && pieces(j + 1) == b) {
        out += a + b; j += 2
      } else { out += pieces(j); j += 1 }
    }
    out.result()
  }

  /** LEARN a merge table from the corpus — the missing half of the BPE
    * story (encode applies a table; this produces one): repeatedly
    * take the highest-count adjacent piece pair and merge it
    * everywhere, emitting `(left, right, pair_count)` in rank order.
    * Tie-break is total and content-deterministic: count DESC, then
    * (left, right) ASC — the same convention as every top-k in the
    * repo. Stops early when the best pair falls below `minPairCount`
    * (singleton-noise rules are worse than no rule).
    *
    * SCALE DESIGN — the histogram trick (what production tokenizer
    * trainers do): training never iterates the corpus. ONE corpus
    * scan builds the `(word, count)` histogram, which is
    * VOCABULARY-sized, and the n-merge loop runs over that. Dual
    * regime from there ([[graft.Regimes.boundedRows]]):
    *  - a histogram within [[MaxDriverVocab]] rows and
    *    [[MaxDriverHistBytes]] is collected and the loop is a driver
    *    in-memory pass — exact, and at real vocabularies (~1e6 words) a
    *    few hundred MB of strings, the common case;
    *  - an open vocabulary (or a forced distributed run) keeps the
    *    histogram distributed, reading the checkpoint the probe filled:
    *    each ROUND is one vocabulary-sized keyed pair-count aggregate
    *    (map-side partials), a bounded top-k collect, and one UDF pass
    *    applying a provably-sequential BATCH of disjoint merges (see
    *    [[trainDistributed]]), with per-round localCheckpoint +
    *    superseded-block release (the CC loop convention) — rounds
    *    scale as ~nMerges/256, not nMerges.
    * Both regimes share [[mergePieces]] and the tie-break, and the
    * regime-equivalence spec pins them identical on a chained-merge
    * fixture. Boundary glyphs never appear: training runs on raw
    * [[TextFns.regexTokens]] word characters, exactly the alphabet
    * [[encodeWord]]/[[encodeColumn]] apply tables over.
    */
  def bpeTrain(
      docs: DataFrame,
      nMerges: Int,
      minPairCount: Long = 2L): Seq[(String, String, Long)] = {
    require(nMerges >= 0, "nMerges must be non-negative")
    val hist = docs
      .select(explode(TextFns.regexTokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("c"))
    // byte cap as well as row cap: the driver loop holds every word
    // EXPLODED to per-char pieces, so a corpus of pathological unbroken
    // letter runs must route to the distributed loop rather than OOM
    // the driver. ~64 B/char covers the piece-string and vector
    // overhead.
    graft.Regimes.boundedRows(hist, MaxDriverVocab, MaxDriverHistBytes,
        r => 64L * r.getString(0).length + 48L) match {
      case Right(rows) =>
        trainOnHist(rows.map(r => (r.getString(0), r.getLong(1))),
          nMerges, minPairCount)
      case Left(ck) => trainDistributed(docs.sparkSession, ck, nMerges, minPairCount)
    }
  }

  /** Above this many distinct words the histogram stays distributed. */
  private val MaxDriverVocab = 1 << 20

  /** Estimated in-driver footprint cap for the training histogram
    * (chars × piece overhead): ~1 GiB of budget at the
    * [[MaxDriverVocab]] cap means words may average ~250 chars before
    * the byte probe routes to the distributed loop.
    */
  private val MaxDriverHistBytes = 1L << 30

  private def trainOnHist(
      hist: Array[(String, Long)],
      nMerges: Int,
      minPairCount: Long): Seq[(String, String, Long)] = {
    var words: Array[(Vector[String], Long)] =
      hist.map { case (w, c) => (codePointPieces(w), c) }
    val acc = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
    var done = false
    while (acc.length < nMerges && !done) {
      val counts = new java.util.HashMap[(String, String), java.lang.Long]()
      words.foreach { case (ps, c) =>
        var i = 0
        while (i < ps.length - 1) {
          counts.merge((ps(i), ps(i + 1)), c, (x, y) => x + y)
          i += 1
        }
      }
      var best: ((String, String), Long) = null
      counts.forEach { (k, v) =>
        if (best == null || v > best._2 ||
            (v == best._2 && cpPairLess(k, best._1))) best = (k, v)
      }
      if (best == null || best._2 < minPairCount) done = true
      else {
        val ((a, b), cnt) = best
        acc += ((a, b, cnt))
        words = words.map { case (ps, c) => (mergePieces(ps, a, b), c) }
      }
    }
    acc.toSeq
  }

  /** Rounds the last [[trainDistributed]] run took — test/bench
    * introspection for the sublinear-rounds guarantee (VERDICT r13
    * next-round #3). Single-threaded use only.
    */
  private[llm] var lastDistributedRounds: Int = 0

  /** Candidates fetched per distributed round (so a 50k-merge
    * vocabulary needs ~hundreds of rounds, not 50k). The cap bounds
    * the per-round collect and the per-round UDF closure.
    */
  private[llm] val DistributedBatchCap = 256

  /** Distributed training loop, BATCHED (r14, VERDICT r13 #3): one
    * Spark round per merge is a wall-clock cliff at real (50k-rule)
    * vocabularies — ~50k driver-orchestrated aggregate+collect+
    * checkpoint cycles. Instead each round collects the top
    * `min(remaining, 256)+1` pairs in (count DESC, pair ASC) rank
    * order and applies a PROVABLY-SEQUENTIAL batch of them in one
    * pass:
    *
    *  - accept the contiguous prefix of candidates whose symbols are
    *    pairwise DISJOINT (stop at the first candidate sharing a
    *    symbol — or a batch-created or batch-creating token string —
    *    with an earlier accepted one);
    *  - truncate at the first member whose merged token already
    *    exists in the vocabulary (one bounded filtered-distinct probe
    *    per round — see the in-code note on why this should never
    *    fire organically);
    *  - then drop any accepted tail whose count is not STRICTLY
    *    greater than the first non-accepted candidate's count (or
    *    the last collected count when the list may be incomplete).
    *
    * Why that equals one-merge-per-round exactly (tie-breaks
    * included): applying a merge `(a,b)` never increases any existing
    * pair's count, leaves every symbol-disjoint pair's count
    * UNCHANGED, and only creates pairs `(x, ab)`/`(ab, y)` whose
    * counts are bounded by the pre-merge counts of `(x,a)`/`(b,y)` —
    * pairs that SHARE a symbol with the merge and are therefore
    * outside the accepted (disjoint) batch, hence counted by the
    * strict bound. So after applying the first j−1 accepted merges,
    * the j-th accepted candidate still strictly out-counts every
    * other surviving or created pair and remains the true argmax; the
    * strictness makes tie-break comparisons against created pairs
    * unreachable. The first accepted candidate is the global argmax
    * unconditionally. [[graft.llm.LlmLayerSpec]] pins batched ≡
    * sequential on chained (self-interacting) and tie-heavy fixtures
    * and asserts rounds ≪ nMerges on a disjoint-rich corpus.
    */
  private def trainDistributed(
      spark: org.apache.spark.sql.SparkSession,
      hist: DataFrame,
      nMerges: Int,
      minPairCount: Long): Seq[(String, String, Long)] = {
    import spark.implicits._
    var words = hist.as[(String, Long)]
      .map { case (w, c) => (codePointPieces(w).toArray, c) }
      .toDF("pieces", "c")
      .localCheckpoint()
    graft.operators.Checkpoints.release(hist) // the loop reads `words` only
    val acc = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
    lastDistributedRounds = 0
    var done = false
    while (acc.length < nMerges && !done) {
      lastDistributedRounds += 1
      val want = math.min(nMerges - acc.length, DistributedBatchCap)
      val k = want + 1 // +1: the first unaccepted row supplies the strict bound
      val len = greatest(size(col("pieces")) - 1, lit(0))
      val cand = words
        .select(explode(zip_with(
          slice(col("pieces"), lit(1), len),
          slice(col("pieces"), lit(2), len),
          (x, y) => struct(x.as("a"), y.as("b")))).as("p"), col("c"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("c")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(k).collect()
      if (cand.isEmpty || cand(0).getLong(2) < minPairCount) done = true
      else {
        // contiguous disjoint prefix; `created` additionally fences
        // candidates that reference or re-create a token another batch
        // member creates — a batch member's merged token must be fresh
        // in every sense, or applying earlier members could ADD count
        // to a pair the stale rank order placed lower (the r14 review
        // finding: symbol disjointness alone doesn't see string-level
        // token collisions)
        val syms = scala.collection.mutable.HashSet[String]()
        val created = scala.collection.mutable.HashSet[String]()
        var batch = Vector.empty[(String, String, Long)]
        var i = 0
        var scanning = true
        while (scanning && i < cand.length && batch.length < want) {
          val (a, b, cnt) =
            (cand(i).getString(0), cand(i).getString(1), cand(i).getLong(2))
          if (cnt < minPairCount || syms.contains(a) || syms.contains(b) ||
              created.contains(a) || created.contains(b) ||
              created.contains(a + b))
            scanning = false
          else {
            batch :+= ((a, b, cnt)); syms += a; syms += b
            created += (a + b); i += 1
          }
        }
        // Freshness probe: truncate the batch at the first member whose
        // merged token ALREADY EXISTS in the vocabulary — merging onto
        // an existing token string would boost that token's pairs above
        // the stale ranks. (Under global-rank sequential BPE a string's
        // creating pair appears to be unique — competing decompositions
        // need contradictory rank orders — so this probe should never
        // fire on organic corpora; it is one bounded filtered-distinct
        // job per multi-merge round, cheap insurance over an unproven
        // impossibility.) The batch head is always safe: it is the true
        // argmax regardless, and the next round recounts.
        if (batch.length > 1) {
          val toks = batch.map { case (a, b, _) => a + b }
          val existing = words
            .select(explode(col("pieces")).as("__p"))
            .filter(col("__p").isInCollection(toks))
            .distinct().collect().map(_.getString(0)).toSet
          val cut = batch.indexWhere { case (a, b, _) => existing(a + b) }
          if (cut >= 0) batch = batch.take(math.max(cut, 1))
        }
        // strict-count bound: the first non-accepted candidate in rank
        // order (the batch is always a rank-contiguous prefix, so that
        // is cand(m)). m == cand.length only when the pair table is
        // EXHAUSTED below k rows (batch.length < want = k-1 keeps
        // m < k, so a full k-row collect always leaves cand(m) as the
        // bound row) — no unseen pair exists, the bound is vacuous.
        val m = batch.length
        val bound =
          if (m < cand.length) cand(m).getLong(2)
          else Long.MinValue
        while (batch.length > 1 && batch.last._3 <= bound)
          batch = batch.init
        acc ++= batch
        val merges = batch.map { case (a, b, _) => (a, b) }
        val applyMerges = udf((ps: Seq[String]) =>
          merges.foldLeft(ps.toVector) { case (p, (a, b)) =>
            mergePieces(p, a, b)
          })
        val next = words
          .select(applyMerges(col("pieces")).as("pieces"), col("c"))
          .localCheckpoint()
        graft.operators.Checkpoints.release(words)
        words = next
      }
    }
    graft.operators.Checkpoints.release(words)
    acc.toSeq
  }
}
