package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators over a `documents(doc_id, text, ...)` corpus —
  * the LLM-training-pipeline layer. Four families, each with a distinct
  * scale profile:
  *
  *  - exact (content-hash groupBy): one shuffle on a 128-bit key; the
  *    only way to dedup 100 TB exactly.
  *  - MinHash-LSH (banded signatures → bucket self-join → exact-Jaccard
  *    rerank): candidate generation is keyed on (band, bucket), never
  *    all-pairs — the standard web-scale near-dedup shape (cf. Spark's
  *    own `org.apache.spark.ml.feature.MinHashLSH`, re-expressed here as
  *    pure DataFrame ops so it is SQL-oracle-checkable).
  *  - SimHash (bitwise signature + pigeonhole band join): constant-size
  *    signature per doc; hamming-≤h pairs are guaranteed to collide on
  *    ≥1 of (h+1) bands.
  *  - n-gram-Jaccard via inverted index (shingle self-join): exact but
  *    shuffle-heavy — the verify path, not the discovery path, at scale.
  *
  * Scale notes (100 TB): every self-join here is equi-keyed (shingle /
  * bucket / fingerprint), so Catalyst plans shuffle-hash or sort-merge
  * joins — no CartesianProduct anywhere (asserted in LlmLayerSpec). A
  * pathological bucket (e.g. a boilerplate shingle shared by millions
  * of docs) would square inside its key; the opt-in `maxBucketWidth`
  * parameter on the pair generators applies [[capBucketWidth]] — drop
  * buckets with > N members before the self-join — and is itself
  * oracle-checked (q52 mirrors the cap in SQL via a window QUALIFY).
  *
  * API contract (r8): operators return UNSORTED relations — a trailing
  * total-order sort is a full range shuffle a production caller never
  * asked for at 100 TB. The deterministic ordering the oracle harness
  * needs lives in the query wrappers (QueryPack/QueryPackExt), which
  * sort explicitly; PlanPropertiesSpec machine-asserts no Sort node in
  * the operator-API plans.
  */
object TextDedup {

  /** Exact dedup: group by content hash, keep the minimum doc_id.
    * One row per distinct content (n_copies > 1 ⇒ a duplicate group).
    */
  def exactDupGroups(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Near-exact dedup on a normalized prefix key (first k tokens):
    * groups with >1 member, members listed sorted within the row. The cheap
    * "same-leading-content" pass that precedes full MinHash in a real
    * pipeline.
    */
  def prefixDupGroups(docs: DataFrame, k: Int = 5): DataFrame = {
    val toks = TextFns.tokens(col("text"))
    docs
      .select(col("doc_id"),
        md5(array_join(slice(toks, 1, k), " ")).as("prefix_key"))
      .groupBy(col("prefix_key"))
      .agg(count(lit(1)).as("n_docs"),
        array_join(
          transform(array_sort(collect_list(col("doc_id"))), _.cast("string")),
          ",").as("members"))
      .filter(col("n_docs") > 1)
  }

  /** Segment-level exact dedup (the C4 "line dedup" pass, over
    * fixed-width token segments since this corpus is single-line):
    * chunk each doc into consecutive `width`-token segments, keep only
    * the globally-first occurrence of each distinct segment (ordered
    * by (doc_id, seg_idx) — repeats *within* a doc drop too), and
    * reassemble each doc from its surviving segments in order. One row
    * per doc: `(doc_id, n_segments, n_kept, clean_text)`.
    *
    * Scale: segmentation is a per-row array transform (no explode
    * shuffle to build segments); the dedup itself is ONE shuffle on
    * the 128-bit segment hash (the window) and one shuffle back to
    * doc_id for reassembly — both keyed, no joins. Zero-token docs
    * contribute a single empty segment so every doc survives to the
    * output.
    */
  def segmentDedup(docs: DataFrame, width: Int = 8): DataFrame = {
    val toks = TextFns.tokens(col("text"))
    val nSeg = greatest(
      ceil(size(col("w")).cast("double") / width).cast("int"), lit(1))
    val segments = transform(sequence(lit(0), nSeg - 1),
      i => array_join(slice(col("w"), i * width + 1, lit(width)), " "))
    val firstOccurrence = Window
      .partitionBy(md5(col("segment")))
      .orderBy(col("doc_id"), col("seg_idx"))
    docs
      .select(col("doc_id"), toks.as("w"))
      .select(col("doc_id"),
        posexplode(segments).as(Seq("seg_idx", "segment")))
      .withColumn("rn", row_number().over(firstOccurrence))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_segments"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("rn") === 1,
                struct(col("seg_idx"), col("segment"))))),
            s => s.getField("segment")),
          " ").as("clean_text"))
  }

  /** Corpus-frequency boilerplate removal (the CCNet/RefinedWeb line
    * dedup pass, over fixed-width token segments since this corpus is
    * single-line): a segment occurring in at least `minDocs` DISTINCT
    * documents is boilerplate (headers, footers, navigation chrome) —
    * drop EVERY occurrence and reassemble the survivors in order. One
    * row per doc: `(doc_id, n_segments, n_dropped, clean_text)`.
    *
    * Contrast with [[segmentDedup]]: that keeps the globally-FIRST
    * occurrence of each segment (dedup — later repeats drop); this
    * drops ALL occurrences of corpus-frequent segments while keeping
    * rare content intact even when it repeats a few times.
    *
    * Scale: segmentation is per-row; document frequency is one
    * groupBy on the 128-bit segment hash whose output is FILTERED to
    * frequent keys before the re-join — at threshold k over S total
    * segments the boilerplate table has at most S/k rows (real
    * boilerplate vocabularies are far smaller), so AQE broadcasts the
    * equi-join back. No corpus-wide window, no all-pairs.
    */
  def boilerplateStrip(
      docs: DataFrame, width: Int = 2, minDocs: Long = 20): DataFrame = {
    val toks = TextFns.tokens(col("text"))
    val nSeg = greatest(
      ceil(size(col("w")).cast("double") / width).cast("int"), lit(1))
    val segments = transform(sequence(lit(0), nSeg - 1),
      i => array_join(slice(col("w"), i * width + 1, lit(width)), " "))
    val seg = docs
      .select(col("doc_id"), toks.as("w"))
      .select(col("doc_id"),
        posexplode(segments).as(Seq("seg_idx", "segment")))
      .withColumn("h", md5(col("segment")))
    val boiler = seg
      .groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= minDocs)
      .select(col("h"), lit(true).as("is_boiler"))
    seg.join(boiler, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_segments"),
        sum(when(col("is_boiler"), 1L).otherwise(0L)).as("n_dropped"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("is_boiler").isNull,
                struct(col("seg_idx"), col("segment"))))),
            s => s.getField("segment")),
          " ").as("clean_text"))
  }

  /** Content-defined chunking (CDC) statistics: Rabin-style chunk
    * boundaries cut AFTER any token whose hash ≡ 0 (mod `modulus`), so
    * a boundary depends only on local content — an insertion early in
    * a document shifts chunk frames only until the next boundary,
    * the property that makes CDC the storage-dedup standard (fixed
    * frames lose alignment forever after one edit; contrast
    * [[segmentDedup]]'s fixed width). Per source: total chunks,
    * distinct chunk hashes, and the duplicated-chunk fraction — the
    * chunk-store compression a CDC layer achieves on this corpus.
    * Expected chunk length = `modulus` tokens.
    *
    * Scale: one shuffle to number tokens within each doc (window keyed
    * by doc_id — never global), one keyed agg per (doc, chunk) where
    * the chunk text is hashed and discarded, one tiny agg per source.
    */
  def cdcChunkStats(docs: DataFrame, modulus: Int = 8): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val tok = docs.select(col("doc_id"), col("source"),
      posexplode(TextFns.tokens(col("text"))).as(Seq("pos", "tok")))
    val chunked = tok
      .withColumn("b",
        when(TextFns.hash60(col("tok")) % modulus === 0, 1L).otherwise(0L))
      // chunk id = boundaries at or before me, minus my own flag —
      // i.e. a boundary token CLOSES its chunk
      .withColumn("chunk", sum(col("b")).over(wDoc) - col("b"))
    chunked
      .groupBy(col("doc_id"), col("source"), col("chunk"))
      .agg(md5(array_join(
        transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok")),
        " ")).as("chunk_hash"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_chunks"),
        countDistinct(col("chunk_hash")).as("n_distinct"),
        round(lit(1.0) -
          countDistinct(col("chunk_hash")).cast("double") / count(lit(1)), 9)
          .as("dup_frac"))
  }

  /** Hash-distribute a corpus scan across the session's shuffle
    * parallelism before a CPU-bound stage. Small-file corpora (and any
    * non-splittable input) can scan as a handful of partitions, which
    * would serialize the hashing work onto a few cores; one shuffle of
    * the raw text is negligible against the signature computation it
    * parallelizes. The partition count is pinned explicitly so AQE
    * doesn't coalesce the (byte-small, CPU-heavy) exchange back down.
    */
  private[llm] def spread(df: DataFrame, key: String): DataFrame = {
    val n = df.sparkSession.conf.getOption("spark.sql.shuffle.partitions")
      .flatMap(s => scala.util.Try(s.toInt).toOption).getOrElse(200)
    df.repartition(n, col(key))
  }

  /** `(doc_id, gh)` rows: the polynomial 31-bit hash of every word
    * k-gram position (with multiplicity). Each token is md5-hashed
    * ONCE on the codegen'd scalar path; a k-gram's hash is the
    * coefficient-weighted sum of its k token hashes mod 2^31-1,
    * assembled with window `lead`s over token position — no k-gram
    * string is ever materialized. This is the shared front end of
    * every shingle-based dedup here (MinHash, n-gram Jaccard,
    * fingerprint): downstream works on long keys, never strings.
    * Incomplete trailing grams (and docs with < k tokens) null out
    * and drop.
    */
  private[llm] def gramExpr(
      k: Int, coef: Int => Long,
      w: org.apache.spark.sql.expressions.WindowSpec): org.apache.spark.sql.Column =
    (0 until k).map { j =>
      val h = if (j == 0) col("h") else lead(col("h"), j).over(w)
      (h * lit(coef(j))) % lit(TextFns.MinhashP)
    }.reduce(_ + _) % lit(TextFns.MinhashP)

  private def tokenHashRows(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    // tokenize + hash BEFORE the spread (r22, guide §2.3/§8): the
    // exchange carries (doc_id, token-hash array) instead of raw text,
    // and the md5 pass runs at SCAN parallelism instead of serializing
    // onto the (narrower) shuffle width. posexplode of the hash array
    // emits the identical (pos, h) rows — tokenHashes is
    // transform(tokens, hash31), order-preserving by definition.
    spread(docs.select(col("doc_id"),
      TextFns.tokenHashes(col("text")).as("hs")), "doc_id")
      .select(col("doc_id"), posexplode(col("hs")))
      .select(col("doc_id"), col("pos"), col("col").as("h"))
  }

  private[llm] def gramHashes(docs: DataFrame, k: Int): DataFrame = {
    // IN-ROW assembly over the concrete token-hash array (r21): emits
    // the identical gh multiset as the old window form (the
    // [[TextFns.gramHashArray]] twin assertion) — no exploded-token
    // frame, no per-doc window sort. r22 (guide §2.3/§8): the
    // tokenize + md5 pass is PROJECTED BEFORE the spread, so it runs
    // at scan parallelism and the exchange carries the narrow
    // (doc_id, hs) rows; only the integer gram fold and the explode
    // run post-shuffle. The exchange's doc_id hash-partitioning still
    // feeds downstream groupBy(doc_id) consumers with no further
    // exchange, exactly as before.
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    spread(docs.select(col("doc_id"),
      TextFns.tokenHashes(col("text")).as("hs")), "doc_id")
      .select(col("doc_id"),
        explode(TextFns.gramHashArray(col("hs"), k)).as("gh"))
  }

  /** Per-doc distinct gram-hash sets (docs with ≥ k tokens). The
    * groupBy rides the gramHashes window's doc_id partitioning, so
    * dedup is map-side-complete before any further shuffle. Jaccard
    * over hashed shingle sets equals Jaccard over the shingles
    * themselves up to 2^-31 collisions — and since the SQL oracle
    * mirrors the same hashes, the compare is exact either way.
    */
  private def shingleSets(docs: DataFrame, k: Int): DataFrame =
    gramHashes(docs, k)
      .groupBy(col("doc_id"))
      .agg(collect_set(col("gh")).as("sh"))

  /** [[shingleSets]] with an extra passthrough grouping column — the
    * shared front end for multi-slice callers (r22):
    * [[graft.llm.Curation.incrementGate]] shingles its history,
    * increment and eval slices in ONE tagged spread → tokenize → gram
    * → collect_set pipeline instead of three. Per-(tag, doc_id) sets
    * are value-identical to per-slice [[shingleSets]] runs (grams are
    * a pure per-row function of text), and the groupBy still rides the
    * spread's doc_id hash-partitioning (a superset grouping key
    * satisfies the narrower clustering), so no extra exchange appears.
    */
  private[llm] def shingleSetsTagged(
      docs: DataFrame, k: Int, tagCol: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    // same projected spread as [[gramHashes]] (r22): hash map-side,
    // shuffle (tag, doc_id, hs)
    spread(docs.select(col(tagCol), col("doc_id"),
      TextFns.tokenHashes(col("text")).as("hs")), "doc_id")
      .select(col(tagCol), col("doc_id"),
        explode(TextFns.gramHashArray(col("hs"), k)).as("gh"))
      .groupBy(col(tagCol), col("doc_id"))
      .agg(collect_set(col("gh")).as("sh"))
  }

  /** Verbatim-span removal — the suffix-array dedup analog ("dedup at
    * the span level, not the document level"): any `k`-token window
    * that appears VERBATIM in at least one OTHER document marks all k
    * of its positions covered; covered tokens are stripped and the
    * survivors reassembled in order. Catches the cross-doc quote /
    * licence block / syndicated paragraph that document-level Jaccard
    * dilutes below threshold, without building an actual suffix array.
    * One row per doc with ≥1 token:
    * `(doc_id, n_tokens, n_covered, cov_frac, clean_text)`.
    * Within-doc repeats do NOT cover (sharing counts DISTINCT docs).
    *
    * Scale: gram hashes ride the per-doc window partitioning; the
    * shared-gram table is one keyed agg FILTERED to df ≥ 2 before the
    * join back; the ×k position explode runs only over shared-gram
    * OCCURRENCES (duplication-bounded, not corpus-bounded); every
    * join is equi-keyed on the gram hash or (doc, pos).
    */
  def verbatimSpans(docs: DataFrame, k: Int = 5): DataFrame =
    stripCoveredSpans(docs, k, grams =>
      grams.groupBy(col("gh"))
        .agg(countDistinct(col("doc_id")).as("df"))
        .filter(col("df") >= 2)
        .select(col("gh")))

  /** Span-strip core shared by [[verbatimSpans]] (spans shared across
    * the corpus) and [[Decontaminate.stripSpans]] (spans shared with an
    * eval set): `markedOf(grams)` returns the 1-column `gh` frame of
    * gram hashes whose occurrences cover; covered tokens strip and
    * survivors reassemble.
    */
  private[llm] def stripCoveredSpans(
      docs: DataFrame, k: Int,
      markedOf: DataFrame => DataFrame): DataFrame = {
    // self-sufficient entry point: the hash31/hash60 columns below are
    // session-registered functions (callers must not depend on a prior
    // gramHashes call having registered them as a side effect)
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    // positioned grams assemble IN-ROW over the concrete token-hash
    // array (r21; the [[TextFns.gramHashArray]] twin emits IDENTICAL
    // gh values to the old window form, and posexplode's 0-based index
    // IS the gram's start position): scan → project → explode, all
    // codegen — no exploded-token window, no per-doc sort. The spread
    // stays on RAW TEXT here, unlike [[gramHashes]]' projected form:
    // this operator's three consumers (marked-gram agg, covered join,
    // reassembly) REUSE the one text exchange, and a projected
    // (w, hs) spread splits under column pruning into three separate
    // exchanges of wider rows (measured r22: 3 scans, 5 exchanges,
    // zero ReusedExchange, bench flat locally — strictly more shuffle
    // bytes at scale, so rejected).
    val base = spread(docs, "doc_id")
    val grams = base
      .withColumn("hs", TextFns.tokenHashes(col("text")))
      .select(col("doc_id"),
        posexplode(TextFns.gramHashArray(col("hs"), k)))
      .select(col("doc_id"), col("pos"), col("col").as("gh"))
    // covered POSITIONS aggregate to one per-doc set (r22; the r21
    // shape kept them as rows, LEFT-joined the corpus-sized exploded
    // token frame against them on (doc_id, pos), and rebuilt each doc
    // with an array_sort(collect_list(struct)) — a per-doc struct sort
    // over EVERY token. collect_set ≡ the old row-level distinct, and
    // the reassembly below never sorts: duplication-bounded work only.)
    val cov = grams.join(markedOf(grams), Seq("gh"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (k - 1))).as("cpos"))
      .groupBy(col("doc_id"))
      .agg(collect_set(col("cpos")).as("cps"))
    // reassembly is IN-ROW over the token array: kept positions =
    // array_except(0..n-1, cps) — hash-set codegen, ascending because
    // array_except preserves left order — then one O(1) element_at per
    // kept token. (The transform lambda is CodegenFallback, but its
    // per-element body is a single array index — nothing like the
    // k-element_at-per-position fold that sank the q34 in-row form.)
    val kept = array_except(
      sequence(lit(0), size(col("w")) - 1), col("cps"))
    base
      .select(col("doc_id"), TextFns.tokens(col("text")).as("w"))
      .filter(size(col("w")) >= 1) // the exploded form emitted no row
      //  for 0-token docs; the doc-level form must drop them explicitly
      .join(cov, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        size(col("w")).cast("long").as("n_tokens"),
        when(col("cps").isNull, 0L)
          .otherwise(size(col("cps")).cast("long")).as("n_covered"),
        (when(col("cps").isNull, 0L)
          .otherwise(size(col("cps")).cast("long")).cast("double") /
          size(col("w")).cast("long")).as("cov_frac"),
        when(col("cps").isNull, array_join(col("w"), " "))
          .otherwise(array_join(
            transform(kept, p => element_at(col("w"), p + 1)), " "))
          .as("clean_text"))
  }

  /** The MinHash-LSH front end in persisted-index form:
    * `(buckets, sets)` — `buckets` is the LSH posting list
    * `(doc_id, band, bucket)` (persist/bucket it by `(band, bucket)`
    * in production) and `sets` the per-doc shingle-hash sets for the
    * exact-Jaccard rerank. Build the index over a corpus ONCE; each
    * new batch then probes it with [[probeMinhashIndex]] instead of
    * re-signaturing 100 TB per increment.
    *
    * `sets` and the internal signature table are localCheckpointed
    * (each is read 2–3 times by the self-join/rerank consumers — the
    * in-session analog of the parquet index a production job writes
    * between stages); `buckets` itself is NOT — it re-derives from the
    * checkpointed signatures with one cheap band explode per read.
    * The pinned blocks are released by the harness broom
    * (`Checkpoints.releaseLeaked`) between queries.
    */
  def minhashIndex(
      docs: DataFrame,
      shingleK: Int = 3,
      nHashes: Int = 12,
      bands: Int = 4,
      maxBucketWidth: Option[Int] = None): (DataFrame, DataFrame) =
    minhashIndexImpl(docs, shingleK, nHashes, bands, maxBucketWidth,
      checkpointSignatures = true)

  /** [[minhashIndex]] with the signature checkpoint OPTIONAL (r17, the
    * q146 stage-floor cut): the `mh` checkpoint exists for consumers
    * that read the bucket frame more than once (the LSH SELF-join
    * reads it twice), but a single-consumer caller — an increment
    * probe, a one-shot gate — pays the checkpoint job and its pinned
    * blocks for nothing. `sets` always checkpoints: every caller
    * reads it at least twice (signatures + rerank, or + document
    * frequency).
    */
  private[llm] def minhashIndexImpl(
      docs: DataFrame,
      shingleK: Int,
      nHashes: Int,
      bands: Int,
      maxBucketWidth: Option[Int],
      checkpointSignatures: Boolean): (DataFrame, DataFrame) = {
    // LAZY checkpoint (r21): every caller consumes `sets` through
    // full-partition actions (the signature agg, Jaccard rerank,
    // posting-frame explode), so the first consumer's job materializes
    // and truncates it — same exactly-once pipeline guarantee as the
    // eager form, minus one dedicated materialization job per index
    // build (the 120-200 ms TextDedup:376 job in every minhash query).
    val sets = shingleSets(docs, shingleK).localCheckpoint(eager = false)
    (bucketsFromSets(sets, nHashes, bands, maxBucketWidth,
      checkpointSignatures), sets)
  }

  /** The signature + banded-bucket back half of [[minhashIndexImpl]],
    * split out (r22) so callers that derive several index sides from
    * ONE shared gram front end ([[graft.llm.Curation.incrementGate]]
    * shingles history, increment and eval slices in a single tagged
    * pipeline) can bucket each side without re-shingling it. `sets` is
    * any `(doc_id, sh)` shingle-set frame — per-doc values, so buckets
    * computed from a filtered shared frame are identical to buckets
    * computed from a per-side build.
    */
  private[llm] def bucketsFromSets(
      sets: DataFrame,
      nHashes: Int,
      bands: Int,
      maxBucketWidth: Option[Int],
      checkpointSignatures: Boolean): DataFrame = {
    require(nHashes % bands == 0, "bands must divide nHashes")
    val rows = nHashes / bands
    // signature via explode -> scalar permutations -> partial-aggregated
    // min: the set elements are ALREADY 31-bit gram hashes (md5 happened
    // once per token in gramHashes), so the 12 linear perms apply
    // directly — no per-posting hashing at all, combined map-side down
    // to one 12-column row per doc before the shuffle. (An
    // array-transform formulation keeps it shuffle-free but generates
    // 13 nested array loops per row — measured 3-6x slower in
    // codegen+exec than this partial-agg shape.)
    val mh0 = sets
      .select(col("doc_id"), explode(col("sh")).as("gh"))
      .groupBy(col("doc_id"))
      .agg(
        min(TextFns.minhashPerm(0, col("gh"))).as("mh_0"),
        (1 until nHashes).map(s =>
          min(TextFns.minhashPerm(s, col("gh"))).as(s"mh_$s")): _*)
    // lazy for the same reason: the LSH self-join's first bucket read
    // materializes it; the second read (and any rerank) hits blocks
    val mh = if (checkpointSignatures) mh0.localCheckpoint(eager = false)
      else mh0
    // one 128-bit bucket key per band: md5 of the band's minhash values
    // in seed order (order-independent aggregate inputs ⇒ deterministic)
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        md5(concat_ws(",",
          (0 until rows).map(r => col(s"mh_${b * rows + r}").cast("string")): _*))
          .as("bucket"))
    }
    val allBuckets = mh
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    maxBucketWidth
      .fold(allBuckets)(capBucketWidth(allBuckets, Seq("band", "bucket"), _))
  }

  /** Persist a [[minhashIndex]] as bucketed tables — the production
    * form of the incremental-dedup index: `buckets` bucketed (and
    * sorted) by the `(band, bucket)` probe key and `sets` bucketed by
    * `doc_id` (the rerank key), so a later [[probeMinhashIndex]] scans
    * the corpus side pre-partitioned — the candidate join needs no
    * exchange on the (huge) index side, only on the (small) batch
    * side. `numBuckets` should match the cluster's parallelism at the
    * index's scale.
    */
  def writeMinhashIndex(
      buckets: DataFrame,
      sets: DataFrame,
      bucketsTable: String,
      setsTable: String,
      numBuckets: Int = 64): Unit = {
    buckets.write
      .bucketBy(numBuckets, "band", "bucket").sortBy("band", "bucket")
      .mode("overwrite").saveAsTable(bucketsTable)
    sets.write
      .bucketBy(numBuckets, "doc_id")
      .mode("overwrite").saveAsTable(setsTable)
  }

  /** The persisted index back as `(buckets, sets)`, bucket layout
    * intact — pass straight to [[probeMinhashIndex]].
    */
  def readMinhashIndex(
      spark: org.apache.spark.sql.SparkSession,
      bucketsTable: String,
      setsTable: String): (DataFrame, DataFrame) =
    (spark.table(bucketsTable), spark.table(setsTable))

  /** The exact-Jaccard rerank shared by the monolithic and
    * incremental dedup paths: join each candidate side to its shingle
    * set, intersect, threshold. Zero-intersection candidates keep
    * jaccard 0 and fall to any positive threshold — identical on both
    * paths (and to the SQL mirror, whose inner gram join drops them).
    */
  private def jaccardRerank(
      cand: DataFrame,
      leftSets: DataFrame,
      rightSets: DataFrame,
      leftKey: String,
      rightKey: String,
      threshold: Double): DataFrame =
    cand
      .join(leftSets.select(col("doc_id").as(leftKey), col("sh").as("sha")),
        leftKey)
      .join(rightSets.select(col("doc_id").as(rightKey), col("sh").as("shb")),
        rightKey)
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (size(col("sha")) + size(col("shb")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col(leftKey), col(rightKey), col("jaccard"))

  /** Incremental near-dedup: probe a NEW batch of docs against an
    * existing corpus index ([[minhashIndex]]) — the daily-crawl
    * scenario, where re-running pairwise dedup over corpus ∪ batch
    * would re-signature the whole corpus for a 0.1% increment. The
    * batch computes its own signatures (same seeded permutations, so
    * values are comparable by construction), meets the index on the
    * `(band, bucket)` equi-key, and reranks candidates by exact
    * Jaccard. Emits `(new_id, corpus_id, jaccard)` with jaccard ≥
    * `threshold`. A batch doc whose doc_id already exists in the index
    * (a re-crawled, unchanged document) never pairs with ITSELF — the
    * degenerate (id, id, 1.0) row that would make a naive consumer
    * drop the corpus's only copy.
    *
    * Scale shape: the probe side is small, so its bucket and set
    * frames broadcast (AQE picks this up from size); the corpus index
    * is only ever touched by equi-joins — when the index parquet is
    * bucketed by `(band, bucket)` the candidate join is co-located
    * and shuffle-free on the corpus side too.
    */
  def probeMinhashIndex(
      newDocs: DataFrame,
      indexBuckets: DataFrame,
      indexSets: DataFrame,
      shingleK: Int = 3,
      nHashes: Int = 12,
      bands: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    // probe-side signatures feed ONE bucket join: skip their checkpoint
    val (nb, ns) = minhashIndexImpl(newDocs, shingleK, nHashes, bands,
      None, checkpointSignatures = false)
    probePrebuilt(nb, ns, indexBuckets, indexSets, threshold)
  }

  /** [[probeMinhashIndex]] against an ALREADY-SIGNED batch — for
    * callers that build the batch's `(buckets, sets)` once and reuse
    * the sets for other gram work ([[graft.llm.Curation.incrementGate]]
    * derives its shared gram frame from the same checkpoint, so the
    * increment is shingled exactly once across every verdict).
    */
  private[llm] def probePrebuilt(
      newBuckets: DataFrame,
      newSets: DataFrame,
      indexBuckets: DataFrame,
      indexSets: DataFrame,
      threshold: Double): DataFrame = {
    val cand = indexBuckets.as("a")
      .join(newBuckets.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(col("b.doc_id").as("new_id"), col("a.doc_id").as("corpus_id"))
      .distinct()
    jaccardRerank(cand, newSets, indexSets, "new_id", "corpus_id", threshold)
  }

  /** MinHash-LSH near-dedup: deterministic seeded signatures, banded
    * buckets, bucket-keyed candidate self-join, exact-Jaccard rerank.
    * Emits (da, db, jaccard) for candidate pairs with Jaccard ≥
    * `threshold`. Recall follows the LSH S-curve
    * P(candidate) = 1-(1-j^r)^b with r = nHashes/bands rows per band.
    */
  def minhashLshPairs(
      docs: DataFrame,
      shingleK: Int = 3,
      nHashes: Int = 12,
      bands: Int = 4,
      threshold: Double = 0.5,
      maxBucketWidth: Option[Int] = None): DataFrame = {
    val (buckets, sets) =
      minhashIndex(docs, shingleK, nHashes, bands, maxBucketWidth)
    val cand = buckets.as("a")
      .join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
    jaccardRerank(cand, sets, sets, "da", "db", threshold)
  }

  /** Cross-source duplicate attribution — the curation diagnostic
    * behind "is src7 a mirror of src3?": near-dup pairs
    * ([[minhashLshPairs]]) are attributed to their source pair
    * (unordered, via least/greatest) and counted. A heavy off-diagonal
    * cell means two feeds ship the same content (drop one); a heavy
    * diagonal cell means one feed re-publishes itself. The pair list
    * is the dedup output (small relative to the corpus), so the two
    * doc_id-keyed source lookups broadcast under AQE at any corpus
    * size.
    */
  def dupSourceAttribution(
      docs: DataFrame,
      sourceCol: String = "source",
      shingleK: Int = 3,
      nHashes: Int = 12,
      bands: Int = 4,
      threshold: Double = 0.5,
      maxBucketWidth: Option[Int] = None): DataFrame = {
    val pairs =
      minhashLshPairs(docs, shingleK, nHashes, bands, threshold, maxBucketWidth)
    val src = docs.select(col("doc_id"), col(sourceCol))
    pairs
      .join(src.select(col("doc_id").as("da"), col(sourceCol).as("sa")), "da")
      .join(src.select(col("doc_id").as("db"), col(sourceCol).as("sb")), "db")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_dup_pairs"))
  }

  /** Exact n-gram Jaccard over an inverted shingle index (the verify
    * path): docs sharing ≥1 shingle meet in the shingle-keyed
    * self-join; pairs with Jaccard ≥ `threshold` survive. The index
    * keys are gram HASHES (longs), not shingle strings — an 8-byte
    * shuffle key instead of a ~20-byte string one. At corpus scale the
    * shingle join still shuffles every posting — use minhashLshPairs
    * for discovery and this only to verify candidates; `maxDocId`
    * (optional) bounds the verified slice, e.g. a candidate id range.
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      maxDocId: Option[Long] = None,
      shingleK: Int = 3,
      threshold: Double = 0.2): DataFrame = {
    val bounded = maxDocId.fold(docs)(m => docs.filter(col("doc_id") < m))
    val sets = shingleSets(bounded, shingleK)
    val postings = sets.select(col("doc_id"), explode(col("sh")).as("gh"))
    val inter = postings.as("a")
      .join(postings.as("b"),
        col("a.gh") === col("b.gh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sets.select(col("doc_id").as("da"), size(col("sh")).as("na")), "da")
      .join(sets.select(col("doc_id").as("db"), size(col("sh")).as("nb")), "db")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("da"), col("db"), col("jaccard"))
  }

  /** Containment near-dup pairs: |A∩B| / min(|A|, |B|) over distinct
    * word k-gram sets — the signal that catches a document EMBEDDED in
    * a larger one (quote farms, boilerplate wrappers), which symmetric
    * Jaccard dilutes toward 0 as the host document grows. Same
    * inverted-index shape as [[ngramJaccardPairs]] (postings self-join
    * on the 8-byte gram hash, never all-pairs): the exact verify path;
    * at corpus scale generate candidates with the banded LSH first and
    * compute containment only on survivors.
    */
  def containmentPairs(
      docs: DataFrame,
      maxDocId: Option[Long] = None,
      shingleK: Int = 3,
      threshold: Double = 0.6): DataFrame = {
    val bounded = maxDocId.fold(docs)(m => docs.filter(col("doc_id") < m))
    val sets = shingleSets(bounded, shingleK)
    val postings = sets.select(col("doc_id"), explode(col("sh")).as("gh"))
    val inter = postings.as("a")
      .join(postings.as("b"),
        col("a.gh") === col("b.gh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sets.select(col("doc_id").as("da"), size(col("sh")).as("na")), "da")
      .join(sets.select(col("doc_id").as("db"), size(col("sh")).as("nb")), "db")
      .withColumn("containment",
        col("inter").cast("double") / least(col("na"), col("nb")))
      .filter(col("containment") >= threshold)
      .select(col("da"), col("db"), col("containment"))
  }

  /** Edit-distance near-dup pairs with prefix blocking: candidates
    * share their first-`prefixK`-token key (the q28 blocking key — an
    * equi-join, never all-pairs), then exact Levenshtein on the full
    * text keeps pairs within `maxDist`. The classic fuzzy-match
    * verify for OCR/typo-level duplication that shingle Jaccard
    * under-scores (one in-word edit changes k shingles). Cost is
    * O(len²) per CANDIDATE, so the blocking key must stay selective —
    * at corpus scale feed LSH survivors instead of raw blocks.
    */
  def editDistancePairs(
      docs: DataFrame,
      prefixK: Int = 3,
      maxDist: Int = 60): DataFrame = {
    val toks = TextFns.tokens(col("text"))
    val keyed = docs.select(col("doc_id"), col("text"),
      md5(array_join(slice(toks, 1, prefixK), " ")).as("blk"))
    // candidate generation: ONLY cheap conditions in/around the join —
    // the block equi-key, the id order, and the length bound
    // (|len(a)−len(b)| > maxDist already implies dist > maxDist)
    val cand = keyed.as("a")
      .join(keyed.as("b"),
        col("a.blk") === col("b.blk") && col("a.doc_id") < col("b.doc_id"))
      .filter(abs(length(col("a.text")) - length(col("b.text"))) <= maxDist)
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        col("a.text").as("ta"), col("b.text").as("tb"))
      // optimization fence (the q67 lesson, join edition): without it
      // PushPredicateThroughJoin folds the dist filter — levenshtein
      // included — into the join CONDITION, which evaluates on the
      // interpreted row path (measured 13.4 s at sf0.1 vs 0.9 s for
      // the same join without it; the identical DP volume costs 0.03 s
      // in a codegen'd Project). The fence pins the candidate frame
      // (pair-list-sized, tiny) so the DP runs exactly once per pair.
      // Lazy (r21): the LogicalRDD fence exists at plan time either
      // way; the single consumer's job materializes it, saving the
      // dedicated checkpoint job.
      .localCheckpoint(eager = false)
    cand
      .select(col("da"), col("db"),
        // thresholded builtin = banded O(len·maxDist) DP, -1 above it
        levenshtein(col("ta"), col("tb"), maxDist).cast("long").as("dist"))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
  }

  private val SimhashHalfBits = 32

  /** 64-bit SimHash signatures as two nonnegative 32-bit halves
    * `(simhash_hi, simhash_lo)`: per token occurrence (term-frequency
    * weighted), each of the token's 64 md5-derived hash bits votes ±1;
    * signature bit b is 1 iff the ones strictly outvote the zeros
    * (2·ones_b > n).
    *
    * Why halves rather than one 64-bit column: bit 63 of a full
    * signature would make the value negative, and signed-shift /
    * bit-band semantics on negative BIGINTs differ between engines —
    * two 32-bit halves keep every shift, mask, and xor (and the DuckDB
    * oracle mirror) in nonnegative territory. The split costs one
    * extra column and nothing else: banding and hamming distance
    * decompose bitwise.
    *
    * Width rationale (VERDICT r3): a 16-bit signature's 4-bit nibble
    * bands gave a TOTAL candidate key space of 64 — the per-bucket
    * self-join degenerates toward n²/16 per band on a large corpus.
    * 64 signature bits banded 16 bits at a time put 2^16 keys in every
    * band, so bucket population stays ~n/2^16 per band at any corpus
    * size with uniform hashing.
    */
  def simhashSignatures(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    val tok = spread(docs, "doc_id")
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("tok"))
      // ONE native digest per token (graft_hash64 = md5 bytes 0..7);
      // halves = hex digits 1-8 / 9-16 = h >>> 32 / h & 0xFFFFFFFF —
      // bit-identical to the two conv(substring(md5)) parses replaced
      .withColumn("h64",
        call_function(graft.functions.GraftFunctions.Hash64Name, col("tok")))
      .select(col("doc_id"),
        shiftrightunsigned(col("h64"), 32).as("hlo"),
        col("h64").bitwiseAND(lit(0xFFFFFFFFL)).as("hhi"))
    // 2·Σ bit_b > n  ⇔  the ±1 vote sum is strictly positive; summing
    // the extracted bit (0/1) partial-aggregates map-side like any sum
    val ones =
      (0 until SimhashHalfBits).map(b =>
        sum(shiftright(col("hlo"), b).bitwiseAND(1)).as(s"o_lo_$b")) ++
      (0 until SimhashHalfBits).map(b =>
        sum(shiftright(col("hhi"), b).bitwiseAND(1)).as(s"o_hi_$b"))
    val agg = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("n"), ones: _*)
    def half(p: String) = (0 until SimhashHalfBits)
      .map(b => when(col(s"o_${p}_$b") * 2 > col("n"), lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    agg.select(col("doc_id"),
        half("hi").as("simhash_hi"), half("lo").as("simhash_lo"))
  }

  /** The 4×16-bit band decomposition of a signature table from
    * [[simhashSignatures]]: one row per (doc, band) with the band's
    * 16-bit `chunk` key — band 0/1 from the low half, 2/3 from the
    * high half. Public so tests (and downstream pipelines that persist
    * the banded table) can reuse exactly the pairing key space.
    */
  def simhashBands(sig: DataFrame): DataFrame = {
    val chunks = Seq(
      col("simhash_lo").bitwiseAND(lit(65535L)),
      shiftright(col("simhash_lo"), 16).bitwiseAND(lit(65535L)),
      col("simhash_hi").bitwiseAND(lit(65535L)),
      shiftright(col("simhash_hi"), 16).bitwiseAND(lit(65535L)))
    val bandStructs = chunks.zipWithIndex.map { case (c, i) =>
      struct(lit(i).as("band"), c.as("chunk"))
    }
    sig
      .select(col("doc_id"), col("simhash_hi"), col("simhash_lo"),
        explode(array(bandStructs: _*)).as("bc"))
      .select(col("doc_id"), col("simhash_hi"), col("simhash_lo"),
        col("bc.band").as("band"), col("bc.chunk").as("chunk"))
  }

  /** SimHash near-dup pairs with hamming distance ≤ `maxHamming`, via
    * the pigeonhole band join: the 64-bit signature splits into 4 bands
    * of 16 bits; any pair within hamming 3 must agree exactly on ≥1
    * band, so candidates are an equi-join on (band, chunk) with 2^16
    * possible chunks per band — never all-pairs. `maxBucketWidth`
    * optionally drops buckets wider than the cap before the self-join
    * (see [[capBucketWidth]]).
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
      maxBucketWidth: Option[Int] = None): DataFrame = {
    val sig = simhashSignatures(docs) // reused by both join sides
      .localCheckpoint(eager = false) // lazy: first side's scan materializes
    val banded = simhashBands(sig)
    val capped =
      maxBucketWidth.fold(banded)(capBucketWidth(banded, Seq("band", "chunk"), _))
    capped.as("a")
      .join(capped.as("b"),
        col("a.band") === col("b.band") && col("a.chunk") === col("b.chunk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        col("a.simhash_hi").as("ha"), col("a.simhash_lo").as("la"),
        col("b.simhash_hi").as("hb"), col("b.simhash_lo").as("lb"))
      .distinct()
      .withColumn("hamming",
        (expr("bit_count(la ^ lb)") + expr("bit_count(ha ^ hb)")).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("da"), col("db"), col("hamming"))
  }

  /** Drop LSH buckets wider than `cap` members before a candidate
    * self-join — the production guard the r3 scaladoc promised: a
    * bucket of width w contributes w·(w-1)/2 candidate pairs, so one
    * boilerplate-dominated key (an empty-string shingle, a template
    * header) can dwarf the rest of the job combined. The width count
    * rides a window over the SAME keys the join shuffles on, so the
    * cap adds no extra exchange. Semantics: pairs inside dropped
    * buckets are lost — the deliberate recall-for-bounded-cost trade;
    * callers opt in per call site.
    */
  private[llm] def capBucketWidth(
      df: DataFrame, keys: Seq[String], cap: Int): DataFrame = {
    require(cap > 1, "bucket cap must admit at least a pair")
    val w = Window.partitionBy(keys.map(col): _*)
    df.withColumn("__bw", count(lit(1)).over(w))
      .filter(col("__bw") <= cap)
      .drop("__bw")
  }

  /** How the dedup pipeline turns near-dup PAIRS into drops:
    *
    *  - [[Grouping.Greedy]] — in every surfaced pair `da < db`, `db`
    *    is dropped; one deterministic pass, no iteration. A doc
    *    survives iff it is never the greater id of any pair, so a
    *    transitive cluster can keep several members (in the chain
    *    2~5, 3~5 both 2 and 3 survive).
    *  - [[Grouping.Components]] — pairs are closed transitively via
    *    [[duplicateComponents]] and exactly ONE doc (the min id) per
    *    connected component survives — the usual production choice,
    *    at the cost of a bounded label-propagation iteration (and of
    *    dropping docs not directly similar to their keeper).
    */
  sealed trait Grouping
  object Grouping {
    case object Greedy extends Grouping
    case object Components extends Grouping
  }

  /** Connected components over a near-dup `pairs(da, db, …)` relation:
    * one row per member doc, labeled with its component id (the
    * MINIMUM doc_id reachable through pairs — transitive closure).
    * Docs appearing in no pair are not emitted (they are their own
    * singleton components).
    *
    * Algorithm: min-label propagation to fixpoint — each round every
    * node takes the min of its own and its neighbors' labels, which is
    * a plain equi-join edges⋈labels plus a `groupBy(min)`; rounds
    * needed = component DIAMETER, and near-dup components are
    * shallow (dup clusters of one document family), so the fixpoint
    * lands in a handful of rounds. Each round `localCheckpoint`s to
    * truncate the growing lineage, and the SUPERSEDED round's pinned
    * blocks are released as soon as the convergence probe has read
    * them — without that, an N-round run holds N copies of the label
    * set in executor memory for the rest of the session. Convergence
    * is detected with a bounded `limit(1)` probe (labels only ever
    * decrease). `maxIter`
    * is the safety rail for adversarially deep chains; hitting it
    * raises rather than silently returning unmerged labels. At
    * corpus scale every round is shuffle-keyed on doc id — no
    * all-pairs anywhere.
    *
    * ESCALATION: `maxIter` is the TOTAL round budget. Propagation
    * runs at most `min(maxIter, escalateAfter)` rounds; if it has not
    * converged and budget remains, the graph has genuinely deep chains
    * (proven to exist: the 10× q80 run needed maxIter 20→80) and the
    * remaining budget goes to [[starComponents]], the
    * large-star/small-star alternation that contracts ANY graph to a
    * star forest in O(log n) rounds regardless of diameter. Both
    * algorithms compute the identical output relation (min reachable
    * id per member), so escalating never changes results — only the
    * round count. With the defaults (20 > 8) deep graphs converge
    * instead of hitting the rail; a caller that sets `maxIter ≤
    * escalateAfter` keeps the strict propagation-only rail.
    *
    * SMALL-GRAPH REGIME ([[graft.Regimes.boundedRows]]): integral-id
    * edge sets of at most [[SmallGraphMaxEdges]] close via one
    * driver-side union-find with min-root representatives — the same
    * output relation, hash-identical, in 1 job instead of ~3 per round
    * (dup graphs are usually tiny next to their corpus, and the loop's
    * scheduler floors dominate at that size). Graphs over the bound —
    * the 100 TB case — and forced distributed runs take the
    * distributed loop.
    */
  def duplicateComponents(
      pairs: DataFrame,
      maxIter: Int = 20,
      escalateAfter: Int = 8): DataFrame = {
    require(maxIter > 0, "maxIter must be positive")
    require(escalateAfter > 0, "escalateAfter must be positive")
    lastStarRounds = 0
    // The symmetric edge set is checkpointed lazily: the probe's drain
    // (or, for non-integral ids and forced runs, the distributed loop's
    // first round) fills it, with no dedicated checkpoint job. A graph
    // within the bound closes with one driver-side union-find whose
    // representative is the component MINIMUM — the exact relation the
    // fixpoint computes. ~1e5 edges × 16 B is MBs on the driver; a
    // graph over the bound takes the distributed loop below, which
    // reads the blocks the drain already filled.
    val symmetric = pairs.select(col("da").as("a"), col("db").as("b"))
      .union(pairs.select(col("db").as("a"), col("da").as("b")))
      .distinct()
    val idType = symmetric.schema("a").dataType
    val integralIds =
      idType == org.apache.spark.sql.types.LongType ||
        idType == org.apache.spark.sql.types.IntegerType
    val edges = graft.Regimes.boundedRows(symmetric,
        if (integralIds) SmallGraphMaxEdges else 0) match {
      case Right(es) => return unionFindComponents(pairs.sparkSession, es, idType)
      case Left(ck) => ck
    }
    val propBudget = math.min(maxIter, escalateAfter)
    var labels = edges.select(col("a").as("id")).distinct()
      .withColumn("lbl", col("id"))
      .localCheckpoint()
    var iter = 0
    var converged = false
    while (!converged && iter < propBudget) {
      val next = edges.join(labels, col("a") === col("id"))
        .select(col("b").as("id"), col("lbl"))
        .union(labels.select(col("id"), col("lbl")))
        .groupBy(col("id")).agg(min(col("lbl")).as("lbl"))
        .localCheckpoint()
      // bounded existence probe: labels decrease monotonically, so one
      // surviving strict decrease means another round is needed
      converged = next.as("n")
        .join(labels.as("o"), col("n.id") === col("o.id"))
        .filter(col("n.lbl") < col("o.lbl"))
        .limit(1).count() == 0
      graft.operators.Checkpoints.release(labels) // probe done — old round's blocks free
      labels = next
      iter += 1
    }
    if (converged) {
      // edges fed every round but the RETURNED plan reads only the final
      // labels checkpoint — release the edge blocks too
      graft.operators.Checkpoints.release(edges)
      labels.select(col("id").as("doc_id"), col("lbl").as("component"))
    } else if (maxIter > propBudget) {
      // deep graph: diameter exceeds the propagation budget — spend the
      // remaining rounds on the star alternation (same output, O(log n))
      graft.operators.Checkpoints.release(labels)
      val out = starComponents(edges, maxIter - propBudget)
      graft.operators.Checkpoints.release(edges)
      out
    } else {
      graft.operators.Checkpoints.release(labels)
      graft.operators.Checkpoints.release(edges)
      throw new IllegalStateException(
        s"duplicateComponents did not converge in $maxIter rounds — " +
          "component diameter exceeds maxIter; raise it for this graph")
    }
  }

  /** Above this many symmetric edges [[duplicateComponents]] keeps the
    * distributed loop (~1e5 edges × 16 B — MBs on the driver).
    */
  private val SmallGraphMaxEdges = 1 << 17

  /** The small-graph regime of [[duplicateComponents]]: one driver
    * union-find over the collected symmetric edges `(a, b)` of
    * integral `idType`, each member labelled with its component min.
    */
  private def unionFindComponents(
      spark: org.apache.spark.sql.SparkSession,
      es: Array[org.apache.spark.sql.Row],
      idType: org.apache.spark.sql.types.DataType): DataFrame = {
    def idAt(r: org.apache.spark.sql.Row, i: Int): Long = r.get(i) match {
      case l: java.lang.Long    => l
      case n: java.lang.Integer => n.toLong
    }
    val parent = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    def find(x: Long): Long = {
      var r = x
      while ({ val p = parent.getOrDefault(r, r); p != r }) r = parent.get(r)
      var c = x // path compression
      while (c != r) { val n = parent.getOrDefault(c, c); parent.put(c, r); c = n }
      r
    }
    es.foreach { row =>
      val ra = find(idAt(row, 0)); val rb = find(idAt(row, 1))
      if (ra != rb) { // smaller root absorbs: root IS the component min
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val members = new java.util.TreeSet[java.lang.Long]()
    es.foreach { r => members.add(idAt(r, 0)); members.add(idAt(r, 1)) }
    def asId(v: Long): Any =
      if (idType == org.apache.spark.sql.types.IntegerType) v.toInt else v
    val outRows = new java.util.ArrayList[org.apache.spark.sql.Row](members.size())
    members.forEach(id =>
      outRows.add(org.apache.spark.sql.Row(asId(id), asId(find(id)))))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", idType, nullable = false),
      org.apache.spark.sql.types.StructField("component", idType, nullable = false)))
    spark.createDataFrame(outRows, schema)
  }

  /** Diagnostics: star rounds the LAST [[duplicateComponents]] /
    * [[starComponents]] call spent (0 when it did not escalate, and in
    * the driver union-find regime). Measurement surface for the
    * log-round contraction spec; not part of the operator contract.
    */
  @volatile private[graft] var lastStarRounds: Int = 0

  /** Large-star/small-star connected components (the Kiveris et al.
    * "Connected Components in MapReduce and Beyond" alternation): each
    * round every node hangs part of its neighborhood off the minimum
    * of the neighborhood, which HALVES long chains instead of walking
    * them one hop per round — any graph contracts to a star forest
    * (every member directly linked to its component min) in O(log n)
    * rounds, vs O(diameter) for plain min-label propagation. This is
    * the documented escalation path of [[duplicateComponents]] for
    * deeply-chained dup graphs; output contract is identical.
    *
    *  - large-star at u: every neighbor v > u re-hangs onto
    *    min(Γ(u) ∪ u)
    *  - small-star at u: every neighbor v < u, and u itself, re-hang
    *    onto that min
    *
    * Each step is an equi-keyed groupBy + join on node id (no
    * all-pairs, no driver-side graph), the edge set only shrinks or
    * flattens, and rounds localCheckpoint with superseded-block
    * release exactly like the propagation loop. Input `edges(a, b)`
    * must be the symmetric closure already deduplicated (what
    * [[duplicateComponents]] builds); `pairs(da, db)` callers should
    * go through [[duplicateComponents]].
    */
  private[llm] def starComponents(edges0: DataFrame, maxIter: Int): DataFrame = {
    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = e.select(col("a").as("u"), col("b").as("v"))
        .union(e.select(col("b").as("u"), col("a").as("v")))
      val mins = nbrs.groupBy(col("u"))
        .agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      nbrs.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("a"), col("m").as("b"))
        .filter(col("a") =!= col("b"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val nbrs = e.select(col("a").as("u"), col("b").as("v"))
        .union(e.select(col("b").as("u"), col("a").as("v")))
        .filter(col("v") < col("u"))
      val mins = nbrs.groupBy(col("u")).agg(min(col("v")).as("m"))
      nbrs.join(mins, "u")
        .select(col("v").as("a"), col("m").as("b"))
        .filter(col("a") =!= col("b"))
        .union(mins.select(col("u").as("a"), col("m").as("b")))
        .distinct()
    }
    // canonical undirected form (a > b) so set-equality probes compare
    // like with like; edges0 is symmetric, keep one direction
    var cur = edges0.filter(col("a") > col("b")).distinct().localCheckpoint()
    var curCnt = cur.count()
    var iter = 0
    var converged = false
    while (!converged) {
      if (iter >= maxIter)
        throw new IllegalStateException(
          s"starComponents did not converge in $maxIter rounds — " +
            "raise maxIter for this graph")
      // checkpoint BETWEEN the two star steps: smallStar consumes its
      // input through two union legs plus the min agg, so an
      // unmaterialized largeStar pipeline re-executes several times
      // per round — the barrier makes each round cost one pass of each
      // step (54 s → 11 s on a 550k-edge planted graph)
      val ls = largeStar(cur).localCheckpoint()
      val next = smallStar(ls).localCheckpoint()
      graft.operators.Checkpoints.release(ls)
      // both sides are canonical DISTINCT sets, so equal counts plus
      // one empty difference imply equality — the count is free off
      // the fresh checkpoint and skips the except-join entirely in the
      // still-shrinking rounds
      val nextCnt = next.count()
      converged = nextCnt == curCnt &&
        next.exceptAll(cur).limit(1).count() == 0
      graft.operators.Checkpoints.release(cur)
      cur = next
      curCnt = nextCnt
      iter += 1
    }
    lastStarRounds = iter
    // star forest: every edge is (member, component-min); the mins
    // label themselves
    cur.select(col("a").as("doc_id"), col("b").as("component"))
      .union(cur.select(col("b"), col("b")).distinct())
      .distinct()
  }

  /** Canonical-document election per duplicate cluster — the emission
    * step after near-dedup: every [[duplicateComponents]] cluster keeps
    * exactly one representative (the member with the most characters;
    * ties break to the smallest doc_id) and reports its membership.
    * One row per component: `(component, n_members, rep_doc_id,
    * rep_chars)`.
    *
    * Scale: the election is a row_number window PARTITIONED by
    * component id — shuffle keyed on component, never a corpus-wide
    * ordering; the corpus join that attaches the size signal is a
    * plain equi-join on doc_id.
    */
  def clusterRepresentatives(pairs: DataFrame, docs: DataFrame): DataFrame = {
    val labeled = duplicateComponents(pairs)
      .join(docs.select(col("doc_id"), col("n_chars").cast("long")
        .as("n_chars")), Seq("doc_id"))
    val election = Window.partitionBy(col("component"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    labeled
      .withColumn("rn", row_number().over(election))
      .groupBy(col("component"))
      .agg(
        count(lit(1)).as("n_members"),
        min(when(col("rn") === 1, col("doc_id"))).as("rep_doc_id"),
        min(when(col("rn") === 1, col("n_chars"))).as("rep_chars"))
  }

  /** Graph centrality over the near-dup pair graph — PageRank with
    * INTEGER mass (the deterministic variant): every node starts with
    * `initMass` units; each of `iters` rounds sends
    * `((m · dampNum) / dampDen) / degree` units down every edge
    * (integer multiply-then-divide, truncating — the leak is the
    * deterministic stand-in for floating damping loss) and collects
    * `initMass · (dampDen − dampNum) / dampDen` base mass plus its
    * neighbors' contributions. After k rounds high-mass nodes are the
    * hub documents of their duplicate neighborhoods — the centrality
    * form of [[clusterRepresentatives]]' size election (a hub of many
    * near-dups beats a long chain member even at equal length), and
    * the standard canonical-document heuristic when templates create
    * star-shaped dup graphs.
    *
    * Why integer mass instead of classical double ranks: the
    * per-round neighbor sum is the textbook partial-aggregation
    * shuffle, and double sums merge in partition order — integer
    * sums are order-free, so the result is bit-stable across engines,
    * reruns, and partitionings, and q144's oracle unrolls the same
    * arithmetic in SQL with no tolerance band. Overflow is RAILED,
    * not assumed: Σ mass ≤ nodes · initMass (truncation only leaks),
    * so the per-edge multiply is exact iff
    * nodes · initMass · dampNum < 2⁶³ — checked against the actual
    * node count at construction, erroring loudly with the fix
    * (smaller initMass) instead of wrapping silently.
    *
    * Scope: nodes are the docs that appear in ≥ 1 pair (an undirected
    * pair graph has no dangling nodes — every node has degree ≥ 1).
    *
    * Dual regime ([[graft.Regimes.boundedRows]]): the k per-round
    * checkpoint jobs dominate and disperse when the graph is small, so
    * a pair list within [[MaxDriverEdges]] collects once and the k
    * integer-mass rounds run as plain Long loops on the driver — the
    * arithmetic is the same order-free integer sum, so values are
    * IDENTICAL, and the query costs exactly the pairs lineage + one
    * collect. A larger graph, or a forced distributed run, takes the
    * distributed loop: each round one broadcast-free equi-join + keyed
    * sum over node-sized frames, k rounds, k bounded shuffles,
    * per-round checkpoints released, no iteration ever touches the
    * corpus.
    * Output: `(doc_id, mass, n_neighbors)`.
    */
  def pairGraphCentrality(
      pairs: DataFrame,
      iters: Int = 3,
      initMass: Long = 1000000000000L,
      dampNum: Long = 17,
      dampDen: Long = 20): DataFrame = {
    require(iters >= 1 && iters <= 16, "iters must be in [1, 16]")
    require(dampNum > 0 && dampDen > dampNum, "damping must be in (0, 1)")
    // ONE execution of the (expensive — LSH candidate join + rerank)
    // pairs lineage: the probe checkpoints the pairs FIRST, then
    // symmetrization, degrees, the degree-annotated edges, and the node
    // set all derive from checkpoints, never from the pairs plan again
    // (checkpointing only the SYMMETRIC set ran the full lineage once
    // per union branch). The probe's drain fills that checkpoint either
    // way, and an oversized graph ships back only per-partition
    // prefixes, never the full pair list.
    val p0 = graft.Regimes.boundedRows(
        pairs.select(col("da"), col("db")), MaxDriverEdges) match {
      case Right(probe) => return driverCentrality(pairs.sparkSession, probe,
        iters, initMass, dampNum, dampDen)
      case Left(ck) => ck
    }

    val sym = p0.select(col("da").as("a"), col("db").as("b"))
      .union(p0.select(col("db").as("a"), col("da").as("b")))
      .distinct()
      .localCheckpoint()
    graft.operators.Checkpoints.release(p0)
    val edges = sym
      .join(sym.groupBy(col("a")).agg(count(lit(1)).as("deg")), Seq("a"))
      .localCheckpoint()
    graft.operators.Checkpoints.release(sym)
    val deg = edges.select(col("a").as("id"), col("deg")).distinct()
    // overflow rail: per-node mass is bounded by the CONSERVED total
    // nodes·initMass (truncation only leaks), so the per-edge multiply
    // stays exact iff nodes·initMass·dampNum < 2^63. Wrapped longs
    // would silently corrupt on the engine side while the SQL mirror
    // promotes to wider integers — fail loudly and tell the caller
    // the fix (smaller initMass scales every mass linearly).
    val nNodes = deg.count()
    require(nNodes <= Long.MaxValue / dampNum / initMass,
      s"$nNodes nodes at initMass=$initMass would overflow the " +
        s"per-edge multiply; lower initMass (max nodes at this mass: " +
        s"${Long.MaxValue / dampNum / initMass})")
    val base = initMass * (dampDen - dampNum) / dampDen
    var mass = deg.select(col("id"), lit(initMass).as("m"))
      .localCheckpoint()
    var i = 0
    while (i < iters) {
      val next = edges
        .join(mass, edges("a") === mass("id"))
        .select(col("b"),
          expr(s"(m * $dampNum div $dampDen) div deg").as("c"))
        .groupBy(col("b"))
        .agg((sum(col("c")) + lit(base)).as("m"))
        .select(col("b").as("id"), col("m"))
        .localCheckpoint()
      graft.operators.Checkpoints.release(mass)
      mass = next
      i += 1
    }
    val out = mass
      .join(deg, Seq("id"))
      .select(col("id").as("doc_id"), col("m").as("mass"),
        col("deg").as("n_neighbors"))
      .localCheckpoint()
    graft.operators.Checkpoints.release(mass)
    graft.operators.Checkpoints.release(edges)
    out
  }

  /** Above this many pair rows the centrality iterations stay in the
    * distributed join loop instead of collecting to the driver.
    * Accounting: the driver adjacency is a
    * boxed `HashMap[Long, HashSet[Long]]`, so each of the 2·E directed
    * entries costs a boxed Long + hash-set node (~50–100 B with
    * headers and table slack), and the collected `GenericRow`s add
    * ~50 B each transiently — at this 1M-pair bound that is roughly
    * 150–300 MB peak, a deliberate ceiling well inside any sane
    * driver heap. An OVERSIZED graph never pays any of it: the probe
    * counts before it collects. Still far above any real near-dup
    * pair graph at bench scales (sf1's is ~2.5k edges) and a hard
    * stop before a web-corpus dup graph would try to land on one JVM.
    */
  private val MaxDriverEdges = 1000000

  /** The bounded regime of [[pairGraphCentrality]]: the identical
    * integer-mass rounds as plain Long loops over a driver adjacency
    * map. Longs sum order-free, `/` on non-negative longs is the same
    * truncating division as SQL `div`, and the base mass joins each
    * round's sum exactly as the distributed aggregate adds it — so
    * the output relation is value-identical (RegimesSpec pins
    * forced-distributed ≡ default on q144).
    */
  private def driverCentrality(
      spark: org.apache.spark.sql.SparkSession,
      pairRows: Array[org.apache.spark.sql.Row],
      iters: Int,
      initMass: Long,
      dampNum: Long,
      dampDen: Long): DataFrame = {
    import scala.jdk.CollectionConverters._
    val adj = new java.util.HashMap[Long, java.util.HashSet[Long]]()
    def add(a: Long, b: Long): Unit =
      adj.computeIfAbsent(a, _ => new java.util.HashSet[Long]()).add(b)
    pairRows.foreach { r =>
      val a = r.getLong(0); val b = r.getLong(1); add(a, b); add(b, a)
    }
    val nNodes = adj.size.toLong
    require(nNodes <= Long.MaxValue / dampNum / initMass,
      s"$nNodes nodes at initMass=$initMass would overflow the " +
        s"per-edge multiply; lower initMass (max nodes at this mass: " +
        s"${Long.MaxValue / dampNum / initMass})")
    val base = initMass * (dampDen - dampNum) / dampDen
    var mass = new java.util.HashMap[Long, Long]()
    adj.keySet.forEach(k => mass.put(k, initMass))
    var i = 0
    while (i < iters) {
      val next = new java.util.HashMap[Long, Long]()
      adj.forEach { (a, nbrs) =>
        val c = (mass.get(a) * dampNum / dampDen) / nbrs.size
        nbrs.forEach(b => next.merge(b, c, (x, y) => x + y))
      }
      next.replaceAll((_, v) => v + base)
      mass = next
      i += 1
    }
    val out = adj.entrySet.asScala.iterator.map { e =>
      (e.getKey.longValue, mass.get(e.getKey).longValue,
        e.getValue.size.toLong)
    }.toSeq
    import spark.implicits._
    out.toDF("doc_id", "mass", "n_neighbors")
  }

  /** The full dedup PIPELINE a training-data build runs, composed from
    * the stage operators: exact (content hash, keep min id) → prefix
    * (first-k-token key, keep min id) → MinHash-LSH near-dup, with the
    * pair-to-drop step chosen by `grouping` (see [[Grouping]] for the
    * greedy-vs-components semantics; they differ on transitive
    * chains). Returns the surviving doc_ids.
    *
    * Scale shape: stages strictly shrink the corpus before the next
    * (the cheap hash stages run first), every stage is an equi-keyed
    * groupBy/join, and the only pair generation is the banded LSH join
    * (cap-able via `maxBucketWidth`).
    */
  def dedupPipeline(
      docs: DataFrame,
      shingleK: Int = 3,
      nHashes: Int = 12,
      bands: Int = 4,
      threshold: Double = 0.5,
      prefixK: Int = 5,
      maxBucketWidth: Option[Int] = None,
      grouping: Grouping = Grouping.Greedy): DataFrame = {
    // stage 1: exact — one survivor per distinct content
    val s1 = docs
      .groupBy(md5(col("text")).as("ch"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val d1 = docs.join(s1, "doc_id")
    // stage 2: near-exact — one survivor per first-k-token prefix key
    val s2 = d1
      .select(col("doc_id"),
        md5(array_join(slice(TextFns.tokens(col("text")), 1, prefixK), " "))
          .as("pk"))
      .groupBy(col("pk"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val d2 = docs.join(s2, "doc_id")
    // stage 3: near-dup — pairs become drops per the grouping mode
    val pairs = minhashLshPairs(d2, shingleK, nHashes, bands, threshold,
      maxBucketWidth)
    val dropped = grouping match {
      case Grouping.Greedy =>
        pairs.select(col("db").as("doc_id")).distinct()
      case Grouping.Components =>
        duplicateComponents(pairs)
          .filter(col("doc_id") =!= col("component"))
          .select(col("doc_id"))
    }
    d2.select(col("doc_id"))
      .join(dropped, Seq("doc_id"), "left_anti")
  }

  /** Rolling-hash document fingerprint: the minimum polynomial hash
    * over the doc's word-`k`-gram shingles (a 1-permutation MinHash).
    * Docs sharing a fingerprint are near-dup candidates; emitted as
    * pairs.
    *
    * Hash shape (the r3 bench fix — q34 was 19.7 s, 30% of the whole
    * suite): the old path built every k-gram as a STRING (slice +
    * array_join inside interpreted array HOFs) and md5'd each posting;
    * [[gramHashes]] hashes each token once and assembles grams with
    * integer arithmetic. min() is multiplicity-invariant, so no dedup
    * needed, and the groupBy(doc_id) min reuses the gram window's
    * partitioning — no extra exchange.
    */
  def fingerprintPairs(docs: DataFrame, shingleK: Int = 5): DataFrame = {
    // 62-bit packed gram hash (a·2³¹ + b over two coefficient
    // families): a 31-bit min-hash space would make E[min] ≈ 2³¹/m for
    // m grams — at corpus scale unrelated docs collide on equal
    // fingerprints and the fp-equality self-join goes hot-key
    // Deliberately the WINDOW form, not TextFns.fingerprintFromHashes
    // (r21, measured): the in-row twin folds TWO coefficient families
    // × k element_at lookups per position through higher-order-function
    // lambdas, which are CodegenFallback — interpreted per element —
    // and q34 regressed 0.19 → 6.3 s when tried. The lead-fold window
    // runs inside WholeStageCodegen; its per-doc sort is the cheaper
    // price here (single-family gram consumers are the opposite trade —
    // see gramHashes).
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val fp = tokenHashRows(docs)
      .withColumn("gh",
        gramExpr(shingleK, TextFns.shingleCoef, w) * lit(1L << 31) +
          gramExpr(shingleK, TextFns.shingleCoefB, w))
      .filter(col("gh").isNotNull)
      .groupBy(col("doc_id"))
      .agg(min(col("gh")).as("fp"))
      .localCheckpoint(eager = false) // reused by both join sides
    fp.as("a")
      .join(fp.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        col("a.fp").as("fingerprint"))
  }
}
