package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.embl.FlagshipFixture
import graft.llm.{Pii, Similarity, TextAnalysis, TextDedup}
import QueryPack.Q

/** Extension-layer query pack: the LLM-data-pipeline operators (dedup /
  * similarity / text analysis / multimodal metadata) over the
  * `documents` and `embeddings` test tables, plus the hash-checked
  * oracle for the ENA flagship pipeline itself.
  *
  * Oracle parity techniques used throughout:
  *  - hashing is md5-derived (`hash60`: first 60 bits of md5 as BIGINT),
  *    bit-identical across engines — never engine-native hashes;
  *  - cosine/dot arithmetic casts each element to double *before*
  *    multiplying and folds left-to-right; verified bit-identical
  *    between Spark `aggregate(zip_with(...))` and DuckDB
  *    `list_sum(list_transform(...))` on the test corpus;
  *  - integer-exact ratios (counts, sums of ints) divide as
  *    double/int in both engines — same IEEE result;
  *  - every integer aggregate is CAST to BIGINT on the DuckDB side
  *    (DuckDB integer sum returns HUGEINT, the round-2 q23/q25 lesson).
  */
object QueryPackExt {
  /** Harness determinism sort (r8): same total order as orderBy, but
    * via one exchange to a single partition + in-partition sort — no
    * range-bounds sampling job, which re-executes the child plan and
    * cost ~0.2 s per query across the suite. Oracle results are
    * comparison-sized, so the 1-partition sort is trivial; production
    * callers use the unsorted operator APIs directly.
    */
  private implicit class HarnessOrdering(
      private val df: org.apache.spark.sql.DataFrame) {
    def harnessSorted(cols: org.apache.spark.sql.Column*)
        : org.apache.spark.sql.DataFrame =
      df.repartition(1).sortWithinPartitions(cols: _*)
  }


  /** Shared tokenization CTE — the exact mirror of
    * [[graft.llm.TextFns.tokens]].
    */
  private val ToksCte = """
    toks AS (
      SELECT doc_id, lang, source, n_chars,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
      FROM documents)"""

  /** DuckDB mirror of [[graft.llm.TextFns.hash60]]. */
  private def h60(x: String): String =
    s"CAST(concat('0x', substr(md5($x), 1, 15)) AS BIGINT)"

  /** Shared gram-hash CTEs — the mirror of [[TextDedup]]'s
    * gramHashes/shingleSets front end: `tokh` (one md5 per token →
    * 31-bit h), `grams` (polynomial k-gram hash assembled with window
    * leads; incomplete trailing grams are NULL), `sh` (distinct
    * (doc_id, gh)). Every shingle-based dedup oracle builds on these —
    * no k-gram strings on either engine.
    */
  private def gramSqlExpr(k: Int, coef: Int => Long): String =
    (0 until k).map { j =>
      val h = if (j == 0) "h" else s"lead(h, $j) OVER win"
      s"$h * ${coef(j)} % ${graft.llm.TextFns.MinhashP}"
    }.mkString("(", " + ", s") % ${graft.llm.TextFns.MinhashP}")

  private val TokhCte = s"""
      tokh AS (
        SELECT doc_id, gs AS pos, ${h60("w[gs]")} & 2147483647 AS h
        FROM toks,
             LATERAL (SELECT unnest(generate_series(1, len(w))) AS gs) g)"""

  private def gramCtes(k: Int): String = s"""
      $TokhCte,
      grams AS (
        SELECT doc_id, ${gramSqlExpr(k, graft.llm.TextFns.shingleCoef)} AS gh
        FROM tokh WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
      sh AS (SELECT DISTINCT doc_id, gh FROM grams WHERE gh IS NOT NULL)"""

  private def t(s: org.apache.spark.sql.SparkSession, dir: String, name: String) =
    Tables.parquet(s, s"$dir/$name.parquet")

  // ------------------------------------------------------------ dedup: exact

  private val q27 = Q("q27_exact_dedup",
    (s, dir) => TextDedup.exactDupGroups(t(s, dir, "documents"))
      .harnessSorted(col("content_hash")),
    Some("""
      SELECT md5(text) AS content_hash, min(doc_id) AS keeper_id,
             count(*) AS n_copies
      FROM documents GROUP BY 1 ORDER BY content_hash"""))

  private val q28 = Q("q28_prefix_dup_groups",
    (s, dir) => TextDedup.prefixDupGroups(t(s, dir, "documents"), k = 5)
      .harnessSorted(col("prefix_key")),
    Some(s"""
      WITH $ToksCte
      SELECT prefix_key, count(*) AS n_docs,
             array_to_string(list_sort(list(doc_id)), ',') AS members
      FROM (SELECT doc_id, md5(array_to_string(list_slice(w, 1, 5), ' ')) AS prefix_key
            FROM toks) x
      GROUP BY prefix_key HAVING count(*) > 1 ORDER BY prefix_key"""))

  // --------------------------------------------------------- flagship oracle

  /** The ENA flagship pipeline (EMBL segmentation S5 + coordinate kernel
    * K1 + idmapping join J1/J2 + fallback X9 + explode X10), hash-checked
    * against its 7 deterministic expected rows — the pipeline's first
    * CORRECTNESS row beyond the rows>0 smoke (VERDICT r2 next-round #4).
    */
  private val q29 = Q("q29_ena_flagship",
    (s, _) => FlagshipFixture.enaTab(s)
      .drop("file_path")
      .harnessSorted(col("ena_id"), col("uniprot_id")),
    Some("""
      SELECT ena_id, uniprot_id, CAST(locus_count AS INTEGER) AS locus_count,
             CAST(chr_struct AS INTEGER) AS chr_struct,
             CAST(direction AS INTEGER) AS direction,
             CAST(st AS BIGINT) AS start, CAST(en AS BIGINT) AS "end"
      FROM (VALUES
        ('CIRC01', 'P10001', 1, 0, 1, 900, 70),
        ('CIRC01', 'P10002', 1, 0, 1, 900, 70),
        ('CIRC01', 'U_FALL', 2, 0, 0, 200, 300),
        ('FUN01', 'U_CCC', 1, 1, 1, 5, 100),
        ('WGS01', 'P10001', 1, 1, 1, 12, 202),
        ('WGS01', 'P10002', 1, 1, 1, 12, 202),
        ('WGS01', 'P20001', 1, 1, 1, 12, 202)
      ) AS t(ena_id, uniprot_id, locus_count, chr_struct, direction, st, en)
      ORDER BY ena_id, uniprot_id"""))

  // ----------------------------------------------------- dedup: MinHash-LSH

  /** CTE block computing MinHash-LSH `pairs(da, db, jaccard)` over the
    * `sh` gram-hash CTE (append after [[gramCtes]]); composable so the
    * pipeline query (q54) can chain it after its own survivor CTEs.
    */
  private def minhashPairCtes(
      threshold: Double,
      cap: Option[Int],
      candCond: String = "a.doc_id < b.doc_id"): String = {
    val capQualify = cap
      .map(c => s"\n        QUALIFY count(*) OVER (PARTITION BY band, bucket) <= $c")
      .getOrElse("")
    s"""
      mh AS (
        -- universal-hash MinHash, mirror of TextFns.minhashPerm: the
        -- 12 linear permutations apply directly to the 31-bit gram
        -- hashes (md5 happened once per token in tokh)
        SELECT doc_id, se.s AS s,
               min((gh * (1000003 + 97 * se.s) + (12345 + 31 * se.s))
                   % 2147483647) AS m
        FROM sh, LATERAL (SELECT unnest(generate_series(0, 11)) AS s) se
        GROUP BY doc_id, se.s),
      bands AS (
        SELECT doc_id, s // 3 AS band,
               md5(string_agg(CAST(m AS VARCHAR), ',' ORDER BY s)) AS bucket
        FROM mh GROUP BY doc_id, (s // 3)$capQualify),
      cand AS (
        SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bucket = b.bucket AND ($candCond)),
      sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      inter AS (
        -- zero-intersection candidates drop out here; the Spark side
        -- keeps them at jaccard 0, and the positive threshold filters
        -- them identically on both engines
        SELECT da, db, count(*) AS i
        FROM cand
        JOIN sh a ON a.doc_id = da
        JOIN sh b ON b.doc_id = db AND a.gh = b.gh
        GROUP BY da, db),
      pairs AS (
        SELECT da, db, jaccard FROM (
          SELECT da, db, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
          FROM inter
          JOIN sizes sa ON sa.doc_id = da
          JOIN sizes sb ON sb.doc_id = db) z
        WHERE jaccard >= $threshold)"""
  }

  /** DuckDB mirror of [[TextDedup.minhashLshPairs]] (shingleK=3,
    * nHashes=12, bands=4); `cap` mirrors `maxBucketWidth` as a window
    * QUALIFY over the same (band, bucket) key.
    */
  private def minhashLshSql(threshold: Double, cap: Option[Int]): String = s"""
      WITH $ToksCte, ${gramCtes(3)}, ${minhashPairCtes(threshold, cap)}
      SELECT da, db, jaccard FROM pairs ORDER BY da, db"""

  private val q30 = Q("q30_minhash_lsh_pairs",
    (s, dir) => TextDedup.minhashLshPairs(t(s, dir, "documents"),
      shingleK = 3, nHashes = 12, bands = 4, threshold = 0.5)
      .harnessSorted(col("da"), col("db")),
    Some(minhashLshSql(threshold = 0.5, cap = None)))

  /** q30 with the production bucket-width cap engaged (VERDICT r3
    * next-round #3): buckets with more than 2 members are dropped
    * before the candidate self-join, so pairs that only meet inside a
    * wide bucket vanish — the cap's semantics are themselves
    * hash-checked, not just its plan shape.
    */
  private val q52 = Q("q52_lsh_capped",
    (s, dir) => TextDedup.minhashLshPairs(t(s, dir, "documents"),
      shingleK = 3, nHashes = 12, bands = 4, threshold = 0.5,
      maxBucketWidth = Some(2))
      .harnessSorted(col("da"), col("db")),
    Some(minhashLshSql(threshold = 0.5, cap = Some(2))))

  private val q31 = Q("q31_ngram_jaccard_pairs",
    (s, dir) => TextDedup.ngramJaccardPairs(t(s, dir, "documents"),
      maxDocId = Some(250), shingleK = 3, threshold = 0.2)
      .harnessSorted(col("da"), col("db")),
    Some(s"""
      WITH toks AS (
        SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
        FROM documents WHERE doc_id < 250), ${gramCtes(3)},
      sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      inter AS (
        SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
        FROM sh a JOIN sh b ON a.gh = b.gh AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT da, db, jaccard FROM (
        SELECT da, db, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
        FROM inter JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db) z
      WHERE jaccard >= 0.2 ORDER BY da, db"""))

  // --------------------------------------------------------- dedup: SimHash

  // 64-bit SimHash as two nonnegative 32-bit halves (the mirror of
  // TextDedup.simhashSignatures — see there for the width/halving
  // rationale). ones-counting form: bit b set iff 2·Σ bit_b > n.
  private val simhashOnes =
    ((0 until 32).map(b => s"sum((hlo >> $b) & 1) AS o_lo_$b") ++
     (0 until 32).map(b => s"sum((hhi >> $b) & 1) AS o_hi_$b")).mkString(", ")
  private def simhashHalf(p: String): String = (0 until 32)
    .map(b => s"CASE WHEN 2 * o_${p}_$b > n THEN ${1L << b} ELSE 0 END")
    .mkString(" + ")
  private val simhashCtes = s"""
      $ToksCte,
      tok AS (SELECT doc_id, unnest(w) AS tok FROM toks),
      hh AS (SELECT doc_id, md5(tok) AS m FROM tok),
      hx AS (SELECT doc_id,
                    CAST(concat('0x', substr(m, 1, 8)) AS BIGINT) AS hlo,
                    CAST(concat('0x', substr(m, 9, 8)) AS BIGINT) AS hhi
             FROM hh),
      v AS (SELECT doc_id, count(*) AS n, $simhashOnes FROM hx GROUP BY doc_id),
      sig AS (SELECT doc_id,
                     CAST(${simhashHalf("hi")} AS BIGINT) AS simhash_hi,
                     CAST(${simhashHalf("lo")} AS BIGINT) AS simhash_lo
              FROM v)"""

  private val q32 = Q("q32_simhash_sig",
    (s, dir) => TextDedup.simhashSignatures(t(s, dir, "documents"))
      .harnessSorted(col("doc_id")),
    Some(s"""
      WITH $simhashCtes
      SELECT doc_id, simhash_hi, simhash_lo FROM sig ORDER BY doc_id"""))

  private val q33 = Q("q33_simhash_pairs",
    (s, dir) => TextDedup.simhashPairs(t(s, dir, "documents"), maxHamming = 3)
      .harnessSorted(col("da"), col("db")),
    Some(s"""
      WITH $simhashCtes,
      banded AS (
        SELECT doc_id, simhash_hi, simhash_lo, bb.band AS band,
               CASE bb.band
                 WHEN 0 THEN simhash_lo & 65535
                 WHEN 1 THEN (simhash_lo >> 16) & 65535
                 WHEN 2 THEN simhash_hi & 65535
                 ELSE (simhash_hi >> 16) & 65535 END AS chunk
        FROM sig, LATERAL (SELECT unnest(generate_series(0, 3)) AS band) bb),
      cand AS (
        SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
               a.simhash_hi AS ha, a.simhash_lo AS la,
               b.simhash_hi AS hb, b.simhash_lo AS lb
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
      SELECT da, db,
             CAST(bit_count(xor(la, lb)) + bit_count(xor(ha, hb)) AS BIGINT)
               AS hamming
      FROM cand
      WHERE bit_count(xor(la, lb)) + bit_count(xor(ha, hb)) <= 3
      ORDER BY da, db"""))

  // ---------------------------------------------------- dedup: fingerprint

  // 62-bit packed fingerprint: two independent coefficient families,
  // a·2³¹ + b — mirror of the widened TextDedup.fingerprintPairs
  private val q34 = Q("q34_doc_fingerprint_pairs",
    (s, dir) => TextDedup.fingerprintPairs(t(s, dir, "documents"), shingleK = 5)
      .harnessSorted(col("da"), col("db")),
    Some(s"""
      WITH $ToksCte, $TokhCte,
      grams AS (
        SELECT doc_id,
               ${gramSqlExpr(5, graft.llm.TextFns.shingleCoef)} * 2147483648
                 + ${gramSqlExpr(5, graft.llm.TextFns.shingleCoefB)} AS gh
        FROM tokh WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
      fp AS (SELECT doc_id, min(gh) AS fp
             FROM grams WHERE gh IS NOT NULL GROUP BY doc_id)
      SELECT a.doc_id AS da, b.doc_id AS db, a.fp AS fingerprint
      FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
      ORDER BY da, db"""))

  // ----------------------------------------------------------- text analysis

  private val q35 = Q("q35_lang_stats",
    (s, dir) => TextAnalysis.langStats(t(s, dir, "documents"))
      .harnessSorted(col("lang")),
    Some(s"""
      WITH $ToksCte
      SELECT lang, count(*) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS total_chars,
             CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars,
             CAST(sum(len(w)) AS BIGINT) AS total_tokens
      FROM toks GROUP BY lang ORDER BY lang"""))

  private val q36 = Q("q36_text_quality",
    (s, dir) => TextAnalysis.qualityScores(t(s, dir, "documents"))
      .harnessSorted(col("doc_id")),
    Some(s"""
      WITH $ToksCte
      SELECT doc_id, lang,
             CAST(len(w) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct,
             CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS ttr,
             CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / len(w)
               AS mean_tok_len,
             CAST(len(list_filter(w,
                    x -> list_contains(['the','a','of','and','to'], x)))
                  AS DOUBLE) / len(w) AS stopword_ratio
      FROM toks WHERE len(w) > 0 ORDER BY doc_id"""))

  private val q37 = Q("q37_token_freq",
    (s, dir) => TextAnalysis.tokenFrequency(t(s, dir, "documents"), k = 50),
    Some(s"""
      WITH $ToksCte
      SELECT token, count(*) AS n, count(DISTINCT doc_id) AS n_docs
      FROM (SELECT doc_id, unnest(w) AS token FROM toks) x
      GROUP BY token ORDER BY n DESC, token LIMIT 50"""))

  private val q38 = Q("q38_lang_id_confusion",
    (s, dir) => TextAnalysis.langIdConfusion(t(s, dir, "documents"))
      .harnessSorted(col("lang"), col("predicted")),
    Some(s"""
      WITH $ToksCte
      SELECT lang, predicted, count(*) AS n FROM (
        SELECT lang,
               CASE WHEN he = 0 AND hd = 0 AND hs = 0 THEN 'unknown'
                    WHEN he >= hd AND he >= hs THEN 'en'
                    WHEN hd >= hs THEN 'de'
                    ELSE 'es' END AS predicted
        FROM (SELECT lang,
                len(list_filter(w, x -> list_contains(['the','a','of'], x))) AS he,
                len(list_filter(w, x -> list_contains(['der','die','und'], x))) AS hd,
                len(list_filter(w, x -> list_contains(['el','la','los'], x))) AS hs
              FROM toks) y) z
      GROUP BY lang, predicted ORDER BY lang, predicted"""))

  // ------------------------------------------------------------- similarity

  /** DuckDB mirror of [[Similarity.dot]] — per-element double casts,
    * left-to-right fold (verified bit-identical to Spark).
    */
  private def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(generate_series(1, len($a)), " +
      s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"

  private def normCte(extra: String = ""): String = s"""
      e AS (SELECT vec_id, embedding$extra,
                   sqrt(${dotSql("embedding", "embedding")}) AS nrm
            FROM embeddings)"""

  private def signBucketSql(bits: Int): String =
    (0 until bits)
      .map(i => s"CASE WHEN embedding[${i + 1}] > 0 THEN ${1 << i} ELSE 0 END")
      .mkString(" + ")

  private val q39 = Q("q39_ann_topk",
    (s, dir) => Similarity.bruteForceTopK(t(s, dir, "embeddings"),
      nQueries = 5, k = 10)
      .harnessSorted(col("query_id"), col("rnk")),
    Some(s"""
      WITH ${normCte()},
      q AS (SELECT vec_id AS query_id, embedding AS qv, nrm AS qn
            FROM e WHERE vec_id < 5),
      scored AS (
        SELECT q.query_id, e.vec_id,
               ${dotSql("q.qv", "e.embedding")} / (q.qn * e.nrm) AS sim
        FROM e JOIN q ON e.vec_id <> q.query_id),
      r AS (SELECT query_id, vec_id, sim,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY sim DESC, vec_id) AS rnk
            FROM scored)
      SELECT query_id, CAST(rnk AS BIGINT) AS rnk, vec_id, sim
      FROM r WHERE rnk <= 10 ORDER BY query_id, rnk"""))

  private val q40 = Q("q40_ann_lsh_topk",
    (s, dir) => Similarity.signLshTopK(t(s, dir, "embeddings"),
      bits = 4, nQueries = 5, k = 5)
      .harnessSorted(col("query_id"), col("rnk")),
    Some(s"""
      WITH ${normCte(s", ${signBucketSql(4)} AS bucket")},
      q AS (SELECT vec_id AS query_id, embedding AS qv, bucket AS qbucket,
                   nrm AS qn
            FROM e WHERE vec_id < 5),
      scored AS (
        SELECT q.query_id, e.vec_id,
               ${dotSql("q.qv", "e.embedding")} / (q.qn * e.nrm) AS sim
        FROM e JOIN q ON e.bucket = q.qbucket AND e.vec_id <> q.query_id),
      r AS (SELECT query_id, vec_id, sim,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY sim DESC, vec_id) AS rnk
            FROM scored)
      SELECT query_id, CAST(rnk AS BIGINT) AS rnk, vec_id, sim
      FROM r WHERE rnk <= 5 ORDER BY query_id, rnk"""))

  private val q41 = Q("q41_embed_neardup",
    (s, dir) => Similarity.nearDupPairs(t(s, dir, "embeddings"),
      bits = 2, threshold = 0.4)
      .harnessSorted(col("va"), col("vb")),
    Some(s"""
      WITH ${normCte(s", ${signBucketSql(2)} AS bucket")}
      SELECT va, vb, sim FROM (
        SELECT a.vec_id AS va, b.vec_id AS vb,
               ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS sim
        FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id) z
      WHERE sim >= 0.4 ORDER BY va, vb"""))

  /** DuckDB mirror of the IVF centroid distance Σ(xᵢ-cᵢ)². */
  private def dist2Sql(a: String, c: String): String =
    s"list_sum(list_transform(generate_series(1, 64), " +
      s"i -> (CAST($a[i] AS DOUBLE) - $c[i]) * (CAST($a[i] AS DOUBLE) - $c[i])))"

  private val centroidList = (1 to 64)
    .map(i => s"round(avg(CAST(embedding[$i] AS DOUBLE)), 3)")
    .mkString("[", ", ", "]")

  private val q43 = Q("q43_ann_ivf",
    (s, dir) => Similarity.ivfTopK(t(s, dir, "embeddings"),
      dims = 64, nProbe = 2, nQueries = 5, k = 3)
      .harnessSorted(col("query_id"), col("rnk")),
    Some(s"""
      WITH cent AS (
        SELECT label, $centroidList AS cv FROM embeddings GROUP BY label),
      assign AS (
        SELECT vec_id, cell, embedding, nrm FROM (
          SELECT e.vec_id, c.label AS cell, e.embedding,
                 sqrt(${dotSql("e.embedding", "e.embedding")}) AS nrm,
                 row_number() OVER (PARTITION BY e.vec_id
                                    ORDER BY ${dist2Sql("e.embedding", "c.cv")},
                                             c.label) AS rn
          FROM embeddings e, cent c) x WHERE rn = 1),
      probes AS (
        SELECT query_id, qv, qn, cell FROM (
          SELECT q.vec_id AS query_id, q.embedding AS qv,
                 sqrt(${dotSql("q.embedding", "q.embedding")}) AS qn,
                 c.label AS cell,
                 row_number() OVER (PARTITION BY q.vec_id
                                    ORDER BY ${dist2Sql("q.embedding", "c.cv")},
                                             c.label) AS crn
          FROM embeddings q, cent c WHERE q.vec_id < 5) y WHERE crn <= 2),
      scored AS (
        SELECT p.query_id, a.vec_id, a.cell,
               ${dotSql("p.qv", "a.embedding")} / (p.qn * a.nrm) AS sim
        FROM assign a JOIN probes p
          ON a.cell = p.cell AND a.vec_id <> p.query_id),
      r AS (SELECT query_id, vec_id, cell, sim,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY sim DESC, vec_id) AS rnk
            FROM scored)
      SELECT query_id, CAST(rnk AS BIGINT) AS rnk, vec_id, cell, sim
      FROM r WHERE rnk <= 3 ORDER BY query_id, rnk"""))

  // ------------------------------------------------------------- multimodal

  /** Binary-column plumbing (the oracle-checkable slice of
    * [[graft.llm.Multimodal]]): text payloads re-encoded as binary,
    * byte-level metadata projected out. The stubbed decode itself is
    * covered by LlmLayerSpec (not SQL-expressible).
    */
  private val q42 = Q("q42_multimodal_meta",
    (s, dir) => t(s, dir, "documents")
      .select(col("doc_id"),
        expr("octet_length(text)").cast("long").as("byte_len"),
        md5(col("text")).as("content_md5"),
        upper(hex(encode(substring(col("text"), 1, 8), "UTF-8"))).as("head_hex"))
      .harnessSorted(col("doc_id")),
    Some("""
      SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
             md5(text) AS content_md5,
             upper(hex(encode(substr(text, 1, 8)))) AS head_hex
      FROM documents ORDER BY doc_id"""))

  // ------------------------------------------------- skew / as-of operators

  private val q44 = Q("q44_salted_join",
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val d12 = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(12, 2))
      val d4 = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(4, 2))
      val one = lit(1).cast(DecimalType(4, 2))
      val li = t(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_extendedprice"), col("l_discount"))
      val sup = t(s, dir, "supplier")
        .select(col("s_suppkey").as("l_suppkey"), col("s_name"))
      graft.operators.Skew.saltedJoin(li, sup, "l_suppkey", factor = 8)
        .groupBy(col("s_name"))
        .agg(sum(d12(col("l_extendedprice")) * (one - d4(col("l_discount"))))
          .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .harnessSorted(col("s_name"))
    },
    // the salt is partitioning-only: the oracle is the PLAIN join
    Some("""
      SELECT s_name,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
                      (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
                  AS DOUBLE) AS revenue,
             count(*) AS n_items
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY s_name ORDER BY s_name"""))

  private val q45 = Q("q45_asof_join",
    (s, dir) => {
      val e = QueryPack.events(s, dir)
      val sec = unix_timestamp(date_trunc("second", col("ts")))
      // right side deduped per (key, ts): as-of requires a unique build
      val sg = e.filter(col("event_type") === "signup")
        .select(col("user_id"), sec.as("s_sec")).distinct()
      val pu = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), sec.as("p_sec"))
      graft.operators.AsofJoin
        .joinAsof(pu, sg, "user_id", "p_sec", "s_sec", Seq("s_sec"))
        .select(col("event_id"), col("user_id"), col("p_sec"),
          col("asof_s_sec").as("s_sec"))
        .harnessSorted(col("event_id"))
    },
    Some("""
      WITH sg AS (SELECT DISTINCT user_id,
                         CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS s_sec
                  FROM events WHERE event_type = 'signup'),
      pu AS (SELECT event_id, user_id,
                    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS p_sec
             FROM events WHERE event_type = 'purchase')
      SELECT pu.event_id, pu.user_id, pu.p_sec, sg.s_sec
      FROM pu ASOF LEFT JOIN sg
        ON pu.user_id = sg.user_id AND pu.p_sec >= sg.s_sec
      ORDER BY event_id"""))

  // ------------------------------------------- remaining window families

  private val q46 = Q("q46_sliding_window",
    (s, dir) => {
      val e = QueryPack.events(s, dir)
      e.groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(unix_timestamp(col("w.start")).as("win_start"),
          col("event_type"), col("n"))
        .harnessSorted(col("win_start"), col("event_type"))
    },
    // a 1h window sliding 30min: every event lands in exactly the two
    // windows starting at (t - t mod 1800) and 1800s earlier (integer
    // seconds suffice: sub-second parts never straddle an 1800s grid)
    Some("""
      SELECT win_start, event_type, count(*) AS n
      FROM (
        SELECT unnest([sec - sec % 1800, sec - sec % 1800 - 1800]) AS win_start,
               event_type
        FROM (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS sec, event_type
              FROM events) x) y
      GROUP BY win_start, event_type
      ORDER BY win_start, event_type"""))

  private val q47 = Q("q47_session_window",
    (s, dir) => {
      val e = QueryPack.events(s, dir)
        .withColumn("tsec", date_trunc("second", col("ts")))
      e.groupBy(session_window(col("tsec"), "30 minutes").as("sw"),
          col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_timestamp(col("sw.start")).as("session_start"), col("n_events"))
        .harnessSorted(col("user_id"), col("session_start"))
    },
    // gap-based sessionization; Spark merges ABUTTING sessions
    // (UpdatingSessionsIterator: new start <= current end, inclusive),
    // so a gap of exactly 1800s still merges: is_new on gap > 1800.
    // Caught at sf0.1 — sf0.01 has no exact-1800s gap to distinguish.
    Some("""
      WITH t AS (
        SELECT user_id, CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec,
               event_id
        FROM events),
      flagged AS (
        SELECT user_id, sec,
               CASE WHEN sec - lag(sec) OVER w IS NULL
                         OR sec - lag(sec) OVER w > 1800 THEN 1 ELSE 0 END AS is_new
        FROM t WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)),
      numbered AS (
        SELECT user_id, sec,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY sec
                                 ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged)
      SELECT user_id, min(sec) AS session_start,
             count(*) AS n_events
      FROM numbered GROUP BY user_id, sid
      ORDER BY user_id, session_start"""))

  // ------------------------------------------------------------- map fns

  private val q48 = Q("q48_map_fns",
    (s, dir) => t(s, dir, "nation")
      .groupBy(col("n_regionkey"))
      .agg(map_from_arrays(
        collect_list(col("n_name")), collect_list(col("n_nationkey")))
        .as("m"))
      .select(col("n_regionkey"),
        size(map_keys(col("m"))).cast("long").as("n_entries"),
        array_join(array_sort(map_keys(col("m"))), ",").as("names"),
        aggregate(map_values(col("m")), lit(0L), (a, x) => a + x).as("key_sum"))
      .harnessSorted(col("n_regionkey")),
    Some("""
      SELECT n_regionkey,
             CAST(len(map_keys(m)) AS BIGINT) AS n_entries,
             array_to_string(list_sort(map_keys(m)), ',') AS names,
             CAST(list_sum(map_values(m)) AS BIGINT) AS key_sum
      FROM (SELECT n_regionkey, map(list(n_name), list(n_nationkey)) AS m
            FROM nation GROUP BY n_regionkey) x
      ORDER BY n_regionkey"""))

  // -------------------------------------------- approx sketches / quantiles

  /** Sketch-family aggregates (HLL count-distinct, KLL-quantile),
    * with a REAL oracle gate (VERDICT r3 next-round #4):
    * raw sketch values are engine-specific by construction, so instead
    * of hashing them the query emits the exact group keys/counts plus
    * boolean within-band flags comparing each sketch to its exact
    * twin, all computed engine-side. The oracle supplies the exact
    * counts and expects every flag TRUE — a sketch drifting outside
    * its band flips a flag and fails the hash compare. Bands are the
    * original 3σ contracts (15% / 3% / 1%-of-median), now held with
    * margin by the r14 sketches: DataSketches HLL at lgK=12 (~1.6%
    * rse) and lgK=14 (~0.8%) for the count twins, the native KLL
    * aggregate [[graft.functions.ApproxQuantileAgg]] at k=2048
    * (~0.05% observed rank error) for the median twin.
    */
  /** One-scan FUSED form of q49 (r13, VERDICT r12 #2): every EXACT
    * twin rides a single (returnflag, kind, value) histogram built in
    * one corpus pass — posexplode fans each row into its three keyed
    * values (partkey, suppkey, price), a map-side partial count agg
    * collapses them to the distinct frame, and from that one frame
    * fall out:
    *  - exact distinct counts = rows per (rf, kind)
    *  - the HLL twins = hll_sketch_agg over the distinct frame
    *    (duplicate-insensitive, the r8 insight)
    *  - the exact median = cumulative-rank interpolation over the
    *    kind=price slice (the L92 histogram technique, fused in-query)
    * The intentional ×3 Expand is NOT the 29.6 s countDistinct Expand
    * of r8 lore: that one pushed every raw row through three aggregate
    * update paths including a sort-based percentile; this one feeds a
    * single codegen'd count whose map-side combine collapses to
    * distinct keys before any shuffle. The whole plan reads the corpus
    * TWICE (the histogram pass + the quantile-sketch pass) vs FOUR
    * scans in the branched form — the regime for scan-dominated
    * (100 TB) inputs; see [[q49Branched]] for why it loses at bench
    * scale.
    */
  private[graft] def q49Fused(li: DataFrame): DataFrame = {
      val expanded = li.select(col("l_returnflag"),
        posexplode(array(
          col("l_partkey").cast("double"),
          col("l_suppkey").cast("double"),
          col("l_extendedprice").cast("double"))).as(Seq("kind", "v")))
        .filter(col("v").isNotNull) // SQL DISTINCT/rank-space semantics
      val hist = expanded
        .groupBy(col("l_returnflag"), col("kind"), col("v"))
        .agg(count(lit(1)).as("__c"))
      // cumulative 0-based rank per distinct value via the TWO-PHASE
      // bucketed prefix sum (the L92/Packing decomposition, keyed
      // (rf, kind, bucket)) — a single (rf, kind) window here
      // serializes onto 9 tasks and measured 1.81 s vs the r8 shape's
      // 1.36 s; bucketing keeps every heavy stage parallel. All
      // consumptions of `hist` sit ABOVE its aggregation exchange, so
      // the physical plan shares ONE shuffle via ReusedExchange — the
      // corpus is still scanned once. No kind=2 Filter node anywhere:
      // a grouping-key filter would push below the exchange, split the
      // subtrees, and silently resurrect the second scan — the price
      // slice is selected only inside conditional aggregates.
      import org.apache.spark.sql.expressions.Window
      val nBuckets = 256
      val gk = Seq(col("l_returnflag"), col("kind"))
      // the `+ 0.0*sum(__c)` is ballast with a purpose: without a live
      // reference to __c this subtree's column pruning rewrites its
      // copy of `hist` to a count-free distinct, the canonical
      // exchange no longer matches histB's, and ReuseExchange silently
      // re-scans the corpus for the stats broadcast (observed: 3 scan
      // stages instead of 1). sum is nullable, so the *0 term cannot
      // be constant-folded away; its value is exactly 0.0.
      val stats = hist.groupBy(gk: _*)
        .agg(min(col("v")).as("__mn"),
          (max(col("v")) + lit(0.0) * sum(col("__c"))).as("__mx"))
      val span = col("__mx") - col("__mn")
      val histB = hist.join(broadcast(stats), Seq("l_returnflag", "kind"))
        .withColumn("__b",
          when(span === 0.0, lit(0)).otherwise(
            greatest(least(floor((col("v") - col("__mn")) / (span / nBuckets)),
              lit(nBuckets - 1.0)), lit(0.0)).cast("int")))
        .drop("__mn", "__mx")
      val bt = histB.groupBy((gk :+ col("__b")): _*)
        .agg(sum(col("__c")).as("__bt"))
      val wB = Window.partitionBy(gk: _*).orderBy(col("__b"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wG = Window.partitionBy(gk: _*)
      val boff = bt
        .withColumn("__boff", coalesce(sum(col("__bt")).over(wB), lit(0L)))
        .withColumn("__n", sum(col("__bt")).over(wG))
        .select(col("l_returnflag"), col("kind"), col("__b"),
          col("__boff"), col("__n"))
      val inB = Window.partitionBy((gk :+ col("__b")): _*).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ranked = histB
        .join(broadcast(boff), Seq("l_returnflag", "kind", "__b"))
        .withColumn("__cum", col("__boff") + sum(col("__c")).over(inB))
        .withColumn("__start", col("__cum") - col("__c"))
      val r = (col("__n") - 1).cast("double") * 0.5
      val isPrice = col("kind") === 2
      // value at rank floor(r)/ceil(r): a rank k is covered by the
      // distinct value whose range [__start, __cum) contains it —
      // (n−1)p interpolation, bit-compatible with quantile_cont
      def at(k: org.apache.spark.sql.Column) =
        min(when(isPrice && col("__start") <= k && k < col("__cum"),
          col("v")))
      val exact = ranked.groupBy(col("l_returnflag"))
        .agg(
          // DataSketches HLL twins (r14) — binary buffer, not the
          // 2,731-attribute HLL++ schema; see q49Branched's
          // distinctPass comment for the measured cliff
          count(when(col("kind") === 0, 1)).as("exact_parts"),
          hll_sketch_estimate(hll_sketch_agg(
            when(col("kind") === 0, col("v").cast("long")), lit(12)))
            .as("approx_parts"),
          count(when(col("kind") === 1, 1)).as("exact_supps"),
          hll_sketch_estimate(hll_sketch_agg(
            when(col("kind") === 1, col("v").cast("long")), lit(14)))
            .as("approx_supps"),
          at(floor(r)).as("__vLo"),
          at(ceil(r)).as("__vHi"),
          max(when(isPrice, r)).as("__r"))
        .withColumn("exact_median",
          col("__vLo") +
            (col("__r") - floor(col("__r"))) * (col("__vHi") - col("__vLo")))
      // the percentile sketch keeps its own whole-multiset pass — a
      // rank sketch is NOT duplicate-insensitive, so it cannot ride
      // the distinct frame. r14: the native KLL aggregate
      // (graft_approx_quantile) replaces percentile_approx, whose
      // GK-summary update path was the single 0.84 s stage flooring
      // this query (VERDICT r13 #1); k=2048 holds rank error ~0.05%,
      // ~15x inside the 1% band (ApproxQuantileAggSpec).
      val sketches = li.groupBy(col("l_returnflag"))
        .agg(expr("graft_approx_quantile(l_extendedprice, 0.5, 2048)")
          .as("approx_median"))
      q49Flags(exact.join(broadcast(sketches), Seq("l_returnflag")))
  }

  /** BRANCHED — historically — form of q49, now the SINGLE-SCAN form
    * (r14): all six statistics ride one scan and one
    * ObjectHashAggregate of mergeable primitive-state aggregates —
    * `graft_exact_distinct` (open-address long set),
    * `hll_sketch_agg` (DataSketches binary blob),
    * `graft_exact_percentile` (double-array buffer + one sort), and
    * the native KLL `graft_approx_quantile`. The r8/r13 4-branch
    * union shape existed because Spark's own aggregates made one agg
    * impossible to afford: two `count(DISTINCT)`s plan as an Expand
    * (input ×3) through every update path (29.6 s), `percentile`
    * buffers boxed `OpenHashMap` (~1.5 s), `percentile_approx`'s GK
    * summary floored the suite's lone weak row, and
    * `approx_count_distinct(rsd=0.01)` flattens p=14 HLL++ state into
    * 2,731 LongType buffer attributes whose mere plan-resolution cost
    * ~0.8 s/run at any data size. With native primitive-state twins,
    * the 4 scans + 3 shuffles + union collapse to scan → partial agg
    * → 3-row merge: measured r14 at sf0.1, 1.61 s → 0.25 s.
    *
    * SCALE CONTRACT: exact-distinct and exact-percentile state is
    * O(distinct)/O(rows) per group — this form is only chosen under
    * the 128 MiB file-byte probe; above it (or forced),
    * [[q49Fused]]'s bounded-state histogram regime runs instead.
    * NULL keys: every aggregate here skips NULLs natively, matching
    * SQL `count(DISTINCT c)` / the fused form's `v.isNotNull` frame.
    */
  private[graft] def q49Branched(li: DataFrame): DataFrame =
      q49Flags(li.groupBy(col("l_returnflag"))
        .agg(
          expr("graft_exact_distinct(l_partkey)").as("exact_parts"),
          hll_sketch_estimate(hll_sketch_agg(col("l_partkey"), lit(12)))
            .as("approx_parts"),
          expr("graft_exact_distinct(l_suppkey)").as("exact_supps"),
          hll_sketch_estimate(hll_sketch_agg(col("l_suppkey"), lit(14)))
            .as("approx_supps"),
          expr("graft_exact_percentile(l_extendedprice, 0.5)")
            .as("exact_median"),
          expr("graft_approx_quantile(l_extendedprice, 0.5, 2048)")
            .as("approx_median")))

  /** Shared q49 output contract: exact counts + within-band flags. */
  private def q49Flags(df: DataFrame): DataFrame =
    df.select(col("l_returnflag"),
      col("exact_parts"),
      col("exact_supps"),
      (abs(col("approx_parts") - col("exact_parts"))
        <= col("exact_parts") * 0.15).as("parts_ok"),
      (abs(col("approx_supps") - col("exact_supps"))
        <= col("exact_supps") * 0.03).as("supps_ok"),
      (abs(col("approx_median") - col("exact_median"))
        <= abs(col("exact_median")) * 0.01).as("median_ok"))

  private val q49 = Q("q49_approx_sketches",
    (s, dir) => {
      // both forms resolve graft_* aggregates — register for callers
      // that didn't come through Bench/Verify
      graft.functions.GraftFunctions.ensureRegistered(s)
      val li = t(s, dir, "lineitem")
      // dual regime: routes small inputs to the branched form
      // (everything hides behind the sketch stage) and scan-dominated
      // inputs to the fused two-scan form. The probe currency is FILE
      // BYTES — one driver-side FS stat, free at any scale — because
      // scan cost is exactly what the cut trades on (a row-count
      // limit-probe measured as a full extra scan job per run at
      // bench scale). A forced run takes the fused form, so the
      // oracle gate certifies the 100 TB plan.
      val branched = graft.Regimes.small(graft.Regimes.atMostFileBytes(
        s, s"$dir/lineitem.parquet", 128L << 20))
      (if (branched) q49Branched(li) else q49Fused(li))
        .harnessSorted(col("l_returnflag"))
    },
    Some("""
      SELECT l_returnflag,
             CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
             CAST(count(DISTINCT l_suppkey) AS BIGINT) AS exact_supps,
             TRUE AS parts_ok, TRUE AS supps_ok, TRUE AS median_ok
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  private val q50 = Q("q50_exact_percentiles",
    // exact percentiles, dual regime: under the q49-convention
    // 128 MiB file-byte probe, the native `graft_exact_percentile`
    // aggregate — one scan, one ObjectHashAggregate whose cost IS the
    // sort+interpolate arithmetic (primitive double-array state;
    // 0.9 s -> ~0.3 s at sf0.1). Above it (or forced, which the gate
    // uses to hash-certify the 100 TB plan) the histogram
    // interpolation (Percentiles.groupedExact two-phase) — state
    // bounded by distinct values, nothing buffers a group. Both are
    // value-identical (n−1)p interpolation; the null filter makes the
    // regimes agree on null-bearing groups too (all-null group absent
    // from both).
    (s, dir) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      val li = t(s, dir, "lineitem")
      val q =
        if (graft.Regimes.small(graft.Regimes.atMostFileBytes(
            s, s"$dir/lineitem.parquet", 128L << 20)))
          li.filter(col("l_extendedprice").isNotNull)
            .groupBy(col("l_returnflag"))
            .agg(
              expr("graft_exact_percentile(l_extendedprice, 0.5)").as("p50r"),
              expr("graft_exact_percentile(l_extendedprice, 0.9)").as("p90r"),
              count(lit(1)).as("n"))
            .select(col("l_returnflag"),
              round(col("p50r"), 6).as("p50"),
              round(col("p90r"), 6).as("p90"), col("n"))
        else graft.operators.Percentiles
          .groupedExact(li, "l_returnflag", "l_extendedprice",
            Seq(0.5, 0.9), singleWindow = false)
          .select(col("l_returnflag"),
            round(col("p50"), 6).as("p50"),
            round(col("p90"), 6).as("p90"), col("n"))
      q.harnessSorted(col("l_returnflag"))
    },
    // both engines interpolate at rank (n-1)*p; rounding absorbs the
    // differing FP forms of the interpolation expression
    Some("""
      SELECT l_returnflag,
             round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
             round(quantile_cont(l_extendedprice, 0.9), 6) AS p90,
             count(*) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  private val q51 = Q("q51_token_counting",
    (s, dir) => {
      import graft.llm.TextFns
      t(s, dir, "documents")
        .select(col("doc_id"),
          size(TextFns.tokens(col("text"))).cast("long").as("ws_tokens"),
          size(TextFns.regexTokens(col("text"))).cast("long").as("bpe_tokens"),
          size(array_distinct(TextFns.regexTokens(col("text")))).cast("long")
            .as("bpe_vocab"))
        .harnessSorted(col("doc_id"))
    },
    Some(s"""
      SELECT doc_id,
             CAST(len(list_filter(string_split(lower(text), ' '), x -> x <> ''))
                  AS BIGINT) AS ws_tokens,
             CAST(len(regexp_extract_all(lower(text),
                  '${graft.llm.TextFns.BpeTokenPattern}'))
                  AS BIGINT) AS bpe_tokens,
             CAST(len(list_distinct(regexp_extract_all(lower(text),
                  '${graft.llm.TextFns.BpeTokenPattern}')))
                  AS BIGINT) AS bpe_vocab
      FROM documents ORDER BY doc_id"""))

  /** Mergeable-sketch corpus stats (DataSketches HLL via Spark's
    * hll_sketch_agg / hll_union_agg): each data slice — here the two
    * halves of the orderkey space, standing in for daily ingest
    * partitions — persists a BINARY sketch; the corpus-wide distinct
    * count is the union of slice sketches, never a rescan. Gated like
    * q49: the oracle pins exact group counts and expects BOTH the
    * union-of-slices estimate and the single-pass estimate to sit
    * inside the lgK=12 error band vs the exact count. (The two
    * estimates are not gated against each other: the union re-targets
    * the sketch mode, so they differ by ~1% even on identical data —
    * measured 1991 vs 2019 on 2000 true distincts at sf0.01.)
    */
  private val q53 = Q("q53_hll_mergeable",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val halves = li
        .groupBy(col("l_returnflag"), (col("l_orderkey") % 2).as("half"))
        .agg(expr("hll_sketch_agg(l_partkey)").as("sk"))
      val merged = halves
        .groupBy(col("l_returnflag"))
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("merged_est"))
      val single = li
        .groupBy(col("l_returnflag"))
        .agg(expr("hll_sketch_estimate(hll_sketch_agg(l_partkey))")
          .as("single_est"))
      val exact = li
        .groupBy(col("l_returnflag"), col("l_partkey")).agg(count(lit(1)))
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("exact_parts"))
      merged.join(single, "l_returnflag").join(exact, "l_returnflag")
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("merged_est") - col("exact_parts"))
            <= col("exact_parts") * 0.15).as("merged_within_band"),
          (abs(col("single_est") - col("exact_parts"))
            <= col("exact_parts") * 0.15).as("single_within_band"))
        .harnessSorted(col("l_returnflag"))
    },
    Some("""
      SELECT l_returnflag,
             CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
             TRUE AS merged_within_band, TRUE AS single_within_band
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** The composed dedup pipeline (exact → prefix → MinHash-LSH greedy
    * pair drop) as ONE hash-checked query: the end-to-end flow a
    * training-data build runs, so the stage composition itself — not
    * just each stage — is value-checked. The oracle chains the same
    * survivor CTEs and reuses the shared gram/pair CTE blocks over the
    * stage-2 survivors' tokens.
    */
  private val q54 = Q("q54_dedup_pipeline",
    (s, dir) => TextDedup.dedupPipeline(t(s, dir, "documents"),
      shingleK = 3, nHashes = 12, bands = 4, threshold = 0.5, prefixK = 5)
      .harnessSorted(col("doc_id")),
    Some(s"""
      WITH s1 AS (
        SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
      toks0 AS (
        SELECT d.doc_id,
               list_filter(string_split(lower(d.text), ' '), x -> x <> '') AS w
        FROM documents d JOIN s1 USING (doc_id)),
      s2 AS (
        SELECT min(doc_id) AS doc_id FROM (
          SELECT doc_id, md5(array_to_string(list_slice(w, 1, 5), ' ')) AS pk
          FROM toks0) z
        GROUP BY pk),
      toks AS (SELECT t.doc_id, t.w FROM toks0 t JOIN s2 USING (doc_id)),
      ${gramCtes(3)}, ${minhashPairCtes(0.5, None)}
      SELECT doc_id FROM s2
      WHERE doc_id NOT IN (SELECT db FROM pairs)
      ORDER BY doc_id"""))

  // ------------------------------------------- core SQL coverage extras (r4)

  /** Pivot: groupBy().pivot() with an explicit value list (the
    * deterministic form — inferred pivot values would make the output
    * schema data-dependent). Mirror: conditional aggregation; both
    * sides coalesce absent combinations to 0.
    */
  private val q55 = Q("q55_pivot",
    (s, dir) => {
      val years = Seq(1992, 1993, 1994, 1995)
      val p = t(s, dir, "orders")
        .withColumn("yr", year(col("o_orderdate")))
        .groupBy(col("o_orderpriority"))
        .pivot("yr", years)
        .agg(count(lit(1)))
      p.select(col("o_orderpriority") +:
          years.map(y => coalesce(col(y.toString), lit(0L)).as(s"y$y")): _*)
        .harnessSorted(col("o_orderpriority"))
    },
    Some(s"""
      SELECT o_orderpriority,
             ${(1992 to 1995).map(y =>
               s"CAST(coalesce(sum(CASE WHEN year(o_orderdate) = $y THEN 1 END), 0) AS BIGINT) AS y$y")
               .mkString(",\n             ")}
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** EXCEPT ALL — multiplicity-preserving set difference (q12 covers
    * the DISTINCT form): each row survives count(left) − count(right)
    * times.
    */
  private val q56 = Q("q56_except_all",
    (s, dir) => t(s, dir, "lineitem").select(col("l_suppkey").as("k"))
      .exceptAll(t(s, dir, "supplier").select(col("s_suppkey").as("k")))
      .groupBy(col("k")).agg(count(lit(1)).as("n")) // stable compare shape
      .harnessSorted(col("k")),
    Some("""
      SELECT k, count(*) AS n FROM (
        SELECT l_suppkey AS k FROM lineitem
        EXCEPT ALL
        SELECT s_suppkey AS k FROM supplier) z
      GROUP BY k ORDER BY k"""))

  /** Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    * match each other instead of vanishing — the semantics an id-less
    * dimension join needs. Null keys synthesized with nullif.
    */
  private val q57 = Q("q57_nullsafe_join",
    (s, dir) => {
      val a = t(s, dir, "nation")
        .select(nullif(col("n_regionkey"), lit(2)).as("k"), col("n_name"))
      val b = t(s, dir, "region")
        .select(nullif(col("r_regionkey"), lit(2)).as("k"), col("r_name"))
      a.join(b, a("k") <=> b("k"))
        .select(col("n_name"), col("r_name"))
        .harnessSorted(col("n_name"), col("r_name"))
    },
    Some("""
      SELECT n_name, r_name
      FROM (SELECT nullif(n_regionkey, 2) AS k, n_name FROM nation) a
      JOIN (SELECT nullif(r_regionkey, 2) AS k, r_name FROM region) b
        ON a.k IS NOT DISTINCT FROM b.k
      ORDER BY n_name, r_name"""))

  /** Keyless interval-overlap join via
    * [[graft.operators.IntervalJoin]]: urgent orders' 7-day windows
    * overlapped against every order's window — no equi key, the shape
    * Spark's planner would nested-loop. The oracle is the PLAIN
    * overlap join (partitioning-only rewrites; results identical).
    *
    * DUAL REGIME (an sf1 run caught the pair path at 123 s against
    * DuckDB's 11 s): pair counts here are QUADRATIC in
    * per-day order density (every 7-day window overlaps ~15 days ×
    * density others), so 10× the orders over the same date span is
    * ~100× the pairs. Under the probe bound the bucketized pair join
    * runs — the pair-level operator demo, each pair exactly once.
    * Above it (or forced, which the oracle leg uses to
    * hash-certify this form) the query
    * routes to [[graft.operators.IntervalJoin.countOverlaps]]'s rank
    * form MINUS ONE: `a ⊆ b` row-for-row and an interval always
    * overlaps itself, so the self-inclusive rank count − 1 is
    * value-identical to the `a_key <> b_key` pair count, with zero
    * pairs formed (sf1: 123 s → sub-second). Keys whose only overlap
    * is themselves drop to 0 and are filtered, matching the inner
    * pair join's absence.
    */
  private val q58 = Q("q58_interval_join",
    (s, dir) => {
      val day = (c: org.apache.spark.sql.Column) =>
        datediff(c, to_date(lit("1990-01-01"))).cast("long")
      val o = t(s, dir, "orders")
      val a = o.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey").as("a_key"), day(col("o_orderdate")).as("a_s"),
          (day(col("o_orderdate")) + 7).as("a_e"))
      val b = o.select(col("o_orderkey").as("b_key"),
        day(col("o_orderdate")).as("b_s"), (day(col("o_orderdate")) + 7).as("b_e"))
      // probe currency is FILE BYTES (the q49 convention — one
      // driver-side FS stat, no probe job): 16 MiB of orders parquet
      // ≈ 600k rows, past where the quadratic pair count outruns the
      // rank form's fixed stage cost
      val counted =
        if (graft.Regimes.small(graft.Regimes.atMostFileBytes(
            s, s"$dir/orders.parquet", 16L << 20)))
          graft.operators.IntervalJoin
            // caller-knows width: both sides are 8-day windows, so the
            // optimal w* = sqrt(8*8) = 8 — skips the derivedWidth
            // median probe job (derivation is value-identical,
            // spec-pinned in OperatorsSpec)
            .overlapJoin(a, b, "a_s", "a_e", "b_s", "b_e", bucketWidth = 8)
            .filter(col("a_key") =!= col("b_key"))
            .groupBy(col("a_key"))
            .agg(count(lit(1)).as("n_overlapping"))
        else
          graft.operators.IntervalJoin
            .countOverlaps(a, b, "a_s", "a_e", "b_s", "b_e", leftKey = "a_key")
            .withColumn("n_overlapping", col("n_overlapping") - 1)
            .filter(col("n_overlapping") > 0)
      counted.harnessSorted(col("a_key"))
    },
    Some("""
      WITH iv AS (
        SELECT o_orderkey AS key, o_orderpriority AS pri,
               date_diff('day', DATE '1990-01-01', o_orderdate) AS s,
               date_diff('day', DATE '1990-01-01', o_orderdate) + 7 AS e
        FROM orders)
      SELECT a.key AS a_key, count(*) AS n_overlapping
      FROM iv a JOIN iv b
        ON a.s <= b.e AND b.s <= a.e AND a.key <> b.key
      WHERE a.pri = '1-URGENT'
      GROUP BY a.key ORDER BY a_key"""))

  /** The quality-filter pillar (thresholds over q36's signals) as a
    * hash-checked survivors query.
    */
  private val q59 = Q("q59_quality_filter",
    (s, dir) => TextAnalysis.qualityFilter(t(s, dir, "documents"),
      minTokens = 5, minTtr = 0.3, maxStopwordRatio = 0.5,
      minMeanTokLen = 2.0, maxMeanTokLen = 12.0)
      .harnessSorted(col("doc_id")),
    Some(s"""
      WITH $ToksCte
      SELECT * FROM (
        SELECT doc_id, lang,
               CAST(len(w) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct,
               CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS ttr,
               CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / len(w)
                 AS mean_tok_len,
               CAST(len(list_filter(w,
                      x -> list_contains(['the','a','of','and','to'], x)))
                    AS DOUBLE) / len(w) AS stopword_ratio
        FROM toks WHERE len(w) >= 5) z
      WHERE ttr >= 0.3 AND stopword_ratio <= 0.5
        AND mean_tok_len >= 2.0 AND mean_tok_len <= 12.0
      ORDER BY doc_id"""))

  /** Benchmark decontamination (the third curation pillar): the
    * documents table splits into a held-out "benchmark" slice (every
    * 20th doc) and the training corpus (the rest); corpus docs sharing
    * > 20% of their distinct 3-gram hashes with the benchmark slice
    * are dropped. Mirror: the same gram CTEs built once per side
    * (ev-prefixed for the eval slice), equi-joined on the gram hash.
    */
  private val q60 = Q("q60_decontaminate",
    (s, dir) => {
      val d = t(s, dir, "documents")
      graft.llm.Decontaminate.decontaminate(
        d.filter(col("doc_id") % 20 =!= 0),
        d.filter(col("doc_id") % 20 === 0),
        shingleK = 3, maxOverlap = 0.2)
        .harnessSorted(col("doc_id"))
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
        FROM documents WHERE doc_id % 20 <> 0), ${gramCtes(3)},
      evtoks AS (
        SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
        FROM documents WHERE doc_id % 20 = 0),
      evtokh AS (
        SELECT doc_id, gs AS pos, ${h60("w[gs]")} & 2147483647 AS h
        FROM evtoks,
             LATERAL (SELECT unnest(generate_series(1, len(w))) AS gs) g),
      evgrams AS (
        SELECT doc_id, ${gramSqlExpr(3, graft.llm.TextFns.shingleCoef)} AS gh
        FROM evtokh WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
      evg AS (SELECT DISTINCT gh FROM evgrams WHERE gh IS NOT NULL),
      sizes AS (SELECT doc_id, count(*) AS n_grams FROM sh GROUP BY doc_id),
      hits AS (SELECT s.doc_id, count(*) AS n_hit
               FROM sh s JOIN evg e ON s.gh = e.gh GROUP BY s.doc_id)
      SELECT doc_id, n_grams, n_hit, overlap FROM (
        SELECT b.doc_id,
               CAST(coalesce(sz.n_grams, 0) AS BIGINT) AS n_grams,
               CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
               CASE WHEN sz.n_grams IS NULL THEN 0.0
                    ELSE CAST(coalesce(h.n_hit, 0) AS DOUBLE) / sz.n_grams END
                 AS overlap
        FROM (SELECT doc_id FROM documents WHERE doc_id % 20 <> 0) b
        LEFT JOIN sizes sz USING (doc_id)
        LEFT JOIN hits h USING (doc_id)) z
      WHERE overlap <= 0.2 ORDER BY doc_id"""))

  /** Connected-components duplicate grouping over the MinHash-LSH
    * pairs: transitive closure via min-label propagation, mirrored by
    * a DuckDB recursive CTE (labels = min id reachable through the
    * undirected pair edges).
    */
  private val q61 = Q("q61_dup_components",
    (s, dir) => TextDedup.duplicateComponents(
      TextDedup.minhashLshPairs(t(s, dir, "documents"),
        shingleK = 3, nHashes = 12, bands = 4, threshold = 0.5))
      .harnessSorted(col("doc_id")),
    Some(s"""
      WITH RECURSIVE $ToksCte, ${gramCtes(3)}, ${minhashPairCtes(0.5, None)},
      edges AS (
        SELECT da AS a, db AS b FROM pairs
        UNION
        SELECT db AS a, da AS b FROM pairs),
      reach(id, lbl) AS (
        SELECT DISTINCT a, a FROM edges
        UNION
        SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.id)
      SELECT id AS doc_id, min(lbl) AS component
      FROM reach GROUP BY id ORDER BY doc_id"""))

  /** Seeded train/val split: membership is md5(seed|doc_id) mod 10^6
    * under a threshold — deterministic and engine-portable, so the
    * DuckDB mirror reproduces the exact same split row by row.
    */
  private val q62 = Q("q62_train_val_split",
    (s, dir) => graft.llm.Sampling
      .trainValSplit(t(s, dir, "documents"), valFraction = 0.1, seed = "42")
      .select(col("doc_id"), col("lang"), col("split"))
      .harnessSorted(col("doc_id")),
    Some(s"""
      SELECT doc_id, lang,
             CASE WHEN ${h60("concat('42', '|', CAST(doc_id AS VARCHAR))")}
                       % 1000000 < 100000
                  THEN 'val' ELSE 'train' END AS split
      FROM documents ORDER BY doc_id"""))

  /** Real BPE encoding (not just pre-tokenization): the column-pipeline
    * encoder applies [[graft.llm.Bpe.DefaultMerges]] in rank order as
    * literal replaces — token-identical to the classical rank-loop
    * encoder (asserted in LlmLayerSpec) and mirrored literal-for-literal
    * in DuckDB, so true token counts hash-match across engines.
    */
  private val q63 = Q("q63_bpe_encode",
    (s, dir) => t(s, dir, "documents").select(
      col("doc_id"),
      graft.llm.Bpe.tokenCount(col("text")).as("n_tokens"),
      array_join(slice(graft.llm.Bpe.tokens(col("text")), 1, 12), " ")
        .as("head_tokens"))
      .harnessSorted(col("doc_id")),
    Some(s"""
      WITH m AS (
        SELECT doc_id, ${graft.llm.Bpe.mergedSql("text")} AS m
        FROM documents)
      SELECT doc_id,
             CAST(length(m) - length(replace(m, '⟨', '')) AS BIGINT)
               AS n_tokens,
             array_to_string(
               list_slice(regexp_extract_all(m, '⟨([^⟩]*)⟩', 1), 1, 12), ' ')
               AS head_tokens
      FROM m ORDER BY doc_id"""))

  /** Shared between q64 (the direct rank-cascade form) and q156
    * (L133's histogram-served form): the urgent March-1995 order
    * windows, the derived lineitem transit intervals, and the ONE
    * oracle SQL both gates compare against (r19 ADVICE — a single
    * definition, so editing either query cannot silently diverge the
    * build+serve gate from the direct operator's).
    */
  private def overlapDay(c: org.apache.spark.sql.Column) =
    datediff(c, to_date(lit("1990-01-01"))).cast("long")

  private def overlapWindows(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    t(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT" &&
        col("o_orderdate").between("1995-03-01", "1995-03-31"))
      .select(col("o_orderkey").as("w_key"),
        overlapDay(col("o_orderdate")).as("w_s"),
        (overlapDay(col("o_orderdate")) + 7).as("w_e"))

  /** The synthetic lineitem has no receipt date; transit length is
    * derived deterministically from the line number (4..22 days).
    */
  private def transitIntervals(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(overlapDay(col("l_shipdate")).as("t_s"),
        (overlapDay(col("l_shipdate")) + 1 +
          col("l_linenumber").cast("long") * 3).as("t_e"))

  /** The `AND t_s <= t_e` guard in `tr` pins [[graft.operators
    * .IntervalJoin]]'s documented malformed-interval filtering (both
    * the direct and the histogram form drop reversed intervals, for
    * which overlap is undefined). On this dataset it is vacuous —
    * `t_e = t_s + 1 + 3·l_linenumber > t_s` always — but without it
    * the oracle's join predicate alone would count a reversed
    * interval fully contained in a window (r19 ADVICE).
    */
  private val overlapCountOracle = Some("""
      WITH w AS (
        SELECT o_orderkey AS w_key,
               date_diff('day', DATE '1990-01-01', o_orderdate) AS w_s,
               date_diff('day', DATE '1990-01-01', o_orderdate) + 7 AS w_e
        FROM orders
        WHERE o_orderpriority = '1-URGENT'
          AND o_orderdate BETWEEN DATE '1995-03-01' AND DATE '1995-03-31'),
      tr AS (
        SELECT date_diff('day', DATE '1990-01-01', l_shipdate) AS t_s,
               date_diff('day', DATE '1990-01-01', l_shipdate) + 1
                 + CAST(l_linenumber AS BIGINT) * 3 AS t_e
        FROM lineitem
        WHERE date_diff('day', DATE '1990-01-01', l_shipdate) <=
              date_diff('day', DATE '1990-01-01', l_shipdate) + 1
                + CAST(l_linenumber AS BIGINT) * 3)
      SELECT w_key, count(*) AS n_overlapping
      FROM w JOIN tr ON w_s <= t_e AND t_s <= w_e
      GROUP BY w_key ORDER BY w_key""")

  /** The aggregate twin of q58: per urgent March-1995 order window,
    * COUNT the lineitem ship→receipt transit intervals that overlap
    * it, via [[graft.operators.IntervalJoin.countOverlaps]]'s rank
    * form — two cumulative-count lookups per distinct window bound,
    * no candidate pair ever formed, cost linear in both inputs
    * regardless of interval density. The oracle is the plain overlap
    * join + GROUP BY.
    */
  private val q64 = Q("q64_count_overlaps",
    (s, dir) => graft.operators.IntervalJoin
      .countOverlaps(overlapWindows(s, dir), transitIntervals(s, dir),
        "w_s", "w_e", "t_s", "t_e", leftKey = "w_key")
      .harnessSorted(col("w_key")),
    overlapCountOracle)

  // ------------------------------------------------ streaming batch twins
  //
  // StreamOps transforms are source-agnostic by design: the SAME code
  // plans incrementally under readStream and as a plain batch query on
  // a DataFrame (watermarks no-op, dropDuplicatesWithinWatermark
  // lowers to Deduplicate). These rows run the ACTUAL StreamOps
  // entry points on the batch tables, so the streaming layer's value
  // semantics are hash-gated by the oracle, not unit-only. Cross-batch
  // incremental behavior (state, late data) stays covered by
  // StreamOpsSpec — an oracle cannot see micro-batches.

  /** ST1's batch twin: [[graft.streaming.StreamOps.windowedEventCounts]]
    * verbatim. `value` is pre-cast to DECIMAL so the windowed sum is
    * exact (partition-order-independent), then surfaced as double.
    */
  private val q65 = Q("q65_stream_tumbling_twin",
    (s, dir) => graft.streaming.StreamOps
      .windowedEventCounts(QueryPack.events(s, dir)
        .withColumn("value", col("value").cast("decimal(12,2)")))
      .select(unix_timestamp(col("win_start")).as("win_start"),
        col("event_type"), col("n"), col("v").cast("double").as("v"))
      .harnessSorted(col("win_start"), col("event_type")),
    Some("""
      SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS win_start,
             event_type, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS v
      FROM events GROUP BY 1, 2 ORDER BY win_start, event_type"""))

  /** ST2's batch twin: [[graft.streaming.StreamOps.streamingExactDedup]]
    * verbatim (event time synthesized from doc_id). Which duplicate row
    * survives a batch Deduplicate is partition-order-dependent, so the
    * gated projection is the deterministic part: the distinct content
    * hashes that pass.
    */
  private val q66 = Q("q66_stream_dedup_twin",
    (s, dir) => graft.streaming.StreamOps
      .streamingExactDedup(t(s, dir, "documents")
        .withColumn("ts", timestamp_seconds(col("doc_id"))))
      .select(col("content_hash")).harnessSorted(col("content_hash")),
    Some("""
      SELECT DISTINCT md5(text) AS content_hash
      FROM documents ORDER BY content_hash"""))

  /** ST5's batch twin: [[graft.streaming.StreamOps.streamingNearDedup]]
    * verbatim — one row per distinct min-gram-hash fingerprint, plus an
    * undeduped NULL-fingerprint row per sub-k-token doc (the
    * pass-through branch).
    */
  private val q67 = Q("q67_stream_neardedup_twin",
    (s, dir) => graft.streaming.StreamOps
      .streamingNearDedup(t(s, dir, "documents")
        .withColumn("ts", timestamp_seconds(col("doc_id"))), shingleK = 5)
      .select(col("fingerprint")).harnessSorted(col("fingerprint")),
    Some(s"""
      WITH $ToksCte, $TokhCte,
      grams AS (
        SELECT doc_id,
               ${gramSqlExpr(5, graft.llm.TextFns.shingleCoef)} * 2147483648
                 + ${gramSqlExpr(5, graft.llm.TextFns.shingleCoefB)} AS gh
        FROM tokh WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
      fp AS (SELECT doc_id, min(gh) AS fp
             FROM grams WHERE gh IS NOT NULL GROUP BY doc_id)
      SELECT DISTINCT fp AS fingerprint FROM fp
      UNION ALL
      SELECT CAST(NULL AS BIGINT) AS fingerprint
      FROM toks WHERE len(w) < 5"""))

  /** Gopher/FineWeb-style repetition signals: most-frequent-token and
    * most-frequent-bigram fractions per doc (the "repetitious text"
    * curation thresholds). Only max COUNTS surface, so frequency ties
    * cost no determinism; sub-2-token docs have a NULL bigram frac in
    * both engines.
    */
  private val q68 = Q("q68_repetition_signals",
    (s, dir) => TextAnalysis.repetitionSignals(t(s, dir, "documents"))
      .harnessSorted(col("doc_id")),
    Some(s"""
      WITH $ToksCte,
      u AS (SELECT doc_id, unnest(w) AS tok FROM toks),
      uc AS (SELECT doc_id, tok, count(*) AS c FROM u GROUP BY 1, 2),
      ua AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                    max(c) AS max_uni
             FROM uc GROUP BY 1),
      b AS (SELECT doc_id, w[gs] || ' ' || w[gs + 1] AS bg
            FROM toks,
                 LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS gs) g),
      bc AS (SELECT doc_id, bg, count(*) AS c FROM b GROUP BY 1, 2),
      ba AS (SELECT doc_id, max(c) AS max_bi FROM bc GROUP BY 1)
      SELECT ua.doc_id, n_tokens,
             CAST(max_uni AS DOUBLE) / n_tokens AS top_token_frac,
             CAST(max_bi AS DOUBLE) / (n_tokens - 1) AS top_bigram_frac
      FROM ua LEFT JOIN ba ON ua.doc_id = ba.doc_id
      ORDER BY ua.doc_id"""))

  /** PII redaction audit over documents with deterministic synthetic
    * PII appended (the corpus itself is clean): email, IPv4, and a
    * phone-ish digit run per doc. Both engines run the SAME RE2-safe
    * patterns in the same fixed order; the redacted text is gated via
    * its md5.
    */
  private val q69 = Q("q69_pii_redaction",
    (s, dir) => {
      val aug = t(s, dir, "documents").withColumn("text",
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com from 10.0."),
          (col("doc_id") % 256).cast("string"), lit(".7 tel +1 555-000-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
      graft.llm.Pii.redactDocs(aug)
        .select(col("doc_id"), col("n_emails"), col("n_ips"), col("n_phones"),
          md5(col("text")).as("redacted_hash"))
        .harnessSorted(col("doc_id"))
    },
    Some(s"""
      WITH aug AS (
        SELECT doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR) ||
                    '@example.com from 10.0.' ||
                    CAST(doc_id % 256 AS VARCHAR) || '.7 tel +1 555-000-' ||
                    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
        FROM documents),
      s1 AS (SELECT doc_id, text,
                    regexp_replace(text, '${Pii.EmailRe}', '${Pii.EmailTag}',
                                   'g') AS t1
             FROM aug),
      s2 AS (SELECT doc_id, text, t1,
                    regexp_replace(t1, '${Pii.Ipv4Re}', '${Pii.IpTag}',
                                   'g') AS t2
             FROM s1)
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '${Pii.EmailRe}')) AS BIGINT)
               AS n_emails,
             CAST(len(regexp_extract_all(t1, '${Pii.Ipv4Re}')) AS BIGINT)
               AS n_ips,
             CAST(len(regexp_extract_all(t2, '${Pii.PhoneRe}')) AS BIGINT)
               AS n_phones,
             md5(regexp_replace(t2, '${Pii.PhoneRe}', '${Pii.PhoneTag}', 'g'))
               AS redacted_hash
      FROM s2 ORDER BY doc_id"""))

  /** GPT-style sequence packing (concat-then-chunk into 512-token
    * blocks) via the two-phase distributed prefix sum in
    * [[graft.llm.Packing]]; groupWidth=64 so the group-offset path is
    * genuinely exercised. The oracle is the PLAIN global cumsum — the
    * two-phase decomposition must be value-identical.
    */
  private val q70 = Q("q70_sequence_packing",
    (s, dir) => graft.llm.Packing
      .packBlocks(t(s, dir, "documents"), blockSize = 512, groupWidth = 64)
      .harnessSorted(col("block_id")),
    Some(s"""
      WITH $ToksCte,
      n AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS nt FROM toks),
      c AS (SELECT doc_id, nt,
                   CAST(sum(nt) OVER (ORDER BY doc_id) - nt AS BIGINT) AS s
            FROM n),
      b AS (SELECT doc_id, nt, s, gs AS block_id
            FROM c,
                 LATERAL (SELECT unnest(generate_series(
                   s // 512, (s + nt - 1) // 512)) AS gs) g
            WHERE nt > 0)
      SELECT block_id, count(*) AS n_docs,
             CAST(sum(LEAST(s + nt, (block_id + 1) * 512)
                      - GREATEST(s, block_id * 512)) AS BIGINT)
               AS n_block_tokens,
             min(doc_id) AS first_doc, max(doc_id) AS last_doc
      FROM b GROUP BY 1 ORDER BY block_id"""))

  /** Stratified sampling ([[graft.llm.Sampling.stratifiedSample]]):
    * an independent seeded fraction per `lang` stratum (keep all
    * Chinese, 30% English, 5% German; other languages fall back to
    * the 50% default) — the per-stratum threshold is one CASE over
    * the strata column on BOTH engines, same md5 arithmetic as q62.
    */
  private val q71 = Q("q71_stratified_sample",
    (s, dir) => graft.llm.Sampling
      .stratifiedSample(t(s, dir, "documents"), "lang",
        Map("en" -> 0.3, "zh" -> 1.0, "de" -> 0.05),
        seed = "7", defaultFraction = 0.5)
      .select(col("doc_id"), col("lang"))
      .harnessSorted(col("doc_id")),
    Some(s"""
      SELECT doc_id, lang
      FROM documents
      WHERE ${h60("concat('7', '|', CAST(doc_id AS VARCHAR))")} % 1000000 <
            CASE lang WHEN 'en' THEN 300000 WHEN 'zh' THEN 1000000
                      WHEN 'de' THEN 50000 ELSE 500000 END
      ORDER BY doc_id"""))

  /** The curation FLAGSHIP ([[graft.llm.Curation.curate]]): seeded
    * sample → decontaminate (vs the every-20th-doc eval slice) →
    * 3-stage dedup → quality filter → sequence packing, end to end —
    * the single query a training-data user actually runs, and the
    * strongest regression net over the llm/ layer (a value drift in
    * ANY pillar shifts the packed blocks and fails the hash). The
    * mirror chains the SAME CTE stacks as the stage queries
    * q62/q60/q54/q59/q70: `c`-prefixed gram CTEs for decontamination,
    * the unprefixed gram + MinHash stack (via [[gramCtes]] /
    * [[minhashPairCtes]]) for the dedup stage, then quality and the
    * plain-global-cumsum packing.
    */
  private val q72 = Q("q72_curation_flagship",
    (s, dir) => {
      val d = t(s, dir, "documents")
      graft.llm.Curation.curate(
        d.filter(col("doc_id") % 20 =!= 0),
        d.filter(col("doc_id") % 20 === 0),
        sampleFraction = 0.9, sampleSeed = "curate",
        blockSize = 512, groupWidth = 64)
        .harnessSorted(col("block_id"))
    },
    Some(s"""
      WITH samp AS (
        SELECT doc_id, text FROM documents
        WHERE doc_id % 20 <> 0
          AND ${h60("concat('curate', '|', CAST(doc_id AS VARCHAR))")}
              % 1000000 < 900000),
      ctoks AS (
        SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
        FROM samp),
      ctokh AS (
        SELECT doc_id, gs AS pos, ${h60("w[gs]")} & 2147483647 AS h
        FROM ctoks,
             LATERAL (SELECT unnest(generate_series(1, len(w))) AS gs) g),
      cgrams AS (
        SELECT doc_id, ${gramSqlExpr(3, graft.llm.TextFns.shingleCoef)} AS gh
        FROM ctokh WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
      csh AS (SELECT DISTINCT doc_id, gh FROM cgrams WHERE gh IS NOT NULL),
      evtoks AS (
        SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
        FROM documents WHERE doc_id % 20 = 0),
      evtokh AS (
        SELECT doc_id, gs AS pos, ${h60("w[gs]")} & 2147483647 AS h
        FROM evtoks,
             LATERAL (SELECT unnest(generate_series(1, len(w))) AS gs) g),
      evgrams AS (
        SELECT doc_id, ${gramSqlExpr(3, graft.llm.TextFns.shingleCoef)} AS gh
        FROM evtokh WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
      evg AS (SELECT DISTINCT gh FROM evgrams WHERE gh IS NOT NULL),
      csizes AS (SELECT doc_id, count(*) AS n_grams FROM csh GROUP BY doc_id),
      chits AS (SELECT s.doc_id, count(*) AS n_hit
                FROM csh s JOIN evg e ON s.gh = e.gh GROUP BY s.doc_id),
      dk AS (
        SELECT samp.doc_id FROM samp
        LEFT JOIN csizes USING (doc_id)
        LEFT JOIN chits USING (doc_id)
        WHERE CASE WHEN csizes.n_grams IS NULL THEN 0.0
                   ELSE CAST(coalesce(chits.n_hit, 0) AS DOUBLE)
                        / csizes.n_grams END <= 0.2),
      s1 AS (
        SELECT min(d.doc_id) AS doc_id
        FROM samp d JOIN dk USING (doc_id) GROUP BY md5(d.text)),
      toks0 AS (
        SELECT d.doc_id,
               list_filter(string_split(lower(d.text), ' '), x -> x <> '') AS w
        FROM samp d JOIN s1 USING (doc_id)),
      s2 AS (
        SELECT min(doc_id) AS doc_id FROM (
          SELECT doc_id, md5(array_to_string(list_slice(w, 1, 5), ' ')) AS pk
          FROM toks0) z
        GROUP BY pk),
      toks AS (SELECT t.doc_id, t.w FROM toks0 t JOIN s2 USING (doc_id)),
      ${gramCtes(3)}, ${minhashPairCtes(0.5, None)},
      dd AS (SELECT doc_id FROM s2
             WHERE doc_id NOT IN (SELECT db FROM pairs)),
      q AS (
        SELECT doc_id, w FROM (
          SELECT t.doc_id, t.w FROM toks0 t JOIN dd USING (doc_id)) z
        WHERE len(w) >= 5
          AND CAST(len(list_distinct(w)) AS DOUBLE) / len(w) >= 0.3
          AND CAST(len(list_filter(w,
                x -> list_contains(['the','a','of','and','to'], x)))
              AS DOUBLE) / len(w) <= 0.5
          AND CAST(list_sum(list_transform(w, x -> length(x)))
              AS DOUBLE) / len(w) >= 2.0
          AND CAST(list_sum(list_transform(w, x -> length(x)))
              AS DOUBLE) / len(w) <= 12.0),
      n AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS nt FROM q),
      c AS (SELECT doc_id, nt,
                   CAST(sum(nt) OVER (ORDER BY doc_id) - nt AS BIGINT) AS s
            FROM n),
      b AS (SELECT doc_id, nt, s, gs AS block_id
            FROM c,
                 LATERAL (SELECT unnest(generate_series(
                   s // 512, (s + nt - 1) // 512)) AS gs) g
            WHERE nt > 0)
      SELECT block_id, count(*) AS n_docs,
             CAST(sum(LEAST(s + nt, (block_id + 1) * 512)
                      - GREATEST(s, block_id * 512)) AS BIGINT)
               AS n_block_tokens,
             min(doc_id) AS first_doc, max(doc_id) AS last_doc
      FROM b GROUP BY 1 ORDER BY block_id"""))

  /** ST2's batch twin: [[graft.streaming.StreamOps.sessionize]]
    * VERBATIM on the batch events table (`flatMapGroupsWithState` runs
    * in batch mode as one state invocation per group). Batch emits
    * only CLOSED sessions — each user's open tail session stays in
    * state — so the mirror sessionizes per user (same `gap > 1800`
    * boundary as q23) and drops each user's LAST session. Session
    * boundaries depend only on second-level deltas, so intra-second
    * event order cannot shift the gated values.
    */
  private val q73 = Q("q73_stream_sessionize_twin",
    (s, dir) => {
      import s.implicits._
      val ev = QueryPack.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_type"))
        .as[graft.streaming.StreamOps.UserEvent]
      graft.streaming.StreamOps.sessionize(ev, gapSeconds = 1800)
        .toDF()
        .select(col("user_id"),
          unix_timestamp(col("session_start")).as("session_start"),
          unix_timestamp(col("session_end")).as("session_end"),
          col("n_events"))
        .harnessSorted(col("user_id"), col("session_start"))
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_id,
               CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS t
        FROM events),
      m AS (
        SELECT user_id, t, event_id,
               CASE WHEN t - lag(t) OVER win IS NULL
                      OR t - lag(t) OVER win > 1800
                    THEN 1 ELSE 0 END AS is_new
        FROM e WINDOW win AS (PARTITION BY user_id ORDER BY t, event_id)),
      g AS (
        SELECT user_id, t,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY t, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
        FROM m),
      s AS (
        SELECT user_id, sid, min(t) AS session_start, max(t) AS session_end,
               count(*) AS n_events
        FROM g GROUP BY user_id, sid)
      SELECT user_id, session_start, session_end,
             CAST(n_events AS BIGINT) AS n_events
      FROM s
      WHERE sid < (SELECT max(sid) FROM s s2 WHERE s2.user_id = s.user_id)
      ORDER BY user_id, session_start"""))

  /** ST6's batch twin:
    * [[graft.streaming.StreamOps.streamStreamAttribution]] VERBATIM on
    * batch purchase/signup slices of the events table (the
    * EventTimeWatermark nodes are eliminated on batch inputs; the join
    * itself — equi-key on user_id plus the time-range residual — plans
    * identically). Timestamps are micros on the Spark side (`ts div
    * 1000` in [[QueryPack.events]]), so the mirror compares
    * `epoch_us`-floored integers — exact on both engines.
    */
  private val q74 = Q("q74_stream_attribution_twin",
    (s, dir) => {
      val ev = QueryPack.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"),
          col("event_id").as("p_id"))
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts").as("s_ts"),
          col("event_id").as("s_id"))
      graft.streaming.StreamOps
        .streamStreamAttribution(purchases, signups, windowSeconds = 3600)
        .select(col("user_id"), col("p_id"), col("s_id"),
          unix_timestamp(col("p_ts")).as("p_sec"),
          unix_timestamp(col("s_ts")).as("s_sec"))
        .harnessSorted(col("user_id"), col("p_id"), col("s_id"))
    },
    Some("""
      WITH p AS (
        SELECT user_id, event_id AS p_id, epoch_us(ts) AS p_us
        FROM events WHERE event_type = 'purchase'),
      g AS (
        SELECT user_id, event_id AS s_id, epoch_us(ts) AS s_us
        FROM events WHERE event_type = 'signup')
      SELECT p.user_id, p_id, s_id,
             CAST(p_us // 1000000 AS BIGINT) AS p_sec,
             CAST(s_us // 1000000 AS BIGINT) AS s_sec
      FROM p JOIN g ON p.user_id = g.user_id
         AND p_us >= s_us AND p_us <= s_us + 3600000000
      ORDER BY p.user_id, p_id, s_id"""))

  /** Temperature-weighted source mixing
    * ([[graft.llm.Sampling.temperatureMix]]): flatten the source
    * mixture toward uniform with alpha = 0.5 — per-source keep
    * fraction `sqrt(n_min / n_s)`, membership by the q62 seeded md5
    * bucket. alpha is pinned at 0.5 so the fraction is a chain of
    * correctly-rounded IEEE ops (divide, sqrt, multiply, floor) —
    * bit-identical thresholds on both engines, exact row parity.
    * The synthetic table has UNIFORM source sizes (and `source` is a
    * pure function of doc_id, so modulo predicates degenerate) —
    * mixing the raw table would be a no-op. The input is therefore
    * skewed with an INDEPENDENT seeded bucket first: source `srcK`
    * keeps a `(K+1) * 5%` slice, ramping sizes ~1..25 at sf0.01 — the
    * mix then genuinely downsamples the large sources.
    */
  private val q75 = Q("q75_temperature_mix",
    (s, dir) => graft.llm.Sampling
      .temperatureMix(
        t(s, dir, "documents").filter(
          graft.llm.Sampling.bucketOf("skew", col("doc_id")) <
            // 2-arg substring (suffix to end), matching the mirror's
            // substr(source, 4) for ANY suffix width
            (expr("substring(source, 4)").cast("long") + 1) * 50000),
        "source", alpha = 0.5, seed = "mix")
      .select(col("doc_id"), col("source"))
      .harnessSorted(col("doc_id")),
    Some(s"""
      WITH skew AS (
        SELECT doc_id, source FROM documents
        WHERE ${h60("concat('skew', '|', CAST(doc_id AS VARCHAR))")}
              % 1000000 <
              (CAST(substr(source, 4) AS BIGINT) + 1) * 50000),
      n AS (
        SELECT source, count(*) AS n FROM skew GROUP BY source),
      m AS (SELECT min(n) AS n_min FROM n),
      f AS (
        SELECT source,
               CAST(floor(sqrt(CAST(n_min AS DOUBLE) / CAST(n AS DOUBLE))
                          * 1000000.0) AS BIGINT) AS thresh
        FROM n, m)
      SELECT d.doc_id, d.source
      FROM skew d JOIN f USING (source)
      WHERE ${h60("concat('mix', '|', CAST(doc_id AS VARCHAR))")}
            % 1000000 < f.thresh
      ORDER BY d.doc_id"""))

  /** Corpus-induced stopwords
    * ([[graft.llm.TextAnalysis.corpusStopwordStats]]): tokens whose
    * document frequency reaches 40% of the corpus are data-driven
    * stopwords; per doc, the token count, stopword occurrences, and
    * stopword mass ratio. The DF threshold compare (`df >= n_docs *
    * 0.4`) is one double multiply on both engines; the ratio is one
    * exact int→double divide.
    */
  private val q76 = Q("q76_corpus_stopwords",
    (s, dir) => TextAnalysis
      .corpusStopwordStats(t(s, dir, "documents"), dfThreshold = 0.4)
      .harnessSorted(col("doc_id")),
    Some(s"""
      WITH $ToksCte,
      tk AS (SELECT doc_id, unnest(w) AS tok FROM toks),
      nd AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
      stop AS (
        SELECT tok FROM tk, nd
        GROUP BY tok, n_docs
        HAVING CAST(count(DISTINCT doc_id) AS DOUBLE) >= n_docs * 0.4)
      SELECT tk.doc_id,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(CASE WHEN s.tok IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_stop,
             CAST(sum(CASE WHEN s.tok IS NOT NULL THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*) AS stop_ratio
      FROM tk LEFT JOIN stop s ON tk.tok = s.tok
      GROUP BY tk.doc_id ORDER BY tk.doc_id"""))

  /** Incremental dedup ([[TextDedup.minhashIndex]] +
    * [[TextDedup.probeMinhashIndex]]): every 10th doc plays the "new
    * crawl batch" and probes the index built over the other 90% —
    * the corpus is never re-signatured for the increment. The mirror
    * reuses the SAME minhash CTE stack as q30 with the candidate
    * self-join condition swapped for the corpus×batch split, so index
    * and probe signatures are provably the same hash family.
    */
  private val q77 = Q("q77_dedup_index_probe",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val (buckets, sets) =
        TextDedup.minhashIndex(d.filter(col("doc_id") % 10 =!= 0))
      TextDedup.probeMinhashIndex(
        d.filter(col("doc_id") % 10 === 0), buckets, sets)
        .harnessSorted(col("new_id"), col("corpus_id"))
    },
    Some(s"""
      WITH $ToksCte, ${gramCtes(3)},
      ${minhashPairCtes(0.5, None,
        candCond = "a.doc_id % 10 <> 0 AND b.doc_id % 10 = 0")}
      SELECT db AS new_id, da AS corpus_id, jaccard FROM pairs
      ORDER BY new_id, corpus_id"""))

  /** Token-budget selection ([[graft.llm.Sampling.budgetSelect]]):
    * fill a 10k-token budget with the highest-`n_chars` documents
    * first (greedy in (n_chars DESC, doc_id) order). The engine runs
    * the two-phase prefix sum (per-quality offsets broadcast back +
    * partitioned within-quality window); the mirror is the PLAIN
    * global cumulative sum — the decomposition must be
    * value-identical, exactly like q70's packing gate.
    */
  private val q78 = Q("q78_budget_select",
    (s, dir) => graft.llm.Sampling
      .budgetSelect(
        t(s, dir, "documents").withColumn("n_tokens",
          // explicit NULL for NULL text regardless of ANSI config
          // (legacy size() returns -1), matching DuckDB len(NULL)
          when(col("text").isNotNull,
            size(graft.llm.TextFns.tokens(col("text"))).cast("long"))),
        tokenCol = "n_tokens", qualityCol = "n_chars", budget = 10000)
      .select(col("doc_id"), col("n_chars"), col("n_tokens"))
      .harnessSorted(col("doc_id")),
    Some("""
      WITH t AS (
        SELECT doc_id, n_chars,
               CAST(len(list_filter(string_split(lower(text), ' '),
                                    x -> x <> '')) AS BIGINT) AS n_tokens
        FROM documents)
      SELECT doc_id, n_chars, n_tokens FROM (
        SELECT doc_id, n_chars, n_tokens,
               sum(n_tokens) OVER (ORDER BY n_chars DESC, doc_id) AS cum
        FROM t) z
      WHERE cum <= 10000
      ORDER BY doc_id"""))

  /** Corpus-LM familiarity ([[TextAnalysis.familiarityScores]]): mean
    * corpus frequency of each doc's word bigrams — the integer-exact
    * perplexity-proxy quality signal (no `log`, whose libm rounding
    * differs across engines). The mirror rides the SAME gram-hash CTE
    * stack as the dedup queries at k = 2, with multiplicity (the
    * `grams` CTE, not the distinct `sh`).
    */
  private val q79 = Q("q79_familiarity",
    (s, dir) => TextAnalysis.familiarityScores(t(s, dir, "documents"))
      .harnessSorted(col("doc_id")),
    Some(s"""
      WITH $ToksCte, ${gramCtes(2)},
      bg AS (SELECT doc_id, gh FROM grams WHERE gh IS NOT NULL),
      c AS (SELECT gh, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY gh)
      SELECT bg.doc_id,
             CAST(count(*) AS BIGINT) AS n_bigrams,
             CAST(sum(c.c) AS DOUBLE) / count(*) AS familiarity
      FROM bg JOIN c ON bg.gh = c.gh
      GROUP BY bg.doc_id ORDER BY bg.doc_id"""))

  /** Semantic dedup end-to-end ([[Similarity.semanticDedup]]): q41's
    * sign-LSH near-dup pairs closed into components (q61's recursive
    * min-label mirror) and every vector labeled keep/drop — keeper =
    * min vec_id per component, singletons keep. The one query a
    * curation pipeline runs against the embedding table.
    */
  private val q80 = Q("q80_semantic_dedup",
    (s, dir) => Similarity.semanticDedup(t(s, dir, "embeddings"),
      bits = 2, threshold = 0.4)
      .harnessSorted(col("vec_id")),
    Some(s"""
      WITH RECURSIVE ${normCte(s", ${signBucketSql(2)} AS bucket")},
      p AS (
        SELECT va, vb FROM (
          SELECT a.vec_id AS va, b.vec_id AS vb,
                 ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm)
                   AS sim
          FROM e a JOIN e b
            ON a.bucket = b.bucket AND a.vec_id < b.vec_id) z
        WHERE sim >= 0.4),
      edges AS (
        SELECT va AS a, vb AS b FROM p
        UNION
        SELECT vb AS a, va AS b FROM p),
      reach(id, lbl) AS (
        SELECT DISTINCT a, a FROM edges
        UNION
        SELECT e2.b, r.lbl FROM reach r JOIN edges e2 ON e2.a = r.id),
      comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id)
      SELECT emb.vec_id, comp.component,
             (comp.component IS NULL OR comp.component = emb.vec_id) AS keep
      FROM embeddings emb LEFT JOIN comp ON comp.id = emb.vec_id
      ORDER BY emb.vec_id"""))

  /** Per-group top-fraction selection
    * ([[graft.llm.Sampling.topFractionPerGroup]]): the best 30% by
    * `n_chars` within each language — exact rank-based quantile
    * filtering (rank ≤ ceil(0.3 × group size) under a total order),
    * no percentile-function interpolation to mismatch across engines.
    */
  private val q81 = Q("q81_top_fraction",
    (s, dir) => graft.llm.Sampling
      .topFractionPerGroup(t(s, dir, "documents"), "lang", "n_chars", 0.3)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .harnessSorted(col("doc_id")),
    Some("""
      SELECT doc_id, lang, n_chars FROM documents
      QUALIFY row_number() OVER (PARTITION BY lang
                                 ORDER BY n_chars DESC, doc_id)
              <= ceil((count(*) OVER (PARTITION BY lang)) * 0.3)
      ORDER BY doc_id"""))

  /** Cross-source duplicate attribution
    * ([[TextDedup.dupSourceAttribution]]): q30's near-dup pairs
    * attributed to unordered source pairs and counted — the "which
    * feeds mirror each other" curation diagnostic.
    */
  private val q82 = Q("q82_dup_source_attribution",
    (s, dir) => TextDedup.dupSourceAttribution(t(s, dir, "documents"),
      shingleK = 3, nHashes = 12, bands = 4, threshold = 0.5)
      .harnessSorted(col("source_a"), col("source_b")),
    Some(s"""
      WITH $ToksCte, ${gramCtes(3)}, ${minhashPairCtes(0.5, None)}
      SELECT least(a.source, b.source) AS source_a,
             greatest(a.source, b.source) AS source_b,
             CAST(count(*) AS BIGINT) AS n_dup_pairs
      FROM pairs p
      JOIN documents a ON a.doc_id = p.da
      JOIN documents b ON b.doc_id = p.db
      GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Dataset card ([[TextAnalysis.datasetCard]]): the one-row release
    * summary — each distinct-count is its own tiny agg (no Expand),
    * avg is explicit sum/count.
    */
  private val q83 = Q("q83_dataset_card",
    (s, dir) => TextAnalysis.datasetCard(t(s, dir, "documents")),
    Some("""
      SELECT
        (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
        (SELECT CAST(sum(len(list_filter(string_split(lower(text), ' '),
                                         x -> x <> ''))) AS BIGINT)
         FROM documents) AS n_tokens,
        (SELECT CAST(sum(n_chars) AS DOUBLE) / count(*) FROM documents)
          AS avg_chars,
        (SELECT CAST(count(DISTINCT lang) AS BIGINT) FROM documents)
          AS n_langs,
        (SELECT CAST(count(DISTINCT source) AS BIGINT) FROM documents)
          AS n_sources,
        (SELECT CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT)
         FROM documents) AS n_exact_dup_docs"""))

  /** Segment-level exact dedup ([[TextDedup.segmentDedup]]): the C4
    * "line dedup" pass over fixed 8-token segments — globally-first
    * occurrence keeps, docs reassembled from surviving segments.
    */
  private val q84 = Q("q84_segment_dedup",
    (s, dir) => TextDedup.segmentDedup(t(s, dir, "documents"), width = 8)
      .harnessSorted(col("doc_id")),
    Some(s"""
      WITH $ToksCte,
      seg AS (
        SELECT doc_id, gs - 1 AS seg_idx,
               array_to_string(list_slice(w, (gs - 1) * 8 + 1, gs * 8), ' ')
                 AS segment
        FROM toks, LATERAL (SELECT unnest(generate_series(1,
               greatest(CAST(ceil(len(w) / 8.0) AS BIGINT), 1))) AS gs) g),
      rn AS (
        SELECT doc_id, seg_idx, segment,
               row_number() OVER (PARTITION BY md5(segment)
                                  ORDER BY doc_id, seg_idx) AS rn
        FROM seg)
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_segments,
             CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
             coalesce(string_agg(segment, ' ' ORDER BY seg_idx)
                        FILTER (WHERE rn = 1), '') AS clean_text
      FROM rn GROUP BY doc_id ORDER BY doc_id"""))

  private val Bm25Terms = Seq("filter", "merge", "spark", "vector", "window")

  /** DuckDB mirror of one BM25 term score — the exact expression tree
    * of [[TextAnalysis.bm25Rank]]'s `termScore` (rational idf, fixed
    * op order).
    */
  private def bm25TermSql(t: String): String =
    s"""(CAST(g.n_docs - g.df_$t AS DOUBLE) + 0.5)
             / (CAST(g.df_$t AS DOUBLE) + 0.5)
             * ((d.tf_$t * 2.2) / (d.tf_$t + 1.2 * (0.25
                + 0.75 * (CAST(d.dl AS DOUBLE)
                          / (CAST(g.sum_dl AS DOUBLE) / g.n_docs)))))"""

  /** BM25 keyword retrieval ([[TextAnalysis.bm25Rank]]): per-row tf
    * (no explode), one broadcast stats row, rational-idf score summed
    * in fixed term order, top-20.
    */
  private val q85 = Q("q85_bm25_rank",
    (s, dir) => TextAnalysis.bm25Rank(t(s, dir, "documents"), Bm25Terms),
    Some(s"""
      WITH $ToksCte,
      d AS (
        SELECT doc_id, CAST(len(w) AS BIGINT) AS dl,
               ${Bm25Terms.sorted.map(t =>
                 s"CAST(len(list_filter(w, x -> x = '$t')) AS DOUBLE) AS tf_$t")
                 .mkString(",\n               ")}
        FROM toks),
      g AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(dl) AS BIGINT) AS sum_dl,
               ${Bm25Terms.sorted.map(t =>
                 s"CAST(count(*) FILTER (WHERE tf_$t > 0) AS BIGINT) AS df_$t")
                 .mkString(",\n               ")}
        FROM d)
      SELECT doc_id, dl, score FROM (
        SELECT d.doc_id, d.dl,
               ${Bm25Terms.sorted.map(bm25TermSql).mkString("\n             + ")}
                 AS score
        FROM d, g) z
      WHERE score > 0
      ORDER BY score DESC, doc_id LIMIT 20"""))

  /** CCNet-style familiarity bucketing
    * ([[TextAnalysis.familiarityBuckets]]): equal-depth ntile over
    * q79's familiarity signal, order-free per-bucket aggregates.
    */
  private val q86 = Q("q86_familiarity_buckets",
    (s, dir) => TextAnalysis.familiarityBuckets(t(s, dir, "documents"), n = 3)
      .harnessSorted(col("bucket")),
    Some(s"""
      WITH $ToksCte, ${gramCtes(2)},
      bg AS (SELECT doc_id, gh FROM grams WHERE gh IS NOT NULL),
      c AS (SELECT gh, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY gh),
      f AS (
        SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
               CAST(sum(c.c) AS DOUBLE) / count(*) AS familiarity
        FROM bg JOIN c ON bg.gh = c.gh GROUP BY bg.doc_id),
      nt AS (
        SELECT n_bigrams, familiarity,
               ntile(3) OVER (ORDER BY familiarity, doc_id) AS bucket
        FROM f)
      SELECT CAST(bucket AS INTEGER) AS bucket,
             CAST(count(*) AS BIGINT) AS n_docs,
             min(familiarity) AS min_familiarity,
             max(familiarity) AS max_familiarity,
             CAST(sum(n_bigrams) AS BIGINT) AS sum_bigrams
      FROM nt GROUP BY bucket ORDER BY bucket"""))

  /** Int8 scalar quantization ([[Similarity.quantizeInt8]]): per-row
    * affine codes + exact L2² reconstruction error, no shuffle.
    */
  private val q87 = Q("q87_embed_quantize",
    (s, dir) => Similarity.quantizeInt8(t(s, dir, "embeddings"))
      .harnessSorted(col("vec_id")),
    Some("""
      WITH q AS (
        SELECT vec_id, embedding,
               CAST(list_min(embedding) AS DOUBLE) AS mn,
               CAST(list_max(embedding) AS DOUBLE) AS mx
        FROM embeddings),
      c AS (
        SELECT vec_id, embedding, mn, mx,
               list_transform(embedding, v -> CASE WHEN mx - mn = 0 THEN 0
                 ELSE CAST(floor((CAST(v AS DOUBLE) - mn) * 255.0
                                 / (mx - mn) + 0.5) AS BIGINT) END) AS codes
        FROM q)
      SELECT vec_id, mn, mx,
             CAST(list_sum(codes) AS BIGINT) AS code_sum,
             coalesce(list_sum(list_transform(generate_series(1, len(embedding)),
               i -> (CAST(embedding[i] AS DOUBLE)
                     - (mn + CAST(codes[i] AS DOUBLE) * (mx - mn) / 255.0))
                  * (CAST(embedding[i] AS DOUBLE)
                     - (mn + CAST(codes[i] AS DOUBLE) * (mx - mn) / 255.0)))),
               0.0) AS recon_err
      FROM c ORDER BY vec_id"""))

  /** Containment near-dup pairs ([[TextDedup.containmentPairs]]):
    * |A∩B| / min(|A|,|B|) — catches a doc embedded in a larger one,
    * which Jaccard dilutes. Same inverted-index shape as q31.
    */
  private val q88 = Q("q88_containment_pairs",
    (s, dir) => TextDedup.containmentPairs(t(s, dir, "documents"),
      maxDocId = Some(250), shingleK = 3, threshold = 0.6)
      .harnessSorted(col("da"), col("db")),
    Some(s"""
      WITH toks AS (
        SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
        FROM documents WHERE doc_id < 250), ${gramCtes(3)},
      sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      inter AS (
        SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
        FROM sh a JOIN sh b ON a.gh = b.gh AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT da, db, containment FROM (
        SELECT da, db, CAST(i AS DOUBLE) / least(sa.n, sb.n) AS containment
        FROM inter JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db) z
      WHERE containment >= 0.6 ORDER BY da, db"""))

  /** BPE pair-count training kernel ([[graft.llm.Bpe.pairCounts]]):
    * the weighted adjacent-pair statistic one merge-learning iteration
    * argmaxes, over the vocabulary-sized distinct-word frame.
    */
  private val q89 = Q("q89_bpe_pair_counts",
    (s, dir) => graft.llm.Bpe.pairCounts(t(s, dir, "documents"), topK = 20),
    Some(s"""
      WITH w AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT unnest(regexp_extract_all(lower(text),
                '${graft.llm.TextFns.BpeTokenPattern}')) AS tok
              FROM documents) x
        GROUP BY tok),
      p AS (
        SELECT substr(tok, gs, 2) AS pair, c
        FROM w, LATERAL (SELECT unnest(generate_series(1, length(tok) - 1)) AS gs) g
        WHERE length(tok) >= 2)
      SELECT pair, CAST(sum(c) AS BIGINT) AS cnt
      FROM p GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20"""))

  /** Explainable rejection ([[TextAnalysis.filterReasons]]): per-doc
    * list of failed quality rules — q59's boolean with the audit
    * trail attached.
    */
  private val q90 = Q("q90_filter_reasons",
    (s, dir) => TextAnalysis.filterReasons(t(s, dir, "documents"))
      .harnessSorted(col("doc_id")),
    Some(s"""
      WITH $ToksCte,
      s AS (
        SELECT doc_id,
               CAST(len(w) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS ttr,
               CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
                 / len(w) AS mean_tok_len,
               CAST(len(list_filter(w,
                      x -> list_contains(['the','a','of','and','to'], x)))
                    AS DOUBLE) / len(w) AS stopword_ratio
        FROM toks WHERE len(w) > 0),
      r AS (
        SELECT doc_id, list_filter([
                 CASE WHEN n_tokens < 5 THEN 'too_short' END,
                 CASE WHEN ttr < 0.3 THEN 'low_ttr' END,
                 CASE WHEN stopword_ratio > 0.5 THEN 'high_stopword' END,
                 CASE WHEN mean_tok_len < 2.0 OR mean_tok_len > 12.0
                      THEN 'tok_len_out_of_range' END
               ], x -> x IS NOT NULL) AS rl
        FROM s)
      SELECT doc_id, coalesce(array_to_string(rl, ','), '') AS reasons,
             CAST(len(rl) AS BIGINT) AS n_reasons,
             len(rl) = 0 AS keep
      FROM r ORDER BY doc_id"""))

  /** IVF train/probe split ([[Similarity.ivfTrain]]/[[Similarity.ivfProbe]]):
    * the index is built once and served an EXPLICIT query set — the
    * session-decoupled path [[Similarity.writeIvfIndex]] persists
    * (write/read roundtrip equality is spec-asserted; this query gates
    * the split's values). Query set disjoint from q43's.
    */
  private val q91 = Q("q91_ivf_index_probe",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (cent, cells) = Similarity.ivfTrain(emb, dims = 64)
      Similarity.ivfProbe(cent, cells,
        Similarity.localizeQueries(
          emb.filter(col("vec_id") >= 5 && col("vec_id") < 10)
            .select(col("vec_id").as("query_id"), col("embedding").as("qv"))),
        nProbe = 2, k = 3)
        .harnessSorted(col("query_id"), col("rnk"))
    },
    Some(s"""
      WITH cent AS (
        SELECT label, $centroidList AS cv FROM embeddings GROUP BY label),
      assign AS (
        SELECT vec_id, cell, embedding, nrm FROM (
          SELECT e.vec_id, c.label AS cell, e.embedding,
                 sqrt(${dotSql("e.embedding", "e.embedding")}) AS nrm,
                 row_number() OVER (PARTITION BY e.vec_id
                                    ORDER BY ${dist2Sql("e.embedding", "c.cv")},
                                             c.label) AS rn
          FROM embeddings e, cent c) x WHERE rn = 1),
      probes AS (
        SELECT query_id, qv, qn, cell FROM (
          SELECT q.vec_id AS query_id, q.embedding AS qv,
                 sqrt(${dotSql("q.embedding", "q.embedding")}) AS qn,
                 c.label AS cell,
                 row_number() OVER (PARTITION BY q.vec_id
                                    ORDER BY ${dist2Sql("q.embedding", "c.cv")},
                                             c.label) AS crn
          FROM embeddings q, cent c
          WHERE q.vec_id >= 5 AND q.vec_id < 10) y WHERE crn <= 2),
      scored AS (
        SELECT p.query_id, a.vec_id, a.cell,
               ${dotSql("p.qv", "a.embedding")} / (p.qn * a.nrm) AS sim
        FROM assign a JOIN probes p
          ON a.cell = p.cell AND a.vec_id <> p.query_id),
      r AS (SELECT query_id, vec_id, cell, sim,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY sim DESC, vec_id) AS rnk
            FROM scored)
      SELECT query_id, CAST(rnk AS BIGINT) AS rnk, vec_id, cell, sim
      FROM r WHERE rnk <= 3 ORDER BY query_id, rnk"""))

  /** Deterministic shard assignment ([[graft.llm.Sampling.shardStats]]):
    * seeded md5 shard per doc + per-shard balance stats — the
    * write-side layout op for a training export.
    */
  private val q92 = Q("q92_shard_stats",
    (s, dir) => graft.llm.Sampling.shardStats(t(s, dir, "documents"),
      nShards = 8, seed = "shard0")
      .harnessSorted(col("shard")),
    Some(s"""
      WITH $ToksCte,
      b AS (
        SELECT doc_id, w,
               CAST((${h60("concat('shard0', '|', CAST(doc_id AS VARCHAR))")}
                     % 1000000) % 8 AS INTEGER) AS shard
        FROM toks)
      SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(w)) AS BIGINT) AS n_tokens,
             min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
      FROM b GROUP BY shard ORDER BY shard"""))

  /** kNN label vote ([[Similarity.knnLabelVote]]): retrieval-based
    * classification — majority label of the 10 nearest neighbors vs
    * the query's own label (tie → smaller label).
    */
  private val q93 = Q("q93_knn_label_vote",
    (s, dir) => Similarity.knnLabelVote(t(s, dir, "embeddings"),
      nQueries = 5, k = 10)
      .harnessSorted(col("query_id")),
    Some(s"""
      WITH ${normCte()},
      q AS (SELECT vec_id AS query_id, embedding AS qv, nrm AS qn
            FROM e WHERE vec_id < 5),
      scored AS (
        SELECT q.query_id, e.vec_id,
               ${dotSql("q.qv", "e.embedding")} / (q.qn * e.nrm) AS sim
        FROM e JOIN q ON e.vec_id <> q.query_id),
      r AS (SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY sim DESC, vec_id) AS rnk
            FROM scored),
      v AS (SELECT r.query_id, em.label AS neighbor_label,
                   CAST(count(*) AS BIGINT) AS n_votes
            FROM r JOIN embeddings em ON em.vec_id = r.vec_id
            WHERE r.rnk <= 10 GROUP BY 1, 2),
      p AS (SELECT query_id, neighbor_label, n_votes,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY n_votes DESC, neighbor_label)
                     AS rn
            FROM v)
      SELECT p.query_id, p.neighbor_label AS predicted_label, p.n_votes,
             tq.label AS true_label,
             p.neighbor_label = tq.label AS correct
      FROM p JOIN embeddings tq ON tq.vec_id = p.query_id
      WHERE p.rn = 1 ORDER BY p.query_id"""))

  /** Per-doc top-k TF-IDF terms ([[TextAnalysis.tfidfTopTerms]]):
    * rational idf (N+1)/(df+1), per-doc window top-5.
    */
  private val q94 = Q("q94_tfidf_top_terms",
    (s, dir) => TextAnalysis.tfidfTopTerms(t(s, dir, "documents"), k = 5)
      .harnessSorted(col("doc_id"), col("rnk")),
    Some(s"""
      WITH $ToksCte,
      tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
             FROM (SELECT doc_id, unnest(w) AS term FROM toks) x
             GROUP BY 1, 2),
      dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
                FROM tf GROUP BY term),
      n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
      s AS (SELECT tf.doc_id, tf.term, tf.tf,
                   CAST(tf.tf AS DOUBLE) * ((CAST(n.n_docs AS DOUBLE) + 1.0)
                     / (CAST(dfreq.df AS DOUBLE) + 1.0)) AS score
            FROM tf JOIN dfreq USING (term), n),
      r AS (SELECT doc_id, term, tf, score,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY score DESC, term) AS rnk
            FROM s)
      SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, term, tf, score
      FROM r WHERE rnk <= 5 ORDER BY doc_id, rnk"""))

  /** Ordered funnel ([[graft.operators.EventAnalytics.funnelCounts]]):
    * view → click → purchase completion counts, strict first-occurrence
    * ordering at second granularity.
    */
  private val q95 = Q("q95_funnel",
    (s, dir) => graft.operators.EventAnalytics.funnelCounts(
      QueryPack.events(s, dir), Seq("view", "click", "purchase")),
    Some("""
      WITH e AS (SELECT user_id, event_type,
                        CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS tsec
                 FROM events),
      s1 AS (SELECT user_id, min(tsec) AS t FROM e
             WHERE event_type = 'view' GROUP BY 1),
      s2 AS (SELECT e.user_id, min(e.tsec) AS t FROM e JOIN s1 USING (user_id)
             WHERE e.event_type = 'click' AND e.tsec > s1.t GROUP BY 1),
      s3 AS (SELECT e.user_id, min(e.tsec) AS t FROM e JOIN s2 USING (user_id)
             WHERE e.event_type = 'purchase' AND e.tsec > s2.t GROUP BY 1)
      SELECT CAST(1 AS INTEGER) AS step, 'view' AS event_type,
             (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n_users
      UNION ALL SELECT 2, 'click', (SELECT CAST(count(*) AS BIGINT) FROM s2)
      UNION ALL SELECT 3, 'purchase', (SELECT CAST(count(*) AS BIGINT) FROM s3)
      ORDER BY step"""))

  /** Weekly retention triangle
    * ([[graft.operators.EventAnalytics.retentionCohorts]]).
    */
  private val q96 = Q("q96_retention_cohorts",
    (s, dir) => graft.operators.EventAnalytics.retentionCohorts(
      QueryPack.events(s, dir)),
    Some("""
      WITH d AS (SELECT DISTINCT user_id,
                        CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_sec
                 FROM events),
      c AS (SELECT user_id, min(day_sec) AS cohort_sec FROM d GROUP BY 1)
      SELECT c.cohort_sec,
             CAST(floor((d.day_sec - c.cohort_sec) / 604800.0) AS BIGINT)
               AS week_offset,
             CAST(count(DISTINCT d.user_id) AS BIGINT) AS n_users
      FROM d JOIN c USING (user_id)
      GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** DuckDB mirror of [[TextAnalysis.lengthHistogram]]'s log2 bucket:
    * the same highest-set-bit CASE chain (log2() is not bit-portable;
    * integer comparisons are).
    */
  private def log2BucketSql(expr: String): String =
    (30 to 0 by -1).foldLeft("-1") { (acc, b) =>
      s"CASE WHEN $expr >= ${1L << b} THEN $b ELSE $acc END"
    }

  /** Token-length histogram ([[TextAnalysis.lengthHistogram]]):
    * log2-bucketed length distribution — the shape panel next to
    * q83's mean.
    */
  private val q97 = Q("q97_length_histogram",
    (s, dir) => TextAnalysis.lengthHistogram(t(s, dir, "documents"))
      .harnessSorted(col("bucket")),
    Some(s"""
      WITH $ToksCte,
      b AS (SELECT ${log2BucketSql("len(w)")} AS bucket,
                   CAST(len(w) AS BIGINT) AS n
            FROM toks)
      SELECT CAST(bucket AS INTEGER) AS bucket,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n) AS BIGINT) AS n_tokens,
             min(n) AS min_len, max(n) AS max_len
      FROM b GROUP BY bucket ORDER BY bucket"""))

  /** Order-independent corpus digest ([[graft.llm.Curation.corpusDigest]]):
    * per-source bit_xor of (doc_id, text) hashes — partitioning- and
    * engine-independent replication check.
    */
  private val q98 = Q("q98_corpus_digest",
    (s, dir) => graft.llm.Curation.corpusDigest(t(s, dir, "documents"))
      .harnessSorted(col("source")),
    Some(s"""
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(list_filter(string_split(lower(text), ' '),
                                      x -> x <> ''))) AS BIGINT) AS n_tokens,
             bit_xor(${h60("concat(CAST(doc_id AS VARCHAR), '|', text)")})
               AS digest
      FROM documents GROUP BY source ORDER BY source"""))

  /** Snapshot diff ([[graft.llm.Curation.corpusDiff]]): v1 = docs with
    * doc_id % 7 <> 0; v2 = docs with doc_id % 5 <> 0, texts of
    * doc_id % 11 = 0 rewritten — added/removed/changed/unchanged
    * counts.
    */
  private val q99 = Q("q99_corpus_diff",
    (s, dir) => {
      val d = t(s, dir, "documents")
      graft.llm.Curation.corpusDiff(
        d.filter(col("doc_id") % 7 =!= 0),
        d.filter(col("doc_id") % 5 =!= 0)
          .withColumn("text",
            when(col("doc_id") % 11 === 0, concat(col("text"), lit(" v2")))
              .otherwise(col("text"))))
        .harnessSorted(col("status"))
    },
    Some("""
      WITH o AS (SELECT doc_id, md5(text) AS old_hash
                 FROM documents WHERE doc_id % 7 <> 0),
      n AS (SELECT doc_id,
                   md5(CASE WHEN doc_id % 11 = 0 THEN text || ' v2'
                            ELSE text END) AS new_hash
            FROM documents WHERE doc_id % 5 <> 0),
      j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
                   old_hash, new_hash
            FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
      SELECT CASE WHEN old_hash IS NULL THEN 'added'
                  WHEN new_hash IS NULL THEN 'removed'
                  WHEN old_hash <> new_hash THEN 'changed'
                  ELSE 'unchanged' END AS status,
             CAST(count(*) AS BIGINT) AS n_docs,
             min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
      FROM j GROUP BY 1 ORDER BY 1"""))

  /** The release gate ([[graft.llm.Curation.releaseGate]]): dup / PII /
    * contamination fractions thresholded into one go/no-go row, over
    * the q60 corpus/eval split.
    */
  private val q100 = Q("q100_release_gate",
    (s, dir) => {
      val d = t(s, dir, "documents")
      // the corpus carries one synthetic NULL-text doc: the oracle's
      // count(DISTINCT md5(text)) excludes NULL, so a null-text doc
      // must count as a dup copy — this fixture row makes the oracle
      // actually gate that semantic (it would pass vacuously otherwise)
      val nullDoc = d.sparkSession.range(1)
        .select(lit(-1L).as("doc_id"), lit(null).cast("string").as("text"))
      graft.llm.Curation.releaseGate(
        d.filter(col("doc_id") % 20 =!= 0).select(col("doc_id"), col("text"))
          .unionByName(nullDoc),
        d.filter(col("doc_id") % 20 === 0))
    },
    Some(s"""
      WITH corpus AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 20 <> 0
        UNION ALL SELECT -1, NULL),
      toks AS (
        SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
        FROM corpus), ${gramCtes(3)},
      evtoks AS (
        SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
        FROM documents WHERE doc_id % 20 = 0),
      evtokh AS (
        SELECT doc_id, gs AS pos, ${h60("w[gs]")} & 2147483647 AS h
        FROM evtoks,
             LATERAL (SELECT unnest(generate_series(1, len(w))) AS gs) g),
      evgrams AS (
        SELECT doc_id, ${gramSqlExpr(3, graft.llm.TextFns.shingleCoef)} AS gh
        FROM evtokh WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
      evg AS (SELECT DISTINCT gh FROM evgrams WHERE gh IS NOT NULL),
      sizes AS (SELECT doc_id, count(*) AS n_grams FROM sh GROUP BY doc_id),
      hits AS (SELECT s.doc_id, count(*) AS n_hit
               FROM sh s JOIN evg e ON s.gh = e.gh GROUP BY s.doc_id),
      surv AS (
        SELECT CAST(count(*) AS BIGINT) AS n_clean FROM (
          SELECT b.doc_id,
                 CASE WHEN sz.n_grams IS NULL THEN 0.0
                      ELSE CAST(coalesce(h.n_hit, 0) AS DOUBLE) / sz.n_grams
                 END AS overlap
          FROM (SELECT doc_id FROM corpus) b
          LEFT JOIN sizes sz USING (doc_id)
          LEFT JOIN hits h USING (doc_id)) z
        WHERE overlap <= 0.2),
      base AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len(w)) AS BIGINT) AS n_tokens
        FROM toks),
      dups AS (
        SELECT CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) AS n_dups
        FROM corpus),
      pii AS (
        SELECT CAST(count(*) FILTER (WHERE
                 regexp_matches(text, '${graft.llm.Pii.EmailRe}')
                 OR regexp_matches(text, '${graft.llm.Pii.Ipv4Re}')
                 OR regexp_matches(text, '${graft.llm.Pii.PhoneRe}'))
               AS BIGINT) AS n_pii_docs
        FROM corpus)
      SELECT base.n_docs, base.n_tokens,
             CAST(dups.n_dups AS DOUBLE) / base.n_docs AS dup_frac,
             CAST(pii.n_pii_docs AS DOUBLE) / base.n_docs AS pii_doc_frac,
             CAST(base.n_docs - surv.n_clean AS DOUBLE) / base.n_docs
               AS contamination_frac,
             CAST(dups.n_dups AS DOUBLE) / base.n_docs <= 0.05 AS pass_dup,
             CAST(pii.n_pii_docs AS DOUBLE) / base.n_docs <= 0.25
               AS pass_pii,
             CAST(base.n_docs - surv.n_clean AS DOUBLE) / base.n_docs <= 0.1
               AS pass_contamination,
             (CAST(dups.n_dups AS DOUBLE) / base.n_docs <= 0.05)
               AND (CAST(pii.n_pii_docs AS DOUBLE) / base.n_docs <= 0.25)
               AND (CAST(base.n_docs - surv.n_clean AS DOUBLE) / base.n_docs
                    <= 0.1) AS release_ok
      FROM base, dups, pii, surv"""))

  /** One Lloyd iteration ([[Similarity.kmeansStep]]): centroids
    * re-estimated from the seed assignment (3-decimal rounding absorbs
    * partial-sum order), every vector re-assigned, cell census out.
    */
  private val q101 = Q("q101_kmeans_step",
    (s, dir) => Similarity.kmeansStep(t(s, dir, "embeddings"), dims = 64)
      .harnessSorted(col("cell")),
    Some(s"""
      WITH cent AS (
        SELECT label, $centroidList AS cv FROM embeddings GROUP BY label),
      a1 AS (
        SELECT vec_id, cell, embedding FROM (
          SELECT e.vec_id, c.label AS cell, e.embedding,
                 row_number() OVER (PARTITION BY e.vec_id
                                    ORDER BY ${dist2Sql("e.embedding", "c.cv")},
                                             c.label) AS rn
          FROM embeddings e, cent c) x WHERE rn = 1),
      cent2 AS (
        SELECT cell, $centroidList AS cv FROM a1 GROUP BY cell),
      a2 AS (
        SELECT vec_id, cell2 FROM (
          SELECT a1.vec_id, c.cell AS cell2,
                 row_number() OVER (PARTITION BY a1.vec_id
                                    ORDER BY ${dist2Sql("a1.embedding", "c.cv")},
                                             c.cell) AS rn
          FROM a1, cent2 c) y WHERE rn = 1)
      SELECT c.cell, CAST(count(*) AS BIGINT) AS n_members,
             list_sum(c.cv) AS centroid_mass
      FROM a2 JOIN cent2 c ON c.cell = a2.cell2
      GROUP BY c.cell, list_sum(c.cv) ORDER BY c.cell"""))

  /** Conversion-window funnel (q95 with `maxGapSecs`): each stage
    * must land within an hour of the previous one.
    */
  private val q102 = Q("q102_funnel_windowed",
    (s, dir) => graft.operators.EventAnalytics.funnelCounts(
      QueryPack.events(s, dir), Seq("view", "click", "purchase"),
      maxGapSecs = Some(3600L)),
    Some("""
      WITH e AS (SELECT user_id, event_type,
                        CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS tsec
                 FROM events),
      s1 AS (SELECT user_id, min(tsec) AS t FROM e
             WHERE event_type = 'view' GROUP BY 1),
      s2 AS (SELECT e.user_id, min(e.tsec) AS t FROM e JOIN s1 USING (user_id)
             WHERE e.event_type = 'click' AND e.tsec > s1.t
               AND e.tsec <= s1.t + 3600 GROUP BY 1),
      s3 AS (SELECT e.user_id, min(e.tsec) AS t FROM e JOIN s2 USING (user_id)
             WHERE e.event_type = 'purchase' AND e.tsec > s2.t
               AND e.tsec <= s2.t + 3600 GROUP BY 1)
      SELECT CAST(1 AS INTEGER) AS step, 'view' AS event_type,
             (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n_users
      UNION ALL SELECT 2, 'click', (SELECT CAST(count(*) AS BIGINT) FROM s2)
      UNION ALL SELECT 3, 'purchase', (SELECT CAST(count(*) AS BIGINT) FROM s3)
      ORDER BY step"""))

  /** Window-function zoo over per-customer order history: the full
    * ranking/distribution/frame surface in one deterministic query
    * (explicit full frames — default frames differ subtly across
    * engines; (date, orderkey) total order breaks every tie).
    */
  private val q103 = Q("q103_window_zoo",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val byDate = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val full = byDate.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, dir, "orders")
        .filter(col("o_custkey") < 200)
        .select(col("o_custkey"), col("o_orderkey"),
          row_number().over(byDate).cast("long").as("rn"),
          percent_rank().over(byDate).as("prank"),
          cume_dist().over(byDate).as("cdist"),
          first(col("o_orderkey")).over(full).as("first_ok"),
          last(col("o_orderkey")).over(full).as("last_ok"),
          nth_value(col("o_orderkey"), 2).over(full).as("second_ok"))
        .harnessSorted(col("o_custkey"), col("rn"))
    },
    Some("""
      SELECT o_custkey, o_orderkey,
             CAST(row_number() OVER w AS BIGINT) AS rn,
             percent_rank() OVER w AS prank,
             cume_dist() OVER w AS cdist,
             first_value(o_orderkey) OVER wf AS first_ok,
             last_value(o_orderkey) OVER wf AS last_ok,
             nth_value(o_orderkey, 2) OVER wf AS second_ok
      FROM orders WHERE o_custkey < 200
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
             wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING
                         AND UNBOUNDED FOLLOWING)
      ORDER BY o_custkey, rn"""))

  /** Edit-distance near-dup pairs ([[TextDedup.editDistancePairs]]):
    * prefix-blocked Levenshtein — the fuzzy-match verify for
    * typo-level duplication that shingle Jaccard under-scores.
    */
  private val q104 = Q("q104_edit_distance_pairs",
    (s, dir) => TextDedup.editDistancePairs(t(s, dir, "documents"),
      prefixK = 3, maxDist = 60)
      .harnessSorted(col("da"), col("db")),
    Some(s"""
      WITH keyed AS (
        SELECT doc_id, text,
               md5(array_to_string(list_slice(
                 list_filter(string_split(lower(text), ' '), x -> x <> ''),
                 1, 3), ' ')) AS blk
        FROM documents)
      SELECT da, db, dist FROM (
        SELECT a.doc_id AS da, b.doc_id AS db,
               CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
        FROM keyed a JOIN keyed b
          ON a.blk = b.blk AND a.doc_id < b.doc_id
         AND abs(length(a.text) - length(b.text)) <= 60) z
      WHERE dist <= 60
      ORDER BY da, db"""))

  /** Boilerplate strip ([[TextDedup.boilerplateStrip]]): segments in
    * ≥ `minDocs` distinct docs drop everywhere — the corpus-frequency
    * complement of q84's keep-first segment dedup.
    */
  private val q105 = Q("q105_boilerplate_strip",
    (s, dir) => TextDedup.boilerplateStrip(t(s, dir, "documents"),
      width = 2, minDocs = 20)
      .harnessSorted(col("doc_id")),
    Some(s"""
      WITH $ToksCte,
      seg AS (
        SELECT doc_id, gs - 1 AS seg_idx,
               array_to_string(
                 list_slice(w, (gs - 1) * 2 + 1, gs * 2), ' ') AS segment
        FROM toks, LATERAL (SELECT unnest(generate_series(1,
               greatest(CAST(ceil(len(w) / 2.0) AS INTEGER), 1))) AS gs) g),
      boiler AS (
        SELECT md5(segment) AS h FROM seg
        GROUP BY 1 HAVING count(DISTINCT doc_id) >= 20)
      SELECT s.doc_id,
             CAST(count(*) AS BIGINT) AS n_segments,
             CAST(sum(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dropped,
             coalesce(string_agg(CASE WHEN b.h IS NULL THEN s.segment END,
                                 ' ' ORDER BY s.seg_idx), '') AS clean_text
      FROM seg s LEFT JOIN boiler b ON md5(s.segment) = b.h
      GROUP BY s.doc_id ORDER BY s.doc_id"""))

  /** Rank-blended quality ([[TextAnalysis.qualityBlend]]): three
    * percent-ranks averaged; the oracle uses PERCENT_RANK windows
    * directly, pinning the histogram-join formulation to SQL tie
    * semantics.
    */
  private val q106 = Q("q106_quality_blend",
    (s, dir) => TextAnalysis.qualityBlend(t(s, dir, "documents"))
      .harnessSorted(col("doc_id")),
    Some("""
      WITH base AS (
        SELECT doc_id,
               len(list_filter(string_split(lower(text), ' '),
                   x -> x <> '')) AS n_toks,
               len(list_distinct(list_filter(string_split(lower(text), ' '),
                   x -> x <> ''))) AS n_distinct,
               n_chars
        FROM documents),
      pr AS (
        SELECT doc_id,
               percent_rank() OVER (ORDER BY n_toks) AS p1,
               percent_rank() OVER (ORDER BY n_distinct) AS p2,
               percent_rank() OVER (ORDER BY n_chars) AS p3
        FROM base)
      SELECT doc_id, round((p1 + p2 + p3) / 3, 9) AS blend,
             CAST(least(floor(round((p1 + p2 + p3) / 3, 9) * 10), 9)
               AS INTEGER) AS bucket
      FROM pr ORDER BY doc_id"""))

  /** Duplicate-cluster canonicalization
    * ([[TextDedup.clusterRepresentatives]]): q61's components electing
    * one representative per cluster (max n_chars, ties → min doc_id).
    */
  private val q107 = Q("q107_cluster_representative",
    (s, dir) => TextDedup.clusterRepresentatives(
      TextDedup.minhashLshPairs(t(s, dir, "documents"),
        shingleK = 3, nHashes = 12, bands = 4, threshold = 0.5),
      t(s, dir, "documents"))
      .harnessSorted(col("component")),
    Some(s"""
      WITH RECURSIVE $ToksCte, ${gramCtes(3)}, ${minhashPairCtes(0.5, None)},
      edges AS (
        SELECT da AS a, db AS b FROM pairs
        UNION
        SELECT db AS a, da AS b FROM pairs),
      reach(id, lbl) AS (
        SELECT DISTINCT a, a FROM edges
        UNION
        SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.id),
      comp AS (SELECT id AS doc_id, min(lbl) AS component
               FROM reach GROUP BY id),
      lab AS (
        SELECT c.component, c.doc_id, CAST(d.n_chars AS BIGINT) AS n_chars
        FROM comp c JOIN documents d USING (doc_id)),
      rnk AS (
        SELECT *, row_number() OVER (PARTITION BY component
                    ORDER BY n_chars DESC, doc_id) AS rn
        FROM lab)
      SELECT component, CAST(count(*) AS BIGINT) AS n_members,
             min(CASE WHEN rn = 1 THEN doc_id END) AS rep_doc_id,
             min(CASE WHEN rn = 1 THEN n_chars END) AS rep_chars
      FROM rnk GROUP BY component ORDER BY component"""))

  /** Content-defined chunking stats ([[TextDedup.cdcChunkStats]]):
    * Rabin-style boundaries (token hash ≡ 0 mod 8), chunk-store dup
    * fraction per source.
    */
  private val q108 = Q("q108_cdc_chunks",
    (s, dir) => TextDedup.cdcChunkStats(t(s, dir, "documents"),
      modulus = 8)
      .harnessSorted(col("source")),
    Some(s"""
      WITH $ToksCte,
      tok AS (
        SELECT doc_id, source, gs AS pos, w[gs] AS tok
        FROM toks,
             LATERAL (SELECT unnest(generate_series(1, len(w))) AS gs) g),
      cid AS (
        SELECT doc_id, source, pos, tok,
               sum(b) OVER (PARTITION BY doc_id ORDER BY pos) - b AS chunk
        FROM (SELECT *, CASE WHEN ${h60("tok")} % 8 = 0 THEN 1 ELSE 0 END
                AS b FROM tok) z),
      chunks AS (
        SELECT doc_id, source, chunk,
               md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash
        FROM cid GROUP BY doc_id, source, chunk)
      SELECT source, CAST(count(*) AS BIGINT) AS n_chunks,
             CAST(count(DISTINCT chunk_hash) AS BIGINT) AS n_distinct,
             round(1.0 - CAST(count(DISTINCT chunk_hash) AS DOUBLE)
                   / count(*), 9) AS dup_frac
      FROM chunks GROUP BY source ORDER BY source"""))

  /** Split-leakage audit ([[graft.llm.Curation.splitLeakage]]):
    * near-dup pairs crossing the q62 train/val boundary — the silent
    * eval-inflation bug. Oracle composes q30's pair CTEs with q62's
    * split expression.
    */
  private val q109 = Q("q109_split_leakage",
    (s, dir) => graft.llm.Curation.splitLeakage(t(s, dir, "documents"),
      valFraction = 0.1, seed = "42")
      .harnessSorted(col("val_doc"), col("train_doc")),
    Some(s"""
      WITH $ToksCte, ${gramCtes(3)}, ${minhashPairCtes(0.5, None)},
      sp AS (
        SELECT doc_id,
               CASE WHEN ${h60("concat('42', '|', CAST(doc_id AS VARCHAR))")}
                         % 1000000 < 100000
                    THEN 'val' ELSE 'train' END AS split
        FROM documents)
      SELECT CASE WHEN a.split = 'val' THEN p.da ELSE p.db END AS val_doc,
             CASE WHEN a.split = 'val' THEN p.db ELSE p.da END AS train_doc,
             p.jaccard
      FROM pairs p
      JOIN sp a ON a.doc_id = p.da
      JOIN sp b ON b.doc_id = p.db
      WHERE a.split <> b.split
      ORDER BY val_doc, train_doc"""))

  /** Padding-efficiency report ([[graft.llm.Packing.paddingEfficiency]]):
    * the length-bucketed-batching cost model (padding per bucket
    * ceiling) that decides for or against q70's concat-then-chunk.
    */
  private val q110 = Q("q110_padding_efficiency",
    (s, dir) => graft.llm.Packing.paddingEfficiency(
      t(s, dir, "documents"), bucketWidth = 32)
      .harnessSorted(col("bucket_ceil")),
    Some(s"""
      WITH $ToksCte,
      m AS (
        SELECT CAST(len(w) AS BIGINT) AS len,
               CAST((32 - (len(w) % 32)) % 32 AS BIGINT) AS pad
        FROM toks)
      SELECT len + pad AS bucket_ceil,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len) AS BIGINT) AS n_tokens,
             CAST(sum(pad) AS BIGINT) AS n_padding,
             round(CAST(sum(pad) AS DOUBLE)
                   / greatest(sum(pad) + sum(len), 1), 9) AS pad_frac
      FROM m GROUP BY 1 ORDER BY bucket_ceil"""))

  /** Verbatim-span removal ([[TextDedup.verbatimSpans]]): the
    * suffix-array dedup analog — k-token windows appearing verbatim in
    * another doc strip everywhere; the cross-doc quote/licence-block
    * catch that document-level Jaccard dilutes. Oracle rebuilds the
    * gram-with-position front end (the shared [[gramCtes]] drop
    * positions) and mirrors the ×k coverage explode.
    */
  private val q111 = Q("q111_verbatim_spans",
    (s, dir) => TextDedup.verbatimSpans(t(s, dir, "documents"), k = 5)
      .harnessSorted(col("doc_id")),
    Some(s"""
      WITH $ToksCte,
      tk AS (
        SELECT doc_id, gs AS pos, w[gs] AS tok,
               ${h60("w[gs]")} & 2147483647 AS h
        FROM toks,
             LATERAL (SELECT unnest(generate_series(1, len(w))) AS gs) g),
      gr AS (
        SELECT doc_id, pos,
               ${gramSqlExpr(5, graft.llm.TextFns.shingleCoef)} AS gh
        FROM tk WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
      gv AS (SELECT doc_id, pos, gh FROM gr WHERE gh IS NOT NULL),
      shared AS (
        SELECT gh FROM gv GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
      cov AS (
        SELECT DISTINCT g.doc_id, g.pos + o.o AS cpos
        FROM gv g JOIN shared s ON g.gh = s.gh,
             LATERAL (SELECT unnest(generate_series(0, 4)) AS o) o),
      j AS (
        SELECT t.doc_id, t.pos, t.tok, c.cpos
        FROM tk t LEFT JOIN cov c
          ON t.doc_id = c.doc_id AND t.pos = c.cpos)
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(CASE WHEN cpos IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_covered,
             CAST(sum(CASE WHEN cpos IS NOT NULL THEN 1 ELSE 0 END)
               AS DOUBLE) / count(*) AS cov_frac,
             coalesce(string_agg(CASE WHEN cpos IS NULL THEN tok END,
                                 ' ' ORDER BY pos), '') AS clean_text
      FROM j GROUP BY doc_id ORDER BY doc_id"""))

  /** Surgical decontamination ([[graft.llm.Decontaminate.stripSpans]]):
    * q60's drop-the-document rule replaced by span-level removal —
    * eval-set 5-gram occurrences strip in place, the doc survives.
    * Same train/eval convention as q60 (doc_id % 20 = 0 is the eval
    * slice).
    */
  private val q112 = Q("q112_strip_spans",
    (s, dir) => {
      val d = t(s, dir, "documents")
      graft.llm.Decontaminate.stripSpans(
        d.filter(col("doc_id") % 20 =!= 0),
        d.filter(col("doc_id") % 20 === 0), k = 5)
        .harnessSorted(col("doc_id"))
    },
    Some(s"""
      WITH tk AS (
        SELECT doc_id, gs AS pos, w[gs] AS tok,
               ${h60("w[gs]")} & 2147483647 AS h
        FROM (SELECT doc_id,
                     list_filter(string_split(lower(text), ' '),
                                 x -> x <> '') AS w
              FROM documents WHERE doc_id % 20 <> 0) t,
             LATERAL (SELECT unnest(generate_series(1, len(w))) AS gs) g),
      evtk AS (
        SELECT doc_id, gs AS pos, ${h60("w[gs]")} & 2147483647 AS h
        FROM (SELECT doc_id,
                     list_filter(string_split(lower(text), ' '),
                                 x -> x <> '') AS w
              FROM documents WHERE doc_id % 20 = 0) t,
             LATERAL (SELECT unnest(generate_series(1, len(w))) AS gs) g),
      evg AS (
        SELECT DISTINCT gh FROM (
          SELECT ${gramSqlExpr(5, graft.llm.TextFns.shingleCoef)} AS gh
          FROM evtk WINDOW win AS (PARTITION BY doc_id ORDER BY pos)) z
        WHERE gh IS NOT NULL),
      gr AS (
        SELECT doc_id, pos,
               ${gramSqlExpr(5, graft.llm.TextFns.shingleCoef)} AS gh
        FROM tk WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
      cov AS (
        SELECT DISTINCT g.doc_id, g.pos + o.o AS cpos
        FROM gr g JOIN evg e ON g.gh = e.gh,
             LATERAL (SELECT unnest(generate_series(0, 4)) AS o) o
        WHERE g.gh IS NOT NULL),
      j AS (
        SELECT t.doc_id, t.pos, t.tok, c.cpos
        FROM tk t LEFT JOIN cov c
          ON t.doc_id = c.doc_id AND t.pos = c.cpos)
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(CASE WHEN cpos IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_covered,
             CAST(sum(CASE WHEN cpos IS NOT NULL THEN 1 ELSE 0 END)
               AS DOUBLE) / count(*) AS cov_frac,
             coalesce(string_agg(CASE WHEN cpos IS NULL THEN tok END,
                                 ' ' ORDER BY pos), '') AS clean_text
      FROM j GROUP BY doc_id ORDER BY doc_id"""))

  /** Source-calibrated quality rank
    * ([[TextAnalysis.sourceQualityRank]]): percent-rank within source
    * via the q106 histogram-join technique with composite keys — the
    * oracle pins it to SQL's PARTITIONED PERCENT_RANK.
    */
  private val q113 = Q("q113_source_quality_rank",
    (s, dir) => TextAnalysis.sourceQualityRank(t(s, dir, "documents"))
      .harnessSorted(col("doc_id")),
    Some("""
      WITH base AS (
        SELECT doc_id, source,
               CAST(len(list_filter(string_split(lower(text), ' '),
                    x -> x <> '')) AS BIGINT) AS n_toks
        FROM documents)
      SELECT doc_id, source, n_toks,
             round(percent_rank() OVER (PARTITION BY source
                     ORDER BY n_toks), 9) AS pr_source,
             CAST(least(floor(round(percent_rank() OVER (PARTITION BY source
                     ORDER BY n_toks), 9) * 10), 9) AS INTEGER) AS bucket
      FROM base ORDER BY doc_id"""))

  /** L27 completion (r7): the video CONTAINER round trip as an oracle
    * row — real MJPEG-AVI / MP4 bytes built from literal parameters
    * ([[Multimodal.syntheticAvi]]/[[Multimodal.syntheticMp4]]), parsed
    * back EXECUTOR-SIDE by [[Multimodal.videoMeta]] (the q29 VALUES-
    * fixture pattern: the oracle pins the parameters; only a correct
    * header parse of real container bytes reproduces them). Frame
    * decode stays honestly out of scope — no JDK codec.
    */
  private val q114 = Q("q114_video_meta",
    (s, dir) => {
      import s.implicits._
      import graft.llm.Multimodal
      val media = Seq(
        Multimodal.MediaRow(1L, "video/avi",
          Multimodal.syntheticAvi(640, 360, fps = 25, frames = 250)),
        Multimodal.MediaRow(2L, "video/avi",
          Multimodal.syntheticAvi(1920, 1080, fps = 30, frames = 900,
            codec = "H264")),
        Multimodal.MediaRow(3L, "video/mp4",
          Multimodal.syntheticMp4(1280, 720, timescale = 90000,
            durationTicks = 900000L, frames = 300)))
      s.createDataset(media)
        .map { r =>
          val m = Multimodal.videoMeta(r.content).getOrElse(
            sys.error(s"container parse failed for media ${r.media_id}"))
          (r.media_id, m.width, m.height, m.n_frames, m.duration_ms, m.codec)
        }
        .toDF("media_id", "width", "height", "n_frames", "duration_ms",
          "codec")
        .harnessSorted(col("media_id"))
    },
    Some("""
      SELECT * FROM (VALUES
        (CAST(1 AS BIGINT), 640, 360, CAST(250 AS BIGINT),
         CAST(10000 AS BIGINT), 'MJPG'),
        (CAST(2 AS BIGINT), 1920, 1080, CAST(900 AS BIGINT),
         CAST(29999 AS BIGINT), 'H264'),
        (CAST(3 AS BIGINT), 1280, 720, CAST(300 AS BIGINT),
         CAST(10000 AS BIGINT), 'avc1'))
        AS t(media_id, width, height, n_frames, duration_ms, codec)
      ORDER BY media_id"""))

  /** L95 (r7, oracled r8): sharded HNSW — the high-recall graph
    * serving index next to IVF (L66). A graph build isn't
    * SQL-expressible, so the oracle is the q114 generator-twin: a
    * deterministic md5-derived vector fixture
    * ([[graft.llm.Hnsw.fixtureVector]]) + the deterministic build
    * (insertion by sorted id, md5 levels, id tie-breaks) + a key-hash
    * repartition make the probe's top-k exactly reproducible, pinned
    * as a VALUES relation (regenerate with `runMain graft.PinQ115`).
    * Ranks only — float sims stay out of the hashed surface; sim
    * correctness lives in HnswSpec's recall/round-trip gates.
    * Recall floor vs brute force, byte-identical builds, and persisted
    * round trip remain spec-gated (HnswSpec).
    */
  private val q115 = Q("q115_ann_hnsw",
    (s, dir) => {
      import s.implicits._
      val dim = 16
      val emb = s.range(0, 2000, 1, 8)
        .map(id => (id, graft.llm.Hnsw.fixtureVector(id, dim)))
        .toDF("vec_id", "embedding")
        .repartition(4, pmod(col("vec_id"), lit(4)))
      val queries = s.range(0, 5)
        .map(q => (q, graft.llm.Hnsw.fixtureVector(100000L + q, dim)))
        .toDF("query_id", "qv")
      graft.llm.Hnsw.hnswProbe(
        graft.llm.Hnsw.hnswIndex(emb, m = 8, efConstruction = 64),
        queries, k = 10, ef = 96)
        .select(col("query_id"), col("rnk"), col("vec_id"))
        .harnessSorted(col("query_id"), col("rnk"))
    },
    Some(Q115Oracle.sql))

  /** L96 (r7): DSIR-style importance-weighted selection
    * ([[graft.llm.Dsir.importanceSelect]]) — raw docs scored by hashed
    * token-bucket likelihood vs the English slice as the target
    * distribution; keep = top quarter by exact quantile threshold.
    */
  private val q116 = Q("q116_importance_select",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.llm.Dsir.importanceSelect(
        docs, docs.filter(col("lang") === "en"),
        buckets = 4096, keepFraction = 0.25)
        .harnessSorted(col("doc_id"))
    },
    Some(s"""
      WITH $ToksCte,
      tb AS (
        SELECT doc_id, lang,
               ${h60("t.tok")} % 4096 AS b
        FROM toks, LATERAL unnest(w) AS t(tok)),
      tc AS (SELECT b, count(*) AS c FROM tb WHERE lang = 'en' GROUP BY b),
      rc AS (SELECT b, count(*) AS c FROM tb GROUP BY b),
      sc AS (
        SELECT tb.doc_id, CAST(count(*) AS BIGINT) AS n_toks,
               sum(coalesce(tc.c, 0)) AS st, sum(rc.c) AS sr
        FROM tb
        JOIN rc USING (b)
        LEFT JOIN tc USING (b)
        GROUP BY tb.doc_id),
      scored AS (
        SELECT doc_id, n_toks,
               round(CAST(st + n_toks AS DOUBLE)
                     / CAST(sr + n_toks AS DOUBLE), 9) AS score
        FROM sc),
      thr AS (SELECT quantile_cont(score, 0.75) AS threshold FROM scored)
      SELECT doc_id, n_toks, score, score >= threshold AS keep
      FROM scored, thr ORDER BY doc_id"""))

  /** L97 (r8): within-doc duplicated n-gram coverage
    * ([[TextAnalysis.dupGramCoverage]]) — the position-level Gopher
    * repetition rule: fraction of token positions inside a 3-gram that
    * repeats within the same document, overlaps counted once. The
    * oracle mirrors the q111 coverage CTE with the repeat set scoped
    * per document instead of across documents.
    */
  private val q117 = Q("q117_dup_gram_coverage",
    (s, dir) => TextAnalysis.dupGramCoverage(t(s, dir, "documents"), k = 3)
      .harnessSorted(col("doc_id")),
    Some(s"""
      WITH $ToksCte,
      $TokhCte,
      gr AS (
        SELECT doc_id, pos,
               ${gramSqlExpr(3, graft.llm.TextFns.shingleCoef)} AS gh
        FROM tokh WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
      gv AS (SELECT doc_id, pos, gh FROM gr WHERE gh IS NOT NULL),
      rep AS (
        SELECT doc_id, gh FROM gv
        GROUP BY doc_id, gh HAVING count(*) >= 2),
      cov AS (
        SELECT DISTINCT g.doc_id, g.pos + o.o AS cpos
        FROM gv g JOIN rep r ON g.doc_id = r.doc_id AND g.gh = r.gh,
             LATERAL (SELECT unnest(generate_series(0, 2)) AS o) o),
      cc AS (SELECT doc_id, count(*) AS n_covered FROM cov GROUP BY doc_id),
      nt AS (SELECT doc_id, count(*) AS n_tokens FROM tokh GROUP BY doc_id)
      SELECT nt.doc_id, CAST(nt.n_tokens AS BIGINT) AS n_tokens,
             CAST(coalesce(cc.n_covered, 0) AS BIGINT) AS n_covered,
             CAST(coalesce(cc.n_covered, 0) AS DOUBLE) / nt.n_tokens
               AS dup_frac
      FROM nt LEFT JOIN cc ON nt.doc_id = cc.doc_id
      ORDER BY nt.doc_id"""))

  /** L98 (r8): per-label centroid cosine + outlier flag
    * ([[Similarity.centroidOutliers]]) — the SemDeDup-class embedding
    * prune signal. Centroid means round to 3 decimals (the avg-oracle
    * contract), sims to 9; the outlier threshold is the exact 5%
    * quantile via [[graft.operators.Percentiles.groupedExact]],
    * mirrored by `quantile_cont`, compared at 6 decimals.
    */
  private val q118 = Q("q118_centroid_outliers",
    (s, dir) => Similarity.centroidOutliers(t(s, dir, "embeddings"),
      groupCol = "label", outlierFraction = 0.05)
      .harnessSorted(col("vec_id")),
    Some(s"""
      WITH e AS (
        SELECT vec_id, label, embedding FROM embeddings
        WHERE embedding IS NOT NULL AND label IS NOT NULL),
      cent AS (
        SELECT label, gs AS pos,
               round(avg(CAST(embedding[gs] AS DOUBLE)), 3) AS cv
        FROM e,
             LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS gs) g
        GROUP BY label, gs),
      cl AS (
        SELECT label, list(cv ORDER BY pos) AS centroid
        FROM cent GROUP BY label),
      sc AS (
        SELECT e.vec_id, e.label,
               round(${dotSql("e.embedding", "cl.centroid")} /
                     (sqrt(${dotSql("e.embedding", "e.embedding")}) *
                      sqrt(${dotSql("cl.centroid", "cl.centroid")})), 9)
                 AS sim
        FROM e JOIN cl USING (label)),
      thr AS (
        SELECT label, round(quantile_cont(sim, 0.05), 6) AS t
        FROM sc GROUP BY label)
      SELECT sc.vec_id, sc.label, sc.sim, round(sc.sim, 6) < thr.t AS is_outlier
      FROM sc JOIN thr USING (label)
      ORDER BY sc.vec_id"""))

  /** L99 (r8): fixed-stride overlapping window chunking
    * ([[graft.llm.Packing.strideChunks]]) — retrieval-passage /
    * context-window splits with shared-overlap context; pure per-row
    * codegen, no shuffle. chunkSize=32/overlap=8 so the ~50-token
    * test docs produce multi-chunk output.
    */
  /** Real video FRAME decode + frame sampling
    * ([[graft.llm.Multimodal.videoFramesRgb]] / `frameSampleStats`):
    * uncompressed BI_RGB AVI frames decoded byte-for-byte (bottom-up
    * flip, stride padding, BGR order) and every 2nd frame reduced to
    * exact mean colors. The fixture plants per-frame solid colors by a
    * closed-form formula, so the oracle recomputes the EXPECTED means
    * from the formula — any decode-layout mistake (wrong stride, no
    * flip, RGB/BGR swap) breaks the hash. Compressed codecs remain a
    * documented stub; this gates the one format that needs no codec.
    */
  // fixture hoisted (r12): built once per JVM, not per timed iteration
  private lazy val q121Media: Seq[graft.llm.Multimodal.MediaRow] = {
    import graft.llm.Multimodal
    def color(i: Long, j: Int): (Int, Int, Int) =
      (((i * 31 + j * 7) % 256).toInt, ((i * 17 + j * 13) % 256).toInt,
        ((i * 5 + j * 11) % 256).toInt)
    Seq(
      Multimodal.MediaRow(1L, "video/avi",
        Multimodal.syntheticAviRgb(8, 6, fps = 10,
          (0 until 6).map(color(1L, _)))),
      Multimodal.MediaRow(2L, "video/avi",
        Multimodal.syntheticAviRgb(5, 3, fps = 10, // 15B rows pad to 16
          (0 until 6).map(color(2L, _)))))
  }

  private val q121 = Q("q121_frame_sample",
    (s, dir) => {
      import s.implicits._
      graft.llm.Multimodal.frameSampleStats(s.createDataset(q121Media), stride = 2)
        .harnessSorted(col("media_id"), col("frame_idx"))
    },
    Some("""
      SELECT i AS media_id, CAST(j AS BIGINT) AS frame_idx,
             CASE i WHEN 1 THEN 8 ELSE 5 END AS width,
             CASE i WHEN 1 THEN 6 ELSE 3 END AS height,
             CAST((i*31 + j*7) % 256 AS DOUBLE) AS mean_r,
             CAST((i*17 + j*13) % 256 AS DOUBLE) AS mean_g,
             CAST((i*5 + j*11) % 256 AS DOUBLE) AS mean_b
      FROM (VALUES (CAST(1 AS BIGINT)), (CAST(2 AS BIGINT))) m(i),
           (VALUES (0), (2), (4)) f(j)
      ORDER BY media_id, frame_idx"""))

  /** Heavy-hitter token discovery via the native Space-Saving
    * aggregate ([[graft.functions.FreqItemsAgg]], `graft_freq_items`):
    * bounded counter state through the whole aggregation instead of
    * shuffling the full distinct-token space — the open-ended-key
    * frequency tool (URLs, hosts, error strings) at 100 TB. Gated in
    * the sketch's EXACT regime (capacity ≥ vocabulary → zero
    * evictions, estimates are exact counts, deterministic), so the
    * oracle is the plain exact top-20; the eviction regime's
    * recovery + error bounds are spec-gated (FreqItemsAggSpec).
    */
  private val q123 = Q("q123_freq_items",
    (s, dir) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      t(s, dir, "documents")
        .select(explode(graft.llm.TextFns.tokens(col("text"))).as("t"))
        .agg(expr("graft_freq_items(t, 262144)").as("fi"))
        .select(posexplode(slice(col("fi"), 1, 20)))
        .select((col("pos") + 1).cast("long").as("rnk"),
          col("col.item").as("token"), col("col.est").as("n"))
        .harnessSorted(col("rnk"))
    },
    Some(s"""
      WITH $ToksCte,
      flat AS (SELECT unnest(w) AS token FROM toks),
      c AS (SELECT token, CAST(count(*) AS BIGINT) AS n
            FROM flat GROUP BY token)
      SELECT CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT) AS rnk,
             token, n
      FROM c ORDER BY n DESC, token LIMIT 20"""))

  /** MJPG frame decode via the JDK's own JPEG codec
    * ([[graft.llm.Multimodal.videoFramesRgb]], MJPG leg — r12, closes
    * the r11 VERDICT gap: a real user's AVI corpus is far more often
    * MJPG than BI_RGB, and MJPG frames are standalone JPEGs the JVM
    * CAN decode). JPEG is lossy, so this gates TOLERANCE-BANDED flags
    * (the q49 technique), not exact means: the fixture plants
    * per-frame solid colors by a closed-form formula, the query
    * decodes the frames and emits per-channel |mean − expected| ≤ 8
    * booleans, and the oracle expects every flag true. A broken
    * decode path (failed ImageIO wiring, BGR/RGB swap, frame-index
    * shift) fails rows or flags; H264/MP4 remain a documented stub.
    */
  // q124 fixture hoisted out of the query fn (r12 self-review): the
  // 8 driver-side ImageIO JPEG encodes run once per JVM, not once per
  // timed bench iteration
  private lazy val q124Media: Seq[graft.llm.Multimodal.MediaRow] = {
    import graft.llm.Multimodal
    def color(i: Long, j: Int): (Int, Int, Int) =
      (((i * 37 + j * 11) % 256).toInt, ((i * 23 + j * 19) % 256).toInt,
        ((i * 7 + j * 3) % 256).toInt)
    Seq(
      Multimodal.MediaRow(1L, "video/avi",
        Multimodal.syntheticAviMjpg(16, 8, fps = 10,
          (0 until 4).map(color(1L, _)))),
      Multimodal.MediaRow(2L, "video/avi",
        Multimodal.syntheticAviMjpg(8, 8, fps = 10,
          (0 until 4).map(color(2L, _)))))
  }

  private val q124 = Q("q124_mjpg_frames",
    (s, dir) => {
      import s.implicits._
      import graft.llm.Multimodal
      val i = col("media_id"); val j = col("frame_idx")
      Multimodal.frameSampleStats(s.createDataset(q124Media), stride = 1)
        .select(i, j, col("width"), col("height"),
          (abs(col("mean_r") - (i * 37 + j * 11) % 256) <= 8).as("r_ok"),
          (abs(col("mean_g") - (i * 23 + j * 19) % 256) <= 8).as("g_ok"),
          (abs(col("mean_b") - (i * 7 + j * 3) % 256) <= 8).as("b_ok"))
        .harnessSorted(col("media_id"), col("frame_idx"))
    },
    Some("""
      SELECT i AS media_id, CAST(j AS BIGINT) AS frame_idx,
             CASE i WHEN 1 THEN 16 ELSE 8 END AS width,
             8 AS height,
             TRUE AS r_ok, TRUE AS g_ok, TRUE AS b_ok
      FROM (VALUES (CAST(1 AS BIGINT)), (CAST(2 AS BIGINT))) m(i),
           (VALUES (0), (1), (2), (3)) f(j)
      ORDER BY media_id, frame_idx"""))

  /** Windowed audio features ([[graft.llm.Multimodal.audioWindows]]):
    * real PCM16 decode via javax.sound, per-window RMS + peak — the
    * audio twin of q121's frame sampling, gated the same way: the
    * fixture plants per-window square-wave amplitudes by a closed-form
    * formula (RMS and peak of a square wave ARE the amplitude,
    * exactly), and the oracle recomputes the expectation from the
    * formula — wrong endianness, channel framing, or window bounds
    * break the hash.
    */
  // fixture hoisted (r12): built once per JVM, not per timed iteration
  private lazy val q122Media: Seq[graft.llm.Multimodal.MediaRow] = {
    import graft.llm.Multimodal
    def amp(i: Long, w: Int): Int = (((i * 13 + w * 29) % 100) + 1).toInt * 100
    (1L to 2L).map { i =>
      val samples = (0 until 5).flatMap { w =>
        val a = amp(i, w)
        (0 until 400).map(k => (if (k % 2 == 0) a else -a).toShort)
      }.toArray
      Multimodal.MediaRow(i, "audio/wav",
        Multimodal.syntheticWavPcm16(8000, samples))
    }
  }

  private val q122 = Q("q122_audio_windows",
    (s, dir) => {
      import s.implicits._
      graft.llm.Multimodal.audioWindows(s.createDataset(q122Media),
        windowSamples = 400, strideSamples = 400)
        .harnessSorted(col("media_id"), col("win_idx"))
    },
    Some("""
      SELECT i AS media_id, CAST(w AS BIGINT) AS win_idx,
             CAST(w * 400 AS BIGINT) AS start_sample,
             CAST(((i*13 + w*29) % 100 + 1) * 100 AS DOUBLE) AS rms,
             CAST(((i*13 + w*29) % 100 + 1) * 100 AS INTEGER) AS peak
      FROM (VALUES (CAST(1 AS BIGINT)), (CAST(2 AS BIGINT))) m(i),
           (VALUES (0), (1), (2), (3), (4)) ws(w)
      ORDER BY media_id, win_idx"""))

  /** Exact percentiles by sketch-guided band selection
    * ([[graft.operators.Percentiles.groupedExactSelect]]): the q50
    * semantics computed the way a vectorized engine does — selection,
    * not sorting. Two bounded passes, no per-group sort, band size
    * capped by the sketch's deterministic rank guarantee; the form for
    * near-unique value domains where the q50 histogram degenerates to
    * the input size. Same quantile_cont oracle as q50.
    */
  private val q120 = Q("q120_select_percentiles",
    (s, dir) => graft.operators.Percentiles
      .groupedExactSelect(t(s, dir, "lineitem"), "l_returnflag",
        "l_extendedprice", Seq(0.5, 0.9))
      .select(col("l_returnflag"),
        round(col("p50"), 6).as("p50"),
        round(col("p90"), 6).as("p90"), col("n"))
      .harnessSorted(col("l_returnflag")),
    Some("""
      SELECT l_returnflag,
             round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
             round(quantile_cont(l_extendedprice, 0.9), 6) AS p90,
             count(*) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  private val q119 = Q("q119_stride_chunks",
    (s, dir) => graft.llm.Packing.strideChunks(t(s, dir, "documents"),
      chunkSize = 32, overlap = 8)
      .harnessSorted(col("doc_id"), col("chunk_idx")),
    Some(s"""
      WITH $ToksCte,
      ne AS (SELECT doc_id, w, len(w) AS n FROM toks WHERE len(w) > 0),
      idx AS (
        SELECT doc_id, w, n, gs AS chunk_idx
        FROM ne,
             LATERAL (SELECT unnest(generate_series(0,
               CASE WHEN n <= 32 THEN 0
                    ELSE (n - 32 + 23) // 24 END)) AS gs) g),
      ch AS (
        SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
               CAST(chunk_idx * 24 AS BIGINT) AS start_tok,
               CAST(least(32, n - chunk_idx * 24) AS BIGINT) AS n_toks,
               array_to_string(w[chunk_idx * 24 + 1 : chunk_idx * 24 + 32],
                 ' ') AS chunk_text
        FROM idx)
      SELECT doc_id, chunk_idx, start_tok, n_toks, chunk_text,
             ${h60("chunk_text")} AS chunk_hash
      FROM ch ORDER BY doc_id, chunk_idx"""))

  /** Space-Saving heavy hitters in the EVICTION regime, oracle-gated
    * (r13, VERDICT r12 #6 — q123 exercises only the no-eviction exact
    * regime at oracle scale). A deterministic PLANTED-GAP stream makes
    * the top-20 provably exact under eviction with ANY partitioning or
    * merge order: 20 heavy tokens with counts 20000, 19000, …, 1000
    * (gaps 1000) over a 2M-row stream with 400k distinct tail tokens
    * (4 occurrences each) and sketch capacity 8192 ≪ distinct — so
    * eviction runs constantly, yet Space-Saving's merged overestimate
    * bound n/m = 244 < gap guarantees membership AND order: est_j ≥
    * c_j > c_(j+1) + n/m ≥ est_(j+1), and every tail est ≤ 4 + 244 ≪
    * c_19 = 1000. Raw est values are banded (the q49 technique); rank,
    * token, and the exact twin count are hash-gated outright — a
    * broken eviction path (lost counts, wrong min selection, a merge
    * that forgets the absent-side minimum) shifts ranks or blows the
    * bands. Both engines derive the stream from the same closed-form
    * id→token map over range(2M); no table needed.
    */
  private val q125 = Q("q125_freq_items_eviction",
    (s, dir) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      val n = 2000000L
      val m = 8192
      val b = col("id") % 100
      val blk = expr("id div 100")
      val tok = when(b < 20 && blk < lit(20000) - lit(1000) * b,
          concat(lit("h"), lpad(b.cast("string"), 2, "0")))
        .otherwise(concat(lit("t"),
          ((blk * 80 + (b - 20)) % 400000).cast("string")))
      val stream = s.range(n).select(tok.as("token"))
      val sketch = stream
        .agg(expr(s"graft_freq_items(token, $m)").as("fi"))
        .select(posexplode(slice(col("fi"), 1, 20)))
        .select((col("pos") + 1).cast("long").as("rnk"),
          col("col.item").as("token"),
          col("col.est").as("est"), col("col.err").as("err"))
      // exact ground truth on the INTEGER token id (r21): the string
      // twin built 2M concat/lpad tokens just to group them; the id
      // groups with pure integer arithmetic and the identical string
      // rebuilds once per GROUP (~400k) for the 20-row join. The
      // sketch side keeps consuming real strings — it is the operator
      // under test.
      val tokId = when(b < 20 && blk < lit(20000) - lit(1000) * b,
          -(b + 1)).otherwise((blk * 80 + (b - 20)) % 400000)
      val exact = s.range(n).select(tokId.as("tid"))
        .groupBy(col("tid"))
        .agg(count(lit(1)).as("n"))
        .select(
          when(col("tid") < 0,
            concat(lit("h"), lpad((-col("tid") - 1).cast("string"), 2, "0")))
            .otherwise(concat(lit("t"), col("tid").cast("string")))
            .as("token"),
          col("n"))
      sketch.join(exact, Seq("token"))
        .select(col("rnk"), col("token"), col("n"),
          (col("est") >= col("n") &&
            col("est") - col("n") <= lit(2L * (n / m))).as("est_ok"),
          (col("est") - col("err") <= col("n") &&
            col("n") <= col("est")).as("bound_ok"))
        .harnessSorted(col("rnk"))
    },
    Some("""
      WITH toks AS (
        SELECT CASE WHEN id % 100 < 20 AND id // 100 < 20000 - 1000*(id % 100)
                    THEN 'h' || lpad(CAST(id % 100 AS VARCHAR), 2, '0')
                    ELSE 't' || CAST(((id // 100)*80 + (id % 100 - 20)) % 400000 AS VARCHAR)
               END AS token
        FROM range(2000000) t(id)),
      c AS (SELECT token, CAST(count(*) AS BIGINT) AS n
            FROM toks GROUP BY token)
      SELECT CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT) AS rnk,
             token, n, TRUE AS est_ok, TRUE AS bound_ok
      FROM c ORDER BY n DESC, token LIMIT 20"""))

  /** Bigram PMI collocations ([[TextAnalysis.bigramPmi]]): the
    * rational lift `n_ab·N/(c_a·c_b)` casts each FACTOR to double
    * before multiplying (no Long-product wrap at corpus scale), so the
    * oracle hash-compares the doubles OUTRIGHT — no band, no rounding
    * (see the operator's scaladoc for why). r18: both engines count on
    * the PACKED 62-BIT md5 token-hash keys (the q150/L128 convention)
    * and tie-break the top-k on `(lift desc, h1, h2)`. r19 (ADVICE):
    * both engines re-aggregate the unigram frame BY HASH ALONE
    * (sum of counts, min(tok) for string recovery) before the count
    * joins, so a 31-bit collision genuinely merges on both sides —
    * the joins are key-unique and the output is always ≤ topK rows.
    */
  private val q126 = Q("q126_bigram_pmi",
    (s, dir) => TextAnalysis.bigramPmi(t(s, dir, "documents"),
      minCount = 5, topK = 20)
      .harnessSorted(col("w1"), col("w2")),
    Some(s"""
      WITH $ToksCte, $TokhCte,
      bg AS (SELECT a.h * 2147483648 + b.h AS bg
             FROM tokh a JOIN tokh b
               ON b.doc_id = a.doc_id AND b.pos = a.pos + 1),
      bgc AS (SELECT bg, CAST(count(*) AS BIGINT) AS n_ab
              FROM bg GROUP BY bg),
      nt AS (SELECT CAST(sum(n_ab) AS BIGINT) AS n_total FROM bgc),
      uni AS (SELECT unnest(w) AS tok FROM toks),
      uc0 AS (SELECT tok, ${h60("tok")} & 2147483647 AS h,
                     count(*) AS c
              FROM uni GROUP BY tok),
      uc AS (SELECT h, CAST(sum(c) AS BIGINT) AS c, min(tok) AS tok
             FROM uc0 GROUP BY h),
      top AS (
        SELECT bgc.bg // 2147483648 AS h1, bgc.bg % 2147483648 AS h2,
               bgc.n_ab,
               (CAST(bgc.n_ab AS DOUBLE) * CAST(nt.n_total AS DOUBLE)) /
                 (CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE)) AS pmi_lift
        FROM bgc CROSS JOIN nt
        JOIN uc ca ON ca.h = bgc.bg // 2147483648
        JOIN uc cb ON cb.h = bgc.bg % 2147483648
        WHERE bgc.n_ab >= 5
        ORDER BY pmi_lift DESC, h1, h2 LIMIT 20)
      SELECT wa.tok AS w1, wb.tok AS w2, top.n_ab, top.pmi_lift
      FROM top JOIN uc wa ON wa.h = top.h1
               JOIN uc wb ON wb.h = top.h2
      ORDER BY w1, w2"""))

  /** Corpus-slice divergence ([[TextAnalysis.langDivergence]]): TV +
    * squared Hellinger between per-language unigram distributions —
    * the log-free divergences (|x|, √x, ÷ are IEEE-correctly-rounded;
    * KL/JS's log is not portable across libms).
    */
  private val q127 = Q("q127_lang_divergence",
    (s, dir) => TextAnalysis.langDivergence(t(s, dir, "documents"))
      .harnessSorted(col("slice_a"), col("slice_b")),
    Some(s"""
      WITH $ToksCte,
      t2 AS (SELECT lang AS slice, unnest(w) AS tok FROM toks),
      counts AS (SELECT slice, tok, CAST(count(*) AS BIGINT) AS c
                 FROM t2 GROUP BY slice, tok),
      totals AS (SELECT slice, CAST(sum(c) AS BIGINT) AS n
                 FROM counts GROUP BY slice),
      vocab AS (SELECT DISTINCT tok FROM counts),
      grid AS (
        SELECT tt.slice, v.tok,
               CAST(COALESCE(c.c, 0) AS DOUBLE) / tt.n AS p
        FROM vocab v CROSS JOIN totals tt
        LEFT JOIN counts c ON c.slice = tt.slice AND c.tok = v.tok)
      SELECT a.slice AS slice_a, b.slice AS slice_b,
             round(sum(abs(a.p - b.p)) * 0.5, 6) AS tv_distance,
             round(1.0 - sum(sqrt(a.p * b.p)), 6) AS hellinger_sq
      FROM grid a JOIN grid b ON a.tok = b.tok AND a.slice < b.slice
      GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** BPE TRAINING oracle ([[graft.llm.Bpe.bpeTrain]]) on a planted
    * NON-INTERACTING corpus: 12 two-letter words over disjoint letter
    * pairs with strictly descending counts (2400, 2300, …), so
    * merging any pair cannot change any other pair's count and the
    * learned table provably equals the top-8 of the INITIAL pair
    * counts — which IS static SQL, making the iterative trainer
    * hash-gateable without unrolling the loop. (Chained-merge
    * interaction and the distributed regime are spec-gated in
    * LlmLayerSpec/RegimesSpec — this oracle certifies counting,
    * ranking, tie order, and the stop condition.) Both engines derive
    * the corpus from the same id→word closed form over range(28800).
    */
  private val q128 = Q("q128_bpe_train",
    (s, dir) => {
      val corpus = s.range(28800)
        .filter(expr("id div 12") <
          lit(2400) - lit(100) * (col("id") % 12))
        .select(concat(expr("char(97 + 2*(id % 12))"),
          expr("char(98 + 2*(id % 12))")).as("text"))
      val merges = graft.llm.Bpe.bpeTrain(corpus, nMerges = 8,
        minPairCount = 2)
      import s.implicits._
      merges.zipWithIndex
        .map { case ((a, b, c), i) => (i + 1L, a, b, c) }
        .toDF("rnk", "mleft", "mright", "n_pair")
        .harnessSorted(col("rnk"))
    },
    Some("""
      WITH t AS (
        SELECT id % 12 AS j FROM range(28800) r(id)
        WHERE id // 12 < 2400 - 100*(id % 12)),
      c AS (SELECT chr(CAST(97 + 2*j AS INTEGER)) AS mleft,
                   chr(CAST(98 + 2*j AS INTEGER)) AS mright,
                   CAST(count(*) AS BIGINT) AS n_pair
            FROM t GROUP BY 1, 2)
      SELECT CAST(row_number() OVER (ORDER BY n_pair DESC, mleft, mright)
               AS BIGINT) AS rnk,
             mleft, mright, n_pair
      FROM c ORDER BY n_pair DESC, mleft, mright LIMIT 8"""))

  /** Windowed quantile drift ([[graft.operators.EventAnalytics
    * .quantileDrift]]): exact per-hour medians (L92 histogram), lagged
    * deltas, thresholded alerts — all hash-gated (medians rounded to
    * 6dp before differencing, the q50 parity convention; first-window
    * drift is NULL in both engines).
    */
  private val q129 = Q("q129_quantile_drift",
    (s, dir) => graft.operators.EventAnalytics
      .quantileDrift(QueryPack.events(s, dir), threshold = 0.5)
      .harnessSorted(col("win_start")),
    Some("""
      WITH w AS (
        SELECT time_bucket(INTERVAL '1 hour', ts) AS win_start, value
        FROM events),
      q AS (
        SELECT win_start, round(quantile_cont(value, 0.5), 6) AS p50,
               CAST(count(*) AS BIGINT) AS n
        FROM w WHERE value IS NOT NULL GROUP BY win_start),
      d AS (
        SELECT win_start, p50, n,
               round(abs(p50 - lag(p50) OVER (ORDER BY win_start)), 6)
                 AS drift
        FROM q)
      SELECT win_start, p50, n, drift,
             COALESCE(drift > 0.5, FALSE) AS drift_alert
      FROM d ORDER BY win_start"""))

  /** Bloom-compressed decontamination ([[graft.llm.Decontaminate
    * .bloomDecontaminate]] / [[graft.functions.BloomAgg]]) gated
    * against the exact form: rows are the exact-CONTAMINATED docs
    * (n_grams/n_hit/overlap are the exact-join values, cross-engine
    * bit-identical — the q60 arithmetic), `superset_ok` asserts the
    * Bloom hit count never undercounts (no false negatives — bitwise-
    * OR merge is exact for set union), and `fp_band_ok` asserts the
    * corpus-wide count of clean docs the filter would wrongly flag
    * stays within the sizing's Poisson band (2²⁴ bits / 5 hashes vs
    * ≤ ~10⁶ eval grams at sf1 → expected ≈ 3 FP docs; ≤ 16 allowed).
    * The oracle can state both flags as TRUE because correctness of
    * the filter — not its engine-specific bit layout — is what
    * surfaces. DuckDB has no Bloom aggregate, so its side IS the
    * exact join the Bloom form approximates.
    */
  private val q130 = Q("q130_bloom_decontaminate",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val corpus = d.filter(col("doc_id") % 20 =!= 0)
      val ev = d.filter(col("doc_id") % 20 === 0)
      // ONE corpus gram scan for both forms (paired calibration
      // audit, localCheckpointed) — the fp aggregate and the per-doc
      // projection below both read it without recompute.
      val joined = graft.llm.Decontaminate
        .bloomCalibrationAudit(corpus, ev, 3,
          numBits = 1L << 24, numHashes = 5)
      val fp = joined.agg(
        sum(when(col("n_hit") === 0 && col("bloom_hit") > 0, 1L)
          .otherwise(0L)).as("n_fp_docs"))
      joined.crossJoin(broadcast(fp))
        .filter(col("n_hit") > 0)
        .select(col("doc_id"), col("n_grams"), col("n_hit"),
          col("overlap"),
          (col("bloom_hit") >= col("n_hit")).as("superset_ok"),
          (col("n_fp_docs") <= lit(16L)).as("fp_band_ok"))
        .harnessSorted(col("doc_id"))
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
        FROM documents WHERE doc_id % 20 <> 0), ${gramCtes(3)},
      evtoks AS (
        SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
        FROM documents WHERE doc_id % 20 = 0),
      evtokh AS (
        SELECT doc_id, gs AS pos, ${h60("w[gs]")} & 2147483647 AS h
        FROM evtoks,
             LATERAL (SELECT unnest(generate_series(1, len(w))) AS gs) g),
      evgrams AS (
        SELECT doc_id, ${gramSqlExpr(3, graft.llm.TextFns.shingleCoef)} AS gh
        FROM evtokh WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
      evg AS (SELECT DISTINCT gh FROM evgrams WHERE gh IS NOT NULL),
      sizes AS (SELECT doc_id, count(*) AS n_grams FROM sh GROUP BY doc_id),
      hits AS (SELECT s.doc_id, count(*) AS n_hit
               FROM sh s JOIN evg e ON s.gh = e.gh GROUP BY s.doc_id)
      SELECT doc_id, n_grams, n_hit, overlap,
             TRUE AS superset_ok, TRUE AS fp_band_ok
      FROM (
        SELECT b.doc_id,
               CAST(coalesce(sz.n_grams, 0) AS BIGINT) AS n_grams,
               CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
               CASE WHEN sz.n_grams IS NULL THEN 0.0
                    ELSE CAST(coalesce(h.n_hit, 0) AS DOUBLE) / sz.n_grams END
                 AS overlap
        FROM (SELECT doc_id FROM documents WHERE doc_id % 20 <> 0) b
        LEFT JOIN sizes sz USING (doc_id)
        LEFT JOIN hits h USING (doc_id)) z
      WHERE n_hit > 0 ORDER BY doc_id"""))

  /** Hybrid retrieval via reciprocal-rank fusion
    * ([[Similarity.hybridRrf]]): BM25 ranks (q85's bit-gated doubles)
    * fused with cosine-ANN ranks (q39's) as `1/(60+r_lex) +
    * 1/(60+r_vec)` — two IEEE divisions summed in fixed order, so the
    * fused doubles hash-compare outright. Absent-list docs contribute
    * 0 via NULL-division + coalesce in both engines.
    */
  private val q131 = Q("q131_hybrid_rrf",
    (s, dir) => Similarity.hybridRrf(
      t(s, dir, "documents"), t(s, dir, "embeddings"),
      Bm25Terms, queryVecId = 7L, topN = 50, rrfK = 60, topK = 20)
      .harnessSorted(col("doc_id")),
    Some(s"""
      WITH $ToksCte,
      d AS (
        SELECT doc_id, CAST(len(w) AS BIGINT) AS dl,
               ${Bm25Terms.sorted.map(t =>
                 s"CAST(len(list_filter(w, x -> x = '$t')) AS DOUBLE) AS tf_$t")
                 .mkString(",\n               ")}
        FROM toks),
      g AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(dl) AS BIGINT) AS sum_dl,
               ${Bm25Terms.sorted.map(t =>
                 s"CAST(count(*) FILTER (WHERE tf_$t > 0) AS BIGINT) AS df_$t")
                 .mkString(",\n               ")}
        FROM d),
      lexlist AS (
        SELECT doc_id, score FROM (
          SELECT d.doc_id,
                 ${Bm25Terms.sorted.map(bm25TermSql).mkString("\n               + ")}
                   AS score
          FROM d, g) z
        WHERE score > 0
        ORDER BY score DESC, doc_id LIMIT 50),
      lex AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                 AS BIGINT) AS r_lex
        FROM lexlist),
      ${normCte()},
      q AS (SELECT embedding AS qv, nrm AS qn FROM e WHERE vec_id = 7),
      scored AS (
        SELECT e.vec_id,
               ${dotSql("q.qv", "e.embedding")} / (q.qn * e.nrm) AS sim
        FROM e CROSS JOIN q WHERE e.vec_id <> 7),
      vec AS (
        SELECT vec_id AS doc_id, r_vec FROM (
          SELECT vec_id, sim,
                 CAST(row_number() OVER (ORDER BY sim DESC, vec_id)
                   AS BIGINT) AS r_vec
          FROM scored) z
        WHERE r_vec <= 50)
      SELECT doc_id, r_lex, r_vec, rrf FROM (
        SELECT COALESCE(lex.doc_id, vec.doc_id) AS doc_id,
               lex.r_lex, vec.r_vec,
               COALESCE(CAST(1 AS DOUBLE) / (60 + lex.r_lex), 0.0)
                 + COALESCE(CAST(1 AS DOUBLE) / (60 + vec.r_vec), 0.0)
                 AS rrf
        FROM lex FULL JOIN vec ON lex.doc_id = vec.doc_id) f
      ORDER BY rrf DESC, doc_id LIMIT 20"""))

  /** Exact-k per-group deterministic sample
    * ([[graft.llm.Sampling.sampleKPerGroup]]): 5 docs per language
    * under the seeded 52-bit hash order, ranked through the bounded
    * `graft_topk` heap — the oracle is the grouped row_number over
    * the same md5 arithmetic (q62's convention, shifted to double-
    * exact width).
    */
  private val q132 = Q("q132_group_sample",
    (s, dir) => graft.llm.Sampling
      .sampleKPerGroup(t(s, dir, "documents"), "lang", k = 5,
        seed = "s132")
      .harnessSorted(col("lang"), col("rnk")),
    Some(s"""
      WITH h AS (
        SELECT lang, doc_id,
               ${h60("concat('s132', '|', CAST(doc_id AS VARCHAR))")} >> 8
                 AS hh
        FROM documents),
      r AS (
        SELECT lang, doc_id,
               CAST(row_number() OVER (PARTITION BY lang
                                       ORDER BY hh DESC, doc_id)
                 AS BIGINT) AS rnk
        FROM h)
      SELECT lang, rnk, doc_id FROM r WHERE rnk <= 5
      ORDER BY lang, rnk"""))

  /** Z-order key ([[graft.operators.Zorder.zkey]]): the 2-D Morton
    * interleave of (custkey, order-day) as pure shift/or/and column
    * arithmetic — the oracle rebuilds the identical 5-step mask
    * cascade in SQL, so a wrong mask, shift, or clamp breaks the
    * hash. (The layout rewrite itself — range partition + sort on
    * this key — is file-level and spec-gated in ZorderSpec.)
    */
  private val q133 = Q("q133_zorder_key",
    (s, dir) => {
      val o = t(s, dir, "orders")
      o.select(col("o_orderkey"), col("o_custkey"),
        datediff(col("o_orderdate"),
          lit(java.sql.Date.valueOf("1990-01-01")))
          .cast("long").as("days"))
        .withColumn("zkey", graft.operators.Zorder
          .zkey(col("o_custkey"), col("days")))
        .orderBy(col("zkey").desc, col("o_orderkey"))
        .limit(20)
        .harnessSorted(col("o_orderkey"))
    },
    Some {
      def spread(pref: String): String = Seq(
        ("v | (v << 16)", "281470681808895"),
        ("v | (v << 8)", "71777214294589695"),
        ("v | (v << 4)", "1085102592571150095"),
        ("v | (v << 2)", "3689348814741910323"),
        ("v | (v << 1)", "6148914691236517205"))
        .zipWithIndex.map { case ((e, m), i) =>
          s"${pref}${i + 1} AS (SELECT o_orderkey, (($e) & $m) AS v FROM ${pref}$i)"
        }.mkString(",\n      ")
      s"""
      WITH base AS (
        SELECT o_orderkey, CAST(o_custkey AS BIGINT) AS o_custkey,
               CAST(datediff('day', DATE '1990-01-01', o_orderdate)
                 AS BIGINT) AS days
        FROM orders),
      x0 AS (SELECT o_orderkey,
                    GREATEST(0, LEAST(o_custkey, 2147483647)) AS v
             FROM base),
      y0 AS (SELECT o_orderkey,
                    GREATEST(0, LEAST(days, 2147483647)) AS v
             FROM base),
      ${spread("x")},
      ${spread("y")}
      SELECT b.o_orderkey, b.o_custkey, b.days,
             (x5.v | (y5.v << 1)) AS zkey
      FROM base b
      JOIN x5 ON x5.o_orderkey = b.o_orderkey
      JOIN y5 ON y5.o_orderkey = b.o_orderkey
      ORDER BY zkey DESC, b.o_orderkey LIMIT 20"""
    })

  /** Product-quantization ADC retrieval ([[Similarity.pqTopK]]):
    * label-seeded per-subspace codebooks (q43's rounded-mean
    * convention), per-sub nearest-code encode (ties → smaller code),
    * and asymmetric distances folded over the full 64-dim
    * RECONSTRUCTED centroid — the one-fold order both engines share,
    * so adist doubles hash-compare outright. The oracle rebuilds
    * codebooks, codes, and reconstruction positionally (codes are the
    * 0-based label ids).
    */
  private val q134 = Q("q134_pq_adc",
    (s, dir) => Similarity.pqTopK(t(s, dir, "embeddings"),
      dims = 64, m = 8, nQueries = 5, k = 5)
      .harnessSorted(col("query_id"), col("rnk")),
    Some {
      def sq(e: String) = s"($e) * ($e)"
      val subD2 = sq("CAST(e.embedding[s.sub*8 + i] AS DOUBLE) " +
        "- c.fullcv[s.sub*8 + i]")
      val adcD2 = sq("CAST(q.embedding[j] AS DOUBLE) " +
        "- cbs.cbs[c.ca[(j-1)//8 + 1] + 1][j]")
      s"""
      WITH cbfull AS (
        SELECT CAST(label AS INTEGER) AS code, $centroidList AS fullcv
        FROM embeddings GROUP BY label),
      subs AS (SELECT unnest(generate_series(0, 7)) AS sub),
      encd AS (
        SELECT e.vec_id, s.sub, c.code,
               list_sum(list_transform(generate_series(1, 8),
                 i -> $subD2)) AS d2
        FROM embeddings e CROSS JOIN subs s CROSS JOIN cbfull c),
      enc AS (
        SELECT vec_id, sub, code FROM (
          SELECT vec_id, sub, code,
                 row_number() OVER (PARTITION BY vec_id, sub
                                    ORDER BY d2, code) AS rn
          FROM encd) x WHERE rn = 1),
      ca AS (SELECT vec_id, list(code ORDER BY sub) AS ca
             FROM enc GROUP BY vec_id),
      cbs AS (SELECT list(fullcv ORDER BY code) AS cbs FROM cbfull),
      ad AS (
        SELECT q.vec_id AS query_id, c.vec_id,
               list_sum(list_transform(generate_series(1, 64),
                 j -> $adcD2)) AS adist
        FROM ca c CROSS JOIN cbs
        CROSS JOIN (SELECT vec_id, embedding FROM embeddings
                    WHERE vec_id < 5) q
        WHERE c.vec_id <> q.vec_id),
      r AS (SELECT query_id, vec_id, adist,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY adist, vec_id) AS rnk
            FROM ad)
      SELECT query_id, CAST(rnk AS BIGINT) AS rnk, vec_id, adist
      FROM r WHERE rnk <= 5 ORDER BY query_id, rnk"""
    })

  /** IVF-PQ composed retrieval ([[graft.llm.Similarity.ivfPqTopK]]):
    * cell-pruned candidate generation over PQ codes with ADC ranking —
    * the `IVFxx,PQyy` serving standard. The oracle composes q91's
    * assignment/probe blocks with q134's encode/ADC blocks on the one
    * shared codebook CTE (IVF centroids and PQ full codebooks are the
    * same label-seeded rounded means by construction).
    */
  private val q135 = Q("q135_ivfpq",
    (s, dir) => Similarity.ivfPqTopK(t(s, dir, "embeddings"),
      dims = 64, m = 8, nProbe = 2, nQueries = 5, k = 5)
      .harnessSorted(col("query_id"), col("rnk")),
    Some {
      def sq(e: String) = s"($e) * ($e)"
      val subD2 = sq("CAST(e.embedding[s.sub*8 + i] AS DOUBLE) " +
        "- c.fullcv[s.sub*8 + i]")
      val adcD2 = sq("CAST(p.qv[j] AS DOUBLE) " +
        "- cbs.cbs[c.ca[(j-1)//8 + 1] + 1][j]")
      s"""
      WITH cbfull AS (
        SELECT CAST(label AS INTEGER) AS code, $centroidList AS fullcv
        FROM embeddings GROUP BY label),
      subs AS (SELECT unnest(generate_series(0, 7)) AS sub),
      encd AS (
        SELECT e.vec_id, s.sub, c.code,
               list_sum(list_transform(generate_series(1, 8),
                 i -> $subD2)) AS d2
        FROM embeddings e CROSS JOIN subs s CROSS JOIN cbfull c),
      enc AS (
        SELECT vec_id, sub, code FROM (
          SELECT vec_id, sub, code,
                 row_number() OVER (PARTITION BY vec_id, sub
                                    ORDER BY d2, code) AS rn
          FROM encd) x WHERE rn = 1),
      ca AS (SELECT vec_id, list(code ORDER BY sub) AS ca
             FROM enc GROUP BY vec_id),
      cbs AS (SELECT list(fullcv ORDER BY code) AS cbs FROM cbfull),
      assign AS (
        SELECT vec_id, cell FROM (
          SELECT e.vec_id, c.code AS cell,
                 row_number() OVER (PARTITION BY e.vec_id
                                    ORDER BY ${dist2Sql("e.embedding", "c.fullcv")},
                                             c.code) AS rn
          FROM embeddings e, cbfull c) x WHERE rn = 1),
      probes AS (
        SELECT query_id, qv, cell FROM (
          SELECT q.vec_id AS query_id, q.embedding AS qv,
                 c.code AS cell,
                 row_number() OVER (PARTITION BY q.vec_id
                                    ORDER BY ${dist2Sql("q.embedding", "c.fullcv")},
                                             c.code) AS crn
          FROM embeddings q, cbfull c WHERE q.vec_id < 5) y WHERE crn <= 2),
      ad AS (
        SELECT p.query_id, c.vec_id,
               list_sum(list_transform(generate_series(1, 64),
                 j -> $adcD2)) AS adist
        FROM ca c JOIN assign a ON c.vec_id = a.vec_id
        JOIN probes p ON a.cell = p.cell AND c.vec_id <> p.query_id
        CROSS JOIN cbs),
      r AS (SELECT query_id, vec_id, adist,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY adist, vec_id) AS rnk
            FROM ad)
      SELECT query_id, CAST(rnk AS BIGINT) AS rnk, vec_id, adist
      FROM r WHERE rnk <= 5 ORDER BY query_id, rnk"""
    })

  /** ANN recall@k acceptance gate
    * ([[graft.llm.Similarity.ivfRecallEval]]): |IVF top-k ∩ exact
    * top-k| / k per query — the deploy-time quality measurement for
    * any approximate index. Oracle = q39's brute-force block joined
    * against q91's IVF block on (query_id, vec_id).
    */
  private val q136 = Q("q136_ann_recall",
    (s, dir) => Similarity.ivfRecallEval(t(s, dir, "embeddings"),
      dims = 64, nProbe = 2, nQueries = 5, k = 10)
      .harnessSorted(col("query_id")),
    Some(s"""
      WITH ${normCte()},
      q AS (SELECT vec_id AS query_id, embedding AS qv, nrm AS qn
            FROM e WHERE vec_id < 5),
      truth AS (
        SELECT query_id, vec_id FROM (
          SELECT q.query_id, e.vec_id,
                 row_number() OVER (PARTITION BY q.query_id
                                    ORDER BY ${dotSql("q.qv", "e.embedding")}
                                             / (q.qn * e.nrm) DESC,
                                             e.vec_id) AS rnk
          FROM e JOIN q ON e.vec_id <> q.query_id) x WHERE rnk <= 10),
      cent AS (
        SELECT label, $centroidList AS cv FROM embeddings GROUP BY label),
      assign AS (
        SELECT vec_id, cell, embedding, nrm FROM (
          SELECT e.vec_id, c.label AS cell, e.embedding, e.nrm,
                 row_number() OVER (PARTITION BY e.vec_id
                                    ORDER BY ${dist2Sql("e.embedding", "c.cv")},
                                             c.label) AS rn
          FROM e, cent c) x WHERE rn = 1),
      probes AS (
        SELECT query_id, qv, qn, cell FROM (
          SELECT q.query_id, q.qv, q.qn, c.label AS cell,
                 row_number() OVER (PARTITION BY q.query_id
                                    ORDER BY ${dist2Sql("q.qv", "c.cv")},
                                             c.label) AS crn
          FROM q, cent c) y WHERE crn <= 2),
      approx AS (
        SELECT query_id, vec_id FROM (
          SELECT p.query_id, a.vec_id,
                 row_number() OVER (PARTITION BY p.query_id
                                    ORDER BY ${dotSql("p.qv", "a.embedding")}
                                             / (p.qn * a.nrm) DESC,
                                             a.vec_id) AS rnk
          FROM assign a JOIN probes p
            ON a.cell = p.cell AND a.vec_id <> p.query_id) z
        WHERE rnk <= 10),
      hits AS (
        SELECT t.query_id, count(*) AS n_hit
        FROM truth t JOIN approx a
          ON t.query_id = a.query_id AND t.vec_id = a.vec_id
        GROUP BY t.query_id)
      SELECT q.query_id,
             CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
             CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / 10.0 AS recall
      FROM q LEFT JOIN hits h ON q.query_id = h.query_id
      ORDER BY q.query_id"""))

  /** HLL vocabulary sketch ([[graft.llm.TextAnalysis.vocabSketch]]):
    * per-language distinct-token estimate from the mergeable 2^p-byte
    * `graft_hll_agg` state, exact count alongside as the accuracy
    * control. The oracle rebuilds the registers in SQL from the same
    * portable md5 hash (bucket = top p bits, rho via `bin()` length)
    * and the integer-exact harmonic sum `S = Σ 2^{51−reg}` — the
    * estimate is one shared-order IEEE expression over (m, S), so the
    * doubles hash-compare with no band.
    */
  private val q137 = Q("q137_hll_vocab",
    (s, dir) => graft.llm.TextAnalysis.vocabSketch(
      t(s, dir, "documents"), p = 10)
      .harnessSorted(col("lang")),
    Some(s"""
      WITH $ToksCte,
      tw AS (SELECT lang, unnest(w) AS x FROM toks),
      hashes AS (SELECT lang, ${h60("x")} AS h FROM tw),
      rr AS (
        SELECT lang, CAST(h // 1125899906842624 AS INTEGER) AS bucket,
               CASE WHEN h % 1125899906842624 = 0 THEN 51
                    ELSE 50 - length(bin(h % 1125899906842624)) + 1
               END AS rho
        FROM hashes),
      regs AS (SELECT lang, bucket, max(rho) AS reg
               FROM rr GROUP BY lang, bucket),
      langs AS (SELECT DISTINCT lang FROM documents),
      series AS (SELECT unnest(generate_series(0, 1023)) AS bucket),
      allregs AS (
        SELECT l.lang, s.bucket, COALESCE(r.reg, 0) AS reg
        FROM langs l CROSS JOIN series s
        LEFT JOIN regs r ON r.lang = l.lang AND r.bucket = s.bucket),
      st AS (
        SELECT lang,
               CAST(sum(CAST(1 AS BIGINT) << (51 - reg)) AS BIGINT) AS s,
               CAST(sum(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS INTEGER)
                 AS n_zero
        FROM allregs GROUP BY lang),
      ex AS (SELECT lang, count(*) AS n_exact
             FROM (SELECT DISTINCT lang, x FROM tw) d GROUP BY lang)
      SELECT st.lang, CAST(ex.n_exact AS BIGINT) AS n_exact,
             0.7213 / (1.0 + 1.079 / 1024.0) * 1024.0 * 1024.0
               * 2251799813685248.0 / CAST(st.s AS DOUBLE) AS est,
             st.n_zero
      FROM st JOIN ex ON st.lang = ex.lang
      ORDER BY st.lang"""))

  /** HLL sketch algebra ([[graft.llm.TextAnalysis.vocabOverlap]]):
    * pairwise source-vocabulary overlap by inclusion–exclusion over
    * register unions — after one corpus pass the whole overlap matrix
    * is arithmetic over per-source sketches. The oracle rebuilds
    * per-source registers AND per-pair max-union registers in SQL,
    * with the same integer-exact harmonic sums as q137.
    */
  private val q138 = Q("q138_vocab_overlap",
    (s, dir) => graft.llm.TextAnalysis.vocabOverlap(
      t(s, dir, "documents"), p = 10)
      .harnessSorted(col("source_a"), col("source_b")),
    Some {
      def est(s: String) =
        "0.7213 / (1.0 + 1.079 / 1024.0) * 1024.0 * 1024.0 " +
          s"* 2251799813685248.0 / CAST($s AS DOUBLE)"
      s"""
      WITH $ToksCte,
      tw AS (SELECT source, unnest(w) AS x FROM toks),
      hashes AS (SELECT source, ${h60("x")} AS h FROM tw),
      rr AS (
        SELECT source, CAST(h // 1125899906842624 AS INTEGER) AS bucket,
               CASE WHEN h % 1125899906842624 = 0 THEN 51
                    ELSE 50 - length(bin(h % 1125899906842624)) + 1
               END AS rho
        FROM hashes),
      regs AS (SELECT source, bucket, max(rho) AS reg
               FROM rr GROUP BY source, bucket),
      srcs AS (SELECT DISTINCT source FROM documents),
      series AS (SELECT unnest(generate_series(0, 1023)) AS bucket),
      allregs AS (
        SELECT s.source, se.bucket, COALESCE(r.reg, 0) AS reg
        FROM srcs s CROSS JOIN series se
        LEFT JOIN regs r ON r.source = s.source AND r.bucket = se.bucket),
      st AS (
        SELECT source,
               CAST(sum(CAST(1 AS BIGINT) << (51 - reg)) AS BIGINT) AS s
        FROM allregs GROUP BY source),
      stu AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(sum(CAST(1 AS BIGINT) <<
                 (51 - CASE WHEN a.reg >= b.reg THEN a.reg ELSE b.reg END))
                 AS BIGINT) AS s
        FROM allregs a JOIN allregs b
          ON a.bucket = b.bucket AND a.source < b.source
        GROUP BY a.source, b.source),
      es AS (
        SELECT u.source_a, u.source_b,
               ${est("sa.s")} AS est_a, ${est("sb.s")} AS est_b,
               ${est("u.s")} AS est_union
        FROM stu u
        JOIN st sa ON sa.source = u.source_a
        JOIN st sb ON sb.source = u.source_b)
      SELECT source_a, source_b, est_a, est_b, est_union,
             est_a + est_b - est_union AS est_overlap
      FROM es ORDER BY source_a, source_b"""
    })

  /** ST11's batch twin
    * ([[graft.streaming.StreamOps.streamingDistinctUsers]] verbatim on
    * the batch events table): per-hour distinct-user HLL estimates —
    * the bounded-state streaming cardinality op's value semantics,
    * register-rebuilt in SQL at p=8 (m=256, shift=52).
    */
  private val q139 = Q("q139_stream_distinct_twin",
    (s, dir) => graft.streaming.StreamOps
      .streamingDistinctUsers(QueryPack.events(s, dir), p = 8)
      .select(unix_timestamp(col("win_start")).as("win_start"),
        col("est_users"), col("n_zero"))
      .harnessSorted(col("win_start")),
    Some(s"""
      WITH rr AS (
        SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS win_start,
               CAST(h // 4503599627370496 AS INTEGER) AS bucket,
               CASE WHEN h % 4503599627370496 = 0 THEN 53
                    ELSE 52 - length(bin(h % 4503599627370496)) + 1
               END AS rho
        FROM (SELECT ts, ${h60("CAST(user_id AS VARCHAR)")} AS h
              FROM events)),
      regs AS (SELECT win_start, bucket, max(rho) AS reg
               FROM rr GROUP BY win_start, bucket),
      wins AS (SELECT DISTINCT win_start FROM rr),
      series AS (SELECT unnest(generate_series(0, 255)) AS bucket),
      allregs AS (
        SELECT w.win_start, se.bucket, COALESCE(r.reg, 0) AS reg
        FROM wins w CROSS JOIN series se
        LEFT JOIN regs r ON r.win_start = w.win_start
                        AND r.bucket = se.bucket),
      st AS (
        SELECT win_start,
               CAST(sum(CAST(1 AS BIGINT) << (53 - reg)) AS BIGINT) AS s,
               CAST(sum(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS INTEGER)
                 AS n_zero
        FROM allregs GROUP BY win_start)
      SELECT win_start,
             0.7213 / (1.0 + 1.079 / 256.0) * 256.0 * 256.0
               * 9007199254740992.0 / CAST(s AS DOUBLE) AS est_users,
             n_zero
      FROM st ORDER BY win_start"""))

  /** Count-Min token seen-counts ([[graft.llm.TextAnalysis
    * .tokenSeenCounts]] / [[graft.functions.CountMinAgg]]), calibrated
    * against exact counts: per-source grids → `graft_cms_union_agg`
    * rollup → point queries for the top-50 tokens. The geometry
    * (512 × 4) is deliberately TIGHT so collisions occur and the
    * overcounts are non-trivially gated: the oracle REBUILDS the grid
    * in SQL from the same engine-portable bucket arithmetic
    * (Carter–Wegman over the 30-bit halves of the md5 hash60, P =
    * 2^31−1 — products < 2^35, BIGINT-safe), so `n_est` matches to
    * the exact integer, collision mass included — no TRUE-flag or
    * band weakening anywhere.
    */
  private val q140 = Q("q140_cms_token_counts",
    (s, dir) => graft.llm.TextAnalysis.tokenSeenCounts(
      t(s, dir, "documents"), width = 512, depth = 4, topN = 50)
      .harnessSorted(col("token")),
    Some {
      def bucket(h: String, d: String) =
        s"CAST(((($d + 1) * ($h // 1073741824) + $h % 1073741824) " +
          s"% 2147483647) % 512 AS BIGINT)"
      s"""
      WITH $ToksCte,
      tw AS (SELECT unnest(w) AS x FROM toks),
      cnt AS (SELECT x AS token, count(*) AS n_exact FROM tw GROUP BY x),
      top AS (SELECT token, n_exact FROM cnt
              ORDER BY n_exact DESC, token LIMIT 50),
      ds AS (SELECT unnest(generate_series(0, 3)) AS d),
      occ AS (SELECT ${h60("x")} AS h FROM tw),
      grid AS (
        SELECT d.d, ${bucket("o.h", "d.d")} AS b, count(*) AS c
        FROM occ o CROSS JOIN ds d GROUP BY 1, 2),
      probe AS (
        SELECT t.token, t.n_exact, d.d,
               ${bucket(h60("t.token"), "d.d")} AS b
        FROM top t CROSS JOIN ds d),
      est AS (
        SELECT p.token, p.n_exact, min(g.c) AS n_est
        FROM probe p JOIN grid g ON g.d = p.d AND g.b = p.b
        GROUP BY 1, 2)
      SELECT token, n_exact, n_est, n_est - n_exact AS overcount
      FROM est ORDER BY token"""
    })

  /** Priority sampling ([[graft.llm.Sampling.prioritySample]]) —
    * weighted top-k by `q = w/u` with the (k+1)-st-priority threshold
    * estimator `w_est = max(w, τ)`. Both engines compute u from the
    * same seeded md5, so priorities, the cut, τ, and the estimates
    * are exact doubles (two fixed-order IEEE divisions) — the row
    * set AND every estimate hash-compare with no band. Weight =
    * n_chars (docs with n_chars ≤ 0 are unsampleable by definition).
    */
  private val q141 = Q("q141_priority_sample",
    (s, dir) => graft.llm.Sampling.prioritySample(
      t(s, dir, "documents"), "n_chars", k = 20, seed = "s141")
      .harnessSorted(col("rnk")),
    Some(s"""
      WITH pri AS (
        SELECT doc_id, CAST(n_chars AS DOUBLE) AS wt,
               CAST(n_chars AS DOUBLE) /
                 (CAST(${h60("concat('s141', '|', CAST(doc_id AS VARCHAR))")}
                       + 1 AS DOUBLE) / 1152921504606846976.0) AS q
        FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
      r AS (SELECT doc_id, wt, q,
                   CAST(row_number() OVER (ORDER BY q DESC, doc_id)
                     AS BIGINT) AS rnk
            FROM pri),
      tau AS (SELECT COALESCE(max(CASE WHEN rnk = 21 THEN q END), 0.0) AS t
              FROM r)
      SELECT rnk, doc_id, wt, q, greatest(wt, t) AS w_est
      FROM r, tau WHERE rnk <= 20 ORDER BY rnk"""))

  /** CMS gram familiarity ([[graft.llm.TextAnalysis.cmsFamiliarity]])
    * — every doc's distinct 3-grams point-queried against the
    * reference grid (here the corpus itself: self-familiarity, the
    * DSIR/L83 shape at fixed state). Gram keys re-hash through the
    * portable `hash60(CAST(gh AS VARCHAR))` to restore the 60 bits
    * the bucket family needs; the oracle rebuilds the 4×4096 grid
    * from the same arithmetic, so `seen_sum` (collision mass
    * included) and the one-division `mean_seen` match exactly.
    */
  private val q142 = Q("q142_cms_familiarity",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val probe = graft.llm.TextAnalysis
        .buildGramCmsProbe(d, shingleK = 3, width = 4096, depth = 4)
      graft.llm.TextAnalysis.cmsFamiliarity(d, probe, shingleK = 3)
        .harnessSorted(col("doc_id"))
    },
    Some {
      def bucket(h: String, d: String) =
        s"CAST(((($d + 1) * ($h // 1073741824) + $h % 1073741824) " +
          s"% 2147483647) % 4096 AS BIGINT)"
      s"""
      WITH $ToksCte, ${gramCtes(3)},
      ds AS (SELECT unnest(generate_series(0, 3)) AS d),
      occ AS (SELECT ${h60("CAST(gh AS VARCHAR)")} AS h
              FROM grams WHERE gh IS NOT NULL),
      grid AS (
        SELECT d.d, ${bucket("o.h", "d.d")} AS b, count(*) AS c
        FROM occ o CROSS JOIN ds d GROUP BY 1, 2),
      keys AS (SELECT doc_id, ${h60("CAST(gh AS VARCHAR)")} AS h FROM sh),
      probe AS (
        SELECT k.doc_id, k.h, d.d, ${bucket("k.h", "d.d")} AS b
        FROM keys k CROSS JOIN ds d),
      est AS (
        SELECT p.doc_id, p.h, min(g.c) AS e
        FROM probe p JOIN grid g ON g.d = p.d AND g.b = p.b
        GROUP BY 1, 2),
      agg AS (
        SELECT doc_id, count(*) AS n_grams, sum(e) AS seen_sum
        FROM est GROUP BY doc_id)
      SELECT d.doc_id,
             CAST(COALESCE(a.n_grams, 0) AS BIGINT) AS n_grams,
             CAST(COALESCE(a.seen_sum, 0) AS BIGINT) AS seen_sum,
             CASE WHEN a.n_grams IS NULL THEN 0.0
                  ELSE CAST(COALESCE(a.seen_sum, 0) AS DOUBLE) / a.n_grams
             END AS mean_seen
      FROM documents d LEFT JOIN agg a USING (doc_id)
      ORDER BY d.doc_id"""
    })

  /** Deterministic training order ([[graft.llm.Sampling
    * .trainingOrder]]): the per-epoch corpus shuffle as a seeded-hash
    * rank. The Spark side runs the DISTRIBUTED two-phase prefix-sum
    * form (hash-top-bits buckets + offsets — no single-task window);
    * the oracle IS the single-window statement, so the compare
    * certifies the decomposition's exact equivalence, ties included.
    */
  private val q143 = Q("q143_training_order",
    (s, dir) => graft.llm.Sampling.trainingOrder(
      t(s, dir, "documents"), seed = "epoch1")
      .harnessSorted(col("rnk")),
    Some(s"""
      WITH h AS (
        SELECT doc_id,
               ${h60("concat('epoch1', '|', CAST(doc_id AS VARCHAR))")} AS h
        FROM documents)
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY h, doc_id) AS BIGINT) AS rnk
      FROM h ORDER BY rnk"""))

  /** Integer-mass PageRank over the MinHash-LSH dup graph
    * ([[TextDedup.pairGraphCentrality]]) — hub documents of duplicate
    * neighborhoods after 3 rounds. All arithmetic is integer
    * (multiply-then-truncating-divide mass propagation), so the
    * oracle unrolls the exact same three rounds over the shared pair
    * CTEs and the masses hash-compare with no band — the
    * deterministic-variant contract documented on the operator.
    */
  private val q144 = Q("q144_dup_pagerank",
    (s, dir) => TextDedup.pairGraphCentrality(
      TextDedup.minhashLshPairs(t(s, dir, "documents"),
        shingleK = 3, nHashes = 12, bands = 4, threshold = 0.5),
      iters = 3)
      .harnessSorted(col("doc_id")),
    Some {
      def round(prev: String, it: String) = s"""
      $it AS (
        SELECT e.b AS id,
               CAST(150000000000 + sum((m.m * 17 // 20) // e.deg)
                 AS BIGINT) AS m
        FROM edges e JOIN $prev m ON m.id = e.a GROUP BY e.b)"""
      s"""
      WITH $ToksCte, ${gramCtes(3)}, ${minhashPairCtes(0.5, None)},
      -- MATERIALIZED fences (DuckDB inlines CTEs by default): the
      -- mass rounds reference edges 3x and degs 4x, and without the
      -- fences the ENTIRE gram/minhash pipeline re-inlines into every
      -- reference -- combinatorial recompute that exhausts temp disk
      -- at sf1 (r16). Pure optimization barrier, zero semantics.
      pairs_m AS MATERIALIZED (SELECT da, db FROM pairs),
      edges0 AS MATERIALIZED (
        SELECT da AS a, db AS b FROM pairs_m
        UNION
        SELECT db AS a, da AS b FROM pairs_m),
      degs AS MATERIALIZED (
        SELECT a, count(*) AS deg FROM edges0 GROUP BY a),
      edges AS MATERIALIZED (
        SELECT e.a, e.b, d.deg FROM edges0 e
        JOIN degs d ON d.a = e.a),
      m0 AS (SELECT a AS id, CAST(1000000000000 AS BIGINT) AS m
             FROM degs),${round("m0", "m1")},${round("m1", "m2")},${round("m2", "m3")}
      SELECT m.id AS doc_id, m.m AS mass,
             CAST(d.deg AS BIGINT) AS n_neighbors
      FROM m3 m JOIN degs d ON d.a = m.id
      ORDER BY doc_id"""
    })

  /** Schema-validated JSONL ingest with corrupt-record quarantine
    * ([[graft.llm.Ingest.parseJsonlQuarantine]]): documents rendered
    * to JSONL (every 23rd line truncated — the classic cut-off-feed
    * corruption), parsed permissively, each row keeping its raw line
    * + validity + parsed fields. The oracle re-judges every line with
    * DuckDB's INDEPENDENT JSON parser (`json_valid` /
    * `json_extract_string`), so the accept/reject verdicts and the
    * extracted values of two unrelated parsers must agree row by row.
    */
  private val q145 = Q("q145_jsonl_quarantine",
    (s, dir) => {
      val j = concat(lit("{\"doc_id\":"), col("doc_id"),
        lit(",\"lang\":\""), col("lang"),
        lit("\",\"n_chars\":"), col("n_chars"), lit("}"))
      // two corruption modes: every 23rd line truncated (cut-off
      // feed), every 31st EMPTY (trailing-newline blank) — the blank
      // must quarantine too (json_valid('') is false; a NULL parsed
      // struct is the engine-side signal)
      val lines = t(s, dir, "documents")
        .select(when(col("doc_id") % 31 === 0, lit(""))
          .when(col("doc_id") % 23 === 0,
            j.substr(lit(1), length(j) - 1))
          .otherwise(j).as("line"))
      graft.llm.Ingest.parseJsonlQuarantine(lines,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("lang",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n_chars",
            org.apache.spark.sql.types.LongType))))
        .harnessSorted(col("line"))
    },
    Some("""
      WITH j AS (
        SELECT CASE WHEN did % 31 = 0 THEN ''
                    WHEN did % 23 = 0 THEN substr(l, 1, length(l) - 1)
                    ELSE l END AS line
        FROM (SELECT doc_id AS did,
                     concat('{"doc_id":', CAST(doc_id AS VARCHAR),
                            ',"lang":"', lang,
                            '","n_chars":', CAST(n_chars AS VARCHAR),
                            '}') AS l
              FROM documents))
      SELECT line, json_valid(line) AS is_valid,
             CAST(CASE WHEN json_valid(line)
                  THEN json_extract_string(line, '$.doc_id') END
               AS BIGINT) AS doc_id,
             CASE WHEN json_valid(line)
                  THEN json_extract_string(line, '$.lang') END AS lang,
             CAST(CASE WHEN json_valid(line)
                  THEN json_extract_string(line, '$.n_chars') END
               AS BIGINT) AS n_chars
      FROM j ORDER BY line"""))

  /** The increment flagship ([[graft.llm.Curation.incrementGate]]):
    * a new batch (doc_id % 10 = 7) gated against history (the rest,
    * eval slice excluded) — index-probe dedup, exact decontamination
    * vs the eval slice (doc_id % 20 = 0), document-frequency
    * familiarity, length gate, and the kept docs' deterministic
    * training order, all in one row per increment doc. The oracle
    * composes the SAME shared CTEs the per-pillar oracles use (one
    * gram chain sliced by predicates, the pair CTEs with a cross-slice
    * candCond, the window form of the training order) — the whole
    * five-pillar composition hash-compares with no band.
    */
  private val q146 = Q("q146_increment_flagship",
    (s, dir) => {
      val d = t(s, dir, "documents")
      graft.llm.Curation.incrementGate(
        history = d.filter(col("doc_id") % 20 =!= 0 &&
          col("doc_id") % 10 =!= 7),
        evalDocs = d.filter(col("doc_id") % 20 === 0),
        increment = d.filter(col("doc_id") % 10 === 7))
        .harnessSorted(col("doc_id"))
    },
    Some {
      val histPred = "doc_id % 20 <> 0 AND doc_id % 10 <> 7"
      val incPred = "doc_id % 10 = 7"
      s"""
      WITH $ToksCte, ${gramCtes(3)},
      ${minhashPairCtes(0.5, None,
        candCond = "a.doc_id % 20 <> 0 AND a.doc_id % 10 <> 7 " +
          "AND b.doc_id % 10 = 7")},
      dups AS (SELECT DISTINCT db AS doc_id FROM pairs),
      evg AS (SELECT DISTINCT gh FROM sh WHERE doc_id % 20 = 0),
      incsh AS (SELECT doc_id, gh FROM sh WHERE $incPred),
      isizes AS (SELECT doc_id, count(*) AS n_grams
                 FROM incsh GROUP BY doc_id),
      hits AS (SELECT i.doc_id, count(*) AS n_hit
               FROM incsh i JOIN evg e ON i.gh = e.gh GROUP BY i.doc_id),
      histdf AS (SELECT gh, count(*) AS df FROM sh
                 WHERE $histPred GROUP BY gh),
      fam AS (SELECT i.doc_id,
                     CAST(sum(coalesce(d.df, 0)) AS DOUBLE) / count(*)
                       AS mean_seen
              FROM incsh i LEFT JOIN histdf d ON i.gh = d.gh
              GROUP BY i.doc_id),
      flags AS (
        SELECT t.doc_id,
               coalesce(dp.doc_id IS NOT NULL, FALSE) AS is_dup,
               CAST(coalesce(sz.n_grams, 0) AS BIGINT) AS n_grams,
               CASE WHEN sz.n_grams IS NULL THEN 0.0
                    ELSE CAST(coalesce(h.n_hit, 0) AS DOUBLE) / sz.n_grams
               END AS overlap,
               CAST(len(t.w) AS BIGINT) AS n_tokens,
               len(t.w) >= 5 AS quality_ok,
               coalesce(f.mean_seen, 0.0) AS mean_seen
        FROM (SELECT doc_id, w FROM toks WHERE $incPred) t
        LEFT JOIN dups dp USING (doc_id)
        LEFT JOIN isizes sz USING (doc_id)
        LEFT JOIN hits h USING (doc_id)
        LEFT JOIN fam f USING (doc_id)),
      withkeep AS (
        SELECT *, (NOT is_dup) AND overlap <= 0.2 AND quality_ok AS keep
        FROM flags),
      ranked AS (
        SELECT doc_id,
               CAST(row_number() OVER (
                 ORDER BY ${h60("concat('inc1', '|', CAST(doc_id AS VARCHAR))")},
                          doc_id) AS BIGINT) AS rnk
        FROM withkeep WHERE keep)
      SELECT k.doc_id, k.is_dup, k.n_grams, k.overlap, k.n_tokens,
             k.quality_ok, k.mean_seen, k.keep, r.rnk
      FROM withkeep k LEFT JOIN ranked r USING (doc_id)
      ORDER BY k.doc_id"""
    })

  /** Per-group priority sampling ([[graft.llm.Sampling
    * .prioritySamplePerGroup]]): a weighted 5-sample with subset-sum
    * estimators per language, weight = n_chars. Same exactness as
    * q141 (two fixed-order IEEE divisions; per-group τ from the
    * (k+1)-st priority), mirrored by a per-group window.
    */
  private val q147 = Q("q147_group_priority_sample",
    (s, dir) => graft.llm.Sampling.prioritySamplePerGroup(
      t(s, dir, "documents"), "lang", "n_chars", k = 5, seed = "s147")
      .harnessSorted(col("lang"), col("rnk")),
    Some(s"""
      WITH pri AS (
        SELECT lang, doc_id, CAST(n_chars AS DOUBLE) AS wt,
               CAST(n_chars AS DOUBLE) /
                 (CAST(${h60("concat('s147', '|', CAST(doc_id AS VARCHAR))")}
                       + 1 AS DOUBLE) / 1152921504606846976.0) AS q
        FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
      r AS (SELECT lang, doc_id, wt, q,
                   CAST(row_number() OVER (PARTITION BY lang
                                           ORDER BY q DESC, doc_id)
                     AS BIGINT) AS rnk
            FROM pri),
      tau AS (SELECT lang,
                     COALESCE(max(CASE WHEN rnk = 6 THEN q END), 0.0) AS t
              FROM r GROUP BY lang)
      SELECT r.lang, r.rnk, r.doc_id, r.wt, r.q,
             greatest(r.wt, t.t) AS w_est
      FROM r JOIN tau t USING (lang) WHERE r.rnk <= 5
      ORDER BY r.lang, r.rnk"""))

  /** MMR-diversified rerank ([[Similarity.mmrRerank]]): k = 3 greedy
    * selections from each query's top-20 cosine pool at λ = 0.75
    * (1−λ = 0.25 — both exactly representable, so the engine's
    * `lit(λ)·qsim − lit(1−λ)·pen` and the oracle's literal arithmetic
    * are the same IEEE ops). The oracle unrolls the greedy loop:
    * penalties are max over the already-selected pool rows, remaining
    * candidates anti-selected via NOT EXISTS, ties by vec_id — the
    * selection order, scores, and membership hash-compare exactly.
    */
  private val q148 = Q("q148_mmr_rerank",
    (s, dir) => Similarity.mmrRerank(t(s, dir, "embeddings"),
      nQueries = 5, nCandidates = 20, k = 3, lambda = 0.75)
      .harnessSorted(col("query_id"), col("rnk")),
    Some {
      // NB: no single-letter alias `i` anywhere in the correlated
      // subquery — dotSql's lambda variable is `i` and a table alias
      // of the same name captures it
      def psim(c: String, sid: String) =
        s"""(SELECT max(${dotSql(s"$c.cv", "s.cv")} / ($c.cn * s.cn))
            FROM cand s JOIN $sid selrow
              ON s.query_id = selrow.query_id
             AND s.vec_id = selrow.vec_id
            WHERE s.query_id = $c.query_id)"""
      s"""
      WITH ${normCte()},
      q AS (SELECT vec_id AS query_id, embedding AS qv, nrm AS qn
            FROM e WHERE vec_id < 5),
      scored AS (
        SELECT q.query_id, c.vec_id,
               ${dotSql("q.qv", "c.embedding")} / (q.qn * c.nrm) AS qsim,
               c.embedding AS cv, c.nrm AS cn
        FROM e c JOIN q ON c.vec_id <> q.query_id),
      cand AS (
        SELECT * FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY qsim DESC, vec_id) AS rn
          FROM scored) x WHERE rn <= 20),
      sel1 AS (SELECT query_id, vec_id, qsim, qsim AS mmr
               FROM cand WHERE rn = 1),
      sc2 AS (
        SELECT c.query_id, c.vec_id, c.qsim,
               0.75 * c.qsim - 0.25 * ${psim("c", "sel1")} AS mmr
        FROM cand c
        WHERE NOT EXISTS (SELECT 1 FROM sel1 x
                          WHERE x.query_id = c.query_id
                            AND x.vec_id = c.vec_id)),
      sel2 AS (
        SELECT query_id, vec_id, qsim, mmr FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY mmr DESC, vec_id) AS r2
          FROM sc2) y WHERE r2 = 1),
      selu AS (SELECT query_id, vec_id FROM sel1
               UNION ALL SELECT query_id, vec_id FROM sel2),
      sc3 AS (
        SELECT c.query_id, c.vec_id, c.qsim,
               0.75 * c.qsim - 0.25 * ${psim("c", "selu")} AS mmr
        FROM cand c
        WHERE NOT EXISTS (SELECT 1 FROM selu x
                          WHERE x.query_id = c.query_id
                            AND x.vec_id = c.vec_id)),
      sel3 AS (
        SELECT query_id, vec_id, qsim, mmr FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY mmr DESC, vec_id) AS r3
          FROM sc3) z WHERE r3 = 1)
      SELECT query_id, CAST(1 AS BIGINT) AS rnk, vec_id, qsim, mmr
      FROM sel1
      UNION ALL
      SELECT query_id, CAST(2 AS BIGINT), vec_id, qsim, mmr FROM sel2
      UNION ALL
      SELECT query_id, CAST(3 AS BIGINT), vec_id, qsim, mmr FROM sel3
      ORDER BY query_id, rnk"""
    })

  /** Matryoshka prefix-dimension retrieval
    * ([[Similarity.matryoshkaTopK]]): stage-1 cosine over the first 16
    * dims (the MRL coarse head — 4× less corpus bandwidth), stage-2
    * full-dim rerank of the top-20 pool. Both cosines are the shared
    * IEEE fold, both stages the certified shapes, so ranks and both
    * sim columns hash-compare exactly.
    */
  private val q149 = Q("q149_matryoshka",
    (s, dir) => Similarity.matryoshkaTopK(t(s, dir, "embeddings"),
      prefixDims = 16, nQueries = 5, nCandidates = 20, k = 5)
      .harnessSorted(col("query_id"), col("rnk")),
    Some {
      def pdot(a: String, b: String) =
        s"list_sum(list_transform(generate_series(1, 16), " +
          s"j -> CAST($a[j] AS DOUBLE) * CAST($b[j] AS DOUBLE)))"
      s"""
      WITH ${normCte()},
      p AS (SELECT vec_id, embedding,
                   sqrt(${pdot("embedding", "embedding")}) AS pnrm
            FROM embeddings),
      q AS (SELECT e.vec_id AS query_id, e.embedding AS qv, e.nrm AS qn,
                   p.pnrm AS qpn
            FROM e JOIN p ON p.vec_id = e.vec_id WHERE e.vec_id < 5),
      s1 AS (
        SELECT q.query_id, c.vec_id,
               ${pdot("q.qv", "c.embedding")} / (q.qpn * c.pnrm)
                 AS sim_prefix
        FROM p c JOIN q ON c.vec_id <> q.query_id),
      pool AS (
        SELECT * FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim_prefix DESC, vec_id)
                     AS rn
          FROM s1) x WHERE rn <= 20),
      s2 AS (
        SELECT pl.query_id, pl.vec_id, pl.sim_prefix,
               ${dotSql("q.qv", "c.embedding")} / (q.qn * c.nrm) AS sim
        FROM pool pl
        JOIN e c ON c.vec_id = pl.vec_id
        JOIN q ON q.query_id = pl.query_id)
      SELECT query_id, CAST(rnk AS BIGINT) AS rnk, vec_id,
             sim_prefix, sim
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY sim DESC, vec_id) AS rnk
            FROM s2) z
      WHERE rnk <= 5 ORDER BY query_id, rnk"""
    })

  /** Bigram-LM rare-transition quality score ([[graft.llm.LangModel
    * .rareTransitionScore]]) — the CCNet perplexity-filter shape,
    * log-free (see the operator scaladoc for why `log` can never be
    * oracle-compared): the model trains on the doc_id%20<16 slice
    * (the engine's standard train split), every doc is scored by its
    * fraction of bigrams with add-one probability below 1/256, and
    * the rare test is pure 64-bit integer arithmetic so every count,
    * the one-division `rare_frac`, and the keep verdict hash-compare
    * exactly. Keys mirror the engine's hashed form (r17): the shared
    * `tokh` 31-bit token hashes, bigram key `h1·2³¹ + h2`, unigram
    * context key recovered as `bg // 2³¹` — identical arithmetic on
    * both engines, so collision behavior (merging colliding counts)
    * is mirrored too and the compare stays exact.
    */
  private val q150 = Q("q150_lm_rare_transitions",
    (s, dir) => {
      val d = t(s, dir, "documents")
      graft.llm.LangModel.rareTransitionScore(
        d, d.filter(col("doc_id") % 20 < 16),
        rarity = 256, maxRareFrac = 0.5)
        .harnessSorted(col("doc_id"))
    },
    Some(s"""
      WITH $ToksCte, $TokhCte,
      bg AS (SELECT a.doc_id, a.h * 2147483648 + b.h AS bg
             FROM tokh a JOIN tokh b
               ON b.doc_id = a.doc_id AND b.pos = a.pos + 1),
      tbg AS (SELECT bg, CAST(count(*) AS BIGINT) AS c_ab
              FROM bg WHERE doc_id % 20 < 16 GROUP BY 1),
      tuni AS (SELECT h AS uh, CAST(count(*) AS BIGINT) AS c_a
               FROM tokh WHERE doc_id % 20 < 16 GROUP BY 1),
      v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM tuni),
      db AS (SELECT doc_id, bg, CAST(count(*) AS BIGINT) AS n
             FROM bg GROUP BY 1, 2),
      sc AS (SELECT db.doc_id, sum(db.n) AS n_bigrams,
                    sum(CASE WHEN 256 * (COALESCE(t.c_ab, 0) + 1)
                                  < COALESCE(u.c_a, 0) + v.v
                             THEN db.n ELSE 0 END) AS n_rare
             FROM db
             LEFT JOIN tbg t ON t.bg = db.bg
             LEFT JOIN tuni u ON u.uh = db.bg // 2147483648
             CROSS JOIN v
             GROUP BY db.doc_id)
      SELECT d.doc_id,
             CAST(COALESCE(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
             CAST(COALESCE(s.n_rare, 0) AS BIGINT) AS n_rare,
             CASE WHEN s.n_bigrams IS NULL THEN 0.0
                  ELSE CAST(s.n_rare AS DOUBLE) / s.n_bigrams
             END AS rare_frac,
             CASE WHEN s.n_bigrams IS NULL THEN TRUE
                  ELSE CAST(s.n_rare AS DOUBLE) / s.n_bigrams <= 0.5
             END AS keep
      FROM documents d LEFT JOIN sc s ON s.doc_id = d.doc_id
      ORDER BY d.doc_id"""))

  /** Dyadic-CMS rank sketch ([[graft.operators.DyadicCms]]) — order
    * statistics at fixed `depth×width` state, completing the sketch
    * family (membership/cardinality/frequency → RANK). Every doc
    * length inserts its 12 dyadic nodes into one 4×4096 grid; each
    * probe point's estimated rank is the ≤12-term sum of node
    * point-queries over the set bits of `p`. The oracle rebuilds the
    * grid AND the dyadic sums from the base table with the q140
    * Carter–Wegman arithmetic, so `est_rank` (collision mass
    * included) matches to the exact integer, and `overcount ≥ 0`
    * certifies the never-undercounts direction structurally.
    */
  private val q151 = Q("q151_dyadic_rank",
    (s, dir) => graft.operators.DyadicCms.rankEstimates(
      t(s, dir, "documents"), "n_chars",
      probes = Seq(64L, 128L, 192L, 256L, 320L, 384L, 448L, 512L,
        640L, 768L, 1024L, 2048L),
      levels = 12, width = 4096, depth = 4)
      .harnessSorted(col("p")),
    Some {
      def bucket(h: String, d: String) =
        s"CAST(((($d + 1) * ($h // 1073741824) + $h % 1073741824) " +
          s"% 2147483647) % 4096 AS BIGINT)"
      s"""
      WITH ls AS (SELECT unnest(generate_series(0, 11)) AS l),
      ds AS (SELECT unnest(generate_series(0, 3)) AS d),
      vals AS (SELECT CAST(n_chars AS BIGINT) AS v FROM documents
               WHERE n_chars IS NOT NULL AND n_chars >= 0),
      ins AS (SELECT ${h60("concat(CAST(l.l AS VARCHAR), '|', " +
                "CAST(v.v >> l.l AS VARCHAR))")} AS h
              FROM vals v CROSS JOIN ls l),
      grid AS (SELECT d.d, ${bucket("i.h", "d.d")} AS b,
                      CAST(count(*) AS BIGINT) AS c
               FROM ins i CROSS JOIN ds d GROUP BY 1, 2),
      probes AS (SELECT CAST(unnest([64, 128, 192, 256, 320, 384, 448,
                               512, 640, 768, 1024, 2048]) AS BIGINT)
                          AS p),
      nodes AS (SELECT p.p, l.l,
                       ${h60("concat(CAST(l.l AS VARCHAR), '|', " +
                  "CAST(2 * (p.p >> (l.l + 1)) AS VARCHAR))")} AS h
                FROM probes p JOIN ls l ON ((p.p >> l.l) & 1) = 1),
      est AS (
        SELECT x.p, x.l, min(COALESCE(g.c, 0)) AS e
        FROM (SELECT n.p, n.l, d.d, ${bucket("n.h", "d.d")} AS b
              FROM nodes n CROSS JOIN ds d) x
        LEFT JOIN grid g ON g.d = x.d AND g.b = x.b
        GROUP BY x.p, x.l),
      rk AS (SELECT p, CAST(sum(e) AS BIGINT) AS est_rank
             FROM est GROUP BY p)
      -- LEFT join: a probe with NO set bits (p = 0) has an empty
      -- dyadic decomposition, hence no nodes/rk row — its rank is 0,
      -- not a dropped row (the Spark side emits it; r16 review)
      SELECT pr.p, CAST((SELECT count(*) FROM vals v WHERE v.v < pr.p)
                     AS BIGINT) AS exact_rank,
             CAST(COALESCE(rk.est_rank, 0) AS BIGINT) AS est_rank,
             CAST(COALESCE(rk.est_rank, 0) AS BIGINT) -
               CAST((SELECT count(*) FROM vals v WHERE v.v < pr.p)
                 AS BIGINT) AS overcount
      FROM probes pr LEFT JOIN rk ON rk.p = pr.p
      ORDER BY pr.p"""
    })

  /** Greedy k-center coreset ([[graft.llm.Similarity
    * .kcenterCoreset]]) — coverage-driven selection (Gonzalez
    * farthest-point traversal), SQL-unrolled like q148's greedy:
    * each step is one ORDER BY md DESC LIMIT 1 over the running-min
    * frame. The distance is the [[graft.functions.FloatVecDist2]]
    * fixed-order IEEE fold mirrored term-by-term, `least` is
    * order-free, ties break by vec_id — ranks, ids, and the winning
    * min-distance² hash-compare with no band.
    */
  private val q152 = Q("q152_kcenter_coreset",
    (s, dir) => graft.llm.Similarity.kcenterCoreset(
      t(s, dir, "embeddings"), k = 5)
      .harnessSorted(col("rnk")),
    Some {
      def d2(a: String, b: String) =
        s"list_sum(list_transform(generate_series(1, len($a)), " +
          s"i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) * " +
          s"(CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))))"
      val steps = (2 to 5).map { t =>
        val (prev, sel) = (s"md${t - 1}", s"sel$t")
        val prevSel = s"sel${t - 1}"
        val distCte =
          if (t == 2)
            s"""md1 AS (
        SELECT e.vec_id, e.embedding,
               ${d2("e.embedding", "sel1.embedding")} AS md
        FROM e, sel1 WHERE e.vec_id <> sel1.vec_id)"""
          else
            s"""md${t - 1} AS (
        SELECT p.vec_id, p.embedding,
               least(p.md, ${d2("p.embedding", s"$prevSel.embedding")}) AS md
        FROM md${t - 2} p, $prevSel
        WHERE p.vec_id <> $prevSel.vec_id)"""
        s"""$distCte,
      $sel AS (SELECT vec_id, embedding, md FROM $prev
               ORDER BY md DESC, vec_id LIMIT 1)"""
      }.mkString(",\n      ")
      s"""
      WITH e AS (SELECT vec_id, embedding FROM embeddings
                 WHERE embedding IS NOT NULL),
      sel1 AS (SELECT vec_id, embedding FROM e ORDER BY vec_id LIMIT 1),
      $steps
      SELECT CAST(1 AS BIGINT) AS rnk, vec_id, 0.0 AS dist2 FROM sel1
      UNION ALL SELECT CAST(2 AS BIGINT), vec_id, md FROM sel2
      UNION ALL SELECT CAST(3 AS BIGINT), vec_id, md FROM sel3
      UNION ALL SELECT CAST(4 AS BIGINT), vec_id, md FROM sel4
      UNION ALL SELECT CAST(5 AS BIGINT), vec_id, md FROM sel5
      ORDER BY rnk"""
    })

  /** Hard-negative mining ([[graft.llm.Similarity.hardNegatives]]) —
    * top-k most-similar label-MISMATCHED vectors per query, exact
    * prefilter semantics. The q39 cosine machinery with the
    * predicate fused before the heap; sims are the shared IEEE
    * fold, so everything hash-compares.
    */
  private val q153 = Q("q153_hard_negatives",
    (s, dir) => graft.llm.Similarity.hardNegatives(
      t(s, dir, "embeddings"), nQueries = 5, k = 5)
      .harnessSorted(col("query_id"), col("rnk")),
    Some(s"""
      WITH ${normCte(", label")},
      q AS (SELECT vec_id AS query_id, embedding AS qv, nrm AS qn,
                   label AS query_label
            FROM e WHERE vec_id < 5),
      scored AS (
        SELECT q.query_id, q.query_label, e.vec_id,
               e.label AS neg_label,
               ${dotSql("q.qv", "e.embedding")} / (q.qn * e.nrm) AS sim
        FROM e JOIN q ON e.label <> q.query_label),
      r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY sim DESC, vec_id) AS rnk
            FROM scored)
      SELECT query_id, query_label, CAST(rnk AS BIGINT) AS rnk, vec_id,
             neg_label, sim
      FROM r WHERE rnk <= 5 ORDER BY query_id, rnk"""))

  /** Metadata-filtered vector search, BOTH semantics
    * ([[graft.llm.Similarity.filteredTopK]]): prefilter = exact
    * top-k among qualifying vectors; postfilter = top-k overall then
    * filter, which comes up SHORT when non-qualifying vectors crowd
    * the head — the recall pitfall this row pair makes measurable
    * and hash-comparable.
    */
  private val q154 = Q("q154_filtered_ann",
    (s, dir) => graft.llm.Similarity.filteredTopK(
      t(s, dir, "embeddings"), nQueries = 5, k = 5)
      .harnessSorted(col("query_id"), col("mode"), col("rnk")),
    Some(s"""
      WITH ${normCte(", label")},
      q AS (SELECT vec_id AS query_id, embedding AS qv, nrm AS qn,
                   label AS query_label
            FROM e WHERE vec_id < 5),
      scored AS (
        SELECT q.query_id, q.query_label, e.vec_id,
               e.label AS cand_label,
               ${dotSql("q.qv", "e.embedding")} / (q.qn * e.nrm) AS sim
        FROM e JOIN q ON e.vec_id <> q.query_id),
      pre AS (
        SELECT query_id, 'pre' AS mode, vec_id, sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, vec_id) AS rnk
        FROM scored WHERE cand_label = query_label),
      post0 AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY sim DESC, vec_id) AS rnk0
        FROM scored),
      post AS (
        SELECT query_id, 'post' AS mode, vec_id, sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, vec_id) AS rnk
        FROM post0 WHERE rnk0 <= 5 AND cand_label = query_label)
      SELECT query_id, mode, CAST(rnk AS BIGINT) AS rnk, vec_id, sim
      FROM pre WHERE rnk <= 5
      UNION ALL
      SELECT query_id, mode, CAST(rnk AS BIGINT) AS rnk, vec_id, sim
      FROM post
      ORDER BY query_id, mode, rnk"""))

  /** 3-D Z-order key ([[graft.operators.Zorder.zkeyN]], r17 — real
    * lakehouse clustering keys are often 3–4 columns): the stride-3
    * Morton interleave of (custkey, order-day, whole-dollar price) at
    * 21 bits per dim. The oracle rebuilds the identical 5-step
    * stride-3 mask cascade in SQL — the constants are EMBEDDED from
    * [[graft.operators.Zorder.SpreadSteps]], so a drifted mask,
    * shift, clamp, or dim order breaks the hash. (The d-dim layout
    * rewrite itself — range partition + sort on this key — is
    * file-level and spec-gated in ZorderSpec's 3-D footprint tests.)
    */
  private val q155 = Q("q155_zorder3_key",
    (s, dir) => {
      val o = t(s, dir, "orders")
      o.select(col("o_orderkey"), col("o_custkey"),
        datediff(col("o_orderdate"),
          lit(java.sql.Date.valueOf("1990-01-01")))
          .cast("long").as("days"),
        // floor, not a bare long cast: Spark's decimal->long cast
        // truncates while DuckDB's ROUNDS — floor agrees everywhere
        floor(col("o_totalprice")).cast("long").as("price"))
        .withColumn("zkey", graft.operators.Zorder.zkeyN(
          Seq(col("o_custkey"), col("days"), col("price"))))
        .orderBy(col("zkey").desc, col("o_orderkey"))
        .limit(20)
        .harnessSorted(col("o_orderkey"))
    },
    Some {
      val clampMax = (1L << graft.operators.Zorder.bitsFor(3)) - 1
      // (v | v << sh) & m rewritten as (v & m) | ((v & (m >> sh)) << sh):
      // identical bits (a v-bit reaches masked position i+sh iff bit i
      // survives m >> sh), but the shifted operand is pre-masked so the
      // intermediate never exceeds 63 bits — DuckDB's << range-checks
      // and raises where Spark's shiftleft wraps-then-masks
      def spread3(pref: String): String =
        graft.operators.Zorder.SpreadSteps(3).zipWithIndex.map {
          case ((sh, m), i) =>
            s"${pref}${i + 1} AS (SELECT o_orderkey, " +
              s"((v & $m) | ((v & ${m >>> sh}) << $sh)) AS v FROM ${pref}$i)"
        }.mkString(",\n      ")
      s"""
      WITH base AS (
        SELECT o_orderkey, CAST(o_custkey AS BIGINT) AS o_custkey,
               CAST(datediff('day', DATE '1990-01-01', o_orderdate)
                 AS BIGINT) AS days,
               CAST(FLOOR(o_totalprice) AS BIGINT) AS price
        FROM orders),
      x0 AS (SELECT o_orderkey,
                    GREATEST(0, LEAST(o_custkey, $clampMax)) AS v
             FROM base),
      y0 AS (SELECT o_orderkey,
                    GREATEST(0, LEAST(days, $clampMax)) AS v
             FROM base),
      z0 AS (SELECT o_orderkey,
                    GREATEST(0, LEAST(price, $clampMax)) AS v
             FROM base),
      ${spread3("x")},
      ${spread3("y")},
      ${spread3("z")}
      SELECT b.o_orderkey, b.o_custkey, b.days, b.price,
             (x5.v | (y5.v << 1) | (z5.v << 2)) AS zkey
      FROM base b
      JOIN x5 ON x5.o_orderkey = b.o_orderkey
      JOIN y5 ON y5.o_orderkey = b.o_orderkey
      JOIN z5 ON z5.o_orderkey = b.o_orderkey
      ORDER BY zkey DESC, b.o_orderkey LIMIT 20"""
    })

  /** L133's serve path, oracle-gated (r19): q64's overlap counts
    * answered from a pre-built [[graft.operators.IntervalJoin
    * .overlapHistogram]] instead of the raw transit intervals — the
    * build-once/serve-many stance of q77 (L52) and q91 (L66) applied
    * to interval counting. The gate runs build + serve in one lineage
    * (like q77's index+probe); the serve-plan raw-scan ABSENCE from a
    * persisted histogram is plan-asserted in OperatorsSpec. The
    * oracle is q64's verbatim — the served relation must be
    * value-identical to the direct operator's.
    */
  private val q156 = Q("q156_overlap_count_served",
    (s, dir) => {
      // materialize the BUILD once (r21): the gate runs build + serve
      // in one lineage, and the serve cascade references its histogram
      // input three times (range stats, bucket offsets, main cascade) —
      // against a live build plan that re-ran the lineitem endpoint
      // pass per reference (the exact duplication ddb732c closed for
      // q64's direct form; countOverlapsFromHistogram itself rightly
      // never checkpoints, because a PRODUCTION serve reads a persisted
      // table). The lazy checkpoint is the in-lineage stand-in for that
      // persisted table: the first cascade consumer executes the build
      // exactly once, inside the timed region — the row still measures
      // build + serve, just not build × 3 + serve.
      val hist = graft.operators.IntervalJoin.overlapHistogram(
        transitIntervals(s, dir), "t_s", "t_e")
        .localCheckpoint(eager = false)
      graft.operators.IntervalJoin
        .countOverlapsFromHistogram(overlapWindows(s, dir), hist,
          "w_s", "w_e", leftKey = "w_key")
        .harnessSorted(col("w_key"))
    },
    overlapCountOracle)

  val all: Seq[Q] = Seq(q27, q28, q29, q30, q31, q32, q33, q34, q35, q36,
    q37, q38, q39, q40, q41, q42, q43, q44, q45, q46, q47, q48, q49, q50,
    q51, q52, q53, q54, q55, q56, q57, q58, q59, q60, q61, q62, q63, q64,
    q65, q66, q67, q68, q69, q70, q71, q72, q73, q74, q75, q76, q77, q78,
    q79, q80, q81, q82, q83, q84, q85, q86, q87, q88, q89, q90, q91, q92,
    q93, q94, q95, q96, q97, q98, q99, q100, q101, q102, q103, q104,
    q105, q106, q107, q108, q109, q110, q111, q112, q113, q114, q115,
    q116, q117, q118, q119, q120, q121, q122, q123, q124, q125, q126,
    q127, q128, q129, q130, q131, q132, q133, q134, q135, q136, q137,
    q138, q139, q140, q141, q142, q143, q144, q145, q146, q147, q148,
    q149, q150, q151, q152, q153, q154, q155, q156)

  def queries: Map[String, (org.apache.spark.sql.SparkSession, String) =>
      org.apache.spark.sql.DataFrame] =
    all.map(q => q.name -> q.fn).toMap

  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(o => q.name -> o.stripMargin.trim)).toMap
}
