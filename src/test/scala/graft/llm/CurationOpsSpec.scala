package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Semantics pins for the round-6 curation additions: segment-level
  * dedup (C4 line-dedup analog), BM25 retrieval, familiarity
  * bucketing, and int8 embedding quantization. Value-level oracle
  * parity is hash-checked by the driver (q84–q87); these fix the
  * operator semantics on hand-built micro-inputs.
  */
class CurationOpsSpec extends AnyFunSuite with SparkSpec {

  private def docs(rows: (Long, String)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  test("segmentDedup: global first occurrence keeps, docs reassemble in order") {
    val out = TextDedup.segmentDedup(docs(
      1L -> "a b c d",
      2L -> "a b x y", // first segment duplicates doc 1's
      3L -> "c d c d", // both segments duplicate doc 1's tail
      4L -> "z z z z", // within-doc repeat: second occurrence drops
      5L -> ""         // zero tokens → one empty segment
    ), width = 2).collect().map(r =>
      r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_segments"), r.getAs[Long]("n_kept"),
          r.getAs[String]("clean_text"))).toMap
    assert(out(1L) === ((2L, 2L, "a b c d")))
    assert(out(2L) === ((2L, 1L, "x y")))
    assert(out(3L) === ((2L, 0L, "")))
    assert(out(4L) === ((2L, 1L, "z z")))
    assert(out(5L) === ((1L, 1L, "")))
  }

  test("bm25Rank: term-bearing docs only, ranked by score desc") {
    val out = TextAnalysis.bm25Rank(docs(
      1L -> "spark merge spark",
      2L -> "spark alpha beta gamma delta epsilon zeta eta",
      3L -> "nothing relevant here"),
      terms = Seq("merge", "spark"), topK = 10).collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq === Seq(1L, 2L))
    val scores = out.map(_.getAs[Double]("score"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a > b })
    assert(scores.forall(_ > 0))
  }

  test("familiarityBuckets: equal-depth, ordered, non-overlapping ranges") {
    val corpus = docs(
      1L -> "the cat sat", 2L -> "the cat ran", 3L -> "the dog sat",
      4L -> "a bird flew", 5L -> "the cat sat", 6L -> "odd words only")
    val out = TextAnalysis.familiarityBuckets(corpus, n = 3).collect()
    assert(out.map(_.getAs[Int]("bucket")).toSeq === Seq(1, 2, 3))
    assert(out.map(_.getAs[Long]("n_docs")).sum === 6L)
    // bucket k's range sits at or below bucket k+1's
    out.sliding(2).foreach { case Array(lo, hi) =>
      assert(lo.getAs[Double]("max_familiarity")
        <= hi.getAs[Double]("min_familiarity") + 1e-12)
    }
  }

  test("containmentPairs: embedded doc scores 1.0 where jaccard dilutes") {
    val host = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val out = TextDedup.containmentPairs(docs(
      1L -> host,
      2L -> "alpha beta gamma delta epsilon", // strict prefix of doc 1
      3L -> "unrelated words entirely different content here"),
      shingleK = 3, threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // doc 2's 3 shingles are all among doc 1's 8 → containment 1.0
    assert(out((1L, 2L)) === 1.0)
    assert(out.size === 1) // doc 3 shares nothing
  }

  test("bpePairCounts: weighted adjacent char pairs, single chars drop") {
    val out = graft.llm.Bpe.pairCounts(docs(
      1L -> "aa ab aa",
      2L -> "b aa"), topK = 10).collect()
      .map(r => r.getAs[String]("pair") -> r.getAs[Long]("cnt")).toMap
    // word 'aa' (corpus count 3) contributes pair "aa" ×3, word 'ab'
    // contributes "ab" ×1, single-char 'b' contributes nothing
    assert(out === Map("aa" -> 3L, "ab" -> 1L))
  }

  test("filterReasons: failing docs list their rules, clean docs keep") {
    val s = spark
    import s.implicits._
    val out = TextAnalysis.filterReasons(Seq(
      (1L, "one two", "en"), // < 5 tokens
      (2L, "the quick brown fox jumps over pretty lazy dogs quietly", "en"))
      .toDF("doc_id", "text", "lang"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("reasons"), r.getAs[Boolean]("keep"))).toMap
    assert(out(1L)._1.contains("too_short") && !out(1L)._2)
    assert(out(2L) === (("", true)))
  }

  test("shardStats: exhaustive partition, rerun-stable") {
    val corpus = docs((1L to 40L).map(i => i -> s"word$i more text"): _*)
    val rows = Sampling.shardStats(corpus, nShards = 4, seed = "s").collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum === 40L)
    assert(rows.map(_.getAs[Int]("shard")).toSet.subsetOf((0 until 4).toSet))
    val again = Sampling.shardStats(corpus, nShards = 4, seed = "s").collect()
    assert(rows.map(_.toSeq) === again.map(_.toSeq))
  }

  test("knnLabelVote: majority label wins, tie breaks to smaller label") {
    val s = spark
    import s.implicits._
    // query 0 at origin-ish; corpus: two label-1 vectors nearby, one
    // label-2 vector also nearby → majority 1
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f), 9),
      (10L, Seq(0.9f, 0.1f), 1),
      (11L, Seq(0.8f, 0.2f), 1),
      (12L, Seq(0.7f, 0.3f), 2))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.knnLabelVote(emb, nQueries = 1, k = 3).collect()
    assert(out.length === 1)
    assert(out.head.getAs[Int]("predicted_label") === 1)
    assert(out.head.getAs[Long]("n_votes") === 2L)
    assert(out.head.getAs[Int]("true_label") === 9)
    assert(!out.head.getAs[Boolean]("correct"))
  }

  test("tfidfTopTerms: rare terms outscore common ones, rank is per-doc") {
    val out = TextAnalysis.tfidfTopTerms(docs(
      1L -> "common rare common",
      2L -> "common other words",
      3L -> "common common common"), k = 2).collect()
    val top1 = out.filter(_.getAs[Long]("doc_id") == 1L)
      .sortBy(_.getAs[Long]("rnk")).map(_.getAs[String]("term")).toSeq
    // doc 1: common scores 2*(4/4)=2.0, rare scores 1*(4/2)=2.0 —
    // exact tie, broken by the term tie-break: 'common' < 'rare'
    assert(top1 === Seq("common", "rare"))
    assert(out.count(_.getAs[Long]("doc_id") == 3L) === 1) // only 1 term
  }

  test("curate: inline-keep-list regime equals the checkpointed-join regime") {
    val s = spark
    import s.implicits._
    // a corpus that exercises every stage: an exact dup pair, a
    // near-dup pair, an eval-contaminated doc, and a junk doc the
    // quality filter drops — both barrier regimes (r12: InSet inline
    // vs localCheckpoint + broadcast join) must pack IDENTICAL blocks
    val docs = ((1 to 30).map(i => (i.toLong,
        s"unique document number $i with several plain words " +
          s"alpha$i beta$i gamma delta epsilon zeta eta theta")) ++
      Seq(
        (31L, "duplicate content duplicate content duplicate content xy"),
        (32L, "duplicate content duplicate content duplicate content xy"),
        (33L, "evaluation benchmark sentence held out for testing models"),
        (34L, "zz zz zz zz zz zz zz zz zz zz zz zz zz zz zz zz zz zz")))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("web"))
    val eval =
      Seq((1000L, "evaluation benchmark sentence held out for testing models"))
        .toDF("doc_id", "text")
        .withColumn("lang", lit("en"))
        .withColumn("source", lit("web"))
    val inline = graft.llm.Curation.curate(docs, eval).collect()
      .map(_.toSeq).toSet
    val joined = forced { graft.llm.Curation.curate(docs, eval).collect() }
      .map(_.toSeq).toSet
    assert(inline === joined)
    assert(inline.nonEmpty)
  }

  test("corpusDigest: invariant under repartitioning; flips on any content change") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (1L, "alpha beta", "web"), (2L, "gamma delta", "web"),
      (3L, "epsilon", "books")).toDF("doc_id", "text", "source")
    def digests(df: org.apache.spark.sql.DataFrame) =
      graft.llm.Curation.corpusDigest(df).collect()
        .map(r => r.getAs[String]("source") -> r.getAs[Long]("digest")).toMap
    val base = digests(corpus)
    assert(digests(corpus.repartition(7)) === base) // order-independent
    val mutated = corpus.withColumn("text",
      when(col("doc_id") === 2L, lit("gamma CHANGED")).otherwise(col("text")))
    assert(digests(mutated)("web") !== base("web"))
    assert(digests(mutated)("books") === base("books"))
  }

  test("corpusDiff: added/removed/changed/unchanged classified by id+hash") {
    val s = spark
    import s.implicits._
    val v1 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    val v2 = Seq((2L, "b"), (3L, "c2"), (4L, "d")).toDF("doc_id", "text")
    val out = graft.llm.Curation.corpusDiff(v1, v2).collect()
      .map(r => r.getAs[String]("status") -> r.getAs[Long]("n_docs")).toMap
    assert(out === Map("added" -> 1L, "removed" -> 1L,
      "changed" -> 1L, "unchanged" -> 1L))
  }

  test("releaseGate: thresholds flip the pass booleans") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog today"), // dup
      (3L, "contact me at alice@example.com for all the details"),
      (4L, "entirely unrelated clean content with plenty of words"))
      .toDF("doc_id", "text")
    val eval = Seq((100L, "benchmark only text nothing shared"))
      .toDF("doc_id", "text")
    val strict = graft.llm.Curation.releaseGate(corpus, eval,
      maxDupFrac = 0.1, maxPiiFrac = 0.1).collect().head
    assert(!strict.getAs[Boolean]("pass_dup")) // 1/4 dup > 0.1
    assert(!strict.getAs[Boolean]("pass_pii")) // 1/4 pii > 0.1
    assert(!strict.getAs[Boolean]("release_ok"))
    val lax = graft.llm.Curation.releaseGate(corpus, eval,
      maxDupFrac = 0.5, maxPiiFrac = 0.5).collect().head
    assert(lax.getAs[Boolean]("pass_dup") && lax.getAs[Boolean]("pass_pii"))
    assert(lax.getAs[Boolean]("pass_contamination"))
    assert(lax.getAs[Boolean]("release_ok"))
  }

  test("releaseGate: maxOverlap outside [0, 1) is rejected in both regimes") {
    val s = spark
    import s.implicits._
    val corpus = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val eval = Seq((100L, "alpha beta gamma")).toDF("doc_id", "text")
    def rejected(): Unit = for (bad <- Seq(-0.1, 1.0))
      intercept[IllegalArgumentException](
        graft.llm.Curation.releaseGate(corpus, eval, maxOverlap = bad))
    rejected()
    forced { rejected() }
  }

  test("releaseGate: null-text docs count as dup copies (NULL-excluding distinct)") {
    val s = spark
    import s.implicits._
    // SQL count(DISTINCT md5(text)) excludes NULL, so n_dups over
    // {a, a, NULL, NULL, b} is 5 - 2 = 3: one dup copy of a, and BOTH
    // null-text docs (the null-hash group contributes no distinct
    // content). The old fused form counted the null group as one
    // distinct -> n_dups=2, dup_frac off by 1/n_docs.
    val corpus = Seq(
      (1L, Option("alpha beta gamma")), (2L, Option("alpha beta gamma")),
      (3L, Option.empty[String]), (4L, Option.empty[String]),
      (5L, Option("delta epsilon zeta")))
      .toDF("doc_id", "text")
    val eval = Seq((100L, "benchmark only text nothing shared"))
      .toDF("doc_id", "text")
    val row = graft.llm.Curation.releaseGate(corpus, eval).collect().head
    assert(row.getAs[Long]("n_docs") === 5L)
    assert(row.getAs[Double]("dup_frac") === 3.0 / 5.0)
  }

  test("kmeansStep: census covers every vector, cells from the label space") {
    val s = spark
    val emb = s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val out = Similarity.kmeansStep(emb, dims = 64).collect()
    assert(out.map(_.getAs[Long]("n_members")).sum === emb.count())
    val labels = emb.select("label").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(out.map(_.getAs[Int]("cell")).toSet.subsetOf(labels))
  }

  test("familiarityBucketsApprox: exhaustive, ordered, non-overlapping") {
    val corpus = docs(
      1L -> "the cat sat", 2L -> "the cat ran", 3L -> "the dog sat",
      4L -> "a bird flew", 5L -> "the cat sat", 6L -> "odd words only")
    val out = TextAnalysis.familiarityBucketsApprox(corpus, n = 3)
      .orderBy(org.apache.spark.sql.functions.col("bucket")).collect()
    assert(out.map(_.getAs[Long]("n_docs")).sum === 6L)
    out.sliding(2).foreach { case Array(lo, hi) =>
      assert(lo.getAs[Int]("bucket") < hi.getAs[Int]("bucket"))
      assert(lo.getAs[Double]("max_familiarity")
        <= hi.getAs[Double]("min_familiarity") + 1e-12)
    }
  }

  test("familiarityBucketsAuto: exact twin under the cap, approx past it") {
    val corpus = docs(
      1L -> "the cat sat", 2L -> "the cat ran", 3L -> "the dog sat",
      4L -> "a bird flew", 5L -> "the cat sat", 6L -> "odd words only")
    // under the cap: identical to the exact ntile form, row for row
    val auto = TextAnalysis.familiarityBucketsAuto(corpus, n = 3,
      maxExactRows = 100).collect().map(_.toSeq)
    val exact = TextAnalysis.familiarityBuckets(corpus, n = 3)
      .collect().map(_.toSeq)
    assert(auto.toSeq === exact.toSeq)
    // past the cap: the plan must be the sketch path (percentile_approx
    // appears; the exact ntile's single-partition window does not)
    val big = TextAnalysis.familiarityBucketsAuto(corpus, n = 3,
      maxExactRows = 2)
    val plan = big.queryExecution.analyzed.toString
    assert(plan.contains("percentile_approx"), plan)
    // "ntile(" — the window function call; a bare "ntile" substring
    // also matches perce-NTILE-_approx
    assert(!plan.contains("ntile("), plan)
    // and it still buckets every doc
    assert(big.collect().map(_.getAs[Long]("n_docs")).sum === 6L)
  }

  test("Percentiles.grouped: exact under the cap (oracle form), sketch past it") {
    val s = spark
    import s.implicits._
    val d = (1 to 100).map(i => (if (i % 2 == 0) "a" else "b", i.toDouble))
      .toDF("g", "v")
    val exact = graft.operators.Percentiles.grouped(d, "g", "v",
      probs = Seq(0.5), maxExactRows = 1000)
    // exact semantics: interpolated rank (n-1)p over 50 evens / 50 odds
    val m = exact.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(m("a") === 51.0 && m("b") === 50.0)
    // the exact form is the HISTOGRAM interpolation — no percentile
    // aggregate of either kind in the plan, nothing buffers a group
    val ep = exact.queryExecution.analyzed.toString
    assert(!ep.contains("percentile"), ep)
    val approx = graft.operators.Percentiles.grouped(d, "g", "v",
      probs = Seq(0.5), maxExactRows = 10)
    val ap = approx.queryExecution.analyzed.toString
    assert(ap.contains("percentile_approx"), ap)
    // sketch at this size is exact-rank: midpoint of the sorted runs
    val ma = approx.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(ma("a") - 50.0) <= 2.0 && math.abs(ma("b") - 49.0) <= 2.0)
  }

  test("TextAnalysis.dupGramCoverage: overlaps counted once, short docs are 0") {
    val s = spark
    import s.implicits._
    val d = Seq(
      // "a b c" appears twice (pos 0-2, 4-6): covered {0,1,2,4,5,6} = 6/7
      (1L, "a b c x a b c"),
      // every 2 consecutive trigrams distinct, no repeats
      (2L, "one two three four five"),
      // overlapping repeats: "a a a" at pos 0,1,2 -> covers all 5
      (3L, "a a a a a"),
      // shorter than k: no grams, coverage 0
      (4L, "tiny doc")).toDF("doc_id", "text")
    val out = TextAnalysis.dupGramCoverage(d, k = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out(1L) === ((7L, 6L, 6.0 / 7)))
    assert(out(2L) === ((5L, 0L, 0.0)))
    assert(out(3L) === ((5L, 5L, 1.0)))
    assert(out(4L) === ((2L, 0L, 0.0)))
  }

  test("Packing.strideChunks: boundaries, overlap continuity, edge docs") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 toks: 3 chunks
      (2L, "a b c"),                                  // <= size: 1 chunk
      (3L, (1 to 4).map(i => s"x$i").mkString(" ")),  // exactly size: 1 chunk
      (4L, "")).toDF("doc_id", "text")                // empty: none
    val out = graft.llm.Packing.strideChunks(d, chunkSize = 4, overlap = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    // stride 3: starts 0,3,6 cover 10 toks (last chunk is the 7..10 tail)
    assert(out((1L, 0L)) === ((0L, 4L, "t1 t2 t3 t4")))
    assert(out((1L, 1L)) === ((3L, 4L, "t4 t5 t6 t7")))
    assert(out((1L, 2L)) === ((6L, 4L, "t7 t8 t9 t10")))
    // overlap continuity: chunk i's last token is chunk i+1's first
    assert(out((1L, 1L))._3.startsWith("t4") && out((1L, 0L))._3.endsWith("t4"))
    assert(out((2L, 0L)) === ((0L, 3L, "a b c")))
    assert(out((3L, 0L)) === ((0L, 4L, "x1 x2 x3 x4")))
    assert(!out.keySet.exists(_._1 == 4L))
    assert(out.size === 5)
  }

  test("Similarity.centroidOutliers: planted outlier flagged, clean vectors kept") {
    val s = spark
    import s.implicits._
    // label 0: 19 vectors near (1, 0, 0) + one planted at (-1, 0, 0);
    // label 1: all identical (degenerate — sim 1.0 everywhere, and the
    // p-quantile equals it, so nothing is strictly below the threshold)
    val vecs = (0 until 19).map { i =>
      (i.toLong, Array(1.0f, 0.01f * i, 0.0f), 0)
    } :+ ((19L, Array(-1.0f, 0.0f, 0.0f), 0))
    val same = (20 until 25).map(i => (i.toLong, Array(0.5f, 0.5f, 0.0f), 1))
    val emb = (vecs ++ same).toDF("vec_id", "embedding", "label")
    val out = Similarity.centroidOutliers(emb, "label", outlierFraction = 0.1)
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(2), r.getBoolean(3)))).toMap
    assert(out.size === 25)
    assert(out(19L)._2, "the anti-aligned vector must be the outlier")
    assert(out(19L)._1 < 0.0)
    assert((0 until 19).count(i => out(i.toLong)._2) <= 1,
      "at most the quantile mass of clean vectors may be flagged")
    assert((20 until 25).forall(i => !out(i.toLong)._2),
      "a degenerate identical group has no strict-below-threshold rows")
  }

  test("Percentiles.groupedExact: two-phase form bit-identical to single-window") {
    val s = spark
    import s.implicits._
    // ties, negatives, a constant group (span=0 bucket edge), a
    // singleton group, and non-finite values — the bucket-boundary
    // cases the two-phase decomposition has to get right. NaN sorts
    // LAST under Spark's ordering (so it must reach the top bucket),
    // ±Inf collapses the bucket span, and a group mixing all three
    // exercises the NaN-excluded min/max stats — exactly the r8-ADVICE
    // divergence the when-chain routing fixed
    val d = ((1 to 200).map(i => ("a", (i % 37).toDouble - 5.0)) ++
      (1 to 50).map(_ => ("c", 7.0)) ++
      Seq(("s", 42.0)) ++
      (1 to 20).map(i => ("nan", if (i % 4 == 0) Double.NaN else i.toDouble)) ++
      Seq(("inf", Double.NegativeInfinity), ("inf", -1.0), ("inf", 3.0),
        ("inf", Double.PositiveInfinity)) ++
      Seq(("mix", Double.NaN), ("mix", Double.PositiveInfinity),
        ("mix", Double.NegativeInfinity), ("mix", 0.0), ("mix", 5.0)) ++
      Seq(("allnan", Double.NaN), ("allnan", Double.NaN))).toDF("g", "v")
    val probs = Seq(0.0, 0.25, 0.5, 0.9, 1.0)
    val one = graft.operators.Percentiles
      .groupedExact(d, "g", "v", probs, singleWindow = true)
    val two = graft.operators.Percentiles
      .groupedExact(d, "g", "v", probs, singleWindow = false)
    // the two-phase plan really took the bucketed path: composite
    // (g, __b) window keys, never a group-only running sum over values
    val tp = two.queryExecution.analyzed.toString
    assert(tp.contains("__b"), tp)
    val k = (r: org.apache.spark.sql.Row) => r.getString(0)
    // "bit-identical" literally: NaN compares unequal to itself under
    // Scala numeric ==, so compare doubles by their raw bit pattern
    val bits = (s: Seq[Any]) => s.map {
      case d: Double => java.lang.Double.doubleToLongBits(d)
      case x => x
    }
    val o = one.collect().map(r => k(r) -> bits(r.toSeq)).toMap
    val t = two.collect().map(r => k(r) -> bits(r.toSeq)).toMap
    assert(o === t)
    // and the values themselves are the interpolated ranks
    val b = (d: Double) => java.lang.Double.doubleToLongBits(d)
    assert(o("s")(1) === b(42.0) && o("c")(3) === b(7.0))
    // the NaN/Inf routing keeps finite ranks exact: p0 of the NaN-mixed
    // group is its smallest finite value, p50 of the ±Inf/NaN group is
    // the middle of the 5-value sort order (NaN last)
    assert(o("nan")(1) === b(1.0) && o("mix")(3) === b(5.0))
    assert(o("allnan")(3) === b(Double.NaN))
  }

  test("Percentiles.groupedExactSelect: matches groupedExact on mixed fixtures") {
    val s = spark
    import s.implicits._
    // ties, negatives, constant group, singleton, near-unique group,
    // and null values (rank-space excluded) — selection must agree
    // with the histogram form bit-for-bit on finite domains
    val d = ((1 to 200).map(i => ("a", Option((i % 37).toDouble - 5.0))) ++
      (1 to 50).map(_ => ("c", Option(7.0))) ++
      Seq(("s", Option(42.0)), ("a", Option.empty[Double])) ++
      (1 to 300).map(i => ("u", Option(i * 1.7 - 150.0))))
      .toDF("g", "v")
    val probs = Seq(0.0, 0.25, 0.5, 0.9, 1.0)
    val hist = graft.operators.Percentiles
      .groupedExact(d, "g", "v", probs, singleWindow = true)
      .collect().map(r => r.getString(0) -> r.toSeq).toMap
    val sel = graft.operators.Percentiles
      .groupedExactSelect(d, "g", "v", probs, accuracy = 100)
      .collect().map(r => r.getString(0) -> r.toSeq).toMap
    assert(sel === hist)
    // the low accuracy above forces WIDE bands (rank width ~4% of the
    // group) — correctness must not depend on the band being narrow
    val selTight = graft.operators.Percentiles
      .groupedExactSelect(d, "g", "v", probs, accuracy = 10000)
      .collect().map(r => r.getString(0) -> r.toSeq).toMap
    assert(selTight === hist)
  }

  test("Percentiles.groupedExactSelect: broadcast-lookup regime (many groups) matches groupedExact") {
    val s = spark
    import s.implicits._
    // 150 groups (> LitChainMaxGroups=64) forces the broadcast lookup
    // join path for pass 2 — same answers as the histogram form,
    // including a null group key (the join is null-safe)
    val d = (0 until 150).flatMap { g =>
      val key = if (g == 0) Option.empty[String] else Option(f"g$g%03d")
      (1 to 40).map(i => (key, ((i * 31 + g * 7) % 97).toDouble))
    }.toDF("g", "v")
    val probs = Seq(0.25, 0.5, 0.9)
    val hist = graft.operators.Percentiles
      .groupedExact(d, "g", "v", probs, singleWindow = true)
      .collect().map(r => Option(r.getString(0)) -> r.toSeq).toMap
    val sel = graft.operators.Percentiles
      .groupedExactSelect(d, "g", "v", probs, accuracy = 1000)
      .collect().map(r => Option(r.getString(0)) -> r.toSeq).toMap
    assert(sel.size === 150)
    assert(sel === hist)
  }

  test("Percentiles.groupedExactSelect: small groups re-guard by rank (sf0.001 regression)") {
    // the sf0.001 plan audit caught the percentage guard collapsing
    // below one rank when n < accuracy: group A (~2k rows) missed rank
    // 1764 at p=0.9. The small-group re-pass must make this exact.
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val probs = Seq(0.0, 0.25, 0.5, 0.9, 1.0)
    val hist = graft.operators.Percentiles
      .groupedExact(li, "l_returnflag", "l_extendedprice", probs,
        singleWindow = true)
      .collect().map(r => r.getString(0) -> r.toSeq).toMap
    val sel = graft.operators.Percentiles
      .groupedExactSelect(li, "l_returnflag", "l_extendedprice", probs)
      .collect().map(r => r.getString(0) -> r.toSeq).toMap
    assert(sel === hist)
  }

  test("Percentiles.groupedExactSelect: NaN input fails loudly, never misranks") {
    val s = spark
    import s.implicits._
    val d = Seq(("a", 1.0), ("a", Double.NaN), ("a", 3.0)).toDF("g", "v")
    val e = intercept[IllegalArgumentException] {
      graft.operators.Percentiles.groupedExactSelect(d, "g", "v", Seq(0.5))
    }
    assert(e.getMessage.contains("NaN"))
  }

  test("Dsir.importanceSelect: target-like docs outrank, keepFraction=1 keeps all") {
    val s = spark
    import s.implicits._
    val raw = Seq(
      (1L, "the cat sat on the mat"),      // target-like
      (2L, "the dog sat on the log"),      // target-like
      (3L, "xyzzy qwerty plugh foobar"),   // nothing in common
      (4L, "the cat ran to the log"))      // target-like
      .toDF("doc_id", "text")
    val target = Seq(
      (10L, "the cat sat"), (11L, "the dog ran on the mat"))
      .toDF("doc_id", "text")
    val out = Dsir.importanceSelect(raw, target, buckets = 1024,
      keepFraction = 0.5).collect()
      .map(r => r.getLong(0) -> (r.getDouble(2), r.getBoolean(3))).toMap
    // the alien doc scores strictly below every target-like doc and
    // falls outside the kept half
    assert(Seq(1L, 2L, 4L).forall(id => out(id)._1 > out(3L)._1))
    assert(!out(3L)._2)
    // the kept set is the upper half of the score order (ties at the
    // interpolated threshold may keep one extra, never the alien doc)
    val kept = out.values.count(_._2)
    assert(kept >= 2 && kept <= 3, out.toString)
    // keepFraction = 1: threshold is the minimum score, everything keeps
    val all = Dsir.importanceSelect(raw, target, buckets = 1024,
      keepFraction = 1.0).collect()
    assert(all.forall(_.getBoolean(3)))
  }

  test("editDistancePairs: blocked candidates only, exact distances") {
    val out = TextDedup.editDistancePairs(docs(
      1L -> "alpha beta gamma delta epsilon",
      2L -> "alpha beta gamma delta epsilom", // 1 edit, same block
      3L -> "alpha beta gamma delta epsilon", // exact dup of 1
      4L -> "zeta eta theta iota kappa"),     // different block
      prefixK = 3, maxDist = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("dist")).toMap
    assert(out === Map((1L, 2L) -> 1L, (1L, 3L) -> 0L, (2L, 3L) -> 1L))
  }

  test("boilerplateStrip: corpus-frequent segments drop everywhere, " +
      "rare repeats survive") {
    val out = TextDedup.boilerplateStrip(docs(
      1L -> "a b x y", // "a b" appears in 2 distinct docs → boilerplate
      2L -> "a b q r",
      3L -> "u v",     // unique segment → kept
      4L -> "",        // zero tokens → one empty segment, kept
      5L -> "m n m n"  // within-doc repeat only: df = 1 → NOT boilerplate
    ), width = 2, minDocs = 2).collect().map(r =>
      r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_segments"), r.getAs[Long]("n_dropped"),
          r.getAs[String]("clean_text"))).toMap
    assert(out(1L) === ((2L, 1L, "x y")))
    assert(out(2L) === ((2L, 1L, "q r")))
    assert(out(3L) === ((1L, 0L, "u v")))
    assert(out(4L) === ((1L, 0L, "")))
    assert(out(5L) === ((2L, 0L, "m n m n")))
  }

  test("clusterRepresentatives: longest member wins, ties to min doc_id") {
    val s = spark
    import s.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("da", "db")
    val corpus = Seq((1L, 5L), (2L, 9L), (3L, 9L), (10L, 4L), (11L, 4L))
      .toDF("doc_id", "n_chars")
    val out = TextDedup.clusterRepresentatives(pairs, corpus).collect()
      .map(r => r.getAs[Long]("component") ->
        (r.getAs[Long]("n_members"), r.getAs[Long]("rep_doc_id"),
          r.getAs[Long]("rep_chars"))).toMap
    assert(out === Map(
      1L -> ((3L, 2L, 9L)),   // chars 9 tie between 2 and 3 → min doc_id
      10L -> ((2L, 10L, 4L)))) // chars 4 tie → doc 10
  }

  test("cdcChunkStats: identical docs fully dup; a prefix edit disturbs " +
      "exactly one chunk (boundary realignment)") {
    val s = spark
    import s.implicits._
    val t = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16"
    val corpus = Seq(
      (1L, t, "s1"),            // reference chunking, alone in s1
      (2L, t, "s2"),            // same text twice in s2 …
      (3L, t, "s2"),            // … → all chunks duplicated
      (4L, t, "s3"),            // vs a prefix-edited twin in s3
      (5L, "zzz " + t, "s3")
    ).toDF("doc_id", "text", "source")
    val out = TextDedup.cdcChunkStats(corpus, modulus = 4).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_chunks"), r.getAs[Long]("n_distinct"),
          r.getAs[Double]("dup_frac"))).toMap
    val k = out("s1")._1 // chunks of the reference text
    assert(out("s1")._2 === k) // all-distinct tokens → no within-doc dups
    assert(out("s2") === ((2 * k, k, 0.5))) // exact twin: every chunk dup
    // CDC property: the inserted prefix token changes ONLY the first
    // chunk — every chunk after the first boundary realigns, so s3 has
    // exactly one chunk s1 doesn't
    assert(out("s3")._2 === k + 1)
  }

  test("qualityBlend: percent-rank average with ties, bucket from blend") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (1L, "a", 1L), (2L, "a b", 3L), (3L, "a b c", 5L), (4L, "a b c", 5L))
      .toDF("doc_id", "text", "n_chars")
    val out = TextAnalysis.qualityBlend(corpus).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Double]("blend"), r.getAs[Int]("bucket"))).toMap
    assert(out(1L) === ((0.0, 0)))
    assert(out(2L) === ((0.333333333, 3))) // 1/3 of rows below, rounded 9dp
    assert(out(3L) === ((0.666666667, 6))) // tie with doc 4: same rank
    assert(out(4L) === out(3L))
  }

  test("splitLeakage: only cross-split near-dup pairs, val doc first") {
    val s = spark
    import s.implicits._
    // four exact-dup pairs; seeded split decides which cross the
    // boundary — recompute the labels and check agreement + orientation
    val corpus = Seq(
      (1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "one two three four"), (4L, "one two three four"),
      (5L, "red green blue cyan"), (6L, "red green blue cyan"),
      (7L, "north south east west"), (8L, "north south east west"))
      .toDF("doc_id", "text")
    val splits = Sampling.trainValSplit(corpus, 0.5, seed = "lk")
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = Seq((1L, 2L), (3L, 4L), (5L, 6L), (7L, 8L))
      .filter { case (a, b) => splits(a) != splits(b) }
      .map { case (a, b) => if (splits(a) == "val") (a, b) else (b, a) }
      .toSet
    assert(expected.nonEmpty, s"degenerate seed: all pairs same split ($splits)")
    val out = graft.llm.Curation
      .splitLeakage(corpus, valFraction = 0.5, seed = "lk", threshold = 0.9)
      .collect().map(r => (r.getAs[Long]("val_doc"),
        r.getAs[Long]("train_doc"))).toSet
    assert(out === expected)
    // boundary fractions: nothing can cross an all-val or all-train split
    assert(graft.llm.Curation
      .splitLeakage(corpus, valFraction = 1.0, seed = "lk").isEmpty)
    assert(graft.llm.Curation
      .splitLeakage(corpus, valFraction = 0.0, seed = "lk").isEmpty)
  }

  test("paddingEfficiency: bucket ceilings, exact multiples pad zero") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (1L, ""),                                  // 0 tokens → bucket 0
      (2L, "w"),                                 // 1 token  → pad 31
      (3L, Seq.fill(32)("w").mkString(" ")),     // exact multiple → pad 0
      (4L, Seq.fill(33)("w").mkString(" ")))     // 33 → pad 31, ceil 64
      .toDF("doc_id", "text")
    val out = graft.llm.Packing.paddingEfficiency(corpus, bucketWidth = 32)
      .collect().map(r => r.getAs[Long]("bucket_ceil") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("n_padding"), r.getAs[Double]("pad_frac"))).toMap
    assert(out(0L) === ((1L, 0L, 0L, 0.0))) // 0/0 guarded to 0, not NaN
    assert(out(32L) === ((2L, 33L, 31L, 31.0 / 64)))
    assert(out(64L) === ((1L, 33L, 31L, 31.0 / 64)))
  }

  test("verbatimSpans: cross-doc k-spans strip; within-doc repeats keep") {
    val out = TextDedup.verbatimSpans(docs(
      1L -> "a b c d e f",                 // shares "a b c d e" with doc 2
      2L -> "x y a b c d e z",             // same span mid-document
      3L -> "p q r",                       // < k tokens → no grams
      4L -> "m n o p q m n o p q"          // repeats only WITHIN itself
    ), k = 5).collect().map(r =>
      r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_covered"),
          r.getAs[String]("clean_text"))).toMap
    assert(out(1L) === ((6L, 5L, "f")))
    assert(out(2L) === ((8L, 5L, "x y z")))
    assert(out(3L) === ((3L, 0L, "p q r")))
    assert(out(4L) === ((10L, 0L, "m n o p q m n o p q")))
  }

  test("stripSpans: eval spans strip in place, the doc survives") {
    val out = graft.llm.Decontaminate.stripSpans(
      docs(
        1L -> "intro a b c d e outro",  // quotes the eval sentence
        2L -> "p q r s t u",            // clean
        3L -> "a b c d"),               // < k tokens: can't leak a 5-gram
      docs(10L -> "a b c d e"),
      k = 5).collect().map(r =>
        r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_covered"),
            r.getAs[String]("clean_text"))).toMap
    assert(out(1L) === ((7L, 5L, "intro outro"))) // sentence gone, doc kept
    assert(out(2L) === ((6L, 0L, "p q r s t u")))
    assert(out(3L) === ((4L, 0L, "a b c d")))
  }

  test("sourceQualityRank: ranks are per-source, singletons rank 0") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      // s1: lengths 1 < 2 < 3 — ranks 0, 0.5, 1
      (1L, "a", "s1"), (2L, "a b", "s1"), (3L, "a b c", "s1"),
      // s2: the SAME length as doc 3 ranks 0 here (its source is longer)
      (4L, "a b c", "s2"), (5L, "a b c d e f", "s2"),
      (6L, "solo", "s3")) // single-doc source: PERCENT_RANK's N=1 → 0
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.sourceQualityRank(corpus).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Double]("pr_source"), r.getAs[Int]("bucket"))).toMap
    assert(out(1L) === ((0.0, 0)))
    assert(out(2L) === ((0.5, 5)))
    assert(out(3L) === ((1.0, 9)))
    assert(out(4L) === ((0.0, 0))) // same 3 tokens, different distribution
    assert(out(5L) === ((1.0, 9)))
    assert(out(6L) === ((0.0, 0)))
  }

  test("quantizeInt8: exact codes, checksum, and reconstruction error") {
    val s = spark
    import s.implicits._
    val emb = Seq(
      (1L, Seq(0.0f, 1.0f, 0.5f)),
      (2L, Seq(2.0f, 2.0f))) // constant vector: span 0 → code 0, err 0
      .toDF("vec_id", "embedding")
    val out = Similarity.quantizeInt8(emb).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("code_sum"), r.getAs[Double]("recon_err"))).toMap
    // codes: 0, 255, floor(0.5*255 + 0.5) = 128
    assert(out(1L)._1 === 383L)
    val expectedErr = math.pow(0.5 - 128.0 * 1.0 / 255.0, 2)
    assert(math.abs(out(1L)._2 - expectedErr) < 1e-15)
    assert(out(2L) === ((0L, 0.0)))
  }
}
