package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Unit + scale-plan coverage for the LLM-data-pipeline layer. The
  * value-level correctness of every operator is hash-checked against
  * DuckDB by the driver harness (q27-q42); these tests pin the
  * semantics on hand-built micro-corpora and assert the 100 TB plan
  * properties the harness can't see: no CartesianProduct in any
  * dedup/similarity plan (candidate generation must be equi-keyed).
  */
class LlmLayerSpec extends AnyFunSuite with SparkSpec {

  private def docs(rows: (Long, String)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  private lazy val corpus = docs(
    1L -> "the quick brown fox jumps over the lazy dog",
    2L -> "the quick brown fox jumps over the lazy cat", // near-dup of 1
    3L -> "completely different content about spark engines here",
    4L -> "the quick brown fox jumps over the lazy dog", // exact dup of 1
    5L -> "tiny")

  private def assertNoCartesian(df: DataFrame): Unit = {
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"plan must not contain a cartesian product:\n$plan")
  }

  test("exactDupGroups: identical texts collapse, keeper is min doc_id") {
    val out = TextDedup.exactDupGroups(corpus).collect()
    val dup = out.filter(_.getAs[Long]("n_copies") > 1)
    assert(dup.length === 1)
    assert(dup.head.getAs[Long]("keeper_id") === 1L)
    assert(dup.head.getAs[Long]("n_copies") === 2L)
    assert(out.length === 4) // 4 distinct contents
  }

  test("minhashLshPairs: finds near+exact dup pairs, no cartesian") {
    val q = TextDedup.minhashLshPairs(corpus, shingleK = 3,
      nHashes = 12, bands = 4, threshold = 0.5)
    assertNoCartesian(q)
    val out = q.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // exact dups (jaccard 1.0) always collide in every band
    assert(out.get((1L, 4L)).contains(1.0))
    assert(!out.keySet.exists(p => p._1 == 3L || p._2 == 3L)) // 3 unrelated
    // (1,2)/(2,4) at jaccard 0.75 are probabilistic LSH candidates
    // (P ≈ 0.89 at r=3,b=4) — assert the value only when surfaced
    out.get((1L, 2L)).foreach(j => assert(j === 0.75))
  }

  test("ngramJaccardPairs: exact jaccard via inverted index, no cartesian") {
    val q = TextDedup.ngramJaccardPairs(corpus, maxDocId = None,
      shingleK = 3, threshold = 0.2)
    assertNoCartesian(q)
    val j = q.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(j((1L, 4L)) === 1.0)
    // docs 1 and 2 share 6 of their 7 distinct 3-gram shingles: 6/8
    assert(j((1L, 2L)) === 0.75)
  }

  test("simhash: exact dups share signatures; pair scan is banded, no cartesian") {
    val sig = TextDedup.simhashSignatures(corpus).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(sig(1L) === sig(4L)) // identical token multiset
    // both halves are nonnegative 32-bit values (BIGINT-safe in oracle)
    assert(sig.values.forall { case (hi, lo) =>
      hi >= 0 && hi <= 0xFFFFFFFFL && lo >= 0 && lo <= 0xFFFFFFFFL })
    val q = TextDedup.simhashPairs(corpus, maxHamming = 3)
    assertNoCartesian(q)
    val pairs = q.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L)))
  }

  test("simhash bands: 16-bit chunk key space, not the r3 64-key nibble space") {
    // random-ish corpus: the banded join key must spread past the old
    // design's TOTAL ceiling of 64 distinct (band, nibble) keys — the
    // r3 verdict's scale-killer. With 2^16 chunks per band, 40 docs
    // yield ~160 distinct keys (chunk collisions are ~2^-16).
    val many = docs((1L to 40L).map(i =>
      i -> s"doc $i token${i * 7 % 13} token${i * 11 % 17} filler${i} x${i * i}"): _*)
    val bands = TextDedup.simhashBands(TextDedup.simhashSignatures(many))
    val chunks = bands.select(col("band").cast("long"), col("chunk")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(chunks.forall { case (b, c) => b >= 0 && b < 4 && c >= 0 && c <= 65535L })
    assert(chunks.distinct.length > 64,
      s"banded key space collapsed to ${chunks.distinct.length} keys")
  }

  test("maxBucketWidth cap drops wide buckets, leaves narrow ones intact") {
    // three identical docs: every band bucket has width 3
    val triple = docs(
      1L -> "alpha beta gamma delta epsilon zeta",
      2L -> "alpha beta gamma delta epsilon zeta",
      3L -> "alpha beta gamma delta epsilon zeta")
    def pairs(cap: Option[Int]) =
      TextDedup.minhashLshPairs(triple, threshold = 0.9, maxBucketWidth = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(None) === Set((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(pairs(Some(2)) === Set.empty) // width-3 buckets all dropped
    assert(pairs(Some(3)) === Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // simhash path honors the same cap
    assert(TextDedup.simhashPairs(triple, maxBucketWidth = Some(2)).count() === 0)
    assert(TextDedup.simhashPairs(triple, maxBucketWidth = Some(3)).count() === 3)
  }

  test("dedupPipeline: exact, prefix, and near-dup stages each bite") {
    val pipe = docs(
      1L -> "a b c a b c", // base: 3-gram set {abc, bca, cab}
      2L -> "a b c a b c", // exact dup of 1 -> stage 1 drops
      3L -> "a b c a b q", // same 5-token prefix as 1 -> stage 2 drops
      // rotation: SAME 3-gram set as 1 (jaccard 1.0 -> every band
      // collides, deterministic) but different prefix and content —
      // only the LSH stage can catch it
      4L -> "b c a b c a",
      5L -> "completely different text here entirely now truly")
    val out = TextDedup.dedupPipeline(pipe, threshold = 0.5)
      .collect().map(_.getLong(0)).toSeq
    assert(out === Seq(1L, 5L))
  }

  test("decontaminate: eval-overlapping docs drop, clean and short docs keep") {
    val train = docs(
      1L -> "the quick brown fox jumps over the lazy dog", // = eval doc
      2L -> "completely different content about spark engines here",
      3L -> "ab") // < k tokens: no grams, must survive with zeros
    val eval_ = docs(100L -> "the quick brown fox jumps over the lazy dog")
    val q = Decontaminate.decontaminate(train, eval_, shingleK = 3,
      maxOverlap = 0.0)
    assertNoCartesian(q)
    val out = q.collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out.keySet === Set(2L, 3L)) // doc 1 is fully contaminated
    assert(out(3L) === ((0L, 0L, 0.0)))
    assert(out(2L)._2 === 0L)
    // a tolerant threshold keeps a partially-overlapping doc
    val part = docs(9L -> "the quick brown fox likes calm spark engines mostly")
    val kept = Decontaminate
      .decontaminate(part, eval_, shingleK = 3, maxOverlap = 0.5)
      .collect().map(r => (r.getLong(0), r.getDouble(3)))
    assert(kept.length === 1 && kept.head._1 === 9L && kept.head._2 > 0.0)
    // and the strict threshold drops it
    assert(Decontaminate
      .decontaminate(part, eval_, shingleK = 3, maxOverlap = 0.0).count() === 0)
  }

  test("gramHashArray: in-row gram assembly ≡ the window form, multiplicity included (r18)") {
    // the zero-shuffle audit kernel stands on this identity: the
    // per-row array must emit exactly the window form's gh stream
    // (same polynomial, same coef family), repeats and all
    val d = docs(
      1L -> "a b c d e a b c d", // repeated grams within the doc
      2L -> "x y z",
      3L -> "p q",               // < k tokens: empty array / no rows
      4L -> null.asInstanceOf[String])
    val win = TextDedup.gramHashes(d, 3)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("gh"))).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val arr = d
      .select(col("doc_id"), TextFns.tokenHashes(col("text")).as("hs"))
      .select(col("doc_id"),
        sort_array(TextFns.gramHashArray(col("hs"), 3)).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(arr(1L) === win(1L))
    assert(arr(1L).length === 7) // 9 tokens -> 7 grams, repeats kept
    assert(arr(2L) === win(2L) && arr(2L).length === 1)
    assert(arr(3L) === Seq.empty && !win.contains(3L))
    assert(arr(4L) === Seq.empty && !win.contains(4L))
  }

  test("decontaminate: probe and join regimes are value-identical; keep rule is explode, not Filter (r18)") {
    val train = docs(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "completely different content about spark engines here",
      3L -> "ab",
      4L -> "the quick brown fox likes calm spark engines mostly")
    val eval_ = docs(100L -> "the quick brown fox jumps over the lazy dog")
    def run(): Seq[Seq[Any]] = Decontaminate
      .decontaminate(train, eval_, shingleK = 3, maxOverlap = 0.2)
      .orderBy(col("doc_id")).collect().toSeq.map(_.toSeq)
    val probe = run()
    val joined = forced { run() }
    assert(probe === joined)
    // the probe-regime keep rule must NOT be a Filter above the stats
    // projection: pushdown would substitute the whole tokenize+md5+
    // gram+probe pipeline into the predicate (~6x re-evaluation,
    // measured 0.46 -> 7.5 s on q60 at sf0.1)
    val plan = Decontaminate
      .decontaminate(train, eval_, shingleK = 3, maxOverlap = 0.2)
      .queryExecution.executedPlan.toString
    // (the probe itself constant-folds into a LocalTableScan on this
    // micro corpus; the parquet-backed zero-shuffle plan is asserted
    // in PlanPropertiesSpec's q60 test)
    assert(!plan.contains("Join"), plan)
    assert(!plan.linesIterator.exists(l =>
      l.contains("Filter") && l.contains("graft_hash60")), plan)
  }

  test("decontaminate: the forced join form reads its eval side from the probe's checkpoint") {
    val train = docs(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "completely different content about spark engines here")
    val eval_ = docs(100L -> "the quick brown fox jumps over the lazy dog")
    val evalLeaf = eval_.queryExecution.analyzed.collectLeaves().head
    val leaves = forced {
      Decontaminate.decontaminateAudit(train, eval_, shingleK = 3)
    }.queryExecution.analyzed.collectLeaves()
    assert(leaves.exists(_.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]), leaves)
    assert(!leaves.contains(evalLeaf), leaves)
  }

  test("duplicateComponents: transitive chains close; greedy would differ") {
    val s = spark
    import s.implicits._
    // a 5-deep chain (needs >1 propagation round), a star where greedy
    // and components disagree, and an isolated pair
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (12L, 15L), (13L, 15L), (20L, 21L)).toDF("da", "db")
    val comp = TextDedup.duplicateComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 5L).forall(comp(_) == 1L))
    assert(comp(12L) === 12L && comp(13L) === 12L && comp(15L) === 12L)
    assert(comp(20L) === 20L && comp(21L) === 20L)
    // greedy keeps {12, 13} from the star (neither is ever db);
    // components keeps only 12 — the documented transitive difference
    val greedyKept = Set(12L, 13L)
    val componentsKept = comp.filter { case (d, c) => d == c }.keySet
    assert(componentsKept.intersect(Set(12L, 13L, 15L)) === Set(12L))
    assert(greedyKept !== componentsKept.intersect(Set(12L, 13L, 15L)))
  }

  test("duplicateComponents: deep chain exercises the maxIter rail") {
    val s = spark
    import s.implicits._
    // a path graph 0-1-...-25: the min label advances one hop per
    // round, so convergence needs ~diameter rounds — far past a small
    // maxIter, within a generous one
    val chain = (0L until 25L).map(i => (i, i + 1)).toDF("da", "db")
    // force the distributed loop (the default small-graph regime
    // closes a 25-edge graph on the driver and never hits the rail)
    val ex = intercept[IllegalStateException] {
      forced { TextDedup.duplicateComponents(chain, maxIter = 5, escalateAfter = 5) }
    }
    assert(ex.getMessage.contains("did not converge"))
    val comp = forced { TextDedup.duplicateComponents(chain, maxIter = 40).collect() }
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.size === 26 && comp.values.forall(_ == 0L))
  }

  test("dedupPipeline Components mode: one survivor per transitive cluster") {
    val both = for (g <- Seq(TextDedup.Grouping.Greedy,
        TextDedup.Grouping.Components))
      yield TextDedup.dedupPipeline(corpus, shingleK = 3, nHashes = 12,
        bands = 4, threshold = 0.5, prefixK = 5, grouping = g)
        .collect().map(_.getLong(0)).toSet
    // on this corpus the near-dup cluster {1, 2} is a single pair, so
    // the two modes agree; both must keep 1, 3, 5 at most
    assert(both(0) === both(1))
    assert(both(0).contains(1L) && both(0).contains(3L) && both(0).contains(5L))
    assert(!both(0).contains(4L)) // exact dup dropped at stage 1
  }

  test("sampling: deterministic, disjoint-exhaustive split, stratified fractions") {
    val s = spark
    import s.implicits._
    val d = (1L to 2000L).map(i => (i, if (i % 4 == 0) "de" else "en"))
      .toDF("doc_id", "lang")
    // split is exhaustive and disjoint, and rerun-identical
    val sp1 = Sampling.trainValSplit(d, 0.1, "42")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val sp2 = Sampling.trainValSplit(d, 0.1, "42")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(sp1 === sp2)
    assert(sp1.size === 2000)
    val nVal = sp1.values.count(_ == "val")
    assert(nVal > 120 && nVal < 280, s"val fraction off: $nVal/2000")
    // sampleCorpus under the same seed/fraction IS the val slice
    val sampled = Sampling.sampleCorpus(d, 0.1, "42")
      .collect().map(_.getLong(0)).toSet
    assert(sampled === sp1.filter(_._2 == "val").keySet)
    // a different seed produces a different (but equally stable) slice
    assert(Sampling.sampleCorpus(d, 0.1, "43")
      .collect().map(_.getLong(0)).toSet !== sampled)
    // stratified: keep all German, ~10% English, nothing by default
    val strat = Sampling.stratifiedSample(d, "lang",
        Map("de" -> 1.0, "en" -> 0.1), "42")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(strat.count(_._2 == "de") === 500)
    val en = strat.count(_._2 == "en")
    assert(en > 90 && en < 220, s"stratified en fraction off: $en/1500")
    // the sampling filter is shuffle-free (fuses into the scan)
    val plan = Sampling.sampleCorpus(d, 0.1, "42")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("prioritySample: deterministic cut, exact when k covers all, unbiased subset sums") {
    val s = spark
    import s.implicits._
    // heavy-tailed weights so the estimator actually has work to do
    val d = (1L to 300L).map(i => (i, 1.0 + 5000.0 / i))
      .toDF("doc_id", "w")
    // partition-invariant and rerun-stable
    val a = Sampling.prioritySample(d.repartition(1), "w", 10, "sA")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
    val b = Sampling.prioritySample(d.repartition(7), "w", 10, "sA")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
    assert(a.sortBy(_._1) === b.sortBy(_._1))
    // k >= N: tau = 0, every item kept, estimates are the exact weights
    val all = Sampling.prioritySample(d, "w", 400, "sA")
      .collect().map(r => r.getLong(1) -> (r.getDouble(2), r.getDouble(4)))
    assert(all.length === 300)
    all.foreach { case (id, (wt, est)) => assert(est === wt, s"doc $id") }
    // zero/negative weights are never sampled
    val withBad = d.union(Seq((900L, 0.0), (901L, -3.0)).toDF("doc_id", "w"))
    val ids = Sampling.prioritySample(withBad, "w", 400, "sA")
      .collect().map(_.getLong(1)).toSet
    assert(!ids.contains(900L) && !ids.contains(901L))
    // unbiasedness: E[sum of w_est over the sample] = total weight;
    // average over many independent seeds converges (LLN band)
    val total = (1L to 300L).map(i => 1.0 + 5000.0 / i).sum
    val est = (1 to 60).map { sd =>
      Sampling.prioritySample(d, "w", 10, s"seed$sd")
        .agg(sum(col("w_est"))).collect()(0).getDouble(0)
    }
    val mean = est.sum / est.length
    assert(math.abs(mean - total) / total < 0.15,
      s"estimator mean $mean vs true $total")
    // per-group variant: a single group IS the global sample, and
    // with two groups each gets its own independent k-quota
    val one = Sampling.prioritySamplePerGroup(
      d.withColumn("g", lit("x")), "g", "w", 10, "sA")
      .collect().map(r => (r.getLong(2), r.getDouble(5))).sortBy(_._1)
    val glob = Sampling.prioritySample(d, "w", 10, "sA")
      .collect().map(r => (r.getLong(1), r.getDouble(4))).sortBy(_._1)
    assert(one === glob)
    val two = Sampling.prioritySamplePerGroup(
      d.withColumn("g", col("doc_id") % 2), "g", "w", 10, "sA")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(two.count(_._1 == 0L) === 10 && two.count(_._1 == 1L) === 10)
  }

  test("matryoshka: full-width prefix equals brute force; coarse head gates recall") {
    val s = spark
    import s.implicits._
    val emb = s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // prefixDims = dims degenerates to plain brute force (pool covers k)
    val m = Similarity.matryoshkaTopK(emb, prefixDims = 64,
      nQueries = 3, nCandidates = 20, k = 5)
      .select(col("query_id"), col("rnk"), col("vec_id"), col("sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    val b = Similarity.bruteForceTopK(emb, nQueries = 3, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(m === b)
    // the documented failure mode: a vector whose PREFIX is orthogonal
    // to the query never reaches the rerank, however good its tail
    def v(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    val planted = Seq(
      (0L, v(1, 0, 0, 0), 0),
      (1L, v(0.9, 0.1, 0, 0), 0),   // prefix-visible hit
      (2L, v(0, 1, 0.9, 0), 1),     // prefix ⊥ query, tail irrelevant
      (3L, v(0.5, 0.5, 0, 0), 0)).toDF("vec_id", "embedding", "label")
    val got = Similarity.matryoshkaTopK(planted, prefixDims = 2,
      nQueries = 1, nCandidates = 2, k = 2)
      .collect().map(_.getLong(2)).toSet
    assert(got === Set(1L, 3L) && !got.contains(2L))
  }

  test("hardNegatives: only label-mismatched vectors surface, ranked " +
      "by similarity") {
    val s = spark
    import s.implicits._
    def v(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    // query 0 (label 0): id1 same-label near-dup must NOT appear;
    // id2/id3 are the negatives, id2 closer
    val emb = Seq(
      (0L, v(1.0, 0.0, 0, 0), 0),
      (1L, v(0.99, 0.1, 0, 0), 0),  // same label: excluded however close
      (2L, v(0.9, 0.4, 0, 0), 1),
      (3L, v(0.0, 1.0, 0, 0), 1)).toDF("vec_id", "embedding", "label")
    val got = Similarity.hardNegatives(emb, nQueries = 1, k = 2)
      .orderBy(col("rnk")).collect()
      .map(r => (r.getAs[Long]("rnk"), r.getAs[Long]("vec_id")))
    assert(got.toSeq === Seq((1L, 2L), (2L, 3L)))
  }

  test("filteredTopK: prefilter returns k qualifying rows where " +
      "postfilter comes up short") {
    val s = spark
    import s.implicits._
    def v(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    // query 0 (label 0). The global top-2 (ids 1, 2) are label 1, so
    // POSTfilter at k=2 keeps nothing of label 0; PREfilter finds the
    // true label-0 top-2 (ids 3, 4)
    val emb = Seq(
      (0L, v(1.0, 0.0, 0, 0), 0),
      (1L, v(0.99, 0.05, 0, 0), 1),
      (2L, v(0.98, 0.1, 0, 0), 1),
      (3L, v(0.8, 0.5, 0, 0), 0),
      (4L, v(0.1, 1.0, 0, 0), 0)).toDF("vec_id", "embedding", "label")
    val rows = Similarity.filteredTopK(emb, nQueries = 1, k = 2)
      .collect().map(r => (r.getAs[String]("mode"), r.getAs[Long]("rnk"),
        r.getAs[Long]("vec_id")))
    val pre = rows.filter(_._1 == "pre").sortBy(_._2).map(_._3).toSeq
    val post = rows.filter(_._1 == "post").toSeq
    assert(pre === Seq(3L, 4L))
    assert(post.isEmpty, "head crowded by other labels -> empty postfilter")
  }

  test("kcenterCoreset: exact farthest-point traversal on planted " +
      "geometry") {
    val s = spark
    import s.implicits._
    def v(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    // seed = smallest id (0, at origin). Farthest from {0}: id1 at
    // d2=100 (id4 planted NEAR id1 so its 90.25 loses). Farthest
    // from {0,1}: id2 (36) — id3/id4 are satellites of selections
    val emb = Seq(
      (0L, v(0.0, 0.0, 0, 0), 0),
      (1L, v(10.0, 0.0, 0, 0), 0),
      (2L, v(0.0, 6.0, 0, 0), 1),
      (3L, v(0.5, 0.0, 0, 0), 0),
      (4L, v(9.5, 0.0, 0, 0), 0)).toDF("vec_id", "embedding", "label")
    val got = Similarity.kcenterCoreset(emb, k = 3)
      .orderBy(col("rnk")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq === Seq((1L, 0L, 0.0), (2L, 1L, 100.0),
      (3L, 2L, 36.0)))
    // coverage radii are non-increasing past the seed — the k-center
    // stopping diagnostic the scaladoc promises
    assert(got.drop(1).map(_._3).toSeq.sliding(2).forall {
      case Seq(a, b) => a >= b
      case _ => true
    })
    // k larger than the corpus: selection stops at the pool, no crash
    val all = Similarity.kcenterCoreset(emb, k = 10).collect()
    assert(all.length === 5)
  }

  test("mmrRerank: near-dup candidates are diversified away, rnk is selection order") {
    val s = spark
    import s.implicits._
    // query 0; candidates: 1 & 2 are near-identical top hits, 3 is a
    // distinct direction with lower relevance
    def v(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    // 1 and 2 are cosine-identical to the query (and to each other);
    // 3 is distinct (cos 0.6 to both). At a diversity-heavy lambda,
    // step-2 scores: dup = 0.3·1 − 0.7·1 = −0.4 vs
    // distinct = 0.3·0.6 − 0.7·0.6 = −0.24 → the distinct wins
    val emb = Seq(
      (0L, v(1.0, 0.0, 0.0, 0.0), 0),
      (1L, v(2.0, 0.0, 0.0, 0.0), 0),
      (2L, v(3.0, 0.0, 0.0, 0.0), 0),
      (3L, v(3.0, 4.0, 0.0, 0.0), 1)).toDF("vec_id", "embedding", "label")
    val out = Similarity.mmrRerank(emb, nQueries = 1, nCandidates = 3,
      k = 2, lambda = 0.3)
    try {
      val rows = out.collect()
        .map(r => r.getLong(1) -> r.getLong(2)).toMap
      // step 1 = pure relevance (one of the near-dups); step 2 must
      // DIVERSIFY to vector 3 — pure relevance would pick the other dup
      assert(Set(1L, 2L).contains(rows(1L)))
      assert(rows(2L) === 3L, s"expected diversified pick, got $rows")
      // rnk 1's mmr equals its qsim (no penalty on the first pick)
      val first = out.filter(col("rnk") === 1).collect()(0)
      assert(first.getDouble(3) === first.getDouble(4))
    } finally graft.operators.Checkpoints.release(out)
  }

  test("incrementGate: dup/contaminated/short dropped, clean kept with contiguous order") {
    val s = spark
    import s.implicits._
    val history = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely different historical content about engines here today"))
      .toDF("doc_id", "text")
    val eval = Seq(
      (100L, "secret benchmark answer phrase goes here"))
      .toDF("doc_id", "text")
    val inc = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today"), // near-dup of 1
      (11L, "secret benchmark answer phrase goes here verbatim leak"), // contaminated
      (12L, "too short"), // quality fail
      (13L, "fresh clean novel writing about completely new topics one"),
      (14L, "another fresh clean novel document with brand new words two"))
      .toDF("doc_id", "text")
    val out = graft.llm.Curation
      .incrementGate(history, eval, inc, minTokens = 5)
      .collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getDouble(3),
        r.getBoolean(5), r.getBoolean(7),
        if (r.isNullAt(8)) -1L else r.getLong(8)))).toMap
    assert(out.size === 5)
    assert(out(10L)._1, "near-dup flagged")          // is_dup
    assert(out(11L)._2 > 0.2, "contamination overlap")
    assert(!out(12L)._3, "short doc fails quality")
    assert(!out(10L)._4 && !out(11L)._4 && !out(12L)._4)
    assert(out(13L)._4 && out(14L)._4, "clean docs kept")
    // kept docs get contiguous deterministic order 1..k; dropped get NULL
    assert(Set(out(13L)._5, out(14L)._5) === Set(1L, 2L))
    assert(out(10L)._5 === -1L && out(11L)._5 === -1L && out(12L)._5 === -1L)
  }

  test("jsonl quarantine: valid rows parse, corrupt rows keep their raw line, audit counts") {
    val s = spark
    import s.implicits._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType)))
    val lines = Seq(
      """{"id":1,"v":"ok"}""",
      """{"id":2,"v":"fine"}""",
      """{"id":3,"v":"trunc""", // cut-off feed
      """not json at all""",
      "", // trailing-newline blank: NULL struct, must quarantine
      "   ", // whitespace-only: same
      """{"id":5}""" // valid JSON, missing field -> null v, still valid
    ).toDF("line")
    val out = graft.llm.Ingest.parseJsonlQuarantine(lines, schema)
      .collect().map(r => (r.getString(0), r.getBoolean(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) null else r.getString(3))).toSeq
    assert(out.count(_._2) === 3)
    assert(out.filter(_._2).map(_._3).sorted === Seq(1L, 2L, 5L))
    // quarantined rows preserve the raw bytes for replay
    val bad = out.filterNot(_._2).map(_._1).toSet
    assert(bad === Set("""{"id":3,"v":"trunc""", "not json at all", "", "   "))
    // parse is a pure projection: no exchange in the plan
    val plan = graft.llm.Ingest.parseJsonlQuarantine(lines, schema)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    val audit = graft.llm.Ingest.ingestAudit(lines, schema).collect()(0)
    assert((audit.getLong(0), audit.getLong(1), audit.getLong(2)) ===
      ((7L, 3L, 4L)))
    assert(audit.getDouble(3) === 3.0 / 7.0)
    // a NULL line (a null-projecting upstream) quarantines, never NPEs
    val withNull = lines.union(Seq(null.asInstanceOf[String]).toDF("line"))
    val nullRow = graft.llm.Ingest.parseJsonlQuarantine(withNull, schema)
      .filter(col("line").isNull).collect()
    assert(nullRow.length === 1 && !nullRow(0).getBoolean(1))
    // an EMPTY batch reports zeros and a vacuous 1.0, never NULLs a
    // threshold gate can't evaluate
    val empty = graft.llm.Ingest
      .ingestAudit(lines.filter(lit(false)), schema).collect()(0)
    assert((empty.getLong(0), empty.getLong(1), empty.getLong(2),
      empty.getDouble(3)) === ((0L, 0L, 0L, 1.0)))
    // reserved output names are rejected loudly
    val badSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("is_valid",
        org.apache.spark.sql.types.StringType)))
    intercept[IllegalArgumentException](
      graft.llm.Ingest.parseJsonlQuarantine(lines, badSchema))
  }

  test("pairGraphCentrality: hub out-masses leaves, integer-deterministic, partition-invariant") {
    val s = spark
    import s.implicits._
    // star: hub 1 paired with leaves 2..9, plus an isolated pair (20, 21)
    val pairs = ((2L to 9L).map(l => (1L, l)) :+ ((20L, 21L)))
      .toDF("da", "db")
    val out = TextDedup.pairGraphCentrality(pairs, iters = 3)
    try {
      val m = out.collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(m.size === 11) // hub + 8 leaves + the isolated pair
      assert(m(1L)._2 === 8L) // hub degree
      val hub = m(1L)._1
      (2L to 9L).foreach(l => assert(hub > m(l)._1, s"hub vs leaf $l"))
      // the isolated pair is symmetric: identical masses
      assert(m(20L) === m(21L))
      // total mass never exceeds the injected total (truncation only leaks)
      val total = m.values.map(_._1).sum
      assert(total <= 11L * 1000000000000L)
      // integer arithmetic => bit-stable across partitionings
      val out7 = TextDedup.pairGraphCentrality(pairs.repartition(7), iters = 3)
      try {
        val m7 = out7.collect()
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
        assert(m7 === m)
      } finally graft.operators.Checkpoints.release(out7)
    } finally graft.operators.Checkpoints.release(out)
  }

  test("trainingOrder: exact permutation, partition-invariant, distributed ranks") {
    val s = spark
    import s.implicits._
    val d = (1L to 5000L).map(Tuple1(_)).toDF("doc_id")
    val ord = Sampling.trainingOrder(d, "ep1")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // a true permutation: ranks are exactly 1..N, each once
    assert(ord.values.toSeq.sorted === (1L to 5000L))
    // rank order IS the (hash, key) order — spot-check against the
    // single-window form the q143 oracle uses
    val winForm = d
      .withColumn("h", graft.llm.TextFns.hash60(
        concat_ws("|", lit("ep1"), col("doc_id").cast("string"))))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("h"), col("doc_id"))).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(ord === winForm)
    // partition-invariant
    val ord7 = Sampling.trainingOrder(d.repartition(7), "ep1")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ord7 === ord)
    // a new epoch (seed) is a different permutation
    val ep2 = Sampling.trainingOrder(d, "ep2")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ep2 !== ord)
    // the distributed form never runs an UNPARTITIONED window over
    // the CORPUS: walk the optimized plan — any Window whose partition
    // spec is empty must sit on the bucket-count-bounded offset frame
    // (an Aggregate child), never directly on the input rows
    val optimized = Sampling.trainingOrder(d, "ep1")
      .queryExecution.optimizedPlan
    val unpartitioned = optimized.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
    }
    assert(unpartitioned.nonEmpty, "expected the tiny offset-frame window")
    unpartitioned.foreach { w =>
      val aggBelow = w.child.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }
      assert(aggBelow.nonEmpty,
        s"unpartitioned window not on an aggregated (bounded) frame:\n$w")
    }
  }

  test("probeMinhashIndex: new batch meets corpus index, no re-signature, no cartesian") {
    val corpusDocs = docs(
      1L -> "the quick brown fox jumps over the lazy dog",
      3L -> "completely different content about spark engines here",
      5L -> "tiny")
    val batch = docs(
      2L -> "the quick brown fox jumps over the lazy cat", // near-dup of 1
      6L -> "nothing like anything in the corpus at all today")
    val (buckets, sets) = TextDedup.minhashIndex(corpusDocs,
      shingleK = 3, nHashes = 12, bands = 4)
    val q = TextDedup.probeMinhashIndex(batch, buckets, sets,
      shingleK = 3, nHashes = 12, bands = 4, threshold = 0.5)
    assertNoCartesian(q)
    val hits = q.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // jaccard(1,2) = 0.75 over 3-shingles; LSH surfaces it with
    // P ≈ 0.89 — assert the value only when the candidate is surfaced,
    // exactly like the q30 unit test
    hits.get((2L, 1L)).foreach(j => assert(j === 0.75))
    assert(!hits.keySet.exists(_._1 == 6L)) // unrelated doc: no match
    assert(!hits.keySet.exists(p => p._1 == p._2))
    // a re-crawled UNCHANGED doc (same doc_id, same text, already in
    // the index) must not pair with itself — the degenerate
    // (id, id, 1.0) row would make a naive consumer drop the corpus's
    // only copy
    val recrawl = docs(1L -> "the quick brown fox jumps over the lazy dog")
    val re = TextDedup.probeMinhashIndex(recrawl, buckets, sets,
      shingleK = 3, nHashes = 12, bands = 4, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!re.contains((1L, 1L)), s"self-pair leaked: $re")
    // probing must equal what full self-dedup over corpus ∪ batch
    // would report for cross pairs (same hash family on both paths)
    val full = TextDedup.minhashLshPairs(corpusDocs.union(batch),
      shingleK = 3, nHashes = 12, bands = 4, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    hits.foreach { case ((n, c), j) =>
      assert(full.get((math.min(n, c), math.max(n, c))).contains(j),
        s"probe pair ($n,$c) missing from full dedup")
    }
  }

  test("datasetCard: one-row summary with exact distinct counts, no Expand") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "a b c", "en", "s1", 5L),
      (2L, "a b c", "en", "s2", 5L), // exact dup of 1
      (3L, "x y", "de", "s1", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val card = TextAnalysis.datasetCard(d)
    val r = card.head()
    assert(r.getAs[Long]("n_docs") === 3L)
    assert(r.getAs[Long]("n_tokens") === 8L)
    assert(r.getAs[Long]("n_langs") === 2L)
    assert(r.getAs[Long]("n_sources") === 2L)
    assert(r.getAs[Long]("n_exact_dup_docs") === 1L)
    assert(math.abs(r.getAs[Double]("avg_chars") - 13.0 / 3) < 1e-12)
    // separate tiny aggs, not one multi-distinct agg: no Expand node
    assert(!card.queryExecution.executedPlan.toString.contains("Expand"))
  }

  test("dupSourceAttribution: near-dup pairs land on unordered source cells") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", "feedA"),
      (4L, "the quick brown fox jumps over the lazy dog", "feedB"), // = 1
      (3L, "completely different content about spark engines here", "feedB"))
      .toDF("doc_id", "text", "source")
    val out = TextDedup.dupSourceAttribution(d, threshold = 0.99)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        r.getAs[Long]("n_dup_pairs")).toMap
    assert(out === Map(("feedA", "feedB") -> 1L)) // unordered, one cell
  }

  test("temperatureMix: flattens skewed sources, keeps the smallest whole") {
    val s = spark
    import s.implicits._
    // sizes 10 / 40 / 90 / 160 — ratios 1:4:9:16, so sqrt-flattening
    // (alpha = 0.5) should keep ~10 / 20 / 30 / 40 rows per source
    val d = ((1L to 10L).map(i => (i, "tiny")) ++
      (11L to 50L).map(i => (i, "small")) ++
      (51L to 140L).map(i => (i, "mid")) ++
      (141L to 300L).map(i => (i, "big"))).toDF("doc_id", "source")
    val out = Sampling.temperatureMix(d, "source", alpha = 0.5, seed = "t")
    val bySource = out.collect().groupBy(_.getAs[String]("source"))
      .view.mapValues(_.length).toMap
    assert(bySource("tiny") === 10) // f = sqrt(10/10) = 1: kept whole
    assert(bySource("small") > 10 && bySource("small") < 32,
      s"small: ${bySource("small")}")
    assert(bySource("mid") > 16 && bySource("mid") < 46,
      s"mid: ${bySource("mid")}")
    assert(bySource("big") > 24 && bySource("big") < 58,
      s"big: ${bySource("big")}")
    // deterministic: rerun is row-identical
    val ids1 = out.collect().map(_.getAs[Long]("doc_id")).toSet
    val ids2 = Sampling.temperatureMix(d, "source", alpha = 0.5, seed = "t")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(ids1 === ids2)
    // alpha = 1 is a no-op mixture (every threshold = 10^6)
    assert(Sampling.temperatureMix(d, "source", alpha = 1.0, seed = "t")
      .count() === 300L)
    // scale shape: the thresholds come back via broadcast, never a
    // shuffled join of the corpus
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("semanticDedup: min-id keeper per component, singletons keep") {
    val s = spark
    import s.implicits._
    val emb = Seq(
      (1L, Array(0.9f, 0.1f, 0f, 0f), 0),
      (2L, Array(0f, 1f, 0f, 0f), 1), // unrelated direction
      (4L, Array(0.8f, 0.2f, 0f, 0f), 0) // near-dup of 1
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.semanticDedup(emb, bits = 2, threshold = 0.9)
      .collect()
      .map(r => r.getLong(0) -> r.getAs[Boolean]("keep")).toMap
    assert(out === Map(1L -> true, 2L -> true, 4L -> false))
  }

  test("familiarityScores: common bigrams score high, short docs drop out") {
    val d = docs(
      1L -> "a b c", // bigrams (a b), (b c)
      2L -> "a b d", // shares (a b) with 1
      3L -> "x y", // unique bigram
      4L -> "solo") // < 2 tokens: no row
    val out = TextAnalysis.familiarityScores(d).collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Double]("familiarity"))).toMap
    // (a b) occurs 2x corpus-wide; (b c)/(b d)/(x y) once
    assert(out(1L) === ((2L, 1.5))) // (2 + 1) / 2
    assert(out(2L) === ((2L, 1.5)))
    assert(out(3L) === ((1L, 1.0)))
    assert(!out.contains(4L))
  }

  test("topFractionPerGroup: exact rank-based per-group quantile, no group-funnel window") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "en", 40L), (2L, "en", 30L), (3L, "en", 20L), (4L, "en", 10L),
      (5L, "de", 3L), (6L, "de", 2L), (7L, "de", 1L))
      .toDF("doc_id", "lang", "n_chars")
    val kept = Sampling.topFractionPerGroup(d, "lang", "n_chars", 0.5)
      .collect().map(_.getLong(0)).toSet
    // en: ceil(4*0.5)=2 -> docs 1,2; de: ceil(3*0.5)=2 -> docs 5,6
    assert(kept === Set(1L, 2L, 5L, 6L))
    // ties break on doc_id: equal scores keep the smaller id
    val tied = Seq((1L, "en", 5L), (2L, "en", 5L), (3L, "en", 5L), (4L, "en", 5L))
      .toDF("doc_id", "lang", "n_chars")
    assert(Sampling.topFractionPerGroup(tied, "lang", "n_chars", 0.5)
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L))
    // boundary straddle: en ties at 30 (docs 2,3) with k=2 -> keep the
    // smaller doc_id among the boundary ties only
    val straddle = Seq(
      (1L, "en", 40L), (2L, "en", 30L), (3L, "en", 30L), (4L, "en", 10L))
      .toDF("doc_id", "lang", "n_chars")
    assert(Sampling.topFractionPerGroup(straddle, "lang", "n_chars", 0.5)
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L))
    // fraction edges
    assert(Sampling.topFractionPerGroup(d, "lang", "n_chars", 0.0).count() === 0)
    assert(Sampling.topFractionPerGroup(d, "lang", "n_chars", 1.0).count() === 7)
    // SKEW SAFETY: no window may partition on the raw group column over
    // the full corpus frame. Machine-checked on the physical plan:
    // every WindowExec either (a) has a composite partition spec
    // (group AND value — the boundary tie-break), or (b) sits above an
    // aggregate (the histogram cumulation frame).
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    // sparkPlan, not executedPlan: the adaptive wrapper is a leaf node
    // that hides the tree from collect()
    val exec = Sampling.topFractionPerGroup(d, "lang", "n_chars", 0.5)
      .queryExecution.sparkPlan
    def windows(p: SparkPlan): Seq[WindowExec] = p.collect { case w: WindowExec => w }
    val ws = windows(exec) ++ exec.subqueries.flatMap(windows)
    assert(ws.nonEmpty)
    ws.foreach { w =>
      val composite = w.partitionSpec.size >= 2
      val overAggregate = w.collectFirst { case a: BaseAggregateExec => a }.isDefined
      assert(composite || overAggregate,
        s"corpus-frame window partitioned by raw group:\n$w")
    }
  }

  test("budgetSelect: greedy quality-ordered fill equals the global cumsum") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, 3L, 5L), (2L, 3L, 5L), // quality tier 3: 5+5 tokens
      (3L, 2L, 5L), // tier 2
      (4L, 1L, 5L)) // tier 1
      .toDF("doc_id", "quality", "n_tokens")
    def ids(budget: Long) =
      Sampling.budgetSelect(d, "n_tokens", "quality", budget)
        .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(ids(0) === Set.empty)
    assert(ids(9) === Set(1L)) // second doc would overflow
    assert(ids(12) === Set(1L, 2L)) // boundary mid-tier-2
    assert(ids(15) === Set(1L, 2L, 3L))
    assert(ids(100) === Set(1L, 2L, 3L, 4L))
    // scale shape: offsets broadcast back; the row-level window is
    // PARTITIONED by the quality value (no global row-level sort)
    val plan = Sampling.budgetSelect(d, "n_tokens", "quality", 12)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("corpusStopwordStats: DF-induced stopwords, per-doc mass ratio") {
    val d = docs(
      1L -> "the cat sat",
      2L -> "the the dog",
      3L -> "the bird",
      4L -> "fish pond")
    // df(the) = 3 of 4 docs >= 0.5 threshold; everything else df = 1
    val out = TextAnalysis.corpusStopwordStats(d, dfThreshold = 0.5)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_stop"),
          r.getAs[Double]("stop_ratio"))).toMap
    assert(out(1L) === ((3L, 1L, 1.0 / 3)))
    assert(out(2L) === ((3L, 2L, 2.0 / 3))) // occurrences, not distinct
    assert(out(3L) === ((2L, 1L, 0.5)))
    assert(out(4L) === ((2L, 0L, 0.0)))
    // threshold 1.0: only tokens in EVERY doc qualify — none here
    val none = TextAnalysis.corpusStopwordStats(d, dfThreshold = 1.0)
      .collect().map(_.getAs[Long]("n_stop")).sum
    assert(none === 0L)
    // the qualifying set joins back as a broadcast, not a shuffle join
    val plan = TextAnalysis.corpusStopwordStats(d, 0.5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("fingerprintPairs: min-shingle-hash fingerprint matches dups, no cartesian") {
    val q = TextDedup.fingerprintPairs(corpus, shingleK = 5)
    assertNoCartesian(q)
    val pairs = q.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L)))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L)) // <5 tokens: no fp
  }

  test("shingles: docs shorter than k yield empty, not descending sequences") {
    val out = docs(1L -> "a b").select(TextFns.shingleSet(col("text"), 3))
      .head().getSeq[String](0)
    assert(out.isEmpty)
  }

  test("quality + lang stats run on tiny docs without div-by-zero rows") {
    val q = TextAnalysis.qualityScores(
      docs(1L -> "x y x", 2L -> "").withColumn("lang", lit("en")))
    val rows = q.collect()
    assert(rows.length === 1) // empty doc filtered, no NaN/div-zero row
    assert(rows.head.getAs[Double]("ttr") === 2.0 / 3.0)
  }

  test("similarity: topk exact on a hand-built frame; lsh/neardup no cartesian") {
    val s = spark
    import s.implicits._
    val emb = Seq(
      (0L, Array(1f, 0f, 0f, 0f), 0),
      (1L, Array(0.9f, 0.1f, 0f, 0f), 0),
      (2L, Array(0f, 1f, 0f, 0f), 1),
      (3L, Array(-1f, 0f, 0f, 0f), 1),
      (4L, Array(0.8f, 0.2f, 0f, 0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val top = Similarity.bruteForceTopK(emb, nQueries = 1, k = 2).collect()
    assert(top.map(_.getLong(2)).toSeq === Seq(1L, 4L)) // nearest first
    assert(top.head.getDouble(3) > 0.99)
    assertNoCartesian(Similarity.signLshTopK(emb, bits = 2, nQueries = 1, k = 2))
    assertNoCartesian(Similarity.nearDupPairs(emb, bits = 2, threshold = 0.5))
    // vec 0 has dim2 == 0 (not > 0) so it sketches into a different
    // bucket than 1 and 4 — the LSH recall trade: only (1,4) surfaces
    val nd = Similarity.nearDupPairs(emb, bits = 2, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(nd === Set((1L, 4L)))
    // production overload: EXTERNAL query vectors, not corpus rows
    val extQ = Seq((100L, Array(1f, 0f, 0f, 0f))).toDF("query_id", "qv")
    val ext = Similarity.bruteForceTopK(emb, extQ, k = 2).collect()
    assert(ext.map(_.getLong(0)).toSet === Set(100L))
    assert(ext.map(_.getLong(2)).toSeq === Seq(0L, 1L)) // exact hit ranks first
    val extLsh = Similarity.signLshTopK(emb, extQ, bits = 2, k = 3).collect()
    assert(extLsh.nonEmpty && extLsh.forall(_.getLong(0) == 100L))
    // an external query id COLLIDING with a corpus id must not exclude
    // that corpus vector (self-exclusion is a corpus-queries concept)
    val collide = Seq((0L, Array(1f, 0f, 0f, 0f))).toDF("query_id", "qv")
    val hit = Similarity.bruteForceTopK(emb, collide, k = 1).head()
    assert(hit.getLong(2) === 0L && hit.getDouble(3) > 0.99)
  }

  test("similarity: ivf recall eval is exactly 1.0 when every cell is probed") {
    val s = spark
    import s.implicits._
    // 3 well-separated label clusters in 4 dims; nProbe = nCells makes
    // the IVF probe exhaustive, so recall@k against brute force must
    // be exactly 1.0 for every query — and n_hit exactly k (bounded by
    // the available corpus: 8 non-self rows, so k=4 is satisfiable)
    val emb = Seq(
      (0L, Array(1f, 0f, 0f, 0f), 0), (1L, Array(0.9f, 0.1f, 0f, 0f), 0),
      (2L, Array(0.8f, 0.2f, 0f, 0f), 0), (3L, Array(0f, 1f, 0f, 0f), 1),
      (4L, Array(0.1f, 0.9f, 0f, 0f), 1), (5L, Array(0f, 0f, 1f, 0f), 2),
      (6L, Array(0f, 0f, 0.9f, 0.1f), 2), (7L, Array(0f, 0.1f, 0.9f, 0f), 2),
      (8L, Array(0.2f, 0f, 0.8f, 0f), 2)
    ).toDF("vec_id", "embedding", "label")
    val full = Similarity.ivfRecallEval(emb, dims = 4, nProbe = 3,
      nQueries = 3, k = 4).collect().sortBy(_.getLong(0))
    assert(full.map(_.getLong(0)).toSeq === Seq(0L, 1L, 2L))
    full.foreach { r =>
      assert(r.getLong(1) === 4L, s"q=${r.getLong(0)}")
      assert(r.getDouble(2) === 1.0)
    }
    // 1-probe recall can only drop, never rise, and every query still
    // reports a row (left-join contract)
    val one = Similarity.ivfRecallEval(emb, dims = 4, nProbe = 1,
      nQueries = 3, k = 4).collect().sortBy(_.getLong(0))
    assert(one.map(_.getLong(0)).toSeq === Seq(0L, 1L, 2L))
    one.foreach(r => assert(r.getLong(1) <= 4L &&
      r.getDouble(2) === r.getLong(1) / 4.0))
  }

  test("video container round trip: generated MJPEG-AVI and MP4 parse back") {
    val s = spark
    import s.implicits._
    // AVI: every header field recovered from real RIFF bytes
    val avi = Multimodal.syntheticAvi(640, 360, fps = 25, frames = 250)
    val am = Multimodal.videoMeta(avi).get
    assert(am === Multimodal.VideoMeta(640, 360, 250, 10000, "MJPG"))
    // MP4: dims (16.16 fixed), stts frame count, mvhd duration, stsd codec
    val mp4 = Multimodal.syntheticMp4(1280, 720, timescale = 90000,
      durationTicks = 900000L, frames = 300)
    val mm = Multimodal.videoMeta(mp4).get
    assert(mm === Multimodal.VideoMeta(1280, 720, 300, 10000, "avc1"))
    // corrupt / truncated payloads refuse instead of inventing metadata
    assert(Multimodal.videoMeta(avi.take(40)).isEmpty)
    assert(Multimodal.videoMeta(Array[Byte](1, 2, 3)).isEmpty)
    // through the Spark batch path: video/* now surfaces REAL dims
    val feats = Multimodal.extractFeatures(
      Seq(Multimodal.MediaRow(1L, "video/avi", avi),
        Multimodal.MediaRow(2L, "video/mp4", mp4)).toDS())
      .collect().map(f => f.media_id -> f).toMap
    assert(feats(1L).width === 640 && feats(1L).height === 360)
    assert(feats(1L).feature(0) === 250f) // frames ride the feature vector
    assert(feats(2L).width === 1280 && feats(2L).height === 720)
  }

  test("uncompressed-AVI frame decode: round trip, flip, sampling, codec refusal") {
    val s = spark
    import s.implicits._
    // 3x2 frames so stride padding (9 -> 12 bytes/row) is exercised
    val colors = Seq((255, 0, 0), (0, 128, 0), (1, 2, 3), (250, 251, 252))
    val avi = Multimodal.syntheticAviRgb(3, 2, fps = 10, colors)
    // the metadata path still reads the RGB container
    val meta = Multimodal.videoMeta(avi).get
    assert(meta.width === 3 && meta.n_frames === 4 && meta.codec === "DIB")
    // every frame decodes to its planted solid color, top-down packed,
    // carrying its original movi chunk index
    val (w, h, frames) = Multimodal.videoFramesRgb(avi).get
    assert(w === 3 && h === 2 && frames.length === 4)
    assert(frames.map(_._1) === Seq(0, 1, 2, 3))
    colors.zip(frames.map(_._2)).foreach { case ((r, g, b), px) =>
      assert(px.length === 3 * 2 * 3)
      px.grouped(3).foreach { p =>
        assert((p(0) & 0xff, p(1) & 0xff, p(2) & 0xff) === ((b, g, r)))
      }
    }
    // codec-bearing containers the JDK cannot decode refuse frame
    // decode; an MJPG container with an empty movi yields zero frames
    // (accepted container, nothing to decode)
    assert(Multimodal.videoFramesRgb(
      Multimodal.syntheticAvi(640, 360, 25, 250, codec = "H264")).isEmpty)
    assert(Multimodal.videoFramesRgb(
      Multimodal.syntheticAvi(640, 360, 25, 250)).get._3.isEmpty)
    assert(Multimodal.videoFramesRgb(Array[Byte](9, 9, 9)).isEmpty)
    // the Spark operator samples every 2nd frame with exact means
    val stats = Multimodal.frameSampleStats(
      Seq(Multimodal.MediaRow(7L, "video/avi", avi)).toDS(), stride = 2)
      .collect().map(r => r.getLong(1) ->
        ((r.getDouble(4), r.getDouble(5), r.getDouble(6)))).toMap
    assert(stats.keySet === Set(0L, 2L))
    assert(stats(0L) === ((255.0, 0.0, 0.0)))
    assert(stats(2L) === ((1.0, 2.0, 3.0)))
  }

  test("MJPG-AVI frame decode: JPEG round trip within tolerance, via ImageIO") {
    val s = spark
    import s.implicits._
    // solid colors survive JPEG essentially intact (DC-only blocks);
    // gate on a tolerance band, never exact bytes — JPEG is lossy
    val colors = Seq((200, 30, 60), (10, 220, 90), (0, 0, 0))
    val avi = Multimodal.syntheticAviMjpg(16, 8, fps = 5, colors)
    val meta = Multimodal.videoMeta(avi).get
    assert(meta.width === 16 && meta.n_frames === 3 && meta.codec === "MJPG")
    val (w, h, frames) = Multimodal.videoFramesRgb(avi).get
    assert(w === 16 && h === 8 && frames.length === 3)
    assert(frames.map(_._1) === Seq(0, 1, 2))
    colors.zip(frames.map(_._2)).foreach { case ((r, g, b), px) =>
      px.grouped(3).foreach { p =>
        assert(math.abs((p(2) & 0xff) - r) <= 8, s"R off: ${p(2) & 0xff} vs $r")
        assert(math.abs((p(1) & 0xff) - g) <= 8, s"G off: ${p(1) & 0xff} vs $g")
        assert(math.abs((p(0) & 0xff) - b) <= 8, s"B off: ${p(0) & 0xff} vs $b")
      }
    }
    // the Spark operator path: per-frame means within the same band
    val stats = Multimodal.frameSampleStats(
      Seq(Multimodal.MediaRow(3L, "video/avi", avi)).toDS(), stride = 1)
      .collect().map(r => r.getLong(1) ->
        ((r.getDouble(4), r.getDouble(5), r.getDouble(6)))).toMap
    assert(stats.keySet === Set(0L, 1L, 2L))
    colors.zipWithIndex.foreach { case ((r, g, b), i) =>
      val (mr, mg, mb) = stats(i.toLong)
      assert(math.abs(mr - r) <= 8 && math.abs(mg - g) <= 8 && math.abs(mb - b) <= 8,
        s"frame $i mean ($mr,$mg,$mb) vs planted ($r,$g,$b)")
    }
  }

  test("AVI frame decode: top-down DIB honored, corrupt chunk keeps later indices") {
    // top-down: negative biHeight -> rows already top-down, no flip.
    // Build from the bottom-up generator by patching biHeight negative
    // and pre-flipping the planted rows is overkill for solid colors —
    // use two DIFFERENT row colors instead so a wrong flip is visible.
    val w = 3; val h = 2
    val stride = ((w * 3 + 3) / 4) * 4
    val base = Multimodal.syntheticAviRgb(w, h, fps = 10,
      Seq((0, 0, 0))) // one frame, all zero; we patch the pixel rows
    // locate movi frame payload: last stride*h bytes of the file
    val avi = base.clone()
    val frameOff = avi.length - stride * h
    // bottom-up file: FIRST stored row is the BOTTOM row. Store row
    // values: bottom=7, top=9.
    avi(frameOff) = 7; avi(frameOff + stride) = 9
    val (_, _, fUp) = Multimodal.videoFramesRgb(avi).get
    // decoded top-down packed: row 0 (top) first -> 9 then 7
    assert((fUp.head._2(0) & 0xff) === 9 && (fUp.head._2(w * 3) & 0xff) === 7)
    // patch biHeight negative (strf height field): find the strf tag
    def findTag(b: Array[Byte], t: String): Int = {
      val bytes = t.getBytes("US-ASCII")
      b.indices.find(i => i + 4 <= b.length &&
        b(i) == bytes(0) && b(i + 1) == bytes(1) &&
        b(i + 2) == bytes(2) && b(i + 3) == bytes(3)).get
    }
    val strf = findTag(avi, "strf")
    val hOff = strf + 8 + 8 // strf tag + size, then biSize(4)+biWidth(4)
    val negH = -h
    avi(hOff) = (negH & 0xff).toByte; avi(hOff + 1) = ((negH >> 8) & 0xff).toByte
    avi(hOff + 2) = ((negH >> 16) & 0xff).toByte
    avi(hOff + 3) = ((negH >> 24) & 0xff).toByte
    val (_, h2, fDown) = Multimodal.videoFramesRgb(avi).get
    // top-down DIB: stored order IS display order -> 7 then 9, no flip
    assert(h2 === h)
    assert((fDown.head._2(0) & 0xff) === 7 && (fDown.head._2(w * 3) & 0xff) === 9)

    // corrupt-chunk indexing: 3 frames, middle chunk truncated — the
    // surviving frames keep ORIGINAL indices 0 and 2 (r11 ADVICE: a
    // dropped frame must not shift every later frame_idx)
    val colors = Seq((10, 10, 10), (20, 20, 20), (30, 30, 30))
    val multi = Multimodal.syntheticAviRgb(w, h, fps = 10, colors)
    val frameBytes = stride * h
    // truncate frame 1 to a 4-byte payload (too short to decode) by
    // splicing it out and re-stamping the RIFF + movi LIST sizes so
    // the container stays well-formed
    val movi = {
      // frames live at the tail: [00db sz payload] x3; the movi LIST
      // header (LIST size 'movi') sits 12 bytes before frame 0
      val f0 = multi.length - 3 * (8 + frameBytes)
      val f1 = f0 + 8 + frameBytes
      val moviListOff = f0 - 12
      val delta = frameBytes - 4
      val out = new java.io.ByteArrayOutputStream()
      out.write(multi, 0, f1 + 4) // up to and incl frame1 tag
      out.write(Array[Byte](4, 0, 0, 0)); out.write(new Array[Byte](4))
      out.write(multi, f1 + 8 + frameBytes, 8 + frameBytes) // frame 2
      val spliced = out.toByteArray
      def le32At(b: Array[Byte], off: Int): Int =
        (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
          ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)
      def putLe32(b: Array[Byte], off: Int, v: Int): Unit = {
        b(off) = (v & 0xff).toByte; b(off + 1) = ((v >> 8) & 0xff).toByte
        b(off + 2) = ((v >> 16) & 0xff).toByte
        b(off + 3) = ((v >> 24) & 0xff).toByte
      }
      putLe32(spliced, 4, le32At(spliced, 4) - delta)            // RIFF size
      putLe32(spliced, moviListOff + 4,
        le32At(spliced, moviListOff + 4) - delta)                // movi LIST size
      spliced
    }
    val (_, _, fKept) = Multimodal.videoFramesRgb(movi).get
    assert(fKept.map(_._1) === Seq(0, 2),
      s"surviving frames must keep original indices, got ${fKept.map(_._1)}")
    assert((fKept.last._2(0) & 0xff) === 30)
  }

  test("REAL image + audio decode via JDK codecs (unparseable video falls back to stub)") {
    val s = spark
    import s.implicits._
    // a 20x10 gradient PNG, written by ImageIO itself
    val img = new java.awt.image.BufferedImage(
      20, 10, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 20; y <- 0 until 10) {
      val g = x * 12
      img.setRGB(x, y, (g << 16) | (g << 8) | g)
    }
    val pngOut = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", pngOut)
    val png = pngOut.toByteArray
    val (w, h, feat) = Multimodal.decodeImage(png).get
    assert(w === 20 && h === 10)
    assert(math.abs(feat.sum - 1f) < 1e-4) // normalized luminance histogram

    // an 8 kHz mono 16-bit PCM WAV, written by javax.sound itself
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val pcm = Array.tabulate(1600)(i => (math.sin(i / 10.0) * 20000).toShort)
    val bytes = new Array[Byte](pcm.length * 2)
    pcm.zipWithIndex.foreach { case (v, i) =>
      bytes(2 * i) = (v & 0xFF).toByte
      bytes(2 * i + 1) = ((v >> 8) & 0xFF).toByte
    }
    val wavOut = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(bytes), fmt, pcm.length),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, wavOut)
    val (rate, ch, afeat) = Multimodal.decodeAudio(wavOut.toByteArray).get
    assert(rate === 8000 && ch === 1)
    assert(math.abs(afeat.sum - 1f) < 1e-4)

    // end-to-end through the Spark batch path: real dims/rates surface
    val media = Seq(
      Multimodal.MediaRow(1L, "image/png", png),
      Multimodal.MediaRow(2L, "audio/wav", wavOut.toByteArray),
      Multimodal.MediaRow(3L, "video/mp4", Array[Byte](1, 2, 3))).toDS()
    val feats = Multimodal.extractFeatures(media).collect()
      .map(f => f.media_id -> f).toMap
    assert(feats(1L).width === 20 && feats(1L).height === 10)
    assert(feats(2L).width === 8000 && feats(2L).height === 1)
    assert(feats(3L).feature.length === Multimodal.FeatureDim) // stub fallback
  }

  test("multimodal: stub decode is deterministic; plumbing drops blobs") {
    val s = spark
    import s.implicits._
    val media = Seq(
      Multimodal.MediaRow(1L, "image/fake", Array[Byte](1, 2, 3, 4)),
      Multimodal.MediaRow(2L, "image/fake", Array[Byte](1, 2, 3, 4)),
      Multimodal.MediaRow(3L, "audio/fake", Array[Byte](9, 9))
    ).toDS()
    val feats = Multimodal.extractFeatures(media).collect()
      .map(f => f.media_id -> f).toMap
    assert(feats(1L).feature.toSeq === feats(2L).feature.toSeq) // deterministic
    assert(feats(1L).byte_len === 4L && feats(3L).byte_len === 2L)
    assert(feats(1L).feature.length === Multimodal.FeatureDim)
    assert(feats(1L).width >= 16 && feats(1L).height >= 16)
    assert(!Multimodal.extractFeatures(media).columns.contains("content"))
  }

  test("regexTokens splits word pieces and punctuation like a BPE pre-tokenizer") {
    val out = docs(1L -> "Hello, world! it's 42x faster")
      .select(TextFns.regexTokens(col("text")))
      .head().getSeq[String](0)
    assert(out === Seq("hello", ",", "world", "!", "it", "'", "s", "42x", "faster"))
  }

  test("multimodal resize and frame sampling stubs keep batch plumbing real") {
    val s = spark
    import s.implicits._
    val media = Seq(
      Multimodal.MediaRow(1L, "video/fake", Array.tabulate(1024)(_.toByte))).toDS()
    val resized = Multimodal.resize(media, 64, 48).collect()
    assert(resized.head.width === 64 && resized.head.height === 48)
    assert(resized.head.byte_len === 1024L)
    val frames = Multimodal.sampleFrames(media, 4).collect()
    assert(frames.length === 4)
    assert(frames.map(_.media_id).toSeq === Seq(1000L, 1001L, 1002L, 1003L))
    // deterministic: same payload slice -> same features
    assert(Multimodal.sampleFrames(media, 4).collect()
      .map(_.feature.toSeq).toSeq === frames.map(_.feature.toSeq).toSeq)
  }

  test("audioWindows: exact RMS/peak on planted square waves; stereo fold; refusals") {
    val s = spark
    import s.implicits._
    // 2 windows of 4 samples at amplitude 100 then 300: RMS == peak ==
    // amplitude exactly on a square wave; the trailing partial window
    // (2 samples) is dropped
    val wave = Array[Short](100, -100, 100, -100, 300, -300, 300, -300, 7, 7)
    val wav = Multimodal.syntheticWavPcm16(8000, wave)
    val out = Multimodal.audioWindows(
      Seq(Multimodal.MediaRow(1L, "audio/wav", wav)).toDS(),
      windowSamples = 4, strideSamples = 4)
      .collect().map(r => r.getLong(1) -> ((r.getDouble(3), r.getInt(4)))).toMap
    assert(out === Map(0L -> ((100.0, 100)), 1L -> ((300.0, 300))))
    // stereo folds to the per-frame channel mean before windowing:
    // write an interleaved L/R stream via javax.sound itself
    val stereoPcm = Array[Short](200, 400, -200, -400, 200, 400, -200, -400)
    val bytes = new java.io.ByteArrayOutputStream()
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 2, true, false)
    val raw = new Array[Byte](stereoPcm.length * 2)
    stereoPcm.zipWithIndex.foreach { case (v, i) =>
      raw(i * 2) = (v & 0xff).toByte; raw(i * 2 + 1) = ((v >> 8) & 0xff).toByte
    }
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(raw), fmt, stereoPcm.length / 2),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bytes)
    val st = Multimodal.audioWindows(
      Seq(Multimodal.MediaRow(2L, "audio/wav", bytes.toByteArray)).toDS(),
      windowSamples = 4, strideSamples = 4).collect()
    assert(st.length === 1) // 4 stereo frames -> one 4-sample window
    assert(st.head.getDouble(3) === 300.0 && st.head.getInt(4) === 300)
    // non-audio payloads contribute no rows, not a throw
    assert(Multimodal.audioWindows(
      Seq(Multimodal.MediaRow(3L, "audio/wav", Array[Byte](1, 2, 3))).toDS(),
      4, 4).collect().isEmpty)
  }

  test("REAL image resize: NN scale is an exact pixel mapping, PNG round trip") {
    val s = spark
    import s.implicits._
    def png(w: Int, h: Int, rgb: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb(x, y))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    // 2x2 checkerboard doubled: nearest neighbor copies each source
    // pixel into an exact 2x2 block — no filtering, no blending
    val red = 0xff0000; val blue = 0x0000ff
    val checker = png(2, 2, (x, y) => if ((x + y) % 2 == 0) red else blue)
    val up = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
      Multimodal.resizeImage(checker, 4, 4).get))
    assert(up.getWidth === 4 && up.getHeight === 4)
    for (y <- 0 until 4; x <- 0 until 4)
      assert((up.getRGB(x, y) & 0xffffff) ===
        (if ((x / 2 + y / 2) % 2 == 0) red else blue), s"($x,$y)")
    // a solid color survives ANY rescale exactly
    val down = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
      Multimodal.resizeImage(png(7, 5, (_, _) => 0x123456), 3, 2).get))
    for (y <- 0 until 2; x <- 0 until 3)
      assert((down.getRGB(x, y) & 0xffffff) === 0x123456)
    // batch path: features are recomputed from the RESIZED pixels and
    // byte_len is the re-encoded PNG's, not the input's
    val media = Seq(Multimodal.MediaRow(1L, "image/png", checker)).toDS()
    val out = Multimodal.resize(media, 4, 4).collect().head
    assert(out.width === 4 && out.height === 4)
    assert(out.byte_len > 0L && out.byte_len != checker.length.toLong)
    val expected = Multimodal.resizeImage(checker, 4, 4).get
    assert(out.byte_len === expected.length.toLong)
  }

  test("documentsAsMedia wraps a text corpus as binary rows") {
    val docsDf = docs(7L -> "hello").withColumn("doc_id", col("doc_id"))
    val media = Multimodal.documentsAsMedia(spark, docsDf).collect()
    assert(media.head.media_id === 7L)
    assert(new String(media.head.content, "UTF-8") === "hello")
  }

  test("readMediaDir ingests a file tree via binaryFile into MediaRow") {
    val dir = java.nio.file.Files.createTempDirectory("graft_media")
    java.nio.file.Files.createDirectories(dir.resolve("sub"))
    java.nio.file.Files.write(dir.resolve("a.png"), Array[Byte](1, 2, 3))
    java.nio.file.Files.write(dir.resolve("sub/b.wav"), Array[Byte](4, 5))
    java.nio.file.Files.write(dir.resolve("notes.txt"), Array[Byte](9))
    val rows = Multimodal.readMediaDir(spark, dir.toString).collect()
      .map(r => r.mime -> r).toMap
    assert(rows.keySet === Set("image/png", "audio/wav", "application/octet-stream"))
    assert(rows("image/png").content.toSeq === Seq[Byte](1, 2, 3))
    assert(rows("audio/wav").content.toSeq === Seq[Byte](4, 5)) // recursive
    // ids are stable across reads (path-hash, not ingest order)
    val again = Multimodal.readMediaDir(spark, dir.toString).collect()
      .map(r => r.mime -> r.media_id).toMap
    assert(rows.map { case (m, r) => m -> r.media_id } === again)
    // the same plumbing feeds the decode stage
    val feats = Multimodal.extractFeatures(
      Multimodal.readMediaDir(spark, dir.toString, glob = "*.png")).collect()
    assert(feats.length === 1 && feats.head.byte_len === 3L)
  }

  test("embedding near-dup honors the bucket cap") {
    val s = spark
    import s.implicits._
    // four vectors in ONE sketch bucket (dim1 > 0, dim2 > 0)
    val emb = Seq(
      (0L, Array(0.9f, 0.1f, 0f, 0f), 0),
      (1L, Array(0.9f, 0.11f, 0f, 0f), 0),
      (2L, Array(0.9f, 0.12f, 0f, 0f), 0),
      (3L, Array(0.9f, 0.13f, 0f, 0f), 0)
    ).toDF("vec_id", "embedding", "label")
    assert(Similarity.nearDupPairs(emb, bits = 2, threshold = 0.9).count() === 6)
    assert(Similarity.nearDupPairs(emb, bits = 2, threshold = 0.9,
      maxBucketWidth = Some(3)).count() === 0) // width-4 bucket dropped
  }

  test("repetition signals: spammy docs score high; 1-token doc null bigram") {
    val c = docs(1L -> "spam spam spam spam", 2L -> "a fresh take on things",
      3L -> "hi")
    val out = TextAnalysis.repetitionSignals(c).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getDouble(2) === 1.0) // 4/4 "spam"
    assert(out(1L).getDouble(3) === 1.0) // "spam spam" 3/(4-1)
    assert(out(2L).getDouble(2) === 0.2) // all distinct: 1/5
    assert(out(2L).getDouble(3) === 0.25)
    assert(out(3L).getLong(1) === 1L && out(3L).isNullAt(3))
  }

  test("PII redaction replaces email/ip/phone in order and counts each") {
    val c = docs(
      1L -> ("mail bob.smith@corp.example.org server 192.168.1.100 " +
        "call +44 20 7946 0958 end"),
      2L -> "clean text only")
    val out = Pii.redactDocs(c).collect().map(r => r.getLong(0) -> r).toMap
    val t1 = out(1L).getAs[String]("text")
    assert(t1 === ("mail <EMAIL> server <IP> call <PHONE> end"))
    assert(out(1L).getAs[Long]("n_emails") === 1L)
    assert(out(1L).getAs[Long]("n_ips") === 1L)
    assert(out(1L).getAs[Long]("n_phones") === 1L)
    assert(out(2L).getAs[String]("text") === "clean text only")
    assert(out(2L).getAs[Long]("n_emails") === 0L)
  }

  test("sequence packing: full blocks, straddlers span, empty docs vanish") {
    // token stream: d1[0,3) d2[3,7) d4[7,12) d5[12,13); blocks of 5
    val c = docs(1L -> "a b c", 2L -> "d e f g", 3L -> "",
      4L -> "h i j k l", 5L -> "m")
    val out = Packing.packBlocks(c, blockSize = 5, groupWidth = 2)
      .orderBy(org.apache.spark.sql.functions.col("block_id")).collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(0L, 1L, 2L))
    assert(out.map(_.getLong(1)).toSeq === Seq(2L, 2L, 2L)) // n_docs
    assert(out.map(_.getLong(2)).toSeq === Seq(5L, 5L, 3L)) // block tokens
    assert(out.map(r => (r.getLong(3), r.getLong(4))).toSeq ===
      Seq((1L, 2L), (2L, 4L), (4L, 5L)))
  }

  test("sign-sketch width derives from corpus size, not a constant") {
    // a billion-vector corpus must NOT get a handful of buckets
    assert(Similarity.derivedBits(1_000_000_000L) === 20) // maxBits clamp
    assert(Similarity.derivedBits(1_000_000L) === 14)     // ceil(log2(n/64))
    assert(Similarity.derivedBits(64L) === 1)             // floor clamp
    assert(Similarity.derivedBits(0L) === 1)
    val s = spark
    import s.implicits._
    val emb = Seq(
      (0L, Array(0.9f, 0.1f, 0f, 0f), 0),
      (1L, Array(0.9f, 0.11f, 0f, 0f), 0),
      (2L, Array(-0.9f, 0.12f, 0f, 0f), 0)
    ).toDF("vec_id", "embedding", "label")
    // default = derive: runs end-to-end on a tiny corpus (bits -> 1),
    // still equi-keyed, and the opposite-sign vector lands elsewhere
    val nd = Similarity.nearDupPairs(emb, threshold = 0.9)
    assertNoCartesian(nd)
    assert(nd.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set((0L, 1L)))
    assert(Similarity.signLshTopK(emb, nQueries = 1, k = 2).count() > 0)
  }

  test("BPE: column pipeline encodes a known fixture like classical BPE") {
    // merges: t+h, th+e, i+n, a+n, an+d, e+r, o+u, r+e, o+n, s+t, in+g, the+re
    val out = docs(1L -> "the theres sting!")
      .select(graft.llm.Bpe.tokens(col("text")).as("toks"),
        graft.llm.Bpe.tokenCount(col("text")).as("n"))
      .collect().head
    // "the" -> [the]; "theres" -> the|re + s  -> [there, s]
    // "sting" -> st + ing -> [st, ing]; "!" is its own pre-token
    assert(out.getAs[Seq[String]]("toks") ===
      Seq("the", "there", "s", "st", "ing", "!"))
    assert(out.getAs[Long]("n") === 6L)
  }

  test("BPE: rank-loop encodeDocs is token-identical to the column pipeline") {
    val corpus = docs(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "another interesting thing: standing there, understanding!",
      3L -> "", 4L -> "xyz", 5L -> "ingingred and rest resting on")
    val colSide = corpus.select(col("doc_id"),
      graft.llm.Bpe.tokens(col("text")).as("tokens")).collect()
      .map(r => r.getLong(0) -> r.getAs[Seq[String]]("tokens")).toMap
    val loopSide = graft.llm.Bpe.encodeDocs(corpus).collect()
      .map(r => r.getLong(0) -> r.getAs[Seq[String]]("tokens")).toMap
    assert(loopSide === colSide)
    assert(colSide(3L) === Seq.empty)
  }


  test("bpeTrain: chained merges with exact counts and tie order") {
    val s0 = spark
    import s0.implicits._
    // "the" x10 + "ab" x5: step 1 pairs (t,h)=10, (h,e)=10, (a,b)=5 —
    // the (h,e)/(t,h) tie breaks on left ASC to (h,e); applying it
    // turns every "the" into [t, he], so step 2's best is (t,he)=10;
    // step 3 merges (a,b)=5; nothing >= minPairCount remains -> stop
    // early at 3 rules even though 8 were requested
    val d = (Seq.fill(10)("the") ++ Seq.fill(5)("ab"))
      .toDF("text")
    val merges = Bpe.bpeTrain(d, nMerges = 8, minPairCount = 2)
    assert(merges == Seq(("h", "e", 10L), ("t", "he", 10L), ("a", "b", 5L)))
    // the learned table is directly consumable by both encoders
    val enc = Bpe.encodeDocs(
      docs(1L -> "the ab the"), merges.map(m => (m._1, m._2)))
      .collect()
    assert(enc.head.getSeq[String](1) == Seq("the", "ab", "the"))
  }

  test("bpeTrain: distributed regime is rule-identical to the driver loop") {
    val s0 = spark
    import s0.implicits._
    val d = (Seq.fill(10)("the") ++ Seq.fill(7)("thin") ++ Seq.fill(5)("ab"))
      .toDF("text")
    val driver = Bpe.bpeTrain(d, nMerges = 6, minPairCount = 2)
    val dist = forced { Bpe.bpeTrain(d, nMerges = 6, minPairCount = 2) }
    assert(driver.nonEmpty && dist == driver)
  }

  test("bpeTrain: non-BMP text splits by code point, regimes stay identical") {
    val s0 = spark
    import s0.implicits._
    // Each 😀 pre-tokenizes to a SINGLE one-code-point word (the
    // [^word\s] branch matches one code point), so it must contribute
    // zero pairs. A UTF-16 split would cut it into two lone-surrogate
    // pieces instead: the driver regime would learn the bogus
    // (\uD83D, \uDE00)x8 pair while the distributed regime — where
    // UTF8String encodes unpaired surrogates as '?' — would learn
    // ('?', '?')x8, silently merging unrelated emoji and diverging the
    // two regimes. The gate here: identical rules, all pure ASCII.
    val d = (Seq.fill(10)("the") ++ Seq.fill(8)("😀") ++
      Seq.fill(6)("thin")).toDF("text")
    val driver = Bpe.bpeTrain(d, nMerges = 6, minPairCount = 2)
    val dist = forced { Bpe.bpeTrain(d, nMerges = 6, minPairCount = 2) }
    assert(driver.nonEmpty && dist == driver)
    driver.foreach { case (a, b, _) =>
      assert((a + b).forall(_ < 0x80), s"non-ASCII rule leaked: ($a, $b)")
    }
  }

  test("bpeTrain: batched distributed rounds are sublinear in nMerges") {
    val s0 = spark
    import s0.implicits._
    // 18 two-symbol words over pairwise-DISJOINT alphabets with
    // strictly distinct counts: all 18 first-round candidates are
    // mutually disjoint and tie-free, so ONE batch learns all 18
    // rules and the loop exits having hit nMerges. The sequential
    // loop would take 18 rounds (and ≥36 jobs).
    val syms = ('a' to 'z') ++ ('0' to '9')
    val words = syms.grouped(2).map(g => g.mkString).toSeq // ab, cd, ..., 89
    val d = words.zipWithIndex
      .flatMap { case (w, i) => Seq.fill(50 - i)(w) }
      .toDF("text")
    val driver = Bpe.bpeTrain(d, nMerges = 18, minPairCount = 2)
    var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    s0.sparkContext.addSparkListener(listener)
    val dist =
      try {
        forced { Bpe.bpeTrain(d, nMerges = 18, minPairCount = 2) }
      } finally {
        // async listener bus: undercounting only loosens the < bound
        s0.sparkContext.removeSparkListener(listener)
      }
    assert(dist == driver && driver.length == 18)
    assert(Bpe.lastDistributedRounds == 1,
      s"expected one full batch, got ${Bpe.lastDistributedRounds}")
    assert(jobs < 18, s"job count must be sublinear in nMerges, got $jobs")
  }

  test("bpeTrain: batched regime survives interacting ties (strict bound)") {
    val s0 = spark
    import s0.implicits._
    // (a,a)=10, (a,b)=10, (c,d)=10 all tie. Rank order (count DESC,
    // pair ASC): (a,a), (a,b), (c,d). The batch accepts (a,a), stops
    // at the interacting (a,b), and the strict bound (10) forces the
    // batch down to {(a,a)} alone — because merging (a,a) creates the
    // NEW pair (aa,b)=10 which out-ranks (c,d) lexicographically, a
    // pick only the sequential recount can see. Driver (sequential)
    // and batched-distributed must agree exactly.
    val d = (Seq.fill(10)("aab") ++ Seq.fill(10)("cd")).toDF("text")
    val driver = Bpe.bpeTrain(d, nMerges = 4, minPairCount = 2)
    val dist = forced { Bpe.bpeTrain(d, nMerges = 4, minPairCount = 2) }
    assert(driver == Seq(("a", "a", 10L), ("aa", "b", 10L), ("c", "d", 10L)))
    assert(dist == driver)
    // round 1: {(a,a)} (tie-truncated); round 2: {(aa,b),(c,d)} (now
    // disjoint, complete table); round 3: empty pair table -> stop
    assert(Bpe.lastDistributedRounds == 3,
      s"got ${Bpe.lastDistributedRounds}")
  }

  test("Bpe code-point helpers: split and UTF-8-order comparator") {
    assert(Bpe.codePointPieces("a😀b") ==
      Vector("a", "😀", "b"))
    assert(Bpe.codePointPieces("") == Vector.empty)
    // U+E000 < U+1F600 in code-point (= UTF-8 binary = Spark) order,
    // but Java's UTF-16 code-unit compareTo ranks it ABOVE the
    // surrogate pair — the exact tie-break divergence cpCompare fixes
    assert(Bpe.cpCompare("", "😀") < 0)
    assert("".compareTo("😀") > 0)
    assert(Bpe.cpCompare("abc", "abd") < 0)
    assert(Bpe.cpCompare("ab", "abc") < 0)
    assert(Bpe.cpCompare("abc", "abc") == 0)
    assert(Bpe.cpPairLess(("a", "😀"), ("a", "")) === false)
  }

  test("bigramPmi: exact rational lift on a hand-built corpus, keyed plan") {
    // corpus: "a b a b" + "a b c" -> bigrams: (a,b)x3? no:
    //   doc1 tokens a b a b -> (a,b),(b,a),(a,b); doc2 a b c -> (a,b),(b,c)
    // unigrams: a=4? doc1 has a,b,a,b (a=2,b=2); doc2 a,b,c -> a=3,b=3,c=1
    // N bigrams total = 5. (a,b): n_ab=3, lift = 3*5/(3*3) = 1.666...
    val d = docs(1L -> "a b a b", 2L -> "a b c")
    val out = TextAnalysis.bigramPmi(d, minCount = 2, topK = 10)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getDouble(3)))).toMap
    assert(out.keySet == Set(("a", "b")))
    assert(out(("a", "b"))._1 == 3L)
    assert(math.abs(out(("a", "b"))._2 - 15.0 / 9.0) < 1e-12)
    assertNoCartesian(TextAnalysis.bigramPmi(d, 2, 10))
    // top-k compiles to TakeOrderedAndProject, never a global sort
    val plan = TextAnalysis.bigramPmi(d, 2, 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("langDivergence: TV and Hellinger exact on disjoint and identical slices") {
    val s0 = spark
    import s0.implicits._
    val d = Seq(
      (1L, "x x y", "en"), (2L, "x y", "en"),   // en: x=3,y=2 -> p(x)=.6
      (3L, "x x y x y", "de"),                  // de: x=3,y=2 -> same dist
      (4L, "z z", "es"))                        // es: disjoint support
      .toDF("doc_id", "text", "lang")
    val out = TextAnalysis.langDivergence(d)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getDouble(2), r.getDouble(3)))).toMap
    // identical distributions -> 0 on both measures
    assert(out(("de", "en")) == ((0.0, 0.0)))
    // disjoint support -> TV = 1, Hellinger^2 = 1
    assert(out(("en", "es")) == ((1.0, 1.0)))
    assert(out(("de", "es")) == ((1.0, 1.0)))
  }
}
