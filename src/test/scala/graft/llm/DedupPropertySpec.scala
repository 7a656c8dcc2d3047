package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Test.{check, Parameters}
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Property checks for the dedup primitives — the invariants the
  * oracle harness can't express (it checks one dataset; these hold for
  * all inputs). Spark-job-per-case is expensive, so properties over
  * corpora run few cases; pure-column properties run more.
  */
class DedupPropertySpec extends AnyFunSuite with SparkSpec {

  private val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "zeta")
  private val text = Gen.chooseNum(3, 12)
    .flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))

  private def corpus(texts: Seq[String]): DataFrame = {
    val s = spark
    import s.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  private def assertHolds(p: Prop, cases: Int): Unit = {
    val r = check(Parameters.default.withMinSuccessfulTests(cases), p)
    assert(r.passed, r.status.toString)
  }

  test("property: a doc is always its own perfect duplicate (jaccard 1 via LSH)") {
    val p = Prop.forAll(text) { t =>
      val df = corpus(Seq(t, t))
      val pairs = TextDedup.minhashLshPairs(df, shingleK = 3,
        nHashes = 12, bands = 4, threshold = 0.99).collect()
      // identical docs share every band bucket: the pair ALWAYS surfaces
      pairs.length == 1 && pairs.head.getDouble(2) == 1.0
    }
    assertHolds(p, 5)
  }

  test("property: minhash signatures are shingle-ORDER and MULTIPLICITY invariant") {
    val p = Prop.forAll(Gen.listOfN(4, text)) { texts =>
      val fwd = corpus(texts)
      val rev = corpus(texts.map(_.split(" ").reverse.mkString(" ")))
      // reversing token order changes shingles, so signatures may differ —
      // but a doc repeated (multiplicity) or compared with itself must
      // agree: exact dup groups over fwd++fwd collapse pairwise
      val doubled = corpus(texts ++ texts)
      val groups = TextDedup.exactDupGroups(doubled).collect()
      groups.forall(_.getAs[Long]("n_copies") % 2 == 0) &&
        groups.map(_.getAs[Long]("n_copies")).sum == doubled.count() &&
        rev.count() == fwd.count()
    }
    assertHolds(p, 3)
  }

  test("property: simhash of identical token multisets is identical") {
    val p = Prop.forAll(text) { t =>
      val shuffled = scala.util.Random.javaRandomToRandom(
        new java.util.Random(7)).shuffle(t.split(" ").toList).mkString(" ")
      val sig = TextDedup.simhashSignatures(corpus(Seq(t, shuffled)))
        .collect().map(r => (r.getLong(1), r.getLong(2)))
      sig(0) == sig(1) // simhash is bag-of-words: order never matters
    }
    assertHolds(p, 5)
  }

  test("property: simhashPairs finds EVERY pair within hamming 3 (pigeonhole)") {
    // the 4x16-bit band join claims full recall at hamming <= 3: any
    // pair differing in <= 3 bits agrees exactly on >= 1 of 4 bands
    val p = Prop.forAll(Gen.listOfN(8, text)) { texts =>
      val df = corpus(texts)
      val sigs = TextDedup.simhashSignatures(df).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val expected = (for {
        (ida, ha, la) <- sigs
        (idb, hb, lb) <- sigs
        if ida < idb
        d = java.lang.Long.bitCount(ha ^ hb) + java.lang.Long.bitCount(la ^ lb)
        if d <= 3
      } yield (ida, idb)).toSet
      val got = TextDedup.simhashPairs(df, maxHamming = 3).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      got == expected
    }
    assertHolds(p, 3)
  }

  test("property: dedupPipeline is idempotent (dedup of deduped = identity)") {
    // hashes are deterministic, so every pair the first pass could
    // surface among survivors would already have dropped its db —
    // a second pass must be a no-op
    val p = Prop.forAll(Gen.listOfN(6, text)) { texts =>
      val df = corpus(texts)
      val once = TextDedup.dedupPipeline(df, threshold = 0.5)
        .collect().map(_.getLong(0)).toSet
      val survivors = df.filter(col("doc_id").isInCollection(once))
      val twice = TextDedup.dedupPipeline(survivors, threshold = 0.5)
        .collect().map(_.getLong(0)).toSet
      twice == once
    }
    assertHolds(p, 3)
  }

  test("property: index probe equals the cross-split slice of full self-dedup") {
    // the incremental path (build index over corpus, probe the batch)
    // must report EXACTLY the corpus×batch pairs the monolithic
    // self-dedup over corpus ∪ batch reports — same hash family, same
    // candidates, same jaccard values
    val p = Prop.forAll(Gen.listOfN(6, text)) { texts =>
      val df = corpus(texts)
      val corp = df.filter(col("doc_id") % 2 === 0)
      val batch = df.filter(col("doc_id") % 2 === 1)
      val (buckets, sets) = TextDedup.minhashIndex(corp,
        shingleK = 3, nHashes = 12, bands = 4)
      val probed = TextDedup.probeMinhashIndex(batch, buckets, sets,
        shingleK = 3, nHashes = 12, bands = 4, threshold = 0.3)
        .collect()
        .map(r => (math.min(r.getLong(0), r.getLong(1)),
          math.max(r.getLong(0), r.getLong(1))) -> r.getDouble(2)).toMap
      val full = TextDedup.minhashLshPairs(df, shingleK = 3,
        nHashes = 12, bands = 4, threshold = 0.3)
        .collect()
        .filter(r => (r.getLong(0) % 2) != (r.getLong(1) % 2)) // cross only
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      probed == full
    }
    assertHolds(p, 3)
  }

  test("property: LSH candidate pairs are a subset of the exact-jaccard pairs") {
    val p = Prop.forAll(Gen.listOfN(6, text)) { texts =>
      val df = corpus(texts)
      val lsh = TextDedup.minhashLshPairs(df, threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val exact = TextDedup.ngramJaccardPairs(df, maxDocId = None, threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      lsh.subsetOf(exact) // rerank makes every surfaced pair exact
    }
    assertHolds(p, 3)
  }

  test("property: segmentDedup keeps each distinct segment exactly once") {
    val p = Prop.forAll(Gen.listOfN(5, text)) { texts =>
      val df = corpus(texts)
      val width = 3
      val out = TextDedup.segmentDedup(df, width).collect()
      // reference segmentation, driver-side
      val segs = texts.map(_.split(" ").filter(_.nonEmpty).toSeq
        .grouped(width).map(_.mkString(" ")).toSeq match {
        case Nil => Seq("")
        case s => s
      })
      val distinctSegs = segs.flatten.toSet
      val keptTotal = out.map(_.getAs[Long]("n_kept")).sum
      // every distinct segment survives exactly once, corpus-wide
      keptTotal == distinctSegs.size &&
        // and each doc's clean_text is drawn from its own segments in order
        out.forall { r =>
          val id = r.getAs[Long]("doc_id").toInt
          val clean = r.getAs[String]("clean_text")
          val own = segs(id)
          // kept segments appear in original order: clean_text is the
          // in-order join of a subsequence of the doc's segments
          isOrderedSubsequenceJoin(clean, own)
        }
    }
    assertHolds(p, 4)
  }

  test("property: CC round budget is exactly diameter + 1 (boundary, both sides)") {
    // min-label propagation advances one hop per round, and convergence
    // costs one extra no-change probe round: a path graph of diameter d
    // must converge with maxIter = d + 1 and throw the documented error
    // with maxIter = d — at the EXACT boundary, not merely "far past"
    val s = spark
    import s.implicits._
    val p = Prop.forAll(Gen.chooseNum(2, 5)) { d =>
      // forced: the budget boundary is a property of the DISTRIBUTED
      // loop; the default regime solves these tiny graphs driver-side
      // without any round budget
      val path = (0 until d).map(i => (i.toLong, (i + 1).toLong))
        .toDF("da", "db")
      val ok = forced { TextDedup.duplicateComponents(path, maxIter = d + 1,
        escalateAfter = d + 1).collect() }
      val converged = ok.length == d + 1 && ok.forall(_.getLong(1) == 0L)
      val under = scala.util.Try(forced {
        TextDedup.duplicateComponents(path, maxIter = d, escalateAfter = d) })
      converged && under.isFailure &&
        under.failed.get.getMessage.contains("did not converge")
    }
    assertHolds(p, 3)
  }

  test("escalation: a path deeper than the propagation bound converges in O(log n) star rounds") {
    val s = spark
    import s.implicits._
    // diameter 100 — propagation alone needs ~101 rounds and r7's rail
    // threw here; the default budget (prop 8 + star 12) now converges
    // because large-star/small-star halves chains: log2(101) ≈ 7 rounds
    val chain = (0L until 100L).map(i => (i, i + 1)).toDF("da", "db")
    // a graph this small is closed by the driver union-find regime;
    // force the DISTRIBUTED path to exercise the escalation
    val comp = forced { TextDedup.duplicateComponents(chain).collect() }
    assert(comp.length === 101 && comp.forall(_.getLong(1) == 0L))
    // the default small-graph regime answers identically, in 2 jobs
    val compUf = TextDedup.duplicateComponents(chain).collect()
    assert(compUf.length === 101 && compUf.forall(_.getLong(1) == 0L))
    // the strict propagation-only rail is still available: budget
    // capped at escalateAfter leaves no star rounds and throws
    val ex = intercept[IllegalStateException] {
      forced { TextDedup.duplicateComponents(chain, maxIter = 8, escalateAfter = 8) }
    }
    assert(ex.getMessage.contains("did not converge"))
  }

  test("property: starComponents equals min-label propagation on random graphs") {
    val s = spark
    import s.implicits._
    val edgeGen = Gen.listOfN(16,
      Gen.zip(Gen.chooseNum(0L, 24L), Gen.chooseNum(0L, 24L)))
      .map(_.filter { case (a, b) => a != b })
      .suchThat(_.nonEmpty)
    val p = Prop.forAll(edgeGen) { es =>
      val pairs = es.toDF("da", "db")
      // propagation only (escalateAfter = maxIter forbids the star
      // switch; forcing the distributed regime forbids union-find)
      val viaProp = forced { TextDedup.duplicateComponents(pairs, 64, 64).collect() }
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // default regime: driver union-find (these graphs are tiny)
      val viaUf = TextDedup.duplicateComponents(pairs, 64, 64)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val sym = pairs.select(col("da").as("a"), col("db").as("b"))
        .union(pairs.select(col("db").as("a"), col("da").as("b")))
        .distinct()
      val viaStar = TextDedup.starComponents(sym, 64)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      viaProp == viaStar && viaProp == viaUf
    }
    assertHolds(p, 4)
  }

  test("starComponents contracts a deep path in O(log n) rounds (r14 #6)") {
    val s = spark
    import s.implicits._
    // path 0-1-…-n has diameter n: min-label propagation needs ~n
    // rounds, so the escalation's ROUND COUNT is the scale claim —
    // large-star/small-star must land in O(log n) alternations. The
    // recorded-round diagnostic pins it: a regression that turns the
    // alternation back into one-hop walking blows the bound loudly.
    for (n <- Seq(32, 128)) {
      val chain = (0L until n.toLong).map(i => (i, i + 1)).toDF("da", "db")
      val comp = forced { TextDedup.duplicateComponents(chain, maxIter = 64,
        escalateAfter = 1).collect() }
      assert(comp.length === n + 1 && comp.forall(_.getLong(1) == 0L))
      val rounds = TextDedup.lastStarRounds
      val log2n = 32 - Integer.numberOfLeadingZeros(n)
      assert(rounds > 0 && rounds <= 2 * log2n + 4,
        s"n=$n: $rounds star rounds exceeds the O(log n) bound " +
          s"${2 * log2n + 4}")
    }
  }

  /** `clean` equals some in-order subsequence of `segs` joined by a
    * space (empty string = empty subsequence or a kept empty segment).
    */
  private def isOrderedSubsequenceJoin(clean: String, segs: Seq[String]): Boolean = {
    if (clean.isEmpty) true
    else {
      // greedy match: each candidate subsequence element must appear
      // in order; segments are space-joined, so split back by scanning
      var rest = clean
      var ok = true
      val it = segs.iterator
      while (rest.nonEmpty && ok) {
        if (!it.hasNext) ok = false
        else {
          val s = it.next()
          if (rest == s) rest = ""
          else if (s.nonEmpty && rest.startsWith(s + " "))
            rest = rest.substring(s.length + 1)
        }
      }
      ok && rest.isEmpty
    }
  }
}
