package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class LangModelSpec extends AnyFunSuite with SparkSpec {

  private def docs(rows: (Long, String)*) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  test("planted fixture: in-model docs keep, out-of-model gibberish " +
      "is flagged rare") {
    // train slice: a tiny grammar where "the cat sat" transitions are
    // licensed heavily; eval adds a doc whose transitions the model
    // has never seen
    val train = docs(
      (0L, "the cat sat on the mat"),
      (1L, "the cat sat on the rug"),
      (2L, "the dog sat on the mat"),
      (3L, "the cat ate the fish"))
    val all = train.unionByName(docs(
      (4L, "the cat sat on the mat"), // pure in-model transitions
      (5L, "zx qv wk jj pf zx qv"))) // no transition ever seen
    val out = LangModel.rareTransitionScore(all, train,
      rarity = 4, maxRareFrac = 0.5)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Long]("n_rare"),
          r.getAs[Boolean]("keep"))).toMap
    // doc 4: every bigram seen >=1 time in train; with V=11 distinct
    // train tokens and rarity=4, "the cat" has c_ab=3, c_a("the")=8:
    // 4*(3+1)=16 < 8+11=19 -> even seen transitions can be rare under
    // an aggressive threshold; compute against the exact rule instead
    // of hand-waving: n_rare is whatever the integer rule says, and
    // the keep flag must match n_rare/n_bigrams <= 0.5
    out.foreach { case (id, (nb, nr, keep)) =>
      assert(nr >= 0 && nr <= nb, s"doc $id rare-count bounds")
      if (nb > 0) assert(keep === (nr.toDouble / nb <= 0.5), s"doc $id")
      else assert(keep, s"evidence-free doc $id must be kept")
    }
    // the gibberish doc must score strictly rarer than the in-model doc
    val frac4 = out(4L)._2.toDouble / out(4L)._1
    val frac5 = out(5L)._2.toDouble / out(5L)._1
    assert(frac5 > frac4, s"gibberish $frac5 must out-rare in-model $frac4")
    assert(frac5 === 1.0, "fully-unseen transitions are all rare")
  }

  test("exact rule check on a hand-computed model") {
    // train: one doc "a b a b a c" -> unigrams: a=3, b=2, c=1; V=3
    // bigrams: (a,b)=2, (b,a)=2, (a,c)=1
    val train = docs((0L, "a b a b a c"))
    val eval = docs((0L, "a b a b a c"), (1L, "a b c a"), (2L, "solo"))
    val out = LangModel.rareTransitionScore(eval, train,
      rarity = 2, maxRareFrac = 0.5)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Long]("n_rare"),
          r.getAs[Double]("rare_frac"), r.getAs[Boolean]("keep"))).toMap
    // rarity=2, V=3: rare iff 2*(c_ab+1) < c_a + 3
    //  (a,b): 2*3=6 < 3+3=6? no  -> common
    //  (b,a): 2*3=6 < 2+3=5? no  -> common
    //  (a,c): 2*2=4 < 3+3=6? yes -> rare
    //  (b,c): 2*1=2 < 2+3=5? yes -> rare (unseen bigram, seen context)
    //  (c,a): 2*1=2 < 1+3=4? yes -> rare
    assert(out(0L) === ((5L, 1L, 0.2, true)))   // ab ba ab ba ac
    assert(out(1L) === ((3L, 2L, 2.0 / 3.0, false))) // ab bc ca
    assert(out(2L) === ((0L, 0L, 0.0, true)))   // single token: no evidence
  }

  test("corpus-level gate: unseen-context gibberish drops, the " +
      "dominant grammar keeps — with the train/eval split applied") {
    val s = spark
    import s.implicits._
    // NOTE the conditional semantics: a transition is rare when its
    // CONTEXT doesn't license it, not when its words are corpus-rare
    // (a deterministic weird doc inside train has HIGH-probability
    // transitions). Gibberish must therefore live outside the train
    // slice with per-doc-unique tokens, and V must exceed `rarity`
    // for add-one smoothing to flag OOV contexts at all (p_oov = 1/V)
    val corpus = (0L until 100L).map { i =>
      (i, if (i % 20 == 17) s"g$i h$i g$i h$i g$i"
          else s"the cat sat on the mat u$i")
    }.toDF("doc_id", "text")
    val out = LangModel.rareTransitionScore(
      corpus, corpus.filter(col("doc_id") % 20 < 16), rarity = 64)
    assert(out.count() === 100L)
    val dropped = out.filter(!col("keep")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // V = 5 + 80 unique u-tokens = 85 > rarity: every gibberish
    // transition is OOV-context rare (4/4); normal docs flag only
    // their unique trailing (mat, u_i) bigram (1/6)
    assert(dropped === (0L until 100L).filter(_ % 20 == 17).toSet)
    val fracs = out.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("rare_frac"))
      .toMap
    assert(fracs(17L) === 1.0)
    assert(math.abs(fracs(1L) - 1.0 / 6.0) < 1e-15)
  }

  test("oversized-model regime: the shuffle-join path matches the " +
      "count-map probe path row for row (r17)") {
    // the forced run takes the shuffle-join branch over the model
    // checkpoint; run it twice so a repeat call, which builds the model
    // again into a fresh checkpoint, is certified to match as well
    // (the probe-overflow handoff of a filled checkpoint is pinned by
    // the boundedRows spec)
    val corpus = docs((0L until 40L).map(i =>
      i -> (if (i % 7 == 3) s"qq$i zz$i qq$i" else "the cat sat on the mat")): _*)
    val train = corpus.filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 0)
    def rows() = LangModel
      .rareTransitionScore(corpus, train, rarity = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4))).toSet
    val probe = rows()
    assert(forced { rows() } === probe)
    assert(forced { rows() } === probe) // repeat call: same rows
  }

  test("an empty reference vocabulary raises instead of silently " +
      "keeping everything (r16 ADVICE)") {
    // with V = 0 and c_a = 0 the rare predicate rarity*(c_ab+1) <
    // c_a+V is unsatisfiable — a misconfigured gate would pass every
    // document; the operator must fail loudly (at model-BUILD time in
    // the probe regime, at evaluation in the join regime)
    val empty = docs((0L, ""), (1L, "   "))
    val e = intercept[Exception] {
      LangModel.rareTransitionScore(
        docs((2L, "some actual text here")), empty).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("empty vocabulary")),
      s"expected the empty-vocabulary raise, got: ${msgs(e)}")
  }
}
