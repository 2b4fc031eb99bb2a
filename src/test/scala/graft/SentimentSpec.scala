package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Analyses, Valence}

/** Hand-scored sentences for the TextBlob-grade valence scorer (P9): every
  * expected polarity below is computed by hand from the Valence tables and
  * the documented modifier algebra (nearest preceding booster at distance 1
  * full / distance 2 decayed ×0.95; negator within 3 preceding tokens →
  * ×-0.5; clamp to [-1, 1]; mean over ASSESSED tokens only).
  */
class SentimentSpec extends SparkTestBase {
  import spark.implicits._

  private def polarity(sentence: String): (Double, Double) = {
    val Array(n, p) = Seq(sentence).toDF("text")
      .select(TextFunctions.valencePolarity(
        filter(split(col("text"), " "), t => length(t) > 0),
        Valence.default, Valence.boosters, Valence.negators).as("v"))
      .head.getSeq[Double](0).toArray
    (n, p)
  }

  private def assertPolarity(sentence: String, expected: Double): Unit = {
    val (_, p) = polarity(sentence)
    assert(math.abs(p - expected) < 1e-12, s"'$sentence': got $p, want $expected")
  }

  test("plain valence word") {
    // good = 0.7
    assertPolarity("the pizza was good", 0.7)
  }

  test("distance-1 booster multiplies") {
    // very(1.3) good(0.7) = 0.91
    assertPolarity("the pizza was very good", 0.7 * 1.3)
  }

  test("distance-2 booster decays by 0.95") {
    // extremely(1.6) one token removed: 1 + 0.6*0.95 = 1.57; poor(-0.6)
    // (a stronger word would clamp and hide the decay)
    assertPolarity("extremely but poor", -0.6 * (1.0 + (1.6 - 1.0) * 0.95))
  }

  test("dampener boosters shrink ('barely useful')") {
    // barely(0.6) useful(0.4) = 0.24
    assertPolarity("this is barely useful", 0.4 * 0.6)
  }

  test("negation flips and dampens") {
    // not good = 0.7 * -0.5
    assertPolarity("not good", -0.35)
  }

  test("negation composes with booster ('not very good')") {
    // 0.7 * 1.3 * -0.5
    assertPolarity("it was not very good", 0.7 * 1.3 * -0.5)
  }

  test("negator reaches exactly 3 tokens back") {
    // not(0) the(1) very(2) best(3): negator at distance 3 → 1.0*1.3*-0.5
    assertPolarity("not the very best", 1.0 * 1.3 * -0.5)
    // quality(i=6) has prev3 = {such, seen, we}: 'never' is OUT of window
    assertPolarity("never before have we seen such quality", 0.3)
  }

  test("modified valence clamps to [-1, 1]") {
    // extremely(1.6) bad(-0.7) = -1.12 → -1.0
    assertPolarity("extremely bad service", -1.0)
  }

  test("mean is over assessed tokens only; none assessed → 0.0") {
    val (n0, p0) = polarity("the train leaves at noon")
    assert(n0 === 0.0 && p0 === 0.0)
    // good(0.7) + slightly-decayed expensive: 'too' is not a booster, so
    // slightly(0.7) sits at distance 2 → 1 + (0.7-1)*0.95 = 0.715
    val expected = (0.7 + -0.3 * (1.0 + (0.7 - 1.0) * 0.95)) / 2.0
    assertPolarity("good but slightly too expensive", expected)
    assert(polarity("good but slightly too expensive")._1 === 2.0)
  }

  test("contractions negate with either spelling") {
    assertPolarity("don't love it", 0.7 * -0.5)
    assertPolarity("dont love it", 0.7 * -0.5)
  }

  test("graft_valence SQL function agrees") {
    val p = spark.sql(
      "SELECT graft_valence(array('not', 'very', 'good'))[1] AS p")
      .head.getDouble(0)
    assert(math.abs(p - 0.7 * 1.3 * -0.5) < 1e-12)
  }

  test("sentenceSentiment labels react to negation") {
    // same term 'spark' in a positive and a negated sentence; the lexicon
    // here is query-supplied, modifiers come from the English defaults
    val docs = Seq("spark is very good. spark is not good.").toDF("text")
    val out = Analyses.sentenceSentiment(docs, "text", Seq("spark"),
        Map("good" -> 0.7), Valence.boosters, Valence.negators)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    assert(out === Array(("spark", "neg", -0.35), ("spark", "pos", 0.91)))
  }

  test("lexiconSentiment groups doc-level valence means") {
    val docs = Seq(
      ("en", "very good stuff"),       // 0.91
      ("en", "not good"),              // -0.35
      ("de", "nothing to assess here") // 0.0
    ).toDF("lang", "text")
    val out = Analyses.lexiconSentiment(docs, "text", "lang",
        Map("good" -> 0.7), Valence.boosters, Valence.negators)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).sortBy(_._1)
    assert(out === Array(("de", 0.0, 1L), ("en", 0.28, 2L)))
  }

  test("lexicon sanity: valences in [-1,1], boosters positive, tables disjoint") {
    assert(Valence.default.values.forall(v => v >= -1.0 && v <= 1.0 && v != 0.0))
    assert(Valence.boosters.values.forall(b => b > 0.0 && b <= 2.0))
    assert(Valence.default.keySet.intersect(Valence.boosters.keySet).isEmpty)
    assert(Valence.default.keySet.intersect(Valence.negators.toSet).isEmpty)
    assert(Valence.boosters.keySet.intersect(Valence.negators.toSet).isEmpty)
    assert(Valence.default.size >= 180)
  }
}
