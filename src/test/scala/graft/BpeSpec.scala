package graft

import org.apache.spark.sql.functions._

import graft.functions.Bpe
import graft.operators.TextQuality

/** Golden vectors for the real BPE tokenizer (train + encode) — the
  * correctness story for the one operator family the DuckDB oracle can't
  * replay (greedy iterative merging isn't SQL-expressible).
  */
class BpeSpec extends SparkTestBase {
  import spark.implicits._

  test("train: classic low/lower/lowest histogram, deterministic tie-breaks") {
    // Sennrich's worked example shape. Counts: low×5, lower×2, lowest×2.
    val merges = Bpe.train(Seq(("low", 5L), ("lower", 2L), ("lowest", 2L)), 4)
    // (l,o) and (o,w) both occur 9 times; tie breaks to the
    // lexicographically smaller pair (l,o). Then (lo,w) 9, then (low,e) 4.
    assert(merges.take(3) === Seq(("l", "o"), ("lo", "w"), ("low", "e")))
  }

  test("train: stops when no pair repeats") {
    val merges = Bpe.train(Seq(("ab", 1L), ("cd", 1L)), 10)
    assert(merges.isEmpty) // every pair occurs once — nothing to merge
  }

  test("encode: greedy lowest-rank order, unseen words fall back to chars") {
    val table = new Bpe.MergeTable(Seq(("l", "o"), ("lo", "w"), ("e", "r")))
    assert(table.encodeWord("lower").toSeq === Seq("low", "er"))
    // 'slow' was never in training but (l,o)/(lo,w) still apply inside it
    assert(table.encodeWord("slow").toSeq === Seq("s", "low"))
    assert(table.encodeWord("xyz").toSeq === Seq("x", "y", "z"))
    assert(table.encodeWord("a").toSeq === Seq("a"))
    // tokens always reassemble the word
    Seq("lower", "slow", "xyz").foreach { w =>
      assert(table.encodeWord(w).mkString === w)
    }
  }

  test("encode: pre-tokenizer splits letter runs, digit runs, marks") {
    val table = new Bpe.MergeTable(Seq(("1", "2")))
    assert(table.encode("ab 12, c").toSeq === Seq("a", "b", "12", ",", "c"))
  }

  test("column + SQL surfaces agree with the kernel") {
    val merges = Seq(("l", "o"), ("lo", "w"))
    val df = Seq((1L, "slow flow"), (2L, "")).toDF("id", "text")
    val viaColumn = df.select(col("id"),
        TextQuality.bpeEncode(col("text"), merges).as("toks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(viaColumn(1L) === Seq("s", "low", "f", "low"))
    assert(viaColumn(2L) === Seq.empty)
    df.createOrReplaceTempView("bpe_in")
    val viaSql = spark.sql(
      "SELECT id, graft_bpe_encode(text, array('l o', 'lo w')) AS toks FROM bpe_in")
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(viaSql === viaColumn)
  }

  test("bpeTrain + bpeTokenStats end to end: merges compress the corpus") {
    val docs = Seq.tabulate(20)(i => (i.toLong, "the cat sat on the mat"))
      .toDF("doc_id", "text")
    val merges = TextQuality.bpeTrain(docs, "text", numMerges = 10)
    assert(merges.nonEmpty)
    val stats = TextQuality.bpeTokenStats(docs, "doc_id", "text", merges)
      .collect()
    // repeated 3-letter words must merge to whole-word tokens: 6 per doc
    assert(stats.forall(_.getAs[Long]("n_bpe_tokens") === 6L))
    assert(stats.forall(_.getAs[Double]("chars_per_token") > 1.0))
  }
}
