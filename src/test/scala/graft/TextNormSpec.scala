package graft

import graft.functions.TextNorm
import graft.operators.TextQuality

class TextNormSpec extends SparkTestBase {
  import spark.implicits._

  private def n(s: String) = TextNorm.normalize(s, nfkc = false)

  test("NFC composes decomposed accents") {
    assert(n("Cafe\u0301") === "Caf\u00E9")
    assert(n("Caf\u00E9") === "Caf\u00E9")
  }

  test("line endings: CRLF and stray CR become LF") {
    assert(n("a\r\nb\rc\nd") === "a\nb\nc\nd")
    // zero-width between CR and LF: CR no longer pairs, so two breaks
    assert(n("a\r\u200B\nb") === "a\n\nb")
  }

  test("unicode spaces map to ASCII space") {
    assert(n("a\u00A0b\u2003c\u3000d\u2009e") === "a b c d e")
  }

  test("zero-width chars, BOM, soft hyphen are removed") {
    assert(n("\uFEFFa\u200Bb\u200Cc\u200Dd\u00ADe") === "abcde")
  }

  test("control chars drop except newline and tab") {
    assert(n("a\u0007b c\td\ne\u009Ff") === "ab c\td\nef")
  }

  test("plain ASCII passes through untouched") {
    val s = "The quick brown fox. 123!"
    assert(n(s) === s)
  }

  test("NFKC additionally folds compatibility forms") {
    assert(TextNorm.normalize("\uFF11\uFF12", nfkc = true) === "12")
    assert(TextNorm.normalize("\uFB01le", nfkc = true) === "file")
    assert(TextNorm.normalize("\uFF11", nfkc = false) === "\uFF11")
  }

  test("column API and SQL function agree with the kernel") {
    val raw = Seq("Cafe\u0301\r\nx\u00A0y\u200Bz", "plain", "\uFF13 three")
    val df = raw.toDF("t")
    val viaCol = df.select(TextQuality.normalizeText($"t")).as[String].collect()
    df.createOrReplaceTempView("tn_docs")
    val sqlRes = spark.sql("SELECT graft_normalize(t, false) FROM tn_docs")
      .as[String].collect()
    val expected = raw.map(n)
    assert(viaCol.toSeq === expected)
    assert(sqlRes.toSeq === expected)
  }

  test("normalize is idempotent over random dirty strings") {
    val dirty: Array[Char] = Array(
      'a', 'b', 'e', 'Z', '1', '.', ' ', '\t', '\n', '\r',
      '\u0301', '\u0308', // combining acute / diaeresis
      '\u00A0', '\u2003', '\u3000', // spaces
      '\u200B', '\u200C', '\u200D', '\uFEFF', '\u00AD', // zero-width
      '\u0007', '\u009F', // controls
      '\u00E9', '\uFF11', '\uFB01') // composed e-acute, fullwidth, ligature
    val rnd = new scala.util.Random(42)
    (1 to 500).foreach { _ =>
      val s = Array.fill(rnd.nextInt(30))(dirty(rnd.nextInt(dirty.length))).mkString
      for (nfkc <- Seq(false, true)) {
        val once = TextNorm.normalize(s, nfkc)
        assert(TextNorm.normalize(once, nfkc) === once,
          s"not idempotent (nfkc=$nfkc) on: " + s.map(c => f"\\u${c.toInt}%04X").mkString)
      }
    }
  }

  test("zero-width joiner between base and combining mark still composes") {
    assert(n("e\u200D\u0301") === "\u00E9")
  }

  test("normalizeDocs audit flag marks exactly the changed rows") {
    val df = Seq((1L, "clean text"), (2L, "dirty\u00A0text"))
      .toDF("doc_id", "text")
    val out = TextQuality.normalizeDocs(df, "doc_id", "text")
      .orderBy("doc_id")
      .select($"text_norm", $"changed").as[(String, Boolean)].collect()
    assert(out(0) === (("clean text", false)))
    assert(out(1) === (("dirty text", true)))
  }
}
