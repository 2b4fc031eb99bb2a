package graft

import graft.functions.Mojibake
import graft.operators.TextQuality

/** Mojibake repair kernel + column/SQL plumbing. Reference behavior:
  * the mC4 preparation runs ftfy per document
  * (preparation/mc4/mc4.py:11,69); these goldens are the classic
  * UTF-8-as-cp1252/latin-1 accidents ftfy exists for.
  */
class MojibakeSpec extends SparkTestBase {
  import spark.implicits._

  /** Mangle: encode UTF-8, decode as the given charset — the accident. */
  private def mangle(s: String, cs: String) = new String(s.getBytes("UTF-8"), cs)

  private val goldens = Seq(
    ("cp1252 apostrophe", mangle("it’s here", "windows-1252"), "it’s here"),
    ("cp1252 e-acute", mangle("café", "windows-1252"), "café"),
    // NOTE: ” (U+201D) is NOT here — its UTF-8 tail byte 0x9D is one of
    // the five bytes undefined in cp1252, so Java's decoder mangles it to
    // U+FFFD and the original is genuinely unrecoverable (ftfy's
    // "sloppy-1252" variant maps those bytes to C1 controls instead; the
    // latin-1 flavor below covers that shape). Lossy mangles stay as-is.
    ("cp1252 quotes+dash", mangle("“a‘b’ — c", "windows-1252"), "“a‘b’ — c"),
    ("latin-1 C1 flavor", mangle("it’s — done", "ISO-8859-1"), "it’s — done"),
    ("latin-1 euro", mangle("price €10", "ISO-8859-1"), "price €10"),
    ("4-byte emoji (C1 run)", mangle("ok 🙂 fine", "ISO-8859-1"), "ok 🙂 fine"),
    ("4-byte emoji (cp1252 specials)", mangle("ok 🙂", "windows-1252"), "ok 🙂"),
    ("double-mangled", mangle(mangle("it’s", "windows-1252"), "windows-1252"), "it’s"),
    ("greek", mangle("αβγ δ", "ISO-8859-1"), "αβγ δ"),
    ("cyrillic", mangle("привет мир", "windows-1252"), "привет мир"),
    // a mangled rare-script SENTENCE has >=2 specials and >=2 codepoints
    ("cjk sentence", mangle("中文文本", "windows-1252"), "中文文本"),
    ("dingbat", mangle("done ✓", "windows-1252"), "done ✓"))

  private val untouched = Seq(
    ("plain ascii", "hello world 123!"),
    ("legit french", "café crème à côté"),
    ("legit accents run", "ÀÉÎÕÜ"),
    // valid-UTF-8 coincidence without any cp1252/C1 indicator decodes to
    // CJK — outside the common targets, so the guard keeps it
    ("cjk coincidence guard", "é©©"),
    // single-special coincidences: each re-encodes to valid UTF-8 for ONE
    // rare codepoint (NKo U+07D7, CJK U+95C0) — kept, because one special
    // next to a mappable letter happens in legit prose
    ("sharp-s em-dash", "Straße—nein"),
    ("price juxtaposition", "café—€5"),
    ("isolated lead byte", "naïve café – ok"))

  test("repairs the classic mojibake accidents") {
    for ((name, in, want) <- goldens)
      assert(Mojibake.fix(in) === want, name)
  }

  test("leaves intentional text and coincidences alone") {
    for ((name, s) <- untouched)
      assert(Mojibake.fix(s) === s, name)
  }

  test("repair is idempotent on every golden and untouched case") {
    for ((_, in, _) <- goldens; once = Mojibake.fix(in))
      assert(Mojibake.fix(once) === once)
    for ((_, s) <- untouched)
      assert(Mojibake.fix(Mojibake.fix(s)) === Mojibake.fix(s))
  }

  test("mangle→repair round-trips arbitrary mixed text (both charsets)") {
    val texts = Seq(
      "The naïve piñata — “quoted” and ‘single’, costs €5…",
      "résumé über straße çalışma", // latin-1-heavy
      "mixed ascii then 中文 is NOT latin-mappable so survives mangling only in ascii parts")
    for (t <- texts; cs <- Seq("windows-1252", "ISO-8859-1")) {
      val m = mangle(t, cs)
      // mangling via latin-1/cp1252 is lossy for chars outside the map
      // (they become '?'-free replacement of unmappable bytes only when
      // encoding; decoding is total) — only assert when the mangle is
      // faithful, i.e. re-encoding recovers the original bytes
      val faithful = new String(m.getBytes(cs match {
        case "windows-1252" => "windows-1252"
        case other => other
      }), "UTF-8") == t
      if (faithful) assert(Mojibake.fix(m) === t, s"$cs: $t")
    }
  }

  test("property: truth text is a fixpoint; faithful mangles round-trip") {
    // full alphabet exercises the guards (CJK included); the "safe"
    // subset excludes CJK, whose repair needs sentence-level evidence
    // (≥2 specials + ≥2 codepoints) a 1-char sample can't provide.
    // Å is deliberately ABSENT from both: it is a 2-byte UTF-8 LEAD
    // (0xC5), so a random truth pair like "Å—" re-encodes to valid
    // UTF-8 for Latin-ext ŗ and is repaired by convention — see the
    // dedicated test below
    val safeAlphabet =
      "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 .,!?-" +
        "éüñàçßœř—–‘’“„…€™αβγδпривет🙂✓"
    val fullAlphabet = safeAlphabet + "中文本"
    def cps(a: String) = a.codePoints.toArray
    val rnd = new scala.util.Random(20260814L)
    def randText(a: Array[Int], len: Int): String = {
      val sb = new StringBuilder
      (1 to len).foreach(_ =>
        sb.appendAll(Character.toChars(a(rnd.nextInt(a.length)))))
      sb.toString
    }
    val full = cps(fullAlphabet)
    val safe = cps(safeAlphabet)
    var roundTrips = 0
    (1 to 2000).foreach { _ =>
      val t = randText(full, 1 + rnd.nextInt(30))
      assert(Mojibake.fix(t) === t, s"false positive on truth: $t")
      val ts = randText(safe, 1 + rnd.nextInt(30))
      for (cs <- Seq("windows-1252", "ISO-8859-1")) {
        val m = mangle(ts, cs)
        // mangle is faithful iff re-encoding recovers the UTF-8 bytes
        // (cp1252's five undefined bytes and unmappable codepoints lose
        // information — those mangles are unrecoverable by anyone)
        if (new String(m.getBytes(cs), "UTF-8") == ts) {
          assert(Mojibake.fix(m) === ts, s"$cs failed round-trip: $ts")
          roundTrips += 1
        }
        val fixedOnce = Mojibake.fix(m)
        assert(Mojibake.fix(fixedOnce) === fixedOnce, s"not idempotent: $ts")
      }
    }
    assert(roundTrips > 1500, s"only $roundTrips faithful round-trips — alphabet wrong?")
  }

  test("latin-ext pair convention: lead+continuation pairs repair (ftfy-style)") {
    // the classic Czech/Baltic mojibake shapes: Å¡ → š, Å™ → ř,
    // Ã… → Å. The flip side of the convention is that a LEGIT
    // "Å—" pair (Å is the 2-byte lead 0xC5, — the continuation 0x97)
    // is indistinguishable from mojibake for ŗ and is repaired too —
    // the Latin-ext ranges are common repair targets precisely because
    // these pairs are overwhelmingly mojibake in crawl data
    assert(Mojibake.fix("Å¡kola") === "škola")
    assert(Mojibake.fix("Å™eka") === "řeka")
    assert(Mojibake.fix("Ã…land") === "Åland")
    assert(Mojibake.fix("Å—") === "ŗ")
  }

  test("column API and SQL function agree with the kernel") {
    val raw = Seq(mangle("it’s café", "windows-1252"), "plain",
      mangle("— €9 🙂", "ISO-8859-1"))
    val df = raw.toDF("t")
    val viaCol = df.select(TextQuality.fixMojibake($"t")).as[String].collect()
    df.createOrReplaceTempView("mj_docs")
    val viaSql = spark.sql("SELECT graft_fix_mojibake(t) FROM mj_docs")
      .as[String].collect()
    val expect = raw.map(Mojibake.fix)
    assert(viaCol.toSeq === expect)
    assert(viaSql.toSeq === expect)
  }

  test("fixMojibakeDocs emits repaired text plus a changed flag") {
    val df = Seq((1L, mangle("a – b", "windows-1252")), (2L, "clean"))
      .toDF("doc_id", "text")
    val out = TextQuality.fixMojibakeDocs(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out(0).getString(1) === "a – b" && out(0).getBoolean(2))
    assert(out(1).getString(1) === "clean" && !out(1).getBoolean(2))
  }

  test("repair composes with normalize: mojibake first, then NFC/cleanup") {
    // the latin-1 flavor's C1 evidence must survive until repair runs;
    // normalize-first would strip it and strand the mojibake
    val truth = "it’s fine"
    val m = mangle(truth, "ISO-8859-1")
    val repairedThenNorm =
      graft.functions.TextNorm.normalize(Mojibake.fix(m), nfkc = false)
    assert(repairedThenNorm === truth)
    val normedFirst = graft.functions.TextNorm.normalize(m, nfkc = false)
    assert(Mojibake.fix(normedFirst) !== truth)
  }
}
