package graft

import org.apache.spark.sql.functions._

import graft.search.{InvertedIndex, Searcher}

/** Index tier vs scan tier: postings shape on hand-computed documents, a
  * randomized differential against the PhraseMatch scan predicate, and the
  * bucket-pruning plan property that makes the index worth building.
  */
class InvertedIndexSpec extends SparkTestBase {
  import spark.implicits._

  private val docs = Seq(
    (1L, "a b a b a"),   // "a b": starts 0,2 ; "b a": 1,3
    (2L, "b b b"),       // "b b": 0,1 (overlapping)
    (3L, "c"),
    (4L, "a b c a b c")  // "a b c": 0,3
  ).toDF("doc_id", "text")

  test("postings: positions, tf, dl norm, one row per (term, doc)") {
    val p = InvertedIndex.postings(docs, "doc_id", "text", uax29 = false)
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getSeq[Int](2).toList, r.getLong(3), r.getLong(4))).toSet
    assert(p.contains(("a", 1L, List(0, 2, 4), 3L, 5L)))
    assert(p.contains(("b", 2L, List(0, 1, 2), 3L, 3L)))
    assert(p.contains(("c", 3L, List(0), 1L, 1L)))
    assert(p.contains(("c", 4L, List(2, 5), 2L, 6L)))
    // one row per (term, doc): 2 terms in doc 1, 1 in doc 2 ...
    assert(p.count(_._2 == 1L) === 2)
  }

  test("bm25TopK: matches the formula computed by hand") {
    val post = InvertedIndex.postings(docs, "doc_id", "text", uax29 = false)
    val norms = InvertedIndex.corpusNorms(docs, "text", uax29 = false)
    val got = InvertedIndex.bm25TopK(post, norms, Seq("a", "c"), k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    // N=4, avgdl=(5+3+1+6)/4=3.75 ; df(a)=2, df(c)=2
    val idf = math.log(1 + (4 - 2 + 0.5) / (2 + 0.5))
    def tfn(tf: Double, dl: Double) =
      tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / 3.75))
    val exp = Map(
      1L -> idf * tfn(3, 5), 3L -> idf * tfn(1, 1),
      4L -> idf * (tfn(2, 6) + tfn(2, 6)))
    assert(got.map(_._1).toSet === exp.keySet)
    got.foreach { case (id, s) =>
      assert(math.abs(s - exp(id)) < 1e-6, s"doc $id") }
    // ranked descending
    assert(got.map(_._2).toSeq === got.map(_._2).sorted.reverse.toSeq)
  }

  test("phraseHits: overlapping occurrences, duplicate terms, zero hits") {
    val post = InvertedIndex.postings(docs, "doc_id", "text", uax29 = false)
    val hits = InvertedIndex.phraseHits(post,
        Seq("a b", "b b", "a b c", "z q"), uax29 = false)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(hits("a b") === ((4L, 2L)))    // doc1 ×2 + doc4 ×2
    assert(hits("b b") === ((2L, 1L)))    // overlapping inside doc2
    assert(hits("a b c") === ((2L, 1L)))  // doc4 only
    assert(hits("z q") === ((0L, 0L)))    // zero-hit phrase kept
  }

  test("docsContainingPhrase: per-doc retrieval rows, zero-hit phrases absent") {
    val post = InvertedIndex.postings(docs, "doc_id", "text", uax29 = false)
    val got = InvertedIndex.docsContainingPhrase(post,
        Seq("a b", "b b", "z q"), uax29 = false)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === Map(
      ("a b", 1L) -> 2L, ("a b", 4L) -> 2L,  // overlapping starts per doc
      ("b b", 2L) -> 2L))                     // "z q": retrieval emits no row
  }

  test("differential: index-tier doc counts == scan-tier PhraseMatch") {
    val rnd = new scala.util.Random(7)
    val vocab = Array("x", "y", "z", "w")
    val corpus = (1L to 60L).map { i =>
      (i, Seq.fill(2 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.length)))
        .mkString(" "))
    }.toDF("doc_id", "text")
    val post = InvertedIndex.postings(corpus, "doc_id", "text", uax29 = false)
      .localCheckpoint()
    val phrases = Seq("x y", "y y z", "z w x y", "w")
    val idx = InvertedIndex.phraseHits(post, phrases, uax29 = false)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    phrases.foreach { p =>
      val scan = corpus
        .where(Searcher.phrasePredicate(col("text"), p, uax29 = false))
        .count()
      assert(idx(p) === scan, s"phrase '$p'")
    }
  }

  test("pairedContamination: fields must co-occur in ONE doc; tiers agree") {
    // "q1 a1" split across docs: each field present somewhere, never
    // together — unpaired contamination would count it, paired must not
    val corpus = Seq(
      (1L, "q1 foo bar"),       // question of ex0 only
      (2L, "baz a1 qux"),       // answer of ex0 only
      (3L, "q2 mid a2 tail")    // ex1 fully inside one doc
    ).toDF("doc_id", "text")
    val examples = Seq(Seq("q1", "a1"), Seq("q2", "a2"), Seq("zz absent"))
    val scan = Searcher.pairedContamination(corpus, "text", examples,
      uax29 = false).head()
    assert((scan.getLong(0), scan.getLong(1), scan.getDouble(2)) ===
      ((3L, 1L, 0.333333)))
    val post = InvertedIndex.postings(corpus, "doc_id", "text", uax29 = false)
    val idx = InvertedIndex.pairedContaminationIndexed(post, examples,
      uax29 = false).head()
    assert((idx.getLong(0), idx.getLong(1), idx.getDouble(2)) ===
      ((scan.getLong(0), scan.getLong(1), scan.getDouble(2))))
    // duplicate field phrases inside one example don't demand 2 distinct
    // hits; a single-field example degrades to plain contamination
    val dup = InvertedIndex.pairedContaminationIndexed(post,
      Seq(Seq("q2", "q2", "a2"), Seq("mid")), uax29 = false).head()
    assert((dup.getLong(0), dup.getLong(1)) === ((2L, 2L)))
    // empty benchmark → empty report on both tiers, never a throw
    assert(Searcher.pairedContamination(corpus, "text", Seq.empty,
      uax29 = false).isEmpty)
    assert(InvertedIndex.pairedContaminationIndexed(post, Seq.empty,
      uax29 = false).isEmpty)
    // punctuated field phrases under uax29: both tiers tokenize the
    // PHRASE with the doc tokenizer, so they agree (a space-split scan
    // side would never match "Paris." against tokenized text)
    val pcorp = Seq((1L, "we saw Paris. then London")).toDF("doc_id", "text")
    val ppost = InvertedIndex.postings(pcorp, "doc_id", "text")
    val pex = Seq(Seq("Paris.", "London"))
    val ps = Searcher.pairedContamination(pcorp, "text", pex).head()
    val pi = InvertedIndex.pairedContaminationIndexed(ppost, pex).head()
    assert(ps.getLong(1) === 1L && pi.getLong(1) === 1L)
    // per-example counts (count_documents_for_each_phrase all_phrases=True
    // shape): q2+a2 in one doc → 1; split fields → 0; absent → 0
    val per = Searcher.countPerExample(corpus, "text", examples,
      uax29 = false).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(per === Map(0L -> 0L, 1L -> 1L, 2L -> 0L))
    assert(Searcher.countPerExample(corpus, "text", Seq.empty,
      uax29 = false).isEmpty)
    // getContaining returnAllHits skips the page limit
    assert(Searcher.getContaining(corpus, "text", Seq("q2"), uax29 = false,
      numDocuments = 0, returnAllHits = true).count() === 1L)
  }

  test("differential: paired contamination, random corpus, tiers agree") {
    val rnd = new scala.util.Random(13)
    val vocab = Array("x", "y", "z", "w")
    val corpus = (1L to 80L).map { i =>
      (i, Seq.fill(2 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.length)))
        .mkString(" "))
    }.toDF("doc_id", "text")
    val post = InvertedIndex.postings(corpus, "doc_id", "text", uax29 = false)
      .localCheckpoint()
    def randPhrase(): String =
      Seq.fill(1 + rnd.nextInt(3))(vocab(rnd.nextInt(vocab.length)))
        .mkString(" ")
    (1 to 5).foreach { trial =>
      val examples = Seq.fill(1 + rnd.nextInt(4))(
        Seq.fill(1 + rnd.nextInt(3))(randPhrase()))
      val scan = Searcher.pairedContamination(corpus, "text", examples,
        uax29 = false).head()
      val idx = InvertedIndex.pairedContaminationIndexed(post, examples,
        uax29 = false).head()
      assert((scan.getLong(0), scan.getLong(1)) ===
        ((idx.getLong(0), idx.getLong(1))), s"trial $trial: $examples")
    }
  }

  test("differential: index-tier slop counts == scan-tier PhraseMatchLucene") {
    val rnd = new scala.util.Random(11)
    val vocab = Array("x", "y", "z", "w")
    val corpus = (1L to 80L).map { i =>
      (i, Seq.fill(2 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.length)))
        .mkString(" "))
    }.toDF("doc_id", "text")
    val post = InvertedIndex.postings(corpus, "doc_id", "text", uax29 = false)
      .localCheckpoint()
    val phrases = Seq("x y", "y x z", "x x", "w z")
    for (slop <- 0 to 3) {
      val idx = InvertedIndex.countContainingSlop(post, phrases, slop,
        uax29 = false).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      phrases.foreach { p =>
        val scan = corpus.where(Searcher.phrasePredicate(col("text"), p,
          slop, uax29 = false, luceneSlop = true)).count()
        assert(idx(p) === scan, s"phrase '$p' slop $slop")
      }
    }
  }

  test("proximityPairs: symmetric window, per-occurrence counts, zero-hit kept") {
    val post = InvertedIndex.postings(docs, "doc_id", "text", uax29 = false)
    val got = InvertedIndex.proximityPairs(post,
        Seq(("a", "c"), ("c", "a"), ("a", "z")), window = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    // doc4 "a b c a b c": a@{0,3}, c@{2,5}; |0-2|=2, |3-2|=1, |3-5|=2 →
    // both a-positions have a c within 2; symmetric: both c's have an a
    assert(got(("a", "c")) === ((1L, 2L)))
    assert(got(("c", "a")) === ((1L, 2L)))
    assert(got(("a", "z")) === ((0L, 0L)))
  }

  test("phraseHits/countContainingSlop reject a phrase with no terms") {
    val post = InvertedIndex.postings(docs, "doc_id", "text", uax29 = false)
    intercept[IllegalArgumentException] {
      InvertedIndex.phraseHits(post, Seq("a b", ""), uax29 = true)
    }
    intercept[IllegalArgumentException] {
      InvertedIndex.countContainingSlop(post, Seq(""), slop = 1, uax29 = true)
    }
  }

  test("contaminationIndexed == scan-tier Searcher.contamination") {
    val post = InvertedIndex.postings(docs, "doc_id", "text", uax29 = false)
    val phrases = Seq("a b", "b b", "z q", "a b c")
    val idx = InvertedIndex.contaminationIndexed(post, phrases, uax29 = false)
      .head()
    val scan = Searcher.contamination(docs, "text", phrases, uax29 = false)
      .head()
    assert(idx.getLong(0) === scan.getLong(0))   // n_phrases
    assert(idx.getLong(1) === scan.getLong(1))   // n_contaminated
    assert(idx.getDouble(2) === scan.getDouble(2)) // pct
    assert(idx.getLong(1) === 3L)
  }

  test("termStats: df/ttf match direct aggregation, absent term is 0/0") {
    val post = InvertedIndex.postings(docs, "doc_id", "text", uax29 = false)
    val st = InvertedIndex.termStats(post, Seq("a", "c", "nope"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(st("a") === ((2L, 5L)))   // docs 1,4 ; 3+2 occurrences
    assert(st("c") === ((2L, 3L)))
    assert(st("nope") === ((0L, 0L)))
  }

  test("significantTerms: JLH by hand, min_doc_count floor, non-positive dropped") {
    val post = InvertedIndex.postings(docs, "doc_id", "text", uax29 = false)
    val norms = InvertedIndex.corpusNorms(docs, "text", uax29 = false)
    // foreground = docs 1,2 (duplicate id tolerated). N=4, fg_total=2.
    val fg = Seq(1L, 2L, 2L).toDF("doc_id")
    val got = InvertedIndex.significantTerms(post, norms, fg, k = 10,
      minDocCount = 1).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // a: fg_df=1 bg_df=2 → fg_pct=.5 bg_pct=.5 → jlh=0 (dropped)
    // b: fg_df=2 bg_df=3 → fg_pct=1 bg_pct=.75 → (.25)*(1/.75)=1/3
    // c: fg_df=0 (no fg row at all)
    assert(got.toList === List(("b", 2L, 3L, BigDecimal(1.0 / 3)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    // ES's default floor: fg_df=2 < 3 → empty
    assert(InvertedIndex.significantTerms(post, norms, fg, k = 10).isEmpty)
    // empty foreground → empty result, no division blow-up
    assert(InvertedIndex.significantTerms(post, norms,
      Seq.empty[Long].toDF("doc_id"), k = 10, minDocCount = 1).isEmpty)
  }

  test("significantTerms: chi2 and mi heuristics by hand") {
    val post = InvertedIndex.postings(docs, "doc_id", "text", uax29 = false)
    val norms = InvertedIndex.corpusNorms(docs, "text", uax29 = false)
    val fg = Seq(1L, 2L).toDF("doc_id")
    // contingency for b: n11=2 n01=1 n10=0 n00=1, N=4
    //   chi2 = 4·(2·1−1·0)²/(3·2·2·1) = 4/3
    //   mi   = .5·log2(8/6) + .25·log2(4/6) + 0 + .25·log2(2) ≈ 0.311278
    // a is independent of the class (all cells 1) → score 0, dropped
    val chi = InvertedIndex.significantTerms(post, norms, fg, k = 10,
      minDocCount = 1, heuristic = "chi2").collect()
      .map(r => (r.getString(0), r.getDouble(3)))
    assert(chi.toList === List(("b", 1.333333)))
    assert(InvertedIndex.significantTerms(post, norms, fg, k = 10,
      minDocCount = 1, heuristic = "chi2").columns.last === "chi2")
    val mi = InvertedIndex.significantTerms(post, norms, fg, k = 10,
      minDocCount = 1, heuristic = "mi").collect()
      .map(r => (r.getString(0), r.getDouble(3)))
    assert(mi.toList === List(("b", 0.311278)))
    intercept[IllegalArgumentException] {
      InvertedIndex.significantTerms(post, norms, fg, k = 10,
        heuristic = "nope")
    }
    // precomputed background stats give identical output (the cache-
    // across-calls entry point)
    val bg = InvertedIndex.termDocFrequencies(post)
    assert(InvertedIndex.significantTerms(post, norms, fg, k = 10,
        minDocCount = 1, bgStats = Some(bg)).collect().toList ===
      InvertedIndex.significantTerms(post, norms, fg, k = 10,
        minDocCount = 1).collect().toList)
  }

  test("significantTermsByGroup == one significantTerms call per group; multi-label ok") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val post = InvertedIndex.postings(d, "doc_id", "text", uax29 = false)
    val norms = InvertedIndex.corpusNorms(d, "text", uax29 = false)
    val labels = d.where(col("source").isin("src3", "src18"))
      .select(col("doc_id"), col("source").as("group"))
    val grouped = InvertedIndex.significantTermsByGroup(post, norms, labels,
      k = 8, heuristic = "chi2").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSet
    val singles = Seq("src3", "src18").flatMap { src =>
      InvertedIndex.significantTerms(post, norms,
        d.where(col("source") === src).select("doc_id"), k = 8,
        heuristic = "chi2").collect()
        .map(r => (src, r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3)))
    }.toSet
    assert(grouped === singles)
    // a doc labeled into BOTH groups contributes to both foregrounds
    val both = labels.unionByName(labels.limit(1).withColumn("group", lit("x")))
    val withX = InvertedIndex.significantTermsByGroup(post, norms, both,
      k = 8, minDocCount = 1).collect().map(_.getString(0)).toSet
    assert(withX.contains("src3") && withX.contains("src18"))
  }

  test("rrfFuse: hand-computed fusion, absent docs, multi-list counts") {
    val bm = Seq((10L, 1L), (20L, 2L), (30L, 3L)).toDF("doc_id", "rank")
    val vec = Seq((20L, 1L), (40L, 2L)).toDF("doc_id", "rank")
    val got = Searcher.rrfFuse(Seq(bm, vec), topK = 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // 20 appears in both lists: 1/62 + 1/61; the rest once
    val expect = List(
      (20L, r6(1.0 / 62 + 1.0 / 61), 2L),
      (10L, r6(1.0 / 61), 1L),
      (40L, r6(1.0 / 62), 1L),
      (30L, r6(1.0 / 63), 1L))
    assert(got.toList === expect)
    // single list degenerates to its own ranking
    assert(Searcher.rrfFuse(Seq(bm), topK = 2).collect()
      .map(_.getLong(0)).toList === List(10L, 20L))
    intercept[IllegalArgumentException] { Searcher.rrfFuse(Nil, topK = 5) }
  }

  test("termsMatching: full-term regex over the dictionary, Lucene semantics") {
    val post = InvertedIndex.postings(docs, "doc_id", "text", uax29 = false)
    // 'a|b' full-match admits exactly terms a and b — never c, and a
    // bare unanchored hit inside a longer term would be a bug
    val m = InvertedIndex.termsMatching(post, "a|b")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(m.keySet === Set("a", "b"))
    assert(m("a") === ((2L, 5L)))    // same df/ttf termStats reports
    assert(m("b") === ((3L, 7L)))
    // unanchored pattern must NOT match partially: '.' consumes one char,
    // so single-char terms all match but nothing else would
    assert(InvertedIndex.termsMatching(post, "x").count() === 0L)
  }

  test("wildcardRegex: Lucene wildcard translation + escaping") {
    assert(InvertedIndex.wildcardRegex("sp*k") === "sp.*k")
    assert(InvertedIndex.wildcardRegex("a?c") === "a.c")
    assert(InvertedIndex.wildcardRegex("a.b") === "a\\.b")
    assert(InvertedIndex.wildcardRegex("""a\*b""") === "a\\*b")  // escaped * is literal
    assert(InvertedIndex.wildcardRegex("x(y)") === "x\\(y\\)")
    // translated patterns are valid Java regexes matching as intended
    assert("sp.*k".r.matches("spark"))
    assert(!"a\\.b".r.matches("axb"))
  }

  test("termsFuzzy: edit budget, prefixLength pruning, classic-Levenshtein swap cost") {
    val d = Seq(
      (1L, "abc abd xbc azz ab abcde"),
      (2L, "abc acb")
    ).toDF("doc_id", "text")
    val post = InvertedIndex.postings(d, "doc_id", "text", uax29 = false)
    def fuzzy(q: String, e: Int, pre: Int = 0) =
      InvertedIndex.termsFuzzy(post, q, e, pre)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val m1 = fuzzy("abc", 1)
    assert(m1 === Map("abc" -> 0L, "abd" -> 1L, "xbc" -> 1L, "ab" -> 1L))
    val m2 = fuzzy("abc", 2)
    assert(m2.keySet === Set("abc", "abd", "xbc", "ab", "azz", "acb", "abcde"))
    assert(m2("acb") === 2L)   // transposition costs 2 (transpositions=false)
    assert(m2("azz") === 2L)
    assert(m2("abcde") === 2L) // two inserts, right at the budget
    // prefixLength=1 drops xbc (leading char must match exactly)
    assert(fuzzy("abc", 1, pre = 1).keySet === Set("abc", "abd", "ab"))
    // df/ttf match termStats for a matched term
    val row = InvertedIndex.termsFuzzy(post, "abc", 0)
      .collect().map(r => (r.getString(0), r.getLong(2), r.getLong(3))).head
    assert(row === (("abc", 2L, 2L)))
    // astral-plane query: 😀 is one codepoint (two UTF-16 units). Term
    // 'x' is 1 edit from '😀x' (2 codepoints) — a UTF-16 length prefilter
    // would compute |1 − 3| = 2 > 1 and wrongly exclude it
    val d2 = Seq((1L, "x")).toDF("doc_id", "text")
    val p2 = InvertedIndex.postings(d2, "doc_id", "text", uax29 = false)
    assert(InvertedIndex.termsFuzzy(p2, "😀x", 1).count() === 1L)
  }

  test("moreLikeThis: tf-idf term profile, source excluded, absent doc → empty") {
    val d = Seq(
      (1L, "a b c"),
      (2L, "a b d"),
      (3L, "x y z"),
      (4L, "a q")
    ).toDF("doc_id", "text")
    val post = InvertedIndex.postings(d, "doc_id", "text", uax29 = false)
    val norms = InvertedIndex.corpusNorms(d, "text", uax29 = false)
    // floors of 1 disable the ES tf/df minimums — this 4-doc corpus is
    // below ES's defaults (min_term_freq 2 / min_doc_freq 5) everywhere,
    // exactly like a small ES test index
    val out = InvertedIndex.moreLikeThis(post, norms, docId = 1L,
        maxQueryTerms = 3, k = 2, minTermFreq = 1, minDocFreq = 1)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // doc 2 shares {a, b}, doc 4 only {a}; doc 3 shares nothing; doc 1 is out
    assert(out.map(_._1).toSeq === Seq(2L, 4L))
    assert(out(0)._2 > out(1)._2)
    // ES DEFAULT floors: every term of doc 1 has qtf 1 < min_term_freq 2
    // → empty profile → empty result, the documented ES small-index
    // behavior
    assert(InvertedIndex.moreLikeThis(post, norms, 1L).count() === 0L)
    // max_doc_freq CEILING: cap df at 2 — 'a' (df 3) is excluded, so doc
    // 4 (which only shares 'a') drops out and only doc 2 ({b, c-miss})
    // remains
    val capped = InvertedIndex.moreLikeThis(post, norms, 1L,
        maxQueryTerms = 3, k = 2, minTermFreq = 1, minDocFreq = 1,
        maxDocFreq = 2)
      .collect().map(_.getLong(0)).toSeq
    assert(capped === Seq(2L))
    // term budget of 1 keeps only the rarest term c (highest qtf·ln(N/df))
    // — c appears ONLY in the source doc, so nothing else matches
    assert(InvertedIndex.moreLikeThis(post, norms, 1L, maxQueryTerms = 1,
      k = 5, minTermFreq = 1, minDocFreq = 1).count() === 0L)
    // absent source doc → empty result, not a throw
    assert(InvertedIndex.moreLikeThis(post, norms, 99L).count() === 0L)
    // like:<text> variant agrees with the doc variant when given the
    // doc's own text + excludeId (ES's two `like` forms coincide there)
    val byText = InvertedIndex.moreLikeThisText(post, norms, "a b c",
        uax29 = false, maxQueryTerms = 3, k = 2, excludeId = Some(1L),
        minTermFreq = 1, minDocFreq = 1)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(byText === out.toSeq)
    // free text with only-unknown terms → empty, not a throw
    assert(InvertedIndex.moreLikeThisText(post, norms, "zz qq",
      uax29 = false, minTermFreq = 1, minDocFreq = 1).count() === 0L)
  }

  test("countDocsMatching: doc/term/ttf counts incl. the zero-match row") {
    val post = InvertedIndex.postings(docs, "doc_id", "text", uax29 = false)
    val hit = InvertedIndex.countDocsMatching(post, "[ab]").head()
    assert(hit.getLong(0) === 2L)    // terms a, b
    assert(hit.getLong(1) === 3L)    // docs 1, 2, 4
    assert(hit.getLong(2) === 12L)   // 5 a's + 7 b's
    val miss = InvertedIndex.countDocsMatching(post, "zz*", wildcard = true).head()
    assert((miss.getLong(0), miss.getLong(1), miss.getLong(2)) === ((0L, 0L, 0L)))
  }

  test("phrasePrefixHits: trailing-prefix expansion, cap, cross-expansion doc dedup") {
    val d = Seq(
      (1L, "x ab y"),
      (2L, "x ac y"),
      (3L, "x ab ab"),
      (4L, "x ab x ac")   // both expansions in ONE doc → n_docs dedups
    ).toDF("doc_id", "text")
    val post = InvertedIndex.postings(d, "doc_id", "text", uax29 = false)
    def hits(ps: Seq[String], maxExp: Int = 50) =
      InvertedIndex.phrasePrefixHits(post, ps, uax29 = false, maxExp)
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val m = hits(Seq("x a", "x ab", "zz", "y"))
    // "x ab" hits docs 1,3,4 once each; "x ac" hits docs 2,4 once each:
    // occurrences sum (5), docs dedup across expansions (4 — doc 4 once)
    assert(m("x a") === ((5L, 4L)))
    assert(m("x ab") === ((3L, 3L)))  // the narrower prefix: only the ab expansion
    assert(m("zz") === ((0L, 0L)))    // no dictionary term starts with zz
    assert(m("y") === ((2L, 2L)))     // single-token prefix = wildcard term query
    // Lucene cap: maxExpansions=1 keeps only 'ab' (term order), drops 'ac'
    assert(hits(Seq("x a"), maxExp = 1)("x a") === ((3L, 3L)))
  }

  test("phrase-prefix randomized differential: expansion == string-prefix n-gram brute force") {
    // the e22 oracle identity, randomized: phrasePrefixHits over a tiny
    // corpus equals brute-force counting of n-grams whose joined string
    // starts with the phrase — for every (corpus, phrase) drawn
    val rng = new scala.util.Random(7)
    (1 to 12).foreach { _ =>
      val dset = (1 to 6).map { id =>
        (id.toLong, Seq.fill(1 + rng.nextInt(8))(s"w${rng.nextInt(5)}").mkString(" "))
      }
      val phrase = {
        val n = 1 + rng.nextInt(2)
        val full = Seq.fill(n)(s"w${rng.nextInt(5)}").mkString(" ")
        full.take(1 + rng.nextInt(full.length)) // cut anywhere → prefix
      }.trim
      if (phrase.nonEmpty && !phrase.endsWith(" ")) {
        val plen = phrase.split(" ").length
        val expect = dset.map { case (_, text) =>
          text.split(" ").sliding(plen).count(g =>
            g.length == plen && g.mkString(" ").startsWith(phrase))
        }
        val post = InvertedIndex.postings(dset.toDF("doc_id", "text"),
          "doc_id", "text", uax29 = false)
        val got = InvertedIndex.phrasePrefixHits(post, Seq(phrase),
          uax29 = false).head()
        assert(got.getLong(1) === expect.sum.toLong,
          s"phrase '$phrase' over $dset")
        assert(got.getLong(2) === expect.count(_ > 0).toLong)
      }
    }
  }

  test("postings build plan: zero shuffles (per-doc kernel grouping)") {
    val plan = InvertedIndex.postings(docs, "doc_id", "text", uax29 = false)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(1500))
  }

  test("streaming twin: micro-batched postings == batch postings") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val stream = InvertedIndex.postingsStream(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text", uax29 = false)
    val q = stream.writeStream.format("memory").queryName("ii_stream")
      .outputMode("append").start()
    try {
      val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
      in.addData(rows.take(2).toSeq)
      q.processAllAvailable()
      in.addData(rows.drop(2).toSeq)
      q.processAllAvailable()
      val got = spark.table("ii_stream")
        .orderBy("term", "doc_id")
        .collect().map(_.toSeq).toSeq
      val want = InvertedIndex.postings(docs, "doc_id", "text", uax29 = false)
        .orderBy("term", "doc_id")
        .collect().map(_.toSeq).toSeq
      assert(got === want)
    } finally q.stop()
  }

  test("batch phrase plan is O(1) in phrase count (500 phrases == 5 phrases)") {
    val post = InvertedIndex.postings(docs, "doc_id", "text", uax29 = false)
      .localCheckpoint()
    val vocab = Array("a", "b", "c", "d", "e", "f", "g", "h", "i", "j")
    def phrases(n: Int): Seq[String] = (0 until n).map { k =>
      s"${vocab(k % 10)} ${vocab((k / 10) % 10)} ${vocab((k / 100) % 10)}"
    }.distinct
    def nodes(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect { case p => p }.size
    assert(phrases(500).size >= 500 - 10)
    assert(nodes(InvertedIndex.phraseHits(post, phrases(500), uax29 = false))
      === nodes(InvertedIndex.phraseHits(post, phrases(5), uax29 = false)))
    assert(nodes(InvertedIndex.countContainingSlop(post, phrases(500), 1, uax29 = false))
      === nodes(InvertedIndex.countContainingSlop(post, phrases(5), 1, uax29 = false)))
    val pairs = (n: Int) => (0 until n)
      .map(k => (vocab(k % 10), vocab((k / 10) % 10))).distinct
    assert(nodes(InvertedIndex.proximityPairs(post, pairs(100), 3))
      === nodes(InvertedIndex.proximityPairs(post, pairs(4), 3)))
    // and the batch answers stay correct at that multiplicity: spot-check
    // against the scan tier for a sample of the 500
    val hits = InvertedIndex.phraseHits(post, phrases(500), uax29 = false)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    Seq("a b a", "b b b", "a a a", "c b a").foreach { p =>
      val scan = docs.where(Searcher.phrasePredicate(col("text"), p,
        uax29 = false)).count()
      assert(hits(p) === scan, s"phrase '$p'")
    }
  }

  test("batch surfaces pin no executor storage (no checkpoint/cache leak)") {
    val post = InvertedIndex.postings(docs, "doc_id", "text", uax29 = false)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    InvertedIndex.phraseHits(post, Seq("a b", "b b"), uax29 = false).collect()
    InvertedIndex.countContainingSlop(post, Seq("a b"), 1, uax29 = false).collect()
    InvertedIndex.proximityPairs(post, Seq(("a", "b")), 2).collect()
    assert(spark.sparkContext.getPersistentRDDs.keySet === before)
  }

  test("proximityPairs: identical-term pair does not count itself as neighbor") {
    val post = InvertedIndex.postings(docs, "doc_id", "text", uax29 = false)
    val got = InvertedIndex.proximityPairs(post,
        Seq(("c", "c"), ("a", "a"), ("b", "b")), window = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    // c: doc3 c@{0} (no other c in window), doc4 c@{2,5} (|2-5|=3 > 2) →
    // no occurrence has a DIFFERENT c within 2; without the self-match
    // guard this would report n_near = ttf(c) = 3
    assert(got(("c", "c")) === ((0L, 0L)))
    // a: doc1 a@{0,2,4} — every a has another a at distance 2; doc4 a@{0,3}
    // distance 3 > 2 → doc1 only, 3 near-occurrences
    assert(got(("a", "a")) === ((1L, 3L)))
    // b: doc1 b@{1,3} (distance 2), doc2 b@{0,1,2} (adjacent) → 2 docs, 5 occ
    assert(got(("b", "b")) === ((2L, 5L)))
  }

  test("bm25TopK: repeated query term contributes per occurrence (ES parity)") {
    val post = InvertedIndex.postings(docs, "doc_id", "text", uax29 = false)
    val norms = InvertedIndex.corpusNorms(docs, "text", uax29 = false)
    val once = InvertedIndex.bm25TopK(post, norms, Seq("a", "c"), k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val aTwice = InvertedIndex.bm25TopK(post, norms, Seq("a", "a", "c"), k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val aOnly = InvertedIndex.bm25TopK(post, norms, Seq("a"), k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(once.keySet === aTwice.keySet)
    once.keySet.foreach { id =>
      val expected = once(id) + aOnly.getOrElse(id, 0.0)
      assert(math.abs(aTwice(id) - expected) < 1e-5, s"doc $id")
    }
  }

  test("corpusNorms carries total_tf; corpusNormsFromPostings matches it") {
    val fromDocs = InvertedIndex.corpusNorms(docs, "text", uax29 = false).head()
    val post = InvertedIndex.postings(docs, "doc_id", "text", uax29 = false)
    val fromPost = InvertedIndex.corpusNormsFromPostings(post).head()
    // 5 + 3 + 1 + 6 = 15 tokens
    assert(fromDocs.getLong(2) === 15L)
    assert(fromPost.getLong(0) === fromDocs.getLong(0))
    assert(math.abs(fromPost.getDouble(1) - fromDocs.getDouble(1)) < 1e-12)
    assert(fromPost.getLong(2) === fromDocs.getLong(2))
  }

  test("norms in position-0 marker form == the groupBy(doc_id) reference, observed and recomputed") {
    // the former definition, kept here as the reference: one row per
    // document, then the corpus aggregate
    def reference(post: org.apache.spark.sql.DataFrame) =
      post.groupBy("doc_id").agg(first("dl").as("dl"), sum("tf").as("tf"))
        .agg(count(lit(1)).as("n_docs"),
          avg(col("dl").cast("double")).as("avgdl"),
          coalesce(sum("tf"), lit(0L)).as("total_tf")).head()
    // a doc whose first term repeats, a one-token doc, a doc with no
    // token under the unicode tokenizer (one empty token under the
    // whitespace one), and odd lengths so avgdl is not a round number
    val v1 = Seq((1L, "alpha beta alpha gamma alpha"), (2L, "one"),
      (3L, ""), (4L, "x y z x y z q")).toDF("doc_id", "text")
    val v2 = Seq((1L, "alpha alpha"), (5L, "new doc here")).toDF("doc_id", "text")
    for (uax <- Seq(false, true)) {
      val table = s"ii_spec_marker_norms_$uax"
      def drop(): Unit = Seq(table, s"${table}__norms", s"${table}__compacting",
        s"${table}__old").foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
      def check(what: String): Unit = {
        val live = InvertedIndex.readIndex(spark, table)
        val ref = reference(live)
        assert(InvertedIndex.corpusNormsFromPostings(live).head() === ref,
          s"recomputed, $what, uax29=$uax")
        assert(spark.table(s"${table}__norms").head() === ref,
          s"persisted, $what, uax29=$uax")
      }
      drop()
      try {
        val post = InvertedIndex.postings(v1, "doc_id", "text", uax)
        assert(InvertedIndex.corpusNormsFromPostings(post).head() ===
          reference(post))
        InvertedIndex.updateIndex(spark, table, v1, "doc_id", "text",
          buckets = 4, uax29 = uax, live = false)
        check("build")
        InvertedIndex.upsertIndex(spark, table, v2, "doc_id", "text",
          buckets = 4, uax29 = uax)
        check("upsert")
        InvertedIndex.compactIndex(spark, table, InvertedIndex.postings(
          Seq((6L, "six six six")).toDF("doc_id", "text"), "doc_id", "text",
          uax), buckets = 4)
        check("compact")
        InvertedIndex.refreshIndex(spark, table, v1, v1.where(col("doc_id") > 2),
          "doc_id", "text", buckets = 4, uax29 = uax)
        check("refresh")
        // an emptied index observes n_docs 0 and a null avgdl
        InvertedIndex.refreshIndex(spark, table, v1, v1.limit(0),
          "doc_id", "text", buckets = 4, uax29 = uax)
        InvertedIndex.refreshIndex(spark, table, v2, v2.limit(0),
          "doc_id", "text", buckets = 4, uax29 = uax)
        InvertedIndex.refreshIndex(spark, table,
          Seq((6L, "six six six")).toDF("doc_id", "text"), v1.limit(0),
          "doc_id", "text", buckets = 4, uax29 = uax)
        check("emptied")
        assert(spark.table(s"${table}__norms").head().getLong(0) === 0L)
      } finally drop()
    }
  }

  test("persisted norms: build-time row == recovery, rewritten by refresh, absent → fallback") {
    val table = "ii_spec_norms"
    Seq(table, s"${table}__norms", s"${table}__compacting", s"${table}__old")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    val post = InvertedIndex.postings(docs, "doc_id", "text", uax29 = false)
    InvertedIndex.writeIndex(post, table, buckets = 4, force = true)
    try {
      // no persisted row yet: normsOf falls back to the postings recovery
      val live = InvertedIndex.readIndex(spark, table)
      val rec = InvertedIndex.corpusNormsFromPostings(live).head()
      assert(InvertedIndex.normsOf(spark, table, live).head() === rec)
      assert(!spark.catalog.tableExists(s"${table}__norms"))
      // persist: one canonical definition, so the rows must be EQUAL
      InvertedIndex.persistNorms(spark, table)
      assert(spark.catalog.tableExists(s"${table}__norms"))
      assert(InvertedIndex.normsOf(spark, table, live).head() === rec)
      // a refresh changes the corpus → the persisted row must follow
      // (stale norms would silently skew BM25 idf/length normalization)
      val oldSnap = docs
      val newSnap = docs.where(col("doc_id") <= 2)
      InvertedIndex.refreshIndex(spark, table, oldSnap, newSnap,
        "doc_id", "text", buckets = 4, uax29 = false)
      val after = InvertedIndex.normsOf(spark, table,
        InvertedIndex.readIndex(spark, table)).head()
      assert(after.getLong(0) === 2L) // n_docs followed the refresh
      assert(after === InvertedIndex.corpusNormsFromPostings(
        InvertedIndex.readIndex(spark, table)).head())
      assert(spark.catalog.tableExists(s"${table}__norms"),
        "rewrite-if-present: a build that persisted norms keeps them")
      // a bare-built index stays bare through a rewrite (normsOf recovers
      // on demand; maintenance must not create side tables the build
      // didn't ask for)
      val bare = "ii_spec_norms_bare"
      Seq(bare, s"${bare}__norms", s"${bare}__compacting", s"${bare}__old")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
      InvertedIndex.writeIndex(post, bare, buckets = 4, force = true)
      try {
        InvertedIndex.compactIndex(spark, bare,
          InvertedIndex.postings(docs.limit(0), "doc_id", "text",
            uax29 = false), buckets = 4)
        assert(!spark.catalog.tableExists(s"${bare}__norms"))
      } finally Seq(bare, s"${bare}__norms", s"${bare}__compacting",
        s"${bare}__old").foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    } finally Seq(table, s"${table}__norms", s"${table}__compacting",
      s"${table}__old").foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
  }

  test("writeIndex(force) over a norms-bearing table drops the stale row") {
    // the one staleness path the persistNorms contract forbade but the
    // public surface allowed (r15 advice): a library caller force-
    // overwriting an index whose build persisted norms — normsOf prefers
    // the persisted row, so without the drop BM25/MLT would score the NEW
    // postings with the OLD corpus constants
    val table = "ii_spec_force_norms"
    Seq(table, s"${table}__norms")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    try {
      val post = InvertedIndex.postings(docs, "doc_id", "text", uax29 = false)
      InvertedIndex.writeIndex(post, table, buckets = 4)
      InvertedIndex.persistNorms(spark, table)
      assert(spark.catalog.tableExists(s"${table}__norms"))
      // overwrite with a 2-doc subset: the norms row must NOT survive
      val sub = InvertedIndex.postings(docs.where(col("doc_id") <= 2),
        "doc_id", "text", uax29 = false)
      InvertedIndex.writeIndex(sub, table, buckets = 4, force = true)
      assert(!spark.catalog.tableExists(s"${table}__norms"),
        "force overwrite must drop the persisted norms of the old corpus")
      val live = InvertedIndex.readIndex(spark, table)
      val norms = InvertedIndex.normsOf(spark, table, live).head()
      assert(norms.getLong(0) === 2L,
        s"normsOf must recover the NEW corpus constants, got $norms")
      // …and the warehouse dir is gone too (catalog-forgot contract):
      // a surviving dir would resurrect the stale row through the
      // normsSidePath fallback after a JVM restart
      val p = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), s"${table}__norms")
      assert(!p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(p))
    } finally Seq(table, s"${table}__norms")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
  }

  test("collocationPmi reads T from norms: postings scanned twice, not thrice") {
    val post = InvertedIndex.postings(docs, "doc_id", "text", uax29 = false)
      .localCheckpoint()
    val norms = InvertedIndex.corpusNorms(docs, "text", uax29 = false)
      .localCheckpoint()
    val pmi = InvertedIndex.collocationPmi(post, norms, Seq(("a", "c")), 2)
    // pruned postings reads: prox (1) + the terms-sized termStats subtree
    // referenced from both pair sides (2) — the index-WIDE Σtf aggregate
    // the old signature paid per call is gone (T rides the 1-row norms)
    val scans = pmi.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD
        if l.output.map(_.name).contains("positions") => l
    }.size
    assert(scans === 3, pmi.queryExecution.optimizedPlan.toString.take(2000))
    // and the value is the hand formula: doc4 a@{0,3} c@{2,5} within 2 →
    // n_near=2; ttf(a)=5, ttf(c)=3, T=15 → ln(2·15/15)=ln 2
    val row = pmi.head()
    assert(row.getLong(2) === 1L && row.getLong(3) === 2L)
    assert(math.abs(row.getDouble(4) - math.log(2.0)) < 1e-6)
  }

  test("compactIndex: streaming appends fold back into one pruned bucketed table") {
    val table = "ii_spec_compact"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"DROP TABLE IF EXISTS ${table}__compacting")
    // initial index over the first half, then two "micro-batch" appends
    val first = InvertedIndex.postings(docs.where(col("doc_id") <= 2),
      "doc_id", "text", uax29 = false)
    InvertedIndex.writeIndex(first, table, buckets = 8, force = true)
    val appends = InvertedIndex.postings(docs.where(col("doc_id") === 3),
        "doc_id", "text", uax29 = false)
      .unionByName(InvertedIndex.postings(docs.where(col("doc_id") === 4),
        "doc_id", "text", uax29 = false))
    try {
      InvertedIndex.compactIndex(spark, table, appends, buckets = 8)
      val compacted = InvertedIndex.readIndex(spark, table)
      val full = InvertedIndex.postings(docs, "doc_id", "text", uax29 = false)
      // full query surface identical to a fresh whole-corpus index
      val a = InvertedIndex.phraseHits(compacted, Seq("a b", "b b", "a b c"),
        uax29 = false).orderBy("phrase").collect().map(_.toSeq).toSeq
      val b = InvertedIndex.phraseHits(full, Seq("a b", "b b", "a b c"),
        uax29 = false).orderBy("phrase").collect().map(_.toSeq).toSeq
      assert(a === b)
      val norms = InvertedIndex.corpusNorms(docs, "text", uax29 = false)
      val ra = InvertedIndex.bm25TopK(compacted, norms, Seq("a", "c"), 10)
        .collect().map(_.toSeq).toSeq
      val rb = InvertedIndex.bm25TopK(full, norms, Seq("a", "c"), 10)
        .collect().map(_.toSeq).toSeq
      assert(ra === rb)
      // the compacted table still bucket-prunes a term lookup
      val plan = compacted.where(col("term") === "a")
        .queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount: 1 out of 8"), plan.take(2000))
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.sql(s"DROP TABLE IF EXISTS ${table}__compacting")
    }
  }

  test("upsertIndex: idempotent replay; result equals a from-scratch build") {
    val table = "ii_spec_upsert"
    def dropAll(): Unit = Seq(table, s"${table}__compacting", s"${table}__old")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    dropAll()
    InvertedIndex.writeIndex(
      InvertedIndex.postings(docs.where(col("doc_id") <= 2),
        "doc_id", "text", uax29 = false), table, buckets = 8, force = true)
    try {
      val batch = docs.where(col("doc_id") >= 3)
      InvertedIndex.upsertIndex(spark, table, batch, "doc_id", "text",
        buckets = 8, uax29 = false)
      def snap() = InvertedIndex.readIndex(spark, table).collect()
        .map(_.toSeq).toSet
      val once = snap()
      // replaying the SAME batch (crashed manifest extension) must converge
      InvertedIndex.upsertIndex(spark, table, batch, "doc_id", "text",
        buckets = 8, uax29 = false)
      assert(snap() === once)
      // and the converged index IS the from-scratch whole-corpus index
      val full = InvertedIndex.postings(docs, "doc_id", "text", uax29 = false)
        .collect().map(_.toSeq).toSet
      assert(once === full)
      // an upsert of a CHANGED doc replaces its postings (no double count)
      val changed = Seq((2L, "zz zz")).toDF("doc_id", "text")
      InvertedIndex.upsertIndex(spark, table, changed, "doc_id", "text",
        buckets = 8, uax29 = false)
      val after = InvertedIndex.readIndex(spark, table)
      assert(after.where(col("doc_id") === 2 && col("term") === "b").isEmpty)
      assert(after.where(col("doc_id") === 2 && col("term") === "zz")
        .head().getAs[Long]("tf") === 2L)
    } finally dropAll()
  }

  test("upsertIndex: duplicate doc ids inside ONE batch collapse to one row per doc") {
    val table = "ii_spec_upsert_dup"
    def dropAll(): Unit = Seq(table, s"${table}__compacting", s"${table}__old")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    dropAll()
    InvertedIndex.writeIndex(
      InvertedIndex.postings(docs.where(col("doc_id") === 1),
        "doc_id", "text", uax29 = false), table, buckets = 8, force = true)
    try {
      // a re-delivered shard: id 9 appears TWICE in one batch — doubled
      // (term, doc) postings would make the slot-count phrase check
      // silently reject the doc and double df/tf
      val batch = Seq((9L, "qq rr qq"), (9L, "qq rr qq"), (10L, "rr ss"))
        .toDF("doc_id", "text")
      InvertedIndex.upsertIndex(spark, table, batch, "doc_id", "text",
        buckets = 8, uax29 = false)
      val idx = InvertedIndex.readIndex(spark, table)
      assert(idx.where(col("doc_id") === 9 && col("term") === "qq").count() === 1L)
      assert(idx.where(col("doc_id") === 9 && col("term") === "qq")
        .head().getAs[Long]("tf") === 2L)
      assert(InvertedIndex.phraseHits(idx, Seq("qq rr"), uax29 = false)
        .head().getAs[Long]("n_docs") === 1L)
      // conflicting texts under one id: deterministic winner (max md5)
      val conflict = Seq((11L, "aa bb"), (11L, "cc dd")).toDF("doc_id", "text")
      InvertedIndex.upsertIndex(spark, table, conflict, "doc_id", "text",
        buckets = 8, uax29 = false)
      val winner = InvertedIndex.readIndex(spark, table)
        .where(col("doc_id") === 11).select("term").collect()
        .map(_.getString(0)).toSet
      val expected = Seq("aa bb", "cc dd")
        .maxBy(t => java.security.MessageDigest.getInstance("MD5")
          .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString)
        .split(" ").toSet
      assert(winner === expected)
    } finally dropAll()
  }

  test("refreshIndex: diff-driven refresh equals a from-scratch build") {
    val table = "ii_spec_refresh"
    def dropAll(): Unit = Seq(table, s"${table}__compacting", s"${table}__old")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    dropAll()
    // old snapshot = docs 1-4; new: doc 2 removed, doc 4 edited, doc 5 added
    val newDocs = Seq(
      (1L, "a b a b a"),
      (3L, "c"),
      (4L, "a b c a b c d"), // changed
      (5L, "d d a")          // added
    ).toDF("doc_id", "text")
    InvertedIndex.writeIndex(
      InvertedIndex.postings(docs, "doc_id", "text", uax29 = false),
      table, buckets = 8, force = true)
    try {
      InvertedIndex.refreshIndex(spark, table, docs, newDocs, "doc_id", "text",
        buckets = 8, uax29 = false)
      val refreshed = InvertedIndex.readIndex(spark, table)
      val scratch = InvertedIndex.postings(newDocs, "doc_id", "text",
        uax29 = false)
      // the whole postings table — not just one query surface — must match
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("term", "doc_id").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getSeq[Int](2).toList,
            r.getLong(3), r.getLong(4))).toSeq
      assert(rows(refreshed) === rows(scratch))
      // no stale postings: doc 2 gone entirely, doc 4's pre-edit rows gone
      assert(refreshed.where(col("doc_id") === 2L).count() === 0L)
      assert(refreshed.where(col("term") === "d").count() === 2L)
      // the refreshed table still bucket-prunes a term lookup
      val plan = refreshed.where(col("term") === "a")
        .queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount: 1 out of 8"), plan.take(2000))
    } finally dropAll()
  }

  test("refreshIndex: removals-only diff is the takedown path") {
    val table = "ii_spec_takedown"
    def dropAll(): Unit = Seq(table, s"${table}__compacting", s"${table}__old")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    dropAll()
    val kept = docs.where(col("doc_id") =!= 2L)
    InvertedIndex.writeIndex(
      InvertedIndex.postings(docs, "doc_id", "text", uax29 = false),
      table, buckets = 8, force = true)
    try {
      InvertedIndex.refreshIndex(spark, table, docs, kept, "doc_id", "text",
        buckets = 8, uax29 = false)
      val refreshed = InvertedIndex.readIndex(spark, table)
      assert(refreshed.where(col("doc_id") === 2L).count() === 0L)
      assert(refreshed.count() ===
        InvertedIndex.postings(kept, "doc_id", "text", uax29 = false).count())
    } finally dropAll()
  }

  test("registerIndex: a stranded index dir re-registers; refresh swaps it out") {
    val table = "ii_spec_register"
    def dropAll(): Unit = Seq(table, s"${table}__compacting", s"${table}__old")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    dropAll()
    InvertedIndex.writeIndex(
      InvertedIndex.postings(docs, "doc_id", "text", uax29 = false),
      table, buckets = 8, force = true)
    val expected = InvertedIndex.phraseHits(
      InvertedIndex.readIndex(spark, table), Seq("a b", "b b"), uax29 = false)
      .orderBy("phrase").collect().map(_.toSeq).toSeq
    // simulate a JVM restart stranding the warehouse dir: copy the data
    // aside, drop the managed table (which deletes the original files)
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table)
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val aside = new org.apache.hadoop.fs.Path(
      java.nio.file.Files.createTempDirectory("ii_register").toString, table)
    org.apache.hadoop.fs.FileUtil.copy(fs, wh, fs, aside, false,
      spark.sparkContext.hadoopConfiguration)
    spark.sql(s"DROP TABLE $table")
    try {
      InvertedIndex.registerIndex(spark, table, buckets = 8,
        location = Some(aside.toString))
      val reread = InvertedIndex.readIndex(spark, table)
      val got = InvertedIndex.phraseHits(reread, Seq("a b", "b b"),
        uax29 = false).orderBy("phrase").collect().map(_.toSeq).toSeq
      assert(got === expected)
      // the re-registered table still bucket-prunes a term lookup
      val plan = reread.where(col("term") === "a")
        .queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount: 1 out of 8"), plan.take(2000))
      // refreshIndex over the EXTERNAL re-registered table: the swap must
      // clear the kept-in-place external location, not collide with it
      val newDocs = Seq((1L, "a b a b a"), (3L, "c"), (4L, "a b c a b c"))
        .toDF("doc_id", "text")
      InvertedIndex.refreshIndex(spark, table, docs, newDocs, "doc_id",
        "text", buckets = 8, uax29 = false)
      val refreshed = InvertedIndex.readIndex(spark, table)
      assert(refreshed.where(col("doc_id") === 2L).count() === 0L)
      assert(rowsOf(refreshed) ===
        rowsOf(InvertedIndex.postings(newDocs, "doc_id", "text", uax29 = false)))
    } finally dropAll()
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.orderBy("term", "doc_id")
      .select("term", "doc_id", "positions", "tf", "dl")
      .collect().map(_.toSeq).toSeq

  test("compactIndex swap is crash-recoverable at every step") {
    val table = "ii_spec_crash"
    val staging = table + "__compacting"
    val backup = table + "__old"
    def dropAll(): Unit =
      Seq(table, staging, backup).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    dropAll()
    val half = InvertedIndex.postings(docs.where(col("doc_id") <= 2),
      "doc_id", "text", uax29 = false)
    val full = InvertedIndex.postings(docs, "doc_id", "text", uax29 = false)
    def fullRows: Seq[Seq[Any]] =
      full.orderBy("term", "doc_id").collect().map(_.toSeq).toSeq
    def liveRows: Seq[Seq[Any]] =
      InvertedIndex.readIndex(spark, table)
        .orderBy("term", "doc_id").collect().map(_.toSeq).toSeq
    try {
      // crash AFTER live→backup, BEFORE staging→live: no live table, but
      // the completed staging write must win the recovery
      InvertedIndex.writeIndex(half, table, buckets = 4, force = true)
      InvertedIndex.writeIndex(full, staging, buckets = 4, force = true)
      spark.sql(s"ALTER TABLE `$table` RENAME TO `$backup`")
      assert(!spark.catalog.tableExists(table))
      graft.search.Swap.heal(spark, table)
      assert(spark.catalog.tableExists(table))
      assert(!spark.catalog.tableExists(staging) && !spark.catalog.tableExists(backup))
      assert(liveRows === fullRows, "recovery must surface the compacted postings")
      dropAll()

      // crash AFTER staging→live, BEFORE drop backup: live is healthy,
      // recovery just clears the leftover
      InvertedIndex.writeIndex(full, table, buckets = 4, force = true)
      InvertedIndex.writeIndex(half, backup, buckets = 4, force = true)
      graft.search.Swap.heal(spark, table)
      assert(spark.catalog.tableExists(table) && !spark.catalog.tableExists(backup))
      assert(liveRows === fullRows)
      dropAll()

      // crash BEFORE any rename (mid- or post-writeIndex): live untouched,
      // recovery is a no-op on it, and the next compactIndex self-heals by
      // dropping the stale staging
      InvertedIndex.writeIndex(half, table, buckets = 4, force = true)
      InvertedIndex.writeIndex(half, staging, buckets = 4, force = true)
      graft.search.Swap.heal(spark, table)
      assert(spark.catalog.tableExists(table))
      val appends = InvertedIndex.postings(docs.where(col("doc_id") > 2),
        "doc_id", "text", uax29 = false)
      InvertedIndex.compactIndex(spark, table, appends, buckets = 4)
      assert(liveRows === fullRows)
      assert(!spark.catalog.tableExists(staging) && !spark.catalog.tableExists(backup))
    } finally dropAll()
  }

  test("a steady phrase read compiles no classes for a new phrase arity") {
    val table = "ii_arity_idx"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    InvertedIndex.writeIndex(InvertedIndex.postings(docs, "doc_id", "text",
      uax29 = false), table, buckets = 4, force = true)
    try {
      val saved = InvertedIndex.readIndex(spark, table)
      InvertedIndex.phraseHits(saved, Seq("b a"), uax29 = false).collect()
      val probe = graft.tools.ProbeListener.attach(spark)
      try Seq("a" -> 2L, "a b c" -> 1L, "b b b" -> 1L, "a b c a" -> 1L,
          "c a b c" -> 1L).foreach { case (p, want) =>
        val (r, _, c) = probe.measure(
          InvertedIndex.phraseHits(saved, Seq(p), uax29 = false).collect())
        assert(r.map(_.getAs[Long]("n_docs")).toSeq === Seq(want), p)
        // a term InSet over Scala's Set1..Set4 compiled classes per arity
        assert(c.compiles === 0L, s"'$p': $c")
      } finally probe.detach()
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("saved index: term-equality read prunes to the term's buckets") {
    val table = "ii_spec_idx"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val post = InvertedIndex.postings(docs, "doc_id", "text", uax29 = false)
    InvertedIndex.writeIndex(post, table, buckets = 8, force = true)
    try {
      val q = InvertedIndex.readIndex(spark, table).where(col("term") === "a")
      assert(q.count() === 2)
      val plan = q.queryExecution.executedPlan.toString
      // the scale contract: a term lookup must NOT read all 8 buckets
      assert(plan.contains("SelectedBucketsCount: 1 out of 8"), plan.take(2000))
      // full query surface over the SAVED layout == in-memory postings
      // (positions arrays and norms survive the parquet roundtrip)
      val saved = InvertedIndex.readIndex(spark, table)
      val hits = InvertedIndex.phraseHits(saved, Seq("a b", "b b"), uax29 = false)
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(hits("a b") === ((4L, 2L)))
      assert(hits("b b") === ((2L, 1L)))
      val slop = InvertedIndex.countContainingSlop(saved, Seq("a c"), slop = 1,
        uax29 = false).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(slop("a c") === 1L) // doc4 "a b c ...": one insertion
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }
}
