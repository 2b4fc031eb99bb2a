package graft

import org.apache.spark.sql.functions._

import graft.operators.NgramOps
import graft.search.Searcher

/** Slop semantics pinned to the reference's own docstring examples
  * (reference wimbd/es/__init__.py:149-153): slop=1 "I like" matches
  * "I like", "I really like", "I would like".
  */
class PhraseMatchSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val docs = Seq(
    "I like spark",          // exact
    "I really like spark",   // gap 1
    "I would really like it",// gap 2
    "like I spark",          // reversed — not matched (insertion-only slop)
    "I dislike spark"        // different token
  ).toDF("text")

  private def hits(phrase: String, slop: Int): Set[String] =
    docs.where(Searcher.phrasePredicate(col("text"), phrase, slop, uax29 = false))
      .collect().map(_.getString(0)).toSet

  test("slop=0 is exact adjacency") {
    assert(hits("I like", 0) === Set("I like spark"))
  }

  test("slop=1 allows one inserted token (reference docstring example)") {
    assert(hits("I like", 1) === Set("I like spark", "I really like spark"))
  }

  test("slop=2 allows two insertions total") {
    assert(hits("I like", 2) ===
      Set("I like spark", "I really like spark", "I would really like it"))
  }

  test("reversed order never matches (documented divergence from Lucene)") {
    assert(!hits("I like", 3).contains("like I spark"))
  }

  test("three-token phrase shares the budget across gaps") {
    val d = Seq("a x b y c", "a x x b c", "a b c").toDF("text")
    val got2 = d.where(Searcher.phrasePredicate(col("text"), "a b c", 2, uax29 = false))
      .collect().map(_.getString(0)).toSet
    assert(got2 === Set("a x b y c", "a x x b c", "a b c"))
    val got1 = d.where(Searcher.phrasePredicate(col("text"), "a b c", 1, uax29 = false))
      .collect().map(_.getString(0)).toSet
    assert(got1 === Set("a b c"))
  }

  test("UAX-29 path tokenizes punctuation away from words") {
    val d = Seq("Hello, I like spark!").toDF("text")
    assert(d.where(Searcher.phrasePredicate(col("text"), "I like", 0)).count() === 1)
  }

  // ---- Lucene move-distance mode ----

  private def luceneHits(phrase: String, slop: Int): Set[String] =
    docs.where(Searcher.phrasePredicate(col("text"), phrase, slop,
        uax29 = false, luceneSlop = true))
      .collect().map(_.getString(0)).toSet

  test("lucene mode: insertion-only matches are a subset at every slop") {
    for (slop <- 0 to 3; phrase <- Seq("I like", "like spark"))
      assert(hits(phrase, slop).subsetOf(luceneHits(phrase, slop)),
        s"phrase=$phrase slop=$slop")
  }

  test("lucene mode: slop >= 2 buys a transposition (Lucene query docs)") {
    assert(!luceneHits("like I", 1).contains("I like spark"))
    assert(luceneHits("like I", 2).contains("I like spark"))
    assert(luceneHits("I like", 2).contains("like I spark"))
  }

  test("lucene mode: slop=0 is exact adjacency, same as insertion mode") {
    assert(luceneHits("I like", 0) === hits("I like", 0))
  }

  test("lucene mode: repeated phrase terms need distinct positions") {
    val d = Seq("a b a", "a b b", "a a b").toDF("text")
    def lh(phrase: String, slop: Int) =
      d.where(Searcher.phrasePredicate(col("text"), phrase, slop,
          uax29 = false, luceneSlop = true))
        .collect().map(_.getString(0)).toSet
    // "a a": doc "a b a" has positions {0,2}: adjusted spread |2-1-0| = 1
    assert(lh("a a", 0) === Set("a a b"))
    assert(lh("a a", 1) === Set("a b a", "a a b"))
  }

  test("lucene mode: greedy assignment matches exhaustive search (random)") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.expressions.PhraseMatchKernel
    def arr(ts: Seq[String]) = new GenericArrayData(ts.map(UTF8String.fromString).toArray)
    // exhaustive: any assignment of distinct doc positions (token-equal)
    // with adjusted spread <= slop
    def brute(doc: Seq[String], phrase: Seq[String], slop: Int): Boolean = {
      val cands = phrase.map(t => doc.indices.filter(doc(_) == t))
      if (cands.exists(_.isEmpty)) return phrase.isEmpty
      def rec(i: Int, used: List[Int]): Boolean =
        if (i == phrase.length) {
          val adj = used.reverse.zipWithIndex.map { case (p, idx) => p - idx }
          adj.max - adj.min <= slop
        } else cands(i).exists(p => !used.contains(p) && rec(i + 1, p :: used))
      rec(0, Nil)
    }
    val rnd = new scala.util.Random(4242)
    val vocab = Array("a", "b", "c")
    for (trial <- 0 until 4000) {
      val doc = Seq.fill(1 + rnd.nextInt(7))(vocab(rnd.nextInt(vocab.length)))
      val phrase = Seq.fill(1 + rnd.nextInt(3))(vocab(rnd.nextInt(vocab.length)))
      val slop = rnd.nextInt(4)
      val got = PhraseMatchKernel.matchesLucene(arr(doc), arr(phrase), slop)
      val want = brute(doc, phrase, slop)
      assert(got === want,
        s"doc=${doc.mkString(" ")} phrase=${phrase.mkString(" ")} slop=$slop")
    }
  }

  test("ES standard analyzer: lowercase fold, punctuation dropped, both sides") {
    import graft.functions.TextFunctions
    val raw = Seq(
      "Hello, World! The RSS 2.0 feed...",
      "HELLO WORLD",
      "; , ! .").toDF("text")
    val analyzed = raw
      .select(TextFunctions.esAnalyzeText(col("text")).as("text"))
      .collect().map(_.getString(0)).toSeq
    // standard analyzer keeps "2.0" whole (UAX-29), folds case, drops
    // punctuation-only tokens; an all-punctuation doc analyzes to empty
    assert(analyzed === Seq("hello world the rss 2.0 feed", "hello world", ""))
    assert(Searcher.analyzePhrase("Hello, WORLD!") === "hello world")
    // end to end: a cased, punctuated phrase hits both cased docs
    val n = raw.select(TextFunctions.esAnalyzeText(col("text")).as("text"))
      .where(Searcher.phrasePredicate(col("text"),
        Searcher.analyzePhrase("heLLo, wOrLd"), uax29 = false))
      .count()
    assert(n === 2L)
    // ES's true-UAX-29 splits hyphens/underscores (the JDK grammar joins
    // them) — esAnalyze translates them away; apostrophes stay mid-word
    val hy = Seq("State-of-the-Art, isn't it?").toDF("text")
      .select(TextFunctions.esAnalyzeText(col("text")).as("text"))
      .head().getString(0)
    assert(hy === "state of the art isn't it")
    assert(Searcher.analyzePhrase("State-of-the-Art, isn't it?") === hy)
  }

  test("uax29 phrase predicate tokenizes the PHRASE with the doc tokenizer") {
    // "Paris." space-splits to the impossible token "Paris." but
    // UAX-29-tokenizes to [Paris, ., then] matching the document stream
    val d = Seq("we saw Paris. then London").toDF("text")
    assert(d.where(Searcher.phrasePredicate(col("text"), "Paris. then"))
      .count() === 1L)
    // whitespace mode still space-splits both sides
    assert(d.where(Searcher.phrasePredicate(col("text"), "Paris. then",
      uax29 = false)).count() === 1L)
  }

  test("lucene mode registered as SQL function") {
    val n = spark.sql(
      """SELECT graft_phrase_match_lucene(array('x','b','a'), array('a','b'), 2) AS m""")
      .collect().head.getBoolean(0)
    assert(n)
  }

  test("wide battery kernel == per-phrase predicates on a randomized corpus") {
    // countPerPhraseWide (the set-oriented MultiPhrasesFound plan) must
    // agree with the per-phrase predicate brute force on every phrase:
    // random docs over a tiny vocab so collisions, overlaps, boundary
    // matches and zero-hit phrases all occur
    val rnd = new scala.util.Random(20260816)
    val vocab = Vector("a", "b", "c", "d", "e")
    val corpus = (1 to 200).map { i =>
      (i.toLong, (0 until (1 + rnd.nextInt(12)))
        .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val battery = (1 to 90).map { _ =>
      (0 until (1 + rnd.nextInt(3)))
        .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }.distinct ++ Seq("z q", "a a a a a a a a a a a a a") // zero-hit + over-length
    val wide = Searcher.countPerPhraseWide(corpus, "text", battery,
        uax29 = false).collect().map(r => (r.getString(0), r.getLong(1))).toMap
    battery.foreach { p =>
      val brute = corpus.where(
        Searcher.phrasePredicate(col("text"), p, 0, uax29 = false)).count()
      assert(wide(p) === brute, s"phrase '$p'")
    }
    assert(wide.size === battery.size)
    assert(battery.exists(p => wide(p) === 0L)) // zero-hit phrases kept
  }

  test("countPerPhrase routes wide batteries through the kernel unchanged") {
    // same results through the public gate (>64 phrases, slop=0), and the
    // wide plan carries no per-phrase predicate columns
    val docs = Seq((1L, "a b c"), (2L, "b c d"), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val battery = (1 to 70).map(i => s"p$i never") ++ Seq("a b", "b c", "")
    val got = Searcher.countPerPhrase(docs, "text", battery, uax29 = false)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got("a b") === 1L)
    assert(got("b c") === 2L)
    assert(got("p1 never") === 0L)
    // whitespace-split "" is the single empty token — present in no doc
    assert(got("") === 0L)
    assert(got.size === battery.size)
    val plan = Searcher.countPerPhrase(docs, "text", battery, uax29 = false)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_multi_phrases"), plan.take(2000))
  }

  test("wide battery ANY/ALL document filters route through the kernel") {
    val d = Seq((1L, (1 to 70).map(i => s"t$i").mkString(" ")),
      (2L, "t1 t2 unrelated"), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val battery = (1 to 70).map(i => s"t$i") // all present in doc 1 only
    def n(all: Boolean) = Searcher.countContaining(d, "text", battery,
      allPhrases = all, uax29 = false).collect().head.getLong(0)
    assert(n(all = true) === 1L)  // doc 1 holds every phrase
    assert(n(all = false) === 2L) // doc 2 holds some; null text never hits
    // duplicates collapse before the ALL cardinality compare
    assert(Searcher.countContaining(d, "text", battery ++ battery.take(5),
      allPhrases = true, uax29 = false).collect().head.getLong(0) === 1L)
    // ConvertToLocalRelation pre-evaluates filters over a local frame, so
    // the kernel only survives to the ANALYZED plan here (the parquet-
    // backed executed-plan assertion lives in the countPerPhrase test)
    val plan = Searcher.getContaining(d, "text", battery, uax29 = false)
      .queryExecution.analyzed.toString
    assert(plan.contains("graft_multi_phrases"), plan.take(2000))
  }

  test("wide battery slop == per-phrase sloppy predicates on a randomized corpus") {
    // the kernels anchor candidates on the first phrase token (slop buys
    // gaps BETWEEN tokens only) — so at every slop the wide arm must
    // agree with the per-phrase insertion-budget brute force
    val rnd = new scala.util.Random(1416)
    val vocab = Vector("a", "b", "c", "d")
    val corpus = (1 to 150).map { i =>
      (i.toLong, (0 until (2 + rnd.nextInt(10)))
        .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val battery = ((1 to 80).map(_ => (0 until (2 + rnd.nextInt(2)))
      .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")).distinct ++
      (1 to 40).map(i => s"pad$i never")).distinct
    // the random draws over a 4-symbol vocab dedup to ~44 phrases — the
    // padding keeps the battery OVER the gate so the differential really
    // exercises countPerPhraseWide, not per-column-vs-itself
    assert(battery.length > Searcher.WidePhraseGate)
    for (slop <- Seq(1, 2)) {
      val wide = Searcher.countPerPhrase(corpus, "text", battery, slop,
          uax29 = false).collect().map(r => (r.getString(0), r.getLong(1))).toMap
      battery.foreach { p =>
        val brute = corpus.where(
          Searcher.phrasePredicate(col("text"), p, slop, uax29 = false)).count()
        assert(wide(p) === brute, s"slop=$slop phrase '$p'")
      }
    }
    // example conjunctions under slop agree with the brute force too
    val examples = (1 to 70).map(_ => Seq(
      (0 until 2).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "),
      vocab(rnd.nextInt(vocab.size))))
    val wideEx = Searcher.countPerExample(corpus, "text", examples, slop = 1,
        uax29 = false).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    examples.zipWithIndex.foreach { case (ex, i) =>
      val brute = corpus.where(ex.map(p =>
        Searcher.phrasePredicate(col("text"), p, 1, uax29 = false))
        .reduce(_ && _)).count()
      assert(wideEx(i.toLong) === brute, s"example $i: $ex")
    }
  }

  test("wide battery occurrence counts == per-phrase CountTokenSeq sums") {
    // overlap-heavy corpus (tiny vocab, self-overlapping phrases like
    // "a a") — the counting walk must bit-match the per-column sums
    val rnd = new scala.util.Random(2718)
    val vocab = Vector("a", "b", "c")
    val corpus = ((1 to 150).map { i =>
      (i.toLong, (0 until (1 + rnd.nextInt(12)))
        .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    } :+ (999L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val battery = (((1 to 80).map(_ => (0 until (1 + rnd.nextInt(3)))
      .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")).distinct ++
      Seq("a a", "z q", "")).distinct ++
      (1 to 40).map(i => s"pad$i never")).distinct // over the gate
    assert(battery.length > graft.search.Searcher.WidePhraseGate)
    val wide = NgramOps.countPhrases(corpus, "text", battery, uax29 = false)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    battery.foreach { p =>
      val pt = p.split(" ").toSeq
      val brute = corpus.select(coalesce(sum(
        org.apache.spark.sql.graft.Bridge.column(
          graft.functions.expressions.CountTokenSeq(
            org.apache.spark.sql.graft.Bridge.expression(split(col("text"), " ")),
            org.apache.spark.sql.graft.Bridge.expression(typedLit(pt))))),
        lit(0L))).collect().head.getLong(0)
      assert(wide(p) === brute, s"phrase '$p'")
    }
    // "" whitespace-splits to the single empty token, present in no doc
    assert(wide("") === 0L)
    assert(wide.size === battery.length)
    // uax29 "" tokenizes to ZERO tokens — the m==0 CountTokenSeq contract
    // (count 0), unlike containment where the empty phrase matches all
    val uaxWide = NgramOps.countPhrases(corpus, "text",
        (1 to 65).map(i => s"zz$i") :+ "", uax29 = true)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(uaxWide("") === 0L)
  }

  test("duplicate phrases behave identically on both sides of the gate") {
    // the per-column arm used map_from_arrays, which RAISED on duplicate
    // input phrases while the wide arm reported one row per input — the
    // gate must not be a behavior cliff
    val d = Seq((1L, "a b c")).toDF("doc_id", "text")
    val small = Searcher.countPerPhrase(d, "text", Seq("a b", "a b", "zz"),
        uax29 = false).collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(small.count(_ == ("a b", 1L)) === 2)
    assert(small.contains(("zz", 0L)) && small.size === 3)
    val wide = Searcher.countPerPhrase(d, "text",
        Seq("a b", "a b", "zz") ++ (1 to 65).map(i => s"w$i"),
        uax29 = false).collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(wide.count(_ == ("a b", 1L)) === 2)
    assert(wide.contains(("zz", 0L)) && wide.size === 68)
  }

  test("wide ANY existence mode == full-walk ANY on a randomized corpus") {
    val rnd = new scala.util.Random(99)
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    val corpus = (1 to 120).map { i =>
      (i.toLong, (0 until (1 + rnd.nextInt(8)))
        .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val battery = (1 to 70).map(_ => (0 until (1 + rnd.nextInt(2)))
      .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")).distinct
    val any = Searcher.countContaining(corpus, "text", battery,
      allPhrases = false, uax29 = false).collect().head.getLong(0)
    val brute = corpus.where(battery.map(p =>
      Searcher.phrasePredicate(col("text"), p, 0, uax29 = false))
      .reduce(_ || _)).count()
    assert(any === brute)
  }

  test("wide example battery == per-example conjunctions on a randomized corpus") {
    // countPerExampleWide (MultiExamplesMatched) must agree with the
    // conjunction brute force per example: shared fields across examples,
    // duplicate fields within one, zero-hit examples, null text
    val rnd = new scala.util.Random(816)
    val vocab = Vector("a", "b", "c", "d")
    val corpus = ((1 to 150).map { i =>
      (i.toLong, (0 until (2 + rnd.nextInt(10)))
        .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    } :+ (999L, null.asInstanceOf[String])).toDF("doc_id", "text")
    def phrase() = (0 until (1 + rnd.nextInt(2)))
      .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val battery: Seq[Seq[String]] =
      (1 to 80).map(_ => (0 until (1 + rnd.nextInt(3))).map(_ => phrase())) ++
        Seq(Seq("a", "a"), Seq("z q", "a")) // dup conjunct; zero-hit
    val wide = Searcher.countPerExampleWide(corpus, "text", battery,
        uax29 = false).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    battery.zipWithIndex.foreach { case (ex, i) =>
      val brute = corpus.where(ex.map(p =>
        Searcher.phrasePredicate(col("text"), p, 0, uax29 = false))
        .reduce(_ && _)).count()
      assert(wide(i.toLong) === brute, s"example $i: $ex")
    }
    assert(wide.size === battery.size)
    assert(wide(81L) === 0L) // the planted zero-hit example is reported
  }

  test("wide battery in Lucene move-distance mode == per-column PhraseMatchLucene plan") {
    // the r14 gap: >WidePhraseGate batteries in ES-default slop mode took
    // the O(P) per-column plan. The walker now verifies with the same
    // matchesPositions core anchored at first-token occurrences — this
    // differential pins ANY and ALL against the per-column formulation
    // on a randomized corpus, at slops that buy transpositions (>=2)
    val rnd = new scala.util.Random(1515)
    val vocab = Vector("a", "b", "c", "d", "e")
    val corpus = ((1 to 160).map { i =>
      (i.toLong, (0 until (1 + rnd.nextInt(9)))
        .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    } :+ (999L, null.asInstanceOf[String])).toDF("doc_id", "text")
    for (slop <- Seq(1, 2, 3)) {
      val battery = ((1 to 80).map(_ => (0 until (1 + rnd.nextInt(3)))
        .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")) ++
        Seq("b a", "e d c")).distinct // planted transposition bait
      val wideAny = Searcher.countContaining(corpus, "text", battery,
        allPhrases = false, slop = slop, uax29 = false, luceneSlop = true)
        .collect().head.getLong(0)
      val bruteAny = corpus.where(battery.map(p =>
        Searcher.phrasePredicate(col("text"), p, slop, uax29 = false,
          luceneSlop = true)).reduce(_ || _)).count()
      assert(wideAny === bruteAny, s"ANY slop=$slop")
      val wideAll = Searcher.countContaining(corpus, "text", battery,
        allPhrases = true, slop = slop, uax29 = false, luceneSlop = true)
        .collect().head.getLong(0)
      val bruteAll = corpus.where(battery.map(p =>
        Searcher.phrasePredicate(col("text"), p, slop, uax29 = false,
          luceneSlop = true)).reduce(_ && _)).count()
      assert(wideAll === bruteAll, s"ALL slop=$slop")
    }
  }

  test("FirstTokenWalker lucene mode == matchesLucene on random token arrays") {
    // direct kernel differential, no Spark plan in between: the anchored
    // windowed verify must reproduce the global matcher phrase by phrase
    // (transpositions, duplicate terms, end-of-doc anchors, empty docs)
    import graft.functions.expressions.{FirstTokenWalker, PhraseMatchKernel}
    import org.apache.spark.unsafe.types.UTF8String
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val rnd = new scala.util.Random(2626)
    val vocab = Vector("a", "b", "c", "d")
    def u(s: String) = UTF8String.fromString(s)
    val battery: Array[Array[UTF8String]] =
      ((1 to 90).map(_ => Array.fill(1 + rnd.nextInt(3))(
        u(vocab(rnd.nextInt(vocab.size))))) ++
        Seq(Array(u("a"), u("a")), Array(u("b"), u("a"), u("b")))).toArray
    val walker = new FirstTokenWalker(battery)
    for (_ <- 1 to 300; slop <- Seq(0, 1, 2, 4)) {
      val doc = Array.fill(rnd.nextInt(10))(u(vocab(rnd.nextInt(vocab.size))))
      val toks = new GenericArrayData(doc.asInstanceOf[Array[Any]])
      val got = {
        val k = walker.walk(toks, Int.MaxValue, slop, lucene = true)
        walker.matches.take(k).toSet
      }
      val want = battery.indices.filter { i =>
        PhraseMatchKernel.matchesLucene(toks,
          new GenericArrayData(battery(i).asInstanceOf[Array[Any]]), slop)
      }.toSet
      assert(got === want,
        s"slop=$slop doc=${doc.map(_.toString).mkString(" ")}")
    }
  }

  test("BatteryIndex.of shares one index per battery array (per-executor cache)") {
    // expression references deserialize PER TASK; the heavyweight trie/
    // first-token structures must come from the per-executor cache keyed
    // by the broadcast's deserialized array identity — same array, same
    // index; a different array (another broadcast) gets its own
    import graft.functions.expressions.BatteryIndex
    import org.apache.spark.unsafe.types.UTF8String
    val ps = Array(Array(UTF8String.fromString("a")))
    assert(BatteryIndex.of(ps) eq BatteryIndex.of(ps))
    val other = Array(Array(UTF8String.fromString("a")))
    assert(!(BatteryIndex.of(ps) eq BatteryIndex.of(other)))
  }

  test("BatteryIndex.of: concurrent first use is valid and converges; entries die with the battery") {
    // the documented race: N tasks hit the cache before any entry exists —
    // two indexes may be built for one battery (both valid, one wins the
    // map). Every walker must land on A valid index, and afterwards the
    // cache must serve ONE stable instance for the key.
    import graft.functions.expressions.BatteryIndex
    import org.apache.spark.unsafe.types.UTF8String
    // every strong reference (battery, per-thread results, settled index)
    // lives inside this helper's frame: the caller keeps ONLY the weak
    // ref, so the GC assertion below tests the cache, not stale locals
    def race(): java.lang.ref.WeakReference[BatteryIndex] = {
      val ps: Array[Array[UTF8String]] =
        (0 until 200).map { i =>
          Array(UTF8String.fromString("tok" + (i % 7)),
            UTF8String.fromString("p" + i))
        }.toArray
      val threads = 16
      val barrier = new java.util.concurrent.CyclicBarrier(threads)
      val results: Array[BatteryIndex] = new Array[BatteryIndex](threads)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val pool = (0 until threads).map { t =>
        val th = new Thread(() => {
          try {
            barrier.await()
            val idx = BatteryIndex.of(ps)
            // force the lazy structures concurrently — exactly what the
            // first tasks of a stage do (lazy-val init must race safely)
            val cands = idx.firstTok.get(UTF8String.fromString("tok3"))
            assert(cands != null && cands.nonEmpty)
            val node = idx.trieRoot.children.get(UTF8String.fromString("tok3"))
            assert(node != null && node.children.size() > 0)
            results(t) = idx
          } catch { case e: Throwable => errs.add(e) }
        })
        th.start(); th
      }
      pool.foreach(_.join(30000))
      assert(errs.isEmpty, s"concurrent first use failed: ${errs.peek()}")
      // every thread got a valid index over the SAME ps, each structurally
      // correct (phrase 3 = ["tok3","p3"] reachable in all of them)
      results.foreach { idx =>
        assert(idx != null && (idx.ps eq ps))
        assert(idx.firstTok.get(UTF8String.fromString("tok3")).contains(3))
      }
      // converged: the cache now serves one stable live entry for the key
      val settled = BatteryIndex.of(ps)
      assert(BatteryIndex.of(ps) eq settled)
      assert(BatteryIndex.cachedFor(ps).exists(_ eq settled))
      new java.lang.ref.WeakReference(settled)
    }
    // reclamation: once the battery array (the broadcast's deserialized
    // value) and every walker are unreachable, weak key AND weak value
    // collect — a long-lived session must not accumulate dead tries
    val weakIdx = race()
    var tries = 0
    while (weakIdx.get() != null && tries < 50) {
      System.gc()
      Thread.sleep(20)
      tries += 1
    }
    assert(weakIdx.get() == null,
      s"index not reclaimed after $tries GC rounds — the cache is " +
        "holding a strong path to a dead battery's trie")
  }

  test("lucene slop near Int.MaxValue: clamped, matches, never crashes") {
    // unclamped, anchor + (m-1) + slop wraps negative (walker window
    // buffer allocation crashed) and matchesPositions' n + slop check
    // wrapped into false negatives; clamped to n + m, a huge slop means
    // "terms anywhere in the doc, distinct positions" — both tiers agree
    import graft.functions.expressions.PhraseMatchKernel
    import org.apache.spark.unsafe.types.UTF8String
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def arr(ts: String*) = new GenericArrayData(
      ts.map(UTF8String.fromString).toArray[Any])
    assert(PhraseMatchKernel.matchesLucene(arr("c", "x", "a"), arr("a", "c"),
      Int.MaxValue))
    assert(!PhraseMatchKernel.matchesLucene(arr("c", "x", "b"), arr("a", "c"),
      Int.MaxValue))
    // duplicate term needs TWO distinct positions even at huge slop
    assert(!PhraseMatchKernel.matchesLucene(arr("a", "x"), arr("a", "a"),
      Int.MaxValue))
    assert(PhraseMatchKernel.matchesLucene(arr("a", "x", "a"), arr("a", "a"),
      Int.MaxValue))
    // the wide-battery walker path (>gate) at huge slop: counts, no throw
    val docs2 = Seq((1L, "gamma x alpha"), (2L, "alpha only")).toDF("doc_id", "text")
    val battery = (1 to 70).map(i => s"z$i never") :+ "alpha gamma"
    val n = Searcher.countContaining(docs2, "text", battery,
      allPhrases = false, slop = Int.MaxValue, uax29 = false,
      luceneSlop = true).collect().head.getLong(0)
    assert(n === 1L)
  }

  test("MultiExamplesMatched equals/hashCode cover every broadcast id") {
    // equals compares fields.id, fieldExamples.id AND needCounts.id; the
    // hashCode must include all three so instances differing only in the
    // fan-out / need broadcasts don't collide
    import graft.functions.expressions.MultiExamplesMatched
    import org.apache.spark.unsafe.types.UTF8String
    val sc = spark.sparkContext
    val fields = sc.broadcast(Array(Array(UTF8String.fromString("a"))))
    val fanA = sc.broadcast(Array(Array(0)))
    val fanB = sc.broadcast(Array(Array(0)))
    val needA = sc.broadcast(Array(1))
    val needB = sc.broadcast(Array(1))
    val child = org.apache.spark.sql.graft.Bridge.expression(
      org.apache.spark.sql.functions.lit(null))
    val e1  = MultiExamplesMatched(child, fields, fanA, needA)
    val e1b = MultiExamplesMatched(child, fields, fanA, needA)
    assert(e1 === e1b)
    assert(e1.hashCode === e1b.hashCode)
    val eFan  = MultiExamplesMatched(child, fields, fanB, needA)
    val eNeed = MultiExamplesMatched(child, fields, fanA, needB)
    assert(e1 !== eFan)
    assert(e1 !== eNeed)
    // Objects.hash over distinct broadcast ids — no collision for
    // same-session sequential ids
    assert(e1.hashCode !== eFan.hashCode)
    assert(e1.hashCode !== eNeed.hashCode)
  }

  test("wide example battery in Lucene mode == per-column conjunction brute force") {
    // the example kernel's lucene dialect: transpositions inside a
    // conjunct must match at slop>=2 exactly like the per-column
    // PhraseMatchLucene conjunction
    val rnd = new scala.util.Random(917)
    val vocab = Vector("a", "b", "c", "d")
    val corpus = ((1 to 140).map { i =>
      (i.toLong, (0 until (2 + rnd.nextInt(9)))
        .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    } :+ (999L, null.asInstanceOf[String])).toDF("doc_id", "text")
    def phrase() = (0 until (1 + rnd.nextInt(2)))
      .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val battery: Seq[Seq[String]] =
      (1 to 78).map(_ => (0 until (1 + rnd.nextInt(3))).map(_ => phrase())) ++
        Seq(Seq("b a", "c"), Seq("d c", "a b")) // transposition bait
    for (slop <- Seq(2, 3)) {
      val wide = Searcher.countPerExample(corpus, "text", battery,
          slop = slop, uax29 = false, luceneSlop = true)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      battery.zipWithIndex.foreach { case (ex, i) =>
        val brute = corpus.where(ex.map(p =>
          Searcher.phrasePredicate(col("text"), p, slop, uax29 = false,
            luceneSlop = true)).reduce(_ && _)).count()
        assert(wide(i.toLong) === brute, s"slop=$slop example $i: $ex")
      }
      assert(wide.size === battery.size)
    }
  }

  test("countPerExample routes wide batteries through the example kernel") {
    val d = Seq((1L, "a b c"), (2L, "b c d")).toDF("doc_id", "text")
    val battery = (1 to 70).map(i => Seq(s"x$i", "a")) ++
      Seq(Seq("a b", "c"), Seq("b c", "d"))
    val got = Searcher.countPerExample(d, "text", battery, uax29 = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got(70L) === 1L) // "a b" AND "c" → doc 1
    assert(got(71L) === 1L) // "b c" AND "d" → doc 2
    assert(got(0L) === 0L)
    assert(got.size === battery.size)
    val plan = Searcher.countPerExample(d, "text", battery, uax29 = false)
      .queryExecution.analyzed.toString
    assert(plan.contains("graft_multi_examples"), plan.take(2000))
  }

  test("wide kernel: uax29 phrase tokenization parity and duplicate phrases") {
    val d = Seq((1L, "we saw Paris. then London")).toDF("doc_id", "text")
    val battery = Seq("Paris. then", "Paris. then", "London") ++
      (1 to 65).map(i => s"zz$i")
    val got = Searcher.countPerPhrase(d, "text", battery)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // duplicate phrases each report the shared count
    assert(got.count { case (p, n) => p == "Paris. then" && n == 1L } === 2)
    assert(got.toMap.apply("London") === 1L)
  }
}
