package graft

import org.apache.spark.sql.functions._

import graft.operators.{Analyses, TextQuality, UrlOps}

/** Round-4 corpus-preparation additions: URL canonicalization, domain
  * blocklists, DSIR importance resampling, temperature mixtures, HTML
  * extraction.
  */
class CorpusPrepSpec extends SparkTestBase {
  import spark.implicits._

  test("canonicalizeUrl: scheme/host case, ports, www, params, fragments, slashes") {
    val urls = Seq(
      "HTTPS://WWW.Example.COM:443/a/b/?utm_source=x&b=2&a=1#frag",
      "https://example.com/a/b?a=1&b=2",
      "http://example.com:80",
      "http://example.com/",
      "https://shop.example.com/p?gclid=123&q=shoes",
      "not-a-url"
    ).toDF("url")
    val out = urls.select(col("url"), UrlOps.canonicalizeUrl(col("url")).as("c"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("HTTPS://WWW.Example.COM:443/a/b/?utm_source=x&b=2&a=1#frag") ===
      "https://example.com/a/b?a=1&b=2")
    assert(out("https://example.com/a/b?a=1&b=2") === "https://example.com/a/b?a=1&b=2")
    assert(out("http://example.com:80") === "http://example.com/")
    assert(out("http://example.com/") === "http://example.com/")
    // gclid is a tracking param, q=shoes survives
    assert(out("https://shop.example.com/p?gclid=123&q=shoes") ===
      "https://shop.example.com/p?q=shoes")
    // malformed URLs pass through lowercased, not nulled
    assert(out("not-a-url") === "not-a-url")
  }

  test("canonicalizeUrl: '?' inside a fragment is not a query; empty dropParams is safe") {
    val urls = Seq(
      "https://x.com/p#f?a=1",            // '?' belongs to the fragment
      "https://x.com/p?keep=1#f?gclid=2", // real query THEN fragment-with-?
      "https://x.com/p?gclid=3&a=1"
    ).toDF("url")
    val out = urls.select(col("url"), UrlOps.canonicalizeUrl(col("url")).as("c"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("https://x.com/p#f?a=1") === "https://x.com/p")
    assert(out("https://x.com/p?keep=1#f?gclid=2") === "https://x.com/p?keep=1")
    // dropParams = Nil means "drop only utm_*": gclid now survives
    val none = urls.select(col("url"),
        UrlOps.canonicalizeUrl(col("url"), dropParams = Nil).as("c"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(none("https://x.com/p?gclid=3&a=1") === "https://x.com/p?a=1&gclid=3")
  }

  test("urlDuplicateCounts groups distinct raw forms of the same page") {
    val df = Seq(
      "https://www.x.com/p/1?utm_campaign=a",
      "HTTPS://x.com:443/p/1",
      "https://x.com/p/1/",
      "https://x.com/p/2"
    ).toDF("url")
    val out = UrlOps.urlDuplicateCounts(df, "url").collect()
    assert(out.length === 1)
    assert(out.head.getString(0) === "https://x.com/p/1")
    assert(out.head.getLong(1) === 3L)
  }

  test("domainBlocklistFilter: predicate and join paths agree, subdomains blocked") {
    val df = Seq(
      (1L, "https://ads.tracker.net/x"),
      (2L, "https://tracker.net/y"),
      (3L, "https://nottracker.net/z"),
      (4L, "https://fine.org/a")
    ).toDF("id", "url")
    val blocked = Seq("tracker.net")
    val pred = UrlOps.domainBlocklistFilter(df, "url", blocked)
      .select("id").as[Long].collect().sorted
    val join = UrlOps.domainBlocklistFilter(df, "url", blocked, asJoin = true)
      .select("id").as[Long].collect().sorted
    // "nottracker.net" must NOT be blocked (suffix match is label-aligned)
    assert(pred.toSeq === Seq(3L, 4L))
    assert(join.toSeq === pred.toSeq)
  }

  test("temperatureMixture: alpha=1 is proportional, alpha→0 flattens toward uniform") {
    val df = (Seq.fill(90)("big") ++ Seq.fill(10)("small"))
      .zipWithIndex.map { case (s, i) => (s, s"tok tok tok") }
      .toDF("source", "text")
    def probs(alpha: Double): Map[String, Double] =
      Analyses.temperatureMixture(df, col("source"), "text", alpha, 1000L)
        .select("source", "p").collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val p1 = probs(1.0)
    assert(math.abs(p1("big") - 0.9) < 1e-6)
    val p05 = probs(0.5)
    assert(p05("big") < 0.9 && p05("small") > 0.1)
    // epochs > 1 surfaces when a source must repeat to meet its target
    val plan = Analyses.temperatureMixture(df, col("source"), "text", 0.0, 100000L)
      .select("source", "epochs").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(plan("small") > 1.0)
  }

  test("DSIR: target-like docs outweigh raw-typical docs; selection is deterministic") {
    val target = Seq.fill(30)("quantum physics lecture notes").toDF("text")
    val raw = (Seq.fill(30)("quantum physics lecture notes") ++
      Seq.fill(60)("buy cheap pills online now")).toDF("text")
    val ratios = Analyses.dsirLogRatios(target, raw, "text", buckets = 64)
    // the one-scan predicate variant computes the same table
    val ratiosWhere = Analyses.dsirLogRatiosWhere(
      raw, col("text") === "quantum physics lecture notes", "text", buckets = 64)
    assert(ratios.toSeq === ratiosWhere.toSeq)
    val scored = Analyses.dsirWeights(raw.distinct(), "text", ratios)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(scored("quantum physics lecture notes") > scored("buy cheap pills online now"))
    val docs = (1L to 50L).map(i =>
      (i, if (i % 5 === 0) "quantum physics lecture notes" else "buy cheap pills online now"))
      .toDF("id", "text")
    val sel1 = Analyses.dsirSelect(Analyses.dsirWeights(docs, "text", ratios), col("id"), 10)
      .select("id").as[Long].collect().toSet
    val sel2 = Analyses.dsirSelect(Analyses.dsirWeights(docs, "text", ratios), col("id"), 10)
      .select("id").as[Long].collect().toSet
    assert(sel1 === sel2) // derandomized Gumbel: stable across runs
    // the target-like docs (ids divisible by 5) dominate the selection
    assert(sel1.count(_ % 5 == 0) >= 8)
  }

  test("bigramLogProb: seen-in-context pairs score above interpolation floor") {
    val docs = Seq(
      (1L, "the cat"),
      (2L, "the cat"),
      (3L, "the dog"),
      (4L, "dog") // single token: no bigrams, absent from output
    ).toDF("id", "text")
    val out = TextQuality.bigramLogProb(docs, "id", "text", lambda = 0.75)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(!out.contains(4L))
    assert(out(1L)._1 === 1L)
    assert(out(1L)._2 === out(2L)._2)
    // P(cat|the)=2/3 beats P(dog|the)=1/3 (and P(cat)=2/7 beats P(dog)=2/7
    // tie at the unigram floor): the rarer continuation scores lower
    assert(out(3L)._2 < out(1L)._2)
  }

  test("perplexityBuckets: common-token docs land in head, rare-token docs in tail") {
    // 6 docs: two of pure high-frequency tokens, two mixed, two of
    // singletons — thirds split must follow the LM score order
    val docs = Seq(
      (1L, "the the the the"), (2L, "the the the of"),
      (3L, "the of cat dog"), (4L, "of the bird fish"),
      (5L, "qq ww ee rr"), (6L, "zz xx cc vv")
    ).toDF("id", "text")
    val out = TextQuality.perplexityBuckets(docs, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(out(1L) === "head")
    assert(out(5L) === "tail" && out(6L) === "tail")
    // exactly the worst third is tail, best third head
    assert(out.values.count(_ == "head") === 2)
    assert(out.values.count(_ == "middle") === 2)
    assert(out.values.count(_ == "tail") === 2)
    // cross-corpus: scoring under a PASSED-IN model ranks by that model
    val lm = TextQuality.unigramCounts(
      Seq("the of the of the the of and").toDF("text"), "text")
    val scored = TextQuality.perplexityBuckets(docs, "id", "text", lm = Some(lm))
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(scored(1L) === "head")
  }

  test("perplexityBuckets byCol: cuts are per-group, not global") {
    // lang a: scores {high×4, low×2}; lang b: all identical. Global cuts
    // would drown b; per-lang cuts must bucket b's ties all together.
    val docs = Seq(
      (1L, "the the the", "a"), (2L, "the the the", "a"), (3L, "the the of", "a"),
      (4L, "zz ww qq", "a"), (5L, "rr ss tt", "a"), (6L, "uu vv yy", "a"),
      (7L, "mm mm nn", "b"), (8L, "mm mm nn", "b"), (9L, "mm mm nn", "b")
    ).toDF("id", "text", "lang")
    val out = TextQuality.perplexityBuckets(docs, "id", "text", byCol = Some("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(out(1L) === "head" && out(2L) === "head")
    // every lang-b doc has the same score == both cuts → all head
    assert(Seq(7L, 8L, 9L).forall(out(_) === "head"))
    // lang a's singleton-token docs tie AT the mid cut → middle (>= is
    // inclusive); under GLOBAL cuts they'd sit far below lang-b's scores
    assert(Seq(4L, 5L, 6L).forall(out(_) === "middle"))
    // ...whereas globally, the all-tied lang-b docs and lang-a's best split
    // differently: sanity-check the global path still heads doc 1
    val globalOut = TextQuality.perplexityBuckets(docs, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(globalOut(1L) === "head")
    assert(Seq(4L, 5L, 6L).forall(globalOut(_) === "tail"))
  }

  test("piiRedact: typed sentinels, per-type counts, clean text untouched") {
    import graft.operators.Analyses
    val docs = Seq(
      (1L, "mail bob@x.com or call 555-123-4567 now"),
      (2L, "server 10.0.0.1 up"),
      (3L, "clean text")).toDF("id", "text")
    val out = Analyses.piiRedact(docs, "id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[String]("text_redacted") === "mail <|email|> or call <|phone|> now")
    assert(out(1L).getAs[Long]("n_email") === 1L)
    assert(out(1L).getAs[Long]("n_phone") === 1L)
    assert(out(1L).getAs[Long]("n_ip") === 0L)
    assert(out(2L).getAs[String]("text_redacted") === "server <|ip|> up")
    assert(out(3L).getAs[String]("text_redacted") === "clean text")
  }

  test("Pipeline.redactPii and perplexitySelect compose without losing columns") {
    val docs = Seq(
      (1L, "the the the mail bob@x.com", "en"),
      (2L, "the the of good text here", "en"),
      (3L, "zz ww qq rr ss tt", "en")).toDF("id", "text", "lang")
    val red = Pipeline.redactPii(docs, "text")
    assert(red.columns.toSet ===
      Set("id", "text", "lang", "n_email", "n_phone", "n_ip"))
    val r1 = red.where(col("id") === 1L).head()
    assert(r1.getAs[String]("text").endsWith("mail <|email|>"))
    assert(r1.getAs[Long]("n_email") === 1L)
    assert(r1.getAs[String]("lang") === "en") // untouched passenger column
    // head+middle selection drops the singleton-token doc (worst third)
    val kept = Pipeline.perplexitySelect(docs, "id", "text")
      .select("id").as[Long].collect().toSet
    assert(kept === Set(1L, 2L))
  }

  test("unigramLogProbInline: full-vocab scores match the join path; pruning drops OOV") {
    val docs = Seq((1L, "the cat sat"), (2L, "the the dog"), (3L, "cat cat cat"))
      .toDF("id", "text")
    val lm = TextQuality.unigramCounts(docs, "text")
    val joinScores = TextQuality.unigramLogProb(docs, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val inline = TextQuality.unigramLogProbInline(docs, "id", "text", lm, topV = 1000)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    joinScores.foreach { case (id, s) =>
      assert(math.abs(inline(id)._2 - s) < 1e-6, s"doc $id") }
    // prune to the single most frequent token ('cat' ties 'the' at 3 → 'cat'
    // wins the asc tie-break): only cat-bearing tokens score, over the
    // pruned mass (p = 1.0 → avg_logp = 0)
    val pruned = TextQuality.unigramLogProbInline(docs, "id", "text", lm, topV = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(!pruned.contains(2L)) // no in-vocab token survives
    assert(pruned(3L) === ((3L, 0.0)))
  }

  test("entropyStats: uniform unigrams hit log2(V); conditional <= unigram entropy") {
    val docs = Seq("a b c d", "a b c d").toDF("text")
    val m = TextQuality.entropyStats(docs, "text")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(m("unigram_entropy_bits") - 2.0) < 1e-6) // 4 equiprobable tokens
    assert(m("conditional_entropy_bits") <= m("unigram_entropy_bits") + 1e-9)
    assert(math.abs(
      m("bigram_entropy_bits") - m("unigram_entropy_bits") -
        m("conditional_entropy_bits")) < 1e-5)
  }

  test("fineWebFilter: word-count window and line signals gate correctly") {
    val good = (("w " * 60).trim + ".\nAnother decent line here with words.")
    val short = "too short"
    val bullets = (1 to 60).map(i => s"- item $i with some words.").mkString("\n")
    val docs = Seq((1L, good), (2L, short), (3L, bullets)).toDF("id", "text")
    val out = TextQuality.fineWebFilter(docs, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getBoolean(r.fieldIndex("keep"))).toMap
    assert(!out(2L)) // below word floor
    assert(!out(3L)) // bullet_line_frac = 1.0 > 0.9
  }

  test("corpusReport: counts, dup fraction and language mix") {
    val docs = Seq(
      ("same text here", "en"), ("same text here", "en"),
      ("unique one", "en"), ("otro documento", "es")
    ).toDF("text", "lang")
    val m = Pipeline.corpusReport(docs, "text", Some("lang"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(m("n_docs") === 4.0)
    assert(m("n_unique_texts") === 3.0)
    assert(m("exact_dup_frac") === 0.5) // 2 of 4 docs share a text
    assert(m("lang_frac_en") === 0.75)
    assert(m("lang_frac_es") === 0.25)
  }

  test("decontaminateFuzzy drops near-matches of benchmark docs, exact-hash misses them") {
    import graft.operators.Dedup
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine"),
      (3L, "completely unrelated text about something else entirely here")
    ).toDF("id", "text")
    // bench doc 2 is train doc 1 with a leading token: exact hash differs
    val bench = Seq(
      // NB: bench ids numerically collide with train ids on purpose
      (1L, "nothing in common with any training document at all whatsoever"),
      (2L, "intro alpha beta gamma delta epsilon zeta eta theta")
    ).toDF("bid", "btext")
    val exact = Dedup.decontaminate(train, md5(col("text")), bench, md5(col("btext")))
    assert(exact.count() === 3) // verbatim check sees no leak
    val fuzzy = Dedup.decontaminateFuzzy(train, "text", bench, "btext",
      threshold = 0.4, w = 3, k = 8, bands = 4)
    assert(fuzzy.select("id").as[Long].collect().sorted.toSeq === Seq(2L, 3L))
  }

  test("decontaminateFuzzy decides per row: duplicate and null train ids") {
    import graft.operators.Dedup
    val leak = "alpha beta gamma delta epsilon zeta eta theta"
    val clean = "one two three four five six seven eight nine"
    // id 1 holds a leak and a clean row; both null-id rows are checked too
    val train = Seq[(java.lang.Long, String)](
      (1L, leak), (1L, clean), (null, "intro " + leak), (null, clean),
      (2L, null)).toDF("id", "text")
    val bench = Seq("intro alpha beta gamma delta epsilon zeta eta theta")
      .toDF("btext")
    val kept = Dedup.decontaminateFuzzy(train, "text", bench, "btext",
        threshold = 0.4, w = 3, k = 8, bands = 4)
      .collect().map(r => (Option(r.get(0)), Option(r.getString(1)))).toSet
    assert(kept === Set((Some(1L), Some(clean)), (None, Some(clean)),
      (Some(2L), None)))
  }

  test("winnowOverlapPairs surfaces shared token runs (winnowing guarantee)") {
    val run = "the quick brown fox jumps over the lazy dog tonight"
    val docs = Seq(
      (1L, s"intro words $run closing remarks here"),
      (2L, s"different opening $run and another ending"),
      (3L, "nothing shared with anybody at all in this one honestly")
    ).toDF("id", "text")
    val pairs = TextQuality.winnowOverlapPairs(docs, "id", "text",
        k = 3, w = 4, minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // docs 1/2 share a 10-token run ≥ w+k-1 = 6 ⇒ at least one shared
    // fingerprint; doc 3 pairs with nobody
    assert(pairs === Set((1L, 2L)))
  }

  test("stripHtml: scripts, styles, comments, tags, entities, whitespace") {
    val html = """<html><head><style>p { color: red }</style></head>
      |<body><!-- comment --><p>Hello &amp; welcome</p>
      |<script>if (1 < 2) { alert("x"); }</script>
      |<p>A &lt;b&gt; c&nbsp;d &#39;q&#39;</p></body></html>""".stripMargin
    val out = Seq(html).toDF("h")
      .select(TextQuality.stripHtml(col("h")).as("t")).as[String].head()
    assert(out === "Hello & welcome A <b> c d 'q'")
  }

  test("stripHtml: escaped entities do not double-decode (&amp; decodes last)") {
    // '&amp;lt;' is the ESCAPED text '&lt;' — it must render as '&lt;',
    // never double-decode to '<'
    val out = Seq("<p>&amp;lt;tag&amp;gt; and &amp;amp;</p>").toDF("h")
      .select(TextQuality.stripHtml(col("h")).as("t")).as[String].head()
    assert(out === "&lt;tag&gt; and &amp;")
  }

  test("bigramLogProb: OOV pairs under a passed-in LM get the finite floor, not NULL") {
    val model = Seq((1L, "the cat sat")).toDF("id", "text")
    val lm = (TextQuality.unigramCounts(model, "text"),
      TextQuality.bigramCounts(model, "text"))
    // 'zz qq' shares no vocabulary with the model: every pair is OOV
    val docs = Seq((1L, "the cat"), (2L, "zz qq")).toDF("id", "text")
    val out = TextQuality.bigramLogProb(docs, "id", "text", lambda = 0.75, lm = Some(lm))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.isNullAt(2), if (r.isNullAt(2)) 0.0 else r.getDouble(2))).toMap
    assert(!out(2L)._2, "OOV doc must score the floor penalty, not NULL")
    assert(out(2L)._1 === 1L)
    assert(math.abs(out(2L)._3 - math.log(1e-12)) < 1e-3)
    // and the in-vocabulary doc still scores strictly better
    assert(out(1L)._3 > out(2L)._3)
  }

  test("unigramDivergence: identical corpora diverge zero; disjoint diverge symmetric") {
    val a = Seq("x y z", "x x y").toDF("text")
    val same = TextQuality.unigramDivergence(a, a, "text").head()
    assert(same.getAs[Long]("vocab_a") === 3L)
    assert(same.getAs[Long]("vocab_union") === 3L)
    assert(same.getAs[Double]("kl_ab") === 0.0)
    assert(same.getAs[Double]("jsd") === 0.0)
    // disjoint vocabularies with mirrored counts: KL symmetric, JSD ≤ ln 2
    val b = Seq("p q r", "p p q").toDF("text")
    val dis = TextQuality.unigramDivergence(a, b, "text").head()
    assert(dis.getAs[Long]("vocab_union") === 6L)
    assert(dis.getAs[Double]("kl_ab") === dis.getAs[Double]("kl_ba"))
    assert(dis.getAs[Double]("kl_ab") > 0.0)
    val jsd = dis.getAs[Double]("jsd")
    assert(jsd > 0.0 && jsd <= math.log(2.0) + 1e-9)
  }

  test("weightedSample: deterministic, drops non-positive weights, favors heavy rows") {
    val df = (1L to 200L).map(i => (i, if (i == 7L) 1e9 else 1.0))
      .toDF("id", "w") // one row carries ~all the mass
    val pick = Analyses.weightedSample(df, col("id"), col("w"), 5)
      .select("id").as[Long].collect().toSet
    assert(pick.contains(7L), "the dominant weight must be selected")
    assert(pick.size === 5)
    // rerun-identical (derandomized Gumbel keys)
    val again = Analyses.weightedSample(df, col("id"), col("w"), 5)
      .select("id").as[Long].collect().toSet
    assert(again === pick)
    // zero/negative weights can never be sampled, even with k > n
    val zeros = Seq((1L, 2.0), (2L, 0.0), (3L, -1.0)).toDF("id", "w")
    val kept = Analyses.weightedSample(zeros, col("id"), col("w"), 10)
      .select("id").as[Long].collect().toSet
    assert(kept === Set(1L))
  }

  test("compressionSignals: templated text compresses far below varied text") {
    val rep = ("lorem ipsum " * 200).trim
    val varied = (1 to 400).map(i => s"w${i * 2654435761L % 9973}").mkString(" ")
    val df = Seq((1L, rep), (2L, varied), (3L, ""), (4L, null.asInstanceOf[String]))
      .toDF("id", "text")
    val out = TextQuality.compressionSignals(df, "id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    val repRatio = out(1L).getAs[Double]("compression_ratio")
    val varRatio = out(2L).getAs[Double]("compression_ratio")
    assert(repRatio < 0.05, s"repeated text should collapse, got $repRatio")
    assert(varRatio > 3 * repRatio, s"varied $varRatio vs repeated $repRatio")
    assert(out(3L).getAs[Long]("n_bytes") === 0L) // empty text: ratio uses max(bytes,1)
    assert(out(4L).isNullAt(2) && out(4L).isNullAt(3)) // null text → null signal
  }

  test("winnow md5 kernel matches the portable column cascade bit-for-bit") {
    val rng = new scala.util.Random(11)
    val texts = Seq("", "a", "a b c", "a b c d e f",
      "x y x y x y x y", "héllo wörld a b c d é f g") ++
      (1 to 40).map(_ => Seq.fill(rng.nextInt(15))(s"w${rng.nextInt(6)}").mkString(" "))
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val spec = df.select(col("id"),
        TextQuality.winnowFingerprintArray(col("text"), 3, 4).as("fps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val kernel = TextQuality.winnowFingerprintFrameProbe(df, "id", "text", 3, 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    // full value-and-order parity: the pair queries join on these values
    texts.indices.foreach { i =>
      assert(kernel(i.toLong) === spec(i.toLong), s"doc $i: '${texts(i)}'")
    }
  }

  test("DSIR JVM kernel matches the portable md5-column formulation bit-for-bit") {
    val docs = Seq("the cat sat", "a", "", "x y z w v u t s",
      "héllo wörld ünïcode café café").toDF("text")
    val ratios = Array.tabulate(64)(i => math.sin(i.toDouble))
    // the executable spec: interpreted HOF fold over md5-hex buckets —
    // exactly what the DuckDB oracle replays
    val t = split(col("text"), " ")
    val bi = transform(sequence(lit(1), size(t) - 1),
      i => concat(element_at(t, i), lit(" "), element_at(t, i + 1)))
    val grams = concat(t, when(size(t) > 1, bi).otherwise(array()))
    val rl = typedLit(ratios.toSeq)
    val spec = docs.withColumn("w", aggregate(grams, lit(0.0),
        (acc, g) => acc + element_at(rl,
          (conv(substring(md5(g), 1, 8), 16, 10).cast("long") % 64 + 1).cast("int"))))
      .select("w").as[Double].collect().toSeq
    val kernel = Analyses.dsirWeights(docs, "text", ratios)
      .select("dsir_weight").as[Double].collect().toSeq
    assert(kernel === spec)
  }

  test("domainReport: per-host counts and exact-dup fraction") {
    val df = Seq(
      ("a.com", "x y z"), ("a.com", "x y z"), ("a.com", "p q"),
      ("b.com", "u v w")
    ).toDF("host", "text")
    val out = graft.Pipeline.domainReport(df, col("host"), "text")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("a.com").getAs[Long]("n_docs") === 3L)
    assert(out("a.com").getAs[Long]("n_tokens") === 8L)
    assert(out("a.com").getAs[Long]("n_unique_texts") === 2L)
    assert(out("a.com").getAs[Double]("exact_dup_frac") === math.rint(2.0 / 3 * 1e6) / 1e6)
    assert(out("b.com").getAs[Double]("exact_dup_frac") === 0.0)
  }

  test("vocabCoverage counts in-vocab token occurrences (multiset)") {
    val df = Seq((1L, "the cat the dog"), (2L, "zz qq")).toDF("id", "text")
    val out = TextQuality.vocabCoverage(df, "id", "text", Seq("the", "cat"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("n_tokens") === 4L)
    assert(out(1L).getAs[Long]("n_in_vocab") === 3L) // 'the' twice + 'cat'
    assert(out(1L).getAs[Double]("oov_frac") === 0.25)
    assert(out(2L).getAs[Long]("n_in_vocab") === 0L)
    assert(out(2L).getAs[Double]("oov_frac") === 1.0)
  }

  test("tfidfTerms surfaces document-specific terms over corpus-wide ones") {
    val df = Seq(
      (1L, "common common zebra"),
      (2L, "common common yak"),
      (3L, "common common common")
    ).toDF("id", "text")
    val out = graft.operators.NgramOps.tfidfTerms(df, "id", "text", k = 1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === "zebra") // df=1 beats 'common' (df=3, idf=0)
    assert(out(2L) === "yak")
    assert(out(3L) === "common") // only term present, even at idf 0
  }

  test("distinctiveTerms: slice-only terms score side a, rest-only side b") {
    val df = Seq(
      ("en", "alpha alpha shared"), ("en", "alpha shared"),
      ("de", "beta beta shared"), ("de", "beta shared")
    ).toDF("lang", "text")
    val out = Analyses.distinctiveTerms(df, col("lang") === "en", "text", k = 1)
      .collect().map(r => r.getString(4) -> r.getString(0)).toMap
    assert(out("a") === "alpha")
    assert(out("b") === "beta")
  }

  test("divergence: identical corpora → 0; drift concentrated on the drifted term") {
    import graft.operators.TextQuality
    val a = Seq("x y", "x z").toDF("text")
    // KL/JS of a distribution against itself is exactly 0 term-by-term
    val same = TextQuality.unigramDivergence(a, a, "text").head()
    assert(same.getAs[Double]("kl_ab") === 0.0 &&
      same.getAs[Double]("kl_ba") === 0.0 && same.getAs[Double]("jsd") === 0.0)
    assert(same.getAs[Long]("vocab_union") === 3L)  // union vocab x,y,z
    // replace z with w: the top JS contributors are the swapped terms,
    // and JS stays within its ln 2 bound
    val b = Seq("x y", "x w").toDF("text")
    val top = TextQuality.divergenceTopTerms(a, b, "text", k = 2)
      .collect().map(_.getString(0)).toSet
    assert(top === Set("w", "z"))
    val js = TextQuality.unigramDivergence(a, b, "text").head()
      .getAs[Double]("jsd")
    assert(js > 0.0 && js < math.log(2.0))
    // top-terms on empty inputs: no rows, no throw
    val e = a.where(lit(false))
    assert(TextQuality.divergenceTopTerms(e, e, "text", k = 3).count() === 0L)
  }

  test("concordance: piece-local contexts, start/end/adjacent occurrences") {
    val df = Seq(
      (1L, "XX hit YY hit ZZ"), // two separated occurrences
      (2L, "hit AA"),           // at start: empty left context
      (3L, "BB hit"),           // at end: empty right context
      (4L, "hit hit"),          // adjacent: the separator is piece-local
      (5L, "no match here")
    ).toDF("id", "text")
    val out = graft.operators.SearchOps.concordance(df, "id", "text", "hit", ctx = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getString(2), r.getString(3))).toMap
    assert(out((1L, 1L)) === (("XX ", " YY ")))
    assert(out((1L, 2L)) === ((" YY ", " ZZ")))
    assert(out((2L, 1L)) === (("", " AA")))
    assert(out((3L, 1L)) === (("BB ", "")))
    assert(out((4L, 1L)) === (("", " ")))
    assert(!out.keySet.exists(_._1 == 5L))
  }

  test("applyAttributes joins attribute frames and filters null-safely") {
    val docs = Seq((1L, "good long text"), (2L, "bad"), (3L, "orphan")).toDF("id", "text")
    val gate = Seq((1L, true), (2L, false)).toDF("id", "keep") // 3 missing
    val score = Seq((1L, 0.9), (2L, 0.8), (3L, 0.2)).toDF("id", "q")
    val out = graft.Pipeline.applyAttributes(docs, "id", Seq(gate, score),
        coalesce(col("keep"), lit(false)) && col("q") > 0.5)
      .select("id").as[Long].collect().toSet
    assert(out === Set(1L)) // 2 fails the gate, 3 has no gate row
  }

  test("concordance occurrence count equals regexp_count (both non-overlapping)") {
    val rng = new scala.util.Random(7)
    val docs = (1L to 60L).map { i =>
      (i, Seq.fill(rng.nextInt(12))(Seq("ab", "ab ab", "x", "")(rng.nextInt(4)))
        .mkString(" "))
    }.toDF("id", "text")
    val occ = graft.operators.SearchOps.concordance(docs, "id", "text", "ab ab", 5)
      .groupBy("id").count()
    val expected = docs.select(col("id"),
        regexp_count(col("text"), lit(java.util.regex.Pattern.quote("ab ab"))).as("n"))
      .where(col("n") > 0)
    val got = occ.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = expected.collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    assert(got === want)
  }

  test("topKPerGroup ranks within each group independently") {
    val df = Seq(
      (1L, "g1", "a b a b a b"), // g1: "a b" x3, "b a" x2
      (2L, "g2", "c d c d")      // g2: "c d" x2, "d c" x1
    ).toDF("id", "g", "text")
    val out = graft.operators.NgramOps.topKPerGroup(df, "g", "text", n = 2, k = 1,
        uax29 = false)
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out("g1") === ("a b", 3L))
    assert(out("g2") === ("c d", 2L))
  }
}
