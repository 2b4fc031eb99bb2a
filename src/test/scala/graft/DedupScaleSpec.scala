package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, MinHash, SimHash, TextQuality}

class DedupScaleSpec extends SparkTestBase {
  import spark.implicits._

  // doc 1/2 near-identical (one token changed), doc 3 unrelated
  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "the quick brown fox jumps over the lazy cat again and again today"),
    (3L, "completely different content with nothing shared at all here now ok")
  ).toDF("doc_id", "text")

  test("minhash lsh finds the planted near-dup pair and not the unrelated doc") {
    val cand = MinHash.lshCandidates(docs, "doc_id", "text", w = 3, k = 8, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.contains((1L, 2L)))
    assert(!cand.contains((1L, 3L)) && !cand.contains((2L, 3L)))
  }

  test("lsh maxBucket skew guard: oversized bucket discarded in the single-pass agg") {
    // 6 identical docs → every band bucket holds all 6 ids; 2 more
    // identical docs of different content form a healthy 2-bucket
    val d = ((1L to 6L).map(i => (i, "a b c d e f g h i j")) ++
      Seq((11L, "z y x w v u t s r q"), (12L, "z y x w v u t s r q")))
      .toDF("doc_id", "text")
    // maxBucket = 4 < 6: the degenerate clique contributes NO pairs; the
    // healthy pair survives
    val capped = MinHash.lshCandidates(d, "doc_id", "text", w = 3, k = 8,
        bands = 4, maxBucket = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === Set((11L, 12L)))
    // default maxBucket: full 15-pair clique plus the healthy pair — the
    // bounded collect is exact below the cap
    val full = MinHash.lshCandidates(d, "doc_id", "text", w = 3, k = 8, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val clique = (for (a <- 1L to 6L; b <- (a + 1) to 6L) yield (a, b)).toSet
    assert(full === clique + ((11L, 12L)))
  }

  test("BoundedCollectSet: exact below cap, saturates at cap, skips nulls") {
    import org.apache.spark.sql.graft.Bridge
    val agg = (cap: Int) => Bridge.column(
      graft.functions.expressions.BoundedCollectSet(
        Bridge.expression(col("v")), cap).toAggregateExpression())
    val df = Seq(("a", Some(1)), ("a", Some(2)), ("a", Some(2)), ("a", None),
      ("b", Some(7)), ("b", Some(8)), ("b", Some(9))).toDF("g", "v")
    val exact = df.groupBy("g").agg(sort_array(agg(10)).as("s"))
      .collect().map(r => r.getString(0) -> r.getSeq[Int](1)).toMap
    assert(exact("a") === Seq(1, 2)) // distinct, null skipped
    assert(exact("b") === Seq(7, 8, 9))
    val capped = df.groupBy("g").agg(size(agg(2)).as("n"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(capped("a") === 2) // true cardinality 2: exact
    assert(capped("b") === 2) // true cardinality 3: saturated at cap
  }

  test("BoundedCollectSet: partial-merge path across many partitions stays capped and exact") {
    import org.apache.spark.sql.graft.Bridge
    val agg = (cap: Int) => Bridge.column(
      graft.functions.expressions.BoundedCollectSet(
        Bridge.expression(col("v")), cap).toAggregateExpression())
    // 16 input partitions force map-side partial buffers that MERGE:
    // the hot key holds 500 distinct values (over any cap), the exact
    // key holds 7 spread across partitions with repeats
    val rows = (1 to 500).map(i => ("hot", i)) ++
      (1 to 64).map(i => ("exact", i % 7))
    val df = rows.toDF("g", "v").repartition(16)
    val out = df.groupBy("g")
      .agg(size(agg(10)).as("n"), sort_array(agg(1000)).as("all"))
      .collect().map(r => r.getString(0) -> ((r.getInt(1), r.getSeq[Int](2)))).toMap
    assert(out("hot")._1 === 10) // saturated at cap through merges
    assert(out("hot")._2 === (1 to 500)) // uncapped agg in the same plan is exact
    assert(out("exact")._1 === 7) // true cardinality below cap: exact through merges
    assert(out("exact")._2 === (0 until 7))
    // differential vs collect_set when nothing saturates
    val ours = df.groupBy("g").agg(sort_array(agg(1000)).as("s"))
      .collect().map(r => r.getString(0) -> r.getSeq[Int](1)).toMap
    val ref = df.groupBy("g").agg(sort_array(collect_set(col("v"))).as("s"))
      .collect().map(r => r.getString(0) -> r.getSeq[Int](1)).toMap
    assert(ours === ref)
  }

  test("jaccard of identical docs is 1, disjoint docs is 0") {
    val d = Seq((1L, "a b c d e f"), (2L, "a b c d e f"), (3L, "x y z w v u")).toDF("doc_id", "text")
    val sh = MinHash.shingleSets(d, "doc_id", "text", 3)
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val j = MinHash.jaccard(pairs, sh).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(j((1L, 2L)) === 1.0)
    assert(j((1L, 3L)) === 0.0)
  }

  test("nearDuplicates end-to-end keeps only above-threshold pairs") {
    val nd = MinHash.nearDuplicates(docs, "doc_id", "text", threshold = 0.5, w = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(nd.toSet === Set((1L, 2L)))
  }

  test("simhash: identical docs share fingerprints; hamming bands find near pair") {
    val d = Seq((1L, "a b c d e f g h"), (2L, "a b c d e f g h"), (3L, "q r s t u v w x"))
      .toDF("doc_id", "text")
    val fp = SimHash.simhashBitString(d, "doc_id", "text", 16)
    val m = fp.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m(1L) === m(2L))
    assert(m(1L).length === 16)
    val nd = SimHash.nearDuplicates(fp, nBits = 16, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(nd.exists(t => t._1 == 1L && t._2 == 2L && t._3 == 0))
  }

  test("simhash64 packs to a decimal") {
    val out = SimHash.simhash64(docs, "doc_id", "text").collect()
    assert(out.length === 3)
    assert(out.forall(_.get(1) != null))
  }

  test("winnow fingerprints: stable count, zero for too-short docs") {
    val d = Seq((1L, "a b c d e f g h"), (2L, "a b")).toDF("doc_id", "text")
    val out = TextQuality.winnowFingerprintCounts(d, "doc_id", "text", k = 3, w = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) > 0)
    assert(out(2L) === 0L) // 2 tokens < k=3 shingle size
  }

  test("rolling winnow: deterministic, shared-run docs share a fingerprint") {
    import spark.implicits._
    val shared = (1 to 20).map(i => s"tok$i").mkString(" ")
    val d = Seq(
      (1L, s"alpha beta $shared gamma"),
      (2L, s"$shared totally different tail here"),
      (3L, "nothing in common with the others at all")
    ).toDF("doc_id", "text")
    val fp = TextQuality.winnowFingerprintsRolling(d, "doc_id", "text", k = 3, w = 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert((fp(1L) intersect fp(2L)).nonEmpty) // winnowing guarantee
    assert((fp(1L) intersect fp(3L)).isEmpty)
    val again = TextQuality.winnowFingerprintsRolling(d, "doc_id", "text", k = 3, w = 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(fp === again)
    // too-short docs: empty fingerprint set, not null
    val short = TextQuality.winnowFingerprintsRolling(
      Seq((9L, "a b")).toDF("doc_id", "text"), "doc_id", "text", 3, 4)
      .collect().head.getSeq[Long](1)
    assert(short.isEmpty)
  }

  test("rolling winnow matches a brute-force reference on random docs") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val docs = (1L to 30L).map { id =>
      (id, (0 until 5 + rng.nextInt(40)).map(_ => s"w${rng.nextInt(12)}").mkString(" "))
    }.toDF("doc_id", "text")
    val k = 3; val w = 4
    val got = TextQuality.winnowFingerprintsRolling(docs, "doc_id", "text", k, w)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    // brute force: same rolling polynomial, explicit window mins
    def tokHash(s: String): Long = {
      val bytes = s.getBytes("UTF-8")
      org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, bytes.length, 7L)
    }
    val B = 0x100000001b3L
    docs.collect().foreach { r =>
      val id = r.getLong(0)
      val toks = r.getString(1).split(" ")
      val sh = toks.sliding(k).filter(_.length == k)
        .map(win => win.map(tokHash).foldLeft(0L)((acc, h) => acc * B + h)).toArray
      val expect = sh.sliding(w).filter(_.length == w).map(_.min).toSet
      assert(got(id) === expect, s"doc $id")
    }
  }

  test("repetition signals: crafted docs with exact fractions") {
    import spark.implicits._
    val docs = Seq(
      // 4 lines, "a b" repeats twice more; lines "x" duplicated once
      (1L, "x\nx\na b a b a b\ny"),
      // no repetition at all
      (2L, "all tokens here differ fully"),
      // heavy 5-gram duplication: the same 6-token run twice
      (3L, "p q r s t u p q r s t u")
    ).toDF("doc_id", "text")
    val got = graft.operators.TextQuality.repetitionSignals(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap

    val d1 = got(1L)
    assert(d1.getDouble(d1.fieldIndex("dup_line_frac")) === 0.25)       // 1 of 4 lines
    // line chars: x,x,"a b a b a b"(11),y → total 14, dup 1
    assert(d1.getDouble(d1.fieldIndex("dup_line_char_frac")) === math.rint(1.0 / 14 * 1e6) / 1e6)
    val d2 = got(2L)
    assert((2 to 10).forall { n =>
      val c = if (n <= 4) s"top${n}gram_char_frac" else s"dup${n}gram_char_frac"
      n <= 4 || d2.getDouble(d2.fieldIndex(c)) === 0.0
    })
    val d3 = got(3L)
    // "p q r s t u" appears twice as a 6-gram; 5-grams: 8 windows, the
    // 2x-duplicated ones are "p q r s t" and "q r s t u" (2 occurrences
    // each, len 9): dup5 chars = 4*9 = 36 over 23 chars
    assert(d3.getDouble(d3.fieldIndex("dup5gram_char_frac")) === math.rint(36.0 / 23 * 1e6) / 1e6)
  }

  test("repetition signals count code points, not UTF-16 units") {
    import spark.implicits._
    // astral-plane doc: three identical two-emoji tokens. Code points: 8
    // (6 emoji + 2 spaces); UTF-16 units would be 14. Both 2-gram windows
    // are "😀😀 😀😀" (count 2, 5 code points): top2 = 2*5/8 = 1.25 —
    // UTF-16 accounting would give 2*8/14 ≈ 1.143, so this pins the
    // DuckDB/length() code-point contract.
    val docs = Seq((1L, "😀😀 😀😀 😀😀")).toDF("doc_id", "text")
    val r = graft.operators.TextQuality.repetitionSignals(docs, "doc_id", "text")
      .collect().head
    assert(r.getDouble(r.fieldIndex("top2gram_char_frac")) === 1.25)
  }

  test("c4 line filters: crafted doc with known fractions") {
    import spark.implicits._
    val docs = Seq(
      (1L, "A full sentence here.\n- bullet one\nshort\nAnother sentence!\n{ code } lorem ipsum text")
    ).toDF("doc_id", "text")
    val r = graft.operators.TextQuality.c4LineFilters(docs, "doc_id", "text").collect().head
    assert(r.getAs[Long]("n_lines") === 5L)
    assert(r.getAs[Double]("frac_lines_terminal_punct") === 0.4) // 2 of 5
    assert(r.getAs[Double]("frac_lines_bullet") === 0.2)
    assert(r.getAs[Double]("frac_short_lines") === 0.4) // "short", "Another sentence!"
    assert(r.getAs[Boolean]("has_lorem_ipsum"))
    assert(r.getAs[Boolean]("has_curly_brace"))
  }

  test("c4 clean keeps terminal-punct lines and drops lorem-ipsum docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "A good long sentence right here.\nshort.\nno punct at all here\nAnother truly fine long sentence!"),
      (2L, "contains lorem ipsum filler and a fine long sentence."),
      (3L, "function() { return js; }.")
    ).toDF("doc_id", "text")
    val got = graft.operators.TextQuality.c4Clean(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    // doc 1: two qualifying lines survive; "short." (<5 words) and the
    // punctless line are dropped
    assert(got(1L) ===
      (("A good long sentence right here.\nAnother truly fine long sentence!", 2L)))
    assert(!got.contains(2L)) // lorem ipsum ⇒ whole doc dropped
    assert(!got.contains(3L)) // curly brace line dropped ⇒ no lines left
  }

  test("gopher filter gates each rule independently") {
    import spark.implicits._
    val longOk = (1 to 60).map(i => s"the word${i}").mkString(" ") // 120 words, stopwords, varied
    val docs = Seq(
      (1L, longOk),                                    // passes everything
      (2L, "too short to pass"),                       // < 50 words AND top-gram gate
      (3L, (1 to 30).map(_ => "the spam spam").mkString(" ")), // repetition gates
      (4L, (1 to 15).map(i => s"the tok$i").mkString(" "))     // clean but 30 words
    ).toDF("doc_id", "text")
    val got = graft.operators.TextQuality.gopherFilter(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getBoolean(r.fieldIndex("keep"))).toMap
    assert(got === Map(1L -> true, 2L -> false, 3L -> false, 4L -> false))
    // loosening the word-count floor admits the clean-but-short doc; the
    // 4-word doc still fails (its count-1 top bigram alone is >20% of its
    // chars — tiny docs trip the repetition gates, which is why Gopher
    // pairs them with a word-count floor), as does the spam doc
    val loose = graft.operators.TextQuality.gopherFilter(docs, "doc_id", "text",
        minWords = 1L)
      .collect().map(r => r.getLong(0) -> r.getBoolean(r.fieldIndex("keep"))).toMap
    assert(loose === Map(1L -> true, 2L -> false, 3L -> false, 4L -> true))
  }

  test("quality score stays in [0,1]") {
    val q = TextQuality.qualityScore(
      TextQuality.qualityFeatures(docs, "doc_id", "text")).select("quality")
      .collect().map(_.getDouble(0))
    assert(q.forall(v => v >= 0.0 && v <= 1.0))
  }

  test("duplicate span stats count cross-doc k-token windows") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b c d e f"),   // 2-token windows: ab bc cd de ef
      (2L, "x y c d z"),     // xy yc cd dz — shares "c d" with doc 1
      (3L, "q")              // shorter than k → no spans, absent
    ).toDF("doc_id", "text")
    val got = graft.operators.Dedup.duplicateSpanStats(d, "doc_id", "text", k = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === Map(1L -> ((5L, 1L)), 2L -> ((4L, 1L))))
    // hashed production path agrees with the raw-string path
    val raw = graft.operators.Dedup.duplicateSpanStats(d, "doc_id", "text", k = 2,
      hash = c => c).collect().map(_.toSeq).toSet
    val hashed = graft.operators.Dedup.duplicateSpanStats(d, "doc_id", "text", k = 2)
      .collect().map(_.toSeq).toSet
    assert(raw === hashed)
  }

  test("span removal keeps exactly the first occurrence of duplicated spans") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b c d e"),    // first occurrence of "a b c" — untouched
      (2L, "x a b c y"),    // "a b c" covers tokens 1..3 → "x y"
      (3L, "p q p q p q")   // self-repeat: dup 2-grams cover tokens 2..5
    ).toDF("doc_id", "text")
    val k3 = graft.operators.Dedup.removeDuplicateSpans(d.where($"doc_id" <= 2), "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(k3(1L) === (("a b c d e", 5L, 5L)))
    assert(k3(2L) === (("x y", 5L, 2L)))
    val k2 = graft.operators.Dedup.removeDuplicateSpans(d.where($"doc_id" === 3), "doc_id", "text", k = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(k2(3L) === "p q")
  }

  test("span decontamination cuts benchmark spans, keeps surrounding text") {
    import spark.implicits._
    val bench = Seq((100L, "the capital of france is paris")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "quiz answer the capital of france is paris obviously"), // quoted
      (2L, "nothing shared with any benchmark here"),               // clean
      (3L, "the capital of france")                                 // fully quoted (< its own span? no: 4 toks, k=3 → 2 spans, both in bench)
    ).toDF("doc_id", "text")
    val got = graft.operators.Dedup.removeContaminatedSpans(
        train, "doc_id", "text", bench, "text", k = 3, hash = c => c)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // spans "the capital of" … "france is paris" cover tokens 2..8
    assert(got(1L) === (("quiz answer obviously", 9L, 3L)))
    assert(got(2L) === (("nothing shared with any benchmark here", 6L, 6L)))
    assert(got(3L) === (("", 4L, 0L)))
    // hashed production path is result-identical to the raw-string path
    val hashed = graft.operators.Dedup.removeContaminatedSpans(
        train, "doc_id", "text", bench, "text", k = 3)
      .collect().map(_.toSeq).toSet
    val raw = got.map { case (id, (t, n, nk)) => Seq(id, t, n, nk) }.toSet
    assert(hashed === raw)
  }

  test("span decontamination kernel == identity-hash join path on random unicode corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(31337)
    // vocabulary spanning ASCII, BMP accents, CJK, and supplementary-plane
    // emoji — the kernel builds UTF8String spans byte-for-byte like the
    // exploded formulation, and this is where byte-level bugs would hide
    val vocab = Vector("alpha", "beta", "käse", "señor", "日本", "語",
      "😀", "🤖", "mid­dle", "x")
    for (trial <- 0 until 3) {
      val k = 2 + trial
      def doc(len: Int): String =
        (0 until len).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
      val bench = (0 until 6).map(i => (i.toLong, doc(4 + rnd.nextInt(6))))
        .toDF("doc_id", "text")
      val train = (100 until 160).map { i =>
        // half the docs quote a benchmark fragment mid-document
        val t = if (i % 2 == 0) doc(8)
        else doc(3) + " " + bench.collect()(rnd.nextInt(6)).getString(1) +
          " " + doc(3)
        (i.toLong, t)
      }.toDF("doc_id", "text")
      val kernel = graft.operators.Dedup.removeContaminatedSpans(
          train, "doc_id", "text", bench, "text", k)
        .collect().map(r => r.getLong(0) ->
          ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
      val joined = graft.operators.Dedup.removeContaminatedSpans(
          train, "doc_id", "text", bench, "text", k, hash = c => c)
        .collect().map(r => r.getLong(0) ->
          ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
      assert(kernel === joined, s"trial $trial k=$k")
      assert(kernel.exists { case (_, (t, n, nk)) => nk < n },
        s"trial $trial produced no removals — fixture broken")
    }
  }

  test("CoveredSpanRemove kernel hash == SQL xxhash64 of the joined span (parity)") {
    import spark.implicits._
    // the kernel hashes UTF8String.concatWs(...) with XXH64 seed 42; the
    // benchmark side hashes the exploded ngram STRING with SQL xxhash64 —
    // these must agree byte for byte or the inline probe silently misses
    val rnd = new scala.util.Random(99)
    val strings = (0 until 200).map(_ =>
      (0 until (1 + rnd.nextInt(6))).map(_ =>
        rnd.alphanumeric.take(1 + rnd.nextInt(8)).mkString).mkString(" ")) :+
      "héllo wörld ünïcode" :+ ""
    val sqlSide = strings.toDF("s")
      .select(xxhash64(col("s"))).collect().map(_.getLong(0))
    val kernelSide = strings.map(s =>
      org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(
        org.apache.spark.unsafe.types.UTF8String.fromString(s), 42L))
    assert(sqlSide.toSeq === kernelSide)
  }

  test("span removal matches a brute-force reference on random docs") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val k = 2
    val raw = (1L to 12L).map(i =>
      (i, Seq.fill(1 + rng.nextInt(12))("w" + rng.nextInt(4)).mkString(" ")))
    // brute force: scan docs in (id, offset) order, first occurrence of a
    // k-window marks it seen; later occurrences cover their tokens
    val seen = scala.collection.mutable.Set[String]()
    val expected = raw.map { case (id, text) =>
      val toks = text.split(" ", -1)
      val dupStarts = (0 to toks.length - k).filter { i =>
        val s = toks.slice(i, i + k).mkString(" ")
        if (seen.contains(s)) true else { seen += s; false }
      }
      val covered = dupStarts.flatMap(s => s until s + k).toSet
      val kept = toks.zipWithIndex.collect { case (t, i) if !covered.contains(i) => t }
      id -> kept.mkString(" ")
    }.toMap
    val got = graft.operators.Dedup.removeDuplicateSpans(
        raw.toDF("doc_id", "text"), "doc_id", "text", k)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === expected)
  }

  test("span stats and contamination match brute-force references on random docs") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val k = 3
    val raw = (1L to 20L).map(i =>
      (i, Seq.fill(3 + rng.nextInt(15))("w" + rng.nextInt(5)).mkString(" ")))
    val docs = raw.toDF("doc_id", "text")
    def winsOf(text: String): Seq[String] =
      text.split(" ", -1).sliding(k).filter(_.length == k).map(_.mkString(" ")).toSeq
    // duplicateSpanStats: per doc, windows whose content occurs in ≥2 docs
    val byDoc = raw.map { case (id, t) => id -> winsOf(t) }
    val docsPerSpan = byDoc.flatMap { case (id, ws) => ws.distinct.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
    val expStats = byDoc.collect { case (id, ws) if ws.nonEmpty =>
      id -> ((ws.size.toLong, ws.count(w => docsPerSpan(w) > 1).toLong))
    }.toMap
    val gotStats = graft.operators.Dedup.duplicateSpanStats(docs, "doc_id", "text", k)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(gotStats === expStats)
    // ngramContamination: test split % 4 == 0 vs the rest as train
    val testIds = raw.filter(_._1 % 4 == 0)
    val trainSpans = raw.filter(_._1 % 4 != 0).flatMap(r => winsOf(r._2)).toSet
    val expCont = testIds.collect { case (id, t) if winsOf(t).nonEmpty =>
      val distinctW = winsOf(t).distinct
      id -> ((distinctW.size.toLong, distinctW.count(trainSpans.contains).toLong))
    }.toMap
    val gotCont = graft.operators.Dedup.ngramContamination(
        docs.where($"doc_id" % 4 =!= 0), "text",
        docs.where($"doc_id" % 4 === 0), "doc_id", "text", n = k)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(gotCont === expCont)
  }

  test("span operators accept the UAX-29 tokenizer") {
    import spark.implicits._
    // whitespace split sees "end." / "end" as different tokens; UAX-29
    // separates the period so the 2-gram "the end" is shared
    val d = Seq((1L, "here is the end."), (2L, "near the end again")).toDF("doc_id", "text")
    val ws = graft.operators.Dedup.duplicateSpanStats(d, "doc_id", "text", k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(ws.values.forall(_ === 0L))
    val ux = graft.operators.Dedup.duplicateSpanStats(d, "doc_id", "text", k = 2,
        uax29 = true)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(ux(1L) === 1L && ux(2L) === 1L)
  }

  test("token-block unit dedup keeps first occurrences") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b c d"),       // blocks(b=2): "a b", "c d"
      (2L, "c d a b e"),     // blocks: "c d", "a b", "e" — both dups of doc 1
      (3L, "e f")            // "e f" ≠ "e": unique
    ).toDF("doc_id", "text")
    val units = graft.operators.Dedup.tokenBlocks(d, "doc_id", "text", b = 2)
    assert(units.where($"id" === 2L).orderBy("idx").collect().map(_.getString(2)).toSeq
      === Seq("c d", "a b", "e"))
    val got = graft.operators.Dedup.unitDedupStats(units)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === Map(1L -> ((2L, 0L)), 2L -> ((3L, 2L)), 3L -> ((1L, 0L))))
  }

  test("bloom decontamination drops all contaminated docs, maybe more") {
    import spark.implicits._
    val a = Seq("bench one", "bench two", "bench three").toDF("text")
    val b = (1L to 50L).map(i => (i, s"clean doc $i")).toSeq
      .++(Seq((98L, "bench one"), (99L, "bench three"))).toDF("doc_id", "text")
    val keptApprox = graft.operators.Dedup.decontaminateApprox(
        b, md5(col("text")), a, md5(col("text")), expectedItems = 10L, fpp = 0.001)
      .collect().map(_.getLong(0)).toSet
    val keptExact = graft.operators.Dedup.decontaminate(
        b, md5(col("text")), a, md5(col("text")))
      .collect().map(_.getLong(0)).toSet
    assert(!keptApprox.contains(98L) && !keptApprox.contains(99L)) // no false negatives
    assert(keptApprox.subsetOf(keptExact)) // FPs only ever drop extra
    // NULL keys survive (same policy as the udf the codegen probe replaced)
    val withNull = b.union(Seq((100L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val keptNull = graft.operators.Dedup.decontaminateApprox(
        withNull, md5(col("text")), a, md5(col("text")), 10L, 0.001)
      .collect().map(_.getLong(0)).toSet
    assert(keptNull.contains(100L))
    // the probe is a codegen expression, not a ScalaUDF black box — the
    // whole filter fuses into the scan stage (a file-backed frame: local
    // relations constant-fold the filter away before it reaches the plan)
    val tmp = java.nio.file.Files.createTempDirectory("bloomplan").toString
    b.write.mode("overwrite").parquet(tmp)
    val plan = graft.operators.Dedup.decontaminateApprox(
        spark.read.parquet(tmp), md5(col("text")), a, md5(col("text")), 10L, 0.001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"), plan)
    assert(plan.contains("graft_bloom_might_contain"), plan)
    // "*(1) Filter" = the filter landed inside whole-stage-codegen span 1
    assert(plan.contains("*(1) Filter"), plan)
  }

  test("broadcast-hash decontamination matches the exact anti join; nulls kept; cap fails fast") {
    import spark.implicits._
    val a = Seq("bench one", "bench two", "bench three").toDF("text")
    val b = (1L to 50L).map(i => (i, s"clean doc $i")).toSeq
      .++(Seq((98L, "bench one"), (99L, "bench three"))).toDF("doc_id", "text")
    val keptBc = graft.operators.Dedup.decontaminateBroadcast(
        b, xxhash64(col("text")), a, xxhash64(col("text")))
      .collect().map(_.getLong(0)).toSet
    val keptExact = graft.operators.Dedup.decontaminate(
        b, xxhash64(col("text")), a, xxhash64(col("text")))
      .collect().map(_.getLong(0)).toSet
    assert(keptBc === keptExact) // exact on the 64-bit key, no Bloom slack
    assert(!keptBc.contains(98L) && !keptBc.contains(99L))
    // NULL keys survive (the decontaminate-family policy)
    val withNull = b.union(Seq((100L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    assert(graft.operators.Dedup.decontaminateBroadcast(
        withNull, xxhash64(col("text")), a, xxhash64(col("text")))
      .collect().map(_.getLong(0)).toSet.contains(100L))
    // a NULL key on the BLOCKLIST side is ignored (the anti join never
    // matched it), not an NPE in the gather (review finding). xxhash64
    // folds NULL input to the seed, so force a genuinely null key column
    val aNull = a.union(Seq(null.asInstanceOf[String]).toDF("text"))
    def nullableKey(c: org.apache.spark.sql.Column) =
      when(c.isNotNull, xxhash64(c))
    assert(graft.operators.Dedup.decontaminateBroadcast(
        b, nullableKey(col("text")), aNull, nullableKey(col("text")))
      .collect().map(_.getLong(0)).toSet === keptExact)
    // a blocklist over the cap refuses BEFORE gathering anything
    val e = intercept[RuntimeException] {
      graft.operators.Dedup.decontaminateBroadcast(
        b, xxhash64(col("text")), b, xxhash64(col("text")), maxKeys = 3)
    }
    assert(e.getMessage.contains("blocklist exceeds"), e.getMessage)
  }

  test("ngram contamination scores test docs against a train corpus") {
    import spark.implicits._
    val train = Seq((10L, "a b c d e")).toDF("doc_id", "text")
    val test = Seq(
      (1L, "a b c x"),   // distinct 2-grams: ab bc cx → 2 of 3 in train
      (2L, "z z z")      // zz (distinct) → 0 of 1
    ).toDF("doc_id", "text")
    val got = graft.operators.Dedup.ngramContamination(
        train, "text", test, "doc_id", "text", n = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === Map(1L -> ((3L, 2L)), 2L -> ((1L, 0L))))
    // raw-string and hashed paths agree
    val raw = graft.operators.Dedup.ngramContamination(
      train, "text", test, "doc_id", "text", n = 2, hash = c => c)
      .collect().map(_.toSeq).toSet
    assert(raw === graft.operators.Dedup.ngramContamination(
      train, "text", test, "doc_id", "text", n = 2).collect().map(_.toSeq).toSet)
  }

  test("zipf slope is exact on a constructed power law") {
    import spark.implicits._
    // counts 8,4,2,1 at ranks 1..4: ln c = ln 8 - ln 2 * log2 r only for
    // r ∈ {1,2,4}; rank 3 (count 2) deviates — compute expected slope
    // directly from the closed-form least squares over the 4 points
    val words = Seq.fill(8)("w1") ++ Seq.fill(4)("w2") ++ Seq.fill(2)("w3") ++ Seq("w4")
    val docs = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
    val r = graft.operators.NgramOps.zipfStats(docs, "text").collect().head
    assert(r.getLong(0) === 4L)
    val xs = Seq(1.0, 2.0, 3.0, 4.0).map(math.log)
    val ys = Seq(8.0, 4.0, 2.0, 1.0).map(math.log)
    val mx = xs.sum / 4; val my = ys.sum / 4
    val slope = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum /
      xs.map(x => (x - mx) * (x - mx)).sum
    assert(math.abs(r.getDouble(1) - slope) < 1e-6)
  }

  test("unigram log-prob matches hand computation") {
    import spark.implicits._
    // corpus: tokens a a a b — p(a)=3/4, p(b)=1/4
    val d = Seq((1L, "a a a"), (2L, "b")).toDF("doc_id", "text")
    val got = graft.operators.TextQuality.unigramLogProb(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got(1L)._1 === 3L)
    assert(math.abs(got(1L)._2 - math.log(0.75)) < 1e-6)
    assert(math.abs(got(2L)._2 - math.log(0.25)) < 1e-6)
    // scoring corpus B under corpus A's model: OOV tokens are dropped
    val lm = graft.operators.TextQuality.unigramCounts(d, "text")
    val b = Seq((9L, "a zzz")).toDF("doc_id", "text")
    val under = graft.operators.TextQuality.unigramLogProb(b, "doc_id", "text", Some(lm))
      .collect().head
    assert(under.getLong(1) === 1L) // only "a" is in-vocab
  }

  test("connected components fall back to star contraction past maxIter") {
    import spark.implicits._
    // a 30-node chain needs ~29 min-propagation rounds; with maxIter=3 the
    // propagation loop cannot converge and must delegate to the star
    // variant instead of returning under-merged labels
    val pairs = (1L until 30L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // maxLocalEdges = 0 disables the driver union-find gate so the
    // distributed propagation loop (and its non-convergence fallback) runs
    val cc = graft.operators.Dedup.connectedComponents(pairs, maxIter = 3,
        maxLocalEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.size === 30)
    assert(cc.values.forall(_ == 1L))
  }

  test("local union-find CC agrees with the distributed path (long and string ids)") {
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    for (_ <- 0 until 3) {
      val edges = Seq.fill(40)((rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
        .toDF("id_a", "id_b")
      val local = graft.operators.Dedup.connectedComponents(edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val dist = graft.operators.Dedup.connectedComponents(edges,
          maxLocalEdges = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(local === dist)
    }
    val spairs = Seq(("b", "a"), ("c", "b"), ("z", "y")).toDF("id_a", "id_b")
    val slocal = graft.operators.Dedup.connectedComponents(spairs)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val sdist = graft.operators.Dedup.connectedComponents(spairs,
        maxLocalEdges = 0L)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(slocal === sdist)
    assert(slocal === Map("a" -> "a", "b" -> "a", "c" -> "a", "y" -> "y", "z" -> "y"))
    // SUPPLEMENTARY-PLANE ids: UTF-16 code-unit order (java String <)
    // and UTF-8 binary order (Spark least/min) DISAGREE here — both
    // paths must elect the same (binary-order) representative
    val hi = "𐀀-doc" // U+10000: smaller in UTF-16, larger in UTF-8
    val lo = "￿-doc"       // U+FFFF: larger in UTF-16, smaller in UTF-8
    val upairs = Seq((hi, lo)).toDF("id_a", "id_b")
    val ulocal = graft.operators.Dedup.connectedComponents(upairs)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val udist = graft.operators.Dedup.connectedComponents(upairs,
        maxLocalEdges = 0L)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(ulocal === udist)
    assert(ulocal(hi) === lo && ulocal(lo) === lo) // UTF-8 binary min wins
  }

  test("lshCandidates with maxBucket = Int.MaxValue means effectively unbounded") {
    // + 1 must not wrap negative into BoundedCollectSet's require
    val cand = MinHash.lshCandidates(docs, "doc_id", "text", w = 3, k = 8,
        bands = 4, maxBucket = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.contains((1L, 2L)))
  }

  test("connected components label every member with the cluster min id") {
    import spark.implicits._
    // two clusters {1,2,3,9} (chain 9-3-2-1) and {5,7}, plus untouched 6
    val pairs = Seq((2L, 1L), (3L, 2L), (9L, 3L), (5L, 7L)).toDF("id_a", "id_b")
    val cc = graft.operators.Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L, 5L -> 5L, 7L -> 5L))
    val docs = Seq(1L, 2L, 3L, 5L, 6L, 7L, 9L).toDF("doc_id")
    val kept = graft.operators.Dedup.keepClusterRepresentative(docs, "doc_id", pairs)
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 5L, 6L))
    // empty pair list: nothing to cluster, everything survives
    val none = pairs.where(lit(false))
    assert(graft.operators.Dedup.connectedComponents(none).count() === 0)
    assert(graft.operators.Dedup.keepClusterRepresentative(docs, "doc_id", none)
      .count() === docs.count())
  }

  test("connected components on STRING ids (UUID corpora) — no silent long-cast null-out") {
    import spark.implicits._
    val pairs = Seq(("doc-b", "doc-a"), ("doc-c", "doc-b"), ("x9", "x7"))
      .toDF("id_a", "id_b")
    val cc = graft.operators.Dedup.connectedComponents(pairs)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(cc === Map("doc-a" -> "doc-a", "doc-b" -> "doc-a",
      "doc-c" -> "doc-a", "x7" -> "x7", "x9" -> "x7"))
    // and end to end: string-keyed cluster dedup actually DROPS duplicates
    val docs = Seq("doc-a", "doc-b", "doc-c", "x7", "x9", "lone").toDF("doc_id")
    val kept = graft.operators.Dedup.keepClusterRepresentative(docs, "doc_id", pairs)
      .collect().map(_.getString(0)).toSet
    assert(kept === Set("doc-a", "x7", "lone"))
    // star variant agrees
    val star = graft.operators.Dedup.connectedComponentsStar(pairs)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(star === cc)
  }

  test("keepBestInCluster retains the argmax-score member, ties to lower id") {
    import spark.implicits._
    // clusters {1,2,3,9} and {5,7}; 6 untouched
    val pairs = Seq((2L, 1L), (3L, 2L), (9L, 3L), (5L, 7L)).toDF("id_a", "id_b")
    val docs = Seq(
      (1L, 10), (2L, 40), (3L, 40), (5L, 3), (6L, 1), (7L, 8), (9L, 2)
    ).toDF("doc_id", "quality")
    val kept = graft.operators.Dedup.keepBestInCluster(docs, "doc_id", pairs,
        col("quality"))
      .collect().map(_.getLong(0)).toSet
    // cluster 1: max quality 40 shared by 2 and 3 -> lower id 2 wins;
    // cluster 2: 7 (8 > 3); singleton 6 survives
    assert(kept === Set(2L, 7L, 6L))
    // empty pair list: everything survives with columns intact
    val none = pairs.where(lit(false))
    assert(graft.operators.Dedup.keepBestInCluster(docs, "doc_id", none,
      col("quality")).count() === docs.count())
  }

  test("star-contraction components agree with min-propagation (random + chains)") {
    import spark.implicits._
    def cc(pairs: org.apache.spark.sql.DataFrame) =
      graft.operators.Dedup.connectedComponents(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ccStar(pairs: org.apache.spark.sql.DataFrame) =
      graft.operators.Dedup.connectedComponentsStar(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // a 30-node chain (adversarial diameter for propagation, trivial for star)
    val chain = (0L until 29L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val chainGot = ccStar(chain)
    assert(chainGot.size === 30 && chainGot.values.forall(_ === 0L))
    // random sparse graphs
    val rnd = new scala.util.Random(17)
    for (_ <- 0 until 3) {
      val edges = Seq.fill(25)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
        .filter { case (a, b) => a != b }
      val pairs = edges.toDF("id_a", "id_b")
      assert(ccStar(pairs) === cc(pairs))
    }
    // empty
    assert(ccStar(chain.where(lit(false))).isEmpty)
  }

  test("hashSplit is deterministic and exhaustive") {
    val out = Dedup.hashSplit(docs, col("text")).select("split").collect().map(_.getString(0))
    assert(out.forall(Set("train", "valid", "test")))
    val again = Dedup.hashSplit(docs, col("text")).select("split").collect().map(_.getString(0))
    assert(out.toSeq === again.toSeq)
  }

  test("inline simhash is bit-identical to the explode+sum path") {
    // a fresh lambda with md5HexBit's body is not `eq` the standard one,
    // so it exercises the explode+sum fallback — outputs must agree
    val fallbackBit: SimHash.BitFn = (c, j) =>
      when(substring(md5(c), j + 1, 1).isin("8", "9", "a", "b", "c", "d", "e", "f"), 1L)
        .otherwise(-1L)
    val inline = SimHash.simhashBitString(docs, "doc_id", "text", 16, SimHash.md5HexBit)
      .orderBy("id").collect().map(_.toSeq).toSeq
    val grouped = SimHash.simhashBitString(docs, "doc_id", "text", 16, fallbackBit)
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(inline === grouped)
  }

  test("inline md5 signatures are bit-identical to the explode+groupBy path") {
    val inline = MinHash.signaturesInline(docs, "doc_id", "text", w = 3, k = 8,
      md5Parity = true).orderBy("id").collect()
    val grouped = MinHash.signatures(
      MinHash.shingleSets(docs, "doc_id", "text", 3), 8, MinHash.md5Strategy)
      .orderBy("id").collect()
    assert(inline.map(_.toSeq).toSeq === grouped.map(_.toSeq).toSeq)
  }

  test("inline xxhash signatures: deterministic, long-typed, null for short docs") {
    val short = spark.createDataFrame(Seq((1L, "a b"))).toDF("doc_id", "text")
    assert(MinHash.signaturesInline(short, "doc_id", "text", w = 5, k = 4,
      md5Parity = false).count() === 0)
    val a = MinHash.signaturesInline(docs, "doc_id", "text", 3, 4, md5Parity = false)
      .orderBy("id").collect().map(_.toSeq).toSeq
    val b = MinHash.signaturesInline(docs, "doc_id", "text", 3, 4, md5Parity = false)
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(a === b)
    assert(a.head.drop(1).forall(_.isInstanceOf[Long]))
  }

  test("incremental dedup: snapshots dedup against persisted hash state") {
    val dir = java.nio.file.Files.createTempDirectory("graft-state")
      .toFile.getAbsolutePath + "/state"
    val key = md5(col("text"))
    val b1 = Seq((1L, "a b c"), (2L, "d e f"), (3L, "a b c")).toDF("id", "text")
    val s1 = Dedup.ingestIncremental(b1, key, Seq(col("id")), dir)
    assert(s1.select("id").as[Long].collect().toSet === Set(1L, 2L))
    // next snapshot: 4 duplicates batch-1 state, 6 duplicates 5 in-batch
    val b2 = Seq((4L, "a b c"), (5L, "g h i"), (6L, "g h i")).toDF("id", "text")
    val s2 = Dedup.ingestIncremental(b2, key, Seq(col("id")), dir)
    assert(s2.select("id").as[Long].collect().toSet === Set(5L))
    // the state is read under its known schema: planning runs no job
    val group = "dedup-incremental-plan"
    spark.sparkContext.setJobGroup(group, group)
    try Dedup.dedupIncremental(b2, key, Seq(col("id")), dir)
    finally spark.sparkContext.clearJobGroup()
    org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
    assert(spark.sparkContext.statusTracker.getJobIdsForGroup(group).isEmpty)
    // replaying an already-ingested snapshot is a no-op
    assert(Dedup.ingestIncremental(b2, key, Seq(col("id")), dir).count() === 0L)
    // state holds exactly the distinct ingested hashes
    assert(spark.read.parquet(dir).distinct().count() === 3L)
  }

  test("ingestIncrementalTo: durable output lands before the state extends") {
    val root = java.nio.file.Files.createTempDirectory("graft-ingest")
      .toFile.getAbsolutePath
    val (dir, out1, out2) = (root + "/state", root + "/out1", root + "/out2")
    val key = md5(col("text"))
    val b1 = Seq((1L, "a b c"), (2L, "d e f"), (3L, "a b c")).toDF("id", "text")
    val s1 = Dedup.ingestIncrementalTo(b1, key, Seq(col("id")), dir, out1)
    assert(s1.select("id").as[Long].collect().toSet === Set(1L, 2L))
    // the survivors are durable files, not executor blocks
    assert(spark.read.parquet(out1).count() === 2L)
    // a crash-retry of the SECOND snapshot: simulate by running the cycle
    // twice with the same outPath — the rerun sees state already extended
    // and yields an empty (but consistent) output, never silent key loss
    val b2 = Seq((4L, "a b c"), (5L, "g h i")).toDF("id", "text")
    assert(Dedup.ingestIncrementalTo(b2, key, Seq(col("id")), dir, out2)
      .select("id").as[Long].collect().toSet === Set(5L))
    assert(Dedup.ingestIncrementalTo(b2, key, Seq(col("id")), dir, out2).count() === 0L)
    assert(spark.read.parquet(dir).distinct().count() === 3L)
  }

  test("corpusDiff: added/removed/changed/unchanged, by-columns from the right side") {
    import graft.operators.CorpusDiff
    val old = Seq((1L, "a", "s1"), (2L, "b", "s1"), (3L, "c", "s2"))
      .toDF("doc_id", "text", "source")
    val nw = Seq((2L, "b", "s1"), (3L, "c2", "s2"), (4L, "d", "s3"))
      .toDF("doc_id", "text", "source")
    val st = CorpusDiff.diffDocs(old, nw, "doc_id", "text", by = Seq("source"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(st === Map(
      1L -> (("removed", "s1")),   // source from the OLD side
      2L -> (("unchanged", "s1")),
      3L -> (("changed", "s2")),
      4L -> (("added", "s3"))))    // source from the NEW side
    val sum = CorpusDiff.diffSummary(old, nw, "doc_id", "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sum === Map("added" -> 1L, "removed" -> 1L, "changed" -> 1L,
      "unchanged" -> 1L))
  }

  test("incrementalRefresh: reprocesses only added+changed, carries unchanged, drops removed") {
    val old = Seq((1L, "a b"), (2L, "b c d"), (3L, "c"))
      .toDF("doc_id", "text")
    val nw = Seq((2L, "b c d"), (3L, "c2 x"), (4L, "d e f g"))
      .toDF("doc_id", "text")
    def stage(tag: String)(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        lit(tag).as("run"))
    val out = graft.Pipeline.incrementalRefresh(old, nw, stage("old")(old),
        "doc_id", "text")(stage("fresh"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(out === Map(
      2L -> ((3L, "old")),    // unchanged: carried, NOT reprocessed
      3L -> ((2L, "fresh")),  // changed: fresh output on the new text
      4L -> ((4L, "fresh")))) // added
    // content parity with a full reprocess (modulo the run tag)
    val full = stage("x")(nw).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.view.mapValues(_._1).toMap === full)
  }

  test("semanticNearDuplicates: degenerate bucket is capped into an exact-dup class") {
    import graft.operators.Similarity
    // ids ≡ 0 mod 4 are centroids; ids 0-9 share one vector → they all
    // land in bucket 0 (10 members), ids 12/13 form a healthy 2-bucket
    val data = ((0L to 9L).map(i => (i, Array(1.0f, 0.0f))) ++
      Seq((12L, Array(0.0f, 1.0f)), (13L, Array(0.1f, 1.0f))))
      .toDF("vec_id", "embedding")
    // maxBucket = 4: the 10-member bucket must NOT expand its 45 pairs —
    // it collapses to 9 chain pairs onto its min id, flagged cos = 1.0
    val capped = Similarity.semanticNearDuplicates(data, "vec_id", "embedding",
        threshold = 0.9, step = 4, tables = 1, maxBucket = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val chain = (1L to 9L).map(k => (0L, k)).toSet
    assert(capped.keySet === chain + ((12L, 13L)))
    chain.foreach(p => assert(capped(p) === 1.0, s"overflow pair $p"))
    assert(capped((12L, 13L)) > 0.99 && capped((12L, 13L)) < 1.0)
    // downstream representative-keep collapses the class like a clique
    val kept = Similarity.semanticDedup(data, "vec_id", "embedding",
        threshold = 0.9, step = 4, tables = 1, maxBucket = 4)
      .select("vec_id").as[Long].collect().toSet
    assert(kept === Set(0L, 12L))
    // default maxBucket leaves small-bucket semantics untouched: full clique
    val full = Similarity.semanticNearDuplicates(data, "vec_id", "embedding",
        threshold = 0.9, step = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full.size === 45 + 1)
  }

  test("removeRepeatedSentences: boilerplate cut, order kept, edge rows pass through") {
    import spark.implicits._
    val d = Seq(
      (1L, "Unique opening here. Accept our cookies now! Real content one."),
      (2L, "Accept our cookies now! Real content two. Another real line."),
      (3L, "Accept our cookies now! Totally distinct text."),
      (4L, ""),
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = graft.operators.Dedup.removeRepeatedSentences(d, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // the cookie banner (3 docs) goes; everything else survives in order
    assert(out(0) === ((1L, "Unique opening here. Real content one.", 3L, 2L)))
    assert(out(1) === ((2L, "Real content two. Another real line.", 3L, 2L)))
    assert(out(2) === ((3L, "Totally distinct text.", 2L, 1L)))
    assert(out(3) === ((4L, "", 0L, 0L)))
    assert(out(4) === ((5L, "", 0L, 0L)))
    // maxDf 3 tolerates the banner (df 3 is not > 3)
    val lax = graft.operators.Dedup.removeRepeatedSentences(d, "doc_id", "text",
        maxDf = 3).where(col("doc_id") === 3L).head()
    assert(lax.getString(1) === "Accept our cookies now! Totally distinct text.")
    // a repeat WITHIN one doc only is df 1 — kept
    val intra = Seq((1L, "Same line here. Same line here."), (2L, "Other text."))
      .toDF("doc_id", "text")
    val kept = graft.operators.Dedup.removeRepeatedSentences(intra, "doc_id", "text")
      .where(col("doc_id") === 1L).head().getString(1)
    assert(kept === "Same line here. Same line here.")
  }

  test("removeRepeatedSentences matches an in-memory reference on random corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(2026)
    for (trial <- 0 until 3) {
      // random docs from a small sentence pool => natural cross-doc repeats
      val pool = (0 until 12).map(i => s"Sentence number $i stop.")
      val docs = (1L to 25L).map { id =>
        id -> (0 until 1 + rnd.nextInt(5)).map(_ => pool(rnd.nextInt(pool.size)))
          .mkString(" ")
      }
      val maxDf = 1L + rnd.nextInt(3)
      // independent reference: split on the same boundary rule, count
      // DISTINCT docs per sentence, rebuild
      val split = docs.map { case (id, t) =>
        id -> t.split("(?<=[.!?])\\s+").toSeq.filter(_.nonEmpty)
      }.toMap
      val df_ = split.toSeq.flatMap { case (id, ss) => ss.distinct.map(_ -> id) }
        .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
      val expected = docs.map { case (id, _) =>
        val kept = split(id).filter(s => df_(s) <= maxDf)
        (id, kept.mkString(" "), split(id).size.toLong, kept.size.toLong)
      }.toSet
      val got = graft.operators.Dedup.removeRepeatedSentences(
          docs.toDF("doc_id", "text"), "doc_id", "text", maxDf)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(got === expected, s"trial $trial maxDf $maxDf")
      // and removeSentences agrees given the batch hash set
      val boiler = graft.operators.Dedup.repeatedSentenceHashes(
        docs.toDF("doc_id", "text"), "doc_id", "text", maxDf)
      val streamGot = graft.operators.Dedup.removeSentences(
          docs.toDF("doc_id", "text"), "doc_id", "text", boiler)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(streamGot === expected, s"stream trial $trial")
    }
  }
}
