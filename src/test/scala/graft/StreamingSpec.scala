package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StreamOps
import graft.streaming.StreamOps.Event

class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(min: Long): Timestamp = new Timestamp(min * 60000L)

  test("streaming tumbling counts match the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = StreamOps.tumblingCounts(input.toDF(), "1 hour", "2 hours")
      .writeStream.format("memory").queryName("tumble").outputMode(OutputMode.Complete).start()
    input.addData(
      Event(1, ts(10), 1, "click", 1.0), Event(2, ts(20), 1, "click", 1.0),
      Event(3, ts(70), 2, "view", 1.0))
    q.processAllAvailable()
    val rows = spark.table("tumble").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    q.stop()
    assert(rows === Set(
      ("1970-01-01 00:00:00", "click", 2L),
      ("1970-01-01 01:00:00", "view", 1L)))
  }

  test("sliding windows place each event in overlapping windows") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = StreamOps.slidingCounts(input.toDF(), "1 hour", "30 minutes", "2 hours")
      .writeStream.format("memory").queryName("slide").outputMode(OutputMode.Complete).start()
    input.addData(Event(1, ts(45), 1, "click", 1.0)) // minute 45
    q.processAllAvailable()
    val rows = spark.table("slide").collect()
      .map(r => (r.getString(0), r.getLong(2))).toSet
    q.stop()
    // a 1h window sliding by 30m puts minute 45 in [00:00,01:00) and [00:30,01:30)
    assert(rows === Set(("1970-01-01 00:00:00", 1L), ("1970-01-01 00:30:00", 1L)))
  }

  test("stateful sessionization counts sessions across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = StreamOps.sessionCounts(input.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sessions").outputMode(OutputMode.Update).start()
    input.addData(Event(1, ts(0), 7, "click", 1.0), Event(2, ts(10), 7, "click", 1.0))
    q.processAllAvailable()
    input.addData(Event(3, ts(100), 7, "click", 1.0)) // gap > 30min ⇒ new session
    q.processAllAvailable()
    val last = spark.table("sessions").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).last
    q.stop()
    assert(last === ((7L, 2L, 3L))) // 2 sessions, 3 events, state survived batches
  }

  test("streaming funnel: closed sessions emit their subsequence depth") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = StreamOps.funnelStream(input.toDS(), gapMinutes = 30,
        steps = Seq("view", "click", "purchase"))
      .writeStream.format("memory").queryName("funnel")
      .outputMode(OutputMode.Append).start()
    // session 1 for user 7: view -> error -> click (depth 2, gaps allowed).
    // timestamps sit well above epoch 0: the event-time watermark starts
    // at 0 and rows at-or-before it are dropped as late
    input.addData(Event(1, ts(600), 7, "view", 1.0), Event(2, ts(605), 7, "error", 1.0),
      Event(3, ts(610), 7, "click", 1.0))
    q.processAllAvailable()
    assert(spark.table("funnel").count() === 0) // session still open
    // the >30min gap closes session 1; session 2 starts with 'purchase'
    // (depth 0 — steps must arrive in order)
    input.addData(Event(4, ts(700), 7, "purchase", 1.0))
    q.processAllAvailable()
    // another gap closes session 2
    input.addData(Event(5, ts(800), 7, "view", 1.0))
    q.processAllAvailable()
    val rows = spark.table("funnel").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    q.stop()
    assert(rows === Seq((7L, 2), (7L, 0)))
  }

  test("streaming funnel: watermark flushes idle users' open sessions") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = StreamOps.funnelStream(input.toDS(), gapMinutes = 30,
        steps = Seq("view", "click"))
      .writeStream.format("memory").queryName("funnel_flush")
      .outputMode(OutputMode.Append).start()
    input.addData(Event(1, ts(600), 7, "view", 1.0), Event(2, ts(605), 7, "click", 1.0))
    q.processAllAvailable()
    assert(spark.table("funnel_flush").count() === 0) // session open
    // a much later event from ANOTHER user advances the event-time
    // watermark past user 7's last event + gap: the idle session closes
    // via timeout — same moment the batch funnel would close it
    input.addData(Event(3, ts(700), 8, "view", 1.0))
    q.processAllAvailable()
    val rows = spark.table("funnel_flush").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    q.stop()
    assert(rows === Seq((7L, 2)))
  }

  test("streaming windowed topk: sketch state emits exact top-k at window close") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    // salts=1 and a wide sketch ⇒ estimates are exact counts; the emitted
    // finalists ARE the window's top-k
    val q = StreamOps.ngramTopkStream(
        input.toDF().toDF("ts", "text"), "text", "ts",
        n = 2, k = 2, windowMinutes = 60, watermarkMinutes = 10, salts = 1)
      .writeStream.format("memory").queryName("wtopk").outputMode(OutputMode.Append).start()
    input.addData(
      (ts(5), "a b a b a b"),   // window 0: "a b" ×3, "b a" ×2
      (ts(20), "c d"))          // window 0: "c d" ×1
    q.processAllAvailable()
    assert(spark.table("wtopk").count() === 0) // window still open
    input.addData((ts(200), "x y")) // watermark jumps past window 0's end
    q.processAllAvailable()
    val rows = spark.table("wtopk").collect()
      .map(r => (r.getTimestamp(0).getTime / 60000, r.getString(1), r.getLong(2))).toSet
    q.stop()
    assert(rows === Set((0L, "a b", 3L), (0L, "b a", 2L)))
  }

  test("streaming topk finalists rank to the batch topk (merge contract)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val q = StreamOps.ngramTopkStream(
        input.toDF().toDF("ts", "text"), "text", "ts",
        n = 1, k = 4, windowMinutes = 60, watermarkMinutes = 5, salts = 4)
      .writeStream.format("memory").queryName("wtopk2").outputMode(OutputMode.Append).start()
    input.addData((ts(1), "p p p q q r"), (ts(2), "q p s"))
    q.processAllAvailable()
    input.addData((ts(500), "zz")) // close window 0
    q.processAllAvailable()
    val ranked = StreamOps.rankWindowTopk(spark.table("wtopk2"), k = 2)
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3))).toSet
    q.stop()
    // batch truth over window 0: p×4, q×3, r×1, s×1
    assert(ranked === Set(("p", 4L, 1L), ("q", 3L, 2L)))
  }

  test("streaming sentence-boilerplate removal matches the batch twin per row") {
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, "Unique opening here. Accept our cookies now! Real content one."),
      (2L, "Accept our cookies now! Real content two."),
      (3L, "Accept our cookies now! Totally distinct text."),
      (4L, ""))
    val batchDf = rows.toDF("doc_id", "text")
    val boiler = Dedup.repeatedSentenceHashes(batchDf, "doc_id", "text")
    def rows4(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val expected = rows4(Dedup.removeRepeatedSentences(batchDf, "doc_id", "text"))
    // the one operator on a batch frame makes the batch decision
    assert(rows4(Dedup.removeSentences(batchDf, "doc_id", "text", boiler)) === expected)
    val input = MemoryStream[(Long, String)]
    val q = Dedup.removeSentences(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text", boiler)
      .writeStream.format("memory").queryName("sent_clean")
      .outputMode(OutputMode.Append).start()
    input.addData(rows.take(2): _*)
    q.processAllAvailable()
    input.addData(rows.drop(2): _*) // decisions identical across batches
    q.processAllAvailable()
    val got = spark.table("sent_clean").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    q.stop()
    assert(got === expected)
    // the over-cap FALLBACK branch (maxInlineHashes = 0 forces it) must
    // make the same per-row decisions under streaming execution
    val q3 = Dedup.removeSentences(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text", boiler,
        maxInlineHashes = 0)
      .writeStream.format("memory").queryName("sent_fallback")
      .outputMode(OutputMode.Append).start()
    input.addData(rows: _*)
    q3.processAllAvailable()
    val fb = spark.table("sent_fallback").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    q3.stop()
    assert(fb === expected)
    // an EMPTY boilerplate set rewrites nothing
    val q2 = Dedup.removeSentences(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text",
        boiler.where(org.apache.spark.sql.functions.lit(false)))
      .writeStream.format("memory").queryName("sent_noop")
      .outputMode(OutputMode.Append).start()
    input.addData((9L, "Keep this. And this."))
    q2.processAllAvailable()
    val noop = spark.table("sent_noop")
      .where(org.apache.spark.sql.functions.col("doc_id") === 9L).head()
    q2.stop()
    assert(noop.getString(1) === "Keep this. And this." && noop.getLong(3) === 2L)
  }

  test("streaming dedup drops repeat hashes across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = StreamOps.dedupStream(input.toDF().toDF("doc_id", "text"), "text")
      .writeStream.format("memory").queryName("dedup").outputMode(OutputMode.Append).start()
    input.addData((1L, "alpha"), (2L, "beta"), (3L, "alpha"))
    q.processAllAvailable()
    input.addData((4L, "beta"), (5L, "gamma")) // beta already seen in batch 1
    q.processAllAvailable()
    val kept = spark.table("dedup").collect().map(_.getLong(0)).toSet
    q.stop()
    assert(kept === Set(1L, 2L, 5L))
  }

  test("streaming decontamination drops blocklisted docs") {
    implicit val sqlCtx = spark.sqlContext
    val block = Seq("bench question one", "bench question two").toDF("text")
      .select(org.apache.spark.sql.functions.md5($"text").as("h"))
    def decon(docs: org.apache.spark.sql.DataFrame) =
      graft.operators.Dedup.decontaminate(docs,
        org.apache.spark.sql.functions.md5($"text"), block, $"h")
    val rows = Seq((1L, "clean doc"), (2L, "bench question one"),
      (3L, "bench question two"), (4L, "another clean"))
    val input = MemoryStream[(Long, String)]
    val q = decon(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("decon").outputMode(OutputMode.Append).start()
    input.addData(rows.take(2): _*)
    q.processAllAvailable()
    input.addData(rows.drop(2): _*)
    q.processAllAvailable()
    val kept = spark.table("decon").collect().map(_.getLong(0)).toSet
    q.stop()
    assert(kept === Set(1L, 4L))
    // the same operator on a batch frame
    assert(decon(rows.toDF("doc_id", "text")).collect().map(_.getLong(0)).toSet === kept)
  }

  test("streaming fuzzy decontamination matches the batch decision") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val benchText = "which year did the treaty of westphalia end the thirty years war in europe"
    val bench = Seq(benchText).toDF("btext")
    val nearDup = "which year did the treaty of westphalia end the thirty years war in asia"
    val docs = Seq(
      (1L, "a perfectly clean training document about cooking pasta at home tonight"),
      (2L, benchText),            // verbatim leak
      (3L, nearDup),              // near-dup leak (one token differs)
      (4L, "too short"),          // < w tokens: no shingles, must pass through
      (5L, "another clean doc that shares no shingles with the benchmark suite"))
    val input = MemoryStream[(Long, String)]
    val q = graft.operators.Dedup.decontaminateFuzzy(
        input.toDF().toDF("doc_id", "text"), "text", bench, "btext",
        threshold = 0.5)
      .writeStream.format("memory").queryName("fdecon").outputMode(OutputMode.Append).start()
    input.addData(docs.take(3): _*)
    q.processAllAvailable()
    input.addData(docs.drop(3): _*)
    q.processAllAvailable()
    val kept = spark.table("fdecon").collect().map(_.getLong(0)).toSet
    q.stop()
    assert(kept === Set(1L, 4L, 5L))
    // the same operator on a batch frame of the same corpus
    val batch = graft.operators.Dedup.decontaminateFuzzy(
        docs.toDF("doc_id", "text"), "text", bench, "btext", threshold = 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(batch === kept)
  }

  test("composed ingestStream matches the batch quality→dedup→decontaminate decision") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, md5}
    // 60 distinct short words, stopword-rich — passes the Gopher gate
    def varied(seed: String): String =
      ("the" +: (1 to 58).map(i => s"$seed$i") :+ "and").mkString(" ")
    val leak = varied("bench")
    val nearLeak = varied("bench").replace("bench58", "changed")
    val bench = Seq(leak).toDF("btext")
    val docs = Seq(
      (1L, varied("al")),        // clean, survives
      (2L, "tiny junk"),         // fails the quality gate
      (3L, varied("al")),        // exact dup of 1 — dedup drops it
      (4L, leak),                // verbatim benchmark leak
      (5L, nearLeak),            // near-dup leak (one token differs)
      (6L, varied("be")))        // clean, survives
    val input = MemoryStream[(Long, String)]
    val q = StreamOps.ingestStream(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text",
        bench = Some(bench), benchText = "btext",
        threshold = Some(0.5))
      .writeStream.format("memory").queryName("ingest_stream")
      .outputMode(OutputMode.Append).start()
    input.addData(docs.take(3): _*)
    q.processAllAvailable()
    input.addData(docs.drop(3): _*)
    q.processAllAvailable()
    val kept = spark.table("ingest_stream").collect().map(_.getLong(0)).toSet
    q.stop()
    assert(kept === Set(1L, 6L))
    // the batch composition (r_ingest_pipeline's stages) on the same corpus
    val d = docs.toDF("doc_id", "text")
    val gated = graft.operators.TextQuality.gate(d, "doc_id", "text")
    val deduped = graft.operators.Dedup.keepFirst(gated, md5(col("text")),
      Seq(col("doc_id")))
    val batch = graft.operators.Dedup.decontaminateFuzzy(deduped, "text",
        bench, "btext", threshold = 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(batch === kept)
  }

  test("streaming fuzzy decontamination: empty or sub-w benchmark keeps everything") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // bench rows with < w tokens have no shingles → no band rows: the
    // broadcast side is empty either way and every stream doc must pass
    val empty = Seq.empty[String].toDF("btext")
    val subW = Seq("too short bench").toDF("btext")
    for ((bench, tag) <- Seq((empty, "empty"), (subW, "subw"))) {
      val input = MemoryStream[(Long, String)]
      val q = graft.operators.Dedup.decontaminateFuzzy(
          input.toDF().toDF("doc_id", "text"), "text", bench, "btext",
          threshold = 0.5)
        .writeStream.format("memory").queryName(s"fdecon_$tag")
        .outputMode(OutputMode.Append).start()
      input.addData((1L, "a clean training document about cooking pasta at home"),
        (2L, "too short bench"), (3L, "x"))
      q.processAllAvailable()
      val kept = spark.table(s"fdecon_$tag").collect().map(_.getLong(0)).toSet
      q.stop()
      assert(kept === Set(1L, 2L, 3L), s"bench=$tag")
    }
  }

  test("streaming quality gate filters micro-batches statelessly") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val good = (1 to 80).map(i => if (i % 10 == 0) "the" else s"w${i}xyz")
      .mkString(" ") // > 50 distinct-ish words, stopwords present, no repetition
    val q = graft.operators.TextQuality.gate(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text")
      .writeStream.format("memory").queryName("qgate").outputMode(OutputMode.Append).start()
    input.addData((1L, good), (2L, "way too short"))
    q.processAllAvailable()
    val kept = spark.table("qgate").collect().map(_.getLong(0)).toSet
    q.stop()
    assert(kept === Set(1L))
    // the same operator on a batch frame makes the same decision
    import spark.implicits._
    val batch = graft.operators.TextQuality.gate(
      Seq((1L, good), (2L, "way too short")).toDF("doc_id", "text"),
      "doc_id", "text").collect().map(_.getLong(0)).toSet
    assert(batch === kept)
  }

  test("streaming LM gate scores against the static model, no state") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    // model: 'the' dominates; cut set between common and rare scores
    val vocab = Seq(("the", 8L), ("of", 2L))
    val q = StreamOps.lmGateStream(
        input.toDF().toDF("doc_id", "text"), "text", vocab, total = 10L,
        minAvgLogp = math.log(0.5)) // keep docs averaging better than p=0.5
      .writeStream.format("memory").queryName("lmgate").outputMode(OutputMode.Append).start()
    input.addData(
      (1L, "the the the"),   // avg ln(0.8) > cut
      (2L, "of of"),         // avg ln(0.2) < cut
      (3L, "zz qq"))         // fully OOV: no scored tokens → dropped
    q.processAllAvailable()
    val kept = spark.table("lmgate").collect().map(_.getLong(0)).toSet
    q.stop()
    assert(kept === Set(1L))
  }

  test("streaming corpus report: per-window counts and mean length") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val q = StreamOps.corpusReportStream(
        input.toDF().toDF("ts", "text"), "text", "ts", "1 hour", "1 hour")
      .writeStream.format("memory").queryName("creport").outputMode(OutputMode.Append).start()
    input.addData((ts(10), "a b c"), (ts(20), "d e"))
    q.processAllAvailable()
    input.addData((ts(500), "later doc")) // close window 0
    q.processAllAvailable()
    val rows = spark.table("creport").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(4))).toSet
    q.stop()
    assert(rows.contains(("1970-01-01 00:00:00", 2L, 5L, 2.5)))
  }

  test("streaming contamination rate per window") {
    implicit val sqlCtx = spark.sqlContext
    val block = Seq("bad").toDF("text")
      .select(org.apache.spark.sql.functions.md5($"text").as("h"))
    val input = MemoryStream[(Timestamp, String)]
    val q = StreamOps.contaminationRateStream(
        input.toDF().toDF("ts", "text"), "text", "ts", block, "1 hour", "1 hour")
      .writeStream.format("memory").queryName("crate").outputMode(OutputMode.Append).start()
    input.addData((ts(10), "bad"), (ts(20), "good"), (ts(30), "fine"), (ts(40), "bad"))
    q.processAllAvailable()
    input.addData((ts(500), "later")) // close window 0
    q.processAllAvailable()
    val rows = spark.table("crate").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    q.stop()
    assert(rows.contains(("1970-01-01 00:00:00", 4L, 0.5)))
  }

  test("diffStream: add/change/unchanged/remove transitions, batch-diff parity") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.StreamOps.DocUpdate
    val input = MemoryStream[DocUpdate]
    val q = graft.streaming.StreamOps.diffStream(input.toDS())
      .writeStream.format("memory").queryName("diffs")
      .outputMode("append").start()
    try {
      // batch 1: first sightings
      input.addData(DocUpdate(1L, "a", deleted = false),
        DocUpdate(2L, "b", deleted = false))
      q.processAllAvailable()
      // batch 2: edit 1, idempotent re-delivery of 2, delete-then-re-add 3
      input.addData(DocUpdate(1L, "a2", deleted = false),
        DocUpdate(2L, "b", deleted = false),
        DocUpdate(3L, "c", deleted = false))
      q.processAllAvailable()
      // batch 3: tombstone 2 for good; 3 removed then re-added in the SAME
      // batch (sequential fold must emit both transitions)
      input.addData(DocUpdate(2L, "x", deleted = true),
        DocUpdate(3L, "x", deleted = true),
        DocUpdate(3L, "c2", deleted = false))
      q.processAllAvailable()
      val events = spark.table("diffs").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      assert(events.count(_ == (1L, "added")) === 1)
      assert(events.count(_ == (1L, "changed")) === 1)
      assert(events.count(_ == (2L, "unchanged")) === 1)
      assert(events.count(_ == (2L, "removed")) === 1)
      assert(events.count(_ == (3L, "removed")) === 1)
      assert(events.count(_ == (3L, "added")) === 2) // initial + post-remove re-add
      // batch parity: last non-unchanged status per id == batch diff of
      // first-vs-final snapshot
      val first = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
      val fin = Seq((1L, "a2"), (3L, "c2")).toDF("doc_id", "text")
      val batch = graft.operators.CorpusDiff
        .diffDocs(first, fin, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val lastStatus = events.zipWithIndex
        .filter { case ((_, st), _) => st != "unchanged" }
        .groupBy(_._1._1).view
        .mapValues(_.maxBy(_._2)._1._2).toMap
      assert(lastStatus === batch)
    } finally q.stop()
  }

  test("streaming drift monitor matches the batch divergenceSummary per window") {
    implicit val sqlCtx = spark.sqlContext
    val refDocs = Seq("x y", "x z", "x y x").toDF("text")
    val reference = refDocs
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.split($"text", " ")).as("w"))
      .groupBy("w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val input = MemoryStream[(Timestamp, String)]
    val q = StreamOps.driftStream(input.toDF().toDF("ts", "text"),
        "text", "ts", reference,
        windowLen = "60 minutes", watermark = "10 minutes")
      .writeStream.format("memory").queryName("drift")
      .outputMode(OutputMode.Append).start()
    try {
      val w0 = Seq("x y", "w w x")       // window 0 docs (has OOV 'w')
      input.addData((ts(5), w0(0)), (ts(20), w0(1)))
      q.processAllAvailable()
      assert(spark.table("drift").count() === 0)  // window still open
      input.addData((ts(500), "zz"))              // watermark closes window 0
      q.processAllAvailable()
      val rows = spark.table("drift").collect()
      assert(rows.length === 1)
      val r = rows.head
      assert(r.getTimestamp(0).getTime === 0L)
      assert(r.getLong(1) === 5L)
      val batch = graft.operators.TextQuality
        .unigramDivergence(w0.toDF("text"), refDocs, "text").head()
      assert(math.abs(r.getDouble(2) - batch.getAs[Double]("kl_ab")) <= 2e-6)
      assert(math.abs(r.getDouble(3) - batch.getAs[Double]("kl_ba")) <= 2e-6)
      assert(math.abs(r.getDouble(4) - batch.getAs[Double]("jsd")) <= 2e-6)
      assert(r.getDouble(4) > 0.0 && r.getDouble(4) < math.log(2.0))
    } finally q.stop()
  }
}
