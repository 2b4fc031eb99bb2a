package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, MinHash, NgramOps, Similarity}

/** Plan-property regression tests: the 100 TB scale discipline
  * (shuffle count, column pruning, broadcast/anti shapes, scan fusion) is
  * asserted in CI, not just inspected by `tools.ExplainAudit`. Counts are
  * on the pre-AQE physical plan ("Exchange hashpartitioning" = a real
  * shuffle; BroadcastExchange is not).
  */
class PlanPropertySpec extends SparkTestBase {

  private lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
  private lazy val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def shuffles(df: org.apache.spark.sql.DataFrame): Int =
    "Exchange hashpartitioning".r.findAllIn(plan(df)).length

  test("topk is one shuffle plus TakeOrderedAndProject (no sort shuffle)") {
    val p = plan(NgramOps.topK(docs, "text", n = 3, k = 10, uax29 = false))
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1, p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("stats reads only the text column") {
    val p = plan(NgramOps.stats(docs, "text", uax29 = false))
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p).map(_.group(1))
    assert(read === Some("text:string"), p)
  }

  test("composed ingest pipeline: quality gate fuses into the scan, one dedup window shuffle, anti-join decontamination") {
    import graft.operators.TextQuality
    val gated = TextQuality.gopherFilter(docs, "doc_id", "text",
        passthrough = Seq("text"))
      .where(col("keep")).select("doc_id", "text")
    val deduped = Dedup.keepFirst(gated, md5(col("text")), Seq(col("doc_id")))
    val out = Dedup.decontaminate(deduped, md5(col("text")),
      docs.where(col("doc_id") % 97 === 0), md5(col("text")))
    val p = plan(out.select("doc_id"))
    // ONE hash shuffle total, the keep-first window on md5(text): the
    // benchmark-sized blocklist broadcasts as projected (an anti join needs
    // no distinct). The quality gate is a fused scan filter — no job, no
    // shuffle of its own.
    assert(shuffles(out.select("doc_id")) === 1, p)
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("graft_repetition"), p) // gate fused into the scan filter
    // both corpus reads prune to (doc_id, text)
    val reads = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(p).map(_.group(1)).toSet
    assert(reads.forall(_ == "doc_id:bigint,text:string"), p)
  }

  test("decontaminate is an anti join, never a full-corpus shuffle of B") {
    val b = docs.where(col("source") === "src10")
    val a = docs.where(col("source") =!= "src10")
    val p = plan(Dedup.decontaminate(b, md5(col("text")), a, md5(col("text"))))
    assert(p.contains("LeftAnti"), p)
  }

  test("near-dup pipeline: bounded shuffles, inline signatures (no shingle explode shuffle)") {
    val nd = MinHash.nearDuplicates(docs, "doc_id", "text", threshold = 0.5,
      w = 5, k = 8, bands = 4, hash = MinHash.xxhashStrategy)
    // band-bucket agg + pair distinct are the only hash shuffles; the
    // verification joins must not add more (they broadcast one side)
    assert(shuffles(nd) <= 3, plan(nd))
  }

  test("brute-force knn broadcasts queries; only shuffle is the top-k window") {
    val knn = Similarity.bruteForceKnn(emb, emb.where(col("vec_id") % 100 === 0),
      "vec_id", "embedding", k = 3)
    val p = plan(knn)
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(shuffles(knn) <= 1, p)
  }

  test("duplicate-span stats shuffle 8-byte hashed keys, not span strings") {
    val d = Dedup.duplicateSpanStats(docs, "doc_id", "text", k = 5)
    val p = plan(d)
    // the span-keyed exchanges must partition on the xxhash64 value
    assert(p.contains("xxhash64"), p)
    assert(shuffles(d) <= 3, p)
  }

  test("ngram contamination never shuffles the train side on the span") {
    val train = docs.where(col("doc_id") % 10 =!= 0)
    val test_ = docs.where(col("doc_id") % 10 === 0)
    val c = Dedup.ngramContamination(train, "text", test_, "doc_id", "text", n = 3)
    val p = plan(c)
    // test-side hash set broadcasts into the semi probe of train spans
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
  }

  test("unigram LM scoring reads only text and joins on the token") {
    val lm = graft.operators.TextQuality.unigramLogProb(docs, "doc_id", "text")
    val p = plan(lm)
    val reads = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(p).map(_.group(1)).toSet
    assert(reads.forall(r => r == "text:string" || r == "doc_id:bigint,text:string"), p)
  }

  test("multi-benchmark contamination scans the corpus exactly once") {
    val c = graft.search.Searcher.contaminationByBenchmark(docs, "text",
      Seq("a" -> "x y", "b" -> "y z", "b" -> "x y"), uax29 = false)
    val p = plan(c)
    assert("Scan parquet".r.findAllIn(p).length === 1, p)
  }

  test("overlap lattice aggregates a bit_or mask, not collect_set, on the big key") {
    val sets = Dedup.overlapSets(
      docs.select(col("source"), col("doc_id"), col("text")),
      md5(col("text")), col("source"), knownSources = Seq("src10", "src11"))
    val p = plan(sets)
    assert(p.contains("bit_or"), p)
    assert(!p.contains("collect_set"), p)
  }

  test("DSIR weighting is a zero-shuffle projection (inlined ratio table, no join)") {
    val w = graft.operators.Analyses.dsirWeights(docs, "text",
      Array.fill(64)(0.1))
    assert(shuffles(w) === 0, plan(w))
    assert(!plan(w).contains("Join"), plan(w))
  }

  test("URL canonicalization dedup shuffles only the grouped canonical key") {
    val d = graft.operators.UrlOps.urlDuplicateCounts(
      docs.withColumn("url", concat(lit("https://h"), col("doc_id") % 10,
        lit(".example.com/p/"), col("doc_id"))), "url")
    assert(shuffles(d) === 1, plan(d))
  }

  test("fuzzy decontamination never hash-shuffles the train side") {
    import spark.implicits._
    // a driver-side benchmark, so every parquet scan in the plan is train's
    val bench = docs.where(col("doc_id") % 50 === 0).select("text")
      .as[String].collect().toSeq.toDF("btext")
    val f = Dedup.decontaminateFuzzy(docs, "text", bench, "btext",
      threshold = 0.5)
    f.collect() // the final adaptive plan shows the exchange reuse
    val p = f.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.toString
      case other => other.toString
    }
    // one broadcast of the benchmark's bucket frame; the other bands - 1
    // band joins reuse it
    assert("\\+- BroadcastExchange".r.findAllIn(p).length === 1, p)
    assert("ReusedExchange".r.findAllIn(p).length === 3, p)
    // the train relation is scanned once
    assert("FileScan parquet".r.findAllIn(p).length === 1, p)
    // the only hash exchange groups the benchmark's band keys: no
    // exchange carries text
    val exchanges = "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(exchanges.forall(cols => !cols.contains("btext") && !cols.contains("text")),
      p)
  }

  test("bucketed index tables join with ZERO exchanges (the ES-tier replacement)") {
    import graft.sources.Corpus
    val docs1 = docs.select("doc_id", "text")
    val attrs = docs.select(col("doc_id"), col("lang"))
    Corpus.writeBucketed(docs1, "bucketed_docs_t", buckets = 4,
      bucketCols = Seq("doc_id"), force = true)
    Corpus.writeBucketed(attrs, "bucketed_attrs_t", buckets = 4,
      bucketCols = Seq("doc_id"), force = true)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = Corpus.readTable(spark, "bucketed_docs_t")
        .join(Corpus.readTable(spark, "bucketed_attrs_t"), "doc_id")
      val p = plan(joined)
      assert(!p.contains("Exchange hashpartitioning"), p)
      assert(joined.count() === docs.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS bucketed_docs_t")
      spark.sql("DROP TABLE IF EXISTS bucketed_attrs_t")
    }
  }

  test("PQ encode is a zero-shuffle projection against the inlined codebook") {
    val cb = Array.tabulate(8)(_ => Array.tabulate(2)(c =>
      Array.fill(8)(c.toDouble)))
    val enc = Similarity.pqEncode(emb, "vec_id", "embedding", cb)
    assert(shuffles(enc) === 0, plan(enc))
  }

  test("token offsets: both branches read one cached narrow frame; text never shuffles") {
    val off = graft.operators.Packing.tokenOffsets(docs, "doc_id", "text")
    val p = plan(off)
    // the windowed (id, ord, n, b, cumsum) frame is the cache anchor: the
    // probe side AND the bucket-offsets side must both be InMemoryTableScans
    // (losing the anchor silently recomputes the scan + range exchange —
    // exchange reuse does not fire across differently-projected branches)
    assert("InMemoryTableScan".r.findAllIn(p).length >= 2, p)
    assert(p.contains("Exchange rangepartitioning"), p)
    assert(p.contains("BroadcastExchange"), p)
    // bucket offsets come from the triangular self-join of the tiny totals
    // frame — no empty-partitionSpec window anywhere in the plan
    import org.apache.spark.sql.execution.window.WindowExec
    assert(off.queryExecution.executedPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w }.isEmpty, p)
    // no text column in any shuffle key: the prefix sum moves (id, ord, n)
    "hashpartitioning\\(([^)]*)\\)".r.findAllMatchIn(p).foreach { m =>
      assert(!m.group(1).contains("text"), p)
    }
  }

  test("assignShards carries text through exactly one shuffle") {
    val sh = graft.operators.Packing.assignShards(docs, "doc_id", "text", 4096L)
    val p = plan(sh)
    val textExchanges = "Exchange hashpartitioning\\(doc_id[^\\n]*".r
      .findAllIn(p).length
    assert(textExchanges <= 2, p) // both join sides key on doc_id; narrow side is 2 cols
  }

  test("tfidfTerms: one corpus scan, three data shuffles, no self-join") {
    val t = NgramOps.tfidfTerms(docs, "doc_id", "text", k = 3)
    val p = plan(t)
    // (id,w) agg + df-by-term window + per-doc rank window; the dfreq
    // self-join formulation measured 10 exchanges with zero reuse
    assert(shuffles(t) <= 3, p)
    assert("Scan parquet".r.findAllIn(p).length <= 2, p) // docs + count(N) row
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("topKPerGroup: rank window runs over the aggregated frame, one data shuffle") {
    val t = NgramOps.topKPerGroup(docs, "source", "text", n = 2, k = 5,
      uax29 = false)
    val p = plan(t)
    // explode→(group,ngram) partial agg is the only corpus-scale exchange;
    // the window repartitions the aggregated vocab by group only
    assert(shuffles(t) <= 2, p)
    // the `rank <= k` filter must push a PARTIAL WindowGroupLimit below
    // the window's exchange: it pre-selects k rows per group map-side, the
    // one plan property keeping per-group top-k from sorting a full
    // billion-term per-group vocab in a single task at 100×
    assertPartialGroupLimit(t)
  }

  /** Spark 4 plans `row_number()/rank() <= k` as WindowGroupLimitExec
    * pairs; the Partial one runs BEFORE the exchange. Its presence is
    * load-bearing for scale — lock it, don't assume it.
    */
  private def assertPartialGroupLimit(df: org.apache.spark.sql.DataFrame): Unit = {
    // string-match the plan: executedPlan is an AQE wrapper whose collect
    // does not traverse the wrapped plan
    val p = plan(df)
    assert("WindowGroupLimit [^\\n]*Partial".r.findFirstIn(p).nonEmpty,
      s"no partial WindowGroupLimit in:\n$p")
  }

  test("removeRepeatedSentences: rebuild is one clean scan probing the broadcast set") {
    val r = Dedup.removeRepeatedSentences(docs, "doc_id", "text")
    val p = plan(r)
    // the df count runs eagerly over ONE checkpointed exploded frame (the
    // single-scan contract); the boilerplate-sized hash set then folds to
    // a broadcast sorted array probed in the rebuild projection — the
    // returned plan is one FileScan, no join, no shuffle (the removal
    // join it replaces shuffled corpus TEXT as sort-merge payload)
    assert(p.contains("graft_long_set_contains"), p)
    assert(!p.contains("Join"), p)
    assert(shuffles(r) === 0, p)
    assert("FileScan".r.findAllIn(p).length === 1, p)
  }

  test("domain blocklist join path: one scan projection — no shuffle, no suffix explode, no join") {
    val withUrl = docs.withColumn("url",
      concat(lit("https://h"), col("doc_id") % 7, lit(".example.com/p")))
    val r = graft.operators.UrlOps.domainBlocklistFilter(withUrl, "url",
      blocked = Seq("h1.example.com", "h2.example.com"), asJoin = true)
    val p = plan(r)
    assert(shuffles(r) === 0, p)
    assert(!p.contains("Generate"), p) // the explode shape this replaced
    assert(!p.contains("Join"), p)
    assert(p.contains("graft_long_set_contains"), p)
  }

  test("decontaminateBroadcast: B's scan filter probes the broadcast set — no shuffle, no join") {
    val bench = docs.where(col("doc_id") % 31 === 0)
    val r = Dedup.decontaminateBroadcast(docs, xxhash64(col("text")),
      bench, xxhash64(col("text")))
    val p = plan(r.select("doc_id"))
    assert(shuffles(r.select("doc_id")) === 0, p)
    assert(!p.contains("Join"), p)
    assert(p.contains("graft_long_set_contains"), p)
  }

  test("clusterBalancedSample: partial WindowGroupLimit below the bucket-rank exchange") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val sm = graft.operators.Similarity.clusterBalancedSample(emb,
      "vec_id", "embedding", step = 50, perCluster = 3)
    assertPartialGroupLimit(sm)
  }

  test("significantTermsByGroup: partial WindowGroupLimit below the group-rank exchange") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val post = graft.search.InvertedIndex.postings(d, "doc_id", "text", uax29 = false)
    val norms = graft.search.InvertedIndex.corpusNorms(d, "text", uax29 = false)
    val labels = d.select(col("doc_id"), col("source").as("group"))
    val g = graft.search.InvertedIndex.significantTermsByGroup(post, norms,
      labels, k = 5)
    assertPartialGroupLimit(g)
  }

  test("domainReport: two partial-agg shuffles, no collect-side plan") {
    val r = Pipeline.domainReport(docs, col("source"), "text")
    val p = plan(r)
    assert(shuffles(r) <= 2, p)
  }

  test("weightedSample is one TakeOrderedAndProject, no sort shuffle") {
    val s = graft.operators.Analyses.weightedSample(
      docs, col("doc_id"), size(split(col("text"), " ")).cast("long"), 10)
    val p = plan(s)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(shuffles(s) === 0, p)
  }

  test("statsExtremes and zipfStats have no single-partition window (global rank trap)") {
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    // traverse through AQE wrappers AND cached-relation boundaries:
    // collect on the adaptive wrapper does not descend into the wrapped
    // plan, and zipf's windows live inside an InMemoryRelation's cached
    // plan (an earlier version of this test was vacuously green)
    def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] =
      (p +: p.children.flatMap(allNodes)) ++ (p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          allNodes(a.executedPlan)
        case i: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          allNodes(i.relation.cachedPlan)
        case _ => Nil
      })
    def windows(df: org.apache.spark.sql.DataFrame): Seq[Boolean] =
      allNodes(df.queryExecution.executedPlan).collect {
        case w: WindowExec => w.partitionSpec.isEmpty
        case w: WindowGroupLimitExec => w.partitionSpec.isEmpty
      }
    // extremes: agg + broadcast-filter, no window at all
    val ext = NgramOps.statsExtremes(docs, "text", "doc_id", uax29 = false)
    assert(!windows(ext).exists(identity), plan(ext))
    // zipf: rank via range-partition + per-bucket window + offset join —
    // every window in the plan must carry a partitionSpec, and the plan
    // must actually HAVE windows (traversal is non-vacuous)
    val z = NgramOps.zipfStats(docs, "text")
    assert(windows(z).nonEmpty, plan(z))
    assert(!windows(z).exists(identity), plan(z))
    assert(plan(z).contains("Exchange rangepartitioning"), plan(z))
  }

  test("langid model scoring is a zero-shuffle scan projection (inlined profiles)") {
    val profiles = graft.operators.LangId.ctProfiles()
    val scored = docs.select(
      graft.operators.LangId.langIdModel(col("text"), profiles).as("pred"))
    assert(shuffles(scored) === 0, plan(scored))
    assert(!plan(scored).contains("Join"), plan(scored))
    // the confusion card adds exactly the one partial-agg exchange
    val conf = graft.operators.LangId.confusion(docs, "text", "lang", profiles)
    assert(shuffles(conf) === 1, plan(conf))
  }

  test("sentence sentiment: one scan, one partial-agg shuffle, no joins") {
    val s = graft.operators.Analyses.sentenceSentiment(docs, "text",
      Seq("data", "spark"), Map("fast" -> 1.0, "slow" -> -1.0))
    val p = plan(s)
    assert("Scan parquet".r.findAllIn(p).length === 1, p)
    assert(shuffles(s) <= 1, p)
    assert(!p.contains("Join"), p)
  }

  test("profanity-model doc scoring is column algebra: no join, no ML node") {
    val lists = Map("x" -> Seq("fast", "slow"))
    val m = graft.operators.QualityClassifier.Model(
      graft.operators.ProfanityModel.featureCols(lists), Array(1.0, 0.5), -1.0)
    val scored = graft.operators.ProfanityModel.scoreDocs(
      docs, "doc_id", "text", lists, m)
    assert(shuffles(scored) === 0, plan(scored))
    assert(!plan(scored).contains("Join"), plan(scored))
  }

  test("vocabCoverage is a pure scan projection: zero shuffles, zero joins") {
    val v = graft.operators.TextQuality.vocabCoverage(docs, "doc_id", "text",
      Seq("the", "data"))
    val p = plan(v)
    assert(shuffles(v) === 0, p)
    assert(!p.contains("Join"), p)
  }

  test("inverted index build is a scan projection: zero shuffles, zero joins") {
    val post = graft.search.InvertedIndex.postings(docs, "doc_id", "text",
      uax29 = false)
    val p = plan(post)
    assert(shuffles(post) === 0, p)
    assert(!p.contains("Join"), p)
  }

  test("bm25: candidate postings never re-join the corpus (norms ride the index)") {
    val post = graft.search.InvertedIndex.postings(docs, "doc_id", "text",
      uax29 = false).localCheckpoint()
    val ranked = graft.search.InvertedIndex.bm25TopK(post,
      graft.search.InvertedIndex.corpusNorms(docs, "text", uax29 = false),
      Seq("the", "data"), k = 5)
    val p = plan(ranked)
    // exactly two hash shuffles, both candidate-bounded: the |terms|-group
    // df agg (map-side collapsed to one row per term per partition) and
    // the per-doc score agg; ranking is TakeOrderedAndProject, never a
    // sort shuffle, and the corpus table appears nowhere in the plan
    assert(shuffles(ranked) <= 2, p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("bm25 over a saved index: the df window rides the bucket layout (no Exchange)") {
    import graft.search.InvertedIndex
    val table = "pp_bm25_idx"
    graft.search.Swap.drop(spark, table)
    InvertedIndex.writeIndex(InvertedIndex.postings(docs, "doc_id", "text",
      uax29 = false), table, buckets = 4, force = true)
    try {
      val post = spark.table(table)
      val ranked = InvertedIndex.bm25TopK(post,
        InvertedIndex.corpusNormsFromPostings(post), Seq("the", "data"), k = 5)
      val p = plan(ranked)
      // the postings are read once; the only exchange is the per-doc
      // score aggregate
      assert(p.contains("Window"), p)
      assert(shuffles(ranked) === 1, p)
      assert("FileScan".r.findAllIn(p).length === 1, p)
      assert(ranked.collect().nonEmpty)
    } finally graft.search.Swap.drop(spark, table)
  }

  test("corpusDiff: hashes scan-fused (bodies never shuffle), one full-outer join") {
    val old = docs.where(col("doc_id") % 11 =!= 0)
    val nw = docs.where(col("doc_id") % 13 =!= 0)
    val d = graft.operators.CorpusDiff.diffDocs(old, nw, "doc_id", "text")
    val p = plan(d)
    assert(p.contains("FullOuter"), p)
    // md5 must be computed below the exchange: no shuffle carries `text`
    val exchanges = "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(exchanges.nonEmpty && exchanges.forall(!_.contains("text")), p)
    // summary adds exactly one more shuffle (the status rollup)
    val sum = graft.operators.CorpusDiff.diffSummary(old, nw, "doc_id", "text")
    assert(shuffles(sum) === shuffles(d) + 1, plan(sum))
  }

  test("vocabGrowth: no global window, bounds broadcast, vocab-sized shuffles only") {
    val v = NgramOps.vocabGrowth(docs, "doc_id", "text", checkpoints = 4,
      uax29 = false)
    val p = plan(v)
    // the value-checkpoint design's whole point: no single-task sort/rank
    assert(!p.contains("Window"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)  // K-row bounds, <= join
    // first-occurrence agg + two K-group aggs + final join: ≤ 4 exchanges
    assert(shuffles(v) <= 4, p)
  }

  test("divergence terms frame: checkpoint-anchored, 1-row totals broadcast") {
    val a = docs.where(col("doc_id") % 2 === 0)
    val b = docs.where(col("doc_id") % 2 =!= 0)
    val t = graft.operators.TextQuality.unigramDivergenceTerms(a, b, "text")
    val p = plan(t)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    // the checkpointed vocab frame anchors both branches: the final plan
    // reads it, never the corpora, and the 1-row totals broadcast in
    assert(shuffles(t) === 0, p)
    assert(!p.contains("Scan parquet"), p)
  }

  test("embeddingDrift: per-dim partial sums only — no vector or corpus shuffle") {
    val a = emb.where(col("vec_id") % 2 === 0)
    val b = emb.where(col("vec_id") % 2 =!= 0)
    val d = Similarity.embeddingDrift(a, b, "embedding")
    val p = plan(d)
    // two per-dim mean aggs (pos key) — everything downstream is d-row or
    // 1-row and meets in broadcast-sized joins; the embedding column
    // itself never shuffles
    assert(shuffles(d) <= 2, p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("mixtureUpsample: epoch expansion is a narrow explode in the scan stage") {
    val up = graft.operators.Analyses.mixtureUpsample(docs, col("doc_id"),
      col("source"), "text", Map("src10" -> 1.0), tokenBudget = 5000L)
    val p = plan(up)
    // the O(sources) plan agg already ran at build time (driver collect);
    // the returned frame is scan → filter → explode → filter, zero shuffle
    assert(shuffles(up) === 0, p)
    assert(p.contains("Generate explode"), p)
    // the source filter reaches the scan (partition/row-group pruning path)
    assert(p.contains("PushedFilters: [IsNotNull(source)") ||
      p.contains("In(source"), p)
  }

  test("wide battery plans: one idx-count exchange, kernel in the scan, no text shuffled") {
    import graft.search.Searcher
    val battery = (1 to 70).map(i => s"w$i phrase")
    val wide = Searcher.countPerPhrase(docs, "text", battery, uax29 = false)
    val p = plan(wide)
    // exactly ONE real exchange — the (idx, count) partial aggregate;
    // the phrase table joins back as a BroadcastExchange
    assert(shuffles(wide) === 1, p)
    assert(p.contains("graft_multi_phrases"), p)
    assert(p.contains("BroadcastExchange"), p)
    // the exchange keys on the synthetic matched-index column (pre-alias
    // "__f"/post-alias "__idx" depending on where the aggregate sits),
    // never document text
    val exchangeLine = p.linesIterator
      .find(_.contains("Exchange hashpartitioning")).getOrElse("")
    assert(exchangeLine.contains("__") && !exchangeLine.contains("text"),
      exchangeLine)
    // the example kernel keeps the same shape
    val ew = Searcher.countPerExample(docs, "text",
      (1 to 70).map(i => Seq(s"x$i", "a")), uax29 = false)
    val ep = plan(ew)
    assert(shuffles(ew) === 1, ep)
    assert(ep.contains("graft_multi_examples"), ep)
    // the gate applies in BOTH slop dialects: move-distance mode must
    // take the kernel plan too (r14 left it on the O(P) per-column
    // path), with the same single (idx, count) exchange
    val lw = Searcher.countPerPhrase(docs, "text", battery, slop = 2,
      uax29 = false, luceneSlop = true)
    val lp = plan(lw)
    assert(shuffles(lw) === 1, lp)
    assert(lp.contains("graft_multi_phrases"), lp)
    assert(!lp.contains("graft_phrase_match_lucene"), lp)
  }

  test("paired/analyzed scan families: predicates fold map-side, zero shuffle") {
    import graft.search.Searcher
    val pc = Searcher.countPerExample(docs, "text",
      Seq(Seq("a b", "c"), Seq("d")), uax29 = false)
    assert(shuffles(pc) === 0, plan(pc))
    // the analyzer is a scan-stage projection — adding it on top of a
    // per-phrase count must not introduce an exchange
    val an = Searcher.countPerPhrase(
      docs.withColumn("text",
        graft.functions.TextFunctions.esAnalyzeText(col("text"))),
      "text", Seq("a b"), uax29 = false)
    assert(shuffles(an) === 0, plan(an))
  }

  test("termsMatching: anchored rlike sits on the scan, agg sized by matches") {
    import graft.search.InvertedIndex
    val post = InvertedIndex.postings(docs, "doc_id", "text", uax29 = false)
    val t = InvertedIndex.termsMatching(post, "s[a-z]+")
    val p = plan(t)
    // the filter must run BELOW the aggregate (pushed through groupBy)
    val aggIdx = p.indexOf("HashAggregate")
    val filtIdx = p.indexOf("RLIKE")
    assert(aggIdx >= 0 && filtIdx > aggIdx, p) // executed plans print top-down
    assert(shuffles(t) <= 1, p)
  }

  test("span decontamination: one train scan probing the broadcast span set — no join, no shuffle") {
    val train = docs.where(col("doc_id") % 10 =!= 0)
    val bench = docs.where(col("doc_id") % 10 === 0)
    val c = Dedup.removeContaminatedSpans(train, "doc_id", "text", bench,
      "text", k = 3)
    val p = plan(c)
    // the benchmark span keys fold to a broadcast sorted array probed by
    // the one-pass rewrite KERNEL in the scan projection — the prior
    // semi-probe + offsets-agg + rewrite join shape shuffled the corpus
    // TEXT as sort-merge payload (keys were clean ids, so a key-only
    // assertion missed it)
    assert(p.contains("graft_covered_span_remove"), p)
    assert(!p.contains("Join"), p)
    assert(shuffles(c) === 0, p)
    assert("FileScan".r.findAllIn(p).length === 1, p)
    // the identity-hash (oracle-exact, string-key) path keeps the join
    // formulation: benchmark keys broadcast into the semi probe, and no
    // shuffle KEY ever carries text
    val raw = Dedup.removeContaminatedSpans(train, "doc_id", "text", bench,
      "text", k = 3, hash = c => c)
    val pr = plan(raw)
    assert(pr.contains("BroadcastHashJoin") && pr.contains("LeftSemi"), pr)
    "hashpartitioning\\(([^)]*)\\)".r.findAllMatchIn(pr).foreach { m =>
      assert(!m.group(1).contains("text"), pr)
    }
  }

  test("mojibake repair is a zero-shuffle codegen'd scan projection") {
    val fixed = graft.operators.TextQuality
      .fixMojibakeDocs(docs, "doc_id", "text")
    val p = plan(fixed)
    assert(shuffles(fixed) === 0, p)
    assert(!p.contains("Join"), p)
    assert(p.contains("*(1) Project"), p) // `*` = the projection is codegen'd
    // column pruning: the scan reads only the two referenced columns
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p).map(_.group(1))
    assert(read === Some("doc_id:bigint,text:string"), p)
  }

  test("hashedEmbeddings: zero-shuffle scan projection, text+id pruned read") {
    val he = graft.operators.FeatureHash.hashedEmbeddings(docs, "doc_id",
      "text", dim = 32)
    val p = plan(he)
    assert(shuffles(he) === 0, p)
    assert(!p.contains("Join"), p)
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p).map(_.group(1))
    assert(read === Some("doc_id:bigint,text:string"), p)
  }

  test("rrfFuse: k-bounded union + one agg + TakeOrderedAndProject") {
    val a = docs.select(col("doc_id"), (col("doc_id") % 7 + 1).as("rank"))
      .limit(20)
    val f = graft.search.Searcher.rrfFuse(Seq(a, a), topK = 5)
    val p = plan(f)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(shuffles(f) <= 1, p) // the tiny fused agg
  }

  test("PCA moments/covariance: no hash shuffle — one global typed agg") {
    // the d+d² buffer meets in a single-partition exchange (partial
    // combine map-side); nothing is hash-partitioned, nothing joins
    val cov = graft.operators.Pca.covarianceMatrix(emb, "embedding")
    val p = plan(cov)
    assert(shuffles(cov) === 0, p)
    assert(p.contains("ReadSchema: struct<embedding:array<float>>"), p)
  }

  test("keepBestInCluster: pairs-bounded side broadcasts, corpus anti-join stays broadcast") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("id_a", "id_b")
    val kept = graft.operators.Dedup.keepBestInCluster(docs, "doc_id",
      pairs, length(col("text")))
    val p = plan(kept)
    // the component frame joins into the scoring scan as a broadcast and
    // the drop set anti-joins back as a broadcast — the corpus itself is
    // never hash-shuffled (CC's own internal exchanges run on the tiny
    // pair frame, not on documents)
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert("LeftAnti, BuildRight".r.findFirstIn(p).nonEmpty, p.take(3000))
    val corpusShuffles = "Exchange hashpartitioning\\(doc_id".r
      .findAllIn(p).length
    assert(corpusShuffles === 0, p.take(3000))
  }

  test("rerankExact: candidate and query frames broadcast into one base scan") {
    import spark.implicits._
    val cand = Seq((0L, 20L), (0L, 40L)).toDF("query_id", "neighbor_id")
    val rr = graft.operators.Similarity.rerankExact(emb,
      emb.where(col("vec_id") === 0), "vec_id", "embedding", cand, k = 2)
    val p = plan(rr)
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p.take(3000))
    // the only hash exchange is the per-query window over ≤shortlist rows
    assert(shuffles(rr) <= 1, p.take(3000))
  }

  test("significantTerms on a saved index: term aggs inherit the bucket layout") {
    import graft.search.InvertedIndex
    val table = "ppspec_sig_idx"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    InvertedIndex.writeIndex(
      InvertedIndex.postings(docs, "doc_id", "text", uax29 = false),
      table, buckets = 4, force = true)
    try {
      val idx = InvertedIndex.readIndex(spark, table)
      // build-time norms (the persisted-alongside posture) — the
      // corpusNormsFromPostings fallback would add one index-wide doc agg
      val st = InvertedIndex.significantTerms(idx,
        InvertedIndex.corpusNorms(docs, "text", uax29 = false),
        docs.where(col("source") === "src10").select("doc_id"), k = 10)
      val p = plan(st)
      // the foreground semi-joins as a pinned broadcast (never a postings
      // shuffle on doc_id); the only hash exchanges are the id-sized fg
      // distincts. fg/bg term aggs and their join ride the bucket layout
      // unshuffled — no exchange keys on term.
      assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
      assert(shuffles(st) <= 2, p)
      "hashpartitioning\\(([^)]*)\\)".r.findAllMatchIn(p).foreach { m =>
        assert(!m.group(1).contains("term"), p)
      }
      assert(p.contains("TakeOrderedAndProject"), p)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("small-input n-gram aggregations key-partition into defaultParallelism uncoalesced reducers") {
    val slots = spark.sparkContext.defaultParallelism
    val text = docs.select("text")
    // the same rows behind an RDD leaf: unknown size, so above the
    // defaultParallelism x advisory-size threshold — today's plain plan
    val unknownSize = spark.createDataFrame(text.rdd, text.schema)
    val keyed = s"hashpartitioning\\(ngram#\\d+, $slots\\), REPARTITION_BY_NUM".r
    def aggs(d: org.apache.spark.sql.DataFrame) = Seq(
      "topK" -> NgramOps.topK(d, "text", n = 3, k = 10, uax29 = false),
      "botK" -> NgramOps.botK(d, "text", n = 3, k = 10, uax29 = false),
      "uniqueExact" -> NgramOps.uniqueExact(d, "text", n = 3, uax29 = false))
    aggs(text).zip(aggs(unknownSize)).foreach { case ((name, small), (_, large)) =>
      val rows = small.collect().toSeq
      // after execution: the final adaptive plan (its string also
      // carries the initial plan, cut off here)
      val fin = plan(small).split("== Initial Plan ==").head
      assert(fin.contains("isFinalPlan=true"), fin)
      assert(keyed.findAllIn(fin).length === 1, s"$name: $fin")
      assert("Exchange hashpartitioning".r.findAllIn(fin).length === 1, s"$name: $fin")
      assert(!fin.contains("coalesced"), s"$name: AQE coalesced the n-gram reducers\n$fin")
      val p = plan(large)
      assert(keyed.findAllIn(p).isEmpty && shuffles(large) === 1, s"$name: $p")
      assert(large.collect().toSeq === rows, s"$name output differs between the two plans")
    }
  }

  test("kernel census: each graft_* kernel runs once, pushed-down filters included") {
    import graft.operators.{FeatureHash, TextQuality}
    import graft.search.InvertedIndex
    val cases = Seq(
      "gopherFilter.where(keep)" ->
        TextQuality.gopherFilter(docs, "doc_id", "text").where(col("keep")),
      "hashedEmbeddings" -> FeatureHash.hashedEmbeddings(docs, "doc_id", "text", 64),
      "signaturesInline" ->
        MinHash.signaturesInline(docs, "doc_id", "text", 5, 8, md5Parity = false),
      "shingleArrays" -> MinHash.shingleArrays(docs, "doc_id", "text", 5),
      // the UAX-29 paths add the tokenizer, which must run once too
      "signaturesInline uax29" -> MinHash.signaturesInline(docs, "doc_id", "text", 5, 8,
        md5Parity = false, uax29 = true),
      "shingleArrays uax29" -> MinHash.shingleArrays(docs, "doc_id", "text", 5, uax29 = true),
      "hashedEmbeddings uax29" ->
        FeatureHash.hashedEmbeddings(docs, "doc_id", "text", 64, uax29 = true),
      "postings" -> InvertedIndex.postings(docs, "doc_id", "text"))
    cases.foreach { case (name, df) =>
      val p = plan(df)
      val counts = "graft_[a-z0-9_]+".r.findAllIn(p).toSeq.groupBy(identity)
        .map { case (k, v) => k -> v.size }
      assert(counts.nonEmpty && counts.values.forall(_ == 1), s"$name: $counts\n$p")
    }
  }

  test("kernel-once formulations keep their outputs: nulls, short and empty docs") {
    import graft.operators.{FeatureHash, TextQuality}
    import graft.search.InvertedIndex
    import spark.implicits._
    val edge = Seq[(Long, String)]((1L, null), (2L, ""), (3L, "one two"),
        (4L, "a b c d e"), (5L, "x  y z w v u"))
      .toDF("doc_id", "text")
      .union(docs.select("doc_id", "text").limit(200))
    def same(name: String, got: org.apache.spark.sql.DataFrame,
             want: org.apache.spark.sql.DataFrame): Unit = {
      val (g, w) = (got.collect().map(_.toString).sorted.toSeq,
        want.collect().map(_.toString).sorted.toSeq)
      assert(g.nonEmpty && g === w, name)
    }
    val toks = split(col("text"), " ")
    same("hashedEmbeddings", FeatureHash.hashedEmbeddings(edge, "doc_id", "text", 16),
      edge.select(col("doc_id").as("id"), org.apache.spark.sql.graft.Bridge.column(
          graft.functions.expressions.HashedEmbedding(
            org.apache.spark.sql.graft.Bridge.expression(toks), 16, false)).as("emb"))
        .where(col("emb").isNotNull))
    val utoks = graft.functions.TextFunctions.tokenize(col("text"))
    for ((uax29, t) <- Seq(false -> toks, true -> utoks)) {
      for (md5 <- Seq(false, true))
        same(s"signaturesInline md5=$md5 uax29=$uax29",
          MinHash.signaturesInline(edge, "doc_id", "text", 5, 4, md5Parity = md5, uax29 = uax29),
          edge.select(col("doc_id").as("id"), MinHash.sigArrayCol(t, 5, 4, md5).as("sig"))
            .where(col("sig").isNotNull)
            .select(col("id") +: (0 until 4).map(i => element_at(col("sig"), i + 1).as(s"m$i")): _*))
      same(s"shingleArrays uax29=$uax29", MinHash.shingleArrays(edge, "doc_id", "text", 5, uax29),
        edge.select(col("doc_id").as("id"),
            array_distinct(graft.functions.TextFunctions.ngrams(t, 5)).as("sh"))
          .where(size(col("sh")) > 0))
    }
    same("postings", InvertedIndex.postings(edge, "doc_id", "text"),
      edge.select(col("doc_id"), size(utoks).cast("long").as("dl"),
          explode(org.apache.spark.sql.graft.Bridge.column(
            graft.functions.expressions.TermPostings(
              org.apache.spark.sql.graft.Bridge.expression(utoks)))).as("p"))
        .select(col("p.term").as("term"), col("doc_id"), col("p.positions").as("positions"),
          size(col("p.positions")).cast("long").as("tf"), col("dl")))
    // the gate's filter must select exactly the rows its keep column marks
    val gated = TextQuality.gopherFilter(edge, "doc_id", "text")
    val kept = gated.collect().filter(r => !r.isNullAt(r.fieldIndex("keep")) &&
      r.getAs[Boolean]("keep"))
    same("gopherFilter.where(keep)", gated.where(col("keep")),
      spark.createDataFrame(java.util.Arrays.asList(kept: _*), gated.schema))
  }
}
