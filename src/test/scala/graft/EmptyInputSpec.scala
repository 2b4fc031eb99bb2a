package graft

import org.apache.spark.sql.functions._

import graft.operators._

/** Every operator family on an EMPTY (schema-correct) corpus: a library
  * must degrade to empty/zero results, never throw — empty partitions and
  * empty filtered slices are routine at 100 TB (a fresh source, an
  * over-tight gate, a day with no events).
  */
class EmptyInputSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val docs = Seq.empty[(Long, String, String, String)]
    .toDF("doc_id", "text", "lang", "source")
  private lazy val events = Seq.empty[(Long, Long, Long, String)]
    .toDF("event_id", "ts", "user_id", "event_type")
  private lazy val emb = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")

  test("ngram surfaces: topk/botk/stats/unique/zipf/tfidf/grouped") {
    assert(NgramOps.topK(docs, "text", 3, 10, uax29 = false).count() === 0)
    assert(NgramOps.botK(docs, "text", 2, 10, uax29 = false).count() === 0)
    assert(NgramOps.stats(docs, "text", uax29 = false).count() === 1) // null-field row
    assert(NgramOps.uniqueExact(docs, "text", 2, uax29 = false)
      .head().getLong(0) === 0L)
    assert(NgramOps.zipfStats(docs, "text").count() === 1)
    assert(NgramOps.tfidfTerms(docs, "doc_id", "text", 3).count() === 0)
    assert(NgramOps.topKPerGroup(docs, "source", "text", 2, 3, uax29 = false).count() === 0)
    assert(NgramOps.countPhrases(docs, "text", Seq("a b"), uax29 = false)
      .head().getLong(1) === 0L) // zero-hit phrases still reported
    assert(NgramOps.searchRegex(docs, "text", Seq("x+")).head().getLong(1) === 0L)
  }

  test("dedup surfaces: hashes/keep-first/decontaminate/overlaps/spans") {
    val fp = md5(col("text"))
    assert(Dedup.duplicateHashes(docs, fp).count() === 0)
    assert(Dedup.keepFirst(docs, fp, Seq(col("doc_id"))).count() === 0)
    assert(Dedup.decontaminate(docs, fp, docs, fp).count() === 0)
    assert(Dedup.duplicateStats(docs, fp).head().getLong(1) === 0L)
    assert(Dedup.hashSplit(docs, col("text")).count() === 0)
    assert(Dedup.duplicateSpanStats(docs, "doc_id", "text", k = 5).count() === 0)
    assert(Dedup.removeDuplicateSpans(docs, "doc_id", "text", k = 5).count() === 0)
    assert(Dedup.connectedComponents(
      Seq.empty[(Long, Long)].toDF("id_a", "id_b")).count() === 0)
  }

  test("fuzzy dedup: minhash lsh / near-dup / simhash on empty corpus") {
    assert(MinHash.lshCandidates(docs, "doc_id", "text", 5, 8, 4).count() === 0)
    assert(MinHash.nearDuplicates(docs, "doc_id", "text", 0.5).count() === 0)
    assert(SimHash.simhash64(docs, "doc_id", "text").count() === 0)
  }

  test("text quality: gates, signals, LMs, reports on empty corpus") {
    assert(TextQuality.gopherFilter(docs, "doc_id", "text").count() === 0)
    assert(TextQuality.fineWebFilter(docs, "doc_id", "text").count() === 0)
    assert(TextQuality.repetitionSignals(docs, "doc_id", "text").count() === 0)
    assert(TextQuality.qualityFeatures(docs, "doc_id", "text").count() === 0)
    assert(TextQuality.unigramLogProb(docs, "doc_id", "text").count() === 0)
    assert(TextQuality.perplexityBuckets(docs, "doc_id", "text").count() === 0)
    assert(TextQuality.compressionSignals(docs, "doc_id", "text").count() === 0)
    assert(TextQuality.vocabCoverage(docs, "doc_id", "text", Seq("a")).count() === 0)
    val div = TextQuality.unigramDivergence(docs, docs, "text").head()
    assert(div.getAs[Long]("vocab_union") === 0L) // null metrics, but a row
    assert(TextQuality.entropyStats(docs, "text").count() === 3)
  }

  test("analyses: samplers, distinctive terms, script mix, pii on empty corpus") {
    assert(Analyses.weightedSample(docs, col("doc_id"), lit(1.0), 5).count() === 0)
    assert(Analyses.samplePerGroup(docs, col("source"), col("doc_id"), 3).count() === 0)
    assert(Analyses.distinctiveTerms(docs, col("lang") === "en", "text", 5).count() === 0)
    assert(Analyses.scriptFractions(docs, "doc_id", "text").count() === 0)
    assert(Analyses.piiCounts(docs, "text").select(sum("occurrences"))
      .head().getLong(0) === 0L)
    assert(Analyses.piiRedact(docs, "doc_id", "text").count() === 0)
    assert(Analyses.dsirLogRatiosWhere(docs, col("lang") === "en", "text", 16)
      .forall(_ == 0.0)) // target/raw identically empty → ratio 0 everywhere
  }

  test("round-5 surfaces: sentence sentiment, langid model, prompts, shards on empty corpus") {
    assert(Analyses.sentenceSentiment(docs, "text", Seq("spark"),
      Map("fast" -> 1.0)).count() === 0)
    val profiles = LangId.ctProfiles()
    assert(LangId.confusion(docs, "text", "lang", profiles).count() === 0)
    assert(LangId.langIdModelCounts(docs, "text", profiles).count() === 0)
    // distributed training on an empty labeled corpus: no profiles, no throw
    assert(LangId.trainProfiles(docs, "text", "lang").isEmpty)
    assert(graft.search.PromptTemplates.contaminationFromTemplates(docs, "text",
      Seq(graft.search.PromptTemplates.PromptTemplate("d", "", "{{text}}") ->
        docs.select("text"))).count() === 0)
    val out = java.nio.file.Files.createTempDirectory("empty-ingest")
      .toFile.getAbsolutePath + "/ds"
    assert(graft.sources.Corpus.ingestShards(docs, "doc_id", out, 10).isEmpty)
    assert(Multimodal.extractFeatures(
      Multimodal.fromText(docs, "doc_id", "text")).count() === 0)
  }

  test("pipeline reports survive an empty corpus") {
    val report = Pipeline.corpusReport(docs, "text", langCol = Some("lang"))
    assert(report.where(col("metric") === "n_docs").head().getDouble(1) === 0.0)
    assert(Pipeline.domainReport(docs, col("source"), "text").count() === 0)
  }

  test("events: windows, sessions, paths, retention, funnel on empty log") {
    val e = events.withColumn("ts", col("ts").cast("timestamp"))
    assert(EventOps.tumblingCounts(e, "ts").count() === 0)
    assert(EventOps.sessionStats(events, "user_id", "ts", "event_id", 30).count() === 0)
    assert(EventOps.topPaths(events, "user_id", "ts", "event_id", 30, 2, 5).count() === 0)
    assert(EventOps.retention(e, "user_id", "ts").count() === 0)
    val f = EventOps.funnel(events, "user_id", "ts", "event_id", 30, Seq("a", "b"))
      .collect()
    assert(f.length === 2 && f.forall(_.getLong(2) === 0L)) // steps reported, zero reached
  }

  test("similarity: knn and semantic dedup on empty embeddings") {
    assert(Similarity.bruteForceKnn(emb, emb, "vec_id", "embedding", 3).count() === 0)
    assert(Similarity.cosineNearDuplicates(emb, "vec_id", "embedding", 0.9).count() === 0)
    assert(Similarity.clusterProfile(emb, "vec_id", "embedding", 50).count() === 0)
  }

  test("null text rows flow through the text surfaces without throwing") {
    val d = Seq((1L, null.asInstanceOf[String], "en", "s1"),
      (2L, "real text here", "en", "s1"))
      .toDF("doc_id", "text", "lang", "source")
    // nullable-text tolerance is a reference contract (serde Option<String>,
    // `if not row['text']` guards) — every surface must match it
    assert(NgramOps.topK(d, "text", 2, 5, uax29 = false).count() >= 1)
    assert(NgramOps.stats(d, "text", uax29 = false).head().getLong(0) === 2L)
    assert(TextQuality.gopherFilter(d, "doc_id", "text").count() === 2)
    assert(TextQuality.compressionSignals(d, "doc_id", "text").count() === 2)
    assert(TextQuality.normalizeDocs(d, "doc_id", "text").count() === 2)
    assert(Analyses.scriptFractions(d, "doc_id", "text").count() === 2)
    assert(Analyses.piiRedact(d, "doc_id", "text").count() === 2)
    assert(Dedup.keepFirst(d, md5(col("text")), Seq(col("doc_id"))).count() === 2)
    assert(MinHash.nearDuplicates(d, "doc_id", "text", 0.5).count() === 0)
    assert(graft.operators.SearchOps.concordance(d, "doc_id", "text", "text").count() === 1)
    assert(Pipeline.corpusReport(d, "text").count() >= 6)
  }

  test("corpus diff / incremental refresh: empty on either or both sides") {
    val nonEmpty = Seq((1L, "a", "s", "s", "x")).toDF("doc_id", "text", "lang", "source", "x")
      .select("doc_id", "text", "lang", "source")
    // both empty → empty diff; one side empty → everything added/removed
    assert(CorpusDiff.diffDocs(docs, docs, "doc_id", "text").count() === 0)
    val allAdded = CorpusDiff.diffDocs(docs, nonEmpty, "doc_id", "text")
      .collect().map(_.getString(1)).toSeq
    assert(allAdded === Seq("added"))
    val allRemoved = CorpusDiff.diffDocs(nonEmpty, docs, "doc_id", "text")
      .collect().map(_.getString(1)).toSeq
    assert(allRemoved === Seq("removed"))
    // refresh from an empty previous release = full fresh processing
    def stage(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), length(col("text")).cast("long").as("n"))
    val out = Pipeline.incrementalRefresh(docs, nonEmpty, stage(docs),
      "doc_id", "text")(stage)
    assert(out.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((1L, 1L)))
    assert(Pipeline.incrementalRefresh(docs, docs, stage(docs), "doc_id", "text")(stage)
      .count() === 0)
  }

  test("token-budget sample on an empty corpus is empty") {
    assert(Packing.tokenBudgetSample(docs, "doc_id", "text", col("source"),
      Map("src1" -> 100L)).count() === 0)
  }

  test("index dictionary surfaces on an empty corpus: empty or zero-row, never a throw") {
    import graft.search.InvertedIndex
    val post = InvertedIndex.postings(docs, "doc_id", "text", uax29 = false)
    assert(post.count() === 0)
    assert(InvertedIndex.termsMatching(post, ".*").count() === 0)
    assert(InvertedIndex.termsFuzzy(post, "spark").count() === 0)
    val miss = InvertedIndex.countDocsMatching(post, "*", wildcard = true).head()
    assert((miss.getLong(0), miss.getLong(1), miss.getLong(2)) === ((0L, 0L, 0L)))
    // phrase-prefix keeps its one-row-per-phrase zero contract
    val pp = InvertedIndex.phrasePrefixHits(post, Seq("a b", "c"),
      uax29 = false).collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(pp === Set((0L, 0L)))
    assert(InvertedIndex.moreLikeThis(post,
      InvertedIndex.corpusNormsFromPostings(post), 1L).count() === 0)
  }

  test("round-10 second-half surfaces on empty inputs") {
    import graft.search.{InvertedIndex, Searcher}
    // paired contamination: empty corpus → 0 contaminated, pct 0
    val pc = Searcher.pairedContamination(docs, "text",
      Seq(Seq("a", "b")), uax29 = false).head()
    assert((pc.getLong(0), pc.getLong(1)) === ((1L, 0L)))
    assert(Searcher.countPerExample(docs, "text", Seq(Seq("a", "b")),
      uax29 = false).head().getLong(1) === 0L)
    val post = InvertedIndex.postings(docs, "doc_id", "text", uax29 = false)
    val pci = InvertedIndex.pairedContaminationIndexed(post,
      Seq(Seq("a", "b")), uax29 = false).head()
    assert((pci.getLong(0), pci.getLong(1)) === ((1L, 0L)))
    // analyzer on an empty frame / upsample on an empty corpus
    assert(docs.select(graft.functions.TextFunctions.esAnalyzeText(
      col("text"))).count() === 0)
    assert(Analyses.mixtureUpsample(docs, col("doc_id"), col("source"),
      "text", Map("src1" -> 1.0), 100L).count() === 0)
  }

  test("significant terms and PCA on empty inputs") {
    import graft.search.InvertedIndex
    val post = InvertedIndex.postings(docs, "doc_id", "text", uax29 = false)
    val norms = InvertedIndex.corpusNorms(docs, "text", uax29 = false)
    for (h <- Seq("jlh", "chi2", "mi"))
      assert(InvertedIndex.significantTerms(post, norms,
        docs.select("doc_id"), k = 5, heuristic = h).count() === 0)
    assert(Pca.moments(emb, "embedding").head().getLong(0) === 0L)
    assert(Pca.covarianceMatrix(emb, "embedding").count() === 0)
    intercept[IllegalArgumentException] { Pca.fit(emb, "embedding", 1) }
  }

  test("feature hash, rrf fusion, ann index on empty inputs") {
    import graft.search.{AnnIndex, Searcher}
    assert(FeatureHash.hashedEmbeddings(docs, "doc_id", "text", dim = 8)
      .count() === 0)
    val noRank = Seq.empty[(Long, Long)].toDF("doc_id", "rank")
    assert(Searcher.rrfFuse(Seq(noRank, noRank), topK = 5).count() === 0)
    // an empty corpus selects zero centroids — both tiers' builds FAIL
    // FAST instead of persisting an empty index without a word
    graft.search.Swap.drop(spark, "empty_ann_idx",
      "empty_ann_idx__centroids", "empty_ann_idx__meta")
    intercept[IllegalArgumentException] {
      AnnIndex.writeIvfIndex(emb, "vec_id", "embedding", step = 10,
        table = "empty_ann_idx", buckets = 2, force = true)
    }
    intercept[IllegalArgumentException] {
      AnnIndex.writeIvfPqIndex(emb, "vec_id", "embedding", step = 10,
        m = 2, table = "empty_ann_idx", buckets = 2, force = true)
    }
    // EMPTY QUERIES against a real index → empty result, no throw
    val two = Seq((0L, Array.fill(4)(1.0f)), (1L, Array.fill(4)(0.5f)))
      .toDF("vec_id", "embedding")
    AnnIndex.writeIvfIndex(two, "vec_id", "embedding", step = 2,
      table = "empty_ann_idx", buckets = 2, force = true)
    assert(AnnIndex.ivfKnnIndexed(spark, "empty_ann_idx",
      two.where(col("vec_id") < 0), "vec_id", "embedding", k = 3)
      .count() === 0)
    graft.search.Swap.drop(spark, "empty_ann_idx",
      "empty_ann_idx__centroids", "empty_ann_idx__meta")
  }

  test("keep-best, exact re-rank, minhash index on empty inputs") {
    import graft.operators.Similarity
    // no pairs → everything survives; empty docs → empty out
    val pairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.keepBestInCluster(docs, "doc_id", pairs,
      length(col("text"))).count() === 0)
    val two = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    assert(Dedup.keepBestInCluster(two, "doc_id", pairs, length(col("text")))
      .count() === 2)
    // empty candidate frame → empty re-rank; empty queries → empty
    val vecs = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val noCand = Seq.empty[(Long, Long)].toDF("query_id", "neighbor_id")
    assert(Similarity.rerankExact(vecs, vecs, "vec_id", "embedding",
      noCand, k = 3).count() === 0)
    // minhash index over an EMPTY corpus builds an empty (but queryable)
    // band table — unlike ANN there is no centroid selection to fail on
    graft.search.Swap.drop(spark, "empty_mh_idx", "empty_mh_idx__meta")
    graft.search.MinHashIndex.writeMinHashIndex(docs, "doc_id", "text",
      "empty_mh_idx", md5Parity = true, force = true)
    val bench = Seq((9L, "a b c d e f")).toDF("bid", "btext")
    assert(graft.search.MinHashIndex.crossCandidatesIndexed(spark,
      "empty_mh_idx", bench, "bid", "btext").count() === 0)
    // an EMPTY benchmark against a real index drops nothing
    val corpus = Seq((1L, "a b c d e f g"), (2L, "h i j k l m n"))
      .toDF("doc_id", "text")
    graft.search.MinHashIndex.writeMinHashIndex(corpus, "doc_id", "text",
      "empty_mh_idx", md5Parity = true, force = true)
    val noBench = Seq.empty[(Long, String)].toDF("bid", "btext")
    assert(graft.search.MinHashIndex.decontaminateIndexed(spark,
      "empty_mh_idx", corpus, "doc_id", "text", noBench, "bid", "btext",
      threshold = 0.5).count() === 2)
    graft.search.Swap.drop(spark, "empty_mh_idx", "empty_mh_idx__meta")
  }

  test("span decontamination on empty train and empty benchmark") {
    assert(Dedup.removeContaminatedSpans(docs, "doc_id", "text",
      docs, "text", k = 3).count() === 0)
    val train = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val out = Dedup.removeContaminatedSpans(train, "doc_id", "text",
      docs, "text", k = 3).head()
    assert(out.getString(1) === "a b c d" && out.getLong(3) === 4L)
  }

  test("mojibake repair on empty frames, empty strings, and null text") {
    assert(TextQuality.fixMojibakeDocs(docs, "doc_id", "text").count() === 0)
    val edge = Seq((1L, ""), (2L, "plain")).toDF("doc_id", "text")
      .union(Seq((3L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val out = TextQuality.fixMojibakeDocs(edge, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out(0).getString(1) === "" && !out(0).getBoolean(2))
    assert(out(1).getString(1) === "plain")
    assert(out(2).isNullAt(1) && out(2).isNullAt(2)) // null propagates
  }

  test("r11 surfaces: ingest --follow with zero-doc drops is a routine no-op") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("empty_ingest_follow").toString
    Files.createDirectories(Paths.get(s"$root/drop"))
    // an empty GLOB (no shards yet) is the routine empty poll
    Cli.run(spark, Array("ingest", s"$root/drop/*.jsonl", "--follow", s"$root/state"))
    // a ZERO-DOC shard forms a zero-survivor batch without bricking the dir
    Files.write(Paths.get(s"$root/drop/empty.jsonl"), "".getBytes("UTF-8"))
    Cli.run(spark, Array("ingest", s"$root/drop/*.jsonl", "--follow", s"$root/state"))
    Cli.run(spark, Array("ingest", s"$root/drop/*.jsonl", "--follow", s"$root/state"))
    // a later REAL drop still ingests normally (state not poisoned)
    val good = ("the" +: (1 to 58).map(i => s"w$i") :+ "and").mkString(" ")
    Files.write(Paths.get(s"$root/drop/real.jsonl"),
      (s"""{"text":"$good"}""" + "\n").getBytes("UTF-8"))
    Cli.run(spark, Array("ingest", s"$root/drop/*.jsonl", "--follow", s"$root/state"))
    val batches = new java.io.File(s"$root/state/data").listFiles()
      .filter(_.getName.startsWith("batch-")).map(_.toString).toSeq
    assert(graft.sources.Corpus.readJsonl(spark, batches)
      .where(col("text") === good).count() === 1L)
  }

  test("r11 surfaces: ann --follow with an empty drop directory") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("empty_ann_follow").toString
    Files.createDirectories(Paths.get(s"$root/drop"))
    graft.search.Swap.drop(spark, "empty_ann_follow_t",
      "empty_ann_follow_t__centroids", "empty_ann_follow_t__meta")
    // empty glob: no new shards, no index, no throw — and the state dir
    // is NOT bricked for the later first real batch
    Cli.run(spark, Array("ann", s"$root/drop/*.jsonl", "--table",
      "empty_ann_follow_t", "--follow", s"$root/state", "--step", "1",
      "--buckets", "4"))
    // a zero-row shard defers the id-mode pin and builds nothing
    Files.write(Paths.get(s"$root/drop/empty.jsonl"), "".getBytes("UTF-8"))
    Cli.run(spark, Array("ann", s"$root/drop/*.jsonl", "--table",
      "empty_ann_follow_t", "--follow", s"$root/state", "--step", "1",
      "--buckets", "4"))
    // the first REAL batch after empty polls builds the index normally
    Files.write(Paths.get(s"$root/drop/real.jsonl"),
      ("""{"text":"alpha bravo charlie delta"}""" + "\n").getBytes("UTF-8"))
    Cli.run(spark, Array("ann", s"$root/drop/*.jsonl", "--table",
      "empty_ann_follow_t", "--follow", s"$root/state", "--step", "1",
      "--buckets", "4"))
    assert(spark.table("empty_ann_follow_t").count() === 1L)
    graft.search.Swap.drop(spark, "empty_ann_follow_t",
      "empty_ann_follow_t__centroids", "empty_ann_follow_t__meta")
  }

  test("r11 surfaces: grouped significance with an empty foreground; empty url list") {
    import graft.search.InvertedIndex
    val d = Seq((1L, "alpha bravo", "s1"), (2L, "charlie delta", "s2"))
      .toDF("doc_id", "text", "source")
    val post = InvertedIndex.postings(d, "doc_id", "text", uax29 = false)
    val norms = InvertedIndex.corpusNorms(d, "text", uax29 = false)
    // an EMPTY docGroups frame: zero rows out, no throw
    val noGroups = Seq.empty[(Long, String)].toDF("doc_id", "group")
    assert(InvertedIndex.significantTermsByGroup(post, norms, noGroups,
      k = 5, minDocCount = 1).count() === 0)
    // a group whose docs have NO postings (out-of-corpus ids): that group
    // simply produces no rows; populated groups are unaffected
    val ghost = Seq((99L, "ghost"), (1L, "real")).toDF("doc_id", "group")
    val got = InvertedIndex.significantTermsByGroup(post, norms, ghost,
      k = 5, minDocCount = 1).select("group").distinct()
      .collect().map(_.getString(0)).toSet
    assert(got === Set("real"))
    // an empty URL list is a no-op fetch, not a throw
    val out = java.nio.file.Files.createTempDirectory("empty_urls").toString
    val r = graft.sources.Corpus.ingestFromManifest(spark, Nil, out)
    assert(r.fetched.isEmpty && r.failed.isEmpty && r.skippedDone === 0L)
  }

  test("round-12 curation surfaces on empty corpora") {
    assert(Dedup.removeRepeatedSentences(docs, "doc_id", "text").count() === 0)
    assert(Dedup.repeatedSentenceHashes(docs, "doc_id", "text").count() === 0)
    assert(Similarity.kCenterSelect(
      Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding"),
      "vec_id", "embedding", k = 3).count() === 0)
    assert(graft.Pipeline.removeBoilerplateSentences(docs, "doc_id", "text")
      .count() === 0)
  }

  test("consolidateShards: an empty input dir is a loud error, not silence") {
    val d = java.nio.file.Files.createTempDirectory("cons_empty")
    val out = java.nio.file.Files.createTempDirectory("cons_empty_out")
    intercept[IllegalArgumentException] {
      graft.sources.Corpus.consolidateShards(spark, d.toString, out.toString)
    } // same contract as the reader's S2 empty-match check
  }
}
