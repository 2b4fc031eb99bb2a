package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One-command scale rehearsal: replicate the sf0.1 tables 10× on disk
  * (ids shifted so they stay unique — a real multi-file parquet corpus,
  * not a union plan) and run the headline paths once at that scale,
  * reporting wall time, task-metric shuffle bytes, spill, and peak JVM
  * heap. Turns the 100 TB plan-shape arguments into a measured trend
  * point: sf0.1 → sf1 should scale ~linearly in input bytes with shuffle
  * bytes staying input-proportional (anything superlinear is a blow-up a
  * 1000-executor run would hit at fatal size).
  *
  *   sbt "runMain graft.tools.ScaleRehearsal [sfDir] [replicas] [workDir] [path,path,...]"
  */
object ScaleRehearsal {

  private def gb(x: Long): String = f"${x / 1073741824.0}%7.3f"

  def main(rawArgs: Array[String]): Unit = {
    // --zipf swaps the replicated documents table for a generated
    // Zipf-vocabulary corpus (see zipfCorpus below): the sf0.1 synthetic
    // corpus has a ~31-term vocabulary where every term's df ≈ 0.8N, so
    // every MLT/significant-terms measurement on it is adversarial by
    // construction (all profile terms are stopwords). The Zipf fixture
    // has the df profile real text has — a few true stopwords, a long
    // selective tail — so the ES-floor/df-cap wins are measured on both.
    val zipf = rawArgs.contains("--zipf")
    val args = rawArgs.filterNot(_ == "--zipf")
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val replicas = args.lift(1).map(_.toInt).getOrElse(10)
    val work = args.lift(2).getOrElse("/tmp/scale_rehearsal")
    val spark = graft.Sessions.local(graft.Sessions.tempWarehouse)
    spark.sparkContext.setLogLevel("ERROR")
    val probe = ProbeListener.attach(spark)

    // ---- materialize the replicated corpus (id-shifted per replica) ----
    def replicate(table: String, idCol: String): String = {
      val outPath = s"$work/${table}_x$replicas.parquet"
      if (!new java.io.File(outPath).exists()) {
        val base = spark.read.parquet(s"$sfDir/$table.parquet")
        val maxId = base.agg(max(col(idCol))).head().getLong(0) + 1L
        // cross join with the replica range, not an N-way union: a
        // 1000-way union is a depth-1000 plan the analyzer chews on for
        // minutes; the join is one scan × a broadcast 1-column range
        base.crossJoin(
            spark.range(replicas).select(col("id").as("__replica")))
          .withColumn(idCol, col(idCol) + col("__replica") * lit(maxId))
          .drop("__replica")
          // the union shape wrote ~one file per replica; keep a
          // comparable split count so downstream scans parallelize
          .repartition(math.min(256, math.max(32, replicas)))
          .write.mode("overwrite").parquet(outPath)
      }
      outPath
    }
    // Zipf-vocabulary generated corpus: 70% of positions draw a
    // background rank via rank = V^u with u uniform per (doc, position)
    // hash — the s≈1 Zipf CDF inversion (P(rank ≤ r) = ln r / ln V), so
    // "w1" is a true stopword and the tail is selective; the other 30%
    // draw from the doc's 8-word TOPIC set (4,999 topics, ~replica-count
    // docs per topic) — the burstiness real text has, giving MLT
    // profiles their within-doc tf ≥ 2 terms with moderate df (the
    // regime the ES floors/caps are FOR, instead of the all-stopword
    // vocab-31 regime). Deterministic (hash-seeded), sized to match the
    // replicated table (5k docs per sf0.1 replica, 20–139 tokens per
    // doc), same (doc_id, source, text) schema.
    def zipfCorpus(): String = {
      val outPath = s"$work/documents_zipf_x$replicas.parquet"
      if (!new java.io.File(outPath).exists()) {
        val n = 5000L * replicas
        val v = 50000
        spark.range(n).select(
          col("id").as("doc_id"),
          concat(lit("src"), (col("id") % 20).cast("string")).as("source"),
          expr(s"concat_ws(' ', transform(sequence(1, " +
            "20 + cast(pmod(xxhash64(id), 120) as int)), " +
            "i -> CASE WHEN pmod(xxhash64(id * 31 + i), 10) < 3 " +
            "THEN concat('t', pmod(xxhash64(id), 4999) * 8 + " +
            "pmod(xxhash64(id * 1048573 + i), 8)) " +
            s"ELSE concat('w', cast(pow($v, " +
            "pmod(xxhash64(id * 1048573 + i), 1000000) / 1000000.0) " +
            "as bigint)) END))").as("text"))
          .write.mode("overwrite").parquet(outPath)
      }
      outPath
    }
    val docsPath = if (zipf) zipfCorpus() else replicate("documents", "doc_id")
    val embPath = replicate("embeddings", "vec_id")
    def docs: DataFrame = spark.read.parquet(docsPath)
    def emb: DataFrame = spark.read.parquet(embPath)
    val nDocs = docs.count()
    val nVecs = emb.count()
    val fixture = if (zipf) "zipf-vocab" else "replicated"
    println(s"corpus: $nDocs docs, $nVecs vectors ($replicas x $sfDir, fixture=$fixture)")

    val only: Set[String] = args.lift(3).map(_.split(",").toSet).getOrElse(Set.empty)
    def run(name: String)(body: => Long): Unit = {
      if (only.nonEmpty && !only.contains(name)) return
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      System.gc()
      val (rows, sec, c) = probe.measure(body)
      val heap = java.lang.management.ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getUsed
      println(f"$name%-28s $sec%8.2f s  rows=$rows%-9d in=${gb(c.inputBytes)} GB " +
        f"shufW=${gb(c.shuffleWrite)} GB spill=${gb(c.spill)} GB " +
        f"tasks=${c.tasks}%-6d heapUsed=${gb(heap)} GB " +
        f"docs_per_sec=${nDocs / sec}%.0f")
    }

    // ---- headline paths ----
    run("topk_3gram") {
      graft.operators.NgramOps.topK(docs, "text", n = 3, k = 20,
        uax29 = false).count()
    }
    run("minhash_lsh_end_to_end") {
      graft.operators.MinHash.nearDuplicates(docs, "doc_id", "text",
        threshold = 0.5, w = 5, k = 8, bands = 4,
        hash = graft.operators.MinHash.xxhashStrategy).count()
    }
    run("index_build_bucketed") {
      spark.sql("DROP TABLE IF EXISTS scale_idx")
      graft.search.InvertedIndex.writeIndex(
        graft.search.InvertedIndex.postings(docs, "doc_id", "text",
          uax29 = false), "scale_idx", buckets = 32, force = true)
      // norms persisted WITH the build (r15): the one-row BM25 constant
      // every scoring query needs — paying it here is what lets the MLT/
      // significant-terms rows below skip their per-query index-wide pass
      graft.search.InvertedIndex.persistNorms(spark, "scale_idx")
      spark.table("scale_idx").count()
    }
    run("indexed_batch_500") {
      val top = graft.operators.NgramOps.topK(docs, "text", 2, 500,
        uax29 = false).collect().map(_.getString(0)).toSeq
      graft.search.InvertedIndex.phraseHits(
        graft.search.InvertedIndex.readIndex(spark, "scale_idx"), top,
        uax29 = false).count()
    }
    // battery-scale scan-tier contamination (the MultiPhrasesFound wide
    // arm): an 8k-phrase battery — corpus-derived hits at two offsets
    // plus unseen fillers, the realistic benchmark-suite mix — counted in
    // ONE document walk per row; the only shuffle is (idx, count). The
    // per-column shape this replaces is O(P) per row AND per plan
    // (70x at P=4096 on the UNreplicated corpus, SCALE.md's search-surface
    // row; at 8k it would not finish a rehearsal).
    run("wide_battery_8k") {
      val toksOf = split(col("text"), " ")
      val base = spark.read.parquet(s"$sfDir/documents.parquet")
      val real = Seq(1, 6).flatMap { off =>
        base.where(size(toksOf) >= off + 4)
          .select(concat_ws(" ", slice(toksOf, off, 5)).as("p"))
          .distinct().collect().map(_.getString(0))
      }.distinct.sorted
      val battery = (real ++
        (real.length until 8192).map(i => s"unseen battery filler $i")).take(8192)
      // sum the counts, don't count() the frame: the zero-hit left join
      // keys on a DISTINCT aggregate, so a bare count() lets Catalyst
      // eliminate the join AND the corpus scan under it (measured: same
      // 1.2 s / 39 tasks at 10x and 100x — a rehearsal of nothing)
      graft.search.Searcher.countPerPhrase(docs, "text", battery,
        uax29 = false).agg(sum("n_docs")).collect().head.getLong(0)
    }
    // the same arm at 64k phrases (r15: the trie walker makes the
    // per-anchor cost prefix-shared, so even a battery of shared-prefix
    // variants — the adversarial construction that cost 12 s pre-trie,
    // SCALE.md's wide-battery row — stays at single-battery cost;
    // broadcast payload O(P·len) ≈ 2 MB, trie heap ~250 MB
    // driver-measured at 64k)
    run("wide_battery_64k") {
      val toksOf = split(col("text"), " ")
      val base = spark.read.parquet(s"$sfDir/documents.parquet")
      val real = Seq(1, 6).flatMap { off =>
        base.where(size(toksOf) >= off + 4)
          .select(concat_ws(" ", slice(toksOf, off, 5)).as("p"))
          .distinct().collect().map(_.getString(0))
      }.distinct.sorted
      val battery = (Iterator.continually(real).flatten.take(65536)).toSeq
        .zipWithIndex
        .map { case (s, i) => if (i < real.length) s else s"$s z$i" }
      graft.search.Searcher.countPerPhrase(docs, "text", battery,
        uax29 = false).agg(sum("n_docs")).collect().head.getLong(0)
    }
    // the conjunction sibling at the same scale: 4,096 (q, a) examples —
    // 3-token + 2-token corpus prefixes — through MultiExamplesMatched
    // (one walk over the distinct FIELD set + the fan-out counters)
    run("wide_paired_4k") {
      val toksOf = split(col("text"), " ")
      val base = spark.read.parquet(s"$sfDir/documents.parquet")
      val real = base.where(size(toksOf) >= 5)
        .select(concat_ws(" ", slice(toksOf, 1, 3)).as("q"),
          concat_ws(" ", slice(toksOf, 4, 2)).as("a"))
        .distinct().collect().map(r => Seq(r.getString(0), r.getString(1)))
      val examples = (real.toSeq ++
        (real.length until 4096).map(i => Seq(s"unseen q$i", s"unseen a$i")))
        .take(4096)
      graft.search.Searcher.countPerExample(docs, "text", examples,
        uax29 = false).agg(sum("n_docs")).collect().head.getLong(0)
    }
    run("ivfpq_topk") {
      graft.operators.Similarity.ivfPqKnn(emb,
        emb.where(col("vec_id") % (100L * replicas) === 0), "vec_id",
        "embedding", k = 10, step = 100 * replicas, nprobe = 3, m = 8,
        codeStep = 50 * replicas).count()
    }
    // near-dup clustering over the replicated corpus: every doc now has
    // (replicas-1) identical twins, so the pair graph is ~45x the base
    // corpus's — exercises the CC size gate with a realistically fat
    // edge list (and the distributed path beyond it)
    run("cc_clusters") {
      val pairs = graft.operators.MinHash.nearDuplicates(docs, "doc_id",
        "text", threshold = 0.5, w = 5, k = 8, bands = 4,
        hash = graft.operators.MinHash.xxhashStrategy)
      graft.operators.Dedup.connectedComponents(pairs).count()
    }
    // r12 curation operators at replicated scale
    run("sentence_dedup") {
      // the filter forces the df-count + removal pipeline: a bare count()
      // is answered by left-join elimination without running anything
      graft.operators.Dedup.removeRepeatedSentences(
        docs.withColumn("text", regexp_replace(col("text"),
          "([^ ]+( [^ ]+){6}) ", "$1. ")), "doc_id", "text")
        .where(col("n_sentences_kept") < col("n_sentences")).count()
    }
    // surgical span decontamination at replicated scale: the benchmark
    // side stays base-corpus-sized (one replica's worth of docs) while
    // train grows with the replicas — the production shape. The filter
    // forces the hit join + rewrite, not a join-eliminated count.
    run("span_decontaminate") {
      val bench = docs.where(col("doc_id") % (20L * replicas) === 0)
        .select(col("text"))
      graft.operators.Dedup.removeContaminatedSpans(
        docs, "doc_id", "text", bench, "text", k = 8)
        .where(col("n_tokens_kept") < col("n_tokens")).count()
    }
    run("kcenter_select_k5") {
      graft.operators.Similarity.kCenterSelect(emb, "vec_id", "embedding",
        k = 5).count()
    }
    run("kcenter_select_k64") {
      graft.operators.Similarity.kCenterSelect(emb, "vec_id", "embedding",
        k = 64).count()
    }
    // SemDeDup end-to-end at replicated scale: FIXED step, so the centroid
    // count grows with the corpus (the realistic index posture) and bucket
    // sizes stay bounded; every vector has (replicas-1) exact twins, so
    // the pair graph and the representative-keep probe both carry a
    // replication-pathology load
    run("semantic_dedup") {
      graft.operators.Similarity.semanticDedup(emb, "vec_id", "embedding",
        threshold = 0.35, step = 50).count()
    }
    // the SAME adversarial corpus through the Pipeline rung with the
    // r15 exact-first default: every (replicas)-member exact clique
    // collapses in one narrow window pass BEFORE the pair graph exists —
    // the designed mitigation for the row above, now the default
    run("semantic_dedup_pipeline") {
      graft.Pipeline.dedupSemantic(emb, "vec_id", "embedding",
        threshold = 0.35, centroidStep = 50).count()
    }
    run("cluster_sample") {
      graft.operators.Similarity.clusterBalancedSample(emb, "vec_id",
        "embedding", step = 50 * replicas, perCluster = 5).count()
    }
    // r14: the coarse-assignment rows — a REAL consumer
    // (clusterBalancedSample, whose cost is dominated by the assignment
    // scan, unlike SemDeDup whose replicated-twin clique graph drowns
    // the signal) with the centroid count pushed into the ≫10⁴ regime
    // the two-level kernel exists for: step sized to ~12.5k centroids at
    // the current replica count. Three rows record the dial the same way
    // every other operator is recorded: gate DISABLED (flat kernel — the
    // r13 baseline), gate engaged at the default full-recall probe width
    // (results-neutral), gate engaged at probes=4 (the 5.7–6× point of
    // SCALE.md's two-level IVF assignment row).
    locally {
      val stepC = math.max(1, (nVecs / 12500L).toInt)
      val gateConf = graft.operators.Similarity.CoarseGateConf
      val probesConf = graft.operators.Similarity.CoarseProbesConf
      run("cluster_sample_12k_flat") {
        spark.conf.set(gateConf, Int.MaxValue.toString)
        try graft.operators.Similarity.clusterBalancedSample(emb, "vec_id",
          "embedding", step = stepC, perCluster = 5).count()
        finally spark.conf.unset(gateConf)
      }
      run("cluster_sample_12k_coarse_full") {
        graft.operators.Similarity.clusterBalancedSample(emb, "vec_id",
          "embedding", step = stepC, perCluster = 5).count()
      }
      run("cluster_sample_12k_coarse_p4") {
        spark.conf.set(probesConf, "4")
        try graft.operators.Similarity.clusterBalancedSample(emb, "vec_id",
          "embedding", step = stepC, perCluster = 5).count()
        finally spark.conf.unset(probesConf)
      }
    }
    run("keep_first_dedup") {
      graft.operators.Dedup.keepFirst(docs, md5(col("text")),
        Seq(col("doc_id"))).count()
    }
    // the composed ingestion batch (CLI ingest --follow semantics, the
    // r_ingest_pipeline oracle): gate fused into the scan, one corpus
    // shuffle (keep-first window), broadcast anti decontamination
    run("ingest_pipeline") {
      val gated = graft.operators.TextQuality.gopherFilter(docs, "doc_id",
          "text", passthrough = Seq("text"))
        .where(col("keep")).select("doc_id", "text")
      val deduped = graft.operators.Dedup.keepFirst(gated, md5(col("text")),
        Seq(col("doc_id")))
      graft.operators.Dedup.decontaminate(deduped, md5(col("text")),
        docs.where(col("doc_id") % 97 === 0), md5(col("text"))).count()
    }
    run("corpus_diff_summary") {
      val old = docs.where(col("doc_id") % 11 =!= 0)
      val nw = docs.where(col("doc_id") % 13 =!= 0)
        .withColumn("text", when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" rev1"))).otherwise(col("text")))
      graft.operators.CorpusDiff.diffSummary(old, nw, "doc_id", "text").count()
    }
    // realistic monthly-crawl churn (~0.6%: 1/997 removed + 1/199 edited):
    // the delta tokenize shrinks ~50x vs index_refresh's heavy-churn row,
    // leaving the bucketed rewrite as the floor. NB both refresh rows
    // diff against `docs` — exact when run standalone; in a chained run
    // the second refresh's old-snapshot is ~0.1% stale (already-deleted
    // ids anti-join to nothing), which moves timings by nothing
    run("index_refresh_light") {
      val nw = docs.where(col("doc_id") % 997 =!= 0)
        .withColumn("text", when(col("doc_id") % 199 === 0,
          concat(col("text"), lit(" rev1"))).otherwise(col("text")))
      graft.search.InvertedIndex.refreshIndex(spark, "scale_idx", docs, nw,
        "doc_id", "text", buckets = 32, uax29 = false)
      spark.table("scale_idx").count()
    }
    // diff-driven refresh of the bucketed index built above: ~1/13 of docs
    // removed + ~1/5 edited — the delta postings build + one
    // compaction-grade rewrite, vs index_build_bucketed's full tokenize
    run("index_refresh") {
      val nw = docs.where(col("doc_id") % 13 =!= 0)
        .withColumn("text", when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" rev1"))).otherwise(col("text")))
      graft.search.InvertedIndex.refreshIndex(spark, "scale_idx", docs, nw,
        "doc_id", "text", buckets = 32, uax29 = false)
      spark.table("scale_idx").count()
    }
    // dictionary + relevance queries answered off the SAVED bucketed index
    // (scale_idx from index_build_bucketed): regexp and fuzzy scan the
    // postings with scan-level filters; MLT is two pruned reads + a
    // bounded collect of one doc's vocabulary
    def savedIndex = graft.search.InvertedIndex.readIndex(spark, "scale_idx")
    // fixture-appropriate probes: the replicated corpus has prose-ish
    // tokens (s-words exist), the Zipf fixture's vocabulary is wN/tN
    run("index_regexp_terms") {
      graft.search.InvertedIndex.termsMatching(savedIndex,
        if (zipf) "w1[0-9]+" else "s[a-z]+").count()
    }
    run("index_fuzzy_terms") {
      graft.search.InvertedIndex.termsFuzzy(savedIndex,
        if (zipf) "w1234" else "sprak").count()
    }
    run("index_mlt") {
      val post = savedIndex
      graft.search.InvertedIndex.moreLikeThis(post,
        graft.search.InvertedIndex.normsOf(spark, "scale_idx", post),
        42L, 10, 10).count()
    }
    // r14: the df-CEILING row — on this synthetic corpus every profile
    // term is effectively a stopword (df ≈ nDocs), so unbounded MLT's
    // BM25 join aggregates nearly every document; max_doc_freq at 10% of
    // the corpus caps the candidate shuffle at the profile's actual
    // discriminative terms (ES's own dial for exactly this)
    run("index_mlt_dfcap") {
      val post = savedIndex
      graft.search.InvertedIndex.moreLikeThis(post,
        graft.search.InvertedIndex.normsOf(spark, "scale_idx", post),
        42L, 10, 10, maxDocFreq = nDocs / 10).count()
    }
    run("index_mlt_text") {
      val post = savedIndex
      val like = docs.where(col("doc_id") === 42L).head().getAs[String]("text")
      graft.search.InvertedIndex.moreLikeThisText(post,
        graft.search.InvertedIndex.normsOf(spark, "scale_idx", post),
        like, uax29 = false, maxQueryTerms = 10, k = 10,
        excludeId = Some(42L)).count()
    }
    run("vocab_growth") {
      graft.operators.NgramOps.vocabGrowth(docs, "doc_id", "text",
        checkpoints = 10, uax29 = false).count()
    }
    run("unigram_divergence") {
      val old = docs.where(col("doc_id") % 11 =!= 0)
      val nw = docs.where(col("doc_id") % 13 =!= 0)
        .withColumn("text", when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" rev1"))).otherwise(col("text")))
      graft.operators.TextQuality.unigramDivergence(old, nw, "text").count()
    }
    run("embedding_drift") {
      graft.operators.Similarity.embeddingDrift(
        emb.where(col("vec_id") % 2 === 0),
        emb.where(col("vec_id") % 2 =!= 0), "embedding").count()
    }
    run("mixture_upsample") {
      // up-weight one source (1/20 of docs) hard enough that the output is
      // roughly corpus-sized at ANY replica count (~22 epochs of src10) —
      // the explode cost, not the plan agg, is what should scale
      val budget = nDocs * 60L
      graft.operators.Analyses.mixtureUpsample(docs, col("doc_id"),
        col("source"), "text", Map("src10" -> 1.0), budget).count()
    }
    run("significant_terms") {
      // JLH off the bucketed index: foreground = one source (1/20 of docs)
      val idx = graft.search.InvertedIndex.readIndex(spark, "scale_idx")
      graft.search.InvertedIndex.significantTerms(idx,
        graft.search.InvertedIndex.normsOf(spark, "scale_idx", idx),
        docs.where(col("source") === "src10").select("doc_id"),
        k = 25).count()
    }
    run("ann_index_build") {
      // persisted IVF index: one assignment scan + bucketed layout write.
      // step is ODDIZED off the replica multiple: the replicated id space
      // repeats every maxId, so a step that divides into it samples the
      // SAME base vector for every centroid (measured at 1000×: all 40
      // "centroids" were replicas of base id 0, the whole index collapsed
      // into 3 buckets, and the query row degraded to a 40M-candidate
      // window sort — a fixture degeneracy, but exactly what a REAL
      // corpus with a degenerate centroid sample would do; bucket balance
      // is the IVF query-cost guard, kmeansCentroids the upgrade)
      graft.search.Swap.drop(spark, "scale_ann_idx",
        "scale_ann_idx__centroids", "scale_ann_idx__meta")
      graft.search.AnnIndex.writeIvfIndex(emb, "vec_id", "embedding",
        step = 50 * replicas + 1, table = "scale_ann_idx", buckets = 32,
        force = true)
      spark.table("scale_ann_idx").count()
    }
    run("ann_index_query") {
      // the query half alone: probed-bucket reads off the saved table —
      // the repeated-batch cost the per-call ivfKnn pays a corpus
      // assignment for every time
      graft.search.AnnIndex.ivfKnnIndexed(spark, "scale_ann_idx",
        emb.where(col("vec_id") % (100L * replicas) === 0), "vec_id",
        "embedding", k = 10, nprobe = 3).count()
    }
    // r16: the r15-recorded degeneracy built ON PURPOSE (step divides the
    // replica period, so every sampled centroid is a replica of base
    // vector 0 — the collapse that cost the query row 114.9 s) with the
    // build-time balance guard now active: the row measures detect +
    // recover (one bucket-column agg, salted-hash reseed, 2 Lloyd scans,
    // rewrite); the query row after it must be healthy, not the cliff
    run("ann_index_build_degenerate") {
      graft.search.Swap.drop(spark, "scale_ann_degen",
        "scale_ann_degen__centroids", "scale_ann_degen__meta")
      graft.search.AnnIndex.writeIvfIndex(emb, "vec_id", "embedding",
        step = 50 * replicas, table = "scale_ann_degen", buckets = 32,
        force = true)
      spark.table("scale_ann_degen").count()
    }
    run("ann_index_query_degenerate") {
      graft.search.AnnIndex.ivfKnnIndexed(spark, "scale_ann_degen",
        emb.where(col("vec_id") % (100L * replicas) === 0), "vec_id",
        "embedding", k = 10, nprobe = 3).count()
    }
    // r17: the PQ persisted tier at scale — healthy build/query pair,
    // then the SAME deliberate degeneracy as ann_index_build_degenerate
    // through writeIvfPqIndex, whose guard now RECOVERS (reseed + Lloyd +
    // re-encode; the codes are residual-free so only the bucket column
    // changes) instead of warning. The query row after it must be
    // healthy, not the corpus-sized-bucket cliff.
    def tableBytes(name: String): Long = {
      val p = graft.search.Swap.dir(spark, name)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength
    }
    def resetPq(t: String): Unit = graft.search.Swap.drop(spark, t,
      s"${t}__centroids", s"${t}__codebook", s"${t}__meta")
    run("ann_pq_index_build") {
      resetPq("scale_annpq_idx")
      graft.search.AnnIndex.writeIvfPqIndex(emb, "vec_id", "embedding",
        step = 50 * replicas + 1, m = 8, table = "scale_annpq_idx",
        buckets = 32, codeStep = 50 * replicas + 1, force = true)
      println(s"  scale_annpq_idx bytes=${tableBytes("scale_annpq_idx")} " +
        s"(plain scale_ann_idx bytes=${tableBytes("scale_ann_idx")})")
      spark.table("scale_annpq_idx").count()
    }
    run("ann_pq_index_query") {
      graft.search.AnnIndex.ivfPqKnnIndexed(spark, "scale_annpq_idx",
        emb.where(col("vec_id") % (100L * replicas) === 0), "vec_id",
        "embedding", k = 10, nprobe = 3).count()
    }
    run("ann_pq_build_degenerate") {
      resetPq("scale_annpq_degen")
      graft.search.AnnIndex.writeIvfPqIndex(emb, "vec_id", "embedding",
        step = 50 * replicas, m = 8, table = "scale_annpq_degen",
        buckets = 32, codeStep = 50 * replicas + 1, force = true)
      spark.table("scale_annpq_degen").count()
    }
    run("ann_pq_query_degenerate") {
      graft.search.AnnIndex.ivfPqKnnIndexed(spark, "scale_annpq_degen",
        emb.where(col("vec_id") % (100L * replicas) === 0), "vec_id",
        "embedding", k = 10, nprobe = 3).count()
    }
    // r17: the filtered (keep-bearing) tier at scale — build overhead of
    // the denormalized metadata column (bytes + wall vs the plain build
    // above), then the filtered query at ~50% and ~0.1‰ selectivity: the
    // read must stay (nprobe/buckets) × selectivity (pushdown composing
    // with bucket pruning), and the rare row's widened twin measures the
    // one extra pruned scan the starved queries pay for full-k recall
    val rare = col("label") === 3 && col("id") % 9973 === 0
    run("ann_index_build_keep") {
      graft.search.Swap.drop(spark, "scale_ann_kidx",
        "scale_ann_kidx__centroids", "scale_ann_kidx__meta")
      graft.search.AnnIndex.writeIvfIndex(emb, "vec_id", "embedding",
        step = 50 * replicas + 1, table = "scale_ann_kidx", buckets = 32,
        force = true, keep = Seq("label"))
      println(s"  scale_ann_kidx bytes=${tableBytes("scale_ann_kidx")} " +
        s"(plain scale_ann_idx bytes=${tableBytes("scale_ann_idx")})")
      spark.table("scale_ann_kidx").count()
    }
    run("ann_query_filtered_50pct") {
      graft.search.AnnIndex.ivfKnnIndexed(spark, "scale_ann_kidx",
        emb.where(col("vec_id") % (100L * replicas) === 0), "vec_id",
        "embedding", k = 10, nprobe = 3,
        filter = Some(col("label") < 5)).count()
    }
    run("ann_query_filtered_rare") {
      graft.search.AnnIndex.ivfKnnIndexed(spark, "scale_ann_kidx",
        emb.where(col("vec_id") % (100L * replicas) === 0), "vec_id",
        "embedding", k = 10, nprobe = 3, filter = Some(rare)).count()
    }
    run("ann_query_filtered_rare_widen") {
      graft.search.AnnIndex.ivfKnnIndexed(spark, "scale_ann_kidx",
        emb.where(col("vec_id") % (100L * replicas) === 0), "vec_id",
        "embedding", k = 10, nprobe = 3, filter = Some(rare),
        widenTo = 1 << 20).count()
    }
    // r17: the persisted-tier curation reads — SemDeDup and the cluster
    // profile off the saved table (scale_ann_idx from ann_index_build,
    // already bucketed): no per-call corpus re-assignment, the pair join
    // and the profile groupBy both ride the bucket layout. The
    // replicated fixture's buckets exceed maxBucket (every vector has
    // replicas-1 exact twins), so the dedup row also exercises the
    // overflow arm's exact-dup-class bound at scale.
    run("ann_semantic_dedup_indexed") {
      graft.search.AnnIndex.semanticDedupIndexed(spark, "scale_ann_idx",
        threshold = 0.35).count()
    }
    run("ann_cluster_profile_indexed") {
      graft.search.AnnIndex.clusterProfileIndexed(spark, "scale_ann_idx")
        .count()
    }
    // r17: the maintenance lifecycle costs at scale — append assignment
    // (frozen centroids, one scan over the arrivals only), then the
    // upsert's crash-safe live rewrite (anti-join + bucketed relayout of
    // the WHOLE live table: the per-invocation cost an ingest loop pays,
    // the reason arrivals batch through appends+compact instead)
    run("ann_assign_new_batch") {
      graft.search.AnnIndex.assignNew(spark, "scale_ann_idx",
        emb.where(col("vec_id") % 997 === 0), "vec_id", "embedding")
        .count()
    }
    run("ann_upsert_batch") {
      graft.search.AnnIndex.upsertIvfIndex(spark, "scale_ann_idx",
        emb.where(col("vec_id") % 997 === 0), "vec_id", "embedding")
      spark.table("scale_ann_idx").count()
    }
    // r18: bucket-local maintenance measured at a REALISTIC list count.
    // The replica fixture has (base-table rows) distinct vectors — its
    // effective-list ceiling; step=1001 is coprime to the 2000-id replica
    // period, so the centroid sample covers ~2000 DISTINCT base vectors
    // and the per-list layout carries ~2000 inverted-list directories of
    // ~1000 rows each. The claim under test: compact cost scales with the
    // batch's BUCKET FOOTPRINT (rows in touched lists), not the table —
    // a 2k batch clustered on 50 base vectors rewrites ~50 lists (~2.5%
    // of rows), a 20k batch on 500 base vectors ~25%, and 200k uniform
    // arrivals touch every list (the table-shaped ceiling). Uniform
    // SMALL batches saturate this fixture too (2k uniform arrivals cover
    // ~all 2000 distinct vectors — the fixture ceiling); a real corpus's
    // 65k+ lists keep small batches small, and clustered arrivals are
    // the realistic ingest shape anyway (new content is bursty).
    val maintT = "scale_ann_maint"
    val maintNames = Set("ann_maint_build_2klists", "ann_compact_2k_50lists",
      "ann_compact_20k_500lists", "ann_compact_286k_alllists",
      "ann_upsert_2k_clustered", "ann_calibrate_sweep")
    if (only.isEmpty || only.exists(maintNames)) {
      def buildMaint(): Long = {
        graft.search.Swap.drop(spark, maintT, s"${maintT}__centroids",
          s"${maintT}__meta")
        graft.search.AnnIndex.writeIvfIndex(emb, "vec_id", "embedding",
          step = 1001, table = maintT, buckets = 32, force = true)
        spark.table(maintT).count()
      }
      run("ann_maint_build_2klists")(buildMaint())
      // a compact-only invocation still needs the table
      if (!spark.catalog.tableExists(maintT)) buildMaint()
      val period = 2000L // sf0.1 base-table id space (replicate() shifts by it)
      // baseSlice base vectors × every `every`-th REPLICA (filtering the
      // replica index, not vec_id % every — the latter intersects the
      // base-id residues and collapses the bucket footprint)
      def arrivals(baseSlice: Long, every: Long, shift: Long): DataFrame =
        emb.where(pmod(col("vec_id"), lit(period)) < baseSlice &&
            pmod(floor(col("vec_id") / lit(period)).cast("long"),
              lit(every)) === 0)
          .withColumn("vec_id", col("vec_id") + lit(shift))
      def compactRow(name: String, batch: DataFrame): Unit = {
        if (only.nonEmpty && !only.contains(name)) return // prep is per-row too
        // appends staged to parquet OUTSIDE the measured body (run()
        // unpersists all blocks at entry, so a pre-checkpointed frame
        // would lose its blocks) — which is also the production shape:
        // a streaming ingest's appends arrive as a parquet append dir
        val dir = s"$work/${name}_appends.parquet"
        graft.search.AnnIndex.assignNew(spark, maintT, batch,
          "vec_id", "embedding")
          .write.mode("overwrite").parquet(dir)
        val appends = spark.read.parquet(dir)
        val lists = appends.select("bucket").distinct().count()
        println(s"  $name: ${appends.count()} arrivals touching $lists lists")
        // measured body = the fold ONLY (returning the footprint size);
        // the full-table verification count below would add a
        // 2000-file metadata scan (~2000 tasks) to every row's wall
        run(name) {
          graft.search.AnnIndex.compactIvfIndex(spark, maintT,
            spark.read.parquet(dir))
          lists
        }
        println(s"  $name verified: table=${spark.table(maintT).count()}")
      }
      compactRow("ann_compact_2k_50lists", // 50 base ids × every 25th
        arrivals(50, 25, 10_000_000L))
      compactRow("ann_compact_20k_500lists", // 500 base ids × every 25th
        arrivals(500, 25, 20_000_000L))
      compactRow("ann_compact_286k_alllists", // every 7th replica of every
        // base vector (7 coprime to the 2000-id period, so the batch
        // touches every list — the table-shaped ceiling)
        arrivals(2000, 7, 40_000_000L))
      run("ann_upsert_2k_clustered") {
        // the idempotent path on the same layout: id-probe scan (cheap,
        // column-pruned, table-sized READ) + the same bucket-local fold
        // (the verification count stays outside like the compact rows)
        graft.search.AnnIndex.upsertIvfIndex(spark, maintT,
          arrivals(50, 25, 10_000_000L), "vec_id", "embedding")
        50L
      }
      if (only.isEmpty || only.contains("ann_upsert_2k_clustered"))
        println(s"  ann_upsert_2k_clustered verified: " +
          s"table=${spark.table(maintT).count()}")
      // the r18 dial-calibration curve at scale: sweep nprobe on a
      // 100-query sample against the exact ranking over the table's own
      // stored vectors (~2000 lists); the printed curve is what the ops
      // note cites — cost = |nprobes| probed batches + ONE exact scan
      run("ann_calibrate_sweep") {
        val cal = graft.search.AnnIndex.calibrateProbes(spark, maintT,
          emb.where(col("vec_id") % 19997 === 1), "vec_id", "embedding",
          k = 10, targetRecall = 0.9, nprobes = Seq(1, 2, 4, 8)).collect()
        cal.sortBy(_.getLong(0)).foreach(r => println(
          f"  calibrate nprobe=${r.getLong(0)} recall=${r.getDouble(1)}%.4f " +
            f"cand_rows=${r.getLong(2)} pick=${r.getBoolean(3)}"))
        cal.length.toLong
      }
      graft.search.Swap.drop(spark, maintT, s"${maintT}__centroids",
        s"${maintT}__meta")
    }
    run("hashed_embedding") {
      // text→vector bridge at production hash: one scan-fused kernel pass
      graft.operators.FeatureHash.hashedEmbeddings(docs, "doc_id", "text",
        dim = 64).count()
    }
    run("pca_fit_project") {
      // one moments pass (d + d² buffer per partial) + driver eigensolve
      // + codegen projection of every vector onto the top 8 components
      val m = graft.operators.Pca.fit(emb, "embedding", k = 8)
      graft.operators.Pca.project(emb, "vec_id", "embedding", m).count()
    }
    run("minhash_index_build") {
      // sign the corpus ONCE: inline signature kernel + bucketed band-row
      // layout write — the cost later benchmarks never pay again
      graft.search.Swap.drop(spark, "scale_mh_idx", "scale_mh_idx__meta")
      graft.search.MinHashIndex.writeMinHashIndex(docs, "doc_id", "text",
        "scale_mh_idx", buckets = 32, force = true)
      spark.table("scale_mh_idx").count()
    }
    run("minhash_index_decon") {
      // the per-benchmark cost off the saved index: benchmark signing +
      // band-key-pruned candidate read + candidate-bounded text re-read
      val bench = docs.where(col("doc_id") % 997 === 0)
        .select(col("doc_id").as("bid"),
          concat(col("text"), lit(" extra token")).as("btext"))
      graft.search.MinHashIndex.decontaminateIndexed(spark, "scale_mh_idx",
        docs, "doc_id", "text", bench, "bid", "btext",
        threshold = 0.5).count()
    }
    // r18: the media dedup ladder's perceptual rung priced at scale —
    // the hash pass is payload-bounded (one scan, zero shuffle), and the
    // banded near-dup shuffles (id, hash, band-key) rows only, never
    // payloads. Payloads are made DISTINCT (text ⊕ doc_id) so the
    // blocking is measured over 5M distinct hashes rather than the
    // replica fixture's 5000 (that exact-dup mass belongs to the
    // md5/dhash-stats rungs — the ladder runs in order); the hot-block
    // guard caps heavy-hitter (band, key) blocks exactly as a 1e9-asset
    // run needs (an uncapped hot block pairs quadratically).
    def mediaDistinct: DataFrame = graft.operators.Multimodal.fromText(
      docs.withColumn("text",
        concat_ws(" ", col("text"), col("doc_id").cast("string"))),
      "doc_id", "text")
    run("media_dhash_hash") {
      graft.operators.Multimodal.perceptualHash(mediaDistinct).count()
    }
    // asset-level banded pairing under the hot-block guard: the 5M
    // distinct payloads share only ~32k distinct hashes (low-entropy
    // synthetic grids), so uncapped asset pairing is 1.6e10 candidates
    // (measured census); even capped at 500 it measured 298 s / 142M
    // emitted pairs / 2.9 GB spill — the output ITSELF explodes when
    // hash classes are fat, which is why the classes arm below is the
    // scale composition. Cap 100 here keeps the per-round sweep honest
    // about the arm's shape without paying the 5-minute row every run.
    run("media_dhash_neardup") {
      graft.operators.Multimodal.perceptualNearDuplicates(mediaDistinct,
        maxHamming = 3, bands = 4, maxBlock = 100).count()
    }
    // the corpus-scale composition: near-dup edges between HASH CLASSES
    // (~32k) with identical-hash mass left to the stats rung — the
    // asset-pairing blowup removed structurally, not by the cap
    run("media_dhash_classes") {
      graft.operators.Multimodal.perceptualNearDuplicateClasses(
        mediaDistinct, maxHamming = 3, bands = 4).count()
    }
    run("ivfpq_rerank") {
      // ADC shortlist (20/query) + exact rescore of shortlist vectors —
      // the recall-recovery delta over ivfpq_topk's cost
      graft.operators.Similarity.ivfPqKnnRerank(emb,
        emb.where(col("vec_id") % (100L * replicas) === 0), "vec_id",
        "embedding", k = 10, shortlist = 20, step = 100 * replicas,
        nprobe = 3, m = 8, codeStep = 50 * replicas).count()
    }
    spark.sql("DROP TABLE IF EXISTS scale_idx")
    spark.sql("DROP TABLE IF EXISTS scale_mh_idx")
    spark.sql("DROP TABLE IF EXISTS scale_mh_idx__meta")
    spark.stop()
  }
}
