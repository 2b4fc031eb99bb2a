package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{MinHash, SimHash, TextQuality}

/** LLM-pipeline dedup at scale: MinHash+LSH, SimHash, n-gram Jaccard,
  * winnowing fingerprints, quality scoring. The oracle-checked variants run
  * the SAME pipeline code with the md5 hash strategy (portable to DuckDB);
  * production runs default to xxhash64.
  */
object DedupScaleQueries extends QueryPack {

  private val W = 5; private val K = 8; private val BANDS = 4

  /** Fixed demo vocabulary for the coverage card (t_vocab_coverage) —
    * common synthetic-corpus words, inlined identically in the oracle.
    */
  private val coverageVocab = Seq("join", "hash", "row", "batch", "scan",
    "column", "filter", "small", "slow", "merge", "data", "spark", "window",
    "stream", "key", "value")

  private def docs(s: SparkSession, dir: String) = Tables(s, dir, "documents")

  // ---- shared oracle SQL fragments ----

  private val shSql =
    """SELECT DISTINCT doc_id AS id,
      | unnest(list_transform(generate_series(1, len(t) - 4),
      |  i -> array_to_string(list_slice(t, i, i + 4), ' '))) AS s
      |FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)""".stripMargin

  private val sigCols = (0 until K)
    .map(i => s"min(substring(md5('${i / 4}:' || s), ${(i % 4) * 8 + 1}, 8)) AS m$i")
    .mkString(", ")

  private val bandSelects = (0 until BANDS).map { b =>
    val r = K / BANDS
    val cols = (b * r until (b + 1) * r).map(i => s"m$i").mkString(" || '|' || ")
    s"SELECT id, $b AS band, md5($cols) AS band_key FROM sig"
  }.mkString(" UNION ALL ")

  private val candSql =
    s"""sh AS ($shSql),
       |sig AS (SELECT id, $sigCols FROM sh GROUP BY id),
       |bandrows AS ($bandSelects),
       |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
       | FROM bandrows a JOIN bandrows b
       |  ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id)""".stripMargin

  /** Distinct W-shingles of `(idExpr, textExpr)` rows of `src` — the
    * generic form of [[shSql]] for cross-corpus pipelines.
    */
  private def shFrom(src: String, idExpr: String, textExpr: String): String =
    s"""SELECT DISTINCT id,
       | unnest(list_transform(generate_series(1, len(t) - ${W - 1}),
       |  i -> array_to_string(list_slice(t, i, i + ${W - 1}), ' '))) AS s
       |FROM (SELECT $idExpr AS id, string_split($textExpr, ' ') AS t FROM $src)""".stripMargin

  /** Band rows over a named `(id, m0..m{K-1})` signature CTE. */
  private def bandSelectsOn(src: String): String = (0 until BANDS).map { b =>
    val r = K / BANDS
    val cols = (b * r until (b + 1) * r).map(i => s"m$i").mkString(" || '|' || ")
    s"SELECT id, $b AS band, md5($cols) AS band_key FROM $src"
  }.mkString(" UNION ALL ")

  // the j8 fuzzy-decontamination replay — shared verbatim by the per-call
  // pipeline (j8) and the persisted band-row index path (j16)
  /** the sentence-dedup replay — shared by d_sentence_dedup and
    * d_sentence_stream (both must produce the identical final state) */
  private lazy val sentenceDedupSql: String =
    """WITH u AS (SELECT doc_id,
      |  regexp_replace(text, '([^ ]+( [^ ]+){6}) ', '\1. ', 'g') AS text2
      | FROM documents),
      |se AS (SELECT doc_id,
      |  unnest(list_transform(generate_series(1, len(ss)), i -> {'i': i, 's': ss[i]})) AS e
      | FROM (SELECT doc_id, list_filter(string_split(
      |    regexp_replace(text2, '([.!?]+["'')\]]*)\s+', '\1' || chr(1), 'g'), chr(1)),
      |    x -> x <> '') AS ss FROM u)),
      |sent AS (SELECT doc_id, e.i AS si, e.s AS s FROM se),
      |rep AS (SELECT s FROM (
      |  SELECT s, count(DISTINCT doc_id) AS df FROM sent GROUP BY s) WHERE df > 1),
      |keep AS (SELECT doc_id, si, s FROM sent WHERE s NOT IN (SELECT s FROM rep)),
      |agg AS (SELECT doc_id, string_agg(s, ' ' ORDER BY si) AS text_clean,
      |        count(*) AS kept FROM keep GROUP BY doc_id),
      |tot AS (SELECT doc_id, count(*) AS n FROM sent GROUP BY doc_id)
      |SELECT d.doc_id, coalesce(a.text_clean, '') AS text_clean,
      |  CAST(coalesce(t.n, 0) AS BIGINT) AS n_sentences,
      |  CAST(coalesce(a.kept, 0) AS BIGINT) AS n_sentences_kept
      |FROM documents d
      |LEFT JOIN tot t ON t.doc_id = d.doc_id
      |LEFT JOIN agg a ON a.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  private lazy val fuzzyDecontamSql =
    s"""WITH bench AS (SELECT doc_id AS bid, text || ' extra token' AS btext
       | FROM documents WHERE doc_id % 50 = 0),
       |shA AS (${shFrom("documents", "doc_id", "text")}),
       |shB AS (${shFrom("bench", "bid", "btext")}),
       |sigA AS (SELECT id, $sigCols FROM shA GROUP BY id),
       |sigB AS (SELECT id, $sigCols FROM shB GROUP BY id),
       |bandA AS (${bandSelectsOn("sigA")}),
       |bandB AS (${bandSelectsOn("sigB")}),
       |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
       | FROM bandA a JOIN bandB b ON a.band = b.band AND a.band_key = b.band_key),
       |na AS (SELECT id, count(*) AS n FROM shA GROUP BY id),
       |nb AS (SELECT id, count(*) AS n FROM shB GROUP BY id),
       |inter AS (SELECT c.id_a, c.id_b, count(*) AS n_inter
       | FROM cand c JOIN shA a ON a.id = c.id_a JOIN shB b ON b.id = c.id_b AND b.s = a.s
       | GROUP BY 1, 2),
       |hits AS (SELECT DISTINCT i.id_a FROM inter i
       | JOIN na ON na.id = i.id_a JOIN nb ON nb.id = i.id_b
       | WHERE round(CAST(n_inter AS DOUBLE) / (na.n + nb.n - n_inter), 6) >= 0.5)
       |SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT id_a FROM hits)
       |ORDER BY doc_id""".stripMargin

  private val simhashBits = 16
  private val simhashSums = (0 until simhashBits).map { j =>
    s"sum(CASE WHEN substring(md5(w), ${j + 1}, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS s$j"
  }.mkString(", ")
  private val simhashConcat = (0 until simhashBits)
    .map(j => s"(CASE WHEN s$j > 0 THEN '1' ELSE '0' END)").mkString(" || ")

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d_minhash_lsh" -> ((s, dir) =>
      MinHash.lshCandidates(docs(s, dir), "doc_id", "text", W, K, BANDS,
        MinHash.md5Strategy).orderBy("id_a", "id_b")),

    "d_minhash_neardup" -> ((s, dir) =>
      MinHash.nearDuplicates(docs(s, dir), "doc_id", "text", threshold = 0.5,
        W, K, BANDS, MinHash.md5Strategy).orderBy("id_a", "id_b")),

    "d_simhash16" -> ((s, dir) =>
      SimHash.simhashBitString(docs(s, dir), "doc_id", "text", simhashBits,
        SimHash.md5HexBit).orderBy("id")),

    // feature-hash document embeddings (signed hashing trick, md5-parity
    // mode): the model-free text→vector bridge into the embedding tier.
    // Exploded to (id, bucket, v) scalar rows: the oracle compare sorts
    // column values and cannot order raw array cells.
    "d_hashed_embedding" -> ((s, dir) =>
      graft.operators.FeatureHash.hashedEmbeddings(docs(s, dir), "doc_id",
        "text", dim = 16, md5Parity = true)
        .select(col("id"), posexplode(col("emb")))
        .select(col("id"), col("pos").cast("long").as("bucket"),
          col("col").as("v"))
        .orderBy("id", "bucket")),

    // near-dup pairs → duplicate clusters: min-reachable-id label per member
    "d_cc_clusters" -> ((s, dir) =>
      graft.operators.Dedup.connectedComponents(
        MinHash.nearDuplicates(docs(s, dir), "doc_id", "text", threshold = 0.5,
          W, K, BANDS, MinHash.md5Strategy)).orderBy("id")),

    // quality-aware near-dup dedup: per duplicate cluster keep the LONGEST
    // member (tie → lower id) — the FineWeb posture — instead of min-id
    "d_keep_best" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.operators.Dedup.keepBestInCluster(d, "doc_id",
          MinHash.nearDuplicates(d, "doc_id", "text", threshold = 0.5,
            W, K, BANDS, MinHash.md5Strategy),
          length(col("text")))
        .select("doc_id").orderBy("doc_id")
    }),

    // fuzzy decontamination (GPT-3/Llama posture): every 50th doc plays a
    // leaked benchmark row, perturbed by two extra tokens so exact-hash J3
    // would MISS it; the cross-corpus MinHash match still drops it
    "j8_decontaminate_fuzzy" -> ((s, dir) => {
      val d = docs(s, dir)
      val bench = d.where(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("bid"),
          concat(col("text"), lit(" extra token")).as("btext"))
      graft.operators.Dedup.decontaminateFuzzy(d, "text", bench, "btext",
          threshold = 0.5, W, K, BANDS, md5Parity = true)
        .select("doc_id").orderBy("doc_id")
    }),

    // the same contamination battery answered off the PERSISTED band-row
    // index: the corpus is signed ONCE at build; the per-benchmark cost is
    // benchmark signing + a band-key-pruned index read + candidate-bounded
    // text re-read — must drop exactly the rows j8 drops
    "j16_decontaminate_indexed" -> ((s, dir) => {
      val d = docs(s, dir)
      val table = "j16_minhash_idx"
      graft.search.Swap.drop(s, table, s"${table}__meta")
      StageTimer.start("j16_decontaminate_indexed")
      graft.search.MinHashIndex.writeMinHashIndex(d, "doc_id", "text", table,
        w = W, k = K, bands = BANDS, md5Parity = true, buckets = 8,
        force = true)
      StageTimer.mark("j16_decontaminate_indexed", "build")
      val bench = d.where(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("bid"),
          concat(col("text"), lit(" extra token")).as("btext"))
      graft.search.MinHashIndex.decontaminateIndexed(s, table, d, "doc_id",
          "text", bench, "bid", "btext", threshold = 0.5)
        .select("doc_id").orderBy("doc_id")
    }),

    // the same contamination battery INCREMENTALLY: the corpus arrives as
    // a file stream in real micro-batches through j8's own stateless
    // operator (inline signature + per-band broadcast bucket joins — no
    // stream-side shuffle) and the surviving set must be exactly j8's
    // batch decision
    "j17_stream_decontaminate" -> ((s, dir) => {
      StageTimer.start("j17_stream_decontaminate")
      val d = docs(s, dir)
      val bench = d.where(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("bid"),
          concat(col("text"), lit(" extra token")).as("btext"))
      val tmp = java.nio.file.Files.createTempDirectory("j17_stream").toString
      // 2 source files x maxFilesPerTrigger=1 = two REAL micro-batches —
      // the multi-batch semantics under test at the minimum batch count
      // (per-batch fixed cost dominates this lifecycle's wall time;
      // deeper batch sequences are StreamingSpec's job)
      d.select("doc_id", "text").repartition(2)
        .write.mode("overwrite").json(s"$tmp/src")
      StageTimer.mark("j17_stream_decontaminate", "setup")
      val in = s.readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", 1).json(s"$tmp/src")
      val q = graft.operators.Dedup.decontaminateFuzzy(
          in, "text", bench, "btext", threshold = 0.5, W, K, BANDS,
          md5Parity = true)
        .select("doc_id")
        .writeStream.format("parquet")
        .option("path", s"$tmp/out")
        .option("checkpointLocation", s"$tmp/ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      StageTimer.mark("j17_stream_decontaminate", "stream")
      s.read.parquet(s"$tmp/out").orderBy("doc_id")
    }),

    "d_jaccard_block" -> ((s, dir) => {
      val d = docs(s, dir)
      val ids = d.where(col("doc_id") % 20 === 0)
      val a = ids.select(col("doc_id").as("id_a"))
      val b = ids.select(col("doc_id").as("id_b"))
      val pairs = a.join(b, col("id_a") < col("id_b"))
      MinHash.jaccard(pairs, MinHash.shingleSets(d, "doc_id", "text", W))
        .orderBy("id_a", "id_b")
    }),

    "t_fingerprint_winnow" -> ((s, dir) =>
      TextQuality.winnowFingerprintCounts(docs(s, dir), "doc_id", "text", k = 3, w = 4)
        .orderBy("doc_id")),

    // MOSS-style partial-overlap pairs: docs sharing ≥ 2 winnowing
    // fingerprints (catches shared RUNS that whole-doc MinHash dilutes)
    "d_winnow_pairs" -> ((s, dir) =>
      TextQuality.winnowOverlapPairs(docs(s, dir), "doc_id", "text",
        k = 3, w = 4, minShared = 2).orderBy("id_a", "id_b")),

    "t_repetition" -> ((s, dir) =>
      TextQuality.repetitionSignals(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")),

    "t_c4_filters" -> ((s, dir) =>
      TextQuality.c4LineFilters(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")),

    "t_quality" -> ((s, dir) =>
      TextQuality.qualityScore(
        TextQuality.qualityFeatures(docs(s, dir), "doc_id", "text"))
        .groupBy(lit("all").as("bucket"))
        .agg(round(avg("quality"), 6).as("avg_quality"),
          round(avg("stopword_ratio"), 6).as("avg_stopword_ratio"),
          round(avg("uniq_ratio"), 6).as("avg_uniq_ratio"),
          count(lit(1)).as("n_docs"))),

    "t_token_bpe" -> ((s, dir) =>
      docs(s, dir).groupBy("lang")
        .agg(sum(TextQuality.bpeTokenCount(col("text"))).as("n_bpe_tokens"))
        .orderBy("lang")),

    // token-granularity substring dedup (Lee et al. 2022): per doc, the
    // fraction of its 5-token windows that also occur in another doc.
    // Oracle run keys the shuffle on raw span strings so DuckDB can replay
    // it; production default hashes spans to 8-byte keys first.
    "d_dup_spans" -> ((s, dir) =>
      graft.operators.Dedup.duplicateSpanStats(docs(s, dir), "doc_id", "text",
        k = 5, hash = c => c).orderBy("doc_id")),

    // Dolma-style paragraph keep-first dedup over 10-token block units
    // (the synthetic docs are single-line, so blocks stand in for
    // paragraphs; splitUnits covers corpora with real "\n\n" structure)
    "d_para_keepfirst" -> ((s, dir) =>
      graft.operators.Dedup.unitDedupStats(
        graft.operators.Dedup.tokenBlocks(docs(s, dir), "doc_id", "text", b = 10))
        .withColumnRenamed("id", "doc_id").orderBy("doc_id")),

    // CCNet/RedPajama-style LM quality proxy: mean log-prob under the
    // corpus's own unigram distribution
    "t_unigram_lm" -> ((s, dir) =>
      TextQuality.unigramLogProb(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")),

    // real merge-based BPE (train 200 merges on the corpus, encode every
    // doc): subword counts + compression. No oracle — greedy iterative
    // merging isn't SQL-expressible; BpeSpec pins golden vectors and the
    // driver's rows-only check covers the wiring
    "t_bpe_real" -> ((s, dir) => {
      val d = docs(s, dir)
      val merges = TextQuality.bpeTrain(d, "text", numMerges = 200)
      TextQuality.bpeTokenStats(d, "doc_id", "text", merges).orderBy("doc_id")
    }),

    // CCNet §4.3 head/middle/tail perplexity bucketing over the unigram
    // LM scores — the selection step CCNet runs on top of the LM filter
    "t_ppl_buckets" -> ((s, dir) =>
      TextQuality.perplexityBuckets(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")),

    // model-based quality filtering (GPT-3/LLaMA-style): LR fit on Gopher
    // weak labels (MLlib, driver-coordinated), scored corpus-wide as pure
    // column algebra. Rows-only: L-BFGS weights aren't SQL-replayable
    "t_quality_clf" -> ((s, dir) => {
      val d = docs(s, dir)
      val model = graft.operators.QualityClassifier.fitOnGopherLabels(d, "doc_id", "text")
      graft.operators.QualityClassifier.score(d, "doc_id", "text", model)
        .select("doc_id", "quality_score").orderBy("doc_id")
    }),

    // the zero-join scoring path: model pruned to top-50 vocab and shipped
    // inside the scan expression (probabilities over the pruned mass)
    "t_unigram_lm_inline" -> ((s, dir) => {
      val d = docs(s, dir)
      TextQuality.unigramLogProbInline(d, "doc_id", "text",
        TextQuality.unigramCounts(d, "text"), topV = 50).orderBy("doc_id")
    }),

    // the per-language variant: cuts computed within each lang group
    // (CCNet buckets per language, not globally)
    "t_ppl_buckets_lang" -> ((s, dir) =>
      TextQuality.perplexityBuckets(docs(s, dir), "doc_id", "text",
        byCol = Some("lang")).orderBy("doc_id")),

    // interpolated-bigram LM (λ·P(w2|w1) + (1−λ)·P(w2)) — the rung above
    // t_unigram_lm toward CCNet's KenLM filter; λ=0.75 is exact in binary
    // so the oracle's literal matches bit-for-bit
    "t_bigram_lm" -> ((s, dir) =>
      TextQuality.bigramLogProb(docs(s, dir), "doc_id", "text", lambda = 0.75)
        .orderBy("doc_id")),

    // corpus entropy card: unigram / bigram / conditional bits
    "a15_entropy" -> ((s, dir) =>
      TextQuality.entropyStats(docs(s, dir), "text").orderBy("metric")),

    // cross-corpus drift card: KL / JS divergence between the English
    // slice's unigram distribution and the rest of the corpus
    "a16_unigram_kl" -> ((s, dir) => {
      val d = docs(s, dir)
      TextQuality.unigramDivergence(
        d.where(col("lang") === "en"), d.where(col("lang") =!= "en"), "text")
    }),

    // compression-ratio quality signal (rows-only: no DEFLATE in the
    // oracle; the kernel contract is pinned by ScalaTest goldens)
    "t_compress_ratio" -> ((s, dir) =>
      TextQuality.compressionSignals(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")),

    // vocabulary-coverage card against a fixed plan-shipped vocab:
    // per-doc token count, in-vocab count, OOV fraction
    "t_vocab_coverage" -> ((s, dir) =>
      TextQuality.vocabCoverage(docs(s, dir), "doc_id", "text", coverageVocab)
        .orderBy("doc_id")),

    // paragraph-level FUZZY dedup: MinHash near-dup over 10-token block
    // units (the fuzzy rung above d_para_keepfirst's exact unit hash) —
    // pure composition: tokenBlocks |> nearDuplicates on (uid, unit)
    "d_para_minhash" -> ((s, dir) => {
      val units = graft.operators.Dedup.tokenBlocks(docs(s, dir), "doc_id", "text", b = 10)
        .select(concat_ws("#", col("id"), col("idx")).as("uid"), col("unit"))
      MinHash.nearDuplicates(units, "uid", "unit", threshold = 0.5,
        W, K, BANDS, MinHash.md5Strategy).orderBy("id_a", "id_b")
    }),

    // RefinedWeb-style repeated-sentence boilerplate removal: sentences
    // appearing in > 1 distinct docs are cut, survivors rejoin in order.
    // Texts gain punkt boundaries every 7 words first (the p9 device —
    // the synthetic corpus has no sentence punctuation of its own), so
    // multi-sentence docs and genuine cross-doc repeats both exist
    "d_sentence_dedup" -> ((s, dir) =>
      graft.operators.Dedup.removeRepeatedSentences(
        docs(s, dir).withColumn("text",
          regexp_replace(col("text"), "([^ ]+( [^ ]+){6}) ", "$1. ")),
        "doc_id", "text", maxDf = 1)
        .orderBy("doc_id")),

    // the sentence-boilerplate surgery INCREMENTALLY: the repeated-hash
    // set comes from one batch pass, then the corpus arrives as a file
    // stream (real micro-batches) through the stateless removeSentences
    // rewrite — the final state must equal d_sentence_dedup's batch
    // output exactly
    "d_sentence_stream" -> ((s, dir) => {
      StageTimer.start("d_sentence_stream")
      val d = docs(s, dir).withColumn("text",
        regexp_replace(col("text"), "([^ ]+( [^ ]+){6}) ", "$1. "))
      val boiler = graft.operators.Dedup.repeatedSentenceHashes(
        d, "doc_id", "text", maxDf = 1).localCheckpoint(true)
      StageTimer.mark("d_sentence_stream", "build")
      val tmp = java.nio.file.Files.createTempDirectory("d_sent_stream").toString
      d.select("doc_id", "text").repartition(2)
        .write.mode("overwrite").json(s"$tmp/src")
      StageTimer.mark("d_sentence_stream", "setup")
      val in = s.readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", 1).json(s"$tmp/src")
      val q = graft.operators.Dedup.removeSentences(
          in, "doc_id", "text", boiler)
        .writeStream.format("parquet")
        .option("path", s"$tmp/out")
        .option("checkpointLocation", s"$tmp/ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      StageTimer.mark("d_sentence_stream", "stream")
      s.read.parquet(s"$tmp/out").orderBy("doc_id")
    }),

    // FineWeb-style line/word gate (signals + combined keep)
    "t_fineweb" -> ((s, dir) =>
      TextQuality.fineWebFilter(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")),

    // the "what's in my big data" report card over the corpus
    "r_corpus_report" -> ((s, dir) =>
      graft.Pipeline.corpusReport(docs(s, dir), "text", langCol = Some("lang"))
        .orderBy("metric")),

    // the substring-dedup TRANSFORM: rewrite docs dropping every token
    // covered by a 5-token span seen earlier in the corpus
    "d_span_removal" -> ((s, dir) =>
      graft.operators.Dedup.removeDuplicateSpans(docs(s, dir), "doc_id", "text", k = 5)
        .orderBy("doc_id")),

    // C4 line-cleaning transform; a third of the synthetic docs get a
    // terminal period appended so both the keep and drop paths run
    "t_c4_clean" -> ((s, dir) => {
      val d = docs(s, dir).withColumn("text",
        when(col("doc_id") % 3 === 0, concat(col("text"), lit(".")))
          .otherwise(col("text")))
      TextQuality.c4Clean(d, "doc_id", "text").orderBy("doc_id")
    }),

    // the full Gopher §A1.1 quality gate in one pass (repetition columns
    // themselves are verified by t_repetition; this checks the decision)
    "t_gopher_filter" -> ((s, dir) =>
      TextQuality.gopherFilter(docs(s, dir), "doc_id", "text")
        .select("doc_id", "n_words", "mean_word_len", "alpha_word_ratio",
          "n_stopwords", "keep")
        .orderBy("doc_id")),

    // the COMPOSED ingestion batch — quality gate → keep-first exact dedup
    // → decontamination — exactly the per-batch semantics of CLI
    // `ingest --follow` (docs surviving all three stages), with every
    // stage replayed in SQL (docs ≡ 0 mod 97 double as the benchmark)
    "r_ingest_pipeline" -> ((s, dir) => {
      val d = docs(s, dir)
      val gated = TextQuality.gate(d.select("doc_id", "text"), "doc_id", "text")
      val deduped = graft.operators.Dedup.keepFirst(gated,
        md5(col("text")), Seq(col("doc_id")))
      graft.operators.Dedup.decontaminate(deduped, md5(col("text")),
          d.where(col("doc_id") % 97 === 0), md5(col("text")))
        .select("doc_id").orderBy("doc_id")
    })
  )

  // ---- repetition-signal oracle fragments (Gopher filters) ----

  private def gramCte(n: Int): String =
    s"""g$n AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - ${n - 1}),
       | i -> array_to_string(list_slice(t, i, i + ${n - 1}), ' '))) AS gram
       | FROM toks)""".stripMargin

  private def topCte(n: Int): String =
    s"""top$n AS (SELECT doc_id, c * length(gram) AS oc FROM (
       | SELECT doc_id, gram, count(*) AS c,
       |  row_number() OVER (PARTITION BY doc_id ORDER BY count(*) DESC, gram) AS rn
       | FROM g$n GROUP BY 1, 2) WHERE rn = 1)""".stripMargin

  private def dupCte(n: Int): String =
    s"""dup$n AS (SELECT doc_id, sum(c * length(gram)) AS oc FROM (
       | SELECT doc_id, gram, count(*) AS c FROM g$n GROUP BY 1, 2)
       | WHERE c >= 2 GROUP BY doc_id)""".stripMargin

  private val repetitionSql = {
    val grams = (2 to 10).map(gramCte).mkString(",\n")
    val tops = (2 to 4).map(topCte).mkString(",\n")
    val dups = (5 to 10).map(dupCte).mkString(",\n")
    val topCols = (2 to 4).map(n =>
      s"round(coalesce(CAST(top$n.oc AS DOUBLE), 0) / d.chars, 6) AS top${n}gram_char_frac")
    val dupCols = (5 to 10).map(n =>
      s"round(coalesce(CAST(dup$n.oc AS DOUBLE), 0) / d.chars, 6) AS dup${n}gram_char_frac")
    val joins = (2 to 4).map(n => s"LEFT JOIN top$n ON top$n.doc_id = d.doc_id") ++
      (5 to 10).map(n => s"LEFT JOIN dup$n ON dup$n.doc_id = d.doc_id")
    s"""WITH d AS (SELECT doc_id, text, length(text) AS chars FROM documents),
       |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM d),
       |ls AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM d),
       |linestats AS (SELECT doc_id,
       |  round(CAST(len(ls) - len(list_distinct(ls)) AS DOUBLE) / len(ls), 6) AS dup_line_frac,
       |  round((CASE WHEN list_aggregate(list_transform(ls, x -> length(x)), 'sum') > 0
       |    THEN CAST(list_aggregate(list_transform(ls, x -> length(x)), 'sum')
       |      - list_aggregate(list_transform(list_distinct(ls), x -> length(x)), 'sum') AS DOUBLE)
       |      / list_aggregate(list_transform(ls, x -> length(x)), 'sum')
       |    ELSE 0 END), 6) AS dup_line_char_frac
       | FROM ls),
       |$grams,
       |$tops,
       |$dups
       |SELECT d.doc_id, linestats.dup_line_frac, linestats.dup_line_char_frac,
       | ${(topCols ++ dupCols).mkString(",\n ")}
       |FROM d
       |JOIN linestats ON linestats.doc_id = d.doc_id
       |${joins.mkString("\n")}
       |ORDER BY d.doc_id""".stripMargin
  }

  private val gopherSql = {
    val stops = graft.operators.TextQuality.defaultStopwords
      .map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH rep AS (SELECT * FROM ($repetitionSql)),
       |w AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_words,
       |  round(CAST(length(text) AS DOUBLE) / len(t), 6) AS mean_word_len,
       |  round(CAST(len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(t), 6) AS alpha_word_ratio,
       |  CAST(len(list_filter(t, x -> list_contains($stops, x))) AS BIGINT) AS n_stopwords
       | FROM (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents))
       |SELECT w.doc_id, w.n_words, w.mean_word_len, w.alpha_word_ratio, w.n_stopwords,
       | (w.n_words BETWEEN 50 AND 100000 AND w.mean_word_len BETWEEN 3.0 AND 10.0
       |  AND w.alpha_word_ratio >= 0.8 AND w.n_stopwords >= 2
       |  AND rep.dup_line_frac <= 0.30 AND rep.dup_line_char_frac <= 0.20
       |  AND rep.top2gram_char_frac <= 0.20 AND rep.top3gram_char_frac <= 0.18
       |  AND rep.top4gram_char_frac <= 0.16
       |  AND rep.dup5gram_char_frac <= 0.15 AND rep.dup6gram_char_frac <= 0.14
       |  AND rep.dup7gram_char_frac <= 0.13 AND rep.dup8gram_char_frac <= 0.12
       |  AND rep.dup9gram_char_frac <= 0.11 AND rep.dup10gram_char_frac <= 0.10) AS keep
       |FROM w JOIN rep ON rep.doc_id = w.doc_id
       |ORDER BY w.doc_id""".stripMargin
  }

  override val oracles: Map[String, String] = Map(
    "t_repetition" -> repetitionSql,
    "t_gopher_filter" -> gopherSql,

    "r_ingest_pipeline" ->
      s"""WITH gopher AS (SELECT * FROM ($gopherSql)),
         |kept AS (SELECT d.doc_id, d.text FROM documents d
         |  JOIN gopher g ON g.doc_id = d.doc_id WHERE g.keep),
         |dd AS (SELECT doc_id, text,
         |  row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
         | FROM kept)
         |SELECT doc_id FROM dd
         |WHERE rn = 1 AND NOT EXISTS (
         |  SELECT 1 FROM documents b
         |  WHERE b.doc_id % 97 = 0 AND md5(b.text) = md5(dd.text))
         |ORDER BY doc_id""".stripMargin,

    // DuckDB cannot express these three (iterative BPE merges, an L-BFGS
    // fit, DEFLATE) — their kernels are golden-tested in ScalaTest and the
    // expected outputs are committed parquet fixtures (see DuckSql.golden)
    "t_bpe_real" -> DuckSql.golden("t_bpe_real"),
    "t_quality_clf" -> DuckSql.golden("t_quality_clf"),
    "t_compress_ratio" -> DuckSql.golden("t_compress_ratio"),

    "t_c4_clean" ->
      """WITH d AS (SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN text || '.' ELSE text END AS text FROM documents),
        |l AS (SELECT doc_id, text,
        |  list_filter(string_split(text, chr(10)), x ->
        |   regexp_matches(x, '[.!?"]$') AND len(string_split(x, ' ')) >= 5
        |   AND NOT contains(x, '{') AND NOT contains(lower(x), 'javascript')) AS kept
        | FROM d)
        |SELECT doc_id, array_to_string(kept, chr(10)) AS text_clean,
        | CAST(len(kept) AS BIGINT) AS n_lines_kept
        |FROM l
        |WHERE NOT contains(lower(text), 'lorem ipsum') AND len(kept) >= 1
        |ORDER BY doc_id""".stripMargin,

    "t_c4_filters" ->
      """WITH l AS (SELECT doc_id, text, string_split(text, chr(10)) AS ls FROM documents)
        |SELECT doc_id,
        | CAST(len(ls) AS BIGINT) AS n_lines,
        | round(CAST(len(list_filter(ls, x -> regexp_matches(x, '[.!?"]$'))) AS DOUBLE) / len(ls), 6) AS frac_lines_terminal_punct,
        | round(CAST(len(list_filter(ls, x -> regexp_matches(ltrim(x), '^[-*•]'))) AS DOUBLE) / len(ls), 6) AS frac_lines_bullet,
        | round(CAST(len(list_filter(ls, x -> len(string_split(x, ' ')) <= 2)) AS DOUBLE) / len(ls), 6) AS frac_short_lines,
        | contains(lower(text), 'lorem ipsum') AS has_lorem_ipsum,
        | contains(text, '{') AS has_curly_brace
        |FROM l ORDER BY doc_id""".stripMargin,
    "d_minhash_lsh" ->
      s"""WITH $candSql
         |SELECT id_a, id_b FROM cand ORDER BY 1, 2""".stripMargin,

    "j8_decontaminate_fuzzy" -> fuzzyDecontamSql,

    // the persisted band-row index must drop EXACTLY the same rows as the
    // per-call j8 pipeline — same replay
    "j16_decontaminate_indexed" -> fuzzyDecontamSql,

    // the streaming path, one micro-batch at a time, must also reproduce
    // the batch decision exactly — same replay
    "j17_stream_decontaminate" -> fuzzyDecontamSql,

    "d_sentence_dedup" -> sentenceDedupSql,

    // must equal the batch d_sentence_dedup exactly (same oracle)
    "d_sentence_stream" -> sentenceDedupSql,

    "d_minhash_neardup" ->
      s"""WITH $candSql,
         |sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
         |inter AS (SELECT c.id_a, c.id_b, count(*) AS n_inter
         | FROM cand c JOIN sh a ON a.id = c.id_a JOIN sh b ON b.id = c.id_b AND b.s = a.s
         | GROUP BY 1, 2)
         |SELECT i.id_a, i.id_b,
         | round(CAST(n_inter AS DOUBLE) / (na.n + nb.n - n_inter), 6) AS jaccard
         |FROM inter i JOIN sizes na ON na.id = i.id_a JOIN sizes nb ON nb.id = i.id_b
         |WHERE CAST(n_inter AS DOUBLE) / (na.n + nb.n - n_inter) >= 0.5
         |ORDER BY 1, 2""".stripMargin,

    "d_cc_clusters" ->
      s"""WITH RECURSIVE $candSql,
         |sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
         |inter AS (SELECT c.id_a, c.id_b, count(*) AS n_inter
         | FROM cand c JOIN sh a ON a.id = c.id_a JOIN sh b ON b.id = c.id_b AND b.s = a.s
         | GROUP BY 1, 2),
         |nd AS (SELECT i.id_a, i.id_b
         | FROM inter i JOIN sizes na ON na.id = i.id_a JOIN sizes nb ON nb.id = i.id_b
         | WHERE CAST(n_inter AS DOUBLE) / (na.n + nb.n - n_inter) >= 0.5),
         |edges AS (SELECT id_a AS u, id_b AS v FROM nd
         | UNION SELECT id_b, id_a FROM nd),
         |reach(id, r) AS (
         | SELECT u, u FROM edges
         | UNION
         | SELECT e.u, reach.r FROM edges e JOIN reach ON reach.id = e.v)
         |SELECT CAST(id AS BIGINT) AS id, CAST(min(r) AS BIGINT) AS component
         |FROM reach GROUP BY id ORDER BY id""".stripMargin,

    // same cluster derivation as d_cc_clusters, but survivors = singletons
    // plus the per-cluster argmax-length member (tie → lower id)
    "d_keep_best" ->
      s"""WITH RECURSIVE $candSql,
         |sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
         |inter AS (SELECT c.id_a, c.id_b, count(*) AS n_inter
         | FROM cand c JOIN sh a ON a.id = c.id_a JOIN sh b ON b.id = c.id_b AND b.s = a.s
         | GROUP BY 1, 2),
         |nd AS (SELECT i.id_a, i.id_b
         | FROM inter i JOIN sizes na ON na.id = i.id_a JOIN sizes nb ON nb.id = i.id_b
         | WHERE CAST(n_inter AS DOUBLE) / (na.n + nb.n - n_inter) >= 0.5),
         |edges AS (SELECT id_a AS u, id_b AS v FROM nd
         | UNION SELECT id_b, id_a FROM nd),
         |reach(id, r) AS (
         | SELECT u, u FROM edges
         | UNION
         | SELECT e.u, reach.r FROM edges e JOIN reach ON reach.id = e.v),
         |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
         |scored AS (SELECT comp.component, comp.id, length(d.text) AS sc
         | FROM comp JOIN documents d ON d.doc_id = comp.id),
         |keep AS (SELECT id FROM (
         |  SELECT id, row_number() OVER (PARTITION BY component ORDER BY sc DESC, id) AS rn
         |  FROM scored) WHERE rn = 1)
         |SELECT d.doc_id FROM documents d
         |LEFT JOIN comp ON comp.id = d.doc_id
         |WHERE comp.id IS NULL OR d.doc_id IN (SELECT id FROM keep)
         |ORDER BY doc_id""".stripMargin,

    "d_simhash16" ->
      s"""WITH tok AS (SELECT doc_id AS id, unnest(string_split(text, ' ')) AS w FROM documents),
         |sums AS (SELECT id, $simhashSums FROM tok GROUP BY id)
         |SELECT id, $simhashConcat AS simhash FROM sums ORDER BY id""".stripMargin,

    // bucket = first 4 md5 hex digits as an int, mod dim; sign = high bit
    // of digit 5 — the kernel's exact md5-parity contract, replayed with
    // digit arithmetic (DuckDB 1.0 has no hex→int cast)
    "d_hashed_embedding" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |h AS (SELECT doc_id,
        |  ((strpos('0123456789abcdef', substr(md5(w), 1, 1)) - 1) * 4096 +
        |   (strpos('0123456789abcdef', substr(md5(w), 2, 1)) - 1) * 256 +
        |   (strpos('0123456789abcdef', substr(md5(w), 3, 1)) - 1) * 16 +
        |   (strpos('0123456789abcdef', substr(md5(w), 4, 1)) - 1)) % 16 AS bucket,
        |  CASE WHEN substr(md5(w), 5, 1) IN ('8','9','a','b','c','d','e','f')
        |    THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END AS sign
        | FROM tok),
        |s AS (SELECT doc_id, bucket, sum(sign) AS v FROM h GROUP BY doc_id, bucket),
        |grid AS (SELECT doc_id, bucket
        | FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL)
        | CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS bucket))
        |SELECT g.doc_id AS id, CAST(g.bucket AS BIGINT) AS bucket,
        |  coalesce(s.v, CAST(0 AS DOUBLE)) AS v
        |FROM grid g LEFT JOIN s ON s.doc_id = g.doc_id AND s.bucket = g.bucket
        |ORDER BY id, bucket""".stripMargin,

    "d_jaccard_block" ->
      s"""WITH sh AS ($shSql),
         |ids AS (SELECT doc_id AS id FROM documents WHERE doc_id % 20 = 0),
         |pairs AS (SELECT a.id AS id_a, b.id AS id_b FROM ids a JOIN ids b ON a.id < b.id),
         |sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
         |inter AS (SELECT p.id_a, p.id_b, count(sb.s) AS n_inter
         | FROM pairs p
         | LEFT JOIN sh sa ON sa.id = p.id_a
         | LEFT JOIN sh sb ON sb.id = p.id_b AND sb.s = sa.s
         | GROUP BY 1, 2)
         |SELECT i.id_a, i.id_b,
         | round(CAST(n_inter AS DOUBLE) / (na.n + nb.n - n_inter), 6) AS jaccard
         |FROM inter i JOIN sizes na ON na.id = i.id_a JOIN sizes nb ON nb.id = i.id_b
         |ORDER BY 1, 2""".stripMargin,

    "t_fingerprint_winnow" ->
      """WITH h AS (SELECT doc_id,
        |  list_transform(generate_series(1, len(t) - 2),
        |   i -> substring(md5(array_to_string(list_slice(t, i, i + 2), ' ')), 1, 8)) AS hs
        | FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents))
        |SELECT doc_id, CAST(len(list_distinct(
        |  CASE WHEN len(hs) >= 4 THEN
        |   list_transform(generate_series(1, len(hs) - 3),
        |    i -> list_aggregate(list_slice(hs, i, i + 3), 'min'))
        |  ELSE [] END)) AS BIGINT) AS n_fingerprints
        |FROM h ORDER BY doc_id""".stripMargin,

    "d_winnow_pairs" ->
      """WITH h AS (SELECT doc_id,
        |  list_transform(generate_series(1, len(t) - 2),
        |   i -> substring(md5(array_to_string(list_slice(t, i, i + 2), ' ')), 1, 8)) AS hs
        | FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
        |f AS (SELECT doc_id AS id, list_distinct(
        |  CASE WHEN len(hs) >= 4 THEN
        |   list_transform(generate_series(1, len(hs) - 3),
        |    i -> list_aggregate(list_slice(hs, i, i + 3), 'min'))
        |  ELSE [] END) AS fps FROM h),
        |fp AS (SELECT id, unnest(fps) AS fp FROM f),
        |bsize AS (SELECT fp, count(*) AS c FROM fp GROUP BY 1),
        |fp2 AS (SELECT fp.id, fp.fp FROM fp JOIN bsize USING (fp)
        | WHERE bsize.c BETWEEN 2 AND 1000),
        |shared AS (SELECT a.id AS id_a, b.id AS id_b, CAST(count(*) AS BIGINT) AS n_shared
        | FROM fp2 a JOIN fp2 b ON a.fp = b.fp AND a.id < b.id
        | GROUP BY 1, 2 HAVING count(*) >= 2),
        |sizes AS (SELECT id, len(fps) AS n FROM f)
        |SELECT s.id_a, s.id_b, s.n_shared,
        | round(CAST(s.n_shared AS DOUBLE) / least(na.n, nb.n), 6) AS overlap_frac
        |FROM shared s JOIN sizes na ON na.id = s.id_a JOIN sizes nb ON nb.id = s.id_b
        |ORDER BY s.id_a, s.id_b""".stripMargin,

    "t_quality" ->
      s"""WITH f AS (SELECT
         |  CAST(len(t) AS BIGINT) AS n_tokens,
         |  round(CAST(length(text) AS DOUBLE) / len(t), 6) AS mean_token_len,
         |  round(CAST(len(list_filter(t, x -> list_contains(${TextQuality.defaultStopwords.map(w => s"'$w'").mkString("[", ", ", "]")}, x))) AS DOUBLE) / len(t), 6) AS stopword_ratio,
         |  round(CAST(len(list_filter(t, x -> length(x) <= 2)) AS DOUBLE) / len(t), 6) AS short_token_ratio,
         |  round(CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 6) AS uniq_ratio
         | FROM (SELECT text, string_split(text, ' ') AS t FROM documents)),
         |q AS (SELECT *, round(LEAST(1.0, GREATEST(0.0,
         |  0.25 * LEAST(stopword_ratio * 10, 1.0) + 0.5 * uniq_ratio +
         |  0.25 * (CASE WHEN mean_token_len BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.0 END))), 6) AS quality
         | FROM f)
         |SELECT 'all' AS bucket, round(avg(quality), 6) AS avg_quality,
         | round(avg(stopword_ratio), 6) AS avg_stopword_ratio,
         | round(avg(uniq_ratio), 6) AS avg_uniq_ratio, count(*) AS n_docs
         |FROM q""".stripMargin,

    "t_token_bpe" ->
      """SELECT lang, CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS n_bpe_tokens
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "d_dup_spans" ->
      """WITH w AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 4),
        |  i -> array_to_string(list_slice(t, i, i + 4), ' '))) AS s
        | FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
        |g AS (SELECT s FROM w GROUP BY s HAVING min(doc_id) <> max(doc_id))
        |SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        | CAST(sum(CASE WHEN g.s IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_dup_spans,
        | round(CAST(sum(CASE WHEN g.s IS NULL THEN 0 ELSE 1 END) AS DOUBLE) / count(*), 6) AS dup_span_frac
        |FROM w LEFT JOIN g ON g.s = w.s
        |GROUP BY w.doc_id ORDER BY w.doc_id""".stripMargin,

    "d_para_keepfirst" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |u AS (SELECT doc_id, unnest(list_transform(generate_series(0, (len(t) - 1) // 10),
        |  i -> {'idx': i, 'unit': array_to_string(list_slice(t, i * 10 + 1, i * 10 + 10), ' ')})) AS s
        | FROM t WHERE len(t) > 0),
        |m AS (SELECT doc_id, row_number() OVER (PARTITION BY md5(s.unit) ORDER BY doc_id, s.idx) AS rn FROM u)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_units,
        | CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_units,
        | round(CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS dup_unit_frac
        |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "d_span_removal" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |w AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 4),
        |  i -> {'idx': i - 1, 's': array_to_string(list_slice(t, i, i + 4), ' ')})) AS u
        | FROM toks),
        |m AS (SELECT doc_id, u.idx AS idx,
        |  row_number() OVER (PARTITION BY u.s ORDER BY doc_id, u.idx) AS rn FROM w),
        |cov AS (SELECT DISTINCT m.doc_id, m.idx + gg.g AS i
        | FROM m, (SELECT unnest(generate_series(0, 4)) AS g) gg WHERE m.rn > 1),
        |tp AS (SELECT doc_id, u.i AS i, u.tok AS tok FROM (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(t)),
        |   i -> {'i': i - 1, 'tok': t[i]})) AS u FROM toks)),
        |kept AS (SELECT tp.doc_id, tp.i, tp.tok FROM tp
        | LEFT JOIN cov c ON c.doc_id = tp.doc_id AND c.i = tp.i WHERE c.i IS NULL),
        |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS text_dedup,
        |  count(*) AS n_kept FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, coalesce(a.text_dedup, '') AS text_dedup,
        | CAST(len(t.t) AS BIGINT) AS n_tokens,
        | CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_tokens_kept
        |FROM toks t LEFT JOIN agg a ON a.doc_id = t.doc_id
        |ORDER BY t.doc_id""".stripMargin,

    "t_unigram_lm" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |cnt AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
        |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM cnt)
        |SELECT tok.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        | round(avg(ln(CAST(c AS DOUBLE) / n)), 6) AS avg_logp
        |FROM tok JOIN cnt ON cnt.w = tok.w CROSS JOIN tot
        |GROUP BY tok.doc_id ORDER BY tok.doc_id""".stripMargin,

    "t_ppl_buckets" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |cnt AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
        |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM cnt),
        |sc AS (SELECT tok.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  round(avg(ln(CAST(c AS DOUBLE) / n)), 6) AS avg_logp
        | FROM tok JOIN cnt ON cnt.w = tok.w CROSS JOIN tot GROUP BY tok.doc_id),
        |cuts AS (SELECT quantile_cont(avg_logp, 0.6666666666666667) AS head_cut,
        |  quantile_cont(avg_logp, 0.3333333333333334) AS mid_cut FROM sc)
        |SELECT doc_id, n_tokens, avg_logp,
        | (CASE WHEN avg_logp >= head_cut THEN 'head'
        |   WHEN avg_logp >= mid_cut THEN 'middle' ELSE 'tail' END) AS ppl_bucket
        |FROM sc CROSS JOIN cuts ORDER BY doc_id""".stripMargin,

    "t_unigram_lm_inline" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |cnt AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
        |v AS (SELECT w, c FROM cnt ORDER BY c DESC, w LIMIT 50),
        |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM v)
        |SELECT tok.doc_id, CAST(count(*) AS BIGINT) AS n_scored,
        | round(avg(ln(CAST(c AS DOUBLE) / n)), 6) AS avg_logp
        |FROM tok JOIN v USING (w) CROSS JOIN tot
        |GROUP BY tok.doc_id ORDER BY tok.doc_id""".stripMargin,

    "t_ppl_buckets_lang" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |cnt AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
        |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM cnt),
        |sc AS (SELECT tok.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  round(avg(ln(CAST(c AS DOUBLE) / n)), 6) AS avg_logp
        | FROM tok JOIN cnt ON cnt.w = tok.w CROSS JOIN tot GROUP BY tok.doc_id),
        |scl AS (SELECT sc.*, d.lang FROM sc JOIN documents d USING (doc_id)),
        |cuts AS (SELECT lang, quantile_cont(avg_logp, 0.6666666666666667) AS head_cut,
        |  quantile_cont(avg_logp, 0.3333333333333334) AS mid_cut FROM scl GROUP BY lang)
        |SELECT doc_id, lang, n_tokens, avg_logp,
        | (CASE WHEN avg_logp >= head_cut THEN 'head'
        |   WHEN avg_logp >= mid_cut THEN 'middle' ELSE 'tail' END) AS ppl_bucket
        |FROM scl JOIN cuts USING (lang) ORDER BY doc_id""".stripMargin,

    "t_bigram_lm" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |s AS (SELECT doc_id, b['w1'] AS w1, b['w2'] AS w2 FROM (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
        |    i -> {'w1': t[i], 'w2': t[i+1]})) AS b
        |  FROM t WHERE len(t) > 1)),
        |bic AS (SELECT w1, w2, count(*) AS c2 FROM s GROUP BY 1, 2),
        |ctx AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM bic GROUP BY 1),
        |uni AS (SELECT w, count(*) AS cu FROM
        |  (SELECT unnest(string_split(text, ' ')) AS w FROM documents) GROUP BY 1),
        |tot AS (SELECT CAST(sum(cu) AS DOUBLE) AS n FROM uni)
        |SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        | round(avg(ln(0.75 * (CAST(c2 AS DOUBLE) / c1) +
        |   0.25 * (CAST(cu AS DOUBLE) / n))), 6) AS avg_logp
        |FROM s JOIN bic USING (w1, w2) JOIN ctx USING (w1)
        | JOIN uni ON uni.w = s.w2 CROSS JOIN tot
        |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin,

    "t_vocab_coverage" -> {
      val vl = coverageVocab.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
         | CAST(len(list_filter(t, x -> list_contains($vl, x))) AS BIGINT) AS n_in_vocab,
         | round(1.0 - len(list_filter(t, x -> list_contains($vl, x)))
         |   / CAST(greatest(len(t), 1) AS DOUBLE), 6) AS oov_frac
         |FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
         |ORDER BY doc_id""".stripMargin
    },

    "d_para_minhash" ->
      s"""WITH units AS (SELECT doc_id || '#' || CAST(s.idx AS VARCHAR) AS uid,
         |  s.unit AS unit FROM (
         | SELECT doc_id, unnest(list_transform(generate_series(0, (len(t) - 1) // 10),
         |  i -> {'idx': i, 'unit': array_to_string(list_slice(t, i * 10 + 1, i * 10 + 10), ' ')})) AS s
         | FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
         | WHERE len(t) > 0)),
         |sh AS (${shFrom("units", "uid", "unit")}),
         |sig AS (SELECT id, $sigCols FROM sh GROUP BY id),
         |bandrows AS (${bandSelectsOn("sig")}),
         |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         | FROM bandrows a JOIN bandrows b
         |  ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id),
         |sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
         |inter AS (SELECT c.id_a, c.id_b, count(*) AS n_inter
         | FROM cand c JOIN sh a ON a.id = c.id_a JOIN sh b ON b.id = c.id_b AND b.s = a.s
         | GROUP BY 1, 2)
         |SELECT i.id_a, i.id_b,
         | round(CAST(n_inter AS DOUBLE) / (na.n + nb.n - n_inter), 6) AS jaccard
         |FROM inter i JOIN sizes na ON na.id = i.id_a JOIN sizes nb ON nb.id = i.id_b
         |WHERE round(CAST(n_inter AS DOUBLE) / (na.n + nb.n - n_inter), 6) >= 0.5
         |ORDER BY id_a, id_b""".stripMargin,

    "a16_unigram_kl" ->
      """WITH ca AS (SELECT w, count(*) AS na FROM
        |  (SELECT unnest(string_split(text, ' ')) AS w FROM documents WHERE lang = 'en')
        |  GROUP BY 1),
        |cb AS (SELECT w, count(*) AS nb FROM
        |  (SELECT unnest(string_split(text, ' ')) AS w FROM documents WHERE lang <> 'en')
        |  GROUP BY 1),
        |u AS (SELECT coalesce(na, 0) AS na, coalesce(nb, 0) AS nb
        |  FROM ca FULL OUTER JOIN cb ON ca.w = cb.w),
        |tot AS (SELECT CAST(sum(na) AS DOUBLE) AS ta, CAST(sum(nb) AS DOUBLE) AS tb,
        |  CAST(count(*) AS DOUBLE) AS v,
        |  CAST(sum(CASE WHEN na > 0 THEN 1 ELSE 0 END) AS BIGINT) AS va,
        |  CAST(sum(CASE WHEN nb > 0 THEN 1 ELSE 0 END) AS BIGINT) AS vb FROM u),
        |pq AS (SELECT va, vb,
        |  (na + 0.5) / (ta + 0.5 * v) AS p, (nb + 0.5) / (tb + 0.5 * v) AS q
        | FROM u CROSS JOIN tot)
        |SELECT max(va) AS vocab_a, max(vb) AS vocab_b,
        | count(*) AS vocab_union,
        | round(sum(p * ln(p / q)), 6) AS kl_ab,
        | round(sum(q * ln(q / p)), 6) AS kl_ba,
        | round(sum(p * ln(p / ((p + q) / 2.0))) / 2 +
        |   sum(q * ln(q / ((p + q) / 2.0))) / 2, 6) AS jsd
        |FROM pq""".stripMargin,

    "a15_entropy" ->
      """WITH uni AS (SELECT w, count(*) AS c FROM
        |  (SELECT unnest(string_split(text, ' ')) AS w FROM documents) GROUP BY 1),
        |t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |bic AS (SELECT b, count(*) AS c FROM (
        |  SELECT unnest(list_transform(generate_series(1, len(t) - 1),
        |    i -> t[i] || ' ' || t[i+1])) AS b
        |  FROM t WHERE len(t) > 1) GROUP BY 1),
        |hu AS (SELECT log2(sum(c)) - sum(c * log2(c)) / sum(c) AS h FROM uni),
        |hb AS (SELECT log2(sum(c)) - sum(c * log2(c)) / sum(c) AS h FROM bic)
        |SELECT metric, value FROM (
        | SELECT 'unigram_entropy_bits' AS metric, round(h, 6) AS value FROM hu
        | UNION ALL SELECT 'bigram_entropy_bits', round(h, 6) FROM hb
        | UNION ALL SELECT 'conditional_entropy_bits', round(hb.h - hu.h, 6) FROM hb, hu
        |) ORDER BY metric""".stripMargin,

    "t_fineweb" ->
      """WITH f AS (SELECT doc_id, string_split(text, ' ') AS w,
        |  string_split(text, chr(10)) AS l, len(text) AS ch FROM documents),
        |sig AS (SELECT doc_id,
        |  CAST(len(w) AS BIGINT) AS n_words,
        |  round(CAST(ch - len(w) + 1 AS DOUBLE) / len(w), 6) AS avg_word_len,
        |  round(len(list_filter(l, x -> x LIKE '%...')) /
        |    CAST(greatest(len(l), 1) AS DOUBLE), 6) AS ellipsis_line_frac,
        |  round(len(list_filter(l, x -> x LIKE '-%' OR x LIKE '*%' OR x LIKE '•%')) /
        |    CAST(greatest(len(l), 1) AS DOUBLE), 6) AS bullet_line_frac,
        |  round(len(list_filter(l, x -> len(x) < 30)) /
        |    CAST(greatest(len(l), 1) AS DOUBLE), 6) AS short_line_frac,
        |  round(len(list_filter(l, x -> regexp_matches(x, '[.!?"'']$'))) /
        |    CAST(greatest(len(l), 1) AS DOUBLE), 6) AS end_punct_line_frac
        | FROM f)
        |SELECT *, (n_words BETWEEN 50 AND 100000)
        |  AND (avg_word_len BETWEEN 3.0 AND 10.0)
        |  AND ellipsis_line_frac <= 0.3 AND bullet_line_frac <= 0.9
        |  AND short_line_frac <= 0.67 AND end_punct_line_frac >= 0.12 AS keep
        |FROM sig ORDER BY doc_id""".stripMargin,

    "r_corpus_report" ->
      """WITH ra AS (SELECT count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |  CAST(sum(len(text)) AS BIGINT) AS n_chars,
        |  avg(CAST(len(string_split(text, ' ')) AS DOUBLE)) AS mean_doc_tokens,
        |  max(len(string_split(text, ' '))) AS max_doc_tokens,
        |  min(len(string_split(text, ' '))) AS min_doc_tokens
        | FROM documents),
        |h AS (SELECT md5(text) AS h, count(*) AS c FROM documents GROUP BY 1),
        |dup AS (SELECT count(*) AS uniq,
        |  coalesce(sum(CASE WHEN c > 1 THEN c END), 0) AS dup_docs FROM h)
        |SELECT metric, value FROM (
        | SELECT 'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS value FROM ra
        | UNION ALL SELECT 'n_tokens', CAST(n_tokens AS DOUBLE) FROM ra
        | UNION ALL SELECT 'n_chars', CAST(n_chars AS DOUBLE) FROM ra
        | UNION ALL SELECT 'mean_doc_tokens', round(mean_doc_tokens, 6) FROM ra
        | UNION ALL SELECT 'max_doc_tokens', CAST(max_doc_tokens AS DOUBLE) FROM ra
        | UNION ALL SELECT 'min_doc_tokens', CAST(min_doc_tokens AS DOUBLE) FROM ra
        | UNION ALL SELECT 'n_unique_texts', CAST(uniq AS DOUBLE) FROM dup
        | UNION ALL SELECT 'exact_dup_frac',
        |   round(dup_docs / CAST((SELECT n_docs FROM ra) AS DOUBLE), 6) FROM dup
        | UNION ALL SELECT 'lang_frac_' || lang,
        |   round(count(*) / CAST((SELECT n_docs FROM ra) AS DOUBLE), 6)
        |  FROM documents GROUP BY lang
        |) ORDER BY metric""".stripMargin
  )
}
