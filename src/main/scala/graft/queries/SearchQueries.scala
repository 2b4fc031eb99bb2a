package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.search.{Searcher, Swap}

/** ES search surface (SURVEY §2.7 E1-E4, E6 is in EventQueries; §2.3 A12).
  * Spark side goes through the PhraseMatch custom expression (slop-aware);
  * the oracle reproduces slop=0 as padded-LIKE containment and slop=1 as a
  * bounded-gap regex — both exact for single-space text.
  */
object SearchQueries extends QueryPack {

  private val anyPhrases = Seq("spark window", "batch batch", "key order sort")
  private val perPhrases = Seq("spark window", "data line", "merge slow join", "absent phrase qq")
  private val unigrams = Seq("spark", "data", "zzzz")
  private val idxPhrases = Seq("batch batch", "spark window", "data line",
    "no such phrase xyz")
  private val bm25Terms = Seq("spark", "window", "data")
  // paired-contamination examples: multi-field benchmark rows (question +
  // answer style) — a mix of co-occurring pairs, a pair that hits only in
  // separate docs at small sf, a single-field example, and an absent field
  private val pairedExamples = Seq(
    Seq("spark window", "data line"),
    Seq("the key", "slow fast"),
    Seq("customer query", "merge batch"),
    Seq("batch window"),
    Seq("spark window", "zz missing qq"))
  private val proxPairs = Seq(("spark", "window"), ("data", "line"),
    ("spark", "zzzz"))

  /** Scan-tier ground truth for the `idxPhrases` battery, replayed off
    * `src` directly — shared by e10 (batch-built index), e18 (streamed +
    * compacted index) and e19 (diff-refreshed index): all must reproduce
    * it exactly. `prefixCtes` lets a caller prepend CTE definitions (e.g.
    * the derived new-snapshot relation e19 replays against) — pass
    * `"name AS (...), "` including the trailing comma.
    */
  private def idxPhraseOracle(src: String = "documents",
                              prefixCtes: String = ""): String =
    s"""WITH ${prefixCtes}ph(phrase) AS (SELECT * FROM (VALUES ${idxPhrases.map(p => s"('$p')").mkString(", ")}) v(p)),
       |ngs AS (
       |  SELECT 2 AS plen, ngram FROM (${DuckSql.ngrams(2, src)})
       |  UNION ALL
       |  SELECT 4 AS plen, ngram FROM (${DuckSql.ngrams(4, src)})
       |),
       |occ AS (SELECT phrase, CAST(count(ngram) AS BIGINT) AS occurrences
       | FROM ph LEFT JOIN ngs ON ngs.ngram = ph.phrase
       |   AND ngs.plen = len(string_split(ph.phrase, ' '))
       | GROUP BY phrase),
       |nd AS (SELECT phrase,
       |  CAST(coalesce(sum(CASE WHEN contains(' ' || text || ' ', ' ' || phrase || ' ')
       |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_docs
       | FROM ph LEFT JOIN $src ON true GROUP BY phrase)
       |SELECT ph.phrase, occ.occurrences, nd.n_docs
       |FROM ph JOIN occ USING (phrase) JOIN nd USING (phrase)
       |ORDER BY phrase""".stripMargin

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e1_count_any" -> ((s, dir) =>
      Searcher.countContaining(Tables(s, dir, "documents"), "text", anyPhrases,
        allPhrases = false, uax29 = false)),

    "e1_count_all" -> ((s, dir) =>
      Searcher.countContaining(Tables(s, dir, "documents"), "text",
        Seq("spark window", "data line"), allPhrases = true, uax29 = false)),

    "e1_count_slop1" -> ((s, dir) =>
      Searcher.countContaining(Tables(s, dir, "documents"), "text",
        Seq("the key"), slop = 1, uax29 = false)),

    "e1_count_regexp" -> ((s, dir) =>
      Searcher.countContaining(Tables(s, dir, "documents"), "text",
        Seq("SPARK\\s+WINDOW", "BATCH\\s+BATCH"), isRegexp = true)),

    "e2_get_docs" -> ((s, dir) =>
      Searcher.getContaining(Tables(s, dir, "documents"), "text", Seq("spark window"),
        uax29 = false, numDocuments = 20, sortCols = Seq(col("doc_id")))
        .select("doc_id", "lang", "source")),

    "e3_per_phrase" -> ((s, dir) =>
      Searcher.countPerPhrase(Tables(s, dir, "documents"), "text", perPhrases,
        uax29 = false).orderBy("phrase")),

    // concordance / KWIC: every occurrence of a literal phrase with 20
    // chars of piece-local context each side
    "e8_concordance" -> ((s, dir) =>
      graft.operators.SearchOps.concordance(Tables(s, dir, "documents"),
        "doc_id", "text", phrase = "data line", ctx = 20)
        .orderBy("doc_id", "occ")),

    "e4_unigram_ttf" -> ((s, dir) =>
      Searcher.unigramTtf(Tables(s, dir, "documents"), "text", unigrams,
        uax29 = false).orderBy("unigram")),

    "a12_contamination" -> ((s, dir) =>
      Searcher.contamination(Tables(s, dir, "documents"), "text", perPhrases,
        uax29 = false)),

    // §2.9 batch driver: all benchmarks in ONE corpus scan ("spark window"
    // is shared between the two benchmarks and evaluated once)
    "e7_bench_contamination" -> ((s, dir) =>
      Searcher.contaminationByBenchmark(Tables(s, dir, "documents"), "text",
        Seq("benchA" -> "batch batch", "benchA" -> "spark window",
          "benchB" -> "data line", "benchB" -> "no such phrase xyz",
          "benchB" -> "spark window"),
        uax29 = false).orderBy("benchmark")),

    // §2.9 PromptSource client: benchmark rows render through parsed
    // {{field}} templates (pure column algebra) and feed the E7 counter —
    // 'plain' prompts are verbatim corpus spans (contaminated), the
    // 'prefixed' template injects an unseen literal (clean)
    "e9_prompt_contamination" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val toks = split(col("text"), " ")
      val bench = d.where(col("doc_id") % 40 === 0 && size(toks) >= 9)
        .select(concat_ws(" ", slice(toks, 1, 6)).as("q"),
          concat_ws(" ", slice(toks, 7, 3)).as("a"))
      val tpls = graft.search.PromptTemplates.parseTsv(Seq(
        "plain\t\t{{ q }} {{ a }}",
        "prefixed\t\tunseen prefix: {{ q }}"))
      graft.search.PromptTemplates.contaminationFromTemplates(d, "text",
        tpls.map(t => t -> bench), uax29 = false)
        .orderBy("benchmark")
    }),

    // index tier (the reference's Elasticsearch side): phrase counts
    // answered from a positions-aware postings table instead of a corpus
    // scan — occurrences AND containing-doc counts must equal the scan
    // tier's, which the oracle replays directly off `documents`. The
    // phrase set reuses a9's, incl. the duplicate-term ("batch batch")
    // and zero-hit edge cases.
    "e10_indexed_phrase" -> ((s, dir) => {
      val post = graft.search.InvertedIndex.postings(
        Tables(s, dir, "documents"), "doc_id", "text", uax29 = false)
      graft.search.InvertedIndex.phraseHits(post, idxPhrases, uax29 = false)
        .orderBy("phrase")
    }),

    // termvector stats (E4's df/ttf shape) read off the same index
    "e11_index_termstats" -> ((s, dir) => {
      val post = graft.search.InvertedIndex.postings(
        Tables(s, dir, "documents"), "doc_id", "text", uax29 = false)
      graft.search.InvertedIndex.termStats(post, unigrams).orderBy("term")
    }),

    // E1-with-slop off the index: Lucene move-distance containment decided
    // on stored positions (shared matcher core with the scan tier)
    "e13_indexed_slop" -> ((s, dir) => {
      val post = graft.search.InvertedIndex.postings(
        Tables(s, dir, "documents"), "doc_id", "text", uax29 = false)
      graft.search.InvertedIndex.countContainingSlop(post,
        Seq("the key", "spark window"), slop = 1, uax29 = false)
        .orderBy("phrase")
    }),

    // PMI collocation strength over the same window counts; T comes from
    // the build-time norms row, not an index-wide Σtf per call
    "e15_collocation_pmi" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val post = graft.search.InvertedIndex.postings(d, "doc_id", "text",
        uax29 = false)
      graft.search.InvertedIndex.collocationPmi(post,
        graft.search.InvertedIndex.corpusNorms(d, "text", uax29 = false),
        proxPairs, window = 3)
        .orderBy("term_a", "term_b")
    }),

    // the batch-benchmark posture the reference's contamination driver
    // actually runs (msearch batches of hundreds of phrases): the corpus's
    // top-200 2-grams plus an absent control, all answered by ONE postings
    // join — the plan is the same 6 operators as a 2-phrase lookup
    "e16_indexed_batch" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val top = graft.operators.NgramOps.topK(d, "text", 2, 200, uax29 = false)
        .collect().map(_.getString(0)).toSeq
      val post = graft.search.InvertedIndex.postings(d, "doc_id", "text",
        uax29 = false)
      graft.search.InvertedIndex.phraseHits(post, top :+ "zz qq zz",
        uax29 = false).orderBy("phrase")
    }),

    // paired contamination (multi-field benchmark examples): one corpus
    // scan with a conjunction predicate per example
    "e25_paired_contamination" -> ((s, dir) =>
      Searcher.pairedContamination(Tables(s, dir, "documents"), "text",
        pairedExamples, uax29 = false)),

    // the per-example counts under e25's rollup — the reference's
    // count_documents_for_each_phrase(all_phrases=True) output shape
    "e29_count_per_example" -> ((s, dir) =>
      Searcher.countPerExample(Tables(s, dir, "documents"), "text",
        pairedExamples, uax29 = false).orderBy("example_id")),

    // the same examples answered from the index — must agree exactly with
    // e25 (the oracle is verbatim the same SQL)
    "e26_paired_indexed" -> ((s, dir) => {
      val post = graft.search.InvertedIndex.postings(
        Tables(s, dir, "documents"), "doc_id", "text", uax29 = false)
      graft.search.InvertedIndex.pairedContaminationIndexed(post,
        pairedExamples, uax29 = false)
    }),

    // ES standard-analyzer parity: deterministically MANGLE the corpus
    // (case noise + punctuation-only tokens), analyze it back with
    // esAnalyzeText, and demand the per-phrase counts equal the oracle's
    // PLAIN counts over the clean text — the analyzer must exactly undo
    // the mangling, as the reference's ES index does at write time
    "e27_analyzed_count" -> ((s, dir) =>
      Searcher.countPerPhrase(
        analyzerMangled(Tables(s, dir, "documents")), "text",
        analyzedPhrases.map(Searcher.analyzePhrase), uax29 = false)
        .orderBy("phrase")),

    // the same analyzed corpus INDEXED: postings built over the analyzed
    // column answer the analyzed phrase battery — write-time analysis,
    // the reference ES posture, same clean-text oracle
    "e28_analyzed_indexed" -> ((s, dir) => {
      val post = graft.search.InvertedIndex.postings(
        analyzerMangled(Tables(s, dir, "documents")), "doc_id", "text",
        uax29 = false)
      graft.search.InvertedIndex.phraseHits(post,
        analyzedPhrases.map(Searcher.analyzePhrase), uax29 = false)
        .orderBy("phrase")
    }),

    // collocation counts off the index: symmetric proximity window over
    // two posting lists per pair, no corpus scan
    "e14_term_proximity" -> ((s, dir) => {
      val post = graft.search.InvertedIndex.postings(
        Tables(s, dir, "documents"), "doc_id", "text", uax29 = false)
      graft.search.InvertedIndex.proximityPairs(post, proxPairs, window = 3)
        .orderBy("term_a", "term_b")
    }),

    // E2 off the index: per-(phrase, doc) retrieval rows with occurrence
    // counts — the get_documents surface answered from postings, ids only
    // (bodies come from an id-keyed point read of the store)
    "e17_indexed_get_docs" -> ((s, dir) => {
      val post = graft.search.InvertedIndex.postings(
        Tables(s, dir, "documents"), "doc_id", "text", uax29 = false)
      graft.search.InvertedIndex.docsContainingPhrase(post, idxPhrases,
        uax29 = false).orderBy("phrase", "doc_id")
    }),

    // the full streaming-index lifecycle under oracle check: an initial
    // bucketed index over 4/5 of the corpus, the last fifth arriving as a
    // file stream (maxFilesPerTrigger=1 → real micro-batches) through
    // postingsStream into a parquet append dir, compactIndex folding the
    // appends back into ONE bucketed table — and the final state answering
    // the same phrase battery e10 checks against the raw documents table
    "e18_stream_compact" -> ((s, dir) => {
      import graft.search.InvertedIndex
      val d = Tables(s, dir, "documents")
      val table = "e18_stream_idx"
      Swap.drop(s, table, s"${table}__norms")
      val tmp = java.nio.file.Files.createTempDirectory("e18_stream").toString
      StageTimer.start("e18_stream_compact")
      InvertedIndex.writeIndex(
        InvertedIndex.postings(d.where(col("doc_id") % 5 =!= 0),
          "doc_id", "text", uax29 = false), table, buckets = 8, force = true)
      StageTimer.mark("e18_stream_compact", "build")
      // 2 files = two real micro-batches (see j17: batch count, not data,
      // dominates; 2 is the minimum that still exercises multi-batch)
      d.where(col("doc_id") % 5 === 0).select("doc_id", "text")
        .repartition(2).write.mode("overwrite").json(s"$tmp/src")
      StageTimer.mark("e18_stream_compact", "setup")
      val in = s.readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", 1).json(s"$tmp/src")
      val q = InvertedIndex.postingsStream(in, "doc_id", "text", uax29 = false)
        .writeStream.format("parquet")
        .option("path", s"$tmp/appends")
        .option("checkpointLocation", s"$tmp/ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      StageTimer.mark("e18_stream_compact", "stream")
      InvertedIndex.compactIndex(s, table, s.read.parquet(s"$tmp/appends"),
        buckets = 8)
      StageTimer.mark("e18_stream_compact", "compact")
      InvertedIndex.phraseHits(InvertedIndex.readIndex(s, table), idxPhrases,
        uax29 = false).orderBy("phrase")
    }),

    // diff-driven index refresh under oracle check: an index built over the
    // OLD snapshot (doc_id%11 absent — j10's fixture derivation), brought
    // to the NEW snapshot's state (doc_id%13 removed, %5 edited in place)
    // by refreshIndex — postings built only for added/changed docs, removed
    // and stale postings anti-joined out, crash-safe swap — then answering
    // the phrase battery against ground truth replayed on the NEW snapshot
    "e19_index_refresh" -> ((s, dir) => {
      import graft.search.InvertedIndex
      val d = Tables(s, dir, "documents")
      val table = "e19_refresh_idx"
      Swap.drop(s, table, s"${table}__norms")
      val old = d.where(col("doc_id") % 11 =!= 0).select("doc_id", "text")
      val nw = d.where(col("doc_id") % 13 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" rev1")))
            .otherwise(col("text")).as("text"))
      StageTimer.start("e19_index_refresh")
      InvertedIndex.writeIndex(
        InvertedIndex.postings(old, "doc_id", "text", uax29 = false),
        table, buckets = 8, force = true)
      StageTimer.mark("e19_index_refresh", "build")
      InvertedIndex.refreshIndex(s, table, old, nw, "doc_id", "text",
        buckets = 8, uax29 = false)
      StageTimer.mark("e19_index_refresh", "refresh")
      InvertedIndex.phraseHits(InvertedIndex.readIndex(s, table), idxPhrases,
        uax29 = false).orderBy("phrase")
    }),

    // ES regexp query over the term dictionary (full-term match, Lucene
    // RegexpQuery semantics): per-term df/ttf for every dictionary term
    // the pattern consumes entirely — the index-tier analogue of A10's
    // corpus-side regex search
    "e20_indexed_regexp" -> ((s, dir) => {
      val post = graft.search.InvertedIndex.postings(
        Tables(s, dir, "documents"), "doc_id", "text", uax29 = false)
      graft.search.InvertedIndex.termsMatching(post, "s[a-z]+")
        .orderBy("term")
    }),

    // ES wildcard query hit count: documents containing ANY term matching
    // the Lucene wildcard pattern, via the shared wildcard→regex
    // translation (the oracle embeds the SAME translated regex)
    "e21_indexed_wildcard" -> ((s, dir) => {
      val post = graft.search.InvertedIndex.postings(
        Tables(s, dir, "documents"), "doc_id", "text", uax29 = false)
      graft.search.InvertedIndex.countDocsMatching(post, "*a*",
        wildcard = true)
    }),

    // ES match_phrase_prefix (autocomplete): trailing token is a prefix,
    // dictionary-expanded then folded back — occurrences sum across
    // expansions, n_docs dedup; 'zz qq' has a hitless full prefix and
    // 's' alone degenerates to a wildcard term query
    "e22_phrase_prefix" -> ((s, dir) => {
      val post = graft.search.InvertedIndex.postings(
        Tables(s, dir, "documents"), "doc_id", "text", uax29 = false)
      // the oracle's LIKE replay is uncapped — pin maxExpansions above any
      // possible dictionary size so parity can never silently depend on
      // the test vocabulary staying under the Lucene-style default of 50
      graft.search.InvertedIndex.phrasePrefixHits(post,
        Seq("key s", "spark w", "zz qq", "s"), uax29 = false,
        maxExpansions = Int.MaxValue)
        .orderBy("phrase")
    }),

    // ES fuzzy query (Lucene FuzzyQuery, transpositions=false): dictionary
    // terms within 2 classic-Levenshtein edits of 'spark'
    "e23_indexed_fuzzy" -> ((s, dir) => {
      val post = graft.search.InvertedIndex.postings(
        Tables(s, dir, "documents"), "doc_id", "text", uax29 = false)
      graft.search.InvertedIndex.termsFuzzy(post, "spark", maxEdits = 2)
        .orderBy("term")
    }),

    // ES more_like_this: top tf-idf terms of doc 42 become a BM25
    // disjunction; the source doc itself is excluded from the ranking
    "e24_more_like_this" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val post = graft.search.InvertedIndex.postings(d, "doc_id", "text",
        uax29 = false)
      graft.search.InvertedIndex.moreLikeThis(post,
        graft.search.InvertedIndex.corpusNorms(d, "text", uax29 = false),
        docId = 42L, maxQueryTerms = 5, k = 10)
    }),

    // BM25 ranked retrieval (the ES tier's default relevance) off the
    // index: scores computed entirely from postings + in-index norms
    "e12_bm25_topk" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val post = graft.search.InvertedIndex.postings(d, "doc_id", "text",
        uax29 = false)
      graft.search.InvertedIndex.bm25TopK(post,
        graft.search.InvertedIndex.corpusNorms(d, "text", uax29 = false),
        bm25Terms, k = 15)
    }),

    // ES significant_terms (JLH) off the index: which terms distinguish
    // one source's documents from the whole corpus
    "e30_significant_terms" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val post = graft.search.InvertedIndex.postings(d, "doc_id", "text",
        uax29 = false)
      graft.search.InvertedIndex.significantTerms(post,
        graft.search.InvertedIndex.corpusNorms(d, "text", uax29 = false),
        d.where(col("source") === "src18").select("doc_id"), k = 15)
    }),

    // the same foreground scored with ES's chi_square heuristic
    "e31_significant_chi2" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val post = graft.search.InvertedIndex.postings(d, "doc_id", "text",
        uax29 = false)
      graft.search.InvertedIndex.significantTerms(post,
        graft.search.InvertedIndex.corpusNorms(d, "text", uax29 = false),
        d.where(col("source") === "src18").select("doc_id"), k = 15,
        heuristic = "chi2")
    }),

    // the set-oriented batch posture: significant terms for THREE sources
    // in one postings pass (per-group rank window instead of N plans)
    "e33_significant_grouped" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val post = graft.search.InvertedIndex.postings(d, "doc_id", "text",
        uax29 = false)
      graft.search.InvertedIndex.significantTermsByGroup(post,
        graft.search.InvertedIndex.corpusNorms(d, "text", uax29 = false),
        d.where(col("source").isin("src3", "src4", "src18"))
          .select(col("doc_id"), col("source").as("group")), k = 10)
        .orderBy(col("group"), desc("jlh"), col("term"))
    }),

    // and with mutual_information (bits)
    "e32_significant_mi" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val post = graft.search.InvertedIndex.postings(d, "doc_id", "text",
        uax29 = false)
      graft.search.InvertedIndex.significantTerms(post,
        graft.search.InvertedIndex.corpusNorms(d, "text", uax29 = false),
        d.where(col("source") === "src18").select("doc_id"), k = 15,
        heuristic = "mi")
    }),

    // paired contamination at BATTERY scale: >WidePhraseGate examples
    // route through the MultiExamplesMatched kernel — one walk of each
    // document over the distinct field set with a field→example fan-out,
    // instead of one conjunction column per example. Examples are
    // (3-token, 2-token) corpus prefixes ordered (q, a) so example_id is
    // deterministic and the oracle can replay it with a row_number
    "e36_paired_wide" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val toks = split(col("text"), " ")
      val ex = d.where(col("doc_id") % 4 === 0 && size(toks) >= 5)
        .select(concat_ws(" ", slice(toks, 1, 3)).as("q"),
          concat_ws(" ", slice(toks, 4, 2)).as("a"))
        .distinct().orderBy("q", "a")
        .collect().map(r => Seq(r.getString(0), r.getString(1))).toSeq
      Searcher.countPerExample(d, "text", ex, uax29 = false)
        .orderBy("example_id")
    }),

    // wide battery under SLOP: the kernel's insertion-budget matcher at
    // battery scale — 2-token prefixes at slop=1, whose oracle has a
    // closed SQL form (adjacent containment OR exactly one inserted
    // token; corpus tokens are alphanumeric, so the regex is literal-safe)
    "e37_per_phrase_wide_slop" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val toks = split(col("text"), " ")
      val battery = d.where(col("doc_id") % 4 === 0 && size(toks) >= 2)
        .select(concat_ws(" ", slice(toks, 1, 2)).as("p"))
        .distinct().collect().map(_.getString(0)).toSeq.sorted
      Searcher.countPerPhrase(d, "text", battery, slop = 1, uax29 = false)
        .orderBy("phrase")
    }),

    // the example kernel under Lucene MOVE-DISTANCE slop: conjunction
    // examples ((2-token q, 2-token a) corpus slices) where EACH field
    // matches under the slop=2 move-distance budget — transpositions
    // included, which the e36 adjacency oracle and the insertion dialect
    // never admit; the closed SQL form is e38's per field, ANDed
    "e39_paired_wide_lucene" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val toks = split(col("text"), " ")
      val ex = d.where(col("doc_id") % 4 === 0 && size(toks) >= 5)
        .select(concat_ws(" ", slice(toks, 1, 2)).as("q"),
          concat_ws(" ", slice(toks, 4, 2)).as("a"))
        .distinct().orderBy("q", "a")
        .collect().map(r => Seq(r.getString(0), r.getString(1))).toSeq
      Searcher.countPerExample(d, "text", ex, slop = 2, uax29 = false,
        luceneSlop = true).orderBy("example_id")
    }),

    // wide battery under Lucene MOVE-DISTANCE slop (the ES default): at
    // slop=2 a 2-token phrase matches adjacency, one or two inserted
    // tokens, AND the transposition "t2 t1" — which the insertion-budget
    // dialect (e37) never does. 2-token prefixes keep a closed SQL form:
    // regex with {0,2} fillers plus the reversed-adjacency clause (a
    // duplicate-term phrase needs distinct positions, which the regex's
    // two literal tokens already force)
    "e38_per_phrase_wide_lucene" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val toks = split(col("text"), " ")
      val battery = d.where(col("doc_id") % 4 === 0 && size(toks) >= 2)
        .select(concat_ws(" ", slice(toks, 1, 2)).as("p"))
        .distinct().collect().map(_.getString(0)).toSeq.sorted
      Searcher.countPerPhrase(d, "text", battery, slop = 2, uax29 = false,
        luceneSlop = true).orderBy("phrase")
    }),

    // E3 at BATTERY scale: >WidePhraseGate phrases route through the
    // set-oriented MultiPhrasesFound kernel — one walk of each document
    // against a first-token index of the whole battery instead of one
    // predicate column per phrase (per-row cost and plan size O(P) there,
    // O(len) here). Phrases are 5-token corpus prefixes so hits, zero
    // hits, shared first tokens and boundary matches all occur.
    "e35_per_phrase_wide" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val toks = split(col("text"), " ")
      val battery = d.where(col("doc_id") % 4 === 0 && size(toks) >= 5)
        .select(concat_ws(" ", slice(toks, 1, 5)).as("p"))
        .distinct().collect().map(_.getString(0)).toSeq.sorted
      Searcher.countPerPhrase(d, "text", battery, uax29 = false)
        .orderBy("phrase")
    })
  )

  private def padHit(phrase: String): String =
    s"contains(' ' || text || ' ', ' $phrase ')"

  // analyzer-parity fixtures: phrases arrive mixed-case (analyzePhrase
  // folds them); the corpus mangling is upper-case every 3rd doc and
  // punctuation-only tokens on the next — esAnalyzeText must undo both
  private val analyzedPhrases =
    Seq("Spark WINDOW", "batch batch", "Data LINE")
  private def analyzerMangled(d: DataFrame): DataFrame =
    d.withColumn("text",
      graft.functions.TextFunctions.esAnalyzeText(
        when(col("doc_id") % 3 === 0, upper(col("text")))
          .when(col("doc_id") % 3 === 1,
            concat(lit(", . "), col("text"), lit(" ; ... !")))
          .otherwise(col("text"))))

  // paired contamination ground truth, built from the SAME example list the
  // Spark queries use: an example is contaminated iff one document holds
  // every field phrase. e25 (scan tier) and e26 (index tier) both replay it.
  private def pairedOracle: String = {
    val rows = pairedExamples.zipWithIndex.map { case (ps, i) =>
      s"SELECT $i AS example_id, CASE WHEN EXISTS(SELECT 1 FROM documents " +
        s"WHERE ${ps.map(padHit).mkString(" AND ")}) THEN 1 ELSE 0 END AS hit"
    }.mkString(" UNION ALL ")
    s"""WITH ex AS ($rows)
       |SELECT n_examples, n_contaminated,
       | round(n_contaminated / CAST(n_examples AS DOUBLE), 6) AS pct
       |FROM (SELECT CAST(count(*) AS BIGINT) AS n_examples,
       |  CAST(sum(hit) AS BIGINT) AS n_contaminated FROM ex)""".stripMargin
  }

  override val oracles: Map[String, String] = Map(
    "e8_concordance" ->
      """WITH p AS (SELECT doc_id, string_split(text, 'data line') AS ps
        | FROM documents WHERE contains(text, 'data line'))
        |SELECT doc_id, CAST(s['occ'] AS BIGINT) AS occ,
        | s['l'] AS left_ctx, s['r'] AS right_ctx FROM (
        | SELECT doc_id, unnest(list_transform(generate_series(1, len(ps) - 1), i ->
        |   {'occ': i,
        |    'l': substring(ps[i], greatest(len(ps[i]) - 19, 1), 20),
        |    'r': substring(ps[i+1], 1, 20)})) AS s
        | FROM p)
        |ORDER BY doc_id, occ""".stripMargin,

    "e1_count_any" ->
      s"""SELECT count(*) AS n_docs FROM documents
         |WHERE ${anyPhrases.map(padHit).mkString(" OR ")}""".stripMargin,

    "e25_paired_contamination" -> pairedOracle,
    "e26_paired_indexed" -> pairedOracle,

    "e29_count_per_example" ->
      s"""WITH ex AS (${pairedExamples.zipWithIndex.map { case (ps, i) =>
           s"SELECT CAST($i AS BIGINT) AS example_id, (SELECT CAST(count(*) AS BIGINT) " +
             s"FROM documents WHERE ${ps.map(padHit).mkString(" AND ")}) AS n_docs"
         }.mkString(" UNION ALL ")})
         |SELECT example_id, n_docs FROM ex ORDER BY example_id""".stripMargin,

    // the analyzer exactly undoes the mangling, so ground truth is the
    // PLAIN per-phrase count over the CLEAN text with folded phrases
    "e27_analyzed_count" ->
      s"""WITH ph(phrase) AS (SELECT * FROM (VALUES ${analyzedPhrases.map(p => s"('${Searcher.analyzePhrase(p)}')").mkString(", ")}) v(p))
         |SELECT phrase,
         | CAST(coalesce(sum(CASE WHEN contains(' ' || text || ' ', ' ' || phrase || ' ')
         |   THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_docs
         |FROM ph LEFT JOIN documents ON true GROUP BY phrase
         |ORDER BY phrase""".stripMargin,

    "e28_analyzed_indexed" ->
      s"""WITH ph(phrase) AS (SELECT * FROM (VALUES ${analyzedPhrases.map(p => s"('${Searcher.analyzePhrase(p)}')").mkString(", ")}) v(p)),
         |ngs AS (SELECT ngram FROM (${DuckSql.ngrams(2)})),
         |occ AS (SELECT phrase, CAST(count(ngram) AS BIGINT) AS occurrences
         | FROM ph LEFT JOIN ngs ON ngs.ngram = ph.phrase GROUP BY phrase),
         |nd AS (SELECT phrase,
         |  CAST(coalesce(sum(CASE WHEN contains(' ' || text || ' ', ' ' || phrase || ' ')
         |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_docs
         | FROM ph LEFT JOIN documents ON true GROUP BY phrase)
         |SELECT ph.phrase, occ.occurrences, nd.n_docs
         |FROM ph JOIN occ USING (phrase) JOIN nd USING (phrase)
         |ORDER BY phrase""".stripMargin,

    "e1_count_all" ->
      s"""SELECT count(*) AS n_docs FROM documents
         |WHERE ${padHit("spark window")} AND ${padHit("data line")}""".stripMargin,

    "e1_count_slop1" ->
      """SELECT count(*) AS n_docs FROM documents
        |WHERE regexp_matches(text, '(^| )the( [^ ]+)? key( |$)')""".stripMargin,

    "e1_count_regexp" ->
      """SELECT count(*) AS n_docs FROM documents
        |WHERE regexp_matches(text, '(?i)SPARK\s+WINDOW')
        |   OR regexp_matches(text, '(?i)BATCH\s+BATCH')""".stripMargin,

    "e2_get_docs" ->
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE ${padHit("spark window")} ORDER BY doc_id LIMIT 20""".stripMargin,

    "e3_per_phrase" ->
      s"""WITH ph(phrase) AS (SELECT * FROM (VALUES ${perPhrases.map(p => s"('$p')").mkString(", ")}) v(p))
         |SELECT phrase,
         | CAST(coalesce(sum(CASE WHEN contains(' ' || text || ' ', ' ' || phrase || ' ')
         |   THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_docs
         |FROM ph LEFT JOIN documents ON true
         |GROUP BY phrase ORDER BY phrase""".stripMargin,

    "e4_unigram_ttf" ->
      s"""WITH ug(unigram) AS (SELECT * FROM (VALUES ${unigrams.map(u => s"('$u')").mkString(", ")}) v(u)),
         |tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         |SELECT unigram, CAST(coalesce(count(w), 0) AS BIGINT) AS total_occurrences
         |FROM ug LEFT JOIN tok ON w = unigram
         |GROUP BY unigram ORDER BY unigram""".stripMargin,

    "a12_contamination" ->
      s"""WITH ph(phrase) AS (SELECT * FROM (VALUES ${perPhrases.map(p => s"('$p')").mkString(", ")}) v(p)),
         |per AS (SELECT phrase,
         |  sum(CASE WHEN contains(' ' || text || ' ', ' ' || phrase || ' ')
         |    THEN 1 ELSE 0 END) AS n_docs
         | FROM ph LEFT JOIN documents ON true GROUP BY phrase)
         |SELECT count(*) AS n_phrases,
         | CAST(sum(CASE WHEN n_docs > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
         | round(avg(CAST(CASE WHEN n_docs > 0 THEN 1 ELSE 0 END AS DOUBLE)), 6) AS pct
         |FROM per""".stripMargin,

    "e7_bench_contamination" ->
      """WITH bp(benchmark, phrase) AS (SELECT * FROM (VALUES
        |  ('benchA', 'batch batch'), ('benchA', 'spark window'),
        |  ('benchB', 'data line'), ('benchB', 'no such phrase xyz'),
        |  ('benchB', 'spark window')) v(b, p)),
        |per AS (SELECT phrase,
        |  sum(CASE WHEN contains(' ' || text || ' ', ' ' || phrase || ' ')
        |    THEN 1 ELSE 0 END) AS n_docs
        | FROM (SELECT DISTINCT phrase FROM bp) ph LEFT JOIN documents ON true
        | GROUP BY phrase)
        |SELECT benchmark, count(*) AS n_phrases,
        | CAST(sum(CASE WHEN n_docs > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
        | round(avg(CAST(CASE WHEN n_docs > 0 THEN 1 ELSE 0 END AS DOUBLE)), 6) AS pct
        |FROM bp JOIN per USING (phrase)
        |GROUP BY benchmark ORDER BY benchmark""".stripMargin,

    "e9_prompt_contamination" ->
      """WITH b AS (SELECT
        |  array_to_string(list_slice(string_split(text, ' '), 1, 6), ' ') AS q,
        |  array_to_string(list_slice(string_split(text, ' '), 7, 9), ' ') AS a
        | FROM documents
        | WHERE doc_id % 40 = 0 AND len(string_split(text, ' ')) >= 9),
        |bp(benchmark, phrase) AS (
        | SELECT 'plain', q || ' ' || a FROM b
        | UNION ALL
        | SELECT 'prefixed', 'unseen prefix: ' || q FROM b),
        |per AS (SELECT phrase,
        |  sum(CASE WHEN contains(' ' || text || ' ', ' ' || phrase || ' ')
        |    THEN 1 ELSE 0 END) AS n_docs
        | FROM (SELECT DISTINCT phrase FROM bp) ph LEFT JOIN documents ON true
        | GROUP BY phrase)
        |SELECT benchmark, count(*) AS n_phrases,
        | CAST(sum(CASE WHEN n_docs > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
        | round(avg(CAST(CASE WHEN n_docs > 0 THEN 1 ELSE 0 END AS DOUBLE)), 6) AS pct
        |FROM bp JOIN per USING (phrase)
        |GROUP BY benchmark ORDER BY benchmark""".stripMargin,

    // replayed off `documents` directly — the scan-tier ground truth the
    // index-tier answer must reproduce
    "e10_indexed_phrase" -> idxPhraseOracle(),

    // the streamed-then-compacted index must answer the SAME battery with
    // the SAME ground truth: the oracle is e10's verbatim, so any row the
    // stream dropped/duplicated or the compaction swap corrupted mismatches
    "e18_stream_compact" -> idxPhraseOracle(),

    // the refreshed index must equal an index built from scratch on the
    // NEW snapshot: same battery, ground truth replayed on the snapshot
    // derivation (j10's fixture: %13 removed, %5 edited) — a postings row
    // the refresh failed to delete (stale pre-edit text) or failed to add
    // (missed added/changed doc) mismatches occurrences or n_docs
    "e19_index_refresh" -> idxPhraseOracle(src = "newdocs",
      prefixCtes = """newdocs AS (SELECT doc_id,
        |  CASE WHEN doc_id % 5 = 0 THEN text || ' rev1' ELSE text END AS text
        | FROM documents WHERE doc_id % 13 <> 0), """.stripMargin),

    // full-term regex over the tokenized stream: exactly the terms the
    // anchored dictionary match admits, with their df/ttf
    "e20_indexed_regexp" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        |SELECT w AS term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
        |  CAST(count(*) AS BIGINT) AS ttf
        |FROM tok WHERE regexp_full_match(w, 's[a-z]+')
        |GROUP BY w ORDER BY term""".stripMargin,

    // the SAME wildcard→regex translation the Spark side runs, embedded
    // verbatim (wildcardRegex emits RE2-compatible escapes by contract)
    "e21_indexed_wildcard" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         |m AS (SELECT * FROM tok
         |  WHERE regexp_full_match(w, '${graft.search.InvertedIndex.wildcardRegex("*a*")}'))
         |SELECT CAST(count(DISTINCT w) AS BIGINT) AS term_count,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_count,
         |  CAST(count(*) AS BIGINT) AS ttf FROM m""".stripMargin,

    // phrase-prefix replay: a phrase-prefix hit is EXACTLY an n-gram (n =
    // phrase token count) whose joined string starts with the phrase text
    // — terms are space-free, so string prefix = last-token prefix; the
    // LIKE keeps token-boundary semantics the expansion path enforces
    "e22_phrase_prefix" ->
      """WITH ph(phrase) AS (SELECT * FROM (VALUES ('key s'), ('spark w'), ('zz qq'), ('s')) v(p)),
        |tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |ngs AS (
        |  SELECT doc_id, 1 AS plen, unnest(t) AS ngram FROM tok
        |  UNION ALL
        |  SELECT doc_id, 2 AS plen, unnest(list_transform(generate_series(1, len(t) - 1),
        |    i -> array_to_string(list_slice(t, i, i + 1), ' '))) AS ngram FROM tok
        |),
        |hit AS (SELECT ph.phrase, ngs.doc_id, count(*) AS c
        | FROM ph JOIN ngs ON ngs.plen = len(string_split(ph.phrase, ' '))
        |   AND ngs.ngram LIKE ph.phrase || '%'
        | GROUP BY 1, 2)
        |SELECT ph.phrase, CAST(coalesce(sum(c), 0) AS BIGINT) AS occurrences,
        |  CAST(count(hit.doc_id) AS BIGINT) AS n_docs
        |FROM ph LEFT JOIN hit USING (phrase)
        |GROUP BY ph.phrase ORDER BY phrase""".stripMargin,

    // MLT replay: interestingTerms = top-5 by qtf*ln(N/df) (tie term asc),
    // then the e12 BM25 formula on those terms, source doc excluded
    "e24_more_like_this" ->
      """WITH src AS (SELECT w AS term, CAST(count(*) AS DOUBLE) AS qtf FROM
        |  (SELECT unnest(string_split(text, ' ')) AS w FROM documents WHERE doc_id = 42)
        |  GROUP BY w HAVING count(*) >= 2),
        |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w,
        |   len(string_split(text, ' ')) AS dl FROM documents),
        |dfq AS (SELECT w AS term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS dfv
        | FROM tok JOIN src ON w = src.term GROUP BY w),
        |nd AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |   avg(CAST(len(string_split(text, ' ')) AS DOUBLE)) AS avgdl FROM documents),
        |sel AS (SELECT src.term FROM src JOIN dfq USING (term) CROSS JOIN nd
        |  WHERE dfv >= 5
        |  ORDER BY qtf * ln(n_docs / dfv) DESC, term LIMIT 5),
        |tf AS (SELECT doc_id, w AS term, count(*) AS tf, any_value(dl) AS dl
        | FROM tok JOIN sel ON w = sel.term GROUP BY doc_id, w),
        |df2 AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
        |SELECT doc_id, round(sum(
        |   ln(1 + (n_docs - df + 0.5) / (df + 0.5)) *
        |   tf * (1.2 + 1) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 6) AS score
        |FROM tf JOIN df2 USING (term) CROSS JOIN nd
        |WHERE doc_id <> 42
        |GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,

    // DuckDB's levenshtein shares Spark's classic (non-Damerau) cost model,
    // so the edit column replays exactly
    "e23_indexed_fuzzy" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        |SELECT w AS term, CAST(levenshtein(w, 'spark') AS BIGINT) AS edits,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
        |  CAST(count(*) AS BIGINT) AS ttf
        |FROM tok WHERE levenshtein(w, 'spark') <= 2
        |GROUP BY w ORDER BY term""".stripMargin,

    // JLH replayed from first principles: per-term doc frequencies inside
    // the foreground source vs the whole corpus, scored with ES's exact
    // (fg_pct - bg_pct) * (fg_pct / bg_pct) product; round(6) before the
    // score filter and ordering so ties break identically
    "e30_significant_terms" ->
      """WITH fg AS (SELECT doc_id FROM documents WHERE source = 'src18'),
        |tok AS (SELECT DISTINCT doc_id, term FROM
        |  (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)),
        |bg AS (SELECT term, CAST(count(*) AS BIGINT) AS bg_df FROM tok GROUP BY term),
        |fgs AS (SELECT term, CAST(count(*) AS BIGINT) AS fg_df
        |  FROM tok JOIN fg USING (doc_id) GROUP BY term),
        |tot AS (SELECT (SELECT count(*) FROM fg) AS fg_total,
        |               (SELECT count(*) FROM documents) AS n_docs),
        |sc AS (SELECT term, fg_df, bg_df,
        |  round((fg_df / CAST(fg_total AS DOUBLE) - bg_df / CAST(n_docs AS DOUBLE))
        |      * ((fg_df / CAST(fg_total AS DOUBLE)) / (bg_df / CAST(n_docs AS DOUBLE))), 6) AS jlh
        | FROM fgs JOIN bg USING (term) CROSS JOIN tot)
        |SELECT term, fg_df, bg_df, jlh FROM sc
        |WHERE fg_df >= 3 AND jlh > 0
        |ORDER BY jlh DESC, term LIMIT 15""".stripMargin,

    "e33_significant_grouped" ->
      """WITH fg AS (SELECT doc_id, source AS grp FROM documents
        |  WHERE source IN ('src3', 'src4', 'src18')),
        |tok AS (SELECT DISTINCT doc_id, term FROM
        |  (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)),
        |bg AS (SELECT term, CAST(count(*) AS BIGINT) AS bg_df FROM tok GROUP BY term),
        |fgs AS (SELECT grp, term, CAST(count(*) AS BIGINT) AS fg_df
        |  FROM tok JOIN fg USING (doc_id) GROUP BY grp, term),
        |tot AS (SELECT grp, count(*) AS fg_total FROM fg GROUP BY grp),
        |nd AS (SELECT count(*) AS n_docs FROM documents),
        |sc AS (SELECT grp, term, fg_df, bg_df,
        |  round((fg_df / CAST(fg_total AS DOUBLE) - bg_df / CAST(n_docs AS DOUBLE))
        |      * ((fg_df / CAST(fg_total AS DOUBLE)) / (bg_df / CAST(n_docs AS DOUBLE))), 6) AS jlh
        | FROM fgs JOIN bg USING (term) JOIN tot USING (grp) CROSS JOIN nd),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY grp ORDER BY jlh DESC, term) AS rn
        |  FROM sc WHERE fg_df >= 3 AND jlh > 0)
        |SELECT grp AS "group", term, fg_df, bg_df, jlh FROM rk WHERE rn <= 10
        |ORDER BY "group", jlh DESC, term""".stripMargin,

    // shared 2×2 contingency replay for chi2/mi: N11 = foreground docs
    // with the term, N01 = rest docs with it (background_is_superset
    // subtraction), complements N10/N00; all-double arithmetic in the
    // same operation order as the Spark expressions
    "e31_significant_chi2" ->
      """WITH fg AS (SELECT doc_id FROM documents WHERE source = 'src18'),
        |tok AS (SELECT DISTINCT doc_id, term FROM
        |  (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)),
        |bg AS (SELECT term, CAST(count(*) AS BIGINT) AS bg_df FROM tok GROUP BY term),
        |fgs AS (SELECT term, CAST(count(*) AS BIGINT) AS fg_df
        |  FROM tok JOIN fg USING (doc_id) GROUP BY term),
        |tot AS (SELECT (SELECT count(*) FROM fg) AS fg_total,
        |               (SELECT count(*) FROM documents) AS n_docs),
        |cells AS (SELECT term, fg_df, bg_df,
        |   CAST(fg_df AS DOUBLE) AS n11, CAST(bg_df - fg_df AS DOUBLE) AS n01,
        |   CAST(fg_total - fg_df AS DOUBLE) AS n10,
        |   CAST(n_docs - fg_total AS DOUBLE) - CAST(bg_df - fg_df AS DOUBLE) AS n00,
        |   CAST(n_docs AS DOUBLE) AS nn
        | FROM fgs JOIN bg USING (term) CROSS JOIN tot),
        |sc AS (SELECT term, fg_df, bg_df,
        |   round(nn * pow(n11 * n00 - n01 * n10, 2.0) /
        |     ((n11 + n01) * (n11 + n10) * (n00 + n01) * (n00 + n10)), 6) AS chi2,
        |   n11 * (n01 + n00) > n01 * (n11 + n10) AS positive
        | FROM cells)
        |SELECT term, fg_df, bg_df, chi2 FROM sc
        |WHERE fg_df >= 3 AND positive AND chi2 > 0
        |ORDER BY chi2 DESC, term LIMIT 15""".stripMargin,

    // the example derivation replayed with a row_number over the same
    // (q, a) order; a doc counts for an example iff BOTH fields are
    // space-padded substrings (the conjunction semantics)
    "e36_paired_wide" ->
      """WITH ex AS (SELECT DISTINCT
        |  array_to_string(list_slice(string_split(text, ' '), 1, 3), ' ') AS q,
        |  array_to_string(list_slice(string_split(text, ' '), 4, 5), ' ') AS a
        | FROM documents
        | WHERE doc_id % 4 = 0 AND len(string_split(text, ' ')) >= 5),
        |exi AS (SELECT q, a,
        |  CAST(row_number() OVER (ORDER BY q, a) - 1 AS BIGINT) AS example_id
        | FROM ex),
        |per AS (SELECT example_id,
        |  CAST(sum(CASE WHEN contains(' ' || text || ' ', ' ' || q || ' ')
        |            AND contains(' ' || text || ' ', ' ' || a || ' ')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_docs
        | FROM exi LEFT JOIN documents ON true GROUP BY example_id)
        |SELECT example_id, n_docs FROM per ORDER BY example_id""".stripMargin,

    // slop=1 over a 2-token phrase == adjacent containment OR exactly one
    // inserted token between them (insertion-budget semantics); tokens
    // are alphanumeric so the assembled regex is literal-safe
    "e37_per_phrase_wide_slop" ->
      """WITH ph AS (SELECT DISTINCT
        |  array_to_string(list_slice(string_split(text, ' '), 1, 2), ' ') AS phrase
        | FROM documents
        | WHERE doc_id % 4 = 0 AND len(string_split(text, ' ')) >= 2),
        |pt AS (SELECT phrase,
        |  string_split(phrase, ' ')[1] AS t1, string_split(phrase, ' ')[2] AS t2
        | FROM ph),
        |per AS (SELECT phrase,
        |  CAST(sum(CASE WHEN contains(' ' || text || ' ', ' ' || phrase || ' ')
        |            OR regexp_matches(' ' || text || ' ',
        |                 ' ' || t1 || ' [^ ]+ ' || t2 || ' ')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_docs
        | FROM pt LEFT JOIN documents ON true GROUP BY phrase)
        |SELECT phrase, n_docs FROM per ORDER BY phrase""".stripMargin,

    // paired move-distance: each 2-token field matches via the e38
    // closed form (≤2 fillers OR reversed adjacency), conjunction across
    // the two fields; example_id replays the (q, a) row_number
    "e39_paired_wide_lucene" ->
      """WITH ex AS (SELECT DISTINCT
        |  array_to_string(list_slice(string_split(text, ' '), 1, 2), ' ') AS q,
        |  array_to_string(list_slice(string_split(text, ' '), 4, 5), ' ') AS a
        | FROM documents
        | WHERE doc_id % 4 = 0 AND len(string_split(text, ' ')) >= 5),
        |exi AS (SELECT q, a,
        |  CAST(row_number() OVER (ORDER BY q, a) - 1 AS BIGINT) AS example_id,
        |  string_split(q, ' ')[1] AS q1, string_split(q, ' ')[2] AS q2,
        |  string_split(a, ' ')[1] AS a1, string_split(a, ' ')[2] AS a2
        | FROM ex),
        |per AS (SELECT example_id,
        |  CAST(sum(CASE WHEN
        |    (regexp_matches(' ' || text || ' ',
        |       ' ' || q1 || '( [^ ]+){0,2} ' || q2 || ' ')
        |     OR contains(' ' || text || ' ', ' ' || q2 || ' ' || q1 || ' '))
        |    AND
        |    (regexp_matches(' ' || text || ' ',
        |       ' ' || a1 || '( [^ ]+){0,2} ' || a2 || ' ')
        |     OR contains(' ' || text || ' ', ' ' || a2 || ' ' || a1 || ' '))
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_docs
        | FROM exi LEFT JOIN documents ON true GROUP BY example_id)
        |SELECT example_id, n_docs FROM per ORDER BY example_id""".stripMargin,

    // move-distance slop=2 over a 2-token phrase == up to two inserted
    // tokens (adjusted-position spread 0..2) OR the transposition t2
    // immediately before t1 (spread exactly 2); tokens are alphanumeric
    // so the assembled regex is literal-safe, and a duplicate-term
    // phrase's distinct-position requirement is forced by the regex's
    // two literal token occurrences
    "e38_per_phrase_wide_lucene" ->
      """WITH ph AS (SELECT DISTINCT
        |  array_to_string(list_slice(string_split(text, ' '), 1, 2), ' ') AS phrase
        | FROM documents
        | WHERE doc_id % 4 = 0 AND len(string_split(text, ' ')) >= 2),
        |pt AS (SELECT phrase,
        |  string_split(phrase, ' ')[1] AS t1, string_split(phrase, ' ')[2] AS t2
        | FROM ph),
        |per AS (SELECT phrase,
        |  CAST(sum(CASE WHEN regexp_matches(' ' || text || ' ',
        |                 ' ' || t1 || '( [^ ]+){0,2} ' || t2 || ' ')
        |            OR contains(' ' || text || ' ', ' ' || t2 || ' ' || t1 || ' ')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_docs
        | FROM pt LEFT JOIN documents ON true GROUP BY phrase)
        |SELECT phrase, n_docs FROM per ORDER BY phrase""".stripMargin,

    // whitespace-token adjacency == space-padded substring containment
    // (the shared phrase-oracle trick); the battery CTE replays the
    // 5-token-prefix derivation exactly
    "e35_per_phrase_wide" ->
      """WITH ph AS (SELECT DISTINCT
        |  array_to_string(list_slice(string_split(text, ' '), 1, 5), ' ') AS phrase
        | FROM documents
        | WHERE doc_id % 4 = 0 AND len(string_split(text, ' ')) >= 5),
        |per AS (SELECT phrase,
        |  CAST(sum(CASE WHEN contains(' ' || text || ' ', ' ' || phrase || ' ')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_docs
        | FROM ph LEFT JOIN documents ON true GROUP BY phrase)
        |SELECT phrase, n_docs FROM per ORDER BY phrase""".stripMargin,

    "e32_significant_mi" ->
      """WITH fg AS (SELECT doc_id FROM documents WHERE source = 'src18'),
        |tok AS (SELECT DISTINCT doc_id, term FROM
        |  (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)),
        |bg AS (SELECT term, CAST(count(*) AS BIGINT) AS bg_df FROM tok GROUP BY term),
        |fgs AS (SELECT term, CAST(count(*) AS BIGINT) AS fg_df
        |  FROM tok JOIN fg USING (doc_id) GROUP BY term),
        |tot AS (SELECT (SELECT count(*) FROM fg) AS fg_total,
        |               (SELECT count(*) FROM documents) AS n_docs),
        |cells AS (SELECT term, fg_df, bg_df,
        |   CAST(fg_df AS DOUBLE) AS n11, CAST(bg_df - fg_df AS DOUBLE) AS n01,
        |   CAST(fg_total - fg_df AS DOUBLE) AS n10,
        |   CAST(n_docs - fg_total AS DOUBLE) - CAST(bg_df - fg_df AS DOUBLE) AS n00,
        |   CAST(n_docs AS DOUBLE) AS nn
        | FROM fgs JOIN bg USING (term) CROSS JOIN tot),
        |sc AS (SELECT term, fg_df, bg_df,
        |   round(
        |     (CASE WHEN n11 > 0 THEN n11 / nn * ln(nn * n11 / ((n11 + n10) * (n11 + n01))) / ln(2) ELSE 0 END)
        |   + (CASE WHEN n01 > 0 THEN n01 / nn * ln(nn * n01 / ((n01 + n00) * (n11 + n01))) / ln(2) ELSE 0 END)
        |   + (CASE WHEN n10 > 0 THEN n10 / nn * ln(nn * n10 / ((n11 + n10) * (n10 + n00))) / ln(2) ELSE 0 END)
        |   + (CASE WHEN n00 > 0 THEN n00 / nn * ln(nn * n00 / ((n01 + n00) * (n10 + n00))) / ln(2) ELSE 0 END), 6) AS mi,
        |   n11 * (n01 + n00) > n01 * (n11 + n10) AS positive
        | FROM cells)
        |SELECT term, fg_df, bg_df, mi FROM sc
        |WHERE fg_df >= 3 AND positive AND mi > 0
        |ORDER BY mi DESC, term LIMIT 15""".stripMargin,

    // per-(phrase, doc) rows replayed from the raw n-gram stream (plen
    // matches each phrase's token count; zero-hit phrases yield no rows)
    "e17_indexed_get_docs" ->
      s"""WITH ph(phrase) AS (SELECT * FROM (VALUES ${idxPhrases.map(p => s"('$p')").mkString(", ")}) v(p)),
         |tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |ngs AS (
         |  SELECT doc_id, 2 AS plen, unnest(list_transform(generate_series(1, len(t) - 1),
         |    i -> array_to_string(list_slice(t, i, i + 1), ' '))) AS ngram FROM tok
         |  UNION ALL
         |  SELECT doc_id, 4 AS plen, unnest(list_transform(generate_series(1, len(t) - 3),
         |    i -> array_to_string(list_slice(t, i, i + 3), ' '))) AS ngram FROM tok
         |)
         |SELECT ph.phrase, ngs.doc_id, CAST(count(*) AS BIGINT) AS occurrences
         |FROM ph JOIN ngs ON ngs.ngram = ph.phrase
         |  AND ngs.plen = len(string_split(ph.phrase, ' '))
         |GROUP BY ph.phrase, ngs.doc_id
         |ORDER BY phrase, doc_id""".stripMargin,

    "e11_index_termstats" ->
      s"""WITH ug(term) AS (SELECT * FROM (VALUES ${unigrams.map(u => s"('$u')").mkString(", ")}) v(u)),
         |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         |st AS (SELECT w AS term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
         |   CAST(count(*) AS BIGINT) AS ttf
         | FROM tok GROUP BY w)
         |SELECT ug.term, coalesce(st.df, 0) AS df, coalesce(st.ttf, 0) AS ttf
         |FROM ug LEFT JOIN st USING (term) ORDER BY term""".stripMargin,

    // Lucene BM25 replayed from first principles on `documents`; round(6)
    // makes the ranking tie-break identical on both engines
    "e12_bm25_topk" ->
      s"""WITH q(term) AS (SELECT * FROM (VALUES ${bm25Terms.map(t => s"('$t')").mkString(", ")}) v(t)),
         |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w,
         |   len(string_split(text, ' ')) AS dl FROM documents),
         |tf AS (SELECT doc_id, w AS term, count(*) AS tf, any_value(dl) AS dl
         | FROM tok JOIN q ON w = q.term GROUP BY doc_id, w),
         |st AS (SELECT count(*) AS n_docs,
         |   avg(CAST(len(string_split(text, ' ')) AS DOUBLE)) AS avgdl FROM documents),
         |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
         |SELECT doc_id, round(sum(
         |   ln(1 + (n_docs - df + 0.5) / (df + 0.5)) *
         |   tf * (1.2 + 1) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 6) AS score
         |FROM tf JOIN dfq USING (term) CROSS JOIN st
         |GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 15""".stripMargin,

    // symmetric proximity over per-doc position lists; 1-based positions
    // in SQL vs 0-based in Spark cancel in the |pa-pb| differences
    "e14_term_proximity" ->
      s"""WITH pr(a, b) AS (SELECT * FROM (VALUES ${proxPairs.map(p => s"('${p._1}', '${p._2}')").mkString(", ")}) v(x, y)),
         |tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |pp AS (SELECT pr.a, pr.b, tok.doc_id,
         |   list_filter(generate_series(1, len(t)), i -> t[i] = pr.a) AS pa,
         |   list_filter(generate_series(1, len(t)), i -> t[i] = pr.b) AS pb
         | FROM pr CROSS JOIN tok),
         |near AS (SELECT a, b, doc_id,
         |   len(list_filter(pa, x -> len(list_filter(pb, y -> abs(x - y) <= 3)) > 0)) AS n
         | FROM pp WHERE len(pa) > 0 AND len(pb) > 0),
         |agg AS (SELECT a, b,
         |   CAST(sum(CASE WHEN n > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
         |   CAST(sum(n) AS BIGINT) AS n_near
         | FROM near GROUP BY a, b)
         |SELECT pr.a AS term_a, pr.b AS term_b,
         | coalesce(agg.n_docs, 0) AS n_docs, coalesce(agg.n_near, 0) AS n_near
         |FROM pr LEFT JOIN agg ON agg.a = pr.a AND agg.b = pr.b
         |ORDER BY term_a, term_b""".stripMargin,

    // e14's CTEs + unigram totals; ln and the (n·T)/(ta·tb) association
    // ratio evaluate in the same order on both engines, round(6)
    "e15_collocation_pmi" ->
      s"""WITH pr(a, b) AS (SELECT * FROM (VALUES ${proxPairs.map(p => s"('${p._1}', '${p._2}')").mkString(", ")}) v(x, y)),
         |tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |pp AS (SELECT pr.a, pr.b, tok.doc_id,
         |   list_filter(generate_series(1, len(t)), i -> t[i] = pr.a) AS pa,
         |   list_filter(generate_series(1, len(t)), i -> t[i] = pr.b) AS pb
         | FROM pr CROSS JOIN tok),
         |near AS (SELECT a, b, doc_id,
         |   len(list_filter(pa, x -> len(list_filter(pb, y -> abs(x - y) <= 3)) > 0)) AS n
         | FROM pp WHERE len(pa) > 0 AND len(pb) > 0),
         |agg AS (SELECT a, b,
         |   CAST(sum(CASE WHEN n > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
         |   CAST(sum(n) AS BIGINT) AS n_near
         | FROM near GROUP BY a, b),
         |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS ttf FROM
         |   (SELECT unnest(t) AS w FROM tok) GROUP BY w),
         |tot AS (SELECT CAST(count(*) AS DOUBLE) AS T FROM (SELECT unnest(t) FROM tok))
         |SELECT pr.a AS term_a, pr.b AS term_b,
         | coalesce(agg.n_docs, 0) AS n_docs, coalesce(agg.n_near, 0) AS n_near,
         | CASE WHEN coalesce(agg.n_near, 0) > 0 AND ua.ttf > 0 AND ub.ttf > 0
         |   THEN round(ln(agg.n_near * tot.T / (ua.ttf * ub.ttf)), 6) END AS pmi
         |FROM pr
         |LEFT JOIN agg ON agg.a = pr.a AND agg.b = pr.b
         |LEFT JOIN uni ua ON ua.w = pr.a
         |LEFT JOIN uni ub ON ub.w = pr.b
         |CROSS JOIN tot
         |ORDER BY term_a, term_b""".stripMargin,

    // the same top-200-2-gram probe set derived with the same (count DESC,
    // ngram ASC) tie-break, each phrase's occurrences/doc counts replayed
    // from the raw 2-gram stream
    "e16_indexed_batch" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |ngs AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
        |   i -> array_to_string(list_slice(t, i, i + 1), ' '))) AS ngram FROM tok),
        |st AS (SELECT ngram, CAST(count(*) AS BIGINT) AS occurrences,
        |   CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM ngs GROUP BY ngram),
        |ph AS ((SELECT ngram AS phrase FROM st ORDER BY occurrences DESC, ngram LIMIT 200)
        |       UNION ALL SELECT 'zz qq zz')
        |SELECT ph.phrase, coalesce(st.occurrences, CAST(0 AS BIGINT)) AS occurrences,
        |  coalesce(st.n_docs, CAST(0 AS BIGINT)) AS n_docs
        |FROM ph LEFT JOIN st ON st.ngram = ph.phrase ORDER BY phrase""".stripMargin,

    // Lucene slop=1 on single-space text == "adjacent or one inserted
    // token" (a transposition needs slop 2), exactly e1_count_slop1's
    // bounded-gap regex, replayed per phrase
    "e13_indexed_slop" ->
      """WITH ph(phrase, pat) AS (SELECT * FROM (VALUES
        |  ('the key', '(^| )the( [^ ]+)? key( |$)'),
        |  ('spark window', '(^| )spark( [^ ]+)? window( |$)')) v(p, r))
        |SELECT phrase, CAST(coalesce(sum(
        |   CASE WHEN regexp_matches(text, pat) THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_docs
        |FROM ph LEFT JOIN documents ON true
        |GROUP BY phrase ORDER BY phrase""".stripMargin
  )
}
