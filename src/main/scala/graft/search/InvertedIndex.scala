package graft.search

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SaveMode,
  SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{IntegerType, LongType, StringType,
  StructField, StructType}

/** A positions-aware inverted index as a Spark-native TABLE — the
  * reference's other answer to phrase search: where `wimbd/es/__init__.py`
  * delegates `count_documents_containing_phrases` / termvector reads to a
  * pre-built Elasticsearch index (match_phrase over indexed positions,
  * reference wimbd/es/__init__.py:89-184, 348-426), this module builds the
  * same data structure — term → (doc, sorted positions) postings — as a
  * DataFrame, persists it bucketed-by-term, and answers phrase queries by
  * joining the phrase's term postings instead of rescanning the corpus.
  *
  * Scan tier vs index tier: [[Searcher]] answers one-shot questions with a
  * full corpus scan (one pass, all phrases fused). This tier pays one
  * tokenize+shuffle at build time and then answers each phrase query by
  * reading ONLY the queried terms' postings. At 100 TB that's the
  * difference between a 100 TB scan per benchmark and a few hundred MB of
  * posting reads: with the index saved via [[writeIndex]] (bucketed by
  * `term`), a `term IN (...)` filter prunes to the terms' buckets
  * (SelectedBucketsCount in the scan node — asserted in
  * InvertedIndexSpec), and each join arm is document-frequency-sized, not
  * corpus-sized.
  *
  * Every multi-phrase surface here is SET-ORIENTED: the phrase (or pair)
  * list becomes `(term, phrase, slot)` rows joined against the pruned
  * postings read ONCE, and the per-(phrase, doc) match decision runs
  * inside one aggregate — so the logical plan is O(1) in the number of
  * phrases (asserted in InvertedIndexSpec at 500 phrases). That is what
  * lets [[contaminationIndexed]] absorb the reference's real benchmark
  * multiplicity (msearch batches of 500, wimbd/es/__init__.py:273;
  * PromptSource sweeps ×60, reference runs/p3_contamination.py:10-55)
  * without stamping a plan subtree per phrase.
  *
  * Phrase semantics match [[Searcher.phrasePredicate]] at slop=0: ordered,
  * adjacent, overlapping occurrences — verified differentially in
  * InvertedIndexSpec and by the `e10_indexed_phrase` oracle (same counts
  * as the scan tier's SQL replay).
  */
object InvertedIndex {

  /** Build the postings table: one row per (term, doc) with the term's
    * sorted occurrence positions, term frequency, and the document's token
    * length (`dl` — the BM25 norm, denormalized into the index exactly as
    * Lucene stores per-doc norms, so scoring never joins back to the
    * corpus). Grouping happens INSIDE each document via the codegen'd
    * [[graft.functions.expressions.PostingsKernel]] (one O(L) pass in the
    * scan stage, Lucene's per-segment writer as an expression), so the
    * build plan has ZERO shuffles — the only exchange an index build ever
    * pays is [[writeIndex]]'s bucketBy(term) layout write. Stateless per
    * row, so the same definition is the streaming twin ([[postingsStream]]).
    */
  def postings(docs: DataFrame, idCol: String, textCol: String,
               uax29: Boolean = true): DataFrame = {
    val toks =
      if (uax29) graft.functions.TextFunctions.tokenize(col(textCol))
      else split(col(textCol), " ")
    val perDoc = Bridge.column(graft.functions.expressions.TermPostings(
      Bridge.expression(col("__toks"))))
    // dl is projected per DOCUMENT, below the explode: an expression next
    // to the generator would be evaluated above it, once per posting row
    // (CollapseProject keeps the tokens projection separate because it is
    // referenced twice)
    docs.select(col(idCol).as("doc_id"), toks.as("__toks"))
      .select(col("doc_id"), size(col("__toks")).cast("long").as("dl"), col("__toks"))
      .select(col("doc_id"), col("dl"), explode(perDoc).as("p"))
      .select(col("p.term").as("term"), col("doc_id"),
        col("p.positions").as("positions"),
        size(col("p.positions")).cast("long").as("tf"), col("dl"))
  }

  /** Streaming index maintenance — the incremental twin of [[postings]]:
    * because per-doc grouping is a stateless scan projection and doc ids
    * are unique, arriving documents only ever APPEND postings rows; no
    * cross-batch state, no output-mode restrictions. Append the result to
    * the index store per micro-batch (foreachBatch + a plain parquet
    * append) and the batch query surface reads the union; run
    * [[compactIndex]] periodically to fold the accumulated small append
    * files back into the bucketed layout (the same hygiene Lucene segment
    * merges give the reference's ES indices for free).
    */
  def postingsStream(docs: DataFrame, idCol: String, textCol: String,
                     uax29: Boolean = true): DataFrame =
    postings(docs, idCol, textCol, uax29)

  /** Persist postings bucketed+sorted by `term`: equality/IN filters on
    * `term` read only the matching buckets (bucket pruning), and repeated
    * term-keyed joins skip their Exchange. `buckets` ≈ postings size /
    * 128-256 MB at the target scale.
    *
    * A `force` overwrite of a table that carried a persisted
    * `<table>__norms` row drops the row FIRST — [[normsOf]] prefers the
    * persisted row, so leaving it would score the new postings with the
    * old corpus constants (BM25/MLT/significant-terms), the one staleness
    * path the persistNorms contract forbids. Same discipline as
    * [[replaceIndex]]: dropped before the write, so a crash mid-write
    * leaves norms absent-and-recoverable, never stale; the overwritten
    * index stays bare until its builder re-persists (the CLI build paths
    * do — a bare index is always safe, normsOf recovers on demand).
    */
  def writeIndex(postings: DataFrame, table: String, buckets: Int,
                 force: Boolean = false): Unit = {
    if (force) Swap.drop(postings.sparkSession, s"${table}__norms")
    postings.write.mode(if (force) SaveMode.Overwrite else SaveMode.ErrorIfExists)
      .format("parquet")
      .bucketBy(buckets, "term")
      .sortBy("term")
      .saveAsTable(table)
  }

  /** Read a saved index WITH its bucket metadata (a raw parquet read of
    * the same files would lose pruning and co-partitioning).
    */
  def readIndex(spark: org.apache.spark.sql.SparkSession, table: String): DataFrame =
    spark.table(table)

  /** Re-register a saved index whose catalog entry was lost — the
    * in-memory catalog (Spark's local default) forgets managed tables
    * across JVM restarts while their warehouse directory survives, which
    * strands every index a CLI invocation built for the next invocation.
    * Recreates the table over the surviving directory with the SAME
    * bucket spec [[writeIndex]] wrote (`buckets` must match — bucket file
    * names encode the bucket id, so a wrong count silently breaks
    * pruning); schema is inferred from the parquet footers. A metastore
    * deployment (production) never needs this.
    */
  def registerIndex(spark: SparkSession, table: String, buckets: Int,
                    location: Option[String] = None): Unit =
    Swap.register(spark, table, Some("term" -> buckets), location)

  /** Fold streaming appends back into the bucketed layout: the query
    * surface stays correct reading `table ∪ appends` directly, but after
    * weeks of micro-batch appends the "few hundred MB of pruned posting
    * reads" contract degrades into thousands of small unbucketed file
    * opens. Compaction reads the union, rewrites it through [[writeIndex]]
    * into a staging table, and swaps it in — the Spark-side equivalent of
    * the Lucene segment merges the reference's ES tier gets from
    * `index_json_files.py`-created indices. After it returns, `table` is
    * again a single bucketed index (bucket pruning re-asserted in
    * InvertedIndexSpec) and the caller can delete the consumed append
    * files.
    *
    * The swap is [[Swap.replaceTable]]'s rename-aside, never
    * drop-then-rename: a crash at ANY point leaves the index data under
    * one of live/staging/backup, and [[Swap.heal]] (also run on entry
    * here) finishes or rolls back a half-finished swap.
    */
  def compactIndex(spark: SparkSession, table: String, appends: DataFrame,
                   buckets: Int): Unit =
    replaceIndex(spark, table, buckets)(
      live => live.unionByName(appends))

  /** Diff-driven index maintenance — the index-tier consumer of
    * [[graft.operators.CorpusDiff]]: given the previous and current corpus
    * snapshots, bring the live index to the NEW snapshot's state without
    * re-tokenizing the whole corpus. Removed and changed documents'
    * postings are anti-joined out of the live table; postings are built
    * fresh ONLY for added and changed documents (the expensive part —
    * tokenize + per-doc grouping — runs over churn-sized data, ~1% of the
    * corpus for a monthly crawl); the result swaps in through the same
    * crash-safe rename-aside as [[compactIndex]]. Also the takedown path:
    * a removals-only diff deletes documents from the index.
    *
    * Cost shape at 100 TB: one compaction-grade rewrite of the index
    * (linear I/O you already schedule periodically) + a delta-sized
    * postings build. The delete set is churn-sized — Spark broadcasts it
    * under the auto-broadcast threshold; past that the anti-join shuffles
    * postings on `doc_id` once, the same exchange a compaction's layout
    * write already pays.
    */
  def refreshIndex(spark: SparkSession, table: String, oldSnapshot: DataFrame,
                   newSnapshot: DataFrame, idCol: String, contentCol: String,
                   buckets: Int, uax29: Boolean = true): Unit = {
    import graft.operators.CorpusDiff
    val st = CorpusDiff.diffDocs(oldSnapshot, newSnapshot, idCol, contentCol)
    val gone = st.where(col("status").isin(CorpusDiff.Removed, CorpusDiff.Changed))
      .select(col("id").as("doc_id"))
    val todo = st.where(col("status").isin(CorpusDiff.Added, CorpusDiff.Changed))
      .select(col("id").as(idCol))
    val fresh = postings(newSnapshot.join(todo, Seq(idCol), "left_semi"),
      idCol, contentCol, uax29)
    replaceIndex(spark, table, buckets)(
      // the USING-join moves doc_id to column 0; restore the live table's
      // column order so the refreshed index keeps the canonical schema
      live => live.join(gone, Seq("doc_id"), "left_anti")
        .select(live.columns.map(col): _*).unionByName(fresh))
  }

  /** IDEMPOTENT document-level upsert: any existing postings for the
    * incoming doc ids are anti-joined out of the live table before the
    * freshly-built postings union in, so replaying the same batch after a
    * crash (e.g. an ingestion manifest that didn't get extended) converges
    * to the same index instead of double-counting — the property
    * [[refreshIndex]] deliberately does NOT give "added" docs (its diff
    * proves they are absent; an ingest loop has no such proof). Cost shape
    * is [[compactIndex]]'s: one rewrite of the index + a batch-sized
    * postings build, swapped in crash-safe.
    */
  def upsertIndex(spark: SparkSession, table: String, docs: DataFrame,
                  idCol: String, contentCol: String, buckets: Int,
                  uax29: Boolean = true): Unit = {
    // ONE row per doc id: duplicate ids inside a batch (a shard
    // re-delivered under a new path, a dup inside one file) would emit
    // doubled (term, doc_id) postings — phraseCandidates' slot-count
    // check then silently rejects the doc and df/tf double-count.
    // Last-write-wins is ES's upsert semantics; with no arrival order on
    // a DataFrame the winner is the deterministic max-md5(content) row.
    val one = graft.operators.Dedup.keepFirst(docs, col(idCol),
      Seq(md5(col(contentCol)).desc, lit(1)))
    // ingest-batch-sized by contract — broadcast so the anti join never
    // shuffles the corpus-scale live postings on doc_id. Taken from `docs`,
    // not `one`: the anti join ignores repeated ids, so the broadcast side
    // needs neither keepFirst's window nor a distinct
    val incoming = broadcast(docs.select(col(idCol).as("doc_id")))
    val fresh = postings(one, idCol, contentCol, uax29)
    replaceIndex(spark, table, buckets)(
      live => live.join(incoming, Seq("doc_id"), "left_anti")
        .select(live.columns.map(col): _*).unionByName(fresh))
  }

  /** Heal `table`'s crash state BEFORE deciding whether an index exists:
    * after a crash mid-swap plus a JVM restart, the live postings sit
    * under the swap's debris directories with no catalog entry, and
    * treating that as "first run" would overwrite the table. Returns
    * whether a live index exists after recovery.
    */
  def heal(spark: SparkSession, table: String, buckets: Int): Boolean =
    Swap.heal(spark, table, registerIndex(spark, _, buckets))

  /** Put `docs` into `table`: [[upsertIndex]] into the `live` index (what
    * the caller's [[heal]] found), else a new index written through
    * [[writeIndex]] (over an existing one only with `force`) with its
    * norms, observed in the write, persisted.
    */
  def updateIndex(spark: SparkSession, table: String, docs: DataFrame,
                  idCol: String, contentCol: String, buckets: Int,
                  uax29: Boolean, live: Boolean, force: Boolean = true): Unit =
    if (live) upsertIndex(spark, table, docs, idCol, contentCol, buckets, uax29)
    else saveNorms(spark, table, writeIndexNormed(
      postings(docs, idCol, contentCol, uax29), table, buckets, force))

  /** Shared rewrite-and-swap core of [[compactIndex]] / [[refreshIndex]]:
    * heal any half-finished prior swap, write `build(live)` through
    * [[writeIndex]] into the staging table, rename-aside. `build` receives
    * the live table's frame and must return the full replacement postings.
    */
  private def replaceIndex(spark: SparkSession, table: String, buckets: Int)
                          (build: DataFrame => DataFrame): Unit = {
    // norms discipline: REWRITE-IF-PRESENT. An index whose build persisted
    // norms keeps them fresh through every rewrite; one built bare (a
    // library writeIndex caller) stays bare — normsOf recovers on demand
    // either way, so absence is always safe and staleness is impossible.
    // The row is dropped BEFORE the swap (a crash in the window leaves it
    // absent-and-recoverable, never stale) and rewritten after, from the
    // values observed in the staging write.
    val hadNorms = spark.catalog.tableExists(s"${table}__norms") || {
      val (p, fs) = normsSidePath(spark, table)
      fs.exists(p)
    }
    if (hadNorms) Swap.drop(spark, s"${table}__norms")
    var norms: Option[DataFrame] = None
    Swap.replaceTable(spark, table)((live, staging) =>
      if (hadNorms)
        norms = Some(writeIndexNormed(build(live), staging, buckets, force = false))
      else writeIndex(build(live), staging, buckets))
    norms.foreach(saveNorms(spark, table, _))
  }

  /** Per-term document frequency and total term frequency — the ES
    * termvectors surface (reference wimbd/es/__init__.py:348-426) read
    * straight off the index, no corpus scan. The (≤|terms|-row) stats side
    * is the broadcast build side; absent terms report 0/0.
    *
    * Output contract (all batch surfaces — also [[phraseHits]],
    * [[countContainingSlop]], [[proximityPairs]]): ONE row per DISTINCT
    * input element, in input-set order by the output's sort columns — a
    * caller passing `Seq("a", "a")` gets one `a` row, not two. Repeated
    * elements carry no extra information for these counting surfaces
    * (unlike [[bm25TopK]], which weights repeated query terms per
    * occurrence and documents that separately).
    */
  def termStats(postings: DataFrame, terms: Seq[String]): DataFrame = {
    val spark = postings.sparkSession
    import spark.implicits._
    val stats = postings.where(col("term").isin(terms.distinct: _*))
      .groupBy("term")
      .agg(count(lit(1)).as("df"), sum("tf").as("ttf"))
    terms.distinct.toDF("term").join(broadcast(stats), Seq("term"), "left")
      .select(col("term"), coalesce(col("df"), lit(0L)).as("df"),
        coalesce(col("ttf"), lit(0L)).as("ttf"))
  }

  /** Lucene-style term-pattern query — ES's `regexp`/`wildcard` queries
    * over a field's term dictionary (reference exposes them through the
    * ES query DSL its indices answer; the scan tier's A10 regex search is
    * the corpus-side analogue). Full-term match semantics, like Lucene's
    * `RegexpQuery`: the pattern must consume the whole term, so `par`
    * matches neither `spark` nor `part` but `par.*` matches `part`.
    * Returns one (term, df, ttf) row per matched dictionary term.
    *
    * Plan shape: the anchored `rlike` filter sits directly on the postings
    * scan, so the per-term aggregate that follows is sized by match
    * selectivity, not vocabulary; on a [[writeIndex]]-bucketed table the
    * groupBy(term) also inherits the bucket layout and pays no Exchange.
    * The regex cost is O(postings-rows-scanned), which a dictionary-side
    * evaluation (regex over distinct terms, then a postings join) would
    * cut to O(|V|) — but that plan rescans postings for the join anyway,
    * and term strings are short; the single-scan filter wins until |V| is
    * tiny relative to postings AND the regex is pathological.
    *
    * Set `wildcard = true` to interpret `pattern` as a Lucene
    * `WildcardQuery` pattern (`*` = any run, `?` = any one char, `\`
    * escapes the next char) via [[wildcardRegex]].
    */
  def termsMatching(postings: DataFrame, pattern: String,
                    wildcard: Boolean = false): DataFrame = {
    val re = if (wildcard) wildcardRegex(pattern) else pattern
    postings.where(col("term").rlike("^(?:" + re + ")$"))
      .groupBy("term")
      .agg(count(lit(1)).as("df"), sum("tf").as("ttf"))
  }

  /** ES `significant_terms` aggregation off the index — "what terms
    * distinguish this document subset from the corpus", scored with ES's
    * default JLH significance heuristic (the facet the reference's ES
    * indices answer through the aggregation DSL, next to the termvector
    * stats [[termStats]] mirrors). For each term of the foreground set:
    * fg_pct = fg_df / |foreground|, bg_pct = bg_df / n_docs, and
    * jlh = (fg_pct − bg_pct) · (fg_pct / bg_pct) — the product of the
    * absolute and relative lifts, exactly ES's formula. A term survives
    * when it beats the background (jlh > 0 — ES drops non-positive
    * scores) and clears the `min_doc_count` floor (ES default 3); top-k
    * by score, term-ascending tie-break. Scores round(6) so ranking ties
    * break identically in the DuckDB oracle replay.
    *
    * `foregroundDocs` is any frame whose `doc_id` column names the subset
    * (typically the ids from [[docsContainingPhrase]] or a metadata
    * predicate on the corpus); duplicates are tolerated.
    *
    * `heuristic` picks among ES's scoring family (the score column is
    * named after it): `"jlh"` (default, above), `"chi2"` — the textbook
    * 2×2 χ² on the (foreground, rest) contingency table with ES's
    * `background_is_superset` subtraction (the rest-class cells are
    * background minus foreground), `include_negatives=false` semantics
    * (terms more frequent OUTSIDE the foreground are dropped) — or
    * `"mi"` — mutual information of the (class, term) indicator pair in
    * bits, same table, same negative-association filter.
    *
    * Plan shape: the foreground ids semi-join postings once as a PINNED
    * broadcast (foregrounds are query results — id-sized; the hint keeps
    * the static planner from sort-merge-joining, which would shuffle the
    * postings on doc_id);
    * fg and bg term stats are term-keyed aggregates that inherit a saved
    * index's bucket layout (no Exchange); the two one-row totals ride in
    * as broadcast crossJoins; the final top-k is one
    * TakeOrderedAndProject. The bg aggregate's output is
    * vocabulary-sized over a linear postings read — the same stats pass
    * ES pre-aggregates at segment-merge time; cache it across calls when
    * scoring many foregrounds against one index.
    */
  def significantTerms(postings: DataFrame, norms: DataFrame,
                      foregroundDocs: DataFrame, k: Int,
                      minDocCount: Long = 3,
                      heuristic: String = "jlh",
                      bgStats: Option[DataFrame] = None): DataFrame = {
    val fg = foregroundDocs.select(col("doc_id")).distinct()
    val fgTotal = fg.agg(count(lit(1)).as("fg_total"))
    // the hint is deliberate: without it the static planner (no stats on a
    // derived fg frame) sort-merge-joins — which shuffles the POSTINGS on
    // doc_id, exactly the corpus-sized exchange this operator must not pay.
    // Foregrounds are query results (id-sized) by contract; a
    // beyond-broadcast foreground should be pre-materialized and passed
    // through a bucketed-by-doc_id table instead.
    val fgStats = postings.join(broadcast(fg), Seq("doc_id"), "left_semi")
      .groupBy("term").agg(count(lit(1)).as("fg_df"))
    val bg = bgStats.getOrElse(termDocFrequencies(postings))
    val (score, keep) = significanceScore(heuristic)
    fgStats.join(bg, Seq("term"))
      .crossJoin(broadcast(fgTotal))
      .crossJoin(broadcast(norms.select("n_docs")))
      .withColumn("score", round(score, 6))
      .where(col("fg_df") >= minDocCount && keep)
      .select(col("term"), col("fg_df"), col("bg_df"),
        col("score").as(heuristic))
      .orderBy(desc(heuristic), asc("term")).limit(k)
  }

  /** Per-term containing-doc counts over the WHOLE index — the background
    * statistics of the significance family, exposed so repeated
    * [[significantTerms]] / [[significantTermsByGroup]] calls against one
    * index compute them ONCE (cache, or persist next to the index like
    * the corpus norms) instead of re-aggregating per call. One
    * (term, bg_df) row per dictionary term; on a [[writeIndex]] table the
    * aggregate inherits the bucket layout (no Exchange).
    */
  def termDocFrequencies(postings: DataFrame): DataFrame =
    postings.groupBy("term").agg(count(lit(1)).as("bg_df"))

  /** (score, keep-filter) for a significance heuristic, over the columns
    * `fg_df`, `bg_df`, `fg_total`, `n_docs` and the post-rounding column
    * `score` — shared by [[significantTerms]] and
    * [[significantTermsByGroup]].
    */
  private def significanceScore(heuristic: String): (Column, Column) = {
    val fgPct = col("fg_df").cast("double") / col("fg_total")
    val bgPct = col("bg_df").cast("double") / col("n_docs")
    // 2×2 contingency with ES's background_is_superset subtraction: the
    // "rest" class is the background MINUS the foreground.
    // N11 = in-class docs with the term, N01 = rest docs with the term,
    // N10/N00 their complements; N = n_docs.
    val n11 = col("fg_df").cast("double")
    val n01 = (col("bg_df") - col("fg_df")).cast("double")
    val n10 = (col("fg_total") - col("fg_df")).cast("double")
    val n00 = (col("n_docs") - col("fg_total")).cast("double") - n01
    val nn = col("n_docs").cast("double")
    // positive association only (ES include_negatives=false): the term is
    // MORE frequent in the foreground than in the rest
    val positive = n11 * (n01 + n00) > n01 * (n11 + n10)
    val score = heuristic match {
      case "jlh" => (fgPct - bgPct) * (fgPct / bgPct)
      case "chi2" =>
        // textbook 2×2 χ² (no Yates), ES's chi_square heuristic shape
        nn * pow(n11 * n00 - n01 * n10, 2.0) /
          ((n11 + n01) * (n11 + n10) * (n00 + n01) * (n00 + n10))
      case "mi" =>
        // pointwise-summed mutual information in bits (ES's
        // mutual_information): Σ Nxy/N · log2(N·Nxy / (Nx_·N_y)),
        // empty cells contribute 0
        def cell(nxy: Column, nx: Column, ny: Column): Column =
          when(nxy > 0, nxy / nn * log(2.0, nn * nxy / (nx * ny)))
            .otherwise(lit(0.0))
        cell(n11, n11 + n10, n11 + n01) + cell(n01, n01 + n00, n11 + n01) +
          cell(n10, n11 + n10, n10 + n00) + cell(n00, n01 + n00, n10 + n00)
      case other => throw new IllegalArgumentException(
        s"unknown significance heuristic '$other' (jlh | chi2 | mi)")
    }
    val keep = heuristic match {
      case "jlh" => col("score") > 0 // jlh is sign-carrying already
      case _ => positive && col("score") > 0
    }
    (score, keep)
  }

  /** [[significantTerms]] for MANY foregrounds in ONE plan — the tier's
    * set-oriented posture applied to the significance aggregation: "which
    * terms distinguish EACH source/shard/label" costs one postings pass
    * regardless of how many labels there are, instead of one
    * [[significantTerms]] call per label.
    *
    * `docGroups` is a (doc_id, group) frame assigning foreground docs to
    * labels (a doc may carry several labels; each contributes to each).
    * Output: top-k rows per group — (group, term, fg_df, bg_df, score
    * named after the heuristic) — score-descending, term-ascending within
    * a group.
    *
    * Plan shape: the label frame broadcast-joins postings once; the
    * per-(group, term) aggregate still satisfies its clustering from the
    * bucket layout (term partitioning clusters any superset key set), so
    * a saved index pays NO extra exchange over the single-foreground
    * plan; per-group top-k is one rank window partitioned on the (small)
    * group key. Scores round(6) like everything the oracle replays.
    */
  def significantTermsByGroup(postings: DataFrame, norms: DataFrame,
                              docGroups: DataFrame, k: Int,
                              minDocCount: Long = 3,
                              heuristic: String = "jlh",
                              bgStats: Option[DataFrame] = None): DataFrame = {
    val groups = docGroups.select(col("doc_id"), col("group")).distinct()
    val totals = groups.groupBy("group").agg(count(lit(1)).as("fg_total"))
    val fgStats = postings.join(broadcast(groups), Seq("doc_id"))
      .groupBy("group", "term").agg(count(lit(1)).as("fg_df"))
    val bg = bgStats.getOrElse(termDocFrequencies(postings))
    val (score, keep) = significanceScore(heuristic)
    fgStats.join(bg, Seq("term"))
      .join(broadcast(totals), Seq("group"))
      .crossJoin(broadcast(norms.select("n_docs")))
      .withColumn("score", round(score, 6))
      .where(col("fg_df") >= minDocCount && keep)
      .withColumn("__rank", row_number().over(org.apache.spark.sql.expressions
        .Window.partitionBy("group").orderBy(desc("score"), asc("term"))))
      .where(col("__rank") <= k)
      .select(col("group"), col("term"), col("fg_df"), col("bg_df"),
        col("score").as(heuristic))
  }

  /** ES `fuzzy` query over the term dictionary — Lucene `FuzzyQuery` with
    * `transpositions=false` (classic Levenshtein: a swap costs 2, the
    * semantics Spark's and DuckDB's `levenshtein` share), `maxEdits` ≤ 2
    * exactly as Lucene caps it, and Lucene's `prefixLength` knob: the
    * first `prefixLength` chars must match exactly, which both narrows
    * the candidate set and (on a [[writeIndex]] table) keeps the scan
    * selective. One (term, edits, df, ttf) row per dictionary term within
    * the edit budget.
    *
    * Plan shape: a cheap length-delta prefilter (|len(term) − len(q)| ≤
    * maxEdits — a necessary condition costing two codegen'd ops) prunes
    * most postings rows before the O(|term|·|q|) levenshtein runs; the
    * aggregate after it is sized by match selectivity, like
    * [[termsMatching]].
    */
  def termsFuzzy(postings: DataFrame, term: String, maxEdits: Int = 2,
                 prefixLength: Int = 0): DataFrame = {
    require(maxEdits >= 0 && maxEdits <= 2,
      "maxEdits must be 0..2 (Lucene's FuzzyQuery cap)")
    // prefixLength counts CODEPOINTS, like everything else in the edit
    // model — term.take would split a surrogate pair and the mangled
    // prefix would match nothing
    val qCp = term.codePointCount(0, term.length)
    require(prefixLength >= 0 && prefixLength <= qCp,
      "prefixLength must be within the query term")
    val base =
      if (prefixLength > 0)
        postings.where(col("term").startsWith(
          term.substring(0, term.offsetByCodePoints(0, prefixLength))))
      else postings
    // qCp again: Spark's length()/levenshtein count codepoints too, and a
    // UTF-16 surrogate-pair length would over-tighten the delta prefilter
    base
      .where(abs(length(col("term")) - lit(qCp)) <= maxEdits &&
        levenshtein(col("term"), lit(term)) <= maxEdits)
      .groupBy("term")
      .agg(count(lit(1)).as("df"), sum("tf").as("ttf"))
      .select(col("term"),
        levenshtein(col("term"), lit(term)).cast("long").as("edits"),
        col("df"), col("ttf"))
  }

  /** Document count for a term pattern — ES's `regexp` query hit count: a
    * document matches when ANY of its terms matches. One row:
    * (term_count, doc_count, ttf). `doc_count` needs distinct doc ids
    * across matched terms, paid only on the match-selected rows.
    */
  def countDocsMatching(postings: DataFrame, pattern: String,
                        wildcard: Boolean = false): DataFrame = {
    val re = if (wildcard) wildcardRegex(pattern) else pattern
    postings.where(col("term").rlike("^(?:" + re + ")$"))
      .agg(count_distinct(col("term")).as("term_count"),
        count_distinct(col("doc_id")).as("doc_count"),
        coalesce(sum("tf"), lit(0L)).as("ttf"))
  }

  /** Translate a Lucene `WildcardQuery` pattern to a regex: `*` → `.*`,
    * `?` → `.`, `\x` → literal `x`, every other char matched literally.
    * Escaping is per-char backslash (portable across Java regex and RE2,
    * unlike `\Q...\E` runs), so the output is usable verbatim in both the
    * Spark plan and a DuckDB oracle replay.
    */
  def wildcardRegex(pattern: String): String = {
    val sb = new StringBuilder
    var i = 0
    def literal(c: Char): Unit = {
      if ("\\.[]{}()*+?^$|".indexOf(c.toInt) >= 0) sb.append('\\')
      sb.append(c)
    }
    while (i < pattern.length) {
      pattern.charAt(i) match {
        case '*' => sb.append(".*")
        case '?' => sb.append('.')
        case '\\' if i + 1 < pattern.length =>
          i += 1; literal(pattern.charAt(i))
        case c => literal(c)
      }
      i += 1
    }
    sb.result()
  }

  /** One-row corpus norms frame — the index-build-time constants every
    * scoring/association query needs: `n_docs` and `avgdl` for
    * [[bm25TopK]], `total_tf` (Σ term frequencies = corpus token count)
    * for [[collocationPmi]]. Computed once per corpus alongside the index
    * build and cross-joined into query plans (1 row → auto-broadcast);
    * persist it next to the index so no query ever pays an index-wide
    * aggregate for a build-time constant.
    */
  def corpusNorms(docs: DataFrame, textCol: String,
                  uax29: Boolean = true): DataFrame = {
    val toks =
      if (uax29) graft.functions.TextFunctions.tokenize(col(textCol))
      else split(col(textCol), " ")
    docs.agg(count(lit(1)).as("n_docs"),
      avg(size(toks).cast("double")).as("avgdl"),
      coalesce(sum(size(toks).cast("long")), lit(0L)).as("total_tf"))
  }

  /** [[corpusNorms]] recovered from an existing postings table (one
    * index-wide aggregate) — for indices built before norms were persisted
    * alongside them. Identical row — n_docs = documents, avgdl = mean dl,
    * total_tf = Σtf — EXCEPT on corpora containing zero-token documents:
    * such docs emit no postings rows and are invisible here, so n_docs
    * undercounts and avgdl overcounts relative to the build-time scan,
    * shifting BM25's idf/length normalization slightly. Prefer the
    * persisted norms row whenever the index has one.
    */
  def corpusNormsFromPostings(postings: DataFrame): DataFrame =
    normsRow(postings.agg(normsAggs.head, normsAggs.tail: _*))

  /** The norms aggregates over postings rows, in position-0 marker form:
    * a document with at least one token has exactly one posting whose
    * first position is 0, so counting those rows and summing their `dl`
    * gives n_docs and Σdl with no per-document grouping (doc ids are
    * unique within an index: every writer keeps one row per id), and
    * total_tf sums every row's tf. The values are exact integers, so
    * [[normsRow]]'s avgdl equals `avg(dl)` bit for bit. The recomputed
    * ([[corpusNormsFromPostings]]) and the observed ([[writeIndexNormed]])
    * norms share this one list.
    */
  private def normsAggs: Seq[Column] = {
    val marker = get(col("positions"), lit(0)) === 0
    Seq(count(when(marker, lit(1))).as("n_docs"),
      sum(when(marker, col("dl").cast("long"))).as("sum_dl"),
      sum(col("tf").cast("long")).as("sum_tf"))
  }

  private val normsAggSchema = StructType(Seq("n_docs", "sum_dl", "sum_tf")
    .map(StructField(_, LongType)))

  /** The one-row norms frame (n_docs, avgdl, total_tf) of [[normsAggs]]'
    * values. */
  private def normsRow(aggs: DataFrame): DataFrame =
    aggs.select(col("n_docs"),
      when(col("n_docs") > 0,
        col("sum_dl").cast("double") / col("n_docs").cast("double")).as("avgdl"),
      coalesce(col("sum_tf"), lit(0L)).as("total_tf"))

  /** [[writeIndex]] that returns the norms row of the postings it wrote,
    * computed by [[normsAggs]] observed inside the write job: no pass over
    * the written table. The observed values arrive with the write's
    * completion event; the listener bus is drained so they are in, and if
    * the write planned no observation (never seen) the row is recomputed
    * from the table.
    */
  private def writeIndexNormed(postings: DataFrame, table: String,
                               buckets: Int, force: Boolean): DataFrame = {
    val spark = postings.sparkSession
    val obs = Observation()
    writeIndex(postings.observe(obs, normsAggs.head, normsAggs.tail: _*),
      table, buckets, force)
    org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
    obs.future.value.flatMap(_.toOption) match {
      case Some(r) => normsRow(spark.createDataFrame(
        java.util.List.of(Row.fromSeq(r.toSeq)), normsAggSchema))
      case None => corpusNormsFromPostings(spark.table(table))
    }
  }

  /** Warehouse path + filesystem of the `<table>__norms` side table —
    * the ONE place the catalog-forgot-but-dir-survives contract resolves
    * a norms location (persist/drop/read and the rewrite-if-present
    * check all go through here, so they can never disagree about where
    * the row lives).
    */
  private def normsSidePath(spark: SparkSession, table: String)
      : (org.apache.hadoop.fs.Path, org.apache.hadoop.fs.FileSystem) = {
    val p = Swap.dir(spark, s"${table}__norms")
    (p, p.getFileSystem(spark.sparkContext.hadoopConfiguration))
  }

  /** Persist the norms row alongside a saved index as `<table>__norms` —
    * the build-time constant BM25/MLT/significant-terms/PMI all need, so
    * NO query pays an index-wide aggregate for it (the 100× Zipf
    * rehearsal attributed ~9 s of every MLT query to exactly that pass
    * over 27.6M postings). Here it is [[corpusNormsFromPostings]] of the
    * LIVE table, one index-wide aggregate: for callers that wrote the
    * index themselves through [[writeIndex]]. The index-mutating paths
    * ([[updateIndex]], [[replaceIndex]]) observe the same aggregates
    * inside their write instead and pay only the one-row write;
    * [[replaceIndex]] drops the row BEFORE the swap and rewrites it after,
    * so a crash in the window leaves norms ABSENT, which [[normsOf]]
    * recovers, never silently stale.
    */
  def persistNorms(spark: SparkSession, table: String): Unit =
    saveNorms(spark, table, corpusNormsFromPostings(spark.table(table)))

  /** Write the one-row `norms` frame as `<table>__norms`. */
  private def saveNorms(spark: SparkSession, table: String,
                        norms: DataFrame): Unit = {
    val nt = s"${table}__norms"
    // the in-memory catalog may have forgotten the side table while its
    // warehouse dir survives — an Overwrite saveAsTable then fails on the
    // existing location, so clear the orphan dir first
    if (!spark.catalog.tableExists(nt)) {
      val (p, fs) = normsSidePath(spark, table)
      if (fs.exists(p)) fs.delete(p, true)
    }
    norms.write.mode(SaveMode.Overwrite).format("parquet").saveAsTable(nt)
  }

  /** The norms row for a SAVED index: the persisted `<table>__norms` when
    * present (catalog-registered, or surviving in the warehouse after an
    * in-memory-catalog restart), read on the driver by [[Swap.readLocal]]
    * (no job, and the latest commit of any session), else recovered from
    * `post` with one index-wide aggregate. Values are identical either way
    * (one canonical definition); only the cost differs.
    */
  def normsOf(spark: SparkSession, table: String, post: DataFrame): DataFrame = {
    val nt = s"${table}__norms"
    val (p, fs) = normsSidePath(spark, table)
    if (spark.catalog.tableExists(nt) || fs.exists(p)) Swap.readLocal(spark, nt).get
    else corpusNormsFromPostings(post)
  }

  /** BM25 ranked retrieval straight off the index — the relevance scoring
    * the reference's ES tier applies when `get_documents_containing_phrases`
    * ranks hits (ES default similarity is BM25). Lucene's formula:
    * idf = ln(1 + (N - df + 0.5)/(df + 0.5)),
    * score = Σ_terms idf · tf·(k1+1)/(tf + k1·(1 - b + b·dl/avgdl)).
    * A term repeated in the query contributes once per occurrence
    * (Lucene/ES sum per query-term occurrence, not per distinct term) —
    * carried as a multiplicity weight so the postings are still read once
    * per distinct term.
    *
    * Plan shape: postings filtered to the query terms (bucket-pruned on a
    * saved index, df-sized rows carrying their own `dl` norm — no corpus
    * join) and read ONCE: df is a count over a window partitioned by
    * term, which a saved index's bucket layout already satisfies (no
    * Exchange). The norms row joins every candidate from the driver
    * ([[Bridge.keyedRows]]: no broadcast job, and n_docs reaches
    * generated code as data, not as a literal that compiles per value).
    * Then one groupBy(doc) and a TakeOrderedAndProject for the top-k.
    * Scores are rounded so ranking ties break identically everywhere
    * (oracle parity).
    */
  def bm25TopK(postings: DataFrame, norms: DataFrame, terms: Seq[String],
               k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    val weights = terms.groupBy(identity).map { case (t, g) => t -> g.size }
    val nrm = norms.select(lit(0L).as("__k"), col("n_docs"), col("avgdl"))
    val withNorms = Bridge.keyedRows(postings.sparkSession, nrm.collect(),
      nrm.schema, "__k")
    val cand = postings.where(Bridge.inSet(col("term"), weights.keys, StringType))
      .select("term", "doc_id", "tf", "dl")
      .withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
      .select(col("*"), inline(withNorms(lit(0L))))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val tfNorm = col("tf") * (lit(k1) + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl")))
    val mult = element_at(typedLit(weights), col("term")).cast("double")
    cand.groupBy("doc_id")
      .agg(round(sum(idf * tfNorm * mult), 6).as("score"))
      .orderBy(desc("score"), asc("doc_id")).limit(k)
  }

  /** Empty (doc_id, score) frame whose doc_id matches the POSTINGS' id
    * type — a hardcoded Long would diverge from the non-empty result's
    * schema on string-keyed corpora (the CLI's {file}-{line} ids), and
    * break any caller unioning results across queries.
    */
  private def emptyScores(postings: DataFrame): DataFrame = {
    val spark = postings.sparkSession
    spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          postings.schema("doc_id").dataType),
        org.apache.spark.sql.types.StructField("score",
          org.apache.spark.sql.types.DoubleType))))
  }

  /** Shared MLT term selection — ES/Lucene's profile filters replayed
    * exactly (reference surface: ES `more_like_this` params, same
    * defaults): drop terms below `minTermFreq` occurrences in the source
    * (ES `min_term_freq`, default 2 — one-off words carry no signal),
    * below `minDocFreq` / above `maxDocFreq` corpus document frequency
    * (ES `min_doc_freq` 5 / `max_doc_freq` unbounded — the df CEILING is
    * the scale lever: an un-capped stopword profile term aggregates
    * nearly every document in the BM25 ranking join, so the candidate
    * shuffle is df-bounded only when the caller caps it), then keep the
    * `maxQueryTerms` highest `qtf · ln(N/df)` (ES interestingTerms
    * ranking; ties term-ascending).
    */
  private def selectMltTerms(src: Map[String, Long],
                             dfByTerm: Map[String, Long], nDocs: Double,
                             maxQueryTerms: Int, minTermFreq: Long,
                             minDocFreq: Long, maxDocFreq: Long): Seq[String] =
    src.toSeq
      .filter { case (_, qtf) => qtf >= minTermFreq }
      .flatMap { case (t, qtf) => dfByTerm.get(t).map(df => (t, qtf, df)) }
      .filter { case (_, _, df) => df >= minDocFreq && df <= maxDocFreq }
      .map { case (t, qtf, df) => (t, qtf * math.log(nDocs / df)) }
      .sortBy { case (t, s) => (-s, t) }
      .take(maxQueryTerms).map(_._1)

  /** ES `more_like_this` off the index: find the documents most similar to
    * document `docId`, entirely from postings + in-index norms. Lucene's
    * MLT rewrite, Spark-shaped: (1) the source doc's term profile (one
    * pruned posting read — a single doc's vocabulary, bounded by its
    * length); (2) select the query terms with [[selectMltTerms]] (ES's
    * tf/df floors at ES defaults + the `maxQueryTerms` cap) — the ONLY
    * driver materialization, bounded by the source doc's vocabulary;
    * (3) rank the corpus for that disjunction with [[bm25TopK]] and drop
    * the source doc itself. Asking the ranker for k+1 then filtering is
    * exact: the top k+1 either contains the source (drop it → the true
    * top k) or doesn't (take the first k). Returns (doc_id, score),
    * empty when `docId` has no postings or no term survives the floors.
    */
  def moreLikeThis(postings: DataFrame, norms: DataFrame, docId: Any,
                   maxQueryTerms: Int = 25, k: Int = 10,
                   minTermFreq: Long = 2, minDocFreq: Long = 5,
                   maxDocFreq: Long = Long.MaxValue): DataFrame = {
    require(maxQueryTerms >= 1, "need at least one query term")
    val spark = postings.sparkSession
    import spark.implicits._
    // source profile first, as literals: the df lookup then prunes to the
    // profile terms' buckets (a broadcast JOIN on term would scan every
    // posting — measured 4× this cost at the 100× rehearsal). Both
    // collects are bounded by ONE document's vocabulary.
    val src = postings.where(col("doc_id") === lit(docId))
      .select(col("term"), col("tf")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    if (src.isEmpty) return emptyScores(postings)
    val dfByTerm = postings.where(col("term").isin(src.keys.toSeq: _*))
      .groupBy("term").agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nDocs = norms.select(col("n_docs").cast("double")).head().getDouble(0)
    val terms = selectMltTerms(src, dfByTerm, nDocs, maxQueryTerms,
      minTermFreq, minDocFreq, maxDocFreq)
    if (terms.isEmpty) return emptyScores(postings)
    bm25TopK(postings, norms, terms, k + 1)
      .where(col("doc_id") =!= lit(docId))
      .orderBy(desc("score"), asc("doc_id")).limit(k)
  }

  /** ES `more_like_this` with `like: <text>` instead of a document
    * reference — and the variant to prefer at scale when the text is at
    * hand: [[moreLikeThis]]'s profile lookup must scan the TERM-bucketed
    * postings for one doc_id (no pruning on a non-bucket key — ES pays a
    * termvectors point-read here, we pay a scan), while this one
    * tokenizes `likeText` driver-side (one document, trivial) and goes
    * straight to the bucket-pruned df read. `excludeId` drops a known
    * source doc from the ranking, same k+1 trick.
    */
  def moreLikeThisText(postings: DataFrame, norms: DataFrame,
                       likeText: String, uax29: Boolean = true,
                       maxQueryTerms: Int = 25, k: Int = 10,
                       excludeId: Option[Any] = None,
                       minTermFreq: Long = 2, minDocFreq: Long = 5,
                       maxDocFreq: Long = Long.MaxValue): DataFrame = {
    require(maxQueryTerms >= 1, "need at least one query term")
    val spark = postings.sparkSession
    import spark.implicits._
    val toks =
      if (uax29) graft.functions.Tokenizer.tokenize(likeText).toSeq
      else likeText.split(" ").toSeq.filter(_.nonEmpty)
    val src: Map[String, Long] =
      toks.groupBy(identity).map { case (t, g) => t -> g.size.toLong }
    if (src.isEmpty) return emptyScores(postings)
    val dfByTerm = postings.where(col("term").isin(src.keys.toSeq: _*))
      .groupBy("term").agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nDocs = norms.select(col("n_docs").cast("double")).head().getDouble(0)
    val terms = selectMltTerms(src, dfByTerm, nDocs, maxQueryTerms,
      minTermFreq, minDocFreq, maxDocFreq)
    if (terms.isEmpty) return emptyScores(postings)
    val ranked = bm25TopK(postings, norms, terms,
      k + excludeId.size)
    excludeId match {
      case Some(id) => ranked.where(col("doc_id") =!= lit(id))
        .orderBy(desc("score"), asc("doc_id")).limit(k)
      case None => ranked
    }
  }

  /** The tokenized distinct phrases of a batch phrase query (one output
    * row per distinct phrase).
    */
  private def parsePhrases(phrases: Seq[String],
                           uax29: Boolean): Seq[(String, Seq[String])] = {
    require(phrases.nonEmpty, "need at least one phrase")
    val split: String => Seq[String] =
      if (uax29) s => graft.functions.Tokenizer.tokenize(s).toSeq
      else s => s.split(" ").toSeq
    val byPhrase = phrases.distinct.map(p => p -> split(p))
    byPhrase.foreach { case (p, ts) =>
      require(ts.nonEmpty, s"phrase '$p' tokenizes to no terms") }
    byPhrase
  }

  private val slotSchema = StructType(Seq(StructField("term", StringType),
    StructField("phrase", StringType), StructField("__slot", IntegerType),
    StructField("__n_slots", IntegerType)))

  /** One (phrase, doc) row per candidate document. Phrase p's i-th token
    * is one (term, phrase, slot) row, so a term repeated inside a phrase
    * gets one row per slot; the pruned postings read (the terms as an
    * `InSet`) joins those rows ONCE by term from the driver
    * ([[Bridge.keyedRows]]: no broadcast job, and neither the rows nor
    * the phrase arity enter generated code), fanning each posting row out
    * to every slot that needs it, and an aggregate collects each phrase's
    * slot position-arrays in slot order. `__s` is complete (the doc
    * contains every phrase term) iff size(__s) == __n_slots — everything
    * downstream decides the match from `__s` alone. This is the single
    * plan shape shared by [[phraseHits]] and [[countContainingSlop]]:
    * O(1) plan operators however many phrases.
    */
  private def phraseCandidates(postings: DataFrame,
                               byPhrase: Seq[(String, Seq[String])],
                               needDl: Boolean): DataFrame = {
    val slots = Bridge.keyedRows(postings.sparkSession,
      byPhrase.flatMap { case (p, ts) =>
        ts.zipWithIndex.map { case (t, i) => Row(t, p, i, ts.size) }
      }, slotSchema, "term")
    val cols = Seq("term", "doc_id", "positions") ++ (if (needDl) Seq("dl") else Nil)
    val base = postings
      .where(Bridge.inSet(col("term"), byPhrase.flatMap(_._2).distinct, StringType))
      .select(cols.map(col): _*)
      .select(col("*"), inline(slots(col("term"))))
    val aggs = Seq(
      sort_array(collect_list(struct(col("__slot"), col("positions")))).as("__s"),
      first("__n_slots").as("__n_slots")) ++
      (if (needDl) Seq(first("dl").as("dl")) else Nil)
    base.groupBy("phrase", "doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** One (phrase, occurrences, n_docs) row per distinct phrase of
    * `phrases`: the occurrence total and the document count of its
    * (phrase, doc_id, occurrences) `hits` rows, 0 and 0 without any. The
    * zero rows join the hits in the same aggregate, a union where a left
    * join of the phrase list cost a shuffle and a join stage.
    * `distinctDocs` counts a document once however many of its rows hit
    * (a phrase's prefix expansions); otherwise each hit row is one
    * document.
    */
  private def perPhrase(hits: DataFrame, phrases: Seq[String],
                        distinctDocs: Boolean): DataFrame = {
    val spark = hits.sparkSession
    val zeros = spark.createDataFrame(
      java.util.Arrays.asList(phrases.distinct.map(p => Row(p, null, 0L, 0L)): _*),
      StructType(Seq(StructField("phrase", StringType),
        StructField("doc_id", hits.schema("doc_id").dataType),
        StructField("occurrences", LongType), StructField("__hit", LongType))))
    val nDocs =
      if (distinctDocs) count_distinct(col("doc_id")) else sum("__hit")
    hits.select(col("phrase"), col("doc_id"),
        col("occurrences").cast("long").as("occurrences"), lit(1L).as("__hit"))
      .unionByName(zeros)
      .groupBy("phrase")
      .agg(sum("occurrences").as("occurrences"), nDocs.as("n_docs"))
  }

  /** Phrase hits from the index, set-oriented over the whole phrase list:
    * the postings restricted to the union of queried terms (bucket-pruned
    * on a [[writeIndex]] table) join the broadcast slot frame once, one
    * aggregate groups (phrase, doc) candidates, and the phrase starts are
    * the intersection of each slot's positions shifted by its offset — a
    * position p survives iff term_i occurs at p+i for every i. Occurrences
    * are overlapping totals, n_docs the containing-document count;
    * zero-hit phrases are kept — both exactly the scan tier's
    * ([[Searcher]]) and the reference ES tier's contract.
    *
    * Nothing here is corpus-sized, no subtree is stamped per phrase, and
    * nothing is pinned in executor storage: a 10k-phrase benchmark batch
    * is the same plan as a 2-phrase lookup — one scan stage, the (phrase,
    * doc) aggregate and the per-phrase one ([[perPhrase]]), so a saved
    * index answers in three Spark jobs. One row per DISTINCT phrase (see
    * the contract note on [[termStats]]).
    */
  def phraseHits(postings: DataFrame, phrases: Seq[String],
                 uax29: Boolean = true): DataFrame =
    perPhrase(phraseOccurrences(postings, parsePhrases(phrases, uax29)),
      phrases, distinctDocs = false)

  /** The row-level core under [[phraseHits]] and [[docsContainingPhrase]]:
    * one (phrase, doc_id, occurrences) row per containing document,
    * occurrences = overlapping phrase starts (the shifted-positions
    * intersection).
    */
  private def phraseOccurrences(postings: DataFrame,
                                byPhrase: Seq[(String, Seq[String])]): DataFrame = {
    val grouped = phraseCandidates(postings, byPhrase, needDl = false)
      .withColumn("__sh", transform(col("__s"), s =>
        transform(s("positions"), x => x - s("__slot"))))
    val starts = aggregate(
      slice(col("__sh"), lit(2), size(col("__sh")) - 1),
      element_at(col("__sh"), 1),
      (acc, p) => array_intersect(acc, p))
    grouped
      .withColumn("__occ",
        when(size(col("__s")) === col("__n_slots"), size(starts))
          .otherwise(lit(0)).cast("long"))
      .where(col("__occ") > 0)
      .select(col("phrase"), col("doc_id"), col("__occ").as("occurrences"))
  }

  /** ES `match_phrase_prefix` off the index — autocomplete-style phrase
    * search where each phrase's LAST token is a prefix. Lucene's rewrite,
    * Spark-shaped: the trailing prefixes expand against the term
    * dictionary first (one postings scan whose `startsWith` disjunction
    * pushes to the parquet scan; `distinct` on `term` rides the bucketed
    * layout shuffle-free), capped at `maxExpansions` per prefix in term
    * order — exactly ES's cap-and-order contract, extra matching terms
    * silently dropped. The expanded phrases then run through the SAME
    * single set-oriented plan as [[phraseHits]] (one pruned postings join
    * against the driver-held slot rows, O(1) operators in phrase count),
    * and per-doc rows fold back to the ORIGINAL phrases: occurrences sum
    * exactly across expansions (one start position matches at most one
    * expansion — the terms differ at the same slot), `n_docs` dedups
    * documents that match several expansions. Phrases whose prefix
    * expands to nothing keep their 0/0 row. One row per DISTINCT input
    * phrase (see the contract note on [[termStats]]).
    */
  def phrasePrefixHits(postings: DataFrame, phrases: Seq[String],
                       uax29: Boolean = true,
                       maxExpansions: Int = 50): DataFrame = {
    require(maxExpansions >= 1, "maxExpansions must be >= 1")
    val spark = postings.sparkSession
    import spark.implicits._
    val byPhrase = parsePhrases(phrases, uax29)
    val prefixes = byPhrase.map(_._2.last).distinct

    val byPrefix: Map[String, Seq[String]] = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("__prefix").orderBy("term")
      postings
        .where(prefixes.map(p => col("term").startsWith(p)).reduce(_ || _))
        .select("term").distinct()
        .join(broadcast(prefixes.toDF("__prefix")),
          col("term").startsWith(col("__prefix")))
        .withColumn("__rank", row_number().over(w))
        .where(col("__rank") <= maxExpansions)
        .select("__prefix", "term")
        .collect().map(r => (r.getString(0), r.getString(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    }

    // expanded token sequences, keyed by their joined form; the key →
    // original mapping is many-to-many ("x a" and "x ab" both reach
    // expansion "x ab") and tiny — it folds results back from the driver
    val mapping: Seq[(String, String)] = byPhrase.flatMap { case (p, ts) =>
      byPrefix.getOrElse(ts.last, Nil).map { t =>
        ((ts.init :+ t).mkString(" "), p)
      }
    }.distinct
    val expanded: Seq[(String, Seq[String])] = mapping.map(_._1).distinct
      .map(k => k -> k.split(" ").toSeq)

    if (expanded.isEmpty)
      phrases.distinct.map(p => (p, 0L, 0L)).toDF("phrase", "occurrences", "n_docs")
    else {
      val origOf = Bridge.keyedRows(spark, mapping.map { case (k, p) => Row(k, p) },
        StructType(Seq(StructField("phrase", StringType),
          StructField("__orig", StringType))), "phrase")
      perPhrase(phraseOccurrences(postings, expanded)
          .select(col("*"), inline(origOf(col("phrase"))))
          .select(col("__orig").as("phrase"), col("doc_id"), col("occurrences")),
        phrases, distinctDocs = true)
    }
  }

  /** E2 off the index — `get_documents_containing_phrases` (reference
    * wimbd/es/__init__.py:186-267) without the corpus scan: every
    * (phrase, containing doc, occurrence count) from the same single
    * pruned postings join as [[phraseHits]]. The result carries doc ids,
    * not bodies — join back to the document store by id to fetch text
    * (id-keyed point reads, the same two-step ES itself performs).
    * Phrases with no hits contribute no rows (retrieval semantics, unlike
    * the count surfaces which keep zero rows).
    */
  def docsContainingPhrase(postings: DataFrame, phrases: Seq[String],
                           uax29: Boolean = true): DataFrame =
    phraseOccurrences(postings, parsePhrases(phrases, uax29))

  /** Term proximity / collocation counts from the index, set-oriented over
    * the pair list: for each (term_a, term_b) pair, `n_docs` = documents
    * where some occurrence of a has a b within `window` tokens, and
    * `n_near` = total a-occurrences with such a neighbor. The
    * concordance-style question ("how often does 'bank' appear near
    * 'river'?") answered from the pruned postings read joined once against
    * a broadcast (pair, side, term) frame — no corpus scan, no per-pair
    * plan subtree, no phrase-order constraint (window is symmetric, unlike
    * [[phraseHits]]). Zero-hit pairs are kept. An identical-term pair
    * (a, a) does not count an occurrence as its own neighbor (the
    * zero-distance self match is excluded; distinct occurrences of the
    * same term within the window still count). One row per DISTINCT pair
    * (see the contract note on [[termStats]]).
    */
  def proximityPairs(postings: DataFrame, pairs: Seq[(String, String)],
                     window: Int): DataFrame = {
    require(pairs.nonEmpty, "need at least one term pair")
    require(window >= 1, "window must be >= 1")
    val spark = postings.sparkSession
    import spark.implicits._
    val dpairs = pairs.distinct
    val sides = dpairs.flatMap { case (a, b) =>
      Seq((a, b, 0, a), (a, b, 1, b))
    }.toDF("term_a", "term_b", "__side", "term")
    val allTerms = dpairs.flatMap(p => Seq(p._1, p._2)).distinct
    val perDoc = postings.where(col("term").isin(allTerms: _*))
      .select("term", "doc_id", "positions")
      .join(broadcast(sides), Seq("term"))
      .groupBy("term_a", "term_b", "doc_id")
      .agg(
        first(when(col("__side") === 0, col("positions")), ignoreNulls = true)
          .as("__pa"),
        first(when(col("__side") === 1, col("positions")), ignoreNulls = true)
          .as("__pb"))
    val near = size(filter(col("__pa"), x =>
      exists(col("__pb"), y => abs(x - y) <= window &&
        (col("term_a") =!= col("term_b") || x =!= y))))
    val agg = perDoc
      .where(col("__pa").isNotNull && col("__pb").isNotNull)
      .withColumn("__n", near).where(col("__n") > 0)
      .groupBy("term_a", "term_b")
      .agg(count(lit(1)).as("n_docs"), sum("__n").cast("long").as("n_near"))
    dpairs.toDF("term_a", "term_b")
      .join(agg, Seq("term_a", "term_b"), "left")
      .select(col("term_a"), col("term_b"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_near"), lit(0L)).as("n_near"))
  }

  /** Collocation strength: pointwise mutual information over the
    * [[proximityPairs]] window counts — PMI(a,b) = ln(C_near(a,b)·T /
    * (ttf(a)·ttf(b))), the classic collocation statistic (Church & Hanks
    * 1990), computed ENTIRELY from the index (co-occurrence from position
    * lists, unigram totals from term stats, T = the `total_tf` norm stored
    * at index-build time by [[corpusNorms]] — a build-time constant, so no
    * PMI query ever pays an index-wide aggregate; use
    * [[corpusNormsFromPostings]] once for a pre-norms index). NULL pmi for
    * pairs that never co-occur. Every frame in the plan is pair-/term-/
    * one-row-sized beyond the single pruned postings read.
    */
  def collocationPmi(postings: DataFrame, norms: DataFrame,
                     pairs: Seq[(String, String)], window: Int): DataFrame = {
    val prox = proximityPairs(postings, pairs, window)
    val terms = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val st = termStats(postings, terms).select(col("term"), col("ttf"))
    val tot = norms.select(col("total_tf").cast("double").as("T"))
    prox
      .join(broadcast(st.select(col("term").as("term_a"), col("ttf").as("__ta"))),
        Seq("term_a"))
      .join(broadcast(st.select(col("term").as("term_b"), col("ttf").as("__tb"))),
        Seq("term_b"))
      .crossJoin(broadcast(tot))
      .withColumn("pmi",
        when(col("n_near") > 0 && col("__ta") > 0 && col("__tb") > 0,
          round(log(col("n_near") * col("T") / (col("__ta") * col("__tb"))), 6)))
      .select(col("term_a"), col("term_b"), col("n_docs"), col("n_near"),
        col("pmi"))
  }

  /** A12 from the index: benchmark contamination (fraction of phrases
    * present at least once) where the ENTIRE phrase list is answered by
    * [[phraseHits]]'s single pruned posting read and single join — the
    * batch-contamination driver's cost drops from one corpus scan per run
    * to a few hundred MB of term postings, and the plan stays O(1)
    * operators at the reference's real multiplicity (hundreds to thousands
    * of phrases per msearch sweep). Same output shape as
    * `Searcher.contamination`.
    */
  def contaminationIndexed(postings: DataFrame, phrases: Seq[String],
                           uax29: Boolean = true): DataFrame =
    phraseHits(postings, phrases, uax29)
      .agg(count(lit(1)).as("n_phrases"),
        sum(when(col("n_docs") > 0, 1L).otherwise(0L)).cast("long")
          .as("n_contaminated"),
        round(avg(when(col("n_docs") > 0, 1.0).otherwise(0.0)), 6).as("pct"))

  /** Paired contamination off the index (reference wimbd/es/
    * corpus_contamination.py:44-58 `paired_contamination_percentage`): a
    * benchmark EXAMPLE is several field phrases (question + answer) and
    * counts as contaminated iff ONE document contains all of them. The
    * DISTINCT phrase union runs through the same single-plan candidate
    * machinery as [[phraseHits]] (one pruned postings read, one broadcast
    * slot frame); per-(example, doc) completeness is a count against a
    * broadcast (example, phrase) frame — O(1) plan operators in example
    * count, nothing corpus-sized. Same output shape as
    * `Searcher.pairedContamination`, which it must agree with exactly.
    */
  def pairedContaminationIndexed(postings: DataFrame,
                                 examples: Seq[Seq[String]],
                                 uax29: Boolean = true): DataFrame = {
    val spark = postings.sparkSession
    import spark.implicits._
    if (examples.isEmpty)
      return Seq.empty[(Long, Long, Double)]
        .toDF("n_examples", "n_contaminated", "pct")
    require(examples.forall(_.nonEmpty),
      "each example needs at least one field phrase")
    val hits = phraseOccurrences(postings,
      parsePhrases(examples.flatten.distinct, uax29))
      .select("phrase", "doc_id")
    val exFrame = examples.zipWithIndex.flatMap { case (ps, i) =>
      val fields = ps.distinct
      fields.map(p => (i.toLong, p, fields.size.toLong))
    }.toDF("example_id", "phrase", "__n_fields")
    // hits is one row per (phrase, doc); a doc completes an example when
    // it holds every DISTINCT field phrase of it
    val contaminated = hits.join(broadcast(exFrame), Seq("phrase"))
      .groupBy("example_id", "doc_id")
      .agg(count(lit(1)).as("__hit_fields"),
        first("__n_fields").as("__n_fields"))
      .where(col("__hit_fields") === col("__n_fields"))
      .select("example_id").distinct()
    contaminated.agg(count(lit(1)).as("n_contaminated"))
      .select(lit(examples.size.toLong).as("n_examples"),
        col("n_contaminated").cast("long").as("n_contaminated"))
      .withColumn("pct", round(col("n_contaminated") / col("n_examples"), 6))
  }

  /** E1-with-slop answered from the index, set-oriented like
    * [[phraseHits]]: same driver-held slot rows, same single postings join
    * and (phrase, doc) aggregate, with the match decided by the Lucene
    * move-distance containment kernel on stored positions + the in-index
    * `dl` norm — the IDENTICAL matcher core the scan tier's
    * `PhraseMatchLucene` uses (shared `matchesPositions`), so the two
    * tiers can never disagree. Zero-hit phrases kept; one row per
    * DISTINCT phrase (see the contract note on [[termStats]]).
    */
  def countContainingSlop(postings: DataFrame, phrases: Seq[String],
                          slop: Int, uax29: Boolean = true): DataFrame = {
    val grouped = phraseCandidates(postings, parsePhrases(phrases, uax29),
      needDl = true)
    val hit = Bridge.column(graft.functions.expressions.PhraseSlopPositions(
      Bridge.expression(transform(col("__s"), s => s("positions"))),
      Bridge.expression(col("dl")),
      Bridge.expression(lit(slop))))
    perPhrase(grouped.where(size(col("__s")) === col("__n_slots") && hit)
        .select(col("phrase"), col("doc_id"), lit(0L).as("occurrences")),
      phrases, distinctDocs = false)
      .select(col("phrase"), col("n_docs"))
  }
}
