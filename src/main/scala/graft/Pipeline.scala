package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.{Analyses, Dedup, Similarity, TextQuality}

/** Curated facade for the pretraining-data pipeline surface that extends
  * the reference toolkit ([[Wimbd]] covers the reference's own three
  * surfaces 1:1). Methods are thin delegations to the operator objects,
  * which carry the scale notes; this object exists so the end-to-end
  * corpus-preparation flow reads as one API:
  *
  * {{{
  * val clean = Pipeline.gopherGate(docs, "doc_id", "text")        // quality
  * val noDup = Pipeline.dedupNearMinhash(clean, "doc_id", "text") // near-dup
  * val noEval = Pipeline.decontaminate(noDup, bench)              // leakage
  * val mixed  = Pipeline.mix(noEval, weights, tokenBudget)        // mixture
  * }}}
  */
object Pipeline {

  // ---- quality gates ----

  /** Gopher §A1.1 gate: returns only the documents passing every rule. */
  def gopherGate(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.join(
      TextQuality.gopherFilter(docs, idCol, textCol)
        .where(col("keep")).select(col(idCol).as("__keep_id")),
      docs(idCol) === col("__keep_id"), "left_semi")

  /** Unigram-LM scoring under a model trained on `lmCorpus` (or the corpus
    * itself) — threshold `avg_logp` downstream like a KenLM perplexity.
    */
  def lmScore(docs: DataFrame, idCol: String, textCol: String,
              lmCorpus: Option[DataFrame] = None): DataFrame =
    TextQuality.unigramLogProb(docs, idCol, textCol,
      lmCorpus.map(TextQuality.unigramCounts(_, textCol)))

  /** CCNet-style selection: LM-score, cut into head/middle/tail (per
    * `byCol` group when given — CCNet buckets per language), and keep the
    * buckets in `keep`. The classic recipe keeps head+middle.
    */
  def perplexitySelect(docs: DataFrame, idCol: String, textCol: String,
                       keep: Set[String] = Set("head", "middle"),
                       byCol: Option[String] = None,
                       lmCorpus: Option[DataFrame] = None): DataFrame =
    docs.join(
      TextQuality.perplexityBuckets(docs, idCol, textCol,
          lm = lmCorpus.map(TextQuality.unigramCounts(_, textCol)), byCol = byCol)
        .where(col("ppl_bucket").isin(keep.toSeq: _*))
        .select(col(idCol).as("__keep_id")),
      docs(idCol) === col("__keep_id"), "left_semi")

  /** PII redaction in place: swap `textCol` for its redacted form (typed
    * sentinels) and append the per-type audit counts — one scan projection,
    * no join, every other column untouched.
    */
  def redactPii(docs: DataFrame, textCol: String,
                patterns: Map[String, String] = Analyses.PiiPatterns): DataFrame = {
    val ordered = patterns.toSeq.sortBy(_._1)
    val counted = ordered.foldLeft(docs) { case (d, (t, re)) =>
      d.withColumn(s"n_$t", regexp_count(col(textCol), lit(re)).cast("long"))
    }
    ordered.foldLeft(counted) { case (d, (t, re)) =>
      d.withColumn(textCol, regexp_replace(col(textCol), re, s"<|$t|>"))
    }
  }

  /** FineWeb-style line/word gate: documents passing every rule. */
  def fineWebGate(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.join(
      TextQuality.fineWebFilter(docs, idCol, textCol)
        .where(col("keep")).select(col(idCol).as("__keep_id")),
      docs(idCol) === col("__keep_id"), "left_semi")

  /** HTML → text extraction in front of the gates (crawl-dump ingestion). */
  def extractHtml(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    TextQuality.htmlToText(docs, idCol, textCol)

  /** DSIR importance selection toward a target domain: fit hashed-n-gram
    * log ratios on `targetPred` rows in ONE scan, weight per-row with zero
    * shuffle, keep the derandomized Gumbel-top-k.
    */
  def dsirSelect(docs: DataFrame, idCol: String, textCol: String,
                 targetPred: Column, keep: Int, buckets: Int = 10000): DataFrame = {
    val ratios = Analyses.dsirLogRatiosWhere(docs, targetPred, textCol, buckets)
    Analyses.dsirSelect(Analyses.dsirWeights(docs, textCol, ratios),
      col(idCol), keep)
  }

  // ---- deduplication ladder (cheapest first) ----

  /** Exact full-text dedup, keep-first in (order) scan order. */
  def dedupExact(docs: DataFrame, textCol: String, order: Seq[Column]): DataFrame =
    Dedup.keepFirst(docs, md5(col(textCol)), order)

  /** MinHash+LSH near-dup dedup: cluster candidates verified by exact
    * Jaccard, keep the minimum-id representative per cluster.
    */
  def dedupNearMinhash(docs: DataFrame, idCol: String, textCol: String,
                       threshold: Double = 0.8): DataFrame =
    Dedup.keepClusterRepresentative(docs, idCol,
      operators.MinHash.nearDuplicates(docs, idCol, textCol, threshold))

  /** SemDeDup over an embedding column; raise `tables` for recall on
    * structure-poor embeddings (recall per table count is recorded on
    * [[graft.operators.Similarity.semanticNearDuplicates]]).
    *
    * `exactFirst` (default ON — the dedup-ladder discipline): collapse
    * EXACT-duplicate vectors to their min-`idCol` row with one narrow
    * window pass BEFORE any bucketing or pair scoring. Identical vectors
    * have pairwise cosine exactly 1.0, so within any bucket SemDeDup
    * clusters them together and keeps the same min-id representative —
    * but only after materializing the O(c²)-per-clique pair graph (the
    * SCALE.md 100× adversarial row: 100-way replication cliques drove a
    * ~10M-edge CC). The pre-rung removes that graph before it exists.
    * NOTE the blocking caveat: SemDeDup's pair DISCOVERY is approximate
    * (deterministic IVF buckets off an id-sampled centroid set), and
    * collapsing rows changes which ids remain for that id-modulo sample —
    * so near-dup pairs far from the exact cliques can land in different
    * buckets than the opt-out path and be found or missed differently,
    * exactly as any recall dial (tables, step) reshapes discovery. Exact
    * cliques themselves always collapse to the same survivor. Rows with a
    * NULL vector pass through untouched (never compared, the
    * [[Similarity.semanticDedup]] contract). Opt out (`exactFirst =
    * false`) for strict blocking-structure parity with the raw pipeline.
    */
  def dedupSemantic(docs: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, centroidStep: Int,
                    tables: Int = 1, exactFirst: Boolean = true): DataFrame = {
    val base =
      if (!exactFirst) docs
      else Dedup.keepFirst(docs.where(col(vecCol).isNotNull), col(vecCol),
          Seq(asc(idCol)))
        .unionByName(docs.where(col(vecCol).isNull))
    Similarity.semanticDedup(base, idCol, vecCol, threshold, centroidStep,
      tables)
  }

  /** [[dedupSemantic]] for TEXT-ONLY corpora: derive the vector column by
    * the hashing trick ([[operators.FeatureHash.hashedEmbeddings]] — a
    * zero-shuffle kernel pass, no model in the loop), then run the same
    * SemDeDup pipeline and keep the surviving documents. Hashed-space
    * cosine estimates bag-of-words cosine, so this rung sits between
    * MinHash (set overlap) and true-embedding SemDeDup (semantics) —
    * use it when embeddings don't exist but token-frequency similarity
    * is the right near-dup notion.
    */
  def dedupSemanticText(docs: DataFrame, idCol: String, textCol: String,
                        threshold: Double, centroidStep: Int, dim: Int = 64,
                        tables: Int = 1, uax29: Boolean = false,
                        exactFirst: Boolean = true): DataFrame = {
    val emb0 = operators.FeatureHash.hashedEmbeddings(docs, idCol, textCol,
      dim, uax29 = uax29)
    // exact-first pre-rung on the (id, emb) projection: exact-text twins
    // (and hash-coincident docs) share the embedding byte for byte, so
    // collapsing by the raw vector removes every clique the pair graph
    // would otherwise score quadratically — one narrow window pass, the
    // document text never moves (hashedEmbeddings is a zero-shuffle
    // kernel and already dropped null-text rows)
    val emb =
      if (exactFirst) Dedup.keepFirst(emb0, col("emb"), Seq(asc("id")))
      else emb0
    val keep = Similarity.semanticDedup(emb, "id", "emb", threshold,
      centroidStep, tables).select(col("id").as(idCol))
    // null-text docs have no embedding, so they were never compared —
    // a dedup rung must pass them through, not drop them
    docs.join(keep, Seq(idCol), "left_semi")
      .unionByName(docs.where(col(textCol).isNull))
  }

  /** Repeated-sentence boilerplate surgery on text corpora: cut every
    * sentence appearing in more than `maxDf` distinct documents (cookie
    * banners, nav text, license headers), keep the documents.
    */
  def removeBoilerplateSentences(docs: DataFrame, idCol: String,
                                 textCol: String, maxDf: Long = 1L): DataFrame =
    Dedup.removeRepeatedSentences(docs, idCol, textCol, maxDf)

  /** Diversity curation for TEXT-ONLY corpora, off feature-hash
    * embeddings (no model in the loop): `exemplars` = k maximally-spread
    * k-center picks ([[Similarity.kCenterSelect]]); [[curationSample]]
    * bounds every embedding-cluster's share instead.
    */
  def diverseExemplarsText(docs: DataFrame, idCol: String, textCol: String,
                           k: Int, dim: Int = 64,
                           uax29: Boolean = false): DataFrame =
    Similarity.kCenterSelect(
      operators.FeatureHash.hashedEmbeddings(docs, idCol, textCol, dim,
        uax29 = uax29), "id", "emb", k)

  /** Cluster-balanced curation sample for TEXT-ONLY corpora: up to
    * `perCluster` documents per feature-hash embedding cluster —
    * the wide-coverage complement to [[diverseExemplarsText]].
    */
  def curationSample(docs: DataFrame, idCol: String, textCol: String,
                     step: Int, perCluster: Int, dim: Int = 64,
                     uax29: Boolean = false): DataFrame =
    Similarity.clusterBalancedSample(
      operators.FeatureHash.hashedEmbeddings(docs, idCol, textCol, dim,
        uax29 = uax29), "id", "emb", step, perCluster, hashedIds = true)

  /** URL-level exact dedup: keep-first by canonical URL (case, ports,
    * www, tracking params, fragments and slash noise collapse first).
    */
  def dedupByUrl(docs: DataFrame, urlCol: String, order: Seq[Column]): DataFrame =
    Dedup.keepFirst(docs, operators.UrlOps.canonicalizeUrl(col(urlCol)), order)

  /** Fuzzy decontamination: drop train docs that near-match any benchmark
    * doc (exact-hash [[decontaminate]] only catches verbatim leaks).
    */
  def decontaminateFuzzy(train: DataFrame, trainText: String,
                         bench: DataFrame, benchText: String,
                         threshold: Double = 0.8): DataFrame =
    Dedup.decontaminateFuzzy(train, trainText, bench, benchText, threshold)

  /** Substring-level dedup: rewrite documents dropping every duplicated
    * k-token span occurrence after the first.
    */
  def removeSpans(docs: DataFrame, idCol: String, textCol: String,
                  k: Int = 50): DataFrame =
    Dedup.removeDuplicateSpans(docs, idCol, textCol, k)

  // ---- decontamination ----

  /** Exact anti-join decontamination against a benchmark corpus. */
  def decontaminate(docs: DataFrame, benchmark: DataFrame,
                    textCol: String = "text"): DataFrame =
    Dedup.decontaminate(docs, md5(col(textCol)), benchmark, md5(col(textCol)))

  /** Bloom-filter decontamination for beyond-broadcast blocklists. */
  def decontaminateApprox(docs: DataFrame, benchmark: DataFrame,
                          expectedItems: Long, fpp: Double = 0.01,
                          textCol: String = "text"): DataFrame =
    Dedup.decontaminateApprox(docs, md5(col(textCol)),
      benchmark, md5(col(textCol)), expectedItems, fpp)

  /** Span-level contamination report of eval docs against training data. */
  def contaminationReport(train: DataFrame, test: DataFrame, idCol: String,
                          textCol: String = "text", n: Int = 8): DataFrame =
    Dedup.ngramContamination(train, textCol, test, idCol, textCol, n)

  /** Diff-driven incremental refresh: re-run a PER-DOCUMENT processing
    * stage only on documents that were added or changed since the last
    * release, carry the previous outputs forward for unchanged ones, and
    * let removed documents drop out by construction. With ~1% monthly
    * churn on a 100 TB corpus this turns the re-tokenize/re-score pass
    * into ~1% of the work — the reason [[graft.operators.CorpusDiff]]
    * exists.
    *
    * CONTRACT: `process` must be per-document (a map-like stage keyed by
    * `idCol`, one output row per input doc — token counting, quality
    * scoring, language ID, PII redaction). Corpus-LEVEL stages (dedup
    * ladders, global statistics, mixture planning) see data across
    * documents and must run on the full refreshed corpus downstream.
    * `oldOutputs` is the previous release's `process` output, keyed by
    * `idCol` with the same schema the fresh run produces.
    *
    * Scale shape: the diff shuffles 16-byte hashes on the id
    * ([[graft.operators.CorpusDiff.diffDocs]]); both carry-over and
    * reprocess sides are id-keyed left-semi joins co-partitioned with it.
    */
  def incrementalRefresh(oldSnapshot: DataFrame, newSnapshot: DataFrame,
                         oldOutputs: DataFrame, idCol: String,
                         contentCol: String)
                        (process: DataFrame => DataFrame): DataFrame = {
    import graft.operators.CorpusDiff
    val st = CorpusDiff.diffDocs(oldSnapshot, newSnapshot, idCol, contentCol)
    val unchanged = st.where(col("status") === CorpusDiff.Unchanged)
      .select(col("id").as(idCol))
    val todo = st.where(col("status").isin(CorpusDiff.Added, CorpusDiff.Changed))
      .select(col("id").as(idCol))
    val carried = oldOutputs.join(unchanged, Seq(idCol), "left_semi")
    val fresh = process(newSnapshot.join(todo, Seq(idCol), "left_semi"))
    carried.unionByName(fresh)
  }

  // ---- mixing ----

  /** Deterministic mixture: plan per-source fractions for a token budget
    * and sample them (rerun-reproducible).
    */
  def mix(docs: DataFrame, idCol: String, sourceCol: String, textCol: String,
          weights: Map[String, Double], tokenBudget: Long): DataFrame =
    Analyses.mixtureSample(docs, col(idCol), col(sourceCol), textCol,
      weights, tokenBudget)

  // ---- reporting ----

  /** The "what's in my big data" card: one `(metric, value)` frame
    * summarizing a corpus — counts, size, exact-duplicate rate, language
    * mix, and length stats. This is the reference's reason for existing
    * (its paper reports exactly these per-corpus tables), composed from the
    * same operators users reach for individually. Two corpus passes: one
    * row-level aggregate and one over md5 groups; every metric is a sum /
    * count / distinct-count, so partial aggregation keeps the shuffles at
    * metric cardinality.
    */
  def corpusReport(docs0: DataFrame, textCol: String,
                   langCol: Option[String] = None): DataFrame = {
    val docs = graft.Par.fanOut(docs0) // single-split (gzip) inputs parallelize
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = size(split(col(textCol), " "))
    // coalesce: sum/avg/max/min are NULL over an empty corpus, and the
    // driver-side getLong/getDouble below would throw on it
    val rowAgg = docs.agg(
      count(lit(1)).as("n_docs"),
      coalesce(sum(toks.cast("long")), lit(0L)).as("n_tokens"),
      coalesce(sum(length(col(textCol)).cast("long")), lit(0L)).as("n_chars"),
      coalesce(avg(toks.cast("double")), lit(0.0)).as("mean_doc_tokens"),
      coalesce(max(toks.cast("long")), lit(0L)).as("max_doc_tokens"),
      coalesce(min(toks.cast("long")), lit(0L)).as("min_doc_tokens")).head()
    val dupAgg = docs.select(md5(col(textCol)).as("h"))
      .groupBy("h").agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("uniq"),
        coalesce(sum(when(col("c") > 1, col("c"))), lit(0L)).as("dup_docs")).head()
    val nDocs = rowAgg.getLong(0).toDouble.max(1.0)
    val langMetrics = langCol.toSeq.flatMap { lc =>
      docs.groupBy(col(lc)).agg(count(lit(1)).as("c"))
        .collect()
        .map(r => (s"lang_frac_${r.get(0)}", r.getLong(1) / nDocs))
    }
    // counts pass through unrounded: math.round saturates at Long.MaxValue,
    // so n_chars/n_tokens above ~9.2e12 (routine at 100 TB) would silently
    // cap if fed through the fractional rounding below. The Long→Double
    // trip itself is exact only below 2^53 (~9e15) — beyond that the
    // report's value column (double-typed for the fraction rows) loses
    // ulp-level precision on raw counts; fine for a report card, use
    // NgramOps.stats for exact longs.
    def round6(v: Double): Double = math.round(v * 1e6) / 1e6
    val counts = Seq(
      "n_docs" -> rowAgg.getLong(0).toDouble,
      "n_tokens" -> rowAgg.getLong(1).toDouble,
      "n_chars" -> rowAgg.getLong(2).toDouble,
      "max_doc_tokens" -> rowAgg.getLong(4).toDouble,
      "min_doc_tokens" -> rowAgg.getLong(5).toDouble,
      "n_unique_texts" -> dupAgg.getLong(0).toDouble)
    val fracs = (Seq(
      "mean_doc_tokens" -> rowAgg.getDouble(3),
      "exact_dup_frac" -> dupAgg.getLong(1) / nDocs) ++ langMetrics)
      .map { case (m, v) => (m, round6(v)) }
    val order = Seq("n_docs", "n_tokens", "n_chars", "mean_doc_tokens",
      "max_doc_tokens", "min_doc_tokens", "n_unique_texts", "exact_dup_frac")
      .zipWithIndex.toMap
    (counts ++ fracs).sortBy { case (m, _) => order.getOrElse(m, order.size) }
      .toDF("metric", "value")
  }

  /** Dolma-style attribute workflow: analyses write ATTRIBUTE frames
    * (`(id, flag/score/label ...)`) instead of mutating the corpus; this
    * joins any number of them back by id and applies a keep predicate over
    * the attribute columns — so expensive per-doc analyses run ONCE, are
    * audit-queryable on their own, and the corpus text moves only in this
    * final materialization pass. Attributes are distinct-keyed id frames,
    * orders of magnitude narrower than the corpus; AQE broadcasts small
    * ones and shuffle-joins the rest on the id. Missing ids join as nulls —
    * write the predicate null-safely (`coalesce(col("keep"), lit(false))`).
    */
  def applyAttributes(docs: DataFrame, idCol: String,
                      attributes: Seq[DataFrame], keep: Column): DataFrame =
    attributes.foldLeft(docs)((d, a) => d.join(a, Seq(idCol), "left"))
      .where(keep)

  /** Per-domain report card — [[corpusReport]]'s metrics FACETED by host
    * (or source, or any grouping column): doc/token counts, mean length,
    * unique-text count and exact-duplicate fraction within the domain. The
    * "which domains are feeding me boilerplate" table every crawl triage
    * starts from (C4/RefinedWeb both report per-domain dup tables).
    *
    * Fully distributed, unlike [[corpusReport]]'s driver-side assembly:
    * one partial-agg shuffle on (host, text-hash), one on host — output is
    * domain-cardinality. No collect, so it holds at 100 TB where the host
    * column has tens of millions of values.
    */
  def domainReport(docs: DataFrame, host: Column, textCol: String): DataFrame = {
    val toks = size(split(col(textCol), " ")).cast("long")
    graft.Par.fanOut(docs)
      .select(host.as("host"), md5(col(textCol)).as("h"), toks.as("nt"))
      .groupBy("host", "h")
      .agg(count(lit(1)).as("c"), sum("nt").as("nt"))
      .groupBy("host")
      .agg(sum("c").cast("long").as("n_docs"),
        sum("nt").cast("long").as("n_tokens"),
        round(sum("nt") / sum("c").cast("double"), 6).as("mean_doc_tokens"),
        count(lit(1)).as("n_unique_texts"),
        round(coalesce(sum(when(col("c") > 1, col("c"))), lit(0L))
          .cast("double") / sum("c"), 6).as("exact_dup_frac"))
  }
}
