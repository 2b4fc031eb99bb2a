package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-quality / token-accounting operators for pretraining-data pipelines:
  * quality features + score, BPE-ish token counting, and winnowing document
  * fingerprints. Pure column algebra throughout, with one documented
  * exception: [[compressionSignals]] wraps a per-row DEFLATE kernel.
  */
object TextQuality {

  val defaultStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "that", "for")

  /** Per-doc quality features over whitespace tokens. */
  /** Gopher-style repetition signals per document (Rae et al. 2021 §A1.1)
    * — one codegen'd pass per doc, no explode/shuffle; see
    * [[graft.functions.expressions.RepetitionKernel]] for the exact
    * contract of each fraction. The standard pretraining repetition
    * filters threshold these columns.
    */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sig = org.apache.spark.sql.graft.Bridge.column(
      graft.functions.expressions.RepetitionSignals(
        org.apache.spark.sql.graft.Bridge.expression(col(textCol))))
    val names = Seq("dup_line_frac", "dup_line_char_frac",
      "top2gram_char_frac", "top3gram_char_frac", "top4gram_char_frac") ++
      (5 to 10).map(n => s"dup${n}gram_char_frac")
    df.select(col(idCol) +: names.zipWithIndex.map { case (nm, i) =>
      round(element_at(sig, i + 1), 6).as(nm)
    }: _*)
  }

  /** C4-style per-document line heuristics (Raffel et al. 2020 §2.2 — the
    * cleaning rules behind C4): terminal-punctuation line fraction,
    * bullet-point and short-line fractions, lorem-ipsum and curly-brace
    * flags. Pure column algebra over the split line array — no explode, no
    * shuffle; threshold downstream like the Gopher [[repetitionSignals]].
    */
  def c4LineFilters(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lines = split(col(textCol), "\n")
    df.select(
      col(idCol),
      size(lines).cast("long").as("n_lines"),
      round(size(filter(lines, l => l.rlike("[.!?\"]$"))).cast("double") / size(lines), 6)
        .as("frac_lines_terminal_punct"),
      round(size(filter(lines, l => ltrim(l).rlike("^[-*•]"))).cast("double") / size(lines), 6)
        .as("frac_lines_bullet"),
      round(size(filter(lines, l => size(split(l, " ")) <= 2)).cast("double") / size(lines), 6)
        .as("frac_short_lines"),
      lower(col(textCol)).contains("lorem ipsum").as("has_lorem_ipsum"),
      col(textCol).contains("{").as("has_curly_brace"))
  }

  /** The C4 line-level cleaning TRANSFORM (Raffel et al. 2020 §2.2) next to
    * [[c4LineFilters]]' per-doc heuristics: keep only lines that end in
    * terminal punctuation, have at least `minLineWords` words, and contain
    * neither a curly brace nor the word "javascript"; drop the whole
    * document when it mentions "lorem ipsum" or keeps fewer than
    * `minLines` lines. Pure column algebra over the split line array — the
    * rewrite happens in the scan projection, no explode, no shuffle.
    */
  def c4Clean(df: DataFrame, idCol: String, textCol: String,
              minLineWords: Int = 5, minLines: Int = 1): DataFrame = {
    val kept = filter(split(col(textCol), "\n"), l =>
      l.rlike("[.!?\"]$") &&
        size(split(l, " ")) >= minLineWords &&
        !l.contains("{") &&
        !lower(l).contains("javascript"))
    df.select(col(idCol),
        array_join(kept, "\n").as("text_clean"),
        size(kept).cast("long").as("n_lines_kept"),
        lower(col(textCol)).contains("lorem ipsum").as("__lorem"))
      .where(!col("__lorem") && col("n_lines_kept") >= minLines)
      .drop("__lorem")
  }

  /** `extra` columns ride in the SAME scan projection — callers that need
    * the signals next to other per-doc columns (text, length transforms)
    * should pass them here rather than self-joining on the id, which costs
    * a corpus-wide shuffle for what one projection expresses.
    */
  def qualityFeatures(df: DataFrame, idCol: String, textCol: String,
                      stopwords: Seq[String] = defaultStopwords,
                      extra: Seq[Column] = Nil): DataFrame = {
    val toks = split(col(textCol), " ")
    val stopArr = array(stopwords.map(lit): _*)
    df.select(Seq(
      col(idCol),
      size(toks).cast("long").as("n_tokens"),
      round(length(col(textCol)).cast("double") / size(toks), 6).as("mean_token_len"),
      round(size(filter(toks, t => array_contains(stopArr, t))).cast("double") / size(toks), 6)
        .as("stopword_ratio"),
      round(size(filter(toks, t => length(t) <= 2)).cast("double") / size(toks), 6)
        .as("short_token_ratio"),
      round(size(array_distinct(toks)).cast("double") / size(toks), 6).as("uniq_ratio"))
      ++ extra: _*)
  }

  /** Gopher-rules-flavored quality score in [0,1]: reward stopword presence
    * and lexical diversity, punish degenerate token lengths. Weights are
    * explicit so downstream filters stay interpretable.
    */
  def qualityScore(features: DataFrame): DataFrame =
    features.withColumn("quality",
      round(least(lit(1.0), greatest(lit(0.0),
        lit(0.25) * least(col("stopword_ratio") * 10, lit(1.0)) +
          lit(0.5) * col("uniq_ratio") +
          lit(0.25) * when(col("mean_token_len").between(3.0, 10.0), 1.0).otherwise(0.0))), 6))

  /** BPE-ish token count: letter runs, digit runs, and single non-alnum
    * marks — the usual pre-tokenizer regex shape. The cheap proxy; see
    * [[bpeTrain]]/[[bpeEncode]] for the real merge-based tokenizer.
    */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))).cast("long")

  /** Train a real BPE merge list from the corpus (Sennrich et al. 2016):
    * ONE distributed aggregation builds the pre-token histogram (Zipf-
    * bounded; `topV` caps the driver collect and barely moves the merges —
    * BPE training weight lives in the histogram head), then the merge loop
    * runs driver-side exactly like the reference implementation. Returns
    * the ranked merges for [[bpeEncode]] — train once on a sample, encode
    * anywhere (the merge table is a static few hundred KB, not per-row
    * state).
    */
  def bpeTrain(docs: DataFrame, textCol: String, numMerges: Int,
               topV: Int = 100000): Seq[(String, String)] = {
    val wc = graft.Par.fanOut(docs)
      .select(explode(regexp_extract_all(col(textCol),
        lit(graft.functions.Bpe.PreTokenPattern), lit(0))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), asc("w")).limit(topV)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    graft.functions.Bpe.train(wc, numMerges)
  }

  /** BPE-encode `text` into subword tokens under trained `merges` — a
    * codegen'd scan-stage projection (the merge table ships inside the
    * expression; SQL surface: `graft_bpe_encode`).
    */
  def bpeEncode(text: Column, merges: Seq[(String, String)]): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.expressions.BpeEncode(
        org.apache.spark.sql.graft.Bridge.expression(text), merges))

  /** Per-document subword accounting under a trained BPE model: token
    * count and chars-per-token compression (the fertility signal tokenizer
    * evaluations report).
    */
  def bpeTokenStats(df: DataFrame, idCol: String, textCol: String,
                    merges: Seq[(String, String)]): DataFrame =
    df.select(col(idCol),
        size(bpeEncode(col(textCol), merges)).cast("long").as("n_bpe_tokens"),
        length(col(textCol)).cast("long").as("n_chars"))
      .withColumn("chars_per_token",
        round(col("n_chars") / greatest(col("n_bpe_tokens"), lit(1L)), 6))

  /** HTML → text extraction for crawl-dump ingestion: drop
    * `<script>`/`<style>` blocks and comments, strip remaining tags,
    * decode the common entities, collapse whitespace. A regex cascade, not
    * a DOM parser — the usual corpus-prep tradeoff (trafilatura-grade
    * extraction plugs in via mapInPandas on the multimodal path). Every
    * pattern is RE2-compatible (non-greedy, no backrefs) so the DuckDB
    * oracle replays it verbatim, and the whole cascade is one codegen'd
    * projection: scan-speed at 100 TB, no UDF.
    */
  def stripHtml(html: Column): Column = {
    val noScript = regexp_replace(html, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "<[^>]+>", " ")
    // `&amp;` decodes LAST: standard HTML unescaping order, else escaped
    // entities double-decode ('&amp;lt;' must yield '&lt;', not '<')
    val entities = Seq(
      "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")
    val decoded = entities.foldLeft(noTags) { case (c, (e, r)) =>
      regexp_replace(c, java.util.regex.Pattern.quote(e), r)
    }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Unicode repair projection (see [[graft.functions.TextNorm]] for the
    * pass order): run it FIRST in any pipeline whose dedup/contamination
    * keys must agree across differently-encoded shards — NFC vs NFD and
    * NBSP vs space produce different md5/MinHash keys for visually
    * identical text. Codegen'd scan-stage call; SQL `graft_normalize`.
    */
  def normalizeText(text: Column, nfkc: Boolean = false): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.expressions.NormalizeText(
        org.apache.spark.sql.graft.Bridge.expression(text), nfkc))

  /** Mojibake repair (UTF-8 mis-decoded as cp1252/latin-1: "â€™" → "’",
    * "Ã©" → "é", double-encoded, and the raw-C1 latin-1 flavor) —
    * run/guard semantics in [[graft.functions.Mojibake]]. The reference's
    * mC4 preparation applies ftfy per document for the same repair
    * (preparation/mc4/mc4.py:11,69). Order matters: repair BEFORE
    * [[normalizeText]], which strips the C1-control evidence the latin-1
    * flavor needs. Codegen'd scan-stage call; SQL `graft_fix_mojibake`.
    */
  def fixMojibake(text: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.expressions.FixMojibake(
        org.apache.spark.sql.graft.Bridge.expression(text)))

  /** [[fixMojibake]] as a document transform: repaired text plus a
    * `changed` audit flag (the fraction changed is the usual
    * encoding-health gauge for a crawl shard).
    */
  def fixMojibakeDocs(df: DataFrame, idCol: String,
                      textCol: String): DataFrame =
    df.select(col(idCol), fixMojibake(col(textCol)).as("text_fixed"),
      (fixMojibake(col(textCol)) =!= col(textCol)).as("changed"))

  /** [[normalizeText]] as a document transform: repaired text plus a
    * `changed` audit flag (fraction-changed is the usual encoding-health
    * signal per source).
    */
  def normalizeDocs(df: DataFrame, idCol: String, textCol: String,
                    nfkc: Boolean = false): DataFrame =
    df.select(col(idCol), normalizeText(col(textCol), nfkc).as("text_norm"),
        (normalizeText(col(textCol), nfkc) =!= col(textCol)).as("changed"))

  /** [[stripHtml]] as a document transform: cleaned text plus the retained
    * fraction (cleaned/raw chars) — the usual extraction-quality signal
    * (near-0 retention = boilerplate-only page).
    */
  def htmlToText(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), stripHtml(col(textCol)).as("text_clean"),
        greatest(length(col(textCol)), lit(1)).as("__raw_len"))
      .withColumn("retained_frac",
        round(length(col("text_clean")).cast("double") / col("__raw_len"), 6))
      .drop("__raw_len")

  /** Winnowing fingerprints (Schleimer et al.): hash every k-token shingle,
    * take the min hash of every w-wide window, count the distinct survivors.
    * Robust doc fingerprint for partial-overlap detection.
    */
  /** Distinct winnowing fingerprints of `text` as a column (portable md5
    * shingle hashes; see [[winnowFingerprintsRolling]] for the rolling-hash
    * production kernel).
    */
  def winnowFingerprintArray(textCol: Column, k: Int, w: Int): Column =
    winnowMinsFromHashes(winnowShingleHashes(textCol, k), w)

  /** md5 hash per k-token shingle — the expensive O(tokens) projection. */
  private def winnowShingleHashes(textCol: Column, k: Int): Column =
    transform(
      graft.functions.TextFunctions.ngrams(split(textCol, " "), k),
      s => substring(md5(s), 1, 8))

  /** Distinct w-window minima over a PRE-MATERIALIZED shingle-hash array. */
  private def winnowMinsFromHashes(shingleHashes: Column, w: Int): Column = {
    // guard: sequence(1, n) runs DESCENDING for n < 1, so gate on size ≥ w
    val mins = when(size(shingleHashes) >= w,
      transform(sequence(lit(1), size(shingleHashes) - (w - 1)),
        i => array_min(slice(shingleHashes, i, lit(w)))))
      .otherwise(array().cast("array<string>"))
    array_distinct(mins)
  }

  /** (id, fps) with the shingle-hash array and the fingerprint array each
    * materialized in their OWN projection. Inlining the whole thing as one
    * Column plants the md5-shingle `transform` subtree inside the window
    * lambda (and a third copy in the `size ≥ w` guard), so every window
    * position re-hashes the entire doc — O(tokens²) md5 calls, ~50× slower
    * at sf0.1. Two selects keep each subtree evaluated once per row:
    * CollapseProject refuses to inline a non-cheap expression referenced
    * more than once, so the boundary survives optimization.
    */
  /** probe-visible alias for [[winnowFingerprintFrame]] (perf bisection). */
  private[graft] def winnowFingerprintFrameProbe(df: DataFrame, idCol: String,
                                                 textCol: String, k: Int, w: Int): DataFrame =
    winnowFingerprintFrame(df, idCol, textCol, k, w)

  private def winnowFingerprintFrame(df: DataFrame, idCol: String,
                                     textCol: String, k: Int, w: Int): DataFrame = {
    // the md5 shingle cascade runs as a JVM kernel (one thread-local
    // digest, no interpreted per-shingle md5 chain — the DSIR lesson);
    // [[winnowFingerprintArray]] remains the executable column spec the
    // kernel is parity-tested against. coalesce: the kernel is null for
    // null text, the column form yields an empty array there.
    val kernel = org.apache.spark.sql.graft.Bridge.column(
      graft.functions.expressions.WinnowMd5Fingerprints(
        org.apache.spark.sql.graft.Bridge.expression(split(col(textCol), " ")), k, w))
    graft.Par.fanOut(df)
      .select(col(idCol).as("id"),
        coalesce(kernel, array().cast("array<string>")).as("fps"))
  }

  def winnowFingerprintCounts(df: DataFrame, idCol: String, textCol: String,
                              k: Int = 3, w: Int = 4): DataFrame =
    winnowFingerprintFrame(df, idCol, textCol, k, w)
      .select(col("id").as(idCol), size(col("fps")).cast("long").as("n_fingerprints"))

  /** MOSS-style partial-overlap candidate pairs: docs sharing ≥ `minShared`
    * winnowing fingerprints, with the overlap fraction relative to the
    * smaller doc's fingerprint set. By the winnowing guarantee any shared
    * token run of length ≥ w+k−1 leaves ≥ 1 shared fingerprint, so this
    * surfaces partial plagiarism/boilerplate that whole-doc MinHash misses
    * and span-stats only count.
    *
    * Scale shape: ONE corpus scan — the per-doc fingerprint count rides
    * along the exploded (fp, id, n) rows into the bucket sets, so no join
    * back to a recomputed sizes frame. The shuffle keys are 8-hex
    * fingerprints with one sorted (id, n) set row per fingerprint (the
    * [[graft.operators.MinHash.candidatesFromSignatures]] bucket shape),
    * `maxBucket` capping boilerplate hot buckets; the pair count is a
    * partial-agg sum over exploded bucket pairs.
    */
  def winnowOverlapPairs(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 3, w: Int = 4, minShared: Int = 2,
                         maxBucket: Int = 1000): DataFrame = {
    val fpRows = winnowFingerprintFrame(df, idCol, textCol, k, w)
      .select(col("id"), size(col("fps")).cast("long").as("n"),
        explode(col("fps")).as("fp"))
    // struct sorts by its first field, so the id-ordered pair generation
    // below still holds with n riding along
    val buckets = fpRows.groupBy("fp")
      .agg(sort_array(collect_set(struct(col("id"), col("n")))).as("ids"))
      .where(size(col("ids")).between(2, maxBucket))
    val pairStructs = flatten(transform(col("ids"), (a, i) =>
      transform(slice(col("ids"), i + lit(2), size(col("ids"))),
        b => struct(a.getField("id").as("id_a"), b.getField("id").as("id_b"),
          a.getField("n").as("na"), b.getField("n").as("nb")))))
    buckets.select(explode(pairStructs).as("p"))
      .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        col("p.na").as("__na"), col("p.nb").as("__nb"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
      .select(col("id_a"), col("id_b"), col("n_shared"),
        round(col("n_shared") / least(col("__na"), col("__nb")), 6).as("overlap_frac"))
  }

  /** Production winnowing: Karp-Rabin ROLLING hash + monotonic-deque window
    * minima, computed inline per document in O(tokens) — the scale path
    * next to [[winnowFingerprintCounts]]'s portable md5 formulation. Docs
    * sharing a run of ≥ w+k-1 tokens share at least one fingerprint (the
    * winnowing guarantee), which makes the exploded (fingerprint, id) table
    * the partial-overlap analogue of J4's overlap lattice.
    */
  def winnowFingerprintsRolling(df: DataFrame, idCol: String, textCol: String,
                                k: Int = 3, w: Int = 4,
                                uax29: Boolean = false): DataFrame = {
    val toks =
      if (uax29) graft.functions.TextFunctions.tokenize(col(textCol))
      else split(col(textCol), " ")
    val fps = org.apache.spark.sql.graft.Bridge.column(
      graft.functions.expressions.WinnowFingerprints(
        org.apache.spark.sql.graft.Bridge.expression(toks), k, w))
    df.select(col(idCol), coalesce(fps, array().cast("array<long>")).as("fingerprints"))
  }

  /** The full Gopher quality filter (Rae et al. 2021 §A1.1), end-to-end:
    * word-count window, mean word length window, alphabetic-word and
    * stop-word requirements, and every repetition threshold from the paper
    * (dup-line ≤ .30, dup-line-chars ≤ .20, top-{2,3,4}-gram chars ≤
    * {.20,.18,.16}, dup-{5..10}-gram chars ≤ {.15,.14,.13,.12,.11,.10}) —
    * all computed in ONE codegen'd pass per document (the repetition
    * signals expression + column algebra; no explode, no shuffle, no join).
    * Returns the inputs' id plus the decision features and a `keep` flag;
    * filter on it or keep it as an attribute column.
    *
    * `mean_word_len` follows [[qualityFeatures]]' convention
    * (chars-including-separators / words) so the two surfaces threshold
    * identically.
    */
  def gopherFilter(df: DataFrame, idCol: String, textCol: String,
                   minWords: Long = 50L, maxWords: Long = 100000L,
                   minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
                   minAlphaWordRatio: Double = 0.8, minStopwords: Long = 2L,
                   stopwords: Seq[String] = defaultStopwords,
                   topThresholds: Seq[Double] = Seq(0.20, 0.18, 0.16),
                   dupThresholds: Seq[Double] = Seq(0.15, 0.14, 0.13, 0.12, 0.11, 0.10),
                   maxDupLineFrac: Double = 0.30,
                   maxDupLineCharFrac: Double = 0.20,
                   passthrough: Seq[String] = Nil): DataFrame = {
    require(topThresholds.size == 3 && dupThresholds.size == 6)
    val extra = passthrough.filterNot(_ == idCol)
    val sig = org.apache.spark.sql.graft.Bridge.column(
      graft.functions.expressions.RepetitionSignals(
        org.apache.spark.sql.graft.Bridge.expression(col(textCol))))
    val toks = split(col(textCol), " ")
    val stopArr = array(stopwords.map(lit): _*)
    val features = Seq(
      size(toks).cast("long").as("n_words"),
      round(length(col(textCol)).cast("double") / size(toks), 6).as("mean_word_len"),
      round(size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("double") / size(toks), 6)
        .as("alpha_word_ratio"),
      size(filter(toks, t => array_contains(stopArr, t))).cast("long").as("n_stopwords"),
      sig.as("__sig"))
    // The features leave their projection through a one-row-per-row
    // Generate. Catalyst pushes a Filter through any deterministic Project
    // by inlining the aliases it references, so a caller's `where(keep)`
    // would otherwise run the repetition kernel once per signal (11x) and
    // the word split 7x more per document; a Filter on generator output
    // stays above the Generate.
    val staged = df.select(col(idCol) +: extra.map(col) :+ struct(features: _*).as("__f"): _*)
      .select(col(idCol) +: extra.map(col) :+ inline(array(col("__f"))): _*)
    val repNames = Seq("dup_line_frac", "dup_line_char_frac",
      "top2gram_char_frac", "top3gram_char_frac", "top4gram_char_frac") ++
      (5 to 10).map(n => s"dup${n}gram_char_frac")
    val withRep = staged.select(
      ((col(idCol) +: extra.map(col)) ++
        Seq("n_words", "mean_word_len", "alpha_word_ratio", "n_stopwords").map(col)) ++
        repNames.zipWithIndex.map { case (nm, i) =>
          round(element_at(col("__sig"), i + 1), 6).as(nm)
        }: _*)
    val repKeep = (Seq("dup_line_frac" -> maxDupLineFrac,
        "dup_line_char_frac" -> maxDupLineCharFrac) ++
      Seq("top2gram_char_frac", "top3gram_char_frac", "top4gram_char_frac")
        .zip(topThresholds) ++
      (5 to 10).map(n => s"dup${n}gram_char_frac").zip(dupThresholds))
      .map { case (nm, t) => col(nm) <= t }
      .reduce(_ && _)
    withRep.withColumn("keep",
      col("n_words").between(minWords, maxWords) &&
        col("mean_word_len").between(minMeanWordLen, maxMeanWordLen) &&
        col("alpha_word_ratio") >= minAlphaWordRatio &&
        col("n_stopwords") >= minStopwords &&
        repKeep)
  }

  /** Corpus-trained unigram language-model score per document: the mean
    * natural-log probability of the document's tokens under the corpus's
    * own unigram distribution — the cheap, fully-exact stand-in for the
    * KenLM-perplexity quality filters of CCNet/RedPajama (low avg_logp =
    * rare-token-heavy = boilerplate/garbage candidate; high = common-token
    * soup). No smoothing needed: every scored token is in the vocabulary by
    * construction when `lm` is trained on the same corpus.
    *
    * Scale shape: token counts are one hash-aggregate keyed on the token;
    * scoring joins the exploded corpus to that count table on the token —
    * web-scale vocabularies are Zipf-bounded (≪ corpus size), so AQE
    * broadcasts small ones and shuffle-joins the rest without skew (token
    * frequency skew lives in the VALUES, not the join key multiplicity, and
    * the count side is distinct-keyed). Train once with [[unigramCounts]]
    * and reuse across corpora to score B under A's model.
    */
  def unigramCounts(docs: DataFrame, textCol: String): DataFrame =
    // the fanOut exchange (local small-input case only; a no-op at scale)
    // carries just the text column — Catalyst prunes the rest through the
    // round-robin exchange (the whole t_unigram_lm query shuffles 0.03 MB
    // at sf0.1, SCALE.md's measured shuffle bytes)
    graft.Par.fanOut(docs).select(explode(split(col(textCol), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))

  def unigramLogProb(docs: DataFrame, idCol: String, textCol: String,
                     lm: Option[DataFrame] = None): DataFrame = {
    // CONTRACT: tokens absent from the model are excluded from the mean,
    // and a document with ZERO in-model tokens has NO output row (the
    // inner join drops it) — under a cross-corpus model, join the scores
    // back with a drop-by-default policy or the all-OOV (worst) docs
    // sail through unscored.
    // Self-trained counts are consumed TWICE (total + the scoring join):
    // checkpoint so the corpus explode+agg runs once, not twice; a
    // caller-supplied lm is already materialized.
    val counts = lm.getOrElse(
      unigramCounts(docs, textCol).localCheckpoint(eager = true))
    val total = counts.agg(sum("c").cast("double").as("n"))
    val toks = docs.select(col(idCol), explode(split(col(textCol), " ")).as("w"))
    toks.join(counts, Seq("w"))
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        round(avg(log(col("c").cast("double") / col("n"))), 6).as("avg_logp"))
  }

  /** `[n_scored, avg_logp]` column under a pruned, plan-shipped unigram LM
    * (see [[unigramLogProbInline]]). `vocab` rows are (token, count);
    * `total` is the model's mass.
    */
  def unigramScore(textCol: Column, vocab: Seq[(String, Long)], total: Long): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.expressions.UnigramLogProbInline(
        org.apache.spark.sql.graft.Bridge.expression(split(textCol, " ")),
        vocab, total))

  /** [[unigramLogProb]] with the model pruned to the top-V vocabulary
    * (deterministic tie-break: count desc, token asc) and shipped INSIDE a
    * scan-stage expression — zero joins and zero shuffles on the scoring
    * side, which is what CCNet-style filtering wants at 100 TB (the model
    * is a few MB; the corpus is not) and what makes LM gating usable in
    * Structured Streaming (no stream-side aggregation). Probabilities are
    * relative to the pruned model's own mass, so the model is
    * self-contained; docs with zero in-vocabulary tokens drop, mirroring
    * the join formulation's inner-join semantics.
    */
  def unigramLogProbInline(docs: DataFrame, idCol: String, textCol: String,
                           lm: DataFrame, topV: Int = 100000): DataFrame = {
    val rows = lm.orderBy(desc("c"), asc("w")).limit(topV)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val total = rows.map(_._2).sum
    docs.select(col(idCol), unigramScore(col(textCol), rows, total).as("__s"))
      .select(col(idCol), element_at(col("__s"), 1).cast("long").as("n_scored"),
        round(element_at(col("__s"), 2), 6).as("avg_logp"))
      .where(col("n_scored") > 0)
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020 §4.3): score
    * every document under the corpus-trained (or passed-in) unigram LM,
    * cut the per-doc score distribution at the head/middle fractions, and
    * label each document `head` (best-scoring = lowest perplexity),
    * `middle`, or `tail`. CCNet trains on head+middle and drops the tail;
    * callers filter on `ppl_bucket`. Swap the LM via `lm` to score one
    * corpus under another corpus's model (the actual CCNet setup:
    * Wikipedia-trained LM scoring Common Crawl).
    *
    * Scale shape: scoring is [[unigramLogProb]]'s distinct-keyed joins; the
    * two cutoffs are ONE exact-percentile aggregation over the per-doc
    * score table (doc-count-sized, not token-sized) broadcast back. At
    * 100 TB swap `percentile` for `approx_percentile` — order statistics
    * over billions of doc scores don't need exactness, the cuts are policy
    * thresholds.
    */
  def perplexityBuckets(docs: DataFrame, idCol: String, textCol: String,
                        headFrac: Double = 1.0 / 3, midFrac: Double = 1.0 / 3,
                        lm: Option[DataFrame] = None,
                        byCol: Option[String] = None): DataFrame = {
    require(headFrac > 0 && midFrac > 0 && headFrac + midFrac <= 1.0,
      s"headFrac + midFrac must be in (0, 1], got $headFrac + $midFrac")
    // materialize the per-doc score table ONCE (eager localCheckpoint):
    // both the cut aggregation and the output read it, and Spark does not
    // reuse the scoring subtree across the two consumers (the SemDeDup
    // lesson — measured as two full explode+join+agg pipelines in the
    // plan). Scores are doc-count-sized, a vanishing fraction of the
    // corpus; blocks free on session GC or via
    // Bridge.releaseLocalCheckpoint once the result is materialized.
    val scored0 = unigramLogProb(docs, idCol, textCol, lm).localCheckpoint()
    // avg_logp DESC = perplexity ASC, so head starts at the (1-headFrac)
    // score quantile. Cuts stay UNROUNDED: an interpolated cut lies strictly
    // between adjacent distinct scores (equality only at exact data points,
    // where both engines return the point itself), so bucket assignment is
    // stable across Spark/DuckDB float details.
    val headCut = percentile(col("avg_logp"), lit(1.0 - headFrac)).as("__head_cut")
    val midCut = percentile(col("avg_logp"), lit(1.0 - headFrac - midFrac)).as("__mid_cut")
    val bucket = when(col("avg_logp") >= col("__head_cut"), "head")
      .when(col("avg_logp") >= col("__mid_cut"), "middle")
      .otherwise("tail").as("ppl_bucket")
    byCol match {
      case None =>
        scored0.crossJoin(broadcast(scored0.agg(headCut, midCut)))
          .select(col(idCol), col("n_tokens"), col("avg_logp"), bucket)
      case Some(g) =>
        // CCNet's actual shape: cuts PER GROUP (language), one grouped
        // percentile agg (group-count-sized) broadcast back. The LM is
        // whatever `lm` says — CCNet trains one per language; pass the
        // per-language model when scoring a single-language slice, or
        // accept the shared-model approximation on a mixed corpus.
        val scored = scored0.join(docs.select(col(idCol), col(g)), Seq(idCol))
        val cuts = scored.groupBy(col(g)).agg(headCut, midCut)
        scored.join(broadcast(cuts), Seq(g))
          .select(col(idCol), col(g), col("n_tokens"), col("avg_logp"), bucket)
    }
  }

  /** Adjacent-token bigram stream of `text`: (w1, w2) per position. */
  private def bigrams(text: Column): Column = {
    val t = split(text, " ")
    when(size(t) > 1,
      transform(sequence(lit(1), size(t) - 1),
        i => struct(element_at(t, i).as("w1"), element_at(t, i + 1).as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
  }

  /** Corpus bigram model: context counts c(w1·) and pair counts c(w1,w2) in
    * one aggregation each — train once, reuse across corpora.
    */
  def bigramCounts(docs: DataFrame, textCol: String): DataFrame =
    graft.Par.fanOut(docs).select(explode(bigrams(col(textCol))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c2"))

  /** Per-document interpolated-bigram LM score — the next rung above
    * [[unigramLogProb]] toward CCNet's KenLM filter: mean over adjacent
    * pairs of `ln(λ·P(w2|w1) + (1−λ)·P(w2))`, with both distributions
    * estimated from the corpus itself (or a passed-in model pair). The
    * unigram interpolation floor makes unseen-in-context pairs finite, so
    * cross-corpus scoring works without explicit OOV machinery.
    *
    * Scale shape: two Zipf-bounded count tables; scoring joins the exploded
    * bigram stream once on (w1,w2) and once on w2 — both distinct-keyed on
    * the build side, so no multiplicity skew. At 100 TB prune the model to
    * a top-V vocabulary first (one filter on the count frames); the
    * interpolation already handles the resulting misses.
    */
  def bigramLogProb(docs: DataFrame, idCol: String, textCol: String,
                    lambda: Double = 0.8,
                    lm: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    val (uni, bi) = lm.getOrElse((unigramCounts(docs, textCol), bigramCounts(docs, textCol)))
    val uniTotal = uni.agg(sum("c").cast("double").as("n"))
    val ctx = bi.groupBy("w1").agg(sum("c2").as("c1"))
    val stream = graft.Par.fanOut(docs)
      .select(col(idCol), explode(bigrams(col(textCol))).as("b"))
      .select(col(idCol), col("b.w1").as("w1"), col("b.w2").as("w2"))
    stream
      .join(bi, Seq("w1", "w2"), "left")
      .join(ctx, Seq("w1"), "left")
      .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("c", "cu"), Seq("w2"), "left")
      .crossJoin(broadcast(uniTotal))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
        // floor the interpolated probability: with a passed-in/pruned LM a
        // w2 missing from BOTH tables would otherwise make log(0) = NULL,
        // which avg() silently skips while n_bigrams still counts the pair
        round(avg(log(greatest(
          lit(lambda) * coalesce(col("c2").cast("double") / col("c1"), lit(0.0)) +
            lit(1.0 - lambda) * coalesce(col("cu").cast("double"), lit(0.0)) / col("n"),
          lit(1e-12)))), 6)
          .as("avg_logp"))
  }

  /** Corpus token-entropy metrics (the information-theoretic summary next
    * to A1's counts): unigram entropy H(W), bigram entropy H(W1,W2), and
    * conditional entropy H(W2|W1) = H(W1,W2) − H(W1) — all in bits. Rising
    * conditional entropy across dataset versions is the classic signal of
    * template/boilerplate removal. Two Zipf-bounded aggregations.
    */
  def entropyStats(docs: DataFrame, textCol: String): DataFrame = {
    def entropy: Column =
      log2(sum("c")) -
        sum(col("c").cast("double") * log2(col("c"))) / sum("c")
    // one job, not two sequential driver collects: the two single-row aggs
    // cross-join (both broadcast-sized) and the three metrics explode out
    // of a literal map — the corpus scans for the two count tables still
    // run as parallel stages of the same job
    val hUni = unigramCounts(docs, textCol).agg(entropy.as("hu"))
    val hBi = bigramCounts(docs, textCol).withColumnRenamed("c2", "c")
      .agg(entropy.as("hb"))
    hUni.crossJoin(hBi)
      .select(explode(map(
        lit("unigram_entropy_bits"), round(col("hu"), 6),
        lit("bigram_entropy_bits"), round(col("hb"), 6),
        lit("conditional_entropy_bits"), round(col("hb") - col("hu"), 6)))
        .as(Seq("metric", "value")))
  }

  /** FineWeb-style line/word gate (Penedo et al. 2024 §3.1 plus the C4
    * leftovers they keep): word-count window, mean-word-length window,
    * ellipsis-line cap, bullet-line cap, short-line cap, and a floor on
    * lines ending in terminal punctuation. One codegen'd pass per doc;
    * returns the signal columns plus the combined `keep`.
    */
  def fineWebFilter(df: DataFrame, idCol: String, textCol: String,
                    minWords: Int = 50, maxWords: Int = 100000,
                    minAvgWordLen: Double = 3.0, maxAvgWordLen: Double = 10.0,
                    maxEllipsisLineFrac: Double = 0.3,
                    maxBulletLineFrac: Double = 0.9,
                    maxShortLineFrac: Double = 0.67,
                    minEndPunctLineFrac: Double = 0.12,
                    passthrough: Seq[String] = Nil): DataFrame = {
    val words = split(col(textCol), " ")
    val lines = split(col(textCol), "\n")
    val nLines = greatest(size(lines), lit(1)).cast("double")
    val base = df.select(
      (col(idCol) +: passthrough.filterNot(_ == idCol).map(col)) ++ Seq(
        size(words).cast("long").as("n_words"),
        round((length(col(textCol)) - size(words) + 1).cast("double") / size(words), 6)
          .as("avg_word_len"),
        round(size(filter(lines, l => l.endsWith("..."))) / nLines, 6)
          .as("ellipsis_line_frac"),
        round(size(filter(lines, l => l.startsWith("-") || l.startsWith("*") ||
          l.startsWith("•"))) / nLines, 6).as("bullet_line_frac"),
        round(size(filter(lines, l => length(l) < 30)) / nLines, 6)
          .as("short_line_frac"),
        round(size(filter(lines, l => l.rlike("[.!?\"']$"))) / nLines, 6)
          .as("end_punct_line_frac")): _*)
    base.withColumn("keep",
      col("n_words").between(minWords, maxWords) &&
        col("avg_word_len").between(minAvgWordLen, maxAvgWordLen) &&
        col("ellipsis_line_frac") <= maxEllipsisLineFrac &&
        col("bullet_line_frac") <= maxBulletLineFrac &&
        col("short_line_frac") <= maxShortLineFrac &&
        col("end_punct_line_frac") >= minEndPunctLineFrac)
  }

  /** The quality gate as a filter: the rows of `docs` (all its columns)
    * that [[gopherFilter]], or [[fineWebFilter]] with `fineWeb`, keeps.
    * A per-row projection plus a filter, so batch and streaming `docs`
    * take it unchanged.
    */
  def gate(docs: DataFrame, idCol: String, textCol: String,
           fineWeb: Boolean = false): DataFrame = {
    val cols = docs.columns.toSeq
    // the gates GENERATE signal columns; an input column sharing a name
    // would be silently overwritten (keep) or ambiguous (n_words, ...)
    val reserved = Set("keep", "n_words", "mean_word_len", "alpha_word_ratio",
      "n_stopwords", "avg_word_len", "ellipsis_line_frac", "bullet_line_frac",
      "short_line_frac", "end_punct_line_frac", "dup_line_frac",
      "dup_line_char_frac") ++
      Seq(2, 3, 4).map(n => s"top${n}gram_char_frac") ++
      (5 to 10).map(n => s"dup${n}gram_char_frac")
    val clash = cols.filter(c => reserved(c) && c != idCol && c != textCol)
    require(clash.isEmpty,
      s"gate: input columns ${clash.mkString(", ")} collide " +
        "with the gate's generated signal columns — rename them upstream")
    val sig =
      if (fineWeb) fineWebFilter(docs, idCol, textCol, passthrough = cols)
      else gopherFilter(docs, idCol, textCol, passthrough = cols)
    sig.where(col("keep")).select(cols.map(col): _*)
  }

  /** Per-document vocabulary coverage against a FIXED vocabulary shipped
    * inside the plan (a tokenizer's wordlist, a pruned LM vocab): token
    * count, in-vocabulary count, OOV fraction. The "how much of my corpus
    * does this tokenizer actually cover" card — rising OOV fraction is the
    * standard drift alarm when a new crawl meets an old vocab. Scoring
    * reuses the [[unigramScore]] kernel (counts are independent of the
    * dummy probabilities), so it is a zero-join, zero-shuffle scan
    * projection, streaming-safe like the LM gate.
    */
  def vocabCoverage(df: DataFrame, idCol: String, textCol: String,
                    vocab: Seq[String]): DataFrame = {
    val s = unigramScore(col(textCol), vocab.map(_ -> 1L), vocab.size.toLong)
    df.select(col(idCol), size(split(col(textCol), " ")).cast("long").as("n_tokens"),
        element_at(s, 1).cast("long").as("n_in_vocab"))
      .withColumn("oov_frac",
        round(lit(1.0) - col("n_in_vocab") / greatest(col("n_tokens"), lit(1L))
          .cast("double"), 6))
  }

  /** The per-term frame under [[unigramDivergence]]: the full-outer vocab
    * join with each term's smoothed KL/JS contributions (and the per-side
    * vocab indicators the summary folds to vocab_a/vocab_b). Shared by the
    * summary card, [[divergenceTopTerms]] ("WHICH terms carry the drift")
    * and the CLI's `diff --divergence --terms` — ONE smoothing
    * implementation for every drift surface. localCheckpointed: the totals
    * aggregate and every downstream consumer read this vocabulary-sized
    * frame, and Spark does not reuse the subtree across jobs (the SemDeDup
    * lesson) — re-deriving it would re-scan both corpora.
    */
  def unigramDivergenceTerms(a: DataFrame, b: DataFrame, textCol: String,
                             alpha: Double = 0.5): DataFrame = {
    require(alpha > 0, "Lidstone alpha must be > 0 (zero reintroduces log(0))")
    val ca = unigramCounts(a, textCol).withColumnRenamed("c", "ca")
    val cb = unigramCounts(b, textCol).withColumnRenamed("c", "cb")
    val vocab = ca.join(cb, Seq("w"), "full_outer")
      .na.fill(0L, Seq("ca", "cb"))
      .localCheckpoint()
    val tot = vocab.agg(
      sum("ca").cast("double").as("ta"), sum("cb").cast("double").as("tb"),
      count(lit(1)).cast("double").as("v"),
      sum(when(col("ca") > 0, 1L).otherwise(0L)).as("va"),
      sum(when(col("cb") > 0, 1L).otherwise(0L)).as("vb"))
    val p = (col("ca") + lit(alpha)) / (col("ta") + lit(alpha) * col("v"))
    val q = (col("cb") + lit(alpha)) / (col("tb") + lit(alpha) * col("v"))
    val m = (p + q) / lit(2.0)
    vocab.crossJoin(broadcast(tot))
      .select(col("w"), col("ca"), col("cb"), col("va"), col("vb"),
        (p * log(p / q)).as("kl_ab_term"),
        (q * log(q / p)).as("kl_ba_term"),
        (p * log(p / m) / 2 + q * log(q / m) / 2).as("js_term"))
  }

  /** Cross-corpus unigram drift card: KL(A‖B), KL(B‖A) and the symmetric
    * Jensen–Shannon divergence (nats, ≤ ln 2) plus per-side and union
    * vocab sizes — "what changed between corpus v1 and v2" / "how far is
    * my crawl from Wikipedia" as one row, aggregated off
    * [[unigramDivergenceTerms]] (Σ of per-term contributions IS the
    * divergence because the smoothed p and q each normalize to 1 over the
    * union vocab).
    */
  def unigramDivergence(a: DataFrame, b: DataFrame, textCol: String,
                        alpha: Double = 0.5): DataFrame =
    unigramDivergenceTerms(a, b, textCol, alpha)
      .agg(max("va").as("vocab_a"), max("vb").as("vocab_b"),
        count(lit(1)).as("vocab_union"),
        round(sum("kl_ab_term"), 6).as("kl_ab"),
        round(sum("kl_ba_term"), 6).as("kl_ba"),
        round(sum("js_term"), 6).as("jsd"))

  /** The k terms contributing most to the JS drift, largest first —
    * "WHAT shifted" where [[unigramDivergence]] says "how much".
    * Deterministic under ties: ordered on the rounded contribution, then
    * term.
    */
  def divergenceTopTerms(a: DataFrame, b: DataFrame, textCol: String,
                         k: Int, alpha: Double = 0.5): DataFrame =
    unigramDivergenceTerms(a, b, textCol, alpha)
      .select(col("w").as("term"), col("ca").as("count_a"),
        col("cb").as("count_b"), round(col("js_term"), 9).as("js_contrib"))
      .orderBy(desc("js_contrib"), asc("term")).limit(k)

  /** Compression-ratio quality signal (the RedPajama-v2 / Dolma
    * `doc_frac_compressed` rung): per-doc raw DEFLATE size over UTF-8 byte
    * size. Highly templated or repeated text compresses far below natural
    * prose (ratio ≲ 0.3 is the usual boilerplate flag; natural English sits
    * ~0.4–0.7); filter on `compression_ratio` downstream.
    *
    * This is the ONE operator here that runs a JVM kernel (java.util.zip
    * Deflater) instead of column algebra — there is no codegen'd compressor
    * in Spark and no DuckDB replay, so the contract is pinned by golden
    * ScalaTests instead of the SQL oracle. Shape still scales: a pure
    * per-row projection (no shuffle, no state), CPU-bound like the BPE
    * encode path — parallelism comes from input splits.
    */
  def compressionSignals(df: DataFrame, idCol: String, textCol: String,
                         level: Int = 6): DataFrame = {
    val deflated = udf { (s: String) =>
      if (s == null) None
      else {
        val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val d = new java.util.zip.Deflater(level, true)
        d.setInput(bytes); d.finish()
        val buf = new Array[Byte](8192)
        var n = 0L
        while (!d.finished()) n += d.deflate(buf)
        d.end()
        Some(n)
      }
    }
    df.select(col(idCol), octet_length(col(textCol)).cast("long").as("n_bytes"),
        deflated(col(textCol)).as("n_deflate"))
      .withColumn("compression_ratio",
        round(col("n_deflate") / greatest(col("n_bytes"), lit(1L)).cast("double"), 6))
  }
}
