package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** MinHash + LSH near-duplicate detection — the scale path for fuzzy dedup
  * of a 100 TB corpus (shingle → k min-hashes → band → bucket self-join).
  *
  * Hash strategy is pluggable: [[xxhashStrategy]] (8-byte, codegen'd,
  * production default) or [[md5Strategy]] (hex-string min — slower but
  * reproducible in any SQL engine, used by the oracle-checked queries so
  * the *same* pipeline code is validated end-to-end).
  *
  * Scale notes: signatures are computed INLINE per document by a codegen'd
  * expression (no shingle explode, no shuffle — see [[signaturesInline]]);
  * candidate generation's only shuffle is the band-bucket aggregation, with
  * a skew guard dropping buckets larger than `maxBucket` (a bucket of b docs
  * creates b² pairs; hot buckets are near-certainly boilerplate worth
  * separate handling).
  */
object MinHash {

  /** (shingle column, seed index) → orderable hash column. */
  type HashFn = (Column, Int) => Column

  val xxhashStrategy: HashFn = (c, i) => xxhash64(lit(i), c)

  /** Portable strategy: hash i is an 8-hex-char slice of md5(seedGroup:s) —
    * one md5 call feeds four hashes (subexpression elimination collapses the
    * repeated md5 inside the projection), and hex-string min is identical in
    * every SQL engine.
    */
  val md5Strategy: HashFn = (c, i) =>
    substring(md5(concat(lit((i / 4).toString), lit(":"), c)), (i % 4) * 8 + 1, 8)

  /** All w-token shingles per doc, duplicates kept — a narrow
    * scan-fused projection with NO shuffle. Min-hash signatures are
    * insensitive to duplicate shingles, so the LSH path runs off the bag;
    * set semantics are applied only where they matter (Jaccard, after
    * candidate semi-join shrinks the data by orders of magnitude).
    */
  def shingleBag(docs: DataFrame, idCol: String, textCol: String, w: Int,
                 uax29: Boolean = false): DataFrame = {
    val toks = if (uax29) TextFunctions.tokenize(col(textCol)) else split(col(textCol), " ")
    graft.Par.fanOut(docs)
      .select(col(idCol).as("id"), explode(TextFunctions.ngrams(toks, w)).as("s"))
  }

  /** Distinct w-token shingles per doc. */
  def shingleSets(docs: DataFrame, idCol: String, textCol: String, w: Int,
                  uax29: Boolean = false): DataFrame =
    shingleBag(docs, idCol, textCol, w, uax29).distinct()

  /** k-column MinHash signature per doc: sig_i = min_i(hash_i(shingle)).
    * Hashes are projected in one Select first (enables codegen CSE across
    * hashes sharing a digest), then min-aggregated per doc.
    */
  def signatures(shingles: DataFrame, k: Int, hash: HashFn = xxhashStrategy): DataFrame = {
    val projected = shingles.select(
      col("id") +: (0 until k).map(i => hash(col("s"), i).as(s"h$i")): _*)
    projected.groupBy("id")
      .agg(min(col("h0")).as("m0"),
        (1 until k).map(i => min(col(s"h$i")).as(s"m$i")): _*)
  }

  /** Inline per-doc signature via [[graft.functions.expressions.MinHashSignature]]:
    * the whole shingle→k-mins computation happens inside one scan-fused
    * codegen'd projection — NO shingle explode, NO groupBy shuffle. This is
    * the 100 TB shape: signature building is embarrassingly parallel, and
    * candidate generation's only shuffle is the band-bucket aggregation.
    * md5 mode is bit-identical to `signatures(_, k, md5Strategy)`.
    */
  def signaturesInline(docs: DataFrame, idCol: String, textCol: String,
                       w: Int, k: Int, md5Parity: Boolean,
                       uax29: Boolean = false): DataFrame = {
    val toks = if (uax29) TextFunctions.tokenize(col(textCol)) else split(col(textCol), " ")
    val sig = org.apache.spark.sql.graft.Bridge.column(
      graft.functions.expressions.MinHashSignature(
        org.apache.spark.sql.graft.Bridge.expression(toks), w, k, md5Parity))
    // the signature leaves through a one-row Generate: Catalyst would push
    // a `sig IS NOT NULL` filter through a projection by inlining the
    // kernel (running it, and the tokenizer, twice), but keeps a filter on
    // generator output above the Generate
    graft.Par.fanOut(docs)
      .select(col(idCol).as("id"), explode(array(sig)).as("sig"))
      .where(col("sig").isNotNull)
      .select(col("id") +: (0 until k).map(i => element_at(col("sig"), i + 1).as(s"m$i")): _*)
  }

  /** Explode a signature into (id, band, band_key) rows; band_key is the
    * hash of the band's signature slice.
    */
  def bandRows(sig: DataFrame, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, s"numHashes $k must divide into $bands bands")
    val r = k / bands
    val bandStructs = (0 until bands).map { b =>
      val slice = (b * r until (b + 1) * r).map(i => col(s"m$i").cast("string"))
      struct(lit(b).as("band"), md5(concat_ws("|", slice: _*)).as("band_key"))
    }
    sig.select(col("id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.band_key").as("band_key"))
  }

  /** Column-level inline signature: the raw k-element signature array from
    * a token-array column — the per-row building block [[signaturesInline]]
    * wraps. NULL when the doc has fewer than `w` tokens (no shingles).
    * Pure projection, so it composes with Structured Streaming.
    */
  def sigArrayCol(toks: Column, w: Int, k: Int, md5Parity: Boolean): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.expressions.MinHashSignature(
        org.apache.spark.sql.graft.Bridge.expression(toks), w, k, md5Parity))

  /** Per-band LSH keys from a signature array — byte-identical to
    * [[bandRows]]'s `band_key` (md5 over the "|"-joined band slice) but as
    * plain columns with NO explode: the shape per-row probes need
    * ([[Dedup.decontaminateFuzzy]]: one column per band instead of
    * `bands` rows per doc). Keys from
    * a NULL signature hash the empty slice; they can never match a
    * [[bandRows]] key because null-signature docs are filtered there.
    */
  def bandKeyCols(sig: Column, k: Int, bands: Int): Seq[Column] = {
    require(k % bands == 0, s"numHashes $k must divide into $bands bands")
    val r = k / bands
    (0 until bands).map { b =>
      val slice = (b * r until (b + 1) * r).map(i => element_at(sig, i + 1).cast("string"))
      md5(concat_ws("|", slice: _*))
    }
  }

  /** Candidate near-duplicate pairs: docs sharing at least one band bucket.
    * The two standard strategies take the inline-signature path (see
    * [[signaturesInline]]); a custom [[HashFn]] falls back to the
    * explode+groupBy formulation.
    */
  def lshCandidates(docs: DataFrame, idCol: String, textCol: String,
                    w: Int = 5, k: Int = 8, bands: Int = 4,
                    hash: HashFn = xxhashStrategy, uax29: Boolean = false,
                    maxBucket: Int = 1000): DataFrame = {
    candidatesFromSignatures(inlineSig(docs, idCol, textCol, w, k, hash, uax29),
      k, bands, maxBucket)
  }

  /** Same, over a precomputed (id, s) shingle set — lets callers share one
    * shingle scan between candidate generation and Jaccard verification.
    *
    * Buckets are materialized as sorted id sets in ONE hash aggregation and
    * pairs exploded per bucket (≤ maxBucket² each), instead of a
    * window-count guard + bucket self-join + distinct — two fewer shuffle
    * stages, and the shuffle carries one row per bucket rather than the
    * full band-row set twice.
    */
  def lshCandidatesFromShingles(shingles: DataFrame, k: Int, bands: Int,
                                hash: HashFn, maxBucket: Int = 1000): DataFrame =
    candidatesFromSignatures(signatures(shingles, k, hash), k, bands, maxBucket)

  /** Band-bucket candidate pairs from a (id, m0..m{k-1}) signature frame. */
  def candidatesFromSignatures(sig: DataFrame, k: Int, bands: Int,
                               maxBucket: Int = 1000): DataFrame = {
    val rows = bandRows(sig, k, bands)
    // ONE pass, ONE shuffle: buckets aggregate through a size-BOUNDED
    // collect-set (cap = maxBucket + 1) — a degenerate boilerplate bucket
    // with millions of members never materializes more than maxBucket + 1
    // ids in any aggregation buffer (map-side partials included) and is
    // then discarded by the size filter, which is the protection the
    // maxBucket guard exists for. Buckets at or under maxBucket never hit
    // the cap, so their id sets are exact and complete. (An earlier
    // formulation sized buckets with a separate count agg + semi join —
    // same guard semantics, but a second shuffle over the band rows and a
    // checkpoint to keep the signature kernel from running twice.)
    val boundedIds = org.apache.spark.sql.graft.Bridge.column(
      graft.functions.expressions.BoundedCollectSet(
        org.apache.spark.sql.graft.Bridge.expression(col("id")),
        // clamp: maxBucket = Int.MaxValue means "effectively unbounded",
        // and + 1 must not wrap negative into the aggregate's require
        math.min(maxBucket, Int.MaxValue - 1) + 1).toAggregateExpression())
    val buckets = rows.groupBy("band", "band_key")
      .agg(sort_array(boundedIds).as("ids"))
      .where(size(col("ids")).between(2, maxBucket))
    val pairs = flatten(transform(col("ids"), (a, i) =>
      transform(slice(col("ids"), i + lit(2), size(col("ids"))),
        b => struct(a.as("id_a"), b.as("id_b")))))
    buckets.select(explode(pairs).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b")).distinct()
  }

  /** Per-doc DISTINCT shingle arrays, computed inline in one scan-fused
    * projection — no explode, no shuffle. Docs shorter than `w` tokens get
    * an empty array and are filtered out (they have no shingle set, matching
    * the exploded formulation where they simply produce no rows).
    */
  def shingleArrays(docs: DataFrame, idCol: String, textCol: String, w: Int,
                    uax29: Boolean = false): DataFrame = {
    val toks = if (uax29) TextFunctions.tokenize(col(textCol)) else split(col(textCol), " ")
    // a one-row Generate keeps the `size(sh) > 0` filter above the
    // shingle build instead of pushed below it with the build inlined
    docs.select(col(idCol).as("id"),
        explode(array(array_distinct(TextFunctions.ngrams(toks, w)))).as("sh"))
      .where(size(col("sh")) > 0)
  }

  /** Exact shingle-set Jaccard for given id pairs. `shingles` may be a bag
    * ([[shingleBag]]) — set semantics are applied internally.
    *
    * Shingles are semi-joined down to the ids that actually appear in a pair
    * (candidates are a vanishing fraction of a 100 TB corpus), gathered into
    * one per-id array, and intersected INLINE per pair — two broadcast-able
    * joins and one bounded `array_intersect` instead of the exploded
    * intersection join + three size joins that formulation needs.
    *
    * The per-id set frame is persisted internally (it feeds BOTH join arms).
    * Because the result is lazy, it cannot be unpersisted here; pass
    * `cacheHandle` to receive the persisted frame and `unpersist()` it once
    * the result has been consumed — otherwise the (pair-bounded, small)
    * cached blocks live until session end. Long-lived sessions scoring many
    * pair batches should prefer [[jaccardFromArrays]] over a caller-managed
    * [[shingleArrays]] frame, as [[nearDuplicates]] does.
    */
  def jaccard(pairs: DataFrame, shingles: DataFrame,
              cacheHandle: Option[DataFrame => Unit] = None): DataFrame = {
    val ids = pairs.select(col("id_a").as("id"))
      .union(pairs.select(col("id_b").as("id"))).distinct()
    // consumed by BOTH the id_a and id_b joins — persist the (small, pair-
    // bounded) per-id sets or the semi-join + aggregation subtree runs twice
    val sets = shingles.join(ids, Seq("id"), "left_semi")
      .groupBy("id").agg(collect_set(col("s")).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cacheHandle.foreach(_(sets))
    jaccardFromArrays(pairs, sets, keepZero = true)
  }

  /** Jaccard over a precomputed `(id, sh: array<string>)` distinct-shingle
    * frame ([[shingleArrays]]). Pairs whose either side is absent from
    * `sets` (no shingles) are dropped, as in the exploded formulation.
    * `keepZero = false` omits zero-intersection pairs — enough for
    * thresholded near-dup search.
    */
  def jaccardFromArrays(pairs: DataFrame, sets: DataFrame,
                        keepZero: Boolean): DataFrame =
    jaccardFromArraysCross(pairs, sets, sets, keepZero)

  /** [[jaccardFromArrays]] with distinct set frames per pair side — the
    * cross-corpus form (ids may collide numerically between corpora, so
    * the sides must never be unioned into one frame).
    */
  def jaccardFromArraysCross(pairs: DataFrame, setsA: DataFrame,
                             setsB: DataFrame, keepZero: Boolean): DataFrame = {
    // IntersectionSize counts |sh_a ∩ sh_b| directly — no intermediate
    // intersection ArrayData per pair (the hot allocation in verification)
    val interSize = org.apache.spark.sql.graft.Bridge.column(
      graft.functions.expressions.IntersectionSize(
        org.apache.spark.sql.graft.Bridge.expression(col("sh_a")),
        org.apache.spark.sql.graft.Bridge.expression(col("sh_b"))))
    val scored = pairs
      .join(setsA.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(setsB.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        interSize.cast("long").as("n_inter"),
        size(col("sh_a")).cast("long").as("n_a"),
        size(col("sh_b")).cast("long").as("n_b"))
    val kept = if (keepZero) scored else scored.where(col("n_inter") > 0)
    kept.withColumn("jaccard",
        round(col("n_inter") / (col("n_a") + col("n_b") - col("n_inter")), 6))
      .select("id_a", "id_b", "jaccard")
  }

  /** LSH candidates verified by exact Jaccard ≥ threshold — the full
    * near-dup pipeline.
    *
    * Verification joins the (tiny) candidate pair set straight back to
    * inline per-doc shingle arrays: two scans of the corpus with AQE
    * broadcasting the pair side, ZERO extra shuffles — where the exploded
    * formulation shuffled the corpus shingle set for the semi-join, the
    * per-id sizes, and the intersection count. Candidates flow through one
    * linear join chain, so nothing needs persisting.
    */
  def nearDuplicates(docs: DataFrame, idCol: String, textCol: String,
                     threshold: Double, w: Int = 5, k: Int = 8, bands: Int = 4,
                     hash: HashFn = xxhashStrategy, uax29: Boolean = false): DataFrame = {
    val cand = lshCandidates(docs, idCol, textCol, w, k, bands, hash, uax29)
    jaccardFromArrays(cand, shingleArrays(docs, idCol, textCol, w, uax29),
      keepZero = threshold <= 0)
      .where(col("jaccard") >= threshold)
  }

  private def inlineSig(docs: DataFrame, idCol: String, textCol: String,
                        w: Int, k: Int, hash: HashFn, uax29: Boolean): DataFrame =
    if (hash eq md5Strategy) signaturesInline(docs, idCol, textCol, w, k, md5Parity = true, uax29)
    else if (hash eq xxhashStrategy) signaturesInline(docs, idCol, textCol, w, k, md5Parity = false, uax29)
    else signatures(shingleBag(docs, idCol, textCol, w, uax29), k, hash)
}
