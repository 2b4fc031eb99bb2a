package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Sessions
import graft.functions.TextFunctions
import graft.functions.expressions.LongSetContains

/** Exact-hash deduplication, decontamination and overlap analysis
  * (reference wimbd/text_and_url_overlaps and its helper_scripts — SURVEY
  * §2.4 J1-J6, §2.1 S11, §2.3 A11).
  *
  * Scale notes: every operator keys its one shuffle on the content hash
  * (uniformly distributed ⇒ no skew). The reference's external
  * `sort | uniq -c` pipelines become hash aggregates; its cross-process
  * `seen` bitmap (deduplicate_by_hash.py:40-65) becomes a window keyed on
  * the hash — no global coordination.
  */
object Dedup {

  /** MD5 of full text, the reference's dedup key (get_text_hashes.py:15-17). */
  def textHash(text: Column): Column = md5(text)

  /** Prefix fingerprint: md5 of the first k tokens — cheap blocking key for
    * near-dup candidate generation.
    */
  def prefixFingerprint(text: Column, k: Int): Column =
    md5(concat_ws(" ", slice(split(text, " "), 1, k)))

  /** J1: hashes occurring more than once (the blocklist builder;
    * reference deduplicate.py:10-22 + get_duplicate_keys.sh).
    */
  def duplicateHashes(df: DataFrame, key: Column): DataFrame =
    df.select(key.as("h")).groupBy("h").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") > 1)

  /** A11: corpus-level duplication stats
    * (reference helper_scripts/get_duplicate_counts.py:9-42).
    */
  def duplicateStats(df: DataFrame, key: Column): DataFrame =
    df.select(key.as("h")).groupBy("h").agg(count(lit(1)).as("c"))
      .agg(
        coalesce(sum(when(col("c") > 1, col("c"))), lit(0L)).cast("long").as("duplicates"),
        coalesce(sum("c"), lit(0L)).cast("long").as("total"),
        count(when(col("c") > 1, lit(1))).as("uniq_duplicates"),
        count(lit(1)).as("uniq_total"))

  /** J2: keep-first dedup — first occurrence in (orderCols) order survives
    * (reference helper_scripts/deduplicate_by_hash.py:40-65). Returns the
    * input plus `is_first`; filter or project as needed (`attribute mode`
    * of the reference keeps the flag instead of dropping rows).
    */
  def markFirst(df: DataFrame, key: Column, order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(key).orderBy(order: _*)
    // collision-safe internal name: a corpus with its own `rn` column must
    // survive the pass ("is_first" stays the documented output column)
    df.withColumn("__mf_rn", row_number().over(w))
      .withColumn("is_first", col("__mf_rn") === 1)
      .drop("__mf_rn")
  }

  def keepFirst(df: DataFrame, key: Column, order: Seq[Column]): DataFrame =
    markFirst(df, key, order).where(col("is_first")).drop("is_first")

  /** J3: decontaminate corpus `b` against corpus `a` — drop every b-doc
    * whose key appears anywhere in `a` (reference decontaminate.py:10-22).
    * The blocklist side is projected to its key and NOT distinct-ed: a
    * left-anti join's result does not depend on duplicate right-side rows,
    * and the distinct cost a shuffle job plus a broadcast job per call
    * where the bare projection broadcasts in one when small.
    */
  def decontaminate(b: DataFrame, bKey: Column, a: DataFrame, aKey: Column): DataFrame =
    b.join(a.select(aKey.as("__block_h")), bKey === col("__block_h"), "left_anti")

  /** The inline-hash cap of the sentence rewrite: up to this many hashes
    * [[removeRepeatedSentences]] probes a broadcast sorted array, and
    * [[removeSentences]] gathers its set with one capped collect. 4M longs
    * = 32 MB broadcast, comfortably executor-sized.
    */
  private[graft] val MaxInlineHashes: Int = 1 << 22

  /** Gather one long column as a SORTED driver array for broadcast —
    * sized-gated. One limit-capped collect job when the set is small
    * (the common, boilerplate/benchmark-sized case: every extra driver
    * job here lands on the operator's wall clock); a capped count plus a
    * per-partition toLocalIterator stream for big-but-allowed sets (no
    * single all-rows Row buffer); None over `cap`.
    */
  private[graft] def gatherSortedLongs(df0: DataFrame,
                                       cap: Int): Option[Array[Long]] = {
    // NULL keys are not set members — and Row.getLong would NPE on them
    // (the anti-join formulations these gathers replace ignore null keys,
    // so dropping preserves semantics)
    val df = df0.na.drop()
    val fastCap = math.min(cap, 1 << 22)
    val fast = Sessions.gatherCapped(df, fastCap)
    if (fast.nonEmpty) {
      val a = fast.get.map(_.getLong(0)); java.util.Arrays.sort(a); Some(a)
    } else if (cap <= fastCap) None
    else {
      // big-but-maybe-allowed: persist so the sizing count and the
      // per-partition stream read ONE materialization instead of
      // re-running the (expensive, by definition) distinct 2-3 times
      val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        if (p.limit(cap + 1).count() > cap) None
        else Some(streamSortedLongs(p))
      } finally p.unpersist(blocking = false)
    }
  }

  /** Unbounded variant: stream every partition to the driver (one
    * partition's rows in memory at a time beyond collect's reach) and
    * sort. For callers whose contract is "the set must fit somewhere
    * whole anyway" (it is broadcast afterwards).
    */
  private[graft] def streamSortedLongs(df: DataFrame): Array[Long] = {
    val buf = scala.collection.mutable.ArrayBuilder.make[Long]
    val it = df.na.drop().toLocalIterator()
    while (it.hasNext) buf += it.next().getLong(0)
    val a = buf.result(); java.util.Arrays.sort(a); a
  }

  /** J3 at broadcast-hash scale — the EXACT middle tier between
    * [[decontaminate]]'s anti join and [[decontaminateApprox]]'s Bloom
    * probe: A's keys fold to ONE broadcast sorted long array probed by a
    * codegen binary search ([[graft.functions.expressions.LongSetContains]])
    * fused into B's scan. Zero shuffle of either side (the anti join
    * shuffles both once A outgrows the join broadcast threshold) and no
    * Bloom false positives; membership is exact on the 64-bit key — hash
    * text keys upstream with xxhash64, where a collision can only
    * OVER-drop (the conservative direction for decontamination, the
    * removeDuplicateSpans trade). The blocklist must fit the driver /
    * executor heap as longs (`maxKeys`, default 64M = 512 MB; a capped
    * count fails fast before anything is gathered). NULL keys keep their
    * rows, matching both siblings.
    */
  def decontaminateBroadcast(b: DataFrame, bKey: Column,
                             a: DataFrame, aKey: Column,
                             maxKeys: Int = 1 << 26): DataFrame = {
    val spark = b.sparkSession
    val distinctH = a.select(aKey.cast("long").as("__h")).distinct()
    val sorted = gatherSortedLongs(distinctH, maxKeys).getOrElse(sys.error(
      s"decontaminateBroadcast: blocklist exceeds $maxKeys distinct keys — " +
        "use decontaminate (anti join) or decontaminateApprox (Bloom)"))
    val probe = LongSetContains.probe(spark, sorted)
    b.where(!coalesce(probe(bKey.cast("long")), lit(false)))
  }

  /** J3 at Bloom scale (the Dolma-pipeline posture): drop every b-doc whose
    * key MIGHT be in `a`, testing a broadcast Bloom filter built over A's
    * keys instead of anti-joining. False positives drop extra docs (a
    * conservative trade every Bloom-dedup pipeline makes — tune `fpp`);
    * false negatives are impossible, so nothing contaminated survives.
    *
    * Scale shape: building the filter is one scan of A with mergeable
    * partial sketches (no shuffle of A's keys); B is filtered in its scan
    * stage with ZERO shuffle — where the exact anti join ([[decontaminate]])
    * shuffles both sides once A outgrows the broadcast threshold. At 1e9
    * blocklist keys and fpp 1e-2 the bitset is ~1.2 GB — one broadcast per
    * executor, shared by its cores.
    */
  def decontaminateApprox(b: DataFrame, bKey: Column, a: DataFrame, aKey: Column,
                          expectedItems: Long, fpp: Double = 0.01): DataFrame = {
    val bf = a.stat.bloomFilter(aKey.cast("string"), expectedItems, fpp)
    val bc = b.sparkSession.sparkContext.broadcast(bf)
    // codegen'd probe (not a ScalaUDF): the filter stage fuses into B's
    // scan. NULL keys probe to NULL — coalesce keeps those rows, matching
    // the `s != null && mightContain` udf this replaces.
    val probe = org.apache.spark.sql.graft.Bridge.column(
      graft.functions.expressions.BloomMightContain(
        org.apache.spark.sql.graft.Bridge.expression(bKey.cast("string")), bc))
    b.where(!coalesce(probe, lit(false)))
  }

  /** Fuzzy decontamination (the GPT-3/Llama posture: benchmark leakage
    * rarely survives verbatim): drop every train row that is a MinHash
    * NEAR-duplicate of any benchmark row — exact shingle Jaccard ≥
    * `threshold` against a benchmark row sharing one of its LSH band
    * buckets. Exact-hash J3 catches only verbatim copies.
    *
    * One pass, decided per row, so neither side needs an id. Each
    * benchmark row yields its signature and distinct shingles in one
    * projection; its band keys (`band|band_key`) group into ONE
    * key → bucket-of-shingle-arrays frame, broadcast once and reused by
    * every band's left join. Each train row computes its inline signature
    * and shingles, probes one bucket per band, and is dropped when a
    * bucket member verifies. The train side is scanned once and never
    * shuffled, and the operator is stateless: a streaming `train` runs it
    * unchanged, re-evaluating the (benchmark-sized) bucket frame per
    * micro-batch. Rows with null text or fewer than `w` tokens have no
    * shingles and survive. `md5Parity` selects the portable signature
    * hash ([[MinHash.md5Strategy]]'s values) over xxhash64.
    */
  def decontaminateFuzzy(train: DataFrame, trainText: String,
                         bench: DataFrame, benchText: String,
                         threshold: Double, w: Int = 5, k: Int = 8,
                         bands: Int = 4, md5Parity: Boolean = false,
                         uax29: Boolean = false): DataFrame = {
    def bandKeys(sig: Column): Seq[Column] =
      MinHash.bandKeyCols(sig, k, bands).zipWithIndex
        .map { case (key, b) => concat(lit(s"$b|"), key) }
    // a one-row Generate keeps the signature filter above the kernel (a
    // pushed filter would inline and re-run it)
    val bt = spanTokens(benchText, uax29)
    val buckets = bench
      .select(explode(array(struct(
        MinHash.sigArrayCol(bt, w, k, md5Parity).as("sig"),
        array_distinct(TextFunctions.ngrams(bt, w)).as("sh")))).as("r"))
      .where(col("r.sig").isNotNull)
      .select(explode(array(bandKeys(col("r.sig")): _*)).as("key"),
        col("r.sh").as("sh"))
      .groupBy("key").agg(collect_list(col("sh")).as("bucket"))

    val tt = spanTokens(trainText, uax29)
    val keyed = bandKeys(col("__sig")).zipWithIndex.foldLeft(train
        .withColumn("__sh", array_distinct(TextFunctions.ngrams(tt, w)))
        .withColumn("__sig", MinHash.sigArrayCol(tt, w, k, md5Parity))) {
      case (cur, (key, b)) => cur.withColumn(s"__bk$b", key)
    }
    val probed = (0 until bands).foldLeft(keyed) { (cur, b) =>
      cur.join(broadcast(buckets.select(col("key").as(s"__pk$b"),
        col("bucket").as(s"__m$b"))), col(s"__bk$b") === col(s"__pk$b"), "left")
    }
    // the score and rounding of MinHash.jaccardFromArraysCross
    val hit = (0 until bands).map { b =>
      coalesce(exists(col(s"__m$b"), m => {
        val ni = org.apache.spark.sql.graft.Bridge.column(
          graft.functions.expressions.IntersectionSize(
            org.apache.spark.sql.graft.Bridge.expression(col("__sh")),
            org.apache.spark.sql.graft.Bridge.expression(m))).cast("long")
        round(ni / (size(col("__sh")).cast("long") + size(m).cast("long") - ni), 6) >=
          threshold
      }), lit(false))
    }.reduce(_ || _)
    probed.where(!hit).select(train.columns.toSeq.map(c => col(s"`$c`")): _*)
  }

  /** Per-key dataset-membership BITMASK counts: `(mask, n_keys)` plus the
    * sorted dataset name table the bits index. The big groupBy(key)
    * aggregates a plain `bit_or(long)` — fully codegen'd HashAggregate,
    * spill-friendly — instead of `collect_set`'s object aggregation (which
    * falls back to sort-based merging at n-gram cardinalities). Requires
    * ≤ 62 datasets; callers fall back to the set formulation above that.
    */
  private def membershipMaskCounts(df: DataFrame, key: Column, dataset: Column,
                                   knownSources: Seq[String],
                                   hashKeys: Boolean = false): Option[(DataFrame, Seq[String])] = {
    // hashKeys: shuffle a 16-byte (2×xxhash64) key instead of the raw
    // shingle string — mask counting needs key IDENTITY only, and at 1e12
    // keys the 128-bit collision odds (~1e-14) are far below any result
    // tolerance. ~3× smaller shuffle on typical shingles.
    val k = if (hashKeys) struct(xxhash64(lit(0), key), xxhash64(lit(1), key)) else key
    val keyed = df.select(k.as("h"), dataset.as("ds"))
    // deriving the dataset list costs a full pass over `df` — callers that
    // know it (e.g. from a dimension table or config) should pass it in
    val sources =
      if (knownSources.nonEmpty) knownSources.sorted
      else keyed.select(col("ds")).distinct().collect().map(_.getString(0)).sorted.toSeq
    if (sources.size > 62) None
    else {
      // a dataset OUTSIDE knownSources folds to a sentinel bit instead
      // of silently vanishing (mask 0 / a lost membership bit would make
      // the overlap lattice undercount with no error) — the check runs on
      // the TINY mask-level frame, not per key
      val mask = sources.zipWithIndex
        .foldLeft(when(lit(false), lit(0L))) { case (acc, (s, i)) =>
          acc.when(col("ds") === s, lit(1L << i))
        }.otherwise(lit(1L << 62))
      val counts = keyed.select(col("h"), mask.as("m"))
        .groupBy("h").agg(expr("bit_or(m)").as("mask"))
        .groupBy("mask").agg(count(lit(1)).as("n_keys"))
        .where(when((col("mask").bitwiseAND(lit(1L << 62))) =!= 0,
          raise_error(lit("membershipMaskCounts: a dataset value is not in " +
            "knownSources — pass the complete list")))
          .otherwise(lit(true)))
      Some((counts, sources))
    }
  }

  /** Sorted dataset-name array decoded from a membership mask. */
  private def maskNames(mask: Column, sources: Seq[String]): Column = {
    val entries = array(sources.zipWithIndex.map { case (s, i) =>
      struct(lit(s).as("n"), lit(1L << i).as("b"))
    }: _*)
    transform(
      filter(entries, e => mask.bitwiseAND(e.getField("b")) === e.getField("b")),
      e => e.getField("n"))
  }

  /** J4 (production shape): one aggregation keyed on the content hash
    * recording the set of datasets it appears in — the full n-way overlap
    * lattice falls out of counting subsets, with no powerset of self-joins
    * (reference run_combinations.py does sort-merge per combination).
    * Membership is a bit_or-aggregated bitmask for ≤ 62 datasets
    * ([[membershipMaskCounts]]); the collect_set formulation covers more.
    */
  def overlapSets(df: DataFrame, key: Column, dataset: Column,
                  knownSources: Seq[String] = Nil,
                  hashKeys: Boolean = false): DataFrame =
    membershipMaskCounts(df, key, dataset, knownSources, hashKeys) match {
      case Some((counts, sources)) =>
        counts.select(maskNames(col("mask"), sources).as("datasets"), col("n_keys"))
      case None =>
        df.select(key.as("h"), dataset.as("ds"))
          .groupBy("h").agg(sort_array(collect_set("ds")).as("datasets"))
          .groupBy("datasets").agg(count(lit(1)).as("n_keys"))
    }

  /** J4/J6 pairwise view: distinct-key overlap per dataset pair.
    *
    * Derived from the mask-level counts, which are TINY (≤ distinct masks),
    * so pair explosion touches almost no data — the distinct +
    * key-equality self-join formulation shuffles the full key set three
    * times and breaks down exactly when keys are 100 TB-scale n-grams.
    */
  def overlapMatrix(df: DataFrame, key: Column, dataset: Column,
                    knownSources: Seq[String] = Nil,
                    hashKeys: Boolean = false): DataFrame = {
    val sets = membershipMaskCounts(df, key, dataset, knownSources, hashKeys) match {
      case Some((counts, sources)) =>
        counts.select(maskNames(col("mask"), sources).as("dss"), col("n_keys"))
      case None =>
        df.select(key.as("h"), dataset.as("ds"))
          .groupBy("h").agg(sort_array(collect_set("ds")).as("dss"))
          .select(col("dss"), lit(1L).as("n_keys"))
    }
    val pairs = flatten(transform(col("dss"), (a, i) =>
      transform(slice(col("dss"), i + lit(2), size(col("dss"))),
        b => struct(a.as("ds_a"), b.as("ds_b")))))
    sets.where(size(col("dss")) > 1)
      .select(explode(pairs).as("p"), col("n_keys"))
      .groupBy(col("p.ds_a").as("ds_a"), col("p.ds_b").as("ds_b"))
      .agg(sum("n_keys").as("n_shared"))
  }

  /** Corpus-pair similarity card: distinct-key Jaccard and directional
    * containment for every dataset pair — the J4/J6 overlap lattice's
    * natural normalization, sized for mixture design and redundancy
    * auditing across corpus snapshots.
    *
    * Scale shape: ONE bitmask aggregation over the key frame (the same
    * single pass J4 runs); every downstream step — per-source totals,
    * pair explosion, the similarity join — runs on the mask-count frame,
    * which is ≤ distinct-mask-sized (broadcast scale). The mask counts
    * are localCheckpointed because the totals and shared-pair branches
    * project differently and would otherwise each re-run the corpus
    * aggregation (exchange reuse does not fire across differently-
    * projected self-join arms — measured on SemDeDup and J4).
    */
  def corpusSimilarity(df: DataFrame, key: Column, dataset: Column,
                       knownSources: Seq[String] = Nil,
                       hashKeys: Boolean = false): DataFrame = {
    val sets = membershipMaskCounts(df, key, dataset, knownSources, hashKeys) match {
      case Some((counts, sources)) =>
        counts.localCheckpoint()
          .select(maskNames(col("mask"), sources).as("dss"), col("n_keys"))
      case None =>
        // > 62 datasets: key-cardinality frame — leave lazy (recompute
        // beats checkpointing a corpus-sized frame)
        df.select(key.as("h"), dataset.as("ds"))
          .groupBy("h").agg(sort_array(collect_set("ds")).as("dss"))
          .select(col("dss"), lit(1L).as("n_keys"))
    }
    val totals = sets.select(explode(col("dss")).as("ds"), col("n_keys"))
      .groupBy("ds").agg(sum("n_keys").as("n_ds"))
    val pairCol = flatten(transform(col("dss"), (a, i) =>
      transform(slice(col("dss"), i + lit(2), size(col("dss"))),
        b => struct(a.as("ds_a"), b.as("ds_b")))))
    val shared = sets.where(size(col("dss")) > 1)
      .select(explode(pairCol).as("p"), col("n_keys"))
      .groupBy(col("p.ds_a").as("ds_a"), col("p.ds_b").as("ds_b"))
      .agg(sum("n_keys").as("n_shared"))
    shared
      .join(broadcast(totals.select(col("ds").as("ds_a"), col("n_ds").as("n_a"))), "ds_a")
      .join(broadcast(totals.select(col("ds").as("ds_b"), col("n_ds").as("n_b"))), "ds_b")
      .select(col("ds_a"), col("ds_b"), col("n_shared"), col("n_a"), col("n_b"),
        (col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared")).cast("double")).as("jaccard"),
        (col("n_shared").cast("double") / col("n_a").cast("double")).as("containment_a"),
        (col("n_shared").cast("double") / col("n_b").cast("double")).as("containment_b"))
  }

  /** J5: the k most-duplicated keys with one example row pointer
    * (reference helper_scripts/get_examples.py:8-91).
    */
  def topDuplicateExamples(df: DataFrame, key: Column, example: Column, k: Int): DataFrame =
    df.select(key.as("h"), example.as("ex"))
      .groupBy("h").agg(count(lit(1)).as("cnt"), min("ex").as("example"))
      .where(col("cnt") > 1)
      .orderBy(desc("cnt"), asc("h")).limit(k)

  /** Connected components over an undirected near-dup pair list: every id
    * is labeled with the MINIMUM id reachable through pairs — the canonical
    * cluster representative. Iterative min-label propagation: each round
    * joins labels over edges and takes the per-node min, converging in
    * `diameter` rounds (near-dup graphs are unions of tiny-diameter
    * clusters, so 3-5 rounds in practice; `maxIter` caps pathological
    * chains).
    *
    * Scale notes: each round is one shuffle keyed on node id over the
    * EDGE list (candidate pairs — a vanishing fraction of the corpus, the
    * same frame LSH verification scored). Convergence is detected by an
    * O(1) checksum aggregate (sum of labels, strictly decreasing until
    * fixpoint); each round's checkpoint blocks are released (via the
    * underlying RDD — `Dataset.unpersist` is a no-op on local checkpoints)
    * as soon as the next round materializes. If `maxIter` rounds pass
    * without a fixpoint (graph diameter > maxIter, e.g. a pathological
    * duplicate chain), falls back to [[connectedComponentsStar]], whose
    * round count is logarithmic in the longest path — never returns
    * under-merged labels.
    */
  /** Edge normalization shared by both CC variants: NUMERIC ids cast to
    * long (the historical contract); anything else stays a STRING key —
    * an unconditional long cast would null UUID/URL ids and silently
    * degrade cluster dedup to a no-op.
    */
  private def ccEdgeCast(pairs: DataFrame): Column => Column =
    pairs.schema("id_a").dataType match {
      case _: org.apache.spark.sql.types.NumericType => c => c.cast("long")
      case _ => c => c.cast("string")
    }

  /** Driver-side union-find over a COLLECTED edge list — the small-graph
    * fast path of [[connectedComponents]]. Exact (path-halving union-find,
    * min-id representative under the same ordering `least`/`min` use), one
    * job to collect + one parallelize, versus 2 shuffles + a collect PER
    * ROUND for the iterative path.
    */
  private def localComponents(base: DataFrame): DataFrame = {
    import scala.collection.mutable
    val dt = base.schema("u").dataType
    val lt: (Any, Any) => Boolean = dt match {
      case org.apache.spark.sql.types.LongType =>
        (a, b) => a.asInstanceOf[Long] < b.asInstanceOf[Long]
      case _ =>
        // UTF-8 BINARY order, not java.lang.String's UTF-16 code-unit
        // order: Spark's least()/min() compare UTF8String bytes, and the
        // two orders disagree on supplementary-plane characters — the
        // local and distributed paths must elect the SAME representative
        (a, b) => org.apache.spark.unsafe.types.UTF8String
          .fromString(a.asInstanceOf[String])
          .compareTo(org.apache.spark.unsafe.types.UTF8String
            .fromString(b.asInstanceOf[String])) < 0
    }
    val parent = mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    base.collect().foreach { row =>
      // null ids (a caller bug — pair frames come from id columns) are
      // skipped rather than grouped, matching no meaningful contract either way
      if (!row.isNullAt(0) && !row.isNullAt(1)) {
        val u = row.get(0); val v = row.get(1)
        parent.getOrElseUpdate(u, u); parent.getOrElseUpdate(v, v)
        val ru = find(u); val rv = find(v)
        if (ru != rv) parent(ru) = rv
      }
    }
    val ids = parent.keysIterator.toArray
    val minOf = mutable.HashMap.empty[Any, Any]
    ids.foreach { id =>
      val r = find(id)
      if (!minOf.contains(r) || lt(id, minOf(r))) minOf(r) = id
    }
    val spark = base.sparkSession
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", dt),
      org.apache.spark.sql.types.StructField("component", dt)))
    val rows = ids.map(id => org.apache.spark.sql.Row(id, minOf(find(id))))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq,
        math.max(1, math.min(spark.sparkContext.defaultParallelism, ids.length))),
      schema)
  }

  /** @param maxLocalEdges size gate for the driver union-find fast path.
    *        The default 1M edges costs roughly 150 MB of transient Row
    *        objects plus two boxed-key maps of ≤ 2M entries (~250-400 MB
    *        peak) — safe on the 1g spark.driver.memory default with
    *        headroom; raise it on fat drivers, or set 0 to force the
    *        distributed path.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
                          maxLocalEdges: Long = 1L << 20): DataFrame = {
    val idCast = ccEdgeCast(pairs)
    // materialize the incoming pair pipeline ONCE: the union's two
    // direction arms would otherwise each recompute it (candidate
    // generation is the expensive part for near-dup callers). The edge
    // list is then eagerly checkpointed itself — a mere persist would keep
    // a lazy lineage edge back to `base`, making the release below unsafe
    // under block loss
    val base = pairs
      .select(idCast(col("id_a")).as("u"), idCast(col("id_b")).as("v"))
      .localCheckpoint(true)
    // size-gated hybrid: verified near-dup pairs are a vanishing fraction
    // of any real corpus, so the edge list usually fits the driver with
    // room to spare — union-find there is exact and replaces 2 shuffles +
    // a checksum collect PER ROUND with one collect. The capped count runs
    // on the already-materialized checkpoint (cheap); past the cap (or
    // with the gate disabled) the iterative distributed path below is
    // unchanged. Same posture as keepBestInCluster's broadcast decision.
    val localCap = math.min(maxLocalEdges, (Int.MaxValue - 1).toLong)
    if (localCap > 0 && base.limit(localCap.toInt + 1).count() <= localCap) {
      val out = localComponents(base)
      org.apache.spark.sql.graft.Bridge.releaseLocalCheckpoint(base)
      return out
    }
    val edges = base
      .union(base.select(col("v").as("u"), col("u").as("v")))
      .distinct()
      .localCheckpoint(true)
    // LAZY localCheckpoint rather than eager (or persist): still truncates
    // the per-round lineage (plans otherwise nest one level per
    // iteration), but the blocks materialize DURING the checksum action —
    // one job per round instead of an eager-materialize job plus a
    // checksum job
    var labels = edges.groupBy(col("u").as("id"))
      .agg(least(min(col("v")), col("u")).as("label"))
      .localCheckpoint(false)
    // order-independent, id-type-independent, overflow-free (labels are
    // one row per id); coalesce: an empty pair list folds to 0
    def labelChecksum(l: DataFrame): Long =
      l.agg(coalesce(expr("bit_xor(xxhash64(id, label))"), lit(0L)))
        .collect().head.getLong(0)
    var checksum = labelChecksum(labels)
    var it = 1 // the seeding aggregation above is round 1
    var converged = false
    while (!converged && it < maxIter) {
      val next = edges
        .join(labels.withColumnRenamed("id", "v"), "v")
        .groupBy(col("u").as("id"))
        .agg(least(min(col("label")), col("u")).as("label"))
        .localCheckpoint(false)
      val nextSum = labelChecksum(next)
      org.apache.spark.sql.graft.Bridge.releaseLocalCheckpoint(labels)
      labels = next
      converged = nextSum == checksum
      checksum = nextSum
      it += 1
    }
    // the returned labels are themselves checkpointed — the edge blocks
    // can be dropped now
    org.apache.spark.sql.graft.Bridge.releaseLocalCheckpoint(edges)
    if (!converged) {
      // diameter > maxIter: labels are under-merged — delegate to the
      // O(log)-round star contraction rather than silently splitting
      // clusters
      org.apache.spark.sql.graft.Bridge.releaseLocalCheckpoint(labels)
      // the MATERIALIZED edge list feeds the fallback — re-running the
      // caller's pairs pipeline (a full LSH + verify pass) would double
      // the corpus work. Star checkpoints its own copy, so ours releases.
      val out = connectedComponentsStar(
        base.select(col("u").as("id_a"), col("v").as("id_b")))
      org.apache.spark.sql.graft.Bridge.releaseLocalCheckpoint(base)
      out
    } else {
      org.apache.spark.sql.graft.Bridge.releaseLocalCheckpoint(base)
      labels.select(col("id"), col("label").as("component"))
    }
  }

  /** O(log n)-round connected components via alternating large-star /
    * small-star contractions (Kiveris et al., "Connected Components in
    * MapReduce and Beyond") — same output contract as
    * [[connectedComponents]] but round count is logarithmic in the LONGEST
    * PATH rather than linear, so adversarial chain-shaped duplicate graphs
    * converge too.
    *
    *  - large-star: every neighbor v > u re-links to m = min(N(u) ∪ {u})
    *  - small-star: every neighbor v ≤ u (plus u) links to m
    *
    * Each phase is one groupBy(u) for the per-node min plus a join back to
    * the edge list; convergence when the canonical edge multiset checksum
    * is stable.
    */
  def connectedComponentsStar(pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    def undirected(e: DataFrame): DataFrame =
      e.union(e.select(col("v").as("u"), col("u").as("v")))
    def mins(nbrs: DataFrame): DataFrame =
      nbrs.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))
    def checksum(e: DataFrame): (Long, Long) = {
      // bit_xor: order-independent, overflow-free (edges are distinct)
      val r = e.agg(count(lit(1)),
          coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L)))
        .collect().head
      (r.getLong(0), r.getLong(1))
    }
    // each round's plan embeds the previous one several times (undirected
    // union + two join arms), so lineage grows geometrically — eager
    // localCheckpoint truncates it every round (the standard iterative-
    // algorithm posture; swap for reliable checkpoint() on a cluster where
    // executor loss must be survivable)
    // one materialization of the incoming pair pipeline: both the edge
    // seed and the final member list derive from it
    val idCast = ccEdgeCast(pairs)
    val base = pairs
      .select(idCast(col("id_a")).as("u"), idCast(col("id_b")).as("v"))
      .localCheckpoint(true)
    // lazy: the checksum action materializes the checkpoint — one job
    var edges = base
      .where(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(false)
    var sig = checksum(edges)
    var it = 0
    var converged = false
    while (!converged && it < maxIter) {
      val nbrs = undirected(edges)
      // large-star
      val ls = nbrs.join(mins(nbrs), "u")
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
      val afterLs = ls.where(col("u") =!= col("v")).distinct().localCheckpoint(true)
      // small-star over the large-star output
      val nbrs2 = undirected(afterLs)
      val m2 = mins(nbrs2)
      val ss = nbrs2.join(m2, "u")
        .where(col("v") <= col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(nbrs2.join(m2, "u").select(col("u"), col("m").as("v")))
      val next = ss.where(col("u") =!= col("v")).distinct().localCheckpoint(false)
      val nextSig = checksum(next)
      org.apache.spark.sql.graft.Bridge.releaseLocalCheckpoint(edges)
      org.apache.spark.sql.graft.Bridge.releaseLocalCheckpoint(afterLs)
      edges = next
      converged = nextSig == sig
      sig = nextSig
      it += 1
    }
    // fixpoint: every remaining edge is (node, componentMin); nodes that
    // became isolated on the way ARE their component's min
    val members = base.select(col("u").as("id"))
      .union(base.select(col("v").as("id"))).distinct()
    val labeled = undirected(edges)
      .groupBy(col("u").as("id")).agg(least(min(col("v")), col("u")).as("component"))
    val out = members.join(labeled, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
    // the final round's checkpoint blocks back `out` lazily — they cannot
    // be released here; the ContextCleaner frees them once `out`'s plan is
    // garbage-collected
    out
  }

  /** Near-dup dedup end-to-end: keep, per connected cluster of `pairs`, only
    * the minimum-id document; docs in no pair survive untouched.
    *
    * Scale shape: integral-id drop sets (the corpus norm) fold to a
    * broadcast sorted long array probed by a codegen binary search in the
    * docs scan — EXACT membership (ids, not hashes), zero shuffle of
    * either side; the anti join it replaces shuffles the corpus WITH its
    * text as sort-merge payload once the drop set outgrows the join
    * broadcast threshold. Non-integral ids or drop sets beyond the
    * 64M-key driver cap keep the anti join.
    */
  def keepClusterRepresentative(docs: DataFrame, idCol: String,
                                pairs: DataFrame): DataFrame = {
    val drop = connectedComponents(pairs)
      .where(col("id") =!= col("component"))
      .select(col("id").as("__drop_id"))
    val integralId = docs.schema(docs.schema.fieldIndex(idCol)).dataType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    val gathered =
      if (!integralId) None
      else gatherSortedLongs(
        drop.select(col("__drop_id").cast("long")), 1 << 26)
    gathered match {
      case Some(sorted) =>
        val probe = LongSetContains.probe(docs.sparkSession, sorted)
        docs.where(!coalesce(probe(docs(idCol).cast("long")), lit(false)))
      case None =>
        docs.join(drop, docs(idCol) === col("__drop_id"), "left_anti")
    }
  }

  /** Quality-aware variant of [[keepClusterRepresentative]]: keep, per
    * connected cluster of `pairs`, the member maximizing `score` (ties →
    * lower id) instead of blindly the minimum id — the FineWeb/CCNet
    * posture of retaining the longest / highest-quality duplicate. Docs in
    * no pair survive untouched.
    *
    * Scale: cluster membership is pairs-bounded — a vanishing fraction of
    * the corpus — so the component frame is broadcast to score members in
    * one corpus scan, the argmax window runs over that small frame only,
    * and the final drop set broadcasts back into a left-anti join. The
    * corpus itself is never shuffled.
    */
  def keepBestInCluster(docs: DataFrame, idCol: String, pairs: DataFrame,
                        score: Column,
                        maxBroadcastMembers: Long = 4L << 20): DataFrame = {
    // the membership frame is duplicate-cluster-sized — usually tiny, but
    // crawl corpora reach 30-50% near-dup membership, where a FORCED
    // broadcast would OOM the driver. It is already materialized (CC
    // checkpoints its labels), so a capped count decides cheaply; beyond
    // the cap both joins shuffle (and AQE still broadcasts small
    // runtime sizes).
    val comp = connectedComponents(pairs)
    // clamp BEFORE the Int cast: a caller cap above Int.MaxValue would
    // otherwise wrap negative and throw in limit() instead of simply
    // taking the shuffle path
    val cap = math.min(maxBroadcastMembers, (Int.MaxValue - 1).toLong).toInt
    val small = comp.limit(cap + 1).count() <= maxBroadcastMembers
    def maybeBroadcast(df: DataFrame): DataFrame =
      if (small) broadcast(df) else df
    val members = docs.select(col(idCol).as("__kb_id"), score.as("__kb_score"))
      .join(maybeBroadcast(comp), col("__kb_id") === col("id"))
    val w = Window.partitionBy("component")
      .orderBy(desc("__kb_score"), asc("__kb_id"))
    val drop = members.withColumn("__kb_rn", row_number().over(w))
      .where(col("__kb_rn") =!= 1)
      .select(col("__kb_id").as("__drop_id"))
    docs.join(maybeBroadcast(drop), docs(idCol) === col("__drop_id"), "left_anti")
  }

  /** S11: train/valid/test split by hash prefix (reference
    * wimbd/utils/split_files.py:8-45 uses sha1 prefixes fff/ffe/ffd/ffc;
    * same contract here with md5 — deterministic, rerunnable; two 3-hex
    * prefixes per split select 2/4096 ≈ 0.049% each).
    */
  def hashSplit(df: DataFrame, text: Column): DataFrame = {
    val p = substring(md5(text), 1, 3)
    df.withColumn("split",
      when(p.isin("fff", "ffe"), "test")
        .when(p.isin("ffd", "ffc"), "valid")
        .otherwise("train"))
  }

  // ---- sub-document dedup: spans and units --------------------------------

  /** Tokenization for span operators and [[decontaminateFuzzy]]:
    * whitespace split (oracle-matching default) or the UAX-29 tokenizer
    * the n-gram commands use.
    */
  private def spanTokens(textCol: String, uax29: Boolean): Column =
    if (uax29) graft.functions.TextFunctions.tokenize(col(textCol))
    else split(col(textCol), " ")

  /** Cross-document duplicated-span statistics — the token-granularity
    * analogue of suffix-array substring dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"): for each
    * document, how many of its sliding k-token windows also occur in at
    * least one OTHER document, and what fraction of the document that is.
    * Documents shorter than k tokens produce no spans and are absent from
    * the output (they have no window to judge).
    *
    * Scale shape: one explode (~|tokens| rows/doc, no shuffle), one
    * hash-aggregate keyed on the span (`hash` defaults to 64-bit xxhash64 so
    * the shuffle moves 8-byte keys, not k-token strings; pass `identity`
    * only for oracle-exact runs), where cross-doc occurrence is detected by
    * `min(id) != max(id)` — plain codegen min/max, no count-distinct
    * expansion. The shared-span list is a vanishing fraction of spans, so
    * AQE broadcasts it for the flag join; one final groupBy(doc).
    */
  def duplicateSpanStats(docs: DataFrame, idCol: String, textCol: String,
                         k: Int,
                         hash: Column => Column = c => xxhash64(c),
                         uax29: Boolean = false): DataFrame = {
    val spans = docs
      .select(col(idCol), explode(
        graft.functions.TextFunctions.ngrams(spanTokens(textCol, uax29), k)).as("__span"))
      .select(col(idCol), hash(col("__span")).as("__h"))
    val shared = spans
      .groupBy("__h").agg(min(col(idCol)).as("__mn"), max(col(idCol)).as("__mx"))
      .where(col("__mn") =!= col("__mx"))
      .select(col("__h"), lit(1L).as("__dup"))
    spans.join(shared, Seq("__h"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_spans"),
        coalesce(sum("__dup"), lit(0L)).cast("long").as("n_dup_spans"))
      .withColumn("dup_span_frac",
        round(col("n_dup_spans").cast("double") / col("n_spans"), 6))
  }

  /** GPT-3-style n-gram contamination of an evaluation corpus against a
    * training corpus: for each test document, the fraction of its DISTINCT
    * n-token spans that occur anywhere in the training corpus — the span-
    * level contamination metric next to A12's exact-phrase-hit rate (a doc
    * can be 0% exact-phrase contaminated yet 90% span-overlapped).
    *
    * Scale shape: both corpora explode to spans hashed to 8-byte keys
    * (`hash` defaults to xxhash64; pass identity for oracle-exact runs).
    * The test side (a benchmark) is tiny, so its distinct hash set
    * broadcasts for a left-semi probe of the training spans — the 100 TB
    * train side is scanned once and never shuffled on the span; the
    * surviving hit set is benchmark-bounded and broadcasts back for the
    * per-doc flag join.
    */
  def ngramContamination(train: DataFrame, trainTextCol: String,
                         test: DataFrame, idCol: String, testTextCol: String,
                         n: Int,
                         hash: Column => Column = c => xxhash64(c),
                         uax29: Boolean = false): DataFrame = {
    def spans(df: DataFrame, textCol: String, extra: Seq[Column]): DataFrame =
      df.select(extra :+ explode(
          graft.functions.TextFunctions.ngrams(spanTokens(textCol, uax29), n)).as("__s"): _*)
        .select(extra :+ hash(col("__s")).as("__h"): _*)
    val testSpans = spans(test, testTextCol, Seq(col(idCol))).distinct()
    val trainSpans = spans(train, trainTextCol, Nil)
    val hits = trainSpans
      .join(testSpans.select("__h").distinct(), Seq("__h"), "left_semi")
      .distinct().withColumn("__hit", lit(1L))
    testSpans.join(hits, Seq("__h"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_ngrams"),
        coalesce(sum("__hit"), lit(0L)).cast("long").as("n_hit"))
      .withColumn("contaminated_frac",
        round(col("n_hit").cast("double") / col("n_ngrams"), 6))
  }

  /** The substring-dedup TRANSFORM completing [[duplicateSpanStats]]'
    * measurement (Lee et al. 2022 semantics at token granularity): rewrite
    * each document dropping every token covered by a k-token span whose
    * content already occurred earlier in the corpus — earlier = smaller
    * (id, token offset), so the FIRST occurrence of each duplicated span
    * is the kept one corpus-wide. Caveat (inherent to Lee et al.'s
    * one-pass token-removal semantics): when a LATER duplicate span
    * overlaps the kept first occurrence inside the same document
    * (self-overlapping repeats like "a a a a"), the removal of the later
    * span's tokens can clip the kept occurrence too — the guarantee is
    * "later duplicate spans are removed", not "the surviving text always
    * contains one verbatim copy". Emits `(id, text_dedup, n_tokens,
    * n_tokens_kept)`; fully-duplicated documents come out empty (the caller
    * drops or keeps them — Lee et al. drop).
    *
    * Scale shape: one posexplode + one keep-first window keyed on the span
    * hash (64-bit keys) + one per-doc aggregation collecting only the
    * DUPLICATE span offsets (bounded by the doc's own token count, and in
    * healthy corpora a small fraction of it); reconstruction is per-doc
    * column algebra (positional filter against the offset array) in the
    * final projection — the corpus text itself is never shuffled, only
    * (id, offset) pairs of duplicated spans.
    */
  def removeDuplicateSpans(docs: DataFrame, idCol: String, textCol: String,
                           k: Int, uax29: Boolean = false): DataFrame = {
    val toks = spanTokens(textCol, uax29)
    val spans = docs.select(col(idCol).as("__id"),
      posexplode(graft.functions.TextFunctions.ngrams(toks, k)).as(Seq("__idx", "__s")))
      .select(col("__id"), col("__idx"), xxhash64(col("__s")).as("__h"))
    val w = Window.partitionBy("__h").orderBy(col("__id"), col("__idx"))
    val dupStarts = spans.withColumn("__rn", row_number().over(w))
      .where(col("__rn") > 1)
      .groupBy(col("__id"))
      .agg(sort_array(collect_list(col("__idx"))).as("__starts"))
    val starts = coalesce(col("__starts"), array().cast("array<int>"))
    docs.join(dupStarts, docs(idCol) === dupStarts("__id"), "left")
      .select(col(idCol),
        concat_ws(" ",
          filter(toks, (_, i) =>
            !exists(starts, s => i >= s && i < s + k))).as("text_dedup"),
        size(toks).cast("long").as("n_tokens"))
      .withColumn("n_tokens_kept",
        when(col("text_dedup") === "", lit(0L))
          .otherwise(size(split(col("text_dedup"), " ")).cast("long")))
  }

  /** The over-threshold sentence hash set [[removeRepeatedSentences]]
    * cuts: xxhash64 of every sentence appearing in more than `maxDf`
    * distinct documents — one column `h`. Boilerplate-sized (tiny);
    * compute it in batch and hand it to [[removeSentences]] to clean
    * documents that arrive later, streaming ones included.
    */
  def repeatedSentenceHashes(docs: DataFrame, idCol: String,
                             textCol: String, maxDf: Long = 1L): DataFrame = {
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
    val sents = TextFunctions.sentenceSplit(col(textCol))
    graft.Par.fanOut(docs)
      .select(col(idCol).as("__id"), posexplode(sents).as(Seq("__idx", "__s")))
      .select(col("__id"), xxhash64(col("__s")).as("h"))
      .groupBy("h").agg(count_distinct(col("__id")).as("__df"))
      .where(col("__df") > maxDf).select("h")
  }

  /** Drop from every document each sentence whose xxhash64 is in
    * `hashes` (column `h`, e.g. [[repeatedSentenceHashes]] of an earlier
    * corpus; duplicates allowed). Output and per-row decision are
    * [[removeRepeatedSentences]]' given the same set.
    *
    * Stateless per row: the set is gathered to the driver once, broadcast
    * as a sorted long array and probed by a codegen binary search inside
    * the rewrite projection — no join, no shuffle — so a streaming `docs`
    * runs it unchanged in Append mode. The set reaches every executor
    * whole in any formulation; beyond `maxInlineHashes` only the gather
    * changes (a per-partition stream instead of one collect), so a costly
    * `hashes` plan is worth checkpointing first.
    */
  def removeSentences(docs: DataFrame, idCol: String, textCol: String,
                      hashes: DataFrame,
                      maxInlineHashes: Int = MaxInlineHashes): DataFrame = {
    val h = hashes.select(col("h"))
    dropSentences(docs, idCol, textCol,
      gatherSortedLongs(h, maxInlineHashes).getOrElse(streamSortedLongs(h)))
  }

  /** The sentence rewrite against a sorted hash array: the one
    * probe-and-project of [[removeSentences]] and
    * [[removeRepeatedSentences]]' in-cap branch.
    */
  private def dropSentences(docs: DataFrame, idCol: String, textCol: String,
                            sorted: Array[Long]): DataFrame = {
    val sents = TextFunctions.sentenceSplit(col(textCol))
    val probe = LongSetContains.probe(docs.sparkSession, sorted)
    val kept = filter(sents, s => !probe(xxhash64(s)))
    docs.select(col(idCol),
      concat_ws(" ", kept).as("text_clean"),
      coalesce(size(sents), lit(0)).cast("long").as("n_sentences"),
      coalesce(size(kept), lit(0)).cast("long").as("n_sentences_kept"))
  }

  /** RefinedWeb-style repeated-sentence removal: drop from every document
    * each sentence whose EXACT content appears in more than `maxDf`
    * DISTINCT documents — boilerplate surgery (cookie banners, nav text,
    * license headers) at the sentence-granularity rung between C4's line
    * rules and the k-token span dedup above. Sentences come from
    * [[graft.functions.TextFunctions.sentenceSplit]] (punkt-style,
    * SQL-replayable); survivors rejoin with one space in original order.
    * Output `(id, text_clean, n_sentences, n_sentences_kept)`; a
    * fully-boilerplate document comes out empty, and null/empty text rows
    * pass through with zero counts.
    *
    * Scale shape: the df count shuffles (xxhash64, id) pairs only —
    * sentence TEXT never shuffles; the over-threshold hash set is a
    * vanishing fraction (boilerplate by definition repeats, so its
    * DISTINCT sentence count is tiny) and folds to a broadcast sorted long
    * array probed by a codegen binary search in the rebuild scan — the
    * [[removeSentences]] rewrite, with no rewrite join (its sort-merge
    * arms would carry the corpus text as shuffle payload). Beyond
    * `maxInlineHashes` a join formulation over one checkpointed exploded
    * (id, idx, hash) frame takes over. A 64-bit hash collision can only
    * over-remove (the conservative direction for boilerplate).
    */
  def removeRepeatedSentences(docs: DataFrame, idCol: String,
                              textCol: String, maxDf: Long = 1L,
                              maxInlineHashes: Int = MaxInlineHashes): DataFrame = {
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
    // On the dominant in-cap path the exploded frame is read exactly ONCE
    // (the df-count agg feeding the gather) and the rewrite re-splits
    // `docs` directly — so the gather runs straight off the corpus scan
    // with NO localCheckpoint: materializing every (id, idx, hash) row to
    // block storage bought nothing here and cost ~3× the sf0.1 wall clock.
    // Only the rare over-cap fallback needs the exploded frame twice (agg
    // + removal join); it builds the checkpoint THEN, paying one extra
    // split pass for the sizing agg — strictly cheaper than charging every
    // in-cap run the checkpoint.
    gatherSortedLongs(repeatedSentenceHashes(docs, idCol, textCol, maxDf),
        maxInlineHashes) match {
      case Some(sorted) => dropSentences(docs, idCol, textCol, sorted)
      case None =>
        // over-cap fallback: ONE exploded (id, idx, hash) frame feeds BOTH
        // the (re-run) df-count agg and the removal join — lazily
        // checkpointed because Spark does not plan-share identical
        // subtrees, so without it the corpus would be scanned and
        // sentence-split twice more (the split is the operator's dominant
        // per-row cost at scale)
        val sents = TextFunctions.sentenceSplit(col(textCol))
        val ex = graft.Par.fanOut(docs)
          .select(col(idCol).as("__id"), posexplode(sents).as(Seq("__idx", "__s")))
          .select(col("__id"), col("__idx"), xxhash64(col("__s")).as("__h"))
          .localCheckpoint(eager = false)
        val repeated = ex.groupBy("__h")
          .agg(count_distinct(col("__id")).as("__df"))
          .where(col("__df") > maxDf).select("__h")
        val removed = ex.join(repeated.select(col("__h")), Seq("__h"), "left_semi")
          .groupBy("__id").agg(sort_array(collect_list(col("__idx"))).as("__drop"))
        val dropArr = coalesce(col("__drop"), array().cast("array<int>"))
        docs.join(removed, docs(idCol) === removed("__id"), "left")
          .select(col(idCol),
            concat_ws(" ",
              filter(sents, (_, i) => !exists(dropArr, d => d === i))).as("text_clean"),
            coalesce(size(sents), lit(0)).cast("long").as("n_sentences"),
            (coalesce(size(sents), lit(0)) - size(dropArr)).cast("long")
              .as("n_sentences_kept"))
    }
  }

  /** Surgical decontamination — [[ngramContamination]]'s detection
    * composed with [[removeDuplicateSpans]]' rewrite: drop from each TRAIN
    * document every token covered by a k-token span whose content occurs
    * anywhere in the benchmark. The scalpel to J3's axe (the reference's
    * contamination tooling, wimbd/contamination/, detects and DROPS whole
    * documents; production pipelines prefer cutting the quoted benchmark
    * text and keeping the surrounding document). Output
    * `(id, text_clean, n_tokens, n_tokens_kept)`; a fully-quoted document
    * comes out empty, matching [[removeDuplicateSpans]]' contract.
    *
    * Scale shape: the benchmark side reduces to DISTINCT span keys —
    * benchmark-bounded — which on the default 64-bit hash fold to ONE
    * broadcast sorted long array probed by a codegen binary search
    * INSIDE the train scan projection: covered positions, the rebuild,
    * and both counts all compute in one pass with ZERO joins and ZERO
    * shuffles of train at any corpus size (the former semi-probe +
    * per-doc offsets agg + rewrite join shuffled the corpus TEXT as
    * sort-merge payload once the hit frame outgrew a broadcast — 0.48 GB
    * at the 100× rehearsal). `hash` defaults to xxhash64 span keys (a
    * collision can only over-remove — the conservative direction for
    * decontamination); pass `identity` for oracle-exact runs, which —
    * like a benchmark beyond `maxInlineKeys` (capped count, nothing
    * gathered beyond it) — takes the join formulation instead.
    */
  def removeContaminatedSpans(train: DataFrame, idCol: String,
                              trainTextCol: String,
                              test: DataFrame, testTextCol: String,
                              k: Int,
                              hash: Column => Column = c => xxhash64(c),
                              uax29: Boolean = false,
                              maxInlineKeys: Int = 1 << 26): DataFrame = {
    val toks = spanTokens(trainTextCol, uax29)
    val testKeys = test.select(explode(graft.functions.TextFunctions.ngrams(
        spanTokens(testTextCol, uax29), k)).as("__s"))
      .select(hash(col("__s")).as("__h")).distinct()
    def rebuild(src: DataFrame, starts: Column): DataFrame =
      src.select(train(idCol),
        concat_ws(" ",
          filter(toks, (_, i) =>
            !exists(starts, s => i >= s && i < s + k))).as("text_clean"),
        size(toks).cast("long").as("n_tokens"))
        .withColumn("n_tokens_kept",
          when(col("text_clean") === "", lit(0L))
            .otherwise(size(split(col("text_clean"), " ")).cast("long")))
    // the inline kernel hard-codes xxhash64 span keys — gate on the
    // caller's hash actually BEING the default, not merely long-typed.
    // Column.toString on a probe literal is the stable comparison here:
    // expression-node equality is poisoned by per-construction Origin
    // stack traces under the Spark 4 column API
    val isDefaultHash =
      hash(lit("__probe")).toString == xxhash64(lit("__probe")).toString
    val gathered =
      if (!isDefaultHash) None
      else gatherSortedLongs(testKeys, maxInlineKeys)
    if (gathered.isDefined) {
      val spark = train.sparkSession
      val bc = spark.sparkContext.broadcast(gathered.get)
      // detection + rebuild as ONE codegen'd kernel over the token array
      // (probe each span start against the broadcast set, mark covered
      // positions, emit survivors) — a declarative HOF chain here either
      // re-evaluates the span probe per token once CollapseProject
      // inlines the alias, or pays interpreted per-element lambda boxing
      // on every row; see CoveredSpanRemove's scaladoc for the measured
      // failure shapes
      val cleaned = org.apache.spark.sql.graft.Bridge.column(
        graft.functions.expressions.CoveredSpanRemove(
          org.apache.spark.sql.graft.Bridge.expression(toks), k, bc))
      train.select(train(idCol),
        coalesce(cleaned, lit("")).as("text_clean"),
        size(toks).cast("long").as("n_tokens"))
        .withColumn("n_tokens_kept",
          when(col("text_clean") === "", lit(0L))
            .otherwise(size(split(col("text_clean"), " ")).cast("long")))
    } else {
      // internal alias distinct from any caller idCol (the CLI passes
      // "__id"), and the outer select resolves through train() — both
      // needed to keep the self-named join unambiguous
      val trainSpans = train.select(col(idCol).as("__rcs_id"),
          posexplode(graft.functions.TextFunctions.ngrams(toks, k))
            .as(Seq("__idx", "__s")))
        .select(col("__rcs_id"), col("__idx"), hash(col("__s")).as("__h"))
      val hitStarts = trainSpans.join(testKeys, Seq("__h"), "left_semi")
        .groupBy(col("__rcs_id"))
        .agg(sort_array(collect_list(col("__idx"))).as("__starts"))
      rebuild(train.join(hitStarts,
          train(idCol) === hitStarts("__rcs_id"), "left"),
        coalesce(col("__starts"), array().cast("array<int>")))
    }
  }

  /** Paragraph units: posexploded spans split on `sepRegex` (default:
    * blank-line paragraphs). Output `(id, idx, unit)` — feed
    * [[unitDedupStats]] or [[markFirstUnits]].
    */
  def splitUnits(docs: DataFrame, idCol: String, textCol: String,
                 sepRegex: String = "\n\n+"): DataFrame =
    docs.select(col(idCol).as("id"),
        posexplode(split(col(textCol), sepRegex)).as(Seq("idx", "unit")))
      .where(length(col("unit")) > 0)

  /** Non-overlapping b-token block units for corpora without paragraph
    * structure (single-line web text): block i covers tokens [i*b, i*b+b).
    * The trailing partial block is kept. Output `(id, idx, unit)`.
    */
  def tokenBlocks(docs: DataFrame, idCol: String, textCol: String,
                  b: Int): DataFrame = {
    val toks = split(col(textCol), " ")
    val blocks = transform(
      sequence(lit(0), floor((size(toks) - lit(1)) / lit(b)).cast("int")),
      i => concat_ws(" ", slice(toks, i * lit(b) + lit(1), lit(b))))
    // split("") returns [""], so size(toks) > 0 alone would let every
    // blank doc emit one empty-string unit — and all blank docs across
    // the corpus would then collide on md5("") as spurious duplicates
    docs.where(size(toks) > 0)
      .select(col(idCol).as("id"), posexplode(blocks).as(Seq("idx", "unit")))
      .where(length(col("unit")) > 0)
  }

  /** Per-unit keep-first flag over a `(id, idx, unit)` frame — the
    * paragraph-level exact dedup of Dolma/CCNet-style pipelines (the
    * reference's J2 keep-first at sub-document granularity): the first
    * occurrence of each unit content hash in (id, idx) order is kept, every
    * later copy is marked duplicate. One shuffle keyed on the content hash.
    */
  def markFirstUnits(units: DataFrame): DataFrame =
    markFirst(units, md5(col("unit")), Seq(col("id"), col("idx")))

  /** Per-document unit-dedup statistics: unit count, how many units are
    * non-first duplicates of a unit seen earlier in the corpus scan order,
    * and the duplicated fraction — the decision signal for paragraph-level
    * dedup ("drop docs that are mostly boilerplate", or rewrite docs
    * keeping first occurrences only).
    */
  def unitDedupStats(units: DataFrame): DataFrame =
    markFirstUnits(units)
      .groupBy(col("id"))
      .agg(count(lit(1)).cast("long").as("n_units"),
        sum(when(col("is_first"), 0L).otherwise(1L)).cast("long").as("n_dup_units"))
      .withColumn("dup_unit_frac",
        round(col("n_dup_units").cast("double") / col("n_units"), 6))

  // ---- incremental dedup against persisted hash state ----
  //
  // The continuous-ingestion shape of J2/J3: a crawl pipeline never
  // re-scans "everything seen so far" — it keeps a hash-state TABLE
  // (hash-only: 100 TB of text distills to low-TBs of 16-byte keys) and
  // anti-joins each new snapshot against it. The streaming twin is
  // StreamOps.dedupStream; this is the batch form with durable state.

  private def stateExists(spark: org.apache.spark.sql.SparkSession,
                          statePath: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(statePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).nonEmpty
  }

  /** Drop every new doc whose `key` is already in the state table, then
    * keep-first WITHIN the batch (a snapshot carries its own internal
    * duplicates). Pure read path — state is not modified; see
    * [[ingestIncremental]] for the read-then-extend cycle. AQE broadcasts
    * small state and shuffle-joins large state on the 16-byte keys; at
    * Bloom scale swap the anti join for [[decontaminateApprox]] over the
    * same state frame. The state is read under the schema
    * [[appendHashState]] writes (`h`, typed as `key`), so a call pays no
    * schema-inference job over the state files.
    */
  def dedupIncremental(newDocs: DataFrame, key: Column, order: Seq[Column],
                       statePath: String): DataFrame = {
    val fresh = keepFirst(newDocs, key, order)
    val spark = newDocs.sparkSession
    if (!stateExists(spark, statePath)) fresh
    else {
      val h = newDocs.select(key.as("h")).schema.head.copy(nullable = true)
      decontaminate(fresh, key,
        spark.read.schema(org.apache.spark.sql.types.StructType(Seq(h)))
          .parquet(statePath), col("h"))
    }
  }

  /** Append the keys of `docs` to the state table, as they come: one
    * write job, no distinct. Callers pass [[dedupIncremental]] survivors,
    * which are unique by `key` already, and a duplicate state key would
    * only repeat a row the anti join ignores (a replayed append repeats
    * the batch's keys the same way).
    */
  def appendHashState(docs: DataFrame, key: Column, statePath: String): Unit =
    docs.select(key.as("h")).write.mode("append").parquet(statePath)

  /** One ingestion cycle: dedup the snapshot against state, MATERIALIZE the
    * survivors (eager localCheckpoint — the anti join must evaluate against
    * the state as-read, not as-extended: appending first would make the
    * lazy plan drop every survivor against its own just-written hash), then
    * extend the state with the survivors' keys. Returns the survivors.
    *
    * Failure semantics: AT-MOST-ONCE. The survivors live only in executor
    * memory/disk (localCheckpoint) when the state append runs, so a crash
    * after the append but before the caller durably persists the returned
    * frame permanently marks those keys as seen and drops the docs on
    * retry. When retries must not lose documents, use
    * [[ingestIncrementalTo]], which writes the survivors durably BEFORE
    * extending the state.
    */
  def ingestIncremental(newDocs: DataFrame, key: Column, order: Seq[Column],
                        statePath: String): DataFrame = {
    val survivors = dedupIncremental(newDocs, key, order, statePath)
      .localCheckpoint(eager = true)
    appendHashState(survivors, key, statePath)
    survivors
  }

  /** [[ingestIncremental]] with crash-safe ordering: survivors are written
    * to `outPath` (durable, overwrite) FIRST and the state append derives
    * its keys from the files as written. A crash before the append leaves
    * the state unextended — the retry recomputes the same survivors
    * against unchanged state and overwrites the same output; a crash after
    * the append leaves output and state already consistent. Effectively
    * once into the output path, never silent loss. Give each snapshot its
    * own `outPath` (a dated partition dir) since the write is overwrite-
    * mode. Returns the survivors as re-read from `outPath`.
    */
  def ingestIncrementalTo(newDocs: DataFrame, key: Column, order: Seq[Column],
                          statePath: String, outPath: String): DataFrame = {
    dedupIncremental(newDocs, key, order, statePath)
      .write.mode("overwrite").parquet(outPath)
    val written = newDocs.sparkSession.read.parquet(outPath)
    appendHashState(written, key, statePath)
    written
  }
}
