package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

import graft.Sessions
import graft.functions.expressions.DotProduct

/** Embedding similarity search over an `array<float>` column: brute-force
  * cosine top-k as the exact baseline, IVF (inverted-file) bucketing as the
  * scale path.
  *
  * Scale notes: queries are always the broadcast side; per-pair scoring is a
  * single codegen'd [[DotProduct]] over unit-normalized vectors (norms are
  * O(rows), computed once in their own projection, never O(pairs)); the only
  * shuffle is the per-query top-k window, keyed on the (small) query id. For
  * the IVF path the scored row count drops by ~|centroids|/nprobe.
  */
object Similarity {

  /** Sequential-order dot product of two double arrays (deterministic
    * summation order — reproducible across engines; codegen'd kernel).
    */
  def dot(a: Column, b: Column): Column =
    Bridge.column(DotProduct(Bridge.expression(a), Bridge.expression(b)))

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  private def asDouble(c: Column): Column = transform(c, _.cast("double"))

  /** Unit-normalize once (norm computed per ROW, in its own projection, so
    * the per-pair work later is a single dot product — norms are O(rows)
    * instead of O(pairs)). A ZERO vector has no direction: its unit form
    * is NULL (not a division — under ANSI mode, Spark 4's default, x/0
    * THROWS; under legacy mode it would be all-NaN, which sorts ABOVE
    * every real similarity and silently corrupts argmax/top-k). Every
    * consumer already null-guards (null cos filtered in knn, null units
    * dropped in the curation ops), so zero vectors degrade to absent.
    * A NaN-element vector folds to NULL the same way: Spark orders NaN
    * ABOVE every number, so a NaN norm would pass a bare `> 0` gate,
    * yield an all-NaN unit, and poison every downstream argmax/top-k
    * (kCenterSelect's desc sort would pick it first and then crash on
    * BigDecimal(NaN)).
    */
  private[graft] def unitProject(df: DataFrame, idCol: String, idName: String,
                                 vecCol: String, outName: String): DataFrame =
    unitProjectKeep(df, idCol, idName, vecCol, outName, Nil)

  /** Guard every `keep` path at ITS OWN entry point (not just the
    * AnnIndex writers' coarser reserved set): a keep column whose name
    * collides — case-INSENSITIVELY, Spark's default resolution — with the
    * projection's own output or internal names would be silently REPLACED
    * by the norm/bucket/unit projection (metadata corruption, not an
    * error). Public callers of [[ivfAssign]]/[[unitProjectKeep]] hit this
    * directly; the index writers hit it as defense in depth behind their
    * own requireKeepNames.
    */
  private def requireKeepDisjoint(keep: Seq[String], reserved: Seq[String],
                                  op: String): Unit = {
    val res = reserved.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val bad = keep.filter(k => res(k.toLowerCase(java.util.Locale.ROOT)))
    require(bad.isEmpty,
      s"$op: keep columns collide with the projection's own names " +
        s"(${reserved.distinct.sorted.mkString(", ")}): ${bad.mkString(", ")}")
  }

  /** [[unitProject]] carrying extra PAYLOAD columns through the
    * projection unchanged — the denormalization hook for persisted-index
    * builds that store filterable metadata alongside the unit vector
    * (the `dl`-in-postings posture): still one scan projection, no join.
    */
  private[graft] def unitProjectKeep(df: DataFrame, idCol: String,
                                     idName: String, vecCol: String,
                                     outName: String,
                                     keep: Seq[String]): DataFrame = {
    requireKeepDisjoint(keep, Seq(idName, outName, "__v", "__n"),
      "unitProjectKeep")
    df.select(col(idCol).as(idName) +: asDouble(col(vecCol)).as("__v") +:
        keep.map(col): _*)
      .withColumn("__n", norm(col("__v")))
      .select(col(idName) +:
        // finite-positive gate: NaN norms (NaN element) AND Inf norms
        // (overflow element — Inf/Inf division would make a NaN unit
        // that sails through the isnan(norm) check) both fold to NULL
        when(!isnan(col("__n")) && col("__n") > 0 &&
            col("__n") < lit(Double.PositiveInfinity),
          transform(col("__v"), x => x / col("__n")))
          .as(outName) +: keep.map(col): _*)
  }

  /** Exact top-k cosine neighbors for every query row.
    * `queries` must be small enough to broadcast (it is hinted).
    */
  def bruteForceKnn(base: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int): DataFrame = {
    val q = broadcast(unitProject(queries, idCol, "query_id", vecCol, "qv"))
    val b = unitProject(graft.Par.fanOut(base), idCol, "neighbor_id", vecCol, "bv")
    // project the vectors away BEFORE the top-k window: the shuffle keyed on
    // query_id then carries 3 scalars per row instead of the embedding pair
    val scored = q.join(b, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), dot(col("qv"), col("bv")).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), asc("neighbor_id"))
    // null cos = a dimension-mismatched / zero / null-element vector —
    // ranking it would pad the top-k with silent garbage rows
    scored.where(col("cos").isNotNull)
      .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("cos"), 4).as("cos"),
        col("rank").cast("long").as("rank"))
  }

  /** Recall@k of an approximate kNN result against an exact one — the
    * evaluation companion to every nprobe/widenTo/step dial: both inputs
    * are (query_id, neighbor_id, …) frames (any of [[ivfKnn]],
    * [[graft.search.AnnIndex.ivfKnnIndexed]], [[pqKnn]], [[lshKnn]] vs
    * [[bruteForceKnn]] on the same parameters). Per query:
    * |approx ∩ exact| / |exact| over the neighbor-id sets — queries the
    * approximate path missed entirely score 0, never drop out. Both
    * frames are top-k-bounded (|queries| × k rows), so the join
    * broadcasts; no corpus data moves.
    */
  def recallAtK(approx: DataFrame, exact: DataFrame): DataFrame =
    exact.select(col("query_id"), col("neighbor_id"))
      .join(broadcast(approx.select(col("query_id"), col("neighbor_id"))
          .withColumn("__hit", lit(1))),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_exact"),
        round(sum(coalesce(col("__hit"), lit(0))) /
          count(lit(1)).cast("double"), 4).as("recall"))

  /** All pairs above a cosine threshold within a blocked subset — embedding
    * near-dup detection. Pairs are (id_a < id_b).
    */
  def cosineNearDuplicates(df: DataFrame, idCol: String, vecCol: String,
                           threshold: Double): DataFrame = {
    val a = unitProject(graft.Par.fanOut(df), idCol, "id_a", vecCol, "va")
    val b = unitProject(df, idCol, "id_b", vecCol, "vb")
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos", dot(col("va"), col("vb")))
      .where(col("cos") > threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
  }

  /** Greedy farthest-point k-center selection (Gonzalez 1985) over the
    * embedding space — the diversity-subset curation primitive (coreset /
    * DataComp posture: pick k maximally-spread exemplars, e.g. as seeds
    * for stratified labeling or a diversity-weighted mixture). 2-approx
    * of the optimal k-center cover.
    *
    * Deterministic end to end: seeded at the MIN id; each round adds the
    * point with the LARGEST cosine distance (1 − dot over unit vectors)
    * to the selected set, ties to the lower id; points within 1e-9
    * cosine distance of a center (duplicate directions — float
    * normalization leaves ≈2e-16 residue on exact duplicates) are never
    * selected, so the output may legitimately hold fewer than k rows on
    * degenerate inputs, and zero vectors (NaN direction) are dropped
    * up front. Output:
    * (id, rank, dist) — rank = selection order, seed dist 0.0 by
    * convention, dist rounded(6) for oracle replay (internal argmax
    * comparisons run at full double precision).
    *
    * Scale shape: BATCHED lazy-greedy rounds, each ONE narrow codegen'd
    * projection — the running min-distance column folds `least(mind,
    * 1 − dot(v, center))` over the batch's centers inlined as array
    * literals (no join, no broadcast variable) — plus ONE
    * TakeOrderedAndProject collecting the top-m frontier (m starts at
    * max(1024, 4k) and doubles on every recollect, capped at 32768;
    * m·d doubles on the driver). Selections then proceed
    * LOCALLY inside the frontier, maintaining each candidate's exact
    * min-distance, for as long as the running pick strictly exceeds the
    * m-th collected distance τ — distances only ever shrink, so every
    * point outside the frontier sits at ≤ τ and such a pick provably IS
    * the global argmax; at ≤ τ the batch ends and the frontier is
    * recollected. Result rows are therefore IDENTICAL to the one-job-
    * per-point formulation (spec-pinned) while the job count drops from
    * k to the number of batches (≥1s-per-job Spark scheduling was the
    * k=256 wall). O(k·n·d) work, no corpus shuffle anywhere; the state
    * frame is localCheckpoint'd per batch to truncate lineage.
    */
  def kCenterSelect(df: DataFrame, idCol: String, vecCol: String,
                    k: Int): DataFrame =
    kCenterSelect(df, idCol, vecCol, k, frontier0 = 0)

  /** Test seam: `frontier0` > 0 pins the INITIAL frontier size so specs
    * can force τ-crossing recollects (and the doubling schedule) on small
    * fixtures — results are m-independent by the exactness argument
    * above, which is precisely what those specs pin.
    */
  private[graft] def kCenterSelect(df: DataFrame, idCol: String,
                                   vecCol: String, k: Int,
                                   frontier0: Int): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    val spark = df.sparkSession
    import org.apache.spark.sql.types._
    val outSchema = StructType(Seq(
      StructField("id", df.schema(idCol).dataType),
      StructField("rank", LongType, nullable = false),
      StructField("dist", DoubleType, nullable = false)))
    def result(rows: Seq[org.apache.spark.sql.Row]): DataFrame =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toIndexedSeq, math.max(1, rows.size)),
        outSchema)
    // exact tie-breaks inside the local frontier need the id ordering
    // Spark would use distributedly
    val idOrd: Ordering[Any] = df.schema(idCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        Ordering.by { case n: Number => n.longValue }
      case FloatType | DoubleType =>
        Ordering.by { case n: Number => n.doubleValue }
      case StringType =>
        // UTF-8 BINARY comparison, not java.lang.String (UTF-16 code
        // units): Spark's asc("id") orders by UTF8String bytes, and the
        // two disagree on supplementary characters — the local tie-break
        // must match the distributed sort exactly or ties pick a
        // different row than the one-job-per-point formulation
        (x: Any, y: Any) =>
          org.apache.spark.unsafe.types.UTF8String
            .fromString(x.asInstanceOf[String])
            .compareTo(org.apache.spark.unsafe.types.UTF8String
              .fromString(y.asInstanceOf[String]))
      case _: DecimalType =>
        Ordering.by { case d: java.math.BigDecimal => scala.math.BigDecimal(d) }
      case DateType | TimestampType | TimestampNTZType =>
        // Row surfaces these as java.sql.Date/Timestamp (or java.time
        // Instant/LocalDate/LocalDateTime under the java8 API flag) — all
        // Comparable, and their natural order equals Spark's asc(idCol)
        // physical order (days / micros since epoch), so the local
        // tie-break matches the distributed sort like the cases above
        (x: Any, y: Any) => x.asInstanceOf[Comparable[Any]].compareTo(y)
      case other => sys.error(
        s"kCenterSelect: unsupported id type ${other.sql}")
    }
    // zero vectors have no direction to be "far" in — unitProject folds
    // them (and null vectors) to NULL units; drop them up front
    val unit = unitProject(graft.Par.fanOut(df), idCol, "id", vecCol, "v")
      .where(col("v").isNotNull)
    // the seed reads the UN-fanned-out projection: TakeOrdered over the
    // raw scan has no exchange, so the seed costs one job instead of the
    // AQE stage-materialization + result pair the repartitioned frame
    // pays (same rows either way — fanOut only changes partitioning)
    val seed = unitProject(df, idCol, "id", vecCol, "v")
      .where(col("v").isNotNull).orderBy(asc("id")).limit(1).collect()
    if (seed.isEmpty) return result(Nil)
    def vecOf(r: org.apache.spark.sql.Row): Array[Double] =
      r.getSeq[Double](1).toArray
    def distToLit(center: Array[Double]): Column =
      lit(1.0) - dot(col("v"), typedLit(center.toSeq))
    def localDist(a: Array[Double], b: Array[Double]): Double = {
      // same sequential arithmetic as [[Vec.dot]], so local min-distances
      // are bit-identical to the distributed least(1 − graft_dot) folds
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      1.0 - s
    }
    val picked = scala.collection.mutable.ArrayBuffer(
      org.apache.spark.sql.Row(seed.head.get(0), 1L, 0.0))
    // frontier size: big enough that one collect usually feeds many picks
    // (or, on corpora smaller than m, ALL of them — a sub-m frontier drops
    // τ to −∞ and the whole selection finishes in one collect), small
    // enough that m·d doubles stay trivially driver-sized. Starts at
    // max(1024, 4k) and DOUBLES on every τ-crossing recollect: each
    // recollect is one full Spark job over the checkpointed state, and
    // under host load the per-job scheduling floor — not the scan — was
    // the r14 sample spread (2.6–6.0 s on a loaded host at k=4), so the
    // batch count must shrink geometrically, not stay proportional to
    // k/m. Cap 32768: ≲32 MB of frontier vectors at d=128 on the driver.
    var m =
      if (frontier0 > 0) frontier0
      else math.max(1024, math.min(8192, 4 * k))
    var pendingCenters: List[Array[Double]] = List(vecOf(seed.head))
    var state: DataFrame = unit
    var haveMind = false
    var prevToRelease: Option[DataFrame] = None
    var r = 2
    var done = false
    while (r <= k && !done) {
      // fold every center picked since the last collect into __mind in
      // ONE projection, then LAZY checkpoint: the state materializes
      // during the frontier collect below (one job per batch)
      val batchDist = pendingCenters.map(distToLit).reduceLeft(least(_, _))
      val newMind =
        if (haveMind) least(col("__mind"), batchDist) else batchDist
      val next = state.withColumn("__mind", newMind)
        .select(col("id"), col("v"), col("__mind"))
        .localCheckpoint(eager = false)
      if (haveMind) prevToRelease = Some(state)
      state = next
      haveMind = true
      pendingCenters = Nil
      // 1e-9, not 0: inexact float normalization leaves an already-
      // selected center (and its exact duplicates) with mind ≈ 2e-16
      // rather than exactly 0 — a > 0 guard would re-select the seed
      // forever once distinct directions run out. Anything under 1e-9
      // cosine distance IS a duplicate direction at float32 precision.
      val frontier = state.where(col("__mind") > 1e-9)
        .orderBy(desc("__mind"), asc("id")).limit(m).collect()
      prevToRelease.foreach(org.apache.spark.sql.graft.Bridge.releaseLocalCheckpoint)
      prevToRelease = None
      if (frontier.isEmpty) done = true
      else {
        // τ = the smallest collected distance: everything OUTSIDE the
        // frontier is at ≤ τ and can only shrink, so a local pick
        // strictly above τ is the exact global argmax. The FIRST pick of
        // a fresh frontier is exact even AT τ: its values are the true
        // current distances, so the local best is row 0 of the top-m
        // collect — the global argmax with the global tie-break (if more
        // than m points share the max, the collect's asc-id order put
        // the lowest id first). Later picks at τ are not taken (their
        // values have been updated locally; an outside point could tie
        // with a lower id) — the batch ends and recollects. A frontier
        // smaller than m holds EVERY selectable point, so τ drops to −∞
        // and the rest of the selection finishes locally.
        val tau =
          if (frontier.length < m) Double.NegativeInfinity
          else frontier.last.getDouble(2)
        val ids = frontier.map(_.get(0))
        val vecs = frontier.map(vecOf)
        val minds = frontier.map(_.getDouble(2))
        val alive = Array.fill(frontier.length)(true)
        var picksThisBatch = 0
        var localPicking = true
        while (localPicking && r <= k) {
          var best = -1
          var i = 0
          while (i < minds.length) {
            if (alive(i) && minds(i) > 1e-9 &&
              (best < 0 || minds(i) > minds(best) ||
                (minds(i) == minds(best) && idOrd.lt(ids(i), ids(best)))))
              best = i
            i += 1
          }
          if (best < 0 || (minds(best) <= tau && picksThisBatch > 0))
            localPicking = false
          else {
            picked += org.apache.spark.sql.Row(ids(best), r.toLong,
              BigDecimal(minds(best))
                .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
            r += 1
            picksThisBatch += 1
            alive(best) = false
            pendingCenters = vecs(best) :: pendingCenters
            var j = 0
            while (j < minds.length) {
              if (alive(j))
                minds(j) = math.min(minds(j), localDist(vecs(j), vecs(best)))
              j += 1
            }
          }
        }
        // a partial frontier (τ = −∞) only stops on exhaustion or r > k —
        // exhaustion there means nothing selectable remains ANYWHERE; a
        // full frontier that stopped just recollects (every batch picks
        // at least once, so the loop always progresses)
        if (frontier.length < m && r <= k) done = true
        else if (r <= k) m = math.min(32768, m * 2)
      }
    }
    prevToRelease.foreach(org.apache.spark.sql.graft.Bridge.releaseLocalCheckpoint)
    if (haveMind)
      org.apache.spark.sql.graft.Bridge.releaseLocalCheckpoint(state)
    result(picked.toSeq)
  }

  /** SemDeDup-style semantic near-dup pairs (Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic deduplication"):
    * cluster with the deterministic IVF assignment, then score pairwise
    * cosine INSIDE each bucket only — the O(n²) cross-corpus comparison
    * collapses to Σ b² over bucket sizes, the same blocking trade MinHash
    * bands make for text.
    *
    * Scale shape: the assignment (the IVF index — one broadcast join + one
    * hash aggregate over the corpus) is materialized ONCE via eager local
    * checkpoint; Spark does NOT reuse the exchange across self-join arms
    * with differing projections, so without it the index would compute
    * once per arm. The self-join then shuffles the (id, unit-vector,
    * bucket) index on the bucket; pair volume is bounded per bucket — size
    * the centroid count so buckets stay ≪ √corpus, and handle degenerate
    * hot buckets as exact-duplicate classes the way LSH `maxBucket` does.
    * On a cluster where executor loss must be survivable, swap the local
    * checkpoint for a reliable one (or persist the index table — it is
    * exactly what an ANN index store would hold).
    *
    * `tables` > 1 unions pairs from independent centroid samples (offsets
    * into the id space) — the same recall-vs-cost dial as LSH's nTables.
    * On clusterable embeddings one table suffices (pairs live inside
    * clusters); on structure-poor data the trade was measured once, at
    * sf0.01 synthetic uniform vectors: 0.32/0.52/0.73 recall at 1/2/4
    * tables, one extra corpus assignment each.
    */
  def semanticNearDuplicates(df: DataFrame, idCol: String, vecCol: String,
                             threshold: Double, step: Int,
                             tables: Int = 1,
                             maxBucket: Int = 10000): DataFrame = {
    require(tables >= 1, "need at least one LSH/IVF table")
    (0 until tables).map { r =>
      val assigned = ivfAssign(df, idCol, vecCol, step, offset = r)
        .localCheckpoint(true)
      // materialize the (tiny, candidate-bounded) pairs eagerly so the
      // corpus-sized index blocks can be dropped before this returns
      val p = pairsFromAssigned(assigned, idCol, threshold, maxBucket)
        .localCheckpoint(true)
      org.apache.spark.sql.graft.Bridge.releaseLocalCheckpoint(assigned)
      p
      // max(cos): a pair can be an overflow-class edge (cos 1.0) in one
      // table and a scored pair in another — dropDuplicates would keep an
      // arbitrary one run to run; the max is deterministic (and the 1.0
      // exact-dup class correctly dominates)
    }.reduce(_ union _).groupBy("id_a", "id_b")
      .agg(max("cos").as("cos"))
  }

  /** In-bucket pairwise scoring with the same skew guard LSH candidate
    * generation applies (MinHash.candidatesFromSignatures): a bucket of b
    * rows expands to b² scored pairs, so one degenerate centroid —
    * collapsed embeddings, an all-zeros column, boilerplate — would
    * otherwise hold the whole b²-pair blow-up on a single task. Buckets
    * above `maxBucket` skip pairwise scoring entirely and are emitted as
    * an exact-duplicate CLASS instead: every member chained to the
    * bucket's minimum id (b−1 pairs, `cos` reported as 1.0), which the
    * downstream connected-components representative-keep collapses the
    * same way it would the pairwise clique. Pair volume is thereby hard-
    * bounded at maxBucket × rows. The bucket-size frame joins on `bucket`,
    * the same key the self-join shuffles on, so co-partitioning is reused
    * rather than re-shuffled.
    */
  private[graft] def pairsFromAssigned(assigned: DataFrame, idCol: String,
                                threshold: Double,
                                maxBucket: Int = 10000): DataFrame = {
    val sizes = assigned.groupBy("bucket")
      .agg(count(lit(1)).as("__bsz"), min(col(idCol)).as("__rep"))
    val aug = assigned.join(sizes, Seq("bucket"))
    val normal = aug.where(col("__bsz") <= maxBucket)
    val a = normal.select(col("bucket"), col(idCol).as("id_a"), col("bv").as("va"))
    val b = normal.select(col("bucket"), col(idCol).as("id_b"), col("bv").as("vb"))
    val scored = a.join(b, Seq("bucket")).where(col("id_a") < col("id_b"))
      .withColumn("cos", dot(col("va"), col("vb")))
      .where(col("cos") > threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
    val overflow = aug
      .where(col("__bsz") > maxBucket && col(idCol) =!= col("__rep"))
      .select(col("__rep").as("id_a"), col(idCol).as("id_b"), lit(1.0).as("cos"))
    scored.unionByName(overflow)
  }

  /** SemDeDup end-to-end: keep one representative (minimum id) per
    * connected cluster of semantic near-dups; unpaired rows pass through.
    * The (tiny, candidate-bounded) pair list is materialized eagerly so the
    * connected-components rounds and the union of its two direction arms
    * never recompute the bucket join, and the index blocks are released as
    * soon as the pairs exist.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, step: Int, tables: Int = 1,
                    maxBucket: Int = 10000): DataFrame =
    graft.operators.Dedup.keepClusterRepresentative(df, idCol,
      semanticNearDuplicates(df, idCol, vecCol, threshold, step, tables, maxBucket))

  /** Deterministic IVF index: centroids are the vectors whose id ≡ 0 mod
    * `step` (a deterministic sample — swap in k-means outputs when
    * available); every vector is assigned to its nearest centroid.
    * Vectors carry their unit form so probing never recomputes norms.
    * `keep`: extra `base` columns carried through the assignment
    * projection verbatim (the persisted-index metadata hook — see
    * [[graft.search.AnnIndex.writeIvfIndex]]); still one scan, no join.
    */
  def ivfAssign(base: DataFrame, idCol: String, vecCol: String, step: Int,
                offset: Int = 0, hashedIds: Boolean = false,
                keep: Seq[String] = Nil): DataFrame = {
    // step = 0 would make `id % step` NULL in non-ANSI Spark — an empty
    // centroid set and a silent no-op for every downstream consumer
    require(step > 0, s"ivf step must be positive, got $step")
    // this path's own outputs on top of unitProjectKeep's internal guard:
    // a keep named "bucket"/"bv" would be silently replaced downstream
    requireKeepDisjoint(keep, Seq(idCol, "bv", "bucket"), "ivfAssign")
    val b = unitProjectKeep(base, idCol, idCol, vecCol, "bv", keep)
    // hashedIds: non-numeric ids (CLI corpora, UUID keys) — an id-modulo
    // sample would cast-null every row and silently select ZERO
    // centroids. Select ~1/step by id hash and use the hash AS the (long)
    // bucket id, the writeIvfIndex mapping: a collision merely merges two
    // buckets, and every consumer sees an id-type-independent bucket
    // a zero-vector "centroid" has no direction (NULL unit) and could
    // only ever collect null similarities — exclude it from the sample
    val sample0 =
      if (!hashedIds) b.where(col(idCol) % step === offset)
      else b.where(pmod(xxhash64(col(idCol).cast("string")), lit(step.toLong))
        === lit(offset.toLong))
    val sample = sample0.where(col("bv").isNotNull)
    val (cents, bucketType) =
      gatherFineCentroids(base, b, sample, idCol, step, hashedIds, "ivfAssign")
    if (cents.isEmpty)
      return b.select(col(idCol) +: col("bv") +:
        lit(null).cast(bucketType).as("bucket") +: keep.map(col): _*)
    // assignment as ONE codegen'd projection probing the broadcast
    // centroid table — no |base|×|centroids| join expansion and, decisive
    // at scale, no corpus-wide re-grouping shuffle carrying the unit
    // vectors (the former groupBy(id).agg(max_by, first(bv)) shape).
    // Zero/NaN/null-element vectors (NULL unit) get a NULL bucket — no
    // direction, no nearest centroid — and every consumer's inner bucket
    // join or explicit isNotNull filter drops them.
    assignWithCentroids(b, idCol, cents, keep)
      .select(col(idCol) +: col("bv") +:
        col("bucket").cast(bucketType).as("bucket") +: keep.map(col): _*)
  }

  /** Integral-type guard for every id/centroid-id column the probe
    * kernels carry as a long: a DoubleType id would `.cast("long")`
    * TRUNCATE silently (distinct fractional ids merge into one bucket)
    * and a StringType id casts to null and NPEs at `Row.getLong` — fail
    * fast with the dial to turn instead.
    */
  private[graft] def requireIntegralId(df: DataFrame, colName: String, op: String,
                                hint: String): Unit =
    df.schema(df.schema.fieldIndex(colName)).dataType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => ()
      case other => sys.error(s"$op: column '$colName' has " +
        s"non-integral type ${other.sql} — $hint")
    }

  /** The shared centroid-sample gather: integral-id guard (the probe
    * kernels carry centroid ids as longs — fractional ids would truncate
    * silently; they are what hashedIds exists for), ONE limit-capped
    * collect that doubles as the too-small-step guard (the driver never
    * receives more than cap+1 rows — a miscalibrated step fails fast with
    * the dial to turn instead of OOMing mid-collect, and no separate
    * sizing job lands on the operator's wall clock), ascending-id sort
    * (the kernels probe with strict `>`, so ties resolve to the LOWEST
    * centroid id — max_by(struct(csim, -cid)) ordering, the oracle's
    * `ORDER BY d DESC, centroid_id`), and the loud zero-centroids check
    * (a silent drop-everything otherwise — the hashedIds filter is
    * probabilistic ~1/step, so small corpora hit it routinely; an empty
    * corpus degrades to empty).
    */
  private def gatherFineCentroids(base: DataFrame, b: DataFrame,
                                  sample: DataFrame, idCol: String,
                                  step: Int, hashedIds: Boolean, op: String)
      : (Array[(Long, Array[Double])], org.apache.spark.sql.types.DataType) = {
    if (!hashedIds) requireIntegralId(base, idCol, op,
      "pass hashedIds = true")
    val centKey =
      if (!hashedIds) col(idCol).cast("long")
      else xxhash64(col(idCol).cast("string"))
    val centCap = 1 << 16
    val rows = Sessions.gatherCapped(
      sample.select(centKey.as("cid"), col("bv")), centCap)
    require(rows.nonEmpty,
      s"$op: step=$step yields more than $centCap sampled centroids " +
        "on this corpus — raise step (or the cap)")
    val cents = rows.get
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    if (cents.isEmpty && !b.isEmpty) sys.error(
      s"$op: step=$step selected ZERO centroids on this corpus — " +
        "lower step" + (if (hashedIds) " (the hashedIds filter is " +
        "probabilistic: ~1/step)" else ""))
    val bucketType =
      if (hashedIds) org.apache.spark.sql.types.LongType
      else base.schema(base.schema.fieldIndex(idCol)).dataType
    (cents, bucketType)
  }

  /** Two-level IVF assignment — [[ivfAssign]] behind a COARSE QUANTIZER
    * for centroid tables too large to probe flat (the flat kernel's
    * per-row cost is O(|centroids|·dim); at ≫10⁴ centroids — the 100-TB
    * regime where n/step stays index-sized only if step grows with the
    * corpus — that argmax dominates the scan). The fine sample is the
    * same deterministic id-mod-step set; every √C-th fine centroid (by
    * id rank) forms the coarse level, each fine centroid joins its
    * nearest coarse cell (driver-side, tiny), and each row probes the
    * top-`coarseProbes` coarse cells' members only: O((√C·(1+probes))·dim)
    * per row. With `coarseProbes` ≥ the coarse count the result is
    * BIT-IDENTICAL to [[ivfAssign]] (spec-pinned); smaller values trade
    * assignment recall for the √C probe cost — the standard IVF
    * coarse-quantizer deal (a misassigned row lands in a near-tied
    * neighboring cell, which bucket-local consumers tolerate by
    * construction). Output schema matches [[ivfAssign]].
    */
  def ivfAssignCoarse(base: DataFrame, idCol: String, vecCol: String,
                      step: Int, coarseProbes: Int = 4, offset: Int = 0,
                      hashedIds: Boolean = false): DataFrame = {
    require(step > 0, s"ivf step must be positive, got $step")
    val b = unitProject(base, idCol, idCol, vecCol, "bv")
    val sample0 =
      if (!hashedIds) b.where(col(idCol) % step === offset)
      else b.where(pmod(xxhash64(col(idCol).cast("string")), lit(step.toLong))
        === lit(offset.toLong))
    val sample = sample0.where(col("bv").isNotNull)
    val (cents, bucketType) = gatherFineCentroids(base, b, sample, idCol,
      step, hashedIds, "ivfAssignCoarse")
    if (cents.isEmpty)
      return b.select(col(idCol), col("bv"),
        lit(null).cast(bucketType).as("bucket"))
    b.withColumn("__best",
        nestedBestColumn(base.sparkSession.sparkContext, cents, coarseProbes))
      .select(col(idCol), col("bv"),
        col("__best").getField("bucket").cast(bucketType).as("bucket"))
  }

  /** The nested (coarse-quantized) assignment kernel column over `bv`:
    * builds the coarse cells driver-side and returns the
    * [[graft.functions.expressions.BestCentroidNested]] struct column
    * (`bucket`, `csim`). Extracted so every flat-kernel caller can swap
    * in the sub-linear probe behind [[autoBestColumn]]'s gate.
    */
  private def nestedBestColumn(sc: org.apache.spark.SparkContext,
                               cents: Array[(Long, Array[Double])],
                               coarseProbes: Int): Column = {
    // coarse level: every √C-th fine centroid by ascending-id rank —
    // deterministic, and the cell list inherits ascending coarse-id order
    // (the kernel's tie-break relies on it)
    val coarseStride = math.max(1, math.ceil(math.sqrt(cents.length)).toInt)
    val coarseIdx = cents.indices.by(coarseStride).toArray
    val coarseVecs = coarseIdx.map(i => cents(i)._2)
    // fine → nearest coarse cell, driver-side: sequential dots, strict >
    // keeps the lower cell index on ties (ascending coarse id)
    def cellOf(v: Array[Double]): Int = {
      var best = 0; var bd = Double.NegativeInfinity
      var c = 0
      while (c < coarseVecs.length) {
        val cv = coarseVecs(c)
        if (cv.length == v.length) {
          var s = 0.0; var i = 0
          while (i < v.length) { s += v(i) * cv(i); i += 1 }
          if (s > bd) { bd = s; best = c }
        }
        c += 1
      }
      best
    }
    val byCell = Array.fill(coarseVecs.length)(
      scala.collection.mutable.ArrayBuffer.empty[Int])
    cents.indices.foreach(i => byCell(cellOf(cents(i)._2)) += i)
    val offsets = new Array[Int](coarseVecs.length + 1)
    val order = scala.collection.mutable.ArrayBuffer.empty[Int]
    byCell.indices.foreach { c =>
      offsets(c) = order.length
      order ++= byCell(c) // fine members keep ascending-id order per cell
    }
    offsets(coarseVecs.length) = order.length
    Bridge.column(
      graft.functions.expressions.BestCentroidNested(
        Bridge.expression(col("bv")),
        sc.broadcast(coarseVecs),
        sc.broadcast(offsets),
        sc.broadcast(order.map(i => cents(i)._1).toArray),
        sc.broadcast(order.map(i => cents(i)._2).toArray),
        coarseProbes))
  }

  /** Session dials for the centroid-count gate every flat-kernel
    * consumer sits behind (r13 verdict task #1): above
    * `graft.ann.coarseGate` centroids (default 4096) assignment switches
    * from the flat O(C·d)-per-row [[graft.functions.expressions.BestCentroid]]
    * probe to the two-level [[graft.functions.expressions.BestCentroidNested]]
    * kernel. `graft.ann.coarseProbes` is the recall dial: ≤ 0 (the
    * default) probes EVERY coarse cell — bit-identical to the flat
    * kernel at any centroid count (spec-pinned), so engaging the gate
    * never changes results until the caller explicitly trades recall;
    * small positive values (4 is the measured 5.7–6× point at 12.5k
    * centroids, SCALE.md's two-level IVF assignment row) buy the √C
    * speedup.
    */
  private[graft] val CoarseGateConf = "graft.ann.coarseGate"
  private[graft] val CoarseProbesConf = "graft.ann.coarseProbes"

  /** Read an integer session dial loudly — a garbage value set outside
    * the CLI's validated `--conf` path would otherwise surface as a bare
    * NumberFormatException that names neither the key nor the value.
    */
  private[graft] def intConf(spark: org.apache.spark.sql.SparkSession,
                             key: String, default: Int): Int = {
    val raw = spark.conf.get(key, default.toString)
    try raw.trim.toInt
    catch { case _: NumberFormatException =>
      sys.error(s"session conf $key must be an integer, got '$raw'") }
  }

  /** The gated assignment kernel column over `bv`: flat below the gate,
    * nested above it. Every consumer of driver-side centroid arrays
    * (ivfAssign → semanticDedup / clusterBalancedSample / AnnIndex
    * builds, kmeansCentroids' Lloyd rounds, ivfKnnWith, clusterProfile)
    * routes through here, so the ≫10⁴-centroid regime gets the
    * sub-linear probe without per-call-site wiring.
    */
  private def autoBestColumn(spark: org.apache.spark.sql.SparkSession,
                             cents: Array[(Long, Array[Double])]): Column = {
    val gate = intConf(spark, CoarseGateConf, 4096)
    val sc = spark.sparkContext
    if (cents.length <= gate)
      Bridge.column(
        graft.functions.expressions.BestCentroid(
          Bridge.expression(col("bv")),
          sc.broadcast(cents.map(_._1)), sc.broadcast(cents.map(_._2))))
    else {
      val probes0 = intConf(spark, CoarseProbesConf, 0)
      // ≤ 0 = probe every coarse cell (the kernel clamps to the cell
      // count): exact, so the gate is results-neutral by default
      nestedBestColumn(sc, cents,
        if (probes0 <= 0) Int.MaxValue else probes0)
    }
  }

  /** `(id, bv, bucket)` nearest-centroid assignment against a DRIVER-side
    * centroid array via the [[graft.functions.expressions.BestCentroid]]
    * kernel — one codegen scan projection, zero shuffle. `cents` MUST be
    * sorted by id ascending (ties take the lowest id); null-unit rows get
    * a NULL bucket.
    */
  private def assignWithCentroids(b: DataFrame, idCol: String,
                                  cents: Array[(Long, Array[Double])],
                                  keep: Seq[String] = Nil): DataFrame =
    b.withColumn("__best", autoBestColumn(b.sparkSession, cents))
      .select(col(idCol) +: col("bv") +:
        col("__best").getField("bucket").as("bucket") +: keep.map(col): _*)

  /** Gather an index-sized `(centroid_id, cv)` FRAME (cap-guarded, one
    * limit-capped collect) and assign `b`'s unit vectors via the gated
    * kernel — the shared shape for every caller holding centroids as a
    * DataFrame ([[ivfKnnWith]], the [[graft.search.AnnIndex]] build and
    * append paths). One codegen scan projection, zero shuffle — replaces
    * the join + groupBy(id) re-aggregation that shuffled unit vectors
    * corpus-wide. Null-cv centroids are dropped (no direction — they
    * could never win the argmax); null-unit rows keep a NULL bucket.
    */
  private[graft] def assignWithCentroidFrame(b: DataFrame, idCol: String,
                                             centroids: DataFrame,
                                             op: String,
                                             keep: Seq[String] = Nil)
      : DataFrame = {
    val cents = gatherCentroidFrame(centroids, op)
    assignWithCentroidArray(b, idCol, cents, keep)
  }

  /** [[assignWithCentroidFrame]] for callers that already hold the
    * gathered (ascending-id-sorted, non-null) centroid array — the
    * build-side fast path shares ONE capped collect between this
    * kernel broadcast, the `__centroids` side-table write and the
    * `ncents` metadata instead of paying a collect job per consumer
    * (r18 job-count optimization; at corpus scale each removed job was
    * a separate pass or side-table scan).
    */
  private[graft] def assignWithCentroidArray(b: DataFrame, idCol: String,
                                             cents: Array[(Long, Array[Double])],
                                             keep: Seq[String] = Nil)
      : DataFrame =
    if (cents.isEmpty)
      b.select(col(idCol) +: col("bv") +:
        lit(null).cast("long").as("bucket") +: keep.map(col): _*)
    else assignWithCentroids(b, idCol, cents, keep)

  /** Centroid tables above this row count (session dial
    * `graft.ann.maxGatheredCentroids`, default 2^16) are not gathered to
    * a driver array for the kernels (2^16 × 128-dim doubles ≈ 67 MB
    * broadcast — the sane ceiling for a per-row probe array). Callers
    * that can serve the over-cap regime another way (a broadcast-join
    * fallback, the coarse quantizer) use [[gatherCentroidFrameOpt]] and
    * branch on None.
    */
  private[graft] val MaxGatheredCentroidsConf = "graft.ann.maxGatheredCentroids"
  private[graft] val MaxGatheredCentroidsDefault: Int = 1 << 16

  private[graft] def maxGatheredCentroids(spark: org.apache.spark.sql.SparkSession): Int =
    intConf(spark, MaxGatheredCentroidsConf, MaxGatheredCentroidsDefault)

  /** ONE limit-capped driver gather of an index-sized `(centroid_id, cv)`
    * frame for the probe/assignment kernels: null-cv rows dropped (no
    * direction — never comparable), ascending-id sort (the kernels'
    * tie-break contract), loud failure over the cap.
    */
  private[graft] def gatherCentroidFrame(centroids: DataFrame,
                                  op: String): Array[(Long, Array[Double])] =
    gatherCentroidFrameOpt(centroids).getOrElse(sys.error(
      s"$op: centroid table exceeds the gather cap " +
        s"($MaxGatheredCentroidsConf, default $MaxGatheredCentroidsDefault " +
        "rows) — it must be index-sized (broadcast to every probe)"))

  /** [[gatherCentroidFrame]] that returns None over the cap instead of
    * throwing — ONE limit-capped collect job either way.
    */
  private[graft] def gatherCentroidFrameOpt(
      centroids: DataFrame): Option[Array[(Long, Array[Double])]] = {
    val cap = maxGatheredCentroids(centroids.sparkSession)
    Sessions.gatherCapped(centroids
      .select(col("centroid_id").cast("long").as("cid"), col("cv"))
      .where(col("cv").isNotNull), cap)
      .map(_.map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1))
  }

  /** Query-side IVF probe selection as ONE codegen scan projection
    * ([[graft.functions.expressions.TopCentroids]]): `(query_id, qv,
    * bucket)`, one row per probed bucket in rank order. Replaces the
    * `queries × broadcast(centroids)` join + per-query row_number window
    * — whose window sort shuffles ALL Q×C probe-candidate rows — with a
    * zero-shuffle explode; selection order (csim DESC, centroid_id ASC)
    * and incomparable-centroid handling replay the window exactly (kernel
    * scaladoc has the argument). `bucketType` casts the long bucket back
    * to the assignment side's key type so the probe join stays cast-free.
    */
  private[graft] def probeTopCentroids(q: DataFrame,
                                cents: Array[(Long, Array[Double])],
                                nprobe: Int,
                                bucketType: org.apache.spark.sql.types.DataType
                                  = org.apache.spark.sql.types.LongType): DataFrame = {
    val sc = q.sparkSession.sparkContext
    val topCol = Bridge.column(graft.functions.expressions.TopCentroids(
      Bridge.expression(col("qv")),
      sc.broadcast(cents.map(_._1)), sc.broadcast(cents.map(_._2)), nprobe))
    q.select(col("query_id"), col("qv"), explode(topCol).as("__pb"))
      .select(col("query_id"), col("qv"),
        col("__pb").getField("bucket").cast(bucketType).as("bucket"))
  }

  /** [[probeTopCentroids]] with `explode_outer` and pass-through `extra`
    * columns: EVERY query row survives (a null-unit or starved query
    * keeps one row with a NULL bucket), so one collect of this frame
    * serves probe selection, the per-query dimension validation that was
    * previously its own scan job, and the literal bucket-prune list
    * (r18 job-count optimization). Rows with a non-null bucket are
    * bit-identical to [[probeTopCentroids]] output.
    */
  private[graft] def probeTopCentroidsOuter(q: DataFrame,
                                cents: Array[(Long, Array[Double])],
                                nprobe: Int,
                                extra: Seq[String],
                                bucketType: org.apache.spark.sql.types.DataType
                                  = org.apache.spark.sql.types.LongType): DataFrame = {
    val sc = q.sparkSession.sparkContext
    val topCol = Bridge.column(graft.functions.expressions.TopCentroids(
      Bridge.expression(col("qv")),
      sc.broadcast(cents.map(_._1)), sc.broadcast(cents.map(_._2)), nprobe))
    q.select(col("query_id") +: col("qv") +:
        explode_outer(topCol).as("__pb") +: extra.map(col): _*)
      .select(col("query_id") +: col("qv") +:
        col("__pb").getField("bucket").cast(bucketType).as("bucket") +:
        extra.map(col): _*)
  }

  /** [[probeTopCentroidsOuter]] with the probe RANK exposed
    * (`posexplode_outer` — 0-based position in the kernel's rank order):
    * the calibration sweeps probe ONCE at the largest swept dial and
    * derive every smaller setting's probe set as the `prank < n` prefix
    * (probe sets are nested prefixes of the centroid ranking by
    * construction), instead of re-probing per setting.
    */
  private[graft] def probeTopCentroidsRankedOuter(q: DataFrame,
                                cents: Array[(Long, Array[Double])],
                                nprobe: Int,
                                extra: Seq[String],
                                bucketType: org.apache.spark.sql.types.DataType
                                  = org.apache.spark.sql.types.LongType): DataFrame = {
    val sc = q.sparkSession.sparkContext
    val topCol = Bridge.column(graft.functions.expressions.TopCentroids(
      Bridge.expression(col("qv")),
      sc.broadcast(cents.map(_._1)), sc.broadcast(cents.map(_._2)), nprobe))
    q.select(col("query_id") +: col("qv") +:
        posexplode_outer(topCol).as(Seq("prank", "__pb")) +:
        extra.map(col): _*)
      .select(col("query_id") +: col("qv") +: col("prank") +:
        col("__pb").getField("bucket").cast(bucketType).as("bucket") +:
        extra.map(col): _*)
  }

  /** Cluster-balanced sample: up to `perCluster` vectors per IVF cluster,
    * chosen by deterministic md5-of-id rank — a semantically balanced
    * subset however skewed the cluster masses are. The embedding-space
    * analogue of per-source `Analyses.samplePerGroup`: pair with
    * [[clusterProfile]] / `Analyses.mixturePlan` for diversity-weighted
    * curation without source labels, or use as the cheap wide-coverage
    * complement to [[kCenterSelect]] (k-center maximizes spread of FEW
    * exemplars; this bounds every region's share of MANY). Deterministic
    * and rerun-stable. Output: (idCol, bucket, rank).
    *
    * Scale shape: one [[ivfAssign]] scan (codegen BestCentroid
    * hash aggregation) + one rank window partitioned on the bucket id —
    * the `rank <= n` filter pushes a partial WindowGroupLimit below the
    * exchange, so no task sorts more than ~perCluster rows per bucket.
    */
  def clusterBalancedSample(df: DataFrame, idCol: String, vecCol: String,
                            step: Int, perCluster: Int,
                            offset: Int = 0,
                            hashedIds: Boolean = false): DataFrame = {
    require(perCluster > 0, s"perCluster must be positive, got $perCluster")
    val asg = ivfAssign(graft.Par.fanOut(df), idCol, vecCol, step, offset,
        hashedIds)
      // zero/null vectors have no direction (NULL unit from unitProject):
      // their null similarities would land them in an arbitrary bucket
      // where small md5 ranks could evict REAL members from the quota —
      // drop them
      .where(col("bv").isNotNull)
    val w = Window.partitionBy("bucket")
      .orderBy(asc("__cbs_h"), col(idCol).asc)
    asg.withColumn("__cbs_h", md5(col(idCol).cast("string")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= perCluster)
      .select(col(idCol), col("bucket"), col("rank").cast("long").as("rank"))
  }

  /** The caller-capped centroid-sample gather [[clusterProfile]] and
    * [[kmeansCentroids]] share: integral-id guard, null-unit seeds
    * dropped, ONE limit-capped collect doubling as the too-small-step
    * guard (the ivfAssign pattern), ascending-id sort. Empty-sample
    * handling stays with the caller (clusterProfile degrades to an empty
    * profile; kmeansCentroids errors loudly).
    */
  private def gatherSampleCentroids(base: DataFrame, b: DataFrame,
                                    idCol: String, step: Int,
                                    maxCentroids: Int, op: String)
      : Array[(Long, Array[Double])] = {
    requireIntegralId(base, idCol, op,
      "hash ids to a long upstream (the hashedIds/xxhash64 pattern) — " +
        "a fractional id would truncate into a colliding centroid bucket")
    val rows = Sessions.gatherCapped(
      b.where(col(idCol) % step === 0 && col("bv").isNotNull)
        .select(col(idCol).cast("long"), col("bv")), maxCentroids)
    require(rows.nonEmpty,
      s"$op: step=$step yields more than $maxCentroids sampled " +
        "centroids on this corpus — raise step (or maxCentroids)")
    rows.get.map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
  }

  /** Embedding-cluster profile — the unlabeled-mixture card (DoReMi-style
    * domain discovery without source labels): every vector assigned to its
    * nearest deterministic IVF centroid, per-cluster mass and coherence
    * reported. Feed the (centroid_id → weight) choices into
    * [[graft.operators.Analyses.mixturePlan]] keyed on the cluster id to
    * mix by embedding domain instead of named source.
    *
    * Scale shape: identical to [[ivfAssign]] — the assignment argmax is
    * ONE codegen'd projection probing the broadcast centroid table
    * ([[graft.functions.expressions.BestCentroid]]); the only shuffle is
    * the cluster-count-sized partial agg. Zero/null-direction vectors are
    * excluded from the profile (they have no nearest centroid).
    *
    * The centroid count is n/`step`, a CALLER dial — and the centroids are
    * broadcast, so a step miscalibrated for the corpus size would grow the
    * broadcast (and every executor's copy) linearly with n. `maxCentroids`
    * enforces the "index-sized" contract: the sample is counted first
    * (a one-column scan with an early-abort limit) and a too-small step
    * fails fast with the step to use instead of OOMing mid-broadcast.
    */
  def clusterProfile(base: DataFrame, idCol: String, vecCol: String,
                     step: Int, maxCentroids: Int = 8192): DataFrame = {
    val b = unitProject(base, idCol, idCol, vecCol, "bv")
    val idType = base.schema(base.schema.fieldIndex(idCol)).dataType
    val cents = gatherSampleCentroids(base, b, idCol, step, maxCentroids,
      "clusterProfile")
    if (cents.isEmpty)
      return b.select(col(idCol).as("centroid_id"), lit(0L).as("n_members"),
        lit(0.0).as("mean_cosine")).where(lit(false))
    b.select(autoBestColumn(base.sparkSession, cents).as("__best"))
      .where(col("__best").isNotNull)
      .groupBy(col("__best").getField("bucket").cast(idType).as("centroid_id"))
      .agg(count(lit(1)).as("n_members"),
        round(avg(col("__best").getField("csim")), 6).as("mean_cosine"))
  }

  /** Lloyd-refined IVF centroids: start from the deterministic id-mod-step
    * sample and run `iters` rounds of assign → per-bucket spherical mean.
    *
    * Scale shape: the centroid table is index-sized (≤ thousands), so each
    * round is ONE corpus scan — assignment is a codegen BestCentroid scan
    * projection (zero shuffle), and the per-bucket mean reduces via (bucket, position) keys
    * with map-side partial aggregation (shuffle volume = partitions × k ×
    * dim, independent of corpus size) before collecting k × dim means to
    * the driver for renormalization. Empty buckets keep their previous
    * centroid. Returns a `(centroid_id, cv)` frame for [[ivfKnnWith]].
    */
  def kmeansCentroids(base: DataFrame, idCol: String, vecCol: String,
                      step: Int, iters: Int = 3,
                      maxCentroids: Int = 8192): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    val b = unitProject(base, idCol, idCol, vecCol, "bv")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val seeds = gatherSampleCentroids(base, b, idCol, step, maxCentroids,
        "kmeansCentroids")
      require(seeds.nonEmpty,
        s"kmeansCentroids: step=$step selected ZERO seed centroids — lower " +
          "step (an empty centroid frame would silently return zero " +
          "neighbors for every query)")
      lloydRefine(b, idCol, seeds, iters).toSeq
        .map { case (cid, v) => (cid, v.toSeq) }.toDF("centroid_id", "cv")
    } finally b.unpersist()
  }

  /** The Lloyd loop shared by [[kmeansCentroids]] and the ANN index
    * build's bucket-balance guard: `iters` rounds of assign → per-bucket
    * spherical mean over the unit frame `b` (columns `idCol`, `bv`).
    * Each round is one codegen BestCentroid scan projection plus a
    * (bucket, position) partial-agg shuffle whose volume is partitions ×
    * k × dim — corpus-size-independent. Empty buckets keep their previous
    * centroid; zero-mass means keep theirs (no direction).
    */
  private[graft] def lloydRefine(b: DataFrame, idCol: String,
                                 seeds: Array[(Long, Array[Double])],
                                 iters: Int): Array[(Long, Array[Double])] = {
    var centroids: Array[(Long, Array[Double])] = seeds
    var it = 0
    while (it < iters) {
      val sums = assignWithCentroids(b, idCol, centroids)
        .where(col("bucket").isNotNull)
        .select(col("bucket"), posexplode(col("bv")).as(Seq("pos", "x")))
        .groupBy("bucket", "pos").agg(sum("x").as("s"), count(lit(1)).as("n"))
        .collect()
      val byBucket = sums.groupBy(_.getLong(0))
      centroids = centroids.map { case (cid, prev) =>
        byBucket.get(cid) match {
          case Some(rows) =>
            val mean = new Array[Double](prev.length)
            rows.foreach(r => mean(r.getInt(1)) = r.getDouble(2) / r.getLong(3))
            val nrm = math.sqrt(mean.map(x => x * x).sum)
            if (nrm > 0) (cid, mean.map(_ / nrm)) else (cid, prev)
          case None => (cid, prev) // empty bucket: keep previous centroid
        }
      }
      it += 1
    }
    centroids
  }

  /** IVF top-k against an explicit `(centroid_id, cv)` centroid table
    * (e.g. [[kmeansCentroids]] output). Same probe/score shape as
    * [[ivfKnn]].
    */
  def ivfKnnWith(base: DataFrame, queries: DataFrame, centroids: DataFrame,
                 idCol: String, vecCol: String, k: Int, nprobe: Int = 3): DataFrame = {
    requireIntegralId(centroids, "centroid_id", "ivfKnnWith",
      "centroid tables must carry integral ids (kmeansCentroids output " +
        "shape) — hash non-numeric ids to a long upstream")
    val b = unitProject(base, idCol, idCol, vecCol, "bv")
    // the centroid table is index-sized by contract — gather it ONCE
    // (limit-capped) and run BOTH the corpus assignment and the query
    // probe selection off the same driver array via the kernels: two
    // scan projections, no corpus re-grouping shuffle (the former join +
    // groupBy(id) shape) and no Q×C probe window shuffle
    val cents = gatherCentroidFrame(centroids, "ivfKnnWith")
    val assigned =
      if (cents.isEmpty)
        b.select(col(idCol), col("bv"), lit(null).cast("long").as("bucket"))
      else assignWithCentroids(b, idCol, cents)
    val q = unitProject(queries, idCol, "query_id", vecCol, "qv")
    val probes =
      if (cents.isEmpty) q.select(col("query_id"), col("qv"),
        lit(null).cast("long").as("bucket")).where(lit(false))
      else probeTopCentroids(q, cents, nprobe)
    val scored = broadcast(probes).join(assigned, "bucket")
      .where(col("query_id") =!= col(idCol))
      .select(col("query_id"), col(idCol), dot(col("qv"), col("bv")).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), asc(idCol))
    // null cos = a dimension-mismatched / zero / null-element vector —
    // ranking it would pad the top-k with silent garbage rows
    scored.where(col("cos").isNotNull)
      .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("query_id"), col(idCol).as("neighbor_id"),
        round(col("cos"), 4).as("cos"), col("rank").cast("long").as("rank"))
  }

  /** Deterministic splitmix64 step — plane weights are generated
    * driver-side (tiny: nPlanes × dim doubles) and embedded as constant
    * array literals, so the per-row work is nPlanes dot products, not a
    * forest of hash expressions.
    */
  private def splitmix(x0: Long): Long = {
    var z = x0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** The deterministic hyperplane weights for one LSH table — exposed so
    * the DuckDB oracle can embed the identical planes as literals.
    */
  private[graft] def planeWeights(dim: Int, nPlanes: Int, seed: Int): Array[Array[Double]] =
    Array.tabulate(nPlanes) { p =>
      Array.tabulate(dim) { d =>
        (splitmix(seed.toLong * 0x100000001L + p.toLong * 65537L + d)
          & 0xfffffL).toDouble / 0x100000L.toDouble - 0.5
      }
    }

  /** Sign-pattern bucket id from `nPlanes` deterministic pseudo-random
    * hyperplanes (weights in [-0.5, 0.5)): cosine-similar vectors land in
    * the same bucket with probability 1 - angle/π per bit. The
    * random-hyperplane LSH family for cosine.
    */
  private def hyperplaneBucket(vec: Column, dim: Int, nPlanes: Int, seed: Int): Column = {
    require(nPlanes >= 1 && nPlanes <= 62,
      s"nPlanes must be in [1, 62] (long bit weights), got $nPlanes")
    val planes = planeWeights(dim, nPlanes, seed)
    val bits = (0 until nPlanes).map { p =>
      when(dot(vec, typedLit(planes(p))) >= 0, lit(1)).otherwise(lit(0))
    }
    // LONG weights: Int `1 << i` wraps mod 32, silently colliding sign
    // patterns past 31 planes
    bits.zipWithIndex.map { case (b, i) => b * lit(1L << i) }.reduce(_ + _)
  }

  /** ANN top-k via random-hyperplane LSH: queries are scored only against
    * base vectors in the same sign-pattern bucket under any of `nTables`
    * independent hyperplane sets (multi-table OR-amplification). The
    * alternative scale path to [[ivfKnn]] — no centroid pass at all, fully
    * scan-fused bucketing on both sides.
    */
  def lshKnn(base: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
             k: Int, dim: Int, nPlanes: Int = 8, nTables: Int = 4): DataFrame = {
    def bucketed(df: DataFrame, idName: String, vecName: String): DataFrame = {
      val u = unitProject(df, idCol, idName, vecCol, vecName)
      val tables = array((0 until nTables).map { t =>
        struct(lit(t).as("table"),
          hyperplaneBucket(col(vecName), dim, nPlanes, seed = t).as("bucket"))
      }: _*)
      u.select(col(idName), col(vecName), explode(tables).as("tb"))
        .select(col(idName), col(vecName), col("tb.table").as("table"),
          col("tb.bucket").as("bucket"))
    }
    val b = bucketed(graft.Par.fanOut(base), "neighbor_id", "bv")
    val q = broadcast(bucketed(queries, "query_id", "qv"))
    val scored = q.join(b, Seq("table", "bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), dot(col("qv"), col("bv")).as("cos"))
      .groupBy("query_id", "neighbor_id").agg(first(col("cos")).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), asc("neighbor_id"))
    // null cos = a dimension-mismatched / zero / null-element vector —
    // ranking it would pad the top-k with silent garbage rows
    scored.where(col("cos").isNotNull)
      .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("cos"), 4).as("cos"),
        col("rank").cast("long").as("rank"))
  }

  /** ANN top-k via IVF: score only vectors in the query's `nprobe` nearest
    * buckets. Approximate — recall grows with nprobe.
    *
    * Resource contract: the corpus-sized assignment frame (the IVF index)
    * is materialized once via eager local checkpoint (it feeds both the
    * centroid sample and the probe join) and its blocks are RELEASED
    * before this returns — a long-lived session can call this per query
    * batch without accumulating a corpus-sized block set per call. The
    * returned frame is therefore materialized too (it is query×k rows,
    * bounded by the broadcastable query side); release it with
    * `Bridge.releaseLocalCheckpoint` once consumed if even that matters.
    */
  def ivfKnn(base: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
             k: Int, step: Int = 100, nprobe: Int = 3): DataFrame = {
    // lazy cache, not eager checkpoint: the top-k action below fills it as
    // it runs (one job chain), where an eager checkpoint would pay a
    // separate materialization job up front
    val assigned = ivfAssign(base, idCol, vecCol, step).cache()
    try {
      // probe selection off the SAME sampled centroids the assignment
      // used, via the zero-shuffle TopCentroids kernel (the former
      // queries×centroids join + window shuffled Q×C rows); bucket cast
      // back to the assignment frame's key type keeps the join cast-free
      val cents = gatherCentroidFrame(
        assigned.where(col(idCol) % step === 0)
          .select(col(idCol).as("centroid_id"), col("bv").as("cv")), "ivfKnn")
      val q = unitProject(queries, idCol, "query_id", vecCol, "qv")
      val probes = probeTopCentroids(q, cents, nprobe,
        assigned.schema("bucket").dataType)
      val scored = broadcast(probes).join(assigned, "bucket")
        .where(col("query_id") =!= col(idCol))
        .select(col("query_id"), col(idCol), dot(col("qv"), col("bv")).as("cos"))
      val w = Window.partitionBy("query_id").orderBy(desc("cos"), asc(idCol))
      // null cos = a dimension-mismatched / zero / null-element vector —
    // ranking it would pad the top-k with silent garbage rows
    scored.where(col("cos").isNotNull)
      .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
        .select(col("query_id"), col(idCol).as("neighbor_id"),
          round(col("cos"), 4).as("cos"), col("rank").cast("long").as("rank"))
        .localCheckpoint(true)
    } finally assigned.unpersist(blocking = false)
  }

  // ---- product quantization (the memory-side compression of the ANN
  // ladder: brute → LSH → IVF → PQ; Jégou et al. 2011) ----

  /** Deterministic PQ codebook: the id-mod-`step` sample's unit vectors,
    * split into `m` subspaces — centroid c of subspace j is the sample's
    * c-th row restricted to positions [j·sub, (j+1)·sub). Returned as
    * m × K × sub driver-side doubles (tiny: it is always inlined as a
    * literal); sample rows are sorted by id so the code assignment is
    * reproducible.
    */
  def pqCodebook(base: DataFrame, idCol: String, vecCol: String,
                 m: Int, step: Int,
                 maxSample: Int = 8192): Array[Array[Array[Double]]] =
    codebookFromUnit(
      unitProject(base.where(col(idCol) % step === 0), idCol, idCol,
        vecCol, "bv"),
      idCol, m, step, maxSample)

  /** [[pqCodebook]] over rows that ALREADY carry unit vectors in `bv` —
    * lets [[ivfPqKnn]] reuse its assignment frame instead of re-scanning
    * and re-normalizing the corpus for the codebook sample.
    */
  private[graft] def codebookFromUnit(sampled: DataFrame, idCol: String, m: Int,
                               step: Int,
                               maxSample: Int): Array[Array[Array[Double]]] = {
    // K = n/step rows land on the driver AND are re-inlined as a plan
    // literal by pqEncode — collect through a limit so a step miscalibrated
    // for the corpus size fails fast instead of OOMing the driver
    val rows = Sessions.gatherCapped(
      sampled.select(col(idCol).cast("long"), col("bv")), maxSample)
    require(rows.nonEmpty, codebookOverCap(step, maxSample))
    // requires/sort/slicing all live in codebookFromRows — ONE copy of
    // the derivation whichever side of the collect the caller is on
    codebookFromRows(rows.get.map(r => (r.getLong(0),
      if (r.isNullAt(1)) null else r.getSeq[Double](1).toArray)),
      m, step, maxSample)
  }

  /** [[codebookFromUnit]] over `(id, unit-vector)` rows ALREADY gathered
    * to the driver — the PQ build's fast path shares the centroid
    * selection's one capped collect when `codeStep == step` (the sampled
    * rows are the same set), replacing the separate codebook-sample
    * collect job (a corpus scan at 100 TB). Same requires, same
    * ascending-id sort, same subspace slicing — bit-identical output to
    * [[codebookFromUnit]] over the equivalent frame.
    */
  private[graft] def codebookFromRows(rows: Array[(Long, Array[Double])],
                                      m: Int, step: Int,
                                      maxSample: Int): Array[Array[Array[Double]]] = {
    require(rows.length <= maxSample, codebookOverCap(step, maxSample))
    val sample = rows.sortBy(_._1).map(_._2)
    require(sample.nonEmpty, "empty codebook sample — lower step")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    Array.tabulate(m)(j => sample.map(v => v.slice(j * sub, (j + 1) * sub)))
  }

  private def codebookOverCap(step: Int, maxSample: Int): String =
    s"pqCodebook: step=$step yields more than $maxSample codebook rows " +
      s"on this corpus — raise step (or maxSample)"

  /** k-means-refined PQ codebook (the FAISS training default, vs
    * [[pqCodebook]]'s raw deterministic sample): per subspace, `iters`
    * Lloyd iterations over the capped sample's subvectors, seeded from the
    * first `k` sample rows (id order → fully deterministic, rerun-stable).
    * Training happens DRIVER-SIDE on the same ≤`maxSample` rows
    * [[pqCodebook]] already collects — the sample is the bounded object
    * here, never the corpus, so at 100 TB this is a constant-cost step
    * between two cluster jobs. Empty cells keep their previous centroid
    * (the FAISS convention); distortion is monotonically non-increasing
    * over iterations (spec-asserted), which is what buys recall over the
    * sample codebook at equal m/k.
    */
  def pqCodebookKmeans(base: DataFrame, idCol: String, vecCol: String,
                       m: Int, k: Int, step: Int, iters: Int = 5,
                       maxSample: Int = 8192): Array[Array[Array[Double]]] = {
    val rows = Sessions.gatherCapped(
      unitProject(base.where(col(idCol) % step === 0), idCol, idCol,
        vecCol, "bv").select(col(idCol).cast("long"), col("bv")), maxSample)
    require(rows.nonEmpty,
      s"pqCodebookKmeans: step=$step yields more than $maxSample sample " +
        s"rows on this corpus — raise step (or maxSample)")
    val sample = rows.get.sortBy(_.getLong(0)).map(_.getSeq[Double](1).toArray)
    require(sample.length >= k,
      s"pqCodebookKmeans: k=$k exceeds the ${sample.length}-row sample — lower step")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    Array.tabulate(m) { j =>
      val pts = sample.map(v => v.slice(j * sub, (j + 1) * sub))
      var cent = pts.take(k).map(_.clone)
      var it = 0
      while (it < iters) {
        val sums = Array.fill(k)(new Array[Double](sub))
        val cnt = new Array[Long](k)
        pts.foreach { p =>
          var best = 0
          var bestD = Double.PositiveInfinity
          var c = 0
          while (c < k) {
            var d = 0.0
            var i = 0
            while (i < sub) { val diff = p(i) - cent(c)(i); d += diff * diff; i += 1 }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          var i = 0
          while (i < sub) { sums(best)(i) += p(i); i += 1 }
          cnt(best) += 1
        }
        cent = Array.tabulate(k)(c =>
          if (cnt(c) > 0) sums(c).map(_ / cnt(c)) else cent(c))
        it += 1
      }
      cent
    }
  }

  /** Encode every base vector as `m` codebook codes: per subspace, the
    * argmin-L2 centroid (tie → lower code). One codegen-friendly
    * projection per row against the inlined codebook — no join, no
    * shuffle; the result is the m-byte-per-vector representation that
    * makes billion-scale indices fit in memory. Emits `codes` plus the
    * reconstructed (decoded) vector for ADC scoring.
    */
  def pqEncode(base: DataFrame, idCol: String, vecCol: String,
               codebook: Array[Array[Array[Double]]]): DataFrame =
    // m×K×sub distance evaluations per row: fan a small single-split scan
    // out across cores first (no-op on real multi-split inputs)
    pqEncodeOnUnit(
      unitProject(graft.Par.fanOut(base), idCol, idCol, vecCol, "bv"),
      codebook)

  /** [[pqEncode]] over a frame that ALREADY carries unit vectors in `bv`
    * (e.g. [[ivfAssign]] output) — encoding must not re-normalize, or the
    * double bits drift from the single-normalize arithmetic the oracles
    * replay.
    */
  private[graft] def pqEncodeOnUnit(b: DataFrame,
                             codebook: Array[Array[Array[Double]]]): DataFrame = {
    // one codegen'd kernel call per row (argmin + reconstruction in tight
    // primitive loops, ties → lower code, same accumulation order as the
    // HOF formulation it replaced — bit-identical doubles, differential-
    // tested in SimilaritySpec); the HOF tree evaluated INTERPRETED at
    // m×K×sub boxed lambda steps per row, which dominated the PQ rungs
    val enc = org.apache.spark.sql.graft.Bridge.column(
      graft.functions.expressions.PqEncodeDecode(
        org.apache.spark.sql.graft.Bridge.expression(col("bv")), codebook))
    b.withColumn("__enc", enc)
      .withColumn("codes", col("__enc.codes"))
      .withColumn("decoded", col("__enc.decoded"))
      .drop("__enc")
  }

  /** ANN top-k by asymmetric-distance scoring against PQ-compressed
    * vectors: the query stays exact, every base vector is represented by
    * its decoded centroids, and the score is the plain (sequential-order)
    * dot of the two — identical arithmetic to scoring Σ_j q_j·c_{j,code}.
    * Exhaustive over codes (that is PQ's contract — the scan is cheap
    * because codes are m bytes); compose with [[ivfAssign]] buckets to
    * prune the scan at the billion-vector scale.
    */
  def pqKnn(base: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
            k: Int, m: Int = 8, step: Int = 50,
            codebook: Option[Array[Array[Array[Double]]]] = None): DataFrame = {
    val cb = codebook.getOrElse(pqCodebook(base, idCol, vecCol, m, step))
    val enc = pqEncode(base, idCol, vecCol, cb)
      .select(col(idCol), col("decoded"))
    val q = unitProject(queries, idCol, "query_id", vecCol, "qv")
    val scored = enc.join(broadcast(q), col("query_id") =!= col(idCol))
      .select(col("query_id"), col(idCol),
        dot(col("qv"), col("decoded")).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), asc(idCol))
    // null cos = a dimension-mismatched / zero / null-element vector —
    // ranking it would pad the top-k with silent garbage rows
    scored.where(col("cos").isNotNull)
      .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("query_id"), col(idCol).as("neighbor_id"),
        round(col("cos"), 4).as("cos"), col("rank").cast("long").as("rank"))
  }

  /** IVF-PQ — the standard billion-scale composition (Jégou et al. 2011,
    * the FAISS `IVFx,PQy` default): IVF's nprobe bucket pruning bounds the
    * candidate set, PQ's asymmetric-distance scoring reads m-byte codes
    * instead of full vectors inside those buckets. At 1e9 vectors/executor-
    * group the scan per query is (nprobe/n_buckets)·n rows × m bytes — both
    * dials independent. Exact same bucket assignment as [[ivfKnn]] and the
    * same single-normalize encode arithmetic as [[pqKnn]], so the oracle
    * replays the composition verbatim.
    */
  def ivfPqKnn(base: DataFrame, queries: DataFrame, idCol: String,
               vecCol: String, k: Int, step: Int = 100, nprobe: Int = 3,
               m: Int = 8, codeStep: Int = 50): DataFrame = {
    // same resource contract as [[ivfKnn]]: the corpus-sized assignment
    // cache is released before returning; the returned top-k frame
    // (query×k rows) is the only thing left materialized
    val assigned = ivfAssign(base, idCol, vecCol, step).cache()
    try {
      // the assignment frame already carries the single-normalized unit
      // vectors — sample the codebook from it rather than paying a second
      // corpus scan + normalize (identical doubles, so oracle parity holds)
      val codebook = codebookFromUnit(
        assigned.where(col(idCol) % codeStep === 0), idCol, m, codeStep, 8192)
      // the collect above materialized the cache, so fanOut now sees the
      // REAL cached byte size. That matters: AQE coalesces the tiny-output
      // assignment aggregate to one partition, but the encode below is
      // m×K×sub interpreted HOF work PER ROW (HOFs don't codegen) — on one
      // partition it runs single-threaded (measured 3.2 s vs 0.7 s for the
      // fanned-out pqKnn path at sf0.1). At scale the cached frame is
      // wide and fanOut is a no-op.
      val encoded = pqEncodeOnUnit(graft.Par.fanOut(assigned), codebook)
        .select(col(idCol), col("bucket"), col("decoded"))
      // same zero-shuffle probe selection as [[ivfKnn]] (kernel replaces
      // the Q×C window)
      val cents = gatherCentroidFrame(
        assigned.where(col(idCol) % step === 0)
          .select(col(idCol).as("centroid_id"), col("bv").as("cv")), "ivfPqKnn")
      val q = unitProject(queries, idCol, "query_id", vecCol, "qv")
      val probes = probeTopCentroids(q, cents, nprobe,
        assigned.schema("bucket").dataType)
      val scored = broadcast(probes).join(encoded, "bucket")
        .where(col("query_id") =!= col(idCol))
        .select(col("query_id"), col(idCol),
          dot(col("qv"), col("decoded")).as("cos"))
      val w = Window.partitionBy("query_id").orderBy(desc("cos"), asc(idCol))
      // null cos = a dimension-mismatched / zero / null-element vector —
    // ranking it would pad the top-k with silent garbage rows
    scored.where(col("cos").isNotNull)
      .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
        .select(col("query_id"), col(idCol).as("neighbor_id"),
          round(col("cos"), 4).as("cos"), col("rank").cast("long").as("rank"))
        .localCheckpoint(true)
    } finally assigned.unpersist(blocking = false)
  }

  /** Exact-cosine re-rank of a bounded `(query_id, neighbor_id)` candidate
    * frame against the full vectors — the standard recall-recovery rung on
    * top of any approximate shortlist (FAISS's refine step). The candidate
    * frame is queries×shortlist rows, so it broadcasts; joining it into the
    * base scan prunes the corpus to candidate rows before any vector math,
    * and the per-query window runs over ≤ shortlist rows.
    */
  def rerankExact(base: DataFrame, queries: DataFrame, idCol: String,
                  vecCol: String, candidates: DataFrame, k: Int): DataFrame = {
    val b = unitProject(base, idCol, "neighbor_id", vecCol, "bv")
    val q = unitProject(queries, idCol, "query_id", vecCol, "qv")
    val scored = b
      .join(broadcast(candidates.select("query_id", "neighbor_id")), "neighbor_id")
      .join(broadcast(q), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        dot(col("qv"), col("bv")).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), asc("neighbor_id"))
    // null cos = a dimension-mismatched / zero / null-element vector —
    // ranking it would pad the top-k with silent garbage rows
    scored.where(col("cos").isNotNull)
      .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cos"), 4).as("cos"), col("rank").cast("long").as("rank"))
  }

  /** IVF-PQ shortlist → exact re-rank: ADC ranks a `shortlist`-sized
    * candidate set per query from m-byte codes, then [[rerankExact]]
    * rescores just those candidates against the full vectors — recovering
    * the recall PQ's quantization loses while still reading only
    * (nprobe/n_buckets)·n code rows plus shortlist full vectors per query.
    */
  def ivfPqKnnRerank(base: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int, shortlist: Int = 20,
                     step: Int = 100, nprobe: Int = 3, m: Int = 8,
                     codeStep: Int = 50): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    val cand = ivfPqKnn(base, queries, idCol, vecCol, shortlist, step,
      nprobe, m, codeStep)
    rerankExact(base, queries, idCol, vecCol, cand, k)
  }

  /** Embedding-space drift between two snapshots — the representation-side
    * reading of the question `TextQuality.unigramDivergence` answers for
    * token distributions: did the embedding distribution move between
    * releases (new encoder, new corpus mix, silent preprocessing change)?
    * One row: vector counts, dimensionality, the cosine between the two
    * RAW mean vectors (1.0 = same direction of mass; unit-normalize
    * upstream if only orientation should count), and each side's mean L2
    * norm (catches scale drift that the mean-cosine alone hides).
    *
    * Scale shape: per-dimension means via posexplode + groupBy(pos) — the
    * [[kmeansCentroids]] reduce, shuffling partitions × d partial sums,
    * corpus-size independent; the two d-row mean frames meet in one tiny
    * join and the scalar norms are one agg per side. Dimension count must
    * match between snapshots AND within each one (rows with other lengths
    * would silently corrupt the per-pos means, and the inner join would
    * report a truncated cosine over the common prefix) — a runtime
    * `assert_true` over the per-side min/max lengths fails the job on any
    * mismatch instead; empty snapshots still yield a null-cosine row.
    */
  def embeddingDrift(a: DataFrame, b: DataFrame, vecCol: String): DataFrame = {
    def perDim(df: DataFrame, m: String) =
      df.select(posexplode(col(vecCol).cast("array<double>")).as(Seq("pos", "x")))
        .groupBy("pos").agg(avg("x").as(m))
    def scalars(df: DataFrame, n: String, mn: String, suffix: String) =
      df.agg(count(lit(1)).as(n),
        round(avg(norm(col(vecCol).cast("array<double>"))), 6).as(mn),
        min(size(col(vecCol))).as(s"__dmin$suffix"),
        max(size(col(vecCol))).as(s"__dmax$suffix"))
    val mc = perDim(a, "ma").join(perDim(b, "mb"), Seq("pos"))
      .agg(count(lit(1)).as("dims"),
        round(sum(col("ma") * col("mb")) /
          (sqrt(sum(col("ma") * col("ma"))) * sqrt(sum(col("mb") * col("mb")))),
          6).as("mean_cosine"))
    scalars(a, "n_a", "mean_norm_a", "a")
      .crossJoin(scalars(b, "n_b", "mean_norm_b", "b"))
      .crossJoin(mc)
      // a filter, not an unused column, so pruning can't drop the assert;
      // an empty side leaves its min/max null → coalesce passes it through
      .where(assert_true(coalesce(
          col("__dmina") === col("__dmaxa") &&
            col("__dminb") === col("__dmaxb") &&
            col("__dmaxa") === col("__dmaxb"), lit(true)),
        lit("embeddingDrift: embedding dimensionality differs between or " +
          "within snapshots")).isNull)
      .select(col("n_a"), col("n_b"), col("dims"), col("mean_cosine"),
        col("mean_norm_a"), col("mean_norm_b"))
  }
}
