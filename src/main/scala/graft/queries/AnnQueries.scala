package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.search.Swap

/** Similarity search over the embeddings table: exact brute-force top-k
  * (oracle-checked) and threshold near-dup pairs; the IVF approximate path
  * is exercised by tests/bench (its recall is config-dependent, so no SQL
  * oracle).
  */
object AnnQueries extends QueryPack {

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_topk_cosine" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.bruteForceKnn(emb, emb.where(col("vec_id") % 20 === 0),
        "vec_id", "embedding", k = 5)
        .orderBy("query_id", "rank")
    }),

    "d_embed_neardup" -> ((s, dir) =>
      Similarity.cosineNearDuplicates(
        Tables(s, dir, "embeddings").where(col("vec_id") % 4 === 0),
        "vec_id", "embedding", threshold = 0.35)
        .orderBy("id_a", "id_b")),

    // IVF path: deterministic (sample centroids, tie-broken argmax), so the
    // full index+probe+score pipeline is value-checked against DuckDB
    "ann_ivf_topk" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.ivfKnn(emb, emb.where(col("vec_id") % 100 === 0),
        "vec_id", "embedding", k = 5, step = 50, nprobe = 3)
        .orderBy("query_id", "rank")
    }),

    // the persisted ANN index tier: build the bucketed IVF table, then
    // answer the same query battery reading ONLY the probed buckets —
    // must equal ann_ivf_topk exactly (same oracle SQL)
    "ann_ivf_indexed" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val table = "ann_ivf_idx"
      Swap.drop(s, table, s"${table}__centroids", s"${table}__meta")
      StageTimer.start("ann_ivf_indexed")
      graft.search.AnnIndex.writeIvfIndex(emb, "vec_id", "embedding",
        step = 50, table = table, buckets = 8, force = true)
      StageTimer.mark("ann_ivf_indexed", "build")
      graft.search.AnnIndex.ivfKnnIndexed(s, table,
        emb.where(col("vec_id") % 100 === 0), "vec_id", "embedding",
        k = 5, nprobe = 3)
        .orderBy("query_id", "rank")
    }),

    // filtered ANN off the persisted index: the `label` metadata column
    // is DENORMALIZED into the index rows at build (keep — the
    // dl-in-postings posture) and the predicate runs at the pruned scan,
    // so parquet pushdown composes with bucket pruning; exact filtered
    // top-k within the probed buckets, same oracle replay + the filter
    "ann_ivf_filtered" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val table = "ann_ivf_fidx"
      Swap.drop(s, table, s"${table}__centroids", s"${table}__meta")
      graft.search.AnnIndex.writeIvfIndex(emb, "vec_id", "embedding",
        step = 50, table = table, buckets = 8, force = true,
        keep = Seq("label"))
      graft.search.AnnIndex.ivfKnnIndexed(s, table,
        emb.where(col("vec_id") % 100 === 0), "vec_id", "embedding",
        k = 5, nprobe = 3, filter = Some(col("label") < 5))
        .orderBy("query_id", "rank")
    }),

    // recall@5 of the IVF path at nprobe=2 against exact brute force —
    // the evaluation surface every nprobe/step/widenTo decision reads;
    // nprobe=2 (not the battery's 3) so the probe-miss regime is
    // actually exercised and the per-query recalls are non-trivial
    "ann_recall_ivf" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val q = emb.where(col("vec_id") % 100 === 0)
      Similarity.recallAtK(
        Similarity.ivfKnn(emb, q, "vec_id", "embedding", k = 5,
          step = 50, nprobe = 2),
        Similarity.bruteForceKnn(emb, q, "vec_id", "embedding", k = 5))
        .orderBy("query_id")
    }),

    // embedding-space drift between snapshot halves: cosine of raw mean
    // vectors + per-side mean norms — the representation-side j13
    "d_embedding_drift" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.embeddingDrift(emb.where(col("vec_id") % 2 === 0),
        emb.where(col("vec_id") % 2 =!= 0), "embedding")
    }),

    // unlabeled-mixture card: per-embedding-cluster mass + coherence
    // (assignment replayed in SQL — the dot products fold sequentially in
    // both engines, so argmax ties resolve identically)
    "d_cluster_profile" -> ((s, dir) =>
      Similarity.clusterProfile(Tables(s, dir, "embeddings"),
        "vec_id", "embedding", step = 50)
        .orderBy("centroid_id")),

    // the cluster profile off the PERSISTED index — the repeated-
    // curation read (mixture planning re-profiles every round): mass +
    // coherence from the saved rows, no per-call corpus re-assignment;
    // same sample (step 50, full table), so the per-call oracle replays
    "d_cluster_profile_indexed" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val table = "ann_prof_idx"
      Swap.drop(s, table, s"${table}__centroids", s"${table}__meta")
      graft.search.AnnIndex.writeIvfIndex(emb, "vec_id", "embedding",
        step = 50, table = table, buckets = 8, force = true)
      graft.search.AnnIndex.clusterProfileIndexed(s, table)
        .orderBy("centroid_id")
    }),

    // SemDeDup: IVF-bucketed pairwise cosine → CC clusters → keep min-id
    // representative; fully deterministic, so the whole pipeline replays
    // in SQL
    "d_semantic_dedup" -> ((s, dir) =>
      Similarity.semanticDedup(
        Tables(s, dir, "embeddings").where(col("vec_id") % 2 === 0),
        "vec_id", "embedding", threshold = 0.35, step = 50)
        .select("vec_id").orderBy("vec_id")),

    // SemDeDup off the PERSISTED index — the repeated-curation shape:
    // the corpus-side pair join and skew guard both key on the table's
    // own bucket layout (zero corpus exchanges, plan-spec-asserted), and
    // an index built with the per-call step replays the per-call oracle
    // verbatim (third consumer of semanticDedupSql)
    "d_semantic_dedup_indexed" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings").where(col("vec_id") % 2 === 0)
      val table = "ann_sem_idx"
      Swap.drop(s, table, s"${table}__centroids", s"${table}__meta")
      graft.search.AnnIndex.writeIvfIndex(emb, "vec_id", "embedding",
        step = 50, table = table, buckets = 8, force = true)
      graft.search.AnnIndex.semanticDedupIndexed(s, table, threshold = 0.35)
        .select(col("id").as("vec_id")).orderBy("vec_id")
    }),

    // the SAME SemDeDup with the r14 coarse-assignment gate FORCE-ENGAGED
    // (graft.ann.coarseGate=1): at the default full-recall probe width the
    // two-level kernel is bit-identical to flat, so this replays the SAME
    // DuckDB oracle — the gate's results-neutrality checked by the driver
    // itself, not just ScalaTest
    "d_semantic_dedup_gate" -> ((s, dir) => {
      s.conf.set(Similarity.CoarseGateConf, "1")
      try Similarity.semanticDedup(
        Tables(s, dir, "embeddings").where(col("vec_id") % 2 === 0),
        "vec_id", "embedding", threshold = 0.35, step = 50)
        .select("vec_id").orderBy("vec_id")
      finally s.conf.unset(Similarity.CoarseGateConf)
    }),

    // product-quantization path (Jégou et al. 2011): deterministic sample
    // codebook, argmin-L2 codes, asymmetric-distance scoring against the
    // decoded centroids — the whole encode+score pipeline replays in SQL
    "ann_pq_topk" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.pqKnn(emb, emb.where(col("vec_id") % 100 === 0),
        "vec_id", "embedding", k = 5, m = 8, step = 50)
        .orderBy("query_id", "rank")
    }),

    // the production composition: IVF bucket pruning × PQ code scoring
    "ann_ivfpq_topk" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.ivfPqKnn(emb, emb.where(col("vec_id") % 100 === 0),
        "vec_id", "embedding", k = 5, step = 50, nprobe = 3, m = 8,
        codeStep = 50)
        .orderBy("query_id", "rank")
    }),

    // ADC shortlist → exact-vector re-rank (the FAISS refine step): same
    // IVF-PQ pipeline ranked to top-20, rescored on the full vectors
    "ann_ivfpq_rerank" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.ivfPqKnnRerank(emb, emb.where(col("vec_id") % 100 === 0),
        "vec_id", "embedding", k = 5, shortlist = 20, step = 50, nprobe = 3,
        m = 8, codeStep = 50)
        .orderBy("query_id", "rank")
    }),

    // the persisted IVF-PQ tables: m-byte codes + codebook/centroid side
    // tables; must reproduce ann_ivfpq_topk exactly (same oracle SQL)
    "ann_ivfpq_indexed" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val table = "ann_ivfpq_idx"
      Swap.drop(s, table, s"${table}__centroids", s"${table}__codebook", s"${table}__meta")
      StageTimer.start("ann_ivfpq_indexed")
      graft.search.AnnIndex.writeIvfPqIndex(emb, "vec_id", "embedding",
        step = 50, m = 8, table = table, buckets = 8, codeStep = 50,
        force = true)
      StageTimer.mark("ann_ivfpq_indexed", "build")
      graft.search.AnnIndex.ivfPqKnnIndexed(s, table,
        emb.where(col("vec_id") % 100 === 0), "vec_id", "embedding",
        k = 5, nprobe = 3)
        .orderBy("query_id", "rank")
    }),

    // the FAISS refine step off the persisted codes table: ADC shortlist
    // from the saved index, exact rescore reading ONLY the shortlist ids'
    // full vectors from the source table — must equal the per-call
    // ann_ivfpq_rerank exactly (same oracle SQL)
    "ann_ivfpq_rerank_indexed" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val table = "ann_ivfpq_rridx"
      Swap.drop(s, table, s"${table}__centroids", s"${table}__codebook",
        s"${table}__meta")
      graft.search.AnnIndex.writeIvfPqIndex(emb, "vec_id", "embedding",
        step = 50, m = 8, table = table, buckets = 8, codeStep = 50,
        force = true)
      graft.search.AnnIndex.ivfPqKnnRerankIndexed(s, table, emb,
        emb.where(col("vec_id") % 100 === 0), "vec_id", "embedding",
        k = 5, shortlist = 20, nprobe = 3)
        .orderBy("query_id", "rank")
    }),

    // the PQ sibling of ann_ivf_filtered: keep-bearing codes table, the
    // predicate at the pruned scan — filtered top-k among probed codes
    "ann_ivfpq_filtered" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val table = "ann_ivfpq_fidx"
      Swap.drop(s, table, s"${table}__centroids", s"${table}__codebook",
        s"${table}__meta")
      graft.search.AnnIndex.writeIvfPqIndex(emb, "vec_id", "embedding",
        step = 50, m = 8, table = table, buckets = 8, codeStep = 50,
        force = true, keep = Seq("label"))
      graft.search.AnnIndex.ivfPqKnnIndexed(s, table,
        emb.where(col("vec_id") % 100 === 0), "vec_id", "embedding",
        k = 5, nprobe = 3, filter = Some(col("label") < 5))
        .orderBy("query_id", "rank")
    }),

    // recall under a SELECTIVE filter (~1%: label=3 ∧ id%10=0): at
    // nprobe=3 queries routinely find fewer than k passing candidates in
    // their probed buckets, and the widenTo dial re-probes exactly those
    // starved queries once. widenTo is DERIVED from the built index's
    // centroid count (not a constant that happens to exceed it — the r17
    // advice: a future larger sf would silently flip the Spark side into
    // the probed-at-64 branch while the oracle ranks the whole filtered
    // corpus), so the widened pass is exhaustive over the filtered corpus
    // at EVERY sf and the starved queries recover the true filtered
    // top-k. Satisfied queries keep their nprobe=3 rows untouched (pinned
    // by the oracle, which replays both regimes and the starved-set
    // split).
    "ann_ivf_filtered_rare" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val table = "ann_ivf_ridx"
      Swap.drop(s, table, s"${table}__centroids", s"${table}__meta")
      graft.search.AnnIndex.writeIvfIndex(emb, "vec_id", "embedding",
        step = 50, table = table, buckets = 8, force = true,
        keep = Seq("label"))
      val exhaustive = math.max(4,
        graft.search.AnnIndex.centroidCountOf(s, table)).toInt
      graft.search.AnnIndex.ivfKnnIndexed(s, table,
        emb.where(col("vec_id") % 100 === 0), "vec_id", "embedding",
        k = 3, nprobe = 3,
        filter = Some(col("label") === 3 && col("id") % 10 === 0),
        widenTo = exhaustive)
        .orderBy("query_id", "rank")
    }),

    // continuous-maintenance lifecycle on the persisted IVF tier: build
    // on a ⅔ subset (vec_id % 3 ≠ 1 — chosen so the frozen centroid
    // sample MISSES 100/250/400…, i.e. differs from a full rebuild's),
    // then UPSERT the remaining third plus an overlapping slice (already-
    // present ids exercise the idempotent anti-join) and answer the
    // standard query battery off the swapped table. The oracle replays
    // the whole lifecycle: candidates = full corpus, centroids = the
    // build subset's frozen sample.
    "ann_ivf_upsert" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val table = "ann_ivf_uidx"
      Swap.drop(s, table, s"${table}__centroids", s"${table}__meta")
      StageTimer.start("ann_ivf_upsert")
      graft.search.AnnIndex.writeIvfIndex(
        emb.where(col("vec_id") % 3 =!= 1), "vec_id", "embedding",
        step = 50, table = table, buckets = 8, force = true)
      StageTimer.mark("ann_ivf_upsert", "build")
      graft.search.AnnIndex.upsertIvfIndex(s, table,
        emb.where(col("vec_id") % 3 === 1 || col("vec_id") % 6 === 0),
        "vec_id", "embedding")
      StageTimer.mark("ann_ivf_upsert", "upsert")
      graft.search.AnnIndex.ivfKnnIndexed(s, table,
        emb.where(col("vec_id") % 100 === 0), "vec_id", "embedding",
        k = 5, nprobe = 3)
        .orderBy("query_id", "rank")
    }),

    // the STREAMING twin of ann_ivf_upsert — continuous vector ingestion
    // through Structured Streaming: readStream over parquet arrivals
    // (parquet, not JSON — a float→text→double roundtrip would break the
    // unit-vector bit parity the oracle replays), foreachBatch running
    // assignNew against the FROZEN centroids into a parquet append dir
    // (the [[InvertedIndex.postingsStream]] recipe), then one
    // compactIvfIndex fold and the standard battery off the swapped
    // table. Final state is identical to the batch upsert lifecycle, so
    // the same frozen-sample oracle replays it.
    "ann_stream_compact" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val table = "ann_stream_idx"
      Swap.drop(s, table, s"${table}__centroids", s"${table}__meta")
      val tmp = java.nio.file.Files.createTempDirectory("ann_stream").toString
      StageTimer.start("ann_stream_compact")
      graft.search.AnnIndex.writeIvfIndex(
        emb.where(col("vec_id") % 3 =!= 1), "vec_id", "embedding",
        step = 50, table = table, buckets = 8, force = true)
      StageTimer.mark("ann_stream_compact", "build")
      // 2 files = two real micro-batches (j17: batch count, not data,
      // dominates; 2 is the minimum that still exercises multi-batch)
      val arrivals = emb.where(col("vec_id") % 3 === 1)
        .select("vec_id", "embedding")
      arrivals.repartition(2).write.mode("overwrite").parquet(s"$tmp/src")
      StageTimer.mark("ann_stream_compact", "setup")
      val in = s.readStream.schema(arrivals.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$tmp/src")
      // sides read ONCE for the stream's lifetime (frozen by contract) —
      // assignNew-per-batch re-collected centroids + __meta every trigger
      val assign = graft.search.AnnIndex.streamAssigner(s, table,
        "vec_id", "embedding")
      val q = in.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], _: Long) =>
          assign(batch.toDF())
            .write.mode("append").parquet(s"$tmp/appends")
        }
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      StageTimer.mark("ann_stream_compact", "stream")
      graft.search.AnnIndex.compactIvfIndex(s, table,
        s.read.parquet(s"$tmp/appends"))
      StageTimer.mark("ann_stream_compact", "compact")
      // the compact folded the appends INTO the table, so the temp
      // source/append/checkpoint dirs are dead weight — delete them now
      // (the bench replays this query several times per run; leaked
      // parquet copies of the arrivals slice would accumulate in /tmp)
      val tmpPath = new org.apache.hadoop.fs.Path(tmp)
      tmpPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(tmpPath, true)
      graft.search.AnnIndex.ivfKnnIndexed(s, table,
        emb.where(col("vec_id") % 100 === 0), "vec_id", "embedding",
        k = 5, nprobe = 3)
        .orderBy("query_id", "rank")
    }),

    // the PQ tier through the SAME upsert surface: arrivals are encoded
    // against the frozen __codebook exactly as they are assigned against
    // the frozen __centroids (both id-sampled from the build subset) —
    // one maintenance recipe for both tiers, value-pinned end to end
    "ann_ivfpq_upsert" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val table = "ann_ivfpq_uidx"
      Swap.drop(s, table, s"${table}__centroids", s"${table}__codebook",
        s"${table}__meta")
      graft.search.AnnIndex.writeIvfPqIndex(
        emb.where(col("vec_id") % 3 =!= 1), "vec_id", "embedding",
        step = 50, m = 8, table = table, buckets = 8, codeStep = 50,
        force = true)
      graft.search.AnnIndex.upsertIvfIndex(s, table,
        emb.where(col("vec_id") % 3 === 1 || col("vec_id") % 6 === 0),
        "vec_id", "embedding")
      graft.search.AnnIndex.ivfPqKnnIndexed(s, table,
        emb.where(col("vec_id") % 100 === 0), "vec_id", "embedding",
        k = 5, nprobe = 3)
        .orderBy("query_id", "rank")
    }),

    // the PQ sibling of ann_ivf_filtered_rare: the same rare predicate
    // and widenTo recall dial over the m-byte codes tier — starved
    // queries re-probe exhaustively (widenTo derived from the centroid
    // count, as above) and rank by the SAME ADC arithmetic
    "ann_ivfpq_filtered_rare" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val table = "ann_ivfpq_ridx"
      Swap.drop(s, table, s"${table}__centroids", s"${table}__codebook",
        s"${table}__meta")
      graft.search.AnnIndex.writeIvfPqIndex(emb, "vec_id", "embedding",
        step = 50, m = 8, table = table, buckets = 8, codeStep = 50,
        force = true, keep = Seq("label"))
      val exhaustive = math.max(4,
        graft.search.AnnIndex.centroidCountOf(s, table)).toInt
      graft.search.AnnIndex.ivfPqKnnIndexed(s, table,
        emb.where(col("vec_id") % 100 === 0), "vec_id", "embedding",
        k = 3, nprobe = 3,
        filter = Some(col("label") === 3 && col("id") % 10 === 0),
        widenTo = exhaustive)
        .orderBy("query_id", "rank")
    }),

    // recall-targeted probe calibration (the r17 verdict's dial-picking
    // operator): sweep nprobe ∈ {1,2,3} off the saved plain-IVF table,
    // score each setting's recall@5 against the exact ranking over the
    // index's own stored unit vectors, price it by candidate rows read
    // (probed bucket sizes), and mark the cheapest setting meeting the
    // 0.15 target (reachable on every SF of these probe-starved fixtures). The oracle replays the whole sweep: per-nprobe probe
    // prefixes, per-query recall, the cost sums, and the argmin pick.
    "ann_calibrate" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val table = "ann_cal_idx"
      Swap.drop(s, table, s"${table}__centroids", s"${table}__meta")
      graft.search.AnnIndex.writeIvfIndex(emb, "vec_id", "embedding",
        step = 50, table = table, buckets = 8, force = true)
      // query sample OFF the centroid lattice (% 100 === 1, not 0):
      // centroid queries find their whole top-k in their own bucket and
      // flatten the curve to 1.0 at nprobe=1 — useless for picking dials
      graft.search.AnnIndex.calibrateProbes(s, table,
        emb.where(col("vec_id") % 100 === 1), "vec_id", "embedding",
        k = 5, targetRecall = 0.15, nprobes = Seq(1, 2, 3))
        .orderBy("nprobe")
    }),

    // the widenTo companion sweep (the r17 verdict's "and optionally
    // widenTo"): fixed nprobe=3 under the rare predicate, widen ∈
    // {off, 4 (the PROBED widen branch — its first oracle coverage;
    // 4 < every tested sf's centroid count), exhaustive (1e6 sentinel ≥
    // any centroid count)}. Reports mean FILTERED recall@3 vs the exact
    // filtered ranking and the still-short query count per setting.
    // The exhaustive arm measures an honest property: widening recovers
    // STARVATION only — satisfied queries keep their narrow rows, so
    // residual probe-miss (sf0.1: mean recall 0.95, not 1.0) is
    // nprobe's job, not widenTo's.
    "ann_calibrate_widen" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val table = "ann_calw_idx"
      Swap.drop(s, table, s"${table}__centroids", s"${table}__meta")
      graft.search.AnnIndex.writeIvfIndex(emb, "vec_id", "embedding",
        step = 50, table = table, buckets = 8, force = true,
        keep = Seq("label"))
      graft.search.AnnIndex.calibrateWiden(s, table,
        emb.where(col("vec_id") % 100 === 0), "vec_id", "embedding",
        k = 3, targetRecall = 0.9, nprobe = 3,
        widenTos = Seq(0, 4, 1000000),
        filter = col("label") === 3 && col("id") % 10 === 0)
        .orderBy("widen")
    }),

    // random-hyperplane LSH path: planes are deterministic, so the full
    // bucket+score pipeline is value-checked (planes embedded as SQL
    // literals in the oracle)
    "ann_lsh_topk" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.lshKnn(emb, emb.where(col("vec_id") % 100 === 0),
        "vec_id", "embedding", k = 5, dim = 64, nPlanes = 6, nTables = 4)
        .orderBy("query_id", "rank")
    }),

    // hybrid retrieval: BM25 lexical top-20 ⊕ cosine-kNN top-20 fused by
    // reciprocal rank (RRF, the ES hybrid-search combinator) — one ranked
    // list per modality, k-bounded all the way
    "e34_hybrid_rrf" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = Tables(s, dir, "documents")
      val emb = Tables(s, dir, "embeddings")
      val post = graft.search.InvertedIndex.postings(d, "doc_id", "text",
        uax29 = false)
      val bm = graft.search.InvertedIndex.bm25TopK(post,
        graft.search.InvertedIndex.corpusNorms(d, "text", uax29 = false),
        Seq("spark", "window", "data"), k = 20)
        .withColumn("rank",
          row_number().over(Window.orderBy(desc("score"), asc("doc_id"))))
        .select("doc_id", "rank")
      val vec = Similarity.bruteForceKnn(emb,
        emb.where(col("vec_id") === 0), "vec_id", "embedding", k = 20)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      graft.search.Searcher.rrfFuse(Seq(bm, vec), topK = 15)
    }),

    // hybrid retrieval off BOTH persisted tiers — the production shape of
    // e34: BM25 from the saved bucketed text index (+ persisted norms),
    // kNN from the saved IVF table (probed buckets, not brute force),
    // fused by reciprocal rank. The vector arm's oracle replays the IVF
    // ranking, so the fusion is value-checked end to end across tiers.
    "e40_hybrid_indexed" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import graft.search.{AnnIndex, InvertedIndex, Searcher}
      val d = Tables(s, dir, "documents")
      val emb = Tables(s, dir, "embeddings")
      val ti = "e40_text_idx"
      val vt = "e40_vec_idx"
      Swap.drop(s, ti, s"${ti}__norms")
      Swap.drop(s, vt, s"${vt}__centroids", s"${vt}__meta")
      InvertedIndex.writeIndex(
        InvertedIndex.postings(d, "doc_id", "text", uax29 = false),
        ti, buckets = 8, force = true)
      InvertedIndex.persistNorms(s, ti)
      AnnIndex.writeIvfIndex(emb, "vec_id", "embedding", step = 50,
        table = vt, buckets = 8, force = true)
      val post = InvertedIndex.readIndex(s, ti)
      val bm = InvertedIndex.bm25TopK(post,
        InvertedIndex.normsOf(s, ti, post),
        Seq("spark", "window", "data"), k = 20)
        .withColumn("rank",
          row_number().over(Window.orderBy(desc("score"), asc("doc_id"))))
        .select("doc_id", "rank")
      val vec = AnnIndex.ivfKnnIndexed(s, vt,
        emb.where(col("vec_id") === 0), "vec_id", "embedding",
        k = 20, nprobe = 3)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      Searcher.rrfFuse(Seq(bm, vec), topK = 15)
    }),

    // PCA front door: long-form sample covariance of the embedding space
    // (upper triangle), collected by the one-pass moments Aggregator —
    // the sufficient statistics the eigensolve consumes
    "ann_pca_cov" -> ((s, dir) =>
      graft.operators.Pca.covarianceMatrix(
        Tables(s, dir, "embeddings"), "embedding")
        .orderBy("i", "j")),

    // cluster-balanced sample: up to n per IVF cluster by deterministic
    // md5-of-id rank — semantically balanced curation without labels
    "d_cluster_sample" -> ((s, dir) =>
      Similarity.clusterBalancedSample(Tables(s, dir, "embeddings"),
        "vec_id", "embedding", step = 50, perCluster = 3)
        .orderBy("bucket", "rank")),

    // the third persisted curation read: per-cluster quota sampling off
    // the saved assignment (rank window riding the bucket layout, no
    // re-assignment) — same sample as d_cluster_sample, same oracle
    "d_cluster_sample_indexed" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val table = "ann_csamp_idx"
      Swap.drop(s, table, s"${table}__centroids", s"${table}__meta")
      graft.search.AnnIndex.writeIvfIndex(emb, "vec_id", "embedding",
        step = 50, table = table, buckets = 8, force = true)
      graft.search.AnnIndex.clusterBalancedSampleIndexed(s, table,
        perCluster = 3)
        .select(col("id").as("vec_id"), col("bucket"), col("rank"))
        .orderBy("bucket", "rank")
    }),

    // recall@5 of the IVF-PQ composition against exact brute force — the
    // quantization-loss number (m=8 over 64 dims on near-uniform
    // synthetic vectors is PQ's worst case; the dial is the contract)
    "ann_recall_ivfpq" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val q = emb.where(col("vec_id") % 100 === 0)
      Similarity.recallAtK(
        Similarity.ivfPqKnn(emb, q, "vec_id", "embedding", k = 5,
          step = 50, nprobe = 3, m = 8, codeStep = 50),
        Similarity.bruteForceKnn(emb, q, "vec_id", "embedding", k = 5))
        .orderBy("query_id")
    }),

    // the residual-PQ recall twin of ann_recall_ivfpq: the SAME (m=8,
    // nprobe=3) dial with codes encoding unit − centroid(bucket) against
    // a residual-trained codebook (FAISS's IVFPQ default) — the measured
    // comparison the encodeResidual flag is graded by. The oracle
    // replays the residual encode (per-bucket centroid subtraction,
    // residual codebook, centroid-plus-reconstruction ADC) end to end.
    "ann_recall_ivfpq_resid" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val table = "ann_ivfpq_residx"
      Swap.drop(s, table, s"${table}__centroids", s"${table}__codebook",
        s"${table}__meta")
      graft.search.AnnIndex.writeIvfPqIndex(emb, "vec_id", "embedding",
        step = 50, m = 8, table = table, buckets = 8, codeStep = 50,
        force = true, encodeResidual = true)
      val q = emb.where(col("vec_id") % 100 === 0)
      Similarity.recallAtK(
        graft.search.AnnIndex.ivfPqKnnIndexed(s, table, q,
          "vec_id", "embedding", k = 5, nprobe = 3),
        Similarity.bruteForceKnn(emb, q, "vec_id", "embedding", k = 5))
        .orderBy("query_id")
    }),

    // greedy farthest-point k-center selection (Gonzalez) — the
    // diversity-subset curation primitive; fully deterministic (min-id
    // seed, argmax cosine distance, id tie-break), so every selection
    // round replays in SQL
    "d_kcenter_select" -> ((s, dir) =>
      Similarity.kCenterSelect(Tables(s, dir, "embeddings"),
        "vec_id", "embedding", k = 4).orderBy("rank")),

    // two-level (coarse-quantized) IVF assignment at nprobe=2: the full
    // deterministic pipeline — fine sample, √C coarse stride by id rank,
    // fine→cell argmax, per-row top-2 cells, in-cell fine argmax — replays
    // in SQL with identical sequential-dot arithmetic and tie-breaks
    "ann_ivf2_assign" -> ((s, dir) =>
      Similarity.ivfAssignCoarse(Tables(s, dir, "embeddings"),
        "vec_id", "embedding", step = 50, coarseProbes = 2)
        .select("vec_id", "bucket").orderBy("vec_id"))
  )

  // cosine computed identically on both sides: element products summed in
  // list order as doubles, then dot/(|a||b|)
  private val cosSql =
    """list_aggregate(list_transform(generate_series(1, len(qv)), i -> CAST(qv[i] AS DOUBLE) * CAST(bv[i] AS DOUBLE)), 'sum')
      | / (sqrt(list_aggregate(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
      |  * sqrt(list_aggregate(list_transform(bv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')))""".stripMargin

  /** One LSH table's bucket id over the unit vector `v`, with the table's
    * hyperplane weights inlined as list literals (shortest-repr doubles
    * round-trip exactly through DuckDB's parser).
    */
  private def lshBucketSql(table: Int): String =
    Similarity.planeWeights(dim = 64, nPlanes = 6, seed = table)
      .zipWithIndex.map { case (w, p) =>
        val arr = w.mkString("[", ", ", "]")
        s"(CASE WHEN list_aggregate(list_transform(generate_series(1, 64), i -> v[i] * ($arr)[i]), 'sum') >= 0 THEN ${1 << p} ELSE 0 END)"
      }.mkString(" + ")

  private val lshTablesSql = (0 until 4)
    .map(t => s"SELECT vec_id, v, $t AS tbl, ${lshBucketSql(t)} AS bucket FROM unit")
    .mkString(" UNION ALL ")

  // the IVF index+probe+score replay — ONE template serving ann_ivf_topk
  // (per-call assignment), ann_ivf_indexed (persisted bucketed table),
  // ann_ivf_filtered (candidate-side metadata predicate), and
  // ann_ivf_upsert (frozen-sample maintenance): the shared arithmetic
  // (normalization, tie-breaks, probe count, rounding) exists in exactly
  // one copy so the variants can never silently diverge.
  // `extra` columns thread from the base table through unit/asg0/asg to
  // the candidate side; `candWhere` restricts CANDIDATES only (probes
  // rank over ALL centroids — filtering restricts neighbors, not probe
  // selection, matching ivfKnnIndexed's pruned-scan filter placement);
  // `sampleWhere` restricts the CENTROID SAMPLE (the upsert replay:
  // centroids frozen at build time come from the build subset while
  // candidates cover the upserted full corpus).
  private def ivfReplaySql(extra: Seq[String], candWhere: String,
                           sampleWhere: String = ""): String = {
    val uc = extra.map(c => s", $c").mkString
    val uc0 = extra.map(c => s", u.$c").mkString
    s"""WITH unit AS (
       | SELECT vec_id$uc,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE) /
       |   sqrt(list_aggregate(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)), 'sum'))) AS v
       | FROM embeddings),
       |cent AS (SELECT vec_id AS centroid_id, v AS cv FROM unit WHERE vec_id % 50 = 0$sampleWhere),
       |asg0 AS (
       | SELECT u.vec_id$uc0, u.v, c.centroid_id,
       |  list_aggregate(list_transform(generate_series(1, len(u.v)), i -> u.v[i] * c.cv[i]), 'sum') AS d
       | FROM unit u CROSS JOIN cent c),
       |asg AS (
       | SELECT vec_id$uc, v, centroid_id AS bucket FROM (
       |  SELECT vec_id$uc, v, centroid_id,
       |   row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, centroid_id) AS rn
       |  FROM asg0) WHERE rn = 1),
       |probes AS (
       | SELECT vec_id AS query_id, v AS qv, centroid_id AS bucket FROM (
       |  SELECT vec_id, v, centroid_id,
       |   row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, centroid_id) AS rn
       |  FROM asg0 WHERE vec_id % 100 = 0) WHERE rn <= 3),
       |scored AS (
       | SELECT p.query_id, a.vec_id AS neighbor_id,
       |  list_aggregate(list_transform(generate_series(1, len(p.qv)), i -> p.qv[i] * a.v[i]), 'sum') AS c
       | FROM probes p JOIN asg a ON a.bucket = p.bucket AND a.vec_id <> p.query_id$candWhere),
       |ranked AS (
       | SELECT query_id, neighbor_id, c,
       |  row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rn
       | FROM scored)
       |SELECT query_id, neighbor_id, round(c, 4) AS cos, CAST(rn AS BIGINT) AS rank
       |FROM ranked WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin
  }

  private val ivfSql: String = ivfReplaySql(Nil, "")

  // the calibrateProbes replay: one probe ranking at the widest swept
  // width (probe sets are nested prefixes), per-nprobe candidate scoring
  // + recall against the exact ranking over the assignment's unit
  // vectors (the index's stored bv), candidate-row sums off per-bucket
  // sizes, and the min-nprobe-meeting-target pick — the same unit/cent/
  // asg arithmetic as ivfReplaySql
  private def calibrateSql(nprobes: Seq[Int], k: Int,
                           target: Double): String = {
    val maxN = nprobes.max
    val per = nprobes.map { n =>
      s"""isc_$n AS (
         | SELECT p.query_id, a.vec_id AS neighbor_id,
         |  list_aggregate(list_transform(generate_series(1, len(p.qv)), i -> p.qv[i] * a.v[i]), 'sum') AS c
         | FROM probesR p JOIN asg a ON a.bucket = p.bucket AND a.vec_id <> p.query_id
         | WHERE p.rn <= $n),
         |ivf_$n AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |   row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rn
         |  FROM isc_$n) WHERE rn <= $k),
         |rec_$n AS (
         | SELECT e.query_id,
         |  round(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         |    / CAST(count(*) AS DOUBLE), 4) AS recall
         | FROM ex e LEFT JOIN ivf_$n i
         |  ON i.query_id = e.query_id AND i.neighbor_id = e.neighbor_id
         | GROUP BY 1),
         |row_$n AS (
         | SELECT CAST($n AS BIGINT) AS nprobe,
         |  round(avg(recall), 4) AS mean_recall,
         |  (SELECT CAST(sum(s.bn) AS BIGINT) FROM probesR p
         |   JOIN sizes s ON s.bucket = p.bucket WHERE p.rn <= $n) AS cand_rows
         | FROM rec_$n)""".stripMargin
    }.mkString(",\n")
    s"""WITH unit AS (
       | SELECT vec_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE) /
       |   sqrt(list_aggregate(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)), 'sum'))) AS v
       | FROM embeddings),
       |cent AS (SELECT vec_id AS centroid_id, v AS cv FROM unit WHERE vec_id % 50 = 0),
       |asg0 AS (
       | SELECT u.vec_id, u.v, c.centroid_id,
       |  list_aggregate(list_transform(generate_series(1, len(u.v)), i -> u.v[i] * c.cv[i]), 'sum') AS d
       | FROM unit u CROSS JOIN cent c),
       |asg AS (
       | SELECT vec_id, v, centroid_id AS bucket FROM (
       |  SELECT vec_id, v, centroid_id,
       |   row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, centroid_id) AS rn
       |  FROM asg0) WHERE rn = 1),
       |probesR AS (
       | SELECT vec_id AS query_id, v AS qv, centroid_id AS bucket, rn FROM (
       |  SELECT vec_id, v, centroid_id,
       |   row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, centroid_id) AS rn
       |  FROM asg0 WHERE vec_id % 100 = 1) WHERE rn <= $maxN),
       |sizes AS (SELECT bucket, count(*) AS bn FROM asg GROUP BY 1),
       |qs AS (SELECT vec_id AS query_id, v AS qv FROM unit WHERE vec_id % 100 = 1),
       |escored AS (
       | SELECT qs.query_id, a.vec_id AS neighbor_id,
       |  list_aggregate(list_transform(generate_series(1, len(qs.qv)), i -> qs.qv[i] * a.v[i]), 'sum') AS c
       | FROM qs JOIN asg a ON a.vec_id <> qs.query_id),
       |ex AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |   row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rn
       |  FROM escored) WHERE rn <= $k),
       |$per,
       |rows_all AS (${nprobes.map(n => s"SELECT * FROM row_$n").mkString(" UNION ALL ")}),
       |mm AS (SELECT min(nprobe) AS mn FROM rows_all WHERE mean_recall >= $target)
       |SELECT r.nprobe, r.mean_recall, r.cand_rows,
       |  coalesce(r.nprobe = mm.mn, FALSE) AS pick
       |FROM rows_all r CROSS JOIN mm ORDER BY nprobe""".stripMargin
  }

  private val ivfFilteredSql: String =
    ivfReplaySql(Seq("label"), " WHERE a.label < 5")

  // the widenTo replay: per query, the nprobe=3 filtered candidates are
  // counted — a query with fewer than k=3 is STARVED and ranks instead
  // over ALL filter-passing rows (widenTo=64 ≥ every tested sf's centroid
  // count, so the widened probe set covers the whole assignment);
  // satisfied queries keep their nprobe=3 ranking. Same unit/cent/asg
  // CTE arithmetic as ivfReplaySql (label threaded, rare predicate).
  private val ivfFilteredRareSql: String =
    s"""WITH unit AS (
       | SELECT vec_id, label,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE) /
       |   sqrt(list_aggregate(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)), 'sum'))) AS v
       | FROM embeddings),
       |cent AS (SELECT vec_id AS centroid_id, v AS cv FROM unit WHERE vec_id % 50 = 0),
       |asg0 AS (
       | SELECT u.vec_id, u.label, u.v, c.centroid_id,
       |  list_aggregate(list_transform(generate_series(1, len(u.v)), i -> u.v[i] * c.cv[i]), 'sum') AS d
       | FROM unit u CROSS JOIN cent c),
       |asg AS (
       | SELECT vec_id, label, v, centroid_id AS bucket FROM (
       |  SELECT vec_id, label, v, centroid_id,
       |   row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, centroid_id) AS rn
       |  FROM asg0) WHERE rn = 1),
       |probes AS (
       | SELECT vec_id AS query_id, v AS qv, centroid_id AS bucket FROM (
       |  SELECT vec_id, v, centroid_id,
       |   row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, centroid_id) AS rn
       |  FROM asg0 WHERE vec_id % 100 = 0) WHERE rn <= 3),
       |cand AS (
       | SELECT p.query_id, a.vec_id AS neighbor_id,
       |  list_aggregate(list_transform(generate_series(1, len(p.qv)), i -> p.qv[i] * a.v[i]), 'sum') AS c
       | FROM probes p JOIN asg a ON a.bucket = p.bucket AND a.vec_id <> p.query_id
       | WHERE a.label = 3 AND a.vec_id % 10 = 0),
       |starved AS (
       | SELECT u.vec_id AS query_id FROM unit u
       | LEFT JOIN (SELECT query_id, count(*) AS n FROM cand GROUP BY 1) cn
       |  ON cn.query_id = u.vec_id
       | WHERE u.vec_id % 100 = 0 AND coalesce(cn.n, 0) < 3),
       |candw AS (
       | SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
       |  list_aggregate(list_transform(generate_series(1, len(q.v)), i -> q.v[i] * a.v[i]), 'sum') AS c
       | FROM unit q JOIN asg a ON a.vec_id <> q.vec_id
       | WHERE q.vec_id IN (SELECT query_id FROM starved)
       |  AND a.label = 3 AND a.vec_id % 10 = 0),
       |r3 AS (
       | SELECT query_id, neighbor_id, c,
       |  row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rn
       | FROM cand WHERE query_id NOT IN (SELECT query_id FROM starved)),
       |rw AS (
       | SELECT query_id, neighbor_id, c,
       |  row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rn
       | FROM candw)
       |SELECT query_id, neighbor_id, round(c, 4) AS cos, CAST(rn AS BIGINT) AS rank
       |FROM (SELECT * FROM r3 WHERE rn <= 3 UNION ALL SELECT * FROM rw WHERE rn <= 3)
       |ORDER BY query_id, rank""".stripMargin

  // the IVF-PQ bucket/probe/ADC replay — ONE template shared by
  // ann_ivfpq_topk, the persisted ann_ivfpq_indexed, the exact re-rank
  // ann_ivfpq_rerank (as its shortlist stage), ann_ivfpq_filtered
  // (candidate-side predicate, same placement as the plain-IVF variant),
  // and ann_ivfpq_upsert (`sampleWhere` freezes BOTH the centroid and
  // codebook samples at the build subset, like ivfReplaySql)
  private def ivfPqCtes(extra: Seq[String] = Nil,
                        candWhere: String = "",
                        sampleWhere: String = ""): String = {
    val uc = extra.map(c => s", $c").mkString
    val uc0 = extra.map(c => s", u.$c").mkString
    s"""WITH unit AS (
       | SELECT vec_id$uc,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE) /
       |   sqrt(list_aggregate(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)), 'sum'))) AS v
       | FROM embeddings),
       |cent AS (SELECT vec_id AS centroid_id, v AS cv FROM unit WHERE vec_id % 50 = 0$sampleWhere),
       |asg0 AS (
       | SELECT u.vec_id$uc0, u.v, c.centroid_id,
       |  list_aggregate(list_transform(generate_series(1, len(u.v)), i -> u.v[i] * c.cv[i]), 'sum') AS d
       | FROM unit u CROSS JOIN cent c),
       |asg AS (
       | SELECT vec_id$uc, v, centroid_id AS bucket FROM (
       |  SELECT vec_id$uc, v, centroid_id,
       |   row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, centroid_id) AS rn
       |  FROM asg0) WHERE rn = 1),
       |probes AS (
       | SELECT vec_id AS query_id, v AS qv, centroid_id AS bucket FROM (
       |  SELECT vec_id, v, centroid_id,
       |   row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, centroid_id) AS rn
       |  FROM asg0 WHERE vec_id % 100 = 0) WHERE rn <= 3),
       |cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v
       | FROM unit WHERE vec_id % 50 = 0$sampleWhere),
       |codes0 AS (
       | SELECT u.vec_id, j.j, c.cid,
       |  list_aggregate(list_transform(generate_series(1, 8), i ->
       |   (u.v[j.j*8+i] - c.v[j.j*8+i]) * (u.v[j.j*8+i] - c.v[j.j*8+i])), 'sum') AS d
       | FROM unit u CROSS JOIN generate_series(0, 7) AS j(j) CROSS JOIN cb c),
       |codes AS (SELECT vec_id, j, cid FROM (
       |  SELECT vec_id, j, cid,
       |   row_number() OVER (PARTITION BY vec_id, j ORDER BY d ASC, cid) AS rn
       |  FROM codes0) WHERE rn = 1),
       |recon AS (SELECT codes.vec_id,
       |  flatten(list(list_slice(cb.v, j*8+1, j*8+8) ORDER BY j)) AS dv
       | FROM codes JOIN cb USING (cid) GROUP BY codes.vec_id),
       |scored AS (
       | SELECT p.query_id, a.vec_id AS neighbor_id,
       |  list_aggregate(list_transform(generate_series(1, 64), i -> p.qv[i] * r.dv[i]), 'sum') AS c
       | FROM probes p JOIN asg a ON a.bucket = p.bucket AND a.vec_id <> p.query_id
       | JOIN recon r ON r.vec_id = a.vec_id$candWhere),
       |ranked AS (SELECT query_id, neighbor_id, c,
       |  row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rn
       | FROM scored)""".stripMargin
  }

  private val ivfPqSql: String =
    s"""${ivfPqCtes()}
       |SELECT query_id, neighbor_id, round(c, 4) AS cos, CAST(rn AS BIGINT) AS rank
       |FROM ranked WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin

  private val ivfPqFilteredSql: String =
    s"""${ivfPqCtes(Seq("label"), " WHERE a.label < 5")}
       |SELECT query_id, neighbor_id, round(c, 4) AS cos, CAST(rn AS BIGINT) AS rank
       |FROM ranked WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin

  // the PQ widenTo replay: ivfPqCtes' scored/ranked carry the rare
  // predicate at nprobe=3; starved queries (fewer than k=3 candidates)
  // instead rank ALL filter-passing rows by the same ADC dot against the
  // reconstructed vectors (widenTo=64 ≥ every tested sf's centroid count)
  private val ivfPqFilteredRareSql: String =
    s"""${ivfPqCtes(Seq("label"), " WHERE a.label = 3 AND a.vec_id % 10 = 0")},
       |qc AS (SELECT query_id, count(*) AS n FROM scored GROUP BY 1),
       |qs AS (SELECT vec_id AS query_id, v AS qv FROM unit WHERE vec_id % 100 = 0),
       |starved AS (SELECT q.query_id FROM qs q
       | LEFT JOIN qc ON qc.query_id = q.query_id WHERE coalesce(qc.n, 0) < 3),
       |scoredw AS (
       | SELECT q.query_id, a.vec_id AS neighbor_id,
       |  list_aggregate(list_transform(generate_series(1, 64), i -> q.qv[i] * r.dv[i]), 'sum') AS c
       | FROM qs q JOIN asg a ON a.vec_id <> q.query_id
       |  JOIN recon r ON r.vec_id = a.vec_id
       | WHERE q.query_id IN (SELECT query_id FROM starved)
       |  AND a.label = 3 AND a.vec_id % 10 = 0),
       |rankedw AS (SELECT query_id, neighbor_id, c,
       |  row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rn
       | FROM scoredw)
       |SELECT query_id, neighbor_id, round(c, 4) AS cos, CAST(rn AS BIGINT) AS rank
       |FROM (
       | SELECT * FROM ranked WHERE rn <= 3
       |  AND query_id NOT IN (SELECT query_id FROM starved)
       | UNION ALL SELECT * FROM rankedw WHERE rn <= 3)
       |ORDER BY query_id, rank""".stripMargin

  // ADC shortlist (top-20 per query, same tie-breaks) re-scored against the
  // EXACT unit vectors, then re-ranked — the FAISS refine-step replay
  private val ivfPqRerankSql: String =
    s"""${ivfPqCtes()},
       |short AS (SELECT query_id, neighbor_id FROM ranked WHERE rn <= 20),
       |ex AS (SELECT s.query_id, s.neighbor_id,
       |  list_aggregate(list_transform(generate_series(1, 64), i -> q.v[i] * b.v[i]), 'sum') AS c
       | FROM short s JOIN unit q ON q.vec_id = s.query_id
       |  JOIN unit b ON b.vec_id = s.neighbor_id),
       |rr AS (SELECT query_id, neighbor_id, c,
       |  row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rn
       | FROM ex)
       |SELECT query_id, neighbor_id, round(c, 4) AS cos, CAST(rn AS BIGINT) AS rank
       |FROM rr WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin

  override val oracles: Map[String, String] = Map(
    "ann_topk_cosine" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 20 = 0),
         |scored AS (SELECT query_id, e.vec_id AS neighbor_id, ($cosSql) AS c
         | FROM q JOIN (SELECT vec_id, embedding AS bv FROM embeddings) e
         |  ON e.vec_id <> query_id),
         |ranked AS (SELECT query_id, neighbor_id, c,
         |  row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rn
         | FROM scored)
         |SELECT query_id, neighbor_id, round(c, 4) AS cos, CAST(rn AS BIGINT) AS rank
         |FROM ranked WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin,

    "d_embed_neardup" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 4 = 0),
         |pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  a.embedding AS qv, b.embedding AS bv
         | FROM e a JOIN e b ON a.vec_id < b.vec_id)
         |SELECT id_a, id_b, round(($cosSql), 4) AS cos
         |FROM pairs WHERE ($cosSql) > 0.35 ORDER BY 1, 2""".stripMargin,

    // per-dimension means via indexed unnest; the mean-vector cosine and
    // the per-side mean L2 norms replay the same double arithmetic
    "d_embedding_drift" ->
      """WITH a AS (SELECT embedding FROM embeddings WHERE vec_id % 2 = 0),
        |b AS (SELECT embedding FROM embeddings WHERE vec_id % 2 <> 0),
        |ma AS (SELECT e.i AS pos, avg(CAST(e.x AS DOUBLE)) AS m FROM (
        |  SELECT unnest(list_transform(generate_series(1, len(embedding)),
        |    i -> {'i': i, 'x': embedding[i]})) AS e FROM a) GROUP BY 1),
        |mb AS (SELECT e.i AS pos, avg(CAST(e.x AS DOUBLE)) AS m FROM (
        |  SELECT unnest(list_transform(generate_series(1, len(embedding)),
        |    i -> {'i': i, 'x': embedding[i]})) AS e FROM b) GROUP BY 1),
        |mc AS (SELECT CAST(count(*) AS BIGINT) AS dims,
        |  round(sum(ma.m * mb.m) /
        |    (sqrt(sum(ma.m * ma.m)) * sqrt(sum(mb.m * mb.m))), 6) AS mean_cosine
        | FROM ma JOIN mb USING (pos)),
        |sa AS (SELECT CAST(count(*) AS BIGINT) AS n_a,
        |  round(avg(sqrt(list_sum(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS mean_norm_a FROM a),
        |sb AS (SELECT CAST(count(*) AS BIGINT) AS n_b,
        |  round(avg(sqrt(list_sum(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS mean_norm_b FROM b)
        |SELECT n_a, n_b, dims, mean_cosine, mean_norm_a, mean_norm_b
        |FROM sa, sb, mc""".stripMargin,

    // the exact IVF pipeline: unit-normalize, argmax bucket per vector
    // (tie -> lower centroid id), top-nprobe buckets per query, score only
    // probed buckets, rank. Same sequential-order double arithmetic as the
    // Spark side; round(4) gives orders of magnitude of slack.
    "d_cluster_profile" -> clusterProfileSql,


    // the persisted-profile read replays the per-call pipeline (same
    // sample, same coherence arithmetic off the stored unit forms)
    "d_cluster_profile_indexed" -> clusterProfileSql,

    // recall replay: the ivf pipeline at nprobe=2 + the exact unit-dot
    // ranking, joined per (query, neighbor) — same sequential-dot
    // arithmetic as both Spark paths, recall rounded at 4
    "ann_recall_ivf" ->
      """WITH unit AS (
        | SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE) /
        |   sqrt(list_aggregate(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)), 'sum'))) AS v
        | FROM embeddings),
        |cent AS (SELECT vec_id AS centroid_id, v AS cv FROM unit WHERE vec_id % 50 = 0),
        |asg0 AS (
        | SELECT u.vec_id, u.v, c.centroid_id,
        |  list_aggregate(list_transform(generate_series(1, len(u.v)), i -> u.v[i] * c.cv[i]), 'sum') AS d
        | FROM unit u CROSS JOIN cent c),
        |asg AS (
        | SELECT vec_id, v, centroid_id AS bucket FROM (
        |  SELECT vec_id, v, centroid_id,
        |   row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, centroid_id) AS rn
        |  FROM asg0) WHERE rn = 1),
        |probes AS (
        | SELECT vec_id AS query_id, v AS qv, centroid_id AS bucket FROM (
        |  SELECT vec_id, v, centroid_id,
        |   row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, centroid_id) AS rn
        |  FROM asg0 WHERE vec_id % 100 = 0) WHERE rn <= 2),
        |iscored AS (
        | SELECT p.query_id, a.vec_id AS neighbor_id,
        |  list_aggregate(list_transform(generate_series(1, len(p.qv)), i -> p.qv[i] * a.v[i]), 'sum') AS c
        | FROM probes p JOIN asg a ON a.bucket = p.bucket AND a.vec_id <> p.query_id),
        |ivf AS (SELECT query_id, neighbor_id FROM (
        |  SELECT query_id, neighbor_id,
        |   row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rn
        |  FROM iscored) WHERE rn <= 5),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM unit WHERE vec_id % 100 = 0),
        |escored AS (
        | SELECT q.query_id, u.vec_id AS neighbor_id,
        |  list_aggregate(list_transform(generate_series(1, len(q.qv)), i -> q.qv[i] * u.v[i]), 'sum') AS c
        | FROM q JOIN unit u ON u.vec_id <> q.query_id),
        |ex AS (SELECT query_id, neighbor_id FROM (
        |  SELECT query_id, neighbor_id,
        |   row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rn
        |  FROM escored) WHERE rn <= 5)
        |SELECT e.query_id, CAST(count(*) AS BIGINT) AS n_exact,
        |  round(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
        |    / CAST(count(*) AS DOUBLE), 4) AS recall
        |FROM ex e LEFT JOIN ivf i
        |  ON i.query_id = e.query_id AND i.neighbor_id = e.neighbor_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // PQ recall replay: the ivfPq ADC ranking (ranked CTE) joined against
    // the exact unit-dot top-5 per (query, neighbor)
    "ann_recall_ivfpq" ->
      s"""${ivfPqCtes()},
         |pq AS (SELECT query_id, neighbor_id FROM ranked WHERE rn <= 5),
         |qs AS (SELECT vec_id AS query_id, v AS qv FROM unit WHERE vec_id % 100 = 0),
         |escored AS (
         | SELECT qs.query_id, u.vec_id AS neighbor_id,
         |  list_aggregate(list_transform(generate_series(1, 64), i -> qs.qv[i] * u.v[i]), 'sum') AS c
         | FROM qs JOIN unit u ON u.vec_id <> qs.query_id),
         |ex AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |   row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rn
         |  FROM escored) WHERE rn <= 5)
         |SELECT e.query_id, CAST(count(*) AS BIGINT) AS n_exact,
         |  round(sum(CASE WHEN p.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         |    / CAST(count(*) AS DOUBLE), 4) AS recall
         |FROM ex e LEFT JOIN pq p
         |  ON p.query_id = e.query_id AND p.neighbor_id = e.neighbor_id
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "ann_ivf_topk" -> ivfSql,

    "ann_calibrate" -> calibrateSql(Seq(1, 2, 3), k = 5, target = 0.15),

    // the widenTo sweep replay: first pass at nprobe=3 under the rare
    // predicate → starved set (per-query rows < 3) → the w=4 arm
    // re-probes starved queries at rn<=4 (the PROBED widen branch), the
    // exhaustive arm ranks them over all filter-passing rows; recall per
    // arm against the exact filtered ranking, n_short per arm, min-widen
    // pick at 0.9 — the same unit/cent/asg arithmetic as ivfReplaySql
    "ann_calibrate_widen" ->
      """WITH unit AS (
        | SELECT vec_id, label,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE) /
        |   sqrt(list_aggregate(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)), 'sum'))) AS v
        | FROM embeddings),
        |cent AS (SELECT vec_id AS centroid_id, v AS cv FROM unit WHERE vec_id % 50 = 0),
        |asg0 AS (
        | SELECT u.vec_id, u.label, u.v, c.centroid_id,
        |  list_aggregate(list_transform(generate_series(1, len(u.v)), i -> u.v[i] * c.cv[i]), 'sum') AS d
        | FROM unit u CROSS JOIN cent c),
        |asg AS (
        | SELECT vec_id, label, v, centroid_id AS bucket FROM (
        |  SELECT vec_id, label, v, centroid_id,
        |   row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, centroid_id) AS rn
        |  FROM asg0) WHERE rn = 1),
        |elig AS (SELECT vec_id, v, bucket FROM asg
        | WHERE label = 3 AND vec_id % 10 = 0),
        |qs AS (SELECT vec_id AS query_id, v AS qv FROM unit WHERE vec_id % 100 = 0),
        |probesR AS (
        | SELECT vec_id AS query_id, v AS qv, centroid_id AS bucket, rn FROM (
        |  SELECT vec_id, v, centroid_id,
        |   row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, centroid_id) AS rn
        |  FROM asg0 WHERE vec_id % 100 = 0) WHERE rn <= 4),
        |cand0 AS (
        | SELECT p.query_id, e.vec_id AS neighbor_id,
        |  list_aggregate(list_transform(generate_series(1, len(p.qv)), i -> p.qv[i] * e.v[i]), 'sum') AS c
        | FROM probesR p JOIN elig e ON e.bucket = p.bucket AND e.vec_id <> p.query_id
        | WHERE p.rn <= 3),
        |res0 AS (SELECT query_id, neighbor_id, c FROM (
        |  SELECT query_id, neighbor_id, c,
        |   row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rn
        |  FROM cand0) WHERE rn <= 3),
        |starved AS (
        | SELECT q.query_id FROM qs q
        | LEFT JOIN (SELECT query_id, count(*) AS n FROM res0 GROUP BY 1) cn
        |  ON cn.query_id = q.query_id
        | WHERE coalesce(cn.n, 0) < 3),
        |cand4 AS (
        | SELECT p.query_id, e.vec_id AS neighbor_id,
        |  list_aggregate(list_transform(generate_series(1, len(p.qv)), i -> p.qv[i] * e.v[i]), 'sum') AS c
        | FROM probesR p JOIN elig e ON e.bucket = p.bucket AND e.vec_id <> p.query_id
        | WHERE p.query_id IN (SELECT query_id FROM starved)),
        |res4s AS (SELECT query_id, neighbor_id, c FROM (
        |  SELECT query_id, neighbor_id, c,
        |   row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rn
        |  FROM cand4) WHERE rn <= 3),
        |candx AS (
        | SELECT q.query_id, e.vec_id AS neighbor_id,
        |  list_aggregate(list_transform(generate_series(1, len(q.qv)), i -> q.qv[i] * e.v[i]), 'sum') AS c
        | FROM qs q JOIN elig e ON e.vec_id <> q.query_id
        | WHERE q.query_id IN (SELECT query_id FROM starved)),
        |resxs AS (SELECT query_id, neighbor_id, c FROM (
        |  SELECT query_id, neighbor_id, c,
        |   row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rn
        |  FROM candx) WHERE rn <= 3),
        |res_w0 AS (SELECT query_id, neighbor_id FROM res0),
        |res_w4 AS (
        | SELECT query_id, neighbor_id FROM res0
        |  WHERE query_id NOT IN (SELECT query_id FROM starved)
        | UNION ALL SELECT query_id, neighbor_id FROM res4s),
        |res_wx AS (
        | SELECT query_id, neighbor_id FROM res0
        |  WHERE query_id NOT IN (SELECT query_id FROM starved)
        | UNION ALL SELECT query_id, neighbor_id FROM resxs),
        |escored AS (
        | SELECT q.query_id, e.vec_id AS neighbor_id,
        |  list_aggregate(list_transform(generate_series(1, len(q.qv)), i -> q.qv[i] * e.v[i]), 'sum') AS c
        | FROM qs q JOIN elig e ON e.vec_id <> q.query_id),
        |ex AS (SELECT query_id, neighbor_id FROM (
        |  SELECT query_id, neighbor_id,
        |   row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rn
        |  FROM escored) WHERE rn <= 3),
        |nq AS (SELECT count(*) AS n FROM qs),
        |rec0 AS (SELECT e.query_id,
        |  round(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
        |    / CAST(count(*) AS DOUBLE), 4) AS recall
        | FROM ex e LEFT JOIN res_w0 a
        |  ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
        | GROUP BY 1),
        |rec4 AS (SELECT e.query_id,
        |  round(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
        |    / CAST(count(*) AS DOUBLE), 4) AS recall
        | FROM ex e LEFT JOIN res_w4 a
        |  ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
        | GROUP BY 1),
        |recx AS (SELECT e.query_id,
        |  round(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
        |    / CAST(count(*) AS DOUBLE), 4) AS recall
        | FROM ex e LEFT JOIN res_wx a
        |  ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
        | GROUP BY 1),
        |row0 AS (SELECT CAST(0 AS BIGINT) AS widen,
        |  (SELECT round(avg(recall), 4) FROM rec0) AS mean_recall,
        |  (SELECT CAST((SELECT n FROM nq) - count(*) AS BIGINT) FROM
        |    (SELECT query_id FROM res_w0 GROUP BY 1 HAVING count(*) >= 3) s)
        |   AS n_short),
        |row4 AS (SELECT CAST(4 AS BIGINT) AS widen,
        |  (SELECT round(avg(recall), 4) FROM rec4) AS mean_recall,
        |  (SELECT CAST((SELECT n FROM nq) - count(*) AS BIGINT) FROM
        |    (SELECT query_id FROM res_w4 GROUP BY 1 HAVING count(*) >= 3) s)
        |   AS n_short),
        |rowx AS (SELECT CAST(1000000 AS BIGINT) AS widen,
        |  (SELECT round(avg(recall), 4) FROM recx) AS mean_recall,
        |  (SELECT CAST((SELECT n FROM nq) - count(*) AS BIGINT) FROM
        |    (SELECT query_id FROM res_wx GROUP BY 1 HAVING count(*) >= 3) s)
        |   AS n_short),
        |rows_all AS (SELECT * FROM row0 UNION ALL SELECT * FROM row4
        | UNION ALL SELECT * FROM rowx),
        |mm AS (SELECT min(widen) AS mw FROM rows_all WHERE mean_recall >= 0.9)
        |SELECT r.widen, r.mean_recall, r.n_short,
        |  coalesce(r.widen = mm.mw, FALSE) AS pick
        |FROM rows_all r CROSS JOIN mm ORDER BY widen""".stripMargin,

    // residual-PQ recall twin: the ivfPq CTE skeleton with the encode
    // swapped to residuals — rv = v − cv(bucket), codebook sampled from
    // the residuals, ADC dot against cv + reconstructed residual (one
    // sequential fold over the SUMMED vector, matching the Spark side's
    // zip_with(cv, decoded, +) before the dot)
    "ann_recall_ivfpq_resid" ->
      """WITH unit AS (
        | SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE) /
        |   sqrt(list_aggregate(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)), 'sum'))) AS v
        | FROM embeddings),
        |cent AS (SELECT vec_id AS centroid_id, v AS cv FROM unit WHERE vec_id % 50 = 0),
        |asg0 AS (
        | SELECT u.vec_id, u.v, c.centroid_id,
        |  list_aggregate(list_transform(generate_series(1, len(u.v)), i -> u.v[i] * c.cv[i]), 'sum') AS d
        | FROM unit u CROSS JOIN cent c),
        |asg AS (
        | SELECT vec_id, v, centroid_id AS bucket FROM (
        |  SELECT vec_id, v, centroid_id,
        |   row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, centroid_id) AS rn
        |  FROM asg0) WHERE rn = 1),
        |probes AS (
        | SELECT vec_id AS query_id, v AS qv, centroid_id AS bucket FROM (
        |  SELECT vec_id, v, centroid_id,
        |   row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, centroid_id) AS rn
        |  FROM asg0 WHERE vec_id % 100 = 0) WHERE rn <= 3),
        |res AS (
        | SELECT a.vec_id, a.bucket, c.cv,
        |  list_transform(generate_series(1, len(a.v)), i -> a.v[i] - c.cv[i]) AS rv
        | FROM asg a JOIN cent c ON c.centroid_id = a.bucket),
        |cbr AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, rv
        | FROM res WHERE vec_id % 50 = 0),
        |codes0 AS (
        | SELECT r.vec_id, j.j, c.cid,
        |  list_aggregate(list_transform(generate_series(1, 8), i ->
        |   (r.rv[j.j*8+i] - c.rv[j.j*8+i]) * (r.rv[j.j*8+i] - c.rv[j.j*8+i])), 'sum') AS d
        | FROM res r CROSS JOIN generate_series(0, 7) AS j(j) CROSS JOIN cbr c),
        |codes AS (SELECT vec_id, j, cid FROM (
        |  SELECT vec_id, j, cid,
        |   row_number() OVER (PARTITION BY vec_id, j ORDER BY d ASC, cid) AS rn
        |  FROM codes0) WHERE rn = 1),
        |recon AS (SELECT codes.vec_id,
        |  flatten(list(list_slice(cbr.rv, j*8+1, j*8+8) ORDER BY j)) AS dres
        | FROM codes JOIN cbr USING (cid) GROUP BY codes.vec_id),
        |dv AS (SELECT r.vec_id,
        |  list_transform(generate_series(1, 64), i -> r.cv[i] + rec.dres[i]) AS dvv
        | FROM res r JOIN recon rec USING (vec_id)),
        |scored AS (
        | SELECT p.query_id, a.vec_id AS neighbor_id,
        |  list_aggregate(list_transform(generate_series(1, 64), i -> p.qv[i] * d.dvv[i]), 'sum') AS c
        | FROM probes p JOIN asg a ON a.bucket = p.bucket AND a.vec_id <> p.query_id
        | JOIN dv d ON d.vec_id = a.vec_id),
        |pq AS (SELECT query_id, neighbor_id FROM (
        |  SELECT query_id, neighbor_id,
        |   row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rn
        |  FROM scored) WHERE rn <= 5),
        |qs AS (SELECT vec_id AS query_id, v AS qv FROM unit WHERE vec_id % 100 = 0),
        |escored AS (
        | SELECT qs.query_id, u.vec_id AS neighbor_id,
        |  list_aggregate(list_transform(generate_series(1, 64), i -> qs.qv[i] * u.v[i]), 'sum') AS c
        | FROM qs JOIN unit u ON u.vec_id <> qs.query_id),
        |ex AS (SELECT query_id, neighbor_id FROM (
        |  SELECT query_id, neighbor_id,
        |   row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rn
        |  FROM escored) WHERE rn <= 5)
        |SELECT e.query_id, CAST(count(*) AS BIGINT) AS n_exact,
        |  round(sum(CASE WHEN p.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
        |    / CAST(count(*) AS DOUBLE), 4) AS recall
        |FROM ex e LEFT JOIN pq p
        |  ON p.query_id = e.query_id AND p.neighbor_id = e.neighbor_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the SAME replay checks the PERSISTED index path: build + probe must
    // agree with the per-call assignment plan exactly
    "ann_ivf_indexed" -> ivfSql,

    "ann_ivf_filtered" -> ivfFilteredSql,

    "ann_ivf_filtered_rare" -> ivfFilteredRareSql,

    // upsert lifecycle: full-corpus candidates against the build
    // subset's frozen centroid sample — the streaming twin converges to
    // the same final state, so one replay serves both
    "ann_ivf_upsert" -> ivfReplaySql(Nil, "", " AND vec_id % 3 <> 1"),
    "ann_stream_compact" -> ivfReplaySql(Nil, "", " AND vec_id % 3 <> 1"),

    "ann_ivfpq_upsert" ->
      s"""${ivfPqCtes(Nil, "", " AND vec_id % 3 <> 1")}
         |SELECT query_id, neighbor_id, round(c, 4) AS cos, CAST(rn AS BIGINT) AS rank
         |FROM ranked WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin,

    // shared with d_semantic_dedup_gate (bit-identical by construction)
    // and d_semantic_dedup_indexed (same assignment persisted, same pair
    // semantics off the saved table), so one oracle serves all three
    "d_semantic_dedup_gate" -> semanticDedupSql,
    "d_semantic_dedup" -> semanticDedupSql,
    "d_semantic_dedup_indexed" -> semanticDedupSql,

    // PQ: codebook = id-sorted mod-50 sample split into 8 subspaces of 8;
    // codes = per-subspace argmin L2 (tie → lower code); score = dot of the
    // exact query against the decoded (centroid-concatenated) vector —
    // identical sequential double arithmetic on both sides
    "ann_pq_topk" ->
      """WITH unit AS (
        | SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE) /
        |   sqrt(list_aggregate(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)), 'sum'))) AS v
        | FROM embeddings),
        |cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v
        | FROM unit WHERE vec_id % 50 = 0),
        |codes0 AS (
        | SELECT u.vec_id, j.j, c.cid,
        |  list_aggregate(list_transform(generate_series(1, 8), i ->
        |   (u.v[j.j*8+i] - c.v[j.j*8+i]) * (u.v[j.j*8+i] - c.v[j.j*8+i])), 'sum') AS d
        | FROM unit u CROSS JOIN generate_series(0, 7) AS j(j) CROSS JOIN cb c),
        |codes AS (SELECT vec_id, j, cid FROM (
        |  SELECT vec_id, j, cid,
        |   row_number() OVER (PARTITION BY vec_id, j ORDER BY d ASC, cid) AS rn
        |  FROM codes0) WHERE rn = 1),
        |recon AS (SELECT codes.vec_id,
        |  flatten(list(list_slice(cb.v, j*8+1, j*8+8) ORDER BY j)) AS dv
        | FROM codes JOIN cb USING (cid) GROUP BY codes.vec_id),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM unit WHERE vec_id % 100 = 0),
        |scored AS (SELECT q.query_id, r.vec_id AS neighbor_id,
        |  list_aggregate(list_transform(generate_series(1, 64), i -> q.qv[i] * r.dv[i]), 'sum') AS c
        | FROM q JOIN recon r ON r.vec_id <> q.query_id),
        |ranked AS (SELECT query_id, neighbor_id, c,
        |  row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rn
        | FROM scored)
        |SELECT query_id, neighbor_id, round(c, 4) AS cos, CAST(rn AS BIGINT) AS rank
        |FROM ranked WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin,

    // IVF-PQ composition: the ann_ivf_topk bucket/probe CTEs verbatim,
    // scored against ann_pq_topk's reconstructed vectors instead of the
    // exact ones — candidate set pruned by bucket, score read from codes
    "ann_ivfpq_topk" -> ivfPqSql,

    "ann_ivfpq_rerank" -> ivfPqRerankSql,

    // the persisted refine step must reproduce the per-call plan exactly
    "ann_ivfpq_rerank_indexed" -> ivfPqRerankSql,

    // the persisted IVF-PQ tables must reproduce the per-call plan exactly
    "ann_ivfpq_indexed" -> ivfPqSql,

    "ann_ivfpq_filtered" -> ivfPqFilteredSql,

    "ann_ivfpq_filtered_rare" -> ivfPqFilteredRareSql,

    "ann_lsh_topk" ->
      s"""WITH unit AS (
         | SELECT vec_id,
         |  list_transform(embedding, x -> CAST(x AS DOUBLE) /
         |   sqrt(list_aggregate(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)), 'sum'))) AS v
         | FROM embeddings),
         |b AS ($lshTablesSql),
         |q AS (SELECT vec_id, v, tbl, bucket FROM b WHERE vec_id % 100 = 0),
         |scored AS (
         | SELECT DISTINCT q.vec_id AS query_id, b.vec_id AS neighbor_id,
         |  list_aggregate(list_transform(generate_series(1, 64), i -> q.v[i] * b.v[i]), 'sum') AS c
         | FROM q JOIN b ON q.tbl = b.tbl AND q.bucket = b.bucket AND b.vec_id <> q.vec_id),
         |ranked AS (
         | SELECT query_id, neighbor_id, c,
         |  row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rn
         | FROM scored)
         |SELECT query_id, neighbor_id, round(c, 4) AS cos, CAST(rn AS BIGINT) AS rank
         |FROM ranked WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin,

    // RRF replay: bm25 ranked on the ROUNDED score (matching bm25TopK's
    // output ordering), cosine ranked on the raw dot like ann_topk; both
    // contribute 1/(60+rank), absent docs contribute nothing
    "e34_hybrid_rrf" ->
      s"""WITH q(term) AS (SELECT * FROM (VALUES ('spark'), ('window'), ('data')) v(t)),
         |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w,
         |   len(string_split(text, ' ')) AS dl FROM documents),
         |tf AS (SELECT doc_id, w AS term, count(*) AS tf, any_value(dl) AS dl
         | FROM tok JOIN q ON w = q.term GROUP BY doc_id, w),
         |st AS (SELECT count(*) AS n_docs,
         |   avg(CAST(len(string_split(text, ' ')) AS DOUBLE)) AS avgdl FROM documents),
         |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |bmscore AS (SELECT doc_id, round(sum(
         |   ln(1 + (n_docs - df + 0.5) / (df + 0.5)) *
         |   tf * (1.2 + 1) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 6) AS score
         | FROM tf JOIN dfq USING (term) CROSS JOIN st GROUP BY doc_id),
         |bm AS (SELECT doc_id, rn AS rank FROM (SELECT doc_id,
         |   row_number() OVER (ORDER BY score DESC, doc_id) AS rn FROM bmscore)
         | WHERE rn <= 20),
         |q0 AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |vscored AS (SELECT e.vec_id AS doc_id, ($cosSql) AS c
         | FROM q0 CROSS JOIN (SELECT vec_id, embedding AS bv FROM embeddings) e
         | WHERE e.vec_id <> 0),
         |vr AS (SELECT doc_id, rn AS rank FROM (SELECT doc_id,
         |   row_number() OVER (ORDER BY c DESC, doc_id) AS rn FROM vscored)
         | WHERE rn <= 20),
         |fused AS (SELECT doc_id, CAST(1 AS DOUBLE) / (60 + rank) AS contrib FROM bm
         | UNION ALL
         | SELECT doc_id, CAST(1 AS DOUBLE) / (60 + rank) FROM vr)
         |SELECT doc_id, round(sum(contrib), 6) AS rrf_score,
         |  CAST(count(*) AS BIGINT) AS n_lists
         |FROM fused GROUP BY doc_id
         |ORDER BY rrf_score DESC, doc_id LIMIT 15""".stripMargin,

    // the persisted-tier hybrid: e34's BM25 arm verbatim; the vector arm
    // replays the IVF probe/score ranking (top-20 for query 0) instead
    // of brute force — the saved-index read the Spark side performs
    "e40_hybrid_indexed" ->
      s"""WITH q(term) AS (SELECT * FROM (VALUES ('spark'), ('window'), ('data')) v(t)),
         |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w,
         |   len(string_split(text, ' ')) AS dl FROM documents),
         |tf AS (SELECT doc_id, w AS term, count(*) AS tf, any_value(dl) AS dl
         | FROM tok JOIN q ON w = q.term GROUP BY doc_id, w),
         |st AS (SELECT count(*) AS n_docs,
         |   avg(CAST(len(string_split(text, ' ')) AS DOUBLE)) AS avgdl FROM documents),
         |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |bmscore AS (SELECT doc_id, round(sum(
         |   ln(1 + (n_docs - df + 0.5) / (df + 0.5)) *
         |   tf * (1.2 + 1) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 6) AS score
         | FROM tf JOIN dfq USING (term) CROSS JOIN st GROUP BY doc_id),
         |bm AS (SELECT doc_id, rn AS rank FROM (SELECT doc_id,
         |   row_number() OVER (ORDER BY score DESC, doc_id) AS rn FROM bmscore)
         | WHERE rn <= 20),
         |unit AS (
         | SELECT vec_id,
         |  list_transform(embedding, x -> CAST(x AS DOUBLE) /
         |   sqrt(list_aggregate(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)), 'sum'))) AS v
         | FROM embeddings),
         |cent AS (SELECT vec_id AS centroid_id, v AS cv FROM unit WHERE vec_id % 50 = 0),
         |asg0 AS (
         | SELECT u.vec_id, u.v, c.centroid_id,
         |  list_aggregate(list_transform(generate_series(1, len(u.v)), i -> u.v[i] * c.cv[i]), 'sum') AS d
         | FROM unit u CROSS JOIN cent c),
         |asg AS (
         | SELECT vec_id, v, centroid_id AS bucket FROM (
         |  SELECT vec_id, v, centroid_id,
         |   row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, centroid_id) AS rn
         |  FROM asg0) WHERE rn = 1),
         |probes AS (
         | SELECT vec_id AS query_id, v AS qv, centroid_id AS bucket FROM (
         |  SELECT vec_id, v, centroid_id,
         |   row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, centroid_id) AS rn
         |  FROM asg0 WHERE vec_id = 0) WHERE rn <= 3),
         |iscored AS (
         | SELECT p.query_id, a.vec_id AS doc_id,
         |  list_aggregate(list_transform(generate_series(1, len(p.qv)), i -> p.qv[i] * a.v[i]), 'sum') AS c
         | FROM probes p JOIN asg a ON a.bucket = p.bucket AND a.vec_id <> p.query_id),
         |vr AS (SELECT doc_id, rn AS rank FROM (SELECT doc_id,
         |   row_number() OVER (ORDER BY c DESC, doc_id) AS rn FROM iscored)
         | WHERE rn <= 20),
         |fused AS (SELECT doc_id, CAST(1 AS DOUBLE) / (60 + rank) AS contrib FROM bm
         | UNION ALL
         | SELECT doc_id, CAST(1 AS DOUBLE) / (60 + rank) FROM vr)
         |SELECT doc_id, round(sum(contrib), 6) AS rrf_score,
         |  CAST(count(*) AS BIGINT) AS n_lists
         |FROM fused GROUP BY doc_id
         |ORDER BY rrf_score DESC, doc_id LIMIT 15""".stripMargin,

    // sample covariance replayed relationally: per-(row, dim) elements
    // self-joined on the row id — n·d²/2 intermediate rows are fine for an
    // oracle; the engine side carries d² state once per partial instead.
    // Same (Σxy − Σx·Σy/n)/(n−1) expression shape, round(6) absorbs the
    // engines' different summation orders.
    "ann_pca_cov" ->
      """WITH el AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
        |  FROM (SELECT vec_id, embedding,
        |          unnest(generate_series(1, len(embedding))) AS i
        |        FROM embeddings)),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM embeddings),
        |s AS (SELECT i, sum(x) AS si FROM el GROUP BY i),
        |p AS (SELECT a.i AS i, b.i AS j, sum(a.x * b.x) AS sp
        |  FROM el a JOIN el b ON a.vec_id = b.vec_id AND a.i <= b.i
        |  GROUP BY a.i, b.i)
        |SELECT CAST(p.i - 1 AS BIGINT) AS i, CAST(p.j - 1 AS BIGINT) AS j,
        |  round((sp - sa.si * sb.si / n) / (n - 1), 6) + 0.0 AS cov
        |FROM p JOIN s sa ON sa.i = p.i JOIN s sb ON sb.i = p.j CROSS JOIN n
        |ORDER BY i, j""".stripMargin,

    // the IVF assignment CTEs (ivfSql's) + a per-bucket md5 rank —
    // shared with the persisted-index twin (same sample, same rank)
    "d_cluster_sample" -> clusterSampleSql,
    "d_cluster_sample_indexed" -> clusterSampleSql,


    // the k-center greedy replayed round by round: each cN picks the
    // farthest-from-selected point (cosine distance over unit vectors,
    // id tie-break) off the previous round's running min-distance frame;
    // distances fold sequentially as doubles on both engines, round(6)
    // only at output
    "d_kcenter_select" ->
      """WITH unit0 AS (
        | SELECT vec_id, embedding,
        |  sqrt(list_aggregate(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)), 'sum')) AS nrm
        | FROM embeddings WHERE embedding IS NOT NULL),
        |unit AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) AS v
        | FROM unit0 WHERE nrm > 0),
        |s1 AS (SELECT vec_id AS id, v FROM unit ORDER BY vec_id LIMIT 1),
        |d1 AS (SELECT u.vec_id, u.v,
        |  1 - list_aggregate(list_transform(generate_series(1, len(u.v)), i -> u.v[i] * s1.v[i]), 'sum') AS mind
        | FROM unit u CROSS JOIN s1),
        |c2 AS (SELECT vec_id AS id, v, mind FROM d1 WHERE mind > 1e-9
        |       ORDER BY mind DESC, vec_id LIMIT 1),
        |d2 AS (SELECT d.vec_id, d.v,
        |  least(d.mind, 1 - list_aggregate(list_transform(generate_series(1, len(d.v)), i -> d.v[i] * c2.v[i]), 'sum')) AS mind
        | FROM d1 d CROSS JOIN c2),
        |c3 AS (SELECT vec_id AS id, v, mind FROM d2 WHERE mind > 1e-9
        |       ORDER BY mind DESC, vec_id LIMIT 1),
        |d3 AS (SELECT d.vec_id, d.v,
        |  least(d.mind, 1 - list_aggregate(list_transform(generate_series(1, len(d.v)), i -> d.v[i] * c3.v[i]), 'sum')) AS mind
        | FROM d2 d CROSS JOIN c3),
        |c4 AS (SELECT vec_id AS id, v, mind FROM d3 WHERE mind > 1e-9
        |       ORDER BY mind DESC, vec_id LIMIT 1)
        |SELECT id, CAST(1 AS BIGINT) AS rank, CAST(0.0 AS DOUBLE) AS dist FROM s1
        |UNION ALL SELECT id, CAST(2 AS BIGINT), round(mind, 6) FROM c2
        |UNION ALL SELECT id, CAST(3 AS BIGINT), round(mind, 6) FROM c3
        |UNION ALL SELECT id, CAST(4 AS BIGINT), round(mind, 6) FROM c4
        |ORDER BY rank""".stripMargin,

    // coarse = every ceil(sqrt(|fine|))-th fine centroid by id rank;
    // fine→cell and per-row argmaxes break ties exactly like the kernel
    // (DESC similarity, then lower cell index / lower fine id)
    "ann_ivf2_assign" ->
      """WITH unit AS (
        | SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE) /
        |   sqrt(list_aggregate(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)), 'sum'))) AS v
        | FROM embeddings),
        |fine AS (SELECT vec_id AS fid, v AS fv,
        |   row_number() OVER (ORDER BY vec_id) - 1 AS fidx
        | FROM unit WHERE vec_id % 50 = 0),
        |st AS (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS stride FROM fine),
        |coarse AS (SELECT f.fidx / st.stride AS cellidx, f.fv AS cv
        | FROM fine f, st WHERE f.fidx % st.stride = 0),
        |cellasg AS (
        | SELECT fid, fv, cellidx FROM (
        |  SELECT f.fid, f.fv, c.cellidx,
        |   row_number() OVER (PARTITION BY f.fid ORDER BY
        |     list_aggregate(list_transform(generate_series(1, len(f.fv)), i -> f.fv[i] * c.cv[i]), 'sum') DESC,
        |     c.cellidx) AS rn
        |  FROM fine f CROSS JOIN coarse c) WHERE rn = 1),
        |probes AS (
        | SELECT vec_id, cellidx FROM (
        |  SELECT u.vec_id, c.cellidx,
        |   row_number() OVER (PARTITION BY u.vec_id ORDER BY
        |     list_aggregate(list_transform(generate_series(1, len(u.v)), i -> u.v[i] * c.cv[i]), 'sum') DESC,
        |     c.cellidx) AS rn
        |  FROM unit u CROSS JOIN coarse c) WHERE rn <= 2)
        |SELECT vec_id, bucket FROM (
        | SELECT u.vec_id, f.fid AS bucket,
        |  row_number() OVER (PARTITION BY u.vec_id ORDER BY
        |    list_aggregate(list_transform(generate_series(1, len(u.v)), i -> u.v[i] * f.fv[i]), 'sum') DESC,
        |    f.fid) AS rn
        | FROM unit u JOIN probes p ON p.vec_id = u.vec_id
        |  JOIN cellasg f ON f.cellidx = p.cellidx) WHERE rn = 1
        |ORDER BY vec_id""".stripMargin
  )

  /** The cluster-profile DuckDB replay, shared by d_cluster_profile and
    * its persisted-index twin (same sample, same coherence arithmetic).
    */
  /** The cluster-sample DuckDB replay, shared by d_cluster_sample and
    * its persisted-index twin.
    */
  private lazy val clusterSampleSql =
    """WITH unit0 AS (
        | SELECT vec_id, embedding,
        |  sqrt(list_aggregate(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)), 'sum')) AS nrm
        | FROM embeddings WHERE embedding IS NOT NULL),
        |unit AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) AS v
        | FROM unit0 WHERE nrm > 0),
        |cent AS (SELECT vec_id AS centroid_id, v AS cv FROM unit WHERE vec_id % 50 = 0),
        |asg0 AS (
        | SELECT u.vec_id, c.centroid_id,
        |  list_aggregate(list_transform(generate_series(1, len(u.v)), i -> u.v[i] * c.cv[i]), 'sum') AS d
        | FROM unit u CROSS JOIN cent c),
        |asg AS (
        | SELECT vec_id, centroid_id AS bucket FROM (
        |  SELECT vec_id, centroid_id,
        |   row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, centroid_id) AS rn
        |  FROM asg0)
        | WHERE rn = 1),
        |ranked AS (
        | SELECT vec_id, bucket,
        |  row_number() OVER (PARTITION BY bucket
        |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rank
        | FROM asg)
        |SELECT vec_id, CAST(bucket AS BIGINT) AS bucket, CAST(rank AS BIGINT) AS rank
        |FROM ranked WHERE rank <= 3 ORDER BY bucket, rank""".stripMargin

  private lazy val clusterProfileSql =
    """WITH unit AS (
        | SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE) /
        |   sqrt(list_aggregate(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)), 'sum'))) AS v
        | FROM embeddings),
        |cent AS (SELECT vec_id AS centroid_id, v AS cv FROM unit WHERE vec_id % 50 = 0),
        |asg0 AS (
        | SELECT u.vec_id, c.centroid_id,
        |  list_aggregate(list_transform(generate_series(1, len(u.v)), i -> u.v[i] * c.cv[i]), 'sum') AS d
        | FROM unit u CROSS JOIN cent c),
        |asg AS (SELECT vec_id, centroid_id, d FROM (
        |  SELECT vec_id, centroid_id, d,
        |   row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, centroid_id) AS rn
        |  FROM asg0) WHERE rn = 1)
        |SELECT centroid_id, count(*) AS n_members, round(avg(d), 6) AS mean_cosine
        |FROM asg GROUP BY 1 ORDER BY 1""".stripMargin

  /** The SemDeDup DuckDB replay, shared by d_semantic_dedup, its
    * gate-engaged twin (bit-identical by construction), and the
    * persisted-index twin d_semantic_dedup_indexed (same assignment
    * persisted, same pair semantics off the saved table).
    */
  private lazy val semanticDedupSql =
    """WITH RECURSIVE unit AS (
        | SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE) /
        |   sqrt(list_aggregate(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)), 'sum'))) AS v
        | FROM embeddings WHERE vec_id % 2 = 0),
        |cent AS (SELECT vec_id AS centroid_id, v AS cv FROM unit WHERE vec_id % 50 = 0),
        |asg0 AS (
        | SELECT u.vec_id, u.v, c.centroid_id,
        |  list_aggregate(list_transform(generate_series(1, len(u.v)), i -> u.v[i] * c.cv[i]), 'sum') AS d
        | FROM unit u CROSS JOIN cent c),
        |asg AS (
        | SELECT vec_id, v, centroid_id AS bucket FROM (
        |  SELECT vec_id, v, centroid_id,
        |   row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, centroid_id) AS rn
        |  FROM asg0) WHERE rn = 1),
        |nd AS (
        | SELECT a.vec_id AS id_a, b.vec_id AS id_b
        | FROM asg a JOIN asg b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        | WHERE list_aggregate(list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i]), 'sum') > 0.35),
        |edges AS (SELECT id_a AS u, id_b AS v FROM nd
        | UNION SELECT id_b, id_a FROM nd),
        |reach(id, r) AS (
        | SELECT u, u FROM edges
        | UNION
        | SELECT e.u, reach.r FROM edges e JOIN reach ON reach.id = e.v),
        |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
        |SELECT u.vec_id FROM unit u LEFT JOIN comp c ON c.id = u.vec_id
        |WHERE c.id IS NULL OR u.vec_id = c.component
        |ORDER BY u.vec_id""".stripMargin
}
