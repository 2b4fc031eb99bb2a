package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.search.AnnIndex

/** Persisted ANN index tier: differential against the per-call IVF plan,
  * and the bucket-pruning property that makes the table worth building.
  */
class AnnIndexSpec extends SparkTestBase {

  private lazy val emb =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("ivfKnnIndexed == ivfKnn row for row; probed read bucket-prunes") {
    val table = "annidx_spec"
    graft.search.Swap.drop(spark, table, s"${table}__centroids",
      s"${table}__meta")
    AnnIndex.writeIvfIndex(emb, "vec_id", "embedding", step = 50,
      table = table, buckets = 4, force = true)
    try {
      val queries = emb.where(col("vec_id") % 100 === 0)
      val indexed = AnnIndex.ivfKnnIndexed(spark, table, queries,
        "vec_id", "embedding", k = 5, nprobe = 3)
      val direct = Similarity.ivfKnn(emb, queries, "vec_id", "embedding",
        k = 5, step = 50, nprobe = 3)
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .toSet
      assert(rows(indexed) === rows(direct))
      assert(rows(indexed).nonEmpty)
      // the probed scan reads ONLY the probed lists' partition
      // directories (per-list layout, r18): a single query probes 3 of
      // the 10 centroids → exactly 3 of the 10 `pbucket=` paths are
      // listed/read (the battery above probes everything, so assert here)
      val one = AnnIndex.ivfKnnIndexed(spark, table,
        emb.where(col("vec_id") === 0), "vec_id", "embedding",
        k = 5, nprobe = 3)
      val plan = one.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters"), plan.take(3000))
      val paths = "InMemoryFileIndex\\((\\d+) paths\\)".r
        .findAllMatchIn(plan).map(_.group(1).toInt).toList
      assert(paths.nonEmpty && paths.min <= 3, plan.take(3000))
    } finally graft.search.Swap.drop(spark, table,
      s"${table}__centroids", s"${table}__meta")
  }

  test("index build under the force-engaged coarse gate is bit-identical") {
    // r14: assignUnit routes through the gated kernel — with the gate
    // forced to 1 (nested kernel at any centroid count) and the default
    // full-recall probes, the persisted assignment must equal the flat
    // build row for row
    val tFlat = "annidx_gate_flat"
    val tGate = "annidx_gate_nested"
    Seq(tFlat, tGate).foreach(t => graft.search.Swap.drop(spark, t,
      s"${t}__centroids", s"${t}__meta"))
    try {
      AnnIndex.writeIvfIndex(emb, "vec_id", "embedding", step = 50,
        table = tFlat, buckets = 4, force = true)
      spark.conf.set(Similarity.CoarseGateConf, "1")
      AnnIndex.writeIvfIndex(emb, "vec_id", "embedding", step = 50,
        table = tGate, buckets = 4, force = true)
      spark.conf.unset(Similarity.CoarseGateConf)
      def rows(t: String) = spark.table(t)
        .select(col("id"), col("bucket")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rows(tGate) === rows(tFlat))
      assert(rows(tGate).nonEmpty)
    } finally {
      spark.conf.unset(Similarity.CoarseGateConf)
      Seq(tFlat, tGate).foreach(t => graft.search.Swap.drop(spark, t,
        s"${t}__centroids", s"${t}__meta"))
    }
  }

  test("over-cap centroid table stays queryable via the join+window probe fallback") {
    // a persisted index whose centroid side table exceeds the driver
    // gather cap (external writer, older step choice) must not become
    // unreadable: probeBucketsOf falls back to the broadcast-join +
    // row_number probe selection, which the kernel replays exactly — so
    // forcing the cap below the centroid count must not change results
    val table = "annidx_overcap"
    graft.search.Swap.drop(spark, table, s"${table}__centroids",
      s"${table}__meta")
    AnnIndex.writeIvfIndex(emb, "vec_id", "embedding", step = 50,
      table = table, buckets = 4, force = true)
    try {
      val queries = emb.where(col("vec_id") % 100 === 0)
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .toSet
      val kernel = rows(AnnIndex.ivfKnnIndexed(spark, table, queries,
        "vec_id", "embedding", k = 5, nprobe = 3))
      spark.conf.set(Similarity.MaxGatheredCentroidsConf, "4") // < 10 centroids
      val fallback = rows(AnnIndex.ivfKnnIndexed(spark, table, queries,
        "vec_id", "embedding", k = 5, nprobe = 3))
      assert(fallback === kernel)
      assert(fallback.nonEmpty)
    } finally {
      spark.conf.unset(Similarity.MaxGatheredCentroidsConf)
      graft.search.Swap.drop(spark, table, s"${table}__centroids",
        s"${table}__meta")
    }
  }

  test("join+window probe fallback drops null-cv centroid rows (no garbage probe buckets)") {
    // gatherCentroidFrameOpt drops null-cv rows by contract; the over-cap
    // join+window fallback must do the same — otherwise a null csim sorts
    // last but is still emitted as a probe bucket once nprobe exceeds the
    // non-null centroid count
    val table = "annidx_nullcv"
    graft.search.Swap.drop(spark, table, s"${table}__centroids",
      s"${table}__meta")
    AnnIndex.writeIvfIndex(emb, "vec_id", "embedding", step = 50,
      table = table, buckets = 4, force = true)
    try {
      val cents = spark.table(s"${table}__centroids")
      val realBuckets = cents.collect().map(_.getLong(0)).toSet
      val garbageId = 999999999L
      assert(!realBuckets.contains(garbageId))
      spark.createDataFrame(
        java.util.Arrays.asList(org.apache.spark.sql.Row(garbageId, null)),
        cents.schema)
        .write.mode("append").format("parquet")
        .saveAsTable(s"${table}__centroids")
      val queries = emb.where(col("vec_id") % 100 === 0)
      // force the fallback arm and over-ask: nprobe far above the
      // non-null centroid count
      spark.conf.set(Similarity.MaxGatheredCentroidsConf, "1")
      val probed = AnnIndex.probeBucketsOf(spark, table, queries,
        "vec_id", "embedding", nprobe = 64)
        .select("bucket").collect().map(_.getLong(0)).toSet
      assert(!probed.contains(garbageId),
        "null-cv centroid row leaked into the probe buckets")
      assert(probed.subsetOf(realBuckets))
      assert(probed.nonEmpty)
    } finally {
      spark.conf.unset(Similarity.MaxGatheredCentroidsConf)
      graft.search.Swap.drop(spark, table, s"${table}__centroids",
        s"${table}__meta")
    }
  }

  test("string-keyed queries against a numeric-id index return candidates (type-safe self-exclusion)") {
    import spark.implicits._
    val table = "annidx_strq"
    graft.search.Swap.drop(spark, table, s"${table}__centroids",
      s"${table}__meta")
    AnnIndex.writeIvfIndex(emb, "vec_id", "embedding", step = 50,
      table = table, buckets = 4, force = true)
    try {
      // the CLI's semantic-search shape: a one-row query frame keyed
      // "__query" (string) against an index keyed by long vec_id — a
      // direct =!= comparison would coerce to null and drop EVERYTHING
      val qVec: Seq[Double] = emb.where(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Any](0)
        .map(_.asInstanceOf[Number].doubleValue()).toVector
      val q = Seq(("__query", qVec)).toDF("id", "embedding")
      val res = AnnIndex.ivfKnnIndexed(spark, table, q, "id", "embedding",
        k = 5, nprobe = 3)
      assert(res.count() === 5L)
      // and vec 0 itself IS findable (no self row to exclude here)
      assert(res.where(col("neighbor_id") === 0).count() === 1L)
      // mixed-dimension query frames fail fast, not silently
      val bad = Seq(("q1", qVec), ("q2", qVec.take(3)))
        .toDF("id", "embedding")
      val e = intercept[IllegalArgumentException] {
        AnnIndex.ivfKnnIndexed(spark, table, bad, "id", "embedding",
          k = 5, nprobe = 3)
      }
      assert(e.getMessage.contains("dimensional"))
    } finally graft.search.Swap.drop(spark, table,
      s"${table}__centroids", s"${table}__meta")
  }

  test("append + compact == full rebuild (continuous maintenance roundtrip)") {
    val table = "annidx_app"
    graft.search.Swap.drop(spark, table, s"${table}__centroids",
      s"${table}__meta", s"${table}__compacting", s"${table}__old")
    val first = emb.where(col("vec_id") % 5 =!= 4)
    val late = emb.where(col("vec_id") % 5 === 4)
    AnnIndex.writeIvfIndex(first, "vec_id", "embedding", step = 50,
      table = table, buckets = 4, force = true)
    try {
      // the late fifth arrives as appends assigned against FROZEN centroids
      val appends = AnnIndex.assignNew(spark, table, late, "vec_id", "embedding")
      AnnIndex.compactIvfIndex(spark, table, appends, buckets = 4)
      val queries = emb.where(col("vec_id") % 100 === 0)
      val got = AnnIndex.ivfKnnIndexed(spark, table, queries,
        "vec_id", "embedding", k = 5, nprobe = 3).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
      // ground truth: ivfKnn over the full corpus with the SAME centroid
      // set (ids ≡ 0 mod 50 all landed in the initial build, so the
      // frozen-centroid assignment equals the full build's)
      val want = Similarity.ivfKnn(emb, queries, "vec_id", "embedding",
        k = 5, step = 50, nprobe = 3).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
      assert(got === want)
      // compaction left ONE per-list table (partition pruning still fires)
      val one = AnnIndex.ivfKnnIndexed(spark, table,
        emb.where(col("vec_id") === 0), "vec_id", "embedding", k = 5)
      assert(one.queryExecution.executedPlan.toString
        .contains("PartitionFilters"))
    } finally graft.search.Swap.drop(spark, table, s"${table}__centroids",
      s"${table}__meta", s"${table}__compacting", s"${table}__old")
  }

  test("ivfPqKnnIndexed == ivfPqKnn row for row off m-byte codes") {
    val table = "annidx_pq"
    graft.search.Swap.drop(spark, table, s"${table}__centroids",
      s"${table}__codebook", s"${table}__meta")
    AnnIndex.writeIvfPqIndex(emb, "vec_id", "embedding", step = 50, m = 8,
      table = table, buckets = 4, codeStep = 50, force = true)
    try {
      val queries = emb.where(col("vec_id") % 100 === 0)
      val got = AnnIndex.ivfPqKnnIndexed(spark, table, queries,
        "vec_id", "embedding", k = 5, nprobe = 3).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
      val want = Similarity.ivfPqKnn(emb, queries, "vec_id", "embedding",
        k = 5, step = 50, nprobe = 3, m = 8, codeStep = 50).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
      assert(got === want)
      assert(got.nonEmpty)
      // the stored representation really is codes, not vectors (pbucket
      // = the per-list partition column, mirroring `bucket`)
      val cols = spark.table(table).columns.toList
      assert(cols === List("id", "bucket", "codes", "pbucket"), cols)
    } finally graft.search.Swap.drop(spark, table, s"${table}__centroids",
      s"${table}__codebook", s"${table}__meta")
  }

  test("centroid side table holds the id-mod-step unit vectors") {
    val table = "annidx_cent"
    graft.search.Swap.drop(spark, table, s"${table}__centroids",
      s"${table}__meta")
    AnnIndex.writeIvfIndex(emb, "vec_id", "embedding", step = 100,
      table = table, buckets = 4, force = true)
    try {
      val cents = spark.table(s"${table}__centroids")
      val ids = cents.select("centroid_id").collect().map(_.getLong(0)).sorted
      val expect = emb.where(col("vec_id") % 100 === 0)
        .select("vec_id").collect().map(_.getLong(0)).sorted
      assert(ids.toList === expect.toList)
      // stored centroid vectors are unit-normalized
      val n2 = cents.select(graft.operators.Similarity.dot(col("cv"), col("cv")))
        .collect().map(_.getDouble(0))
      n2.foreach(x => assert(math.abs(x - 1.0) < 1e-9))
    } finally graft.search.Swap.drop(spark, table,
      s"${table}__centroids", s"${table}__meta")
  }

  test("filtered ANN: keep columns persist, filter is exact and runs at the pruned scan") {
    val table = "annidx_filt"
    graft.search.Swap.drop(spark, table, s"${table}__centroids",
      s"${table}__meta")
    try {
      AnnIndex.writeIvfIndex(emb, "vec_id", "embedding", step = 50,
        table = table, buckets = 4, force = true, keep = Seq("label"))
      assert(spark.table(table).columns.toSet
        === Set("id", "bucket", "bv", "label", "pbucket"))
      val q = emb.where(col("vec_id") === 0)
      val got = AnnIndex.ivfKnnIndexed(spark, table, q, "vec_id",
        "embedding", k = 5, nprobe = 3, filter = Some(col("label") < 5))
      val rows = got.collect()
      assert(rows.nonEmpty && rows.length <= 5)
      val labelOf = emb.select(col("vec_id"), col("label")).collect()
        .map(r => (r.getLong(0), r.getInt(1))).toMap
      rows.foreach(r => assert(labelOf(r.getLong(1)) < 5,
        s"neighbor ${r.getLong(1)} fails the filter"))
      // EXACT semantics: the filtered top-k is the unfiltered candidate
      // ranking with non-matching rows removed, re-ranked — not a
      // post-filter of the unfiltered top-k (which could under-fill)
      val all = AnnIndex.ivfKnnIndexed(spark, table, q, "vec_id",
        "embedding", k = 100000, nprobe = 3).collect()
      val expect = all.sortBy(_.getLong(3))
        .filter(r => labelOf(r.getLong(1)) < 5).take(5)
        .map(r => (r.getLong(1), r.getDouble(2))).toSeq
      assert(rows.sortBy(_.getLong(3))
        .map(r => (r.getLong(1), r.getDouble(2))).toSeq === expect)
      // ...and the filtered ranks are re-numbered 1..n, not gapped
      assert(rows.map(_.getLong(3)).sorted.toSeq
        === (1L to rows.length).toSeq)
      // scale shape: the predicate reaches the parquet scan (pushdown)
      // AND list pruning still fires — composition is the point
      val plan = got.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters"), plan.take(3000))
      assert(plan.contains("LessThan(label,5)"),
        "filter not pushed to the scan: " + plan.take(3000))
      // maintenance derives keep from the PERSISTED schema (never
      // caller-threaded): appends match the live table automatically…
      assert(AnnIndex.assignNew(spark, table, emb.limit(3), "vec_id",
        "embedding").columns.toSet
        === Set("id", "bucket", "bv", "label"))
      // …so keep-bearing indexes upsert like bare ones, metadata intact
      AnnIndex.upsertIvfIndex(spark, table,
        emb.where(col("vec_id") === 4).withColumn("label", lit(99)),
        "vec_id", "embedding")
      assert(spark.table(table).where(col("id") === 4)
        .head().getAs[Int]("label") === 99)
      assert(spark.table(table).columns.toSet
        === Set("id", "bucket", "bv", "label", "pbucket"))
      // keep colliding with reserved index/query/internal names fails
      // loudly at build time (query_id would only surface post-build as
      // an ambiguous reference; __n would be silently overwritten)
      Seq("bucket", "query_id", "__n", "codes").foreach { bad =>
        val e = intercept[IllegalArgumentException] {
          AnnIndex.writeIvfIndex(emb, "vec_id", "embedding", step = 50,
            table = table + "_x", buckets = 4, keep = Seq(bad))
        }
        assert(e.getMessage.contains("collide"), bad)
      }
      // the PQ sibling: keep-bearing codes table, filter at the pruned
      // scan, every neighbor satisfies the predicate and equals the
      // unfiltered ADC ranking with non-matching rows removed
      val pq = "annidx_filt_pq"
      graft.search.Swap.drop(spark, pq, s"${pq}__centroids",
        s"${pq}__codebook", s"${pq}__meta")
      try {
        AnnIndex.writeIvfPqIndex(emb, "vec_id", "embedding", step = 50,
          m = 8, table = pq, buckets = 4, force = true,
          keep = Seq("label"))
        assert(spark.table(pq).columns.toSet
          === Set("id", "bucket", "codes", "label", "pbucket"))
        val gotPq = AnnIndex.ivfPqKnnIndexed(spark, pq, q, "vec_id",
          "embedding", k = 5, nprobe = 3, filter = Some(col("label") < 5))
        val pqRows = gotPq.collect()
        assert(pqRows.nonEmpty)
        pqRows.foreach(r => assert(labelOf(r.getLong(1)) < 5))
        val allPq = AnnIndex.ivfPqKnnIndexed(spark, pq, q, "vec_id",
          "embedding", k = 100000, nprobe = 3).collect()
        val expectPq = allPq.sortBy(_.getLong(3))
          .filter(r => labelOf(r.getLong(1)) < 5).take(5)
          .map(r => (r.getLong(1), r.getDouble(2))).toSeq
        assert(pqRows.sortBy(_.getLong(3))
          .map(r => (r.getLong(1), r.getDouble(2))).toSeq === expectPq)
      } finally graft.search.Swap.drop(spark, pq, s"${pq}__centroids",
        s"${pq}__codebook", s"${pq}__meta")
    } finally graft.search.Swap.drop(spark, table,
      s"${table}__centroids", s"${table}__meta")
  }

  test("force IVF rebuild over a PQ table drops the stale codebook") {
    // same staleness class as the r15 norms advice: a plain rebuild
    // writes no codebook, so a surviving one from the table's PQ past
    // would be re-registered by registerIvfIndex against bv-carrying rows
    val table = "annidx_recode"
    graft.search.Swap.drop(spark, table, s"${table}__centroids",
      s"${table}__meta", s"${table}__codebook")
    try {
      AnnIndex.writeIvfPqIndex(emb, "vec_id", "embedding", step = 50,
        m = 8, table = table, buckets = 4, force = true)
      assert(spark.catalog.tableExists(s"${table}__codebook"))
      AnnIndex.writeIvfIndex(emb, "vec_id", "embedding", step = 50,
        table = table, buckets = 4, force = true)
      assert(!spark.catalog.tableExists(s"${table}__codebook"),
        "plain rebuild must drop the PQ past's codebook")
      val p = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), s"${table}__codebook")
      assert(!p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(p))
      // and the rebuilt index is the plain-IVF shape end to end
      assert(spark.table(s"${table}__meta").head().getAs[Int]("m") === 0)
      assert(AnnIndex.ivfKnnIndexed(spark, table,
        emb.where(col("vec_id") === 0), "vec_id", "embedding",
        k = 3, nprobe = 3).count() === 3L)
    } finally graft.search.Swap.drop(spark, table,
      s"${table}__centroids", s"${table}__meta", s"${table}__codebook")
  }

  test("a rejected force rebuild leaves the old index whole (both tiers)") {
    // the rejection rule: an over-cap centroid sample throws before any
    // drop or write, so the old index and every side table still answer
    // queries with the same rows
    val queries = emb.where(col("vec_id") % 100 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    def check(table: String, sides: Seq[String])(build: () => Unit)(
        knn: () => org.apache.spark.sql.DataFrame): Unit = {
      val all = table +: sides.map(table + _)
      graft.search.Swap.drop(spark, all: _*)
      try {
        build()
        val before = rows(knn())
        assert(before.nonEmpty)
        spark.conf.set(Similarity.MaxGatheredCentroidsConf, "1")
        val e = intercept[IllegalArgumentException](build())
        assert(e.getMessage.contains("step=50") &&
          e.getMessage.contains("gather cap 1") &&
          e.getMessage.contains(Similarity.MaxGatheredCentroidsConf),
          e.getMessage)
        spark.conf.unset(Similarity.MaxGatheredCentroidsConf)
        all.foreach(t => assert(spark.catalog.tableExists(t), t))
        assert(rows(knn()) === before)
      } finally {
        spark.conf.unset(Similarity.MaxGatheredCentroidsConf)
        graft.search.Swap.drop(spark, all: _*)
      }
    }
    check("annidx_reject", Seq("__centroids", "__meta")) { () =>
      AnnIndex.writeIvfIndex(emb, "vec_id", "embedding", step = 50,
        table = "annidx_reject", buckets = 4, force = true)
    } { () =>
      AnnIndex.ivfKnnIndexed(spark, "annidx_reject", queries, "vec_id",
        "embedding", k = 5, nprobe = 3)
    }
    check("annidx_pq_reject", Seq("__centroids", "__meta", "__codebook")) {
      () =>
        AnnIndex.writeIvfPqIndex(emb, "vec_id", "embedding", step = 50,
          m = 8, table = "annidx_pq_reject", buckets = 4, force = true)
    } { () =>
      AnnIndex.ivfPqKnnIndexed(spark, "annidx_pq_reject", queries,
        "vec_id", "embedding", k = 5, nprobe = 3)
    }
  }

  test("balance guard reruns a degenerate centroid sample; no-ops on the fixture") {
    // the measured 1000x failure mode: every id-mod-step row carries the
    // SAME vector, so the whole corpus ties into the lowest centroid id —
    // one bucket holds everything and probing reads corpus-sized buckets
    // (the 114.9s-vs-6.25s query cliff). 1000 rows, step 40: 25 identical
    // sampled centroids -> pre-guard ratio 25x (> the 20x default).
    import spark.implicits._
    val dim = 8
    def spread(id: Long): Seq[Double] = {
      val v = Array.fill(dim)(0.05)
      v((id % dim).toInt) = 1.0
      v(((id / dim) % dim).toInt) += 0.5
      v.toSeq
    }
    val degenerate = (0L until 1000L).map { id =>
      if (id % 40 == 0) (id, Seq(1.0) ++ Seq.fill(dim - 1)(0.0))
      else (id, spread(id))
    }.toDF("vec_id", "embedding")
    val table = "annidx_guard"
    val ctrl = "annidx_guard_off"
    Seq(table, ctrl).foreach(t => graft.search.Swap.drop(spark, t,
      s"${t}__centroids", s"${t}__meta"))
    try {
      // control: guard disabled — the degeneracy persists (proves the
      // fixture actually exhibits the failure the guard exists for)
      spark.conf.set(AnnIndex.BalanceGuardRatioConf, "0")
      AnnIndex.writeIvfIndex(degenerate, "vec_id", "embedding", step = 40,
        table = ctrl, buckets = 4, force = true)
      val rawRatio = AnnIndex.bucketBalanceRatio(spark, ctrl)
      assert(rawRatio > 20.0, s"fixture not degenerate enough: $rawRatio")
      spark.conf.unset(AnnIndex.BalanceGuardRatioConf)
      // guarded build: reseed + kmeans rewrite restores balance
      AnnIndex.writeIvfIndex(degenerate, "vec_id", "embedding", step = 40,
        table = table, buckets = 4, force = true)
      val guarded = AnnIndex.bucketBalanceRatio(spark, table)
      assert(guarded <= 20.0,
        s"guard left $guarded x imbalance (raw was $rawRatio x)")
      // the rewritten index is fully queryable and complete
      assert(spark.table(table).count() === 1000L)
      val knn = AnnIndex.ivfKnnIndexed(spark, table,
        degenerate.where(col("vec_id") === 7), "vec_id", "embedding",
        k = 3, nprobe = 3)
      assert(knn.count() === 3L)
      // centroids are the refined set (unit vectors), not the raw sample
      val n2 = spark.table(s"${table}__centroids")
        .select(graft.operators.Similarity.dot(col("cv"), col("cv")))
        .collect().map(_.getDouble(0))
      n2.foreach(x => assert(math.abs(x - 1.0) < 1e-9))
      // …and the REAL embeddings fixture never trips the guard: the
      // driver's ann_* oracles replay the id-mod-step assignment, so a
      // guard rewrite there would be an oracle break (pinned here)
      val fx = "annidx_guard_fixture"
      graft.search.Swap.drop(spark, fx, s"${fx}__centroids",
        s"${fx}__meta")
      try {
        AnnIndex.writeIvfIndex(emb, "vec_id", "embedding", step = 50,
          table = fx, buckets = 4, force = true)
        val fxRatio = AnnIndex.bucketBalanceRatio(spark, fx)
        assert(fxRatio <= 20.0, s"fixture trips the guard: $fxRatio")
        val ids = spark.table(s"${fx}__centroids")
          .select("centroid_id").collect().map(_.getLong(0)).sorted
        val expect = emb.where(col("vec_id") % 50 === 0)
          .select("vec_id").collect().map(_.getLong(0)).sorted
        assert(ids.toList === expect.toList,
          "guard must not rewrite a balanced fixture's centroids")
      } finally graft.search.Swap.drop(spark, fx, s"${fx}__centroids",
        s"${fx}__meta")
    } finally {
      spark.conf.unset(AnnIndex.BalanceGuardRatioConf)
      Seq(table, ctrl).foreach(t => graft.search.Swap.drop(spark, t,
        s"${t}__centroids", s"${t}__meta"))
    }
  }

  test("PQ balance guard recovers a degenerate build (detect -> reseed -> re-encode)") {
    // the PQ mirror of the IVF guard spec: every id-mod-step sampled row
    // carries the SAME vector, so the whole corpus funnels into one
    // bucket and probing reads corpus-sized code runs. Unlike FAISS's
    // residual IVFPQ, the codes here encode the UNIT vector against an
    // id-sampled codebook — both independent of the bucket assignment —
    // so recovery rewrites only (bucket, centroids) and the codes are
    // re-encoded bit-identically in the same scan.
    import spark.implicits._
    val dim = 8
    def spread(id: Long): Seq[Double] = {
      val v = Array.fill(dim)(0.05)
      v((id % dim).toInt) = 1.0
      v(((id / dim) % dim).toInt) += 0.5
      v.toSeq
    }
    val degenerate = (0L until 1000L).map { id =>
      if (id % 40 == 0) (id, Seq(1.0) ++ Seq.fill(dim - 1)(0.0))
      else (id, spread(id))
    }.toDF("vec_id", "embedding")
    val table = "annidx_pq_guard"
    val ctrl = "annidx_pq_guard_off"
    def side(t: String) = Seq(t, s"${t}__centroids", s"${t}__codebook",
      s"${t}__meta")
    (side(table) ++ side(ctrl)).grouped(4).foreach(g =>
      graft.search.Swap.drop(spark, g: _*))
    try {
      // control: guard disabled -> the degeneracy persists in the PQ
      // table too (the fixture exhibits the failure the guard fixes)
      spark.conf.set(AnnIndex.BalanceGuardRatioConf, "0")
      AnnIndex.writeIvfPqIndex(degenerate, "vec_id", "embedding",
        step = 40, m = 4, table = ctrl, buckets = 4, codeStep = 10,
        force = true)
      val rawRatio = AnnIndex.bucketBalanceRatio(spark, ctrl)
      assert(rawRatio > 20.0, s"fixture not degenerate enough: $rawRatio")
      spark.conf.unset(AnnIndex.BalanceGuardRatioConf)
      // guarded build: detect -> reseed+kmeans -> rewrite index+centroids
      AnnIndex.writeIvfPqIndex(degenerate, "vec_id", "embedding",
        step = 40, m = 4, table = table, buckets = 4, codeStep = 10,
        force = true)
      val guarded = AnnIndex.bucketBalanceRatio(spark, table)
      assert(guarded <= 20.0,
        s"PQ guard left $guarded x imbalance (raw was $rawRatio x)")
      // complete and queryable: all rows, codes schema, meta stamped
      assert(spark.table(table).count() === 1000L)
      assert(spark.table(table).columns.toSet
        === Set("id", "bucket", "codes", "pbucket"))
      assert(spark.table(s"${table}__meta").head().getAs[Int]("m") === 4)
      val knn = AnnIndex.ivfPqKnnIndexed(spark, table,
        degenerate.where(col("vec_id") === 7), "vec_id", "embedding",
        k = 3, nprobe = 3)
      assert(knn.count() === 3L)
      // centroids are the refined (unit) set, not the degenerate sample
      val n2 = spark.table(s"${table}__centroids")
        .select(graft.operators.Similarity.dot(col("cv"), col("cv")))
        .collect().map(_.getDouble(0))
      n2.foreach(x => assert(math.abs(x - 1.0) < 1e-9))
      // codes are bucket-independent: identical per id across the
      // guarded rewrite and the guard-off control build
      val diff = spark.table(table).select(col("id"), col("codes"))
        .join(spark.table(ctrl).select(col("id"),
          col("codes").as("codes0")), "id")
        .where(col("codes") =!= col("codes0")).count()
      assert(diff === 0L, "guard rewrite must not change any code")
      // ...and a HEALTHY PQ build is untouched: centroids stay the raw
      // id-mod-step sample (the driver's ann_ivfpq_* oracles replay it)
      val fx = "annidx_pq_guard_fixture"
      graft.search.Swap.drop(spark, fx, s"${fx}__centroids",
        s"${fx}__codebook", s"${fx}__meta")
      try {
        AnnIndex.writeIvfPqIndex(emb, "vec_id", "embedding", step = 50,
          m = 8, table = fx, buckets = 4, codeStep = 50, force = true)
        assert(AnnIndex.bucketBalanceRatio(spark, fx) <= 20.0)
        val ids = spark.table(s"${fx}__centroids")
          .select("centroid_id").collect().map(_.getLong(0)).sorted
        val expect = emb.where(col("vec_id") % 50 === 0)
          .select("vec_id").collect().map(_.getLong(0)).sorted
        assert(ids.toList === expect.toList,
          "PQ guard must not rewrite a balanced fixture's centroids")
      } finally graft.search.Swap.drop(spark, fx, s"${fx}__centroids",
        s"${fx}__codebook", s"${fx}__meta")
    } finally {
      spark.conf.unset(AnnIndex.BalanceGuardRatioConf)
      (side(table) ++ side(ctrl)).grouped(4).foreach(g =>
        graft.search.Swap.drop(spark, g: _*))
    }
  }

  test("filtered ANN widenTo: starved queries recover full k; satisfied queries untouched") {
    // ~1% label: at nprobe=1 most queries find fewer than k passing
    // candidates in their probed bucket — the silent shortfall. widenTo
    // re-probes exactly the starved queries once at the widened width
    // (64 >= the 25-centroid count here = exhaustive), recovering the
    // true filtered top-k; satisfied queries keep their narrow results.
    import spark.implicits._
    val dim = 8
    def spread(id: Long): Seq[Double] = {
      val v = Array.fill(dim)(0.05)
      v((id % dim).toInt) = 1.0
      v(((id / dim) % dim).toInt) += 0.5
      v.toSeq
    }
    val base = (0L until 1000L)
      .map(id => (id, spread(id), if (id % 100 == 7) 1 else 0))
      .toDF("vec_id", "embedding", "label")
    val queries = base.where(col("vec_id") % 50 === 1)
    val table = "annidx_widen"
    graft.search.Swap.drop(spark, table, s"${table}__centroids",
      s"${table}__meta")
    try {
      AnnIndex.writeIvfIndex(base, "vec_id", "embedding", step = 40,
        table = table, buckets = 4, force = true, keep = Seq("label"))
      val filt = Some(col("label") === 1)
      val narrow = AnnIndex.ivfKnnIndexed(spark, table, queries,
        "vec_id", "embedding", k = 3, nprobe = 1, filter = filt).collect()
      val perQ = narrow.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
      val qIds = queries.select("vec_id").collect().map(_.getLong(0)).toSet
      val starved = qIds.filter(q => perQ.getOrElse(q, 0) < 3)
      assert(starved.nonEmpty,
        s"fixture must starve some query at nprobe=1: $perQ")
      val widened = AnnIndex.ivfKnnIndexed(spark, table, queries,
        "vec_id", "embedding", k = 3, nprobe = 1, filter = filt,
        widenTo = 64).collect()
      // every query recovers full k (10 passing rows corpus-wide >= k)
      widened.groupBy(_.getLong(0)).foreach { case (q, rs) =>
        assert(rs.length === 3, s"query $q returned ${rs.length} rows")
      }
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))
      // satisfied queries' rows are untouched by the widen pass
      assert(widened.filter(r => !starved(r.getLong(0))).map(key).toSet
        === narrow.filter(r => !starved(r.getLong(0))).map(key).toSet)
      // starved queries' widened rows ARE the exact filtered top-k
      // (exhaustive probes == brute force over the filter-passing rows)
      val exact = graft.operators.Similarity.bruteForceKnn(
        base.where(col("label") === 1),
        queries.where(col("vec_id").isin(starved.toSeq: _*)),
        "vec_id", "embedding", k = 3).collect()
      assert(widened.filter(r => starved(r.getLong(0))).map(key).toSet
        === exact.map(key).toSet)
      // widenTo <= nprobe (and the no-filter path) are exact no-ops
      val off = AnnIndex.ivfKnnIndexed(spark, table, queries,
        "vec_id", "embedding", k = 3, nprobe = 1, filter = filt,
        widenTo = 1).collect()
      assert(off.map(key).toSet === narrow.map(key).toSet)
      // the PQ tier: same widen contract, pinned against its own
      // exhaustive-probe run restricted to the starved queries
      val pq = "annidx_widen_pq"
      graft.search.Swap.drop(spark, pq, s"${pq}__centroids",
        s"${pq}__codebook", s"${pq}__meta")
      try {
        AnnIndex.writeIvfPqIndex(base, "vec_id", "embedding", step = 40,
          m = 4, table = pq, buckets = 4, codeStep = 10, force = true,
          keep = Seq("label"))
        val pqNarrow = AnnIndex.ivfPqKnnIndexed(spark, pq, queries,
          "vec_id", "embedding", k = 3, nprobe = 1, filter = filt).collect()
        val pqPerQ = pqNarrow.groupBy(_.getLong(0)).view
          .mapValues(_.length).toMap
        val pqStarved = qIds.filter(q => pqPerQ.getOrElse(q, 0) < 3)
        assert(pqStarved.nonEmpty)
        val pqWide = AnnIndex.ivfPqKnnIndexed(spark, pq, queries,
          "vec_id", "embedding", k = 3, nprobe = 1, filter = filt,
          widenTo = 64).collect()
        pqWide.groupBy(_.getLong(0)).foreach { case (q, rs) =>
          assert(rs.length === 3, s"PQ query $q returned ${rs.length}") }
        val pqExhaust = AnnIndex.ivfPqKnnIndexed(spark, pq,
          queries.where(col("vec_id").isin(pqStarved.toSeq: _*)),
          "vec_id", "embedding", k = 3, nprobe = 64, filter = filt).collect()
        assert(pqWide.filter(r => pqStarved(r.getLong(0))).map(key).toSet
          === pqExhaust.map(key).toSet)
        assert(pqWide.filter(r => !pqStarved(r.getLong(0))).map(key).toSet
          === pqNarrow.filter(r => !pqStarved(r.getLong(0))).map(key).toSet)
      } finally graft.search.Swap.drop(spark, pq, s"${pq}__centroids",
        s"${pq}__codebook", s"${pq}__meta")
    } finally graft.search.Swap.drop(spark, table,
      s"${table}__centroids", s"${table}__meta")
  }

  test("keep guards are case-insensitive and cover the public ivfAssign path") {
    // Spark resolves columns case-insensitively by default: keep =
    // Seq("Bucket") used to slip the case-sensitive guard and only fail
    // after the expensive build (or silently ambiguate)
    val e1 = intercept[IllegalArgumentException] {
      AnnIndex.writeIvfIndex(emb, "vec_id", "embedding", step = 50,
        table = "annidx_case_x", buckets = 4, keep = Seq("Bucket"))
    }
    assert(e1.getMessage.contains("collide"))
    val e2 = intercept[IllegalArgumentException] {
      AnnIndex.writeIvfPqIndex(emb, "vec_id", "embedding", step = 50,
        m = 8, table = "annidx_case_y", buckets = 4, keep = Seq("QUERY_ID"))
    }
    assert(e2.getMessage.contains("collide"))
    // the PUBLIC ivfAssign entry point guards its own projection names
    // (previously only the AnnIndex writers were guarded, so a direct
    // caller's keep = "bucket"/"__n" was silently replaced)
    Seq("bucket", "BV", "__N").foreach { bad =>
      val e = intercept[IllegalArgumentException] {
        Similarity.ivfAssign(emb, "vec_id", "embedding", step = 50,
          keep = Seq(bad))
      }
      assert(e.getMessage.contains("collide"), bad)
    }
  }

  test("PQ tier upserts through the shared maintenance surface (frozen-codebook encode)") {
    // assignNew detects the PQ tier (m > 0 in __meta) and encodes
    // arrivals against the frozen __codebook exactly as it assigns them
    // against the frozen __centroids — so upsertIvfIndex/compactIvfIndex
    // serve both tiers through one entry point
    val buildSide = emb.where(col("vec_id") % 3 =!= 1)
    val arrivals = emb.where(col("vec_id") % 3 === 1 || col("vec_id") % 6 === 0)
    val pq = "annidx_pq_upsert"
    graft.search.Swap.drop(spark, pq, s"${pq}__centroids",
      s"${pq}__codebook", s"${pq}__meta")
    try {
      AnnIndex.writeIvfPqIndex(buildSide, "vec_id", "embedding", step = 50,
        m = 8, table = pq, buckets = 4, codeStep = 50, force = true)
      AnnIndex.upsertIvfIndex(spark, pq, arrivals, "vec_id", "embedding")
      val n = emb.count()
      // every id exactly once (overlapping slice anti-joined, not doubled)
      assert(spark.table(pq).count() === n)
      assert(spark.table(pq).select("id").distinct().count() === n)
      // the codes schema is preserved — a bv-shaped append would have
      // failed loudly at unionByName instead of silently widening
      assert(spark.table(pq).columns.toSet
        === Set("id", "bucket", "codes", "pbucket"))
      // upserted rows carry exactly the frozen-sample assignment+encode
      // (assignNew recomputes from the same frozen side tables)
      val re = AnnIndex.assignNew(spark, pq, arrivals, "vec_id", "embedding")
        .select(col("id"), col("bucket").as("b2"), col("codes").as("c2"))
      val diff = spark.table(pq).join(re, "id")
        .where(col("codes") =!= col("c2") || col("bucket") =!= col("b2"))
        .count()
      assert(diff === 0L, "upserted rows must equal a frozen-sample recompute")
      // replaying the same batch CONVERGES (the idempotent contract)
      AnnIndex.upsertIvfIndex(spark, pq, arrivals, "vec_id", "embedding")
      assert(spark.table(pq).count() === n)
      // and the swapped table answers queries end to end
      assert(AnnIndex.ivfPqKnnIndexed(spark, pq,
        emb.where(col("vec_id") === 0), "vec_id", "embedding",
        k = 3, nprobe = 3).count() === 3L)
    } finally graft.search.Swap.drop(spark, pq, s"${pq}__centroids",
      s"${pq}__codebook", s"${pq}__meta")
  }

  test("bucket-local fold rewrites ONLY the touched lists; new lists register") {
    // the r18 maintenance contract: compacting an append batch rewrites
    // exactly the partitions (inverted lists) the batch touches — every
    // other list's files stay BIT-IDENTICAL on disk (same names, sizes,
    // mtimes), which is what makes maintenance cost batch-shaped instead
    // of table-shaped at 1e9 rows
    val table = "annidx_local"
    graft.search.Swap.drop(spark, table, s"${table}__centroids",
      s"${table}__meta", s"${table}__compacting", s"${table}__old")
    val first = emb.where(col("vec_id") % 5 =!= 4)
    AnnIndex.writeIvfIndex(first, "vec_id", "embedding", step = 50,
      table = table, buckets = 4, force = true)
    try {
      val wh = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), table)
      val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def fileState(): Map[String, Set[(String, Long, Long)]] =
        fs.listStatus(wh).filter(s => s.isDirectory &&
            s.getPath.getName.startsWith("pbucket=")).map { d =>
          d.getPath.getName -> fs.listStatus(d.getPath)
            .map(f => (f.getPath.getName, f.getLen,
              f.getModificationTime)).toSet
        }.toMap
      val before = fileState()
      assert(before.size > 1, s"need several lists, got ${before.keySet}")
      // appends restricted to ONE list (a clustered arrival batch)
      val appends = AnnIndex.assignNew(spark, table,
        emb.where(col("vec_id") % 5 === 4), "vec_id", "embedding")
      val b0 = appends.select("bucket").head().getLong(0)
      val appendsOne = appends.where(col("bucket") === b0)
        .localCheckpoint(true)
      val nAppend = appendsOne.count()
      assert(nAppend > 0)
      AnnIndex.compactIvfIndex(spark, table, appendsOne)
      val after = fileState()
      // untouched lists: every file untouched on disk
      (before.keySet - s"pbucket=$b0").foreach { d =>
        assert(after(d) === before(d), s"untouched list $d was rewritten")
      }
      // the touched list was rewritten and carries the appends
      assert(after(s"pbucket=$b0") !== before(s"pbucket=$b0"))
      assert(spark.table(table).count() === first.count() + nAppend)
      assert(spark.table(table).where(col("bucket") === b0)
        .count() >= nAppend)
      // an append into a list the table had NO directory for yet: the
      // new partition must be registered (it would otherwise be invisible
      // to the catalog's partition listing — data loss, not an error)
      val phantom = appendsOne.limit(1)
        .withColumn("id", lit(999999L))
        .withColumn("bucket", lit(424242L))
      AnnIndex.compactIvfIndex(spark, table, phantom)
      assert(spark.table(table).where(col("bucket") === 424242L)
        .count() === 1L, "new-list partition not registered")
      // and the swapped table still answers the standard battery
      assert(AnnIndex.ivfKnnIndexed(spark, table,
        emb.where(col("vec_id") === 0), "vec_id", "embedding",
        k = 5, nprobe = 3).count() === 5L)
    } finally graft.search.Swap.drop(spark, table,
      s"${table}__centroids", s"${table}__meta",
      s"${table}__compacting", s"${table}__old")
  }

  test("bucket-local fold crash windows: complete staging rolls forward, incomplete rolls back") {
    val table = "annidx_crash"
    graft.search.Swap.drop(spark, table, s"${table}__centroids",
      s"${table}__meta", s"${table}__compacting", s"${table}__old")
    val first = emb.where(col("vec_id") % 5 =!= 4)
    AnnIndex.writeIvfIndex(first, "vec_id", "embedding", step = 50,
      table = table, buckets = 4, force = true)
    try {
      val hconf = spark.sparkContext.hadoopConfiguration
      def whPath(n: String) = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), n)
      val fs = whPath(table).getFileSystem(hconf)
      val appends = AnnIndex.assignNew(spark, table,
        emb.where(col("vec_id") % 5 === 4), "vec_id", "embedding")
      val b0 = appends.select("bucket").head().getLong(0)
      val appendsOne = appends.where(col("bucket") === b0)
        .localCheckpoint(true)
      val nAppend = appendsOne.count()
      val expect = first.count() + nAppend
      // --- window A: staging COMPLETE, crash mid-rename (live dir moved
      // aside, staged dir not yet moved in) — heal must roll FORWARD
      val staging = s"${table}__compacting"
      spark.table(table).where(col("pbucket") === b0)
        .unionByName(appendsOne.withColumn("pbucket", col("bucket")))
        .repartition(col("bucket"))
        .write.format("parquet").partitionBy("pbucket")
        .bucketBy(4, "bucket").sortBy("bucket").saveAsTable(staging)
      fs.mkdirs(whPath(s"${table}__old"))
      assert(fs.rename(
        new org.apache.hadoop.fs.Path(whPath(table), s"pbucket=$b0"),
        new org.apache.hadoop.fs.Path(whPath(s"${table}__old"),
          s"pbucket=$b0")))
      assert(AnnIndex.recoverIvfIndex(spark, table))
      assert(spark.table(table).count() === expect,
        "roll-forward heal lost rows")
      assert(spark.table(table).where(col("bucket") === b0)
        .count() >= nAppend)
      assert(!spark.catalog.tableExists(staging))
      assert(!fs.exists(whPath(staging)) && !fs.exists(whPath(s"${table}__old")))
      // --- window B: staging INCOMPLETE (no _SUCCESS, no catalog entry —
      // a crash inside the staging write) — heal must roll BACK and
      // leave the live table exactly as it was
      val junk = new org.apache.hadoop.fs.Path(whPath(staging),
        "pbucket=7/part-junk.parquet")
      fs.mkdirs(junk.getParent)
      val out = fs.create(junk); out.write(42); out.close()
      assert(AnnIndex.recoverIvfIndex(spark, table))
      assert(!fs.exists(whPath(staging)), "incomplete staging not cleared")
      assert(spark.table(table).count() === expect, "roll-back touched live")
    } finally graft.search.Swap.drop(spark, table,
      s"${table}__centroids", s"${table}__meta",
      s"${table}__compacting", s"${table}__old")
  }

  test("upsert that drains a whole list supersedes its stale directory (review finding)") {
    // the r18 review's correctness hole: a touched partition whose
    // replacement row set is EMPTY writes no staging directory, and a
    // staging-driven rename pass would leave the stale live directory
    // in place — replaced ids surviving next to their new rows. Fixture:
    // two orthogonal clusters; the upsert re-embeds EVERY list-A row
    // onto cluster B, draining list A completely.
    import spark.implicits._
    val dim = 8
    def unitAt(j: Int): Seq[Double] =
      (0 until dim).map(i => if (i == j) 1.0 else 0.0)
    val base = ((0L until 10L).map(i => (i, unitAt(0))) ++
      (10L until 20L).map(i => (i, unitAt(1)))).toDF("vec_id", "embedding")
    val table = "annidx_drain"
    graft.search.Swap.drop(spark, table, s"${table}__centroids",
      s"${table}__meta", s"${table}__compacting", s"${table}__old")
    try {
      // step=10 samples centroids {0, 10} = the two cluster directions
      AnnIndex.writeIvfIndex(base, "vec_id", "embedding", step = 10,
        table = table, buckets = 2, force = true)
      val listA = spark.table(table).where(col("id") === 0L)
        .head().getAs[Long]("bucket")
      assert(spark.table(table).where(col("bucket") === listA)
        .count() === 10L)
      // re-embed every list-A id onto cluster B
      val moved = (0L until 10L).map(i => (i, unitAt(1)))
        .toDF("vec_id", "embedding")
      AnnIndex.upsertIvfIndex(spark, table, moved, "vec_id", "embedding")
      // no stale rows: every id exactly once, list A empty, and every
      // former-A id now stores the B direction
      assert(spark.table(table).count() === 20L)
      assert(spark.table(table).select("id").distinct().count() === 20L)
      assert(spark.table(table).where(col("bucket") === listA)
        .count() === 0L, "stale drained-list rows survived the upsert")
      val dirs = spark.table(table)
        .where(col("id") < 10L).select("bv").collect()
        .map(_.getSeq[Double](0).indexOf(1.0)).toSet
      assert(dirs === Set(1), s"stale vectors present: $dirs")
      // replaying the same batch converges (idempotent contract intact)
      AnnIndex.upsertIvfIndex(spark, table, moved, "vec_id", "embedding")
      assert(spark.table(table).count() === 20L)
      // a batch with a null or short vector is refused whole, before the
      // live table is touched
      val bad = Seq((1L, Option(unitAt(0))), (30L, Option(unitAt(0).take(3))),
        (31L, None)).toDF("vec_id", "embedding")
      Seq(bad, bad.where(col("vec_id") =!= 30L)).foreach { b =>
        val e = intercept[IllegalArgumentException] {
          AnnIndex.upsertIvfIndex(spark, table, b, "vec_id", "embedding")
        }
        assert(e.getMessage.contains("null or non-8-dimensional"), e.getMessage)
      }
      assert(spark.table(table).count() === 20L)
      assert(spark.table(table).where(col("id") === 1L).head()
        .getSeq[Double](spark.table(table).columns.indexOf("bv"))
        .indexOf(1.0) === 1)
    } finally graft.search.Swap.drop(spark, table,
      s"${table}__centroids", s"${table}__meta",
      s"${table}__compacting", s"${table}__old")
  }

  test("a new probe set compiles no classes and reads only its lists") {
    import spark.implicits._
    val table = "annidx_probe_codegen"
    graft.search.Swap.drop(spark, table, s"${table}__centroids",
      s"${table}__meta")
    AnnIndex.writeIvfIndex(emb, "vec_id", "embedding", step = 50,
      table = table, buckets = 4, force = true)
    try {
      // query vectors arrive as local rows, like the CLI's --query-text:
      // a filter literal over the corpus would compile on its own
      val cands = emb.where(col("vec_id") % 50 === 7).orderBy("vec_id")
        .limit(20).collect().map(r => r.getAs[Long]("vec_id") ->
          r.getSeq[Any](r.fieldIndex("embedding")).map(_.toString.toDouble))
      def query(v: Seq[Double]) = Seq(("q", v)).toDF("id", "embedding")
      def probes(v: Seq[Double]): Set[Long] = AnnIndex.probeBucketsOf(
          spark, table, query(v), "id", "embedding", 3)
        .select("bucket").collect().map(_.getLong(0)).toSet
      val withProbes = cands.map { case (_, v) => v -> probes(v) }
      val (v1, v2) = withProbes.combinations(2).collectFirst {
        case Array((a, pa), (b, pb)) if (pa & pb).isEmpty => (a, b)
      }.getOrElse(fail("no two fixture queries with disjoint probe sets"))
      def knn(v: Seq[Double]) = AnnIndex.ivfKnnIndexed(spark, table,
        query(v), "id", "embedding", k = 5, nprobe = 3)
      knn(v1).collect() // compiles this read's classes once
      val probe = graft.tools.ProbeListener.attach(spark)
      val (rows, _, cost) = try probe.measure(knn(v2).collect())
        finally probe.detach()
      assert(rows.length === 5)
      assert(cost.compiles === 0L, cost)
      // each read lists only its own 3 lists' files, one file per list
      assert(knn(v1).inputFiles.length === 3)
      assert(knn(v2).inputFiles.length === 3)
      assert(knn(v1).inputFiles.toSet.intersect(knn(v2).inputFiles.toSet)
        .isEmpty)
    } finally graft.search.Swap.drop(spark, table,
      s"${table}__centroids", s"${table}__meta")
  }

  test("registerIvfIndex re-registers a stranded per-list index (partitioned DDL)") {
    val table = "annidx_register"
    val names = Seq(table, s"${table}__centroids", s"${table}__meta")
    graft.search.Swap.drop(spark, names: _*)
    AnnIndex.writeIvfIndex(emb, "vec_id", "embedding", step = 50,
      table = table, buckets = 4, force = true)
    val queries = emb.where(col("vec_id") % 100 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    val expected = rows(AnnIndex.ivfKnnIndexed(spark, table, queries,
      "vec_id", "embedding", k = 5, nprobe = 3))
    try {
      // simulate a JVM restart stranding the warehouse dirs: copy data
      // aside, drop the managed tables (deletes originals), copy back
      val hconf = spark.sparkContext.hadoopConfiguration
      val whBase = spark.conf.get("spark.sql.warehouse.dir")
      val fs = new org.apache.hadoop.fs.Path(whBase)
        .getFileSystem(hconf)
      val tmp = java.nio.file.Files.createTempDirectory("ann_register")
        .toString
      names.foreach { n =>
        org.apache.hadoop.fs.FileUtil.copy(fs,
          new org.apache.hadoop.fs.Path(whBase, n), fs,
          new org.apache.hadoop.fs.Path(tmp, n), false, hconf)
        spark.sql(s"DROP TABLE `$n`")
        org.apache.hadoop.fs.FileUtil.copy(fs,
          new org.apache.hadoop.fs.Path(tmp, n), fs,
          new org.apache.hadoop.fs.Path(whBase, n), false, hconf)
      }
      AnnIndex.registerIvfIndex(spark, table)
      // the partition column came back BIGINT (directory-name inference
      // would type it INT and break the union/prune paths)
      assert(spark.table(table).schema("pbucket").dataType
        === org.apache.spark.sql.types.LongType)
      val again = AnnIndex.ivfKnnIndexed(spark, table, queries,
        "vec_id", "embedding", k = 5, nprobe = 3)
      assert(rows(again) === expected)
      assert(again.queryExecution.executedPlan.toString
        .contains("PartitionFilters"))
      // and maintenance works on the re-registered table (bucket-local)
      val n0 = spark.table(table).count()
      AnnIndex.upsertIvfIndex(spark, table,
        emb.where(col("vec_id") === 1)
          .withColumn("vec_id", col("vec_id") + 777000L),
        "vec_id", "embedding")
      assert(spark.table(table).count() === n0 + 1)
    } finally graft.search.Swap.drop(spark, names: _*)
  }

  test("calibrateProbes: monotone recall/cost curve, cheapest-meeting pick") {
    val table = "annidx_cal"
    graft.search.Swap.drop(spark, table, s"${table}__centroids",
      s"${table}__meta")
    AnnIndex.writeIvfIndex(emb, "vec_id", "embedding", step = 50,
      table = table, buckets = 4, force = true)
    try {
      val q = emb.where(col("vec_id") % 100 === 1)
      val out = AnnIndex.calibrateProbes(spark, table, q, "vec_id",
        "embedding", k = 5, targetRecall = 0.0, nprobes = Seq(3, 1, 2))
        .collect().sortBy(_.getLong(0))
      assert(out.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
      // probe sets are nested prefixes → recall is nondecreasing and the
      // candidate read strictly grows with the dial
      val recalls = out.map(_.getDouble(1))
      assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b },
        recalls.toSeq.toString)
      val costs = out.map(_.getLong(2))
      assert(costs.zip(costs.tail).forall { case (a, b) => a < b },
        costs.toSeq.toString)
      // target 0 is met everywhere → the pick is the cheapest setting
      assert(out.map(r => r.getLong(0) -> r.getBoolean(3)).toMap
        === Map(1L -> true, 2L -> false, 3L -> false))
      // unreachable target → NO pick, the curve still reports
      val none = AnnIndex.calibrateProbes(spark, table, q, "vec_id",
        "embedding", k = 5, targetRecall = 1.01, nprobes = Seq(1, 2))
        .collect()
      assert(none.length === 2 && none.forall(!_.getBoolean(3)))
      // a PQ codes table fails loudly (no stored ground truth)
      val pq = "annidx_cal_pq"
      graft.search.Swap.drop(spark, pq, s"${pq}__centroids",
        s"${pq}__codebook", s"${pq}__meta")
      try {
        AnnIndex.writeIvfPqIndex(emb, "vec_id", "embedding", step = 50,
          m = 8, table = pq, buckets = 4, codeStep = 50, force = true)
        val e = intercept[IllegalArgumentException] {
          AnnIndex.calibrateProbes(spark, pq, q, "vec_id", "embedding",
            k = 5, targetRecall = 0.5)
        }
        assert(e.getMessage.contains("plain IVF"))
      } finally graft.search.Swap.drop(spark, pq, s"${pq}__centroids",
        s"${pq}__codebook", s"${pq}__meta")
    } finally graft.search.Swap.drop(spark, table,
      s"${table}__centroids", s"${table}__meta")
  }

  test("calibrateWiden: starvation-recovery curve, exhaustive arm == filtered ground truth") {
    import spark.implicits._
    val dim = 8
    def spread(id: Long): Seq[Double] = {
      val v = Array.fill(dim)(0.05)
      v((id % dim).toInt) = 1.0
      v(((id / dim) % dim).toInt) += 0.5
      v.toSeq
    }
    val base = (0L until 1000L)
      .map(id => (id, spread(id), if (id % 100 == 7) 1 else 0))
      .toDF("vec_id", "embedding", "label")
    val table = "annidx_calw"
    graft.search.Swap.drop(spark, table, s"${table}__centroids",
      s"${table}__meta")
    try {
      AnnIndex.writeIvfIndex(base, "vec_id", "embedding", step = 40,
        table = table, buckets = 4, force = true, keep = Seq("label"))
      val queries = base.where(col("vec_id") % 50 === 1)
      val out = AnnIndex.calibrateWiden(spark, table, queries,
        "vec_id", "embedding", k = 3, targetRecall = 0.9, nprobe = 1,
        widenTos = Seq(64, 0, 2), filter = col("label") === 1)
        .collect().sortBy(_.getLong(0))
      assert(out.map(_.getLong(0)).toSeq === Seq(0L, 2L, 64L))
      // widening only adds candidates → recall nondecreasing, shortfall
      // nonincreasing; the exhaustive arm leaves NO query short and —
      // at nprobe=1 with this fixture's per-query exact sets reachable —
      // every starved query recovers the true filtered top-k
      val recalls = out.map(_.getDouble(1))
      assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b },
        recalls.toSeq.toString)
      val shorts = out.map(_.getLong(2))
      assert(shorts.zip(shorts.tail).forall { case (a, b) => a >= b },
        shorts.toSeq.toString)
      assert(shorts.last === 0L)
      assert(out.head.getLong(2) > 0L,
        "fixture must starve some query with widen off")
      // pick = the smallest setting meeting the target (the exhaustive
      // arm recovers every starved query; satisfied-query probe-miss is
      // zero here because nprobe=1 starves nearly everything)
      val picked = out.filter(_.getBoolean(3)).map(_.getLong(0))
      assert(picked.length <= 1)
      picked.headOption.foreach { w =>
        val meets = out.filter(_.getDouble(1) >= 0.9).map(_.getLong(0))
        assert(w === meets.min)
      }
      // PQ codes table fails loudly like calibrateProbes
      val pq = "annidx_calw_pq"
      graft.search.Swap.drop(spark, pq, s"${pq}__centroids",
        s"${pq}__codebook", s"${pq}__meta")
      try {
        AnnIndex.writeIvfPqIndex(base, "vec_id", "embedding", step = 40,
          m = 4, table = pq, buckets = 4, codeStep = 10, force = true)
        val e = intercept[IllegalArgumentException] {
          AnnIndex.calibrateWiden(spark, pq, queries, "vec_id",
            "embedding", k = 3, targetRecall = 0.9, nprobe = 1,
            widenTos = Seq(0, 64), filter = col("bucket").isNotNull)
        }
        assert(e.getMessage.contains("plain IVF"))
      } finally graft.search.Swap.drop(spark, pq, s"${pq}__centroids",
        s"${pq}__codebook", s"${pq}__meta")
    } finally graft.search.Swap.drop(spark, table,
      s"${table}__centroids", s"${table}__meta")
  }

  test("residual PQ: encode engages, query adds the centroid back, upsert recomputes") {
    val resid = "annidx_resid"
    val ctrl = "annidx_resid_ctrl"
    def side(t: String) = Seq(t, s"${t}__centroids", s"${t}__codebook",
      s"${t}__meta")
    (side(resid) ++ side(ctrl)).grouped(4).foreach(g =>
      graft.search.Swap.drop(spark, g: _*))
    try {
      val buildSide = emb.where(col("vec_id") % 3 =!= 1)
      AnnIndex.writeIvfPqIndex(buildSide, "vec_id", "embedding", step = 50,
        m = 8, table = resid, buckets = 4, codeStep = 50, force = true,
        encodeResidual = true)
      AnnIndex.writeIvfPqIndex(buildSide, "vec_id", "embedding", step = 50,
        m = 8, table = ctrl, buckets = 4, codeStep = 50, force = true)
      // the flag is recorded and the encode actually differs
      assert(spark.table(s"${resid}__meta").head().getAs[Boolean]("resid"))
      assert(!spark.table(s"${ctrl}__meta").head().getAs[Boolean]("resid"))
      val differing = spark.table(resid).select(col("id"), col("codes"))
        .join(spark.table(ctrl).select(col("id"),
          col("codes").as("c0")), "id")
        .where(col("codes") =!= col("c0")).count()
      assert(differing > 0L, "residual encode produced identical codes")
      // the query path returns a full k (the centroid-add score works)
      val knn = AnnIndex.ivfPqKnnIndexed(spark, resid,
        emb.where(col("vec_id") === 0), "vec_id", "embedding",
        k = 5, nprobe = 3)
      assert(knn.count() === 5L)
      // maintenance flows through the same frozen-side surface: upserted
      // rows equal an assignNew recompute (frozen centroids + frozen
      // residual codebook)
      val arrivals = emb.where(col("vec_id") % 3 === 1)
      AnnIndex.upsertIvfIndex(spark, resid, arrivals, "vec_id", "embedding")
      assert(spark.table(resid).count() === emb.count())
      val re = AnnIndex.assignNew(spark, resid, arrivals, "vec_id",
        "embedding")
        .select(col("id"), col("bucket").as("b2"), col("codes").as("c2"))
      val diff = spark.table(resid).join(re, "id")
        .where(col("codes") =!= col("c2") || col("bucket") =!= col("b2"))
        .count()
      assert(diff === 0L,
        "residual upsert must equal a frozen-side recompute")
    } finally (side(resid) ++ side(ctrl)).grouped(4).foreach(g =>
      graft.search.Swap.drop(spark, g: _*))
  }

  test("residual PQ composes with keep filters and widenTo (exhaustive arm carries the centroid)") {
    // the untested r18 combination: a residual codes table with keep
    // metadata, a selective filter that starves queries at nprobe=1, and
    // the widen dial's EXHAUSTIVE arm — which must join the centroid
    // onto the candidate rows (no probe frame exists there) before the
    // ADC-plus-centroid score
    import spark.implicits._
    val dim = 8
    def spread(id: Long): Seq[Double] = {
      val v = Array.fill(dim)(0.05)
      v((id % dim).toInt) = 1.0
      v(((id / dim) % dim).toInt) += 0.5
      v.toSeq
    }
    val base = (0L until 1000L)
      .map(id => (id, spread(id), if (id % 100 == 7) 1 else 0))
      .toDF("vec_id", "embedding", "label")
    val queries = base.where(col("vec_id") % 50 === 1)
    val table = "annidx_resid_widen"
    graft.search.Swap.drop(spark, table, s"${table}__centroids",
      s"${table}__codebook", s"${table}__meta")
    try {
      AnnIndex.writeIvfPqIndex(base, "vec_id", "embedding", step = 40,
        m = 4, table = table, buckets = 4, codeStep = 10, force = true,
        keep = Seq("label"), encodeResidual = true)
      assert(spark.table(s"${table}__meta").head().getAs[Boolean]("resid"))
      val filt = Some(col("label") === 1)
      val narrow = AnnIndex.ivfPqKnnIndexed(spark, table, queries,
        "vec_id", "embedding", k = 3, nprobe = 1, filter = filt).collect()
      val qIds = queries.select("vec_id").collect().map(_.getLong(0)).toSet
      val perQ = narrow.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
      val starved = qIds.filter(q => perQ.getOrElse(q, 0) < 3)
      assert(starved.nonEmpty, s"fixture must starve at nprobe=1: $perQ")
      // widen exhaustively (>= the 25-centroid count)
      val wide = AnnIndex.ivfPqKnnIndexed(spark, table, queries,
        "vec_id", "embedding", k = 3, nprobe = 1, filter = filt,
        widenTo = 64).collect()
      wide.groupBy(_.getLong(0)).foreach { case (q, rs) =>
        assert(rs.length === 3, s"query $q returned ${rs.length} rows") }
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))
      // the exhaustive widen equals a probed run at full width for the
      // starved queries (nested probe prefixes ⇒ same candidate set,
      // same residual ADC arithmetic on both arms)
      val full = AnnIndex.ivfPqKnnIndexed(spark, table,
        queries.where(col("vec_id").isin(starved.toSeq: _*)),
        "vec_id", "embedding", k = 3, nprobe = 25, filter = filt).collect()
      assert(wide.filter(r => starved(r.getLong(0))).map(key).toSet
        === full.map(key).toSet)
      // satisfied queries keep their narrow rows untouched
      assert(wide.filter(r => !starved(r.getLong(0))).map(key).toSet
        === narrow.filter(r => !starved(r.getLong(0))).map(key).toSet)
    } finally graft.search.Swap.drop(spark, table,
      s"${table}__centroids", s"${table}__codebook", s"${table}__meta")
  }

  test("residual PQ balance guard re-derives codebook and codes (no bit-identity shortcut)") {
    import spark.implicits._
    val dim = 8
    def spread(id: Long): Seq[Double] = {
      val v = Array.fill(dim)(0.05)
      v((id % dim).toInt) = 1.0
      v(((id / dim) % dim).toInt) += 0.5
      v.toSeq
    }
    val degenerate = (0L until 1000L).map { id =>
      if (id % 40 == 0) (id, Seq(1.0) ++ Seq.fill(dim - 1)(0.0))
      else (id, spread(id))
    }.toDF("vec_id", "embedding")
    val table = "annidx_resid_guard"
    graft.search.Swap.drop(spark, table, s"${table}__centroids",
      s"${table}__codebook", s"${table}__meta")
    try {
      AnnIndex.writeIvfPqIndex(degenerate, "vec_id", "embedding",
        step = 40, m = 4, table = table, buckets = 4, codeStep = 10,
        force = true, encodeResidual = true)
      // guard engaged and recovered (same degenerate fixture as the
      // residual-free guard spec)
      assert(AnnIndex.bucketBalanceRatio(spark, table) <= 20.0)
      // complete: all rows, codes schema, meta stamped residual
      assert(spark.table(table).count() === 1000L)
      assert(spark.table(s"${table}__meta").head().getAs[Boolean]("resid"))
      assert(spark.catalog.tableExists(s"${table}__codebook"))
      // queryable end to end off the RETRAINED codebook — and the stored
      // codes equal a fresh recompute against the recovered side tables
      // (proving codebook/centroids/codes are mutually consistent; a
      // stale verbatim codebook would diverge)
      assert(AnnIndex.ivfPqKnnIndexed(spark, table,
        degenerate.where(col("vec_id") === 7), "vec_id", "embedding",
        k = 3, nprobe = 3).count() === 3L)
      val re = AnnIndex.assignNew(spark, table, degenerate, "vec_id",
        "embedding")
        .select(col("id"), col("bucket").as("b2"), col("codes").as("c2"))
      val diff = spark.table(table).join(re, "id")
        .where(col("codes") =!= col("c2") || col("bucket") =!= col("b2"))
        .count()
      assert(diff === 0L,
        "recovered residual index must equal a frozen-side recompute")
    } finally graft.search.Swap.drop(spark, table,
      s"${table}__centroids", s"${table}__codebook", s"${table}__meta")
  }

  test("semanticDedupIndexed == per-call semanticDedup; corpus side pays zero exchanges") {
    val half = emb.where(col("vec_id") % 2 === 0)
    val table = "annidx_semdedup"
    graft.search.Swap.drop(spark, table, s"${table}__centroids",
      s"${table}__meta")
    try {
      AnnIndex.writeIvfIndex(half, "vec_id", "embedding", step = 50,
        table = table, buckets = 4, force = true)
      val indexed = AnnIndex.semanticDedupIndexed(spark, table,
        threshold = 0.35).select(col("id")).collect()
        .map(_.getLong(0)).sorted
      val direct = Similarity.semanticDedup(half, "vec_id", "embedding",
        threshold = 0.35, step = 50).select("vec_id").collect()
        .map(_.getLong(0)).sorted
      assert(indexed.toList === direct.toList)
      assert(indexed.nonEmpty)
      // the scale claim: the in-bucket pair join AND the bucket-size skew
      // guard both key on the table's own bucket layout, so the pair
      // computation plans ZERO shuffle exchanges — the only shuffled
      // data downstream is the candidate-bounded pair list (CC rounds).
      // Broadcast disabled for the assertion: at fixture size Spark
      // broadcasts the tiny corpus side, which hides the property that
      // matters at scale (bucketed SMJ with no exchange on either side)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan =
        try Similarity.pairsFromAssigned(
            spark.table(table).select(col("id"), col("bv"), col("bucket")),
            "id", threshold = 0.35)
          .queryExecution.executedPlan.toString
        finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      assert(!plan.contains("Exchange hashpartitioning"), plan.take(3000))
      // a PQ codes table fails loudly instead of decode-and-scoring a
      // different pair set
      val pq = "annidx_semdedup_pq"
      graft.search.Swap.drop(spark, pq, s"${pq}__centroids",
        s"${pq}__codebook", s"${pq}__meta")
      try {
        AnnIndex.writeIvfPqIndex(half, "vec_id", "embedding", step = 50,
          m = 8, table = pq, buckets = 4, codeStep = 50, force = true)
        val e = intercept[IllegalArgumentException] {
          AnnIndex.semanticDedupIndexed(spark, pq, threshold = 0.35)
        }
        assert(e.getMessage.contains("lossy"))
      } finally graft.search.Swap.drop(spark, pq, s"${pq}__centroids",
        s"${pq}__codebook", s"${pq}__meta")
    } finally graft.search.Swap.drop(spark, table,
      s"${table}__centroids", s"${table}__meta")
  }

  test("streamAssigner == assignNew per batch on plain, PQ and residual tiers") {
    // the r18 foreachBatch fast path: frozen sides read ONCE at
    // construction instead of per micro-batch — output must stay
    // row-identical to assignNew on every tier
    val plain = "annidx_sassign"
    val pq = "annidx_sassign_pq"
    val resid = "annidx_sassign_resid"
    def side(t: String) = Seq(t, s"${t}__centroids", s"${t}__codebook",
      s"${t}__meta")
    (side(plain) ++ side(pq) ++ side(resid)).grouped(4).foreach(g =>
      graft.search.Swap.drop(spark, g: _*))
    try {
      val buildSide = emb.where(col("vec_id") % 3 =!= 1)
      val batch = emb.where(col("vec_id") % 3 === 1)
      AnnIndex.writeIvfIndex(buildSide, "vec_id", "embedding", step = 50,
        table = plain, buckets = 4, force = true)
      AnnIndex.writeIvfPqIndex(buildSide, "vec_id", "embedding", step = 50,
        m = 8, table = pq, buckets = 4, codeStep = 50, force = true)
      AnnIndex.writeIvfPqIndex(buildSide, "vec_id", "embedding", step = 50,
        m = 8, table = resid, buckets = 4, codeStep = 50, force = true,
        encodeResidual = true)
      def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getLong(r.fieldIndex("id")) -> r.toSeq.toList).toMap
      Seq(plain, pq, resid).foreach { t =>
        val viaStream = AnnIndex.streamAssigner(spark, t,
          "vec_id", "embedding")(batch)
        val viaNew = AnnIndex.assignNew(spark, t, batch,
          "vec_id", "embedding")
        assert(viaStream.columns.toSeq === viaNew.columns.toSeq, t)
        val (s, n) = (keyed(viaStream), keyed(viaNew))
        assert(s.nonEmpty, t)
        assert(s === n, t)
      }
      // the once-read dim still guards every batch
      val badBatch = batch.withColumn("embedding",
        slice(col("embedding"), 1, 3))
      val e = intercept[IllegalArgumentException] {
        AnnIndex.streamAssigner(spark, plain, "vec_id", "embedding")(
          badBatch)
      }
      assert(e.getMessage.contains("dimensional"))
    } finally (side(plain) ++ side(pq) ++ side(resid)).grouped(4).foreach(g =>
      graft.search.Swap.drop(spark, g: _*))
  }
}
