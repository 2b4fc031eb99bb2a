package graft

import org.apache.spark.sql.SparkSession

import graft.tools.{ProbeCounts, ProbeListener}

/** The query bench: every [[SparkEntry]] query's wall time and what it
  * cost (Spark jobs, generated classes compiled, tasks, scan input,
  * shuffle and spill bytes), measured in this run only.
  *
  * Usage: `runMain graft.Bench [name...]` over `SPARK_GRAFT_SF_DIR`
  * (default /root/testdata/sf0.1). Without names it times every query,
  * prints the full record to stderr, persists it to
  * `SPARK_GRAFT_BENCH_OUT` (default bench_full.json) and prints one
  * compact headline line on stdout. With names it times only those and
  * prints their record to stderr.
  */
object Bench {

  /** Warmup-shape detector: a query whose samples are STRICTLY decreasing
    * with first/last ≥ 1.5× and ≥ 0.2 s apart is still riding JIT /
    * code-cache warmup when its scored sample lands (p8_model 3.52 → 2.16
    * → 1.83). One extra sample captures the steady state, and the min
    * scores it: monotone-decreasing means later = truer.
    */
  def warmupShaped(samples: List[Double]): Boolean =
    samples.length >= 2 &&
      samples.zip(samples.tail).forall { case (a, b) => a > b } &&
      samples.last > 0 && samples.head / samples.last >= 1.5 &&
      samples.head - samples.last > 0.2

  /** Third-sample decision over CHECKED (wall, ranSuccessfully) samples:
    * failed runs don't count as evidence — a query needs a third run when
    * fewer than two samples succeeded, when it is sub-second (median-of-3
    * policy), or when the successful samples disagree badly.
    */
  def needsThirdSample(checked: List[(Double, Boolean)]): Boolean = {
    val ok = checked.collect { case (t, true) => t }
    ok.length < 2 || ok.min < 1.0 || ok.max / ok.min > 1.5
  }

  /** Score over CHECKED samples: a failed run's wall (often milliseconds
    * for an up-front throw) must never land as the score, so scoring runs
    * over the successful samples only. Sub-second queries report the
    * median, because fixed scheduling costs dominate them and one lucky
    * or stalled sample misleads either way; at 1 s and above real work
    * dominates and the min rejects interference. With EVERY sample failed
    * the score is the max of the failed walls: visibly elevated rather
    * than a fake speedup (the correctness gate adjudicates failures).
    */
  def scoreSamples(checked: List[(Double, Boolean)]): Double = {
    val ok = checked.collect { case (t, true) => t }
    if (ok.isEmpty) checked.map(_._1).max
    else if (ok.min < 1.0) ok.sorted.apply(ok.length / 2)
    else ok.min
  }

  /** One query's scored wall, every sample's wall in run order, and its
    * costs: each field the minimum over the successful samples (over all
    * samples when none succeeded), except `compiles`, summed over every
    * timed sample so that a class evicted after the warm-up shows.
    */
  final case class Timed(score: Double, samples: List[Double],
                         costs: ProbeCounts)

  private final case class Sample(wall: Double, ok: Boolean, costs: ProbeCounts)

  private def costsOf(ss: List[Sample]): ProbeCounts = {
    val pool = ss.filter(_.ok) match { case Nil => ss; case ok => ok }
    def least(f: ProbeCounts => Long): Long = pool.map(s => f(s.costs)).min
    ProbeCounts(least(_.jobs), ss.map(_.costs.compiles).sum, least(_.tasks),
      least(_.inputBytes), least(_.shuffleRead), least(_.shuffleWrite),
      least(_.spill))
  }

  private val WarmDir = "/root/testdata/sf0.001"

  /** Drops the blocks a query left behind (persists inside operators,
    * localCheckpoint state), so back-to-back queries don't accumulate
    * block-manager pressure and charge GC pauses to whichever runs next.
    */
  private def releaseBlocks(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** Times `names` over `sfDir` in the given order: 2-3 samples per query
    * ([[needsThirdSample]], [[scoreSamples]]) plus one more when the
    * samples are [[warmupShaped]]. Each sample's wall excludes the probe's
    * listener drain. The probe is detached before returning.
    */
  def run(spark: SparkSession, sfDir: String,
          names: Seq[String]): Seq[(String, Timed)] = {
    val queries = SparkEntry.queries
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    // warm the session (parquet reader, codegen, shuffle machinery) and
    // touch every table at the measured SF, so file-listing and footer
    // costs don't land on whichever query happens to run first
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count()
      catch { case _: Throwable => () }
    }
    // run each query once at the smallest SF right before timing it, so
    // its generated classes compile and C2 JITs its hot kernels (md5, HOF
    // folds) first: first-execution JIT cost was 2-4x at sf0.1 on the
    // expression-heavy queries, startup noise rather than throughput.
    // Right before, not all first: the 208 queries generate more classes
    // than Spark's codegen cache holds, and warming all of them first
    // evicted the early queries' classes (176 of 208 then compiled while
    // timed at sf0.1)
    def warm(name: String): Unit = {
      try queries(name)(spark, WarmDir).count() catch { case _: Throwable => () }
      releaseBlocks(spark)
    }
    val probe = ProbeListener.attach(spark)
    try {
      names.map { name =>
        warm(name)
        val fn = queries(name)
        def sample(): Sample = {
          val (ok, wall, costs) = probe.measure(
            try { fn(spark, sfDir).count(); true }
            catch { case _: Throwable => false })
          releaseBlocks(spark)
          Sample(wall, ok, costs)
        }
        def checked(ss: List[Sample]) = ss.map(s => (s.wall, s.ok))
        var ss = List(sample(), sample())
        if (needsThirdSample(checked(ss))) ss :+= sample()
        var score = scoreSamples(checked(ss))
        if (warmupShaped(ss.map(_.wall))) {
          val again = sample()
          ss :+= again
          // a failed re-measure lands in the samples but never scores
          if (again.ok) score = math.min(score, again.wall)
        }
        name -> Timed(score, ss.map(_.wall), costsOf(ss))
      }
    } finally probe.detach()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(Sessions.tempWarehouse)
    spark.sparkContext.setLogLevel("WARN")
    val timed = run(spark, sfDir,
      if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted)
    def obj(cells: Seq[(String, Any)]): String =
      cells.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val resultMap = timed.map { case (n, t) => n -> t.score }.toMap
    val total = timed.map(_._2.score).sum
    // absolute throughput anchors BASELINE.md asks for (the reference
    // publishes none): docs/sec through topk-3gram, rows/sec through
    // keep-first dedup, phrase-count latency
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count().toDouble
    val derived = Seq(
      "topk3_docs_per_sec" -> resultMap.get("a6_topk_3gram").map(nDocs / _),
      "dedup_rows_per_sec" -> resultMap.get("j2_keep_first").map(nDocs / _),
      "phrase_count_sec" -> resultMap.get("a9_count_phrases"))
      .collect { case (k, Some(v)) => k -> v }
    // stage attribution for the composed lifecycle queries (their lambdas
    // mark eager build/stream/compact boundaries into StageTimer; the
    // values describe the LAST run of each query — attribution, not the
    // scored number; "finish" = the final lazy verify count, total minus
    // the marked stages, clamped at 0 when the scored sample is a
    // different (faster) run than the marked one)
    val stages = graft.queries.StageTimer.recorded
      .filter(resultMap.contains).map { q =>
        val ss = graft.queries.StageTimer.stages(q)
        q -> obj(ss :+ ("finish" -> math.max(0.0, resultMap(q) - ss.map(_._2).sum)))
      }
    val costs = timed.map { case (n, t) =>
      val c = t.costs
      n -> obj(Seq("jobs" -> c.jobs, "compiles" -> c.compiles,
        "tasks" -> c.tasks, "input_bytes" -> c.inputBytes,
        "shuffle_read_bytes" -> c.shuffleRead,
        "shuffle_write_bytes" -> c.shuffleWrite, "spill_bytes" -> c.spill))
    }
    val line = s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""queries":${obj(timed.map { case (n, t) => n -> t.score })},""" +
      s""""derived":${obj(derived)},""" +
      s""""samples":${obj(timed.map { case (n, t) => n -> t.samples.mkString("[", ",", "]") })},""" +
      s""""stages":${obj(stages)},"costs":${obj(costs)},"sf":"$sfDir"}"""
    // full detail goes to stderr and the persisted file; stdout carries
    // exactly one machine-readable JSON line, emitted at the very end
    System.err.println(line)
    if (args.isEmpty) {
      val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")
      // one overwrite-rename: a crash mid-write leaves the old file, not a
      // truncated one. The raw local file system writes no .crc siblings.
      val localFs = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration).getRaw
      try search.Swap.writeState(localFs,
        localFs.makeQualified(new org.apache.hadoop.fs.Path(outPath)), Seq(line))
      catch {
        // stdout still carries the headline; losing the file copy must not
        // fail the bench, but it must not be silent either
        case e: java.io.IOException =>
          System.err.println(s"bench: failed to persist $outPath: $e")
      }
      // a log capture that keeps only a ~2000-char tail of stdout (with
      // sbt's ~75-char "[success] Total time" trailer inside it) must
      // still hold the whole line, so stdout carries the headline-query
      // subset at 3 decimals under a hard length guard
      val headline = Seq(
        "q1_agg", "q3_join", "q5_nation_rev", "a1_stats", "a6_topk_3gram",
        "a7_botk_2gram", "a8_unique_ngrams", "a9_count_phrases",
        "a10_search_regex", "a12_contamination", "e1_count_all", "e2_get_docs",
        "e4_unigram_ttf", "j1_dup_hashes", "j2_keep_first", "j3_decontaminate",
        "j4_overlap_pairs", "j8_decontaminate_fuzzy", "d_minhash_lsh",
        "d_cc_clusters", "d_semantic_dedup", "d_dup_spans", "ann_topk_cosine",
        "ann_ivf_topk", "p6_lang_model", "p7_pii", "p8_model", "p9_sentence",
        "t_gopher_filter", "t_quality_clf", "t_ppl_buckets", "t_bpe_real",
        "t_dsir", "s12_pack_chunks", "s17_sliding_windows", "w_sessionize",
        "m_media_features", "e10_indexed_phrase", "e12_bm25_topk",
        "e13_indexed_slop", "ann_ivfpq_topk")
      // Locale.ROOT: a comma-decimal default locale would corrupt the JSON
      def f3(v: Double): String =
        String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
      def compactLine(names: Seq[String]): String = {
        val qs = names.flatMap(k => resultMap.get(k).map(v => k -> f3(v)))
        s"""{"metric":"total","value":${f3(total)},"unit":"sec",""" +
          s""""n_queries":${timed.size},"queries":${obj(qs)},""" +
          s""""derived":${obj(derived.map { case (k, v) => k -> f3(v) })},""" +
          s""""full":"$outPath","sf":"$sfDir"}"""
      }
      // drop trailing headline entries (never the envelope fields) until
      // the line fits; with the 41-name set it is ~1200 chars, so this is
      // a backstop, not the normal path
      val MaxStdoutLine = 1800
      println((headline.length to 0 by -1).iterator
        .map(n => compactLine(headline.take(n)))
        .find(_.length <= MaxStdoutLine)
        .getOrElse(compactLine(Nil)))
    }
    spark.stop()
  }
}
