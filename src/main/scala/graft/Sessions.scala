package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The engine's session: `local`, the one builder, and
  * [[tune]], the session-level optimizer tuning for the engine's
  * workload shape that `local` applies.
  *
  * Every generator in this library explodes a COMPUTED array (n-grams,
  * MinHash signatures, winnowing fingerprints, bigram structs) — never a
  * stored column. For that shape Spark's `InferFiltersFromGenerate` is
  * actively harmful: the inferred `size(arr) > 0 AND isnotnull(arr)` filter
  * is substituted through the producing projections by predicate pushdown
  * and lands in the file scan's data filters, where the ENTIRE array
  * expression (md5 per shingle, k hash lanes, HOF folds) is re-evaluated —
  * interpreted, and in the scan stage, i.e. BEFORE any fan-out repartition,
  * so on a single input split it also runs single-threaded. Measured at
  * sf0.1: the winnowing explode went 19 s → 0.45 s with the rule excluded
  * (the rule's only benefit — skipping rows whose stored array is empty —
  * never applies here).
  *
  * `spark.sql.optimizer.excludedRules` is a runtime conf read per
  * optimization pass, so tuning works on an already-built session; existing
  * exclusions are preserved.
  *
  * Spark's generated-class cache (`spark.sql.codegen.cache.maxEntries`,
  * LRU, default 100) is sized to [[CodegenCacheEntries]] = 1024. Runtime
  * code generation pays off only when compiled classes are reused, and an
  * LRU cache that cycles through more classes than it holds never hits:
  * one ingest_follow benchmark step (ingest, ann --follow and the
  * phrase/BM25/ANN reads) touches about 190 classes, so at 100 entries
  * every step, steady state included, recompiled all of them; at 1024 a
  * steady-state step compiles 0-10. Distinct classes per run, counted
  * with a cache larger than the run: a traced ingest_follow run 319,
  * corpus_scan 92, Verify's 208 queries at sf0.001 2,227 (mostly
  * one-shot: 2,536 compiles at 1024 entries, 4,818 at 100). 1024 holds
  * the largest repeated working set three times over without pinning
  * every class a long run ever generates; peak RSS did not grow (numbers
  * in CHANGES.md).
  *
  * The key is a STATIC conf, read once per JVM, when Spark's
  * `CodeGenerator` builds the cache at its first use. [[local]] sets it
  * at build; [[tune]] raises it on a session built elsewhere, but only
  * while nothing has compiled yet in this JVM — after that the cache is
  * built and a write would claim a resize that cannot happen. A one-shot
  * CLI process starts from an empty cache either way and compiles every
  * class its one command needs at least once; the size pays off in JVMs
  * that repeat work (the benchmark's closed loops, the test suite, a host
  * calling `Cli.run` per batch, Verify's queries sharing operators).
  */
object Sessions {

  /** Entries of Spark's generated-class cache on every engine session. */
  val CodegenCacheEntries = 1024
  private val CodegenCacheKey = "spark.sql.codegen.cache.maxEntries"

  /** Task slots of every local session: `SPARK_GRAFT_CPUS` when set, else
    * the JVM's processor count. The one read of that variable.
    */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A private warehouse for this JVM, deleted at exit, as a conf entry for
    * [[local]]: managed tables a one-shot main creates (the ANN and index
    * queries' tables, a probe's throwaway indexes) then never land in the
    * working directory's `spark-warehouse/`, where they would outlive the
    * run and meet the next run's tables. `Verify`, `Bench`, the
    * `graft.tools` mains and the tests use it; `Cli` does not, because its
    * `--follow`/`--table` state must outlive the process.
    */
  lazy val tempWarehouse: (String, String) = {
    val dir = java.nio.file.Files.createTempDirectory("graft-warehouse").toFile
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(dir))
    "spark.sql.warehouse.dir" -> dir.getAbsolutePath
  }

  /** `local(cpus, conf: _*)` at [[cpus]] slots (Scala 2 allows no default
    * argument in a parameter list that ends in varargs).
    */
  def local(conf: (String, String)*): SparkSession = local(cpus, conf: _*)

  /** The engine's session — the one builder of every entry point, tool and
    * test, so all of them plan alike. `local[cpus]` with `cpus` shuffle
    * partitions as AQE's ceiling; size-based reducer coalescing
    * (`parallelismFirst=false`) and repartitioning of cached plans, so tiny
    * shuffles collapse to one task and 64 MB advisory partitions serve
    * sf0.001 and 100 TB alike; UTC timestamps; parquet INT64 nanos read as
    * longs; no UI; a [[CodegenCacheEntries]]-entry generated-class cache;
    * [[GraftExtensions]] installed; then [[tune]]. `conf` entries go last
    * and override.
    *
    * Idempotent: on an existing session `getOrCreate` re-applies every
    * runtime SQL conf (static ones, the master and the extensions bind
    * only at first build — use [[GraftExtensions.register]] on a session
    * built elsewhere) and `tune` re-sets its own.
    */
  def local(cpus: Int, conf: (String, String)*): SparkSession = {
    val confs = Seq(
      "spark.ui.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      CodegenCacheKey -> CodegenCacheEntries.toString) ++ conf
    val builder = SparkSession.builder().master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
    tune(confs.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate())
  }

  private val ExcludedRules = Seq(
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")

  /** Apply engine-appropriate optimizer settings to `spark`; returns it.
    * Also raises the generated-class cache to [[CodegenCacheEntries]] when
    * nothing has compiled yet in this JVM, so call it right after building
    * a session, before its first query; later calls leave that key alone.
    */
  def tune(spark: SparkSession): SparkSession = {
    // a static conf: RuntimeConfig.set refuses it, the session's SQLConf
    // takes it, and CodeGenerator reads it when it first builds its cache
    val sqlConf = spark.sessionState.conf
    if (CodegenMetrics.METRIC_COMPILATION_TIME.getCount == 0 &&
        sqlConf.codegenCacheMaxEntries < CodegenCacheEntries)
      sqlConf.setConfString(CodegenCacheKey, CodegenCacheEntries.toString)
    val key = "spark.sql.optimizer.excludedRules"
    val existing = spark.conf.getOption(key).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    spark.conf.set(key, (existing ++ ExcludedRules).distinct.mkString(","))
    // this engine's bucketed tables (S9 corpus tier, the inverted index)
    // exist FOR bucket pruning on point/IN lookups; the auto-bucketed-scan
    // heuristic disables bucketed reads in filter-only plans (no join or
    // agg "uses" the bucketing) and silently turns a one-bucket term
    // lookup back into a full scan of the index. Pruning > the heuristic's
    // batch-coalescing win for this workload shape.
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    // every capped driver gather in this engine (centroid frames, band-key
    // prunes, sorted-long dedup sets, PQ samples) is a `limit(cap+1)
    // .collect()` over a CONTRACTUALLY BOUNDED side frame — executeTake's
    // default ramp (1 partition, then ×4 per round) turns each one into
    // 3-4 scheduler round-trips because the cap is never reached and every
    // partition gets scanned anyway (measured r19: 4 jobs per centroid
    // gather on every indexed ANN query/maintenance call). One round over
    // min(1024, N) partitions collapses each gather to ONE job; the
    // engine has no selective limit-probe over a huge table that the old
    // ramp would have served better (semantic top-k queries all carry an
    // ORDER BY and execute as TakeOrderedAndProject, which this conf does
    // not touch).
    spark.conf.set("spark.sql.limit.initialNumPartitions", "1024")
    spark
  }

  /** The engine's one capped driver gather: every row of `df`, or None
    * when it has more than `cap` rows. One `limit(cap + 1).collect()` job
    * over the contractually bounded side frame, ramped once over every
    * partition by [[tune]]'s `limit.initialNumPartitions`.
    */
  def gatherCapped(df: DataFrame, cap: Int): Option[Array[Row]] = {
    val rows = df.limit(cap + 1).collect()
    if (rows.length > cap) None else Some(rows)
  }
}
