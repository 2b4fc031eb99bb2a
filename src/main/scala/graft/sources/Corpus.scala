package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Corpus ingestion: gzip JSONL shards with the reference's canonical
  * document shape (SURVEY §1.3, §2.1 S1-S7, S10).
  *
  * Scale notes: `.json.gz` shards are one split each (gzip isn't splittable)
  * — exactly the reference's file-level parallelism (one thread per file,
  * src/cmd/util.rs:127-134) re-expressed as one Spark task per file. The
  * schema is projected at the reader, so unused JSON fields are never
  * materialized (serde's ignore-unknown, src/cmd/util.rs:21-26, for free).
  */
object Corpus {

  /** Canonical superset schema (FIXTURES.md §2): every reference tool's
    * fields, all nullable; unknown fields ignored by the reader.
    */
  val schema: StructType = StructType(Seq(
    StructField("text", StringType),
    StructField("url", StringType),
    StructField("date", StringType),
    StructField("timestamp", StringType),
    StructField("created", StringType),
    StructField("subset", StringType),
    StructField("id", StringType),
    StructField("source", StringType),
    StructField("metadata", MapType(StringType, StringType))))

  /** Row count without a distributed job when the frame is a BARE parquet
    * scan (no filter/projection survives optimization above the relation):
    * sums the record counts from the parquet footers — a driver-side
    * metadata read, zero cluster passes. Any other plan shape falls back
    * to `df.count()`, as do scans with more than `maxFooterFiles` files
    * (reading 100k footers serially on the driver would be slower than
    * one distributed count — at that scale the count job amortizes).
    *
    * This is what makes the `maxFitRows` guards in the model-fit paths
    * (QualityClassifier, ProfanityModel) free on the common
    * fit-on-a-table call shape: the guard needs n only to decide whether
    * to down-sample, and a metadata read answers that without charging a
    * job to every fit.
    */
  def fastRowCount(df: DataFrame, maxFooterFiles: Int = 256): Long = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    df.queryExecution.optimizedPlan match {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation
            if fs.fileFormat.toString.toLowerCase(java.util.Locale.ROOT)
              .contains("parquet") =>
          val files = fs.location.inputFiles
          if (files.isEmpty) 0L
          else if (files.length > maxFooterFiles) df.count()
          else {
            // the relation's datasource options can carry filesystem
            // config/credentials the session conf lacks — merge them, and
            // treat any footer-read failure (transient IO, odd FS) as a
            // cue to fall back to the distributed count rather than throw
            // where df.count() would have succeeded
            val conf = df.sparkSession.sessionState
              .newHadoopConfWithOptions(fs.options)
            try {
              files.map { f =>
                val in = org.apache.parquet.hadoop.util.HadoopInputFile
                  .fromPath(new org.apache.hadoop.fs.Path(f), conf)
                val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
                try r.getRecordCount finally r.close()
              }.sum
            } catch {
              case scala.util.control.NonFatal(e) =>
                // loud fallback: a persistent misconfiguration (bad
                // credentials, odd FS) would otherwise silently degrade
                // EVERY fastRowCount to a full distributed count
                System.err.println(
                  s"graft: parquet footer count failed ($e); falling back to df.count()")
                df.count()
            }
          }
        case _ => df.count()
      }
      case _ => df.count()
    }
  }

  /** S1-S5: read JSONL(.gz) shards.
    * @param perFileLimit reference `--limit`: first N rows of EACH file
    *        (src/cmd/util.rs:72-81) — not a global limit
    * @param fileLimit reference `--file-limit` (src/cmd/topk.rs:122-124)
    * @param failFast reference behavior is fail-the-file on parse errors
    *        (src/cmd/util.rs:28-95); default PERMISSIVE keeps a
    *        `_corrupt_record` column out of the way
    */
  def readJsonl(spark: SparkSession, paths: Seq[String],
                perFileLimit: Option[Int] = None,
                fileLimit: Option[Int] = None,
                failFast: Boolean = false): DataFrame = {
    val selected = fileLimit match {
      case Some(n) =>
        // expand the glob driver-side only when a file budget is requested
        val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
        paths.flatMap { p =>
          val glob = fs.globStatus(new org.apache.hadoop.fs.Path(p))
          if (glob == null) Seq.empty else glob.map(_.getPath.toString)
        }.sorted.take(n)
      case None => paths
    }
    require(selected.nonEmpty, s"no input files matched: $paths") // S2 empty-match check
    val df = spark.read.schema(schema)
      .option("mode", if (failFast) "FAILFAST" else "PERMISSIVE")
      .json(selected: _*)
    perFileLimit match {
      case Some(n) =>
        // gzip JSONL ⇒ one split per file ⇒ per-partition order IS file order
        val w = Window.partitionBy(input_file_name()).orderBy(monotonically_increasing_id())
        df.withColumn("__rn", row_number().over(w)).where(col("__rn") <= n).drop("__rn")
      case None => df
    }
  }

  /** `.url` with `.metadata.url` fallback (reference
    * helper_scripts/run_get_urls.sh:7, wimbd/random_sample/map_count.py:28-29).
    */
  val effectiveUrl: Column = coalesce(col("url"), col("metadata")("url"))

  /** First present date key parsed to a timestamp (reference
    * wimbd/utterance_dates/map_count.py:20-24).
    */
  val eventTime: Column = to_timestamp(coalesce(col("date"), col("timestamp"), col("created")))

  /** S7: JSONL sink with the reference's overwrite guard (`--force`,
    * src/util.rs:6-25). `maxRecordsPerFile` caps shard size like S8's
    * batched HF export.
    */
  def writeJsonl(df: DataFrame, path: String, force: Boolean = false,
                 gzip: Boolean = true, maxRecordsPerFile: Long = 0L): Unit = {
    val w = df.write.mode(if (force) "overwrite" else "errorifexists")
      .option("maxRecordsPerFile", maxRecordsPerFile)
    (if (gzip) w.option("compression", "gzip") else w).json(path)
  }

  /** S10: split into n roughly-equal shards. */
  def shard(df: DataFrame, n: Int): DataFrame = df.repartition(n)

  /** Consolidate many small `.json.gz` shards into merged shards of
    * `factor` inputs each — the small-files compaction the reference runs
    * on mC4 (preparation/mc4/combine_adjacent_files.py:27-70, driving GCS
    * `blob.compose`). gzip members concatenate into one valid gzip
    * stream, so like compose() the merge is a pure byte copy: no
    * decompress/reparse, payload bytes preserved exactly.
    *
    * Grouping mirrors the reference: names sorted, grouped by the prefix
    * before the first '.', chunked `factor` at a time; inputs named
    * `<prefix>.<int>.json.gz` yield the output
    * `<prefix>.<n1>-<n2>-….json.gz` (5-digit numbers). When any input
    * lacks the numeric component (e.g. Spark part files), ALL files fall
    * back to one synthetic "merged" prefix numbered by sorted position —
    * deterministic names, so resume still works.
    *
    * Scale/crash posture: the driver handles metadata only (one listing,
    * grouping, the resume filter — O(files) strings); byte streaming runs
    * as Spark tasks over the pending groups. Each group writes
    * `<name>.__tmp` then renames into place, and a group whose output
    * already exists is skipped both up front (the reference's
    * existing_files resume) and inside the task (idempotent retries) — a
    * crash leaves either nothing or a temp the next run overwrites.
    *
    * Returns the output shard names written by THIS run (empty = fully
    * resumed no-op).
    */
  def consolidateShards(spark: SparkSession, inDir: String, outDir: String,
                        factor: Int = 4): Seq[String] = {
    require(factor >= 2, "factor must be >= 2")
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    val inPath = new Path(inDir)
    val inFs = inPath.getFileSystem(conf)
    // writing into the input dir would make a second run list its own
    // merged outputs as inputs (their names don't re-parse, flipping the
    // whole listing onto the positional fallback) — refuse up front
    require(inFs.makeQualified(inPath) !=
        new Path(outDir).getFileSystem(conf).makeQualified(new Path(outDir)),
      s"consolidateShards: outDir must differ from inDir ($inDir)")
    val listed = inFs.listStatus(inPath)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".json.gz"))
      .map(_.getPath).sortBy(_.getName).toSeq
    require(listed.nonEmpty, s"no .json.gz shards under $inDir")
    def parse(name: String): Option[(String, Int)] = {
      val parts = name.split('.')
      // ≤9 digits keeps toInt total; anything longer is not a shard number
      if (parts.length >= 3 && parts(1).nonEmpty && parts(1).length <= 9 &&
          parts(1).forall(_.isDigit))
        Some((parts(0), parts(1).toInt))
      else None
    }
    val parsed = listed.map(p => (p, parse(p.getName)))
    val groups: Seq[(String, Seq[String])] =
      if (parsed.forall(_._2.isDefined))
        parsed.groupBy(_._2.get._1).toSeq.sortBy(_._1).flatMap {
          case (prefix, files) =>
            files.sortBy(_._2.get._2).grouped(factor).map { chunk =>
              val name = prefix + "." +
                chunk.map(c => f"${c._2.get._2}%05d").mkString("-") + ".json.gz"
              (name, chunk.map(_._1.toString))
            }
        }
      else
        listed.zipWithIndex.grouped(factor).map { chunk =>
          val name = "merged." +
            chunk.map(c => f"${c._2}%05d").mkString("-") + ".json.gz"
          (name, chunk.map(_._1.toString))
        }.toSeq
    val outPath = new Path(outDir)
    val outFs = outPath.getFileSystem(conf)
    outFs.mkdirs(outPath)
    // a crash between create and rename leaves an orphan temp; sweep them
    // here so they neither linger forever nor mask anything
    outFs.listStatus(outPath)
      .filter(st => st.isFile && st.getPath.getName.contains(".__tmp"))
      .foreach(st => outFs.delete(st.getPath, false))
    val existing = outFs.listStatus(outPath)
      .filter(_.isFile).map(_.getPath.getName).toSet
    val pending = groups.filterNot { case (n, _) => existing.contains(n) }
    if (pending.isEmpty) return Seq.empty
    val bc = org.apache.spark.sql.graft.Bridge.serializableHadoopConf(spark)
    val outDirStr = outFs.makeQualified(outPath).toString
    val slices = math.max(1,
      math.min(pending.size, spark.sparkContext.defaultParallelism * 4))
    spark.sparkContext.parallelize(pending, slices).foreach {
      case (name, files) =>
        val c = bc.value.value
        val out = new Path(outDirStr, name)
        val fs = out.getFileSystem(c)
        if (!fs.exists(out)) { // idempotent task retry
          // attempt-unique: a retried or speculative attempt of this task
          // must not truncate, or publish, another attempt's partial file
          val tmp = new Path(outDirStr, name + ".__tmp." +
            org.apache.spark.TaskContext.get().taskAttemptId())
          val os = fs.create(tmp, true)
          try {
            val buf = new Array[Byte](1 << 20)
            files.foreach { f =>
              val fp = new Path(f)
              val in = fp.getFileSystem(c).open(fp)
              try {
                var n = in.read(buf)
                while (n >= 0) { if (n > 0) os.write(buf, 0, n); n = in.read(buf) }
              } finally in.close()
            }
          } finally os.close()
          if (!fs.rename(tmp, out)) {
            fs.delete(tmp, false)
            // rename onto an existing target: a concurrent/retried task
            // already committed this group — losing the race is success
            if (!fs.exists(out))
              throw new java.io.IOException(
                s"consolidateShards: rename failed for $out")
          }
        }
    }
    pending.map(_._1)
  }

  /** Synthesize the stable doc id the ES indexer builds: `{file}-{line}`
    * (reference wimbd/indexing/index_json_files.py:55-60).
    *
    * DataFrame-level (not a bare Column) because `input_file_name()` is
    * only defined in the SCAN stage: the per-file row_number needs a
    * window shuffle, and a filename expression evaluated in the
    * post-shuffle projection silently returns '' — the filename must be
    * captured as a column before the exchange.
    *
    * `fullPath = true` keys by an md5 of the file's FULL qualified path
    * instead of its basename — required whenever ids from different
    * invocations must not collide (incremental `--follow` ingestion: two
    * shards named `data.json.gz` in different dated subdirs are distinct
    * documents, but share a basename). The default keeps the reference's
    * basename contract for ES-id parity.
    */
  def withFileLineId(df: DataFrame, idCol: String = "id",
                     fullPath: Boolean = false): DataFrame = {
    val staged = df.withColumn("__cfile", input_file_name())
      .withColumn("__cline", monotonically_increasing_id())
    val fileKey =
      if (fullPath) md5(col("__cfile"))
      else regexp_extract(col("__cfile"), "([^/]+)$", 1)
    staged.withColumn(idCol,
        concat(fileKey, lit("-"),
          (row_number().over(Window.partitionBy(col("__cfile"))
            .orderBy(col("__cline"))) - 1).cast("string")))
      .drop("__cfile", "__cline")
  }

  /** Reference-parity Elasticsearch document id: blake2b-512 hexdigest of
    * the stripped key string — `doc_id = hashlib.blake2b(url.strip()
    * .encode("UTF8")).hexdigest()` (reference ELASTIC.md:120-125; the C4
    * and LAION indices mint ids this way), so ids minted here match an
    * EXISTING reference ES index byte-for-byte and a user migrating can
    * cross-look-up documents by id in either system. Codegen'd kernel,
    * zero-shuffle scan projection; also registered as SQL
    * `graft_blake2b_es_id`.
    */
  def withEsId(df: DataFrame, keyCol: Column,
               idCol: String = "es_id"): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    df.withColumn(idCol, Bridge.column(
      graft.functions.expressions.Blake2bEsId(Bridge.expression(keyCol))))
  }

  /** S8's ingestion half re-expressed Spark-first (reference
    * wimbd/indexing/huggingface.py:28-88 streams a dataset into
    * `{split}_{n}.jsonl.gz` batches and resumes from the largest shard
    * number already on disk): rows get a DETERMINISTIC shard id from a
    * distributed row index (the Packing two-phase prefix sum — no global
    * window), already-manifested shards are skipped, and the missing
    * shards land in ONE write job as `shard=N/` gzip JSONL partitions
    * under dynamic-partition overwrite, so a crashed run's partial shards
    * are replaced wholesale on retry instead of duplicated. The manifest
    * (`_ingest_manifest.txt`) is replaced through `Swap.writeState` only
    * after the write commits, so it always holds the old or the new list:
    * crash before = those shards rewritten identically next run; crash
    * after = clean resume. `textField` renames to the canonical `text`
    * like the reference's `_update_example`.
    *
    * GROWTH SEMANTICS: the reference resumes a STREAM, so the natural call
    * pattern re-runs after the input has grown. The highest manifested
    * shard is therefore always re-written (it may have been partial —
    * dynamic-partition overwrite makes the rewrite idempotent when nothing
    * changed), so rows appended since the last run extend the tail shard
    * instead of being silently dropped into an already-manifested id. The
    * input must only grow at the TAIL of the `idCol` total order (append-
    * only): rows inserted below the maximum already-ingested id would
    * reshuffle earlier shard memberships that this run no longer rewrites.
    *
    * Returns the shard ids written this run (empty = already complete and
    * the input never had a tail shard to re-check).
    */
  def ingestShards(df: DataFrame, idCol: String, outDir: String,
                   recordsPerShard: Long,
                   textField: String = "text"): Seq[Long] = {
    require(recordsPerShard > 0, "recordsPerShard must be positive")
    val spark = df.sparkSession
    val renamed = if (textField != "text") df.withColumnRenamed(textField, "text") else df
    // the max manifested shard stays re-writable (see GROWTH SEMANTICS)
    val manifested = readIngestManifest(spark, outDir)
    val completed =
      if (manifested.isEmpty) manifested else manifested - manifested.max
    // 0-based row index under the idCol total order, computed without a
    // single-partition window: tokenOffsets with weight 1 per row
    val idx = graft.operators.Packing
      .tokenOffsets(renamed, idCol, "text", tokensExpr = Some(lit(1L)))
      .select(col("id").as(idCol), (col("start_offset") / recordsPerShard)
        .cast("long").as("shard"))
    val sharded = renamed.join(idx, Seq(idCol))
    val todo = if (completed.isEmpty) sharded
      else sharded.where(!col("shard").isin(completed.toSeq: _*))
    val writtenShards = todo.select("shard").distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    if (writtenShards.nonEmpty) {
      val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      try {
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        todo.repartition(col("shard"))
          .write.partitionBy("shard").mode("overwrite")
          .option("compression", "gzip").json(outDir)
      } finally prev match {
        case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
      writeManifest(spark, manifestPath(outDir),
        (completed ++ writtenShards).toSeq.sorted.map(_.toString))
    }
    writtenShards
  }

  // ---- URL-list shard ingestion (the stack/HF download half) ------------

  /** One shard copy: stream the resource at `url` into `out` (the caller
    * owns/closes the stream). Implementations must be Serializable — they
    * run on executors, one task per shard, the reference's
    * `parallel`-driven per-file download re-expressed as Spark tasks.
    */
  trait ShardFetcher extends Serializable {
    def fetch(url: String, out: java.io.OutputStream): Unit
  }

  /** `file://` / local-path fetcher — tests and pre-mirrored drops. Query
    * string / fragment are stripped (they address a remote signer, not
    * the local mirror path).
    */
  object LocalFileFetcher extends ShardFetcher {
    def fetch(url: String, out: java.io.OutputStream): Unit = {
      val noQuery = url.takeWhile(c => c != '?' && c != '#')
      // URI.getPath, not prefix-stripping: a bare strip of "file://"
      // turns file://localhost/data/x into the RELATIVE path
      // localhost/data/x (the authority becomes a path segment) and
      // leaves the equally-valid single-slash form file:/data/x
      // untouched — both are legal file-URL shapes a URL list can carry
      val path =
        if (noQuery.startsWith("file:")) {
          try {
            val u = java.net.URI.create(noQuery)
            Option(u.getPath).filter(_.nonEmpty).getOrElse(
              sys.error(s"file URL with no path component: $url"))
          } catch {
            // raw illegal URI characters (unencoded spaces are common in
            // hand-written URL lists): fall back to prefix stripping so
            // such entries keep fetching like they did pre-URI-parse
            case _: IllegalArgumentException =>
              noQuery.stripPrefix("file://").stripPrefix("file:")
          }
        } else noQuery
      val in = java.nio.file.Files.newInputStream(java.nio.file.Paths.get(path))
      try {
        val buf = new Array[Byte](1 << 16)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      } finally in.close()
    }
  }

  /** The authenticated-HTTP half of the reference's stack tooling
    * (preparation/stack/download_url.py:1-40 fetches each manifest URL
    * with a bearer token from auth_utils.py:8-20). Network egress is out
    * of scope for this environment, so this is a DOCUMENTED STUB: wire
    * your HTTP client + token source here; everything around it (manifest
    * resume, per-shard tasks, atomic target writes, failure reporting) is
    * real and tested through [[LocalFileFetcher]].
    */
  final class HttpAuthFetcher(tokenEnvVar: String = "DOWNLOAD_AUTH_TOKEN")
      extends ShardFetcher {
    def fetch(url: String, out: java.io.OutputStream): Unit =
      throw new UnsupportedOperationException(
        s"HttpAuthFetcher is a documented stub (no network egress here): " +
          s"implement with an HTTP client sending 'Authorization: Bearer " +
          s"$$$tokenEnvVar', mirroring preparation/stack/download_url.py")
  }

  /** Per-run fetch outcome: URLs fetched this run, how many of THIS
    * run's input URLs were skipped as already-manifested, and (url,
    * error) pairs for failures — failures are NOT manifested, so the
    * next run retries exactly them.
    */
  final case class FetchReport(fetched: Seq[String], skippedDone: Long,
                               failed: Seq[(String, String)])

  /** Drive a stack_v1.2_urls.txt-shaped URL list into `outDir`, one target
    * file per URL (its basename, query/fragment stripped), resuming via a
    * `_fetch_manifest.txt` of completed TARGET basenames — the offline re-expression
    * of the reference's manifest-driven shard download
    * (preparation/stack/download.sh:11 fans `download_url.py` over the
    * list; wimbd/indexing/huggingface.py:28-88 resumes from what's on
    * disk).
    *
    * Shape: per-shard imperative I/O is the legitimate RDD/foreach case
    * (like LinkProbe) — the URL list is tiny, each element is one opaque
    * copy, and the work distributes one task per shard. Each target
    * writes to an ATTEMPT-UNIQUE `.__fetch_tmp.<attempt>` sibling and
    * renames (concurrent duplicate attempts — speculative execution,
    * task retry — never interleave into one tmp file); the manifest
    * extends only with successes, AFTER the batch completes, so a crash
    * between fetch and manifest re-fetches idempotently. Resume identity
    * is the TARGET basename, not the full URL — a re-signed list (fresh
    * `?sig=` per run, the normal shape for authenticated manifests)
    * still resumes instead of re-downloading everything. Duplicate
    * basenames within one list are a loud driver-side error (two URLs
    * would clobber one target).
    */
  def ingestFromManifest(spark: SparkSession, urls: Seq[String],
                         outDir: String,
                         fetcher: ShardFetcher = LocalFileFetcher,
                         maxTasks: Int = 64): FetchReport = {
    val cleaned = urls.map(_.trim).filter(u => u.nonEmpty && !u.startsWith("#"))
    val named = cleaned.map(u => u -> shardTargetName(u)).distinct
    val dup = named.groupBy(_._2).filter(_._2.map(_._1).distinct.size > 1)
    require(dup.isEmpty,
      s"ingestFromManifest: duplicate target basenames would clobber: " +
        dup.keys.toSeq.sorted.take(5).mkString(", "))
    val done = manifestLines(spark, fetchManifestPath(outDir)).toSet
    val skipped = named.count { case (_, n) => done(n) }.toLong
    val todo = named.filterNot { case (_, n) => done(n) }
    if (todo.isEmpty)
      return FetchReport(Nil, skipped, Nil)
    val bcConf = org.apache.spark.sql.graft.Bridge.serializableHadoopConf(spark)
    val slices = math.max(1, math.min(todo.size,
      math.min(maxTasks, spark.sparkContext.defaultParallelism)))
    val results = spark.sparkContext.parallelize(todo, slices).map {
      case (url, name) =>
        val conf = bcConf.value.value
        val target = new org.apache.hadoop.fs.Path(outDir, name)
        val fs = target.getFileSystem(conf)
        val attempt = Option(org.apache.spark.TaskContext.get())
          .map(_.taskAttemptId()).getOrElse(0L)
        val tmp = new org.apache.hadoop.fs.Path(outDir,
          s".$name.__fetch_tmp.$attempt")
        try {
          val os = fs.create(tmp, true)
          try fetcher.fetch(url, os) finally os.close()
          fs.delete(target, false)
          if (!fs.rename(tmp, target))
            sys.error(s"rename $tmp -> $target failed")
          (url, name, None: Option[String])
        } catch {
          case scala.util.control.NonFatal(e) =>
            try fs.delete(tmp, false) catch { case _: Exception => () }
            (url, name, Some(e.toString))
        }
    }.collect()
    val okUrls = results.collect { case (u, _, None) => u }.toSeq
    val okNames = results.collect { case (_, n, None) => n }.toSeq
    if (okNames.nonEmpty) writeManifest(spark, fetchManifestPath(outDir),
      (done ++ okNames).toSeq.sorted)
    FetchReport(okUrls, skipped,
      results.collect { case (u, _, Some(e)) => (u, e) }.toSeq)
  }

  /** Read a URL-list file (one URL per line; blanks and `#` comments
    * skipped) — the stack_v1.2_urls.txt shape.
    */
  def readUrlList(spark: SparkSession, path: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filter(u => u.nonEmpty && !u.startsWith("#")).toList
    finally in.close()
  }

  private def shardTargetName(url: String): String = {
    val noQuery = url.takeWhile(c => c != '?' && c != '#')
    val base = noQuery.reverse.takeWhile(_ != '/').reverse
    require(base.nonEmpty, s"ingestFromManifest: no basename in '$url'")
    base
  }

  private def fetchManifestPath(outDir: String) =
    new org.apache.hadoop.fs.Path(outDir, "_fetch_manifest.txt")

  private def manifestPath(outDir: String) =
    new org.apache.hadoop.fs.Path(outDir, "_ingest_manifest.txt")

  private def manifestLines(spark: SparkSession,
                            p: org.apache.hadoop.fs.Path): Seq[String] =
    graft.search.Swap.readState(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
      .getOrElse(Nil).filter(_.nonEmpty)

  private def writeManifest(spark: SparkSession, p: org.apache.hadoop.fs.Path,
                            lines: Seq[String]): Unit =
    graft.search.Swap.writeState(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration), p, lines)

  /** Completed shard ids recorded for `outDir` (empty when none). */
  def readIngestManifest(spark: SparkSession, outDir: String): Set[Long] =
    manifestLines(spark, manifestPath(outDir)).map(_.toLong).toSet

  /** S9's replacement at Spark scale: persist a corpus as a BUCKETED,
    * sorted Parquet table — the "index tier" the reference delegates to
    * Elasticsearch. Every subsequent equi-join or aggregation on
    * `bucketCols` (dedup rounds, id lookups, per-doc attribute joins,
    * repeated contamination probes) reads co-partitioned buckets and
    * skips its Exchange entirely; sorting within buckets keeps merge
    * joins spill-free. At 100 TB you pay the layout shuffle ONCE at
    * ingest instead of per-query — choose `buckets` ≈ corpus size /
    * (target 128-256 MB per bucket file).
    */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
                    bucketCols: Seq[String], force: Boolean = false): Unit = {
    val w = df.write.mode(if (force) "overwrite" else "errorifexists")
      .format("parquet")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
    w.saveAsTable(table)
  }

  /** Read a bucketed table back (bucket metadata comes from the catalog —
    * a plain `spark.read.parquet` of the same files would lose it).
    */
  def readTable(spark: SparkSession, table: String): DataFrame =
    spark.table(table)
}
