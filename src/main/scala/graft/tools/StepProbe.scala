package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Sessions
import graft.search.{AnnIndex, InvertedIndex, Searcher, Swap}

/** Step-level wall + Spark-job probe for the multi-job lifecycles whose
  * per-query bench totals hide where the jobs go. Each mode warms once,
  * then runs two rounds and prints `STEP <name> <wall> s jobs=<n>
  * compiles=<n>` per step; job and compile counts are the host-noise-immune
  * before/after metrics (each removed job is a removed scan/collect/commit
  * round-trip; a second-round step that still compiles is missing Spark's
  * generated-class cache).
  *
  *  - `ann`: persisted-ANN build/query/upsert/calibrate (writeIvfIndex,
  *    writeIvfPqIndex, ivfKnnIndexed, ivfPqKnnIndexed, upsertIvfIndex,
  *    calibrateProbes);
  *  - `text`: e40_hybrid_indexed's fusion half (text index build, norms,
  *    BM25 arm, vector arm, RRF fuse) and e19_index_refresh's
  *    build/refresh/query segments;
  *  - `stream`: the ann_stream_compact lifecycle (build / setup / stream /
  *    compact / battery), plus one `TRIGGER` line per micro-batch that
  *    splits Structured Streaming's `durationMs` into addBatch (the
  *    foreachBatch work) and machinery (offsets, WAL and offset commits,
  *    planning).
  *
  * `GRAFT_PROBE_JOBS=1` also prints every job's callsite.
  *
  * Usage: runMain graft.tools.StepProbe ann|text|stream <sfDir>
  */
object StepProbe {

  private final class Steps(probe: ProbeListener) {
    def apply[A](name: String)(f: => A): A = {
      val (r, sec, c) = probe.measure(f)
      println(f"STEP $name%-40s $sec%8.3f s  jobs=${c.jobs}%3d compiles=${c.compiles}%4d")
      r
    }
  }

  def main(args: Array[String]): Unit = {
    val modes = Map[String, (SparkSession, String, Steps) => Unit](
      "ann" -> (ann _), "text" -> (text _), "stream" -> (stream _))
    require(args.length == 2 && modes.contains(args(0)),
      "usage: graft.tools.StepProbe ann|text|stream <sfDir>")
    val spark = Sessions.local(Sessions.tempWarehouse)
    spark.sparkContext.setLogLevel("WARN")
    val probe = ProbeListener.attach(spark,
      traceJobs = sys.env.get("GRAFT_PROBE_JOBS").contains("1"))
    modes(args(0))(spark, args(1), new Steps(probe))
    spark.stop()
  }

  private def ann(spark: SparkSession, sfDir: String, t: Steps): Unit = {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    emb.count() // warm the reader

    // warm one full build+query so JIT/codegen costs don't land on the
    // measured iteration (the bench warms every query at sf0.001 first)
    Swap.drop(spark, "probe_warm", "probe_warm__centroids",
      "probe_warm__meta")
    AnnIndex.writeIvfIndex(emb, "vec_id", "embedding",
      step = 50, table = "probe_warm", buckets = 8, force = true)
    AnnIndex.ivfKnnIndexed(spark, "probe_warm",
      emb.where(col("vec_id") % 100 === 0), "vec_id", "embedding",
      k = 5, nprobe = 3).count()

    (1 to 2).foreach { round =>
      println(s"--- round $round ---")
      t("reset") {
        Swap.drop(spark, "probe_ivf",
          "probe_ivf__centroids", "probe_ivf__meta")
      }
      t("writeIvfIndex TOTAL") {
        AnnIndex.writeIvfIndex(emb, "vec_id", "embedding",
          step = 50, table = "probe_ivf", buckets = 8, force = true)
      }
      val q = emb.where(col("vec_id") % 100 === 0)
      t("ivfKnnIndexed+count") {
        AnnIndex.ivfKnnIndexed(spark, "probe_ivf", q,
          "vec_id", "embedding", k = 5, nprobe = 3).count()
      }
      t("reset pq") {
        Swap.drop(spark, "probe_pq",
          "probe_pq__centroids", "probe_pq__codebook", "probe_pq__meta")
      }
      t("writeIvfPqIndex TOTAL") {
        AnnIndex.writeIvfPqIndex(emb, "vec_id", "embedding",
          step = 50, m = 8, table = "probe_pq", buckets = 8, codeStep = 50,
          force = true)
      }
      t("ivfPqKnnIndexed+count") {
        AnnIndex.ivfPqKnnIndexed(spark, "probe_pq", q,
          "vec_id", "embedding", k = 5, nprobe = 3).count()
      }
      t("upsertIvfIndex") {
        AnnIndex.upsertIvfIndex(spark, "probe_ivf",
          emb.where(col("vec_id") % 3 === 1), "vec_id", "embedding")
      }
      t("calibrateProbes+count") {
        AnnIndex.calibrateProbes(spark, "probe_ivf",
          emb.where(col("vec_id") % 100 === 1), "vec_id", "embedding",
          k = 5, targetRecall = 0.15, nprobes = Seq(1, 2, 3)).count()
      }
    }
  }

  private def text(spark: SparkSession, sfDir: String, t: Steps): Unit = {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    d.count(); emb.count() // warm the readers

    // warm one full e40 so JIT/codegen costs don't land on the measured
    // iteration (the bench warms every query at sf0.001 first)
    graft.SparkEntry.queries("e40_hybrid_indexed")(spark, sfDir).count()

    (1 to 2).foreach { round =>
      println(s"--- round $round ---")
      val ti = "e40_text_idx"
      val vt = "e40_vec_idx"
      t("e40 reset") {
        Swap.drop(spark, ti, s"${ti}__norms")
        Swap.drop(spark, vt, s"${vt}__centroids",
          s"${vt}__meta")
      }
      t("e40 text writeIndex") {
        InvertedIndex.writeIndex(
          InvertedIndex.postings(d, "doc_id", "text", uax29 = false),
          ti, buckets = 8, force = true)
      }
      t("e40 persistNorms") { InvertedIndex.persistNorms(spark, ti) }
      t("e40 writeIvfIndex") {
        AnnIndex.writeIvfIndex(emb, "vec_id", "embedding", step = 50,
          table = vt, buckets = 8, force = true)
      }
      val post = InvertedIndex.readIndex(spark, ti)
      val bm = {
        import org.apache.spark.sql.expressions.Window
        InvertedIndex.bm25TopK(post,
          InvertedIndex.normsOf(spark, ti, post),
          Seq("spark", "window", "data"), k = 20)
          .withColumn("rank",
            row_number().over(Window.orderBy(desc("score"), asc("doc_id"))))
          .select("doc_id", "rank")
      }
      t("e40 bm25 arm count") { bm.count() }
      val vec = t("e40 ivfKnnIndexed plan+probe") {
        AnnIndex.ivfKnnIndexed(spark, vt,
          emb.where(col("vec_id") === 0), "vec_id", "embedding",
          k = 20, nprobe = 3)
          .select(col("neighbor_id").as("doc_id"), col("rank"))
      }
      t("e40 fuse count") { Searcher.rrfFuse(Seq(bm, vec), topK = 15).count() }

      // --- e19_index_refresh segments ---
      val table = "e19_refresh_idx"
      t("e19 reset") {
        Swap.drop(spark, table, s"${table}__norms")
      }
      val old = d.where(col("doc_id") % 11 =!= 0).select("doc_id", "text")
      val nw = d.where(col("doc_id") % 13 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" rev1")))
            .otherwise(col("text")).as("text"))
      t("e19 build(old)") {
        InvertedIndex.writeIndex(
          InvertedIndex.postings(old, "doc_id", "text", uax29 = false),
          table, buckets = 8, force = true)
      }
      t("e19 refreshIndex") {
        InvertedIndex.refreshIndex(spark, table, old, nw, "doc_id", "text",
          buckets = 8, uax29 = false)
      }
      t("e19 phraseHits count") {
        InvertedIndex.phraseHits(InvertedIndex.readIndex(spark, table),
          Seq("batch batch", "spark window", "data line",
            "no such phrase xyz"), uax29 = false).count()
      }
    }
  }

  private def stream(spark: SparkSession, sfDir: String, t: Steps): Unit = {
    spark.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = {
          val d = e.progress.durationMs
          import scala.jdk.CollectionConverters._
          val total = Option(d.get("triggerExecution")).map(_.longValue)
            .getOrElse(-1L)
          val add = Option(d.get("addBatch")).map(_.longValue).getOrElse(0L)
          val rest = d.asScala.toSeq.sortBy(_._1)
            .map { case (k, v) => s"$k=$v" }.mkString(" ")
          println(f"TRIGGER batch=${e.progress.batchId}%2d rows=" +
            f"${e.progress.numInputRows}%6d total=${total}%5d ms " +
            f"addBatch=${add}%5d ms machinery=${total - add}%5d ms | $rest")
        }
      })
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    emb.count()
    (1 to 2).foreach { round =>
      println(s"--- round $round ---")
      val table = "slp_idx"
      t("reset") {
        Swap.drop(spark, table, s"${table}__centroids",
          s"${table}__meta")
      }
      val tmp = java.nio.file.Files.createTempDirectory("slp").toString
      t("build") {
        AnnIndex.writeIvfIndex(
          emb.where(col("vec_id") % 3 =!= 1), "vec_id", "embedding",
          step = 50, table = table, buckets = 8, force = true)
      }
      val arrivals = emb.where(col("vec_id") % 3 === 1)
        .select("vec_id", "embedding")
      t("setup") {
        arrivals.repartition(2).write.mode("overwrite").parquet(s"$tmp/src")
      }
      val assign = t("assigner-init") {
        AnnIndex.streamAssigner(spark, table, "vec_id", "embedding")
      }
      t("stream") {
        val in = spark.readStream.schema(arrivals.schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$tmp/src")
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
      }
      t("compact") {
        AnnIndex.compactIvfIndex(spark, table,
          spark.read.parquet(s"$tmp/appends"))
      }
      t("battery+count") {
        AnnIndex.ivfKnnIndexed(spark, table,
          emb.where(col("vec_id") % 100 === 0), "vec_id", "embedding",
          k = 5, nprobe = 3).count()
      }
      val p = new org.apache.hadoop.fs.Path(tmp)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }
}
