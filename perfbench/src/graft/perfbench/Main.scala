package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Cli, Sessions, Wimbd}
import graft.operators.{Dedup, FeatureHash, MinHash, NgramOps, Similarity, TextQuality}
import graft.search.{AnnIndex, InvertedIndex}

/** The benchmark's JVM side: builds the session, generates the workload's
  * inputs from the seed, runs the set-up and the timed closed loop (one
  * client), checks every output against values known by construction, and
  * writes the raw record (op latencies, checks, spans, jobs) as JSON for
  * perfbench/run.py, which derives and prints the metrics.
  *
  *   graft.perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --slots K --work DIR --out FILE
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        slots: Int, work: File, out: File)

  /** Sizes of each workload's inputs, stated in perfbench/SPEC.json. */
  val ScanDocs = 3000
  val ScanShards = 8
  val IndexBuckets = 8
  val AnnBuckets = 8
  val AnnStep = 50
  val AnnDim = 64
  val IngestBatchDocs = 400
  val IngestBatchShards = 2
  val IngestMaxBatches = 16
  /** ANN recall@10 at nprobe 3 that traced ingest_follow runs must reach. */
  val RecallFloor = 0.3

  private def parse(a: Array[String]): Opts = {
    val m = a.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Opts(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", need("--slots").toInt,
      new File(need("--work")), new File(need("--out")))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val rec = new Rec
    // generation is set-up the program never sees; it overlaps session start
    val prepared = scala.concurrent.Future(Prepared(o))(scala.concurrent.ExecutionContext.global)
    val spark = SparkSession.builder()
      .master(s"local[${o.slots}]")
      .config("spark.sql.shuffle.partitions", o.slots.toString)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(o.work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(o.work, "local").getAbsolutePath)
      .getOrCreate()
    Sessions.tune(spark)
    spark.sparkContext.setLogLevel("ERROR")
    rec.setup("session_s", (System.currentTimeMillis() - jvmStartMs) / 1e3)
    val tracer = new Tracer(spark.sparkContext, o.trace, s"pb${o.seed}")
    try {
      val input = scala.concurrent.Await.result(prepared, scala.concurrent.duration.Duration.Inf)
      rec.counter("gen_s", input.genS)
      val w = input match {
        case i: ScanInput => new CorpusScan(spark, o, rec, tracer, i)
        case i: IngestInput => new IngestFollow(spark, o, rec, tracer, i)
      }
      w.run()
      rec.counter("peak_rss_mb", Rec.vmHwmMb())
      rec.spans = tracer.finish()
      rec.jobs = tracer.jobs
    } finally spark.stop()
    Files.write(o.out.toPath, rec.json.getBytes(StandardCharsets.UTF_8))
  }
}

/** A workload's generated inputs, written under the run's work dir. */
sealed trait Prepared { def genS: Double }
final case class ScanInput(c: Scan, shardDir: File, bytes: Long, genS: Double) extends Prepared
final case class IngestInput(ing: Ingest, staging: File, batchBytes: IndexedSeq[Long],
                             bench: File, genS: Double) extends Prepared

object Prepared {
  def apply(o: Main.Opts): Prepared = {
    val t0 = System.nanoTime()
    def took = (System.nanoTime() - t0) / 1e9
    o.workload match {
      case "corpus_scan" =>
        val c = Corpora.scan(o.seed, Main.ScanDocs)
        val dir = new File(o.work, "shards")
        val bytes = Corpora.writeShards(dir, "part", c.docs, Main.ScanShards)
        ScanInput(c, dir, bytes, took)
      case "ingest_follow" =>
        val ing = Corpora.ingest(o.seed, Main.IngestBatchDocs, Main.IngestMaxBatches)
        val staging = new File(o.work, "staging")
        val bytes = (ing.bootstrap +: ing.batches).zipWithIndex.map { case (b, k) =>
          Corpora.writeShards(new File(staging, f"b$k%03d"), f"batch$k%03d", b.docs,
            Main.IngestBatchShards)
        }
        val bench = new File(o.work, "bench")
        Corpora.writeShards(bench, "bench", ing.bench, 1)
        IngestInput(ing, staging, bytes, bench, took)
      case other => sys.error(s"unknown workload $other")
    }
  }
}

/** What one run records; serialized once at the end. */
final class Rec {
  val setupParts = ArrayBuffer.empty[(String, Double)]
  val ops = ArrayBuffer.empty[(String, Double, Boolean, String)]
  val checks = ArrayBuffer.empty[(String, Boolean, String)]
  val counters = ArrayBuffer.empty[(String, Double)]
  /** Wall seconds of each untraced step of the timed loop. */
  val steps = ArrayBuffer.empty[Double]
  var spans: Seq[Span] = Nil
  var jobs: Seq[JobRec] = Nil

  def setup(k: String, v: Double): Unit = setupParts += (k -> v)
  def counter(k: String, v: Double): Unit = counters += (k -> v)
  def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
    checks += ((name, ok, if (ok) "" else detail)); ok
  }

  private var why = ""

  /** Phase of the loop the next ops belong to: warm, timed or traced. */
  var phase = "warm"

  /** Inside an op: `ok`, or record why the output check failed. */
  def expect(ok: Boolean, detail: => String): Boolean = {
    if (!ok && why.isEmpty) why = detail
    ok
  }

  /** Time one operation of the loop; its body returns the output check. A
    * throw is a failed op. Failed ops are listed among the checks as
    * `<kind> op`, and counted once.
    */
  def op(kind: String)(body: => Boolean): Boolean = {
    why = ""
    val t0 = System.nanoTime()
    val ok = try body catch {
      case e: Exception => why = e.toString.take(300); false
    }
    ops += ((kind, (System.nanoTime() - t0) / 1e6, ok, phase))
    if (!ok) checks += ((s"$kind op", false, why))
    ok
  }

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => " "; case c => c.toString
  } + "\""
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def json: String = {
    def obj(kv: Seq[(String, Double)]) = kv.map { case (k, v) => s"${q(k)}:${num(v)}" }.mkString("{", ",", "}")
    val opsJ = ops.map { case (k, ms, ok, ph) =>
      s"""{"kind":${q(k)},"ms":${num(ms)},"ok":$ok,"phase":${q(ph)}}""" }.mkString("[", ",", "]")
    val checksJ = checks.map { case (n, ok, d) =>
      s"""{"name":${q(n)},"ok":$ok,"detail":${q(d)}}""" }.mkString("[", ",", "]")
    val spansJ = spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${q(s.name)},"start_ms":${num(s.startMs)},""" +
        s""""end_ms":${num(s.endMs)},"attrs":${obj(s.attrs.toSeq)}}"""
    }.mkString("[", ",", "]")
    val jobsJ = jobs.map { j =>
      s"""{"id":${j.id},"span":${j.span},"site":${q(j.site)},"stack":${q(j.stack)},""" +
        s""""start_ms":${j.startMs},""" +
        s""""end_ms":${j.endMs},${j.work.fields.map { case (k, v) => s"${q(k)}:$v" }.mkString(",")}}"""
    }.mkString("[", ",", "]")
    s"""{"setup":${obj(setupParts.toSeq)},"counters":${obj(counters.toSeq)},""" +
      s""""steps":${steps.map(num).mkString("[", ",", "]")},""" +
      s""""ops":$opsJ,"checks":$checksJ,"spans":$spansJ,"jobs":$jobsJ}"""
  }
}

object Rec {
  /** Peak resident set of this JVM (`VmHWM`), in MB. */
  def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  def duBytes(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(duBytes).sum).getOrElse(0L)

  def countFiles(f: File, pred: String => Boolean): Long =
    if (!f.exists()) 0L
    else if (f.isFile) (if (pred(f.getName)) 1L else 0L)
    else Option(f.listFiles()).map(_.map(countFiles(_, pred)).sum).getOrElse(0L)
}

/** Shared workload plumbing. */
abstract class Workload(val spark: SparkSession, val o: Main.Opts, val rec: Rec,
                        val tr: Tracer) {
  def run(): Unit

  def now(): Long = System.nanoTime()
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def dir(name: String): File = { val f = new File(o.work, name); f.mkdirs(); f }
  def warehouse(table: String): File =
    new File(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), table)

  /** A first job on the fresh session: part of set-up, as users pay it. */
  def firstJob(paths: Seq[String]): Long = {
    val t0 = now()
    val n = Wimbd.load(spark, paths).count()
    rec.setup("first_job_s", secs(t0))
    n
  }

  /** Time a repeated closed loop; `step(i)` returns false when it has no
    * more input. `warm` runs first, untimed, as part of set-up: it calls a
    * step's ops so that JIT and codegen are done before timing.
    * Untraced, the loop then runs for `o.seconds`. Traced, it runs four
    * steps, untraced-traced-traced-untraced, so that drift falls on both
    * sides: the two walls give the tracing overhead, and the fixed count
    * keeps job counts comparable between traced runs.
    */
  def loop(warm: => Unit)(step: Int => Boolean): Unit = {
    tr.active = false
    val t0 = now()
    warm
    rec.setup("warmup_s", secs(t0))
    if (!o.trace) {
      rec.phase = "timed"
      val end = now() + (o.seconds * 1e9).toLong
      var i = 0
      var more = true
      while (more && now() < end) {
        val t1 = now()
        more = step(i)
        if (more) { rec.steps += secs(t1); i += 1 }
      }
    } else {
      val wall = Array(0.0, 0.0)
      val ran = Seq(false, true, true, false).zipWithIndex.count { case (traced, k) =>
        tr.active = traced
        rec.phase = if (traced) "traced" else "timed"
        val t1 = now()
        val ok = step(k)
        wall(if (traced) 1 else 0) += secs(t1)
        if (!traced) rec.steps += secs(t1)
        ok
      }
      tr.active = true
      rec.counter("untraced_wall_s", wall(0))
      rec.counter("traced_wall_s", wall(1))
      rec.check("traced loop ran its four steps", ran == 4, s"$ran of 4")
    }
  }

  /** The kernel layer: each kernel as `select(kernel)` into a noop sink over
    * an in-memory cached copy of the docs, so no scan or shuffle is timed.
    */
  def kernels(docs: DataFrame): Unit = {
    val cached = docs.select("id", "text").cache()
    val rows = cached.count()
    val toks = NgramOps.tokens(col("text"))
    val ks: Seq[(String, DataFrame)] = Seq(
      "tokenize" -> cached.select(toks.as("t")),
      "ngram3" -> cached.select(graft.functions.TextFunctions.ngrams(toks, 3).as("g")),
      "md5" -> cached.select(md5(col("text")).as("h")),
      "minhash" -> MinHash.signaturesInline(cached, "id", "text", 5, 8, md5Parity = false),
      "postings" -> InvertedIndex.postings(cached, "id", "text"),
      "gopher" -> TextQuality.gopherFilter(cached, "id", "text"))
    ks.foreach { case (k, df) =>
      df.write.format("noop").mode("overwrite").save() // warm the codegen
      tr.span(s"functions.$k") {
        df.write.format("noop").mode("overwrite").save()
        tr.attr("rows", rows.toDouble)
      }
    }
    cached.unpersist(blocking = true)
  }

  /** The sources layer: one scan of the shards into a noop sink. */
  def sourcesProbe(paths: Seq[String], files: Int): Unit =
    tr.span("sources.read") {
      Wimbd.load(spark, paths).write.format("noop").mode("overwrite").save()
      tr.attr("files", files.toDouble)
    }

  def rowsOk(rows: Array[Row], k: Int, scoreCol: String): Boolean =
    rows.length <= k && rows.length > 0 &&
      rows.map(_.getAs[Any](scoreCol).toString.toDouble).sliding(2).forall {
        case Array(a, b) => a >= b; case _ => true
      }
}

/** corpus_scan: the six WIMBD analyses over gzipped JSONL shards. */
final class CorpusScan(spark0: SparkSession, o0: Main.Opts, rec0: Rec, tr0: Tracer,
                       in: ScanInput) extends Workload(spark0, o0, rec0, tr0) {

  def run(): Unit = {
    val c = in.c
    val shardDir = in.shardDir
    rec.counter("input_bytes", in.bytes.toDouble)
    val paths = Seq(shardDir.getAbsolutePath)
    val n = firstJob(paths)
    rec.check("load count", n == c.docs.size, s"$n != ${c.docs.size}")
    rec.counter("docs", c.docs.size.toDouble)
    // a near or exact copy belongs to its source's family
    val parent = scala.collection.mutable.Map.empty[String, String]
    def root(x: String): String = parent.get(x).map(root).getOrElse(x)
    (c.nearPairs ++ c.exactPairs).foreach { case (a, b) =>
      val (ra, rb) = (root(a), root(b))
      if (ra != rb) parent(rb) = ra
    }
    var uniqueSeen = -1L
    val analyses: Seq[(String, DataFrame => Boolean)] = Seq(
      "topk" -> { d =>
        val r = Wimbd.topk(d, n = 3, k = 20).collect()
        rec.expect(r.length == 20 && rowsOk(r, 20, "cnt"), s"topk rows ${r.mkString(";")}")
      },
      "unique" -> { d =>
        val u = Wimbd.unique(d, n = 3).head().getLong(0)
        val ok = rec.expect(u > 0 && u <= c.totalTokens && (uniqueSeen < 0 || u == uniqueSeen),
          s"unique 3-grams $u (tokens ${c.totalTokens}, earlier $uniqueSeen)")
        uniqueSeen = u
        ok
      },
      "count" -> { d =>
        val got = Wimbd.count(d, c.phrases.toSeq).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        rec.expect(c.phrases.indices.forall(i => got.get(c.phrases(i)).contains(c.phraseCounts(i))),
          s"phrase counts $got, want ${c.phrases.zip(c.phraseCounts).toMap}")
      },
      "stats" -> { d =>
        val r = Wimbd.stats(d).head()
        rec.expect(r.getAs[Long]("n_docs") == c.docs.size &&
          r.getAs[Long]("total_tokens") == c.totalTokens,
          s"stats $r, want ${c.docs.size} docs ${c.totalTokens} tokens")
      },
      "dedup" -> { d =>
        val kept = Dedup.keepFirst(d, md5(col("text")), Seq(col("id"))).count()
        rec.expect(kept == c.distinctTexts, s"keepFirst kept $kept, want ${c.distinctTexts}")
      },
      "neardup" -> { d =>
        val pairs = MinHash.nearDuplicates(d, "id", "text", threshold = 0.7)
          .select("id_a", "id_b").collect()
          .map(r => { val (a, b) = (r.getString(0), r.getString(1)); if (a < b) (a, b) else (b, a) })
          .toSet
        val precise = pairs.forall { case (a, b) => root(a) == root(b) }
        val exactAll = c.exactPairs.subsetOf(pairs)
        val recall = c.nearPairs.count(pairs).toDouble / math.max(1, c.nearPairs.size)
        rec.counter("neardup_recall", recall)
        rec.expect(precise && exactAll && recall >= 0.9,
          s"near pairs: precise $precise, all exact $exactAll, recall $recall")
      })
    def pass(): Unit = analyses.foreach { case (name, f) =>
      rec.op(name)(tr.span(s"operators.$name")(f(Wimbd.load(spark, paths))))
    }
    // two warm-up passes: after one, the first timed pass was still 20-40%
    // slower than the later ones
    loop { pass(); pass() } { _ => pass(); true }
    if (o.trace) {
      sourcesProbe(paths, Main.ScanShards)
      kernels(Wimbd.load(spark, paths))
    }
  }
}

/** ingest_follow: batches of new shards through the composed incremental
  * `ingest` and `ann --follow` CLI pipelines, with reads after each batch.
  */
final class IngestFollow(spark0: SparkSession, o0: Main.Opts, rec0: Rec, tr0: Tracer,
                         in: IngestInput) extends Workload(spark0, o0, rec0, tr0) {

  def run(): Unit = {
    val ing = in.ing
    val staging = in.staging
    val batchBytes = in.batchBytes
    val drop = dir("drop")
    val state = new File(o.work, "state").getAbsolutePath
    val annState = new File(o.work, "annstate").getAbsolutePath
    val benchPath = in.bench.getAbsolutePath
    def arrive(k: Int): Unit = new File(staging, f"b$k%03d").listFiles().foreach { f =>
      Files.move(f.toPath, new File(drop, f.getName).toPath, StandardCopyOption.ATOMIC_MOVE)
    }
    def ingestCall(): Boolean = {
      tr.span("ingest.call")(Cli.run(spark, Array("ingest", drop.getAbsolutePath,
        "--follow", state, "--bench", benchPath, "--table", "t_ing",
        "--buckets", Main.IndexBuckets.toString)))
      true
    }
    def annCall(): Boolean = {
      tr.span("ann.follow")(Cli.run(spark, Array("ann", drop.getAbsolutePath,
        "--table", "a_ing", "--follow", annState, "--buckets", Main.AnnBuckets.toString,
        "--step", Main.AnnStep.toString)))
      true
    }
    val n = firstJob(Seq(new File(staging, "b000").getAbsolutePath))
    rec.check("load count", n == ing.bootstrap.docs.size, s"$n != ${ing.bootstrap.docs.size}")
    val t0 = now()
    arrive(0)
    tr.span("ingest.bootstrap") {
      ingestCall()
      annCall()
      tr.attr("files", Rec.countFiles(warehouse("t_ing"), _.endsWith(".parquet")).toDouble)
    }
    rec.setup("bootstrap_s", secs(t0))

    val g = new Gen(o.seed + 1)
    val rank = new Gen(o.seed).vocab.zipWithIndex.toMap
    val admitted = ArrayBuffer.empty[GDoc] ++ ing.bootstrap.admitted
    var tracedBytes = 0L
    var done = 0
    def reads(b: Batch): Unit = {
      val p = g.nextInt(ing.phrases.length)
      phraseRead(ing.phrases(p), admitted.count(_.phrases.contains(p)).toLong)
      var terms = Seq.empty[String]
      while (terms.size < 2)
        terms = termsOf(admitted(g.nextInt(admitted.size)).text, rank, 40, Int.MaxValue)
      bm25Read(terms.take(2))
      annRead(b.docs(g.nextInt(b.docs.size)).text)
    }
    // the bootstrap batch has run both pipelines; the warm-up adds the reads
    loop(reads(ing.bootstrap)) { i =>
      if (i >= ing.batches.size) false
      else {
        val b = ing.batches(i)
        arrive(i + 1)
        tr.span("ingest.batch") {
          rec.op("ingest")(ingestCall())
          rec.op("ann_follow")(annCall())
        }
        if (tr.enabled && tr.active) tracedBytes += batchBytes(i + 1)
        admitted ++= b.admitted
        done = i + 1
        reads(b)
        true
      }
    }
    rec.counter("batch_docs", Main.IngestBatchDocs)
    rec.counter("traced_offered_bytes", tracedBytes.toDouble)
    rec.counter("batches", done.toDouble)
    val seen = ing.bootstrap +: ing.batches.take(done)
    verify(seen, admitted.toSeq, state, drop.getAbsolutePath, benchPath)
    rec.counter("admitted_bytes",
      admitted.map(Gen.jsonLine(_).getBytes(StandardCharsets.UTF_8).length.toLong).sum.toDouble)
    rec.counter("state_bytes", Rec.duBytes(new File(state)).toDouble)
    rec.counter("stored_bytes", (Rec.duBytes(new File(state)) + Rec.duBytes(new File(annState)) +
      Seq("t_ing", "t_ing__norms", "a_ing", "a_ing__centroids", "a_ing__meta")
        .map(t => Rec.duBytes(warehouse(t))).sum).toDouble)
    if (o.trace) {
      sourcesProbe(Seq(drop.getAbsolutePath), Rec.countFiles(drop, _ => true).toInt)
      kernels(Wimbd.load(spark, Seq(drop.getAbsolutePath)))
    }
  }

  /** One timed read against the persisted tables, in its own span. */
  private def read(kind: String, span: String)(body: => Boolean): Boolean =
    rec.op(kind)(tr.span(span)(body))

  /** countPhrasesIndexed for one planted phrase: n_docs must equal `want`. */
  private def phraseRead(phrase: String, want: Long): Boolean =
    read("phrase", "index.query.phrase") {
      val df = Wimbd.countPhrasesIndexed(spark.table("t_ing"), Seq(phrase))
      val r = df.collect()
      queryAttrs(df, r.length)
      rec.expect(r.length == 1 && r(0).getAs[Long]("n_docs") == want,
        s"'$phrase' n_docs ${r.mkString}, want $want")
    }

  /** BM25 top-10 for `terms`: at least one hit, scores non-increasing. */
  private def bm25Read(terms: Seq[String]): Boolean =
    read("bm25", "index.query.bm25") {
      val post = spark.table("t_ing")
      val df = Wimbd.rankDocuments(post, InvertedIndex.normsOf(spark, "t_ing", post), terms, 10)
      val r = df.collect()
      queryAttrs(df, r.length)
      rowsOk(r, 10, "score")
    }

  /** IVF top-10 for a document's own text: 10 rows, the first an exact
    * match (its own vector, cosine 1).
    */
  private def annRead(text: String): Boolean =
    read("ann", "ann.query") {
      import spark.implicits._
      val q = FeatureHash.hashedEmbeddings(Seq(("q", text)).toDF("id", "text"), "id", "text",
        Main.AnnDim, uax29 = true)
      val df = AnnIndex.ivfKnnIndexed(spark, "a_ing", q, "id", "emb", k = 10, nprobe = 3)
      val r = df.collect()
      queryAttrs(df, r.length)
      r.length == 10 && r.map(_.getAs[Any]("cos").toString.toDouble).max >= 0.999
    }

  private def queryAttrs(df: DataFrame, rows: Int): Unit = if (tr.enabled && tr.active) {
    tr.attr("result_rows", rows.toDouble)
    tr.attr("files_read", PlanStats.filesRead(df).toDouble)
  }

  /** Words of `text` in the Zipf class [lo, hi) of the vocabulary ranks. */
  private def termsOf(text: String, rank: Map[String, Int], lo: Int, hi: Int): Seq[String] =
    text.split("[^A-Za-z]+").filter(w => rank.get(w).exists(r => r >= lo && r < hi)).distinct.toSeq

  /** Recall@10 of the IVF index `table` (nprobe 3) against exact search
    * over the docs under `paths`, for the texts of `sample`.
    */
  private def recallAt10(table: String, paths: Seq[String], sample: Seq[GDoc]): Unit = {
    import spark.implicits._
    def emb(df: DataFrame) = FeatureHash.hashedEmbeddings(df, "id", "text", Main.AnnDim, uax29 = true)
    val qs = emb(sample.map(d => ("q" + d.id, d.text)).toDF("id", "text"))
    def sets(df: DataFrame) = df.select("query_id", "neighbor_id").collect()
      .groupBy(_.getString(0)).map { case (k, v) => k -> v.map(_.get(1).toString).toSet }
    val approx = sets(AnnIndex.ivfKnnIndexed(spark, table, qs, "id", "emb", k = 10, nprobe = 3))
    val exact = sets(Similarity.bruteForceKnn(emb(Wimbd.load(spark, paths)), qs, "id", "emb", 10))
    val r = exact.map { case (q, e) => approx.getOrElse(q, Set.empty[String]).intersect(e).size.toDouble / e.size }
    val mean = r.sum / math.max(1, r.size)
    rec.counter("recall_at_10", mean)
    rec.check("ann recall_at_10 floor", mean >= Main.RecallFloor,
      f"recall_at_10 $mean%.3f < ${Main.RecallFloor}")
  }

  /** Admission checks against the batch labels, then a replay with no new
    * shards, which must admit nothing. Traced runs also check ANN recall
    * and re-derive the gate and decontamination ratios from the offered
    * docs (kept out of untraced runs for their time).
    */
  private def verify(seen: Seq[Batch], admitted: Seq[GDoc], state: String, drop: String,
                     bench: String): Unit = {
    def stored(): Long = Wimbd.load(spark, Seq(s"$state/data/*")).count()
    val got = stored()
    rec.check("admitted = gate pass - duplicates - contaminated", got == admitted.size,
      s"$got != ${admitted.size}")
    val indexed = spark.table("t_ing").select("doc_id").distinct().count()
    rec.check("index holds every admitted doc", indexed == admitted.size, s"$indexed != ${admitted.size}")
    val offeredN = seen.map(_.docs.size).sum
    val embedded = spark.table("a_ing").count()
    rec.check("ann index holds every offered doc", embedded == offeredN, s"$embedded != $offeredN")
    if (o.trace) {
      recallAt10("a_ing", Seq(drop), admitted.take(10))
      val gated = TextQuality.gopherFilter(Wimbd.load(spark, Seq(drop)), "id", "text",
        passthrough = Seq("text")).where(col("keep")).select("id", "text").cache()
      val kept = gated.count()
      val wantKept = seen.map(b => b.docs.size - b.count("low")).sum
      rec.check("gopher gate keeps exactly the non-low docs", kept == wantKept, s"$kept != $wantKept")
      val contaminated = gated.join(Wimbd.load(spark, Seq(bench)).select(md5(col("text")).as("h")),
        md5(col("text")) === col("h"), "left_semi").count()
      val wantBench = seen.map(_.count("bench")).sum
      rec.check("contaminated docs offered", contaminated == wantBench, s"$contaminated != $wantBench")
      gated.unpersist()
      rec.counter("gate_keep_ratio", kept.toDouble / offeredN)
      rec.counter("decon_drop_ratio", contaminated.toDouble / kept)
      rec.counter("dedup_drop_ratio", (kept - contaminated - got).toDouble / kept)
    }
    Cli.run(spark, Array("ingest", drop, "--follow", state, "--bench", bench, "--table", "t_ing",
      "--buckets", Main.IndexBuckets.toString))
    val again = stored()
    rec.check("replay with no new shards admits nothing", again == got, s"$again != $got")
  }
}
