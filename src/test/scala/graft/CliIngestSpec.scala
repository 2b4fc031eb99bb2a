package graft

import org.apache.spark.sql.functions._
import graft.search.InvertedIndex
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** CLI `ingest --follow`: the composed incremental pipeline (quality gate
  * → dedup vs durable hash state → decontamination → durable batch dirs →
  * index upsert) driven end-to-end through [[Cli.run]] — per-invocation
  * incrementality, crash replay convergence, pinned pipeline config, and
  * index rebuild from the accumulated state dir.
  */
class CliIngestSpec extends SparkTestBase {

  // 60 DISTINCT words (repetition thresholds), stopword-rich, alpha-heavy,
  // mean word length in [3, 10] — passes the Gopher gate
  private def varied(seed: String): String =
    ("the" +: (1 to 58).map(i => s"$seed$i") :+ "and").mkString(" ")
  private val good = varied("al")
  private val good2 = varied("be")
  private val junk = "aaa bbb" // fails minWords

  private def writeShard(dir: String, name: String, texts: Seq[String],
                         ids: Seq[String] = Nil): Unit = {
    Files.createDirectories(Paths.get(dir))
    val lines = texts.zipWithIndex.map { case (t, i) =>
      val id = if (ids.isEmpty) "" else s""","id":"${ids(i)}""""
      s"""{"text":"$t"$id}"""
    }
    Files.write(Paths.get(dir, name),
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }

  private def freshDirs(): (String, String) = {
    val root = Files.createTempDirectory("cli_ingest").toString
    (s"$root/drop", s"$root/state")
  }

  private def corpusTexts(state: String): Seq[String] = {
    val dirs = new java.io.File(s"$state/data").listFiles()
      .filter(_.getName.startsWith("batch-")).map(_.toString).toSeq
    if (dirs.isEmpty) Seq.empty
    else graft.sources.Corpus.readJsonl(spark, dirs)
      .select("text").collect().map(_.getString(0)).toSeq.sorted
  }

  private def dropTable(t: String): Unit =
    Seq(t, s"${t}__compacting", s"${t}__old").foreach { n =>
      spark.sql(s"DROP TABLE IF EXISTS `$n`")
      val p = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), n)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
    }

  private def hits(t: String, phrase: String): Long =
    InvertedIndex.phraseHits(InvertedIndex.readIndex(spark, t), Seq(phrase))
      .select("n_docs").head().getLong(0)

  test("quality gate + incremental dedup + decontamination across invocations") {
    val (drop, state) = freshDirs()
    val bench = Files.createTempDirectory("cli_ingest_bench").toString
    writeShard(bench, "bench.jsonl", Seq(good2))
    writeShard(s"$drop/d1", "s1.jsonl", Seq(good, junk))
    Cli.run(spark, Array("ingest", s"$drop/*", "--follow", state,
      "--bench", s"$bench/bench.jsonl"))
    // junk fails Gopher, good survives, good2 not present yet
    assert(corpusTexts(state) === Seq(good))
    // second drop: a repeat of good (dedup), a bench doc (decontaminate),
    // and nothing else — the whole batch must be dropped
    writeShard(s"$drop/d2", "s2.jsonl", Seq(good, good2))
    Cli.run(spark, Array("ingest", s"$drop/*", "--follow", state,
      "--bench", s"$bench/bench.jsonl"))
    assert(corpusTexts(state) === Seq(good))
    // third drop: a genuinely new doc survives alone
    val fresh3 = varied("ga")
    writeShard(s"$drop/d3", "s3.jsonl", Seq(fresh3, good))
    Cli.run(spark, Array("ingest", s"$drop/*", "--follow", state,
      "--bench", s"$bench/bench.jsonl"))
    assert(corpusTexts(state) === Seq(fresh3, good).sorted)
  }

  test("replay after a crash between batch write and manifest converges") {
    val (drop, state) = freshDirs()
    writeShard(s"$drop/d1", "s1.jsonl", Seq(good))
    Cli.run(spark, Array("ingest", s"$drop/*", "--follow", state,
      "--quality", "none"))
    assert(corpusTexts(state) === Seq(good))
    // simulate the crash window: the batch dir is durable and the hash
    // state extended, but the manifest extension was lost — in that
    // window the pending CLAIM (seq + shard set) is still on disk, which
    // is what pins the replay to the SAME batch even if new shards arrive
    val manifest = new String(
      Files.readAllBytes(Paths.get(state, "manifest")), "UTF-8")
    Files.delete(Paths.get(state, "manifest"))
    Files.write(Paths.get(state, "pending"),
      ("seq=0\n" + manifest).getBytes("UTF-8"))
    // a NEW shard arriving before the replay must NOT be absorbed into
    // the claimed batch (it gets the next invocation)
    writeShard(s"$drop/d2", "s2.jsonl", Seq(good2))
    Cli.run(spark, Array("ingest", s"$drop/*", "--follow", state,
      "--quality", "none"))
    // resume path: the claimed batch replays (durable — no recompute, no
    // duplicate dirs); d2 is still unclaimed
    assert(corpusTexts(state) === Seq(good))
    assert(new java.io.File(s"$state/data").listFiles()
      .count(_.getName.startsWith("batch-")) === 1)
    // next invocation picks up d2 as its own batch
    Cli.run(spark, Array("ingest", s"$drop/*", "--follow", state,
      "--quality", "none"))
    assert(corpusTexts(state) === Seq(good, good2).sorted)
    assert(new java.io.File(s"$state/data").listFiles()
      .count(_.getName.startsWith("batch-")) === 2)
  }

  test("pipeline config is pinned; a drifting invocation fails loudly") {
    val (drop, state) = freshDirs()
    writeShard(s"$drop/d1", "s1.jsonl", Seq(good))
    Cli.run(spark, Array("ingest", s"$drop/*", "--follow", state,
      "--quality", "none"))
    writeShard(s"$drop/d2", "s2.jsonl", Seq(good2))
    val e = intercept[RuntimeException] {
      Cli.run(spark, Array("ingest", s"$drop/*", "--follow", state,
        "--quality", "gopher"))
    }
    assert(e.getMessage.contains("pipeline config"))
  }

  test("--table indexes each batch; late --table backfills earlier batches") {
    val t = "cli_ingest_idx"
    val (drop, state) = freshDirs()
    dropTable(t)
    try {
      // first invocation WITHOUT --table
      writeShard(s"$drop/d1", "data.jsonl", Seq(good))
      Cli.run(spark, Array("ingest", s"$drop/*", "--follow", state,
        "--quality", "none"))
      // second invocation adds --table: index must cover BOTH batches
      // (same basename in a different subdir — full-path ids must not
      // collide)
      writeShard(s"$drop/d2", "data.jsonl", Seq(good2))
      Cli.run(spark, Array("ingest", s"$drop/*", "--follow", state,
        "--quality", "none", "--table", t, "--buckets", "4"))
      assert(hits(t, "al1 al2") === 1L)
      assert(hits(t, "be1 be2") === 1L)
      // third invocation: plain upsert into the live index
      writeShard(s"$drop/d3", "data.jsonl", Seq(varied("ga")))
      Cli.run(spark, Array("ingest", s"$drop/*", "--follow", state,
        "--quality", "none", "--table", t, "--buckets", "4"))
      assert(hits(t, "ga1 ga2") === 1L)
      assert(hits(t, "al1 al2") === 1L)
      // a LOST index is rebuilt from the accumulated state dir
      dropTable(t)
      writeShard(s"$drop/d4", "data.jsonl", Seq(varied("be") + " again"))
      Cli.run(spark, Array("ingest", s"$drop/*", "--follow", state,
        "--quality", "none", "--table", t, "--buckets", "4"))
      assert(hits(t, "al1 al2") === 1L)
      assert(hits(t, "ga1 ga2") === 1L)
      assert(hits(t, "be1 be2") === 2L)
    } finally dropTable(t)
  }

  test("lost-index rebuild keeps only the LATEST batch's row per corpus id") {
    val t = "cli_ingest_idrebuild"
    val (drop, state) = freshDirs()
    dropTable(t)
    try {
      // batch 1: id X carries T1
      writeShard(s"$drop/d1", "a.jsonl", Seq("alpha bravo charlie"),
        ids = Seq("X"))
      Cli.run(spark, Array("ingest", s"$drop/*", "--follow", state,
        "--quality", "none", "--table", t, "--buckets", "4"))
      // batch 2: the SAME id re-dropped with corrected text (different
      // text passes exact dedup) — the upsert replaces X's postings
      writeShard(s"$drop/d2", "b.jsonl", Seq("delta echo foxtrot"),
        ids = Seq("X"))
      Cli.run(spark, Array("ingest", s"$drop/*", "--follow", state,
        "--quality", "none", "--table", t, "--buckets", "4"))
      assert(hits(t, "alpha bravo") === 0L)
      assert(hits(t, "delta echo") === 1L)
      // lose the table: the rebuild from the state dir must AGREE with
      // the upsert-maintained index — latest batch wins per id, no
      // doubled tf from the superseded row
      dropTable(t)
      writeShard(s"$drop/d3", "c.jsonl", Seq("golf hotel india"),
        ids = Seq("Y"))
      Cli.run(spark, Array("ingest", s"$drop/*", "--follow", state,
        "--quality", "none", "--table", t, "--buckets", "4"))
      assert(hits(t, "alpha bravo") === 0L)
      assert(hits(t, "delta echo") === 1L)
      assert(hits(t, "golf hotel") === 1L)
    } finally dropTable(t)
  }

  test("decontaminate --broadcast: same survivors as the anti-join default") {
    val root = Files.createTempDirectory("cli_bc").toString
    writeShard(s"$root/corpus", "c.jsonl", Seq(good, good2, junk))
    writeShard(s"$root/bench", "b.jsonl", Seq(good2))
    Cli.run(spark, Array("decontaminate", s"$root/corpus/*",
      "--bench", s"$root/bench/*", "--out", s"$root/out_anti"))
    Cli.run(spark, Array("decontaminate", s"$root/corpus/*",
      "--bench", s"$root/bench/*", "--out", s"$root/out_bc", "--broadcast"))
    def texts(d: String): Set[String] =
      spark.read.json(s"$root/$d").select("text")
        .collect().map(_.getString(0)).toSet
    assert(texts("out_bc") === texts("out_anti"))
    assert(texts("out_bc") === Set(good, junk)) // bench doc dropped
  }

  test("decontaminate --broadcast: null-text rows survive a null-text bench (review finding)") {
    // xxhash64(NULL) is the seed (42), not NULL — unguarded, a null-text
    // bench doc would blocklist 42 and the broadcast tier would drop
    // every null-text corpus doc, diverging from the anti-join default's
    // NULL-key-survives policy
    val root = Files.createTempDirectory("cli_bc_null").toString
    Files.createDirectories(Paths.get(s"$root/corpus"))
    Files.createDirectories(Paths.get(s"$root/bench"))
    Files.write(Paths.get(s"$root/corpus", "c.jsonl"),
      (s"""{"text":"$good"}""" + "\n" + """{"text":null,"id":"n1"}""" + "\n")
        .getBytes("UTF-8"))
    Files.write(Paths.get(s"$root/bench", "b.jsonl"),
      ("""{"text":null,"id":"bn"}""" + "\n").getBytes("UTF-8"))
    Cli.run(spark, Array("decontaminate", s"$root/corpus/*",
      "--bench", s"$root/bench/*", "--out", s"$root/out_anti"))
    Cli.run(spark, Array("decontaminate", s"$root/corpus/*",
      "--bench", s"$root/bench/*", "--out", s"$root/out_bc", "--broadcast"))
    def nRows(d: String): Long = spark.read.json(s"$root/$d").count()
    // both tiers keep BOTH rows: the good text is not in the bench, and
    // null keys are never blocklist members
    assert(nRows("out_anti") === 2L)
    assert(nRows("out_bc") === 2L)
  }

  /** Every file under `d` with its size and modification time. */
  private def listing(d: String): Seq[String] = {
    val s = Files.walk(Paths.get(d))
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(p =>
        s"$p ${Files.size(p)} ${Files.getLastModifiedTime(p)}").toList.sorted
    finally s.close()
  }

  private def rows(paths: Seq[String]): Seq[String] =
    graft.sources.Corpus.readJsonl(spark, paths).collect()
      .map(_.toString).toSeq.sorted

  /** decontaminate --follow over two batches (the first holds a null-text
    * doc) against one-shot decontaminate over all shards with `oneShot`
    * flags; then a call with no new shards, which must write nothing.
    */
  private def followMatchesOneShot(bench: Seq[String], b1: Seq[String],
                                   b2: Seq[String], follow: Seq[String],
                                   oneShot: Seq[String]): Unit = {
    val root = Files.createTempDirectory("cli_decon_follow").toString
    writeShard(s"$root/bench", "b.jsonl", bench)
    Files.createDirectories(Paths.get(s"$root/drop/d1"))
    Files.write(Paths.get(s"$root/drop/d1", "s1.jsonl"),
      (b1.map(t => s"""{"text":"$t"}""") :+ """{"text":null,"id":"n1"}""")
        .mkString("", "\n", "\n").getBytes("UTF-8"))
    def run(): Unit = Cli.run(spark, Array("decontaminate", s"$root/drop/*",
      "--bench", s"$root/bench/b.jsonl", "--follow", s"$root/state") ++ follow)
    run()
    writeShard(s"$root/drop/d2", "s2.jsonl", b2)
    run()
    val batches = new java.io.File(s"$root/state/data").listFiles()
      .filter(_.getName.startsWith("batch-")).map(_.toString).toSeq
    assert(batches.size === 2)
    Cli.run(spark, Array("decontaminate", s"$root/drop/*",
      "--bench", s"$root/bench/b.jsonl", "--out", s"$root/one") ++ oneShot)
    val union = rows(batches)
    assert(union === rows(Seq(s"$root/one")))
    assert(union.exists(r => r.startsWith("[null,") && r.contains(",n1,")),
      "the null-text doc survives")
    val before = listing(s"$root/state")
    run()
    assert(listing(s"$root/state") === before)
  }

  test("decontaminate --follow: exact batches equal one-shot decontaminate") {
    followMatchesOneShot(Seq(good2), Seq(good, good2), Seq(varied("ga"), good2, junk),
      follow = Nil, oneShot = Nil)
  }

  test("decontaminate --follow --threshold: fuzzy batches equal one-shot decontaminate") {
    val leak = "which year did the treaty of westphalia end the thirty years war in europe"
    val t = "cli_decon_follow_mh"
    try followMatchesOneShot(Seq(leak),
      Seq("a clean training document about cooking pasta at home tonight", leak),
      Seq(leak.replace("europe", "asia"), "too short",
        "another clean doc that shares no shingles with the benchmark suite"),
      follow = Seq("--threshold", "0.5"),
      oneShot = Seq("--minhash-table", t, "--threshold", "0.5"))
    finally graft.search.Swap.drop(spark, t, s"${t}__meta")
  }

  test("decontaminate --follow refuses a state dir of the old checkpoint layout") {
    val root = Files.createTempDirectory("cli_decon_ckpt").toString
    writeShard(s"$root/bench", "b.jsonl", Seq(good2))
    writeShard(s"$root/drop/d1", "s1.jsonl", Seq(good))
    Files.createDirectories(Paths.get(s"$root/state/ckpt"))
    val e = intercept[RuntimeException] {
      Cli.run(spark, Array("decontaminate", s"$root/drop/*",
        "--bench", s"$root/bench/b.jsonl", "--follow", s"$root/state"))
    }
    assert(e.getMessage.contains("ckpt"), e.getMessage)
    assert(!Files.exists(Paths.get(s"$root/state/data")))
  }

  test("--conf sets session dials before dispatch; malformed pair is loud") {
    val root = Files.createTempDirectory("cli_conf").toString
    writeShard(s"$root/corpus", "c.jsonl", Seq(good))
    try {
      Cli.run(spark, Array("stats", s"$root/corpus/*",
        "--conf", "graft.ann.coarseProbes=4"))
      assert(spark.conf.get("graft.ann.coarseProbes") === "4")
      val e = intercept[RuntimeException] {
        Cli.run(spark, Array("stats", s"$root/corpus/*", "--conf", "nonsense"))
      }
      assert(e.getMessage.contains("key=value"))
    } finally spark.conf.unset("graft.ann.coarseProbes")
  }

  test("no new shards is a no-op; config pin must still match") {
    val (drop, state) = freshDirs()
    writeShard(s"$drop/d1", "s1.jsonl", Seq(good))
    Cli.run(spark, Array("ingest", s"$drop/*", "--follow", state,
      "--quality", "none"))
    val before = corpusTexts(state)
    Cli.run(spark, Array("ingest", s"$drop/*", "--follow", state,
      "--quality", "none"))
    assert(corpusTexts(state) === before)
  }
}
