package graft

import org.apache.spark.sql.functions._
import graft.search.InvertedIndex
import graft.sources.Corpus
import java.nio.file.{Files, Paths}

/** CLI `index --follow` robustness: crash-state recovery from a fresh JVM,
  * full-path synthetic ids (no basename collisions across drop-dir
  * batches), pinned id mode, loud refusal when the manifest outlives the
  * index, and query-only invocations against a stranded warehouse dir.
  * Drives [[Cli.run]] directly — main's `spark.stop()` would kill the
  * shared test session.
  */
class CliFollowSpec extends SparkTestBase {

  private def hconf = spark.sparkContext.hadoopConfiguration
  private def warehousePath(name: String) = new org.apache.hadoop.fs.Path(
    spark.conf.get("spark.sql.warehouse.dir"), name)

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
    val root = Files.createTempDirectory("cli_follow").toString
    (s"$root/drop", s"$root/state")
  }

  private def dropAll(t: String): Unit =
    Seq(t, s"${t}__compacting", s"${t}__old").foreach { n =>
      spark.sql(s"DROP TABLE IF EXISTS `$n`")
      val p = warehousePath(n)
      val fs = p.getFileSystem(hconf)
      if (fs.exists(p)) fs.delete(p, true)
    }

  private def follow(t: String, drop: String, state: String,
                     extra: String*): Unit =
    Cli.run(spark, Array("index", s"$drop/*", "--table", t,
      "--follow", state, "--buckets", "4") ++ extra)

  private def docIds(t: String): Set[String] =
    InvertedIndex.readIndex(spark, t).select("doc_id").distinct()
      .collect().map(_.get(0).toString).toSet

  private def hits(t: String, phrase: String): Long =
    InvertedIndex.phraseHits(InvertedIndex.readIndex(spark, t), Seq(phrase))
      .select("n_docs").head().getLong(0)

  test("follow: same-basename shards in different subdirs do not collide") {
    val t = "cli_follow_basename"
    val (drop, state) = freshDirs()
    dropAll(t)
    try {
      writeShard(s"$drop/day1", "data.jsonl", Seq("alpha bravo", "echo fox"))
      follow(t, drop, state)
      assert(docIds(t).size === 2)
      writeShard(s"$drop/day2", "data.jsonl", Seq("charlie delta"))
      follow(t, drop, state)
      // basename keying would give day2's doc the id `data.jsonl-0`,
      // anti-joining day1's first doc OUT of the index
      assert(docIds(t).size === 3)
      assert(hits(t, "alpha bravo") === 1L)
      assert(hits(t, "charlie delta") === 1L)
    } finally dropAll(t)
  }

  test("follow: id mode pinned in the state dir; id-less later batch fails") {
    val t = "cli_follow_idmode"
    val (drop, state) = freshDirs()
    dropAll(t)
    try {
      writeShard(s"$drop/day1", "a.jsonl", Seq("alpha bravo"), ids = Seq("d1"))
      follow(t, drop, state)
      assert(new String(Files.readAllBytes(Paths.get(state, "idmode")),
        "UTF-8").trim === "id")
      assert(docIds(t) === Set("d1"))
      writeShard(s"$drop/day2", "b.jsonl", Seq("charlie delta"))
      val e = intercept[RuntimeException](follow(t, drop, state))
      assert(e.getMessage.contains("null ids"), e.getMessage)
      // the failed batch must NOT have been marked seen
      assert(!new String(Files.readAllBytes(Paths.get(state, "manifest")),
        "UTF-8").contains("b.jsonl"))
    } finally dropAll(t)
  }

  test("follow: heals a crashed swap left as a catalog-less __old dir") {
    val t = "cli_follow_recover"
    val (drop, state) = freshDirs()
    dropAll(t)
    try {
      writeShard(s"$drop/day1", "a.jsonl", Seq("alpha bravo"))
      follow(t, drop, state)
      // simulate: crash after live→__old rename, then JVM restart (the
      // in-memory catalog forgets everything; only the dir survives)
      val live = warehousePath(t)
      val fs = live.getFileSystem(hconf)
      val aside = new org.apache.hadoop.fs.Path(
        Files.createTempDirectory("cli_follow_aside").toString, t)
      org.apache.hadoop.fs.FileUtil.copy(fs, live, fs, aside, false, hconf)
      spark.sql(s"DROP TABLE `$t`") // managed: deletes warehouse/<t>
      org.apache.hadoop.fs.FileUtil.copy(fs, aside, fs,
        warehousePath(s"${t}__old"), false, hconf)
      assert(!spark.catalog.tableExists(t))
      // next --follow invocation must recover the index, not overwrite it
      writeShard(s"$drop/day2", "b.jsonl", Seq("charlie delta"))
      follow(t, drop, state)
      assert(docIds(t).size === 2)
      assert(hits(t, "alpha bravo") === 1L) // day1's postings survived
      assert(hits(t, "charlie delta") === 1L)
      // the recovered external backup's debris is gone: a LATER crash
      // recovery cannot resurrect a stale index from it
      assert(!fs.exists(warehousePath(s"${t}__old")))
    } finally dropAll(t)
  }

  test("follow: heals the __old+__compacting mid-swap window and re-homes the data") {
    val t = "cli_follow_midswap"
    val (drop, state) = freshDirs()
    dropAll(t)
    try {
      writeShard(s"$drop/day1", "a.jsonl", Seq("alpha bravo"))
      follow(t, drop, state)
      // simulate: upsert crashed between live→__old and __compacting→live,
      // then JVM restart. __compacting holds the complete NEW index (here:
      // a copy of live), __old the previous one; the catalog forgot both.
      val live = warehousePath(t)
      val fs = live.getFileSystem(hconf)
      val aside = new org.apache.hadoop.fs.Path(
        Files.createTempDirectory("cli_follow_midswap").toString, t)
      org.apache.hadoop.fs.FileUtil.copy(fs, live, fs, aside, false, hconf)
      spark.sql(s"DROP TABLE `$t`") // managed: deletes warehouse/<t>
      org.apache.hadoop.fs.FileUtil.copy(fs, aside, fs,
        warehousePath(s"${t}__old"), false, hconf)
      org.apache.hadoop.fs.FileUtil.copy(fs, aside, fs,
        warehousePath(s"${t}__compacting"), false, hconf)
      // the recovery must (a) promote the completed staging dir, (b) move
      // the data HOME so the in-invocation upsert's debris-clearing cannot
      // delete the healed table out from under itself
      writeShard(s"$drop/day2", "b.jsonl", Seq("charlie delta"))
      follow(t, drop, state)
      assert(hits(t, "alpha bravo") === 1L)
      assert(hits(t, "charlie delta") === 1L)
      assert(fs.exists(warehousePath(t)), "healed table not re-homed")
      // and a THIRD upsert over the normalized table still converges
      writeShard(s"$drop/day3", "c.jsonl", Seq("echo foxtrot"))
      follow(t, drop, state)
      assert(hits(t, "alpha bravo") === 1L)
      assert(hits(t, "echo foxtrot") === 1L)
    } finally dropAll(t)
  }

  test("ann --cluster-sample through the CLI: the coarse gate at full recall is results-identical") {
    // the recall dial end-to-end: forcing the two-level assignment via
    // the CLI's validated --conf (graft.ann.coarseGate=1) at the default
    // full-recall probe width must not change a single sampled row vs
    // the flat kernel — the r14 parity spec covers the library gate;
    // this pins the CLI entry point and dial plumbing
    val (drop, _) = freshDirs()
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo", "fox")
    val rnd = new scala.util.Random(715)
    writeShard(s"$drop/day1", "a.jsonl",
      (1 to 120).map(_ => (0 until 6)
        .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")),
      ids = (1 to 120).map(i => s"d$i"))
    def sampled(conf: Seq[String]): Seq[String] = {
      val out = Files.createTempDirectory("cli_csample").toString + "/out"
      Cli.run(spark, Array("ann", s"$drop/*", "--table", "unused_t",
        "--cluster-sample", "2", "--step", "10", "--out", out) ++ conf)
      spark.read.json(out).select("id").collect()
        .map(_.getString(0)).sorted.toSeq
    }
    try {
      val flat = sampled(Nil)
      val gated = sampled(Seq("--conf", "graft.ann.coarseGate=1"))
      assert(gated === flat)
      assert(flat.nonEmpty)
      // the validation itself: a typo'd graft dial fails loudly
      val e = intercept[RuntimeException] {
        sampled(Seq("--conf", "graft.ann.coarseGaet=1"))
      }
      assert(e.getMessage.contains("unknown graft dial"))
    } finally {
      // Cli.run sets session confs; the shared test session must not
      // leak the forced gate into later suites
      spark.conf.unset(graft.operators.Similarity.CoarseGateConf)
    }
  }

  test("ann --follow: heals a crashed swap and re-registers the centroid side table") {
    val t = "cli_ann_midswap"
    val (drop, state) = freshDirs()
    dropAnn(t)
    try {
      writeShard(s"$drop/day1", "a.jsonl", Seq("alpha bravo charlie delta"))
      Cli.run(spark, Array("ann", s"$drop/*", "--table", t,
        "--follow", state, "--step", "1", "--buckets", "4"))
      // simulate a fresh JVM after a crash mid-swap: catalog forgets all
      // four tables; the live dir moved aside to __old
      val live = warehousePath(t)
      val fs = live.getFileSystem(hconf)
      val aside = new org.apache.hadoop.fs.Path(
        Files.createTempDirectory("cli_ann_midswap").toString, t)
      org.apache.hadoop.fs.FileUtil.copy(fs, live, fs, aside, false, hconf)
      Seq(t, s"${t}__centroids", s"${t}__meta").foreach { n =>
        val p = warehousePath(n)
        val asideN = new org.apache.hadoop.fs.Path(aside.getParent, n)
        if (n != t) org.apache.hadoop.fs.FileUtil.copy(fs, p, fs, asideN, false, hconf)
        spark.sql(s"DROP TABLE IF EXISTS `$n`")
        Seq(n).foreach { _ => if (n != t && !fs.exists(p))
          org.apache.hadoop.fs.FileUtil.copy(fs, asideN, fs, p, false, hconf) }
      }
      org.apache.hadoop.fs.FileUtil.copy(fs, aside, fs,
        warehousePath(s"${t}__old"), false, hconf)
      // next invocation must recover (incl. __centroids — upsert needs it)
      writeShard(s"$drop/day2", "b.jsonl", Seq("echo foxtrot golf hotel"))
      Cli.run(spark, Array("ann", s"$drop/*", "--table", t,
        "--follow", state, "--step", "1", "--buckets", "4"))
      assert(spark.table(t).count() === 2L)
      assert(spark.catalog.tableExists(s"${t}__centroids"))
      assert(fs.exists(warehousePath(t)), "healed ANN table not re-homed")
    } finally dropAnn(t)
  }

  test("follow: manifest outliving every index dir refuses loudly") {
    val t = "cli_follow_refuse"
    val (drop, state) = freshDirs()
    dropAll(t)
    try {
      writeShard(s"$drop/day1", "a.jsonl", Seq("alpha bravo"))
      follow(t, drop, state)
      spark.sql(s"DROP TABLE `$t`") // index gone, manifest still lists day1
      writeShard(s"$drop/day2", "b.jsonl", Seq("charlie delta"))
      val e = intercept[RuntimeException](follow(t, drop, state))
      assert(e.getMessage.contains("refusing"), e.getMessage)
    } finally dropAll(t)
  }

  test("follow: no-new-shards query answers from a stranded warehouse dir") {
    val t = "cli_follow_query"
    val (drop, state) = freshDirs()
    dropAll(t)
    try {
      writeShard(s"$drop/day1", "a.jsonl", Seq("alpha bravo"))
      follow(t, drop, state)
      // strand the dir: copy aside, drop (managed delete), copy back
      val live = warehousePath(t)
      val fs = live.getFileSystem(hconf)
      val aside = new org.apache.hadoop.fs.Path(
        Files.createTempDirectory("cli_follow_strand").toString, t)
      org.apache.hadoop.fs.FileUtil.copy(fs, live, fs, aside, false, hconf)
      spark.sql(s"DROP TABLE `$t`")
      org.apache.hadoop.fs.FileUtil.copy(fs, aside, fs, live, false, hconf)
      // no new shards + --search: must re-register and answer, not crash
      follow(t, drop, state, "--search", "alpha bravo")
      assert(hits(t, "alpha bravo") === 1L)
    } finally dropAll(t)
  }

  /** Strand `names` the way a JVM restart does: the catalog forgets them,
    * their warehouse directories (as Spark names them) survive.
    */
  private def strand(names: String*): Unit = names.foreach { n =>
    val p = graft.search.Swap.dir(spark, n)
    val fs = p.getFileSystem(hconf)
    val aside = new org.apache.hadoop.fs.Path(
      Files.createTempDirectory("cli_strand").toString, p.getName)
    org.apache.hadoop.fs.FileUtil.copy(fs, p, fs, aside, false, hconf)
    spark.sql(s"DROP TABLE `$n`") // managed: deletes the directory
    org.apache.hadoop.fs.FileUtil.copy(fs, aside, fs, p, false, hconf)
  }

  test("follow: a mixed-case --table heals across a restart") {
    // Spark writes warehouse/mixfollowidx; the heal must look there
    val t = "MixFollowIdx"
    val (drop, state) = freshDirs()
    graft.search.Swap.drop(spark, t)
    try {
      writeShard(s"$drop/day1", "a.jsonl", Seq("alpha bravo"))
      follow(t, drop, state)
      strand(t)
      writeShard(s"$drop/day2", "b.jsonl", Seq("charlie delta"))
      follow(t, drop, state)
      assert(hits(t, "alpha bravo") === 1L)
      assert(hits(t, "charlie delta") === 1L)
    } finally graft.search.Swap.drop(spark, t, s"${t}__norms")
  }

  test("ann --follow: a mixed-case --table heals across a restart") {
    val t = "MixFollowAnn"
    val (drop, state) = freshDirs()
    val names = Seq(t, s"${t}__centroids", s"${t}__meta")
    graft.search.Swap.drop(spark, names: _*)
    def run(): Unit = Cli.run(spark, Array("ann", s"$drop/*", "--table", t,
      "--follow", state, "--step", "1", "--buckets", "4"))
    try {
      writeShard(s"$drop/day1", "a.jsonl", Seq("alpha bravo charlie delta"))
      run()
      strand(names: _*)
      writeShard(s"$drop/day2", "b.jsonl", Seq("echo foxtrot golf hotel"))
      run()
      assert(spark.table(t).count() === 2L)
    } finally graft.search.Swap.drop(spark, names: _*)
  }

  private def annTables(t: String): Seq[String] =
    Seq(t, s"${t}__centroids", s"${t}__meta", s"${t}__compacting", s"${t}__old")

  private def dropAnn(t: String): Unit =
    annTables(t).foreach { n =>
      spark.sql(s"DROP TABLE IF EXISTS `$n`")
      val p = warehousePath(n)
      val fs = p.getFileSystem(hconf)
      if (fs.exists(p)) fs.delete(p, true)
    }

  test("ann --follow: incremental embed+upsert, replay convergence, frozen centroids") {
    val t = "cli_ann_follow"
    val (drop, state) = freshDirs()
    dropAnn(t)
    try {
      // first batch builds the index (centroids frozen from it); step=1 so
      // the hashed sample can't be empty on a 2-doc corpus
      writeShard(s"$drop/day1", "data.jsonl",
        Seq("alpha bravo charlie delta", "echo foxtrot golf hotel"))
      Cli.run(spark, Array("ann", s"$drop/*", "--table", t,
        "--follow", state, "--step", "1", "--buckets", "4"))
      val n1 = spark.table(t).count()
      assert(n1 === 2L)
      // second batch upserts; same basename in another subdir must not
      // collide (full-path synthetic ids)
      writeShard(s"$drop/day2", "data.jsonl", Seq("india juliett kilo lima"))
      Cli.run(spark, Array("ann", s"$drop/*", "--table", t,
        "--follow", state, "--step", "1", "--buckets", "4"))
      assert(spark.table(t).count() === 3L)
      // replay after a lost manifest extension converges (no duplicates)
      Files.delete(Paths.get(state, "manifest"))
      Cli.run(spark, Array("ann", s"$drop/*", "--table", t,
        "--follow", state, "--step", "1", "--buckets", "4"))
      assert(spark.table(t).count() === 3L)
      // the query half answers off the maintained index
      Cli.run(spark, Array("ann", s"$drop/*", "--table", t,
        "--follow", state, "--query-text", "alpha bravo charlie delta",
        "--topk", "2"))
    } finally dropAnn(t)
  }

  test("ann --follow: query-only invocation folds the query under the PINNED analyzed flag") {
    val t = "cli_ann_pin_analyzed"
    val (drop, state) = freshDirs()
    dropAnn(t)
    try {
      // documents embedded ANALYZED (case-folded, punctuation stripped)
      writeShard(s"$drop/day1", "a.jsonl",
        Seq("ALPHA, BRAVO! CHARLIE?", "zulu yankee xray whiskey"))
      Cli.run(spark, Array("ann", s"$drop/*", "--table", t,
        "--follow", state, "--step", "1", "--buckets", "4", "--analyzed"))
      // the documented adopt-the-pin maintenance workflow: a query-only
      // invocation OMITS --analyzed. The pinned flag must fold the query —
      // raw-embedded, "ALPHA," and "alpha" hash to different buckets and
      // the match silently vanishes
      val outDir = Files.createTempDirectory("cli_ann_pin_q").toString + "/res"
      Cli.run(spark, Array("ann", s"$drop/*", "--table", t,
        "--follow", state, "--query-text", "ALPHA, BRAVO! CHARLIE?",
        "--topk", "1", "--out", outDir))
      val top = spark.read.json(outDir).select("cos").head().getDouble(0)
      assert(top > 0.999, s"pinned analyzed fold lost: top cos $top")
    } finally dropAnn(t)
  }

  test("ann curation modes: --select-diverse and --cluster-sample on a raw corpus") {
    val (drop, _) = freshDirs()
    // 3 near-identical docs + 2 distinct directions; synthetic STRING ids
    // (no id field) exercise the hashedIds cluster path
    writeShard(s"$drop/d", "a.jsonl", Seq(
      "alpha bravo charlie delta echo", "alpha bravo charlie delta echo",
      "alpha bravo charlie delta foxtrot",
      "zulu yankee xray whiskey victor", "one two three four five"))
    val outD = Files.createTempDirectory("ann_cur").toString
    Cli.run(spark, Array("ann", s"$drop/*", "--select-diverse", "3",
      "--out", s"$outD/div"))
    val div = spark.read.json(s"$outD/div")
    assert(div.count() === 3L) // k spread exemplars, dup never doubles up
    assert(div.select("rank").collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L))
    Cli.run(spark, Array("ann", s"$drop/*", "--cluster-sample", "2",
      "--step", "2", "--out", s"$outD/cs"))
    val cs = spark.read.json(s"$outD/cs")
    assert(cs.count() >= 1L)
    // cap respected per bucket
    val perBucket = cs.groupBy("bucket").count()
      .collect().map(_.getLong(1))
    assert(perBucket.forall(_ <= 2L))
  }

  test("ann curation: conflicting --select-diverse + --cluster-sample refuses") {
    val (drop, _) = freshDirs()
    writeShard(s"$drop/d", "a.jsonl", Seq("alpha bravo"))
    val e = intercept[RuntimeException] {
      Cli.run(spark, Array("ann", s"$drop/*", "--select-diverse", "2",
        "--cluster-sample", "2"))
    }
    assert(e.getMessage.contains("not both"), e.getMessage)
  }

  test("ann --follow: manifest outliving the index refuses loudly") {
    val t = "cli_ann_refuse"
    val (drop, state) = freshDirs()
    dropAnn(t)
    try {
      writeShard(s"$drop/day1", "a.jsonl", Seq("alpha bravo charlie"))
      Cli.run(spark, Array("ann", s"$drop/*", "--table", t,
        "--follow", state, "--step", "1", "--buckets", "4"))
      spark.sql(s"DROP TABLE `$t`") // managed: deletes the warehouse dir
      writeShard(s"$drop/day2", "b.jsonl", Seq("delta echo foxtrot"))
      val e = intercept[RuntimeException] {
        Cli.run(spark, Array("ann", s"$drop/*", "--table", t,
          "--follow", state, "--step", "1", "--buckets", "4"))
      }
      assert(e.getMessage.contains("refusing"), e.getMessage)
    } finally dropAnn(t)
  }

  test("follow: an empty first shard does not brick the state dir") {
    val t = "cli_follow_emptyfirst"
    val (drop, state) = freshDirs()
    dropAll(t)
    try {
      // the producer's classic non-atomic drop: a zero-row file appears
      Files.createDirectories(Paths.get(s"$drop/day1"))
      Files.write(Paths.get(s"$drop/day1", "a.jsonl"), "".getBytes("UTF-8"))
      follow(t, drop, state)
      // no index was built, but the shard is manifested — the NEXT
      // invocation must build normally, not refuse
      writeShard(s"$drop/day2", "b.jsonl", Seq("alpha bravo"))
      follow(t, drop, state)
      assert(hits(t, "alpha bravo") === 1L)
    } finally dropAll(t)
  }

  test("follow: maintenance invocation adopts the pinned tokenizer for queries") {
    val t = "cli_follow_pin_tok"
    val (drop, state) = freshDirs()
    dropAll(t)
    try {
      // build whitespace-tokenized: "don't" stays ONE term
      writeShard(s"$drop/day1", "a.jsonl", Seq("don't panic now"))
      Cli.run(spark, Array("index", s"$drop/*", "--table", t,
        "--follow", state, "--buckets", "4", "--tokenizer", "whitespace"))
      // a later invocation OMITS --tokenizer: the pin must drive both the
      // upsert and the query fold — UAX-29 would split don't/панic terms
      // differently and silently miss
      writeShard(s"$drop/day2", "b.jsonl", Seq("keep calm always"))
      Cli.run(spark, Array("index", s"$drop/*", "--table", t,
        "--follow", state, "--search", "don't panic"))
      assert(hits(t, "keep calm") === 1L)
      val idx = graft.search.InvertedIndex.readIndex(spark, t)
      assert(graft.search.InvertedIndex.phraseHits(idx, Seq("don't panic"),
        uax29 = false).select("n_docs").head().getLong(0) === 1L)
      // and an EXPLICIT clashing flag refuses loudly
      val e = intercept[RuntimeException] {
        Cli.run(spark, Array("index", s"$drop/*", "--table", t,
          "--follow", state, "--tokenizer", "unicode"))
      }
      assert(e.getMessage.contains("pinned"), e.getMessage)
    } finally dropAll(t)
  }

  test("dedup --state: a DIFFERENT snapshot into the same --out dir refuses") {
    val root = Files.createTempDirectory("cli_dedup_state2").toString
    writeShard(s"$root/in1", "a.jsonl", Seq("alpha bravo"))
    writeShard(s"$root/in2", "b.jsonl", Seq("charlie delta"))
    val state = s"$root/state"
    val out = s"$root/out"
    Cli.run(spark, Array("dedup", s"$root/in1/*.jsonl",
      "--state", state, "--out", out))
    val e = intercept[RuntimeException] {
      Cli.run(spark, Array("dedup", s"$root/in2/*.jsonl",
        "--state", state, "--out", out))
    }
    assert(e.getMessage.contains("DIFFERENT snapshot"), e.getMessage)
    // the first snapshot's survivors are untouched
    assert(Corpus.readJsonl(spark, Seq(out))
      .where(col("text") === "alpha bravo").count() === 1L)
  }

  test("dedup --state: unclaimed non-empty --out refuses without --force") {
    val root = Files.createTempDirectory("cli_dedup_state3").toString
    writeShard(s"$root/in", "a.jsonl", Seq("alpha bravo"))
    // the out dir pre-exists with unrelated content and NO marker claims it
    writeShard(s"$root/out", "precious.jsonl", Seq("do not destroy"))
    val state = s"$root/state"
    val e = intercept[RuntimeException] {
      Cli.run(spark, Array("dedup", s"$root/in/*.jsonl",
        "--state", state, "--out", s"$root/out"))
    }
    assert(e.getMessage.contains("--force"), e.getMessage)
    // the pre-existing content survived the refusal
    assert(Corpus.readJsonl(spark, Seq(s"$root/out"))
      .where(col("text") === "do not destroy").count() === 1L)
    // an explicit --force takes the overwrite, as the plain --out path does
    Cli.run(spark, Array("dedup", s"$root/in/*.jsonl",
      "--state", state, "--out", s"$root/out", "--force"))
    assert(Corpus.readJsonl(spark, Seq(s"$root/out"))
      .where(col("text") === "alpha bravo").count() === 1L)
  }

  test("follow: a config pin file missing a key is merge-completed, not left to drift") {
    val t = "cli_follow_pin_merge"
    val (drop, state) = freshDirs()
    dropAll(t)
    try {
      writeShard(s"$drop/day1", "a.jsonl", Seq("alpha bravo"))
      follow(t, drop, state)
      val cfgP = Paths.get(state, "config")
      val pinned = new String(Files.readAllBytes(cfgP), "UTF-8")
      assert(pinned.contains("tokenizer="))
      // a hand-edited (or older-release) pin file missing the tokenizer
      // key: the next invocation resolves the default AND pins it, so a
      // later clashing --tokenizer cannot slip through unpinned
      val stripped = pinned.linesIterator
        .filterNot(_.startsWith("tokenizer=")).mkString("\n") + "\n"
      Files.write(cfgP, stripped.getBytes("UTF-8"))
      // the NIO write bypasses Hadoop's ChecksumFileSystem — drop the now-
      // stale .crc sidecar or the next read fails on it
      Files.deleteIfExists(Paths.get(state, ".config.crc"))
      writeShard(s"$drop/day2", "b.jsonl", Seq("charlie delta"))
      follow(t, drop, state)
      val merged = new String(Files.readAllBytes(cfgP), "UTF-8")
      assert(merged.contains("tokenizer=unicode"), merged)
      // surviving keys kept their pinned values
      assert(merged.contains("buckets=4"), merged)
      val e = intercept[RuntimeException] {
        follow(t, drop, state, "--tokenizer", "whitespace")
      }
      assert(e.getMessage.contains("pinned"), e.getMessage)
    } finally dropAll(t)
  }

  test("dedup --state: crash replay into the same --out dir converges") {
    val root = Files.createTempDirectory("cli_dedup_state").toString
    writeShard(s"$root/in", "a.jsonl",
      Seq("alpha bravo", "alpha bravo", "echo fox"))
    val state = s"$root/state"
    val out1 = s"$root/out1"
    Cli.run(spark, Array("dedup", s"$root/in/*.jsonl",
      "--state", state, "--out", out1))
    val first = Corpus.readJsonl(spark, Seq(out1)).count()
    assert(first === 2L)
    // replay the SAME snapshot into the SAME out dir without --force —
    // the crash-recovery path (survivors written, state append lost)
    Cli.run(spark, Array("dedup", s"$root/in/*.jsonl",
      "--state", state, "--out", out1))
    assert(Corpus.readJsonl(spark, Seq(out1))
      .where(col("text").isNotNull).count() === 0L)
  }

  test("ann persisted-tier CLI modes: --profile, --dedup-semantic, --filter/--widen") {
    val (drop, _) = freshDirs()
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo", "fox")
    val rnd = new scala.util.Random(99)
    writeShard(s"$drop/day1", "a.jsonl",
      (1 to 100).map(_ => (0 until 6)
        .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")),
      ids = (1 to 100).map(i => s"d$i"))
    val t = "cli_ann_modes"
    try {
      dropAll(t)
      Seq(s"${t}__centroids", s"${t}__meta").foreach(n =>
        graft.search.Swap.drop(spark, n))
      Cli.run(spark, Array("ann", s"$drop/*", "--table", t,
        "--dim", "16", "--step", "5", "--buckets", "4"))
      // --profile: per-bucket mass + coherence off the saved table
      val outP = Files.createTempDirectory("cli_ann_p").toString + "/out"
      Cli.run(spark, Array("ann", "--table", t, "--profile", "--out", outP))
      val prof = spark.read.json(outP)
      assert(prof.count() > 0)
      assert(prof.columns.toSet ===
        Set("centroid_id", "n_members", "mean_cosine"))
      // profile mass covers every indexed row
      val mass = prof.agg(sum("n_members")).head().getLong(0)
      assert(mass === spark.table(t)
        .where(col("bucket").isNotNull && col("bv").isNotNull).count())
      // --dedup-semantic: SemDeDup survivors (high threshold keeps most)
      val outD = Files.createTempDirectory("cli_ann_d").toString + "/out"
      Cli.run(spark, Array("ann", "--table", t,
        "--dedup-semantic", "0.999", "--out", outD))
      val kept = spark.read.json(outD).count()
      assert(kept > 0 && kept <= 100)
      // --calibrate: the recall/cost sweep off the saved table — one row
      // per swept nprobe, monotone candidate cost, target 0 picks the
      // cheapest setting
      val outC = Files.createTempDirectory("cli_ann_c").toString + "/out"
      Cli.run(spark, Array("ann", "--table", t, "--calibrate", "0.0",
        "--nprobes", "1,2", "--sample-every", "3", "--topk", "3",
        "--out", outC))
      val cal = spark.read.json(outC)
      assert(cal.count() === 2L)
      assert(cal.columns.toSet ===
        Set("nprobe", "mean_recall", "cand_rows", "pick"))
      val calRows = cal.orderBy("nprobe").collect()
      assert(calRows(0).getAs[Boolean]("pick"))
      assert(calRows(0).getAs[Long]("cand_rows")
        < calRows(1).getAs[Long]("cand_rows"))
      // --filter + --widen on the query path: the predicate references
      // the index row columns; widening keeps the call total on starved
      // filters instead of silently short
      val outQ = Files.createTempDirectory("cli_ann_q").toString + "/out"
      Cli.run(spark, Array("ann", "--table", t,
        "--query-text", "alpha bravo charlie delta echo fox",
        "--dim", "16", "--topk", "3", "--nprobe", "1",
        "--filter", "bucket IS NOT NULL", "--widen", "64", "--out", outQ))
      assert(spark.read.json(outQ).count() > 0)
    } finally {
      dropAll(t)
      Seq(s"${t}__centroids", s"${t}__meta").foreach(n =>
        graft.search.Swap.drop(spark, n))
    }
  }
}
