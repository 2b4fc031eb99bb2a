package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.search.{AnnIndex, InvertedIndex, Swap}
import graft.sources.Corpus

/** Every state-file commit of the incremental CLI modes, crash-tested:
  * each command runs once clean over two tiny batches, recording the
  * [[Swap.Point]]s the second batch passes; then, from a copy of the
  * state after the first batch, the second batch is crashed at every hit
  * of every state point, the catalog forgets its tables (a restart), and
  * the same command runs again. It must leave exactly what the clean run
  * left: the state files (manifests, pins, `_shards` records, snapshot
  * markers; no pending claim), the `data/batch-*` names and rows, the
  * hash-state keys, the index or ANN rows, the contamination totals and
  * the `dedup --out` survivors, and no `*.__tmp*` file anywhere.
  */
class StateSpec extends SparkTestBase {

  private def warehouse: Path = Paths.get(new org.apache.hadoop.fs.Path(
    spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath)

  private def walk(d: Path): Seq[Path] =
    if (!Files.exists(d)) Nil
    else {
      val s = Files.walk(d)
      try s.iterator().asScala.toList.sorted finally s.close()
    }

  private def copy(from: Path, to: Path): Unit = walk(from).foreach { p =>
    val q = to.resolve(from.relativize(p).toString)
    if (Files.isDirectory(p)) Files.createDirectories(q)
    else Files.copy(p, q, StandardCopyOption.REPLACE_EXISTING)
  }

  private def delete(d: Path): Unit =
    walk(d).reverse.foreach(p => Files.deleteIfExists(p))

  private def writeJsonl(dir: Path, name: String, texts: String*): Unit = {
    Files.createDirectories(dir)
    Files.write(dir.resolve(name),
      texts.map(t => s"""{"text":"$t"}""" + "\n").mkString.getBytes("UTF-8"))
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** The small files of a state dir, content by relative path: every
    * file but data parts, `_SUCCESS` markers and checksums.
    */
  private def stateFiles(d: Path): Map[String, Seq[String]] =
    walk(d).filter(Files.isRegularFile(_)).filterNot { p =>
      val n = p.getFileName.toString
      n.startsWith("part-") || n.startsWith(".") || n == "_SUCCESS"
    }.map(p => s"file ${d.relativize(p)}" ->
      Files.readAllLines(p).asScala.toSeq).toMap

  private def jsonlRows(d: Path): Seq[String] =
    rows(Corpus.readJsonl(spark, Seq(d.toString)))

  private def hashKeys(d: Path): Seq[String] =
    if (!Files.exists(d)) Nil
    else rows(spark.read.parquet(d.toString).distinct())

  /** `t` readable after a restart: a run that found no new shards
    * healed nothing, as any reader of the index must.
    */
  private def textIndex(t: String): String = {
    assert(Swap.heal(spark, t, InvertedIndex.registerIndex(spark, _, 4)))
    t
  }

  private def annIndex(t: String): String = {
    assert(AnnIndex.recoverIvfIndex(spark, t))
    t
  }

  /** The index as one sorted postings list per document, without the
    * doc id: `ingest` ids hash the batch's part-file paths, which a
    * batch written again after a crash names afresh.
    */
  private def docPostings(t: String): Seq[String] = {
    val df = spark.table(textIndex(t))
    rows(df.groupBy("doc_id").agg(sort_array(collect_list(to_json(struct(
      df.columns.filter(_ != "doc_id").map(col): _*)))).as("p")).select("p"))
  }

  /** One command over two batches under `root`: `batch(n)` writes batch
    * n's input and runs the command; `result` reads what it leaves.
    * `tables` prefixes the warehouse tables it keeps.
    */
  private case class Cmd(name: String, tables: Option[String],
                         batch: (Path, Int) => Unit,
                         result: Path => Map[String, Seq[String]])

  private def tableDirs(prefix: String): Seq[Path] =
    Option(warehouse.toFile.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith(prefix)).map(_.toPath)

  /** Drop every table of `prefix` with its directory. */
  private def dropTables(prefix: String): Unit = {
    spark.catalog.listTables().collect()
      .filter(x => !x.isTemporary && x.name.startsWith(prefix))
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS `${x.name}`"))
    tableDirs(prefix).foreach(delete)
  }

  private def tmpLeft(root: Path, prefix: Option[String]): Seq[Path] =
    (walk(root) ++ prefix.toSeq.flatMap(tableDirs).flatMap(walk))
      .filter(_.getFileName.toString.contains(".__tmp"))

  /** Runs `cmd` clean, then crashed at every state-point hit of its
    * second batch; returns the points that batch passes.
    */
  private def crashTest(cmd: Cmd): Set[Swap.Point] = {
    val root = Files.createTempDirectory(s"state_${cmd.name}")
    val snap = Files.createTempDirectory(s"state_${cmd.name}_snap")
    cmd.tables.foreach(dropTables)
    try {
      cmd.batch(root, 1)
      copy(root, snap.resolve("root"))
      cmd.tables.toSeq.flatMap(tableDirs).foreach(d =>
        copy(d, snap.resolve("warehouse").resolve(d.getFileName.toString)))
      val clean = new Swap.Faults(None)
      Swap.withFaults(clean)(cmd.batch(root, 2))
      val expected = cmd.result(root)
      assert(tmpLeft(root, cmd.tables) === Nil, s"${cmd.name} clean")
      val hits = clean.hits.toSeq.filter { case (p, _) =>
        Swap.Point.state.contains(p) }
      assert(hits.nonEmpty, s"${cmd.name}: the second batch writes no state")
      info(s"${cmd.name}: " + hits.map { case (p, n) => s"$p x$n" }.mkString(", "))
      for ((point, n) <- hits; k <- 1 to n) {
        val where = s"${cmd.name} crash at $point #$k"
        delete(root)
        cmd.tables.foreach(dropTables)
        copy(snap.resolve("root"), root)
        copy(snap.resolve("warehouse"), warehouse)
        intercept[Swap.Crash](Swap.withFaults(
          new Swap.Faults(Some(point -> k)))(cmd.batch(root, 2)))
        cmd.tables.foreach(forget)
        cmd.batch(root, 2)
        val got = cmd.result(root)
        (expected.keySet ++ got.keySet).toSeq.sorted.foreach { key =>
          assert(got.get(key) === expected.get(key), s"$where: $key")
        }
        assert(tmpLeft(root, cmd.tables) === Nil, where)
      }
      hits.map(_._1).toSet
    } finally {
      cmd.tables.foreach(dropTables)
      delete(root)
      delete(snap)
    }
  }

  // 60 distinct words: a document the ingest defaults keep
  private def doc(seed: String): String =
    ("the" +: (1 to 58).map(i => s"$seed$i") :+ "and").mkString(" ")

  private def dropGlob(root: Path): String = s"$root/drop/*"

  private val ingest = Cmd("ingest", Some("state_ing"),
    batch = (root, n) => {
      if (n == 1) {
        writeJsonl(root.resolve("bench"), "b.jsonl", doc("bn"))
        writeJsonl(root.resolve("drop/d1"), "s.jsonl", doc("al"), doc("be"))
      } else
        writeJsonl(root.resolve("drop/d2"), "s.jsonl",
          doc("al"), doc("ga"), doc("bn"))
      // the second batch adds --table: the index pin, the id-mode pin and
      // the backfill over both batches all land in the crashed batch
      Cli.run(spark, Array("ingest", dropGlob(root), "--follow",
        s"$root/state", "--bench", s"$root/bench/b.jsonl",
        "--quality", "none") ++
        (if (n == 2) Seq("--table", "state_ing", "--buckets", "4") else Nil))
    },
    result = root => {
      val state = root.resolve("state")
      val batches = walk(state.resolve("data"))
        .filter(_.getFileName.toString.startsWith("batch-"))
      stateFiles(state) ++
        batches.map(b => s"rows ${b.getFileName}" -> jsonlRows(b)) +
        ("hashes" -> hashKeys(state.resolve("hashes"))) +
        ("index" -> docPostings("state_ing"))
    })

  private def follow(cmd: String, table: String, heal: String => String,
                     dials: String*): Cmd =
    Cmd(cmd, Some(table),
      batch = (root, n) => {
        if (n == 1) writeJsonl(root.resolve("drop/d1"), "s.jsonl",
          "alpha bravo charlie", "delta echo")
        else writeJsonl(root.resolve("drop/d2"), "s.jsonl",
          "foxtrot golf alpha", "hotel india")
        Cli.run(spark, Array(cmd, dropGlob(root), "--table", table,
          "--follow", s"$root/state") ++ dials)
      },
      result = root => stateFiles(root.resolve("state")) +
        ("table" -> rows(spark.table(heal(table)))))

  private val contaminate = Cmd("contaminate", None,
    batch = (root, n) => {
      if (n == 1) {
        writeJsonl(root.resolve("bench"), "b.jsonl", "alpha beta", "zz never")
        writeJsonl(root.resolve("drop/d1"), "s.jsonl",
          "alpha beta gamma", "unrelated words here")
      } else writeJsonl(root.resolve("drop/d2"), "s.jsonl",
        "alpha beta again", "zz never shows")
      Cli.run(spark, Array("contaminate", dropGlob(root), "--bench",
        s"$root/bench/b.jsonl", "--follow", s"$root/state", "--per-phrase",
        "--out", s"$root/report", "--force"))
    },
    result = root => stateFiles(root.resolve("state")) +
      ("totals" -> rows(spark.read.parquet(s"$root/state/counts")
        .groupBy("phrase").agg(sum("n_docs")))) +
      ("report" -> rows(spark.read.json(s"$root/report"))))

  private val decontaminate = Cmd("decontaminate", None,
    batch = (root, n) => {
      if (n == 1) {
        writeJsonl(root.resolve("bench"), "b.jsonl", "alpha beta")
        writeJsonl(root.resolve("drop/d1"), "s.jsonl", "alpha beta", "gamma")
      } else writeJsonl(root.resolve("drop/d2"), "s.jsonl",
        "delta", "alpha beta")
      Cli.run(spark, Array("decontaminate", dropGlob(root), "--bench",
        s"$root/bench/b.jsonl", "--follow", s"$root/state"))
    },
    result = root => {
      val state = root.resolve("state")
      stateFiles(state) ++ walk(state.resolve("data"))
        .filter(_.getFileName.toString.startsWith("batch-"))
        .map(b => s"rows ${b.getFileName}" -> jsonlRows(b))
    })

  private val dedup = Cmd("dedup", None,
    batch = (root, n) => {
      if (n == 1) writeJsonl(root.resolve("in1"), "a.jsonl",
        "alpha bravo", "alpha bravo", "echo fox")
      else writeJsonl(root.resolve("in2"), "b.jsonl",
        "alpha bravo", "golf hotel", "golf hotel")
      Cli.run(spark, Array("dedup", s"$root/in$n/*.jsonl",
        "--state", s"$root/hashes", "--out", s"$root/out$n"))
    },
    result = root => stateFiles(root.resolve("hashes__outmarks")) +
      ("hashes" -> hashKeys(root.resolve("hashes"))) +
      ("out1" -> jsonlRows(root.resolve("out1"))) +
      ("out2" -> jsonlRows(root.resolve("out2"))))

  test("every state-file write of the incremental modes converges after a crash") {
    val cmds = Seq(ingest,
      follow("index", "state_idx", textIndex, "--buckets", "4"),
      follow("ann", "state_ann", annIndex, "--step", "1", "--buckets", "4"),
      contaminate, decontaminate, dedup)
    val covered = cmds.flatMap(crashTest).toSet
    assert(covered === Swap.Point.state.toSet,
      "a state point no command reaches is not crash-tested")
  }
}
