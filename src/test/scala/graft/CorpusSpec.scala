package graft

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.file.Files
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.functions._

import graft.sources.Corpus

class CorpusSpec extends SparkTestBase {

  private def writeShard(dir: java.nio.file.Path, name: String, lines: Seq[String]): Unit = {
    val f = dir.resolve(name).toFile
    val w = new BufferedWriter(new OutputStreamWriter(
      new GZIPOutputStream(new FileOutputStream(f)), "UTF-8"))
    lines.foreach { l => w.write(l); w.newLine() }
    w.close()
  }

  private lazy val dir = {
    val d = Files.createTempDirectory("corpus")
    writeShard(d, "a.json.gz", (0 until 10).map(i =>
      s"""{"text":"doc a $i","url":"https://a.example.com/$i","date":"2019-04-2${i % 10}T18:54:04Z","extra_field":$i}"""))
    writeShard(d, "b.json.gz", (0 until 5).map(i =>
      s"""{"text":"doc b $i","metadata":{"url":"https://b.example.com/$i"}}"""))
    d
  }

  test("reads gzip JSONL shards with canonical schema, ignoring unknown fields") {
    val df = Corpus.readJsonl(spark, Seq(s"$dir/*.json.gz"))
    assert(df.count() === 15)
    assert(df.schema.fieldNames.toSet === Corpus.schema.fieldNames.toSet)
  }

  test("per-file limit is per file, not global (reference --limit)") {
    val df = Corpus.readJsonl(spark, Seq(s"$dir/*.json.gz"), perFileLimit = Some(3))
    assert(df.count() === 6) // 3 from each of 2 files
  }

  test("file limit truncates the shard list (reference --file-limit)") {
    val df = Corpus.readJsonl(spark, Seq(s"$dir/*.json.gz"), fileLimit = Some(1))
    assert(df.count() === 10) // only a.json.gz (sorted first)
  }

  test("empty glob errors like expand_dirs") {
    intercept[IllegalArgumentException] {
      Corpus.readJsonl(spark, Seq(s"$dir/nope/*.json.gz"), fileLimit = Some(5))
    }
  }

  test("explicit file:// URIs read through the same Hadoop FS path (S6)") {
    // the scheme-qualified form of the same glob: s3a://... at production
    // resolves through the identical FileSystem.get machinery, so the
    // local:// scheme is the testable proxy for the S3 claim
    val df = Corpus.readJsonl(spark, Seq(s"file://$dir/*.json.gz"))
    assert(df.count() === 15)
    assert(Corpus.readJsonl(spark, Seq(s"file://$dir/b.json.gz")).count() === 5)
  }

  test("stats total_bytes = UTF-8 bytes of the text FIELD, not the JSON line") {
    import spark.implicits._
    // reference `wimbd stats` sums the byte size of each raw JSON line
    // (src/cmd/util.rs:52); this engine reads decoded columns, so
    // total_bytes is octet_length(text) — multi-byte chars count by UTF-8
    // encoding, but JSON overhead (keys, quotes, escapes) does NOT. This
    // pin documents the divergence SURVEY §2.6 declares.
    val docs = Seq("h\u00e9llo", "ab").toDF("text")
    val r = graft.operators.NgramOps.stats(docs, "text", uax29 = false).head()
    assert(r.getAs[Long]("total_chars") === 7L) // 5 + 2 codepoints
    assert(r.getAs[Long]("total_bytes") === 8L) // 6 + 2 UTF-8 bytes
  }

  test("ingestShards: deterministic shards, manifest resume, idempotent retry (S8)") {
    import spark.implicits._
    val out = Files.createTempDirectory("ingest").toFile.getAbsolutePath + "/ds"
    val docs = (0 until 25).map(i => (i.toLong, s"doc number $i")).toDF("id", "content")
    val w1 = Corpus.ingestShards(docs, "id", out, recordsPerShard = 10,
      textField = "content")
    assert(w1 === Seq(0L, 1L, 2L))
    val back = spark.read.json(out)
    assert(back.count() === 25)
    assert(back.columns.toSet === Set("id", "text", "shard")) // renamed field
    // shard membership follows the id order deterministically
    assert(back.where(col("shard") === 2).select("id").as[Long]
      .collect().toSet === (20L until 25L).toSet)
    // complete output: rerun re-checks ONLY the tail shard (re-written
    // identically under dynamic partition overwrite — idempotent) so a
    // grown input can extend it; earlier shards are never touched
    assert(Corpus.ingestShards(docs, "id", out, 10, "content") === Seq(2L))
    assert(spark.read.json(out).count() === 25)
    // crashed-run simulation: the manifest lost shard 2 (write committed,
    // manifest append didn't) — retry rewrites shard 2 plus the manifested
    // tail (shard 1, always re-writable) and duplicates nothing
    java.nio.file.Files.write(java.nio.file.Paths.get(out, "_ingest_manifest.txt"),
      "0\n1\n".getBytes("UTF-8"))
    // the direct write above bypassed Hadoop's ChecksumFileSystem — drop
    // the stale .crc sidecar it would validate against
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(out, "._ingest_manifest.txt.crc"))
    assert(Corpus.ingestShards(docs, "id", out, 10, "content") === Seq(1L, 2L))
    assert(spark.read.json(out).count() === 25)
    assert(Corpus.readIngestManifest(spark, out) === Set(0L, 1L, 2L))
    // grown input (the stream-resume call pattern): rows appended past the
    // last run extend the tail shard and spill into new ones — the fixed
    // completed-set filter would have silently dropped ids 25-29 into the
    // already-manifested shard 2
    val grown = (0 until 32).map(i => (i.toLong, s"doc number $i")).toDF("id", "content")
    assert(Corpus.ingestShards(grown, "id", out, 10, "content") === Seq(2L, 3L))
    assert(spark.read.json(out).count() === 32)
    assert(Corpus.readIngestManifest(spark, out) === Set(0L, 1L, 2L, 3L))
  }

  test("fastRowCount: footer metadata on bare parquet scans, count() fallback elsewhere") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("frc").toString
    (1 to 137).map(i => (i.toLong, s"d$i")).toDF("id", "text")
      .repartition(3).write.mode("overwrite").parquet(tmp)
    val bare = spark.read.parquet(tmp)
    assert(Corpus.fastRowCount(bare) === 137L)
    // a filter above the relation must fall back to the real count
    assert(Corpus.fastRowCount(bare.where(col("id") <= 10)) === 10L)
    // too many files for driver-side footer reads: falls back, same answer
    assert(Corpus.fastRowCount(bare, maxFooterFiles = 1) === 137L)
    // non-parquet frames fall back too
    assert(Corpus.fastRowCount(Seq((1L, "x")).toDF("id", "text")) === 1L)
  }

  test("withFileLineId builds {file}-{line} ids — filename survives the window shuffle") {
    val ids = Corpus.withFileLineId(
        Corpus.readJsonl(spark, Seq(dir.toString + "/*.json.gz")), "id")
      .select("id").collect().map(_.getString(0)).toSet
    // a bare input_file_name() in the post-window projection silently
    // evaluates to '' (the bug this test pins): every id must carry a file
    assert(ids.forall(_.matches("[ab]\\.json\\.gz-\\d+")), ids.take(5))
    assert(ids.count(_.startsWith("a.json.gz-")) === 10)
    assert(ids.contains("b.json.gz-0") && ids.contains("b.json.gz-4"))
  }

  test("effectiveUrl falls back to metadata.url") {
    val df = Corpus.readJsonl(spark, Seq(s"$dir/*.json.gz"))
      .select(Corpus.effectiveUrl.as("u")).where(col("u").isNotNull)
    assert(df.count() === 15)
  }

  test("eventTime parses the ISO date column") {
    val df = Corpus.readJsonl(spark, Seq(s"$dir/a.json.gz"))
      .select(Corpus.eventTime.as("t"))
    assert(df.where(col("t").isNotNull).count() === 10)
  }

  test("jsonl sink roundtrips and respects the overwrite guard") {
    val out = Files.createTempDirectory("sink").resolve("out")
    val df = Corpus.readJsonl(spark, Seq(s"$dir/a.json.gz"))
    Corpus.writeJsonl(df, out.toString, force = false)
    intercept[Exception] { Corpus.writeJsonl(df, out.toString, force = false) }
    Corpus.writeJsonl(df, out.toString, force = true) // --force
    assert(Corpus.readJsonl(spark, Seq(s"$out/*.json.gz")).count() === 10)
  }

  // --- consolidateShards (reference preparation/mc4/combine_adjacent_files.py) ---

  private def mkShards(prefix: String, ns: Seq[Int], dir: java.nio.file.Path): Unit =
    ns.foreach(n => writeShard(dir, f"$prefix.$n%05d.json.gz",
      Seq(s"""{"text":"$prefix shard $n"}""")))

  test("consolidateShards merges by prefix in numeric order with compose naming") {
    val in = Files.createTempDirectory("cons_in")
    val out = Files.createTempDirectory("cons_out")
    mkShards("c4-en", 0 until 6, in)
    mkShards("c4-de", 10 until 12, in)
    val written = Corpus.consolidateShards(spark, in.toString, out.toString, factor = 4)
    assert(written.toSet === Set(
      "c4-de.00010-00011.json.gz",
      "c4-en.00000-00001-00002-00003.json.gz",
      "c4-en.00004-00005.json.gz"))
    // merged gzip members read back as the concatenation, in order
    val en = Corpus.readJsonl(spark,
        Seq(s"$out/c4-en.00000-00001-00002-00003.json.gz"))
      .select("text").collect().map(_.getString(0)).toSeq
    assert(en === (0 until 4).map(n => s"c4-en shard $n"))
    // document count is conserved across the whole consolidation
    assert(Corpus.readJsonl(spark, Seq(s"$out/*.json.gz")).count() === 8)
  }

  test("consolidateShards resumes: existing outputs are skipped, bytes untouched") {
    val in = Files.createTempDirectory("cons_in2")
    val out = Files.createTempDirectory("cons_out2")
    mkShards("p", 0 until 8, in)
    val first = Corpus.consolidateShards(spark, in.toString, out.toString, factor = 4)
    assert(first.size === 2)
    val f0 = out.resolve("p.00000-00001-00002-00003.json.gz")
    val before = Files.readAllBytes(f0)
    val again = Corpus.consolidateShards(spark, in.toString, out.toString, factor = 4)
    assert(again.isEmpty) // fully resumed no-op
    assert(java.util.Arrays.equals(before, Files.readAllBytes(f0)))
    // partial resume: drop one output, only that group is rewritten
    Files.delete(out.resolve("p.00004-00005-00006-00007.json.gz"))
    val partial = Corpus.consolidateShards(spark, in.toString, out.toString, factor = 4)
    assert(partial === Seq("p.00004-00005-00006-00007.json.gz"))
  }

  test("consolidateShards sweeps orphan temps from a crashed prior run") {
    val in = Files.createTempDirectory("cons_tmp")
    val out = Files.createTempDirectory("cons_tmp_out")
    mkShards("p", 0 until 2, in)
    // simulate a crash between create and rename
    Files.write(out.resolve("p.00000-00001.json.gz.__tmp"), "junk".getBytes)
    val written = Corpus.consolidateShards(spark, in.toString, out.toString, factor = 2)
    assert(written === Seq("p.00000-00001.json.gz"))
    assert(!Files.exists(out.resolve("p.00000-00001.json.gz.__tmp")))
    assert(Corpus.readJsonl(spark, Seq(s"$out/*.json.gz")).count() === 2)
  }

  test("consolidateShards sweeps an attempt's stale tmp and never publishes it") {
    val in = Files.createTempDirectory("cons_attempt")
    val out = Files.createTempDirectory("cons_attempt_out")
    mkShards("p", 0 until 2, in)
    // another attempt's partial file, left by a killed executor
    val stale = out.resolve("p.00000-00001.json.gz.__tmp.7")
    Files.write(stale, "partial".getBytes)
    val written = Corpus.consolidateShards(spark, in.toString, out.toString, factor = 2)
    assert(written === Seq("p.00000-00001.json.gz"))
    assert(!Files.exists(stale))
    assert(Files.list(out).toArray.map(_.toString).forall(!_.contains(".__tmp")))
    val concatenated = (0 until 2).flatMap(n =>
      Files.readAllBytes(in.resolve(f"p.$n%05d.json.gz"))).toArray
    assert(java.util.Arrays.equals(
      Files.readAllBytes(out.resolve("p.00000-00001.json.gz")), concatenated))
  }

  test("consolidateShards refuses outDir == inDir") {
    val in = Files.createTempDirectory("cons_same")
    writeShard(in, "p.00000.json.gz", Seq("""{"text":"x"}"""))
    intercept[IllegalArgumentException] {
      Corpus.consolidateShards(spark, in.toString, in.toString)
    }
  }

  test("consolidateShards falls back to positional naming for non-numeric shards") {
    val in = Files.createTempDirectory("cons_in3")
    val out = Files.createTempDirectory("cons_out3")
    writeShard(in, "part-x.json.gz", Seq("""{"text":"x"}"""))
    writeShard(in, "part-y.json.gz", Seq("""{"text":"y"}"""))
    writeShard(in, "part-z.json.gz", Seq("""{"text":"z"}"""))
    val written = Corpus.consolidateShards(spark, in.toString, out.toString, factor = 2)
    assert(written.toSet === Set("merged.00000-00001.json.gz", "merged.00002.json.gz"))
    val texts = Corpus.readJsonl(spark, Seq(s"$out/merged.00000-00001.json.gz"))
      .select("text").collect().map(_.getString(0)).toSeq
    assert(texts === Seq("x", "y")) // name-sorted order preserved
  }

  test("LocalFileFetcher resolves authority, single-slash, and unencoded-space file URLs (review findings)") {
    val src = Files.createTempDirectory("fetch_forms")
    Files.write(src.resolve("plain.bin"), "abc".getBytes("UTF-8"))
    Files.write(src.resolve("with space.bin"), "xyz".getBytes("UTF-8"))
    def fetch(url: String): String = {
      val bos = new java.io.ByteArrayOutputStream()
      graft.sources.Corpus.LocalFileFetcher.fetch(url, bos)
      new String(bos.toByteArray, "UTF-8")
    }
    assert(fetch(s"file://$src/plain.bin") === "abc")
    // authority form: file://localhost/... must not become a RELATIVE path
    assert(fetch(s"file://localhost$src/plain.bin") === "abc")
    // single-slash form: file:/... is a legal file-URL shape
    assert(fetch(s"file:$src/plain.bin") === "abc")
    // raw unencoded space (hand-written URL lists): URI.create throws —
    // the prefix-strip fallback must keep such entries fetchable
    assert(fetch(s"file://$src/with space.bin") === "xyz")
  }

  test("ingestFromManifest: file:// end-to-end, resume, failure retry, duplicate guard") {
    val src = Files.createTempDirectory("fetch_src")
    val out = Files.createTempDirectory("fetch_out").toString
    writeShard(src, "s0.json.gz", Seq("""{"text":"shard zero"}"""))
    writeShard(src, "s1.json.gz", Seq("""{"text":"shard one"}"""))
    val urls = Seq(
      s"file://$src/s0.json.gz",
      s"file://$src/s1.json.gz?sig=abc") // query string stripped from target
    val r1 = Corpus.ingestFromManifest(spark, urls, out)
    assert(r1.fetched.toSet === urls.toSet && r1.failed.isEmpty)
    assert(Corpus.readJsonl(spark, Seq(out)).select("text")
      .collect().map(_.getString(0)).toSet === Set("shard zero", "shard one"))
    // resume: nothing re-fetched
    val r2 = Corpus.ingestFromManifest(spark, urls, out)
    assert(r2.fetched.isEmpty && r2.skippedDone === 2L)
    // a RE-SIGNED list (fresh ?sig= per run — the normal authenticated-
    // manifest shape) still resumes: identity is the target basename
    val resigned = Seq(
      s"file://$src/s0.json.gz?sig=FRESH1",
      s"file://$src/s1.json.gz?sig=FRESH2")
    val rr = Corpus.ingestFromManifest(spark, resigned, out)
    assert(rr.fetched.isEmpty && rr.skippedDone === 2L && rr.failed.isEmpty)
    // skippedDone counts THIS run's skipped inputs, not the manifest size
    val one = Corpus.ingestFromManifest(spark, Seq(urls.head), out)
    assert(one.skippedDone === 1L)
    // a grown list fetches only the new shard
    writeShard(src, "s2.json.gz", Seq("""{"text":"shard two"}"""))
    val r3 = Corpus.ingestFromManifest(spark, urls :+ s"file://$src/s2.json.gz", out)
    assert(r3.fetched === Seq(s"file://$src/s2.json.gz"))
    // a failing URL is reported, NOT manifested, and retried next run
    val missing = s"file://$src/nope.json.gz"
    val r4 = Corpus.ingestFromManifest(spark, Seq(missing), out)
    assert(r4.fetched.isEmpty && r4.failed.map(_._1) === Seq(missing))
    writeShard(src, "nope.json.gz", Seq("""{"text":"late shard"}"""))
    val r5 = Corpus.ingestFromManifest(spark, Seq(missing), out)
    assert(r5.fetched === Seq(missing) && r5.failed.isEmpty)
    assert(Corpus.readJsonl(spark, Seq(out)).count() === 4L)
    // duplicate target basenames refuse loudly
    intercept[IllegalArgumentException] {
      Corpus.ingestFromManifest(spark,
        Seq(s"file://$src/s0.json.gz", s"file://elsewhere/s0.json.gz"), out)
    }
    // the network fetcher is a documented stub that fails loudly
    val rs = Corpus.ingestFromManifest(spark, Seq(s"file://$src/s0.json.gz"),
      Files.createTempDirectory("fetch_stub").toString,
      new Corpus.HttpAuthFetcher())
    assert(rs.failed.size === 1 &&
      rs.failed.head._2.contains("UnsupportedOperationException"))
  }

  test("fetch subcommand: url-list file in, mirrored shards + resume out") {
    val src = Files.createTempDirectory("fetch_cli_src")
    val out = Files.createTempDirectory("fetch_cli_out").toString
    writeShard(src, "c0.json.gz", Seq("""{"text":"cli zero"}"""))
    writeShard(src, "c1.json.gz", Seq("""{"text":"cli one"}"""))
    val listFile = src.resolve("urls.txt")
    Files.write(listFile, Seq(
      "# stack_v1.2_urls.txt shape",
      s"file://$src/c0.json.gz",
      "",
      s"file://$src/c1.json.gz").mkString("\n").getBytes("UTF-8"))
    Cli.run(spark, Array("fetch", listFile.toString, "--out", out))
    assert(Corpus.readJsonl(spark, Seq(out)).select("text")
      .collect().map(_.getString(0)).toSet === Set("cli zero", "cli one"))
    // rerun resumes (no re-fetch, no error)
    Cli.run(spark, Array("fetch", listFile.toString, "--out", out))
    // a list entry that cannot be fetched fails LOUDLY after reporting
    Files.write(listFile, (s"file://$src/absent.json.gz" + "\n").getBytes("UTF-8"))
    val e = intercept[RuntimeException] {
      Cli.run(spark, Array("fetch", listFile.toString, "--out", out))
    }
    assert(e.getMessage.contains("failed"), e.getMessage)
  }
}
