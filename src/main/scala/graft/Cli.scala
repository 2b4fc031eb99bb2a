package graft

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{NgramOps, SearchOps}
import graft.sources.Corpus

/** CLI entry point with the reference's subcommand grammar (reference
  * src/main.rs:23-82), so CLI users can switch invocation-for-invocation:
  *
  *   runMain graft.Cli topk PATH... --ngram 3 --topk 20 [--limit N]
  *     [--file-limit N] [--out FILE] [--force]
  *     [--approx [--width W] [--hashes D] [--seed S] [--threshold T]]
  *   runMain graft.Cli botk PATH... --ngram 3 --topk 20
  *   runMain graft.Cli count PATH... --search "The" --search "and the"
  *     [--analyzed]     // ES standard-analyzer fold (any text subcommand)
  *   runMain graft.Cli search PATH... --pattern "re+gex" [--with-locations]
  *     [--locations-limit N]
  *   runMain graft.Cli stats PATH...
  *   runMain graft.Cli unique PATH... --ngram 3 [--approx]
  *   runMain graft.Cli dedup PATH... [--out DIR]            // keep-first by text hash
  *     [--state DIR --out DIR]          // incremental: drop docs already
  *                                      // admitted by PAST invocations,
  *                                      // then extend the hash state
  *   runMain graft.Cli decontaminate PATH... --bench PATH [--out DIR]
  *     [--broadcast]                    // exact via broadcast sorted-hash
  *                                      // probe: zero shuffle either side
  *     [--spans K]                      // cut quoted spans, keep the docs
  *     [--minhash-table T [--threshold J] [--rebuild-index]]  // fuzzy,
  *                                      // off the persisted band-row index
  *     [--follow DIR [--threshold J]]   // incremental: each invocation
  *                                      // decontaminates only NEW shards
  *                                      // (manifest → DIR/data/batch-*);
  *                                      // J = fuzzy, one band probe per doc
  *                                      // (--threshold is refused without
  *                                      // --minhash-table or --follow)
  *   runMain graft.Cli contaminate PATH... --bench PATH [--out DIR]
  *     [--field COL]                    // phrase column (default text)
  *     [--per-phrase]                   // per-phrase count rows, not the card
  *     [--fields q,a]                   // PAIRED examples: a doc counts only
  *                                      // holding ALL of a row's fields
  *     [--templates FILE.tsv]           // promptsource {{field}} templates
  *                                      // rendered against the bench rows
  *     [--slop N]                       // insertion-budget slop (battery-scale)
  *   runMain graft.Cli diff NEW_PATH... --old OLD_PATH [--docs] [--out DIR]
  *     [--divergence [--terms K]]       // distribution drift (KL/JS)
  *   runMain graft.Cli index PATH... [--table T] [--search P]...
  *     [--follow DIR]                   // incremental: upsert only NEW
  *                                      // shards' postings (manifest at
  *                                      // DIR/manifest), then run queries
  *     [--search-prefix P]... [--regexp RE] [--wildcard W] [--slop N]
  *     [--fuzzy TERM [--max-edits N] [--prefix-len N]]
  *     [--more-like-doc ID | --more-like-text "..." [--mlt-terms N] [--topk K]]
  *     [--significant-for "phrase" [--heuristic jlh|chi2|mi]
  *       [--min-doc-count N] [--topk K]]
  *   runMain graft.Cli vocab PATH... [--checkpoints K]
  *   runMain graft.Cli embed PATH... [--dim D] [--md5] [--out DIR]
  *   runMain graft.Cli ann PATH... --table T [--dim D] [--step N]
  *     [--buckets B] [--force]                  // build the IVF index
  *   runMain graft.Cli ann PATH... --select-diverse K [--dim D]
  *                        // k-center diversity exemplars (no table)
  *   runMain graft.Cli ann PATH... --cluster-sample N [--step S] [--dim D]
  *                        // up to N docs per embedding cluster (no table)
  *   runMain graft.Cli ann --table T --query-text "..." [--topk K]
  *     [--nprobe N] PATH...                     // semantic search
  *   runMain graft.Cli ann --table T --calibrate TARGET
  *     [--nprobes 1,2,4,8] [--sample-every N] [--topk K]
  *                        // recall/cost curve off the saved table; the
  *                        // cheapest nprobe meeting TARGET is marked
  *   runMain graft.Cli ann DROP_PATH... --table T --follow DIR
  *     [--step N] [--buckets B] [--query-text "..."]
  *                        // incremental: embed + upsert only NEW shards
  *                        // into the persisted IVF index (centroids
  *                        // frozen from the first batch)
  *   runMain graft.Cli sample PATH... (--fraction F | --mix SRC=F... |
  *     --budget SRC=TOKENS... | --upsample SRC=WEIGHT... --token-budget N)
  *     [--stratum-col C] [--default-fraction F]
  *   runMain graft.Cli fetch URL_LIST_FILE... --out DIR
  *                        // mirror a stack-urls.txt manifest into DIR:
  *                        // one task per shard, _fetch_manifest.txt
  *                        // resume (failed shards retry on rerun);
  *                        // file:// lists work out of the box, the
  *                        // authenticated-HTTP fetcher is a documented
  *                        // stub (no egress here)
  *   runMain graft.Cli ingest DROP_PATH... --follow STATE_DIR
  *     [--quality gopher|fineweb|none]    // quality gate (default gopher)
  *     [--bench PATH [--threshold J]]     // decontamination (exact; J = fuzzy)
  *     [--table T [--buckets B]]          // also upsert an inverted index
  *                        // the COMPOSED incremental pipeline: each
  *                        // invocation quality-gates, dedups (vs durable
  *                        // hash state), decontaminates and indexes ONLY
  *                        // shards that arrived since the last one; the
  *                        // state dir accumulates the clean corpus under
  *                        // data/batch-* (crash-safe, replay-convergent)
  *
  * Counts are EXACT by default (Spark's distributed exact aggregation
  * replaces the shared-memory sketch); `topk --approx` restores the
  * reference's sketch contract — merged count-min estimates as `≤` upper
  * bounds with `--threshold` pruning. Top-k/bot-k rows print as the
  * reference's JSONL {"tokens","string","count","rank"} records.
  */
object Cli {

  private case class Args(paths: Seq[String], flags: Map[String, Seq[String]])

  private def parse(argv: Seq[String]): Args = {
    val flags = scala.collection.mutable.Map.empty[String, Seq[String]]
    val paths = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    val boolFlags = Set("--force", "--approx", "--with-locations", "--json", "--u64", "--docs", "--divergence", "--analyzed", "--fix-mojibake", "--md5", "--broadcast", "--per-phrase", "--lucene-slop", "--profile", "--rebuild-index")
    while (i < argv.length) {
      val a = argv(i)
      if (a.startsWith("--")) {
        if (boolFlags(a)) { flags(a) = flags.getOrElse(a, Nil) :+ "true"; i += 1 }
        else { flags(a) = flags.getOrElse(a, Nil) :+ argv(i + 1); i += 2 }
      } else { paths += a; i += 1 }
    }
    Args(paths.toSeq, flags.toMap)
  }

  private def jsonEscape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** The reference's topk JSONL record (src/cmd/topk.rs:303-309). */
  private def printRanked(df: DataFrame): Unit =
    df.collect().zipWithIndex.foreach { case (r, i) =>
      val s = r.getString(0); val c = r.getLong(1)
      val toks = s.split(" ").map(t => "\"" + jsonEscape(t) + "\"").mkString("[", ",", "]")
      println(s"""{"tokens":$toks,"string":"${jsonEscape(s)}","count":$c,"rank":${i + 1}}""")
    }

  /** [[search.Follow.idMode]]'s `allHaveIds` for `df`: None when it has
    * no rows, else whether every row carries a non-null `id`. One job
    * answers both questions a batch needs: a top-1 with null ids sorted
    * first (a global aggregate would add a shuffle stage, i.e. a second
    * job).
    */
  private def idPresence(df: DataFrame): Option[Boolean] =
    df.select(col("id").isNull.as("missing")).orderBy(col("missing").desc)
      .head(1).headOption.map(!_.getBoolean(0))

  /** The pipeline's TEXT projections in their contractual order: mojibake
    * repair FIRST (analysis would strip the C1 evidence the latin-1
    * flavor needs), then ES-standard analysis. Single source of truth —
    * document reads, secondary corpora, and pinned query folds must all
    * normalize through this one sequence or they silently stop matching
    * each other.
    */
  private def textProjections(df: DataFrame, fixMojibake: Boolean,
                              analyze: Boolean): DataFrame = {
    val d1 = if (fixMojibake) df.withColumn("text",
      operators.TextQuality.fixMojibake(col("text"))) else df
    if (analyze) d1.withColumn("text",
      graft.functions.TextFunctions.esAnalyzeText(col("text")))
    else d1
  }

  /** Read shards with [[textProjections]] under explicitly pinned values
    * rather than session flags: every batch of a --follow state dir must
    * normalize identically.
    */
  private def readProjected(spark: SparkSession, paths: Seq[String],
                            fixMojibake: Boolean, analyze: Boolean): DataFrame =
    textProjections(Corpus.readJsonl(spark, paths), fixMojibake, analyze)

  /** A claimed batch of `index|ann --follow`, read under the pinned
    * projections and keyed by the state dir's pinned id mode: the corpus
    * `id`, or the `{md5(full path)}-{line}` id (two drop-dir shards
    * sharing a basename must not collide). None for a batch without rows,
    * which pins nothing and must not pay an upsert's corpus-scale live
    * rewrite to append zero documents.
    */
  private def keyedBatch(spark: SparkSession, stateDir: String,
                         shards: Seq[String], cfg: Map[String, String],
                         cmd: String): Option[(DataFrame, String)] = {
    val df = readProjected(spark, shards,
      cfg("fixMojibake").toBoolean, cfg("analyzed").toBoolean)
    val ids = idPresence(df)
    ids.map { _ =>
      val fs = search.Follow.stateFs(spark, stateDir)
      if (search.Follow.idMode(fs, stateDir, ids, cmd) == "id") (df, "id")
      else (Corpus.withFileLineId(df, "__id", fullPath = true), "__id")
    }
  }

  private def dataBatches(fs: FileSystem, stateDir: String): Seq[FileStatus] =
    Option(fs.globStatus(new Path(s"$stateDir/data", "batch-*"))).toSeq.flatten

  /** Write one claimed batch of clean corpus to
    * `data/batch-<seq>-<digest of its shards>` under the state dir and
    * return the dir: the batch stage `ingest` and `decontaminate --follow`
    * share. The shards are read under the pinned projections; `ingest`
    * quality-gates them and drops docs whose text hash is in `hashState`;
    * both then drop docs of the `benchPaths` benchmark, exactly (md5 of
    * the text) or, with `fuzzyT`, by MinHash Jaccard. The write is
    * overwrite-mode and gated on `_SUCCESS`: a replay of the claim
    * recomputes an unfinished dir against unchanged hash state and skips a
    * durable one, so its part files (and ids derived from their paths)
    * stay stable.
    */
  private def writeCleanBatch(spark: SparkSession, b: search.Follow.Batch,
                              stateDir: String, cmd: String, fixMojibake: Boolean,
                              analyzed: Boolean, uax: Boolean, quality: String,
                              hashState: Option[String], benchPaths: Seq[String],
                              fuzzyT: Option[Double]): String = {
    val digest = search.Follow.md5Hex(b.shards.mkString("\n")).take(16)
    val batchDir = f"$stateDir/data/batch-${b.seq}%06d-$digest"
    if (search.Follow.stateFs(spark, stateDir).exists(new Path(batchDir, "_SUCCESS")))
      System.err.println(s"$cmd: batch already durable at $batchDir — " +
        "resuming its remaining steps")
    else {
      val dfA = readProjected(spark, b.shards, fixMojibake, analyzed)
      val corpusCols = dfA.columns.toSeq
      // text-less docs are dropped before dedup — a training pipeline has
      // no use for them, and null text would collapse to one hash-state
      // key; decontamination alone keeps them, as one-shot
      // `decontaminate` does
      val docs = if (hashState.isEmpty) dfA else dfA.where(col("text").isNotNull)
      // full-path synthetic row key: stable across replays, no basename
      // collisions across drop-dir batches
      val keyed =
        if (quality == "none" && hashState.isEmpty) docs
        else Corpus.withFileLineId(docs, "__iid", fullPath = true)
      val gated =
        if (quality == "none") keyed
        else operators.TextQuality.gate(keyed, "__iid", "text",
          fineWeb = quality == "fineweb")
      val deduped = hashState.fold(gated)(h => operators.Dedup
        .dedupIncremental(gated, md5(col("text")), Seq(col("__iid")), h))
      val cleaned =
        if (benchPaths.isEmpty) deduped
        else {
          val bench = readProjected(spark, benchPaths, fixMojibake, analyzed)
          fuzzyT match {
            case Some(t) => operators.Dedup.decontaminateFuzzy(deduped, "text",
              bench, "text", t, uax29 = uax)
            case None => operators.Dedup.decontaminate(deduped,
              md5(col("text")), bench, md5(col("text")))
          }
        }
      Corpus.writeJsonl(cleaned.select(corpusCols.map(col): _*),
        batchDir, force = true)
    }
    batchDir
  }

  def main(argv: Array[String]): Unit = {
    require(argv.nonEmpty, "usage: graft.Cli <topk|botk|count|search|stats|unique|dedup|decontaminate|contaminate|diff|report|domains|grep|langid|index|vocab|sample|consolidate|ingest|fetch|help> PATH... [flags] — `help` documents the --conf session dials (recall/speed)")
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, argv) finally spark.stop()
  }

  /** The whole CLI against a caller-owned session — what [[main]] wraps
    * and what tests drive (main's `spark.stop()` would kill a shared
    * test session).
    */
  private[graft] def run(spark: SparkSession, argv: Array[String]): Unit = {
    val cmd = argv.head
    val a = parse(argv.toSeq.drop(1))
    def flag(n: String): Option[String] = a.flags.get(n).map(_.last)
    def flagAll(n: String): Seq[String] = a.flags.getOrElse(n, Nil)
    def intFlag(n: String, d: Int): Int = flag(n).map(_.toInt).getOrElse(d)

    // --conf k=v (repeatable): session dials for every command — the
    // documented graft.* knobs (graft.ann.coarseGate/.coarseProbes — the
    // sub-linear centroid-assignment gate and its recall dial) plus any
    // runtime-settable spark.* conf, applied before dispatch
    flagAll("--conf").foreach { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty && v.nonEmpty =>
          // graft.* dials are a closed set — a typo'd key would silently
          // no-op the dial the user believes is set, and a non-integer
          // value would surface as a bare NumberFormatException deep in
          // plan construction; both fail HERE, naming the flag
          val graftDials = Set(operators.Similarity.CoarseGateConf,
            operators.Similarity.CoarseProbesConf,
            operators.Similarity.MaxGatheredCentroidsConf,
            search.AnnIndex.BalanceGuardRatioConf)
          if (k.startsWith("graft.")) {
            if (!graftDials(k)) sys.error(s"--conf: unknown graft dial " +
              s"'$k' (known: ${graftDials.toSeq.sorted.mkString(", ")})")
            // the guard ratio is a double (20.0 = default); the rest are
            // integer counts
            if (k == search.AnnIndex.BalanceGuardRatioConf) {
              if (scala.util.Try(v.toDouble).isFailure)
                sys.error(s"--conf: $k expects a number, got '$v'")
            } else if (scala.util.Try(v.toInt).isFailure)
              sys.error(s"--conf: $k expects an integer, got '$v'")
          }
          spark.conf.set(k, v)
        case _ => sys.error(s"--conf expects key=value with a non-empty " +
          s"key and value, got '$kv'")
      }
    }

    // the incremental modes claim and record whole shards: a shard read
    // in part would be recorded as processed
    require(!a.flags.contains("--follow") ||
      (flag("--limit").isEmpty && flag("--file-limit").isEmpty),
      s"$cmd --follow reads whole shards (no --limit/--file-limit)")
    // LAZY: the --follow commands (ingest, ann/index --follow) read fresh
    // shards themselves and must not crash on an empty drop glob — the
    // routine empty-poll case — just because this shared read resolves
    // eagerly (spark.read.json throws Path-does-not-exist at construction)
    lazy val readDocs = Corpus.readJsonl(spark, a.paths,
      perFileLimit = flag("--limit").map(_.toInt),
      fileLimit = flag("--file-limit").map(_.toInt))
    // --fix-mojibake: ftfy-style encoding repair as a projection every
    // subcommand inherits (the per-document fix the reference's mC4 prep
    // applies); runs FIRST — analysis/normalization would strip the C1
    // evidence the latin-1 flavor needs
    val fixMoji = a.flags.contains("--fix-mojibake")
    // --analyzed: run the command over ES-standard-analyzed text (the
    // reference index's write-time analysis) — a projection, so every
    // subcommand inherits it; query strings fold via analyzePhrase below
    val analyzed = a.flags.contains("--analyzed")
    lazy val docs = textProjections(readDocs, fixMoji, analyzed)
    def foldQuery(s: String): String =
      if (analyzed) search.Searcher.analyzePhrase(s) else s
    // secondary corpora (--bench / --old / --refresh-old) fold through the
    // SAME analyzer as the primary — comparing analyzed text against raw
    // text would silently match nothing (hashes/diffs keyed on text)
    def readSecondary(paths: Seq[String]): DataFrame =
      textProjections(Corpus.readJsonl(spark, paths), fixMoji, analyzed)

    // key docs by the corpus's own `id` field when it has one (stable
    // across snapshots — what index --refresh-old's diff pairs on),
    // falling back to the `{file}-{line}` synthetic id
    def keyedById(df: DataFrame): (DataFrame, String) =
      if (!df.where(col("id").isNotNull).isEmpty) (df, "id")
      else (Corpus.withFileLineId(df, "__id"), "__id")

    val out = flag("--out")
    def deliver(df: DataFrame, ranked: Boolean): Unit = out match {
      case Some(path) => Corpus.writeJsonl(df, path, force = a.flags.contains("--force"))
      case None => if (ranked) printRanked(df) else df.show(1000, truncate = false)
    }

    // the text dials every --follow state dir pins: an omitted
    // presence-only flag ADOPTS the pin (the maintenance workflow);
    // passing it against a false pin clashes
    val textPins = Seq(
      ("tokenizer", flag("--tokenizer"), "unicode"),
      ("analyzed", if (analyzed) Some("true") else None, "false"),
      ("fixMojibake", if (fixMoji) Some("true") else None, "false"))

    // reference -t/--tokenizer: "unicode" (default, UAX-29) or
    // "whitespace"; HF-pretrained names have no offline equivalent here —
    // train a corpus BPE via the library (TextQuality.bpeTrain) instead
    val uax = flag("--tokenizer") match {
      case None | Some("unicode") => true
      case Some("whitespace") => false
      case Some(other) => sys.error(
        s"unsupported --tokenizer '$other' (unicode | whitespace)")
    }

    cmd match {
      case "help" =>
        println(
          """graft.Cli <command> PATH... [flags]
            |commands: topk botk count search stats unique dedup
            |  decontaminate contaminate diff report domains grep langid
            |  index vocab sample embed ann ingest fetch consolidate help
            |
            |session dials (--conf key=value, repeatable; graft.* keys are
            |validated here — a typo fails loudly instead of no-opping):
            |  graft.ann.coarseGate    centroid count above which nearest-
            |                          centroid assignment switches to the
            |                          two-level O(sqrt(C)) kernel
            |                          (default 4096)
            |  graft.ann.coarseProbes  RECALL dial for the two-level
            |                          kernel. <= 0 (default) probes EVERY
            |                          coarse cell: bit-identical results
            |                          to the flat kernel at any centroid
            |                          count — engaging the gate never
            |                          changes results until you set this.
            |                          Small positive values trade recall
            |                          for speed: probes ~ sqrt(C) is the
            |                          parity point; measured at 12.5k
            |                          centroids, probes=4 gave 5.7-6x
            |                          assignment speedup at 91.6% bucket
            |                          agreement on planted clusters
            |                          (SCALE.md, two-level IVF assignment
            |                          row). Affects ann
            |                          index builds/queries, dedup
            |                          --semantic, sample --cluster.
            |  graft.ann.maxGatheredCentroids
            |                          driver gather cap for centroid side
            |                          tables (over-cap persisted indexes
            |                          stay queryable via a join fallback)
            |  graft.ann.balanceGuardRatio
            |                          IVF build-time bucket-balance
            |                          guard: when the largest bucket
            |                          exceeds this multiple of the even
            |                          split (default 20.0; <= 0
            |                          disables), centroid selection is
            |                          rerun (decorrelated reseed + 2
            |                          k-means rounds) and the index
            |                          rewritten — a degenerate centroid
            |                          sample otherwise ships an index
            |                          whose queries scan corpus-sized
            |                          buckets (measured 18x cliff at 2M
            |                          vectors; recovered to 3.6 s)
            |""".stripMargin)
      case "topk" =>
        val n = intFlag("--ngram", 3)
        val k = intFlag("--topk", 20)
        // --approx: the reference's sketch contract (counts are ≤ upper
        // bounds, --threshold prunes); --hashes/--seed map directly,
        // --width replaces the byte-budget --size
        val df =
          if (a.flags.contains("--approx"))
            NgramOps.topKApprox(docs, "text", n, k,
              width = intFlag("--width", 1 << 18), depth = intFlag("--hashes", 5),
              seed = intFlag("--seed", 42),
              threshold = flag("--threshold").map(_.toLong).getOrElse(1L),
              uax29 = uax)
          else NgramOps.topK(docs, "text", n, k, uax29 = uax)
        deliver(df, ranked = true)
      case "botk" =>
        deliver(NgramOps.botK(docs, "text", intFlag("--ngram", 3), intFlag("--topk", 20),
          uax29 = uax), ranked = true)
      case "count" =>
        deliver(NgramOps.countPhrases(docs, "text", flagAll("--search").map(foldQuery), uax29 = uax),
          ranked = false)
      case "search" =>
        if (a.flags.contains("--with-locations"))
          deliver(SearchOps.regexLocations(docs, "text", "url", flagAll("--pattern"),
            flag("--locations-limit").map(_.toInt)), ranked = false)
        else deliver(NgramOps.searchRegex(docs, "text", flagAll("--pattern")), ranked = false)
      case "stats" =>
        deliver(NgramOps.stats(docs, "text", uax29 = uax), ranked = false)
      case "unique" =>
        val n = intFlag("--ngram", 3)
        deliver(if (a.flags.contains("--approx")) NgramOps.uniqueApprox(docs, "text", n, uax29 = uax)
          else NgramOps.uniqueExact(docs, "text", n, uax29 = uax), ranked = false)
      // reference helper_scripts/deduplicate_by_hash.py as a subcommand:
      // keep the first occurrence of each text hash in (file, line) order
      case "dedup" =>
        val withPos = docs.withColumn("__file", input_file_name())
          .withColumn("__line", monotonically_increasing_id())
        val fresh = operators.Dedup.keepFirst(withPos, md5(col("text")),
          Seq(col("__file"), col("__line"))).drop("__file", "__line")
        // --state DIR: incremental ingestion — also drop docs whose hash a
        // PREVIOUS invocation already admitted, then extend the durable
        // hash state (the library's ingestIncrementalTo cycle with JSONL
        // output). Crash-safe order: survivors are written to --out FIRST
        // and the state append derives its keys from the files as written,
        // so a crash between the two re-runs cleanly. The overwrite that
        // makes the replay converge is gated on a SNAPSHOT marker in the
        // state dir: the same --out dir reused for a DIFFERENT snapshot
        // (whose survivors are already hash-committed) refuses instead of
        // silently destroying the earlier snapshot's only copy.
        flag("--state") match {
          case Some(state) =>
            val outDir = out.getOrElse(
              sys.error("dedup --state needs --out DIR (durable survivors " +
                "must land before the state extends)"))
            val hconf = spark.sparkContext.hadoopConfiguration
            val sfs = new Path(state).getFileSystem(hconf)
            val snapshotId = search.Follow.snapshotId(hconf, a.paths, outDir)
            // sibling dir: the state path itself is the hash PARQUET
            // table — a foreign subdir would break its schema inference
            val markP = new Path(state + "__outmarks", search.Follow.md5Hex(outDir))
            val marker = search.Swap.readState(sfs, markP)
              .flatMap(_.headOption).map(_.trim)
            marker.foreach { prev =>
              if (prev != snapshotId) sys.error(
                s"dedup --state: --out $outDir was written by a DIFFERENT " +
                  s"snapshot (its survivors are already in the hash state) — " +
                  "give each snapshot its own --out dir")
            }
            // the overwrite below is only implicitly safe for a REPLAY of
            // this exact snapshot (marker matches). With no marker, a
            // pre-existing non-empty --out was never claimed by this state
            // dir — destroying it needs the same explicit --force the
            // plain --out path requires
            if (marker.isEmpty && !a.flags.contains("--force")) {
              val outP = new Path(outDir)
              val ofs = outP.getFileSystem(hconf)
              if (ofs.exists(outP) && ofs.listStatus(outP).nonEmpty) sys.error(
                s"dedup --state: --out $outDir exists and is not empty, and " +
                  "no snapshot marker claims it for this state dir — pass " +
                  "--force to overwrite")
            }
            search.Swap.writeState(sfs, markP, Seq(snapshotId))
            val survivors =
              operators.Dedup.dedupIncremental(withPos, md5(col("text")),
                Seq(col("__file"), col("__line")), state)
                .drop("__file", "__line")
            Corpus.writeJsonl(survivors, outDir, force = true)
            operators.Dedup.appendHashState(
              Corpus.readJsonl(spark, Seq(outDir)), md5(col("text")), state)
            System.err.println(s"ingested: survivors in $outDir, state extended at $state")
          case None => deliver(fresh, ranked = false)
        }
      // extension: corpus snapshot diff — PATH... is the NEW snapshot, the
      // --old corpus the previous release; prints the status rollup (or a
      // per-doc work list with --docs). Docs pair on the corpus `id` field
      // when both snapshots carry one, else on the reference-style
      // `{file}-{line}` synthetic id (Corpus.withFileLineId).
      case "diff" =>
        val old = readSecondary(flagAll("--old").map(p => p: String))
        val bothHaveIds = Seq(old, docs).forall(df =>
          !df.where(col("id").isNotNull).isEmpty)
        def keyed(df: DataFrame): DataFrame =
          if (bothHaveIds) df else Corpus.withFileLineId(df)
        deliver(
          // --divergence: distribution-wise reading of the same pair —
          // smoothed KL/JS over the union unigram vocab (--terms K lists
          // the top drifting terms instead of the one-row summary);
          // whitespace unigrams like every TextQuality surface
          if (a.flags.contains("--divergence"))
            flag("--terms") match {
              case Some(k) => operators.TextQuality.divergenceTopTerms(
                old, docs, "text", k.toInt)
              case None => operators.TextQuality.unigramDivergence(
                old, docs, "text")
            }
          else if (a.flags.contains("--docs"))
            operators.CorpusDiff.diffDocs(keyed(old), keyed(docs), "id", "text")
          else
            operators.CorpusDiff.diffSummary(keyed(old), keyed(docs), "id", "text")
              .orderBy("status"),
          ranked = false)

      // reference wimbd/text_and_url_overlaps/decontaminate.py: drop docs
      // whose text hash appears in the --bench corpus
      case "decontaminate" =>
        val bench = readSecondary(flagAll("--bench").map(p => p: String))
        // --spans k: surgical mode — cut k-token benchmark spans out of
        // each document instead of dropping contaminated documents;
        // --minhash-table T: fuzzy mode off the PERSISTED band-row index
        // (signed here on first use, reused — and band-key-pruned — by
        // every later benchmark; --rebuild-index forces a re-sign)
        // --follow DIR: INCREMENTAL mode — the input paths are a watched
        // drop directory; each invocation decontaminates only shards that
        // arrived since the last one (the resume loop of search.Follow)
        // into DIR/data/batch-*, ingest's batch layout. Exact by default
        // (md5 blocklist anti join); --threshold J switches to fuzzy
        // (MinHash band-key joins — the J8 decision, one batch at a time).
        // The ingest-time guard a training pipeline runs on every crawl
        // drop.
        flag("--follow") match { case Some(stateDir) =>
          val cmdF = "decontaminate --follow"
          require(flag("--spans").isEmpty && flag("--minhash-table").isEmpty,
            "--follow composes with --threshold only (not --spans/--minhash-table)")
          val fs = search.Follow.stateFs(spark, stateDir)
          // the earlier layout resumed through a Structured Streaming
          // checkpoint; its data/ holds no batch dirs or manifest, so the
          // loop would decontaminate every shard a second time
          if (fs.exists(new Path(stateDir, "ckpt")))
            sys.error(s"$cmdF: $stateDir holds ckpt/, a streaming " +
              "checkpoint of the old state layout, which this version " +
              "does not resume — give --follow a new state dir")
          val cfg = search.Follow.pins(fs, stateDir, cmdF,
            textPins :+ ("threshold", flag("--threshold"), "none"))
          search.Follow.run(spark, cmdF, stateDir, a.paths,
              nextSeq = dataBatches(fs, stateDir).size) { b =>
            val dir = writeCleanBatch(spark, b, stateDir, cmdF,
              cfg("fixMojibake").toBoolean, cfg("analyzed").toBoolean,
              cfg("tokenizer") == "unicode", quality = "none",
              hashState = None, flagAll("--bench"),
              Some(cfg("threshold")).filter(_ != "none").map(_.toDouble))
            System.err.println(
              s"$cmdF: ${b.shards.size} new shard(s) decontaminated into $dir")
          }
        case None =>
        // the one-shot fuzzy mode is the persisted index: without it the
        // exact anti join below would run and ignore the threshold
        require(flag("--threshold").isEmpty || flag("--minhash-table").nonEmpty,
          "decontaminate --threshold J is fuzzy decontamination, which runs " +
            "with --minhash-table T or --follow DIR")
        require(flag("--spans").isEmpty || flag("--minhash-table").isEmpty,
          "decontaminate --spans K cuts contaminated spans and --minhash-table T " +
            "drops near-duplicate documents: give one of them")
        (flag("--spans"), flag("--minhash-table")) match {
          case (Some(k), _) =>
            deliver(operators.Dedup.removeContaminatedSpans(
              Corpus.withFileLineId(docs, "__id"), "__id", "text",
              bench, "text", k.toInt, uax29 = uax), ranked = false)
          case (None, Some(table)) =>
            val keyed = Corpus.withFileLineId(docs, "__id")
            val b = Corpus.withFileLineId(bench, "__bid")
            if (a.flags.contains("--rebuild-index"))
              search.Swap.drop(spark, table, s"${table}__meta")
            // a previous CLI invocation's index survives only as
            // warehouse dirs — re-register (and heal) before the
            // existence check
            if (!search.MinHashIndex.registerMinHashIndex(spark, table)) {
              search.MinHashIndex.writeMinHashIndex(keyed, "__id", "text",
                table, uax29 = uax, force = true)
              System.err.println(s"minhash index signed into table $table")
            }
            deliver(search.MinHashIndex.decontaminateIndexed(spark, table,
              keyed, "__id", "text", b, "__bid", "text",
              threshold = flag("--threshold").map(_.toDouble).getOrElse(0.8))
              .drop("__id"), ranked = false)
          case (None, None) =>
            // --broadcast: the J3 sorted-hash tier — benchmark hashes fold
            // to one broadcast long array probed in the corpus scan (zero
            // shuffle of either side; a 64-bit collision can only
            // over-drop). Default stays the exact anti join.
            // xxhash64(NULL) is the SEED (42), not NULL — unguarded, a
            // null-text bench doc would blocklist 42 and drop every
            // null-text corpus doc, diverging from the md5 path's
            // NULL-key-survives family policy. Guard both sides.
            def nnHash(c: org.apache.spark.sql.Column) =
              when(c.isNotNull, xxhash64(c))
            deliver(
              if (a.flags.contains("--broadcast"))
                operators.Dedup.decontaminateBroadcast(docs,
                  nnHash(col("text")), bench, nnHash(col("text")))
              else operators.Dedup.decontaminate(
                docs, md5(col("text")), bench, md5(col("text"))),
              ranked = false)
        }
        }
      // contamination AUDIT (the measurement half of `decontaminate` —
      // reference wimbd/es/corpus_contamination.py and the contamination
      // runner scripts): how much of a benchmark appears in the corpus,
      // WITHOUT rewriting anything. --bench PATH... is the benchmark
      // JSONL; phrases come from its --field column (default text);
      // --fields a,b[,c...] switches to PAIRED examples (a doc counts
      // only if it holds ALL of one row's fields together); --templates
      // FILE.tsv renders promptsource-style {{field}} templates against
      // the benchmark rows (all templates of the shared frame render in
      // ONE pass); --per-phrase emits the per-phrase count rows instead
      // of the summary card. Benchmark rows with a null or empty value in
      // any used field are EXCLUDED (an empty phrase would match every
      // document). Batteries beyond 64 phrases route through the
      // MultiPhrases kernels at slop=0, so a full-benchmark audit is one
      // document walk at ANY slop (the kernels anchor candidates on the
      // first phrase token, which slop never relaxes).
      case "contaminate" =>
        require(flagAll("--bench").nonEmpty, "contaminate needs --bench PATH...")
        require(flag("--templates").isEmpty ||
          (flag("--fields").isEmpty && flag("--field").isEmpty &&
            !a.flags.contains("--per-phrase")),
          "--templates does not compose with --field/--fields/--per-phrase")
        require(flag("--fields").isEmpty ||
          (flag("--field").isEmpty && (!a.flags.contains("--per-phrase") ||
            flag("--follow").nonEmpty)),
          "--fields does not compose with --field/--per-phrase " +
            "(except under --follow, where --per-phrase emits the durable " +
            "per-example rows)")
        // the benchmark's OWN schema (q/a/... example fields live outside
        // the corpus schema readSecondary pins); the analyzer/mojibake
        // projections still fold its text column when one exists, and
        // contaminateFold re-folds every gathered/rendered phrase —
        // mojibake repair THEN the analyzer, the textProjections order —
        // so non-text fields and template literal segments compare
        // projected-vs-projected too (the analyzer is idempotent and
        // mojibake repair converges within its round cap for real
        // mangling depths, so text-column values folding twice is
        // harmless — a ≥4x-mangled pathological text value is the one
        // input where the double fold could out-repair the corpus side)
        val benchRaw = spark.read.json(flagAll("--bench"): _*)
        val bench = if (benchRaw.columns.contains("text"))
          textProjections(benchRaw, fixMoji, analyzed) else benchRaw
        def phraseFold(fix: Boolean, analyze: Boolean)(s: String): String = {
          val repaired = if (fix) graft.functions.Mojibake.fix(s) else s
          if (analyze) search.Searcher.analyzePhrase(repaired) else repaired
        }
        def contaminateFold(s: String): String = phraseFold(fixMoji, analyzed)(s)
        // --fields a,b[,c...]: PAIRED examples
        val fieldsFlag: Option[Seq[String]] = flag("--fields").map { fsv =>
          val names = fsv.split(",").map(_.trim).filter(_.nonEmpty).toSeq
          require(names.length >= 2,
            "--fields wants 2+ comma-separated benchmark columns")
          names
        }
        val slop = intFlag("--slop", 0)
        // --lucene-slop: ES `match_phrase` move-distance semantics (slop 2
        // buys transpositions) instead of the docstring insertion budget —
        // the dialect the index tier's --slop already speaks, now
        // selectable on the scan tier
        val luceneSlop = a.flags.contains("--lucene-slop")
        val benchCap = search.PromptTemplates.MaxRenderedPrompts
        def requireBenchCols(cols: Seq[String], what: String): Unit =
          cols.foreach(c => require(bench.columns.contains(c),
            s"contaminate: benchmark has no '$c' column ($what; an empty " +
              s"JSONL infers no schema; present columns: " +
              s"${bench.columns.mkString(", ")})"))
        def gatherBench(cols: Seq[String],
                        fold: String => String = contaminateFold)
            : Seq[Seq[String]] = {
          requireBenchCols(cols, "a used field")
          val used = cols.map(c => trim(col(c).cast("string")))
          val rows = Sessions.gatherCapped(bench
            .select(used: _*)
            // null/blank RAW values drop before the collect so they
            // neither count against the cap nor reach the driver; the
            // post-fold filter below catches analyzer-stripped values
            .where(used.map(c => c.isNotNull && length(c) > 0)
              .reduce(_ && _)), benchCap)
          require(rows.nonEmpty, s"contaminate: benchmark " +
            s"exceeds $benchCap rows — benchmark corpora must be " +
            "benchmark-sized (they broadcast into the corpus scan)")
          // exclusion runs AFTER the fold: the analyzer can strip a
          // punctuation-only value to "" (the match-everything empty
          // phrase under uax29), and a blank field silently weakens the
          // ALL-fields conjunction — drop the row either way
          rows.get.map(r => cols.indices.map(i => fold(r.getString(i))))
            .filter(_.forall(_.trim.nonEmpty)).map(_.toSeq).toSeq
        }
        // --follow STATE: INCREMENTAL contamination tracking over a drop
        // directory — each invocation counts only shards that arrived
        // since the last and folds them into durable per-phrase totals
        // under STATE/counts, through the resume loop of search.Follow. A
        // batch's partial counts land under counts/batch=<md5 of the
        // sorted claimed shards> (an Overwrite write), so a replay of the
        // claim recomputes the SAME batch id and overwrites instead of
        // double-counting; the report is the sum over batch dirs. The
        // benchmark battery (post-fold, sorted, md5-keyed), fold dials,
        // tokenizer, slop and dialect all PIN on first use — a drifting
        // battery would silently make totals incomparable across
        // invocations.
        flag("--follow") match {
          case Some(stateDir) =>
            require(flag("--templates").isEmpty, "contaminate --follow " +
              "does not support --templates — render once, write the " +
              "prompts as a benchmark column, and pass --field")
            // single-writer per state dir, like every --follow mode: two
            // concurrent invocations can observe overlapping fresh sets
            // and commit the same shard under two different batch ids
            val fs = search.Follow.stateFs(spark, stateDir)
            val fieldNames =
              fieldsFlag.getOrElse(Seq(flag("--field").getOrElse("text")))
            // the fold dials pin FIRST: a maintenance invocation that
            // omits --analyzed/--fix-mojibake must fold the battery under
            // the PINNED values (the documented adopt-the-pin contract) —
            // folding with session flags would shift batteryKey and blame
            // "benchmark drift" for an unchanged benchmark
            val cfg0 = search.Follow.pins(fs, stateDir, "contaminate --follow", textPins ++ Seq(
              ("slop", flag("--slop"), "0"),
              ("luceneSlop", if (luceneSlop) Some("true") else None, "false"),
              ("mode", Some(fieldNames.mkString(",")), fieldNames.mkString(","))))
            // sorted + distinct: example_id/phrase identity must mean the
            // SAME battery entry in every batch, whatever order the
            // benchmark rows collect in
            val battery: Seq[Seq[String]] =
              gatherBench(fieldNames, phraseFold(cfg0("fixMojibake").toBoolean,
                cfg0("analyzed").toBoolean)).map(_.toList).distinct
                .sortBy(_.mkString("\u0000"))
            val batteryKey = search.Follow.md5Hex(
              battery.map(_.mkString("\u0000") + "\n").mkString)
            val cfg = search.Follow.pins(fs, stateDir, "contaminate --follow",
              Seq(("benchKey", Some(batteryKey), batteryKey))) ++ cfg0
            val uaxF = cfg("tokenizer") == "unicode"
            val slopF = cfg("slop").toInt
            val luceneF = cfg("luceneSlop").toBoolean
            val paired = fieldNames.length >= 2
            val countsP = new Path(stateDir, "counts")
            def batchDirs(): Seq[FileStatus] =
              if (!fs.exists(countsP)) Seq.empty
              else fs.listStatus(countsP).toSeq.filter(st =>
                st.isDirectory && st.getPath.getName.startsWith("batch="))
            // seen = manifest ∪ every committed batch's recorded shard
            // list: a batch whose counts landed but whose manifest
            // extension was lost (crash, or a deleted manifest) must not
            // be recounted under a REGROUPED fresh set — that would mint
            // a new batch id holding the same shards and double-count
            val batchShards: Map[String, Seq[String]] =
              batchDirs().flatMap { st =>
                search.Swap.readState(fs, new Path(st.getPath, "_shards"))
                  .map(ls => st.getPath.getName -> ls.filter(_.nonEmpty))
              }.toMap
            // orphan sweep: a batch dir WITHOUT a _shards record is a
            // crash between the counts parquet and the shard record (its
            // counts may be complete, but nothing says WHICH shards they
            // cover, so they can't enter `seen`). It must not linger: if
            // NEW shards arrive before the replay, the recomputed fresh
            // set gets a DIFFERENT batch id, the orphan stays in the
            // totals read AND its shards are recounted under the new id —
            // double-counting. Delete-and-recount converges: the orphan's
            // shards are absent from `seen`, so they re-enter `fresh` and
            // are recounted exactly once (single writer per state dir).
            batchDirs()
              .filterNot(st => batchShards.contains(st.getPath.getName))
              .foreach { st =>
                fs.delete(st.getPath, true)
                System.err.println("contaminate --follow: swept orphan " +
                  s"${st.getPath.getName} (counts without a _shards " +
                  "record — crash debris; its shards will be recounted)")
              }
            // an empty battery counts nothing: its shards stay unclaimed
            search.Follow.run(spark, "contaminate --follow", stateDir,
                if (battery.isEmpty) Nil else a.paths,
                recorded = batchShards.values.flatten.toSet) { b =>
              val batchId = search.Follow.md5Hex(
                b.shards.sorted.map(_ + "\n").mkString)
              val freshDocs = readProjected(spark, b.shards,
                cfg("fixMojibake").toBoolean, cfg("analyzed").toBoolean)
              val batch =
                if (paired)
                  search.Searcher.countPerExample(freshDocs, "text", battery,
                    slopF, uax29 = uaxF, luceneSlop = luceneF)
                else
                  search.Searcher.countPerPhrase(freshDocs, "text",
                    battery.map(_.head), slopF, uax29 = uaxF,
                    luceneSlop = luceneF)
              // order: parquet Overwrite (clears any half-written replay),
              // THEN the _shards record — a crash at any point leaves a
              // state the next run converges from
              batch.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(
                s"$stateDir/counts/batch=$batchId")
              // the orphan sweep's invariant is "a _shards record
              // present ⇒ complete": a PARTIAL shard list would let its
              // unlisted shards be recounted under a new batch id while
              // this batch's counts stay in the totals
              search.Swap.writeState(fs,
                new Path(countsP, s"batch=$batchId/_shards"), b.shards.sorted)
              System.err.println(s"contaminate --follow: ${b.shards.size} new " +
                s"shard(s) counted into $stateDir (batch $batchId)")
            }
            // the durable report: totals over every batch dir (zero-hit
            // battery entries appear in EVERY batch, so the sum keeps them)
            import spark.implicits._
            val keyCol = if (paired) "example_id" else "phrase"
            // existence is re-listed AFTER the sweep/write above: when the
            // sweep deleted the only (orphaned) batch dir and nothing
            // fresh arrived, counts/ exists but is batch-less — a read
            // would throw schema-inference instead of reporting zeros
            val totals =
              if (batchDirs().isEmpty)
                (if (paired) Seq.empty[(Long, Long)].toDF(keyCol, "n_docs")
                 else Seq.empty[(String, Long)].toDF(keyCol, "n_docs"))
              else spark.read.parquet(countsP.toString)
                .groupBy(keyCol).agg(sum("n_docs").cast("long").as("n_docs"))
            deliver(
              if (a.flags.contains("--per-phrase"))
                totals.orderBy(keyCol)
              else totals.agg(
                count(lit(1)).as(if (paired) "n_examples" else "n_phrases"),
                coalesce(sum(when(col("n_docs") > 0, 1L).otherwise(0L)),
                  lit(0L)).cast("long").as("n_contaminated"),
                coalesce(round(avg(when(col("n_docs") > 0, 1.0)
                  .otherwise(0.0)), 6), lit(0.0)).as("pct")),
              ranked = false)
          case None =>
        val report = flag("--templates") match {
          case Some(tsv) =>
            val tpls = search.PromptTemplates.parseTsvFile(spark, tsv)
            require(tpls.nonEmpty, s"no templates parsed from $tsv")
            tpls.foreach(t => requireBenchCols(t.fields,
              s"referenced by template '${t.name}'"))
            search.PromptTemplates.contaminationFromTemplates(docs, "text",
              tpls.map(_ -> bench), slop, uax29 = uax,
              foldPhrase = contaminateFold,
              dropBlankPrompts = true,
              luceneSlop = luceneSlop).orderBy("benchmark")
          case None => fieldsFlag match {
            case Some(names) =>
              val examples = gatherBench(names)
              if (examples.isEmpty) {
                // the LIBRARY contract is an empty frame on both tiers
                // (spec-pinned); the CLI card stays one-row like the
                // single-field path
                import spark.implicits._
                Seq((0L, 0L, 0.0)).toDF("n_examples", "n_contaminated", "pct")
              } else search.Searcher.pairedContamination(docs, "text",
                examples, slop, uax29 = uax, luceneSlop = luceneSlop)
            case None =>
              val phrases =
                gatherBench(Seq(flag("--field").getOrElse("text"))).map(_.head)
              if (a.flags.contains("--per-phrase"))
                search.Searcher.countPerPhrase(docs, "text", phrases, slop,
                  uax29 = uax, luceneSlop = luceneSlop).orderBy("phrase")
              else search.Searcher.contamination(docs, "text", phrases, slop,
                uax29 = uax, luceneSlop = luceneSlop)
          }
        }
        deliver(report, ranked = false)
        }
      // the "what's in my big data" report card (counts, size, dup rate,
      // language mix) — the paper's per-corpus table from the CLI
      case "report" =>
        deliver(Pipeline.corpusReport(docs, "text"), ranked = false)
      // per-domain triage card over `.url` (with `.metadata.url` fallback)
      case "domains" =>
        deliver(Pipeline.domainReport(
          docs.withColumn("__host", parse_url(Corpus.effectiveUrl, lit("HOST"))),
          col("__host"), "text").orderBy(desc("n_docs")), ranked = false)
      // P6 model path from the CLI: Cavnar–Trenkle detected-language
      // histogram over the corpus (profiles from the embedded seeds, or
      // retrained with --train-langcol on a labeled column)
      case "langid" =>
        val profiles = flag("--train-langcol") match {
          case Some(c) => operators.LangId.trainProfiles(docs, "text", c)
          case None => operators.LangId.ctProfiles()
        }
        deliver(operators.LangId.langIdModelCounts(docs, "text", profiles)
          .orderBy(desc("cnt"), asc("pred")), ranked = true)
      // index tier: build the positions-aware inverted index and either
      // persist it bucketed-by-term (--table [--buckets]) or answer phrase
      // queries from it (--search, repeatable; --slop for Lucene slop) —
      // with BOTH --table and --search the query reads the saved table
      // (pruned posting reads), the "index once, query many" posture
      case "index" =>
        // dictionary-level queries: --regexp / --wildcard (Lucene
        // full-term match → per-term df/ttf) and --search-prefix
        // (match_phrase_prefix: trailing token is a prefix)
        val rePat = flag("--regexp")
        // analyzed-field parity matches ES: match_phrase_prefix and
        // more_like_this ANALYZE their query text; term-level queries
        // (regexp / wildcard / fuzzy) do NOT — they match stored terms
        // as-given, so those stay raw even under --analyzed
        val wcPat = flag("--wildcard")
        val fuzzyTerm = flag("--fuzzy")
        val mltDoc = flag("--more-like-doc")
        val hasQuery = Seq("--search", "--search-prefix", "--regexp",
          "--wildcard", "--fuzzy", "--more-like-doc", "--more-like-text",
          "--significant-for").exists(a.flags.contains)
        val table = flag("--table")
        // --refresh-old OLDPATH...: diff-driven maintenance of a saved
        // index table — postings rebuilt only for docs added/changed
        // between the --refresh-old snapshot and PATH..., removed docs'
        // postings deleted (takedown path), crash-safe swap. Snapshots
        // pair on the corpus `id` field when both carry one, else on the
        // `{file}-{line}` synthetic id (same keying as `diff`).
        val refreshOld = flagAll("--refresh-old")
        // the local in-memory catalog forgets managed tables across CLI
        // invocations while the warehouse dir survives — re-register (and
        // heal) a stranded index before declaring it absent (metastore
        // deployments never hit this path)
        def ensureIndexTable(t: String, hint: String): Unit =
          if (!search.InvertedIndex.heal(spark, t, intFlag("--buckets", 64))) sys.error(
            s"index table '$t' does not exist — build it first with " +
              s"`$hint` (same --buckets)")
        // every query flag delivered against one postings frame — shared
        // by the query branch, the post-refresh re-query, and --follow,
        // which pins the tokenizer/analyzer index-wide: there the query
        // must fold and tokenize under the PINNED values, not the session
        // flags, or a maintenance invocation that omits them would probe
        // a whitespace-tokenized index with UAX-29 query terms
        def runIndexQueries(post: DataFrame, uaxQ: Boolean = uax,
                            analyzedQ: Boolean = analyzed): Unit = {
          def foldQ(q: String): String =
            if (analyzedQ) search.Searcher.analyzePhrase(q) else q
          val phrases = flagAll("--search").map(foldQ)
          val prefixPhrases = flagAll("--search-prefix").map(foldQ)
          val mltText = flag("--more-like-text").map(foldQ)
          // ES significant_terms: foreground = docs containing the phrase
          // (analyzed like any phrase query), background = the whole index
          val sigPhrase = flag("--significant-for").map(foldQ)
          val slop = intFlag("--slop", 0)
          if (phrases.nonEmpty) deliver(
            if (slop == 0)
              search.InvertedIndex.phraseHits(post, phrases, uax29 = uaxQ)
            else search.InvertedIndex.countContainingSlop(post, phrases, slop,
              uax29 = uaxQ),
            ranked = false)
          if (prefixPhrases.nonEmpty) deliver(
            search.InvertedIndex.phrasePrefixHits(post, prefixPhrases,
              uax29 = uaxQ, maxExpansions = intFlag("--max-expansions", 50)),
            ranked = false)
          rePat.foreach(p => deliver(
            search.InvertedIndex.termsMatching(post, p).orderBy("term"),
            ranked = false))
          wcPat.foreach(p => deliver(
            search.InvertedIndex.termsMatching(post, p, wildcard = true)
              .orderBy("term"), ranked = false))
          fuzzyTerm.foreach(q => deliver(
            search.InvertedIndex.termsFuzzy(post, q,
              maxEdits = intFlag("--max-edits", 2),
              prefixLength = intFlag("--prefix-len", 0)).orderBy("term"),
            ranked = false))
          // norms: the persisted <table>__norms row when a saved index is
          // being queried (build-time constant — no per-query index-wide
          // aggregate), recomputed from postings for ad hoc corpora
          lazy val norms = table match {
            case Some(t) if spark.catalog.tableExists(t) =>
              search.InvertedIndex.normsOf(spark, t, post)
            case _ => search.InvertedIndex.corpusNormsFromPostings(post)
          }
          sigPhrase.foreach { p =>
            val fg = search.InvertedIndex.docsContainingPhrase(post, Seq(p),
              uax29 = uaxQ).select("doc_id")
            deliver(search.InvertedIndex.significantTerms(post, norms, fg,
              k = intFlag("--topk", 25),
              minDocCount = intFlag("--min-doc-count", 3).toLong,
              heuristic = flag("--heuristic").getOrElse("jlh")),
              ranked = false)
          }
          // ES MLT profile floors, same names/defaults: min_term_freq 2,
          // min_doc_freq 5, max_doc_freq unbounded — the df CEILING is
          // the dial that keeps a stopword-heavy profile from aggregating
          // the whole corpus in the ranking join
          def mltMinTf = intFlag("--mlt-min-tf", 2).toLong
          def mltMinDf = intFlag("--mlt-min-df", 5).toLong
          def mltMaxDf = flag("--mlt-max-df").map(_.toLong)
            .getOrElse(Long.MaxValue)
          mltText.foreach(like =>
            deliver(search.InvertedIndex.moreLikeThisText(post, norms, like,
              uax29 = uaxQ, maxQueryTerms = intFlag("--mlt-terms", 25),
              k = intFlag("--topk", 10), minTermFreq = mltMinTf,
              minDocFreq = mltMinDf, maxDocFreq = mltMaxDf), ranked = false))
          mltDoc.foreach { id =>
            // match the postings' doc_id type: a long-keyed corpus wants a
            // long literal, a string/{file}-{line}-keyed one the raw string
            // (id.toLong would throw or silently compare across types)
            val key: Any = post.schema("doc_id").dataType match {
              case org.apache.spark.sql.types.LongType => id.toLong
              case _ => id
            }
            deliver(search.InvertedIndex.moreLikeThis(post, norms, key,
              maxQueryTerms = intFlag("--mlt-terms", 25),
              k = intFlag("--topk", 10), minTermFreq = mltMinTf,
              minDocFreq = mltMinDf, maxDocFreq = mltMaxDf), ranked = false)
          }
        }
        // --follow DIR: incremental indexing of a drop directory — each
        // invocation tokenizes ONLY shards that arrived since the last one
        // (the resume loop of search.Follow) and upserts their postings
        // into the --table index. Crash-safe end to end: the upsert is the
        // rename-aside swap, and because upsertIndex is idempotent per
        // document, a replay of the claimed shards converges.
        val follow = flag("--follow")
        if (follow.nonEmpty) {
          val stateDir = follow.get
          val t = table.getOrElse(sys.error("index --follow needs --table"))
          val fs = search.Follow.stateFs(spark, stateDir)
          // text normalization and the bucket count are index-wide: a
          // batch tokenized differently (or a heal re-registering with
          // the wrong bucket count — pruning silently breaks) adopts the
          // pinned values when flags are omitted, refuses when they clash
          val cfg = search.Follow.pins(fs, stateDir, "index --follow",
            textPins :+ ("buckets", flag("--buckets"), "64"))
          val uaxF = cfg("tokenizer") == "unicode"
          val buckets = cfg("buckets").toInt
          val haveIndex = search.InvertedIndex.heal(spark, t, buckets)
          search.Follow.run(spark, "index --follow", stateDir, a.paths,
              lostTable = Option.when(!haveIndex)(t)) { b =>
            keyedBatch(spark, stateDir, b.shards, cfg, "index --follow")
              .foreach { case (keyed, idc) =>
                search.InvertedIndex.updateIndex(spark, t, keyed, idc, "text",
                  buckets, uax29 = uaxF, live = haveIndex)
              }
            System.err.println(
              s"index --follow: ${b.shards.size} new shard(s) upserted into $t")
          }
          if (hasQuery) {
            // a no-new-shards invocation in a fresh JVM still has to answer
            // from the surviving warehouse index — under the PINNED
            // tokenizer/analyzer, not the session flags
            ensureIndexTable(t, s"index PATH... --table $t --follow $stateDir")
            runIndexQueries(search.InvertedIndex.readIndex(spark, t),
              uaxQ = uaxF, analyzedQ = cfg("analyzed").toBoolean)
          }
        } else if (refreshOld.nonEmpty) {
          val t = table.getOrElse(sys.error("index --refresh-old needs --table"))
          ensureIndexTable(t, s"index OLDPATH... --table $t")
          val old = readSecondary(refreshOld.map(p => p: String))
          val bothHaveIds = Seq(old, docs).forall(df =>
            !df.where(col("id").isNotNull).isEmpty)
          val (o, n, idc) =
            if (bothHaveIds) (old, docs, "id")
            else (Corpus.withFileLineId(old, "__id"),
              Corpus.withFileLineId(docs, "__id"), "__id")
          // NB: the saved table must have been keyed the same way — the
          // build path below uses keyedById, so it is.
          search.InvertedIndex.refreshIndex(spark, t, o, n, idc, "text",
            intFlag("--buckets", 64), uax29 = uax)
          System.err.println(s"index table $t refreshed")
          if (hasQuery)
            runIndexQueries(search.InvertedIndex.readIndex(spark, t))
        } else if (!hasQuery) {
          val t = table.getOrElse(sys.error(
            "index needs --search phrases and/or --table to persist to"))
          val (keyed, idc) = keyedById(docs)
          search.InvertedIndex.updateIndex(spark, t, keyed, idc, "text",
            intFlag("--buckets", 64), uax29 = uax, live = false,
            force = a.flags.contains("--force"))
          System.err.println(s"index written to table $t")
        } else {
          val post = table match {
            case Some(t) =>
              ensureIndexTable(t, s"index --table $t")
              search.InvertedIndex.readIndex(spark, t)
            case None =>
              val (keyed, idc) = keyedById(docs)
              search.InvertedIndex.postings(keyed, idc, "text", uax29 = uax)
          }
          runIndexQueries(post)
        }
      // extension: the COMPOSED incremental training-data pipeline over a
      // watched drop directory — quality gate → exact dedup vs durable
      // hash state → decontamination vs a benchmark → durable gzip-JSONL
      // batch dir → optional inverted-index upsert, one batch per
      // invocation through the resume loop of search.Follow. The state dir
      // is self-contained: manifest and pending (the loop's processed
      // shards and batch claim), pipeline (pinned config — later
      // invocations must match), hashes (dedup state), data/batch-* (the
      // accumulated clean corpus), idmode/indextable (index keying pins).
      //
      // Crash-safety: a replay runs the claimed batch again. Its batch
      // dir is durable or recomputed (writeCleanBatch), and the hash-state
      // append may repeat — duplicate state keys are harmless to the anti
      // join. Because data/batch-* retains everything, a lost index table
      // is REBUILT from the state dir rather than refused.
      case "ingest" =>
        val stateDir = flag("--follow").getOrElse(
          sys.error("ingest needs --follow STATE_DIR (the pipeline's durable state)"))
        val quality = flag("--quality").getOrElse("gopher")
        require(Set("gopher", "fineweb", "none")(quality),
          s"--quality gopher|fineweb|none, got '$quality'")
        val benchPaths = flagAll("--bench")
        val fuzzyT = flag("--threshold").map(_.toDouble)
        require(fuzzyT.isEmpty || benchPaths.nonEmpty, "--threshold needs --bench")
        val table = flag("--table")
        val buckets = intFlag("--buckets", 64)
        val fs = search.Follow.stateFs(spark, stateDir)
        // pin the pipeline SHAPE on first run: a batch quality-gated or
        // decontaminated differently from its siblings would silently
        // poison the accumulated corpus (benchmark CONTENT may evolve —
        // only the stage composition is pinned; the index table pins
        // separately, since adding --table later is supported via the
        // backfill path below)
        val pinP = new Path(stateDir, "pipeline")
        val pinNow = Seq(
          s"quality=$quality",
          s"bench=${benchPaths.nonEmpty}",
          s"threshold=${fuzzyT.map(_.toString).getOrElse("none")}",
          s"analyzed=$analyzed",
          s"fixMojibake=$fixMoji",
          s"tokenizer=${if (uax) "unicode" else "whitespace"}").mkString("\n")
        search.Swap.readState(fs, pinP).map(_.mkString("\n").trim) match {
          case Some(prev) if prev != pinNow => sys.error(
            s"ingest --follow: pipeline config pinned at $pinP does not match " +
              s"this invocation — delete the pin ONLY if the change is " +
              s"intentional\npinned:\n$prev\nnow:\n$pinNow")
          // pin BEFORE processing: a crash after the batch lands but
          // before a late pin write would let a replay under different
          // flags silently adopt (and re-pin) the new config
          case None => search.Swap.writeState(fs, pinP, Seq(pinNow))
          case _ => ()
        }
        val hashState = s"$stateDir/hashes"
        search.Follow.run(spark, "ingest", stateDir, a.paths,
            nextSeq = dataBatches(fs, stateDir).size) { b =>
          val batchDir = writeCleanBatch(spark, b, stateDir, "ingest", fixMoji,
            analyzed, uax, quality, Some(hashState), benchPaths, fuzzyT)
          // ONE read of the gzip batch dir, keyed (the synthetic id must
          // capture file paths BEFORE any shuffle/checkpoint) and
          // checkpointed — the hash-state append and the index upsert
          // reuse the materialized rows instead of re-decompressing the
          // unsplittable gzip shards per action. The state append derives
          // from the files AS WRITTEN — a crash before it leaves state
          // unextended and the replay converges.
          val written = Corpus.withFileLineId(
              Corpus.readJsonl(spark, Seq(batchDir)), "__plid", fullPath = true)
            .localCheckpoint(eager = true)
          try {
          val wIds = idPresence(written)
          if (wIds.nonEmpty)
            operators.Dedup.appendHashState(written, md5(col("text")), hashState)
          table.foreach { t =>
            val tablePinP = new Path(stateDir, "indextable")
            val tablePin =
              search.Swap.readState(fs, tablePinP).map(_.filter(_.nonEmpty))
            tablePin.foreach { l =>
              require(l.headOption.contains(t),
                s"ingest state at $stateDir pinned to index table " +
                  s"'${l.headOption.getOrElse("")}', got '$t'")
              l.lift(1).foreach(b => require(b == s"buckets=$buckets",
                s"ingest state at $stateDir pinned to $b, got buckets=$buckets"))
            }
            val haveIndex = search.InvertedIndex.heal(spark, t, buckets)
            // no live index (first --table use, or the table was lost):
            // build over EVERY durable batch — the state dir retains the
            // whole clean corpus, so the index is always reconstructible
            val src: DataFrame =
              if (haveIndex) written
              else {
                val dirs = dataBatches(fs, stateDir).map(_.getPath)
                  .filter(d => fs.exists(new Path(d, "_SUCCESS"))).map(_.toString)
                // batch sequence captured per row BEFORE the id window's
                // shuffle (input_file_name is lost after an exchange)
                // anchored on the directory separator: a state-dir PATH
                // containing "batch-<digits>-" must not hijack the match
                Corpus.withFileLineId(
                  Corpus.readJsonl(spark, dirs).withColumn("__seq",
                    regexp_extract(input_file_name(), "/batch-(\\d+)-", 1)
                      .cast("int")),
                  "__plid", fullPath = true)
              }
            val srcIds = if (haveIndex) wIds else idPresence(src)
            val mode = search.Follow.idMode(fs, stateDir, srcIds, "ingest")
            // rebuilds in id mode must keep only the LATEST batch's row
            // per corpus id: an id re-dropped with corrected text passed
            // exact dedup, and the lost upsert-maintained index held only
            // the newest postings — the rebuild must agree with it
            // within-batch tie on md5(text) desc — the SAME winner
            // upsertIndex picks, so the rebuild reproduces the lost index
            val keyedI =
              if (mode == "id" && !haveIndex && srcIds.nonEmpty)
                operators.Dedup.keepFirst(src, col("id"),
                  Seq(col("__seq").desc, md5(col("text")).desc))
              else src
            // an all-filtered batch has nothing to index — pins still
            // advance so a later batch keeps the same keying contract
            if (srcIds.nonEmpty)
              search.InvertedIndex.updateIndex(spark, t, keyedI,
                if (mode == "id") "id" else "__plid", "text", buckets,
                uax29 = uax, live = haveIndex)
            // pinned once (a pin from before the buckets line gains it)
            if (tablePin.forall(_.size < 2))
              search.Swap.writeState(fs, tablePinP, Seq(t, s"buckets=$buckets"))
          }
          System.err.println(
            s"ingest: ${b.shards.size} shard(s) → $batchDir" +
              table.map(t => s", index '$t' updated").getOrElse(""))
          } finally org.apache.spark.sql.graft.Bridge.releaseLocalCheckpoint(written)
        }
      // deterministic sampling family: hash-Bernoulli (--fraction),
      // per-stratum fractions (--mix src=0.5, repeatable), or per-stratum
      // TOKEN budgets (--budget src=100000, repeatable; Chinchilla-style
      // mixture cut — returns the kept doc KEYS, join back for bodies).
      // All md5-keyed: rerun-reproducible, no rand()
      case "sample" =>
        val stratumCol = flag("--stratum-col").getOrElse("source")
        def kvFlags(n: String): Map[String, String] = flagAll(n).map { kv =>
          val i = kv.indexOf('=')
          require(i > 0, s"$n expects NAME=VALUE, got '$kv'")
          kv.substring(0, i) -> kv.substring(i + 1)
        }.toMap
        val budgets = kvFlags("--budget")
        val mix = kvFlags("--mix")
        val upsample = kvFlags("--upsample")
        // key on the corpus's own id when it has one (sample membership
        // then survives re-sharding); else the {file}-{line} synthetic id.
        // The null probe selects ONLY the id field (JSON parser prunes the
        // rest) and early-exits on the first null; the all-ids-present
        // common case then avoids withFileLineId's corpus-wide window
        // shuffle entirely — cheaper at scale than an unconditional
        // per-row coalesce fallback would be
        val keyed =
          if (docs.columns.contains("id") &&
            docs.select(col("id")).where(col("id").isNull).isEmpty)
            docs.withColumn("__id", col("id").cast("string"))
          else Corpus.withFileLineId(docs, "__id")
        deliver(
          if (budgets.nonEmpty)
            operators.Packing.tokenBudgetSample(keyed, "__id", "text",
              col(stratumCol), budgets.map { case (k, v) => k -> v.toLong })
          // mixture execution WITH up-weighting: targets above a source's
          // availability repeat it (epoch column distinguishes the copies)
          else if (upsample.nonEmpty)
            operators.Analyses.mixtureUpsample(keyed, col("__id"),
              col(stratumCol), "text",
              upsample.map { case (k, v) => k -> v.toDouble },
              flag("--token-budget").map(_.toLong).getOrElse(
                sys.error("--upsample needs --token-budget"))).drop("__id")
          else if (mix.nonEmpty)
            operators.Analyses.hashStratifiedSample(keyed, col("__id"),
              col(stratumCol), mix.map { case (k, v) => k -> v.toDouble },
              defaultFraction = flag("--default-fraction")
                .map(_.toDouble).getOrElse(0.0)).drop("__id")
          else {
            val f = flag("--fraction").map(_.toDouble).getOrElse(
              sys.error("sample needs --fraction, --mix, --budget, or --upsample"))
            require(f >= 0 && f <= 1, "--fraction must be in [0, 1]")
            // fraction → 8-hex ceiling, same convention as p14's oracle.
            // Fractions within 2^-33 of 1.0 round UP to 2^32, whose hex is
            // 9 digits — formatting that would silently keep ~1/16 of the
            // corpus (lexicographic compare against a 9-char bound), so a
            // saturated ceiling means "keep everything"
            val ceilL = math.round(f * (1L << 32))
            if (ceilL >= (1L << 32)) docs
            else operators.Analyses.hashSample(keyed, col("__id"),
              f"$ceilL%08x").drop("__id")
          },
          ranked = false)

      // extension: model-free doc embeddings by the hashing trick — the
      // text→vector bridge (feed the output to the embedding tier). JSONL
      // rows of {"id", "emb"} via --out, sample printed otherwise.
      case "embed" =>
        val (keyed, idc) = keyedById(docs)
        deliver(operators.FeatureHash.hashedEmbeddings(keyed, idc, "text",
          dim = intFlag("--dim", 64),
          md5Parity = a.flags.contains("--md5"), uax29 = uax),
          ranked = false)
      // Heaps'-law curve: vocabulary growth as the corpus accumulates —
      // axis is the numeric `id` field when present, else ingestion order
      // (monotonically_increasing_id: deterministic for a fixed file
      // listing, a CLI diagnostic, not a stable cross-run key)
      case "vocab" =>
        // EVERY id must cast, not just some: with a mixed-id corpus the
        // null casts would silently drop docs (and their vocabulary)
        // from the curve — fall back to ingestion order instead
        val allIdsNumeric = docs.columns.contains("id") &&
          docs.where(col("id").isNull || col("id").cast("long").isNull).isEmpty
        val keyed = if (allIdsNumeric) docs.withColumn("__ord", col("id").cast("long"))
          else docs.withColumn("__ord", monotonically_increasing_id())
        deliver(NgramOps.vocabGrowth(keyed, "__ord", "text",
          checkpoints = intFlag("--checkpoints", 10), uax29 = uax)
          .orderBy("checkpoint"), ranked = false)
      // extension: semantic search over a TEXT corpus end-to-end — docs
      // embed by the hashing trick, persist as a bucketed IVF index
      // (--table, build mode), and --query-text embeds the query the same
      // way and reads only its probed buckets (query mode)
      case "ann" =>
        // curation modes need no table; index build/query/follow do
        def table = flag("--table").getOrElse(sys.error("ann needs --table T"))
        val dim = intFlag("--dim", 64)
        // --query-text, embedded like the documents, answered off the
        // probed buckets of the table, re-registered first (a previous
        // invocation's tables survive only as warehouse dirs). --filter: a
        // SQL predicate over the index row columns; --widen N: re-probe
        // starved filtered queries at N buckets
        def annQuery(qt: String, project: DataFrame => DataFrame, dimQ: Int,
                     uaxQ: Boolean): Unit = {
          import spark.implicits._
          search.AnnIndex.registerIvfIndex(spark, table)
          val q = project(Seq(("__query", qt)).toDF("id", "text"))
          deliver(search.AnnIndex.ivfKnnIndexed(spark, table,
            operators.FeatureHash.hashedEmbeddings(q, "id", "text", dimQ,
              uax29 = uaxQ),
            "id", "emb", k = intFlag("--topk", 10),
            nprobe = intFlag("--nprobe", 3),
            filter = flag("--filter").map(expr),
            widenTo = intFlag("--widen", 0))
            .select(col("neighbor_id").as("id"), col("cos"), col("rank")),
            ranked = false)
        }
        // --follow DIR: incremental semantic index over a drop directory —
        // each invocation embeds (feature-hash) ONLY shards that arrived
        // since the last one and upserts them into the persisted IVF
        // index (centroids frozen from the first batch; rebuild without
        // --follow on your refit cadence). Same resume loop and id-mode
        // pin as index --follow; --query-text afterwards answers off the
        // index.
        flag("--follow") match { case Some(stateDir) =>
          val fs = search.Follow.stateFs(spark, stateDir)
          // the embedding space is index-wide: a batch embedded under a
          // different tokenizer/dim would silently mix incomparable
          // vectors (dim mismatches are caught by __meta; tokenization
          // drift is not). Omitted flags adopt the pinned values, so
          // maintenance/query invocations don't repeat the build dials.
          val cfg = search.Follow.pins(fs, stateDir, "ann --follow", textPins ++ Seq(
            ("dim", flag("--dim"), "64"),
            ("step", flag("--step"), "100"),
            ("buckets", flag("--buckets"), "16")))
          val uaxF = cfg("tokenizer") == "unicode"
          val dimF = cfg("dim").toInt
          val haveIndex = search.AnnIndex.recoverIvfIndex(spark, table)
          search.Follow.run(spark, "ann --follow", stateDir, a.paths,
              lostTable = Option.when(!haveIndex)(table)) { b =>
            // same pinned text projections as the indexing tier — every
            // batch must embed identically-normalized text
            keyedBatch(spark, stateDir, b.shards, cfg, "ann --follow")
              .foreach { case (keyed, idc) =>
                val emb = operators.FeatureHash.hashedEmbeddings(keyed, idc,
                  "text", dimF, uax29 = uaxF)
                if (haveIndex)
                  search.AnnIndex.upsertIvfIndex(spark, table, emb, "id", "emb")
                else
                  search.AnnIndex.writeIvfIndex(emb, "id", "emb",
                    step = cfg("step").toInt, table = table,
                    buckets = cfg("buckets").toInt, force = true,
                    hashedIds = true)
              }
            System.err.println(
              s"ann --follow: ${b.shards.size} new shard(s) embedded into $table")
          }
          // fold the query under the PINNED projections, not the session
          // flags: documents were embedded under cfg("analyzed") /
          // cfg("fixMojibake"), and a query-only invocation that omits
          // --analyzed (the documented adopt-the-pin maintenance workflow)
          // must still embed an identically-normalized query — same
          // column kernels as readProjected, same order (mojibake repair
          // before analysis)
          flag("--query-text").foreach(qt => annQuery(qt, textProjections(_,
            cfg("fixMojibake").toBoolean, cfg("analyzed").toBoolean), dimF, uaxF))
        case None =>
        // persisted-tier curation reads off the SAVED table (no corpus
        // paths touched): --profile = per-bucket mass+coherence;
        // --dedup-semantic T = SemDeDup survivors at cosine threshold T
        if (a.flags.contains("--profile")) {
          search.AnnIndex.registerIvfIndex(spark, table)
          deliver(search.AnnIndex.clusterProfileIndexed(spark, table)
            .orderBy("centroid_id"), ranked = false)
        } else flag("--dedup-semantic") match { case Some(t) =>
          search.AnnIndex.registerIvfIndex(spark, table)
          deliver(search.AnnIndex.semanticDedupIndexed(spark, table,
            threshold = t.toDouble).orderBy("id"), ranked = false)
        case None =>
        flag("--calibrate") match { case Some(target) =>
          // recall-targeted nprobe selection off the saved table: the
          // query sample is drawn from the index's own rows (hash-of-id
          // every --sample-every'th), ground truth is the exact ranking
          // over the stored vectors — no corpus paths touched
          search.AnnIndex.registerIvfIndex(spark, table)
          val every = intFlag("--sample-every", 101)
          val qs = spark.table(table).select(col("id"), col("bv"))
            .where(pmod(xxhash64(col("id").cast("string")),
              lit(every.toLong)) === 0)
          val nps = flag("--nprobes")
            .map(_.split(",").map(_.trim.toInt).toSeq)
            .getOrElse(Seq(1, 2, 4, 8))
          deliver(search.AnnIndex.calibrateProbes(spark, table, qs,
            "id", "bv", k = intFlag("--topk", 10),
            targetRecall = target.toDouble, nprobes = nps)
            .orderBy("nprobe"), ranked = false)
        case None =>
        flag("--query-text") match {
          case None =>
            val (keyed, idc) = keyedById(docs)
            val emb = operators.FeatureHash.hashedEmbeddings(keyed, idc,
              "text", dim, uax29 = uax)
            (flag("--select-diverse"), flag("--cluster-sample")) match {
              case (Some(_), Some(_)) => sys.error(
                "ann: pass either --select-diverse or --cluster-sample, not both")
              // diversity curation straight off the feature-hash
              // embeddings — no index table involved
              case (Some(kk), _) =>
                deliver(operators.Similarity.kCenterSelect(emb, "id", "emb",
                  kk.toInt), ranked = false)
              case (_, Some(n)) =>
                deliver(operators.Similarity.clusterBalancedSample(emb,
                  "id", "emb", step = intFlag("--step", 100), n.toInt,
                  hashedIds = true), ranked = false)
              case _ =>
                if (a.flags.contains("--force"))
                  search.Swap.drop(spark, table, s"${table}__centroids")
                search.AnnIndex.writeIvfIndex(emb, "id", "emb",
                  step = intFlag("--step", 100), table = table,
                  buckets = intFlag("--buckets", 16), hashedIds = true)
                System.err.println(s"ann index written to table $table (dim=$dim)")
            }
          case Some(qt) =>
            annQuery(foldQuery(qt), identity, dim, uax)
        }
        }
        }
        }
      // concordance: hits of --phrase in context (--context chars per side)
      case "grep" =>
        deliver(SearchOps.concordance(
          Corpus.withFileLineId(docs, "__id"), "__id", "text",
          foldQuery(flag("--phrase").getOrElse(sys.error("grep needs --phrase"))),
          intFlag("--context", 30)), ranked = false)
      // reference preparation/stack/download.sh: fan the URL manifest out
      // as per-shard fetch tasks with durable resume; PATH... are URL-list
      // files (one URL per line, blanks/# skipped)
      case "fetch" =>
        val outDir = out.getOrElse(sys.error("fetch requires --out DIR"))
        require(a.paths.nonEmpty, "fetch needs at least one URL-list file")
        val urls = a.paths.flatMap(p => Corpus.readUrlList(spark, p))
        val r = Corpus.ingestFromManifest(spark, urls, outDir)
        System.err.println(s"fetch: ${r.fetched.size} fetched, " +
          s"${r.skippedDone} already done, ${r.failed.size} failed")
        r.failed.foreach { case (u, e) =>
          System.err.println(s"fetch FAILED $u: $e") }
        if (r.failed.nonEmpty) sys.error(
          s"fetch: ${r.failed.size} shard(s) failed — rerun retries exactly them")
      case "consolidate" =>
        // small-shard compaction (reference combine_adjacent_files.py):
        // operates on the FILES under PATH directly, no corpus read
        val outDir = out.getOrElse(sys.error("consolidate requires --out <dir>"))
        val written = Corpus.consolidateShards(spark, a.paths.head, outDir,
          intFlag("--factor", 4))
        println(if (written.isEmpty) "consolidate: up to date (0 shards written)"
          else s"consolidate: wrote ${written.size} shard(s)\n" +
            written.mkString("\n"))
      case other => sys.error(s"unknown command: $other")
    }
  }
}
