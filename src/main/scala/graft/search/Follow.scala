package graft.search

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one resume loop of the incremental CLI modes — `ingest` and
  * `index|ann|contaminate|decontaminate --follow`. Each invocation
  * processes only the shards of a watched drop directory that arrived
  * since the last one, the restartable form of the reference's
  * one-`parallel`-job-per-file analyses. A batch runs
  * claim → process → record → extend → clear:
  *  - claim: the fresh shard set is written to `pending` (`seq=N`, then
  *    one shard per line) before anything is processed, so a replay after
  *    a crash at any later point processes exactly the claimed set, even
  *    when new shards arrived in between;
  *  - process: the mode's batch function runs over the claimed shards. It
  *    must converge when run again over the same claim (upserts, durable
  *    batch dirs keyed by the claim, `Overwrite` writes);
  *  - record: a mode that keeps its own per-batch record writes it as the
  *    last step of its batch function (contaminate's `_shards`);
  *  - extend: `manifest` gains the claimed shards;
  *  - clear: the claim is deleted.
  *
  * Every state file commits through [[Swap.writeState]] (one
  * overwrite-rename), so a crash leaves each file whole, and the order
  * above makes a replay converge from any crash point: a claim whose
  * shards are all recorded is stale and cleared, any other claim resumes.
  * A claim is two state writes and no Spark job. One writer per state
  * dir: two concurrent invocations could claim overlapping sets.
  *
  * The state dir's pins (`config`, `idmode`) live here too: a batch
  * processed under drifting dials would silently mix incompatible
  * postings, vectors or counts into one index.
  */
object Follow {

  /** One claimed batch: its sequence number and its shards. */
  final case class Batch(seq: Int, shards: Seq[String])

  def stateFs(spark: SparkSession, stateDir: String): FileSystem =
    new Path(stateDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Expand globs/dirs to FILE paths, each qualified against ITS OWN
    * filesystem (file:// and s3:// shards may mix, and neither need match
    * fs.defaultFS) — manifest entries built from these compare stably
    * across invocations.
    */
  private def expandShardPaths(hconf: Configuration,
                               paths: Seq[String]): Seq[String] =
    paths.flatMap { p =>
      val hp = new Path(p)
      val pfs = hp.getFileSystem(hconf)
      val glob = pfs.globStatus(hp)
      if (glob == null) Seq.empty[String]
      else glob.toSeq.flatMap { st =>
        if (st.isDirectory)
          pfs.listStatus(st.getPath).filter(_.isFile).map(_.getPath).toSeq
        else Seq(st.getPath)
      }.map(f => pfs.makeQualified(f).toString)
    }.sorted

  /** Lowercase hex MD5 of `s`'s UTF-8 bytes: the digest of every on-disk
    * state name and pin (batch dirs, snapshot ids and markers, benchmark
    * keys). Callers truncate; the input bytes each caller hashes are part
    * of its state dirs' format and must not change.
    */
  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** The id of one `dedup --state` snapshot: its expanded shard paths and
    * its output dir, hashed.
    */
  def snapshotId(hconf: Configuration, paths: Seq[String],
                 outDir: String): String =
    md5Hex((expandShardPaths(hconf, paths) :+ outDir).mkString("\n")).take(16)

  /** Run one batch of an incremental mode over the fresh shards of
    * `paths`, or print that there are none.
    *
    * @param recorded shards a mode recorded outside the manifest; they
    *                 count as seen, and the manifest catches up with them
    * @param nextSeq  the sequence number of a new claim
    * @param lostTable the mode's table, when it did not survive (after
    *                 heal) and cannot be rebuilt from the state dir: if the
    *                 `idmode` pin says a batch built it, the manifest would
    *                 skip that batch's shards, so the call refuses
    */
  def run(spark: SparkSession, cmd: String, stateDir: String,
          paths: Seq[String], recorded: Set[String] = Set.empty,
          nextSeq: => Int = 0, lostTable: Option[String] = None)
         (process: Batch => Unit): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val stateP = new Path(stateDir)
    val fs = stateP.getFileSystem(hconf)
    fs.mkdirs(stateP)
    val manifestP = new Path(stateP, "manifest")
    val pendingP = new Path(stateP, "pending")
    val manifested: Set[String] = Swap.readState(fs, manifestP)
      .getOrElse(Nil).filter(_.nonEmpty).toSet
    val seen = manifested ++ recorded
    // the idmode pin is written the first time a NON-EMPTY batch builds
    // the table — an empty first shard extends the manifest without
    // building anything, and must not brick the state dir
    lostTable.foreach { t =>
      if (fs.exists(new Path(stateP, "idmode"))) sys.error(
        s"$cmd: manifest at $stateDir records ${seen.size} shard(s) but no " +
          s"index survives under '$t' (checked live, ${Swap.backup(t)} and " +
          s"${Swap.staging(t)} in ${spark.conf.get("spark.sql.warehouse.dir")})" +
          " — refusing to start fresh over a manifest that would skip them; " +
          "delete the manifest to start from scratch")
    }
    // a drop glob that reaches into the state dir would process the
    // mode's own state and output as input (shards are assumed immutable,
    // so the feedback loop would silently grow the output every pass)
    val statePrefix = fs.makeQualified(stateP).toString.stripSuffix("/") + "/"
    val expanded = expandShardPaths(hconf, paths)
    require(!expanded.exists(_.startsWith(statePrefix)),
      s"$cmd: drop paths overlap the state dir $stateDir — the mode would " +
        "re-read its own output; point --follow somewhere outside the " +
        "watched glob")
    val claimed: Option[Batch] =
      Swap.readState(fs, pendingP).map(_.filter(_.nonEmpty)).flatMap { l =>
        l.headOption.filter(_.startsWith("seq=")).flatMap { h =>
          val shards = l.tail
          // stale claim: the whole batch is already recorded (a crash
          // between the manifest extension and the claim's delete)
          if (shards.isEmpty || shards.forall(seen)) {
            Swap.clearState(fs, pendingP)
            None
          } else Some(Batch(h.stripPrefix("seq=").toInt, shards))
        }
      }
    val batch = claimed.orElse {
      val fresh = expanded.filterNot(seen)
      if (fresh.isEmpty) None else {
        val b = Batch(nextSeq, fresh)
        Swap.writeState(fs, pendingP, s"seq=${b.seq}" +: b.shards)
        Some(b)
      }
    }
    claimed.foreach(b => System.err.println(
      s"$cmd: resuming claimed batch of ${b.shards.size} shard(s)"))
    if (batch.isEmpty) System.err.println(s"$cmd: no new shards")
    batch.foreach(process)
    // the manifest also catches up with shards recorded outside it
    val done = seen ++ batch.toSeq.flatMap(_.shards)
    if (done != manifested) Swap.writeState(fs, manifestP, done.toSeq.sorted)
    if (batch.nonEmpty) Swap.clearState(fs, pendingP) // claim consumed
  }

  /** Index-wide settings pinned in the state dir's `config` on first use.
    * Each entry is (key, explicitly-passed value, default): a PASSED value
    * must match any pin (loud error otherwise); an omitted flag adopts the
    * pinned value, so maintenance invocations don't have to repeat the
    * build dials. Returns the effective settings.
    */
  def pins(fs: FileSystem, stateDir: String, cmd: String,
           entries: Seq[(String, Option[String], String)]): Map[String, String] = {
    val p = new Path(stateDir, "config")
    val pinMap: Map[String, String] =
      Swap.readState(fs, p).map(_.filter(_.contains('=')).map { l =>
        val i = l.indexOf('=')
        l.take(i) -> l.drop(i + 1).trim
      }.toMap).getOrElse(Map.empty)
    val eff = entries.map { case (k, passed, default) =>
      passed.foreach(v => pinMap.get(k).filter(_ != v).foreach(pv =>
        sys.error(s"$cmd: '$k' pinned to '$pv' at $p but this invocation " +
          s"passed '$v' — delete the pin ONLY if the change is intentional")))
      k -> passed.orElse(pinMap.get(k)).getOrElse(default)
    }
    // merge-write whenever ANY entry key is unpinned (not only when the
    // whole file is absent): a key added to `entries` in a later release —
    // or dropped from a hand-edited file — would otherwise resolve to its
    // default forever without being pinned, so a subsequent invocation
    // could pass a different value without clashing — exactly the silent
    // index-wide drift the pin exists to prevent. Existing pins are
    // preserved verbatim (unknown keys included).
    if (entries.exists { case (k, _, _) => !pinMap.contains(k) }) {
      val extra = (pinMap -- entries.map(_._1)).toSeq.sortBy(_._1)
      Swap.writeState(fs, p, (eff ++ extra).map { case (k, v) => s"$k=$v" })
    }
    eff.toMap
  }

  /** Read-or-pin the id mode of a state dir's keys ("id" = the corpus's
    * own id field, "path-line" = the full-path synthetic {md5(path)}-{line}
    * id). It is decided on the FIRST non-empty batch and pinned: synthetic
    * keys change meaning if a later batch suddenly carries corpus ids (or
    * stops), and an upsert's anti-join would then silently miss or
    * clobber. `allHaveIds` is None for an empty batch — the decision (and
    * the pin) defers.
    */
  def idMode(fs: FileSystem, stateDir: String, allHaveIds: Option[Boolean],
             cmd: String): String = {
    val modeFile = new Path(stateDir, "idmode")
    val stored = Swap.readState(fs, modeFile).flatMap(_.headOption).map(_.trim)
    val mode = stored.getOrElse(
      if (allHaveIds.contains(true)) "id" else "path-line")
    if (mode == "id" && allHaveIds.contains(false)) sys.error(
      s"$cmd: state at $stateDir is keyed by the corpus `id` field but " +
        "this batch has docs with null ids — fix the shards or start a " +
        "new state dir")
    if (stored.isEmpty && allHaveIds.nonEmpty)
      Swap.writeState(fs, modeFile, Seq(mode))
    mode
  }
}
