package graft.search

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path,
  UnsupportedFileSystemException}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The one commit-and-recovery protocol of every persisted table — the
  * text index, the MinHash band-row index and the IVF/PQ ANN index all
  * rewrite through here, and every decision about debris names, warehouse
  * paths, re-registration and crash healing lives in this object alone.
  *
  * Two commit protocols share one heal:
  *  - [[replaceTable]], the whole-table rename-aside swap: the replacement
  *    is written under [[staging]], then live → [[backup]], staging →
  *    live, drop backup. Both renames are catalog operations, so the data
  *    survives a crash at any point under one of the three names.
  *  - [[replaceParts]], the per-list fold of a `pbucket`-partitioned ANN
  *    table: the touched lists are written under [[staging]], then each
  *    staged partition directory moves into the live location, the
  *    superseded live directory moving aside under [[backup]] first. The
  *    live table itself never moves.
  *
  * [[heal]] decides from the catalog and the directories alone which side
  * of a commit a crash fell on, in this JVM or after a restart that
  * forgot every catalog entry (Spark's local in-memory catalog forgets
  * managed tables while their warehouse directories survive). A staging
  * write counts as complete only with a catalog entry or the committer's
  * `_SUCCESS` marker, which the committer writes last.
  *
  * The small state files of the incremental modes (manifests, pins, the
  * pending batch claim, `_shards` records, snapshot markers, the bench
  * artifacts) commit through here too: [[readState]], [[writeState]] (one
  * overwrite-rename, so a reader sees the old or the new content, never a
  * gap or a truncated file) and [[clearState]].
  *
  * An index's small side tables (`__meta`, `__norms`, `__centroids`,
  * `__codebook`) are read back through [[readLocal]]: their committed
  * files decoded on the driver at each call, with no Spark job and no
  * cache, so a read never needs invalidating after a commit or a heal.
  */
object Swap {

  def staging(t: String): String = t + "__compacting"
  def backup(t: String): String = t + "__old"

  /** `warehouse/<name>` as Spark's session catalog forms it: table names
    * are lowercased unless `spark.sql.caseSensitive` is set, so a verbatim
    * mixed-case path would miss the directory Spark actually wrote.
    */
  def dir(spark: SparkSession, name: String): Path = {
    val formatted =
      if (spark.sessionState.conf.caseSensitiveAnalysis) name
      else name.toLowerCase(java.util.Locale.ROOT)
    new Path(spark.conf.get("spark.sql.warehouse.dir"), formatted)
  }

  /** Drop each table together with its swap debris — catalog entries AND
    * directories: the in-memory catalog can have forgotten a directory
    * that would otherwise resurrect stale state (or make the next managed
    * write fail on an existing location) after a JVM restart.
    */
  def drop(spark: SparkSession, names: String*): Unit =
    names.foreach(t => Seq(t, staging(t), backup(t)).foreach { n =>
      spark.sql(s"DROP TABLE IF EXISTS `$n`")
      delete(spark, dir(spark, n))
    })

  /** Re-create the catalog entry of a table stranded in its directory
    * (default `warehouse/<name>`), schema from the parquet footers.
    * `clusteredBy` must be the bucket column and count the table was
    * written with: bucket file names encode the bucket id, so a wrong
    * count silently breaks pruning. A `pbucket` column (the ANN per-list
    * layout) is registered as the BIGINT partition column and its
    * partitions are recovered from the tree.
    */
  def register(spark: SparkSession, name: String,
               clusteredBy: Option[(String, Int)],
               location: Option[String] = None): Unit = {
    val loc = location.map(new Path(_)).getOrElse(dir(spark, name))
    create(spark, name, spark.read.parquet(loc.toString).schema,
      clusteredBy, loc)
  }

  private def create(spark: SparkSession, name: String, inferred: StructType,
                     clusteredBy: Option[(String, Int)], loc: Path): Unit = {
    val part = AnnIndex.PartCol
    val partitioned = inferred.fieldNames.contains(part)
    // directory-name inference types small partition values INT; an INT
    // pbucket under LONG probe literals would wrap every partition filter
    // in a Cast (and unionByName maintenance frames in a coercion)
    val schema =
      if (!partitioned) inferred
      else StructType(inferred.filterNot(_.name == part) :+
        StructField(part, LongType))
    val partClause = if (partitioned) s"PARTITIONED BY ($part) " else ""
    val bucketClause = clusteredBy.map { case (c, n) =>
      s"CLUSTERED BY ($c) SORTED BY ($c) INTO $n BUCKETS "
    }.getOrElse("")
    spark.sql(s"CREATE TABLE `$name` (${schema.toDDL}) USING parquet " +
      s"$partClause${bucketClause}LOCATION '$loc'")
    // a freshly created partitioned entry lists NO partitions — without
    // recovery every read returns empty
    if (partitioned) spark.catalog.recoverPartitions(name)
  }

  /** Whole-table rename-aside swap: heal, let `writeStaging` write the
    * complete replacement of `table`'s frame under the given staging
    * name, then live → backup, staging → live, drop backup.
    */
  def replaceTable(spark: SparkSession, table: String)
                  (writeStaging: (DataFrame, String) => Unit): Unit = {
    val (stg, bak) = (staging(table), backup(table))
    heal(spark, table)
    writeStaging(spark.table(table), stg)
    reach(Point.TableStaged)
    spark.sql(s"ALTER TABLE `$table` RENAME TO `$bak`")
    reach(Point.LiveAside)
    // an EXTERNAL live table (re-registered over a stranded directory)
    // keeps its directory on rename, which would block the managed
    // staging table from taking the name's location; staging already
    // holds the complete replacement, so the superseded files can go
    if (!spark.catalog.tableExists(table)) delete(spark, dir(spark, table))
    reach(Point.LiveCleared)
    spark.sql(s"ALTER TABLE `$stg` RENAME TO `$table`")
    reach(Point.StagingLive)
    spark.sql(s"DROP TABLE IF EXISTS `$bak`")
    reach(Point.BackupDropped)
    // an EXTERNAL backup keeps its files on DROP; clear them so a later
    // heal cannot resurrect a stale table from the debris
    delete(spark, dir(spark, bak))
  }

  /** Per-list fold of a `pbucket`-partitioned table: `writeStaging`
    * writes the replacement rows of the `touched` lists (a `null` entry
    * is the default partition) as a complete table under the given
    * staging name; each staged list directory then replaces the live
    * one. The caller heals before computing `touched`, which also
    * clears any staging debris.
    *
    * A touched list whose replacement is EMPTY (an upsert drained it)
    * writes no staging directory; it gets an empty one, so the rename
    * pass supersedes the stale live directory with zero files. A crash
    * between the staging commit and that padding rolls forward without
    * the drained list's supersede — covered by the upsert replay
    * contract (only an upsert drains, and its replay re-detects the stale
    * ids).
    */
  def replaceParts(spark: SparkSession, table: String, touched: Seq[Any])
                  (writeStaging: String => Unit): Unit = {
    val stg = staging(table)
    writeStaging(stg)
    reach(Point.PartsStaged)
    val stagingLoc = location(spark, stg)
    val fs = fsOf(spark, stagingLoc)
    touched.foreach { t =>
      val d = new Path(stagingLoc, AnnIndex.PartCol + "=" +
        (if (t == null) "__HIVE_DEFAULT_PARTITION__" else t.toString))
      if (!fs.exists(d)) fs.mkdirs(d)
    }
    finishParts(spark, table)
  }

  /** The rename half of [[replaceParts]], shared with the heal's roll
    * forward: every list directory still under staging moves into the
    * live location, the live one (if any) moving aside under backup
    * first. Only called on a COMPLETE staging write, which is the newer
    * version of every directory it still holds, so a re-run after a
    * crash converges. Lists the live table had no directory for are
    * registered afterwards; existing partitions keep their locations and
    * need only a refresh.
    */
  private def finishParts(spark: SparkSession, table: String): Unit = {
    val (stg, bak) = (staging(table), backup(table))
    val stagingLoc =
      if (spark.catalog.tableExists(stg)) location(spark, stg)
      else dir(spark, stg)
    val liveLoc = location(spark, table)
    val backupLoc = dir(spark, bak)
    val fs = fsOf(spark, stagingLoc)
    val listDirs = partDirs(fs, stagingLoc)
    if (listDirs.nonEmpty && !fs.exists(backupLoc)) fs.mkdirs(backupLoc)
    var newParts = false
    listDirs.foreach { p =>
      val name = p.getName
      val livePart = new Path(liveLoc, name)
      if (fs.exists(livePart)) {
        if (!fs.rename(livePart, new Path(backupLoc, name)))
          sys.error(s"Swap: could not move $livePart aside")
        reach(Point.ListAside)
      } else newParts = true
      if (!fs.rename(p, livePart))
        sys.error(s"Swap: could not move $name into $table")
      reach(Point.ListMoved)
    }
    spark.catalog.refreshTable(table)
    // re-lists the tree and ADDS missing entries — paid only when the
    // fold opened a previously-empty list
    if (newParts) spark.catalog.recoverPartitions(table)
    reach(Point.ListsRegistered)
    spark.sql(s"DROP TABLE IF EXISTS `$stg`")
    reach(Point.StagingDropped)
    delete(spark, dir(spark, stg))
    delete(spark, backupLoc)
  }

  /** Heal `table` after a crash at any commit point of either protocol,
    * in this JVM or in a fresh one; a no-op on a clean table, and safe to
    * call at any time. `registerLive` re-creates the catalog entry of a
    * stranded directory under the given name (live, backup or staging)
    * with the tier's bucket spec; it is only called when an entry is
    * missing and its directory exists. In order:
    *  1. re-register live; with live absent, also backup and a COMPLETE
    *     staging (an unreadable half-written directory stays unregistered);
    *  2. whole-table swap, live absent: staging → live (roll forward) or
    *     else backup → live (roll back);
    *  3. a live table left in a debris directory moves home, since the
    *     next commit clears the debris names;
    *  4. leftover staging next to a live table: a complete per-list
    *     staging with lists still to move (or a backup left by its
    *     renames) rolls forward, any other staging is dropped (roll back
    *     — live was never touched);
    *  5. a leftover backup is dropped, unless live points at it;
    *  6. nothing live but a `warehouse/<table>` without `_SUCCESS`: a
    *     half-written first build, deleted so a replay can write there.
    * Returns whether a live table exists afterwards.
    */
  def heal(spark: SparkSession, table: String,
           registerLive: String => Unit = _ => ()): Boolean = {
    val (stg, bak) = (staging(table), backup(table))
    val cat = spark.catalog
    val fs = fsOf(spark, dir(spark, table))
    def complete(p: Path): Boolean = fs.exists(new Path(p, "_SUCCESS"))
    def reRegister(name: String): Unit =
      if (!cat.tableExists(name) && fs.exists(dir(spark, name)))
        scala.util.Try(registerLive(name))
    reRegister(table)
    if (!cat.tableExists(table)) {
      reRegister(bak)
      if (complete(dir(spark, stg))) reRegister(stg)
      if (cat.tableExists(stg)) {
        // staging cataloged + live absent: the swap got past live →
        // backup, so files under the live name are a superseded EXTERNAL
        // backup's (its directory does not move on rename)
        delete(spark, dir(spark, table))
        spark.sql(s"ALTER TABLE `$stg` RENAME TO `$table`")
      } else if (cat.tableExists(bak))
        spark.sql(s"ALTER TABLE `$bak` RENAME TO `$table`")
    }
    if (cat.tableExists(table)) {
      moveHome(spark, table)
      val stagingLoc =
        if (cat.tableExists(stg)) location(spark, stg) else dir(spark, stg)
      if (cat.tableExists(stg) || fs.exists(stagingLoc)) {
        val partitioned = spark.sessionState.catalog
          .getTableMetadata(TableIdentifier(table)).partitionColumnNames
          .nonEmpty
        val pending = partDirs(fs, stagingLoc).nonEmpty ||
          (!cat.tableExists(bak) && fs.exists(dir(spark, bak)))
        if (partitioned && pending &&
            (cat.tableExists(stg) || complete(stagingLoc))) {
          finishParts(spark, table)
          // the lists moved before the crash are unknown here
          cat.recoverPartitions(table)
          cat.refreshTable(table)
        } else {
          spark.sql(s"DROP TABLE IF EXISTS `$stg`")
          delete(spark, stagingLoc)
        }
      }
      if (cat.tableExists(bak)) spark.sql(s"DROP TABLE `$bak`")
      if (qualified(spark, dir(spark, bak)) != location(spark, table).toUri)
        delete(spark, dir(spark, bak))
    } else if (fs.exists(dir(spark, table)) && !complete(dir(spark, table)))
      delete(spark, dir(spark, table))
    cat.tableExists(table)
  }

  /** Re-home a live table whose data sits in a debris directory (a heal
    * registers backup or staging there): the next commit clears those
    * directories, which would delete the healed table's data out from
    * under it. Moves the files to `warehouse/<table>` and re-creates the
    * entry with the same schema and bucket spec; a table at any other
    * location stays where it is.
    */
  private def moveHome(spark: SparkSession, table: String): Unit = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      TableIdentifier(table))
    val home = dir(spark, table)
    if (!Seq(staging(table), backup(table))
        .exists(d => qualified(spark, dir(spark, d)) == meta.location)) return
    val fs = fsOf(spark, home)
    spark.sql(s"DROP TABLE `$table`") // external: files stay
    // the home directory can only be uncataloged debris here — the entry
    // just dropped was the name's sole claimant and pointed elsewhere
    delete(spark, home)
    if (!fs.rename(new Path(meta.location), home))
      sys.error(s"Swap: could not move ${meta.location} to $home")
    create(spark, table, meta.schema,
      meta.bucketSpec.map(b => b.bucketColumnNames.head -> b.numBuckets),
      home)
  }

  /** The committed rows of the small unpartitioned table `name` (an index's
    * `__meta`, `__norms`, `__centroids` or `__codebook`) as a driver-local
    * frame, read with no Spark job and kept in no cache: the data files
    * under the table's location (its catalog entry's, else
    * `warehouse/<name>`) are listed at the call and decoded on the driver
    * by the parquet reader a scan of the table runs in its tasks. Every
    * call thus sees the latest commit of any session or process, and
    * nothing needs invalidating at a commit or a heal. Projections,
    * filters and limits over the frame fold into its local rows (no job,
    * no generated code).
    * None when the files hold more than `maxRows` rows, counted from
    * their footers before anything is decoded.
    */
  def readLocal(spark: SparkSession, name: String,
                maxRows: Int = Int.MaxValue): Option[DataFrame] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.{FileFormat,
      PartitionedFile}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val cat = spark.sessionState.catalog
    val entry =
      if (cat.tableExists(TableIdentifier(name)))
        Some(cat.getTableMetadata(TableIdentifier(name)))
      else None
    require(entry.forall(_.partitionColumnNames.isEmpty),
      s"Swap.readLocal: $name is partitioned")
    val loc = entry.map(e => new Path(e.location)).getOrElse(dir(spark, name))
    val conf = spark.sessionState.newHadoopConf()
    val files = fsOf(spark, loc).listStatus(loc).toSeq.filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }.sortBy(_.getPath.getName)
    val footers = files.map { st =>
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
      try (r.getRecordCount, Option(r.getFooter.getFileMetaData
        .getKeyValueMetaData.get(ParquetSparkSchemaKey)))
      finally r.close()
    }
    if (footers.map(_._1).sum > maxRows) return None
    val schema = entry.map(_.schema).getOrElse(
      footers.flatMap(_._2).headOption.map(s =>
        org.apache.spark.sql.types.DataType.fromJson(s)
          .asInstanceOf[StructType])
        .getOrElse(sys.error(s"Swap.readLocal: no schema for $name at $loc")))
    val read = new ParquetFileFormat().buildReaderWithPartitionValues(
      spark, schema, new StructType(), schema, Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), conf)
    val toRow = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToScalaConverter(schema)
    // a row is converted before the next is read: the reader reuses it
    val rows = files.flatMap { st =>
      read(PartitionedFile(org.apache.spark.sql.catalyst.InternalRow.empty,
        org.apache.spark.paths.SparkPath.fromPath(st.getPath), 0, st.getLen,
        Array.empty, st.getModificationTime, st.getLen, Map.empty))
        .map(toRow(_).asInstanceOf[org.apache.spark.sql.Row]).toList
    }
    Some(spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema))
  }

  /** The footer key under which Spark's parquet writer records the row
    * schema.
    */
  private val ParquetSparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** Lines of a state file, or None if it is absent. */
  def readState(fs: FileSystem, p: Path): Option[Seq[String]] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList)
      finally in.close()
    }

  /** Replace a state file with `lines` in one step: the content goes to an
    * attempt-unique sibling tmp, which is renamed over the target. A crash
    * at any point leaves the old or the new file, never none and never a
    * truncated one; a failed attempt deletes its tmp. On a file system
    * without a `FileContext` binding the rename falls back to delete then
    * rename, which leaves the target absent for the moment between them.
    */
  def writeState(fs: FileSystem, p: Path, lines: Seq[String]): Unit = {
    // attempt-unique: concurrent writers must not publish each other's
    // half-written tmp
    val prefix = p.getName + ".__tmp."
    val tmp = new Path(p.getParent, prefix + java.util.UUID.randomUUID())
    // a killed process orphans its tmp; sweep those older than an hour,
    // which a concurrent writer's in-flight tmp (milliseconds) never is
    try {
      val cutoff = System.currentTimeMillis() - 3600L * 1000
      fs.listStatus(p.getParent).foreach { st =>
        if (st.getPath.getName.startsWith(prefix) &&
          st.getModificationTime < cutoff) fs.delete(st.getPath, false)
      }
    } catch { case _: java.io.IOException => () } // best-effort
    var renamed = false
    try {
      val os = fs.create(tmp, true)
      try os.write(lines.map(_ + "\n").mkString.getBytes("UTF-8"))
      finally os.close()
      reach(Point.StateStaged)
      try FileContext.getFileContext(fs.getUri, fs.getConf)
        .rename(tmp, p, Options.Rename.OVERWRITE)
      catch {
        case _: UnsupportedFileSystemException =>
          fs.delete(p, false)
          if (!fs.rename(tmp, p)) sys.error(s"state-file rename failed at $p")
      }
      renamed = true
      reach(Point.StateCommitted)
    } finally {
      if (!renamed)
        try fs.delete(tmp, false) catch { case _: java.io.IOException => () }
    }
  }

  /** Delete a state file (absent is fine). */
  def clearState(fs: FileSystem, p: Path): Unit = {
    fs.delete(p, false)
    reach(Point.StateCleared)
  }

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def delete(spark: SparkSession, p: Path): Unit = {
    val fs = fsOf(spark, p)
    if (fs.exists(p)) fs.delete(p, true)
  }

  private def location(spark: SparkSession, name: String): Path =
    new Path(spark.sessionState.catalog.getTableMetadata(
      TableIdentifier(name)).location)

  private def qualified(spark: SparkSession, p: Path): java.net.URI =
    fsOf(spark, p).makeQualified(p).toUri

  private def partDirs(fs: FileSystem, p: Path): Seq[Path] =
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.filter(s => s.isDirectory &&
      s.getPath.getName.startsWith(AnnIndex.PartCol + "=")).map(_.getPath)

  /** Every commit point of the two table protocols and of the state
    * files, in protocol order: the states a crash can leave between two
    * catalog or filesystem mutations. The crash tests enumerate this
    * closed list.
    */
  sealed abstract class Point
  object Point {
    /** Staging written; live untouched. */
    case object TableStaged extends Point
    /** Live renamed to backup; the live name is vacant. */
    case object LiveAside extends Point
    /** An external live table's superseded directory deleted. */
    case object LiveCleared extends Point
    /** Staging renamed to live; backup still cataloged. */
    case object StagingLive extends Point
    /** Backup's entry dropped; an external backup's directory remains. */
    case object BackupDropped extends Point
    /** Per-list staging written; no list moved. */
    case object PartsStaged extends Point
    /** One live list directory moved under backup (once per list). */
    case object ListAside extends Point
    /** One staged list directory moved into live (once per list). */
    case object ListMoved extends Point
    /** Every list moved and the catalog refreshed; staging cataloged. */
    case object ListsRegistered extends Point
    /** Staging's entry dropped; its directory and backup's remain. */
    case object StagingDropped extends Point
    /** A state file's tmp written; the target untouched. */
    case object StateStaged extends Point
    /** The tmp renamed over the target. */
    case object StateCommitted extends Point
    /** A state file deleted. */
    case object StateCleared extends Point

    /** The points of [[replaceTable]] and [[replaceParts]]. */
    val table: Seq[Point] = Seq(TableStaged, LiveAside, LiveCleared,
      StagingLive, BackupDropped, PartsStaged, ListAside, ListMoved,
      ListsRegistered, StagingDropped)
    /** The points of [[writeState]] and [[clearState]]. */
    val state: Seq[Point] = Seq(StateStaged, StateCommitted, StateCleared)
    val values: Seq[Point] = table ++ state
  }

  /** Test seam, confined to the calling thread: [[Faults.hits]] counts
    * every point reached, and reaching the `at` point for the given
    * (1-based) time throws [[Crash]] there. Nothing outside the crash
    * tests installs one.
    */
  private[graft] final class Faults(val at: Option[(Point, Int)]) {
    val hits = scala.collection.mutable.LinkedHashMap.empty[Point, Int]
  }
  private[graft] final class Crash(at: Point, n: Int)
      extends RuntimeException(s"injected crash at $at #$n")

  private val faults = new ThreadLocal[Faults]

  private[graft] def withFaults[T](f: Faults)(body: => T): T = {
    faults.set(f)
    try body finally faults.remove()
  }

  private def reach(p: Point): Unit = {
    val f = faults.get
    if (f != null) {
      val n = f.hits.getOrElse(p, 0) + 1
      f.hits(p) = n
      if (f.at.contains((p, n))) throw new Crash(p, n)
    }
  }
}
