package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{Expression, InSet}
import org.apache.spark.sql.types.DataType
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. `ExpressionUtils` is private[sql], so this
  * one-file package escape is the standard way for an external Spark
  * extension library to lift custom Catalyst expressions into the public
  * Column API (same pattern as frameless / sedona / delta).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `c IN values` (nulls dropped; `c` cast to the values' type `dt`) as
    * an `InSet`, which generated code reads by reference. A literal `IN`
    * (`isin` below the optimizer's InSet threshold, 10 values) inlines
    * each long literal and one comparison per value, so every new value
    * list or list length compiles new classes. Partition and bucket
    * pruning read an InSet like an `IN`, and it costs no job, where a
    * broadcast of the same values as a LocalRelation runs one. The set
    * is always a `HashSet`: generated code casts the reference to the
    * set's runtime class, and Scala's `Set1`..`Set4` would give every
    * list length up to four a class of its own.
    */
  def inSet(c: Column, values: Iterable[Any], dt: DataType): Column = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(dt)
    column(InSet(expression(c.cast(dt)), scala.collection.immutable.HashSet.from(
      values.filter(_ != null).map(toCatalyst))))
  }

  /** Driver-held `rows` of `schema`, read by their `key` field from each
    * row of a frame, with no Spark job: the rows are filed by key in one
    * hash map that `SparkContext.broadcast` ships (no job, where a
    * broadcast join of the same rows as a LocalRelation runs one to
    * collect them) and that generated code reads by reference
    * ([[graft.functions.expressions.KeyedRows]]), so new rows compile
    * nothing either. Returns the probe: a key column (cast to the key
    * field's long or string type) to the matching rows' other fields as
    * an array of structs; `inline` over it is the inner equi-join, and a
    * null key matches nothing, as in a join.
    */
  def keyedRows(spark: org.apache.spark.sql.SparkSession,
                rows: Iterable[org.apache.spark.sql.Row],
                schema: org.apache.spark.sql.types.StructType,
                key: String): Column => Column = {
    import org.apache.spark.sql.types.{LongType, StringType, StructType}
    val ki = schema.fieldIndex(key)
    val keyType = schema(ki).dataType
    require(keyType == LongType || keyType == StringType,
      s"keyedRows: key $key must be long or string, not ${keyType.sql}")
    val rest = StructType(schema.fields.patch(ki, Nil, 1))
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(rest)
    val table = new java.util.HashMap[AnyRef, org.apache.spark.sql.catalyst.util.ArrayData]()
    rows.filter(!_.isNullAt(ki)).groupBy(_.get(ki)).foreach { case (k, rs) =>
      val boxed: AnyRef = keyType match {
        case LongType => java.lang.Long.valueOf(k.asInstanceOf[Number].longValue)
        case _ => org.apache.spark.unsafe.types.UTF8String.fromString(k.toString)
      }
      table.put(boxed, new org.apache.spark.sql.catalyst.util.GenericArrayData(
        rs.map(r => toCatalyst(org.apache.spark.sql.Row.fromSeq(r.toSeq.patch(ki, Nil, 1))))
          .toArray[Any]))
    }
    val bc = spark.sparkContext.broadcast(table)
    c => column(graft.functions.expressions.KeyedRows(expression(c.cast(keyType)), bc, rest))
  }

  /** Release the storage blocks behind an eagerly `localCheckpoint`-ed
    * Dataset. `Dataset.unpersist()` is a no-op there — the checkpoint RDD's
    * blocks are not registered with the cache manager — so iterative
    * algorithms (connected components et al.) that checkpoint every round
    * would otherwise hold every round's blocks until GC. Only call once the
    * Dataset (and everything derived from it lazily) is no longer needed:
    * a local checkpoint cannot be recomputed after its blocks are dropped.
    * Returns false when the plan is not a materialized checkpoint/RDD scan.
    */
  /** Broadcast the session's Hadoop conf for executor-side FileSystem
    * access (distributed byte-level file ops, e.g. shard consolidation).
    * `SerializableConfiguration` is private[spark], hence this shim.
    */
  def serializableHadoopConf(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.broadcast.Broadcast[
          org.apache.spark.util.SerializableConfiguration] =
    org.apache.spark.util.SerializableConfiguration.broadcast(spark.sparkContext)

  /** `spark.sql.files.maxPartitionBytes` as a long — the scan-split size
    * the optimizer's size estimates divide into splits. (SQLConf is
    * private[sql], hence surfaced through this shim.)
    */
  def filesMaxPartitionBytes(spark: org.apache.spark.sql.SparkSession): Long =
    spark.sessionState.conf.filesMaxPartitionBytes

  /** `spark.sql.adaptive.advisoryPartitionSizeInBytes`: the size AQE
    * coalesces small shuffle partitions up to.
    */
  def advisoryPartitionBytes(spark: org.apache.spark.sql.SparkSession): Long =
    spark.sessionState.conf.getConf(
      org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)

  /** The partition count `df` will have, planned from file listings
    * alone: Some(n) when every path from the root reaches a non-bucketed
    * file relation through partition-preserving operators only
    * (projections, filters, generators, unions), None otherwise — a
    * shuffle in between decides the count instead, and local data, RDDs
    * and caches have no listing to plan from. Each file leaf is packed the
    * way `FileSourceScanExec` packs it: the listing (partition-pruned by
    * the deterministic filters over partition columns above the relation)
    * is split by `FilePartition.maxSplitBytes` where the format allows it,
    * then binned by `FilePartition.getFilePartitions` under
    * `maxPartitionBytes` and `openCostInBytes`. Unsplittable inputs (gzip
    * JSONL) thus count one split per file at most, and many small files
    * count as the few partitions they pack into. Bucketed relations give
    * None: their scan is one partition per bucket only while every bucket
    * column survives column pruning, and packed like any listing
    * otherwise, which the logical plan does not settle. Planning-only:
    * reads the FileIndex's cached listing and instantiates no RDDs.
    */
  def plannedScanPartitions(df: org.apache.spark.sql.DataFrame): Option[Long] = {
    import org.apache.spark.sql.catalyst.expressions.{And, Expression}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, LogicalPlan, Project, Union}
    import org.apache.spark.sql.execution.PartitionedFileUtil
    import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation, LogicalRelation}
    val spark = df.sparkSession
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    def planned(lr: LogicalRelation, fs: HadoopFsRelation, filters: Seq[Expression]): Long = {
      val resolver = spark.sessionState.conf.resolver
      val partCols = lr.output.filter(a =>
        fs.partitionSchema.fieldNames.exists(resolver(_, a.name)))
      val partFilters = filters.filter(f => f.deterministic && f.references.nonEmpty &&
        f.references.forall(r => partCols.exists(_.exprId == r.exprId)))
      val dirs = fs.location.listFiles(partFilters, Nil)
      val maxSplit = FilePartition.maxSplitBytes(spark, dirs)
      val splits = dirs.flatMap { d =>
        d.files.flatMap { f =>
          val path = f.getPath
          PartitionedFileUtil.splitFiles(f, path,
            fs.fileFormat.isSplitable(spark, fs.options, path), maxSplit, d.values)
        }
      }.sortBy(_.length)(Ordering[Long].reverse)
      FilePartition.getFilePartitions(spark, splits, maxSplit).size.toLong
    }
    // filters above a relation (through projections) may prune its
    // partitions
    def walk(p: LogicalPlan, filters: Seq[Expression]): Option[Long] = p match {
      case Filter(cond, child) => walk(child, filters ++ conjuncts(cond))
      case Project(_, child) => walk(child, filters)
      case g: Generate => walk(g.child, Nil)
      case u: Union =>
        val parts = u.children.map(walk(_, Nil))
        if (parts.forall(_.isDefined)) Some(parts.flatten.sum) else None
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation
            if fs.bucketSpec.isEmpty || !spark.sessionState.conf.bucketingEnabled =>
          Some(planned(lr, fs, filters))
        case _ => None
      }
      case _ => None
    }
    walk(df.queryExecution.optimizedPlan, Nil)
  }

  def releaseLocalCheckpoint(ds: org.apache.spark.sql.Dataset[_]): Boolean =
    ds match {
      case c: org.apache.spark.sql.classic.Dataset[_] =>
        c.queryExecution.analyzed match {
          case l: org.apache.spark.sql.execution.LogicalRDD =>
            l.rdd.unpersist(blocking = false)
            true
          case _ => false
        }
      case _ => false
    }
}
