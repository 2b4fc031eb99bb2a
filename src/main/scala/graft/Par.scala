package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.graft.Bridge

/** Parallelism helper for CPU-heavy operators fed by small scans.
  *
  * A single small parquet file arrives as ONE input partition, which
  * serializes everything downstream of it — fatal when the next step
  * multiplies work per row (n-gram explode, pairwise cosine, k-hash
  * signatures). `fanOut` spreads such inputs across the cluster's cores
  * first; on inputs that already scan wide it is a no-op, so operators can
  * call it unconditionally — at 100 TB the scan already has thousands of
  * splits and no extra shuffle happens.
  *
  * The rule is the scan's own: repartition to `defaultParallelism` when
  * the input will plan fewer than half that many partitions. For frames
  * that reach only non-bucketed file relations, through projections,
  * filters, generators and unions, the count is exact —
  * `Bridge.plannedScanPartitions` packs the cached file listing with
  * Spark's `FilePartition` logic (file sizes, `maxPartitionBytes`,
  * `openCostInBytes`, splittability), so a multi-GB single `.jsonl.gz`
  * counts as the one split it scans as, and eight small gzip shards count
  * as the few partitions they pack into (on 4 slots: 4, so no round-robin
  * exchange is paid). No RDD is instantiated: the old
  * `df.rdd.getNumPartitions` probe forced a throwaway physical planning of
  * every frame it touched.
  *
  * Local data (a LocalRelation, which the optimizer folds projections
  * and filters into) is left alone: its scan already spreads n rows over
  * min(n, `defaultParallelism`) partitions, so a repartition would only
  * add a shuffle job.
  *
  * Other frames (a shuffle above the scan, RDDs, caches, bucketed
  * tables) have no listing that alone decides their
  * partitioning, so they fall back to the optimizer's size estimate
  * divided by `maxPartitionBytes`. Frames with UNKNOWN size (the conservative
  * Long.Max default, e.g. localCheckpoint scans) are treated as large —
  * exactly the inputs that already have real partitioning. The arithmetic
  * stays in BigInt: Long.Max divided by a tiny `maxPartitionBytes` must
  * not overflow into a spurious repartition.
  */
object Par {
  def fanOut(df: DataFrame): DataFrame = df.queryExecution.optimizedPlan match {
    case _: LocalRelation => df
    case _ => fanOutScan(df)
  }

  private def fanOutScan(df: DataFrame): DataFrame = {
    val target = BigInt(df.sparkSession.sparkContext.defaultParallelism)
    val planned: BigInt = Bridge.plannedScanPartitions(df).map(BigInt(_)).getOrElse {
      val bytesPerSplit = Bridge.filesMaxPartitionBytes(df.sparkSession).max(1L)
      df.queryExecution.optimizedPlan.stats.sizeInBytes / bytesPerSplit + 1
    }
    if (planned * 2 < target) df.repartition(target.toInt) else df
  }
}
