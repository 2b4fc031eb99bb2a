package graft.tools

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.graft.ListenerDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark jobs, generated classes compiled and task metrics a probe step
  * added (`tasks` counts tasks that reported metrics; `inputBytes` is the
  * size of the files the executed plans' file scans selected, shuffle and
  * spill bytes are task-metric sums).
  */
final case class ProbeCounts(jobs: Long, compiles: Long, tasks: Long,
                             inputBytes: Long, shuffleRead: Long,
                             shuffleWrite: Long, spill: Long) {
  def -(o: ProbeCounts): ProbeCounts = ProbeCounts(jobs - o.jobs,
    compiles - o.compiles, tasks - o.tasks, inputBytes - o.inputBytes,
    shuffleRead - o.shuffleRead, shuffleWrite - o.shuffleWrite, spill - o.spill)
}

/** The probes' one job, compile and task-metric counter. Job and compile
  * counts at a fixed SF and slot count are the host-noise-immune companion
  * to wall time (a compile is a miss in Spark's generated-class cache, so a
  * repeated step that still compiles is paying codegen again), and shuffle
  * bytes tell a query's 100 TB behaviour. Counters are read only after the
  * asynchronous listener bus has delivered every event posted so far, so a
  * lagging bus cannot undercount a step.
  *
  * Input bytes come from the scan nodes' `filesSize` SQL metric, summed
  * over every query the session executed, because task input metrics read
  * 0 on parquet scans. Scans that only fill a cache or checkpoint another
  * query reads are not in the reading query's plan and are not counted.
  *
  * `traceJobs` prints each job's callsite as it starts: the result stage's
  * name carries the action's source line ("collect at AnnIndex.scala:1304").
  */
final class ProbeListener private (spark: SparkSession, traceJobs: Boolean)
    extends SparkListener {
  private val jobs, tasks, inputBytes, shuffleRead, shuffleWrite, spill =
    new LongAdder

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    jobs.increment()
    if (traceJobs) {
      val site = js.stageInfos.lastOption.map(_.name).getOrElse("?")
      println(s"  JOB ${js.jobId} [${js.stageInfos.size} stages] $site")
    }
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    if (m != null) {
      shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      spill.add(m.diskBytesSpilled)
      tasks.increment()
    }
  }

  private object scans extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec =>
        s.metrics.get("filesSize").map(_.value).getOrElse(0L)
      }.foreach(inputBytes.add)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Totals since attach, once the bus is empty. */
  private def counts(): ProbeCounts = {
    ListenerDrain.drain(spark.sparkContext)
    ProbeCounts(jobs.sum, CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      tasks.sum, inputBytes.sum, shuffleRead.sum, shuffleWrite.sum, spill.sum)
  }

  /** `body`'s result, wall seconds (the drain excluded) and counts. */
  def measure[A](body: => A): (A, Double, ProbeCounts) = {
    val before = counts()
    val t0 = System.nanoTime()
    val r = body
    val sec = (System.nanoTime() - t0) / 1e9
    (r, sec, counts() - before)
  }

  /** Stops counting: removes both listeners [[ProbeListener.attach]] added. */
  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(scans)
  }
}

object ProbeListener {
  def attach(spark: SparkSession, traceJobs: Boolean = false): ProbeListener = {
    val l = new ProbeListener(spark, traceJobs)
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l.scans)
    l
  }
}
