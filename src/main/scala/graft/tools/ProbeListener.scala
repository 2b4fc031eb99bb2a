package graft.tools

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.SparkContext
import org.apache.spark.graft.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Spark jobs and task metrics a probe step added (bytes are task-metric
  * sums; `tasks` counts tasks that reported metrics).
  */
final case class ProbeCounts(jobs: Long, tasks: Long, inputBytes: Long,
                             shuffleRead: Long, shuffleWrite: Long, spill: Long) {
  def -(o: ProbeCounts): ProbeCounts = ProbeCounts(jobs - o.jobs,
    tasks - o.tasks, inputBytes - o.inputBytes, shuffleRead - o.shuffleRead,
    shuffleWrite - o.shuffleWrite, spill - o.spill)
}

/** The probes' one job and task-metric counter. Job counts at a fixed SF
  * and slot count are the host-noise-immune companion to wall time, and
  * shuffle bytes tell a query's 100 TB behaviour. Counters are read only
  * after the asynchronous listener bus has delivered every event posted so
  * far, so a lagging bus cannot undercount a step.
  *
  * `traceJobs` prints each job's callsite as it starts: the result stage's
  * name carries the action's source line ("collect at AnnIndex.scala:1304").
  */
final class ProbeListener private (sc: SparkContext, traceJobs: Boolean)
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
      inputBytes.add(m.inputMetrics.bytesRead)
      shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      spill.add(m.diskBytesSpilled)
      tasks.increment()
    }
  }

  /** Totals since attach, once the bus is empty. */
  private def counts(): ProbeCounts = {
    ListenerDrain.drain(sc)
    ProbeCounts(jobs.sum, tasks.sum, inputBytes.sum, shuffleRead.sum,
      shuffleWrite.sum, spill.sum)
  }

  /** `body`'s result, wall seconds (the drain excluded) and counts. */
  def measure[A](body: => A): (A, Double, ProbeCounts) = {
    val before = counts()
    val t0 = System.nanoTime()
    val r = body
    val sec = (System.nanoTime() - t0) / 1e9
    (r, sec, counts() - before)
  }
}

object ProbeListener {
  def attach(sc: SparkContext, traceJobs: Boolean = false): ProbeListener = {
    val l = new ProbeListener(sc, traceJobs)
    sc.addSparkListener(l)
    l
  }
}
