package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Task metrics summed over one Spark job. Updated from the listener thread. */
final class Work {
  var stages, tasks, failedTasks = 0L
  var runMs, cpuNs, gcMs, schedMs, inBytes, inRecords, outBytes, shufWrite, spill = 0L
  def fields: Seq[(String, Long)] = Seq(
    "stages" -> stages, "tasks" -> tasks, "failed_tasks" -> failedTasks,
    "run_ms" -> runMs, "cpu_ns" -> cpuNs, "gc_ms" -> gcMs, "sched_ms" -> schedMs,
    "in_bytes" -> inBytes, "in_records" -> inRecords, "out_bytes" -> outBytes,
    "shuffle_write_bytes" -> shufWrite, "spill_bytes" -> spill)
}

/** One Spark job of a span: `site` is the call site Spark records for its
  * result stage (e.g. `saveAsTable at InvertedIndex.scala:103`), `stack`
  * the engine (`graft.`) frames of the call that started it, innermost
  * first. Adaptive-execution stages run as jobs on a scheduler thread, so
  * a job of a SQL execution takes the stack of the execution's start.
  */
final class JobRec(val id: Int, val span: Int, val site: String, val stack: String,
                   val startMs: Long) {
  @volatile var endMs: Long = startMs
  val work = new Work
}

final case class Span(id: Int, parent: Int, name: String, startMs: Double, var endMs: Double,
                      attrs: scala.collection.mutable.Map[String, Double])

/** Spans around the benchmark's calls into each layer, with the Spark jobs
  * of each span taken from a `SparkListener` through a per-span job group.
  * Spans stay in memory and are read once at the end. With tracing off, or
  * while `active` is false, [[span]] only runs its body.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean, runId: String) {
  var active = true
  private val all = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private val jobRecs = new ConcurrentHashMap[Int, JobRec]()
  private val byStage = new ConcurrentHashMap[Int, JobRec]()
  private val execStacks = new ConcurrentHashMap[Long, String]()
  private def engineFrames(callSite: String): String =
    callSite.split("\n").map(_.trim).filter(_.contains("graft.")).mkString("|")
  private val prefix = s"$runId-"
  // wall clock in ms, from the monotonic clock, comparable to listener times
  private val originMs = System.currentTimeMillis() - System.nanoTime() / 1e6
  private def nowMs(): Double = originMs + System.nanoTime() / 1e6

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      if (g.startsWith(prefix)) {
        val last = e.stageInfos.sortBy(_.stageId).lastOption
        val exec = Option(e.properties.getProperty("spark.sql.execution.id")).map(_.toLong)
        val stack = exec.flatMap(x => Option(execStacks.get(x)))
          .getOrElse(last.map(st => engineFrames(st.details)).getOrElse(""))
        val j = new JobRec(e.jobId, g.stripPrefix(prefix).toInt, last.map(_.name).getOrElse(""),
          stack, e.time)
        jobRecs.put(e.jobId, j)
        e.stageIds.foreach(s => byStage.putIfAbsent(s, j))
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => execStacks.put(x.executionId, engineFrames(x.details))
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobRecs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(byStage.get(e.stageInfo.stageId)).foreach { j =>
        j.work.synchronized { j.work.stages += 1 }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(byStage.get(e.stageId)).foreach { j =>
        val w = j.work
        w.synchronized {
          w.tasks += 1
          if (e.reason != Success) w.failedTasks += 1
          val m = e.taskMetrics
          if (m != null) {
            w.runMs += m.executorRunTime
            w.cpuNs += m.executorCpuTime
            w.gcMs += m.jvmGCTime
            w.schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
              m.executorDeserializeTime - m.resultSerializationTime)
            w.inBytes += m.inputMetrics.bytesRead
            w.inRecords += m.inputMetrics.recordsRead
            w.outBytes += m.outputMetrics.bytesWritten
            w.shufWrite += m.shuffleWriteMetrics.bytesWritten
            w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
  }

  if (enabled) sc.addSparkListener(listener)

  /** Run `body` as a span named `name`, a child of the innermost open span. */
  def span[T](name: String)(body: => T): T =
    if (!enabled || !active) body
    else {
      val s = Span(all.size, stack.headOption.map(_.id).getOrElse(-1), name,
        nowMs(), 0.0, scala.collection.mutable.Map.empty)
      all += s
      stack = s :: stack
      sc.setJobGroup(prefix + s.id, name, interruptOnCancel = false)
      try body
      finally {
        s.endMs = nowMs()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(prefix + p.id, p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Attach a measured attribute to the innermost open span. */
  def attr(key: String, v: Double): Unit =
    if (enabled && active) stack.headOption.foreach(_.attrs(key) = v)

  /** Drain the listener bus and detach; the spans and jobs are final after. */
  def finish(): Seq[Span] = {
    if (enabled) {
      org.apache.spark.perfbench.BusDrain.drain(sc)
      sc.removeSparkListener(listener)
    }
    all.toSeq
  }

  def jobs: Seq[JobRec] = jobRecs.values().asScala.toSeq.sortBy(_.id)
}

/** File counts of the scans in a query's executed plan. */
object PlanStats extends AdaptiveSparkPlanHelper {
  def filesRead(df: DataFrame): Long =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
}
