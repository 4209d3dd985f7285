package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Listener-bus view of a traced pass. Every job, stage and task is
  * attributed to the job group that was current when it was submitted;
  * the harness sets one group per (query, layer), so a query's counters
  * are exact once the bus is drained, with no before/after snapshots.
  *
  * The bus delivers all events of one listener on one thread; the
  * harness reads only after draining the bus, so `synchronized` is just
  * a memory fence here. */
final class Tracer extends SparkListener {
  import Tracer._

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.Map.empty[(Int, Int), Stage]

  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val first = e.stageInfos.minBy(_.stageId)
    jobs(e.jobId) = new Job(groupOf(e.properties), e.time, e.stageIds,
      first.name + "\n" + first.details)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val i = e.stageInfo
      stages((i.stageId, i.attemptNumber())) = new Stage(groupOf(e.properties),
        i.submissionTime.getOrElse(System.currentTimeMillis()))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get((e.stageId, e.stageAttemptId)).foreach { s =>
      s.tasks += 1
      s.waitMs += math.max(0L, e.taskInfo.launchTime - s.submitted)
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.scanBytes += m.inputMetrics.bytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Counters of every job and stage whose group satisfies `in`, then
    * forgets them. Jobs whose first stage was created by a `Tables`
    * call are schema inference; the rest are actions. */
  def take(in: String => Boolean): Map[String, Double] = synchronized {
    val js = jobs.values.filter(j => in(j.group)).toSeq
    val ss = stages.values.filter(s => in(s.group)).toSeq
    val (infer, actions) = js.partition(_.firstStage.contains("Tables.scala"))
    val submittedIds = stages.collect { case ((id, _), s) if in(s.group) => id }.toSet
    val referenced = js.flatMap(_.stageIds).toSet
    jobs.filterInPlace((_, j) => !in(j.group))
    stages.filterInPlace((_, s) => !in(s.group))
    def dur(x: Seq[Job]) = x.map(j => (j.end - j.start).toDouble).sum
    Map(
      "jobs" -> js.size.toDouble,
      "infer_jobs" -> infer.size.toDouble,
      "infer_ms" -> dur(infer),
      "action_jobs" -> actions.size.toDouble,
      "action_ms" -> dur(actions),
      "stages" -> ss.size.toDouble,
      "stages_skipped" -> (referenced -- submittedIds).size.toDouble,
      "tasks" -> ss.map(_.tasks).sum.toDouble,
      "task_run_ms" -> ss.map(_.runMs).sum.toDouble,
      "task_cpu_ms" -> ss.map(_.cpuNs).sum / 1e6,
      "gc_ms" -> ss.map(_.gcMs).sum.toDouble,
      "sched_wait_ms" -> ss.map(_.waitMs).sum.toDouble,
      "scan_bytes" -> ss.map(_.scanBytes).sum.toDouble,
      "shuffle_write_bytes" -> ss.map(_.shuffleWrite).sum.toDouble,
      "shuffle_read_bytes" -> ss.map(_.shuffleRead).sum.toDouble,
      "spill_bytes" -> ss.map(_.spill).sum.toDouble)
  }
}

object Tracer {
  final class Job(val group: String, val start: Long, val stageIds: Seq[Int],
      val firstStage: String) { var end: Long = start }
  final class Stage(val group: String, val submitted: Long) {
    var tasks, runMs, cpuNs, gcMs, waitMs, scanBytes, shuffleWrite,
        shuffleRead, spill = 0L
  }
}

/** Counts the executed plans the session's `QueryExecutionListener`s
  * (PlanAudit among them) are handed, and keeps the planning-phase times
  * of the file writes among them. */
final class PlanCounter extends QueryExecutionListener {
  private var plans = 0L
  private val writePhases = mutable.ArrayBuffer.empty[(Double, Double)]

  private def record(qe: QueryExecution): Unit = synchronized {
    plans += 1
    val isWrite = qe.analyzed.collectFirst {
      case w: org.apache.spark.sql.execution.command.DataWritingCommand => w
    }.isDefined
    if (isWrite) {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      writePhases += ((ms("optimization"), ms("planning")))
    }
  }

  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)

  /** (plans seen, (optimize ms, physical-planning ms) of writes), reset. */
  def take(): (Long, Seq[(Double, Double)]) = synchronized {
    val r = (plans, writePhases.toSeq)
    plans = 0; writePhases.clear()
    r
  }
}
