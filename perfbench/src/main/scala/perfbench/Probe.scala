package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

final case class JobRec(id: Int, op: Int, sql: Boolean, start: Long,
    var end: Long = -1L)

final case class TaskRec(job: Int, launch: Long, finish: Long, runMs: Long,
    cpuNs: Long, schedMs: Long, shuffleWrite: Long, shuffleRead: Long,
    spill: Long, gcMs: Long)

/** Totals of the ORC file-scan nodes of one executed query. */
final case class ScanRec(files: Long, bytes: Long, rows: Long,
    scanMs: Long, metadataMs: Long)

/**
 * Counters read from Spark itself while a traced operation runs: job
 * and task metrics from the [[SparkListener]] bus, Catalyst phase times
 * and scan-node SQL metrics from [[QueryExecutionListener]], and
 * micro-batch progress from [[StreamingQueryListener]].
 *
 * Events arrive asynchronously. The benchmark drains the bus at the end of
 * each operation's timed body and again after its check, and keeps
 * [[active]] set only in between, so the probe sees exactly the work of
 * timed bodies and none of the benchmark's own verification reads.
 */
final class Probe extends SparkListener with QueryExecutionListener {
  @volatile var active = false
  @volatile var op = 0
  val jobs = mutable.ArrayBuffer[JobRec]()
  val tasks = mutable.ArrayBuffer[TaskRec]()
  val phases: mutable.Map[String, Double] =
    mutable.Map[String, Double]().withDefaultValue(0.0)
  val scans = mutable.ArrayBuffer[ScanRec]()
  val progress = mutable.ArrayBuffer[Map[String, Long]]()
  private val stageJob = mutable.Map[Int, Int]()
  private val jobById = mutable.Map[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (active) {
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      val p = Option(e.properties)
      val group = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      // the benchmark's job group names the operation; jobs from other
      // threads (streaming micro-batches) run inside the current one
      val j = JobRec(e.jobId, group.flatMap(g => g.stripPrefix(Probe.GroupPrefix)
          .toIntOption).getOrElse(op),
        p.exists(_.getProperty("spark.sql.execution.id") != null), e.time)
      jobs += j
      jobById(e.jobId) = j
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.remove(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    val m = e.taskMetrics
    val job = stageJob.get(e.stageId)
    if (m != null && job.nonEmpty) {
      val sched = i.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - i.gettingResultTime
      tasks += TaskRec(job.get, i.launchTime, i.finishTime, m.executorRunTime,
        m.executorCpuTime, sched max 0L, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.jvmGCTime)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized {
    if (active) {
      qe.tracker.phases.foreach { case (k, v) => phases(k) += v.durationMs }
      scans ++= Probe.orcScans(qe.executedPlan)
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit =
      Probe.this.synchronized {
        if (active) {
          import scala.jdk.CollectionConverters._
          val d = e.progress.durationMs.asScala.map { case (k, v) =>
            k -> v.longValue }
          progress += (d.toMap + ("numInputRows" -> e.progress.numInputRows))
        }
      }
  }
}

object Probe extends AdaptiveSparkPlanHelper {
  /** Job group of an operation's timed body: prefix + operation id. */
  val GroupPrefix = "perfbench-op-"

  private def metric(p: SparkPlan, k: String): Long =
    p.metrics.get(k).map(_.value).getOrElse(0L)

  def orcScans(plan: SparkPlan): Seq[ScanRec] =
    collectWithSubqueries(plan) {
      case s: FileSourceScanExec
          if s.relation.fileFormat.toString.toLowerCase.contains("orc") =>
        ScanRec(metric(s, "numFiles"), metric(s, "filesSize"),
          metric(s, "numOutputRows"), metric(s, "scanTime"),
          metric(s, "metadataTime"))
    }

  /** Sum of `numOutputRows` over the join nodes of an executed plan. */
  def joinOutputRows(plan: SparkPlan): Long =
    collectWithSubqueries(plan) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
        metric(j, "numOutputRows")
    }.sum
}
