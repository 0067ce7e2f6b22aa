package graft

import java.util.UUID

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graftshim.Shims

/** The Spark jobs one call ran, the stages they completed, and the plan
  * phases of its SQL executions. The call is scoped by a fresh job tag,
  * not a job group, so the body may set any group. Spark copies a
  * thread's tags onto its jobs, its SQL executions and its SQL helper
  * threads, threads created during the call inherit them, and
  * [[DriverJobs]] copies them onto its pool tasks; other threads' jobs and
  * queries are not counted. Recorders nest. The listener is attached only
  * for the call, and the listener bus is drained before the report is
  * read (a drain that times out throws).
  */
object Metrics {

  /** Group and description are null when unset; times are epoch ms. */
  final case class Job(id: Int, group: String, description: String, start: Long, end: Option[Long])

  /** One SQL execution that ended: ms per plan phase (`analysis`,
    * `optimization`, `planning`) from its `QueryExecution.tracker`. A
    * phase its QueryExecution never ran is absent. */
  final case class Execution(id: Long, phases: Map[String, Long])

  /** A call's jobs in start order, the stages they completed, and its SQL
    * executions in end order. */
  final case class Report(jobs: Seq[Job], stages: Seq[StageInfo], executions: Seq[Execution]) {
    /** Summed ms of one plan phase over the call's SQL executions. */
    def planMs(phase: String): Long = executions.flatMap(_.phases.get(phase)).sum
  }

  /** ms per plan phase of the execution that ended, from its
    * QueryExecution's tracker. The event's `qe` is `private[sql]`; its JVM
    * accessor is public. */
  private def planPhases(end: SparkListenerSQLExecutionEnd): Map[String, Long] =
    end.getClass.getMethod("qe").invoke(end) match {
      case qe: QueryExecution => qe.tracker.phases.map { case (name, p) => name -> p.durationMs }
      case _ => Map.empty
    }

  def apply[T](spark: SparkSession)(body: => T): (T, Report) = {
    val sc = spark.sparkContext
    val tag = s"graft-metrics-${UUID.randomUUID()}"
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    val stageIds = mutable.Set.empty[Int]
    val stages = mutable.ArrayBuffer.empty[StageInfo]
    val started = mutable.Set.empty[Long]
    val executions = mutable.ArrayBuffer.empty[Execution]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        val p = Option(e.properties).getOrElse(new java.util.Properties)
        // Spark joins a job's tags with commas (SparkContext.SPARK_JOB_TAGS)
        if (Option(p.getProperty("spark.job.tags")).exists(_.split(",").contains(tag))) {
          jobs(e.jobId) = Job(e.jobId, p.getProperty("spark.jobGroup.id"),
            p.getProperty("spark.job.description"), e.time, None)
          stageIds ++= e.stageIds
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
        jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = Some(e.time)))
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        synchronized { if (stageIds(e.stageInfo.stageId)) stages += e.stageInfo }
      override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
        e match {
          case s: SparkListenerSQLExecutionStart if s.jobTags.contains(tag) =>
            started += s.executionId
          case end: SparkListenerSQLExecutionEnd if started(end.executionId) =>
            executions += Execution(end.executionId, planPhases(end))
          case _ =>
        }
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.addJobTag(tag)
      val result = try body finally sc.removeJobTag(tag)
      Shims.drainListenerBus(sc)
      (result, listener.synchronized(
        Report(jobs.values.toSeq, stages.toSeq, executions.toSeq)))
    } finally sc.removeSparkListener(listener)
  }
}
