package graft

import java.util.UUID

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.Shims

/** The Spark jobs one call ran, and the stages they completed. The call
  * is scoped by a fresh job tag, not a job group, so the body may set any
  * group. Spark copies a thread's tags onto its jobs and SQL helper
  * threads, threads created during the call inherit them, and
  * [[DriverJobs]] copies them onto its pool tasks; other threads' jobs are
  * not counted. Recorders nest. The listener is attached only for the
  * call, and the listener bus is drained before the report is read (a
  * drain that times out throws).
  */
object Metrics {

  /** Group and description are null when unset; times are epoch ms. */
  final case class Job(id: Int, group: String, description: String, start: Long, end: Option[Long])

  /** A call's jobs in start order, and the stages they completed. */
  final case class Report(jobs: Seq[Job], stages: Seq[StageInfo])

  def apply[T](spark: SparkSession)(body: => T): (T, Report) = {
    val sc = spark.sparkContext
    val tag = s"graft-metrics-${UUID.randomUUID()}"
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    val stageIds = mutable.Set.empty[Int]
    val stages = mutable.ArrayBuffer.empty[StageInfo]
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
    }
    sc.addSparkListener(listener)
    try {
      sc.addJobTag(tag)
      val result = try body finally sc.removeJobTag(tag)
      Shims.drainListenerBus(sc)
      (result, listener.synchronized(Report(jobs.values.toSeq, stages.toSeq)))
    } finally sc.removeSparkListener(listener)
  }
}
