package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-op counters collected from outside the engine: a `SparkListener`
  * for jobs, stages and task metrics, and a `QueryExecutionListener` for
  * the planning phases in `QueryExecution.tracker`. Both are registered
  * only while tracing is on, so an untraced op pays nothing.
  *
  * Use: `begin()` before an op, `end(wallS)` after it; ops run one at a
  * time, so everything that arrives in between belongs to that op.
  */
final class Trace(spark: SparkSession, cores: Int) {
  private case class Job(start: Long, var end: Long, catalog: Boolean)
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stage = Array.fill(6)(0L) // stages tasks runMs shW shR in
  private val phase = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private var opStartMs = 0L
  private var gcStartMs = 0L
  private var attached = false

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      // Catalog's footer inference runs as a job whose user call site is
      // Catalog.scala; Spark names stages after that call site
      val viaCatalog = e.stageInfos.exists(_.name.contains("Catalog.scala"))
      Trace.this.synchronized { jobs(e.jobId) = Job(e.time, -1L, viaCatalog) }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Trace.this.synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      Trace.this.synchronized {
        stage(0) += 1
        stage(1) += i.numTasks
        if (m != null) {
          stage(2) += m.executorRunTime
          stage(3) += m.shuffleWriteMetrics.bytesWritten
          stage(4) += m.shuffleReadMetrics.totalBytesRead
          stage(5) += m.inputMetrics.bytesRead
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Trace.this.synchronized {
      qe.tracker.phases.foreach { case (name, p) => phase(name) += p.durationMs }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    ListenerDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    attached = false
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  def begin(): Unit = {
    ListenerDrain(spark.sparkContext)
    synchronized {
      jobs.clear(); java.util.Arrays.fill(stage, 0L); phase.clear()
    }
    gcStartMs = gcMs
    opStartMs = System.currentTimeMillis()
  }

  /** Counters of the op that began at the last `begin()`. */
  def end(wallS: Double): Map[String, Double] = {
    val opEndMs = System.currentTimeMillis()
    ListenerDrain(spark.sparkContext)
    val gcS = (gcMs - gcStartMs) / 1e3
    synchronized {
      // the op's wall time that no job interval covers: driver-side
      // planning, result handling and scheduling gaps
      val spans = jobs.values.toSeq
        .map(j => (math.max(j.start, opStartMs),
          math.min(if (j.end > 0) j.end else opEndMs, opEndMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var reach = opStartMs
      spans.foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
      val taskS = stage(2) / 1e3
      Map(
        "spark.jobs" -> jobs.size.toDouble,
        "spark.stages" -> stage(0).toDouble,
        "spark.tasks" -> stage(1).toDouble,
        "spark.task_s" -> taskS,
        "spark.job_gap_s" -> math.max(0.0, wallS - covered / 1e3),
        "spark.core_util" -> (if (wallS > 0) taskS / (wallS * cores) else 0.0),
        "spark.shuffle_write_mb" -> stage(3) / 1e6,
        "spark.shuffle_read_mb" -> stage(4) / 1e6,
        "spark.input_mb" -> stage(5) / 1e6,
        "jvm.gc_s" -> gcS,
        "catalog.schema_jobs" -> jobs.values.count(_.catalog).toDouble,
        "plan.analysis_ms" -> phase("analysis").toDouble,
        "plan.optimization_ms" -> phase("optimization").toDouble,
        "plan.planning_ms" -> phase("planning").toDouble)
    }
  }
}
