package graft

import java.io.PrintStream
import java.util.UUID

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import graft.operators.Q

/** Dev inspection of registered queries: look at a plan, time it, see
  * where the time goes.
  * Usage: tools/run.sh graft.Inspect <plan|run> <sfDir> <all|q1,q2,…> [repeats]
  *
  * `plan` prints each formatted physical plan after a JSON line with the
  * jobs that building the DataFrame ran (eager checkpoints, loops). `run`
  * prewarms, then writes each target `repeats` times (default 2) through
  * the noop sink, as Bench does, printing one JSON line per repeat; the
  * last adds the slowest stages. Only jobs of the call's own job group
  * count: jobs handed to [[DriverJobs]] run under its group and are left
  * out. Every target is tried; any failure or unknown name exits 1.
  */
object Inspect {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(defaultCpus = 32)
    val code =
      try apply(spark, args.toSeq, System.out, System.err) finally spark.stop()
    sys.exit(code)
  }

  /** Runs one command on `spark` (left running); returns the exit code. */
  def apply(spark: SparkSession, args: Seq[String], out: PrintStream,
      err: PrintStream): Int = {
    val (mode, dir, names, repeats) = args match {
      case Seq(m @ ("plan" | "run"), d, n) => (m, d, n, 2)
      case Seq("run", d, n, r) if r.toIntOption.exists(_ > 0) =>
        ("run", d, n, r.toInt)
      case _ =>
        err.println("usage: graft.Inspect <plan|run> <sfDir> <all|q1,q2,...> [repeats]")
        return 1
    }
    val registry = SparkEntry.registry.map(q => q.name -> q).toMap
    val wanted =
      if (names == "all") registry.keys.toSeq.sorted
      else names.split(",").toSeq.map(_.trim)
    val unknown = wanted.filterNot(registry.contains)
    if (unknown.nonEmpty) {
      // an empty dump from a typo must not read as "no plan change"
      err.println(s"no such query: ${unknown.mkString(", ")}; registered " +
        "queries:\n  " + registry.keys.toSeq.sorted.mkString("\n  "))
      return 1
    }
    if (mode == "run") SparkEntry.prewarm(spark, dir)
    val failed = wanted.filterNot { name =>
      try {
        if (mode == "plan") {
          val (df, rec) = recorded(spark, name)(registry(name).run(spark, dir))
          out.println(s"\n===== $name =====")
          out.println(Json.write(ListMap("query" -> name,
            "jobs_at_construction" -> rec.jobStart.size)))
          out.println(df.queryExecution.explainString(FormattedMode))
        } else (1 to repeats).foreach { i =>
          out.println(runOnce(spark, dir, registry(name), i, i == repeats))
        }
        true
      } catch { case NonFatal(e) =>
        err.println(s"FAIL $name: ${e.getClass.getSimpleName}: ${e.getMessage}")
        false
      }
    }
    if (failed.isEmpty) 0 else 1
  }

  /** One repeat through the noop sink, as one JSON line. */
  private def runOnce(spark: SparkSession, dir: String, q: Q, repeat: Int,
      last: Boolean): String = {
    val ((startMs, endMs, wallS), rec) = recorded(spark, q.name) {
      val (ms, t0) = (System.currentTimeMillis(), System.nanoTime())
      q.run(spark, dir).write.format("noop").mode("overwrite").save()
      (ms, System.currentTimeMillis(), (System.nanoTime() - t0) / 1e9)
    }
    // a job's gap is the time since the previous job ended: planning and
    // scheduling time that no stage shows (negative when jobs overlap)
    var prevEnd = startMs
    val timeline = rec.jobStart.toSeq.sortBy(_._2).map { case (id, start) =>
      val end = rec.jobEnd.getOrElse(id, start)
      val job = ListMap("job" -> id, "gap_ms" -> (start - prevEnd),
        "run_ms" -> (end - start))
      prevEnd = math.max(prevEnd, end)
      job
    }
    val stages = rec.stages.toSeq
    def wallMs(s: StageInfo) =
      s.completionTime.getOrElse(0L) - s.submissionTime.getOrElse(0L)
    def totals(ss: Seq[StageInfo]) = {
      val m = ss.map(_.taskMetrics)
      ListMap("task_ms" -> m.map(_.executorRunTime).sum,
        "shuffle_read_mb" -> m.map(_.shuffleReadMetrics.totalBytesRead).sum / 1e6,
        "shuffle_write_mb" -> m.map(_.shuffleWriteMetrics.bytesWritten).sum / 1e6)
    }
    val line = ListMap("query" -> q.name, "repeat" -> repeat,
      "wall_s" -> wallS, "jobs" -> rec.jobStart.size,
      "stages" -> stages.size) ++ totals(stages) ++
      ListMap("job_timeline" -> timeline, "tail_gap_ms" -> (endMs - prevEnd))
    Json.write(if (!last) line else line + ("top_stages" ->
      stages.sortBy(-wallMs(_)).take(30).map { s =>
        val m = s.taskMetrics
        ListMap("stage" -> s.stageId, "wall_ms" -> wallMs(s)) ++
          totals(Seq(s)) ++ ListMap("records" ->
          (m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead),
          "name" -> s.name.takeWhile(_ != '\n').take(70))
      }))
  }

  /** The jobs of one job group and the stages they ran. */
  private final class Recorder(val group: String) extends SparkListener {
    val marker = s"$group-drain"
    val jobStart = mutable.LinkedHashMap.empty[Int, Long]
    val jobEnd = mutable.Map.empty[Int, Long]
    val stages = mutable.ArrayBuffer.empty[StageInfo]
    private val stageIds = mutable.Set.empty[Int]
    private val markerJobs = mutable.Set.empty[Int]
    @volatile var drained = false

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
      if (g.contains(group)) {
        jobStart(e.jobId) = e.time
        stageIds ++= e.stageIds
      } else if (g.contains(marker)) markerJobs += e.jobId
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      if (markerJobs(e.jobId)) drained = true
      else if (jobStart.contains(e.jobId)) jobEnd(e.jobId) = e.time
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { if (stageIds(e.stageInfo.stageId)) stages += e.stageInfo }
  }

  /** Runs `body` under a fresh job group; returns its result and what the
    * group ran. The listener bus is asynchronous: once a marker job run
    * after `body` is seen to end, every earlier event has been delivered.
    */
  private def recorded[T](spark: SparkSession, name: String)(
      body: => T): (T, Recorder) = {
    val sc = spark.sparkContext
    val rec = new Recorder(s"graft-inspect-${UUID.randomUUID()}")
    sc.addSparkListener(rec)
    try {
      sc.setJobGroup(rec.group, s"inspect: $name")
      val result = try body finally sc.clearJobGroup()
      sc.setJobGroup(rec.marker, s"inspect: $name: drain")
      try spark.range(1).collect() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30e9.toLong
      while (!rec.drained && System.nanoTime() < deadline) Thread.sleep(5)
      if (!rec.drained) throw new IllegalStateException("listener bus did not drain")
      (result, rec)
    } finally sc.removeSparkListener(rec)
  }
}
