package graft

import java.io.PrintStream

import scala.collection.immutable.ListMap
import scala.util.control.NonFatal

import org.apache.spark.scheduler.StageInfo
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.graftshim.Shims

import graft.operators.Q

/** Dev inspection of registered queries: look at a plan, time it, see
  * where the time goes.
  * Usage: tools/run.sh graft.Inspect <plan|run> <sfDir> <all|q1,q2,…> [repeats]
  *
  * `plan` prints each formatted physical plan after a JSON line with the
  * jobs that building the DataFrame ran (eager checkpoints, loops). `run`
  * prewarms, then writes each target `repeats` times (default 2) through
  * the noop sink, as Bench does, printing one JSON line per repeat; the
  * last adds the slowest stages. [[Metrics]] counts the jobs, including
  * those handed to [[DriverJobs]] (`Stats.analyze`'s passes), and sums the
  * repeat's plan phases into `plan_ms`. `codegen_compiles` is the number
  * of generated sources Janino compiled during the repeat, read from Spark's
  * JVM-wide `CodegenMetrics`: it counts every thread's compiles, so it
  * belongs to the repeat only when nothing else runs in the JVM. Every
  * target is tried; any failure or unknown name exits 1.
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
          val (df, report) = Metrics(spark)(registry(name).run(spark, dir))
          out.println(s"\n===== $name =====")
          out.println(Json.write(ListMap("query" -> name,
            "jobs_at_construction" -> report.jobs.size)))
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
    val compiles = Shims.codegenCompiles
    val ((startMs, endMs, wallS), report) = Metrics(spark) {
      val (ms, t0) = (System.currentTimeMillis(), System.nanoTime())
      q.run(spark, dir).write.format("noop").mode("overwrite").save()
      (ms, System.currentTimeMillis(), (System.nanoTime() - t0) / 1e9)
    }
    val compiled = Shims.codegenCompiles - compiles
    // a job's gap is the time since the previous job ended: planning and
    // scheduling time that no stage shows (negative when jobs overlap)
    var prevEnd = startMs
    val timeline = report.jobs.sortBy(_.start).map { j =>
      val end = j.end.getOrElse(j.start)
      val job = ListMap("job" -> j.id, "gap_ms" -> (j.start - prevEnd),
        "run_ms" -> (end - j.start))
      prevEnd = math.max(prevEnd, end)
      job
    }
    def wallMs(s: StageInfo) =
      s.completionTime.getOrElse(0L) - s.submissionTime.getOrElse(0L)
    def totals(ss: Seq[StageInfo]) = {
      val m = ss.map(_.taskMetrics)
      ListMap("task_ms" -> m.map(_.executorRunTime).sum,
        "shuffle_read_mb" -> m.map(_.shuffleReadMetrics.totalBytesRead).sum / 1e6,
        "shuffle_write_mb" -> m.map(_.shuffleWriteMetrics.bytesWritten).sum / 1e6)
    }
    val line = ListMap("query" -> q.name, "repeat" -> repeat,
      "wall_s" -> wallS, "jobs" -> report.jobs.size,
      "stages" -> report.stages.size, "plan_ms" -> ListMap(
        Seq("analysis", "optimization", "planning").map(p => p -> report.planMs(p)): _*),
      "codegen_compiles" -> compiled) ++ totals(report.stages) ++
      ListMap("job_timeline" -> timeline, "tail_gap_ms" -> (endMs - prevEnd))
    Json.write(if (!last) line else line + ("top_stages" ->
      report.stages.sortBy(-wallMs(_)).take(30).map { s =>
        val m = s.taskMetrics
        ListMap("stage" -> s.stageId, "wall_ms" -> wallMs(s)) ++
          totals(Seq(s)) ++ ListMap("records" ->
          (m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead),
          "name" -> s.name.takeWhile(_ != '\n').take(70))
      }))
  }
}
