package graft

import java.nio.file.Files
import java.util.concurrent.CountDownLatch

/** [[Metrics]] scopes a call by its job tag: other threads' jobs and
  * queries are left out, jobs handed to [[DriverJobs]] count, and
  * recorders nest. */
class MetricsSpec extends SparkSuite {

  private def oneJob(): Long = spark.sparkContext.parallelize(1 to 5, 1).count()

  test("a job started on another thread during the body is not counted") {
    val go = new CountDownLatch(1)
    val other = new Thread(() => { go.await(); oneJob() }) // made outside the call: no tag
    other.start()
    val (_, report) = Metrics(spark) { go.countDown(); other.join(); oneJob() }
    assert(report.jobs.size == 1, report.jobs)
    assert(report.jobs.forall(_.end.isDefined), report.jobs)
  }

  test("Stats.analyze's two pass jobs count toward the caller") {
    val p = Files.createTempDirectory("graft_metrics_").toString + "/nation"
    Catalog.nation(spark, sfDir).write.parquet(p)
    val jobs = Metrics(spark)(lifecycle.Stats.analyze(spark, p))._2.jobs
    val passes = jobs.map(_.description).filter(d => d != null && d.startsWith("analyze "))
    assert(passes.toSet == Set(s"analyze $p: stats", s"analyze $p: hot_keys"), jobs)
  }

  test("nested recorders both see a job of the inner call") {
    val (inner, outer) = Metrics(spark) { oneJob(); Metrics(spark)(oneJob())._2 }
    assert(inner.jobs.size == 1 && outer.jobs.size == 2, (inner.jobs, outer.jobs))
    assert(outer.jobs.map(_.id).contains(inner.jobs.head.id))
  }

  test("plan phases come from the call's own SQL executions, not another thread's") {
    val go = new CountDownLatch(1)
    val other = new Thread(() => { go.await(); spark.range(10).selectExpr("sum(id)").collect() })
    other.start()
    val (_, report) = Metrics(spark) {
      go.countDown(); other.join(); spark.range(5).selectExpr("count(id)").collect()
    }
    assert(report.executions.size == 1, report.executions)
    assert(Seq("analysis", "optimization", "planning")
      .forall(report.executions.head.phases.contains), report.executions)
    assert(report.planMs("analysis") == report.executions.head.phases("analysis"))
  }
}
