package graft

import org.apache.spark.sql.graftshim.Shims

/** [[GraftSession]]'s codegen cache holds a workload's generated sources,
  * so repeating the workload compiles none. */
class CodegenCacheSpec extends SparkSuite {

  private def compiles(body: => Unit): Long = {
    val before = Shims.codegenCompiles
    body
    Shims.codegenCompiles - before
  }

  test("after one warm refresh, a second refresh compiles nothing") {
    Dashboard.collectIndexConcurrently(spark, sfDir)
    assert(compiles(Dashboard.collectIndexConcurrently(spark, sfDir)) == 0)
  }

  test("after a warm pass over the analytics mix, k4_hits compiles nothing") {
    // perfbench's analytics mix: together its generated classes overflow
    // Spark's default 100-entry cache, so each query's are evicted by the
    // time it runs again
    val mix = Seq("k4_hits", "b15_maxscore", "j11_interval_join", "m6_cdc_dedup", "x20_keywords")
    def run(q: String): Unit =
      SparkEntry.queries(q)(spark, sfDir).write.format("noop").mode("overwrite").save()
    mix.foreach(run)
    assert(compiles(run("k4_hits")) == 0)
  }
}
