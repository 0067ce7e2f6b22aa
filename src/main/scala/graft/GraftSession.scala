package graft

import org.apache.spark.sql.SparkSession

/** One session builder for the operational mains (Smoke/Verify/Bench/
  * Explain) and the benchmark harness, whose dashboard workload
  * (`python3 perfbench/run.py --workload dashboard`) times the refresh:
  * honors SPARK_GRAFT_CPUS, pins UTC, sizes
  * shuffle partitions to the core count, and registers the full graft
  * surface — SQL functions AND the optimizer rule — so every main runs
  * (and Explain DISPLAYS) exactly the plans the shipped extensions
  * produce. Previously each main re-spelled this with drifting defaults
  * and none registered the extensions, leaving the latest-per-key rewrite
  * invisible to the documented explain-and-iterate loop.
  */
object GraftSession {
  def local(defaultCpus: Int, logLevel: String = "ERROR"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    GraftExtensions.registerAll(spark)
    spark
  }
}
