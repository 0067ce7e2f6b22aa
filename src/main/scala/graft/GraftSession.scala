package graft

import org.apache.spark.sql.SparkSession

/** One session builder: `local` for the mains (Smoke/Verify/Bench/Inspect)
  * and the benchmark harness (`python3 perfbench/run.py`), on
  * SPARK_GRAFT_CPUS cores; `withCpus` for the fixed-size test session. It
  * pins UTC, sizes shuffle partitions to the core count, and installs the
  * SQL functions and optimizer rules through `spark.sql.extensions`, the
  * only registration path, so mains and specs run the same plans. The
  * conf is static: it binds only on the JVM's first session.
  */
object GraftSession {
  def local(defaultCpus: Int, logLevel: String = "ERROR"): SparkSession =
    withCpus(sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString), logLevel)

  def withCpus(cpus: String, logLevel: String = "ERROR"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
