package graft

import org.apache.spark.sql.SparkSession

/** One session builder: `local` for the mains (Smoke/Verify/Bench/Inspect)
  * and the benchmark harness (`python3 perfbench/run.py`), on
  * SPARK_GRAFT_CPUS cores; `withCpus` for the fixed-size test session. It
  * pins UTC, sizes shuffle partitions to the core count, installs the SQL
  * functions and optimizer rules through `spark.sql.extensions`, the only
  * registration path, so mains and specs run the same plans, and sizes the
  * codegen cache to hold the registry's generated classes
  * ([[CodegenCacheEntries]]). Both confs are static: they bind only on the
  * JVM's first session.
  */
object GraftSession {
  /** Size of Spark's cache of compiled generated classes (the static
    * `spark.sql.codegen.cache.maxEntries`; Spark's default is 100). The
    * cache is split into 4 LRU segments, so the default holds about 25
    * sources per segment and thrashes here. A dashboard refresh at sf0.01
    * compiles 98 distinct sources, and at 100 entries recompiled 35–42 of
    * them on every refresh; a pass over perfbench's analytics mix compiles
    * about 194 after its prewarm, and recompiled 186–188 per pass. Running
    * every registered query twice at sf0.01 compiles 2,854 distinct
    * sources, 142 of them again on the second pass (sources that differ
    * run to run); 4,096 entries hold that whole working set with room for
    * segment imbalance, and a warm mix pass then compiles 0–4. An entry
    * keeps its source (8.6 KB mean) and its loaded classes (about 2.5 per
    * source, 2.9 KB of bytecode each): a full cache costs on the order of
    * 100 MB of heap and metaspace. Measured peak RSS moved +0.7% on
    * perfbench's dashboard and +3.4% on its analytics mix.
    */
  val CodegenCacheEntries = 4096

  def local(defaultCpus: Int, logLevel: String = "ERROR"): SparkSession =
    withCpus(sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString), logLevel)

  def withCpus(cpus: String, logLevel: String = "ERROR"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries)
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
