package graft
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names — dev spot-checks of
    // single queries at larger SFs (the driver always passes two args)
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(",").toSet))
    }
    val spark = GraftSession.local(defaultCpus = 4, logLevel = "WARN")
    new java.io.File(outDir).mkdirs()
    // fail-SOFT schema guard (unlike Smoke/Bench's assertReadable): one
    // clear "table X unreadable" line per broken fixture table up front —
    // the r8 regen surfaced as 35 cryptic per-query errors — but queries
    // over healthy tables still verify and count, which beats an empty
    // correctness artifact when one table is bad.
    Catalog.tableNames.foreach { t =>
      try Catalog.table(spark, sfDir, t).schema
      catch { case e: Throwable =>
        System.err.println(s"[verify] TABLE '$t' UNREADABLE — every query " +
          s"reading it will fail: ${e.getMessage}")
      }
    }
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a failure BEFORE the overwrite starts leaves the previous run's
        // parquet in place — the checker would compare stale output and
        // report a false PASS. Remove it so a failed query is a missing
        // (failed) query.
        Catalog.fsFor(outDir, spark).delete(
          new org.apache.hadoop.fs.Path(s"$outDir/$name"), true)
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(
      SparkEntry.oracleSql.filter { case (k, _) => only.forall(_.contains(k)) },
      sfDir))
    spark.stop()
  }

  /** `oracle_sql.json`: query name → DuckDB SQL, in name order. Oracles
    * over parquet FILE METADATA (c10) need a literal path — table
    * functions can't read the registered views — so the run's fixture dir
    * is bound into the documented `__SF_DIR__` token.
    */
  private[graft] def oracleJson(oracleSql: Map[String, String],
      sfDir: String): String =
    Json.write(ListMap.from(oracleSql.toSeq.sortBy(_._1).map {
      case (k, v) => k -> v.replace("__SF_DIR__", sfDir) }))
}
