package graft
import scala.util.control.NonFatal

import org.apache.spark.sql.{SparkSession, DataFrame}

import graft.operators.{Dedup, Monitoring, Relational, Similarity, TextOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 registers a [[operators.Q]]
  * (Spark implementation + DuckDB oracle SQL) in its module's `all` sequence;
  * this object is just the union of those registries.
  */
object SparkEntry {

  /** All catalogued queries across operator modules. */
  def registry: Seq[operators.Q] =
    Monitoring.all ++ Relational.all ++ TextOps.all ++ Dedup.all ++
      Similarity.all ++ operators.Multimodal.all ++ lifecycle.Lifecycle.all ++
      lifecycle.Ddl.all ++ lifecycle.SqlMutations.all ++
      lifecycle.Versioned.all ++
      streaming.Streams.all ++ operators.Pipeline.all ++
      operators.Search.all ++ operators.Profile.all ++ operators.Diff.all ++
      operators.Skip.all ++ operators.Graph.all

  /** Builds the persisted feature indexes of the modules that keep them,
    * in this order, so timed queries measure steady-state cost rather than
    * the one-time offline build. A failing module does not skip the rest:
    * each failure is logged to stderr and the failed modules are returned.
    */
  def prewarm(spark: SparkSession, dir: String): Seq[String] =
    Seq[(String, (SparkSession, String) => Unit)](
      "Dedup" -> Dedup.prewarmIndexes,
      "Similarity" -> Similarity.prewarmIndexes,
      "Search" -> operators.Search.prewarmIndexes,
      "Multimodal" -> operators.Multimodal.prewarmIndexes,
      "Graph" -> operators.Graph.prewarmIndexes,
      "Profile" -> operators.Profile.prewarmIndexes,
      "TextOps" -> TextOps.prewarmIndexes
    ).flatMap { case (module, build) =>
      try { build(spark, dir); None }
      catch { case NonFatal(e) =>
        System.err.println(s"[prewarm] $module failed: ${e.getMessage}")
        Some(module)
      }
    }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Monitoring.slowQueries(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
