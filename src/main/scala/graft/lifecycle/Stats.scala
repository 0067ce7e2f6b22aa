package graft.lifecycle

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.DriverJobs

/** ANALYZE-equivalent table statistics (SURVEY.md §4; reference maintenance
  * path `VACUUM ANALYZE`, myapp/views.py:887-907).
  *
  * The engine's own written tables are bare parquet directories — Spark has
  * file sizes but no row counts / NDVs for them, so join-order and
  * broadcast decisions on freshly-written tables would fly blind.
  * [[analyze]] computes row count + per-column min/max/NDV/null-count in
  * ONE aggregation pass (all partial-aggregatable, map-side combined) and
  * persists them as a tiny parquet dataset at `<table>.stats`;
  * [[maybeBroadcast]] turns those persisted stats into an explicit
  * broadcast hint, which is how the cost knowledge re-enters planning.
  *
  * Stats are a snapshot: [[Lifecycle.compact]] refreshes them (VACUUM
  * ANALYZE), and any writer can call [[analyze]] after a batch commit.
  * [[analyze]] commits through `Lifecycle.commit`; its schema is fixed, so
  * a refresh keeps the stats path's pinned schema.
  */
object Stats {

  /** One thread per [[analyze]] pass. */
  private lazy val pool = DriverJobs.daemonPool("graft-analyze", 2)

  /** Where a table's stats dataset lives. */
  def statsPath(tablePath: String): String =
    tablePath.stripSuffix("/") + ".stats"

  private val statsSchema = StructType(Seq(
    StructField("column", StringType),
    StructField("table_row_count", LongType),
    StructField("table_size_bytes", LongType),
    StructField("min_str", StringType),
    StructField("max_str", StringType),
    StructField("ndv", LongType),
    StructField("null_count", LongType),
    StructField("hot_key_rows", LongType)))

  private def isAtomic(dt: DataType): Boolean = dt match {
    case _: ArrayType | _: MapType | _: StructType | BinaryType => false
    case _ => true
  }

  /** Compute and persist stats for a parquet table. One pass:
    * `count(*)` plus (min, max, approx NDV, null count) per atomic column,
    * all combining map-side — the scan cost is the whole cost. A second
    * pass adds per-column hot-key mass (what sizes salted-join fan-out);
    * it roughly doubles ANALYZE's cost (one more scan, unpivoted to
    * rows × columns pairs before the map-side combine), so
    * `withHotKeys = false` keeps the cheap form — consumers degrade to
    * the gate-default salt count, same as stats that predate the column.
    */
  def analyze(spark: SparkSession, tablePath: String,
      withHotKeys: Boolean = true): DataFrame = {
    val df = graft.Catalog.read(spark, tablePath)
    val cols = df.schema.fields.filter(f => isAtomic(f.dataType)).map(_.name)
    val aggs = count(lit(1)).as("_rows") +: cols.flatMap { c =>
      Seq(
        min(col(c)).cast("string").as(s"${c}__min"),
        max(col(c)).cast("string").as(s"${c}__max"),
        approx_count_distinct(col(c)).as(s"${c}__ndv"),
        count(when(col(c).isNull, lit(1))).as(s"${c}__nulls"))
    }.toSeq
    // the min/max/NDV pass and the hot-key pass are INDEPENDENT scans of
    // the same table — run both at once so the second job's tasks
    // back-fill the first job's tail instead of waiting behind it
    // (optimization guide §2.6 "overlap independent jobs"); ANALYZE's
    // wall cost drops to ~max of the two passes. Either pass failing
    // cancels the other.
    val statsPass = () => df.agg(aggs.head, aggs.tail: _*).collect()(0)
    // per-column hot-key mass (rows of the single most frequent non-NULL
    // value) — what sizes a salted join's fan-out (Relational.saltsFor).
    // ONE unpivoted two-level aggregation for ALL columns, not a groupBy
    // job per column: stack() emits (column, value) pairs and both aggs
    // combine map-side, so the cost is one shuffle of the distinct
    // (column, value) partials regardless of column count. NULLs are
    // excluded: an equi-join never matches them, so they can't be a hot
    // JOIN key no matter how many rows carry them.
    // NULL (not 0) when the pass is skipped: 0 means "no non-NULL value
    // occurs twice" and would size salting to R=1; NULL means "unknown"
    // and consumers fall back to their default. (An empty table needs no
    // guard: the grouped aggregate over zero rows collects an empty map,
    // exactly what the old rows == 0 branch returned.)
    val hotKeyPass = () =>
      if (cols.isEmpty || !withHotKeys) Map.empty[String, Long]
      else {
        // names reach SQL as both a string literal and an identifier —
        // escape each notation's own metacharacters (analyze takes
        // arbitrary parquet; an unescaped backslash would mangle the
        // literal's label and record hot 0 — not NULL — for the column,
        // silently deriving R=1 instead of the default)
        val stackArgs = cols
          .map { c =>
            val lit = c.replace("\\", "\\\\").replace("'", "''")
            val id = c.replace("`", "``")
            s"'$lit', CAST(`$id` AS STRING)"
          }.mkString(", ")
        df.selectExpr(s"stack(${cols.length}, $stackArgs) AS (sc, sv)")
          .filter(col("sv").isNotNull)
          .groupBy(col("sc"), col("sv")).agg(count(lit(1)).as("n"))
          .groupBy(col("sc")).agg(max(col("n")).as("hot"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      }
    val (row, hotCounts) = DriverJobs.runAll(spark, pool, s"analyze $tablePath")(
      Seq[(String, () => Any)]("stats" -> statsPass, "hot_keys" -> hotKeyPass)) match {
      case Seq(r: Row, h: Map[String, Long] @unchecked) => (r, h)
    }
    val rows = row.getLong(0)
    val sizeBytes = graft.Catalog.fsFor(tablePath, spark)
      .getContentSummary(new org.apache.hadoop.fs.Path(tablePath)).getLength
    val out = cols.zipWithIndex.map { case (c, i) =>
      val base = 1 + i * 4
      val hot: java.lang.Long =
        if (!withHotKeys) null
        else java.lang.Long.valueOf(hotCounts.getOrElse(c, 0L))
      Row(c, rows, sizeBytes,
        row.getAs[String](base), row.getAs[String](base + 1),
        row.getLong(base + 2), row.getLong(base + 3), hot)
    }
    val statsDf = spark.createDataFrame(
      new java.util.ArrayList[Row](java.util.Arrays.asList(out: _*)), statsSchema)
    // committed by Lifecycle.commit's swap, not an in-place Overwrite, which
    // deletes the old files before writing the new: a reader sees complete
    // stats or none, and [[snapshot]] absorbs the between-renames window,
    // so consumers degrade to "no hint", never to a failed plan
    Lifecycle.commit(statsDf.coalesce(1), statsPath(tablePath))(spark)
    statsDf
  }

  /** Read a table's persisted stats; None when never analyzed (including
    * when a concurrent [[analyze]] swap removed the dir between the
    * existence check and the open — a race that must degrade to "no
    * stats", not propagate). NOTE: the returned DataFrame is lazy; callers
    * that ACT on it during a concurrent swap can still observe
    * FileNotFound — scalar consumers should use [[snapshot]], which
    * materializes inside the guard.
    */
  def read(spark: SparkSession, tablePath: String): Option[DataFrame] =
    try {
      val fs = graft.Catalog.fsFor(tablePath, spark)
      if (fs.exists(new org.apache.hadoop.fs.Path(statsPath(tablePath))))
        Some(graft.Catalog.read(spark, statsPath(tablePath)))
      else None
    } catch { case _: Exception => None }

  /** One materialized (rowCount, sizeBytes) pair from a SINGLE stats
    * version — one open, one job, and any mid-swap race collapses to None
    * instead of a failed caller plan (the guarantee [[analyze]]'s swap
    * comment promises).
    */
  def snapshot(spark: SparkSession, tablePath: String): Option[(Long, Long)] =
    try read(spark, tablePath).flatMap(
      _.select(col("table_row_count"), col("table_size_bytes"))
        .head(1).headOption.map(r => (r.getLong(0), r.getLong(1))))
    catch { case _: Exception => None }

  /** Persisted row count, if analyzed. */
  def rowCount(spark: SparkSession, tablePath: String): Option[Long] =
    snapshot(spark, tablePath).map(_._1)

  /** Persisted on-disk size, if analyzed. */
  def sizeBytes(spark: SparkSession, tablePath: String): Option[Long] =
    snapshot(spark, tablePath).map(_._2)

  /** Rows of `column`'s most frequent non-NULL value, if analyzed — the
    * input to [[graft.operators.Relational.saltsFor]]. None when the
    * table was never analyzed, the column is unknown/non-atomic, or the
    * stats predate the hot-key column (schema drift degrades to "no
    * stats", same as every other consumer here).
    */
  def hotKeyRows(spark: SparkSession, tablePath: String,
      column: String): Option[Long] =
    try read(spark, tablePath)
      .filter(_.schema.fieldNames.contains("hot_key_rows"))
      // NULL = the analyze skipped the hot-key pass (withHotKeys=false) —
      // unknown, not zero; getLong on a NULL cell would silently read 0
      .flatMap(_.filter(col("column") === column &&
          col("hot_key_rows").isNotNull)
        .select(col("hot_key_rows"))
        .head(1).headOption.map(_.getLong(0)))
    catch { case _: Exception => None }

  /** Persisted (min, max) of `column` in [[analyze]]'s string rendering,
    * if analyzed and non-NULL — the observed-range input to
    * [[graft.operators.Relational.cellSecondsForTable]]'s grid sizing.
    */
  def minMax(spark: SparkSession, tablePath: String,
      column: String): Option[(String, String)] =
    try read(spark, tablePath)
      .flatMap(_.filter(col("column") === column &&
          col("min_str").isNotNull && col("max_str").isNotNull)
        .select(col("min_str"), col("max_str"))
        .head(1).headOption.map(r => (r.getString(0), r.getString(1))))
    catch { case _: Exception => None }

  /** Apply a broadcast hint iff the persisted stats say the table is small
    * BOTH by on-disk bytes AND by row count — the ANALYZE → plan feedback
    * loop for the engine's own written tables. The row-count bound is the
    * point of having stats at all: compressed file size alone would
    * force-broadcast a 9 MB / 200M-row table straight into executor OOM.
    */
  def maybeBroadcast(spark: SparkSession, df: DataFrame, tablePath: String,
      thresholdBytes: Long = 10L << 20,
      thresholdRows: Long = 4L * 1000 * 1000): DataFrame =
    snapshot(spark, tablePath) match {
      case Some((r, b)) if b <= thresholdBytes && r <= thresholdRows =>
        broadcast(df)
      case _ => df
    }
}
