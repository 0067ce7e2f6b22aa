package graft.lifecycle

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

import graft.Catalog

/** Mutation lifecycle over immutable parquet (SURVEY.md §2.1 S7-S16):
  * append, idempotent upsert (anti-join-append — the reference's
  * `ON CONFLICT DO NOTHING`, myapp/views.py:33-44), delete/update as
  * rewrite-on-write, archive/restore/retention, truncate, and small-file
  * compaction (the VACUUM analogue, myapp/views.py:887-907).
  *
  * Every op is deterministic and idempotent (re-running changes nothing) —
  * the property the reference gets from PG constraints and we get from
  * anti-joins; pinned timestamps (Catalog.AsOf) replace CURRENT_TIMESTAMP
  * for testability (SURVEY.md §7.4).
  *
  * Scale notes: upsert shuffles only on the key column; delete/update
  * rewrite is partition-parallel; at 100 TB these ops would run per
  * date-partition (the partition pruning keeps rewrites local) — the
  * fixture tables are unpartitioned so the ops here rewrite whole tables.
  */
object Lifecycle {

  /** S7 — plain append. A column whose type differs from the table's would
    * land without error and then break every later read of the table, so
    * it is rejected before anything is written. A frame holding exactly
    * the table's columns is written in the table's column order (upsert's
    * anti-join puts its keys first), and the written schema goes to
    * [[Catalog.committed]], as [[commit]]'s does. */
  def append(table: DataFrame, path: String): Unit = {
    implicit val spark: SparkSession = table.sparkSession
    val rows = if (!hasDataFiles(path)) table else {
      val resolver = spark.sessionState.analyzer.resolver
      val target = Catalog.read(spark, path).schema
      for (f <- table.schema; t <- target.find(t => resolver(t.name, f.name))
          if !DataType.equalsStructurally(f.dataType, t.dataType, ignoreNullability = true))
        throw new IllegalArgumentException(s"append to $path: column ${f.name} " +
          s"is ${f.dataType.sql}, but the table's ${t.name} is ${t.dataType.sql}")
      val ordered = target.flatMap(t => table.columns.find(resolver(t.name, _)))
      if (ordered.size != table.columns.length || ordered.size != target.length) table
      else table.select(ordered.map(c => table.col(s"`${c.replace("`", "``")}`")).toSeq: _*)
    }
    rows.write.mode(SaveMode.Append).parquet(path)
    Catalog.committed(path, rows.schema)
  }

  /** S9 — idempotent upsert: insert only rows whose key is absent
    * (`ON CONFLICT DO NOTHING`). One shuffle on the key.
    */
  def upsert(existingPath: String, delta: DataFrame, keys: Seq[String])(
      implicit spark: SparkSession): Unit = {
    val existing = Catalog.read(spark, existingPath)
    append(delta.join(existing.select(keys.map(col): _*), keys, "left_anti"),
      existingPath)
  }

  /** S10 — DELETE WHERE pred: rewrite keeping the complement. SQL DELETE
    * removes only rows where the predicate is TRUE — a NULL predicate
    * keeps the row, so the kept set is `NOT coalesce(pred, false)`.
    */
  def delete(path: String, pred: org.apache.spark.sql.Column)(
      implicit spark: SparkSession): Unit =
    rewriteAt(path)(_.filter(!coalesce(pred, lit(false))))

  /** S11 — UPDATE SET col = value WHERE pred. */
  def update(path: String, column: String, value: org.apache.spark.sql.Column,
      pred: org.apache.spark.sql.Column)(implicit spark: SparkSession): Unit =
    updateMulti(path, Seq(column -> value), pred)

  /** UPDATE SET c1 = v1, c2 = v2, … WHERE pred with SQL's SIMULTANEOUS
    * assignment semantics: every right-hand side is evaluated against the
    * OLD row (one select over the input columns), so `SET a = b, b = a`
    * swaps — a fold of withColumn would feed c2's expression the already-
    * updated c1.
    */
  def updateMulti(path: String, sets: Seq[(String, org.apache.spark.sql.Column)],
      pred: org.apache.spark.sql.Column)(implicit spark: SparkSession): Unit = {
    // resolve SET targets the way Spark resolves identifiers (case-
    // insensitive under the default spark.sql.caseSensitive=false), and
    // reject duplicate targets (SQL engines error; silent last-wins would
    // hide a typo'd statement)
    val resolver = spark.sessionState.analyzer.resolver
    val dup = sets.map(_._1).combinations(2)
      .collectFirst { case Seq(a, b) if resolver(a, b) => a }
    require(dup.isEmpty, s"duplicate UPDATE SET target: ${dup.get}")
    rewriteAt(path) { df =>
      val unknown = sets.map(_._1).filterNot(s => df.columns.exists(resolver(s, _)))
      require(unknown.isEmpty,
        s"UPDATE references non-existent column(s): ${unknown.mkString(", ")}")
      df.select(df.columns.map { c =>
        sets.find(s => resolver(s._1, c))
          .map { case (_, v) => when(pred, v).otherwise(col(c)).as(c) }
          .getOrElse(col(c))
      }: _*)
    }
  }

  /** S13/S15a — archive: stamp every live row with an archive timestamp
    * (schema evolution: + archive_ts column) and append to the archive
    * path, then S14-truncate the live table.
    */
  def archive(livePath: String, archivePath: String, asOf: String)(
      implicit spark: SparkSession): Unit = {
    val live = Catalog.read(spark, livePath)
    append(live.withColumn("archive_ts", lit(asOf).cast("timestamp")),
      archivePath)
    truncate(livePath)
  }

  /** S15b — restore: move archive rows stamped before the cutoff back to
    * the live table (dropping the stamp), delete them from the archive.
    */
  def restoreOlderThan(livePath: String, archivePath: String, cutoff: String)(
      implicit spark: SparkSession): Unit = {
    val arch = Catalog.read(spark, archivePath)
    val toRestore = arch.filter(col("archive_ts") < lit(cutoff).cast("timestamp"))
    append(toRestore.drop("archive_ts"), livePath)
    rewriteAt(archivePath)(
      _.filter(col("archive_ts") >= lit(cutoff).cast("timestamp")))
  }

  /** S14 — TRUNCATE: overwrite with the empty relation, schema kept. */
  def truncate(path: String)(implicit spark: SparkSession): Unit =
    rewriteAt(path)(df => df.limit(0))

  /** S16 — compaction + stats refresh (the full `VACUUM ANALYZE` analogue,
    * reference myapp/views.py:887-907): rewrite to k output files, then
    * recompute and persist table statistics ([[Stats.analyze]]).
    */
  def compact(path: String, numFiles: Int)(implicit spark: SparkSession): Unit = {
    rewriteAt(path)(_.repartition(numFiles))
    Stats.analyze(spark, path)
    ()
  }

  /** Rewrite-on-write (parquet can't be read and overwritten in one job):
    * `f` of the path's rows, put in place by [[commit]]. DELETE, UPDATE,
    * TRUNCATE, compaction, the rollup refresh and MERGE run through it. */
  private[lifecycle] def rewriteAt(path: String)(f: DataFrame => DataFrame)(
      implicit spark: SparkSession): Unit =
    commit(f(Catalog.read(spark, path)), path)

  /** The one table commit: stage `df` beside `path`, [[swap]] it in, and
    * report the written schema to [[Catalog.committed]], which drops the
    * path's pinned schema only when it changed. [[rewriteAt]] and
    * [[Stats.analyze]] commit through it.
    */
  private[lifecycle] def commit(df: DataFrame, path: String)(
      implicit spark: SparkSession): Unit = {
    val staged = sibling(path, "staged")
    df.write.mode(SaveMode.Overwrite).parquet(staged)
    swap(Catalog.fsFor(path, spark), new Path(staged), new Path(path),
      new Path(sibling(path, "bak")))
    Catalog.committed(path, df.schema)
  }

  /** `<path>.<kind>-<uuid>`, unique per call: with a fixed name, a second
    * concurrent writer's Overwrite deletes the first's staged data, and
    * its cleanup deletes the first's backup. */
  private def sibling(path: String, kind: String): String =
    s"${path.stripSuffix("/")}.$kind-${java.util.UUID.randomUUID()}"

  /** The one swap: move `dst` aside to `backup`, promote `staged`, then
    * delete the backup; a failed promote restores the backup. The live
    * data is never deleted before its replacement exists, so a crash
    * leaves `dst` or `backup` recoverable. A missing `dst` is created, and
    * a missing `staged` removes `dst` (a partition rewritten to nothing).
    */
  private def swap(fs: FileSystem, staged: Path, dst: Path, backup: Path): Unit = {
    val moved = fs.exists(dst)
    if (moved && !fs.rename(dst, backup))
      throw new java.io.IOException(s"$dst: could not move the live data aside")
    if (fs.exists(staged) && !fs.rename(staged, dst)) {
      if (moved) fs.rename(backup, dst)
      throw new java.io.IOException(s"$dst: failed to promote staged data")
    }
    if (moved) fs.delete(backup, true)
  }

  // ---------------------------------------------------------------------
  // Partition-local mutation — the 100 TB form of S9-S11 over the
  // dt-partitioned layout (Catalog.writePartitionedByDate): delete/update/
  // upsert touch ONLY the partitions their predicate or delta hits; every
  // other partition's files stay byte-identical on disk. Rewrite locality
  // is the point of the date layout (SURVEY.md §4 partitioning plan).
  // ---------------------------------------------------------------------

  /** Rewrite only the named partitions: stage the transformed slice, then
    * [[swap]] the affected partition directories one by one. A partition
    * whose rewritten content is empty is removed. `f` must not change
    * `partCol` values — rows may not migrate between partitions through
    * this path.
    *
    * Directory names use Spark's own partition-path escaping
    * (`ExternalCatalogUtils.escapePathName`), so string partition values
    * with reserved characters swap correctly. Backups live in a SIBLING
    * `<path>.bak-<uuid>/` tree, never inside the table — a crash mid-swap
    * leaves the partition missing but the table readable (and the backup
    * recoverable), instead of a bogus `<sub>.bak` partition corrupting
    * partition-column inference.
    */
  def rewritePartitions(path: String, partCol: String, affected: Seq[Any])(
      f: DataFrame => DataFrame)(implicit spark: SparkSession): Unit = {
    if (affected.isEmpty) return
    val staged = sibling(path, "staged")
    val bakRoot = new Path(sibling(path, "bak"))
    val slice = Catalog.readPartitioned(spark, path)
      .filter(col(partCol).isin(affected: _*))
    f(slice).write.mode(SaveMode.Overwrite).partitionBy(partCol).parquet(staged)
    val fs = Catalog.fsFor(path, spark)
    fs.mkdirs(bakRoot)
    affected.foreach { v =>
      val sub = partCol + "=" + ExternalCatalogUtils.escapePathName(String.valueOf(v))
      swap(fs, new Path(s"$staged/$sub"), new Path(s"$path/$sub"), new Path(bakRoot, sub))
    }
    fs.delete(new Path(staged), true)
    fs.delete(bakRoot, true)
  }

  /** True when the path holds at least one parquet data file. A partitioned
    * write of an EMPTY relation emits only `_SUCCESS` (no partition dirs,
    * no footers), so a later read cannot infer a schema — the zero-row
    * table every empty source partition produces must stay operable.
    */
  private def hasDataFiles(path: String)(implicit spark: SparkSession): Boolean = {
    val fs = Catalog.fsFor(path, spark)
    val p = new Path(path)
    fs.exists(p) && {
      val it = fs.listFiles(p, true)
      var found = false
      while (!found && it.hasNext)
        found = it.next().getPath.getName.endsWith(".parquet")
      found
    }
  }

  /** Partitions (values of `partCol`) holding at least one row matching
    * `pred` — the rewrite scope of a partition-local mutation. Empty
    * (file-less) tables have no affected partitions.
    */
  private def affectedPartitions(path: String, partCol: String,
      pred: org.apache.spark.sql.Column)(
      implicit spark: SparkSession): Seq[Any] =
    if (!hasDataFiles(path)) Seq.empty
    else Catalog.readPartitioned(spark, path).filter(pred)
      .select(col(partCol)).distinct().collect().map(_.get(0)).toSeq

  /** S10, partition-local: DELETE WHERE pred rewriting only hit partitions. */
  def deleteInPartitions(path: String, partCol: String,
      pred: org.apache.spark.sql.Column)(implicit spark: SparkSession): Unit =
    rewritePartitions(path, partCol, affectedPartitions(path, partCol, pred))(
      _.filter(!coalesce(pred, lit(false))))

  /** S11, partition-local: UPDATE SET column = value WHERE pred. */
  def updateInPartitions(path: String, partCol: String, column: String,
      value: org.apache.spark.sql.Column, pred: org.apache.spark.sql.Column)(
      implicit spark: SparkSession): Unit =
    rewritePartitions(path, partCol, affectedPartitions(path, partCol, pred))(
      df => df.withColumn(column, when(pred, value).otherwise(col(column))))

  /** S9, partition-local: upsert that anti-joins the delta against ONLY the
    * partitions the delta itself touches — the existing-side scan is
    * partition-pruned, so the shuffle is sized by the delta's days, not the
    * table's history.
    *
    * CONTRACT: keys must be partition-local — a given key value only ever
    * appears under one `partCol` value (the standard event-time layout
    * property: the partition is derived from an immutable column of the
    * row). If a delta can re-present an existing key under a DIFFERENT
    * partition, this path would append a duplicate; use the full-table
    * [[upsert]] there, which is exactly the full-history scan this variant
    * exists to avoid.
    */
  def upsertPartitioned(existingPath: String, delta: DataFrame,
      keys: Seq[String], partCol: String)(implicit spark: SparkSession): Unit = {
    val fresh =
      if (!hasDataFiles(existingPath)) delta // nothing on disk → all fresh
      else {
        val parts = delta.select(col(partCol)).distinct().collect().map(_.get(0)).toSeq
        // NULL partition values land in the default partition on write, so
        // the existing-side scan must include it — a plain isin() is
        // NULL-unsafe and would silently re-append NULL-partition keys
        val (nullParts, realParts) = parts.partition(_ == null)
        val inReal =
          if (realParts.nonEmpty) col(partCol).isin(realParts: _*) else lit(false)
        val partPred =
          if (nullParts.nonEmpty) inReal || col(partCol).isNull else inReal
        val existing = Catalog.readPartitioned(spark, existingPath).filter(partPred)
        delta.join(existing.select(keys.map(col): _*), keys, "left_anti")
      }
    fresh.write.mode(SaveMode.Append).partitionBy(partCol).parquet(existingPath)
  }

  // ---------------------------------------------------------------------
  // Oracle-checkable pipeline: runs the full S9→S10→S11 write path in a
  // scratch dir seeded from the fixture, then returns the resulting table.
  // The DuckDB oracle expresses the same final state as pure SQL over the
  // original fixture — equivalence proves the write path correct.
  // ---------------------------------------------------------------------
  def mutationPipeline(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val scratch = graft.Scratch.freshRunDir(spark, "lifecycle_mutation_run", dir)
    val events = s"$scratch/events"
    Catalog.events(spark, dir).write.parquet(events)
    // S9: upsert a delta — 'signup' rows re-keyed +10_000_000 (fresh) plus
    // the original error rows unchanged (conflicting → dropped).
    val delta = Catalog.events(spark, dir)
      .filter(col("event_type") === "signup")
      .withColumn("event_id", col("event_id") + 10000000L)
      .unionByName(Catalog.events(spark, dir).filter(col("event_type") === "error"))
    upsert(events, delta, Seq("event_id"))
    // upsert twice: idempotence is part of the contract (SURVEY.md §7.4)
    upsert(events, delta, Seq("event_id"))
    // S10: delete clicks
    delete(events, col("event_type") === "click")
    // S11: zero the value of view events
    update(events, "value", lit(0.0), col("event_type") === "view")
    Catalog.read(spark, events)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .orderBy(col("event_id"))
  }

  val mutationPipelineSql: String =
    """SELECT event_id, user_id, event_type,
      | CASE WHEN event_type = 'view' THEN 0.0 ELSE value END AS value
      |FROM (
      | SELECT event_id, user_id, event_type, value FROM events
      | UNION ALL
      | SELECT event_id + 10000000, user_id, event_type, value
      | FROM events WHERE event_type = 'signup')
      |WHERE event_type <> 'click'
      |ORDER BY event_id""".stripMargin.replace('\n', ' ')

  /** Archive → restore round-trip returning the final live table; the
    * oracle is the identity (a full cycle with cutoff after the stamp
    * restores everything).
    */
  def archiveRestorePipeline(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val scratch = graft.Scratch.freshRunDir(spark, "lifecycle_archive_run", dir)
    val live = s"$scratch/events"
    val arch = s"$scratch/events_archive"
    Catalog.events(spark, dir).write.parquet(live)
    archive(live, arch, Catalog.AsOf)
    // S16 on the emptied live table is a no-op; compact the archive
    compact(arch, 4)
    restoreOlderThan(live, arch, "2024-03-01 00:00:00")
    Catalog.read(spark, live)
      .select(col("event_id"), col("event_type"), col("value"))
      .orderBy(col("event_id"))
  }

  val archiveRestorePipelineSql: String =
    """SELECT event_id, event_type, value FROM events
      |ORDER BY event_id""".stripMargin.replace('\n', ' ')

  /** The partition-local write path under the oracle gate: seed a
    * dt-partitioned scratch copy, then delete day-5 clicks, zero day-5
    * view values, and upsert a re-keyed day-5 signup delta (twice —
    * idempotence), all through the partition-local forms — only the
    * `dt=2024-01-05` partition is ever rewritten. The oracle states the
    * same final relation as pure SQL over the original fixture.
    */
  def partitionedMutationPipeline(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val scratch = graft.Scratch.freshRunDir(spark, "lifecycle_partitioned_run", dir)
    val path = s"$scratch/events_dt"
    Catalog.writePartitionedByDate(Catalog.events(spark, dir), "ts", path)
    val day = lit("2024-01-05").cast("date")
    deleteInPartitions(path, "dt",
      col("dt") === day && col("event_type") === "click")
    updateInPartitions(path, "dt", "value", lit(0.0),
      col("dt") === day && col("event_type") === "view")
    def dayEvents(kind: String) = Catalog.events(spark, dir)
      .filter(to_date(col("ts")) === day && col("event_type") === kind)
      .withColumn("dt", to_date(col("ts")))
    val delta = dayEvents("signup")
      .withColumn("event_id", col("event_id") + 10000000L)
      .unionByName(dayEvents("error")) // conflicting keys → dropped
    upsertPartitioned(path, delta, Seq("event_id"), "dt")
    upsertPartitioned(path, delta, Seq("event_id"), "dt") // idempotent
    val out =
      if (hasDataFiles(path)) Catalog.readPartitioned(spark, path)
      else Catalog.events(spark, dir).limit(0) // empty source → empty table
    out.select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .orderBy(col("event_id"))
  }

  val partitionedMutationPipelineSql: String =
    """SELECT event_id, user_id, event_type,
      | CASE WHEN CAST(ts AS DATE) = DATE '2024-01-05' AND event_type = 'view'
      |  THEN 0.0 ELSE value END AS value
      |FROM (
      | SELECT event_id, user_id, event_type, value, ts FROM events
      | UNION ALL
      | SELECT event_id + 10000000, user_id, event_type, value, ts FROM events
      | WHERE CAST(ts AS DATE) = DATE '2024-01-05' AND event_type = 'signup')
      |WHERE NOT (CAST(ts AS DATE) = DATE '2024-01-05' AND event_type = 'click')
      |ORDER BY event_id""".stripMargin.replace('\n', ' ')

  /** S5 — CSV sink proven by round-trip: export via the serving-layer CSV
    * sink (reference template JS CSV builders, index.html:338-371 —
    * server-side here), read back with the source schema; the oracle is
    * the identity over the fixture, so quoting/null/numeric fidelity of
    * the write–read path is what the gate checks.
    */
  def csvRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val scratch = graft.Scratch.freshRunDir(spark, "lifecycle_csv_run", dir)
    val src = Catalog.nation(spark, dir)
    graft.streaming.Sinks.csvExport(src, s"$scratch/nation_csv")
    spark.read.option("header", "true").schema(src.schema)
      .csv(s"$scratch/nation_csv")
      .orderBy(col("n_nationkey"))
  }

  val csvRoundTripSql: String =
    "SELECT * FROM nation ORDER BY n_nationkey"

  /** S25 — JSON-lines round-trip (s5's fidelity gate for the OTHER
    * interchange format): export supplier to JSON, read it back under
    * the source schema, and hash-compare against the identity SELECT
    * over the ORIGINAL parquet — so the gate proves the export loses
    * nothing, including doubles (Jackson prints shortest-round-trip
    * representations, so s_acctbal survives bit-exactly).
    */
  def jsonRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val scratch = graft.Scratch.freshRunDir(spark, "lifecycle_json_run", dir)
    val src = Catalog.supplier(spark, dir)
    graft.streaming.Sinks.jsonExport(src, s"$scratch/supplier_json")
    spark.read.schema(src.schema)
      .json(s"$scratch/supplier_json")
      .orderBy(col("s_suppkey"))
  }

  val jsonRoundTripSql: String =
    "SELECT * FROM supplier ORDER BY s_suppkey"

  /** S26 — ORC sink round-trip over the RICHEST fixture table (events:
    * timestamps, doubles, NULL-bearing rows): export to ORC with the
    * natural write parallelism, re-read, and let the identity oracle
    * prove bit-exact fidelity — the columnar-sink sibling of s5 (CSV)
    * and s25 (JSON), covering the format an archival tier or a
    * Hive-lineage consumer asks for. The re-read binds the source
    * schema explicitly (an interchange read never trusts inference).
    */
  def orcRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val scratch = graft.Scratch.freshRunDir(spark, "lifecycle_orc_run", dir)
    val src = Catalog.events(spark, dir)
    graft.streaming.Sinks.orcExport(src, s"$scratch/events_orc")
    spark.read.schema(src.schema)
      .orc(s"$scratch/events_orc")
      .orderBy(col("event_id"))
  }

  val orcRoundTripSql: String =
    "SELECT * FROM events ORDER BY event_id"

  /** S12 — the CHECK constraint of the reference's `user_roles` DDL
    * (myapp/db_helpers.py:7-12) as a batch write-path validation — the
    * exact filter the streaming ingest applies, oracle-checked against
    * the SQL form of the constraint.
    */
  def checkValidate(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.Streams.validate(Catalog.events(spark, dir))
      .select(col("event_id"), col("event_type"), col("value"))
      .orderBy(col("event_id"))

  val checkValidateSql: String =
    """SELECT event_id, event_type, value FROM events
      |WHERE event_id IS NOT NULL AND ts IS NOT NULL
      | AND event_type IN ('click','view','signup','purchase','error')
      |ORDER BY event_id""".stripMargin.replace('\n', ' ')

  // ---------------------------------------------------------------------
  // S20 — incremental aggregate maintenance (materialized-view refresh):
  // a persisted per-(day, type) rollup is updated from an appended delta
  // by aggregating ONLY the delta and merging algebraic partials —
  // count merges as sum-of-counts, sum as sum-of-sums, both kept
  // exact-decimal until the output edge. At 100 TB this is THE pattern
  // that replaces nightly full recomputes: the refresh cost scales with
  // the delta, and the merge aggregate shuffles only rollup-sized rows
  // (days × types). The ORACLE is the full recompute from the base
  // table, so the gate itself proves incremental == full.
  // ---------------------------------------------------------------------
  private[graft] def dayTypeRollupFor(df: DataFrame): DataFrame =
    df.groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).as("sum_value_dec"))

  /** One incremental refresh step: merge the delta's partial rollup into
    * the persisted one (exposed for the multi-step spec).
    */
  def refreshRollup(rollupPath: String, delta: DataFrame)(
      implicit spark: SparkSession): Unit =
    rewriteAt(rollupPath) { cur =>
      cur.unionByName(dayTypeRollupFor(delta))
        .groupBy(col("day"), col("event_type"))
        .agg(sum(col("n")).as("n"),
          sum(col("sum_value_dec")).as("sum_value_dec"))
    }

  def incrementalRollupPipeline(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val scratch = graft.Scratch.freshRunDir(spark, "lifecycle_rollup_run", dir)
    val rollup = s"$scratch/rollup"
    val cutover = lit("2024-01-20").cast("timestamp")
    val ev = Catalog.events(spark, dir)
    dayTypeRollupFor(ev.filter(col("ts") < cutover)).write.parquet(rollup)
    refreshRollup(rollup, ev.filter(col("ts") >= cutover))
    Catalog.read(spark, rollup)
      .select(col("day"), col("event_type"), col("n"),
        col("sum_value_dec").cast("double").as("sum_value"))
      .orderBy(col("day"), col("event_type"))
  }

  val incrementalRollupPipelineSql: String =
    """SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n,
      | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2
      |ORDER BY day, event_type""".stripMargin.replace('\n', ' ')

  // ---------------------------------------------------------------------
  // S27 — SCHEMA-EVOLUTION read: a table whose later files carry MORE
  // columns than its earlier ones (the additive evolution every
  // long-lived lake table undergoes — a field added mid-stream, old
  // files never rewritten) must read as ONE relation with NULLs where
  // the old files have no value. The gate writes two real parquet
  // "epochs" into one directory — epoch 1 (doc_id, lang), epoch 2 adds
  // `source` — and reads them back with Spark's footer-schema merge;
  // the oracle reconstructs the same relation from `documents` alone,
  // so row identity proves both the write split and the merged read.
  //
  // Scale note: `mergeSchema` costs a footer read per file AT PLANNING
  // TIME — fine for a gate, wrong as a steady-state habit at 100 TB
  // (millions of footers per query). A deployment pins the merged
  // schema in its catalog (or a Versioned-style manifest) and reads
  // with an explicit schema; the RESULT is identical to this gate's —
  // which is exactly what makes the gate the right correctness pin for
  // either planning strategy.
  // ---------------------------------------------------------------------
  def schemaMergeRead(spark: SparkSession, dir: String): DataFrame = {
    val run = graft.Scratch.freshRunDir(spark, "lifecycle_schema_merge", dir)
    schemaMergeReadOf(Catalog.documents(spark, dir), s"$run/tbl")
  }

  /** The epoch-split write + merged read over an explicit (doc_id, lang,
    * source, ...) frame — specs feed hand corpora (incl. negative ids).
    */
  private[graft] def schemaMergeReadOf(docs: DataFrame,
      tbl: String): DataFrame = {
    val spark = docs.sparkSession
    // epoch 1: the original narrow schema. The split must be EXHAUSTIVE
    // over every doc_id value: (=== 0 / =!= 0) rather than (=== 0 /
    // === 1) because a negative odd id makes `% 2` yield -1 in both
    // engines, and coalesce(…, 0) because a NULL doc_id makes BOTH bare
    // predicates NULL — either gap writes the row to NEITHER epoch:
    // silent loss the oracle (which reads `documents` whole) would
    // catch only if the fixture happened to contain such a row
    // (round-12 review + r12 ADVICE)
    val epoch = coalesce(col("doc_id") % 2, lit(0L))
    docs.filter(epoch === 0)
      .select(col("doc_id"), col("lang"))
      .write.parquet(tbl)
    // epoch 2: the evolved schema (source added), appended — old files
    // stay byte-identical, exactly how additive evolution lands
    docs.filter(epoch =!= 0)
      .select(col("doc_id"), col("lang"), col("source"))
      .write.mode(SaveMode.Append).parquet(tbl)
    spark.read.option("mergeSchema", "true").parquet(tbl)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))
  }

  val schemaMergeReadSql: String =
    """SELECT doc_id, lang,
      | CASE WHEN coalesce(doc_id % 2, 0) <> 0 THEN source END AS source
      |FROM documents ORDER BY doc_id""".stripMargin.replace('\n', ' ')

  val all: Seq[graft.operators.Q] = Seq(
    graft.operators.Q("s27_schema_merge", schemaMergeRead,
      Some(schemaMergeReadSql),
      "schema-evolution read: two real parquet epochs in one directory " +
        "(the later one adds a column), merged-footer read returns one " +
        "relation with NULLs for pre-evolution rows — additive lake " +
        "evolution's correctness pin; a deployment pins the merged " +
        "schema in its catalog instead of re-merging footers per query"),
    graft.operators.Q("s20_incremental_rollup", incrementalRollupPipeline,
      Some(incrementalRollupPipelineSql),
      "incremental materialized-rollup refresh: delta-only aggregation + algebraic partial merge, oracle = full recompute"),
    graft.operators.Q("s9_mutation_pipeline", mutationPipeline,
      Some(mutationPipelineSql),
      "upsert (×2, idempotent) + delete + update write path (views.py:33-44,113,168-170)"),
    graft.operators.Q("s15_archive_restore", archiveRestorePipeline,
      Some(archiveRestorePipelineSql),
      "archive/truncate/compact/restore round-trip (views.py:913-994)"),
    graft.operators.Q("s5_csv_roundtrip", csvRoundTrip,
      Some(csvRoundTripSql),
      "CSV sink write-read fidelity (index.html:338-371, server-side)"),
    graft.operators.Q("s25_json_roundtrip", jsonRoundTrip,
      Some(jsonRoundTripSql),
      "JSON-lines sink write-read fidelity incl. shortest-round-trip doubles (s5's gate for the other interchange format)"),
    graft.operators.Q("s26_orc_roundtrip", orcRoundTrip,
      Some(orcRoundTripSql),
      "ORC sink write-read fidelity over the timestamp/double/NULL-bearing events table, natural write parallelism — the columnar-archival sibling of s5/s25"),
    graft.operators.Q("s12_check_validate", checkValidate,
      Some(checkValidateSql),
      "CHECK-constraint validation on the write path (db_helpers.py:7-12)"),
    graft.operators.Q("s10_partitioned_mutations", partitionedMutationPipeline,
      Some(partitionedMutationPipelineSql),
      "partition-local delete/update/upsert over the dt layout — one partition rewritten (SURVEY §4 partitioning plan)"))
}
