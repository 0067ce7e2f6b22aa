package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LocalRelation, LogicalPlan, OneRowRelation}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex, LogicalRelation, NoopCache}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shims

import graft.operators.{Monitoring, Relational}

/** Facade mirroring the reference's three dashboard entry points
  * (SURVEY.md §3): each method assembles the DataFrames one HTTP view of
  * the reference computes, so a caller of `views.index` /
  * `views.index_resource` / `views.cpu_usage_grid`
  * (reference myapp/views.py:380,756,826) finds the same payload here.
  *
  * All members are lazy plans — nothing executes until the serving layer
  * collects; the ~20 sequential statements the reference issues per page
  * load (views.py:394-681) become independent Spark jobs a server can run
  * concurrently.
  */
object Dashboard {

  /** `GET /index/` payload (reference myapp/views.py:380-748). */
  case class IndexPayload(
      slowQueries: DataFrame,
      idleSessions: DataFrame,
      blockedSessions: DataFrame,
      activeUsers: DataFrame,
      totalSessions: DataFrame,
      connectionLoad: DataFrame,
      cacheHitRatio: DataFrame,
      transactionsPerSecond: DataFrame,
      topResourceConsumers: DataFrame,
      tableSizes: DataFrame,
      backupDelta: DataFrame,
      usersWithRoles: DataFrame,
      latencyBands: DataFrame,
      ohlcBars: DataFrame)

  /** Default per-section row cap. The reference's slow/idle/blocked
    * sections return every matching row (views.py:396-421 — no LIMIT),
    * which is 4,828 rows at sf0.1 and ~500k at 100× — an unbounded
    * driver-side collect. Serving caps each row-set section to its top-N
    * BY ITS OWN ORDER (the sections already sort by relevance — duration
    * desc, etc.), so the cap composes with the sort into a
    * TakeOrderedAndProject instead of a global sort + collect. The
    * underlying operators stay uncapped for the correctness gate.
    */
  val DefaultSectionCap = 500

  /** One `GET /index/` section, under the name a refresh reports it by:
    * either a row set built on its own, or one column of
    * [[Monitoring.indexScalars]], the one-row aggregate the five scalar
    * panels share.
    */
  private sealed trait Section { def name: String }
  private final case class RowSet(name: String,
      build: (SparkSession, String, Int) => DataFrame) extends Section
  private final case class Scalar(name: String, column: String) extends Section

  /** Every index section, in [[IndexPayload]] field order. Row-set
    * sections are capped to their top-N by their own order (see
    * [[DefaultSectionCap]]).
    */
  private val Sections: Seq[Section] = Seq(
    RowSet("slow_queries", Monitoring.slowQueries(_, _).limit(_)),
    RowSet("idle_sessions", Monitoring.idleSessions(_, _).limit(_)),
    RowSet("blocked_sessions", Monitoring.blockedSessions(_, _).limit(_)),
    Scalar("active_users", "active_users"),
    Scalar("total_sessions", "total_sessions"),
    Scalar("connection_load", "connection_headroom_pct"),
    Scalar("cache_hit_ratio", "hit_ratio_pct"),
    Scalar("tps", "tps"),
    RowSet("top_consumers", (s, d, _) => Monitoring.topResourceConsumers(s, d)),
    RowSet("table_sizes", (s, d, _) => Monitoring.tableSizesPretty(s, d)),
    RowSet("backup_delta", Monitoring.lagDelta(_, _).limit(_)),
    RowSet("users_roles", Monitoring.usersWithRoles(_, _).limit(_)),
    // w14's per-(type, hour) p50/p95/p99 — the latency-band panel class
    // the reference's gauge row approximates with instantaneous values
    // (index.html:1047-1067)
    RowSet("latency_bands", Monitoring.latencyBands(_, _).limit(_)),
    // w19's per-(type, hour) excursion envelope — the capacity-review
    // panel class (candlestick history)
    RowSet("ohlc_bars", Monitoring.ohlcBars(_, _).limit(_)))

  /** The refresh's tasks, one thread each: every row set alone, and the
    * five scalar panels from one collect of their shared aggregate. A task
    * reports its row count under the names of the sections it serves.
    */
  private val refreshTasks: Seq[(String, Seq[String], (SparkSession, String, Int) => DataFrame)] =
    Sections.collect { case RowSet(n, build) => (n, Seq(n), build) } :+ ((
      "scalars", Sections.collect { case s: Scalar => s.name },
      (s: SparkSession, d: String, _: Int) => Monitoring.indexScalars(s, d)))

  private lazy val refreshPool =
    DriverJobs.daemonPool("graft-dashboard", refreshTasks.size)

  /** A prepared section set: each refresh task's optimized plan, built
    * while [[Catalog.schemaGeneration]] read `generation`. */
  private[graft] final case class Prepared(generation: Long, plans: Map[String, LogicalPlan])

  /** One prepared set per (session, dir, section cap); the cap is part of
    * the plans. A set whose generation is behind the catalog's is built
    * again by the next refresh, and dropped when any newer set is put. */
  private[graft] val prepared = new ConcurrentHashMap[(SparkSession, String, Int), Prepared]()

  def index(spark: SparkSession, dir: String,
      sectionCap: Int = DefaultSectionCap): IndexPayload = {
    lazy val scalars = Monitoring.indexScalars(spark, dir)
    Sections.map {
      case RowSet(_, build) => build(spark, dir, sectionCap)
      case Scalar(_, column) => scalars.select(column)
    } match {
      case Seq(slow, idle, blocked, active, total, load, hit, tps, top, sizes,
          backup, roles, bands, ohlc) =>
        IndexPayload(slow, idle, blocked, active, total, load, hit, tps, top,
          sizes, backup, roles, bands, ohlc)
    }
  }

  /** Materialize every index section concurrently: the reference issues
    * its ~20 statements sequentially on one cursor (views.py:394-681); as
    * independent Spark jobs they share the scheduler and overlap IO/CPU.
    * Returns section name → row count (a serving layer would collect rows).
    *
    * Between refreshes only the data changes, not the plans, so each
    * section is built, analyzed and optimized once per (session, dir,
    * cap): the first refresh prepares the set inside its tasks, where plan
    * construction overlaps the other tasks' jobs, and later refreshes run
    * the kept plans (see [[prepare]]). Every refresh still lists each
    * relation's files afresh (see [[relisted]]), so rows a writer adds
    * or rewrites are read by the next refresh without any call, and no
    * rows are cached. Only a schema change (a new [[Catalog.schemaGeneration]])
    * prepares the set again, not an engine write that keeps the schema.
    * Physical planning and AQE run on every refresh.
    */
  def collectIndexConcurrently(spark: SparkSession, dir: String,
      sectionCap: Int = DefaultSectionCap): Map[String, Long] = {
    val key = (spark, dir, sectionCap)
    val generation = Catalog.schemaGeneration
    val kept = Option(prepared.get(key)).filter(_.generation == generation)
    val done = DriverJobs.runAll(spark, refreshPool, "dashboard refresh")(
      refreshTasks.map { case (name, _, build) =>
        name -> (() => {
          val (plan, df) = kept match {
            case Some(set) =>
              val plan = set.plans(name)
              (plan, Shims.optimizedDataFrame(spark, relisted(spark, plan)))
            case None =>
              val df = build(spark, dir, sectionCap)
              (prepare(name, df), df)
          }
          // collect (not count) so every projected expression actually
          // materializes — count() lets Catalyst prune the section's columns
          (plan, df.collect().length.toLong)
        })
      })
    // put outside any computeIfAbsent: Spark jobs on other threads prepare
    // a set (the Scratch "Recursive update" lesson); two refreshes of one
    // key each put an equivalent set. Older sets can never be served again.
    if (kept.isEmpty) {
      prepared.values.removeIf(_.generation < generation)
      prepared.put(key, Prepared(generation, refreshTasks.map(_._1).zip(done.map(_._1)).toMap))
    }
    refreshTasks.zip(done).flatMap { case ((_, sections, _), (_, n)) =>
      sections.map(_ -> n)
    }.toMap
  }

  /** `df`'s optimized plan, kept for later refreshes. Only its file
    * listings can go stale, and [[relisted]] takes them afresh, so each
    * relation must be a whole-table, unpartitioned, unbucketed
    * `InMemoryFileIndex` scan: a partition-pruned listing, or a source
    * whose rows the plan holds, would freeze. Anything else throws.
    */
  private def prepare(section: String, df: DataFrame): LogicalPlan = {
    val plan = df.queryExecution.optimizedPlan
    plan.foreachWithSubqueries {
      case r: LogicalRelation => r.relation match {
        case fs: HadoopFsRelation if fs.location.getClass == classOf[InMemoryFileIndex] &&
            fs.partitionSchema.isEmpty && fs.bucketSpec.isEmpty =>
        case other => throw new IllegalArgumentException(
          s"dashboard section '$section' cannot be prepared: only whole, " +
            s"unpartitioned file scans are listed afresh per refresh, not $other")
      }
      case _: LocalRelation | _: OneRowRelation => // rows that are part of the query
      case leaf: LeafNode => throw new IllegalArgumentException(
        s"dashboard section '$section' cannot be prepared: its plan reads " +
          s"${leaf.nodeName}, whose rows the kept plan would freeze")
      case _ =>
    }
    Shims.forReuse(plan)
  }

  private val listings = new java.util.concurrent.atomic.AtomicLong()

  /** A copy of a prepared plan whose file relations each list their root
    * paths afresh: a new `InMemoryFileIndex` per relation and refresh, so
    * concurrent refreshes share no mutable index. Spark compares file
    * indexes by their root paths alone, so a relation over a new listing
    * would compare equal to the kept one, and the tree transform would
    * keep the kept node; a stamp in the relation's options, one per call,
    * tells the listings apart. Readers ignore the unknown option. A root
    * path that is gone throws, as a fresh read of it would: Spark lists a
    * missing root as empty, which would serve an empty section.
    */
  private def relisted(spark: SparkSession, plan: LogicalPlan): LogicalPlan = {
    val stamp = "graft.listing" -> listings.incrementAndGet().toString
    plan.clone().transformUpWithSubqueries {
      case r: LogicalRelation => r.relation match {
        case fs: HadoopFsRelation =>
          val roots = fs.location.rootPaths
          roots.filterNot(p => Catalog.fsFor(p.toString, spark).exists(p)).foreach { p =>
            throw new java.io.FileNotFoundException(s"$p: the table's path no longer exists")
          }
          val index = new InMemoryFileIndex(spark, roots, fs.options, Some(fs.schema), NoopCache)
          r.copy(relation = fs.copy(location = index, options = fs.options + stamp)(fs.sparkSession))
      }
    }
  }

  /** `GET /index_resource/` payload (reference myapp/views.py:756-823):
    * trend scan + server-side decimation (the reference decimates in
    * browser JS, index_resource.html:230-245) + correlation existence.
    */
  case class ResourcePayload(
      trend: DataFrame,
      decimated: DataFrame,
      latestPerUser: DataFrame,
      hasCorrelatedSamples: () => Boolean)

  def indexResource(spark: SparkSession, dir: String): ResourcePayload =
    ResourcePayload(
      trend = Catalog.events(spark, dir)
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
        .orderBy(col("event_id").desc).limit(50),
      decimated = Monitoring.decimate(spark, dir),
      latestPerUser = Monitoring.latestPerUser(spark, dir),
      // the reference only checks bool(results) (views.py:793-805) — a
      // thunk keeps payload construction lazy like every other member, and
      // probing the pre-distinct base join lets `.isEmpty` stop at the
      // first row instead of paying the display query's dedup + sort
      hasCorrelatedSamples =
        () => !Monitoring.minuteBucketJoinBase(spark, dir).isEmpty)

  /** `GET /cpu_usage_grid/?…` payload (reference myapp/views.py:826-877):
    * dynamic filters folded onto the scan + pagination.
    */
  def cpuUsageGrid(spark: SparkSession, dir: String,
      filters: Seq[Column], page: Int = 0, pageSize: Int = 10): DataFrame =
    Relational.gridQuery(filters, page, pageSize)(spark, dir)

  /** SCHEMA-HEALTH section (round-13 verdict item #8): the catalog page
    * the round-13/14 profile family answers — per within-table candidate
    * pair, whether the FD holds exactly (c15's verdict), its mapping
    * diversity (n_det/n_pairs), and the g3 repair bill (c18's rows-to-
    * quarantine + ppm). READS, never recomputes: both inputs are
    * persisted content-determined artifacts ([[operators.Profile]]'s
    * level-1 relations and the fd_g3 relation), so a page load costs two
    * pair-count-sized parquet reads and a broadcast join — the
    * amortization discipline every other dashboard section follows.
    */
  def schemaHealth(spark: SparkSession, dir: String): DataFrame = {
    import operators.Profile
    val verdicts = Profile.fdDiscovery(spark, dir)
      .select(col("table_name"), col("det_col"), col("dep_col"),
        col("n_det"), col("n_pairs"), col("holds"))
    val bill = Profile.fdG3Indexed(spark, dir)
      .select(col("table_name"), col("det_col"), col("dep_col"),
        col("n_rows"), col("g3_remove"), col("g3_ppm"))
    verdicts.join(bill, Seq("table_name", "det_col", "dep_col"))
      .orderBy(col("table_name"), col("det_col"), col("dep_col"))
  }

  /** The schema-health page's KEY CATALOG companion: c19's minimal
    * unique-column-combination relation, artifact-served (the same
    * reads-not-recomputes contract as [[schemaHealth]] — the lattice's
    * base-table jobs ran once at artifact build).
    */
  def keyCatalog(spark: SparkSession, dir: String): DataFrame =
    operators.Profile.keyDiscovery(spark, dir)

  /** Alert/threshold flags (reference myapp/views.py:622-637 vs the
    * template constants — inconsistent layers, so thresholds are config;
    * SURVEY.md §6). Appends boolean status columns to a metric row set.
    * Gauge band bounds are config too (reference index.html:1047,1067).
    */
  case class Thresholds(
      cpu: Double = 95, ram: Double = 90, cache: Double = 85,
      disk: Double = 90, load1: Double = 10, load5: Double = 15,
      gaugeRedBelow: Double = 30, gaugeOrangeBelow: Double = 70)

  /** Per-metric alert limit — the reference keeps one constant per
    * dashboard section; rows carrying a metric-name discriminator get the
    * matching limit, anything unrecognized falls back to the cpu limit.
    */
  private def limitFor(metric: Column, t: Thresholds): Column =
    when(metric === "ram", t.ram)
      .when(metric === "cache", t.cache)
      .when(metric === "disk", t.disk)
      .when(metric === "load1", t.load1)
      .when(metric === "load5", t.load5)
      .otherwise(t.cpu)

  def withStatusFlags(metrics: DataFrame, t: Thresholds = Thresholds(),
      metricCol: Option[String] = None): DataFrame = {
    val limit = metricCol.map(c => limitFor(col(c), t)).getOrElse(lit(t.cpu))
    metrics
      .withColumn("value_ok", col("value") < limit)
      .withColumn("gauge_band",
        when(col("value") < t.gaugeRedBelow, "red")
          .when(col("value") < t.gaugeOrangeBelow, "orange")
          .otherwise("green"))
  }
}
