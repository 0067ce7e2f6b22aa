package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

/** Facade assembly (SURVEY.md §3 traces). */
class DashboardSpec extends SparkSuite {

  test("index payload: every section materializes") {
    val p = Dashboard.index(spark, sfDir)
    assert(p.slowQueries.count() > 0)
    assert(p.activeUsers.head().getLong(0) > 0)
    assert(p.totalSessions.head().getLong(0) == 1000L)
    assert(p.topResourceConsumers.count() == 20)
    assert(p.usersWithRoles.count() == 150)
  }

  test("concurrent index materialization returns every section") {
    val counts = Dashboard.collectIndexConcurrently(spark, sfDir)
    assert(counts.size == 14)
    assert(counts("total_sessions") == 1L) // one aggregate row
    assert(counts("top_consumers") == 20L)
    assert(counts("latency_bands") > 0L)
    assert(counts.values.forall(_ >= 0L))
  }

  test("every job of one refresh runs under the same job group, described by section") {
    val jobs = Metrics(spark)(Dashboard.collectIndexConcurrently(spark, sfDir))._2.jobs
    assert(jobs.size >= 10, s"expected a job per refresh task, saw $jobs")
    val groups = jobs.map(_.group).toSet
    assert(groups.size == 1 && groups.head != null,
      s"refresh jobs ran under groups $groups")
    assert(jobs.forall(j =>
      Option(j.description).exists(_.startsWith("dashboard refresh: "))), jobs)
    assert(jobs.map(_.description).toSet.contains("dashboard refresh: top_consumers"))
  }

  test("a failed section cancels its siblings and is named in the error") {
    // prepared on a full copy, so the refreshes below run the kept plans
    val dir = fixtureCopy("graft-dash-badlineitem")
    def refresh() = Dashboard.collectIndexConcurrently(spark, dir.toString)
    refresh()
    // listed but unreadable: top_consumers fails in its own job, while
    // its siblings' jobs run
    val lineitem = dir.resolve("lineitem.parquet")
    Files.write(lineitem, "not parquet".getBytes("UTF-8"))
    val (err, report) = Metrics(spark)(intercept[RuntimeException](refresh()))
    assert(err.getMessage.contains("top_consumers"), err.getMessage)
    val siblings = report.jobs.filterNot(_.description.endsWith(": top_consumers"))
    assert(siblings.nonEmpty, s"no sibling job ran: ${report.jobs}")
    val live = report.jobs.filter(_.end.isEmpty).map(_.id)
    assert(live.isEmpty, s"jobs of the failed refresh still running: $live")
    // a deleted table fails the refresh too, instead of serving no rows
    Files.delete(lineitem)
    val gone = intercept[RuntimeException](refresh())
    assert(gone.getMessage.contains("top_consumers"), gone.getMessage)
  }

  test("every index section is bounded by the serving cap") {
    val cap = Dashboard.SectionCap
    // the sf0.01 fixture, where every capped row set has more rows than the
    // cap: 4,828 slow queries, 10,067 blocked sessions, 1,500 users, 3,385
    // bands and bars
    val sf001 = Paths.get(sfDir).resolveSibling("sf0.01").toString
    val counts = Dashboard.collectIndexConcurrently(spark, sf001)
    counts.foreach { case (name, n) =>
      assert(n <= cap, s"section $name returned $n rows")
    }
    assert(counts("slow_queries") == cap)
    assert(counts("blocked_sessions") == cap)
    assert(counts("users_roles") == cap)
    assert(counts("latency_bands") == cap)
    assert(counts("ohlc_bars") == cap)
  }

  test("each fused scalar panel equals its registered query's row") {
    val p = Dashboard.index(spark, sfDir)
    Seq(
      p.activeUsers -> "a1_active_users",
      p.totalSessions -> "a2_total_sessions",
      p.connectionLoad -> "a3_connection_load",
      p.cacheHitRatio -> "a4_cache_hit_ratio",
      p.transactionsPerSecond -> "a5_tps").foreach { case (panel, q) =>
      val registered = SparkEntry.queries(q)(spark, sfDir)
      assert(panel.schema === registered.schema, q)
      assert(panel.collect().toSeq === registered.collect().toSeq, q)
    }
    val scalars = operators.Monitoring.indexScalars(spark, sfDir)
    val plan = scalars.queryExecution.optimizedPlan
    assert(plan.collectLeaves().size == 1, s"expected one scan, got:\n$plan")
    assert(scalars.inputFiles.nonEmpty &&
      scalars.inputFiles.forall(_.contains("/events.parquet")), plan)
  }

  test("latency-bands section serves w14's percentile relation, capped by its own order") {
    val cap = Dashboard.SectionCap
    val p = Dashboard.index(spark, sfDir)
    val rows = p.latencyBands.collect()
    assert(rows.length == cap, s"cap must bound the panel, got ${rows.length}")
    // same shape AND same leading rows as the registered w14 query — the
    // panel is a serving view over the gate-verified relation, not a fork
    assert(p.latencyBands.schema.fieldNames.toSeq ===
      Seq("event_type", "hour", "p50", "p95", "p99", "n"))
    val w14 = operators.Monitoring.latencyBands(spark, sfDir).limit(cap).collect()
    assert(rows.toSeq === w14.toSeq, "panel drifted from w14")
    rows.foreach { r =>
      val (p50, p95, p99) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(p50 <= p95 && p95 <= p99,
        s"percentile bands must be monotone: $r")
    }
  }

  test("ohlc section serves w19's bar relation, capped by its own order") {
    val cap = Dashboard.SectionCap
    val p = Dashboard.index(spark, sfDir)
    val rows = p.ohlcBars.collect()
    assert(rows.length == cap)
    assert(p.ohlcBars.schema.fieldNames.toSeq ===
      Seq("event_type", "bucket", "open", "high", "low", "close", "n_events"))
    val w19 = operators.Monitoring.ohlcBars(spark, sfDir).limit(cap).collect()
    assert(rows.toSeq === w19.toSeq, "panel drifted from w19")
    rows.foreach { r =>
      val (o, h, l, c) = (r.getDouble(2), r.getDouble(3), r.getDouble(4),
        r.getDouble(5))
      assert(l <= o && o <= h && l <= c && c <= h,
        s"open/close must sit inside the envelope: $r")
    }
  }

  test("index_resource payload: trend bounded at 50, decimated at 25") {
    val p = Dashboard.indexResource(spark, sfDir)
    assert(p.trend.count() == 50)
    assert(p.decimated.count() <= 25)
    assert(p.latestPerUser.count() == 15)
  }

  test("cpu grid: filters + pagination compose") {
    val page = Dashboard.cpuUsageGrid(spark, sfDir,
      Seq(col("event_type") === "view"), page = 1, pageSize = 5)
    assert(page.count() <= 5)
  }

  test("status flags and gauge bands") {
    val flagged = Dashboard.withStatusFlags(
      Catalog.events(spark, sfDir).limit(100))
    val bands = flagged.select("gauge_band").distinct()
      .collect().map(_.getString(0)).toSet
    assert(bands.subsetOf(Set("red", "orange", "green")))
    assert(flagged.columns.contains("value_ok"))
  }

  test("per-metric thresholds select the matching limit") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val rows = Seq(
      ("cpu", 94.0), ("cpu", 96.0),     // cpu limit 95
      ("disk", 85.0), ("disk", 91.0),   // disk limit 90
      ("load1", 9.0), ("load1", 11.0))  // load1 limit 10
      .toDF("metric", "value")
    val flagged = Dashboard.withStatusFlags(rows, metricCol = Some("metric"))
      .select("metric", "value", "value_ok").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getBoolean(2))).toSet
    assert(flagged == Set(
      ("cpu", 94.0, true), ("cpu", 96.0, false),
      ("disk", 85.0, true), ("disk", 91.0, false),
      ("load1", 9.0, true), ("load1", 11.0, false)))
    // custom band bounds are honored
    val custom = Dashboard.withStatusFlags(rows,
      Dashboard.Thresholds(gaugeRedBelow = 100, gaugeOrangeBelow = 100))
    assert(custom.filter(col("gauge_band") =!= "red").count() == 0)
  }

  test("schema-health section equals the artifact-served c15 x c18 join " +
      "and is served from persisted files, not recomputed") {
    import graft.operators.Profile
    val section = Dashboard.schemaHealth(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        ((r.getLong(3), r.getLong(4), r.getBoolean(5), r.getLong(6),
          r.getLong(7), r.getLong(8)))).toMap
    val verdicts = Profile.fdDiscovery(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        ((r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap
    val bill = Profile.fdG3(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        ((r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(section.keySet === verdicts.keySet &&
      section.keySet === bill.keySet,
      "the section must cover exactly the candidate-pair catalog")
    section.foreach { case (k, (nd, np, holds, nRows, g3, ppm)) =>
      assert(verdicts(k) === ((nd, np, holds)), s"$k verdict diverged")
      assert(bill(k) === ((nRows, g3, ppm)), s"$k repair bill diverged")
      // internal consistency: the two artifacts agree on what holding
      // means (g3 = 0 ⟺ the exact FD)
      assert(holds === (g3 == 0L), s"$k: c15 and c18 verdicts contradict")
    }
    // reads, not recomputes: repeat calls serve the SAME persisted files
    val a = Dashboard.schemaHealth(spark, sfDir).inputFiles.toSet
    val b = Dashboard.schemaHealth(spark, sfDir).inputFiles.toSet
    assert(a.nonEmpty && a === b,
      "the section must be served from persisted artifact files")
    // the key-catalog companion serves c19's artifact the same way
    val k1 = Dashboard.keyCatalog(spark, sfDir).inputFiles.toSet
    val k2 = Dashboard.keyCatalog(spark, sfDir).inputFiles.toSet
    assert(k1.nonEmpty && k1 === k2)
    assert(Dashboard.keyCatalog(spark, sfDir).collect().nonEmpty)
  }

  test("indexResource payload is lazy; correlation probe works on demand") {
    val p = Dashboard.indexResource(spark, sfDir)
    val expected = graft.operators.Monitoring
      .minuteBucketJoin(spark, sfDir).count() > 0
    assert(p.hasCorrelatedSamples() == expected,
      "existence probe must agree with the full correlation query")
  }
}
