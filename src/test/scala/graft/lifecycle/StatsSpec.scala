package graft.lifecycle

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.{Metrics, SparkSuite}

/** ANALYZE-equivalent statistics: computed values, the compact (VACUUM
  * ANALYZE) refresh, and the stats → broadcast planning feedback loop.
  */
class StatsSpec extends SparkSuite {

  test("analyze persists row count, min/max, ndv and null counts") {
    implicit val s = spark
    val scratch = Files.createTempDirectory("graft_stats_").toString
    val p = s"$scratch/nation"
    graft.Catalog.nation(spark, sfDir).write.parquet(p)
    Stats.analyze(spark, p)
    val expected = graft.Catalog.nation(spark, sfDir).count()
    assert(Stats.rowCount(spark, p).contains(expected))
    assert(Stats.sizeBytes(spark, p).exists(_ > 0))
    val st = Stats.read(spark, p).get.collect()
      .map(r => r.getString(0) -> r).toMap
    val key = st("n_nationkey")
    assert(key.getString(3).toLong == 0, "min(n_nationkey)")
    assert(key.getString(4).toLong == expected - 1, "max(n_nationkey)")
    // approx_count_distinct is HLL++ — allow its default ~5% error band
    assert(math.abs(key.getLong(5) - expected) <= math.max(2, expected / 10),
      s"ndv(n_nationkey) = ${key.getLong(5)}, expected ≈ $expected")
    assert(key.getLong(6) == 0, "null_count(n_nationkey)")
  }

  test("analyze runs its two passes under one job group, described by pass") {
    val p = Files.createTempDirectory("graft_stats_group_").toString + "/nation"
    graft.Catalog.nation(spark, sfDir).write.parquet(p)
    val jobs = Metrics(spark)(Stats.analyze(spark, p))._2.jobs
    // the stats write runs on the calling thread, outside the group
    val passes = jobs.filter(_.group != null)
    assert(passes.map(_.group).toSet.size == 1, s"pass jobs ran under $jobs")
    assert(passes.map(_.description).toSet == Set(s"analyze $p: stats", s"analyze $p: hot_keys"),
      s"pass jobs ran under $jobs")
  }

  test("analyze handles a zero-row table (null min/max, count 0)") {
    implicit val s = spark
    val scratch = Files.createTempDirectory("graft_stats_empty_").toString
    val p = s"$scratch/empty"
    graft.Catalog.nation(spark, sfDir).limit(0).write.parquet(p)
    Stats.analyze(spark, p)
    assert(Stats.rowCount(spark, p).contains(0L))
    val st = Stats.read(spark, p).get.collect()
    assert(st.nonEmpty && st.forall(r => r.isNullAt(3) && r.isNullAt(4)))
  }

  test("compact refreshes stats (VACUUM ANALYZE)") {
    implicit val s = spark
    val scratch = Files.createTempDirectory("graft_stats_compact_").toString
    val p = s"$scratch/region"
    graft.Catalog.region(spark, sfDir).write.parquet(p)
    assert(Stats.read(spark, p).isEmpty, "no stats before analyze")
    Lifecycle.compact(p, 1)
    assert(Stats.rowCount(spark, p).contains(
      graft.Catalog.region(spark, sfDir).count()))
  }

  test("persisted stats drive the broadcast decision") {
    implicit val s = spark
    val scratch = Files.createTempDirectory("graft_stats_bcast_").toString
    val p = s"$scratch/nation"
    graft.Catalog.nation(spark, sfDir).write.parquet(p)
    Stats.analyze(spark, p)
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // disable size-based auto-broadcast so any broadcast in the plan is
      // provably the stats-driven hint
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val dim = Stats.maybeBroadcast(spark, spark.read.parquet(p), p)
      val fact = graft.Catalog.customer(spark, sfDir)
      val joined = fact.join(dim, fact("c_nationkey") === dim("n_nationkey"))
      val physical = joined.queryExecution.executedPlan.toString
      assert(physical.contains("BroadcastHashJoin"),
        s"stats-hinted join did not broadcast:\n$physical")
      // a table with no stats must NOT get the hint
      val p2 = s"$scratch/nostats"
      graft.Catalog.nation(spark, sfDir).write.parquet(p2)
      val dim2 = Stats.maybeBroadcast(spark, spark.read.parquet(p2), p2)
      val plan2 = fact.join(dim2, fact("c_nationkey") === dim2("n_nationkey"))
        .queryExecution.executedPlan.toString
      assert(!plan2.contains("BroadcastHashJoin"),
        s"unanalyzed table should not broadcast with auto-broadcast off:\n$plan2")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }
}
