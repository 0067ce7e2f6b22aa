package graft.plans

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** The latest-per-key optimizer rule: plan shape + result equivalence. */
class LatestPerKeySpec extends SparkSuite {

  /** Non-nullable test relation (the rule is conservative about nullable
    * ordering keys, and parquet columns read back nullable).
    */
  private def sampleDf = {
    import spark.implicits._
    Seq(
      (1L, 10L, 100L, "a"), (1L, 20L, 101L, "b"), (1L, 20L, 99L, "c"),
      (2L, 5L, 50L, "d"), (2L, 7L, 49L, "e"),
      (3L, 1L, 1L, "f"))
      .toDF("k", "ts", "id", "payload")
  }

  private def windowed = {
    val df = sampleDf
    val w = Window.partitionBy(col("k")).orderBy(col("ts").desc, col("id").desc)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
  }

  test("rule rewrites the window into an aggregate (no Window in plan)") {
    val plan = windowed.queryExecution.optimizedPlan
    val hasWindow = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }.nonEmpty
    val hasAgg = plan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.nonEmpty
    assert(!hasWindow, s"window survived:\n$plan")
    assert(hasAgg, s"no aggregate introduced:\n$plan")
  }

  test("rewritten result equals the window result") {
    // baseline via `rn <= 1` — semantically identical, but the rule only
    // matches `rn = 1`, so this executes as a real window
    val df = sampleDf
    val w = Window.partitionBy(col("k")).orderBy(col("ts").desc, col("id").desc)
    val baseline = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 1)
      .select("k", "ts", "id", "payload", "rn")
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    val got = windowed
      .select("k", "ts", "id", "payload", "rn")
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    assert(got.toSeq == baseline.toSeq)
  }

  test("rule fires on nullable parquet columns (the motivating events idiom)") {
    import org.apache.spark.sql.catalyst.plans.logical
    // the reference's ORDER BY id DESC LIMIT 1 snapshot idiom over the
    // metrics table: parquet columns read back nullable, and the default
    // DESC NULLS LAST placement matches struct-ordering max_by semantics
    val ev = graft.Catalog.events(spark, sfDir)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts").desc)
    val latest = ev.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    val plan = latest.queryExecution.optimizedPlan
    assert(plan.collect { case x: logical.Window => x }.isEmpty,
      s"window survived on parquet-read (nullable) columns:\n$plan")
    assert(plan.collect { case a: logical.Aggregate => a }.nonEmpty)
  }

  test("nullable ordering values: rewritten result equals window result") {
    import spark.implicits._
    // group 1 mixed null/non-null, group 2 all-null ordering values —
    // DESC NULLS LAST puts nulls last, so rn=1 is the max non-null row in
    // group 1 and the (only) null row in group 2; max_by over struct(ts)
    // agrees because struct(null) is a non-null struct that compares lowest
    val df = Seq(
      (1L, Some(10L), "a"), (1L, None, "b"), (1L, Some(20L), "c"),
      (2L, None, "d"))
      .toDF("k", "ts", "payload")
    val w = Window.partitionBy(col("k")).orderBy(col("ts").desc)
    val rewritten = df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    assert(rewritten.queryExecution.optimizedPlan.collect {
      case x: org.apache.spark.sql.catalyst.plans.logical.Window => x
    }.isEmpty, "nullable DESC NULLS LAST should be rewritten")
    val baseline = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 1)
    val key = (r: org.apache.spark.sql.Row) => r.getLong(0)
    assert(rewritten.collect().sortBy(key).toSeq.map(_.toSeq) ==
      baseline.collect().sortBy(key).toSeq.map(_.toSeq))
  }

  test("non-default null placement is NOT rewritten on nullable columns") {
    import spark.implicits._
    val df = Seq((1L, Some(10L), "a"), (1L, None, "b"))
      .toDF("k", "ts", "payload")
    val w = Window.partitionBy(col("k")).orderBy(col("ts").desc_nulls_first)
    val kept = df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    assert(kept.queryExecution.optimizedPlan.collect {
      case x: org.apache.spark.sql.catalyst.plans.logical.Window => x
    }.nonEmpty, "DESC NULLS FIRST has no struct-ordering equivalent")
  }

  test("rule leaves non-matching windows alone (rn > 1, mixed direction)") {
    import org.apache.spark.sql.catalyst.plans.logical
    val df = sampleDf
    val wTop2 = Window.partitionBy(col("k")).orderBy(col("ts").desc)
    val top2 = df.withColumn("rn", row_number().over(wTop2)).filter(col("rn") <= 2)
    assert(top2.queryExecution.optimizedPlan.collect {
      case w: logical.Window => w
    }.nonEmpty, "rn<=2 should not be rewritten")
    val wMixed = Window.partitionBy(col("k")).orderBy(col("ts").desc, col("id").asc)
    val mixed = df.withColumn("rn", row_number().over(wMixed)).filter(col("rn") === 1)
    assert(mixed.queryExecution.optimizedPlan.collect {
      case w: logical.Window => w
    }.nonEmpty, "mixed-direction ordering should not be rewritten")
  }
}
