package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._

/** The dashboard's prepared sections: plans kept across refreshes, file
  * listings taken afresh by each, and a schema change as the one thing
  * that prepares a set again. */
class DashboardPreparedSpec extends SparkSuite {

  // uncapped, so a row set's count follows the rows its table holds
  private val cap = 1000000

  private def refresh(dir: Path): Map[String, Long] =
    Dashboard.collectIndexConcurrently(spark, dir.toString, cap)

  /** The refresh's SQL executions that analyzed or optimized a plan. */
  private def replanned(r: Metrics.Report): Seq[Metrics.Execution] =
    r.executions.filter(e => e.phases.contains("analysis") || e.phases.contains("optimization"))

  /** `events.parquet` moved into a directory of that name, so writers can
    * add part files to it. */
  private def eventsDir(dir: Path): Path = {
    val events = dir.resolve("events.parquet")
    val part = Files.move(events, dir.resolve("part-00000.parquet"))
    Files.createDirectory(events)
    Files.move(part, events.resolve(part.getFileName))
    events
  }

  test("a refresh after no write runs no analysis and no optimization") {
    val dir = fixtureCopy("graft-prepared-idle")
    refresh(dir)
    val (_, r) = Metrics(spark)(refresh(dir))
    assert(r.executions.size == 10, r.executions) // 9 row sets, 1 scalar aggregate
    assert(replanned(r).isEmpty, r.executions)
    assert(r.executions.forall(_.phases.contains("planning")), r.executions)
  }

  test("a part file a raw writer adds, with no invalidate call, is read by the next refresh") {
    val dir = fixtureCopy("graft-prepared-append")
    val events = eventsDir(dir)
    val before = refresh(dir)
    Files.copy(events.resolve("part-00000.parquet"), events.resolve("part-00001.parquet"))
    val (after, r) = Metrics(spark)(refresh(dir))
    assert(replanned(r).isEmpty, "the refresh must run the kept plans")
    Seq("slow_queries", "idle_sessions", "backup_delta").foreach { s =>
      assert(before(s) > 0 && after(s) == 2 * before(s), s"$s: $before -> $after")
    }
    assert(after("top_consumers") == before("top_consumers"))
  }

  test("an engine append to the dashboard's events keeps the set, and the refresh reads its rows") {
    val dir = fixtureCopy("graft-prepared-lifecycle")
    val events = eventsDir(dir).toString
    val before = refresh(dir)
    lifecycle.Lifecycle.append(Catalog.read(spark, events), events)
    val (after, r) = Metrics(spark)(refresh(dir))
    assert(replanned(r).isEmpty, "a same-schema append must not prepare the set again")
    Seq("slow_queries", "idle_sessions", "backup_delta").foreach { s =>
      assert(before(s) > 0 && after(s) == 2 * before(s), s"$s: $before -> $after")
    }
  }

  test("an engine append to an unrelated table keeps the set") {
    val dir = fixtureCopy("graft-prepared-unrelated")
    val other = Files.createTempDirectory("graft-prepared-other").resolve("t").toString
    Catalog.nation(spark, sfDir).write.parquet(other)
    Catalog.read(spark, other)
    refresh(dir)
    lifecycle.Lifecycle.append(Catalog.nation(spark, sfDir), other)
    assert(Catalog.read(spark, other).count() == 50)
    assert(replanned(Metrics(spark)(refresh(dir))._2).isEmpty)
  }

  test("a set prepared after a schema change drops the sets of older generations") {
    val (a, b) = (fixtureCopy("graft-prepared-prune-a"), fixtureCopy("graft-prepared-prune-b"))
    def kept(d: Path) = Dashboard.prepared.containsKey((spark, d.toString, cap))
    refresh(a)
    refresh(b)
    assert(kept(a) && kept(b))
    Catalog.invalidate(a.resolve("events.parquet").toString)
    refresh(a)
    assert(kept(a) && !kept(b), "the set kept for b can never be served again")
    assert(replanned(Metrics(spark)(refresh(b))._2).nonEmpty)
  }

  test("a schema-changing rewrite and Catalog.invalidate prepare the set again") {
    val dir = fixtureCopy("graft-prepared-rewrite")
    val before = refresh(dir)
    val events = dir.resolve("events.parquet")
    // ts as nanoseconds in a plain INT64 column: an encoding Catalog.events
    // reads, and one the kept plan's timestamp scan cannot
    val staged = dir.resolve("events-nanos").toString
    Catalog.events(spark, dir.toString)
      .withColumn("ts", unix_micros(col("ts")) * 1000)
      .write.parquet(staged)
    Files.delete(events)
    Files.move(dir.resolve("events-nanos"), events)
    Catalog.invalidate(events.toString)
    val (after, r) = Metrics(spark)(refresh(dir))
    assert(after == before)
    assert(replanned(r).nonEmpty, "the set must be prepared again")
    assert(replanned(Metrics(spark)(refresh(dir))._2).isEmpty)
  }

  test("two concurrent refreshes of one dir both return the reference row counts") {
    val reference = Dashboard.collectIndexConcurrently(spark, sfDir)
    assert(reference("total_sessions") == 1L && reference("top_consumers") == 20L)
    val dir = fixtureCopy("graft-prepared-concurrent").toString
    // the first round prepares the set twice at once, the second runs it
    (1 to 2).foreach { round =>
      val results = new Array[Map[String, Long]](2)
      val threads = results.indices.map(i => new Thread(() =>
        results(i) = Dashboard.collectIndexConcurrently(spark, dir)))
      threads.foreach(_.start())
      threads.foreach(_.join())
      results.foreach(got => assert(got == reference, s"round $round"))
    }
  }

  test("preparing a section over a partitioned relation throws") {
    val dir = fixtureCopy("graft-prepared-partitioned")
    val events = dir.resolve("events.parquet")
    Files.delete(events)
    Catalog.writePartitionedByDate(Catalog.events(spark, sfDir), "ts", events.toString)
    val err = intercept[RuntimeException](refresh(dir))
    assert(err.getMessage.contains("cannot be prepared"), err.getMessage)
  }
}
