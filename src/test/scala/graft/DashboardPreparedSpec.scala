package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The dashboard's prepared sections: one plan kept per refresh task, file
  * listings taken afresh by each refresh, and a schema change as the one
  * thing that prepares the plans again. */
class DashboardPreparedSpec extends SparkSuite {

  private def refresh(dir: Path): Map[String, Long] =
    Dashboard.collectIndexConcurrently(spark, dir.toString)

  // events row sets whose doubled count stays under the section cap, so it
  // follows the rows the table holds: 93 and 202 rows at sf0.001
  private val growing = Seq("idle_sessions", "backup_delta")

  /** The refresh's SQL executions that analyzed or optimized a plan. */
  private def replanned(r: Metrics.Report): Seq[Metrics.Execution] =
    r.executions.filter(e => e.phases.contains("analysis") || e.phases.contains("optimization"))

  /** The schema generations of the plans kept for `dir`, one per refresh task. */
  private def kept(dir: Path): Seq[Long] =
    Dashboard.prepared.asScala.collect {
      case ((_, d, _), p) if d == dir.toString => p.generation
    }.toSeq

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
    growing.foreach { s =>
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
    growing.foreach { s =>
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
    refresh(a)
    refresh(b)
    assert(kept(a).size == 10 && kept(b).size == 10)
    Catalog.invalidate(a.resolve("events.parquet").toString)
    refresh(a)
    assert(kept(a).size == 10 && kept(b).isEmpty, "the plans kept for b can never be served again")
    refresh(b)
    assert(kept(b) == Seq.fill(10)(Catalog.schemaGeneration))
  }

  test("a schema-changing rewrite and Catalog.invalidate prepare the set again") {
    val dir = fixtureCopy("graft-prepared-rewrite")
    val before = refresh(dir)
    val generation = kept(dir).max
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
    assert(refresh(dir) == before)
    assert(kept(dir).size == 10 && kept(dir).forall(_ > generation),
      "every plan must be prepared again")
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

  /** The index payload's nine row-set members; the scalar panels select
    * from the tenth task's aggregate. */
  private def rowSets(p: Dashboard.IndexPayload): Seq[DataFrame] =
    Seq(p.slowQueries, p.idleSessions, p.blockedSessions, p.topResourceConsumers,
      p.tableSizes, p.backupDelta, p.usersWithRoles, p.latencyBands, p.ohlcBars)

  test("after a refresh, the index payload's row sets run the kept plans") {
    val dir = fixtureCopy("graft-prepared-index")
    refresh(dir)
    val (_, r) = Metrics(spark)(rowSets(Dashboard.index(spark, dir.toString)).foreach(_.collect()))
    assert(r.executions.size == 9, r.executions)
    assert(replanned(r).isEmpty, r.executions)
  }

  test("the index payload of an unprepared dir keeps the plans the next refresh runs") {
    val dir = fixtureCopy("graft-prepared-index-first")
    Dashboard.index(spark, dir.toString)
    val (_, r) = Metrics(spark)(refresh(dir))
    assert(r.executions.size == 10, r.executions)
    assert(replanned(r).isEmpty, r.executions)
  }

  /** A fixture copy whose `events.parquet` is partitioned by date. */
  private def partitionedEvents(prefix: String): Path = {
    val dir = fixtureCopy(prefix)
    val events = dir.resolve("events.parquet")
    Files.delete(events)
    Catalog.writePartitionedByDate(Catalog.events(spark, sfDir), "ts", events.toString)
    dir
  }

  test("preparing a section over a partitioned relation throws") {
    val err = intercept[RuntimeException](refresh(partitionedEvents("graft-prepared-partitioned")))
    assert(err.getMessage.contains("cannot be prepared"), err.getMessage)
  }

  test("the index payload over a partitioned relation throws") {
    val dir = partitionedEvents("graft-prepared-index-partitioned")
    val err = intercept[RuntimeException](Dashboard.index(spark, dir.toString))
    assert(err.getMessage.contains("cannot be prepared"), err.getMessage)
  }
}
