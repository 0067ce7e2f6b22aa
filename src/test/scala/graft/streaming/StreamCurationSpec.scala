package graft.streaming

import java.nio.file.Files

import org.apache.spark.scheduler.StageInfo
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.{Metrics, SparkSuite}

case class IngestDoc(doc_id: Long, text: String, source: String)

/** Streaming curation ingest: the online front door composes the batch
  * rules per micro-batch — quality floor, blocklist policy, scrub,
  * exact-dedup against the standing corpus and within the batch — and
  * replays are no-ops (per-key exactly-once on the serving table).
  */
class StreamCurationSpec extends SparkSuite {

  // 100+ chars (clears Diff.MinIngestChars), no blocklist hits
  private val cleanBase = ("fresh words " * 12).trim
  // heavy blocklist density: >6.6% of tokens are 'customer'
  private val blocked = (("customer " * 6) + ("pad " * 30)).trim

  test("curation ingest: floor, policy, dedup, scrub, and replay no-op") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-scur").toString
    val table = s"$tmp/corpus"

    val mem = MemoryStream[IngestDoc](spark)
    val q = Streams.curationIngestSink(mem.toDF(), table, s"$tmp/ckpt").start()
    try {
      val batch = Seq(
        IngestDoc(1L, "alpha " + cleanBase, "s1"),      // fresh → ingested
        IngestDoc(2L, "too short", "s1"),               // under floor → drop
        IngestDoc(3L, blocked, "s1"),                   // policy → drop
        IngestDoc(4L, "beta " + cleanBase, "s1"),       // batch-dup keeper
        IngestDoc(5L, "beta " + cleanBase, "s1"),       // batch-dup loser
        IngestDoc(6L, "customer gamma " + cleanBase, "s2"))
      // doc 6: one blocked token in ~26 → under the ppm threshold,
      // KEPT but stored SCRUBBED (dedup keys on the RAW prefix, which
      // differs from docs 1/4 in its first 50 chars)
      mem.addData(batch: _*)
      q.processAllAvailable()
      val after1 = spark.read.parquet(table).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(after1.keySet === Set(1L, 4L, 6L),
        s"wrong survivor set: ${after1.keySet}")
      assert(after1(6L).contains(graft.operators.TextOps.BlockTag),
        "policy hit not scrubbed in the stored text")
      assert(!after1(6L).contains("customer"), "blocked token survived")

      // batch 2: replay of batch 1 (at-least-once redelivery) plus a
      // dup-of-existing under a NEW id — all no-ops; one genuinely new doc
      mem.addData(batch :+ IngestDoc(7L, "alpha " + cleanBase, "s3")
        :+ IngestDoc(8L, "delta fresh " + cleanBase, "s3"): _*)
      q.processAllAvailable()
      val after2 = spark.read.parquet(table).collect()
        .map(_.getLong(0)).sorted.toSeq
      assert(after2 === Seq(1L, 4L, 6L, 8L),
        s"replay/dup leaked or fresh doc missed: $after2")
    } finally q.stop()
  }

  test("same doc_id re-delivered WITHIN one micro-batch lands once, and a " +
    "pre-existing empty table directory does not wedge the first batch") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-scur3").toString
    val table = s"$tmp/corpus"
    // the wedge case: the directory exists (a crashed writer's empty
    // husk) but holds no parquet — the read fails, and a default-mode
    // bootstrap write would throw ErrorIfExists forever
    Files.createDirectories(java.nio.file.Paths.get(table))

    val mem = MemoryStream[IngestDoc](spark)
    val q = Streams.curationIngestSink(mem.toDF(), table, s"$tmp/ckpt").start()
    try {
      // doc 20 delivered twice in the SAME batch (one source file landing
      // twice): same (doc_id, fp) pair survives the keeper rule both
      // times — only the doc_id dedup keeps the table single-keyed
      mem.addData(
        IngestDoc(20L, "alpha " + cleanBase, "s1"),
        IngestDoc(20L, "alpha " + cleanBase, "s1"),
        IngestDoc(21L, "beta " + cleanBase, "s1"))
      q.processAllAvailable()
      val rows = spark.read.parquet(table).collect()
        .map(_.getLong(0)).sorted.toSeq
      assert(rows === Seq(20L, 21L),
        s"within-batch doc_id redelivery must land exactly once: $rows")
    } finally q.stop()
  }

  /** Round-11 verdict item #7: s17's <1 s budget is MEASURED for raw
    * ingest; the curation sink is the heavier per-batch path (floor +
    * scrub + fingerprint + corpus anti-join + doc_id upsert + a table
    * read). Same methodology as StreamIngestSpec: multi-wave load,
    * steady-state median of the engine's own triggerExecution telemetry,
    * asserted under a bounded budget. The budget is 2.5 s — deliberately
    * looser than raw ingest's 1 s (each batch re-reads the growing
    * serving table's fingerprint column and rewrites via upsert), but a
    * hard ceiling: a regression that drags the whole corpus through the
    * batch (re-fingerprinting instead of reading the persisted fp
    * column) blows it immediately.
    */
  test("curation sink steady-state micro-batch duration stays bounded " +
      "under a multi-wave load") {
    import spark.implicits._
    // wall-clock latency assertion — meaningless on a contended box (the
    // BENCH_r11 lesson this round encoded into graft.Bench's load guard);
    // cancel rather than flake when the box is already squeezed
    def load1(): Double = try scala.io.Source.fromFile("/proc/loadavg")
      .getLines().next().split(" ")(0).toDouble
      catch { case _: Throwable => 0.0 }
    // 2.5, not the old 4.0: a concurrently-running full suite holds the
    // 1-min loadavg in the 2.5-5 band and inflated the median past the
    // budget once in a round-14 full run (the test passed alone minutes
    // later) — at that load the measurement tests the box, not the sink.
    // First wait (bounded, like graft.Bench's load guard) for the box to
    // quiet down: suites run one at a time, so while this one sleeps the
    // load the earlier suites left behind decays. Waiting for 2.0 leaves
    // the waves' own load headroom under the 2.5 gate.
    val quietBy = System.nanoTime() + 180L * 1000000000L
    while (load1() >= 2.0 && System.nanoTime() < quietBy) Thread.sleep(5000)
    assume(load1() < 2.5, s"box contended (loadavg ${load1()}) — latency " +
      "measurement would test the box, not the sink")
    val tmp = Files.createTempDirectory("graft-scur-lat").toString
    val table = s"$tmp/corpus"
    val mem = MemoryStream[IngestDoc](spark)
    val q = Streams.curationIngestSink(mem.toDF(), table, s"$tmp/ckpt").start()
    try {
      // 6 waves × 200 fresh docs; every doc distinct in its prefix so
      // each wave genuinely grows the corpus the next wave anti-joins
      for (wave <- 0 until 6) {
        val docs = (0 until 200).map { i =>
          val id = wave * 1000L + i
          IngestDoc(id, s"wave$wave doc$i " + cleanBase, "load")
        }
        mem.addData(docs: _*)
        // let the 1 s trigger pick this wave up as its own micro-batch
        Thread.sleep(1200)
      }
      q.processAllAvailable()
      val dataBatches = q.recentProgress.toList
        .filter(_.numInputRows > 0)
        .map(p => (p.batchId, p.numInputRows,
          p.durationMs.get("triggerExecution").longValue()))
      assert(dataBatches.size >= 3,
        s"need several data batches to measure; got $dataBatches")
      // batch 0 pays plan/codegen warm-up + table bootstrap
      val steady = dataBatches.drop(1).map(_._3).sorted
      val median = steady(steady.size / 2)
      // load can ARRIVE mid-test after the entry guard passed (the
      // BENCH_r11 mid-sweep pattern) — re-check before judging
      assume(load1() < 2.5, s"load arrived mid-test (loadavg ${load1()})")
      assert(median < 2500L,
        s"steady-state median curation batch ${median} ms breaches the " +
          s"2.5 s budget (batches: $dataBatches)")
      // sanity: the load actually landed
      assert(spark.read.parquet(table).count() === 6 * 200L)
    } finally q.stop()
  }

  test("a steady-state batch after the bootstrap runs no schema inference") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-scur-pin").toString
    val table = s"$tmp/corpus"
    val mem = MemoryStream[IngestDoc](spark)
    // the schema inferences of the one micro-batch that lands `wave`: the
    // query starts inside the recorder, so its stream thread carries the
    // recorder's job tag, and stops after the batch. A stream names every
    // stage after its start call, not "parquet at Catalog.scala"; a footer
    // inference is told apart as the batch's one job outside a query plan,
    // Spark's bare parallelize + mapPartitions over the footers.
    def inferences(wave: Int): Seq[StageInfo] = Metrics(spark) {
      mem.addData((0 until 3).map(i =>
        IngestDoc(wave * 10L + i, s"wave$wave doc$i " + cleanBase, "s1")): _*)
      val q = Streams.curationIngestSink(mem.toDF(), table, s"$tmp/ckpt").start()
      try q.processAllAvailable() finally q.stop()
    }._2.stages.filter(_.rddInfos.exists(_.scope.exists(_.name == "parallelize")))
    inferences(0) // bootstraps the table
    assert(inferences(1).size == 1, "the first batch over the table infers its schema once")
    assert(inferences(2).isEmpty, "a same-schema upsert dropped the table's pinned schema")
    assert(spark.read.parquet(table).count() == 9)
  }

  test("curation ingest equals the batch rules applied to the same delta") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-scur2").toString
    val table = s"$tmp/corpus"
    val docs = Seq(
      IngestDoc(10L, "one " + cleanBase, "s1"),
      IngestDoc(11L, "tiny", "s1"),
      IngestDoc(12L, "two " + cleanBase, "s2"))
    val mem = MemoryStream[IngestDoc](spark)
    val q = Streams.curationIngestSink(mem.toDF(), table, s"$tmp/ckpt").start()
    try {
      mem.addData(docs: _*)
      q.processAllAvailable()
    } finally q.stop()
    // batch twin: same floor + policy + scrub over the same rows
    val twin = graft.operators.TextOps.blocklistScrubOf(
        docs.toDF().select(col("doc_id"), col("text")),
        graft.operators.TextOps.BlockTerms)
      .join(docs.toDF().select(col("doc_id"), col("text").as("raw")), Seq("doc_id"))
      .filter(length(col("raw")) >= graft.operators.Diff.MinIngestChars &&
        col("keep"))
      .select(col("doc_id"), col("scrubbed"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = spark.read.parquet(table).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === twin, "stream and batch curation drifted")
  }
}
