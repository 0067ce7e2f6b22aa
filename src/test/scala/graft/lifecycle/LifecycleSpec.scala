package graft.lifecycle

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{Catalog, SparkSuite}

/** Write-path invariants (SURVEY.md §2.1 S7-S16, §7.4 idempotence). */
class LifecycleSpec extends SparkSuite {

  private def scratchEvents(): String = {
    val d = Files.createTempDirectory("graft_lct_").toString + "/events"
    Catalog.events(spark, sfDir).write.parquet(d)
    d
  }

  test("s25 JSON export round-trips adversarial doubles and NULLs bit-exactly") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_json_").toString
    // the values that break naive float printing: repeating binary
    // fractions, subnormal-range magnitudes, huge exponents, negative
    // zero, and NULL
    val src = Seq(
      (1L, Some(0.1 + 0.2)), (2L, Some(1e-300)), (3L, Some(-1.7976931348623157e308)),
      (4L, Some(-0.0)), (5L, Option.empty[Double]), (6L, Some(math.Pi)))
      .toDF("k", "v")
    graft.streaming.Sinks.jsonExport(src, s"$tmp/t")
    val back = spark.read.schema(src.schema).json(s"$tmp/t")
      .orderBy(col("k")).collect()
    val orig = src.orderBy(col("k")).collect()
    orig.zip(back).foreach { case (a, b) =>
      assert(a.getLong(0) == b.getLong(0))
      assert(a.isNullAt(1) == b.isNullAt(1), s"null drift at ${a.getLong(0)}")
      if (!a.isNullAt(1))
        assert(java.lang.Double.doubleToRawLongBits(a.getDouble(1)) ==
          java.lang.Double.doubleToRawLongBits(b.getDouble(1)),
          s"bit drift at ${a.getLong(0)}: ${a.getDouble(1)} vs ${b.getDouble(1)}")
    }
  }

  test("s26 ORC export round-trips doubles, timestamps, and NULLs bit-exactly") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_orc_").toString
    // the s25 adversarial doubles plus sub-second timestamps (the a11
    // lesson: epoch truncation hides below whole-second fixtures)
    val src = Seq(
      (1L, Some(0.1 + 0.2), Some("2024-01-15 12:00:00.123456")),
      (2L, Some(1e-300), Some("1970-01-01 00:00:00.000001")),
      (3L, Some(-0.0), Option.empty[String]),
      (4L, Option.empty[Double], Some("2024-06-30 00:00:00")))
      .toDF("k", "v", "ts_s")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    graft.streaming.Sinks.orcExport(src, s"$tmp/t")
    val back = spark.read.schema(src.schema).orc(s"$tmp/t")
      .orderBy(col("k")).collect()
    val orig = src.orderBy(col("k")).collect()
    orig.zip(back).foreach { case (a, b) =>
      assert(a.getLong(0) == b.getLong(0))
      assert(a.isNullAt(1) == b.isNullAt(1) && a.isNullAt(2) == b.isNullAt(2),
        s"null drift at ${a.getLong(0)}")
      if (!a.isNullAt(1))
        assert(java.lang.Double.doubleToRawLongBits(a.getDouble(1)) ==
          java.lang.Double.doubleToRawLongBits(b.getDouble(1)),
          s"double bit drift at ${a.getLong(0)}")
      if (!a.isNullAt(2))
        assert(a.getTimestamp(2) == b.getTimestamp(2),
          s"timestamp drift at ${a.getLong(0)}: ${a.getTimestamp(2)} vs ${b.getTimestamp(2)}")
    }
  }

  test("s26 DOCUMENTED HAZARD: ORC shifts pre-epoch sub-second timestamps +1s") {
    import spark.implicits._
    // ORC encodes timestamps as (seconds, positive nanos); for negative
    // epoch-seconds with a fractional part the writer/reader pair lands
    // one second late. Pinned so a future Spark/ORC fix is NOTICED (this
    // test failing green-ward means the sink doc can drop the caveat).
    // The registered s26 gate is unaffected: the events fixture is
    // post-epoch, and the oracle would catch any regression there.
    val tmp = Files.createTempDirectory("graft_orc_").toString
    val src = Seq((1L, Some("1969-12-31 23:59:59.999999")))
      .toDF("k", "ts_s")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    graft.streaming.Sinks.orcExport(src, s"$tmp/t")
    val back = spark.read.schema(src.schema).orc(s"$tmp/t").collect().head
    val drift = back.getTimestamp(1).getTime - src.collect().head.getTimestamp(1).getTime
    assert(drift == 1000L,
      s"pre-epoch ORC drift changed (was +1s, now ${drift}ms) — update " +
        "Sinks.orcExport's caveat if this became 0")
  }

  test("upsert is idempotent and inserts only fresh keys") {
    implicit val s: SparkSession = spark
    val path = scratchEvents()
    val before = spark.read.parquet(path).count()
    val delta = Catalog.events(spark, sfDir).limit(10) // all conflicting
    Lifecycle.upsert(path, delta, Seq("event_id"))
    assert(spark.read.parquet(path).count() == before, "conflicting rows inserted")
    val fresh = delta.withColumn("event_id", col("event_id") + 5000000L)
    Lifecycle.upsert(path, fresh, Seq("event_id"))
    Lifecycle.upsert(path, fresh, Seq("event_id")) // again: no-op
    assert(spark.read.parquet(path).count() == before + 10)
  }

  test("append and upsert reject a column of another type; the table stays readable") {
    val path = Files.createTempDirectory("graft_lct_types_").toString + "/nation"
    Catalog.nation(spark, sfDir).write.parquet(path)
    val wide = Catalog.nation(spark, sfDir).withColumn("n_nationkey", col("n_nationkey") + 100L)
    val e = intercept[IllegalArgumentException](Lifecycle.append(wide, path))
    assert(e.getMessage.contains("n_nationkey is BIGINT, but the table's n_nationkey is INT"))
    intercept[IllegalArgumentException](Lifecycle.upsert(path, wide, Seq("n_nationkey"))(spark))
    assert(spark.read.parquet(path).collect().length == 25)
  }

  test("incremental rollup refresh equals full recompute across multiple deltas") {
    implicit val s: SparkSession = spark
    val ev = Catalog.events(spark, sfDir)
    val rollup = Files.createTempDirectory("graft_roll_").toString + "/rollup"
    // initial load: days < 10; then three uneven deltas (one empty)
    val cuts = Seq("2024-01-10", "2024-01-11", "2024-01-11", "2024-01-25")
    def upTo(d: String) = ev.filter(col("ts") < lit(d).cast("timestamp"))
    Lifecycle.dayTypeRollupFor(upTo(cuts.head)).write.parquet(rollup)
    cuts.sliding(2).foreach { case Seq(a, b) =>
      Lifecycle.refreshRollup(rollup,
        ev.filter(col("ts") >= lit(a).cast("timestamp") &&
          col("ts") < lit(b).cast("timestamp")))
    }
    val got = spark.read.parquet(rollup)
      .select(col("day"), col("event_type"), col("n"),
        col("sum_value_dec").cast("double").as("sv"))
      .collect().map(r => (r.get(0).toString, r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val full = Lifecycle.dayTypeRollupFor(upTo(cuts.last))
      .select(col("day"), col("event_type"), col("n"),
        col("sum_value_dec").cast("double").as("sv"))
      .collect().map(r => (r.get(0).toString, r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(got == full,
      s"incremental and full recompute disagree: ${got.size} vs ${full.size} keys")
    assert(got.nonEmpty)
  }

  test("delete removes exactly the matching rows") {
    implicit val s: SparkSession = spark
    val path = scratchEvents()
    val clicks = spark.read.parquet(path)
      .filter(col("event_type") === "click").count()
    val total = spark.read.parquet(path).count()
    Lifecycle.delete(path, col("event_type") === "click")
    val after = spark.read.parquet(path)
    assert(after.count() == total - clicks)
    assert(after.filter(col("event_type") === "click").count() == 0)
  }

  test("update rewrites only matching rows, schema unchanged") {
    implicit val s: SparkSession = spark
    val path = scratchEvents()
    val schemaBefore = spark.read.parquet(path).schema
    Lifecycle.update(path, "value", lit(-1.0), col("event_type") === "error")
    val after = spark.read.parquet(path)
    assert(after.schema == schemaBefore)
    assert(after.filter(col("event_type") === "error" && col("value") =!= -1.0).count() == 0)
    assert(after.filter(col("event_type") =!= "error" && col("value") === -1.0).count() == 0)
  }

  test("archive → restore round-trip preserves content; truncate empties") {
    implicit val s: SparkSession = spark
    val live = scratchEvents()
    val arch = live.stripSuffix("events") + "events_archive"
    val before = spark.read.parquet(live).orderBy("event_id").collect()
    Lifecycle.archive(live, arch, Catalog.AsOf)
    assert(spark.read.parquet(live).count() == 0, "live not truncated")
    assert(spark.read.parquet(arch).columns.contains("archive_ts"))
    Lifecycle.restoreOlderThan(live, arch, "2024-03-01 00:00:00")
    val after = spark.read.parquet(live).orderBy("event_id").collect()
    assert(after.sameElements(before))
  }

  private def scratchPartitionedEvents(): String = {
    val d = Files.createTempDirectory("graft_lctp_").toString + "/events_dt"
    Catalog.writePartitionedByDate(Catalog.events(spark, sfDir), "ts", d)
    d
  }

  /** (relative file path, length) for every parquet file under a partition. */
  private def partitionFiles(root: String, sub: String): Set[(String, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(s"$root/$sub")).filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getAbsolutePath.stripPrefix(root), f.length())).toSet
  }

  test("partition-local delete rewrites only hit partitions; others untouched") {
    implicit val s: SparkSession = spark
    val path = scratchPartitionedEvents()
    val dts = spark.read.parquet(path).select("dt").distinct()
      .orderBy("dt").collect().map(_.getDate(0))
    assert(dts.length >= 2, "fixture must span multiple days")
    val (hitDt, coldDt) = (dts.head, dts.last)
    val coldBefore = partitionFiles(path, s"dt=$coldDt")
    val expect = spark.read.parquet(path)
      .filter(!(col("dt") === hitDt && col("event_type") === "click"))
      .count()
    Lifecycle.deleteInPartitions(path, "dt",
      col("dt") === hitDt && col("event_type") === "click")
    assert(spark.read.parquet(path).count() == expect)
    assert(spark.read.parquet(path)
      .filter(col("dt") === hitDt && col("event_type") === "click").count() == 0)
    assert(partitionFiles(path, s"dt=$coldDt") == coldBefore,
      "unaffected partition's files changed")
  }

  test("partition-local delete removes a fully-emptied partition") {
    implicit val s: SparkSession = spark
    val path = scratchPartitionedEvents()
    val hitDt = spark.read.parquet(path).select("dt").distinct()
      .orderBy("dt").collect().head.getDate(0)
    Lifecycle.deleteInPartitions(path, "dt", col("dt") === hitDt)
    assert(!new java.io.File(s"$path/dt=$hitDt").exists(),
      "emptied partition directory should be gone")
    assert(spark.read.parquet(path).filter(col("dt") === hitDt).count() == 0)
  }

  test("partition-local update + partitioned upsert match their full-table twins") {
    implicit val s: SparkSession = spark
    val path = scratchPartitionedEvents()
    val naive = Files.createTempDirectory("graft_lctp_naive_").toString + "/events"
    spark.read.parquet(path).write.parquet(naive)
    val hitDt = spark.read.parquet(path).select("dt").distinct()
      .orderBy("dt").collect().head.getDate(0)
    val pred = col("dt") === hitDt && col("event_type") === "view"
    Lifecycle.updateInPartitions(path, "dt", "value", lit(0.0), pred)
    Lifecycle.update(naive, "value", lit(0.0), pred)
    val delta = spark.read.parquet(naive)
      .filter(col("dt") === hitDt).limit(20)
      .withColumn("event_id", col("event_id") + 7000000L)
      .unionByName(spark.read.parquet(naive).filter(col("dt") === hitDt).limit(5))
    Lifecycle.upsertPartitioned(path, delta, Seq("event_id"), "dt")
    Lifecycle.upsert(naive, delta, Seq("event_id"))
    val a = spark.read.parquet(path).orderBy("event_id")
      .collect().map(_.toSeq).toSeq
    val b = spark.read.parquet(naive)
      .select(spark.read.parquet(path).columns.map(col): _*).orderBy("event_id")
      .collect().map(_.toSeq).toSeq
    assert(a == b, "partition-local results diverge from full-table twins")
  }

  test("partition-local rewrite handles partition values needing path escaping") {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val d = Files.createTempDirectory("graft_lctp_esc_").toString + "/tagged"
    // ':' is escaped in partition directory names (tag=a%3Ab) — a raw
    // string-interpolated swap path would miss the dir and silently no-op
    Seq((1L, "a:b", 1.0), (2L, "a:b", 2.0), (3L, "plain", 3.0))
      .toDF("id", "tag", "value")
      .write.partitionBy("tag").parquet(d)
    Lifecycle.deleteInPartitions(d, "tag",
      col("tag") === "a:b" && col("id") === 1L)
    assert(spark.read.parquet(d).orderBy("id").collect()
      .map(_.getLong(0)).toSeq == Seq(2L, 3L))
    Lifecycle.deleteInPartitions(d, "tag", col("tag") === "a:b")
    assert(spark.read.parquet(d).select("tag").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("plain"),
      "fully-emptied escaped partition should be removed")
  }

  test("compaction preserves content and reduces file count") {
    implicit val s: SparkSession = spark
    val path = scratchEvents()
    // fragment: rewrite as many files
    Lifecycle.compact(path, 16)
    val frag = new java.io.File(path).listFiles().count(_.getName.endsWith(".parquet"))
    val content = spark.read.parquet(path).orderBy("event_id").collect()
    Lifecycle.compact(path, 2)
    val files = new java.io.File(path).listFiles().count(_.getName.endsWith(".parquet"))
    assert(files < frag && files <= 2)
    assert(spark.read.parquet(path).orderBy("event_id").collect().sameElements(content))
  }

  test("s27 schema merge: evolved column is NULL for pre-evolution rows, " +
      "populated after, and the merged schema is the union") {
    val merged = Lifecycle.schemaMergeRead(spark, sfDir)
    assert(merged.columns.toSeq === Seq("doc_id", "lang", "source"),
      "merged read must expose the evolved (union) schema")
    val rows = merged.collect()
    val docs = Catalog.documents(spark, sfDir).count()
    assert(rows.length.toLong === docs, "no row lost across epochs")
    rows.foreach { r =>
      val id = r.getLong(0)
      if (id % 2 == 0)
        assert(r.isNullAt(2),
          s"pre-evolution row $id must read NULL for the added column")
    }
    // the evolved epoch genuinely populates the column (non-vacuous):
    // some odd doc has a non-null source in the fixture
    assert(rows.exists(r => r.getLong(0) % 2 == 1 && !r.isNullAt(2)),
      "evolution must be observable — no odd row carries a source")
  }

  test("s27 hand corpus: negative odd ids land in the evolved epoch, " +
      "never in neither (the % sign trap)") {
    import spark.implicits._
    val docs = Seq(
      (-3L, Option("en"), Option("site_a")),   // negative ODD: % 2 == -1
      (-2L, Option("de"), Option("site_b")),
      (0L, Option("fr"), Option("site_c")),
      (5L, Option("zh"), Option("site_d")))
      .toDF("doc_id", "lang", "source")
    val tbl = Files.createTempDirectory("graft_s27_").toString + "/tbl"
    val got = Lifecycle.schemaMergeReadOf(docs, tbl).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), if (r.isNullAt(2)) null else r.getString(2))))
      .toMap
    assert(got.keySet === Set(-3L, -2L, 0L, 5L), s"row lost: ${got.keySet}")
    assert(got(-3L) === (("en", "site_a")), "negative odd = evolved epoch")
    assert(got(-2L) === (("de", null)) && got(0L) === (("fr", null)))
    assert(got(5L) === (("zh", "site_d")))
  }

  test("s27 hand corpus: a NULL doc_id lands in the narrow epoch, " +
      "never in neither (the NULL-predicate trap, r12 ADVICE)") {
    import spark.implicits._
    val docs = Seq(
      (Option.empty[Long], Option("en"), Option("site_a")), // NULL id
      (Option(7L), Option("de"), Option("site_b")))
      .toDF("doc_id", "lang", "source")
    val tbl = Files.createTempDirectory("graft_s27n_").toString + "/tbl"
    val rows = Lifecycle.schemaMergeReadOf(docs, tbl).collect()
    assert(rows.length === 2,
      "a NULL doc_id must not vanish from the epoch split")
    val nullRow = rows.find(_.isNullAt(0)).getOrElse(
      fail("NULL-id row lost across epochs"))
    assert(nullRow.getString(1) === "en" && nullRow.isNullAt(2),
      "NULL id routes to the narrow epoch: source reads NULL")
    val odd = rows.find(r => !r.isNullAt(0) && r.getLong(0) == 7L).get
    assert(odd.getString(2) === "site_b")
  }
}
