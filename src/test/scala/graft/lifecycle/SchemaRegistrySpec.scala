package graft.lifecycle

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{AnalysisException, Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Catalog, Metrics, SparkSuite}

/** The schema registry's invalidation contract (`Catalog.read`,
  * `Catalog.committed`, `Catalog.invalidate`), per engine write primitive:
  * a re-read with no write in between infers nothing; after a write that
  * keeps the table's schema the next read infers nothing either, and after
  * one that changes it (a new column, a wider type) the next read infers
  * exactly once. Either way the read sees what the write committed. Every
  * case pins the written dir's mtime back to its pre-write value, so only
  * the registry — not filesystem timing — can explain a re-inference.
  */
class SchemaRegistrySpec extends SparkSuite {

  private implicit def session: SparkSession = spark

  /** A fresh flat table holding nation's 25 rows (5 per region). */
  private def table(): String = {
    val p = Files.createTempDirectory("graft_registry_").toString + "/t"
    Catalog.nation(spark, sfDir).write.parquet(p)
    p
  }

  private def mtime(p: String): Long =
    Catalog.fsFor(p, spark).getFileStatus(new Path(p)).getModificationTime

  private def setMtime(p: String, t: Long): Unit =
    Catalog.fsFor(p, spark).setTimes(new Path(p), t, -1)

  private def inferenceJobs(p: String): Int =
    Metrics(spark)(Catalog.read(spark, p))._2.jobs.size

  test("a schema-changing rewrite is seen even when its mtime equals the cached one") {
    val p = table()
    assert(!Catalog.read(spark, p).columns.contains("c"))
    val cached = mtime(p)
    Lifecycle.rewriteAt(p)(_.withColumn("c", lit(1)))
    setMtime(p, cached)
    assert(mtime(p) == cached)
    val after = Catalog.read(spark, p)
    assert(after.columns.contains("c"), s"stale schema served: ${after.columns.mkString(",")}")
    assert(after.filter(col("c") === 1).count() == 25)
  }

  test("a missing path throws what spark.read.parquet throws, and the failure is not pinned") {
    val p = Files.createTempDirectory("graft_registry_").toString + "/t"
    val bare = intercept[AnalysisException](spark.read.parquet(p))
    val viaRegistry = intercept[AnalysisException](Catalog.read(spark, p))
    assert(viaRegistry.getCondition == bare.getCondition)
    Catalog.nation(spark, sfDir).write.parquet(p)
    assert(Catalog.read(spark, p).count() == 25)
  }

  /** What one write primitive commits: the registry-served path it
    * writes, the write, the rows matching `seen` afterwards, and the
    * inferences the first read after it runs (1 iff the schema changed).
    */
  private case class Write(target: String, run: () => Unit, seen: Column, rows: Long,
      infers: Int = 0)

  private def nationPlus(offset: Int) =
    Catalog.nation(spark, sfDir)
      .withColumn("n_nationkey", col("n_nationkey") + offset)

  /** One stats row per (atomic) nation column. */
  private lazy val statsRows = Catalog.nation(spark, sfDir).columns.length.toLong

  // compact is rewriteAt followed by Stats.analyze of the table, so its
  // case watches the stats dataset, the last path it commits
  private val writes: Seq[(String, String => Write)] = Seq(
    "rewriteAt" -> (p => Write(p,
      () => Lifecycle.rewriteAt(p)(_.withColumn("c", lit(1))), col("c") === 1, 25, 1)),
    "delete" -> (p => Write(p,
      () => Lifecycle.delete(p, col("n_regionkey") === 0), lit(true), 20)),
    "update" -> (p => Write(p,
      () => Lifecycle.update(p, "n_name", lit("x"), col("n_regionkey") === 0),
      col("n_name") === "x", 5)),
    "update to a wider type" -> (p => Write(p,
      () => Lifecycle.update(p, "n_regionkey", lit(0.5), col("n_regionkey") === 0),
      col("n_regionkey") === 0.5, 5, 1)),
    "updateMulti" -> (p => Write(p,
      () => Lifecycle.updateMulti(p,
        Seq("n_name" -> lit("y"), "n_regionkey" -> lit(9)), col("n_regionkey") === 1),
      col("n_name") === "y" && col("n_regionkey") === 9, 5)),
    "truncate" -> (p => Write(p, () => Lifecycle.truncate(p), lit(true), 0)),
    "compact" -> { p =>
      Stats.analyze(spark, p)
      Lifecycle.append(nationPlus(100), p)
      Write(Stats.statsPath(p), () => Lifecycle.compact(p, 2),
        col("table_row_count") === 50, statsRows)
    },
    "MERGE" -> { p =>
      val delta = p + "_delta"
      nationPlus(100).write.parquet(delta)
      Write(p, () => SqlMutations.execute(spark,
        "MERGE INTO t USING d ON t.n_nationkey = d.n_nationkey " +
          "WHEN NOT MATCHED THEN INSERT *", Map("t" -> p, "d" -> delta)),
        lit(true), 50)
    },
    "append" -> (p => Write(p,
      () => Lifecycle.append(nationPlus(100), p), lit(true), 50)),
    "upsert" -> (p => Write(p,
      () => Lifecycle.upsert(p, nationPlus(100).unionByName(nationPlus(0)),
        Seq("n_nationkey")), lit(true), 50)),
    "archive" -> { p =>
      val arch = p + "_archive"
      Lifecycle.archive(p, arch, Catalog.AsOf)
      Lifecycle.append(nationPlus(100), p)
      Write(arch, () => Lifecycle.archive(p, arch, Catalog.AsOf),
        col("archive_ts").isNotNull, 50)
    },
    "restoreOlderThan" -> { p =>
      val arch = p + "_archive"
      Lifecycle.archive(p, arch, Catalog.AsOf)
      Write(p, () => Lifecycle.restoreOlderThan(p, arch, "2024-03-01 00:00:00"),
        lit(true), 25)
    },
    "Stats.analyze" -> { p =>
      Stats.analyze(spark, p)
      Lifecycle.append(nationPlus(100), p)
      Write(Stats.statsPath(p), () => { Stats.analyze(spark, p); () },
        col("table_row_count") === 50, statsRows)
    })

  // `infers`: 0 after a write that keeps the schema, 1 after one that changes it
  writes.foreach { case (name, prepare) =>
    test(s"$name: a re-read infers nothing; the first read after the write infers once and sees it") {
      val w = prepare(table())
      Catalog.read(spark, w.target)
      assert(inferenceJobs(w.target) == 0, "a re-read with no write in between inferred again")
      val before = mtime(w.target)
      w.run()
      setMtime(w.target, before)
      assert(inferenceJobs(w.target) == w.infers,
        s"the first read after the write did not infer ${w.infers} time(s)")
      assert(Catalog.read(spark, w.target).filter(w.seen).count() == w.rows)
    }
  }

  test("an upsert keyed on a later column appends in the table's column order and keeps the pin") {
    val p = table()
    val columns = Catalog.read(spark, p).columns.toSeq
    // the anti-join puts its key, n_name, first
    Lifecycle.upsert(p, Catalog.nation(spark, sfDir)
      .withColumn("n_name", concat(col("n_name"), lit("!"))), Seq("n_name"))
    assert(inferenceJobs(p) == 0)
    assert(Catalog.read(spark, p).filter(col("n_name").endsWith("!")).count() == 25)
    val files = Catalog.fsFor(p, spark).listStatus(new Path(p)).map(_.getPath.toString)
      .filter(_.endsWith(".parquet"))
    assert(files.forall(f => spark.read.parquet(f).columns.toSeq == columns), files.mkString(", "))
  }
}
