package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

/** The scratch artifact protocol: build-once reuse, content-keyed
  * invalidation, torn-publish repair, and process-unique run dirs — the
  * guarantees every persisted feature index rides on.
  */
class ScratchSpec extends SparkSuite {

  // the sweep-dependent tests below need every materialize/freshRunDir
  // call to actually sweep — disable the JVM-local sweep throttle for
  // this suite (the throttle's own behavior has a dedicated test) and
  // restore the shipped default afterwards: the session is JVM-shared,
  // and leaking the conf would silently run every later suite with the
  // throttle off
  spark.conf.set("spark.graft.scratch.sweep.interval.minutes", "0")

  override def afterAll(): Unit = {
    spark.conf.unset("spark.graft.scratch.sweep.interval.minutes")
    super.afterAll()
  }

  private def newCorpus(): String = {
    val dir = Files.createTempDirectory("graft-scratch-src").toString
    import spark.implicits._
    Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("materialize builds once and reuses the completed artifact") {
    val src = newCorpus()
    var builds = 0
    def build(staging: String): Unit = {
      builds += 1
      spark.range(3).write.parquet(staging)
    }
    val p1 = Scratch.materialize(spark, "spec_idx", "v1", src)(build)
    val p2 = Scratch.materialize(spark, "spec_idx", "v1", src)(build)
    assert(p1 == p2 && builds == 1)
    assert(spark.read.parquet(p1).count() == 3)
    // a different builder version must NOT reuse the v1 artifact
    val p3 = Scratch.materialize(spark, "spec_idx", "v2", src)(build)
    assert(p3 != p1 && builds == 2)
  }

  test("a build may materialize other artifacts, even ones sharing its hash bin") {
    val src = newCorpus()
    val outer = Scratch.artifactPath(spark, "spec_outer", "v1", src)
    // ConcurrentHashMap's bin of a key: its spread hash modulo the table
    // size (a power of two); inner keys agreeing with the outer key in the
    // low 16 bits share its bin in every table of up to 65,536 bins
    def bin(path: String): Int = {
      val h = path.hashCode
      (h ^ (h >>> 16)) & 0xffff
    }
    val inner = Iterator.from(0).map(i => s"spec_inner_$i")
      .filter(k => bin(outer.replace("/spec_outer/", s"/$k/")) == bin(outer))
      .take(3).toList
    inner.foreach(k => assert(bin(Scratch.artifactPath(spark, k, "v1", src)) == bin(outer)))
    var innerBuilds = 0
    val p = Scratch.materialize(spark, "spec_outer", "v1", src) { staging =>
      inner.foreach { k =>
        Scratch.materialize(spark, k, "v1", src) { s =>
          innerBuilds += 1
          spark.range(1).write.parquet(s)
        }
      }
      spark.range(2).write.parquet(staging)
    }
    assert(p == outer && innerBuilds == 3)
    assert(spark.read.parquet(p).count() == 2)
  }

  test("a pre-existing COMPLETE artifact is reused without rebuilding (cross-JVM path)") {
    // simulate another process having published: complete parquet + _SUCCESS
    // at the artifact path, with this JVM's memo cache cold for the key
    val src = newCorpus()
    val dest = Scratch.artifactPath(spark, "spec_prebuilt", "v1", src)
    spark.range(7).write.parquet(dest)
    var builds = 0
    val p = Scratch.materialize(spark, "spec_prebuilt", "v1", src) { staging =>
      builds += 1
      spark.range(1).write.parquet(staging)
    }
    assert(p == dest && builds == 0,
      "a complete on-disk artifact must short-circuit the build")
    assert(spark.read.parquet(p).count() == 7)
  }

  test("changing the source content invalidates the artifact path") {
    val src = newCorpus()
    val p1 = Scratch.artifactPath(spark, "spec_idx", "v1", src)
    import spark.implicits._
    Thread.sleep(1100) // distinct mtime granularity on coarse filesystems
    Seq((3L, "gamma")).toDF("doc_id", "text")
      .write.mode("append").parquet(s"$src/documents.parquet")
    val p2 = Scratch.artifactPath(spark, "spec_idx", "v1", src)
    assert(p1 != p2, "content change must produce a new artifact path")
  }

  test("a torn destination (no _SUCCESS) is replaced, never served") {
    val src = newCorpus()
    val dest = Scratch.artifactPath(spark, "spec_torn", "v1", src)
    // simulate a crashed publisher: dest exists, incomplete, no _SUCCESS
    Files.createDirectories(Paths.get(dest))
    Files.writeString(Paths.get(dest, "garbage.parquet"), "not parquet")
    val p = Scratch.materialize(spark, "spec_torn", "v1", src)(staging =>
      spark.range(5).write.parquet(staging))
    assert(p == dest)
    assert(Files.exists(Paths.get(dest, "_SUCCESS")))
    assert(spark.read.parquet(p).count() == 5)
  }

  private def ageDir(path: String, days: Int): Unit =
    Files.setLastModifiedTime(Paths.get(path),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - days.toLong * 24 * 3600 * 1000))

  /** Age a whole subtree: the sweep's deep-mtime check vetoes deletion if
    * ANY file or dir below is fresh (that veto is itself under test), so
    * simulating a genuinely abandoned artifact must age every entry.
    */
  private def ageTree(path: String, days: Int): Unit = {
    val p = Paths.get(path)
    if (Files.isDirectory(p)) {
      val st = Files.list(p)
      try st.forEach(c => ageTree(c.toString, days)) finally st.close()
    }
    ageDir(path, days)
  }

  test("TTL sweep reaps stale versions and content keys; the live artifact survives") {
    val src = newCorpus()
    def build(staging: String): Unit = spark.range(2).write.parquet(staging)
    // a superseded version tag, older than the 7-day TTL — aged to the
    // leaves (the deep-mtime check treats any fresh descendant as live)
    val old = Scratch.materialize(spark, "spec_ttl", "v_old", src)(build)
    ageTree(Paths.get(old).getParent.toString, days = 8) // whole version tree
    // a stale sibling content key under the CURRENT version (a re-generated
    // fixture's leftover) and an orphaned staging dir (a crashed builder)
    val live = Scratch.materialize(spark, "spec_ttl", "v_new", src)(build)
    val staleKey = Paths.get(live).getParent.resolve("deadbeefdeadbeef")
    Files.createDirectories(staleKey)
    val staleStaging = Paths.get(live + "_staging_crashed")
    Files.createDirectories(staleStaging)
    ageDir(staleKey.toString, days = 8)
    ageDir(staleStaging.toString, days = 8)
    // fresh-but-superseded siblings must NOT be reaped (a concurrent
    // process may still read them) — only age marks abandonment
    val freshKey = Paths.get(live).getParent.resolve("feedfacefeedface")
    Files.createDirectories(freshKey)
    // sweeps run inside materialize; trigger one with a cold memo key
    // UNDER THE SAME VERSION (the regenerated-fixture scenario: new content
    // key, stale old keys accumulate in the shared version dir)
    val again = Scratch.materialize(spark, "spec_ttl", "v_new", newCorpus())(build)
    assert(Files.exists(Paths.get(again, "_SUCCESS")))
    assert(Files.exists(Paths.get(live, "_SUCCESS")), "live artifact reaped")
    assert(Files.exists(freshKey), "fresh sibling must survive the TTL")
    assert(!Files.exists(Paths.get(old).getParent), "stale version not reaped")
    assert(!Files.exists(staleKey), "stale content key not reaped")
    assert(!Files.exists(staleStaging), "orphaned staging not reaped")
  }

  test("freshRunDir sweeps other processes' abandoned run dirs by the run TTL") {
    val src = newCorpus()
    val r1 = Scratch.freshRunDir(spark, "spec_run_ttl", src)
    Files.createDirectories(Paths.get(r1))
    // run dirs reap on the SHORTER run TTL (24 h default)
    val orphan = Paths.get(r1).getParent.resolve("run_crashed_process")
    Files.createDirectories(orphan)
    ageTree(orphan.toString, days = 2)
    val fresh = Paths.get(r1).getParent.resolve("run_live_process")
    Files.createDirectories(fresh)
    // stale-topped but ACTIVELY WRITTEN (e.g. a >24h streaming
    // checkpoint): one fresh file below vetoes the reap
    val liveOld = Paths.get(r1).getParent.resolve("run_longlived_stream")
    Files.createDirectories(liveOld.resolve("checkpoint"))
    Files.writeString(liveOld.resolve("checkpoint/offsets"), "42")
    ageDir(liveOld.toString, days = 2)
    ageDir(liveOld.resolve("checkpoint").toString, days = 2)
    Scratch.freshRunDir(spark, "spec_run_ttl", src)
    assert(!Files.exists(orphan), "2-day-old orphan run dir not reaped")
    assert(Files.exists(fresh), "fresh foreign run dir must survive")
    assert(Files.exists(liveOld.resolve("checkpoint/offsets")),
      "a run dir with any fresh descendant must survive the sweep")
  }

  test("sweep throttle skips repeat sweeps within the interval; 0 disables it") {
    val src = newCorpus()
    def build(staging: String): Unit = spark.range(1).write.parquet(staging)
    try {
      val live = Scratch.materialize(spark, "spec_throttle", "v1", src)(build)
      // arm the throttle: first sweep under a large interval records itself
      spark.conf.set("spark.graft.scratch.sweep.interval.minutes", "600")
      Scratch.materialize(spark, "spec_throttle", "v1", newCorpus())(build)
      // a stale sibling planted now must SURVIVE the next (throttled) sweep
      val stale = Paths.get(live).getParent.resolve("deadbeef00000000")
      Files.createDirectories(stale)
      ageDir(stale.toString, days = 8)
      Scratch.materialize(spark, "spec_throttle", "v1", newCorpus())(build)
      assert(Files.exists(stale), "sweep ran despite an unexpired interval")
      // interval 0 disables the throttle: the sweep runs and reaps
      spark.conf.set("spark.graft.scratch.sweep.interval.minutes", "0")
      Scratch.materialize(spark, "spec_throttle", "v1", newCorpus())(build)
      assert(!Files.exists(stale), "throttle-disabled sweep did not reap")
    } finally spark.conf.set("spark.graft.scratch.sweep.interval.minutes", "0")
  }

  test("freshTableDir keeps day-old table locations (general TTL, not run TTL)") {
    // catalog tables serve reads past the 24 h run TTL and reads refresh
    // no mtime — table-backing dirs must age on the GENERAL artifact TTL
    val src = newCorpus()
    val t1 = Scratch.freshTableDir(spark, "spec_tbl_ttl", src)
    Files.createDirectories(Paths.get(t1))
    val dayOld = Paths.get(t1).getParent.resolve("run_yesterdays_table")
    Files.createDirectories(dayOld)
    ageTree(dayOld.toString, days = 2)
    val ancient = Paths.get(t1).getParent.resolve("run_ancient_table")
    Files.createDirectories(ancient)
    ageTree(ancient.toString, days = 8)
    Scratch.freshTableDir(spark, "spec_tbl_ttl", src)
    assert(Files.exists(dayOld),
      "a 2-day-old table location must survive the general TTL")
    assert(!Files.exists(ancient), "an 8-day-old table location must still reap")
  }

  test("default scratch root is per-user (predictable paths in shared /tmp)") {
    // with no spark.graft.scratch conf the root must embed the user name,
    // so another local user cannot pre-plant a poisoned artifact at a
    // predictable world-writable path (ADVICE r6)
    if (spark.conf.getOption("spark.graft.scratch").isEmpty) {
      assert(Scratch.root(spark).endsWith(
        "graft-scratch-" + sys.props.getOrElse("user.name", "anon")))
      val rootDir = Paths.get(Scratch.root(spark))
      if (Files.exists(rootDir)) {
        val perms = Files.getPosixFilePermissions(rootDir)
        import java.nio.file.attribute.PosixFilePermission._
        assert(!perms.contains(GROUP_WRITE) && !perms.contains(OTHERS_WRITE),
          s"scratch root is group/other-writable: $perms")
      }
    }
  }

  test("freshRunDir hands out unique dirs and never deletes a fresh sibling") {
    // concurrent same-kind pipelines on one corpus each get their own run
    // dir and must never reap each other's live state — only the TTL
    // sweep (age-guarded) reclaims runs
    val src = newCorpus()
    val r1 = Scratch.freshRunDir(spark, "spec_run", src)
    Files.createDirectories(Paths.get(r1))
    Files.writeString(Paths.get(r1, "state"), "live")
    val r2 = Scratch.freshRunDir(spark, "spec_run", src)
    assert(r1 != r2, "run dirs must be unique per call")
    assert(Files.exists(Paths.get(r1, "state")),
      "a fresh previous run dir must survive (concurrent caller's state)")
  }
}
