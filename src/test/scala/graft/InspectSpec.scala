package graft

import java.io.{ByteArrayOutputStream, PrintStream}

class InspectSpec extends SparkSuite {

  /** (exit code, stdout, stderr) of one Inspect command. */
  private def inspect(args: String*): (Int, String, String) = {
    val out = new ByteArrayOutputStream
    val err = new ByteArrayOutputStream
    val code = Inspect(spark, args, new PrintStream(out, true, "UTF-8"),
      new PrintStream(err, true, "UTF-8"))
    (code, out.toString("UTF-8"), err.toString("UTF-8"))
  }

  private def jsonLines(s: String) =
    s.linesIterator.filter(_.startsWith("{")).map(Json.mapper.readTree).toSeq

  test("plan prints each target's plan and the jobs its construction ran") {
    Catalog.events(spark, sfDir) // a1's table schema is read once
    val (code, out, _) = inspect("plan", sfDir, "a1_active_users,a2_total_sessions")
    assert(code == 0)
    assert(out.contains("===== a1_active_users =====") &&
      out.contains("===== a2_total_sessions ====="))
    assert(out.split("== Physical Plan ==").length == 3)
    val a1 = jsonLines(out).find(_.get("query").asText == "a1_active_users").get
    assert(a1.get("jobs_at_construction").asInt == 0)
    assert(!spark.sparkContext.isStopped)
  }

  test("plan counts the jobs the query hands to DriverJobs (Stats.analyze's passes)") {
    val ((code, out, _), r) = Metrics(spark)(inspect("plan", sfDir, "s15_archive_restore"))
    assert(code == 0, r.jobs)
    assert(r.jobs.exists(j => Option(j.description).exists(_.startsWith("analyze "))), r.jobs)
    val counted = jsonLines(out).head.get("jobs_at_construction").asInt
    assert(counted == r.jobs.size, s"Inspect counted $counted of ${r.jobs}")
  }

  test("run prints one JSON line per repeat with the jobs it ran") {
    val (code, out, _) = inspect("run", sfDir, "a2_total_sessions", "2")
    assert(code == 0)
    val lines = jsonLines(out)
    assert(lines.map(_.get("repeat").asInt) == Seq(1, 2))
    lines.foreach { l =>
      assert(l.get("jobs").asInt >= 1, l)
      assert(l.get("wall_s").asDouble > 0, l)
      assert(l.get("job_timeline").size == l.get("jobs").asInt, l)
      val plan = l.get("plan_ms")
      assert(Seq("analysis", "optimization", "planning").forall(p =>
        plan.has(p) && plan.get(p).asLong >= 0), l)
      assert(l.get("codegen_compiles").asLong >= 0, l)
    }
    // the second repeat finds its generated classes in the codegen cache
    assert(lines.last.get("codegen_compiles").asLong == 0, lines.last)
    assert(lines.last.has("top_stages") && !lines.head.has("top_stages"))
    assert(!spark.sparkContext.isStopped)
  }

  test("an unknown query name exits 1 and lists the registered names") {
    val (code, out, err) = inspect("plan", sfDir, "a1_active_users,no_such_query")
    assert(code == 1)
    assert(out.isEmpty)
    assert(err.contains("no_such_query"))
    assert(SparkEntry.registry.forall(q => err.contains(q.name)))
  }

  test("a failing target is printed, the rest are still tried, and the exit is non-zero") {
    val (code, _, err) =
      inspect("plan", "/nonexistent-graft-fixture", "a1_active_users,a2_total_sessions")
    assert(code != 0)
    assert(err.contains("FAIL a1_active_users") && err.contains("FAIL a2_total_sessions"))
  }

  test("a malformed command line prints the usage") {
    Seq(Seq("time", sfDir, "a1_active_users"),
      Seq("run", sfDir, "a1_active_users", "0"),
      Seq("plan", sfDir, "a1_active_users", "2")).foreach { args =>
      val (code, out, err) = inspect(args: _*)
      assert(code == 1 && out.isEmpty && err.startsWith("usage:"), args)
    }
  }
}
