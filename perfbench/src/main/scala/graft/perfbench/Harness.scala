package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.{Bench, Catalog, Dashboard, GraftSession, SparkEntry}
import graft.operators.{Graph, Multimodal, Search, TextOps}
import graft.streaming.Streams

/** One benchmark run in one JVM: sets up a session on the given fixture,
  * runs one workload for a fixed time, checks its outputs and writes the
  * raw measurements (samples, counters, checks, failures) as JSON for
  * `run.py`, which computes the reported metrics.
  *
  * Usage: Harness <workload> <seed> <seconds> <trace 0|1> <fixtureDir>
  *          <runDir> <outJson> [<referenceJson>]
  */
object Harness {
  /** One query per operator module: iterative supersteps (Graph), top-k
    * retrieval (Search), the range-join rule (Relational), hashing dedup
    * over a Scratch artifact (Multimodal), text kernels (TextOps).
    */
  val AnalyticsMix: Seq[String] = Seq(
    "k4_hits", "b15_maxscore", "j11_interval_join", "m6_cdc_dedup", "x20_keywords")

  /** Untimed, checked ops between set-up and the timed window, so the
    * window starts past the steep part of the JIT warm-up curve. The
    * dashboard's count includes the refresh that records the section row
    * counts; analytics passes follow the checksum pass, which runs every
    * query once more.
    */
  val DashboardWarmupOps = 6
  val AnalyticsWarmupPasses = 1

  /** Index prewarms of the modules the mix reads, in `graft.Bench`'s
    * order; analytics set-up runs and times each, as Bench does before it
    * measures.
    */
  val Prewarm: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "Search" -> Search.prewarmIndexes, "Multimodal" -> Multimodal.prewarmIndexes,
    "Graph" -> Graph.prewarmIndexes, "TextOps" -> TextOps.prewarmIndexes)

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Raw results of one run, serialized as-is. */
  final class Out {
    val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val layers = mutable.LinkedHashMap.empty[String, Double]
    val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
    val failures = mutable.ArrayBuffer.empty[Map[String, String]]
    val extra = mutable.LinkedHashMap.empty[String, Any]
    var attempted = 0L
    val phases = mutable.ArrayBuffer.empty[(String, Double)]
    private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    /** Marks the end of a set-up phase, in seconds since JVM start. */
    def phase(name: String): Unit =
      phases += name -> (System.currentTimeMillis() - jvmStartMs) / 1e3
    def sample(k: String, v: Double): Unit =
      samples.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    def check(name: String, ok: Boolean, detail: String = ""): Unit =
      checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)
    def fail(op: String, e: Throwable): Unit = {
      val msg = Option(e.getMessage).getOrElse(e.toString).linesIterator
        .take(3).mkString(" | ")
      System.err.println(s"[perfbench] $op failed: $msg")
      failures += Map("op" -> op, "error" -> s"${e.getClass.getSimpleName}: $msg")
    }
    /** Runs one counted op; a throw is recorded, never propagated. */
    def op[T](name: String)(body: => T): Option[T] = {
      attempted += 1
      try Some(body) catch { case NonFatal(e) => fail(name, e); None }
    }
  }

  final case class Ctx(spark: SparkSession, cores: Int, seed: Long,
      seconds: Double, traced: Boolean, fixture: String, runDir: Path,
      reference: Map[String, Any], out: Out) {
    lazy val trace = new Trace(spark, cores)
  }

  def nowS: Double = System.nanoTime() / 1e9

  /** Order-insensitive content checksum: row count and the wrapping sum of
    * every row's xxhash64, computed by Spark over the full result.
    */
  def checksum(df: DataFrame): (Long, Long) = {
    val r = df.select(count(lit(1)),
      coalesce(sum(xxhash64(df.columns.map(c => col(s"`$c`")): _*)
        .cast("decimal(38,0)")) % lit(BigDecimal(2).pow(64)), lit(0)))
      .head()
    (r.getLong(0), r.getDecimal(1).longValue)
  }

  /** Order-insensitive checksum of already-collected rows: row count and
    * the wrapping sum of each row's SHA-256 prefix.
    */
  def rowsChecksum(rows: Array[org.apache.spark.sql.Row]): (Long, Long) = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val h = rows.iterator.map { r =>
      java.nio.ByteBuffer.wrap(md.digest(r.toString.getBytes(UTF_8))).getLong
    }.sum
    (rows.length.toLong, h)
  }

  private def asMap(v: Option[Any]): Map[String, Any] =
    v.collect { case m: Map[String, Any] @unchecked => m }.getOrElse(Map.empty)

  private def refMap(ctx: Ctx, key: String): Map[String, Any] =
    asMap(ctx.reference.get(key))

  /** Records `got` as observed and checks it against the reference entry
    * `key/name`; a missing reference entry fails the check.
    */
  private def checkRef(ctx: Ctx, key: String, name: String, got: Seq[Long]): Unit = {
    ctx.out.extra.getOrElseUpdate(s"observed_$key",
      mutable.LinkedHashMap.empty[String, Seq[Long]])
      .asInstanceOf[mutable.LinkedHashMap[String, Seq[Long]]](name) = got
    refMap(ctx, key).get(name) match {
      case Some(exp: Seq[_]) =>
        val e = exp.map(_.toString.toLong)
        ctx.out.check(s"$key.$name", e == got, s"expected $e got $got")
      case _ =>
        ctx.out.check(s"$key.$name", ok = false, s"no reference; got $got")
    }
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = nowS
    val r = body
    (r, nowS - t0)
  }

  // ------------------------------------------------------------------
  // dashboard: closed loop, one client, back-to-back index refreshes
  // ------------------------------------------------------------------
  private def sections(ctx: Ctx): Seq[(String, DataFrame)] = {
    val p = Dashboard.index(ctx.spark, ctx.fixture)
    p.productElementNames.zip(p.productIterator).collect {
      case (name, df: DataFrame) => name -> df
    }.toSeq
  }

  def dashboard(ctx: Ctx, setupDone: () => Unit): Unit = {
    val (spark, out) = (ctx.spark, ctx.out)
    def refresh(): Map[String, Long] =
      Dashboard.collectIndexConcurrently(spark, ctx.fixture)
    // warm-up refresh with content checks: the same concurrent collect of
    // every section as collectIndexConcurrently, keeping the rows so each
    // section's count and checksum can be compared with the reference
    out.op("dashboard.verify") {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = ExecutionContext.global
      val got = Await.result(Future.sequence(sections(ctx).map { case (n, df) =>
        Future(n -> rowsChecksum(df.collect()))
      }), Duration.Inf)
      got.foreach { case (n, (rows, h)) =>
        checkRef(ctx, "dashboard_sections", n, Seq(rows, h)) }
    }
    out.phase("verify")
    // the program's own refresh: its per-section row counts are the ones
    // every later refresh must repeat
    out.op("dashboard.warmup")(refresh()).foreach(_.foreach { case (k, n) =>
      checkRef(ctx, "dashboard_refresh", k, Seq(n))
    })
    val expected = refMap(ctx, "dashboard_refresh")
    /** One checked refresh; its wall time, or None if it failed. */
    def checkedRefresh(name: String): Option[Double] = {
      val t0 = nowS
      val got = out.op(name)(refresh())
      val s = nowS - t0
      got.flatMap { counts =>
        val bad = counts.filter { case (k, n) => !expected.get(k).exists {
          case e: Seq[_] => e.map(_.toString.toLong) == Seq(n)
          case _ => false
        } }
        if (bad.nonEmpty || counts.size != expected.size) {
          out.fail(name, new IllegalStateException(
            s"section row counts differ from the reference: $bad"))
          None
        } else Some(s)
      }
    }
    (1 until DashboardWarmupOps).foreach { _ =>
      checkedRefresh("dashboard.warmup").foreach(out.sample("warmup_op_s", _))
    }
    out.phase("warmup")
    setupDone()
    val deadline = nowS + ctx.seconds
    var i = 0
    while (nowS < deadline) {
      // traced runs trace every other refresh, starting with the second
      val on = ctx.traced && i % 2 == 1
      if (on) { ctx.trace.attach(); ctx.trace.begin() }
      val t0 = nowS
      val s = checkedRefresh("dashboard.refresh")
      if (on) {
        ctx.trace.end(nowS - t0).foreach { case (k, v) => out.sample(k, v) }
        ctx.trace.detach()
      }
      s.foreach(out.sample(if (on) "op_traced_s" else "op_s", _))
      i += 1
    }
    if (ctx.traced) {
      (1 to 5).foreach { _ =>
        out.sample("dashboard.build_s", timed(sections(ctx))._2)
      }
      sections(ctx).foreach { case (n, df) =>
        out.op(s"dashboard.section.$n") {
          out.sample(s"dashboard.section.${n}_s", timed(df.collect())._2)
        }
      }
      ingest(ctx)
    }
  }

  // ------------------------------------------------------------------
  // analytics: closed loop, one client, passes over a fixed query mix
  // ------------------------------------------------------------------
  def analytics(ctx: Ctx, setupDone: () => Unit): Unit = {
    val (spark, out) = (ctx.spark, ctx.out)
    val queries = SparkEntry.queries
    def run(q: String): Unit =
      queries(q)(spark, ctx.fixture).write.format("noop").mode("overwrite").save()
    // untimed check pass: each query's checksum against the reference
    AnalyticsMix.foreach { q =>
      out.op(s"analytics.check.$q") {
        val (n, h) = checksum(queries(q)(spark, ctx.fixture))
        checkRef(ctx, "analytics", q, Seq(n, h))
      }
    }
    out.phase("check_pass")
    val rnd = new scala.util.Random(ctx.seed)
    (1 to AnalyticsWarmupPasses).foreach { _ =>
      val t0 = nowS
      val ok = rnd.shuffle(AnalyticsMix).map(q =>
        out.op(s"analytics.warmup.$q")(run(q)).isDefined).forall(identity)
      if (ok) out.sample("warmup_op_s", nowS - t0)
    }
    out.phase("warmup")
    out.layers("scratch.artifact_mb") =
      dirBytes(Paths.get(graft.Scratch.root(ctx.spark))) / 1e6
    setupDone()
    val deadline = nowS + ctx.seconds
    var pass = 0
    while (pass == 0 || nowS < deadline) {
      var passS = 0.0
      var ok = true
      rnd.shuffle(AnalyticsMix).foreach { q =>
        // traced runs trace every other execution of each query, half the
        // mix on even passes and half on odd ones
        val on = ctx.traced && (pass + AnalyticsMix.indexOf(q)) % 2 == 0
        if (on) { ctx.trace.attach(); ctx.trace.begin() }
        val t0 = nowS
        val r = out.op(s"analytics.$q")(run(q))
        val s = nowS - t0
        passS += s
        ok &&= r.isDefined
        if (on) {
          val m = ctx.trace.end(s)
          ctx.trace.detach()
          m.foreach { case (k, v) => out.sample(s"$k@$q", v) }
          out.sample(s"analytics.${q}_s", s)
        } else out.sample(s"untraced.$q", s)
      }
      if (ok) out.sample("op_s", passS)
      pass += 1
    }
  }

  // ------------------------------------------------------------------
  // ingest segment (traced dashboard runs): open loop, seeded JSON event
  // files dropped at Poisson arrivals into Streams.ingest
  // ------------------------------------------------------------------
  val IngestRate = 8.0 // files per second
  val IngestRows = 2500 // rows per file
  val IngestPrimeFiles = 3
  val IngestWarmupS = 2.0

  type Event = (Long, Long, Long, String, Double, String)

  /** One file of JSON event lines; about 1 row in 6 violates the ingest
    * CHECK (null id, null ts or an unknown event type). Returns the text
    * and the valid rows as (event_id, ts_us, user_id, type, value, props).
    */
  def eventFile(seed: Long, file: Int): (String, Seq[Event]) = {
    val rnd = new scala.util.Random(seed * 1000003L + file)
    val sb = new StringBuilder
    val valid = mutable.ArrayBuffer.empty[Event]
    val baseUs = 1704067200000000L // 2024-01-01T00:00:00Z
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX").withZone(java.time.ZoneOffset.UTC)
    (0 until IngestRows).foreach { r =>
      val id = file.toLong * IngestRows + r
      val tsUs = baseUs + file * 1000000L + rnd.nextInt(1000000)
      val user = rnd.nextInt(15000).toLong
      val value = math.round(rnd.nextDouble() * 50000) / 100.0
      val props = s"""{"k": ${rnd.nextInt(100)}}"""
      val kind = rnd.nextInt(18)
      val tpe = if (kind == 0) "bogus" else Streams.ValidEventTypes(kind % 5)
      val ts = fmt.format(java.time.Instant.EPOCH.plus(tsUs, java.time.temporal.ChronoUnit.MICROS))
      val idJs = if (kind == 1) "null" else id.toString
      val tsJs = if (kind == 2) "null" else s""""$ts""""
      sb.append(s"""{"event_id":$idJs,"ts":$tsJs,"user_id":$user,""" +
        s""""event_type":"$tpe","value":$value,"props":${json.writeValueAsString(props)}}""")
        .append('\n')
      if (kind > 2) valid += ((id, tsUs, user, tpe, value, props))
    }
    (sb.toString, valid.toSeq)
  }

  /** Drops files for `ctx.seconds` after a prime and a warm-up window, then
    * drains the stream and checks the sink. Freshness is computed by
    * run.py from the drops, the progress events and the checkpoint.
    */
  def ingest(ctx: Ctx): Unit = {
    val (spark, out) = (ctx.spark, ctx.out)
    val base = ctx.runDir.resolve("stream")
    val (src, staging) = (base.resolve("src"), base.resolve("staging"))
    Files.createDirectories(src); Files.createDirectories(staging)
    val progress = mutable.ArrayBuffer.empty[String]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.synchronized { progress += e.progress.json }
    }
    spark.streams.addListener(listener)
    val q = Streams.ingest(spark, src.toString, base.resolve("sink").toString,
      base.resolve("ckpt").toString).start()
    val expected = mutable.ArrayBuffer.empty[Event]
    val drops = mutable.ArrayBuffer.empty[Map[String, Any]]
    def prepare(i: Int): Path = {
      val (text, valid) = eventFile(ctx.seed, i)
      expected ++= valid
      val f = staging.resolve(f"events-$i%05d.json")
      Files.write(f, text.getBytes(UTF_8))
      f
    }
    // prime: the first micro-batches pay codegen and JIT for seconds; feed
    // a few files one batch at a time so the open loop starts warm
    (0 until IngestPrimeFiles).foreach { i =>
      val file = prepare(i)
      out.op("ingest.prime") {
        Files.move(file, src.resolve(file.getFileName), StandardCopyOption.ATOMIC_MOVE)
        q.processAllAvailable()
      }
    }
    // independent producers: exponential gaps between drops, so files land
    // at every phase of the 1 s trigger rather than at a fixed few; every
    // file is written to staging before the first is due
    val gaps = new scala.util.Random(ctx.seed)
    val offsetsMs = Iterator.iterate(0.0)(_ - math.log(1 - gaps.nextDouble()) * 1000 / IngestRate)
      .takeWhile(_ < (IngestWarmupS + ctx.seconds) * 1000).toSeq
    val files = offsetsMs.indices.map(k => prepare(IngestPrimeFiles + k))
    val startMs = System.currentTimeMillis() + 500
    offsetsMs.zip(files).foreach { case (offset, file) =>
      val dueMs = startMs + offset.toLong
      val wait = dueMs - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      val name = file.getFileName.toString
      val ok = out.op("ingest.drop") {
        Files.move(file, src.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      }.isDefined
      drops += Map("file" -> name, "due_ms" -> dueMs,
        "actual_ms" -> System.currentTimeMillis(),
        "timed" -> (offset >= IngestWarmupS * 1000), "ok" -> ok)
    }
    out.op("ingest.drain") { q.processAllAvailable() }
    q.stop()
    q.exception.foreach(e => out.fail("ingest.query", e))
    spark.streams.removeListener(listener)
    out.extra("drops") = drops.toSeq
    out.extra("progress") = progress.toSeq
    out.extra("checkpoint") = base.resolve("ckpt").toString
    // the sink holds exactly the valid generated rows: count, checksum and
    // no duplicate ids
    out.op("ingest.sink_check") {
      import spark.implicits._
      val exp = expected.toSeq.toDF("event_id", "ts_us", "user_id",
        "event_type", "value", "props")
        .select(col("event_id"), timestamp_micros(col("ts_us")).as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
      val sink = spark.read.schema(Streams.eventSchema)
        .parquet(base.resolve("sink").toString)
      val (en, eh) = checksum(exp)
      val (gn, gh) = checksum(sink)
      val distinct = sink.select("event_id").distinct().count()
      out.check("ingest.sink", en == gn && eh == gh && distinct == gn,
        s"expected $en rows/$eh, sink $gn rows/$gh, $distinct distinct ids")
    }
  }

  // ------------------------------------------------------------------

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  private def status(field: String): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith(field + ":"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(0.0)

  /** The set-up layers, timed one by one in every run: Catalog's first
    * open of each fixture table (schema inference) and, for analytics, the
    * index prewarm of each module the mix reads, which builds the Scratch
    * artifacts the mix reads. A failed open or prewarm is a named, counted
    * failure.
    */
  private def setup(ctx: Ctx, workload: String): Unit = {
    val out = ctx.out
    val (_, openS) = timed {
      Catalog.tableNames.foreach { t =>
        out.op(s"catalog.open.$t")(Catalog.table(ctx.spark, ctx.fixture, t).schema)
      }
    }
    out.sample("catalog.open_s", openS)
    out.phase("catalog_open")
    if (workload == "analytics") {
      Prewarm.foreach { case (module, f) =>
        out.op(s"prewarm.$module") {
          out.sample(s"scratch.prewarm.${module}_s", timed(f(ctx.spark, ctx.fixture))._2)
        }
      }
      out.phase("prewarm")
    }
  }

  def main(args: Array[String]): Unit = args match {
    case Array(workload, seed, seconds, trace, fixture, runDir, outJson, rest @ _*) =>
      run(workload, seed.toLong, seconds.toDouble, trace == "1", fixture,
        Paths.get(runDir), Paths.get(outJson), rest.headOption)
    case _ =>
      System.err.println("usage: Harness <workload> <seed> <seconds> <trace> " +
        "<fixtureDir> <runDir> <outJson> [<referenceJson>]")
      sys.exit(2)
  }

  def run(workload: String, seed: Long, seconds: Double, traced: Boolean,
      fixture: String, runDir: Path, outJson: Path, refPath: Option[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val reference: Map[String, Any] = refPath.filter(p => Files.exists(Paths.get(p)))
      .map(p => json.readValue(new java.io.File(p), classOf[Map[String, Any]]))
      .getOrElse(Map.empty)
    val out = new Out
    out.phase("jvm")
    val spark = GraftSession.local(defaultCpus = cores)
    out.phase("session")
    val ctx = Ctx(spark, cores, seed, seconds, traced, fixture, runDir,
      asMap(reference.get(workload)), out)
    var setupS = Double.NaN
    // called as the first timed op starts
    val setupDone = () => setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    try {
      setup(ctx, workload)
      workload match {
        case "dashboard" => dashboard(ctx, setupDone)
        case "analytics" => analytics(ctx, setupDone)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      if (traced) out.layers("box.calibration_s") = Bench.calibrationProbe(spark)
    } catch { case NonFatal(e) => out.fail("run", e) }
    finally {
      out.phase("done")
      val result = Map(
        "workload" -> workload, "seed" -> seed, "traced" -> traced,
        "cores" -> cores, "setup_s" -> setupS,
        "peak_rss_mb" -> status("VmHWM") / 1024.0,
        "attempted" -> out.attempted, "failures" -> out.failures.toSeq,
        "checks" -> out.checks.toSeq, "phases" -> out.phases.toSeq,
        "samples" -> out.samples.map { case (k, v) => k -> v.toSeq }.toMap,
        "layers" -> out.layers.toMap, "extra" -> out.extra.toMap)
      Files.write(outJson, json.writeValueAsBytes(result))
      spark.stop()
    }
  }
}
