package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row

/** Structured Streaming surface (SURVEY.md §2.9): micro-batch ingest of the
  * metric stream honoring the reference's <1 s logging-latency claim
  * (report §4.4.1 via BASELINE.md), and streaming variants of the windowed
  * operators with explicit late-data semantics the reference never defined
  * (arrival order, silently dropping unmatched rows — we watermark instead).
  */
object Streams {

  /** The events/metric record schema (FIXTURES.md §1). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  val ValidEventTypes: Seq[String] = Seq("click", "view", "signup", "purchase", "error")

  /** The CHECK constraint as one expression — the single source of truth
    * for [[validate]] and [[validateWithQuarantine]].
    */
  private def validEvent =
    col("event_id").isNotNull && col("ts").isNotNull &&
      col("event_type").isin(ValidEventTypes.map(lit(_)): _*)

  /** Ingest validation — the CHECK constraint of the reference's
    * `user_roles` DDL (myapp/db_helpers.py:7-12) generalized to the write
    * path: rows violating the domain are dropped before the sink.
    */
  def validate(df: DataFrame): DataFrame = df.filter(validEvent)

  /** JSON timestamp rendering with full microsecond precision, applied on
    * BOTH the file-writer and the stream-reader side: Spark's default JSON
    * timestamp pattern carries only milliseconds, which would silently
    * truncate the event stream's µs components in flight.
    */
  val JsonTsFormat = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"

  /** File-source ingest: watch a directory of JSON lines, validate, append
    * to a parquet table with a 1-second micro-batch trigger (BASELINE.md
    * ingest-latency target).
    */
  def ingest(spark: SparkSession, srcDir: String, sinkDir: String,
      checkpointDir: String): DataStreamWriter[Row] = {
    val raw = spark.readStream
      .schema(eventSchema)
      .option("timestampFormat", JsonTsFormat)
      .json(srcDir)
    validate(raw).writeStream
      .format("parquet")
      .option("path", sinkDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime("1 second"))
      .outputMode("append")
  }

  /** §2.9's actual ingest path as a registered gate entry (round-4 verdict
    * item #7): the events fixture rendered as JSON lines (once per corpus,
    * into [[graft.Scratch]]), streamed through [[ingest]]'s 1 s-trigger
    * file-watch into a parquet sink, then read back batch-side — the
    * identity oracle proves the stream neither drops, duplicates, nor
    * mangles a row. Sink and checkpoint start fresh on every invocation so
    * the query is idempotent under bench repeats; `processAllAvailable`
    * blocks until the watcher has drained the source, then the query
    * stops.
    */
  def streamIngestRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val src = graft.Scratch.materialize(spark, "stream_src_json", "usec-v1",
      dir)(staging => graft.Catalog.events(spark, dir)
        .write.option("timestampFormat", JsonTsFormat).json(staging))
    val run = graft.Scratch.freshRunDir(spark, "stream_ingest_run", dir)
    val q = ingest(spark, src, s"$run/sink", s"$run/ckpt").start()
    try q.processAllAvailable() finally q.stop()
    spark.read.schema(eventSchema).parquet(s"$run/sink")
      .orderBy(col("event_id"))
  }

  /** Identity oracle: the validated event stream, straight off the table. */
  val streamIngestRoundtripSql: String = {
    val types = ValidEventTypes.map(t => s"'$t'").mkString(", ")
    s"""SELECT event_id, ts, user_id, event_type, value, props FROM events
       |WHERE event_id IS NOT NULL AND ts IS NOT NULL AND event_type IN ($types)
       |ORDER BY event_id""".stripMargin.replace('\n', ' ')
  }

  val all: Seq[graft.operators.Q] = Seq(
    graft.operators.Q("s17_stream_ingest", streamIngestRoundtrip,
      Some(streamIngestRoundtripSql),
      "end-to-end streaming ingest: JSON file-watch, 1 s trigger, parquet sink, identity-checked (SURVEY 2.9)"))

  /** Streaming UPSERT sink (the production serving-table pattern, the
    * streaming twin of S9's ON CONFLICT DO NOTHING): each micro-batch
    * dedupes within itself on the key and runs [[Lifecycle.upsert]]'s
    * anti-join append against the serving table via `foreachBatch`.
    * Because the upsert keeps only keys the table has never seen, a
    * REPLAYED batch (failure/restart re-delivery, Structured Streaming's
    * at-least-once foreachBatch contract) is a no-op — per-key
    * exactly-once lands in the TABLE even though delivery is
    * at-least-once. Per batch the cost is one anti-join against the
    * table's key projection + an append; at scale the table side prunes
    * to the key columns (and `upsertPartitioned` restricts it to touched
    * partitions).
    */
  def upsertSink(events: DataFrame, tablePath: String, keys: Seq[String],
      checkpointDir: String): DataStreamWriter[Row] = {
    implicit val spark: SparkSession = events.sparkSession
    events.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime("1 second"))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.lifecycle.Lifecycle.upsert(
          tablePath, batch.dropDuplicates(keys), keys)
      }
  }

  /** Streaming VERSIONED sink (the streaming half of s24's snapshot
    * story): every micro-batch commits as ONE table version instead of
    * mutating a serving table in place — consumers pin a version and
    * never observe a batch mid-publish, and time travel covers the
    * whole ingest history. Under foreachBatch's at-least-once
    * redelivery, [[graft.lifecycle.Versioned.appendOnce]] keyed by the
    * batchId makes version publication exactly-once: the batch token
    * rides inside the manifest, whose rename is the single atomic
    * commit point, so a replayed batch finds its token and no-ops.
    */
  def versionedSink(events: DataFrame, tablePath: String,
      checkpointDir: String): DataStreamWriter[Row] = {
    implicit val spark: SparkSession = events.sparkSession
    events.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime("1 second"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.lifecycle.Versioned.appendOnce(
          tablePath, batch, s"batch-$batchId")
        ()
      }
  }

  /** Streaming VECTOR SEARCH (the RAG serving path made a stream job):
    * a micro-batched query stream — (query_id, embedding) rows — probes
    * a STATIC maintained IVF list relation (n12's read view) and each
    * batch appends its per-query top-k to the result table. The scoring
    * core is [[graft.operators.Similarity.serveIvf]], the SAME code the
    * batch gate runs, and ranking is per query, so micro-batch
    * boundaries cannot change any query's answer — the batch/stream
    * equivalence StreamsSpec pins. foreachBatch rather than a stream-
    * static join operator because the top-k cut is a rank window, which
    * append-mode streaming cannot host; per batch the cost is exactly
    * one batch serve (broadcast probes × list equi-join).
    */
  def vectorSearchSink(queries: DataFrame, lists: DataFrame,
      outPath: String, checkpointDir: String): DataStreamWriter[Row] = {
    queries.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime("1 second"))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.operators.Similarity.serveIvf(batch, lists)
          .write.mode("append").parquet(outPath)
      }
  }

  /** Streaming CURATION INGEST sink — the ONLINE front door of the batch
    * curation pipeline, composing the batch rules per micro-batch so the
    * two paths cannot drift:
    *   1. quality floor: `length(text) >= Diff.MinIngestChars` (u2's
    *      ingest rule, same constant);
    *   2. content policy: x15's blocklist keep-verdict; survivors land
    *      with their SCRUBBED text (scrubbing transforms survivors —
    *      identity/dedup decisions key on the RAW content);
    *   3. novelty: prefix fingerprint (d1/u2's shared
    *      [[graft.operators.Dedup.prefixFingerprint]]) anti-joined
    *      against the standing corpus AND deduped within the batch
    *      (least doc_id wins, d12's keeper rule).
    * The serving table persists the fingerprint COLUMN, so per batch the
    * corpus contact is one column-pruned anti-join — the corpus is never
    * re-fingerprinted (b13/b8's delta discipline). Replays are no-ops
    * twice over: the replayed docs' fingerprints now exist in the table,
    * and the doc_id upsert guard catches anything else — per-key
    * exactly-once under foreachBatch's at-least-once delivery.
    */
  def curationIngestSink(docs: DataFrame, tablePath: String,
      checkpointDir: String): DataStreamWriter[Row] = {
    implicit val spark: SparkSession = docs.sparkSession
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime("1 second"))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        import graft.operators.{Dedup, Diff, TextOps}
        val scrub = TextOps.blocklistScrubOf(batch.select(col("doc_id"),
          col("text")), TextOps.BlockTerms)
        val graded = batch
          .join(scrub.select(col("doc_id"), col("scrubbed"), col("keep")),
            Seq("doc_id"))
          .filter(length(col("text")) >= Diff.MinIngestChars &&
            col("keep"))
          .withColumn("fp", Dedup.prefixFingerprint(col("text")))
        // within-batch dedup: least doc_id per fingerprint, THEN one row
        // per doc_id — a re-delivered source file landing twice in one
        // micro-batch makes the same (doc_id, fp) the keeper of both
        // copies, and the downstream upsert anti-join (which guards
        // against the TABLE, not within the batch) would land duplicate
        // keys in the serving table (upsertSink's dropDuplicates lesson)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("fp"))
        val survivors = graded
          .withColumn("keeper", min(col("doc_id")).over(w))
          .filter(col("doc_id") === col("keeper"))
          .select(col("doc_id"), col("scrubbed").as("text"),
            col("source"), col("fp"))
          .dropDuplicates("doc_id")
        // the registry pins the table's schema, so upsert's own read of it
        // runs no second inference; its same-schema append keeps the pin,
        // so the next batch infers nothing either
        val existingFps = scala.util.Try(
          graft.Catalog.read(spark, tablePath).select(col("fp")).distinct())
        existingFps match {
          case scala.util.Success(fps) =>
            graft.lifecycle.Lifecycle.upsert(tablePath,
              survivors.join(fps, Seq("fp"), "left_anti"), Seq("doc_id"))
          case scala.util.Failure(_) =>
            // first batch bootstraps the table — with an explicit Append,
            // not the default ErrorIfExists: a pre-existing empty/partial
            // table directory read-fails above (so we land here) but
            // would make the default-mode write throw and wedge the
            // stream on every retry of its first batch
            graft.lifecycle.Lifecycle.append(survivors, tablePath)
        }
      }
  }

  /** Streaming W2 — 5-minute decimation with a 10-minute watermark: the
    * latest event per tumbling window, emitted once the window closes.
    * Late rows beyond the watermark are dropped — the explicit version of
    * the reference's "late data is ignored" minute-join semantics
    * (SURVEY.md §2.9).
    */
  def streamingDecimate(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes").as("w"))
      .agg(
        max_by(
          struct(col("event_id"), col("event_type"), col("value")),
          struct(col("ts"), col("event_id"))).as("latest"),
        count(lit(1)).as("n_in_bucket"))
      .select(
        col("w.start").as("bucket"),
        col("latest.event_id").as("event_id"),
        col("latest.event_type").as("event_type"),
        col("latest.value").as("value"),
        col("n_in_bucket"))

  /** Streaming twin of the batch w6 hopping-window aggregate: 10-min
    * windows every 5 min under a watermark — each window's state is one
    * partial aggregate, dropped once the watermark passes its end, and
    * each event updates exactly size/hop = 2 window states. Append mode
    * emits a window once, when it can no longer change.
    */
  def streamingHoppingLoad(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .filter(col("event_type") === "purchase")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("w.start").as("win_start"), col("n_events"), col("sum_value"))

  /** Split a batch into (valid, quarantined) instead of silently dropping
    * CHECK violations — the pipeline-grade version of [[validate]]: at
    * 100 TB, silently-vanished rows are an incident, a quarantine table is
    * a dashboard. Both halves derive from one filter expression, so a
    * caller writing both sides scans the input once per sink.
    */
  def validateWithQuarantine(df: DataFrame): (DataFrame, DataFrame) =
    (df.filter(validEvent), df.filter(!coalesce(validEvent, lit(false))))

  /** Streaming exact dedup: drop rows whose key was already seen, with
    * state bounded by the watermark (the streaming twin of the batch d1
    * exact-dedup — a training-data ingest dedupes at the door, it doesn't
    * re-scan the corpus). `dropDuplicatesWithinWatermark` keeps one state
    * entry per key only until the watermark passes, so state is bounded by
    * the duplication horizon, not the stream's lifetime.
    */
  def streamingExactDedup(events: DataFrame, keys: Seq[String]): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark(keys)

  /** Streaming gauges (A1/A2-style always-on aggregates, complete mode). */
  def streamingGauges(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        approx_count_distinct(col("user_id")).as("approx_users"))

  /** Streaming a12 — the Count-Min frequency matrix maintained ONLINE
    * (complete mode): the identical [[graft.expressions.CountMinBuild]]
    * aggregate over the live stream, so the serving layer answers "how
    * often has THIS key occurred so far" from a single broadcastable row
    * at any moment. The matrix is a commutative monoid (element-wise
    * sums), so the streamed state after ANY micro-batch split equals the
    * batch build over the same rows — StreamsSpec asserts that equality,
    * the c2/o2 twin discipline applied to streaming state. State size is
    * the fixed depth×width matrix regardless of key cardinality — the
    * reason a streaming deployment carries the sketch and not an exact
    * per-key count table.
    */
  def streamingCms(events: DataFrame, width: Int,
      divisors: Seq[Long]): DataFrame =
    events
      .filter(col("user_id").isNotNull)
      .select(graft.operators.TextOps.hash60(
        col("user_id").cast("string")).as("h"))
      .agg(graft.expressions.SketchFunctions
        .cms_build(col("h"), width, divisors).as("cms"))

  /** Streaming a10 — the Misra-Gries heavy-hitters sketch maintained
    * ONLINE (complete mode): the identical
    * [[graft.expressions.HeavyHitters]] aggregate over the live stream,
    * so a "trending keys right now" panel reads ≤ k (key, est) pairs of
    * state at any moment regardless of key cardinality — the frequency
    * companion to [[streamingCms]]'s point lookups and a9's distincts.
    * Across micro-batches the state store merges each batch's partial
    * sketch via the subtract-merge (combine counts, subtract the
    * (k+1)-th largest, drop non-positives).
    *
    * Twin discipline, calibrated to the math (StreamHeavyHittersSpec):
    * unlike the CMS matrix, the MG STATE is not merge-order canonical —
    * only its GUARANTEE is merge-invariant (Agarwal et al. 2013,
    * mergeable summaries): after any micro-batch split, every key with
    * exact count > n/(k+1) is present, and every estimate sits in
    * [exact − n/(k+1), exact]. The spec pins that guarantee across
    * splits, pins that the subtract-merge genuinely fired (more
    * distinct keys than state slots forces drops), and pins EXACT
    * split-equality with the one-shot batch build in the ≤ k-distinct
    * regime where no decrement can ever fire and MG degenerates to
    * exact counts.
    */
  def streamingHeavyHitters(events: DataFrame, k: Int): DataFrame =
    events
      .filter(col("event_type").isNotNull)
      .agg(graft.expressions.SketchFunctions
        .heavy_hitters(col("event_type"), k).as("hh"))

  /** Streaming c14 — the categorical value-count state maintained ONLINE
    * (complete mode): grouped (v, c) counts over the live event-type
    * stream — dimension-sized state by c12's categorical assumption, and
    * count addition is a monoid so any micro-batch split equals the
    * batch counts (StreamEntropySpec asserts it). c14's entropy tail
    * ([[graft.operators.Profile]], the broadcast-total + bitlength
    * projection, factored as `entropyOfCounts`) reads the snapshot to
    * serve the live diversity profile — the drift read a curation
    * operator watches during a long ingest (a collapsing entropy means
    * the feed degenerated to one source/type). NULL types are counted
    * under a NULL key so the tail's n_null accounting survives streaming
    * unchanged.
    */
  def streamingValueCounts(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type").as("v"))
      .agg(count(lit(1)).as("c"))

  /** Streaming p14 — the log2-bucket latency histogram maintained ONLINE
    * (complete mode): [[graft.operators.Relational.hdrBucket]]'s exact
    * kernel over the live stream, grouped (type, bucket) counts as the
    * state — ≤ 64 counters per type regardless of volume, the
    * HdrHistogram serving shape for live latency percentiles. Counter
    * addition is a monoid, so any micro-batch split equals the batch
    * histogram (StreamCmsSpec's discipline, asserted in StreamHdrSpec);
    * the batch p14 tail (cumulative + φ-target cut) reads the snapshot
    * to serve quantiles at any moment.
    */
  def streamingHdrHistogram(events: DataFrame): DataFrame =
    events
      .filter(col("value") >= 0)
      .select(col("event_type"),
        graft.operators.Relational.hdrBucket(col("value")).as("bucket"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("c"))

  /** Stream-STATIC join: flag in-flight events against the per-type
    * Tukey fence relation ([[graft.operators.Relational.tukeyFences]],
    * computed batch-side from history — o1's exact rule, so batch
    * accounting and streaming flagging cannot disagree on what an
    * outlier is). The static side broadcasts; per-event work is one
    * stateless map-side comparison — no streaming state at all, which
    * is the right anomaly-tagging shape at ingest rates (re-fit the
    * fences batch-side on whatever cadence drift demands; a fence from
    * a type unseen in history leaves is_outlier NULL, surfacing the
    * novel type instead of silently passing it).
    */
  def streamingFenceFilter(events: DataFrame, fences: DataFrame): DataFrame =
    events.join(broadcast(fences), Seq("event_type"), "left_outer")
      .withColumn("is_outlier",
        col("value") < col("lo_bound") || col("value") > col("hi_bound"))

  /** Streaming J4 — the minute-bucket correlation join (reference
    * myapp/views.py:793-799) as a stream-stream inner join: errors and
    * purchases correlate when their minute buckets coincide. Both sides
    * carry a 10-minute watermark plus a bucket-equality + time-range
    * condition, so state for a minute bucket is dropped once the watermark
    * passes — the bounded-state version of the reference's "late data is
    * silently ignored" semantics (SURVEY.md §2.9).
    */
  def streamingMinuteJoin(errors: DataFrame, purchases: DataFrame): DataFrame = {
    // dedup each side per (minute, user) BEFORE the join: the batch twin
    // (J4) emits DISTINCT triples, and one-row-per-side makes the join
    // output distinct by construction. Exact vs the batch twin: any two
    // timestamps in the same minute differ < 60 s, so whichever
    // representative row survives dedup still satisfies the ±1-minute
    // range condition (which exists only to bound join state).
    val e = errors
      .withWatermark("ts", "10 minutes")
      .select(col("ts").as("err_ts"),
        date_trunc("minute", col("ts")).as("err_minute"),
        col("user_id").as("err_user"))
      .dropDuplicatesWithinWatermark(Seq("err_minute", "err_user"))
    val p = purchases
      .withWatermark("ts", "10 minutes")
      .select(col("ts").as("buy_ts"),
        date_trunc("minute", col("ts")).as("buy_minute"),
        col("user_id").as("buy_user"))
      .dropDuplicatesWithinWatermark(Seq("buy_minute", "buy_user"))
    e.join(p,
      col("err_minute") === col("buy_minute") &&
        col("buy_ts") >= col("err_ts") - expr("INTERVAL 1 MINUTE") &&
        col("buy_ts") <= col("err_ts") + expr("INTERVAL 1 MINUTE"))
      .select(col("err_minute").as("minute"), col("err_user"), col("buy_user"))
  }
}

/** Typed event record for stateful streaming operators. */
case class SessionEvent(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
    event_type: String, value: Double)

/** One closed user session: emitted when the inactivity gap elapses. */
case class UserSession(user_id: Long, session_start: java.sql.Timestamp,
    session_end: java.sql.Timestamp, n_events: Long, total_value: Double)

/** One open session within a user's state. */
case class SessionState(start: Long, end: Long, n: Long, total: Double)

/** The open sessions of one user, carried between micro-batches — a list
  * because late events inside the watermark can hold earlier sessions open
  * while newer ones accumulate.
  */
case class OpenSessions(open: List[SessionState])

object Sessionize {
  import org.apache.spark.sql.{Dataset, Encoders}
  import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

  /** Streaming sessionization: per-user sessions closed after `gapMs` of
    * event-time inactivity, via `flatMapGroupsWithState` with event-time
    * timeout (the custom-state path Structured Streaming reserves for
    * semantics windows can't express — builder prompt §streaming).
    *
    * State is the LIST of open sessions, not just the latest: a late event
    * inside the watermark may precede the newest session by more than the
    * gap (its own earlier session), fall inside an earlier gap (extending
    * a session backwards), or BRIDGE two open sessions into one — all
    * shapes the batch twin ([[graft.operators.Monitoring.sessionize]]),
    * which sorts globally, produces. A session is emitted exactly once,
    * when the watermark passes its end + gap (append mode).
    */
  def sessions(events: Dataset[SessionEvent], gapMs: Long): Dataset[UserSession] = {
    implicit val stateEnc = Encoders.product[OpenSessions]
    implicit val outEnc = Encoders.product[UserSession]
    import events.sparkSession.implicits._

    // merge one event into the open-session list: absorb every session
    // within the gap of t (bridging adjacent sessions when t falls in
    // between), else open a new one
    def absorb(open: List[SessionState], t: Long, v: Double): List[SessionState] = {
      val (near, far) = open.partition(s =>
        t >= s.start - gapMs && t <= s.end + gapMs)
      val merged = near.foldLeft(SessionState(t, t, 1, v)) { (acc, s) =>
        SessionState(math.min(acc.start, s.start), math.max(acc.end, s.end),
          acc.n + s.n, acc.total + s.total)
      }
      (merged :: far).sortBy(_.start)
    }

    def emit(userId: Long, s: SessionState): UserSession =
      UserSession(userId, new java.sql.Timestamp(s.start),
        new java.sql.Timestamp(s.end), s.n, s.total)

    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSessions, UserSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[SessionEvent],
            state: GroupState[OpenSessions]) =>
          val before = state.getOption.map(_.open).getOrElse(List.empty)
          val after = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            .foldLeft(before)((open, e) => absorb(open, e.ts.getTime, e.value))
          // close every session the watermark has passed (end + gap — no
          // in-watermark event can extend it any more); keep the rest open
          val wm = state.getCurrentWatermarkMs()
          val (done, open) = after.partition(_.end + gapMs <= wm)
          if (open.isEmpty) state.remove()
          else {
            state.update(OpenSessions(open))
            state.setTimeoutTimestamp(open.map(_.end).min + gapMs)
          }
          done.sortBy(_.start).map(emit(userId, _)).iterator
      }
  }
}

/** One funnel progression row: emitted once per user when the quiet
  * horizon elapses — the streaming twin of
  * [[graft.operators.Monitoring.funnel]]'s per-user output.
  */
case class FunnelResult(user_id: Long, signup_ts: Option[java.sql.Timestamp],
    click_ts: Option[java.sql.Timestamp],
    purchase_ts: Option[java.sql.Timestamp], reached_step: Long)

/** Per-user funnel state between micro-batches. The batch funnel's closed
  * form is t1 = min signup, t2 = min click > t1, t3 = min purchase > t2
  * — each a MINIMUM, so late data can only LOWER them, and a lowered t1
  * can newly QUALIFY a click the machine already saw (ditto t2 for
  * purchases). Exactness under lateness therefore needs candidate pools,
  * but bounded ones: a future signup carries ts ≥ watermark, so only
  * clicks with ts ≥ watermark can ever be re-qualified by it — older
  * buffered candidates prune every batch, and the current t2/t3 minima
  * fold in as scalar candidates (they stay valid under any lower t1/t2).
  * State is watermark-delay-bounded, never stream-lifetime-bounded (the
  * AsofState argument).
  */
case class FunnelState(t1: Option[Long], t2: Option[Long], t3: Option[Long],
    clicks: List[Long], purchases: List[Long], lastTs: Long)

object StreamingFunnel {
  import org.apache.spark.sql.{Dataset, Encoders}
  import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

  /** Streaming ordered funnel over [[SessionEvent]]s: per user, the first
    * signup, first click strictly after it, first purchase strictly after
    * that — w9's exact semantics maintained incrementally, emitted once
    * per user when `quietMs` of event-time inactivity elapses.
    */
  def funnel(events: Dataset[SessionEvent], quietMs: Long): Dataset[FunnelResult] = {
    implicit val stateEnc = Encoders.product[FunnelState]
    implicit val outEnc = Encoders.product[FunnelResult]
    import events.sparkSession.implicits._

    def minOpt(a: Option[Long], b: Option[Long]): Option[Long] =
      (a.toList ++ b.toList).minOption

    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelResult](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[SessionEvent],
            state: GroupState[FunnelState]) =>
          val st = state.getOption
            .getOrElse(FunnelState(None, None, None, Nil, Nil, Long.MinValue))
          val evs = batch.toSeq
          val wm = state.getCurrentWatermarkMs()

          val t1 = minOpt(st.t1,
            evs.filter(_.event_type == "signup").map(_.ts.getTime)
              .minOption)
          // candidate pools: buffered + this batch; the previous minima
          // ride along as scalars (valid under any lowered threshold)
          val clickPool = st.clicks ++ st.t2 ++
            evs.filter(_.event_type == "click").map(_.ts.getTime)
          val t2 = t1.flatMap(c1 => clickPool.filter(_ > c1).minOption)
          val purchasePool = st.purchases ++ st.t3 ++
            evs.filter(_.event_type == "purchase").map(_.ts.getTime)
          val t3 = t2.flatMap(c2 => purchasePool.filter(_ > c2).minOption)

          val lastTs = (st.lastTs +: evs.map(_.ts.getTime)).max
          if (state.hasTimedOut || (lastTs != Long.MinValue && lastTs + quietMs <= wm)) {
            state.remove()
            val ts = (o: Option[Long]) => o.map(new java.sql.Timestamp(_))
            Iterator.single(FunnelResult(userId, ts(t1), ts(t2), ts(t3),
              if (t3.isDefined) 3L else if (t2.isDefined) 2L
              else if (t1.isDefined) 1L else 0L))
          } else {
            // prune: only candidates a FUTURE (ts >= wm) signup/click
            // could re-qualify need buffering
            state.update(FunnelState(t1, t2, t3,
              clickPool.filter(_ >= wm).distinct,
              purchasePool.filter(_ >= wm).distinct, lastTs))
            state.setTimeoutTimestamp(lastTs + quietMs)
            Iterator.empty
          }
      }
  }
}

/** One as-of enrichment result: a left-side event with the latest
  * right-side event time at or before its own (None when no right event
  * precedes it) — the streaming twin of
  * [[graft.operators.Monitoring.asofJoinOn]].
  */
case class AsofMatch(user_id: Long, event_id: Long, ts: java.sql.Timestamp,
    err_ts: Option[java.sql.Timestamp])

/** One buffered left-side event awaiting finalization. */
case class AsofLeft(event_id: Long, ts: Long)

/** Per-user as-of state between micro-batches. Right-side history at or
  * below the watermark collapses into ONE scalar (`maxSettled`,
  * Long.MinValue = none): a future left event's ts is ≥ the watermark,
  * so of the settled errors only the max can ever be its match. Only
  * events still above the watermark stay buffered — state is bounded by
  * the watermark delay, never by stream lifetime.
  */
case class AsofState(maxSettled: Long, errs: List[Long], lefts: List[AsofLeft])

object AsofEnrich {
  import org.apache.spark.sql.{Dataset, Encoders}
  import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

  /** Streaming point-in-time enrichment: each `leftType` event is emitted
    * exactly once — when the watermark passes its timestamp — carrying
    * the max `rightType` event time at or before it (ties inclusive,
    * like the batch twin and DuckDB's `ON l.ts >= r.ts` ASOF). Both
    * sides buffer until the watermark because either may arrive out of
    * order: a left event finalizes only once no in-watermark right event
    * below its ts can still arrive (ts < watermark, strict — a right
    * event AT the watermark is still admissible and could tie-match).
    */
  def enrich(events: Dataset[SessionEvent], leftType: String,
      rightType: String, watermarkDelay: String = "10 minutes"): Dataset[AsofMatch] = {
    implicit val stateEnc = Encoders.product[AsofState]
    implicit val outEnc = Encoders.product[AsofMatch]
    import events.sparkSession.implicits._

    events
      .filter(e => e.event_type == leftType || e.event_type == rightType)
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AsofState, AsofMatch](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[SessionEvent],
            state: GroupState[AsofState]) =>
          val st = state.getOption.getOrElse(
            AsofState(Long.MinValue, Nil, Nil))
          val evs = batch.toSeq
          val errs = st.errs ++ evs.filter(_.event_type == rightType)
            .map(_.ts.getTime)
          val lefts = st.lefts ++ evs.filter(_.event_type == leftType)
            .map(e => AsofLeft(e.event_id, e.ts.getTime))
          val wm = state.getCurrentWatermarkMs()
          // finalize every left the watermark has passed: its match set
          // (settled scalar + every buffered error ≤ its ts) is complete
          val (done, waiting) = lefts.partition(_.ts < wm)
          val out = done.sortBy(l => (l.ts, l.event_id)).map { l =>
            val m = (st.maxSettled :: errs.filter(_ <= l.ts)).max
            AsofMatch(userId, l.event_id, new java.sql.Timestamp(l.ts),
              if (m == Long.MinValue) None
              else Some(new java.sql.Timestamp(m)))
          }
          // collapse settled errors; keep only above-watermark ones
          val (settled, live) = errs.partition(_ < wm)
          val maxSettled = (st.maxSettled :: settled).max
          if (waiting.isEmpty && live.isEmpty && maxSettled == Long.MinValue)
            state.remove()
          else {
            // the settled scalar is retained indefinitely — it is the
            // match for any future left event of this user (the same
            // per-key dimension state a stream-table join keeps); only
            // buffered lefts need a wake-up, so only they set a timeout
            state.update(AsofState(maxSettled, live, waiting))
            if (waiting.nonEmpty)
              state.setTimeoutTimestamp(waiting.map(_.ts).min + 1)
          }
          out.iterator
      }
  }
}

/** One completed above-threshold streak: emitted exactly once, when a
  * settled below-threshold reading breaks the run — the streaming twin of
  * [[graft.operators.Monitoring.streaksOf]]'s islands (w11), the
  * consecutive-anomaly ALERT as it happens rather than in the nightly
  * rollup.
  */
case class Streak(user_id: Long, streak_start: java.sql.Timestamp,
    streak_end: java.sql.Timestamp, len: Long)

/** One reading awaiting settlement (still at/above the watermark). */
case class Reading(event_id: Long, ts: Long, high: Boolean)

/** Per-user streak state between micro-batches. A streak is defined on
  * the TIMELINE (consecutive readings with nothing low between them), so
  * a late reading re-orders the run structure — but only above the
  * watermark, where readings are still buffered and re-sorted on
  * settlement; a late LOW reading therefore splits a would-be run
  * exactly as the batch islands do. Settled history collapses to the
  * open run's three scalars (len 0 = none): below the watermark nothing
  * can change any more. State is watermark-delay-bounded.
  */
case class StreakRuns(openStart: Long, openEnd: Long, openLen: Long,
    pending: List[Reading])

object StreamingStreaks {
  import org.apache.spark.sql.{Dataset, Encoders}
  import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

  /** Streaming above-threshold streak detection over [[SessionEvent]]s:
    * w11's islands maintained incrementally. Readings settle strictly
    * below the watermark (a reading AT the watermark could still gain a
    * same-ts, lower-event_id sibling); each settles once, in
    * (ts, event_id) order, into the open-run machine. An open run with
    * no subsequent low reading stays open — three longs of state, the
    * correct behavior for an alerting stream (the anomaly is ongoing).
    */
  def streaks(events: Dataset[SessionEvent], threshold: Double): Dataset[Streak] = {
    implicit val stateEnc = Encoders.product[StreakRuns]
    implicit val outEnc = Encoders.product[Streak]
    import events.sparkSession.implicits._

    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[StreakRuns, Streak](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[SessionEvent],
            state: GroupState[StreakRuns]) =>
          val st = state.getOption.getOrElse(StreakRuns(0L, 0L, 0L, Nil))
          val wm = state.getCurrentWatermarkMs()
          val all = st.pending ++ batch.map(e =>
            Reading(e.event_id, e.ts.getTime, e.value > threshold))
          val (settled, pending) = all.partition(_.ts < wm)
          var start = st.openStart
          var end = st.openEnd
          var len = st.openLen
          val out = List.newBuilder[Streak]
          settled.sortBy(r => (r.ts, r.event_id)).foreach { r =>
            if (r.high) {
              if (len == 0L) { start = r.ts; end = r.ts; len = 1L }
              else { end = r.ts; len += 1L }
            } else if (len > 0L) {
              out += Streak(userId, new java.sql.Timestamp(start),
                new java.sql.Timestamp(end), len)
              len = 0L
            }
          }
          if (len == 0L && pending.isEmpty) state.remove()
          else {
            state.update(StreakRuns(start, end, len, pending))
            // buffered readings need a wake-up once the watermark passes
            // them (a batch with only other users' data must still settle
            // ours); an open run with nothing buffered needs none — only
            // new data can change it
            if (pending.nonEmpty)
              state.setTimeoutTimestamp(pending.map(_.ts).min + 1)
          }
          out.result().iterator
      }
  }
}

/** One finalized (type, day) count entering the online detector —
  * upstream owns day closure (the w2/decimation watermark discipline),
  * this operator consumes settled counts.
  */
case class DailyCount(event_type: String, day_ms: Long, x: Long)

/** Per-day detector emission: the alarm statistics as of this day. */
case class CusumPoint(event_type: String, day_ms: Long, cusum_up: Long,
    cusum_down: Long)

/** Per-type detector state: the prefix sum and its historical extrema
  * (the empty prefix participates, so minP ≤ 0 ≤ maxP always — o6's
  * window-algebra invariant carried as two longs), plus the last settled
  * day for at-least-once redelivery safety. Constant-size state per key.
  */
case class CusumAccum(p: Long, minP: Long, maxP: Long, lastDayMs: Long)

object StreamingCusum {
  import org.apache.spark.sql.{Dataset, Encoders}
  import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

  /** The ONLINE half of o6: the registered batch query is retrospective
    * (its mean comes from the whole series); a monitor needs the alarm
    * statistic as each day closes, against a FIXED baseline rate from
    * history. `baselines` maps type → μ as the exact rational num/den
    * (events per day), so the deviation d = den·x − num is an exact
    * integer and the emitted statistics are in units of 1/den events —
    * the o6 determinism discipline kept online. Here the sequential
    * recurrence is the NATURAL form (four longs of state per key);
    * o6's window algebra is the same machine unrolled, and the twin
    * spec pins the two equal when μ is the series mean. Days must
    * settle in order per type (upstream's watermark closes them so);
    * redelivered days at or before the settled frontier are no-ops.
    */
  def detect(counts: Dataset[DailyCount],
      baselines: Map[String, (Long, Long)]): Dataset[CusumPoint] = {
    implicit val stateEnc = Encoders.product[CusumAccum]
    implicit val outEnc = Encoders.product[CusumPoint]
    import counts.sparkSession.implicits._
    counts.groupByKey(_.event_type)
      .flatMapGroupsWithState[CusumAccum, CusumPoint](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (k: String, batch: Iterator[DailyCount],
            state: GroupState[CusumAccum]) =>
          val (num, den) = baselines.getOrElse(k, (0L, 1L))
          var st = state.getOption.getOrElse(CusumAccum(0L, 0L, 0L, Long.MinValue))
          val out = batch.toSeq.sortBy(_.day_ms)
            .filter(_.day_ms > st.lastDayMs)
            .map { r =>
              val p = st.p + (den * r.x - num)
              // extrema are of PRIOR prefixes (o6's preceding-only
              // window), so read before folding p in
              val up = p - math.min(0L, st.minP)
              val down = math.max(0L, st.maxP) - p
              st = CusumAccum(p, math.min(st.minP, p),
                math.max(st.maxP, p), r.day_ms)
              CusumPoint(k, r.day_ms, up, down)
            }
          state.update(st)
          out.iterator
      }
  }
}

/** One settled hour of traffic: total events and error events. */
case class HourCount(hour_num: Long, n_events: Long, n_errors: Long)

/** Per-hour burn verdict: the w13 alert row as the hour settles. */
case class BurnPoint(hour_num: Long, n_events: Long, n_errors: Long,
    n_events_6h: Long, n_errors_6h: Long, burn_alert: Boolean)

/** Detector state: the trailing window of settled hours (pruned to the
  * lookback) + the settled frontier. Bounded by the window length, not
  * stream lifetime.
  */
case class BurnState(ring: List[HourCount], lastHour: Long)

object StreamingBurnRate {
  import org.apache.spark.sql.{Dataset, Encoders}
  import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

  val LookbackHours = 6L

  /** The ONLINE half of w13: each hour's page/no-page verdict emits as
    * the hour SETTLES (counts arrive pre-aggregated and in order, the
    * StreamingCusum contract — upstream's watermarked hourly window
    * closes them so), judged against the trailing [[LookbackHours]]
    * window by the same integer cross-multiplication as the batch
    * query. The RANGE semantics carry over: the ring prunes by HOUR
    * NUMBER, so a gap in the series ages old hours out exactly as the
    * batch range frame excludes them — never by list position.
    * Redelivered hours at or before the frontier are no-ops. State is
    * the ≤ 6-entry ring however long the stream runs.
    */
  def detect(counts: Dataset[HourCount]): Dataset[BurnPoint] = {
    implicit val stateEnc = Encoders.product[BurnState]
    implicit val outEnc = Encoders.product[BurnPoint]
    import counts.sparkSession.implicits._
    counts.groupByKey(_ => "global")
      .flatMapGroupsWithState[BurnState, BurnPoint](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, batch: Iterator[HourCount],
            state: GroupState[BurnState]) =>
          var st = state.getOption.getOrElse(BurnState(Nil, Long.MinValue))
          val out = batch.toSeq.sortBy(_.hour_num)
            .filter(_.hour_num > st.lastHour)
            .map { h =>
              val ring = (h :: st.ring)
                .filter(_.hour_num > h.hour_num - LookbackHours)
              val tot6 = ring.map(_.n_events).sum
              val err6 = ring.map(_.n_errors).sum
              st = BurnState(ring, h.hour_num)
              BurnPoint(h.hour_num, h.n_events, h.n_errors, tot6, err6,
                h.n_errors * tot6 > 2L * err6 * h.n_events)
            }
          state.update(st)
          out.iterator
      }
  }
}

/** One settled (type, hour) of the metric stream entering the online
  * gap-fill: upstream owns hour closure (the w2/decimation watermark
  * discipline — a watermarked hourly window agg emits each (type, hour)
  * once, in order), this operator consumes settled counts. `last_val` is
  * the bucket's latest reading by (ts, event_id), None when every
  * reading in the bucket was NULL.
  */
case class TypedHourCount(event_type: String, hour_num: Long,
    n_events: Long, last_val: Option[Double])

/** One densified grid row: the streaming twin of one batch w8 output row. */
case class GapFillRow(event_type: String, hour_num: Long, n_events: Long,
    value_filled: Option[Double])

/** Gap-fill state: the global grid bounds emitted so far plus each known
  * type's carried value. `lo` = the grid's first settled hour (the batch
  * twin's global min bucket), `frontier` = the last hour emitted; `types`
  * lists every type ever seen, `vals` carries each type's last NON-NULL
  * observed value (absent = nothing observed yet → NULL fill). State is
  * types-bounded — the same argument that makes the batch grid small —
  * and never event-bounded.
  */
case class GapFillGridState(lo: Long, frontier: Long, types: List[String],
    vals: Map[String, Double])

object StreamingGapFill {
  import org.apache.spark.sql.{Dataset, Encoders}
  import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

  /** The ONLINE half of w8/w20 (round-13 verdict item #7): the live
    * chart densification — every (type, hour) of the shared global grid
    * emits exactly once as the hour settles, silent hours carrying the
    * type's last observed value forward (LOCF) and hours before a type's
    * first observation reading NULL. Because the grid is GLOBAL (the
    * batch twin spans every type over the one [lo, hi] range), the
    * operator keys all types into one state cell: per settled hour it
    * emits one row per known type, and a type first seen at hour b
    * retro-emits its NULL prefix over [lo, b) — exactly the batch twin's
    * "starts mid-grid" rows, legal in append mode because no (type,
    * hour) row for a new type can have been emitted before. Hours with
    * no counts at all still emit (every type carried) — the loop walks
    * the hour RANGE, not the arrival set. Redelivered hours at or below
    * the frontier are no-ops (the CusumAccum at-least-once discipline).
    */
  def fill(counts: Dataset[TypedHourCount]): Dataset[GapFillRow] = {
    implicit val stateEnc = Encoders.product[GapFillGridState]
    implicit val outEnc = Encoders.product[GapFillRow]
    import counts.sparkSession.implicits._
    counts.groupByKey(_ => "global")
      .flatMapGroupsWithState[GapFillGridState, GapFillRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, batch: Iterator[TypedHourCount],
            state: GroupState[GapFillGridState]) =>
          val st = state.getOption.getOrElse(
            GapFillGridState(Long.MinValue, Long.MinValue, Nil, Map.empty))
          val rows = batch.toSeq.filter(_.hour_num > st.frontier)
          if (rows.isEmpty) Iterator.empty
          else {
            val out = List.newBuilder[GapFillRow]
            var types = st.types
            var vals = st.vals
            val lo =
              if (st.lo == Long.MinValue) rows.map(_.hour_num).min else st.lo
            var frontier =
              if (st.frontier == Long.MinValue) lo - 1 else st.frontier
            // discovery retro-emission: a type first seen now gets its
            // NULL prefix over the already-emitted grid
            rows.map(_.event_type).distinct.filterNot(types.contains)
              .foreach { t =>
                (lo to frontier).foreach { b =>
                  out += GapFillRow(t, b, 0L, None)
                }
                types = types :+ t
              }
            val byBucket = rows.groupBy(_.hour_num)
            val hi = rows.map(_.hour_num).max
            (frontier + 1 to hi).foreach { b =>
              val inBucket = byBucket.getOrElse(b, Seq.empty)
                .map(r => r.event_type -> r).toMap
              types.foreach { t =>
                inBucket.get(t) match {
                  case Some(r) =>
                    // a bucket whose readings were all NULL observes the
                    // hour but carries the PREVIOUS value (the batch
                    // LOCF's ignoreNulls)
                    r.last_val.foreach(v => vals = vals + (t -> v))
                    out += GapFillRow(t, b, r.n_events, vals.get(t))
                  case None =>
                    out += GapFillRow(t, b, 0L, vals.get(t))
                }
              }
              frontier = b
            }
            state.update(GapFillGridState(lo, frontier, types, vals))
            out.result().iterator
          }
      }
  }
}

/** One SETTLED holding interval of a gauge: `v_micro` (micro-unit
  * reading) held for `dur_us` microseconds from `start` — the streaming
  * unit of w12's time-weighted integral. Summing v_micro·dur_us over any
  * span reproduces the batch twin's numerator exactly.
  */
case class GaugeHold(event_type: String, start: java.sql.Timestamp,
    v_micro: Long, dur_us: Long)

/** One reading awaiting settlement ordering. */
case class GaugeReading(event_id: Long, ts_us: Long, v_micro: Long)

/** Per-type gauge state: the newest settled reading = the OPEN
  * interval's left edge (meaningful iff `hasOpen`), plus readings still
  * at/above the watermark. Settled history needs nothing else — every
  * older interval has already been emitted — so state is
  * watermark-delay-bounded (the w5/w11 discipline).
  */
case class GaugeState(hasOpen: Boolean, openTsUs: Long, openVMicro: Long,
    pending: List[GaugeReading])

object StreamingGauge {
  import org.apache.spark.sql.{Dataset, Encoders}
  import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

  /** Full-precision µs instant of a Timestamp (getTime alone truncates
    * to ms — the a11 sub-second lesson applied to streaming state).
    */
  def tsUs(t: java.sql.Timestamp): Long =
    (t.getTime / 1000) * 1000000L + t.getNanos / 1000L

  private def usTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(us / 1000)
    t.setNanos((us % 1000000L).toInt * 1000)
    t
  }

  /** The ONLINE half of w12: each holding interval emits exactly once,
    * when its RIGHT edge settles below the watermark — at that point no
    * admissible late reading can land inside the interval (every future
    * arrival has ts ≥ watermark > right edge; the as-of settlement
    * argument). A late reading above the watermark re-orders freely:
    * readings buffer until settled, then close intervals in (ts,
    * event_id) order — ties hold zero microseconds, exactly like the
    * batch window. Readings quantize to micro-units HERE, so the
    * emitted integral is integer-exact and batch-reconcilable.
    */
  def holds(events: Dataset[SessionEvent],
      watermarkDelay: String = "10 minutes"): Dataset[GaugeHold] = {
    implicit val stateEnc = Encoders.product[GaugeState]
    implicit val outEnc = Encoders.product[GaugeHold]
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[GaugeState, GaugeHold](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (k: String, batch: Iterator[SessionEvent],
            state: GroupState[GaugeState]) =>
          val st = state.getOption.getOrElse(GaugeState(false, 0L, 0L, Nil))
          val incoming = batch.map(e =>
            GaugeReading(e.event_id, tsUs(e.ts),
              math.round(e.value * 1e6))).toList
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val all = (st.pending ++ incoming)
            .sortBy(r => (r.ts_us, r.event_id))
          val (settled, pending) = all.partition(_.ts_us < wmUs)
          var open: Option[(Long, Long)] =
            if (st.hasOpen) Some((st.openTsUs, st.openVMicro)) else None
          val out = settled.map { r =>
            val hold = open.map { case (ots, ov) =>
              GaugeHold(k, usTs(ots), ov, r.ts_us - ots)
            }
            open = Some((r.ts_us, r.v_micro))
            hold
          }.flatten
          if (open.isEmpty && pending.isEmpty) state.remove()
          else {
            state.update(GaugeState(open.isDefined,
              open.map(_._1).getOrElse(0L), open.map(_._2).getOrElse(0L),
              pending))
            // only buffered readings need a wake-up; the open edge waits
            // for its successor, not for time
            if (pending.nonEmpty)
              state.setTimeoutTimestamp(pending.map(_.ts_us).min / 1000 + 1)
          }
          out.iterator
      }
  }
}

/** S5 — CSV export sink (reference template JS CSV builders,
  * index.html:338-371 et al. — server-side here).
  */
object Sinks {
  def csvExport(df: DataFrame, path: String): Unit =
    df.coalesce(1).write
      .option("header", "true")
      .mode("overwrite")
      .csv(path)

  /** JSON-lines export (the other interchange format a downstream tool
    * asks for): Jackson prints doubles in shortest-round-trip form, so a
    * JSON export re-reads bit-identically — which s25's oracle (the
    * identity SELECT over the ORIGINAL table) verifies end to end.
    */
  def jsonExport(df: DataFrame, path: String): Unit =
    df.coalesce(1).write
      .mode("overwrite")
      .json(path)

  /** ORC export (the columnar archival/interchange format alongside
    * parquet): binary column encoding, so doubles/timestamps round-trip
    * bit-exactly by construction — which s26's oracle (the identity
    * SELECT over the ORIGINAL table) verifies end to end. Unlike the
    * text sinks this one keeps the NATURAL partitioning (no coalesce):
    * an archival export at 100 TB is written by every task in parallel,
    * and the row-order independence of the re-read is part of what the
    * round-trip gate proves.
    *
    * CAVEAT (spec-pinned, LifecycleSpec): ORC's (seconds, positive-nanos)
    * timestamp encoding shifts PRE-EPOCH sub-second instants +1 s through
    * a Spark write/read cycle. Fine for event/log data (post-epoch by
    * nature); a corpus carrying historical timestamps below 1970 should
    * export those columns via parquet/JSON instead.
    */
  def orcExport(df: DataFrame, path: String): Unit =
    df.write
      .mode("overwrite")
      .orc(path)
}
