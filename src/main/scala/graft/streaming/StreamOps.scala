package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** A typed event row for the stateful (keyed-state) operators. */
case class UserEvent(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

/** Keyed running state — the Spark analog of the reference's stateful
  * bolt instance (per-key state owned by the task the key hash-routes to).
  */
case class UserCounter(user_id: Long, n_events: Long, total_value: Double)

/** Last-N events per user, emitted by [[StreamOps.recentEvents]]. */
case class RecentEvents(user_id: Long, event_ids: Seq[Long])

/** StatefulProcessor keeping a bounded ListState of the most recent N
  * event ids per user — demonstrates Spark-4 state *variables* beyond a
  * single value (each variable is its own column family in RocksDB).
  */
class RecentEventsProcessor(maxN: Int)
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, UserEvent, RecentEvents] {
  import org.apache.spark.sql.streaming.{ListState, TimerValues}
  import org.apache.spark.sql.{Encoder, Encoders}

  // state carries (tsMs, event_id), not bare ids: "most recent N" is an
  // EVENT-TIME property, and a late event appended in arrival order
  // would otherwise be recorded as newest and evict genuinely newer ids
  @transient private var recent: ListState[(Long, Long)] = _

  override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
    implicit val enc: Encoder[(Long, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    recent = getHandle.getListState[(Long, Long)]("recent", enc,
      org.apache.spark.sql.streaming.TTLConfig.NONE)
  }

  override def handleInputRows(key: Long, rows: Iterator[UserEvent],
      timerValues: TimerValues): Iterator[RecentEvents] = {
    val incoming = rows.map(e => (e.ts.getTime, e.event_id)).toSeq
    val merged = (recent.get().toSeq ++ incoming).sorted.takeRight(maxN)
    recent.clear()
    recent.appendList(merged.toArray)
    Iterator.single(RecentEvents(key, merged.map(_._2)))
  }
}

/** Per-user per-event-type counts from [[StreamOps.typeCounts]]. */
case class TypeCount(user_id: Long, event_type: String, n: Long)

/** StatefulProcessor holding a MapState[event_type -> count] per user —
  * completes the Spark-4 state-variable trio (Value/List/Map), each its
  * own RocksDB column family.
  */
class TypeCountProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, UserEvent, TypeCount] {
  import org.apache.spark.sql.streaming.{MapState, TimerValues}
  import org.apache.spark.sql.{Encoder, Encoders}

  @transient private var counts: MapState[String, Long] = _

  override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
    implicit val kEnc: Encoder[String] = Encoders.STRING
    implicit val vEnc: Encoder[Long] = Encoders.scalaLong
    counts = getHandle.getMapState[String, Long]("counts", kEnc, vEnc,
      org.apache.spark.sql.streaming.TTLConfig.NONE)
  }

  override def handleInputRows(key: Long, rows: Iterator[UserEvent],
      timerValues: TimerValues): Iterator[TypeCount] = {
    val touched = scala.collection.mutable.Set.empty[String]
    rows.foreach { e =>
      val prev = if (counts.containsKey(e.event_type)) counts.getValue(e.event_type) else 0L
      counts.updateValue(e.event_type, prev + 1)
      touched += e.event_type
    }
    touched.iterator.map(t => TypeCount(key, t, counts.getValue(t)))
  }
}

/** Idle-user alert emitted by [[StreamOps.idleAlerts]]. */
case class IdleAlert(user_id: Long, last_seen: Timestamp, n_events: Long)

/** StatefulProcessor using event-time TIMERS: when a user's watermark
  * timer fires without new events, emit an idle alert and clear state —
  * the transformWithState spelling of "alert when a key goes quiet"
  * (completes the feature matrix: value/list/map state + timers).
  */
class IdleAlertProcessor(idleMs: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, UserEvent, IdleAlert] {
  import org.apache.spark.sql.streaming.{TimerValues, ValueState}
  import org.apache.spark.sql.{Encoder, Encoders}

  @transient private var seen: ValueState[(Long, Long)] = _ // (lastSeenMs, n)

  override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
    implicit val enc: Encoder[(Long, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    seen = getHandle.getValueState[(Long, Long)]("seen", enc,
      org.apache.spark.sql.streaming.TTLConfig.NONE)
  }

  override def handleInputRows(key: Long, rows: Iterator[UserEvent],
      timerValues: TimerValues): Iterator[IdleAlert] = {
    val prev = Option(seen.get()).getOrElse((0L, 0L))
    var last = prev._1
    var n = prev._2
    rows.foreach { e => last = math.max(last, e.ts.getTime); n += 1 }
    seen.update((last, n))
    // re-arm: fire when the watermark passes last-seen + idle gap
    getHandle.listTimers().foreach(t => getHandle.deleteTimer(t))
    getHandle.registerTimer(last + idleMs)
    Iterator.empty
  }

  override def handleExpiredTimer(key: Long, timerValues: TimerValues,
      expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[IdleAlert] = {
    val (last, n) = seen.get()
    seen.clear()
    Iterator.single(IdleAlert(key, new Timestamp(last), n))
  }
}

/** Open-session buffer for [[StreamOps.sessionize]]. */
case class OpenSession(startMs: Long, lastMs: Long, n: Long)

/** Keyed state for [[StreamOps.sessionize]]: EVERY session not yet past
  * the watermark, open or closed — emission is gated on the watermark
  * (not on "a later event arrived"), because until the watermark passes a
  * session's end a still-legal out-of-order event may extend it or BRIDGE
  * it with a neighbor. Sessions are pairwise more than a gap apart.
  */
case class SessionList(sessions: Seq[OpenSession])

/** A completed session emitted by [[StreamOps.sessionize]] — same shape
  * as the built-in session_window aggregation (end = last event + gap).
  */
case class SessionOut(user_id: Long, session_start: Timestamp,
    session_end: Timestamp, n_events: Long)

/** StatefulProcessor for [[StreamOps.runningCountersTws]]: one ValueState
  * per user, updated per micro-batch (Spark 4 transformWithState API).
  */
class RunningCounterProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, UserEvent, UserCounter] {
  import org.apache.spark.sql.streaming.{TimerValues, ValueState}
  import org.apache.spark.sql.{Encoder, Encoders}

  @transient private var state: ValueState[UserCounter] = _

  override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
    implicit val enc: Encoder[UserCounter] = Encoders.product[UserCounter]
    state = getHandle.getValueState[UserCounter]("counter", enc,
      org.apache.spark.sql.streaming.TTLConfig.NONE)
  }

  override def handleInputRows(key: Long, rows: Iterator[UserEvent],
      timerValues: TimerValues): Iterator[UserCounter] = {
    val prev = Option(state.get()).getOrElse(UserCounter(key, 0L, 0.0))
    var n = prev.n_events
    var tot = prev.total_value
    rows.foreach { e => n += 1; tot += e.value }
    val next = UserCounter(key, n, tot)
    state.update(next)
    Iterator.single(next)
  }
}

/** Streaming surface (SURVEY §2B B47–B55), built on Structured Streaming.
  *
  * Design: every windowed aggregation is defined ONCE as a
  * DataFrame=>DataFrame transform and reused verbatim by the batch twins
  * in [[graft.queries.EventOps]] (DuckDB-oracled) and by streaming queries
  * over `readStream`/MemoryStream (asserted equal in StreamingSpec) —
  * the two-hop verification story for operators DuckDB cannot see.
  *
  * Scale posture: state is partitioned by grouping key across the state
  * store (RocksDB-backed on a real cluster); watermarks bound state size;
  * nothing here collects to the driver.
  */
object StreamOps {

  /** Raw parquet schema of `events` (ts = BIGINT ns). */
  val eventsRawSchema: StructType = graft.io.Tables.eventsRawSchema

  /** B4: streaming file source over the events fixture, normalized to the
    * same schema the batch loader produces. A file stream needs its
    * schema up front, so the fixture's physical ts layout (native µs vs
    * legacy NANOS) is detected from the footer first — same contract as
    * the batch loader, no session-conf mutation either way.
    */
  def eventsStream(spark: SparkSession, sfDir: String): DataFrame =
    // FileStreamSource wants a directory; select just the events file.
    graft.io.Tables.eventsNativeSchema(spark, sfDir) match {
      case Some(sch) =>
        spark.readStream.schema(sch)
          .option("pathGlobFilter", "events.parquet")
          .parquet(sfDir)
          .withColumn("ts", col("ts").cast("timestamp"))
      case None =>
        spark.readStream.schema(eventsRawSchema)
          .option("pathGlobFilter", "events.parquet")
          .parquet(sfDir)
          .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    }

  // ---------- shared window transforms (batch twin == streaming plan) ----------

  /** B47 tumbling 1h window per event_type. */
  def tumblingAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
      .select(col("w.start").as("ws"), col("w.end").as("we"),
        col("event_type"), col("n"), col("sum_value"))

  /** B48 sliding 1h window, 15min slide. Only streamable aggregates here
    * (no countDistinct — unsupported on streams); exact distinct counting
    * lives in the batch-only q_distinct_users.
    */
  def slidingAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
      .select(col("w.start").as("ws"), col("n"), col("sum_value"))

  /** B49 session window, 10 minute gap, per user. */
  def sessionAgg(events: DataFrame): DataFrame =
    events
      .groupBy(session_window(col("ts"), "10 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))

  /** B55 stream–static join: events × broadcast literal weight dim. */
  def weightedByType(spark: SparkSession, events: DataFrame): DataFrame = {
    val weights = spark.createDataFrame(Seq(
      ("click", 1.0), ("view", 0.5), ("purchase", 10.0),
      ("signup", 5.0), ("error", 0.0))).toDF("event_type", "weight")
    events.join(broadcast(weights), Seq("event_type"))
      .groupBy("event_type")
      .agg(round(sum(col("value") * col("weight")), 4).as("weighted_value"),
        count(lit(1)).as("n"))
  }

  // ---------- streaming-only operators ----------

  /** B50 declarative late-data policy (strictly more capable than the
    * reference, which leaves lateness to user bolt code).
    */
  def withLatenessPolicy(events: DataFrame, delay: String): DataFrame =
    events.withWatermark("ts", delay)

  /** B51 streaming dedup by event_id, state bounded by the watermark. */
  def dedupStream(events: DataFrame, delay: String): DataFrame =
    events.withWatermark("ts", delay).dropDuplicates("event_id")

  /** B51 variant: dedup keyed on event_id within the watermark window only
    * (state evicted once the watermark passes, unlike plain dropDuplicates).
    */
  def dedupWithinWatermark(events: DataFrame, delay: String): DataFrame =
    events.withWatermark("ts", delay).dropDuplicatesWithinWatermark("event_id")

  /** B52 arbitrary keyed state: per-user running event count + value total
    * (the per-key counting bolt of the Storm model). Update-mode output:
    * one refreshed row per key per micro-batch.
    */
  def runningCounters(events: Dataset[UserEvent]): Dataset[UserCounter] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[UserCounter, UserCounter](GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[UserEvent], state: GroupState[UserCounter]) =>
          val prev = state.getOption.getOrElse(UserCounter(uid, 0L, 0.0))
          var n = prev.n_events
          var tot = prev.total_value
          it.foreach { e => n += 1; tot += e.value }
          val next = UserCounter(uid, n, tot)
          state.update(next)
          next
      }
  }

  /** B52 alert-on-threshold: emits a row only when a user's running total
    * first crosses `threshold` (append-mode flatMapGroupsWithState).
    */
  def thresholdAlerts(events: Dataset[UserEvent], threshold: Double): Dataset[UserCounter] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[(UserCounter, Boolean), UserCounter](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[UserEvent], state: GroupState[(UserCounter, Boolean)]) =>
          val (prev, alreadyAlerted) =
            state.getOption.getOrElse((UserCounter(uid, 0L, 0.0), false))
          var n = prev.n_events
          var tot = prev.total_value
          it.foreach { e => n += 1; tot += e.value }
          val next = UserCounter(uid, n, tot)
          val crossed = !alreadyAlerted && tot >= threshold
          state.update((next, alreadyAlerted || crossed))
          if (crossed) Iterator(next) else Iterator.empty
      }
  }

  /** B52, Spark-4-native form: the same running counter as
    * [[runningCounters]] built on `transformWithState` — the
    * arbitrary-state API whose typed value/list/map state handles map
    * onto the RocksDB state store with per-state-variable column
    * families at scale.
    */
  def runningCountersTws(events: Dataset[UserEvent]): Dataset[UserCounter] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningCounterProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
  }

  /** B52, timer variant: alert when a user goes idle for `idle` (event
    * time). Input must carry a watermark.
    */
  def idleAlerts(events: Dataset[UserEvent], idleMs: Long): Dataset[IdleAlert] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new IdleAlertProcessor(idleMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        org.apache.spark.sql.streaming.OutputMode.Append())
  }

  /** B52, map-state variant: per-user per-event-type running counts. */
  def typeCounts(events: Dataset[UserEvent]): Dataset[TypeCount] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new TypeCountProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
  }

  /** B52, list-state variant: bounded most-recent-N event ids per user
    * (the "recent activity" bolt), on transformWithState ListState.
    */
  def recentEvents(events: Dataset[UserEvent], maxN: Int): Dataset[RecentEvents] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RecentEventsProcessor(maxN),
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
  }

  /** B52 hard case: custom sessionization with EventTimeTimeout — the
    * arbitrary-keyed-state spelling of session windows (what a Storm user
    * hand-writes in a stateful bolt). Input must already carry a
    * watermark ≥ the gap.
    *
    * Emission is WATERMARK-GATED, exactly like the built-in
    * `session_window`: a session is emitted only once the event-time
    * watermark passes its end (last event + gap). Emitting any earlier —
    * e.g. the moment a later event lands past the gap — is irrevocable
    * in append mode, yet a still-legal out-of-order event in a later
    * batch may extend the session or BRIDGE it with a neighbor (the
    * divergence a review pass caught in the previous eager-emitting
    * version). State therefore holds a LIST of pending sessions,
    * pairwise more than a gap apart; each incoming event merges every
    * session within a gap of it (one event can fuse two), and each
    * invocation flushes the sessions the watermark has passed. The
    * event-time timeout fires at the earliest pending end, so sessions
    * drain without further data. Fold order over a batch is irrelevant —
    * merging is commutative here — which also removes the old version's
    * per-batch sort.
    */
  def sessionize(events: Dataset[UserEvent], gapMinutes: Int): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionList, SessionOut](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[UserEvent], state: GroupState[SessionList]) =>
          val existing = state.getOption.map(_.sessions.toList).getOrElse(Nil)
          // interval-with-gap merging, both bounds INCLUSIVE to match
          // session_window (an event exactly gapMs from a session's edge
          // merges, whichever order the two arrive in)
          val merged = it.foldLeft(existing) { (ss, e) =>
            val t = e.ts.getTime
            val (near, far) = ss.partition(s =>
              t >= s.startMs - gapMs && t <= s.lastMs + gapMs)
            val fused = near.foldLeft(OpenSession(t, t, 1L)) { (a, s) =>
              OpenSession(math.min(a.startMs, s.startMs),
                math.max(a.lastMs, s.lastMs), a.n + s.n)
            }
            fused :: far
          }
          val wm = state.getCurrentWatermarkMs()
          val (ripe, pending) = merged.partition(_.lastMs + gapMs <= wm)
          if (pending.isEmpty) state.remove()
          else {
            state.update(SessionList(pending))
            // strictly above the watermark by the partition above
            state.setTimeoutTimestamp(pending.map(_.lastMs + gapMs).min)
          }
          ripe.sortBy(_.startMs).iterator.map(s =>
            SessionOut(uid, new Timestamp(s.startMs),
              new Timestamp(s.lastMs + gapMs), s.n))
      }
  }

  // ---------- bounded end-to-end runs (harness-visible streaming) ----------

  /** Runs a streaming DataFrame to completion over the bounded source
    * (`Trigger.AvailableNow`), landing every append-mode batch via
    * foreachBatch into a batchId-keyed subdirectory with OVERWRITE — so a
    * batch replayed after a restart from the checkpoint rewrites its own
    * directory instead of duplicating rows (genuinely idempotent, not just
    * append-and-hope). Returns the landed union. This is how the driver's
    * correctness harness sees the streaming engine end-to-end: source →
    * watermark → stateful ops → sink, not just the logical transform.
    */
  /** Temp dirs pending JVM-exit cleanup, drained by ONE shutdown hook —
    * per-call `addShutdownHook` would accumulate hooks (and retained Path
    * references) without bound across repeated verify/bench runs.
    */
  private val tempDirsToClean = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  /** Register a temp dir for JVM-exit cleanup by the shared hook (used by
    * every operator that materializes scratch state, e.g. the streaming
    * MERGE's versioned table + checkpoint).
    */
  def cleanOnExit(dir: java.nio.file.Path): Unit = {
    cleanupHook
    tempDirsToClean.add(dir)
    ()
  }

  private lazy val cleanupHook: Unit = sys.addShutdownHook {
    var d = tempDirsToClean.poll()
    while (d != null) {
      graft.io.Fs.deleteRecursively(d)
      d = tempDirsToClean.poll()
    }
  }

  /** Run `streaming` to completion (AvailableNow) through `sink`, which
    * lands each micro-batch under per-batch directories below the
    * returned temp dir (idempotent on replay: a re-run batch overwrites
    * its own directory). Temp output + checkpoint (incl. state store
    * files) are deleted when the JVM exits — repeated verify/bench runs
    * must not leak disk.
    */
  private def runToCompletion(streaming: DataFrame)(
      sink: (DataFrame, Long, String) => Unit): String = {
    val out = java.nio.file.Files.createTempDirectory("graft_stream_out")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_stream_ckpt")
    Seq(out, ckpt).foreach(cleanOnExit)
    val q = streaming.writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt.toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, bid: Long) => sink(batch, bid, out.toString) }
      .start()
    q.awaitTermination()
    out.toString
  }

  /** Read a per-batch-dir output back; if no batch ever emitted
    * (all-late-data edge) there is nothing to glob, so synthesize empty.
    */
  private def readBatchDirs(spark: SparkSession, dir: String,
      schema: StructType): DataFrame = {
    val batchDirs = new java.io.File(dir).listFiles()
    if (batchDirs == null || batchDirs.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(batchDirs.map(_.toString).toSeq: _*)
  }

  private def runBounded(spark: SparkSession, streaming: DataFrame): DataFrame = {
    val out = runToCompletion(streaming) { (batch, bid, dir) =>
      batch.write.mode("overwrite").parquet(s"$dir/b$bid")
    }
    readBatchDirs(spark, out, streaming.schema)
  }

  /** B4+B47+B50+B51 end-to-end: streaming file source → 0s watermark →
    * streaming dedup by event_id → tumbling 1h aggregation → append-mode
    * foreachBatch parquet sink, run to completion with AvailableNow.
    *
    * Oracle-verifiable despite append mode: with a 0-second watermark the
    * final watermark is max(ts), and append mode emits exactly the windows
    * whose end <= max(ts) — a condition DuckDB can state as a HAVING
    * clause. The withheld tail window is the *correct* append-mode answer,
    * not data loss.
    */
  def tumblingPipeline(spark: SparkSession, sfDir: String): DataFrame = {
    val src = eventsStream(spark, sfDir)
      .withWatermark("ts", "0 seconds")
      .dropDuplicatesWithinWatermark("event_id")
    runBounded(spark, tumblingAgg(src)).orderBy("ws", "event_type")
  }

  /** B49+B50 end-to-end: session windows (10 min gap) per user under a 0s
    * watermark, emitted in append mode once the watermark passes each
    * session's end (= last event + gap). Same oracle trick as
    * [[tumblingPipeline]]: emitted sessions are exactly those with
    * session_end <= max(ts).
    */
  def sessionPipeline(spark: SparkSession, sfDir: String): DataFrame = {
    val src = eventsStream(spark, sfDir).withWatermark("ts", "0 seconds")
    runBounded(spark, sessionAgg(src)).orderBy("user_id", "session_start")
  }

  /** B112 on a stream: the data-quality gate as an ingest sink. Each
    * micro-batch is split ONCE ([[graft.ops.Expect.split]]) and lands in
    * two tables — clean rows in the corpus, violating rows (with their
    * `_violations` triage column) in quarantine. Per-batch directories
    * keyed by batch id make replays idempotent (same overwrite trick as
    * the other bounded pipelines). Returns (clean, quarantine) read back
    * after an AvailableNow run to completion.
    */
  def gatedRun(spark: SparkSession, sfDir: String,
      rules: Seq[graft.ops.Expect.Rule]): (DataFrame, DataFrame) = {
    val src = eventsStream(spark, sfDir)
    val out = runToCompletion(src) { (batch, bid, dir) =>
      // persist so the gate really IS evaluated once: the two writes
      // below are separate actions, and without the pin each would
      // rescan the source and re-run every rule
      batch.persist()
      try {
        val (clean, bad) = graft.ops.Expect.split(batch, rules)
        clean.write.mode("overwrite").parquet(s"$dir/clean/b$bid")
        bad.write.mode("overwrite").parquet(s"$dir/quarantine/b$bid")
      } finally { batch.unpersist(); () }
    }
    val badSchema = StructType(src.schema.fields :+
      StructField("_violations", ArrayType(StringType, containsNull = true)))
    (readBatchDirs(spark, s"$out/clean", src.schema),
      readBatchDirs(spark, s"$out/quarantine", badSchema))
  }

  /** B25 end-to-end: a REAL stream–stream interval join run to
    * completion — two readStream sources over the same events file
    * (clicks, purchases), watermarked both sides, inner-joined on
    * user + 1-hour interval, landed via the idempotent foreachBatch
    * sink. INNER interval joins emit every match (append-mode
    * withholding only affects outer sides), so the bounded result
    * equals the batch join exactly and the oracle is plain SQL.
    */
  def joinPipeline(spark: SparkSession, sfDir: String): DataFrame = {
    val clicks = eventsStream(spark, sfDir).filter(col("event_type") === "click")
    val purchases = eventsStream(spark, sfDir).filter(col("event_type") === "purchase")
    runBounded(spark, clickPurchaseJoin(clicks, purchases))
      .orderBy("click_id", "purchase_id")
  }

  /** B25 stream–stream interval join: purchases within 1 hour after a
    * click by the same user; watermarks bound both join-state sides.
    */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("ts", "1 hour")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
    val p = purchases.withWatermark("ts", "1 hour")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
    c.join(p, expr(
      "c_user = p_user AND p_ts >= c_ts AND p_ts <= c_ts + INTERVAL 1 HOUR"))
      .select(col("c_user").as("user_id"), col("click_id"),
        col("purchase_id"), col("c_ts"), col("p_ts"))
  }

  /** Continuous replica maintenance driven by a streaming trigger — the
    * A12 tick-tuple analog applied to CDC: a 1-row/s rate source exists
    * only to make the engine fire `foreachBatch` on the processing-time
    * cadence, and each tick runs one [[graft.ops.Sinks.syncReplica]]
    * catch-up (itself a no-op when the source hasn't moved). This is how
    * "keep the replica fresh" deploys without an external scheduler:
    * the trigger cadence and query lifecycle are the streaming engine's.
    * A FAILED tick (source not yet published, concurrent-writer CME,
    * sync base vacuumed mid-diff) is logged and retried on the next
    * tick rather than killing the query — each sync is independently
    * idempotent, so skipping a tick loses nothing. Stop via the
    * returned query handle.
    */
  def continuousSync(spark: SparkSession, sourceRoot: String, replicaRoot: String,
      keys: Seq[String], every: String = "1 second"): StreamingQuery = {
    spark.readStream.format("rate").option("rowsPerSecond", 1).load()
      .writeStream
      .trigger(Trigger.ProcessingTime(every))
      .outputMode("append")
      .foreachBatch { (_: DataFrame, batchId: Long) =>
        try graft.ops.Sinks.syncReplica(spark, sourceRoot, replicaRoot, keys)
        catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(
              s"[continuousSync] tick $batchId failed (will retry): $e")
        }
        ()
      }
      .start()
  }
}
