package graft.streaming

import graft.functions.Text
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StreamingQueryProgress, Trigger}

/** Structured Streaming surface: the reference's one query as an
  * unbounded stream, plus event-time windowed aggregation (tumbling /
  * sliding / session) with watermark-driven late-data handling, and a
  * custom stateful sessionizer via flatMapGroupsWithState.
  *
  * All transforms are source-agnostic: pass any streaming (or batch)
  * DataFrame with the right columns — readStream.parquet/kafka/socket
  * in production, MemoryStream in tests. Batch DataFrames run the same
  * plans (see graft.queries.EventsTime for the batch twins), which is
  * the unification Spark gives for free.
  */
object Streaming {

  /** Streaming word count (reference query §0 over an unbounded text
    * stream). Complete/update output; state = one count per word,
    * partitioned by word hash across executors.
    */
  def wordCounts(lines: DataFrame, textCol: String = "value"): DataFrame =
    lines.select(explode(Text.tokens(col(textCol))).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))

  /** Tumbling/sliding event-time counts with watermark: accepts data up
    * to `watermark` late; state for closed windows is dropped (bounded
    * memory on an unbounded stream).
    */
  def windowedTypeCounts(
      events: DataFrame,
      size: String = "10 minutes",
      slide: String = "10 minutes",
      watermark: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), size, slide), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("window.end").as("we"),
        col("event_type"), col("n"))

  /** Session windows (30-min gap) per user — native session_window. */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("ss"),
        col("session_window.end").as("se"), col("user_id"), col("n_events"))

  /** Stream-stream join of `left` to `right` events of the same user
    * within the trailing 10 minutes (`r_ts` in `[l_ts - 10 min, l_ts]`),
    * as `joinType` ("inner", "leftOuter", "fullOuter" or "leftSemi").
    * Both sides carry watermarks, so join state for expired time ranges
    * is dropped; with the time bound they also decide when outer rows
    * emit, null-padded, once the engine can prove no match will come:
    *   - inner: every match emits eagerly;
    *   - an unmatched left row emits once wm > l_ts (any future right
    *     row has r_ts >= wm > l_ts);
    *   - an unmatched right row (full outer) emits once
    *     wm > r_ts + 10 min, so its key is coalesce(left, right);
    *   - leftSemi: each left row emits at most once, with no right
    *     columns (the streaming EXISTS; no pair multiplication).
    */
  def streamStreamJoin(left: DataFrame, right: DataFrame,
      joinType: String = "inner", watermark: String = "30 minutes"): DataFrame = {
    val l = left.withWatermark("ts", watermark)
      .select(col("user_id"), col("ts").as("l_ts"), col("event_type").as("l_type"))
    val r = right.withWatermark("ts", watermark)
      .select(col("user_id").as("r_user"), col("ts").as("r_ts"),
        col("event_type").as("r_type"))
    val joined = l.join(r,
      col("user_id") === col("r_user") &&
      col("r_ts") >= col("l_ts") - expr("INTERVAL 10 MINUTES") &&
      col("r_ts") <= col("l_ts"),
      joinType)
    val user =
      if (joinType == "fullOuter") coalesce(col("user_id"), col("r_user")).as("user_id")
      else col("user_id")
    if (joinType == "leftSemi") joined
    else joined.select(user, col("l_ts"), col("l_type"), col("r_ts"), col("r_type"))
  }

  /** Streaming exact dedup: drop re-deliveries of the same key within
    * the watermark horizon — the unbounded-stream form of the batch
    * `dedup_exact` operator. State holds one entry per key seen inside
    * the watermark window and is evicted as event time advances
    * (bounded memory on an unbounded stream; at-least-once sources
    * become effectively-once downstream).
    */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
      watermark: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Stream-static enrichment join: each micro-batch joins against a
    * batch dimension table. The static side is re-planned per batch (so
    * it can be a view over slowly-refreshed files) and is broadcast
    * when small — no streaming state at all, unlike stream-stream
    * joins. This is the 100 TB pattern for attaching dimensions to an
    * event firehose.
    */
  def streamStaticEnrich(events: DataFrame, dim: DataFrame,
      eventKey: String, dimKey: String): DataFrame =
    events.join(broadcast(dim), col(eventKey) === col(dimKey), "left")

  private val drains = new java.util.concurrent.atomic.AtomicLong()

  /** Drain a stream to a batch result: run `out` to completion into a
    * fresh memory sink (Trigger.AvailableNow, output mode `mode`), stop
    * it, run `check` over its progress, then return `read` of the
    * sink's rows, local-checkpointed so the result outlives the sink.
    * The sink's temp view is dropped in every case, after a failed
    * query or a failed check too, so a drain never leaves its rows in
    * the session catalog.
    */
  def drain(out: DataFrame, mode: String = "append",
      check: Array[StreamingQueryProgress] => Unit = _ => ())(
      read: DataFrame => DataFrame): DataFrame = {
    val s = out.sparkSession
    val sink = "graft_drain_" + drains.incrementAndGet()
    try {
      val q = out.writeStream.format("memory").queryName(sink)
        .outputMode(mode).trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
      check(q.recentProgress)
      read(s.table(sink)).localCheckpoint()
    } finally s.catalog.dropTempView(sink)
  }

  /** foreachBatch sink: run an arbitrary batch write per micro-batch.
    * `batchId` is the exactly-once hook — a sink that records the last
    * committed id (or writes to an idempotent location derived from it)
    * deduplicates replayed batches after failure recovery.
    */
  def sinkForeachBatch(df: DataFrame)(
      write: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream.foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
      write(batch.toDF(), batchId)
    }

  /** Event-time-timeout sessionizer: sessions accumulate in state and
    * EMIT only when the watermark passes session end + gap — i.e. the
    * engine proves no more events can join. This is the
    * flatMapGroupsWithState + EventTimeTimeout pattern for "emit once,
    * on close" semantics that `session_window` (which emits via the
    * output mode's timing) can't customize: the state carries whatever
    * the close handler needs, and timed-out state is removed (bounded
    * memory on an unbounded stream).
    */
  case class SessState(startUs: Long, endUs: Long, n: Long)
  case class SessionOut(user_id: Long, start_us: Long, end_us: Long, n_events: Long)

  def timedOutSessions(events: DataFrame, gapMs: Long = 30L * 60 * 1000,
      watermark: String = "10 minutes"): Dataset[SessionOut] = {
    val sp = events.sparkSession
    import sp.implicits._
    events.withWatermark("ts", watermark)
      .select(col("user_id"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[(Long, java.sql.Timestamp)],
            state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(uid, s.startUs, s.endUs, s.n))
          } else {
            // full microsecond precision: Timestamp.getTime is ms, the
            // sub-ms micros live in getNanos
            val us = rows.map { case (_, t) =>
              t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
            }.toArray
            val merged = state.getOption match {
              case Some(p) => SessState(math.min(p.startUs, us.min),
                math.max(p.endUs, us.max), p.n + us.length)
              case None => SessState(us.min, us.max, us.length.toLong)
            }
            state.update(merged)
            // close when event time passes session end + gap — clamped
            // above the current watermark: setTimeoutTimestamp THROWS on
            // a timestamp at/behind it (possible when this batch's data
            // is already older than watermark - gap), which would kill
            // the query instead of closing the session next batch
            state.setTimeoutTimestamp(math.max(
              state.getCurrentWatermarkMs() + 1, merged.endUs / 1000L + gapMs))
            Iterator.empty
          }
      }
  }

  /** Custom stateful operator: running per-user event count + last-seen
    * timestamp, emitted on every update (flatMapGroupsWithState).
    * The KeyValueGroupedDataset state machine is the extension slot for
    * semantics session_window can't express (e.g. cross-window logic).
    */
  case class UserEvent(user_id: Long, event_type: String, us: Long)
  case class UserState(n: Long, lastUs: Long)
  case class UserUpdate(user_id: Long, n_total: Long, last_us: Long)

  /** Custom per-user state SUMMARY: event count, last-seen event time,
    * and the distinct event-type set carried in state — the state
    * payload shape (a growing set) that windowed aggregation cannot
    * express. Every emission is MONOTONE in all three outputs (count
    * and max-ts only grow; the type set only gains members), so a
    * consumer taking per-user maxima over the emitted stream gets the
    * final state regardless of how the source was micro-batched — the
    * property that makes the operator value-checkable under a batch
    * oracle (see graft.queries.EventsTime `ev_stream_state`).
    */
  case class UserSummaryState(n: Long, lastUs: Long, types: Seq[String])
  case class UserSummaryOut(user_id: Long, n_events: Long, last_us: Long,
      n_types: Long)

  def userStateSummary(events: DataFrame): Dataset[UserSummaryOut] = {
    val sp = events.sparkSession
    import sp.implicits._
    events
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .as[(Long, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[UserSummaryState, UserSummaryOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[(Long, String, Long)],
            state: GroupState[UserSummaryState]) =>
          val prev = state.getOption.getOrElse(
            UserSummaryState(0L, Long.MinValue, Seq.empty))
          var n = prev.n
          var last = prev.lastUs
          var types = prev.types
          rows.foreach { case (_, t, us) =>
            n += 1
            last = math.max(last, us)
            // null types never join the set: mirrors SQL
            // count(DISTINCT event_type), which ignores NULLs — keeps
            // the gate stable if the generator drifts to nullable types
            if (t != null && !types.contains(t)) types = types :+ t
          }
          state.update(UserSummaryState(n, last, types))
          Iterator(UserSummaryOut(uid, n, last, types.size.toLong))
      }
  }

  /** The [[userStateSummary]] state machine re-expressed on the
    * `transformWithState` API (Spark 4's arbitrary-state surface,
    * SPARK-46815): the composite per-user state is DECOMPOSED into
    * typed state variables — two `ValueState[Long]` (event count, max
    * event time) and a `MapState[String, Boolean]` holding the
    * distinct-type set as keys — instead of one serialized case class.
    * At scale that's the point of the API: a new event type touches
    * one map entry, not a rewrite of the whole per-user blob, and each
    * variable lives in its own RocksDB column family (the API requires
    * the RocksDB state-store provider). Emissions are the same
    * monotone per-batch totals, so the final maxima stay
    * batch-invariant and oracle-comparable.
    */
  class UserSummaryProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, String, Long), UserSummaryOut] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{TTLConfig, TimerValues, ValueState, MapState}

    @transient private var nState: ValueState[Long] = _
    @transient private var lastState: ValueState[Long] = _
    @transient private var typesState: MapState[String, Boolean] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      nState = getHandle.getValueState[Long]("n", Encoders.scalaLong,
        TTLConfig.NONE)
      lastState = getHandle.getValueState[Long]("last", Encoders.scalaLong,
        TTLConfig.NONE)
      typesState = getHandle.getMapState[String, Boolean]("types",
        Encoders.STRING, Encoders.scalaBoolean, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long,
        rows: Iterator[(Long, String, Long)],
        timers: TimerValues): Iterator[UserSummaryOut] = {
      var n = if (nState.exists()) nState.get() else 0L
      var last = if (lastState.exists()) lastState.get() else Long.MinValue
      rows.foreach { case (_, t, us) =>
        n += 1
        last = math.max(last, us)
        // null types never join the set (mirrors count(DISTINCT ...))
        if (t != null && !typesState.containsKey(t))
          typesState.updateValue(t, true)
      }
      nState.update(n)
      lastState.update(last)
      Iterator.single(
        UserSummaryOut(key, n, last, typesState.keys().size.toLong))
    }
  }

  def userStateSummaryTws(events: DataFrame): Dataset[UserSummaryOut] = {
    val sp = events.sparkSession
    import sp.implicits._
    events
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .as[(Long, String, Long)]
      .groupByKey(_._1)
      .transformWithState(new UserSummaryProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
  }

  /** [[UserSummaryProcessor]] with INITIAL STATE — the production
    * bootstrap pattern `transformWithState` adds as a first-class
    * surface: a batch snapshot (n, last event time, distinct types)
    * per user seeds the typed state variables BEFORE the first
    * streaming batch, so a migrated or restarted pipeline continues
    * counting from its history instead of from zero.
    * `handleInitialState` runs once per snapshot key; the input path
    * is identical to the cold-start processor.
    */
  class WarmStartSummaryProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
        Long, (Long, String, Long), UserSummaryOut,
        (Long, Long, Long, Seq[String])] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{TTLConfig, TimerValues, ValueState, MapState}

    @transient private var nState: ValueState[Long] = _
    @transient private var lastState: ValueState[Long] = _
    @transient private var typesState: MapState[String, Boolean] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      nState = getHandle.getValueState[Long]("n", Encoders.scalaLong,
        TTLConfig.NONE)
      lastState = getHandle.getValueState[Long]("last", Encoders.scalaLong,
        TTLConfig.NONE)
      typesState = getHandle.getMapState[String, Boolean]("types",
        Encoders.STRING, Encoders.scalaBoolean, TTLConfig.NONE)
    }

    override def handleInitialState(key: Long,
        init: (Long, Long, Long, Seq[String]),
        timers: TimerValues): Unit = {
      nState.update(init._2)
      lastState.update(init._3)
      init._4.foreach(t => if (t != null) typesState.updateValue(t, true))
    }

    override def handleInputRows(key: Long,
        rows: Iterator[(Long, String, Long)],
        timers: TimerValues): Iterator[UserSummaryOut] = {
      var n = if (nState.exists()) nState.get() else 0L
      var last = if (lastState.exists()) lastState.get() else Long.MinValue
      rows.foreach { case (_, t, us) =>
        n += 1
        last = math.max(last, us)
        if (t != null && !typesState.containsKey(t))
          typesState.updateValue(t, true)
      }
      nState.update(n)
      lastState.update(last)
      Iterator.single(
        UserSummaryOut(key, n, last, typesState.keys().size.toLong))
    }
  }

  /** Stream summary warm-started from a batch snapshot of
    * (user_id, n, last_us, types). */
  def userStateSummaryTwsWarm(events: DataFrame,
      snapshot: Dataset[(Long, Long, Long, Seq[String])])
      : Dataset[UserSummaryOut] = {
    val sp = events.sparkSession
    import sp.implicits._
    events
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .as[(Long, String, Long)]
      .groupByKey(_._1)
      .transformWithState(new WarmStartSummaryProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append(),
        snapshot.groupByKey(_._1))
  }

  /** [[timedOutSessions]] on `transformWithState` with REAL event-time
    * TIMERS — the capability the new API adds over
    * flatMapGroupsWithState's single implicit timeout: a processor may
    * hold MANY timers per key (`registerTimer`/`deleteTimer`/
    * `listTimers`) and receives each expiry in a dedicated
    * `handleExpiredTimer` callback instead of a has-timed-out flag on
    * the next input. Here the session-close timer is re-armed on every
    * batch (delete-then-register, so exactly one is live per key) at
    * `session end + gap`, clamped above the current watermark —
    * mirroring the clamp [[timedOutSessions]] needs for the same
    * reason. Emission: one SessionOut when the watermark passes the
    * close timer, state cleared.
    */
  class SessionTimerProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, java.sql.Timestamp), SessionOut] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TTLConfig, TimerValues, ValueState}

    @transient private var sess: ValueState[SessState] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      sess = getHandle.getValueState[SessState]("sess",
        Encoders.product[SessState], TTLConfig.NONE)

    override def handleInputRows(key: Long,
        rows: Iterator[(Long, java.sql.Timestamp)],
        timers: TimerValues): Iterator[SessionOut] = {
      // full microsecond precision (getTime is ms; sub-ms in getNanos)
      val us = rows.map { case (_, t) =>
        t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
      }.toArray
      val merged =
        if (sess.exists()) {
          val p = sess.get()
          SessState(math.min(p.startUs, us.min),
            math.max(p.endUs, us.max), p.n + us.length)
        } else SessState(us.min, us.max, us.length.toLong)
      sess.update(merged)
      val h = getHandle
      h.listTimers().foreach(h.deleteTimer)
      h.registerTimer(math.max(timers.getCurrentWatermarkInMs() + 1,
        merged.endUs / 1000L + gapMs))
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long, timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[SessionOut] =
      if (sess.exists()) {
        val s = sess.get()
        sess.clear()
        Iterator.single(SessionOut(key, s.startUs, s.endUs, s.n))
      } else Iterator.empty
  }

  def timedOutSessionsTws(events: DataFrame,
      gapMs: Long = 30L * 60 * 1000,
      watermark: String = "10 minutes"): Dataset[SessionOut] = {
    val sp = events.sparkSession
    import sp.implicits._
    events.withWatermark("ts", watermark)
      .select(col("user_id"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(new SessionTimerProcessor(gapMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  def runningUserCounts(events: Dataset[UserEvent]): Dataset[UserUpdate] = {
    val sp = events.sparkSession
    import sp.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[UserState, UserUpdate](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[UserEvent], state: GroupState[UserState]) =>
          val prev = state.getOption.getOrElse(UserState(0L, 0L))
          var n = prev.n
          var last = prev.lastUs
          rows.foreach { r => n += 1; last = math.max(last, r.us) }
          state.update(UserState(n, last))
          Iterator(UserUpdate(uid, n, last))
      }
  }
}
