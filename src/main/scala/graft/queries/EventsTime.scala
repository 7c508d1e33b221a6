package graft.queries

import graft.{Query, QueryModule, Scratch, Tables}
import graft.operators.AsofJoin
import graft.streaming.Streaming
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.types.StructType

/** Event-time operators over the `events` table: tumbling and sliding
  * windows (the batch twins of the Structured Streaming ops in
  * graft.streaming), sessionization, pivot, as-of join, and a bucketed
  * range join.
  *
  * Timestamps are compared in integer epoch-microseconds on BOTH
  * engines (unix_micros / epoch_us) — exact, and immune to the
  * ns-vs-us precision mismatch of the raw column. `value` (2-decimal)
  * aggregates use the integer-cents trick (see Relational).
  */
object EventsTime extends QueryModule {

  private def ev(s: SparkSession, d: String) = Tables.events(s, d)
  private def us: Column = unix_micros(col("ts"))
  private def valE2: Column = round(col("value") * 100).cast("long")

  private val GAP_US = 1800000000L // 30 min session gap
  private val W_US = 600000000L // 10 min range-join window

  /** Per-user sequence cap for [[ev_seqmatch]]: events past this rank
    * never enter the type-string fold, bounding the agg buffer on any
    * corpus (the bot-user guard). Far above the gate corpus's max
    * events-per-user; mirrored verbatim in the oracle.
    */
  private val SEQ_CAP = 1000

  /** The gate's events table and its micros-typed copy for file-stream
    * replay (the raw table is TIMESTAMP(NANOS), which a schema-pinned
    * file stream can't read).
    */
  private[graft] def replayScratch(s: SparkSession, d: String): (DataFrame, String) = {
    val batch = Tables.events(s, d)
    (batch, Tables.copyOf(batch, d, "events", "stream_replay"))
  }

  /** A file stream over the gate's events scratch. */
  private def replayStream(s: SparkSession, d: String): DataFrame = {
    val (batch, scratch) = replayScratch(s, d)
    s.readStream.schema(batch.schema).parquet(scratch)
  }

  /** A `*ReplayOn` core over the gate's events scratch: the registry
    * entry of a replay that Bench's x20 stream rows also drive. */
  private def onScratch(replay: (SparkSession, StructType, String) => DataFrame)
      : (SparkSession, String) => DataFrame = (s, d) => {
    val (batch, scratch) = replayScratch(s, d)
    replay(s, batch.schema, scratch)
  }

  private def hourlyCounts(stream: DataFrame): DataFrame =
    Streaming.windowedTypeCounts(stream, "1 hour", "1 hour", "30 minutes")

  private def byHour(counts: DataFrame): DataFrame =
    counts.select(date_format(col("ws"), "yyyy-MM-dd HH").as("hour"),
        col("event_type"), col("n"))
      .orderBy("hour", "event_type")

  /** `ev_stream_replay`: the events scratch replayed through the real
    * Structured Streaming plan: file stream -> watermark -> tumbling
    * window -> append-mode memory sink, drained by AvailableNow. Append
    * mode emits exactly the windows the final watermark (max event time
    * minus the 30-minute delay) has closed, so the oracle mirrors the
    * watermark rule itself, which puts late-data semantics under the
    * oracle value-compare rather than only under ScalaTest. Bench's
    * `scaled_stream_window_x20` row drives this same core over the x20
    * events corpus.
    */
  def windowedReplayOn(s: SparkSession, schema: StructType,
      scratch: String): DataFrame =
    Streaming.drain(hourlyCounts(s.readStream.schema(schema).parquet(scratch)))(
      byHour)

  /** Pin the single-micro-batch drain some oracles DEPEND on.
    * `chainReplayOn`'s global-DISTINCT oracle and `streamUpdateReplay`'s
    * no-watermark max-fold oracle are only equivalent to the streaming
    * result when AvailableNow drains the whole scratch in ONE data
    * batch: `dropDuplicatesWithinWatermark` dedups across micro-batches
    * only within the 30-min delay, and update-mode max-folding breaks if
    * evicted window state is re-opened by a later batch. That holds
    * today because the file source has no `maxFilesPerTrigger` option
    * set — this check turns the silent assumption into a loud failure
    * if a future source-option change splits the replay.
    */
  private def assertSingleDataBatch(what: String)(
      progress: Array[StreamingQueryProgress]): Unit = {
    val dataBatches = progress.count(_.numInputRows > 0)
    require(dataBatches <= 1,
      s"$what: replay ran $dataBatches data micro-batches; its oracle is " +
        "only valid for a single-batch AvailableNow drain (see scaladoc)")
  }

  /** Writes `chunks` under `dir` as `chunk-01.parquet`, ...: each
    * frame ONE parquet file, with strictly increasing modification
    * times (4 s apart — the file source orders oldest-mtime-first, and
    * coarse filesystems have 1 s granularity).
    */
  private def writeChunks(dir: String, chunks: Seq[DataFrame]): Unit = {
    val base = System.currentTimeMillis() - 3600000L
    val files = chunks.zip(LazyList.from(1)).map { case (chunk, i) =>
      val tmp = new java.io.File(dir, s"_tmp_$i")
      chunk.coalesce(1).write.parquet(tmp.getPath)
      val part = Option(tmp.listFiles()).getOrElse(Array.empty)
        .find(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file written under $tmp"))
      val dst = new java.io.File(dir, f"chunk-$i%02d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      // The whole multi-batch sequencing rides on these mtimes (the
      // file source orders oldest-first): a filesystem that declines
      // the write would replay chunks out of ts order, the watermark
      // would drop rows, and the gate would fail nondeterministically
      // with no diagnostic — so a declined write fails HERE, loudly.
      require(dst.setLastModified(base + i * 4000L),
        s"setLastModified declined on $dst — multi-batch replay " +
          "ordering cannot be pinned on this filesystem")
      org.apache.commons.io.FileUtils.deleteDirectory(tmp)
      dst
    }
    // belt-and-braces: re-read the mtimes and assert they strictly
    // increase chunk-over-chunk (coarse-granularity filesystems could
    // round two 4 s-apart stamps together)
    val mtimes = files.map(_.lastModified)
    require(mtimes.zip(mtimes.tail).forall { case (a, b) => a < b },
      s"chunk mtimes not strictly increasing under $dir: $mtimes")
  }

  /** Time-contiguous multi-file copy of the replay scratch for
    * [[streamMultiBatchReplay]]: events ntile'd into 4 chunks in ts
    * order, written by [[writeChunks]]. The single-partition ordering
    * window is scratch PREP, built once per source fingerprint — never
    * a per-query cost.
    */
  private def multiBatchScratch(batch: DataFrame, baseScratch: String): String =
    Scratch.derived(baseScratch, "mb4") { dir =>
      val w = Window.orderBy(col("ts"), col("user_id"), col("event_type"))
      val bucketed = batch.withColumn("_b", ntile(4).over(w))
      writeChunks(dir, (1 to 4).map(i => bucketed.filter(col("_b") === i).drop("_b")))
    }

  /** MULTI-batch windowed replay under the oracle gate — the path
    * [[assertSingleDataBatch]] fences off elsewhere, exercised for
    * real: the events table split into 4 time-contiguous files and
    * replayed with `maxFilesPerTrigger=1`, so AvailableNow sequences
    * >= 4 data micro-batches through the state store with the
    * watermark ratcheting between batches and windows emitted
    * incrementally as each batch's watermark closes them. Batch
    * boundaries are time-MONOTONE by construction, so no row is ever
    * late relative to the previous batch's watermark (a row's window
    * end >= its ts >= the prior chunk's max > that chunk's max minus
    * the 30-min delay) — nothing is dropped, append emission is exactly
    * "windows the FINAL watermark closed", and the oracle is the same
    * batching-invariant watermark-rule mirror as ev_stream_replay.
    * The >= 3 data batches are asserted loudly: this query exists to
    * execute multi-batch sequencing, not to assume it.
    */
  def streamMultiBatchReplay(s: SparkSession, d: String): DataFrame = {
    val (batch, scratch) = replayScratch(s, d)
    val stream = s.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(multiBatchScratch(batch, scratch))
    Streaming.drain(hourlyCounts(stream), check = p => {
      val dataBatches = p.count(_.numInputRows > 0)
      val lastBatch = p.lastOption.fold(-1L)(_.batchId)
      require(dataBatches >= 3 && lastBatch >= 2,
        s"ev_stream_multibatch: expected >= 3 data micro-batches " +
          s"(got $dataBatches, last batchId $lastBatch) — " +
          "the multi-file scratch or maxFilesPerTrigger sequencing broke")
    })(byHour)
  }

  /** Chunk scratch for [[streamLateDropReplay]]: the four time-monotone
    * real-event chunks of [[multiBatchScratch]] rewritten, plus TWO
    * synthetic chunks replayed last (newest mtimes) planting the
    * late-arrival cases against mx = max real ts:
    *   - chunk 5: ts = mx - 20 min, 'late_probe' — out-of-order but
    *     within the 30-min delay, accepted; and ts = mx + 2 h,
    *     'wm_push' — advances the final watermark past every other
    *     window so the accepted row's window closes and its acceptance
    *     is visible in the append-mode output (its own window stays
    *     open and never emits)
    *   - chunk 6: ts = mx - 3 h, 'late_probe' — genuinely late,
    *     DROPPED (numRowsDroppedByWatermark)
    * The genuinely-late row needs its own chunk because Spark filters
    * late events with the PREVIOUS batch's watermark
    * (`watermarkForLateEvents`, SPARK-24634), not the current eviction
    * watermark: a batch-N row is dropped iff its window closed before
    * the watermark derived from data through batch N-2. With the late
    * row in chunk 6, that filter watermark is mx - 30 min (from chunks
    * 1-4) and its window closed >= 90 min earlier — dropped on every
    * corpus. Timestamps derive from mx with exact micros arithmetic
    * (java.time.Instant), mirrored by the oracle's INTERVAL arithmetic.
    */
  private def lateDropScratch(s: SparkSession, batch: DataFrame,
      baseScratch: String): String = {
    val mb = multiBatchScratch(batch, baseScratch)
    Scratch.derived(baseScratch, "mb4late") { dir =>
      val mxRow = batch.agg(max("ts")).collect()(0)
      require(!mxRow.isNullAt(0),
        "lateDropScratch: events table is empty — max(ts) is NULL and " +
          "no late-arrival plant can be derived")
      val mx = mxRow.getTimestamp(0).toInstant
      def t(i: java.time.Instant) = java.sql.Timestamp.from(i)
      def rows(rs: org.apache.spark.sql.Row*): DataFrame = s.createDataFrame(
        scala.jdk.CollectionConverters.SeqHasAsJava(rs).asJava, batch.schema)
      writeChunks(dir, (1 to 4).map(i =>
        s.read.schema(batch.schema).parquet(f"$mb/chunk-$i%02d.parquet")) ++ Seq(
        rows(
          org.apache.spark.sql.Row(9000002L,
            t(mx.minus(java.time.Duration.ofMinutes(20))),
            1L, "late_probe", 0.0, "{}"),
          org.apache.spark.sql.Row(9000003L,
            t(mx.plus(java.time.Duration.ofHours(2))),
            1L, "wm_push", 0.0, "{}")),
        rows(
          org.apache.spark.sql.Row(9000001L,
            t(mx.minus(java.time.Duration.ofHours(3))),
            1L, "late_probe", 0.0, "{}"))))
    }
  }

  /** The LATE-data path of multi-batch replay, executed for real — the
    * one streaming code path [[streamMultiBatchReplay]]'s time-monotone
    * chunking can never reach: chunk 6 (see [[lateDropScratch]])
    * arrives after the late-events watermark ratcheted to mx - 30 min,
    * so its genuinely-late row is dropped by the stateful operator's
    * late-event predicate (asserted: numRowsDroppedByWatermark > 0 —
    * this query exists to execute the drop, not to assume it), chunk
    * 5's within-delay out-of-order row is accepted, and the
    * watermark-pushing row closes the accepted row's window so both
    * outcomes are visible in the gate hash. The oracle mirrors the
    * drop rule explicitly.
    */
  def streamLateDropReplay(s: SparkSession, d: String): DataFrame = {
    val (batch, scratch) = replayScratch(s, d)
    val stream = s.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", "1").parquet(lateDropScratch(s, batch, scratch))
    Streaming.drain(hourlyCounts(stream), check = p => {
      val dataBatches = p.count(_.numInputRows > 0)
      require(dataBatches >= 5,
        s"ev_stream_late_drop: expected >= 5 data micro-batches " +
          s"(got $dataBatches) — the multi-file sequencing broke")
      val droppedByWm = p.flatMap(q => Option(q.stateOperators).toSeq.flatten)
        .map(_.numRowsDroppedByWatermark).sum
      require(droppedByWm > 0,
        "ev_stream_late_drop: numRowsDroppedByWatermark == 0 — the " +
          "genuinely-late chunk-5 row was not dropped; the late-data " +
          "path this query exists to execute did not run")
    })(byHour)
  }

  /** Streaming dedup under the oracle gate: the events table replayed
    * through `dropDuplicatesWithinWatermark` (real streaming state +
    * eviction), then batch-aggregated to a deterministic per-user
    * distinct-type count — the dedup emits an arbitrary representative
    * row per key, so the gate compares the key set, not the payload.
    */
  def streamDedupReplay(s: SparkSession, d: String): DataFrame = {
    val stream = replayStream(s, d)
    Streaming.drain(Streaming.dedupStream(stream, Seq("user_id", "event_type"),
        "30 minutes"))(
      _.groupBy("user_id").agg(count(lit(1)).as("n_types")).orderBy("user_id"))
  }

  /** `ev_stream_session`: streaming SESSION windows under the oracle
    * gate: the events scratch replayed through the native
    * `session_window` aggregation (real merging session state), append
    * mode — emitted sessions are exactly those whose end cleared the
    * final watermark. The oracle reproduces gap-sessionization AND the
    * watermark rule, including Spark's millisecond watermark truncation
    * (`wm_us = (max_us DIV 1000 - delay_ms) * 1000`): event times carry
    * sub-millisecond micros, so an un-truncated mirror misclassifies
    * boundary sessions. Bench's `scaled_stream_session_x20` row drives
    * it over the x20 corpus, where the session store carries 20x the
    * per-user state of the gate query.
    */
  def sessionReplayOn(s: SparkSession, schema: StructType,
      scratch: String): DataFrame =
    Streaming.drain(Streaming.sessionCounts(s.readStream.schema(schema).parquet(scratch)))(
      _.select(unix_micros(col("ss")).as("start_us"),
          unix_micros(col("se")).as("end_us"),
          col("user_id"), col("n_events"))
        .orderBy("user_id", "start_us"))

  /** Stream-STATIC enrichment under the oracle gate: the events table
    * replayed as a stream, left-joined against the static customer
    * dimension via [[graft.streaming.Streaming.streamStaticEnrich]]
    * (broadcast — the static side never shuffles and holds no
    * streaming state), then batch-aggregated from the sink per
    * (market segment, event type). Stateless append emits every
    * enriched row exactly once under AvailableNow, so the oracle is
    * the plain batch join + aggregate; money stays in integer cents
    * (the q1_agg fixed-point discipline).
    */
  def streamEnrichReplay(s: SparkSession, d: String): DataFrame = {
    val stream = replayStream(s, d)
    val dim = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"))
    // segment is NULL for a user_id with no customer row; coalesce to
    // a sentinel on BOTH sides (here and the oracle) so engine null
    // ORDER BY placement (Spark NULLS FIRST vs DuckDB NULLS LAST)
    // can never flip the positional compare on regenerated testdata
    Streaming.drain(Streaming.streamStaticEnrich(stream, dim, "user_id", "c_custkey"))(
      _.groupBy(coalesce(col("c_mktsegment"), lit("(none)")).as("segment"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(round(col("value") * 100).cast("long")).as("value_cents"))
        .orderBy("segment", "event_type"))
  }

  /** The per-user maxima of a user-summary stream's emissions. */
  private def finalSummary(sink: DataFrame): DataFrame =
    sink.groupBy("user_id")
      .agg(max("n_events").as("n_events"), max("last_us").as("last_us"),
        max("n_types").as("n_types"))
      .orderBy("user_id")

  /** Arbitrary stateful processing under the oracle gate: the events
    * table replayed through `flatMapGroupsWithState` carrying a custom
    * per-user state (count, max event time, distinct-type set). Every
    * emission is monotone in every output column, so the per-user MAX
    * over the sink equals the final state under ANY micro-batching of
    * the file source — which is what lets a custom state machine be
    * value-compared against a plain batch aggregate.
    */
  def streamStateReplay(s: SparkSession, d: String): DataFrame = {
    val stream = replayStream(s, d)
    Streaming.drain(Streaming.userStateSummary(stream).toDF())(finalSummary)
  }

  /** [[streamStateReplay]]'s twin on the `transformWithState` API
    * (Spark 4 arbitrary state: typed ValueState/MapState variables in
    * RocksDB column families — the provider the API requires, pinned
    * around just this query). Same monotone emissions, same final-max
    * aggregation, same oracle shape as ev_stream_state.
    */
  def twsReplayOn(s: SparkSession, schema: StructType,
      scratch: String): DataFrame = {
    val prev = s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = s.readStream.schema(schema).parquet(scratch)
      Streaming.drain(Streaming.userStateSummaryTws(stream).toDF())(finalSummary)
    } finally prev match {
      case Some(p) =>
        s.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None =>
        s.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  /** CHAINED stateful streaming under the oracle gate: watermarked
    * dedup -> tumbling-window aggregation, two stateful operators in
    * ONE streaming query (the multi-stateful-operator pipeline Spark
    * supports since 3.5). Dedup keys include the hour bucket so the
    * downstream count is deterministic — distinct users per (hour,
    * event_type) — even though dedup keeps an arbitrary representative
    * row per key: any representative of (user, type, hour) lands in
    * the same window. The append-mode emission rule (window end <=
    * final watermark over the SOURCE event times — dedup passes its
    * input watermark through) is mirrored in the oracle, ms-truncated
    * like the engine computes it.
    */
  def chainReplayOn(s: SparkSession, schema: StructType,
      scratch: String): DataFrame = {
    val stream = s.readStream.schema(schema).parquet(scratch)
    val dedup = Streaming.dedupStream(
      stream.withColumn("hr", date_trunc("hour", col("ts"))),
      Seq("user_id", "event_type", "hr"), "30 minutes")
    val agg = dedup
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_users"))
      .select(col("window.start").as("ws"), col("event_type"),
        col("n_users"))
    Streaming.drain(agg, check = assertSingleDataBatch("ev_stream_chain"))(
      _.select(date_format(col("ws"), "yyyy-MM-dd HH").as("hour"),
          col("event_type"), col("n_users"))
        .orderBy("hour", "event_type"))
  }

  /** UPDATE-mode windowed aggregation under the gate — the third
    * output mode (append is covered by ev_stream_replay and friends;
    * complete doesn't scale and is deliberately absent). Update emits
    * every batch's changed windows immediately — including windows the
    * watermark has NOT closed — so the final per-window value is the
    * MAX across emissions (counts are monotone), and the oracle is the
    * plain per-window count with NO watermark clause: exactly the
    * semantic difference from append, under the value compare.
    */
  def streamUpdateReplay(s: SparkSession, d: String): DataFrame = {
    val stream = replayStream(s, d)
    Streaming.drain(hourlyCounts(stream), "update",
        assertSingleDataBatch("ev_stream_update"))(
      _.groupBy(date_format(col("ws"), "yyyy-MM-dd HH").as("hour"),
          col("event_type"))
        .agg(max("n").as("n"))
        .orderBy("hour", "event_type"))
  }

  /** Clicks joined to purchases as two replayed streams by
    * [[graft.streaming.Streaming.streamStreamJoin]] (real symmetric join
    * state on both sides), drained, and aggregated per user as `aggs`.
    */
  private def clickPurchaseReplay(s: SparkSession, d: String, joinType: String)(
      aggs: Column*): DataFrame = {
    val (batch, scratch) = replayScratch(s, d)
    def stream(t: String) = s.readStream.schema(batch.schema).parquet(scratch)
      .filter(col("event_type") === t)
    Streaming.drain(
      Streaming.streamStreamJoin(stream("click"), stream("purchase"), joinType))(
      _.groupBy("user_id").agg(aggs.head, aggs.tail: _*).orderBy("user_id"))
  }

  /** Stream-stream time-bounded JOIN under the oracle gate: each
    * click's purchases within its trailing 10 minutes, as a per-user
    * match count. Inner-join append emits every match eagerly
    * (watermarks bound STATE, not emission), so the oracle is the plain
    * time-bounded self-join.
    */
  def streamJoinReplay(s: SparkSession, d: String): DataFrame =
    clickPurchaseReplay(s, d, "inner")(
      count(lit(1)).as("n_pairs"),
      min(unix_micros(col("l_ts"))).as("first_us"),
      max(unix_micros(col("r_ts"))).as("last_us"))

  /** Stream-stream LEFT OUTER join under the oracle gate. Unlike the
    * inner join (emit-on-match), outer null-padded rows materialize only
    * when the watermark proves no future match: a click with no purchase
    * emits once the global watermark (min over BOTH inputs of
    * ms-truncated max-event-time minus the 30-min delay) passes its
    * l_ts — the condition r_ts <= l_ts means any future purchase
    * (ts >= watermark) can only match clicks at or above the watermark.
    * Clicks inside the final watermark horizon never emit; the oracle
    * reproduces exactly that eviction rule.
    */
  def streamLeftOuterReplay(s: SparkSession, d: String): DataFrame =
    clickPurchaseReplay(s, d, "leftOuter")(
      count(col("r_ts")).as("n_pairs"),
      (count(lit(1)) - count(col("r_ts"))).as("n_outer"),
      min(unix_micros(col("l_ts"))).as("first_us"),
      max(unix_micros(col("r_ts"))).as("last_us"))

  /** Stream-stream FULL OUTER join under the oracle gate: clicks AND
    * purchases each emit null-padded when the final watermark proves
    * no counterpart. Left rows evict at wm > l_ts (same rule as the
    * left-outer replay); right rows evict at wm > r_ts + 10 min — a
    * future click can match a purchase up to 10 minutes back, so
    * purchases stay in state a full window longer than clicks. The
    * oracle reproduces both eviction boundaries (ms-truncated
    * watermark, strict compare).
    */
  def streamFullOuterReplay(s: SparkSession, d: String): DataFrame =
    clickPurchaseReplay(s, d, "fullOuter")(
      count(when(col("l_ts").isNotNull && col("r_ts").isNotNull,
        lit(1))).as("n_pairs"),
      count(when(col("l_ts").isNotNull && col("r_ts").isNull,
        lit(1))).as("n_left_outer"),
      count(when(col("l_ts").isNull && col("r_ts").isNotNull,
        lit(1))).as("n_right_outer"),
      min(unix_micros(col("l_ts"))).as("first_us"),
      max(unix_micros(col("r_ts"))).as("last_us"))

  /** Stream-stream LEFT SEMI join under the oracle gate: clicks with at
    * least one purchase in their 10-minute lookback, each click emitted
    * at most once — the dedup the inner join's pair multiplication
    * can't give.
    */
  def streamSemiReplay(s: SparkSession, d: String): DataFrame =
    clickPurchaseReplay(s, d, "leftSemi")(
      count(lit(1)).as("n_clicks"),
      min(unix_micros(col("l_ts"))).as("first_us"),
      max(unix_micros(col("l_ts"))).as("last_us"))

  /** Multi-SOURCE streaming union under the oracle gate: the events
    * corpus split by event_id parity into two independent file-stream
    * sources (separate scratch dirs, separate readStream plans), each
    * branch tagged with its source id, unioned into ONE streaming
    * query with the watermark applied to the union — so the watermark
    * tracks the max event time across BOTH sources, exactly the
    * multi-topic/multi-region ingestion shape. Emission rule is the
    * plain append rule over the combined stream; per-(hour, source)
    * counts keep each branch's lineage visible in the compare.
    */
  def streamUnionReplay(s: SparkSession, d: String): DataFrame = {
    val batch = Tables.events(s, d)
    def src(tag: Int) = s.readStream.schema(batch.schema)
      .parquet(Tables.copyOf(batch.filter(col("event_id") % 2 === tag), d,
        "events", s"stream_half$tag"))
      .withColumn("src", lit(tag.toLong))
    val unioned = src(0).unionByName(src(1))
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("src"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("ws"), col("src"), col("n"))
    Streaming.drain(unioned)(
      _.select(date_format(col("ws"), "yyyy-MM-dd HH").as("hour"),
          col("src"), col("n"))
        .orderBy("hour", "src"))
  }

  /** The watermark-closed windowed replay through Spark's
    * TRANSACTIONAL FILE SINK instead of the memory sink — the sink
    * surface a production pipeline actually writes: parquet data
    * files + a `_spark_metadata` commit log + a checkpoint dir, giving
    * exactly-once ACROSS RESTARTS (a re-run against the same completed
    * checkpoint commits nothing, so the read-back is idempotent — the
    * property the memory sink cannot show). The batch read-back of the
    * output dir honors the commit log, so uncommitted/orphan files are
    * invisible. The checkpoint and output are mutable state whose logs
    * record absolute paths, so they live in [[Scratch.jvm]], named after
    * the replay copy (`<copy>_fsink_ck`, `<copy>_fsink_out`, see
    * [[fileSinkDir]]): they inherit its source fingerprint, and they go
    * when the JVM does, so no other checkout or JVM ever restores them.
    * The first call in a JVM is a fresh run; a later call in that JVM is
    * a restart, not a duplicate. Result = the same closed-window counts
    * as ev_stream_replay (shared oracle arithmetic).
    */
  def streamFileSinkReplay(s: SparkSession, d: String): DataFrame = {
    val (batch, scratch) = replayScratch(s, d)
    val stream = s.readStream.schema(batch.schema).parquet(scratch)
    val outDir = fileSinkDir(scratch, "out")
    val q = hourlyCounts(stream).writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", fileSinkDir(scratch, "ck"))
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination()
    finally q.stop()
    byHour(s.read.parquet(outDir))
  }

  /** `<Scratch.jvm>/<copy>_fsink_<part>`: the file-sink replay's state
    * for the replay copy at `scratch` (`part` is `out` or `ck`). */
  private[graft] def fileSinkDir(scratch: String, part: String): String =
    new java.io.File(Scratch.jvm, s"${new java.io.File(scratch).getName}_fsink_$part").getPath

  /** The append-mode emission rule in SQL, the oracle of every replay
    * that emits exactly the windows its final watermark closed: a
    * tumbling window materializes iff the final watermark
    * (max ts - 30 min) passed its end. */
  private val closedWindowsSql = """
      WITH m AS (SELECT max(ts) AS mx FROM events)
      SELECT strftime(date_trunc('hour', ts::TIMESTAMP), '%Y-%m-%d %H') AS hour,
             event_type, count(1) AS n
      FROM events, m
      GROUP BY date_trunc('hour', ts::TIMESTAMP), event_type, mx
      HAVING date_trunc('hour', ts::TIMESTAMP) + INTERVAL 1 HOUR
               <= mx - INTERVAL 30 MINUTE
      ORDER BY hour, event_type"""

  override def rows: Seq[Query] = Seq(
    // -- watermark semantics, oracle-checked (see windowedReplayOn) -----------
    Query("ev_stream_replay", onScratch(windowedReplayOn),
      closedWindowsSql),
    Query("ev_stream_file_sink", (s, d) => streamFileSinkReplay(s, d),
      // file sink: same emission rule as the memory-sink replay — the
      // sink changes durability (commit log + checkpoint), not content
      closedWindowsSql),
    Query("ev_stream_multibatch", (s, d) => streamMultiBatchReplay(s, d),
      // multi-batch replay over time-monotone chunks drops nothing and
      // emits exactly the windows the FINAL watermark closed — the same
      // batching-invariant emission rule as the single-batch replay
      closedWindowsSql),
    Query("ev_stream_late_drop", (s, d) => streamLateDropReplay(s, d),
      // the late-data path, drop rule EXPLICIT: the three synthetic
      // chunk-5/6 rows (see lateDropScratch) are reconstructed from
      // max(ts) with the same interval arithmetic; a synthetic row
      // survives iff its hourly window end > its batch's late-events
      // watermark (mx - 30 min for the chunk-6 row — chunks 5/6 rows are
      // all well inside their filters except the mx - 3 h plant) — that
      // predicate IS Spark's numRowsDroppedByWatermark filter, and it
      // kills the mx - 3 h row. Emission = windows the FINAL watermark
      // (mx + 2 h - 30 min, courtesy of the wm_push row) closed, which
      // is every real window plus the accepted late_probe's — and never
      // wm_push's own.
      """
      WITH m AS (SELECT max(ts) AS mx FROM events),
           syn AS (SELECT mx - INTERVAL 3 HOUR AS ts,
                          'late_probe' AS event_type FROM m
                   UNION ALL
                   SELECT mx - INTERVAL 20 MINUTE, 'late_probe' FROM m
                   UNION ALL
                   SELECT mx + INTERVAL 2 HOUR, 'wm_push' FROM m),
           kept AS (SELECT s.ts, s.event_type FROM syn s, m
                    WHERE date_trunc('hour', s.ts) + INTERVAL 1 HOUR
                            > mx - INTERVAL 30 MINUTE),
           aug AS (SELECT ts::TIMESTAMP AS ts, event_type FROM events
                   UNION ALL
                   SELECT ts, event_type FROM kept)
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour,
             event_type, count(1) AS n
      FROM aug, m
      GROUP BY date_trunc('hour', ts), event_type, mx
      HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR
               <= mx + INTERVAL 2 HOUR - INTERVAL 30 MINUTE
      ORDER BY hour, event_type"""),

    // -- stream-stream join, driver-checked (see streamJoinReplay) --------
    Query("ev_stream_join", (s, d) => streamJoinReplay(s, d),
      // inner stream-stream joins emit every match (state-bounding only),
      // so the mirror is the plain time-bounded self-join
      """
      SELECT l.user_id AS user_id, count(1) AS n_pairs,
             min(epoch_us(l.ts)) AS first_us, max(epoch_us(r.ts)) AS last_us
      FROM events l JOIN events r
        ON l.user_id = r.user_id
       AND l.event_type = 'click' AND r.event_type = 'purchase'
       AND epoch_us(r.ts) >= epoch_us(l.ts) - 600000000
       AND epoch_us(r.ts) <= epoch_us(l.ts)
      GROUP BY l.user_id
      ORDER BY user_id"""),
    Query("ev_stream_semi", (s, d) => streamSemiReplay(s, d),
      // semi = batch EXISTS over a complete replay: each click row emits
      // at most once, no pair multiplication, no eviction rows
      """
      SELECT c.user_id AS user_id, count(1) AS n_clicks,
             min(epoch_us(c.ts)) AS first_us, max(epoch_us(c.ts)) AS last_us
      FROM events c
      WHERE c.event_type = 'click'
        AND EXISTS (
          SELECT 1 FROM events p
          WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
            AND epoch_us(p.ts) >= epoch_us(c.ts) - 600000000
            AND epoch_us(p.ts) <= epoch_us(c.ts))
      GROUP BY c.user_id
      ORDER BY user_id"""),

    // -- stream-stream left outer, driver-checked (see above) -------------
    Query("ev_stream_outer", (s, d) => streamLeftOuterReplay(s, d),
      // left-outer emission rule mirrored: matched pairs emit eagerly;
      // a null-padded row emits only for clicks strictly below the final
      // global watermark = least over both inputs of (ms-truncated max
      // event time - 30 min). Clicks in the last 30 minutes of either
      // stream never emit an outer row.
      """
      WITH c AS (SELECT user_id, epoch_us(ts) AS us FROM events
                 WHERE event_type = 'click'),
           p AS (SELECT user_id, epoch_us(ts) AS us FROM events
                 WHERE event_type = 'purchase'),
           wm AS (SELECT least(
                    ((SELECT max(us) FROM c) // 1000 - 1800000) * 1000,
                    ((SELECT max(us) FROM p) // 1000 - 1800000) * 1000)
                    AS wm_us),
           m AS (SELECT c.user_id, c.us AS l_us, p.us AS r_us
                 FROM c JOIN p ON c.user_id = p.user_id
                  AND p.us >= c.us - 600000000 AND p.us <= c.us),
           o AS (SELECT c.user_id, c.us AS l_us, NULL::BIGINT AS r_us
                 FROM c, wm
                 WHERE c.us < wm.wm_us
                   AND NOT EXISTS (
                     SELECT 1 FROM p WHERE p.user_id = c.user_id
                      AND p.us >= c.us - 600000000 AND p.us <= c.us)),
           a AS (SELECT * FROM m UNION ALL SELECT * FROM o)
      SELECT user_id,
             count(r_us) AS n_pairs,
             count(1) - count(r_us) AS n_outer,
             min(l_us) AS first_us,
             max(r_us) AS last_us
      FROM a
      GROUP BY user_id
      ORDER BY user_id"""),

    // -- stream-stream FULL OUTER join: both sides' watermark-proven
    //    non-matches emit null-padded (see streamFullOuterReplay) ------
    Query("ev_stream_full", (s, d) => streamFullOuterReplay(s, d),
      // full outer: the left-outer rule (click outer iff wm > l_us) plus
      // the right eviction boundary (purchase outer iff wm > r_us + 10min
      // — a future click can reach 10 minutes back)
      """
      WITH c AS (SELECT user_id, epoch_us(ts) AS us FROM events
                 WHERE event_type = 'click'),
           p AS (SELECT user_id, epoch_us(ts) AS us FROM events
                 WHERE event_type = 'purchase'),
           wm AS (SELECT least(
                    ((SELECT max(us) FROM c) // 1000 - 1800000) * 1000,
                    ((SELECT max(us) FROM p) // 1000 - 1800000) * 1000)
                    AS wm_us),
           m AS (SELECT c.user_id, c.us AS l_us, p.us AS r_us
                 FROM c JOIN p ON c.user_id = p.user_id
                  AND p.us >= c.us - 600000000 AND p.us <= c.us),
           lo AS (SELECT c.user_id, c.us AS l_us, NULL::BIGINT AS r_us
                  FROM c, wm
                  WHERE c.us < wm.wm_us
                    AND NOT EXISTS (
                      SELECT 1 FROM p WHERE p.user_id = c.user_id
                       AND p.us >= c.us - 600000000 AND p.us <= c.us)),
           ro AS (SELECT p.user_id, NULL::BIGINT AS l_us, p.us AS r_us
                  FROM p, wm
                  WHERE p.us + 600000000 < wm.wm_us
                    AND NOT EXISTS (
                      SELECT 1 FROM c WHERE c.user_id = p.user_id
                       AND p.us >= c.us - 600000000 AND p.us <= c.us)),
           a AS (SELECT * FROM m UNION ALL SELECT * FROM lo
                 UNION ALL SELECT * FROM ro)
      SELECT user_id,
             sum(CASE WHEN l_us IS NOT NULL AND r_us IS NOT NULL
                 THEN 1 ELSE 0 END)::BIGINT AS n_pairs,
             sum(CASE WHEN l_us IS NOT NULL AND r_us IS NULL
                 THEN 1 ELSE 0 END)::BIGINT AS n_left_outer,
             sum(CASE WHEN l_us IS NULL AND r_us IS NOT NULL
                 THEN 1 ELSE 0 END)::BIGINT AS n_right_outer,
             min(l_us) AS first_us,
             max(r_us) AS last_us
      FROM a
      GROUP BY user_id
      ORDER BY user_id"""),

    // -- multi-source streaming union: two file-stream sources, one
    //    query, shared post-union watermark (see streamUnionReplay) ----
    Query("ev_stream_union", (s, d) => streamUnionReplay(s, d),
      // multi-source union: append rule over the COMBINED stream (the
      // final watermark is the max event time across both halves), with
      // source identity = event_id parity
      """
      WITH m AS (SELECT max(ts) AS mx FROM events)
      SELECT strftime(date_trunc('hour', ts::TIMESTAMP), '%Y-%m-%d %H')
               AS hour,
             (event_id % 2) AS src, count(1) AS n
      FROM events, m
      GROUP BY date_trunc('hour', ts::TIMESTAMP), event_id % 2, mx
      HAVING date_trunc('hour', ts::TIMESTAMP) + INTERVAL 1 HOUR
               <= mx - INTERVAL 30 MINUTE
      ORDER BY hour, src"""),

    // -- streaming session windows, driver-checked ------------------------
    Query("ev_stream_session", onScratch(sessionReplayOn),
      // gap sessionization + the append-mode emission rule: only sessions
      // whose end cleared the final watermark, which Spark tracks at
      // MILLISECOND precision (max event ms - delay ms) — mirrored here
      // with the same truncation
      s"""
      WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
           flagged AS (
             SELECT user_id, event_id, us,
                    CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
                              OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) >= $GAP_US
                         THEN 1 ELSE 0 END AS new_s
             FROM e),
           sess AS (
             SELECT user_id, us,
                    sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
             FROM flagged),
           agg AS (
             SELECT min(us) AS start_us, max(us) + $GAP_US AS end_us,
                    user_id, count(1) AS n_events
             FROM sess GROUP BY user_id, sid),
           m AS (SELECT ((max(epoch_us(ts)) // 1000) - 1800000) * 1000 AS wm_us
                 FROM events)
      SELECT start_us, end_us, user_id, n_events
      FROM agg, m
      WHERE end_us <= wm_us
      ORDER BY user_id, start_us"""),

    // -- streaming dedup, driver-checked (see streamDedupReplay) ----------
    Query("ev_stream_dedup", (s, d) => streamDedupReplay(s, d),
      // single-replay dedup keeps every first-seen (user, type) pair, so
      // the surviving key set equals the batch distinct — per-user
      // distinct-type counts are the deterministic compare
      """
      SELECT user_id, count(DISTINCT event_type) AS n_types
      FROM events
      GROUP BY user_id
      ORDER BY user_id"""),

    // -- custom state machine (flatMapGroupsWithState) under the gate:
    //    per-user count / last event time / distinct-type set carried
    //    in state; monotone emissions -> batch-invariant final maxima --
    Query("ev_stream_state", (s, d) => streamStateReplay(s, d),
      """
      SELECT user_id, count(1) AS n_events, max(epoch_us(ts)) AS last_us,
             count(DISTINCT event_type) AS n_types
      FROM events
      GROUP BY user_id
      ORDER BY user_id"""),
    Query("ev_stream_enrich", (s, d) => streamEnrichReplay(s, d),
      // stateless broadcast enrichment emits every row exactly once
      // under AvailableNow, so the mirror is the plain batch join + agg;
      // unmatched user_ids coalesce to '(none)' on both sides so null
      // ORDER BY placement differences can't flip the positional compare
      """
      SELECT coalesce(c.c_mktsegment, '(none)') AS segment, e.event_type,
             count(1) AS n_events,
             sum(round(e.value * 100)::BIGINT)::BIGINT AS value_cents
      FROM events e
      LEFT JOIN customer c ON e.user_id = c.c_custkey
      GROUP BY 1, 2
      ORDER BY segment, event_type"""),

    // -- chained stateful operators: dedup -> window agg in one query --
    Query("ev_stream_chain", onScratch(chainReplayOn),
      // chained dedup -> window agg: dedup keys include the hour bucket,
      // so the downstream count is distinct users per (hour, type); the
      // append emission rule (window end <= ms-truncated final watermark
      // over SOURCE event times) mirrors ev_stream_session's
      """
      WITH k AS (SELECT DISTINCT user_id, event_type,
                        date_trunc('hour', ts::TIMESTAMP) AS hr
                 FROM events),
           m AS (SELECT ((max(epoch_us(ts)) // 1000) - 1800000) * 1000
                   AS wm_us
                 FROM events)
      SELECT strftime(hr, '%Y-%m-%d %H') AS hour, event_type,
             count(1) AS n_users
      FROM k, m
      WHERE epoch_us(hr + INTERVAL 1 HOUR) <= wm_us
      GROUP BY hr, event_type
      ORDER BY hour, event_type"""),

    // -- UPDATE-mode windowed agg: eager emission of open windows,
    //    max-folded to the deterministic final value ---------------------
    Query("ev_stream_update", (s, d) => streamUpdateReplay(s, d),
      // update mode emits EVERY window (open ones too), so the mirror is
      // the plain count with no watermark clause — the semantic line
      // between update and append, under the value compare
      """
      SELECT strftime(date_trunc('hour', ts::TIMESTAMP), '%Y-%m-%d %H')
               AS hour,
             event_type, count(1) AS n
      FROM events
      GROUP BY 1, 2
      ORDER BY hour, event_type"""),

    // -- transformWithState (Spark 4 arbitrary state API): the
    //    ev_stream_state machine on typed ValueState/MapState variables
    //    in RocksDB column families -------------------------------------
    Query("ev_stream_tws", onScratch(twsReplayOn),
      // transformWithState runs the same per-user machine as
      // ev_stream_state, so its monotone final maxima mirror the same
      // batch aggregate
      """
      SELECT user_id, count(1) AS n_events, max(epoch_us(ts)) AS last_us,
             count(DISTINCT event_type) AS n_types
      FROM events
      GROUP BY user_id
      ORDER BY user_id"""),

    // -- gap fill / densification: every (hour, event_type) bucket in the
    //    observed time range, zero-filled where no events landed. The
    //    grid is DIMENSION-sized (range x type cardinality, independent
    //    of |events|), built from a 1-row bounds aggregate + sequence()
    //    + a distinct-types frame, then left-joined against the real
    //    per-bucket counts — at 100 TB the grid stays tiny and
    //    broadcasts while the counts side is one hash agg over the scan.
    Query("ev_gap_fill", (s, d) => {
      val e = ev(s, d)
      val hours = e
        .agg(date_trunc("hour", min(col("ts"))).as("lo"),
          date_trunc("hour", max(col("ts"))).as("hi"))
        .select(explode(
          sequence(col("lo"), col("hi"), expr("INTERVAL 1 HOUR"))).as("h"))
      val grid = hours.crossJoin(e.select("event_type").distinct())
      val counts = e
        .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      grid.join(counts, Seq("h", "event_type"), "left")
        .select(date_format(col("h"), "yyyy-MM-dd HH").as("hour"),
          col("event_type"), coalesce(col("cnt"), lit(0L)).as("n"))
        .orderBy("hour", "event_type")
    },
      """
      WITH b AS (SELECT date_trunc('hour', min(ts)::TIMESTAMP) AS lo,
                        date_trunc('hour', max(ts)::TIMESTAMP) AS hi
                 FROM events),
           h AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
                 FROM b),
           t AS (SELECT DISTINCT event_type FROM events),
           c AS (SELECT date_trunc('hour', ts::TIMESTAMP) AS h, event_type,
                        count(1) AS cnt
                 FROM events GROUP BY 1, 2)
      SELECT strftime(h.h, '%Y-%m-%d %H') AS hour,
             t.event_type AS event_type, coalesce(c.cnt, 0) AS n
      FROM h CROSS JOIN t
      LEFT JOIN c ON c.h = h.h AND c.event_type = t.event_type
      ORDER BY hour, t.event_type"""),

    // -- tumbling window (batch twin of streaming groupBy(window)) --------
    Query("ev_tumbling", (s, d) =>
      ev(s, d)
        .groupBy(
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH").as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), (sum(valE2) / 100.0).as("total_value"))
        .orderBy("hour", "event_type"),
      """
      SELECT strftime(date_trunc('hour', ts::TIMESTAMP), '%Y-%m-%d %H') AS hour,
             event_type, count(1) AS n,
             sum(round(value * 100)::BIGINT) / 100.0 AS total_value
      FROM events
      GROUP BY 1, 2
      ORDER BY hour, event_type"""),

    // -- sliding window via native window() (10 min size, 5 min slide) ----
    Query("ev_sliding", (s, d) =>
      ev(s, d)
        .select(col("event_type"), window(col("ts"), "10 minutes", "5 minutes").as("w"))
        .groupBy(unix_micros(col("w.start")).as("ws_us"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy("ws_us", "event_type"),
      """
      WITH x AS (SELECT event_type, epoch_us(ts) AS us FROM events),
           w AS (SELECT event_type, (us // 300000000 - i.i) * 300000000 AS ws_us
                 FROM x CROSS JOIN (SELECT unnest(range(0, 2)) AS i) i)
      SELECT ws_us, event_type, count(1) AS n
      FROM w
      GROUP BY ws_us, event_type
      ORDER BY ws_us, event_type"""),

    // -- per-user profile --------------------------------------------------
    Query("ev_user_stats", (s, d) =>
      ev(s, d)
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("event_type")).as("n_types"),
          min(us).as("first_us"),
          max(us).as("last_us"),
          (sum(valE2) / 100.0).as("total_value"))
        .orderBy("user_id"),
      """
      SELECT user_id, count(1) AS n_events,
             count(DISTINCT event_type) AS n_types,
             min(epoch_us(ts)) AS first_us,
             max(epoch_us(ts)) AS last_us,
             sum(round(value * 100)::BIGINT) / 100.0 AS total_value
      FROM events
      GROUP BY user_id
      ORDER BY user_id"""),

    // -- trailing-window outlier detection, EXACT: flag events whose
    //    value sits > 3 population-sigmas from the mean of the previous
    //    <= 20 events of the same user. The z-test is cleared of
    //    divisions/sqrts — (n·v − s)² > 9·(n·ssq − s²) over integer
    //    cents — so both engines decide every boundary identically
    //    (bounds: n <= 20, v <= ~1e5 cents keeps every product far from
    //    Long range). One partitioned window, no shuffle beyond it. -------
    Query("ev_outliers", (s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("us"), col("event_id"))
        .rowsBetween(-20, -1)
      val dev = col("wn") * col("v") - col("ws")
      ev(s, d)
        .select(col("user_id"), col("event_id"), us.as("us"), valE2.as("v"))
        .withColumn("wn", count(col("v")).over(w))
        .withColumn("ws", sum(col("v")).over(w))
        .withColumn("wss", sum(col("v") * col("v")).over(w))
        .filter(col("wn") >= 10 &&
          dev * dev > lit(9L) * (col("wn") * col("wss") - col("ws") * col("ws")))
        .select(col("user_id"), col("us"), col("event_id"),
          col("v").as("val_e2"), col("wn").as("win_n"))
        .orderBy("user_id", "us", "event_id")
    },
      // the z-test in DuckDB runs in HUGEINT (sum over BIGINT); values are
      // bounded far inside int64, so the comparisons agree with Spark's
      // long arithmetic exactly
      """
      WITH b AS (SELECT user_id, event_id, epoch_us(ts) AS us,
                        round(value * 100)::BIGINT AS v
                 FROM events),
           w AS (SELECT user_id, event_id, us, v,
                        count(v) OVER win AS wn,
                        sum(v) OVER win AS ws,
                        sum(v * v) OVER win AS wss
                 FROM b
                 WINDOW win AS (PARTITION BY user_id ORDER BY us, event_id
                                ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
      SELECT user_id, us, event_id, v AS val_e2, wn AS win_n
      FROM w
      WHERE wn >= 10
        AND (wn*v - ws) * (wn*v - ws) > 9 * (wn*wss - ws*ws)
      ORDER BY user_id, us, event_id"""),

    // -- sessionization: 30-min inactivity gap ----------------------------
    Query("ev_sessionize", (s, d) => {
      val wOrd = Window.partitionBy("user_id").orderBy("us", "event_id")
      val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev(s, d)
        .select(col("user_id"), col("event_id"), us.as("us"))
        .withColumn("prev", lag("us", 1).over(wOrd))
        .withColumn("new_s",
          when(col("prev").isNull || col("us") - col("prev") > GAP_US, 1L).otherwise(0L))
        .withColumn("sid", sum("new_s").over(wRun))
        .groupBy("user_id", "sid")
        .agg(count(lit(1)).as("n_ev"), (max("us") - min("us")).as("span_us"))
        .groupBy("user_id")
        .agg(
          max("sid").as("n_sessions"),
          max("n_ev").as("max_session_events"),
          max("span_us").as("max_session_span_us"))
        .orderBy("user_id")
    },
      s"""
      WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
           flagged AS (
             SELECT user_id, event_id, us,
                    CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
                              OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) > $GAP_US
                         THEN 1 ELSE 0 END AS new_s
             FROM e),
           sess AS (
             SELECT user_id, us,
                    sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
             FROM flagged),
           per_sess AS (
             SELECT user_id, sid, count(1) AS n_ev, max(us) - min(us) AS span_us
             FROM sess GROUP BY user_id, sid)
      SELECT user_id, max(sid)::BIGINT AS n_sessions,
             max(n_ev) AS max_session_events,
             max(span_us) AS max_session_span_us
      FROM per_sess
      GROUP BY user_id
      ORDER BY user_id"""),

    // -- event-sequence pattern match (the MATCH_RECOGNIZE family):
    //    each user's event stream folds into a bounded type-initial
    //    string in deterministic (ts, event_id) order (the five gate
    //    types have distinct initials), then ordinary regex/LIKE
    //    predicates detect behavioral patterns — signup→…→view→…→
    //    purchase, consecutive errors. The per-user sequence is CAPPED
    //    at SEQ_CAP events (row_number filter BEFORE the fold), so the
    //    agg buffer is bounded on any corpus — the classical guard for
    //    a bot user with 10M events; cap mirrored verbatim in the
    //    oracle. One user-partitioned window (the sort sessionization
    //    already pays) + one hash agg; the regex runs on |users| rows,
    //    never event rows. ----------------------------------------------
    Query("ev_seqmatch", (s, d) => {
      val wOrd = Window.partitionBy("user_id").orderBy("us", "event_id")
      ev(s, d)
        .select(col("user_id"), col("event_id"), us.as("us"),
          substring(col("event_type"), 1, 1).as("c"))
        .withColumn("rk", row_number().over(wOrd))
        .filter(col("rk") <= SEQ_CAP)
        .groupBy("user_id")
        .agg(array_join(transform(
            array_sort(collect_list(struct(col("rk"), col("c")))),
            x => x("c")), "").as("seq"))
        .agg(
          count(lit(1)).as("n_users"),
          sum(when(col("seq").rlike("s.*v.*p"), 1L).otherwise(0L))
            .as("n_svp"),
          sum(when(col("seq").like("%ee%"), 1L).otherwise(0L))
            .as("n_ee"),
          sum(when(col("seq").like("s%"), 1L).otherwise(0L))
            .as("n_first_signup"),
          max(length(col("seq"))).cast("long").as("max_len"))
    },
      s"""
      WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us,
                        substr(event_type, 1, 1) AS c
                 FROM events),
           r AS (SELECT user_id, c,
                        row_number() OVER (PARTITION BY user_id
                          ORDER BY us, event_id) AS rk
                 FROM e),
           sq AS (SELECT user_id, string_agg(c, '' ORDER BY rk) AS seq
                  FROM r WHERE rk <= $SEQ_CAP
                  GROUP BY user_id)
      SELECT count(1) AS n_users,
             sum(CASE WHEN regexp_matches(seq, 's.*v.*p')
                 THEN 1 ELSE 0 END)::BIGINT AS n_svp,
             sum(CASE WHEN seq LIKE '%ee%' THEN 1 ELSE 0 END)::BIGINT
               AS n_ee,
             sum(CASE WHEN seq LIKE 's%' THEN 1 ELSE 0 END)::BIGINT
               AS n_first_signup,
             max(length(seq)) AS max_len
      FROM sq"""),

    // -- first-order Markov transition matrix over per-user event
    //    streams (the behavioral-model / anomaly-baseline primitive):
    //    lead(event_type) in the user's (ts, event_id)-deterministic
    //    order pairs each event with its successor, then one hash agg
    //    counts (from, to) and a per-from window over the tiny
    //    |types|^2 aggregate attaches the row margin — transition
    //    probability in integer per-mille (BIGINT div, bit-equal both
    //    engines). The only shuffle over event-scale data is the
    //    user-partitioned window sort sessionization already pays;
    //    everything after the agg is |types|^2 rows at any corpus
    //    size. ----------------------------------------------------------
    Query("ev_markov", (s, d) => {
      val wOrd = Window.partitionBy("user_id").orderBy("us", "event_id")
      ev(s, d)
        .select(col("user_id"), col("event_id"), us.as("us"),
          col("event_type"))
        .withColumn("to_type", lead("event_type", 1).over(wOrd))
        .filter(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("n_from",
          sum("n").over(Window.partitionBy("from_type")))
        .select(col("from_type"), col("to_type"), col("n"),
          expr("(1000 * n) DIV n_from").as("p_mille"))
        .orderBy("from_type", "to_type")
    },
      """
      WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, event_type
                 FROM events),
           t AS (SELECT event_type AS from_type,
                        lead(event_type) OVER (PARTITION BY user_id
                          ORDER BY us, event_id) AS to_type
                 FROM e),
           c AS (SELECT from_type, to_type, count(1) AS n
                 FROM t WHERE to_type IS NOT NULL
                 GROUP BY from_type, to_type)
      SELECT from_type, to_type, n,
             ((1000 * n) // (sum(n) OVER (PARTITION BY from_type)))::BIGINT
               AS p_mille
      FROM c
      ORDER BY from_type, to_type"""),

    // -- interval-overlap join: sessions x incident windows ---------------
    // True interval x interval overlap (vs ev_range_join's point-in-
    // window): each user session [s_start, s_end] against each error's
    // trailing 10-min incident window. Scalable shape: both interval
    // sets explode into coarse time buckets -> equi-join on
    // (user, bucket) -> residual overlap predicate -> dedup (a pair can
    // co-occur in several buckets). No nested-loop over intervals.
    Query("ev_interval_join", (s, d) => {
      val B = 3600000000L // 1 h buckets
      val wOrd = Window.partitionBy("user_id").orderBy("us", "event_id")
      val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val sess = ev(s, d)
        .select(col("user_id"), col("event_id"), us.as("us"))
        .withColumn("prev", lag("us", 1).over(wOrd))
        .withColumn("new_s",
          when(col("prev").isNull || col("us") - col("prev") > GAP_US, 1L).otherwise(0L))
        .withColumn("sid", sum("new_s").over(wRun))
        .groupBy("user_id", "sid")
        .agg(min("us").as("s_start"), max("us").as("s_end"))
      val inc = ev(s, d).filter(col("event_type") === "error")
        .select(col("event_id").as("inc_id"), col("user_id").as("i_user"),
          (us - W_US).as("i_start"), us.as("i_end"))
      val sessB = sess.select(col("user_id"), col("sid"),
        col("s_start"), col("s_end"),
        explode(sequence(expr(s"s_start div $B"), expr(s"s_end div $B"))).as("bkt"))
      val incB = inc.select(col("inc_id"), col("i_user"),
        col("i_start"), col("i_end"),
        explode(sequence(expr(s"i_start div $B"), expr(s"i_end div $B"))).as("bkt"))
      sessB.join(incB,
          col("user_id") === col("i_user") && sessB("bkt") === incB("bkt") &&
          col("s_start") <= col("i_end") && col("i_start") <= col("s_end"))
        .select(col("inc_id"), col("user_id"), col("sid"),
          col("s_start").as("s_start_us"), col("s_end").as("s_end_us"))
        .dropDuplicates("inc_id", "user_id", "sid")
        .orderBy("inc_id", "user_id", "sid")
    },
      s"""
      WITH e AS (SELECT user_id, event_id, us FROM
                   (SELECT user_id, event_id, epoch_us(ts) AS us FROM events)),
           flagged AS (
             SELECT user_id, event_id, us,
                    CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
                              OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) > $GAP_US
                         THEN 1 ELSE 0 END AS new_s
             FROM e),
           sids AS (
             SELECT user_id, us,
                    sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
             FROM flagged),
           sess AS (
             SELECT user_id, sid, min(us) AS s_start, max(us) AS s_end
             FROM sids GROUP BY user_id, sid),
           inc AS (
             SELECT event_id AS inc_id, user_id,
                    epoch_us(ts) - $W_US AS i_start, epoch_us(ts) AS i_end
             FROM events WHERE event_type = 'error')
      SELECT i.inc_id, s.user_id, s.sid::BIGINT AS sid,
             s.s_start AS s_start_us, s.s_end AS s_end_us
      FROM sess s JOIN inc i
        ON s.user_id = i.user_id
       AND s.s_start <= i.i_end AND i.i_start <= s.s_end
      ORDER BY inc_id, s.user_id, sid"""),

    // -- typed per-group imperative logic (Dataset mapGroups slot) --------
    // Longest gap between consecutive events per user, computed by
    // sorting each group's timestamps imperatively — the API shape for
    // per-key logic that window functions can't express (here they
    // could, which is exactly what makes it oracle-checkable).
    Query("ev_typed_gaps", (s, d) => {
      import s.implicits._
      ev(s, d).select(col("user_id"), us.as("us"))
        .as[(Long, Long)]
        .groupByKey(_._1)
        .mapGroups { (uid, rows) =>
          val ts = rows.map(_._2).toArray
          java.util.Arrays.sort(ts)
          var maxGap = 0L
          var i = 1
          while (i < ts.length) {
            if (ts(i) - ts(i - 1) > maxGap) maxGap = ts(i) - ts(i - 1)
            i += 1
          }
          (uid, ts.length.toLong, maxGap)
        }
        .toDF("user_id", "n_events", "max_gap_us")
        .orderBy("user_id")
    },
      """
      WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
           g AS (SELECT user_id,
                        us - lag(us) OVER (PARTITION BY user_id ORDER BY us) AS gap
                 FROM e)
      SELECT user_id, count(1) AS n_events,
             coalesce(max(gap), 0)::BIGINT AS max_gap_us
      FROM g
      GROUP BY user_id
      ORDER BY user_id"""),

    // -- funnel analysis: signup -> click -> purchase, strictly ordered ---
    // Stage timestamps chain through three window passes over ONE
    // user-partitioned shuffle (t2 = first click at-or-after t1, etc.);
    // integer epoch-us comparisons keep it engine-exact.
    Query("ev_funnel", (s, d) => {
      val wu = Window.partitionBy("user_id")
      ev(s, d).select(col("user_id"), col("event_type"), us.as("us"))
        .withColumn("t1",
          min(when(col("event_type") === "signup", col("us"))).over(wu))
        .withColumn("t2",
          min(when(col("event_type") === "click" && col("us") >= col("t1"),
            col("us"))).over(wu))
        .withColumn("t3",
          min(when(col("event_type") === "purchase" && col("us") >= col("t2"),
            col("us"))).over(wu))
        .groupBy("user_id")
        .agg(first("t1").as("t1"), first("t2").as("t2"), first("t3").as("t3"))
        .agg(
          count(lit(1)).as("n_users"),
          sum(when(col("t1").isNotNull, 1L).otherwise(0L)).as("n_signup"),
          sum(when(col("t2").isNotNull, 1L).otherwise(0L)).as("n_signup_click"),
          sum(when(col("t3").isNotNull, 1L).otherwise(0L)).as("n_full_funnel"))
    },
      """
      WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
           w1 AS (SELECT *, min(CASE WHEN event_type = 'signup' THEN us END)
                              OVER (PARTITION BY user_id) AS t1 FROM e),
           w2 AS (SELECT *, min(CASE WHEN event_type = 'click' AND us >= t1 THEN us END)
                              OVER (PARTITION BY user_id) AS t2 FROM w1),
           w3 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND us >= t2 THEN us END)
                              OVER (PARTITION BY user_id) AS t3 FROM w2),
           per_user AS (
             SELECT user_id, any_value(t1) AS t1, any_value(t2) AS t2,
                    any_value(t3) AS t3
             FROM w3 GROUP BY user_id)
      SELECT count(1) AS n_users,
             sum(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_signup,
             sum(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_signup_click,
             sum(CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_full_funnel
      FROM per_user"""),

    // -- cohort retention: users active N days after their first day ------
    Query("ev_retention", (s, d) => {
      val DAY_US = 86400000000L
      val days = ev(s, d)
        .select(col("user_id"), us.as("us"))
        .select(col("user_id"), expr(s"us div $DAY_US").as("day"))
        .distinct()
      val cohort = days.groupBy("user_id").agg(min("day").as("d0"))
      days.join(cohort, "user_id")
        .groupBy(col("d0").as("cohort_day"), (col("day") - col("d0")).as("day_offset"))
        .agg(countDistinct("user_id").as("n_active"))
        .filter(col("day_offset") <= 7)
        .orderBy("cohort_day", "day_offset")
    },
      """
      WITH d AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
                 FROM events),
           c AS (SELECT user_id, min(day) AS d0 FROM d GROUP BY user_id)
      SELECT c.d0 AS cohort_day, (d.day - c.d0) AS day_offset,
             count(DISTINCT d.user_id) AS n_active
      FROM d JOIN c ON d.user_id = c.user_id
      WHERE d.day - c.d0 <= 7
      GROUP BY 1, 2
      ORDER BY 1, 2"""),

    // -- rolling active users: DAU / trailing-7-day WAU / stickiness ------
    //    The product-analytics staple, built WITHOUT a sliding window
    //    over events: distinct (user, day) first (one hash agg), then
    //    each active day contributes to the <= 7 window-end days it
    //    falls in (bounded explode), distinct again, and two hash
    //    aggs. No WindowExec anywhere; every frame is user-day-scale
    //    or smaller. Stickiness = DAU/WAU in integer per-mille —
    //    the "how habitual is usage" dial.
    Query("ev_wau", (s, d) => {
      val DAY_US = 86400000000L
      val ud = ev(s, d)
        .select(col("user_id"), expr(s"unix_micros(ts) div $DAY_US").as("day"))
        .distinct()
      val days = ud.select(col("day")).distinct()
      val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
      val wau = ud
        .select(col("user_id"),
          explode(sequence(col("day"), col("day") + 6)).as("w_day"))
        .select(col("user_id"), col("w_day").as("day"))
        .distinct()
        .join(days, "day") // only observed days report a window
        .groupBy("day").agg(count(lit(1)).as("wau"))
      dau.join(wau, "day")
        .select(col("day"), col("dau"), col("wau"),
          expr("(1000 * dau) DIV wau").as("stickiness_mille"))
        .orderBy("day")
    },
      // distinct user-days -> bounded 7-day contribution explode ->
      // distinct -> per-day aggs; no window on either engine
      """
      WITH ud AS (SELECT DISTINCT user_id,
                         (epoch_us(ts) // 86400000000)::BIGINT AS day
                  FROM events),
           days AS (SELECT DISTINCT day FROM ud),
           dau AS (SELECT day, count(1) AS dau FROM ud GROUP BY day),
           w AS (SELECT DISTINCT u.user_id, (u.day + o.o)::BIGINT AS day
                 FROM ud u
                 CROSS JOIN (SELECT unnest(range(0, 7)) AS o) o),
           wau AS (SELECT w.day, count(1) AS wau
                   FROM w JOIN days USING (day)
                   GROUP BY w.day)
      SELECT d.day, d.dau, wau.wau,
             ((1000 * d.dau) // wau.wau)::BIGINT AS stickiness_mille
      FROM dau d JOIN wau USING (day)
      ORDER BY day"""),

    // -- cohort LTV curves: cumulative purchase revenue per (first-
    //    activity-week cohort, age week) — the revenue-side companion
    //    of ev_retention (presence) and ev_rfm (point-in-time value):
    //    which acquisition cohorts pay back, and how fast. Shape: the
    //    cohort map is one per-user agg; revenue cells are one hash agg
    //    over purchases joined to it; the cumulative LTV window is
    //    PARTITIONED BY cohort and ordered by age — frames are
    //    |weeks|-sized per cohort, never user- or event-scale. Integer
    //    cents + DIV throughout.
    Query("ev_cohort_ltv", (s, d) => {
      val WEEK_US = 604800000000L
      val first = ev(s, d).select(col("user_id"), us.as("us"))
        .groupBy("user_id")
        .agg(expr(s"min(us) div $WEEK_US").as("cohort_wk"))
      val size = first.groupBy("cohort_wk").agg(count(lit(1)).as("n_users"))
      val cell = ev(s, d).filter(col("event_type") === "purchase")
        .select(col("user_id"), us.as("p_us"), valE2.as("cents"))
        .join(first, "user_id")
        .groupBy(col("cohort_wk"),
          (expr(s"p_us div $WEEK_US") - col("cohort_wk")).as("age_wk"))
        .agg(sum("cents").as("rev_cents"),
          countDistinct("user_id").as("n_buyers"))
      val wC = Window.partitionBy("cohort_wk").orderBy("age_wk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cell.join(size, "cohort_wk")
        .withColumn("cum_cents", sum("rev_cents").over(wC))
        .select(col("cohort_wk"), col("age_wk"), col("n_users"),
          col("n_buyers"), col("rev_cents"), col("cum_cents"),
          expr("cum_cents DIV n_users").as("ltv_cents"))
        .orderBy("cohort_wk", "age_wk")
    },
      // cohort = first-activity week; cumulative window partitioned by
      // cohort (|weeks|-sized frames); all arithmetic integer
      """
      WITH f AS (SELECT user_id,
                        (min(epoch_us(ts)) // 604800000000)::BIGINT AS cohort_wk
                 FROM events GROUP BY user_id),
           sz AS (SELECT cohort_wk, count(1) AS n_users
                  FROM f GROUP BY cohort_wk),
           cell AS (SELECT f.cohort_wk,
                           ((epoch_us(e.ts) // 604800000000)
                             - f.cohort_wk)::BIGINT AS age_wk,
                           sum(round(e.value * 100)::BIGINT)::BIGINT AS rev_cents,
                           count(DISTINCT e.user_id) AS n_buyers
                    FROM events e JOIN f ON e.user_id = f.user_id
                    WHERE e.event_type = 'purchase'
                    GROUP BY 1, 2),
           cum AS (SELECT *, sum(rev_cents) OVER (PARTITION BY cohort_wk
                     ORDER BY age_wk ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)::BIGINT AS cum_cents
                   FROM cell)
      SELECT c.cohort_wk, c.age_wk, s.n_users, c.n_buyers, c.rev_cents,
             c.cum_cents, (c.cum_cents // s.n_users)::BIGINT AS ltv_cents
      FROM cum c JOIN sz s USING (cohort_wk)
      ORDER BY cohort_wk, age_wk"""),

    // -- pivot: event_type counts per day (conditional aggregation) -------
    Query("ev_pivot", (s, d) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      ev(s, d)
        .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
        .agg(
          count(lit(1)).as("n_total"),
          types.map(t =>
            sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"n_$t")): _*)
        .orderBy("day")
    },
      """
      SELECT strftime(date_trunc('day', ts::TIMESTAMP), '%Y-%m-%d') AS day,
             count(1) AS n_total,
             sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS n_click,
             sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS n_error,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS n_purchase,
             sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT AS n_signup,
             sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS n_view
      FROM events
      GROUP BY 1
      ORDER BY day"""),

    // -- dynamic pivot: RelationalGroupedDataset.pivot discovers the
    //    spread values itself (two-pass: distinct scan, then pivot agg) ----
    Query("ev_pivot_dynamic", (s, d) =>
      ev(s, d)
        .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
        .pivot("event_type")
        .agg(sum(valE2))
        .withColumnsRenamed(
          Seq("click", "error", "purchase", "signup", "view")
            .map(t => t -> s"v_$t").toMap)
        .na.fill(0L)
        .orderBy("day"),
      {
      val cols = Seq("click", "error", "purchase", "signup", "view").map(t =>
        s"coalesce(sum(CASE WHEN event_type = '$t' THEN round(value * 100)::BIGINT END), 0)::BIGINT AS v_$t")
        .mkString(",\n             ")
      s"""
      SELECT strftime(date_trunc('day', ts::TIMESTAMP), '%Y-%m-%d') AS day,
             $cols
      FROM events
      GROUP BY 1
      ORDER BY day"""
    }),

    // -- as-of join: latest purchase at or before each event --------------
    Query("ev_asof_join", (s, d) => {
      val e = ev(s, d).select(col("event_id"), col("user_id"), us.as("us"))
      val purchases = ev(s, d).filter(col("event_type") === "purchase")
        .select(col("user_id"), us.as("us"), valE2.as("pval"))
      AsofJoin.asofBackward(
        e, purchases, key = "user_id", ts = "us",
        payload = Seq("us", "pval"),
        rename = Map("us" -> "prev_purchase_us", "pval" -> "prev_purchase_e2"))
        .select(col("event_id"), col("user_id"),
          col("prev_purchase_us"), col("prev_purchase_e2"))
        .orderBy("event_id")
    },
      """
      WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events),
           p AS (SELECT user_id, epoch_us(ts) AS us,
                        round(value * 100)::BIGINT AS pval
                 FROM events WHERE event_type = 'purchase')
      SELECT e.event_id, e.user_id,
             p.us AS prev_purchase_us,
             p.pval AS prev_purchase_e2
      FROM e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.us >= p.us
      ORDER BY event_id"""),

    // -- forward as-of: next purchase at-or-after each event --------------
    Query("ev_asof_forward", (s, d) => {
      val e = ev(s, d).select(col("event_id"), col("user_id"), us.as("us"))
      val purchases = ev(s, d).filter(col("event_type") === "purchase")
        .select(col("user_id"), us.as("us"), valE2.as("pval"))
      AsofJoin.asofForward(
        e, purchases, key = "user_id", ts = "us",
        payload = Seq("us", "pval"),
        rename = Map("us" -> "next_purchase_us", "pval" -> "next_purchase_e2"))
        .select(col("event_id"), col("user_id"),
          col("next_purchase_us"), col("next_purchase_e2"))
        .orderBy("event_id")
    },
      """
      WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events),
           p AS (SELECT user_id, epoch_us(ts) AS us,
                        round(value * 100)::BIGINT AS pval
                 FROM events WHERE event_type = 'purchase')
      SELECT e.event_id, e.user_id,
             p.us AS next_purchase_us,
             p.pval AS next_purchase_e2
      FROM e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.us <= p.us
      ORDER BY event_id"""),

    // -- backward as-of with 1 h lookback tolerance -----------------------
    Query("ev_asof_tolerance", (s, d) => {
      val e = ev(s, d).select(col("event_id"), col("user_id"), us.as("us"))
      val purchases = ev(s, d).filter(col("event_type") === "purchase")
        .select(col("user_id"), us.as("us"), valE2.as("pval"))
      AsofJoin.asofBackwardWithin(
        e, purchases, key = "user_id", ts = "us",
        payload = Seq("pval"),
        rename = Map("pval" -> "recent_purchase_e2"),
        toleranceUs = 3600L * 1000000L)
        .select(col("event_id"), col("user_id"), col("recent_purchase_e2"))
        .orderBy("event_id")
    },
      """
      WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events),
           p AS (SELECT user_id, epoch_us(ts) AS us,
                        round(value * 100)::BIGINT AS pval
                 FROM events WHERE event_type = 'purchase')
      SELECT e.event_id, e.user_id,
             CASE WHEN e.us - p.us <= 3600000000 THEN p.pval END
               AS recent_purchase_e2
      FROM e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.us >= p.us
      ORDER BY event_id"""),

    // -- nearest as-of: closest purchase in EITHER direction --------------
    //    (pandas merge_asof direction='nearest'; completes the as-of
    //    family next to backward/forward/tolerance). Two linear
    //    union-tag passes joined on the unique event id; ties go
    //    backward; no interval cross-product anywhere.
    Query("ev_asof_nearest", (s, d) => {
      val e = ev(s, d).select(col("event_id"), col("user_id"), us.as("us"))
      val purchases = ev(s, d).filter(col("event_type") === "purchase")
        .select(col("user_id"), us.as("us"), valE2.as("pval"))
      AsofJoin.asofNearest(
        e, purchases, key = "user_id", ts = "us", leftId = "event_id",
        payload = Seq("us", "pval"),
        rename = Map("us" -> "near_purchase_us",
          "pval" -> "near_purchase_e2"))
        .select(col("event_id"), col("user_id"),
          col("near_purchase_us"), col("near_purchase_e2"))
        .orderBy("event_id")
    },
      """
      WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events),
           p AS (SELECT user_id, epoch_us(ts) AS us,
                        round(value * 100)::BIGINT AS pval
                 FROM events WHERE event_type = 'purchase'),
           b AS (SELECT e.event_id, e.user_id, e.us,
                        p.us AS b_us, p.pval AS b_pval
                 FROM e ASOF LEFT JOIN p
                   ON e.user_id = p.user_id AND e.us >= p.us),
           f AS (SELECT e.event_id, p.us AS f_us, p.pval AS f_pval
                 FROM e ASOF LEFT JOIN p
                   ON e.user_id = p.user_id AND e.us <= p.us)
      SELECT b.event_id, b.user_id,
             CASE WHEN f.f_us IS NULL OR (b.b_us IS NOT NULL
                        AND (b.us - b.b_us) <= (f.f_us - b.us))
                  THEN b.b_us ELSE f.f_us END AS near_purchase_us,
             CASE WHEN f.f_us IS NULL OR (b.b_us IS NOT NULL
                        AND (b.us - b.b_us) <= (f.f_us - b.us))
                  THEN b.b_pval ELSE f.f_pval END AS near_purchase_e2
      FROM b JOIN f ON b.event_id = f.event_id
      ORDER BY b.event_id"""),

    // -- inter-event dwell-time histogram: per-user lag deltas bucketed
    //    into power-of-ten bands per event type — the engagement-shape
    //    profile behind session-gap tuning (where does the 30-min gap
    //    actually sit in the dwell distribution?). One key-partitioned
    //    lag window + one hash agg; integer microsecond deltas and
    //    integer log bands keep both engines bit-identical. ---------------
    Query("ev_dwell_hist", (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      // band MUST read the materialized delta column: a fresh window
      // expression above the null filter would re-run lag over the
      // frame with each user's first row already dropped, shifting
      // every partner by one
      val band = when(col("delta") < 1000000L, 0L) // <1s
        .when(col("delta") < 10000000L, 1L) // <10s
        .when(col("delta") < 60000000L, 2L) // <1min
        .when(col("delta") < 600000000L, 3L) // <10min
        .when(col("delta") < 3600000000L, 4L) // <1h
        .otherwise(5L)
      ev(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"),
          us.as("us"))
        .withColumn("delta", col("us") - lag(col("us"), 1).over(w))
        .filter(col("delta").isNotNull)
        .select(col("event_type"), band.as("band"))
        .groupBy("event_type", "band")
        .agg(count(lit(1)).as("n"))
        .orderBy("event_type", "band")
    },
      """
      WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us
                 FROM events),
           d AS (SELECT event_type,
                        us - lag(us) OVER (PARTITION BY user_id
                                           ORDER BY us, event_id) AS delta
                 FROM e)
      SELECT event_type,
             (CASE WHEN delta < 1000000 THEN 0
                   WHEN delta < 10000000 THEN 1
                   WHEN delta < 60000000 THEN 2
                   WHEN delta < 600000000 THEN 3
                   WHEN delta < 3600000000 THEN 4
                   ELSE 5 END)::BIGINT AS band,
             count(1) AS n
      FROM d
      WHERE delta IS NOT NULL
      GROUP BY 1, 2
      ORDER BY event_type, band"""),

    // -- range join: clicks in the 10 min before each error ---------------
    // Bucketed equi-join formulation: theta-join -> equi-join on
    // (user, time bucket) + residual filter. Scales as a hash join on a
    // uniform key instead of a nested-loop interval join.
    Query("ev_range_join", (s, d) => {
      val e = ev(s, d)
      val err = e.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), us.as("err_us"))
      val clk = e.filter(col("event_type") === "click")
        .select(col("user_id"), us.as("clk_us"))
        .withColumn("bucket", expr(s"clk_us div $W_US"))
      val errB = err.withColumn("bucket",
        explode(array(expr(s"err_us div $W_US - 1"), expr(s"err_us div $W_US"))))
      val counted = errB.join(clk, Seq("user_id", "bucket"))
        .filter(col("clk_us") >= col("err_us") - W_US && col("clk_us") < col("err_us"))
        .groupBy("event_id")
        .agg(count(lit(1)).as("n"))
      err.join(counted, Seq("event_id"), "left")
        .select(col("event_id"), col("user_id"),
          coalesce(col("n"), lit(0L)).as("n_recent_clicks"))
        .orderBy("event_id")
    },
      s"""
      WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us, event_type FROM events)
      SELECT e.event_id, e.user_id,
             (SELECT count(1) FROM e c
              WHERE c.event_type = 'click' AND c.user_id = e.user_id
                AND c.us >= e.us - $W_US AND c.us < e.us) AS n_recent_clicks
      FROM e
      WHERE e.event_type = 'error'
      ORDER BY event_id"""),

    // -- native session_window (same op Structured Streaming uses) --------
    Query("ev_session_window", (s, d) =>
      ev(s, d)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(
          unix_micros(col("session_window.start")).as("start_us"),
          unix_micros(col("session_window.end")).as("end_us"),
          col("user_id"), col("n_events"))
        .orderBy("user_id", "start_us"),
      s"""
      WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
           flagged AS (
             SELECT user_id, event_id, us,
                    -- session_window merges on STRICT overlap (diff < gap)
                    CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
                              OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) >= $GAP_US
                         THEN 1 ELSE 0 END AS new_s
             FROM e),
           sess AS (
             SELECT user_id, us,
                    sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
             FROM flagged)
      SELECT min(us) AS start_us, max(us) + $GAP_US AS end_us,
             user_id, count(1) AS n_events
      FROM sess
      GROUP BY user_id, sid
      ORDER BY user_id, start_us"""),

    // -- DYNAMIC-gap session windows: the gap is a per-event expression
    //    (purchases close a session in 10 minutes, everything else 30)
    //    — Spark's session_window(col, gapExpr) surface, the API for
    //    "checkout ends the visit" sessionization. Engine semantics
    //    under test: each event spans [ts, ts+gap(event)) and windows
    //    merge while they OVERLAP, so the batch oracle reproduces the
    //    rule with a running max of event ends (new session iff
    //    us >= max over previous ends) — a boundary event at exactly
    //    the session end starts a NEW session ([start, end) is
    //    half-open on both engines). ------------------------------------
    Query("ev_session_dynamic", (s, d) =>
      ev(s, d)
        .groupBy(session_window(col("ts"),
          when(col("event_type") === "purchase", "10 minutes")
            .otherwise("30 minutes")), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(
          unix_micros(col("session_window.start")).as("start_us"),
          unix_micros(col("session_window.end")).as("end_us"),
          col("user_id"), col("n_events"))
        .orderBy("user_id", "start_us"),
      // dynamic gap as a per-event CASE; merge rule = running max of
      // event ends, new session iff us >= that max (half-open windows)
      """
      WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us,
                        CASE WHEN event_type = 'purchase' THEN 600000000
                             ELSE 1800000000 END AS gap
                 FROM events),
           w AS (SELECT *, max(us + gap) OVER (PARTITION BY user_id
                   ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_end
                 FROM e),
           f AS (SELECT *, CASE WHEN prev_end IS NULL OR us >= prev_end
                   THEN 1 ELSE 0 END AS new_s FROM w),
           s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id
                   ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS sid FROM f)
      SELECT min(us) AS start_us, max(us + gap) AS end_us, user_id,
             count(1) AS n_events
      FROM s GROUP BY user_id, sid
      ORDER BY user_id, start_us"""),

    // -- MapType surface: build per-user type->count maps, extract back --
    // (map construction + map_keys/element_at; scalar outputs so the
    // oracle compares values, not engine-specific map encodings)
    Query("ev_map_funcs", (s, d) =>
      ev(s, d)
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n"))
        .groupBy("user_id")
        .agg(map_from_entries(collect_list(struct(col("event_type"), col("n"))))
          .as("type_counts"))
        .select(
          col("user_id"),
          size(map_keys(col("type_counts"))).cast("long").as("n_types"),
          coalesce(element_at(col("type_counts"), "click"), lit(0L)).as("n_click"),
          coalesce(element_at(col("type_counts"), "purchase"), lit(0L)).as("n_purchase"))
        .orderBy("user_id"),
      """
      SELECT user_id,
             count(DISTINCT event_type) AS n_types,
             coalesce(sum(CASE WHEN event_type = 'click' THEN 1 END), 0)::BIGINT AS n_click,
             coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 END), 0)::BIGINT AS n_purchase
      FROM events
      GROUP BY user_id
      ORDER BY user_id"""),

    // -- top-k users by activity ------------------------------------------
    Query("ev_topk_users", (s, d) =>
      ev(s, d)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("user_id"))
        .limit(5),
      """
      SELECT user_id, count(1) AS n
      FROM events
      GROUP BY user_id
      ORDER BY n DESC, user_id
      LIMIT 5"""),

    // -- RFM segmentation (recency / frequency / monetary quintiles) ------
    //    The classic CRM/user-quality partition, built WITHOUT a
    //    user-scale global sort: each metric's quintile comes from a
    //    distinct-value HISTOGRAM (hash agg) whose cumulative counts
    //    ride a window over the tiny distinct-value frame, then join
    //    back by value (broadcast-sized maps). score = 1 + (5 *
    //    n_strictly_worse) DIV n_users — worse values first in the
    //    cumulative order, so score 5 = best (standard RFM); ties share
    //    a score, every step integer, both engines bit-identical.
    //    ntile() would need one global sort of all users per metric;
    //    this shape's only user-scale op is the per-user hash agg it
    //    must pay anyway. The histogram's own running sum is a
    //    DISTRIBUTED two-pass prefix sum (shardedCum, the txt_pack
    //    pattern) over deterministic min/max range shards — mon_cents'
    //    distinct-value count can approach |users|, so an unpartitioned
    //    window here would be a single-task sort at scale.
    Query("ev_rfm", (s, d) => {
      val u = ev(s, d)
        .groupBy("user_id")
        .agg(max(us).as("last_us"), count(lit(1)).as("freq"),
          coalesce(sum(when(col("event_type") === "purchase", valE2)),
            lit(0L)).as("mon_cents"))
      val tot = u.agg(max("last_us").as("g_us"),
        count(lit(1)).as("n_users"))
      val ur = u.crossJoin(broadcast(tot))
        .withColumn("rec_day",
          expr("(g_us - last_us) DIV 86400000000"))
      // quintile map per metric: value -> 1 + 5*n_strictly_worse DIV n.
      // Running total in worse-first order via the two-pass distributed
      // prefix sum: order key k puts worse values first ascending (all
      // three metrics are non-negative, so negation is overflow-safe),
      // shards are deterministic min/max range buckets (monotone in k),
      // so no unpartitioned window ever touches the histogram.
      def qmap(metric: String, betterIsHigher: Boolean): DataFrame = {
        val h = ur.groupBy(col(metric).as("v"))
          .agg(count(lit(1)).as("c"))
        val hk = h.withColumn("k",
          if (betterIsHigher) col("v") else -col("v"))
        val mm = hk.agg(min("k").as("k_lo"), max("k").as("k_hi"))
        val shard = expr("((k - k_lo) * 32) DIV (k_hi - k_lo + 1)")
        TextAnalysis.shardedCum(hk.crossJoin(broadcast(mm)),
            shard, Seq("k"), "c")
          .withColumn("n_worse", col("cum") - col("c"))
          .crossJoin(broadcast(tot.select(col("n_users"))))
          .select(col("v").as(metric),
            expr("1 + (5 * n_worse) DIV n_users").as(metric + "_q"))
      }
      ur.join(broadcast(qmap("rec_day", betterIsHigher = false)), "rec_day")
        .join(broadcast(qmap("freq", betterIsHigher = true)), "freq")
        .join(broadcast(qmap("mon_cents", betterIsHigher = true)),
          "mon_cents")
        .groupBy(col("rec_day_q").as("r_q"), col("freq_q").as("f_q"),
          col("mon_cents_q").as("m_q"))
        .agg(count(lit(1)).as("n_users"),
          sum("mon_cents").as("seg_cents"))
        .orderBy("r_q", "f_q", "m_q")
    },
      // quintiles from distinct-value histograms (no user-scale sort);
      // ties share a score: 1 + 5*n_strictly_worse // n_users (worse
      // values first in the cumulative order, so score 5 = best)
      """
      WITH u AS (SELECT user_id, max(epoch_us(ts)) AS last_us,
                        count(1) AS freq,
                        coalesce(sum(CASE WHEN event_type = 'purchase'
                          THEN round(value * 100)::BIGINT END), 0)::BIGINT
                          AS mon_cents
                 FROM events GROUP BY user_id),
           tot AS (SELECT max(last_us) AS g_us, count(1) AS n_users FROM u),
           ur AS (SELECT u.*, (tot.g_us - u.last_us) // 86400000000
                    AS rec_day FROM u, tot),
           hr AS (SELECT rec_day, count(1) AS c FROM ur GROUP BY rec_day),
           qr AS (SELECT rec_day, (1 + (5 * (sum(c) OVER (ORDER BY rec_day DESC) - c))
                    // (SELECT n_users FROM tot))::BIGINT AS r_q FROM hr),
           hf AS (SELECT freq, count(1) AS c FROM ur GROUP BY freq),
           qf AS (SELECT freq, (1 + (5 * (sum(c) OVER (ORDER BY freq ASC) - c))
                    // (SELECT n_users FROM tot))::BIGINT AS f_q FROM hf),
           hm AS (SELECT mon_cents, count(1) AS c FROM ur GROUP BY mon_cents),
           qm AS (SELECT mon_cents, (1 + (5 * (sum(c) OVER (ORDER BY mon_cents ASC) - c))
                    // (SELECT n_users FROM tot))::BIGINT AS m_q FROM hm)
      SELECT r_q, f_q, m_q, count(1) AS n_users,
             sum(mon_cents)::BIGINT AS seg_cents
      FROM ur JOIN qr USING (rec_day) JOIN qf USING (freq)
              JOIN qm USING (mon_cents)
      GROUP BY r_q, f_q, m_q
      ORDER BY r_q, f_q, m_q"""),

    // -- robust outlier detection: per-type median + MAD ------------------
    //    Median and MAD computed from the per-(type, cents) HISTOGRAM,
    //    not an event-scale sort: value domain is bounded (2-decimal
    //    values), so the cumulative window runs over |types| x
    //    |distinct cents| rows. Lower-median convention (smallest value
    //    whose cumulative count reaches ceil(n/2)) is pinned explicitly
    //    so both engines agree on even counts; the outlier rule
    //    |x - med| > 3 * MAD is the classical robust z-score. The only
    //    event-scale ops are two hash aggs.
    Query("ev_anomaly_mad", (s, d) => {
      val h = ev(s, d)
        .groupBy(col("event_type"), valE2.as("cents"))
        .agg(count(lit(1)).as("c"))
      val wT = Window.partitionBy("event_type").orderBy("cents")
      val n = h.groupBy("event_type").agg(sum("c").as("n"))
      val med = h.withColumn("cum", sum("c").over(wT))
        .join(n, "event_type")
        .filter(col("cum") >= expr("(n + 1) DIV 2"))
        .groupBy("event_type")
        .agg(min("cents").as("med_cents"))
      val dev = h.join(broadcast(med), "event_type")
        .groupBy(col("event_type"),
          abs(col("cents") - col("med_cents")).as("adev"))
        .agg(sum("c").as("c"))
      val wD = Window.partitionBy("event_type").orderBy("adev")
      val mad = dev.withColumn("cum", sum("c").over(wD))
        .join(n, "event_type")
        .filter(col("cum") >= expr("(n + 1) DIV 2"))
        .groupBy("event_type")
        .agg(min("adev").as("mad_cents"))
      h.join(broadcast(med), "event_type")
        .join(broadcast(mad), "event_type")
        .join(n, "event_type")
        .groupBy(col("event_type"), col("med_cents"), col("mad_cents"),
          col("n"))
        .agg(coalesce(sum(when(
            abs(col("cents") - col("med_cents")) >
              col("mad_cents") * 3, col("c"))), lit(0L))
          .as("n_outliers"))
        .select(col("event_type"), col("n"), col("med_cents"),
          col("mad_cents"), col("n_outliers"))
        .orderBy("event_type")
    },
      // lower-median convention: smallest value whose cumulative count
      // reaches ceil(n/2) = (n+1)//2, over the (type, cents) histogram
      """
      WITH h AS (SELECT event_type, round(value * 100)::BIGINT AS cents,
                        count(1) AS c
                 FROM events GROUP BY 1, 2),
           n AS (SELECT event_type, sum(c)::BIGINT AS n FROM h GROUP BY 1),
           cum AS (SELECT h.*, sum(c) OVER (PARTITION BY event_type
                     ORDER BY cents)::BIGINT AS cum FROM h),
           med AS (SELECT c2.event_type, min(cents) AS med_cents
                   FROM cum c2 JOIN n USING (event_type)
                   WHERE cum >= (n + 1) // 2 GROUP BY 1),
           dev AS (SELECT h.event_type, abs(cents - med_cents) AS adev,
                          sum(c)::BIGINT AS c
                   FROM h JOIN med USING (event_type) GROUP BY 1, 2),
           dcum AS (SELECT dev.*, sum(c) OVER (PARTITION BY event_type
                      ORDER BY adev)::BIGINT AS cum FROM dev),
           mad AS (SELECT d2.event_type, min(adev) AS mad_cents
                   FROM dcum d2 JOIN n USING (event_type)
                   WHERE cum >= (n + 1) // 2 GROUP BY 1)
      SELECT h.event_type, any_value(n.n) AS n,
             any_value(med_cents) AS med_cents,
             any_value(mad_cents) AS mad_cents,
             coalesce(sum(CASE WHEN abs(cents - med_cents) >
               3 * mad_cents THEN c END), 0)::BIGINT AS n_outliers
      FROM h JOIN med USING (event_type) JOIN mad USING (event_type)
             JOIN n USING (event_type)
      GROUP BY h.event_type
      ORDER BY event_type"""),

    // -- forecast baseline backtest (seasonal-naive vs persistence) -------
    //    The capacity-planning primitive: on the gap-filled hourly
    //    series per event type, forecast each of the last 168 hours
    //    with (a) the value 24 hours earlier (seasonal-naive) and (b)
    //    the previous hour (persistence), score both by MAE in integer
    //    per-mille, and report which baseline wins — the sanity floor
    //    any real forecasting model must beat. Series is densified
    //    over the full hour spine first (ev_gap_fill's shape: a
    //    missing hour is y = 0, and lag(24) must mean 24 HOURS, not 24
    //    existing rows); windows run per-type over the post-agg hourly
    //    frame, never event rows.
    Query("ev_forecast_eval", (s, d) => {
      val e = ev(s, d)
      val hours = e
        .agg(date_trunc("hour", min(col("ts"))).as("lo"),
          date_trunc("hour", max(col("ts"))).as("hi"))
        .select(explode(
          sequence(col("lo"), col("hi"), expr("INTERVAL 1 HOUR"))).as("h"))
      val grid = hours.crossJoin(e.select("event_type").distinct())
      val counts = e
        .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
        .agg(count(lit(1)).as("y"))
      val series = grid.join(counts, Seq("h", "event_type"), "left")
        .select(col("event_type"),
          expr("unix_micros(h) DIV 3600000000").as("hidx"),
          coalesce(col("y"), lit(0L)).as("y"))
      val w = Window.partitionBy("event_type").orderBy("hidx")
      val wT = Window.partitionBy("event_type")
      series
        .withColumn("f24", lag("y", 24).over(w))
        .withColumn("f1", lag("y", 1).over(w))
        .withColumn("hmax", max("hidx").over(wT))
        .filter(col("hidx") > col("hmax") - 168 &&
          col("f24").isNotNull && col("f1").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_hours"),
          expr("(1000 * sum(abs(y - f24))) DIV count(1)")
            .as("mae24_milli"),
          expr("(1000 * sum(abs(y - f1))) DIV count(1)")
            .as("mae1_milli"),
          expr("""CASE WHEN sum(abs(y - f24)) < sum(abs(y - f1))
                  THEN 'seasonal'
                  WHEN sum(abs(y - f24)) > sum(abs(y - f1))
                  THEN 'persistence' ELSE 'tie' END""").as("better"))
        .orderBy("event_type")
    },
      // gap-filled hourly spine, then the two lag baselines and integer
      // per-mille MAE — mirrored clause-for-clause
      """
      WITH b AS (SELECT date_trunc('hour', min(ts)) AS lo,
                        date_trunc('hour', max(ts)) AS hi FROM events),
           hours AS (SELECT unnest(generate_series(lo, hi,
                       INTERVAL 1 HOUR)) AS h FROM b),
           grid AS (SELECT h, event_type FROM hours
                    CROSS JOIN (SELECT DISTINCT event_type FROM events)),
           c AS (SELECT date_trunc('hour', ts) AS h, event_type,
                        count(1) AS y
                 FROM events GROUP BY 1, 2),
           s AS (SELECT g.event_type,
                        epoch_us(g.h) // 3600000000 AS hidx,
                        coalesce(c.y, 0)::BIGINT AS y
                 FROM grid g LEFT JOIN c
                   ON g.h = c.h AND g.event_type = c.event_type),
           l AS (SELECT *,
                        lag(y, 24) OVER (PARTITION BY event_type
                          ORDER BY hidx) AS f24,
                        lag(y, 1) OVER (PARTITION BY event_type
                          ORDER BY hidx) AS f1,
                        max(hidx) OVER (PARTITION BY event_type) AS hmax
                 FROM s),
           t AS (SELECT * FROM l
                 WHERE hidx > hmax - 168
                   AND f24 IS NOT NULL AND f1 IS NOT NULL)
      SELECT event_type, count(1) AS n_hours,
             ((1000 * sum(abs(y - f24))) // count(1))::BIGINT
               AS mae24_milli,
             ((1000 * sum(abs(y - f1))) // count(1))::BIGINT
               AS mae1_milli,
             CASE WHEN sum(abs(y - f24)) < sum(abs(y - f1))
                  THEN 'seasonal'
                  WHEN sum(abs(y - f24)) > sum(abs(y - f1))
                  THEN 'persistence' ELSE 'tie' END AS better
      FROM t GROUP BY event_type ORDER BY event_type"""),

    // -- multi-touch attribution (last-touch + linear credit) -------------
    //    Each click/view attributes to the user's NEXT purchase within
    //    a 7-day lookback: the purchase timestamp arrives as a
    //    min-over-following window (no interval self-join, no fan-out),
    //    then touches group by (user, purchase-time) so credit splits
    //    over the touch set. Linear credit is integer-exact: cents DIV
    //    n_touch per touch, remainder to the last touch, so per-type
    //    sums reconcile to the purchase total to the cent. Purchases
    //    sharing (user, us) merge into one credit pool (deterministic
    //    on any corpus). Event-scale cost: the user window sort
    //    sessionization already pays + one (user, time) shuffle join.
    Query("ev_attribution", (s, d) => {
      val L = 604800000000L // 7-day lookback
      val wNext = Window.partitionBy("user_id").orderBy("us", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
      val e = ev(s, d).select(col("user_id"), col("event_id"),
        us.as("us"), col("event_type"), valE2.as("cents"))
      val touches = e
        .withColumn("np_us",
          min(when(col("event_type") === "purchase", col("us")))
            .over(wNext))
        .filter(col("event_type").isin("click", "view") &&
          col("np_us").isNotNull && col("np_us") - col("us") <= L)
      val p = e.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("us").as("np_us"))
        .agg(sum("cents").as("p_cents"))
      val wG = Window.partitionBy("user_id", "np_us")
      val t = touches
        .withColumn("rk", row_number().over(
          wG.orderBy(col("us").desc, col("event_id").desc)))
        .withColumn("n_touch", count(lit(1)).over(wG))
        .join(p, Seq("user_id", "np_us"))
      t.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_touches"),
          sum(when(col("rk") === 1, col("p_cents")).otherwise(lit(0L)))
            .as("last_cents"),
          sum(expr("p_cents DIV n_touch") +
            when(col("rk") === 1, expr("p_cents % n_touch"))
              .otherwise(lit(0L))).as("linear_cents"))
        .orderBy("event_type")
    },
      // next-purchase via min-over-following; linear credit integer-exact
      // (cents // n_touch each, remainder to the last touch)
      """
      WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, event_type,
                        round(value * 100)::BIGINT AS cents FROM events),
           t0 AS (SELECT *, min(CASE WHEN event_type = 'purchase' THEN us END)
                    OVER (PARTITION BY user_id ORDER BY us, event_id
                          ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
                    AS np_us
                  FROM e),
           touches AS (SELECT * FROM t0
                       WHERE event_type IN ('click', 'view')
                         AND np_us IS NOT NULL
                         AND np_us - us <= 604800000000),
           p AS (SELECT user_id, us AS np_us, sum(cents)::BIGINT AS p_cents
                 FROM e WHERE event_type = 'purchase' GROUP BY 1, 2),
           t AS (SELECT touches.*,
                        row_number() OVER (PARTITION BY user_id, np_us
                          ORDER BY us DESC, event_id DESC) AS rk,
                        count(1) OVER (PARTITION BY user_id, np_us)
                          AS n_touch
                 FROM touches),
           j AS (SELECT t.*, p.p_cents FROM t JOIN p USING (user_id, np_us))
      SELECT event_type, count(1) AS n_touches,
             sum(CASE WHEN rk = 1 THEN p_cents ELSE 0 END)::BIGINT
               AS last_cents,
             sum(p_cents // n_touch + CASE WHEN rk = 1
               THEN p_cents % n_touch ELSE 0 END)::BIGINT AS linear_cents
      FROM j GROUP BY event_type ORDER BY event_type""")
  )
}
