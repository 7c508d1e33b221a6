package graft

import java.sql.Timestamp

import graft.streaming.Streaming
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Structured Streaming smoke: each transform runs as a real streaming
  * query over a MemoryStream, with watermark/late-data behavior checked
  * across multiple micro-batches.
  */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark
  // every input/state/output dir of the suite lives under this root
  private val root = java.nio.file.Files.createTempDirectory("graft_streaming_spec")

  override def afterAll(): Unit = FileUtils.deleteDirectory(root.toFile)

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("streaming word count across batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[String]
    val q = Streaming.wordCounts(in.toDF())
      .writeStream.outputMode("complete")
      .format("memory").queryName("wc_out").start()
    try {
      in.addData("a b a", "c")
      q.processAllAvailable()
      in.addData("a c_c")
      q.processAllAvailable()
      val m = spark.table("wc_out").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(m == Map("a" -> 3L, "b" -> 1L, "c" -> 3L))
    } finally q.stop()
  }

  test("multi-source union: one query drains two sources under a shared watermark") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val a = MemoryStream[(Timestamp, String)]
    val b = MemoryStream[(Timestamp, String)]
    def branch(m: MemoryStream[(Timestamp, String)], tag: String) =
      m.toDF().toDF("ts", "w").withColumn("src", lit(tag))
    val unioned = branch(a, "a").unionByName(branch(b, "b"))
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("src"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("string").as("ws"), col("src"),
        col("n"))
    val q = unioned.writeStream.outputMode("append").format("memory")
      .queryName("union_out").start()
    try {
      a.addData((ts("2024-01-01 00:10:00"), "x"))
      b.addData((ts("2024-01-01 00:20:00"), "y"))
      q.processAllAvailable()
      // only source B advances — the post-union watermark must still
      // close hour 0 for BOTH branches (it tracks the max event time
      // across the union, not per source)
      b.addData((ts("2024-01-01 03:00:00"), "z"))
      q.processAllAvailable()
      assert(q.lastProgress.sources.length == 2,
        s"expected 2 sources, got ${q.lastProgress.sources.length}")
      val rows = spark.table("union_out").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(rows == Set(("2024-01-01 00:00:00", "a", 1L),
        ("2024-01-01 00:00:00", "b", 1L)), rows.toString)
    } finally q.stop()
  }

  test("chained stateful operators: dedup then windowed agg in one query") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, String)]
    val events = in.toDF().toDF("ts", "user_id", "event_type")
    // the ev_stream_chain shape: watermarked dedup (keys include the
    // hour bucket) feeding a tumbling-window count — two stateful
    // operators in one streaming query
    val dedup = Streaming.dedupStream(
      events.withColumn("hr", date_trunc("hour", col("ts"))),
      Seq("user_id", "event_type", "hr"), "10 minutes")
    val agg = dedup
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_users"))
      .select(col("window.start").as("ws"), col("event_type"),
        col("n_users"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("chain_out").start()
    try {
      in.addData((ts("2024-01-01 00:05:00"), 1L, "click"),
        (ts("2024-01-01 00:10:00"), 1L, "click"), // dup key -> dedup eats it
        (ts("2024-01-01 00:20:00"), 2L, "click"))
      q.processAllAvailable()
      // advance the watermark far past hour 00 -> its window closes
      in.addData((ts("2024-01-01 02:00:00"), 3L, "view"))
      q.processAllAvailable()
      in.addData((ts("2024-01-01 04:00:00"), 3L, "view"))
      q.processAllAvailable()
      assert(q.lastProgress.stateOperators.length == 2,
        "expected BOTH stateful operators (dedup + window agg) in one query")
      val rows = spark.table("chain_out").collect()
        .map(r => (r.getAs[Timestamp]("ws").toString, r.getString(1),
          r.getLong(2))).toSet
      // hour 00, click: users 1 and 2 — the duplicate (1, click, 00)
      // row must not inflate the count
      assert(rows.contains(("2024-01-01 00:00:00.0", "click", 2L)), rows)
    } finally q.stop()
  }

  test("tumbling windows with watermark drop late data") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val events = in.toDF().toDF("ts", "event_type")
    val q = Streaming.windowedTypeCounts(events, "10 minutes", "10 minutes", "10 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("win_out").start()
    try {
      in.addData((ts("2024-01-01 00:01:00"), "click"),
        (ts("2024-01-01 00:05:00"), "click"))
      q.processAllAvailable()
      // advance watermark far past the first window -> it closes
      in.addData((ts("2024-01-01 01:00:00"), "view"))
      q.processAllAvailable()
      // this event is 50+ min late, behind the watermark -> dropped
      in.addData((ts("2024-01-01 00:02:00"), "click"))
      q.processAllAvailable()
      in.addData((ts("2024-01-01 02:00:00"), "view"))
      q.processAllAvailable()
      val rows = spark.table("win_out").collect()
        .map(r => (r.getAs[Timestamp]("ws").toString, r.getString(2), r.getLong(3)))
      assert(rows.contains(("2024-01-01 00:00:00.0", "click", 2L)))
      assert(!rows.exists { case (w, t, n) => w == "2024-01-01 00:00:00.0" && n == 3L })
    } finally q.stop()
  }

  test("session windows merge events within gap") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val events = in.toDF().toDF("ts", "user_id")
    val q = Streaming.sessionCounts(events, "30 minutes", "30 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    try {
      in.addData((ts("2024-01-01 00:00:00"), 1L), (ts("2024-01-01 00:10:00"), 1L),
        (ts("2024-01-01 03:00:00"), 1L)) // separate session, advances watermark
      q.processAllAvailable()
      in.addData((ts("2024-01-01 09:00:00"), 2L)) // push watermark to close all user-1 sessions
      q.processAllAvailable()
      val rows = spark.table("sess_out").collect()
        .map(r => (r.getLong(2), r.getLong(3))).toSet
      assert(rows.contains((1L, 2L))) // first session: 2 events merged
      assert(rows.contains((1L, 1L))) // second session: 1 event
    } finally q.stop()
  }

  test("stream-stream join matches within the time bound only") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp, String)]
    val views = MemoryStream[(Long, Timestamp, String)]
    val q = Streaming.streamStreamJoin(
      clicks.toDF().toDF("user_id", "ts", "event_type"),
      views.toDF().toDF("user_id", "ts", "event_type"))
      .writeStream.outputMode("append")
      .format("memory").queryName("ssj_out").start()
    try {
      views.addData((1L, ts("2024-01-01 00:00:00"), "view"),
        (1L, ts("2024-01-01 00:30:00"), "view"), // > 10 min before the click
        (2L, ts("2024-01-01 00:58:00"), "view")) // right user, wrong key user 2
      clicks.addData((1L, ts("2024-01-01 00:05:00"), "click"),
        (1L, ts("2024-01-01 01:00:00"), "click"))
      q.processAllAvailable()
      val rows = spark.table("ssj_out").collect()
        .map(r => (r.getLong(0), r.getAs[Timestamp]("l_ts").toString,
          r.getAs[Timestamp]("r_ts").toString)).toSet
      // click@00:05 matches view@00:00 (within 10 min); click@01:00
      // matches nothing for user 1 (00:30 is 30 min earlier); user-2
      // view matches no click of user 1
      assert(rows == Set((1L, "2024-01-01 00:05:00.0", "2024-01-01 00:00:00.0")))
    } finally q.stop()
  }

  test("stream-stream left semi emits each matched left row exactly once") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp, String)]
    val views = MemoryStream[(Long, Timestamp, String)]
    val q = Streaming.streamStreamJoin(
      clicks.toDF().toDF("user_id", "ts", "event_type"),
      views.toDF().toDF("user_id", "ts", "event_type"), "leftSemi")
      .writeStream.outputMode("append")
      .format("memory").queryName("sss_out").start()
    try {
      // click@00:05 has TWO qualifying views (00:00 and 00:04): the
      // inner join would emit two pairs, semi must emit the click once.
      // click@01:00 has none (00:30 is 30 min earlier).
      views.addData((1L, ts("2024-01-01 00:00:00"), "view"),
        (1L, ts("2024-01-01 00:04:00"), "view"),
        (1L, ts("2024-01-01 00:30:00"), "view"))
      clicks.addData((1L, ts("2024-01-01 00:05:00"), "click"),
        (1L, ts("2024-01-01 01:00:00"), "click"))
      q.processAllAvailable()
      val rows = spark.table("sss_out").collect()
        .map(r => (r.getLong(0), r.getAs[Timestamp]("l_ts").toString))
      assert(rows.toSeq == Seq((1L, "2024-01-01 00:05:00.0")),
        s"got ${rows.mkString(", ")}")
    } finally q.stop()
  }

  test("file sink is exactly-once across restarts: a re-run commits nothing") {
    val d = TestSpark.sf0001
    val ev = graft.queries.EventsTime
    val outDir = new java.io.File(ev.fileSinkDir(ev.replayScratch(spark, d)._2, "out"))
    def partFiles(): Map[String, Int] =
      Seq(outDir).filter(_.isDirectory)
        .map(dd => dd.getName ->
          Option(dd.listFiles()).getOrElse(Array.empty)
            .count(_.getName.endsWith(".parquet"))).toMap
    val first = ev.streamFileSinkReplay(spark, d).collect().map(_.toString).toSeq
    val files1 = partFiles()
    assert(files1.nonEmpty && files1.values.sum > 0, s"no sink output: $files1")
    // an empty read-back would also pass the restart checks below; the
    // memory-sink replay computes the same closed windows
    assert(first.nonEmpty, "file sink read back no rows")
    assert(first === SparkEntry.queries("ev_stream_replay")(spark, d)
      .collect().map(_.toString).toSeq)
    // restart against the completed checkpoint: same rows, ZERO new files
    val second = ev.streamFileSinkReplay(spark, d).collect().map(_.toString).toSeq
    assert(second === first)
    assert(partFiles() === files1, "sink grew on a no-new-data restart")
  }

  test("streaming dedup drops re-delivered keys within watermark") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val events = in.toDF().toDF("ts", "event_id")
    val q = Streaming.dedupStream(events, Seq("event_id"), "30 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      in.addData((ts("2024-01-01 00:00:00"), 1L), (ts("2024-01-01 00:01:00"), 2L),
        (ts("2024-01-01 00:02:00"), 1L)) // dup within batch
      q.processAllAvailable()
      in.addData((ts("2024-01-01 00:03:00"), 1L), // dup across batches
        (ts("2024-01-01 00:04:00"), 3L))
      q.processAllAvailable()
      val ids = spark.table("dedup_out").collect().map(_.getLong(1)).toSeq.sorted
      assert(ids == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("events parquet replayed as a file-source stream") {
    import java.nio.file.{Files, Paths}
    val tmp = Files.createTempDirectory(root, "graft_stream_in")
    Files.copy(Paths.get(s"${TestSpark.sf0001}/events.parquet"),
      tmp.resolve("events.parquet"))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(tmp.toString).schema
    // one normalization point for every ts encoding the generator has shipped
    val stream = Tables.normalizeTs(
      spark.readStream.schema(schema).parquet(tmp.toString))
    val q = Streaming.windowedTypeCounts(stream, "1 hour", "1 hour", "2 hours")
      .writeStream.outputMode("complete")
      .format("memory").queryName("replay_out").start()
    try {
      q.processAllAvailable()
      val total = spark.table("replay_out").agg(sum("n")).collect().head.getLong(0)
      assert(total == 1000L) // every event of sf0.001 lands in some window
    } finally q.stop()
  }

  test("userStateSummary carries count/last-ts/type-set state across batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, String)]
    val events = in.toDF().toDF("ts", "user_id", "event_type")
    val q = Streaming.userStateSummary(events).toDF()
      .writeStream.outputMode("append")
      .format("memory").queryName("summary_out").start()
    try {
      in.addData((ts("2024-01-01 00:00:00"), 1L, "click"),
        (ts("2024-01-01 00:05:00"), 1L, "view"))
      q.processAllAvailable()
      in.addData((ts("2024-01-01 00:02:00"), 1L, "click"), // older ts, dup type
        (ts("2024-01-01 00:09:00"), 2L, "view"))
      q.processAllAvailable()
      val fin = spark.table("summary_out")
        .groupBy("user_id")
        .agg(max("n_events").as("n"), max("last_us").as("last_us"),
          max("n_types").as("n_types"))
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      // user 1: 3 events over 2 batches, last ts stays 00:05 (the later
      // batch's event is OLDER), 2 distinct types despite the dup click
      assert(fin(1L) == ((3L, ts("2024-01-01 00:05:00").getTime * 1000L, 2L)))
      assert(fin(2L) == ((1L, ts("2024-01-01 00:09:00").getTime * 1000L, 1L)))
    } finally q.stop()
  }

  test("flatMapGroupsWithState keeps running per-user counts") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Streaming.UserEvent]
    val q = Streaming.runningUserCounts(in.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("state_out").start()
    try {
      in.addData(Streaming.UserEvent(1, "click", 100), Streaming.UserEvent(1, "view", 200))
      q.processAllAvailable()
      in.addData(Streaming.UserEvent(1, "click", 300), Streaming.UserEvent(2, "view", 50))
      q.processAllAvailable()
      val rows = spark.table("state_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(rows.contains((1L, 2L, 200L))) // after batch 1
      assert(rows.contains((1L, 3L, 300L))) // state carried into batch 2
      assert(rows.contains((2L, 1L, 50L)))
    } finally q.stop()
  }

  test("stream-static join enriches events with a broadcast dimension") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dim = Seq((1L, "US"), (2L, "DE")).toDF("dim_user", "country")
    val in = MemoryStream[(Long, String)]
    val q = Streaming.streamStaticEnrich(
      in.toDF().toDF("user_id", "event_type"), dim, "user_id", "dim_user")
      .select("user_id", "event_type", "country")
      .writeStream.outputMode("append")
      .format("memory").queryName("enrich_out").start()
    try {
      in.addData((1L, "click"), (3L, "view")) // 3 has no dim row -> null
      q.processAllAvailable()
      val rows = spark.table("enrich_out").collect()
        .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)))).toSet
      assert(rows == Set((1L, "click", Some("US")), (3L, "view", None)))
    } finally q.stop()
  }

  test("stream-stream left-outer join emits null-padded rows after watermark") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp, String)]
    val views = MemoryStream[(Long, Timestamp, String)]
    val q = Streaming.streamStreamJoin(
      clicks.toDF().toDF("user_id", "ts", "event_type"),
      views.toDF().toDF("user_id", "ts", "event_type"), "leftOuter",
      watermark = "10 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("sslo_out").start()
    try {
      views.addData((1L, ts("2024-01-01 00:00:00"), "view"))
      clicks.addData((1L, ts("2024-01-01 00:05:00"), "click"), // matches
        (2L, ts("2024-01-01 00:06:00"), "click")) // never matches
      q.processAllAvailable()
      // advance both watermarks far past the unmatched click's window so
      // the engine can prove no future match and emit the outer row
      views.addData((9L, ts("2024-01-01 02:00:00"), "view"))
      clicks.addData((9L, ts("2024-01-01 02:00:00"), "click"))
      q.processAllAvailable()
      val rows = spark.table("sslo_out").collect()
        .map(r => (r.getLong(0), Option(r.getAs[Timestamp]("r_ts")).map(_.toString)))
        .toSet
      assert(rows.contains((1L, Some("2024-01-01 00:00:00.0"))))
      assert(rows.contains((2L, None))) // outer row for the unmatched click
    } finally q.stop()
  }

  test("event-time timeout emits a session only after watermark passes end+gap") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp)]
    val q = Streaming.timedOutSessions(
      in.toDF().toDF("user_id", "ts"),
      gapMs = 30L * 60 * 1000, watermark = "10 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_timeout_out").start()
    try {
      in.addData((1L, ts("2024-01-01 00:00:00")), (1L, ts("2024-01-01 00:05:00")))
      q.processAllAvailable()
      assert(spark.table("sess_timeout_out").count() == 0) // still open
      // watermark jumps past 00:35 (end + 30 min gap) -> session closes
      in.addData((2L, ts("2024-01-01 02:00:00")))
      q.processAllAvailable()
      in.addData((2L, ts("2024-01-01 02:01:00"))) // extra batch fires the timeout
      q.processAllAvailable()
      val rows = spark.table("sess_timeout_out").collect()
        .map(r => (r.getLong(0), r.getLong(3))).toSet
      assert(rows.contains((1L, 2L)), s"got ${rows.mkString(",")}")
    } finally q.stop()
  }

  test("transformWithState initial state warm-starts from a batch snapshot") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val t0us = ts("2024-01-01 00:00:00").getTime * 1000L
    // batch snapshot: user 1 has history (5 events, 2 types)
    val snapshot = Seq((1L, 5L, t0us, Seq("click", "view"))).toDS()
    val in = MemoryStream[(Timestamp, Long, String)]
    val events = in.toDF().toDF("ts", "user_id", "event_type")
    val q = Streaming.userStateSummaryTwsWarm(events, snapshot)
      .toDF().writeStream.outputMode("append")
      .format("memory").queryName("warm_out").start()
    try {
      in.addData((ts("2024-01-01 01:00:00"), 1L, "purchase"),
        (ts("2024-01-01 01:00:00"), 2L, "click"))
      q.processAllAvailable()
      val m = spark.table("warm_out")
        .groupBy("user_id")
        .agg(max("n_events").as("n"), max("n_types").as("k"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
      // user 1 continues from history: 5+1 events, 2+1 types;
      // user 2 cold-starts: 1 event, 1 type
      assert(m == Map(1L -> ((6L, 3L)), 2L -> ((1L, 1L))), m)
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("transformWithState event-time timers close sessions like the fMGWS twin") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val in = MemoryStream[(Long, Timestamp)]
    val q = Streaming.timedOutSessionsTws(
      in.toDF().toDF("user_id", "ts"),
      gapMs = 30L * 60 * 1000, watermark = "10 minutes")
      .toDF().writeStream.outputMode("append")
      .format("memory").queryName("sess_tws_out").start()
    try {
      in.addData((1L, ts("2024-01-01 00:00:00")), (1L, ts("2024-01-01 00:05:00")))
      q.processAllAvailable()
      assert(spark.table("sess_tws_out").count() == 0) // still open
      // watermark jumps past 00:35 (end + 30 min gap) -> timer fires
      in.addData((2L, ts("2024-01-01 02:00:00")))
      q.processAllAvailable()
      in.addData((2L, ts("2024-01-01 02:01:00"))) // extra batch fires the timer
      q.processAllAvailable()
      val rows = spark.table("sess_tws_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      // user 1: 2-event session with exact micro bounds
      val t0 = ts("2024-01-01 00:00:00").getTime * 1000L
      val t1 = ts("2024-01-01 00:05:00").getTime * 1000L
      assert(rows.contains((1L, t0, t1, 2L)), s"got ${rows.mkString(",")}")
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("Trigger.AvailableNow drains a file source then stops on its own") {
    import java.nio.file.Files
    val in = Files.createTempDirectory(root, "graft_avnow_in").toString
    Tables.events(spark, TestSpark.sf0001).write.mode("overwrite").parquet(in)
    val stream = spark.readStream
      .schema(Tables.events(spark, TestSpark.sf0001).schema)
      .parquet(in)
    val q = Streaming.wordCounts(stream.selectExpr("event_type AS value"))
      .writeStream.outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("memory").queryName("avnow_out").start()
    try {
      // AvailableNow = process everything currently present, then
      // terminate — the batch-backfill mode of the same streaming query
      assert(q.awaitTermination(120000), "query did not self-terminate")
      val total = spark.table("avnow_out").agg(sum("cnt")).collect().head.getLong(0)
      assert(total == 1000L) // one token per event_type per event
    } finally q.stop()
  }

  test("checkpoint recovery: a killed query restarts exactly-once from state") {
    // The fault-tolerance contract a production stream lives on: run a
    // stateful windowed aggregation over a multi-file source with an
    // explicit checkpointLocation, STOP it after the first micro-batch
    // (maxFilesPerTrigger=1), then restart the same query on the same
    // checkpoint + sink dir. The restarted query must resume from
    // persisted offsets/state — no dropped and no double-counted
    // events — and the final result must equal the one-shot batch
    // aggregation of the whole input.
    import java.nio.file.Files
    val in = Files.createTempDirectory(root, "graft_ckpt_in").toString
    val ckpt = Files.createTempDirectory(root, "graft_ckpt_state").toString
    val out = Files.createTempDirectory(root, "graft_ckpt_out").toString
    val events = Tables.events(spark, TestSpark.sf0001)
    // time-RANGED files written SEQUENTIALLY (oldest range first): the
    // file source replays files in modification-time order, so arrival
    // must respect event time like a real log. (A concurrent
    // repartitionByRange write lands the parts in arbitrary mtime
    // order — if the newest range arrives second, the watermark jumps
    // to the end and the middle files are late and correctly DROPPED:
    // watermark semantics, not a recovery test.)
    val tsSorted = events.select(unix_micros(col("ts")).as("us"))
      .orderBy("us").collect().map(_.getLong(0))
    val cuts = Seq(1, 2, 3).map(i => tsSorted(i * tsSorted.length / 4))
    val ranges = (Long.MinValue +: cuts).zip(cuts :+ Long.MaxValue)
    ranges.foreach { case (lo, hi) =>
      events.filter(unix_micros(col("ts")) >= lo &&
          unix_micros(col("ts")) < hi)
        .coalesce(1).write.mode("append").parquet(in)
      Thread.sleep(60) // distinct mtimes -> deterministic replay order
    }
    val schema = events.schema
    // q1 throttles to one file per micro-batch (so the kill lands with
    // most of the input unread and real state in the store); the
    // restarted q2 drains unthrottled — one data batch + the no-data
    // finalization batch that emits everything under the final
    // watermark. (With the throttle left on, AvailableNow terminates
    // after the last DATA batch and the finalization batch never runs
    // — windows closed by the final file would stay unemitted until
    // the next restart; changing a source option across restarts is
    // exactly how a real backfill drain runs.)
    def startQuery(maxFiles: Option[String]) = Streaming
      .windowedTypeCounts(
        maxFiles.foldLeft(spark.readStream.schema(schema))(
          (r, m) => r.option("maxFilesPerTrigger", m)).parquet(in),
        "1 hour", "1 hour", "30 minutes")
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("parquet").option("path", out).start()
    def dump(tag: String, q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
      println(s"[ckpt-test] $tag " + q.recentProgress.map(p =>
        s"b${p.batchId}:in=${p.numInputRows}:wm=${p.eventTime.get("watermark")}" +
          s":stateRows=${p.stateOperators.headOption.map(_.numRowsTotal)}" +
          s":out=${p.sink.numOutputRows}").mkString(" "))
    val q1 = startQuery(Some("1"))
    // kill after at least one committed micro-batch, before the drain
    var waited = 0
    while (q1.recentProgress.length < 1 && waited < 60000) {
      Thread.sleep(200); waited += 200
    }
    q1.stop()
    assert(q1.recentProgress.nonEmpty, "first run committed no batch")
    dump("q1", q1)
    val q2 = startQuery(None)
    assert(q2.awaitTermination(120000), "restarted query did not drain")
    q2.stop()
    dump("q2", q2)
    // the restart resumed from persisted offsets, not from scratch
    assert(q2.recentProgress.headOption.exists(_.batchId > 0),
      "restart did not resume from the checkpointed batch id")
    // full-input batch oracle for every window (counts are what an
    // uninterrupted batch aggregation of the whole log produces)
    val us = unix_micros(col("ts"))
    val maxUs = events.agg(max(us)).collect().head.getLong(0)
    def oracle(df: org.apache.spark.sql.DataFrame): Map[(Long, String), Long] =
      df.withColumn("ws", (unix_micros(col("ts")) -
          pmod(unix_micros(col("ts")), lit(3600000000L))).cast("long"))
        .groupBy("ws", "event_type").agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val expect = oracle(events)
    def emitted(): Map[(Long, String), Long] = spark.read.parquet(out)
      .select(unix_micros(col("ws")).as("ws"), col("event_type"), col("n"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    // EXACTLY-ONCE: despite the kill, every emitted window carries the
    // exact uninterrupted-batch count — nothing double- or half-counted
    val afterRestart = emitted()
    assert(afterRestart.nonEmpty, "restart chain emitted nothing")
    afterRestart.foreach { case (k, v) =>
      assert(expect.get(k).contains(v),
        s"window $k emitted $v vs batch count ${expect.get(k)} — " +
          "restart corrupted state")
    }
    // The stream CONTINUES: append a later file and drain again — the
    // watermark (restored from the checkpoint, then advanced by the new
    // data) must close every window of the original log. Spark advances
    // the watermark one batch behind the data, so the appended file's
    // timestamps sit 2h past the old max: all original windows end
    // well below any post-append watermark.
    events.limit(50)
      .withColumn("ts", timestamp_micros(lit(maxUs + 2L * 3600000000L)))
      .coalesce(1).write.mode("append").parquet(in)
    val q4 = startQuery(None)
    assert(q4.awaitTermination(120000), "post-append drain did not finish")
    q4.stop()
    dump("q4", q4)
    val q5 = startQuery(None) // one more scheduled run: finalization batch
    assert(q5.awaitTermination(120000), "final run did not finish")
    q5.stop()
    dump("q5", q5)
    val finalGot = emitted()
    val missing = expect.keySet
      .filter { case (ws, _) => ws + 3600000000L <= maxUs }
      .diff(finalGot.keySet)
    assert(missing.isEmpty,
      s"${missing.size} closed windows never emitted after recovery+continue")
    finalGot.foreach { case (k, v) =>
      assert(expect.get(k).contains(v), s"window $k drifted to $v")
    }
  }

  test("RocksDB state store yields the same session windows as the default store") {
    // The provider swap OPTIMIZATION_r18 timed on the x20/x100 session
    // replays: prove the results are identical, not just that the
    // query runs. Same events, same session-window aggregation, both
    // providers.
    import java.nio.file.Files
    val in = Files.createTempDirectory(root, "graft_rocks_in").toString
    val events = Tables.events(spark, TestSpark.sf0001)
    events.write.mode("overwrite").parquet(in)
    def run(): Array[(Long, Long, Long, Long)] = {
      val sink = "rocks_cmp_" + System.nanoTime()
      val q = Streaming.sessionCounts(
          spark.readStream.schema(events.schema).parquet(in))
        .writeStream.format("memory").queryName(sink).outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try assert(q.awaitTermination(120000)) finally q.stop()
      val out = spark.table(sink)
        .select(unix_micros(col("ss")), unix_micros(col("se")),
          col("user_id"), col("n_events"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(t => (t._3, t._1))
      spark.catalog.dropTempView(sink)
      out
    }
    val default = run()
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val rocks =
      try run()
      finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    assert(default.nonEmpty && default.sameElements(rocks),
      s"provider drift: default=${default.length} rocks=${rocks.length}")
  }

  test("transformWithState summary equals flatMapGroupsWithState across batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // the same multi-batch feed through both arbitrary-state APIs must
    // land on identical final per-user summaries
    def run(useTws: Boolean): Map[Long, (Long, Long, Long)] = {
      val in = MemoryStream[(Timestamp, Long, String)]
      val events = in.toDF().toDF("ts", "user_id", "event_type")
      val summary =
        if (useTws) Streaming.userStateSummaryTws(events)
        else Streaming.userStateSummary(events)
      val sink = s"tws_out_${System.nanoTime()}"
      val q = summary.toDF().writeStream.outputMode("append")
        .format("memory").queryName(sink).start()
      try {
        in.addData((ts("2024-01-01 00:01:00"), 1L, "click"),
          (ts("2024-01-01 00:02:00"), 1L, "view"),
          (ts("2024-01-01 00:03:00"), 2L, "click"))
        q.processAllAvailable()
        in.addData((ts("2024-01-01 00:04:00"), 1L, "click"), // repeat type
          (ts("2024-01-01 00:05:00"), 2L, "purchase"))
        q.processAllAvailable()
        val out = spark.table(sink)
          .groupBy("user_id")
          .agg(max("n_events").as("n"), max("last_us").as("last"),
            max("n_types").as("k"))
          .collect()
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
          .toMap
        spark.catalog.dropTempView(sink)
        out
      } finally q.stop()
    }
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val tws =
      try run(useTws = true)
      finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    val fmgs = run(useTws = false)
    assert(tws == fmgs, s"tws=$tws fmgs=$fmgs")
    assert(tws(1L)._1 == 3L && tws(1L)._3 == 2L) // 3 events, 2 distinct types
  }

  test("foreachBatch sink writes idempotently by batch id") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory(root, "graft_febatch").toString
    val in = MemoryStream[String]
    val q = Streaming.sinkForeachBatch(in.toDF()) { (batch, id) =>
      // idempotent location derived from batchId: a replayed batch
      // overwrites its own output instead of duplicating it
      batch.write.mode("overwrite").parquet(s"$tmp/batch_id=$id")
    }.outputMode("append").start()
    try {
      in.addData("r1", "r2")
      q.processAllAvailable()
      in.addData("r3")
      q.processAllAvailable()
      val back = spark.read.parquet(tmp)
      assert(back.count() == 3L)
      assert(back.select("batch_id").distinct().count() == 2L)
    } finally q.stop()
  }
}
