package graft.streaming

import java.sql.Timestamp

import graft.TestSpark
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming semantics through MemoryStream micro-batches: windowed
  * emission on watermark advance, late-data drop, batch/streaming parity.
  */
class StreamingSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("tumbling counts emit on watermark passing; late events are dropped") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val counts = Streaming.tumblingEventCounts(
      mem.toDF().toDF("ts", "event_type"), "1 hour", "30 minutes")
    val q = counts.writeStream.format("memory")
      .queryName("stream_counts").outputMode("append").start()
    try {
      // window [10:00, 11:00): two clicks; then an event at 12:00 pushes
      // the watermark to 11:30 > 11:00 → the window finalizes
      mem.addData((ts("2024-01-01 10:05:00"), "click"),
        (ts("2024-01-01 10:40:00"), "click"))
      q.processAllAvailable()
      mem.addData((ts("2024-01-01 12:00:00"), "view"))
      q.processAllAvailable()
      // a late click for the finalized 10:00 window — older than the
      // watermark, must NOT change results
      mem.addData((ts("2024-01-01 10:10:00"), "click"))
      q.processAllAvailable()
      val rows = spark.table("stream_counts")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      assert(rows == Set((ts("2024-01-01 10:00:00"), "click", 2L)))
    } finally q.stop()
  }

  test("batch and streaming plans produce identical window counts") {
    implicit val sqlCtx = spark.sqlContext
    val data = Seq(
      (ts("2024-01-01 10:05:00"), "click"), (ts("2024-01-01 10:59:00"), "view"),
      (ts("2024-01-01 11:05:00"), "click"), (ts("2024-01-01 13:00:00"), "click"))
    val batch = Streaming.tumblingEventCounts(data.toDF("ts", "event_type"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet

    val mem = MemoryStream[(Timestamp, String)]
    val q = Streaming.tumblingEventCounts(mem.toDF().toDF("ts", "event_type"))
      .writeStream.format("memory").queryName("stream_parity")
      .outputMode("complete").start()
    try {
      mem.addData(data: _*)
      q.processAllAvailable()
      val streamed = spark.table("stream_parity")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      assert(streamed == batch)
      assert(batch.size == 4)
    } finally q.stop()
  }

  test("sliding windows: batch and streaming plans agree; every event in two windows") {
    implicit val sqlCtx = spark.sqlContext
    val data = Seq(
      (ts("2024-01-01 10:05:00"), "click"), (ts("2024-01-01 10:59:00"), "view"),
      (ts("2024-01-01 11:05:00"), "click"))
    val batch = Streaming.slidingEventCounts(data.toDF("ts", "event_type"))
      .collect().map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getString(2), r.getLong(3))).toSet
    // 2h windows sliding 1h: each event appears in exactly two windows
    assert(batch.toSeq.map(_._4).sum == data.size * 2)
    assert(batch.contains((ts("2024-01-01 10:00:00"), ts("2024-01-01 12:00:00"), "click", 2L)))

    val mem = MemoryStream[(Timestamp, String)]
    val q = Streaming.slidingEventCounts(mem.toDF().toDF("ts", "event_type"))
      .writeStream.format("memory").queryName("sliding_parity")
      .outputMode("complete").start()
    try {
      mem.addData(data: _*)
      q.processAllAvailable()
      val streamed = spark.table("sliding_parity")
        .collect().map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getString(2), r.getLong(3))).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("stateful user totals run in update mode with bounded output") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Double)]
    val q = Streaming.userValueTotals(
        mem.toDF().toDF("user_id", "value").withColumn("ts", current_timestamp()))
      .writeStream.format("memory").queryName("user_totals")
      .outputMode("update").start()
    try {
      mem.addData((1L, 10.0), (1L, 5.5), (2L, 1.0))
      q.processAllAvailable()
      mem.addData((1L, 4.5))
      q.processAllAvailable()
      // update mode re-emits changed keys; latest row per key is the total
      val latest = spark.table("user_totals")
        .groupBy("user_id").agg(max(struct(col("n_events"), col("total_value"))).as("s"))
        .select(col("user_id"), col("s.n_events"), col("s.total_value"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(latest == Set((1L, 3L, 20.0), (2L, 1L, 1.0)))
    } finally q.stop()
  }

  test("mapGroupsWithState EWMA: ordered batches match the batch twin; replays are no-ops") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, Long, Double)] // (user_id, event_id, value)
    val q = Streaming.ewmaPerUserStream(
        mem.toDF().toDF("user_id", "event_id", "value"))
      .writeStream.format("memory").queryName("ewma_stream")
      .outputMode("update").start()
    try {
      // batch 1 unordered WITHIN the batch (the group iterator must sort);
      // batch 2 continues each user's id sequence; batch 3 replays an
      // already-folded event (must not re-fold)
      mem.addData((1L, 2L, 4.0), (1L, 1L, 8.0), (2L, 1L, 3.0))
      q.processAllAvailable()
      mem.addData((1L, 3L, 10.0), (2L, 2L, 5.0))
      q.processAllAvailable()
      mem.addData((1L, 3L, 10.0))
      q.processAllAvailable()
      val latest = spark.table("ewma_stream")
        .groupBy("user_id").agg(max(struct(col("n_events"), col("ewma"))).as("s"))
        .select(col("user_id"), col("s.n_events"), col("s.ewma"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // batch twin over the deduped full sequence
      val twin = Streaming.ewmaPerUser(Seq(
          (1L, 1L, 8.0), (1L, 2L, 4.0), (1L, 3L, 10.0),
          (2L, 1L, 3.0), (2L, 2L, 5.0))
          .toDF("user_id", "event_id", "value"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(latest == twin, s"stream=$latest twin=$twin")
      // hand value: user 1 → ((8*0.5+4*0.5)*0.5 + 10*0.5) = 8.0
      assert(twin.contains((1L, 3L, 8.0)))
    } finally q.stop()
  }

  test("mapGroupsWithState CUSUM: ordered batches match the batch twin; replays are no-ops") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, Long, Double)] // (user_id, event_id, value)
    val q = Streaming.cusumPerUserStream(
        mem.toDF().toDF("user_id", "event_id", "value"),
        targetCents = 500L, alarmCents = 900L)
      .writeStream.format("memory").queryName("cusum_stream")
      .outputMode("update").start()
    try {
      // unordered within batch 1; batch 3 replays an already-folded row
      mem.addData((1L, 2L, 20.0), (1L, 1L, 3.0), (2L, 1L, 9.0))
      q.processAllAvailable()
      mem.addData((1L, 3L, 1.0), (2L, 2L, 2.0))
      q.processAllAvailable()
      mem.addData((1L, 3L, 1.0))
      q.processAllAvailable()
      val latest = spark.table("cusum_stream")
        .groupBy("user_id")
        .agg(max(struct(col("n_events"), col("peak_cusum_cents"),
          col("alarm"))).as("s"))
        .select(col("user_id"), col("s.n_events"), col("s.peak_cusum_cents"),
          col("s.alarm"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      val twin = Streaming.cusumPerUser(Seq(
          (1L, 1L, 3.0), (1L, 2L, 20.0), (1L, 3L, 1.0),
          (2L, 1L, 9.0), (2L, 2L, 2.0))
          .toDF("user_id", "event_id", "value"),
          targetCents = 500L, alarmCents = 900L)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(latest == twin, s"stream=$latest twin=$twin")
      // hand walk user 1: S = max(0, 0+(300-500)) = 0, then 0+1500 = 1500
      // (peak, alarm: 1500 > 900), then max(0, 1500-400) = 1100
      assert(twin.contains((1L, 3L, 1500L, 1L)))
      // user 2: 400 then max(0, 400-300) = 100 — peak 400, no alarm
      assert(twin.contains((2L, 2L, 400L, 0L)))
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionization: gap closes, timeout closes, parity with batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Timestamp)] // (user_id, event_id, ts)
    val q = Streaming.sessionizeStream(
        mem.toDF().toDF("user_id", "event_id", "ts"), gapMinutes = 30,
        watermarkDur = "10 minutes")
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      // user 1: two events 10 min apart (one session), then a 2h gap
      mem.addData((1L, 1L, ts("2024-01-01 10:00:00")), (1L, 2L, ts("2024-01-01 10:10:00")))
      q.processAllAvailable()
      // the 12:30 event closes user 1's first session (gap > 30 min) and
      // pushes the watermark far enough to time out nothing yet
      mem.addData((1L, 3L, ts("2024-01-01 12:30:00")), (2L, 4L, ts("2024-01-01 12:31:00")))
      q.processAllAvailable()
      // advance event time so the watermark (16:00 - 10min) passes every
      // open session's end + gap → the remaining sessions close by timeout
      mem.addData((3L, 5L, ts("2024-01-01 16:00:00")))
      q.processAllAvailable()
      mem.addData((3L, 6L, ts("2024-01-01 23:00:00")))
      q.processAllAvailable()
      val got = spark.table("sessions")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))).toSet
      val expected = Set(
        (1L, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:10:00"), 2L),
        (1L, ts("2024-01-01 12:30:00"), ts("2024-01-01 12:30:00"), 1L),
        (2L, ts("2024-01-01 12:31:00"), ts("2024-01-01 12:31:00"), 1L),
        (3L, ts("2024-01-01 16:00:00"), ts("2024-01-01 16:00:00"), 1L))
      assert(got == expected)

      // parity: batch twin over the same events gives the same sessions
      // (plus user 3's last, still open in the stream)
      val batchRows = Seq(
        (1L, 1L, ts("2024-01-01 10:00:00")), (1L, 2L, ts("2024-01-01 10:10:00")),
        (1L, 3L, ts("2024-01-01 12:30:00")), (2L, 4L, ts("2024-01-01 12:31:00")),
        (3L, 5L, ts("2024-01-01 16:00:00")), (3L, 6L, ts("2024-01-01 23:00:00")))
      val batch = Streaming.sessionize(
          batchRows.toDF("user_id", "event_id", "ts"), gapMinutes = 30)
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))).toSet
      assert(batch == expected + ((3L, ts("2024-01-01 23:00:00"), ts("2024-01-01 23:00:00"), 1L)))
    } finally q.stop()
  }

  test("transformWithState sessionization matches the flatMapGroupsWithState path") {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[(Long, Long, Timestamp)] // (user_id, event_id, ts)
    val q = Streaming.sessionizeStreamTws(
        mem.toDF().toDF("user_id", "event_id", "ts"), gapMinutes = 30,
        watermarkDur = "10 minutes")
      .writeStream.format("memory").queryName("sessions_tws")
      .outputMode("append").start()
    try {
      // identical feed to the flatMapGroupsWithState test above — the
      // two arbitrary-state APIs must produce the same closed sessions
      mem.addData((1L, 1L, ts("2024-01-01 10:00:00")), (1L, 2L, ts("2024-01-01 10:10:00")))
      q.processAllAvailable()
      mem.addData((1L, 3L, ts("2024-01-01 12:30:00")), (2L, 4L, ts("2024-01-01 12:31:00")))
      q.processAllAvailable()
      mem.addData((3L, 5L, ts("2024-01-01 16:00:00")))
      q.processAllAvailable()
      mem.addData((3L, 6L, ts("2024-01-01 23:00:00")))
      q.processAllAvailable()
      val got = spark.table("sessions_tws")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))).toSet
      assert(got == Set(
        (1L, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:10:00"), 2L),
        (1L, ts("2024-01-01 12:30:00"), ts("2024-01-01 12:30:00"), 1L),
        (2L, ts("2024-01-01 12:31:00"), ts("2024-01-01 12:31:00"), 1L),
        (3L, ts("2024-01-01 16:00:00"), ts("2024-01-01 16:00:00"), 1L)))
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("transformWithState CDC upsert: last snapshot matches the batch MERGE twin") {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[(Long, Long, String, Double)] // (user_id, event_id, op, value)
    val q = Streaming.cdcUpsertStream(
        mem.toDF().toDF("user_id", "event_id", "op", "value"))
      .writeStream.format("memory").queryName("cdc_snap")
      .outputMode("update").start()
    // the discriminating feed: user 2 deleted then re-inserted ACROSS
    // batches; user 3 deleted last; user 1's batch-2 update arrives
    // out of order (event 12 before 11 in the same addData)
    val feed = Seq(
      Seq((1L, 10L, "U", 1.0), (2L, 20L, "U", 2.0), (3L, 30L, "U", 3.0)),
      Seq((1L, 12L, "U", 1.2), (1L, 11L, "U", 1.1), (2L, 21L, "D", 0.0)),
      Seq((2L, 22L, "U", 2.2), (3L, 31L, "D", 0.0)))
    try {
      feed.foreach { b => mem.addData(b); q.processAllAvailable() }
      val snaps = spark.table("cdc_snap")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getDouble(3)))
      val last = snaps.zipWithIndex.groupBy(_._1._1)
        .map { case (_, xs) => xs.maxBy(_._2)._1 }
      // deleted-latest keys surface as live=false retractions
      assert(last.find(_._1 == 3L).exists(!_._3))
      val live = last.filter(_._3).map(t => (t._1, t._2, t._4)).toSet
      val twin = Streaming.cdcSnapshot(
          feed.flatten.toDF("user_id", "event_id", "op", "value"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(live == twin, s"live=$live twin=$twin")
      assert(twin == Set((1L, 12L, 1.2), (2L, 22L, 2.2)))
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("transformWithState: a late event extends the session and the timer closes the EXTENDED session") {
    // r7 verdict item 6: no test fired an event-time timer AFTER a late
    // element extended the session. The discriminating feed: user 1's
    // 10:15 event arrives a batch late (watermark in force 10:10 — still
    // admitted); if it were dropped, the next event at 10:40 would be
    // 40 min > gap from 10:00 and split the session. With it, 10:40 is
    // 25 min from 10:15, the timer re-arms to 11:10, and the one session
    // [10:00, 10:40] n=3 closes by timer once the watermark passes 11:10.
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[(Long, Long, Timestamp)] // (user_id, event_id, ts)
    val q = Streaming.sessionizeStreamTws(
        mem.toDF().toDF("user_id", "event_id", "ts"), gapMinutes = 30,
        watermarkDur = "10 minutes")
      .writeStream.format("memory").queryName("sessions_tws_late")
      .outputMode("append").start()
    try {
      mem.addData((1L, 1L, ts("2024-01-01 10:00:00")))
      q.processAllAvailable() // wm → 09:50, timer armed at 10:30
      mem.addData((9L, 2L, ts("2024-01-01 10:20:00")))
      q.processAllAvailable() // wm → 10:10
      // LATE for user 1 (10:15 < max seen 10:20) but above the watermark
      mem.addData((1L, 3L, ts("2024-01-01 10:15:00")))
      q.processAllAvailable() // session → [10:00,10:15], timer re-arms 10:45
      mem.addData((1L, 4L, ts("2024-01-01 10:40:00")), (9L, 5L, ts("2024-01-01 10:48:00")))
      q.processAllAvailable() // 25 min since 10:15 → extends; timer 11:10; wm → 10:38
      mem.addData((9L, 6L, ts("2024-01-01 11:30:00")))
      q.processAllAvailable() // wm → 11:20 at completion
      mem.addData((9L, 7L, ts("2024-01-01 12:00:00")))
      q.processAllAvailable() // timer 11:10 ≤ wm fires → user 1 closes
      val got = spark.table("sessions_tws_late")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))).toSet
      val expected = Set(
        (1L, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:40:00"), 3L), // ONE session, late row inside
        (9L, ts("2024-01-01 10:20:00"), ts("2024-01-01 10:48:00"), 2L)) // gap-closed by 11:30
      assert(got == expected, got)

      // batch twin parity on the full feed (user 9's last session is
      // still open in the stream, closed in batch)
      val batchRows = Seq(
        (1L, 1L, ts("2024-01-01 10:00:00")), (9L, 2L, ts("2024-01-01 10:20:00")),
        (1L, 3L, ts("2024-01-01 10:15:00")), (1L, 4L, ts("2024-01-01 10:40:00")),
        (9L, 5L, ts("2024-01-01 10:48:00")), (9L, 6L, ts("2024-01-01 11:30:00")),
        (9L, 7L, ts("2024-01-01 12:00:00")))
      val batch = Streaming.sessionize(
          batchRows.toDF("user_id", "event_id", "ts"), gapMinutes = 30)
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))).toSet
      assert(batch == expected +
        ((9L, ts("2024-01-01 11:30:00"), ts("2024-01-01 12:00:00"), 2L)), batch)
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("transformWithState MapState: per-user type counts snapshot to batch-twin parity") {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[(Long, String)]
    val q = Streaming.userEventTypesStream(
        mem.toDF().toDF("user_id", "event_type"))
      .writeStream.format("memory").queryName("user_types")
      .outputMode("update").start()
    try {
      mem.addData((1L, "view"), (1L, "view"), (2L, "click"))
      q.processAllAvailable()
      mem.addData((1L, "click"), (2L, "click"), (1L, "view"))
      q.processAllAvailable()
      mem.addData((3L, "purchase"))
      q.processAllAvailable()
      // update mode emits one snapshot per (user, batch) — keep the LAST
      // per user and compare against the batch twin over the full feed
      val snaps = spark.table("user_types")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val last = snaps.zipWithIndex.groupBy(_._1._1)
        .map { case (_, xs) => xs.maxBy(_._2)._1 }.toSet
      val batchRows = Seq((1L, "view"), (1L, "view"), (2L, "click"),
        (1L, "click"), (2L, "click"), (1L, "view"), (3L, "purchase"))
      val twin = Streaming.userEventTypeCounts(
          batchRows.toDF("user_id", "event_type"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(last == twin, s"last=$last twin=$twin")
      assert(twin == Set((1L, 2L, 4L), (2L, 1L, 2L), (3L, 1L, 1L)))
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("transformWithState ListState: last-k buffer snapshots to batch-twin parity") {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[(Long, Long)] // (user_id, event_id)
    val q = Streaming.userRecentEventsStream(
        mem.toDF().toDF("user_id", "event_id"), k = 3)
      .writeStream.format("memory").queryName("user_recent")
      .outputMode("update").start()
    try {
      mem.addData((1L, 10L), (1L, 11L), (2L, 20L))
      q.processAllAvailable()
      mem.addData((1L, 12L), (1L, 13L)) // user 1 exceeds k=3 → 10 evicted
      q.processAllAvailable()
      mem.addData((2L, 21L), (3L, 30L))
      q.processAllAvailable()
      val snaps = spark.table("user_recent")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val last = snaps.zipWithIndex.groupBy(_._1._1)
        .map { case (_, xs) => xs.maxBy(_._2)._1 }.toSet
      val batchRows = Seq((1L, 10L), (1L, 11L), (2L, 20L), (1L, 12L),
        (1L, 13L), (2L, 21L), (3L, 30L))
      val twin = Streaming.userRecentEvents(
          batchRows.toDF("user_id", "event_id"), k = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(last == twin, s"last=$last twin=$twin")
      assert(twin == Set((1L, 3L, 36L, 13L), (2L, 2L, 41L, 21L), (3L, 1L, 30L, 30L)))
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("stream-static broadcast join enriches micro-batches without stream shuffle") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq(("click", 1.0), ("view", 0.5)).toDF("event_type", "weight")
    val mem = MemoryStream[(Long, String)]
    val q = Streaming.enrichWithDim(
        mem.toDF().toDF("event_id", "event_type"), dim, "event_type")
      .writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    try {
      mem.addData((1L, "click"), (2L, "view"), (3L, "scroll"))
      q.processAllAvailable()
      val rows = spark.table("enriched")
        .collect().map(r => (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]))).toSet
      assert(rows == Set(1L -> Some(1.0), 2L -> Some(0.5), 3L -> None))
    } finally q.stop()
  }

  test("stream-stream interval join pairs clicks with in-window purchases; parity with batch") {
    implicit val sqlCtx = spark.sqlContext
    // (user_id, event_id, ts, value)
    val clicks = MemoryStream[(Long, Long, Timestamp, Double)]
    val purchases = MemoryStream[(Long, Long, Timestamp, Double)]
    val cols = Seq("user_id", "event_id", "ts", "value")
    val q = Streaming.intervalJoin(
        clicks.toDF().toDF(cols: _*), purchases.toDF().toDF(cols: _*),
        intervalMin = 30)
      .writeStream.format("memory").queryName("ssjoin")
      .outputMode("append").start()
    try {
      val clickRows = Seq(
        (1L, 10L, ts("2024-01-01 10:00:00"), 0.0),
        (2L, 11L, ts("2024-01-01 10:00:00"), 0.0))
      val purchaseRows = Seq(
        (1L, 20L, ts("2024-01-01 10:10:00"), 9.5),  // in window for user 1
        (1L, 21L, ts("2024-01-01 10:45:00"), 3.0),  // outside 30 min
        (2L, 22L, ts("2024-01-01 09:50:00"), 1.0),  // before the click
        (3L, 23L, ts("2024-01-01 10:10:00"), 2.0))  // user never clicked
      clicks.addData(clickRows: _*)
      purchases.addData(purchaseRows: _*)
      q.processAllAvailable()
      val streamed = spark.table("ssjoin")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
      assert(streamed == Set((1L, 10L, 20L))) // (user, click_id, purchase_id)
      // parity: the same operator over batch frames gives the same pairs
      val batch = Streaming.intervalJoin(
          clickRows.toDF(cols: _*), purchaseRows.toDF(cols: _*), intervalMin = 30)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
      assert(batch == streamed)
    } finally q.stop()
  }

  test("left-outer interval join: unmatched clicks emit null-padded once the watermark expires them") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Long, Timestamp, Double)]
    val purchases = MemoryStream[(Long, Long, Timestamp, Double)]
    val cols = Seq("user_id", "event_id", "ts", "value")
    val q = Streaming.intervalJoinOuter(
        clicks.toDF().toDF(cols: _*), purchases.toDF().toDF(cols: _*),
        intervalMin = 30, watermarkDur = "10 minutes")
      .writeStream.format("memory").queryName("ssjoin_outer")
      .outputMode("append").start()
    try {
      clicks.addData(
        (1L, 10L, ts("2024-01-01 10:00:00"), 0.0), // will match
        (2L, 11L, ts("2024-01-01 10:00:00"), 0.0)) // never matches
      purchases.addData((1L, 20L, ts("2024-01-01 10:10:00"), 9.5))
      q.processAllAvailable()
      // user 2's click is still inside its join window — not yet emitted
      val early = spark.table("ssjoin_outer").collect()
        .map(r => (r.getLong(0), Option(r.get(3)))).toSet
      assert(!early.exists(_._1 == 2L), early.mkString)
      // advance both watermarks past 10:30 + 10 min → click 11 provably
      // unmatched → emits with null purchase columns
      clicks.addData((9L, 90L, ts("2024-01-01 12:00:00"), 0.0))
      purchases.addData((9L, 91L, ts("2024-01-01 13:00:00"), 0.0))
      q.processAllAvailable()
      val rows = spark.table("ssjoin_outer").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          Option(r.get(3)).map(_.asInstanceOf[Long]))).toSet
      assert(rows.contains((1L, 10L, Some(20L))), rows.mkString)
      assert(rows.contains((2L, 11L, None)), rows.mkString)
      // batch twin on the same rows agrees on the matched/unmatched split
      val batch = Streaming.intervalJoinOuter(
          Seq((1L, 10L, ts("2024-01-01 10:00:00"), 0.0),
            (2L, 11L, ts("2024-01-01 10:00:00"), 0.0)).toDF(cols: _*),
          Seq((1L, 20L, ts("2024-01-01 10:10:00"), 9.5)).toDF(cols: _*),
          intervalMin = 30)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          Option(r.get(3)).map(_.asInstanceOf[Long]))).toSet
      assert(batch == Set((1L, 10L, Some(20L)), (2L, 11L, None)))
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark suppresses re-sent event ids") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)] // (event_id, ts, event_type)
    val q = Streaming.dedupEvents(
        mem.toDF().toDF("event_id", "ts", "event_type"), watermarkDur = "1 hour")
      .writeStream.format("memory").queryName("deduped")
      .outputMode("append").start()
    try {
      mem.addData((1L, ts("2024-01-01 10:00:00"), "click"),
        (1L, ts("2024-01-01 10:00:00"), "click"), // same-batch duplicate
        (2L, ts("2024-01-01 10:01:00"), "view"))
      q.processAllAvailable()
      mem.addData((1L, ts("2024-01-01 10:05:00"), "click")) // cross-batch duplicate
      q.processAllAvailable()
      val ids = spark.table("deduped").collect().map(_.getLong(0)).toSeq.sorted
      assert(ids == Seq(1L, 2L))
    } finally q.stop()
  }

  test("admission boundary: a late row whose window end EQUALS the watermark is dropped") {
    // pins the exact predicate lateDropTumblingCounts encodes
    // (drop iff window.end <= watermark, not <)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val q = Streaming.tumblingEventCounts(
        mem.toDF().toDF("ts", "event_type"), "1 hour", "30 minutes")
      .writeStream.format("memory").queryName("boundary_counts")
      .outputMode("append").start()
    try {
      mem.addData((ts("2024-01-01 11:30:00"), "view")) // wm after batch: 11:00
      q.processAllAvailable()
      // [10:00, 11:00) window: end == wm exactly → must be dropped
      mem.addData((ts("2024-01-01 10:59:00"), "click"))
      q.processAllAvailable()
      // [11:00, 12:00) window: end 12:00 > wm 11:00 → admitted
      mem.addData((ts("2024-01-01 11:01:00"), "click"))
      q.processAllAvailable()
      mem.addData((ts("2024-01-01 23:00:00"), "flush")) // close everything real
      q.processAllAvailable()
      val rows = spark.table("boundary_counts")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      assert(rows == Set(
        (ts("2024-01-01 11:00:00"), "view", 1L),
        (ts("2024-01-01 11:00:00"), "click", 1L)))
    } finally q.stop()
  }

  test("lateDropTumblingCounts twin matches a real per-batch MemoryStream run") {
    implicit val sqlCtx = spark.sqlContext
    // (event_id, ts, type): in-order base, every 5th event held back 3
    // batches, batchSize 2 — exactly the twin's arrival permutation
    val events = (0L until 20L).map { i =>
      (i, ts(f"2024-01-01 ${10 + (i / 4)}%02d:${(i % 4) * 15}%02d:00"), // 15-min spacing
        if (i % 2 == 0) "click" else "view")
    }
    val batchOf = events.map { case (id, _, _) =>
      id / 2 + (if (id % 5 == 0) 3 else 0)
    }
    val twin = Streaming.lateDropTumblingCounts(
        events.toDF("event_id", "ts", "event_type"),
        delayMinutes = 10, batchSize = 2, lateEvery = 5, lateBatches = 3)
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet

    val mem = MemoryStream[(Long, Timestamp, String)]
    val q = Streaming.tumblingEventCounts(
        mem.toDF().toDF("event_id", "ts", "event_type"), "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("late_parity")
      .outputMode("append").start()
    try {
      (0L to batchOf.max).foreach { b =>
        val batch = events.zip(batchOf).collect { case (e, bb) if bb == b => e }
        if (batch.nonEmpty) { mem.addData(batch: _*); q.processAllAvailable() }
      }
      mem.addData((99L, ts("2024-01-02 12:00:00"), "flush")) // close all real windows
      q.processAllAvailable()
      val streamed = spark.table("late_parity")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
        .filter(_._1.before(ts("2024-01-02 00:00:00"))).toSet
      assert(streamed == twin, s"\ntwin: $twin\nstreamed: $streamed")
    } finally q.stop()
  }

  test("windowed top-k: foreachBatch ranking over streamed counts matches the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val data = Seq(
      (ts("2024-01-01 10:05:00"), "click"), (ts("2024-01-01 10:10:00"), "click"),
      (ts("2024-01-01 10:15:00"), "view"), (ts("2024-01-01 10:20:00"), "view"),
      (ts("2024-01-01 10:25:00"), "buy"), (ts("2024-01-01 10:30:00"), "scroll"),
      (ts("2024-01-01 10:35:00"), "scroll"), (ts("2024-01-01 10:40:00"), "scroll"),
      (ts("2024-01-01 11:05:00"), "view"))
    val batch = Streaming.topEventTypesPerWindow(data.toDF("ts", "event_type"), k = 2)
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getInt(3))).toSet
    val mem = MemoryStream[(Timestamp, String)]
    val counts = Streaming.tumblingEventCounts(mem.toDF().toDF("ts", "event_type"))
    // the streaming form: update-mode counts; each micro-batch's output
    // overwrites that window×type's count in the serving state, and the
    // rank step runs over the (tiny) count table — here via the same
    // rankWindowCounts the batch twin plans in
    val state = scala.collection.concurrent.TrieMap.empty[(Timestamp, String), Long]
    val upsert: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (b, _) => {
        b.collect().foreach(r => state((r.getTimestamp(0), r.getString(1))) = r.getLong(2))
        ()
      }
    val q = counts.writeStream.outputMode("update").foreachBatch(upsert).start()
    try {
      mem.addData(data.take(4): _*)
      q.processAllAvailable()
      mem.addData(data.drop(4): _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = Streaming.rankWindowCounts(
        state.toSeq.map { case ((w, t), n) => (w, t, n) }
          .toDF("window_start", "event_type", "n_events"), k = 2)
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getInt(3))).toSet
    assert(streamed == batch, s"\nbatch: $batch\nstreamed: $streamed")
  }

  test("mapGroupsWithState funnel automaton: snapshot parity with the batch stage machine") {
    implicit val sqlCtx = spark.sqlContext
    // (user_id, event_id, event_type, ts) — covers: full traversal (u1),
    // click outside the 60-min view window (u2), click with no prior
    // view then purchase with no qualified click (u3), purchase beyond
    // the 24-h click window (u4)
    val all = Seq(
      (1L, 1L, "view", ts("2024-01-01 10:00:00")),
      (1L, 2L, "click", ts("2024-01-01 10:30:00")),
      (1L, 3L, "purchase", ts("2024-01-01 11:00:00")),
      (2L, 4L, "view", ts("2024-01-01 10:00:00")),
      (2L, 5L, "click", ts("2024-01-01 12:00:00")),
      (3L, 6L, "click", ts("2024-01-01 10:00:00")),
      (3L, 7L, "purchase", ts("2024-01-01 10:30:00")),
      (4L, 8L, "view", ts("2024-01-01 10:00:00")),
      (4L, 9L, "click", ts("2024-01-01 10:20:00")),
      (4L, 10L, "purchase", ts("2024-01-03 11:00:00")))
    val mem = MemoryStream[(Long, Long, String, Timestamp)]
    val q = Streaming.funnelStageStream(
        mem.toDF().toDF("user_id", "event_id", "event_type", "ts"))
      .writeStream.format("memory").queryName("funnel_stage")
      .outputMode("update").start()
    try {
      // batch 1 delivered unordered WITHIN the batch (iterator must
      // sort); batch 2 advances each user; batch 3 replays batch 2
      // (must be a no-op via the lastT/lastId guard)
      mem.addData(all.take(6).reverse: _*)
      q.processAllAvailable()
      mem.addData(all.drop(6): _*)
      q.processAllAvailable()
      mem.addData(all.drop(6): _*)
      q.processAllAvailable()
      val streamed = spark.table("funnel_stage")
        .groupBy("user_id").agg(max(col("stage")).as("stage"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      val batch = graft.operators.Funnel.userStages(
          all.toDF("user_id", "event_id", "event_type", "ts"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(streamed == batch, s"\nbatch: $batch\nstreamed: $streamed")
      assert(batch == Set((1L, 3), (2L, 1), (3L, 0), (4L, 2)))
    } finally q.stop()
  }

  test("mapGroupsWithState OHLC: out-of-order batches converge to the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, Long, Long)]
    // (user_id, d, event_id, tsm, c)
    val q = Streaming.ohlcPerKeyStream(
        mem.toDF().toDF("user_id", "d", "event_id", "tsm", "c"))
      .writeStream.format("memory").queryName("ohlc_stream")
      .outputMode("update").start()
    try {
      // batch 1: user 1 day 10 gets its LAST (by time) event first —
      // the candle merge is order-independent, so close must still be
      // the max-key event once the earlier ones arrive in batch 2
      mem.addData((1L, 10L, 3L, 3000L, 70L), (2L, 10L, 4L, 1500L, 20L))
      q.processAllAvailable()
      mem.addData((1L, 10L, 5L, 1000L, 40L), (1L, 10L, 6L, 2000L, 90L))
      q.processAllAvailable()
      mem.addData((1L, 10L, 6L, 2000L, 90L)) // replayed micro-batch: no-op
      q.processAllAvailable()
      val latest = spark.table("ohlc_stream")
        .groupBy("user_id", "d")
        .agg(max(struct(col("n_events"), col("open_cents"),
          col("high_cents"), col("low_cents"), col("close_cents"),
          col("volume_cents"))).as("s"))
        .select(col("user_id"), col("d"), col("s.open_cents"),
          col("s.high_cents"), col("s.low_cents"), col("s.close_cents"),
          col("s.n_events"), col("s.volume_cents"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSet
      val twin = Streaming.ohlcPerKey(Seq(
          (1L, 10L, 3L, 3000L, 70L), (2L, 10L, 4L, 1500L, 20L),
          (1L, 10L, 5L, 1000L, 40L), (1L, 10L, 6L, 2000L, 90L))
          .toDF("user_id", "d", "event_id", "tsm", "c"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSet
      assert(latest == twin, s"\nbatch: $twin\nstreamed: $latest")
      // hand candle for user 1/day 10: open = tsm 1000 (40), close =
      // tsm 3000 (70), high 90, low 40, n 3, vol 200
      assert(twin.contains((1L, 10L, 40L, 90L, 40L, 70L, 3L, 200L)))
    } finally q.stop()
  }
  test("streaming KMV: micro-batched sketch state merges to the one-shot sketch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val base = graft.Tables.load(spark, dir, "events")
      .selectExpr("unix_micros(ts) DIV 86400000000 AS day",
        "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 13), 16, 10) AS BIGINT) AS h")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val mem = MemoryStream[(Long, Long)]
    val agg = mem.toDF.toDF("day", "h")
      .groupBy($"day")
      .agg(graft.functions.TopKFunctions.topKPairs(
        struct((-$"h").cast("double").as("score"), $"h".as("id")), 32)
        .as("top"))
    val q = agg.writeStream.format("memory").queryName("kmv_mb")
      .outputMode("complete").start()
    try {
      base.grouped(math.max(1, base.length / 3 + 1)).foreach { chunk =>
        mem.addData(chunk.toSeq); q.processAllAvailable()
      }
      val streamed = spark.table("kmv_mb")
        .select($"day", expr("transform(top, p -> p.id)").as("kept"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val twin = graft.streaming.Streaming.kmvDailyDistinct(
        graft.Tables.load(spark, dir, "events")).collect()
      assert(twin.nonEmpty && twin.length == streamed.size)
      val full = 4503599627370496L
      twin.foreach { r =>
        val day = r.getAs[Long]("day")
        val kept = streamed(day)
        // the streamed sketch must be sorted ascending in h and its
        // k-th element must reproduce the batch twin's theta
        assert(kept == kept.sorted)
        val theta = if (kept.length < 32) full else kept.last
        assert(r.getAs[Long]("theta") == theta,
          s"day $day: streamed theta $theta vs twin ${r.getAs[Long]("theta")}")
        val est = if (kept.length < 32) kept.length.toLong
          else math.floor(31L * (4503599627370496.0 / theta)).toLong
        assert(r.getAs[Long]("est_users") == est, s"day $day estimate")
      }
    } finally q.stop()
  }
}
