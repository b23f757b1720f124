package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming slot (SURVEY.md §2.7 — the reference has no
  * streaming; its incremental unit is a daily date partition). The
  * `events` table's natural streaming treatment: tumbling-window counts
  * with a late-data watermark, written with the same logical plan for
  * batch and streaming inputs so the batch run is oracle-checkable and
  * the streaming run is the production path (`readStream` → this →
  * `writeStream` with checkpointing).
  */
object Streaming {

  /** Tumbling-window per-type event counts. Streaming semantics: state
    * for a window is dropped once the watermark passes its end, and
    * events older than the watermark are ignored — bounded state however
    * long the stream runs. On a batch DataFrame the watermark is a no-op
    * and this is a plain window aggregate.
    */
  /** Per-day KMV distinct-user sketch, batch twin (the streaming form is
    * the same groupBy + topk_pairs aggregate run in complete mode over
    * micro-batches — StreamingSpec proves the micro-batched sketch state
    * merges to this one-shot result, which is the mergeability claim of
    * agg_theta_sketch_setops exercised through the streaming engine).
    * K=32 smallest 13-nibble md5 hashes per day (set semantics of the
    * bounded heap = KMV over distinct hashes, no pre-distinct pass);
    * exact per-day distinct users ride along as the audit column.
    */
  def kmvDailyDistinct(events: DataFrame, k: Int = 32): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val e = events.select(
      expr("unix_micros(ts) DIV 86400000000").as("day"), col("user_id"),
      expr("CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 13), 16, 10) AS BIGINT)")
        .as("h"))
    val full = 4503599627370496L
    e.groupBy($"day")
      .agg(countDistinct($"user_id").as("exact_users"),
        countDistinct($"h").as("nd"),
        graft.functions.TopKFunctions.topKPairs(
          struct((-$"h").cast("double").as("score"), $"h".as("id")), k)
          .as("top"))
      .select($"day", $"exact_users", $"nd",
        when($"nd" < k.toLong, lit(full))
          .otherwise(expr(s"try_element_at(top, $k).id")).as("theta"))
      .select($"day", $"exact_users",
        when($"nd" < k.toLong, $"nd")
          .otherwise(floor(lit((k - 1).toLong)
            * (lit(4503599627370496.0) / $"theta".cast("double")))
            .cast("long")).as("est_users"),
        $"theta")
      .withColumn("err_ppm",
        expr("(abs(est_users - exact_users) * 1000000) DIV greatest(exact_users, 1L)"))
      .orderBy($"day")
  }

  def tumblingEventCounts(
      events: DataFrame,
      windowDur: String = "1 hour",
      watermarkDur: String = "2 hours"): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", watermarkDur) else events
    src
      .groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n_events"))
  }

  /** Sliding-window counts (each event lands in windowDur/slideDur
    * windows): same plan shape as the tumbling variant, overlapping
    * epoch-aligned windows. Streaming form adds the watermark.
    */
  def slidingEventCounts(
      events: DataFrame,
      windowDur: String = "2 hours",
      slideDur: String = "1 hour",
      watermarkDur: String = "2 hours"): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", watermarkDur) else events
    src
      .groupBy(window(col("ts"), windowDur, slideDur), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("event_type"), col("n_events"))
  }

  /** Rank step of the windowed top-k: keep the k most frequent event
    * types per window (ties to the lexicographically first type). A
    * window function can't run inside a streaming aggregation, so the
    * streaming path applies this to each micro-batch's updated counts in
    * `foreachBatch` (over the tiny per-window count table — O(windows ×
    * types), not O(events)); the batch twin composes it in-plan. The
    * row_number window is PARTITIONED by window_start — no global sort.
    */
  def rankWindowCounts(counts: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("window_start"))
      .orderBy(col("n_events").desc, col("event_type"))
    counts
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
  }

  /** Windowed top-k: the k most frequent event types in each tumbling
    * window — the streaming dashboard staple ("top pages this hour").
    * Batch twin = tumbling counts + [[rankWindowCounts]]; the streaming
    * form runs [[tumblingEventCounts]] in update mode and ranks each
    * micro-batch's output in `foreachBatch` (StreamingSpec pins parity).
    */
  def topEventTypesPerWindow(
      events: DataFrame,
      k: Int = 3,
      windowDur: String = "1 hour",
      watermarkDur: String = "2 hours"): DataFrame =
    rankWindowCounts(tumblingEventCounts(events, windowDur, watermarkDur), k)

  /** Per-user running value totals via stateful streaming aggregation —
    * batch twin is a plain groupBy; streaming runs in update mode.
    */
  def userValueTotals(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(20,2)")).cast("double").as("total_value"))

  // ── per-key EWMA: sequential recurrence as streaming state ───────────

  final case class EwmaEvent(user_id: Long, event_id: Long, value: Double)
  /** EWMA state: the running smoothed value, event count, and the highest
    * event id folded so far (replay/ordering guard).
    */
  final case class EwmaState(ewma: Double, n: Long, lastEventId: Long)
  final case class EwmaOut(user_id: Long, n_events: Long, ewma: Double)

  /** Batch EWMA twin (α = 1/2): y_1 = x_1, y_t = x_t/2 + y_{t-1}/2 over
    * each user's event_id-ordered values — ONE ordered fold per key
    * (sort_array(collect_list) + `aggregate`) after one hash shuffle.
    * Identical arithmetic to the registered `agg_ewma_per_key` plan;
    * [[ewmaPerUserStream]] carries the same recurrence as streaming
    * state and StreamingSpec pins the two equal.
    */
  def ewmaPerUser(events: DataFrame): DataFrame =
    events.select(col("user_id"), col("event_id"), col("value"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sort_array(collect_list(struct(col("event_id"), col("value")))).as("seq"))
      .withColumn("vals", col("seq").getField("value"))
      .select(col("user_id"), col("n_events"),
        aggregate(slice(col("vals"), lit(2), greatest(size(col("vals")) - 1, lit(0))),
          element_at(col("vals"), 1),
          (acc, x) => acc * lit(0.5) + x * lit(0.5)).as("ewma"))

  /** Streaming EWMA (`mapGroupsWithState`, update mode): state is one
    * (ewma, n, last id) triple per user — O(keys) however long the
    * stream runs. Each micro-batch's group iterator sorts by event_id
    * (bounded by per-user-per-batch volume) and folds in order with the
    * SAME op sequence as the batch twin (y·0.5 + x·0.5 — the recurrence
    * is order-defined, so this is the semantics, not an optimization).
    * Events at or below the state's last folded id are skipped: replay
    * of an already-folded micro-batch is a no-op (at-least-once sink
    * safety); correctness across batches requires id-monotone arrival,
    * which event_id gives by construction.
    */
  def ewmaPerUserStream(events: DataFrame): Dataset[EwmaOut] = {
    val sp = events.sparkSession
    import sp.implicits._
    events.select(col("user_id"), col("event_id"), col("value"))
      .as[EwmaEvent]
      .groupByKey(_.user_id)
      .mapGroupsWithState[EwmaState, EwmaOut](GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[EwmaEvent], state: GroupState[EwmaState]) =>
          var st = state.getOption.getOrElse(EwmaState(0.0, 0L, Long.MinValue))
          it.toArray.sortBy(_.event_id).foreach { e =>
            if (e.event_id > st.lastEventId) {
              val y = if (st.n == 0L) e.value else st.ewma * 0.5 + e.value * 0.5
              st = EwmaState(y, st.n + 1, e.event_id)
            }
          }
          state.update(st)
          EwmaOut(uid, st.n, st.ewma)
      }
  }

  // ── CUSUM drift monitor: integer SPC state per key ───────────────────

  final case class CusumEvent(user_id: Long, event_id: Long, v_cents: Long)
  /** (S_t, peak, folded count, last folded id) — all BIGINT, O(keys). */
  final case class CusumState(s: Long, peak: Long, n: Long, lastEventId: Long)
  final case class CusumOut(
      user_id: Long, n_events: Long, peak_cusum_cents: Long, alarm: Long)

  /** Batch CUSUM twin against a FIXED target (the deployable streaming
    * form of `window_cusum_drift` — a live monitor can't know the global
    * mean, so the reference level is a parameter): S_t = max(0,
    * S_{t-1} + (x_t − T)) via the same closed form C_t − min(0, runmin
    * C_t), two stock frames over one user-partitioned event_id sort.
    * All-BIGINT ⇒ bit-exact; [[cusumPerUserStream]] carries the literal
    * recurrence as streaming state and StreamingSpec pins them equal.
    */
  def cusumPerUser(events: DataFrame, targetCents: Long,
      alarmCents: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wc = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .select(col("user_id"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v_cents"))
      .withColumn("cum", sum(col("v_cents") - lit(targetCents)).over(wc))
      .withColumn("s_hi",
        col("cum") - least(lit(0L), min(col("cum")).over(wc)))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        max(col("s_hi")).as("peak_cusum_cents"),
        max(when(col("s_hi") > alarmCents, 1L).otherwise(0L)).as("alarm"))
  }

  /** Streaming CUSUM (`mapGroupsWithState`, update mode): one (S, peak,
    * last id) triple per user — O(keys) state. Each micro-batch sorts
    * its group's rows by event_id and folds max(0, S + (x − T)); rows at
    * or below the last folded id are skipped, so replaying a micro-batch
    * is a no-op (at-least-once sink safety). Integer state ⇒ the fold is
    * associative-free and the parity with [[cusumPerUser]] is exact.
    */
  def cusumPerUserStream(events: DataFrame, targetCents: Long,
      alarmCents: Long): Dataset[CusumOut] = {
    val sp = events.sparkSession
    import sp.implicits._
    events.select(col("user_id"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v_cents"))
      .as[CusumEvent]
      .groupByKey(_.user_id)
      .mapGroupsWithState[CusumState, CusumOut](GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[CusumEvent], state: GroupState[CusumState]) =>
          var st = state.getOption
            .getOrElse(CusumState(0L, 0L, 0L, Long.MinValue))
          it.toArray.sortBy(_.event_id).foreach { e =>
            if (e.event_id > st.lastEventId) {
              val s = math.max(0L, st.s + (e.v_cents - targetCents))
              st = CusumState(s, math.max(st.peak, s), st.n + 1, e.event_id)
            }
          }
          state.update(st)
          CusumOut(uid, st.n, st.peak,
            if (st.peak > alarmCents) 1L else 0L)
      }
  }

  // ── sessionization: custom state via flatMapGroupsWithState ──────────

  final case class SessionEvent(user_id: Long, ts: Timestamp)
  /** Open-session state: bounds in epoch millis + event count. */
  final case class OpenSession(startMs: Long, endMs: Long, n: Long)
  final case class SessionOut(
      user_id: Long, session_start: Timestamp, session_end: Timestamp,
      n_events: Long)

  private def closeSession(uid: Long, s: OpenSession): SessionOut =
    SessionOut(uid, new Timestamp(s.startMs), new Timestamp(s.endMs), s.n)

  /** The extend-or-close fold both streaming sessionizers run per key and
    * micro-batch: an event within `gapMs` of the open session's end
    * extends it, a later one closes it and opens the next. Returns the
    * closed sessions in time order and the session left open.
    */
  private def extendOrClose(uid: Long, open: Option[OpenSession],
      events: Iterator[SessionEvent], gapMs: Long): (List[SessionOut], Option[OpenSession]) = {
    // a micro-batch's group iterator is unordered — sort in memory
    // (bounded by per-user-per-batch volume, not stream history)
    val times = events.map(_.ts.getTime).toArray.sorted
    var closed = List.empty[SessionOut]
    var cur = open
    times.foreach { t =>
      cur = cur match {
        case Some(s) if t - s.endMs <= gapMs =>
          Some(s.copy(endMs = math.max(s.endMs, t), n = s.n + 1))
        case Some(s) =>
          closed ::= closeSession(uid, s); Some(OpenSession(t, t, 1))
        case None => Some(OpenSession(t, t, 1))
      }
    }
    (closed.reverse, cur)
  }

  /** Batch sessionization twin: a session is a maximal run of a user's
    * events with consecutive gaps <= `gapMinutes`. Two windows over one
    * shuffle partitioning on user_id (gap flag, then running session
    * index) + the final per-session aggregate. This is the oracle-checked
    * plan; [[sessionizeStream]] is the same semantics as streaming state.
    */
  def sessionize(events: DataFrame, gapMinutes: Int): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    events.select(col("user_id"), col("event_id"), col("ts"))
      .withColumn("gap_s",
        col("ts").cast("long") - lag(col("ts"), 1).over(w).cast("long"))
      .withColumn("new_s",
        when(col("gap_s").isNull || col("gap_s") > gapMinutes * 60L, 1L).otherwise(0L))
      .withColumn("sidx", sum(col("new_s"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sidx"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_start"), col("session_end"), col("n_events"))
  }

  /** Streaming sessionization with arbitrary per-key state
    * (`flatMapGroupsWithState`, event-time timeout): state is one open
    * session per user; events extend it or close it; a session also
    * closes when the watermark passes its end + gap (timeout), so state
    * is bounded no matter how long the stream runs. Emits closed
    * sessions (append mode). Event times are handled at millisecond
    * precision in state.
    */
  def sessionizeStream(
      events: DataFrame,
      gapMinutes: Int,
      watermarkDur: String = "1 hour"): Dataset[SessionOut] = {
    val sp = events.sparkSession
    import sp.implicits._
    val gapMs = gapMinutes * 60000L
    events.select(col("user_id"), col("ts")).withWatermark("ts", watermarkDur)
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[SessionEvent], state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(closeSession(uid, _)).iterator
            state.remove()
            out
          } else {
            val (closed, open) = extendOrClose(uid, state.getOption, it, gapMs)
            open.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.endMs + gapMs)
            }
            closed.iterator
          }
      }
  }

  /** Sessionization on the Spark 4 `transformWithState` arbitrary-state
    * API (the successor to flatMapGroupsWithState: typed ValueState,
    * explicit event-time timers, RocksDB-backed): identical semantics to
    * [[sessionizeStream]] — extend-or-close per event, timer at
    * session end + gap closes idle sessions once the watermark passes.
    * StreamingSpec asserts 3-way agreement with the
    * flatMapGroupsWithState path and the batch twin. Requires
    * `spark.sql.streaming.stateStore.providerClass` =
    * RocksDBStateStoreProvider at query start.
    */
  class SessionProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, SessionEvent, SessionOut] {
    @transient private var session:
      org.apache.spark.sql.streaming.ValueState[OpenSession] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      session = getHandle.getValueState[OpenSession]("session",
        org.apache.spark.sql.Encoders.product[OpenSession],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(uid: Long, rows: Iterator[SessionEvent],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[SessionOut] = {
      val (closed, open) = extendOrClose(uid,
        if (session.exists()) Some(session.get()) else None, rows, gapMs)
      open.foreach { s =>
        session.update(s)
        // one live timer per key: re-arm at the new idle deadline
        getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
        getHandle.registerTimer(s.endMs + gapMs)
      }
      closed.iterator
    }

    override def handleExpiredTimer(uid: Long,
        timers: org.apache.spark.sql.streaming.TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[SessionOut] = {
      val out = if (session.exists()) Iterator(closeSession(uid, session.get())) else Iterator.empty
      session.clear()
      out
    }
  }

  /** [[sessionizeStream]] re-expressed on transformWithState. */
  def sessionizeStreamTws(
      events: DataFrame,
      gapMinutes: Int,
      watermarkDur: String = "1 hour"): Dataset[SessionOut] = {
    val sp = events.sparkSession
    import sp.implicits._
    events.select(col("user_id"), col("ts")).withWatermark("ts", watermarkDur)
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor(gapMinutes * 60000L),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  final case class TypeEvent(user_id: Long, event_type: String)
  final case class UserTypeCounts(user_id: Long, n_types: Long, n_events: Long)

  /** Per-user event-type cardinality on `transformWithState` MapState —
    * the keyed-map arbitrary-state primitive the sessionization paths
    * (ValueState + timers) don't exercise: one `MapState[event_type →
    * count]` per user, emitted as an updated (n_types, n_events) snapshot
    * every batch the user appears in. State is bounded by the event-type
    * vocabulary per user, never by stream length. StreamingSpec pins
    * last-snapshot parity with [[userEventTypeCounts]], the batch twin.
    */
  class TypeCountProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, TypeEvent, UserTypeCounts] {
    @transient private var counts:
      org.apache.spark.sql.streaming.MapState[String, Long] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      counts = getHandle.getMapState[String, Long]("counts",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(uid: Long, rows: Iterator[TypeEvent],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[UserTypeCounts] = {
      rows.foreach { e =>
        val cur = if (counts.containsKey(e.event_type)) counts.getValue(e.event_type) else 0L
        counts.updateValue(e.event_type, cur + 1L)
      }
      var types = 0L
      var events = 0L
      counts.values().foreach { v => types += 1; events += v }
      Iterator(UserTypeCounts(uid, types, events))
    }
  }

  /** [[TypeCountProcessor]] wiring: update-mode snapshots per batch. */
  def userEventTypesStream(events: DataFrame): Dataset[UserTypeCounts] = {
    val sp = events.sparkSession
    import sp.implicits._
    events.select(col("user_id"), col("event_type")).as[TypeEvent]
      .groupByKey(_.user_id)
      .transformWithState(new TypeCountProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** Batch twin of [[userEventTypesStream]]'s final snapshot. */
  def userEventTypeCounts(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"))
      .agg(countDistinct(col("event_type")).as("n_types"),
        count(lit(1)).as("n_events"))
      .orderBy("user_id")

  final case class IdEvent(user_id: Long, event_id: Long)
  final case class RecentOut(
      user_id: Long, n_recent: Long, sum_recent: Long, max_recent: Long)

  /** Per-user last-k event buffer on `transformWithState` ListState —
    * the ordered-buffer arbitrary-state primitive (ValueState: session,
    * MapState: type counts, ListState: this). Keeps the k LARGEST
    * event_ids per user ("latest by event order" — deterministic
    * regardless of batch iterator order), state bounded at k longs per
    * user. Emits an updated (n, sum, max) snapshot of the buffer each
    * batch the user appears in; StreamingSpec pins last-snapshot parity
    * with [[userRecentEvents]], the batch twin.
    */
  class RecentEventsProcessor(k: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, IdEvent, RecentOut] {
    @transient private var recent:
      org.apache.spark.sql.streaming.ListState[Long] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      recent = getHandle.getListState[Long]("recent",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(uid: Long, rows: Iterator[IdEvent],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[RecentOut] = {
      val kept = (recent.get().toArray ++ rows.map(_.event_id))
        .sorted.takeRight(k)
      recent.put(kept)
      Iterator(RecentOut(uid, kept.length.toLong, kept.sum, kept.max))
    }
  }

  /** [[RecentEventsProcessor]] wiring: update-mode snapshots per batch. */
  def userRecentEventsStream(events: DataFrame, k: Int = 3): Dataset[RecentOut] = {
    val sp = events.sparkSession
    import sp.implicits._
    events.select(col("user_id"), col("event_id")).as[IdEvent]
      .groupByKey(_.user_id)
      .transformWithState(new RecentEventsProcessor(k),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** Batch twin of [[userRecentEventsStream]]'s final snapshot. */
  def userRecentEvents(events: DataFrame, k: Int = 3): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("event_id").desc)
    events.select(col("user_id"), col("event_id"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_recent"), sum(col("event_id")).as("sum_recent"),
        max(col("event_id")).as("max_recent"))
      .orderBy("user_id")
  }

  final case class CdcEvent(user_id: Long, event_id: Long, op: String, value: Double)
  final case class CdcOut(
      user_id: Long, last_event_id: Long, live: Boolean, last_value: Double)

  /** CDC upsert/delete apply on `transformWithState` ValueState — the
    * change-feed → snapshot materialization every lakehouse MERGE
    * pipeline runs. Per key the state is the (event_id, op, value) of
    * the LARGEST event_id seen; larger-id-wins makes the result
    * independent of batch iterator order and of how the feed is split
    * into micro-batches (out-of-order and cross-batch updates converge
    * to the same snapshot). Emits the key's updated snapshot row each
    * batch it appears in, `live=false` when the latest change is a
    * delete — downstream sinks need the retraction row, not silence.
    * StreamingSpec pins last-snapshot parity with [[cdcSnapshot]], the
    * batch twin.
    */
  class CdcUpsertProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, CdcEvent, CdcOut] {
    @transient private var last:
      org.apache.spark.sql.streaming.ValueState[CdcEvent] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      last = getHandle.getValueState[CdcEvent]("last",
        org.apache.spark.sql.Encoders.product[CdcEvent],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(uid: Long, rows: Iterator[CdcEvent],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[CdcOut] = {
      var cur = if (last.exists()) Some(last.get()) else None
      rows.foreach { e =>
        if (cur.forall(_.event_id < e.event_id)) cur = Some(e)
      }
      cur.foreach(last.update)
      cur.iterator.map(e => CdcOut(uid, e.event_id, live = e.op != "D", e.value))
    }
  }

  /** [[CdcUpsertProcessor]] wiring: update-mode snapshots per batch. */
  def cdcUpsertStream(cdc: DataFrame): Dataset[CdcOut] = {
    val sp = cdc.sparkSession
    import sp.implicits._
    cdc.select(col("user_id"), col("event_id"), col("op"), col("value"))
      .as[CdcEvent]
      .groupByKey(_.user_id)
      .transformWithState(new CdcUpsertProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** Batch twin of [[cdcUpsertStream]]'s final snapshot, LIVE keys only
    * (the materialized table a reader sees after the MERGE): argmax by
    * event_id inside ONE hash aggregate — max(struct) compares event_id
    * first, which is unique per key, so op/value ride along exactly; no
    * window, partial+final merge, the scale-canonical latest-per-key.
    */
  def cdcSnapshot(cdc: DataFrame): DataFrame =
    cdc.groupBy(col("user_id"))
      .agg(max(struct(col("event_id"), col("op"), col("value"))).as("m"))
      .filter(col("m.op") =!= "D")
      .select(col("user_id"), col("m.event_id").as("last_event_id"),
        col("m.value").as("last_value"))
      .orderBy("user_id")

  /** Stream-static enrichment: join each (micro-batch of) events to a
    * static dimension — Spark re-plans the static side per batch, and a
    * small dim broadcasts, so the stream never shuffles. Identical code
    * path for batch and streaming inputs.
    */
  def enrichWithDim(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Stream-stream inner join with an event-time interval: each left
    * event pairs with same-key right events inside
    * [left.ts, left.ts + intervalMin]. On streams BOTH sides carry
    * watermarks and the time-interval condition is what lets Spark bound
    * join state: a buffered left row can be dropped once the right-side
    * watermark passes its ts + interval (and vice versa) — without the
    * interval bound, stream-stream inner join state grows forever. On
    * batch frames the same plan is an equi join with a range conjunct.
    * Left columns come out as (user_id, click_id, click_ts), right as
    * (purchase_id, purchase_ts, purchase_value).
    */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      intervalMin: Int,
      watermarkDur: String = "1 hour"): DataFrame = {
    def wm(df: DataFrame) =
      if (df.isStreaming) df.withWatermark("ts", watermarkDur) else df
    val l = wm(left).select(col("user_id"), col("event_id").as("click_id"),
      col("ts").as("click_ts"))
    val r = wm(right).select(col("user_id").as("r_uid"),
      col("event_id").as("purchase_id"), col("ts").as("purchase_ts"),
      col("value").as("purchase_value"))
    l.join(r, col("user_id") === col("r_uid") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $intervalMin MINUTES"))
      .drop("r_uid")
  }

  /** Left-outer form of [[intervalJoin]]: clicks with no purchase in the
    * interval survive null-padded. Streaming semantics differ from inner
    * in WHEN rows emit: an unmatched left row can only be declared
    * unmatched — and emitted with nulls — once the watermark passes its
    * join-window end (until then a matching right row could still
    * arrive); StreamingSpec pins that with a live MemoryStream pair. On
    * batch frames this is a plain left outer join with the range
    * conjunct.
    */
  def intervalJoinOuter(
      left: DataFrame,
      right: DataFrame,
      intervalMin: Int,
      watermarkDur: String = "1 hour"): DataFrame = {
    def wm(df: DataFrame) =
      if (df.isStreaming) df.withWatermark("ts", watermarkDur) else df
    val l = wm(left).select(col("user_id"), col("event_id").as("click_id"),
      col("ts").as("click_ts"))
    val r = wm(right).select(col("user_id").as("r_uid"),
      col("event_id").as("purchase_id"), col("ts").as("purchase_ts"),
      col("value").as("purchase_value"))
    l.join(r, col("user_id") === col("r_uid") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $intervalMin MINUTES"),
      "left_outer")
      .drop("r_uid")
  }

  /** Exact streaming dedup on event id: streaming uses
    * `dropDuplicatesWithinWatermark` (state for an id is dropped once the
    * watermark passes — bounded memory, the streaming form of the exact
    * dedup operator in [[graft.operators.Dedup]]); batch is a plain
    * `dropDuplicates`.
    */
  def dedupEvents(events: DataFrame, watermarkDur: String = "1 hour"): DataFrame =
    if (events.isStreaming)
      events.withWatermark("ts", watermarkDur)
        .dropDuplicatesWithinWatermark("event_id")
    else events.dropDuplicates("event_id")

  /** Watermark late-data ADMISSION, batch twin (oracle-checkable where a
    * live stream is not). The synthetic events table arrives in event-time
    * order (zero natural lateness), so a deterministic integer permutation
    * re-creates the stressed arrival shape: event e lands in micro-batch
    * `event_id DIV batchSize`, except every `lateEvery`-th event is held
    * back `lateBatches` batches. Spark's admission rule for an append-mode
    * windowed aggregation, which StreamingSpec pins against a real
    * MemoryStream run: a row is DROPPED iff its window's END ≤ the
    * watermark in force when it arrives, and the watermark entering batch
    * b is max(event time over batches < b) − delay (watermarks update at
    * batch completion, never regress).
    *
    * The watermark entering a batch is a PER-BATCH quantity (max event
    * time over earlier batches − delay), so the twin computes it
    * distributed, never over full-table input: per-batch max event time
    * via a hash aggregate, a running max over the one-row-per-batch
    * summary (RANGE … 1 PRECEDING excludes the current batch — its rows
    * are admitted against the PRIOR watermark; the only ordered window,
    * over input already reduced by the aggregate — in production a batch
    * is millions of rows, so #batches ≪ #rows), then a join back on the
    * batch id to filter admissions and aggregate hourly counts.
    */
  def lateDropTumblingCounts(
      events: DataFrame,
      delayMinutes: Int = 10,
      batchSize: Int = 8,
      lateEvery: Int = 5,
      lateBatches: Int = 3): DataFrame = {
    val batch = (col("event_id") - pmod(col("event_id"), lit(batchSize))) / batchSize +
      when(pmod(col("event_id"), lit(lateEvery)) === 0, lateBatches).otherwise(0)
    val base = events.select(col("event_id"), col("event_type"), col("ts"))
      .withColumn("__b", batch.cast("long"))
    val wmWindow = Window.orderBy(col("__b"))
      .rangeBetween(Window.unboundedPreceding, -1)
    val watermarks = base.groupBy(col("__b"))
      .agg(max(unix_micros(col("ts"))).as("__bmax"))
      .withColumn("__wm",
        max(col("__bmax")).over(wmWindow) - delayMinutes * 60000000L)
      .select(col("__b").as("__b_wm"), col("__wm"))
    base.join(watermarks, col("__b") === col("__b_wm"))
      .filter(col("__wm").isNull ||
        unix_micros(date_trunc("hour", col("ts"))) + 3600000000L > col("__wm"))
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"))
  }

  // ── funnel automaton: per-user stage tracking as streaming state ─────

  final case class FunnelEvent(
      user_id: Long, event_id: Long, event_type: String, t: Long)
  /** Automaton state: latest view time, latest QUALIFIED click time
    * (both Long.MinValue = none yet), furthest stage reached, last
    * folded (t, event_id) for replay idempotence.
    */
  final case class FunnelState(
      lastView: Long, lastQc: Long, stage: Int, lastT: Long, lastId: Long)
  final case class FunnelStageOut(user_id: Long, stage: Int)

  /** Streaming funnel-stage automaton (`mapGroupsWithState`, update
    * mode): the per-user view → click(≤60 min) → purchase(≤24 h) stage
    * machine of [[graft.operators.Funnel.userStages]] carried as O(keys)
    * state instead of windowed running maxes. Each micro-batch's group
    * iterator sorts by (t, event_id) — the same order the batch window
    * establishes — and folds each event against the state the batch
    * formulation would have at that row, so for per-user time-monotone
    * arrival ACROSS batches (the watermark discipline; within a batch
    * any order is fine) the final snapshot equals the batch twin —
    * StreamingSpec pins this. Events at or below the state's last
    * folded (t, id) are skipped: replaying a micro-batch is a no-op.
    * A view arriving LATE (after a click it would have qualified) can't
    * retro-qualify that click here — the batch window can; that is the
    * inherent streaming/batch trade documented at the sessionize
    * operators, not a bug in either.
    */
  def funnelStageStream(events: DataFrame): Dataset[FunnelStageOut] = {
    val wClick = 60L * 60 * 1000000
    val wBuy = 24L * 3600 * 1000000
    val sp = events.sparkSession
    import sp.implicits._
    events.select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("t"))
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .mapGroupsWithState[FunnelState, FunnelStageOut](GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          var st = state.getOption.getOrElse(
            FunnelState(Long.MinValue, Long.MinValue, 0, Long.MinValue, Long.MinValue))
          it.toArray.sortBy(e => (e.t, e.event_id)).foreach { e =>
            if (e.t > st.lastT || (e.t == st.lastT && e.event_id > st.lastId)) {
              e.event_type match {
                case "view" =>
                  st = st.copy(lastView = math.max(st.lastView, e.t),
                    stage = math.max(st.stage, 1))
                case "click"
                    if st.lastView != Long.MinValue &&
                      e.t - st.lastView <= wClick =>
                  st = st.copy(lastQc = math.max(st.lastQc, e.t),
                    stage = math.max(st.stage, 2))
                case "purchase"
                    if st.lastQc != Long.MinValue && e.t - st.lastQc <= wBuy =>
                  st = st.copy(stage = 3)
                case _ => ()
              }
              st = st.copy(lastT = e.t, lastId = e.event_id)
            }
          }
          state.update(st)
          FunnelStageOut(uid, st.stage)
      }
  }

  // ── OHLC bars: order-independent per-(user, day) candle state ────────

  final case class OhlcEvent(
      user_id: Long, d: Long, event_id: Long, tsm: Long, c: Long)
  /** One candle per (user, day): open/close carry their (tsm, event_id)
    * anchor keys so min_by/max_by semantics survive any arrival order;
    * all BIGINT, O(keys). */
  final case class OhlcState(
      openTsm: Long, openId: Long, openC: Long,
      closeTsm: Long, closeId: Long, closeC: Long,
      high: Long, low: Long, n: Long, vol: Long, lastEventId: Long)
  final case class OhlcOut(
      user_id: Long, d: Long, open_cents: Long, high_cents: Long,
      low_cents: Long, close_cents: Long, n_events: Long,
      volume_cents: Long)

  /** Batch OHLC twin — the same zero-window min_by/max_by aggregation as
    * the `window_ohlc_bars` registered query, factored so the streaming
    * parity test and the batch twin share one definition. Input columns:
    * (user_id, d, event_id, tsm, c).
    */
  def ohlcPerKey(events: DataFrame): DataFrame = {
    events
      .withColumn("k", concat(
        lpad(col("tsm").cast("string"), 20, "0"),
        lpad(col("event_id").cast("string"), 10, "0")))
      .groupBy(col("user_id"), col("d"))
      .agg(expr("min_by(c, k)").as("open_cents"),
        max(col("c")).as("high_cents"), min(col("c")).as("low_cents"),
        expr("max_by(c, k)").as("close_cents"),
        count(lit(1)).as("n_events"), sum(col("c")).as("volume_cents"))
  }

  /** Streaming OHLC (`mapGroupsWithState`, update mode): unlike the
    * EWMA/CUSUM recurrences, a candle is ORDER-INDEPENDENT once open and
    * close carry their (tsm, event_id) anchor keys — the state merge is
    * a commutative min_by/max_by fold, so cross-batch arrival order
    * never changes the final snapshot (no monotone-arrival assumption
    * for correctness of the candle itself). The one stateful guard is
    * replay: events at or below the state's last folded event_id are
    * skipped (at-least-once sink safety), which — as in the EWMA op —
    * assumes per-key id-monotone arrival for exactness under replay.
    */
  def ohlcPerKeyStream(events: DataFrame): Dataset[OhlcOut] = {
    val sp = events.sparkSession
    import sp.implicits._
    events.select(col("user_id"), col("d"), col("event_id"),
        col("tsm"), col("c"))
      .as[OhlcEvent]
      .groupByKey(e => (e.user_id, e.d))
      .mapGroupsWithState[OhlcState, OhlcOut](GroupStateTimeout.NoTimeout) {
        (key: (Long, Long), it: Iterator[OhlcEvent], state: GroupState[OhlcState]) =>
          var st = state.getOption.getOrElse(OhlcState(
            Long.MaxValue, Long.MaxValue, 0L,
            Long.MinValue, Long.MinValue, 0L,
            Long.MinValue, Long.MaxValue, 0L, 0L, Long.MinValue))
          it.toArray.sortBy(_.event_id).foreach { e =>
            if (e.event_id > st.lastEventId) {
              val opens = e.tsm < st.openTsm ||
                (e.tsm == st.openTsm && e.event_id < st.openId)
              val closes = e.tsm > st.closeTsm ||
                (e.tsm == st.closeTsm && e.event_id > st.closeId)
              st = OhlcState(
                if (opens) e.tsm else st.openTsm,
                if (opens) e.event_id else st.openId,
                if (opens) e.c else st.openC,
                if (closes) e.tsm else st.closeTsm,
                if (closes) e.event_id else st.closeId,
                if (closes) e.c else st.closeC,
                math.max(st.high, e.c), math.min(st.low, e.c),
                st.n + 1, st.vol + e.c, e.event_id)
            }
          }
          state.update(st)
          OhlcOut(key._1, key._2, st.openC, st.high, st.low, st.closeC,
            st.n, st.vol)
      }
  }
}
