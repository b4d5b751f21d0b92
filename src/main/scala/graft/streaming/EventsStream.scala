package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** Structured Streaming surface (SURVEY §2 non-query APIs): the streaming
  * twins of q30 (tumbling window agg) and q31 (gap sessionization), and
  * the one home of the events family's event-time decisions: the session
  * gap and q31's rollup, the click→purchase interval join, and the
  * reorder-buffer finality rule. StreamQueries only wires sources and
  * sinks around them.
  *
  * All transforms take an unbounded DataFrame/Dataset (from `readStream` or
  * MemoryStream in tests) and return one — source/sink agnostic, so the
  * same code runs on Kafka at scale. State size is bounded by the
  * watermark (windowed aggs) or by active keys (sessionization): at 1000
  * executors, state is hash-partitioned by group key in the state store.
  */
/** An open session of [[EventsStream.sessionizeStateful]]: first and last
  * event time (epoch ms), event count and value sum. Top-level and public:
  * the state-store encoder's generated code must be able to call the
  * accessors (Janino rejects nested private classes). */
case class SessionState(start: Long, last: Long, n: Long, acc: Double)

/** One event held in a reorder buffer until it is final: epoch millis
  * plus sub-second nanos give the full-precision event-time order key
  * ((sec, nanos-in-sec, id); micros on disk, so lossless). */
case class BufEvent(tsMs: Long, tsNs: Int, eventId: Long, value: Double)

/** Reorder-buffered sessionizer state: the open session (if any), the
  * group's max event time seen, and the events not yet final. */
case class SessBufState(open: Option[SessionState], maxSeenMs: Long,
    buf: List[BufEvent])

/** Threshold-alert state: running cents and event count over the final
  * events, whether the alert fired, and the reorder buffer. */
case class AlertState(cum: Long, n: Long, crossed: Boolean,
    maxSeenMs: Long, buf: List[BufEvent])
case class Crossing(user_id: Long, n_events_at_cross: Long,
    cents_at_cross: Long)

/** Per-user running totals for [[EventsStream.runningStats]] (top-level
  * for the same encoder-codegen reason as [[SessionState]]). */
case class RunningStats(n: Long, acc: Double)

/** transformWithState processor (Spark 4 arbitrary-state v2 — the
  * successor of flatMapGroupsWithState, RocksDB-backed with typed state
  * handles and TTL support): maintains per-user running event count and
  * value sum, emitting the updated totals for every input batch. State is
  * one ValueState row per active user — hash-partitioned across
  * executors' state stores, never driver-resident. */
class RunningStatsProcessor
    extends StatefulProcessor[Long, EventsStream.Event, (Long, Long, Double)] {
  @transient private var st: ValueState[RunningStats] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[RunningStats]("running",
      Encoders.product[RunningStats], TTLConfig.NONE)

  override def handleInputRows(key: Long,
      rows: Iterator[EventsStream.Event],
      timerValues: TimerValues): Iterator[(Long, Long, Double)] = {
    var cur = if (st.exists()) st.get() else RunningStats(0L, 0.0)
    rows.foreach(e => cur = RunningStats(cur.n + 1, cur.acc + e.value))
    st.update(cur)
    Iterator.single((key, cur.n, cur.acc))
  }
}

object EventsStream {

  case class Event(
      event_id: Long,
      ts: Timestamp,
      user_id: Long,
      event_type: String,
      value: Double)

  case class SessionSummary(
      user_id: Long,
      session_start: Timestamp,
      session_last: Timestamp,
      n_events: Long,
      sum_value: Double)

  /** The session gap, in whole seconds, of q31 and its streaming twins
    * st02 and st08: a new session starts when the floor-second difference
    * between a user's consecutive events is over it, so two events exactly
    * 1800 s (or 1800.4 s) apart stay in one session, as in q31's
    * `unix_timestamp` difference and its oracle's `date_diff('second')`. */
  val SessionGapSec = 1800L

  /** The reordering horizon of the events replay: StreamQueries.replayDir
    * delays each event by less than this, and every reorder buffer below
    * takes it as its finality horizon. */
  private[graft] val DisorderHorizonSec = 1800L

  /** Tumbling 1-hour windowed counts with a 2-hour watermark (late data
    * beyond that is dropped; state is evicted past the watermark). */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      // exact integer cents in the state store (value is 2dp): merging
      // partial state across micro-batches is then exact at any scale —
      // a rounded double sum drifts once totals reach ~1e12 (sf10 audit)
      .agg(count(lit(1)).as("cnt"),
        sum(expr("cast(round(value * 100) as bigint)")).as("sum_value_cents"))
      .select(
        col("window.start").as("hour_ts"),
        col("event_type"), col("cnt"), col("sum_value_cents"))

  /** Gap sessionization with the native session_window operator (st02),
    * the Spark-first twin of q31: one row per (user, session) with its
    * first and last event time, event count and exact cents. The window
    * runs over the floor-second event time with a gap of
    * [[SessionGapSec]], and session_window merges windows that touch, so
    * two events share a session exactly when their floor-second
    * difference is at most [[SessionGapSec]]. */
  def sessionWindows(events: DataFrame): DataFrame =
    events
      .withColumn("ts_sec", date_trunc("second", col("ts")))
      .withWatermark("ts_sec", "2 hours")
      .groupBy(session_window(col("ts_sec"), s"$SessionGapSec seconds"),
        col("user_id"))
      .agg(min(col("ts")).as("session_start"),
        max(col("ts")).as("session_last"),
        count(lit(1)).as("n_events"),
        sum(expr("cast(round(value * 100) as bigint)")).as("sum_value_cents"))
      .select(col("user_id"), col("session_start"), col("session_last"),
        col("n_events"), col("sum_value_cents"))

  /** q31's per-user rollup of per-session rows (`user_id`,
    * `session_start`, `session_last`, `n_events`), shared by q31, st02
    * and st08: session count, event count, and the average session length
    * in minutes, half-up at 2dp via EXACT integer arithmetic:
    * round(sum_sec/(60n)·100) = (10·sum_sec + 3n) div (6n). Rounding the
    * float average diverges across engines when the value's shortest
    * decimal repr is a tie (e.g. 1.275), which real data does hit. */
  def sessionRollup(sessions: DataFrame): DataFrame =
    sessions
      .select(col("user_id"), col("n_events"),
        (unix_timestamp(col("session_last")) -
          unix_timestamp(col("session_start"))).as("dur_sec"))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("n_events"),
        sum(col("dur_sec")).as("sum_sec"))
      .select(col("user_id"), col("n_sessions"), col("n_events"),
        (expr("(10 * sum_sec + 3 * n_sessions) div (6 * n_sessions)") / 100.0)
          .as("avg_session_min"))
      .orderBy("user_id")

  /** Sliding 1-hour windows every 15 minutes: each event contributes to 4
    * overlapping windows. Same watermark-bounded state as the tumbling
    * path; window assignment is map-side (no extra shuffle vs tumbling). */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(
        col("window.start").as("win_start"),
        col("event_type"), col("cnt"))

  /** The click→purchase stream-stream interval join of st04, st07 and
    * st15 (`joinType` "inner" or "left_outer"): each click pairs with its
    * user's purchases in the 10 minutes after it; output `(user_id, c_ts,
    * p_ts)`, with a null `p_ts` for a click left-outer found no match.
    * Both sides are watermarked 1 h behind, which dominates the replay's
    * 30-minute reordering horizon, so no row is late-dropped; a side's
    * state is evicted once the other side's watermark proves no future
    * match can exist, and for the left-outer join that eviction is what
    * emits an unmatched click's null row. State is O(events in the
    * horizon), so append output equals the batch join over finite input
    * whatever the micro-batch boundaries. */
  def clickToPurchase(events: DataFrame, joinType: String): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 10 MINUTES"),
      joinType)
      .select(col("user_id"), col("c_ts"), col("p_ts"))
  }

  /** Per-user running totals via transformWithState (Spark 4 state v2;
    * requires the RocksDB state store provider). Update-mode output:
    * each micro-batch emits the new totals for the users it touched. */
  def runningStats(events: Dataset[Event]): Dataset[(Long, Long, Double)] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new RunningStatsProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** Stream-static join: enrich the event stream with a dimension table.
    * The static side is planned per micro-batch (broadcast for small
    * dims); no state is kept. */
  def enrichWithDim(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(
      org.apache.spark.sql.functions.broadcast(dim),
      events("user_id") === dim("c_custkey"))
      .select(events("event_id"), events("ts"), events("user_id"),
        events("event_type"), events("value"),
        dim("c_mktsegment").as("segment"))

  /** Streaming exact dedup (the streaming twin of d01): drop re-deliveries
    * of the same event id within the watermark horizon; state is evicted
    * past it, so memory is bounded by the horizon's key cardinality. */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  /** foreachBatch sink: stream micro-batches into the partitioned
    * columnar writer, giving the streaming path the same layout as the
    * batch ETL. foreachBatch is AT-LEAST-ONCE (a batch whose files
    * committed before the checkpoint offset was written is re-executed on
    * restart), so each micro-batch overwrites its own batch_id=N
    * subdirectory — replays rewrite exactly their own output instead of
    * appending duplicates, making the sink effectively exactly-once.
    * Readers of `path` see batch_id as a discovered partition column. */
  def sinkPartitioned(events: DataFrame, path: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      batch
        .withColumn("dt", org.apache.spark.sql.functions.to_date(org.apache.spark.sql.functions.col("ts")))
        .write.mode("overwrite")
        // The whole batch_id=N dir is the idempotency unit, so force STATIC
        // overwrite semantics for this write: under the session-wide
        // dynamic mode (GraftSession) a replay would only replace the dt
        // partitions present in the replayed batch, leaving stale dt dirs
        // from a failed attempt whose batch produced a different dt set.
        .option("partitionOverwriteMode", "static")
        .partitionBy("dt")
        .parquet(s"$path/batch_id=$batchId")
    }

  /** The one reorder-buffer finality rule of the event-time state
    * machines ([[sessionizeStateful]], [[thresholdCrossings]]). An event
    * is FINAL, so no future arrival can precede it, once
    *  - the watermark has passed it, or
    *  - the group has seen an event more than [[DisorderHorizonSec]]
    *    past it, since no arrival is more than the horizon out of order.
    *    This signal works within a batch: a historical micro-batch spans
    *    days of event time while the watermark moves only between batches
    *    (watermark-only buffering held ~25 K rows per batch, ~2.5 s per
    *    batch of state encode/decode).
    * The extra 1 s absorbs ms flooring of the stored epoch and keeps the
    * cut clear of the (sec, nanos) order key's second granularity, so no
    * second is split across folds. Proof of the horizon rule for the
    * replay: a future event f obeys jord(f) > B (its chunk starts after
    * this one ends) ≥ jord(m) ≥ ts(m) for every already-seen m, so
    * ts(f) = jord(f) − jit(f) > ts(m) − horizon.
    * Returns the group's max seen event time, the final events in
    * event-time order and the events still held. */
  private def reorder(state: GroupState[_], maxSeenMs: Long,
      held: List[BufEvent], batch: Iterator[Event])
      : (Long, List[BufEvent], List[BufEvent]) = {
    val incoming = batch.map(e =>
      BufEvent(e.ts.getTime, e.ts.getNanos, e.event_id, e.value)).toList
    // an empty buffer with no max seen partitions nothing, so the
    // wrapped cut of Long.MinValue is never read
    val maxSeen = (maxSeenMs :: incoming.map(_.tsMs)).max
    val cut = math.max(state.getCurrentWatermarkMs(),
      maxSeen - DisorderHorizonSec * 1000 - 1000)
    val (ready, hold) = (held ++ incoming).partition(_.tsMs <= cut)
    (maxSeen, ready.sortBy(e => (e.tsMs / 1000, e.tsNs, e.eventId)), hold)
  }

  /** Re-invokes the group through its EventTimeTimeout once the watermark
    * passes the earliest of `at` (held events are above the watermark by
    * the cut; a session deadline may not be). */
  private def wakeAt(state: GroupState[_], at: List[Long]): Unit =
    if (at.nonEmpty)
      state.setTimeoutTimestamp(
        math.max(at.min, state.getCurrentWatermarkMs() + 1))

  /** First epoch ms that opens a new session after an event at `lastMs`:
    * the floor-second difference then exceeds [[SessionGapSec]]. */
  private def gapEnd(lastMs: Long): Long =
    (Math.floorDiv(lastMs, 1000L) + SessionGapSec + 1) * 1000

  /** Custom-state sessionization via flatMapGroupsWithState (st08): the
    * gap semantics of q31 with arbitrary per-session state (here: value
    * sums), emitting a summary when the gap closes a session. This is the
    * extension point session_window can't express (e.g. model-state per
    * user, conditional emission). Session boundaries are an event-time
    * order property, so events fold into the open session only once
    * [[reorder]] calls them final. A session closes when a final event
    * opens the next one, or when the watermark reaches its [[gapEnd]]:
    * every later arrival and every held event is then past the gap.
    * History: SURVEY.md §8e, task 1+5. */
  def sessionizeStateful(events: Dataset[Event]): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessBufState, SessionSummary](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessBufState]) =>
          val st0 = state.getOption.getOrElse(
            SessBufState(None, Long.MinValue, Nil))
          val (maxSeen, ready, hold) =
            reorder(state, st0.maxSeenMs, st0.buf, batch)
          def summary(s: SessionState) = SessionSummary(userId,
            new Timestamp(s.start), new Timestamp(s.last), s.n, s.acc)
          var closed = List.empty[SessionSummary]
          var cur = st0.open
          ready.foreach { e =>
            cur = cur match {
              case Some(s) if e.tsMs < gapEnd(s.last) =>
                Some(s.copy(last = e.tsMs, n = s.n + 1, acc = s.acc + e.value))
              case prev =>
                prev.foreach(closed ::= summary(_))
                Some(SessionState(e.tsMs, e.tsMs, 1, e.value))
            }
          }
          cur.filter(s => state.getCurrentWatermarkMs() >= gapEnd(s.last))
            .foreach { s => closed ::= summary(s); cur = None }
          if (cur.isEmpty && hold.isEmpty) state.remove()
          else {
            state.update(SessBufState(cur, maxSeen, hold))
            wakeAt(state, hold.map(_.tsMs) ++ cur.map(s => gapEnd(s.last)))
          }
          closed.reverseIterator
      }
  }

  /** Stateful threshold alerting (st12): ONE row per user at the first
    * event, in event-time order, at which their running spend in exact
    * cents reaches `threshold`; it never re-fires. Values can be
    * negative, so the running sum is not monotone and "first crossing" is
    * an event-time order property: events fold only once [[reorder]]
    * calls them final, in full-precision (ts, event_id) order. Cents
    * round via BigDecimal HALF_UP on the double, bit-identical to SQL
    * `round(value * 100)` on both engines. History: SURVEY.md §8e,
    * task 1+5. */
  def thresholdCrossings(events: Dataset[Event], threshold: Long)
      : Dataset[Crossing] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AlertState, Crossing](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[AlertState]) =>
          val st0 = state.getOption
            .getOrElse(AlertState(0L, 0L, false, Long.MinValue, Nil))
          val (maxSeen, ready, hold) =
            reorder(state, st0.maxSeenMs, st0.buf, batch)
          var cum = st0.cum
          var n = st0.n
          var fired = st0.crossed
          var out: Option[Crossing] = None
          ready.foreach { e =>
            cum += java.math.BigDecimal.valueOf(e.value * 100)
              .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
            n += 1
            if (!fired && cum >= threshold) {
              fired = true
              out = Some(Crossing(userId, n, cum))
            }
          }
          state.update(AlertState(cum, n, fired, maxSeen, hold))
          wakeAt(state, hold.map(_.tsMs))
          out.iterator
      }
  }
}
