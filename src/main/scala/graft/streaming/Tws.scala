package graft.streaming

import graft.streaming.EventPipelines.{Ev, Session}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._

/** Sessionization on Spark 4's arbitrary-state API
  * ([[org.apache.spark.sql.KeyValueGroupedDataset.transformWithState]]
  * + [[StatefulProcessor]]) — the modern twin of
  * [[EventPipelines.sessionizeStream]]'s `flatMapGroupsWithState`
  * design, with the SAME semantics (one open session per user, flush
  * on gap-exceeding arrival or on the event-time watermark passing the
  * session deadline, strict `<` at the boundary — the invariant
  * `Oracles.streamSessionize` encodes) so it is gated against the
  * UNCHANGED single-drain oracle.
  *
  * Why it exists: `transformWithState` only runs on the RocksDB state
  * store provider, so this path is simultaneously the deployment-grade
  * state-backend check — at 100 TB drain state must not live on the
  * executor heap, and this gate proves the sessionizer's semantics are
  * identical when state moves to RocksDB (off-heap, changelog-
  * checkpointed). Timers replace `GroupState` timeouts: the session
  * deadline is an explicit registered timer, deleted and re-registered
  * as events extend the session, with the state value carrying the
  * currently-armed deadline so a concurrently-surviving stale timer
  * (or a provider firing at `==` rather than `>`) is detected and
  * suppressed rather than silently flushing early.
  *
  * Scale shape: identical to the fMGWS twin — state is
  * O(users active within the watermark horizon), one value row + one
  * timer per open session, eagerly removed at flush. */
object Tws {

  /** Session accumulator plus the armed timer's timestamp (ms). */
  final case class TwsSessionState(start: Long, last: Long, n: Long,
      deadlineMs: Long)

  final class SessionProcessor(gapNs: Long)
      extends StatefulProcessor[Long, Ev, Session] {
    @transient private var state: ValueState[TwsSessionState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[TwsSessionState]("session",
        Encoders.product[TwsSessionState], TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[Ev],
        timers: TimerValues): Iterator[Session] = {
      var out = List.empty[Session]
      var st: Option[TwsSessionState] =
        if (state.exists()) Some(state.get()) else None
      // the open session's deadline is re-armed below; drop the old timer
      st.foreach(s => getHandle.deleteTimer(s.deadlineMs))
      rows.toSeq.sortBy(e => (e.ts, e.event_id)).foreach { e =>
        st match {
          case Some(s) if e.ts - s.last > gapNs =>
            out ::= Session(user, s.n, s.last - s.start)
            st = Some(TwsSessionState(e.ts, e.ts, 1, 0L))
          case Some(s) =>
            st = Some(TwsSessionState(s.start, e.ts, s.n + 1, 0L))
          case None =>
            st = Some(TwsSessionState(e.ts, e.ts, 1, 0L))
        }
      }
      st.foreach { s =>
        // deadline = last event + gap (ms); a late batch can put that
        // at/behind the watermark — clamp just past it (the fMGWS
        // clamp), so the flush fires on the next watermark advance
        val deadlineMs = math.max(s.last / 1000000L + gapNs / 1000000L,
          timers.getCurrentWatermarkInMs() + 1)
        state.update(s.copy(deadlineMs = deadlineMs))
        getHandle.registerTimer(deadlineMs)
      }
      out.reverseIterator
    }

    override def handleExpiredTimer(user: Long, timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[Session] = {
      if (!state.exists()) return Iterator.empty
      val s = state.get()
      // a stale timer (session since extended) must not flush
      if (s.deadlineMs != expired.getExpiryTimeInMs) return Iterator.empty
      // strict boundary: deadline == watermark keeps the session open
      // (Oracles.streamSessionize's `<`); if the provider fired at the
      // boundary, re-arm one ms past the watermark instead of flushing
      if (s.deadlineMs >= timers.getCurrentWatermarkInMs()) {
        val re = timers.getCurrentWatermarkInMs() + 1
        state.update(s.copy(deadlineMs = re))
        getHandle.registerTimer(re)
        return Iterator.empty
      }
      state.clear()
      Iterator.single(Session(user, s.n, s.last - s.start))
    }
  }

  /** [[EventPipelines.sessionizeStream]] re-expressed on
    * `transformWithState`. `ts` is epoch-nanos BIGINT; the watermark
    * rides a µs-truncated TimestampType twin while session arithmetic
    * stays exact integer nanos — identical to the fMGWS twin, so both
    * share one oracle. Requires the RocksDB state store provider
    * (Spark rejects the HDFS-backed default for this operator), which a
    * [[Drain]] sets when its plan holds this operator. */
  def sessionizeStreamTws(spark: SparkSession, events: DataFrame,
      gapNs: Long = 30L * 60 * 1000000000L,
      watermarkDelay: String = "1 hour"): Dataset[Session] = {
    import spark.implicits._
    events.select(col("user_id"), col("ts"), col("event_id"),
        // integer div: epoch-nanos exceed double's mantissa (see
        // sessionizeStream's note)
        timestamp_micros(expr("ts div 1000")).as("event_time"))
      .withWatermark("event_time", watermarkDelay)
      .as[Ev]
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor(gapNs),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
