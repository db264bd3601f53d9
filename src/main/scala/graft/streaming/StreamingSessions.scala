package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming sessionization — T11 (q82's gap-split session windows) in
  * streaming form: per-key sessions extend while events arrive within the
  * inactivity gap of the session's end, and CLOSE when the event-time
  * watermark passes `end + gap` (the timeout emits the finished session —
  * Append output, one row per closed session).
  *
  * Batch equivalence contract: under event-time-ordered arrival, the
  * closed sessions are IDENTICAL to q82's (start, end, count) rollups over
  * the same events, in any batch partitioning — proven by
  * `StreamingSessionsSpec` on the same fixture with the same 30 min gap.
  * A gap split in the stream needs no full sort: ordering only has to hold
  * WITHIN a key, and the per-batch iterator is sorted per key below.
  *
  * Scale notes: state is one (start, end, n) triple per ACTIVE session per
  * key — closed sessions leave state immediately via the timeout, so state
  * size tracks concurrent activity, not history. The shuffle is the same
  * user-key hash partition the batch windows use.
  */
object StreamingSessions {

  case class Ev(event_id: Long, tsu: Long, user_id: Long)

  /** The open session for a key. */
  case class SessState(start: Long, end: Long, n: Long)

  /** One closed session (emitted when the watermark passes end + gap, or
    * when a same-batch event opens the next session past the gap).
    */
  case class SessionOut(user_id: Long, session_start: Long, session_end: Long,
      n_events: Long, duration_us: Long)

  private def close(key: Long, s: SessState): SessionOut =
    SessionOut(key, s.start, s.end, s.n, s.end - s.start)

  def sessionFunc(gapUs: Long)(
      key: Long, rows: Iterator[Ev], state: GroupState[SessState]): Iterator[SessionOut] = {
    if (state.hasTimedOut) {
      val s = state.get
      state.remove()
      Iterator(close(key, s))
    } else {
      val sorted = rows.toSeq.sortBy(e => (e.tsu, e.event_id))
      if (sorted.isEmpty) Iterator.empty
      else {
        val closed = Seq.newBuilder[SessionOut]
        var cur = state.getOption
        sorted.foreach { e =>
          cur match {
            case Some(s) if e.tsu - s.end <= gapUs =>
              cur = Some(s.copy(end = math.max(s.end, e.tsu), n = s.n + 1))
            case Some(s) =>
              closed += close(key, s)
              cur = Some(SessState(e.tsu, e.tsu, 1))
            case None =>
              cur = Some(SessState(e.tsu, e.tsu, 1))
          }
        }
        state.update(cur.get)
        // event-time timeout: the session closes when the watermark passes
        // its end plus the gap (timestamps are millis for the state API).
        // Clamped above the current watermark: when the watermark delay
        // exceeds the gap, a legitimately-late event would otherwise compute
        // a timeout at-or-before the watermark, which the state API rejects
        // with an IllegalArgumentException that kills the whole query.
        state.setTimeoutTimestamp(math.max(
          cur.get.end / 1000 + gapUs / 1000,
          state.getCurrentWatermarkMs() + 1))
        closed.result().iterator
      }
    }
  }

  /** Wire a streaming Dataset[Ev] into gap sessionization; emits closed
    * sessions (Append). The caller owns the sink.
    */
  def sessionize(events: Dataset[Ev], gapUs: Long,
      watermarkDelay: String): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    graft.core.LocalStorage.install(events.sparkSession)
    events
      .withColumn("ts", timestamp_micros(col("tsu")))
      .withWatermark("ts", watermarkDelay)
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(sessionFunc(gapUs))
  }
}
