package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming keyed-state merge — the engine's form of the reference's
  * latest-vessel-state table (`ais-proxy/server.js:390-426` upsert, `:592`,
  * TTL sweep `:621-649`, late-data arbitration `:1497-1507`), covering
  * SURVEY §2.10 T1 (keyed upsert), T2 (state TTL), T3 (event-time
  * arbitration), T5 (watermark), T7 (micro-batch triggers are inherent),
  * and T8 (checkpointing is Structured Streaming's own).
  *
  * Batch equivalence contract: with TTL disabled, the final state for every
  * key is IDENTICAL to the batch queries q09 (latest row per key) and q16
  * (latest non-null reading per key) over the same rows in any arrival
  * order — proven by `KeyedMergeSpec` against the same sf0.001 data.
  *
  * Scale notes: state is hash-partitioned by key (the same shuffle the
  * batch window uses); each key's state is O(1) — no per-key buffers, so
  * skewed keys cost time, not memory. TTL is event-time based via the
  * watermark, exactly like the reference's 6 h sweep.
  */
object KeyedMerge {

  /** One input event (events-table schema; `tsu` = event-time micros). */
  case class Ev(event_id: Long, tsu: Long, user_id: Long, event_type: String,
      value: Double)

  /** Per-key state: the argmax-(tsu, event_id) row plus the latest non-null
    * reading ("error" rows carry no reading — q16's fill-if-missing rule).
    */
  case class KeyState(eventId: Long, tsu: Long, eventType: String, value: Double,
      filledTsu: Long, filledEventId: Long, filled: Option[Double], nUpdates: Long)

  /** Emitted snapshot after each update (Update output mode), or a
    * tombstone (`expired = true`) when event-time TTL fires.
    */
  case class StateOut(user_id: Long, event_id: Long, tsu: Long, event_type: String,
      value: Double, filled: Option[Double], n_updates: Long, expired: Boolean)

  val DefaultTtlMicros: Long = 21600000000L // 6 h, ais-proxy/server.js:39

  /** Pure merge step — also reused by the spec to cross-check single rows.
    * Ordering is (tsu, event_id) lexicographic, matching the batch windows.
    */
  def mergeOne(s: KeyState, e: Ev): KeyState = {
    val newer = e.tsu > s.tsu || (e.tsu == s.tsu && e.event_id > s.eventId)
    val reading = if (e.event_type == "error") None else Some(e.value)
    val base =
      if (newer) s.copy(eventId = e.event_id, tsu = e.tsu, eventType = e.event_type,
        value = e.value, nUpdates = s.nUpdates + 1)
      else s.copy(nUpdates = s.nUpdates + 1)
    reading match {
      case Some(r) if e.tsu > base.filledTsu ||
          (e.tsu == base.filledTsu && e.event_id > base.filledEventId) =>
        base.copy(filledTsu = e.tsu, filledEventId = e.event_id, filled = Some(r))
      case _ => base
    }
  }

  private def init(e: Ev): KeyState = {
    val reading = if (e.event_type == "error") None else Some(e.value)
    KeyState(e.event_id, e.tsu, e.event_type, e.value,
      if (reading.isDefined) e.tsu else Long.MinValue,
      if (reading.isDefined) e.event_id else Long.MinValue,
      reading, 1L)
  }

  /** The flatMapGroupsWithState function. `ttlMicros = None` disables
    * expiry (used for exact batch-equivalence checks).
    */
  def mergeFunc(ttlMicros: Option[Long])(
      key: Long, rows: Iterator[Ev], state: GroupState[KeyState]): Iterator[StateOut] = {
    if (state.hasTimedOut) {
      val s = state.get
      state.remove()
      Iterator(StateOut(key, s.eventId, s.tsu, s.eventType, s.value, s.filled,
        s.nUpdates, expired = true))
    } else {
      val sorted = rows.toSeq // arrival order within the batch is preserved
      if (sorted.isEmpty) Iterator.empty
      else {
        val s0 = state.getOption.getOrElse(init(sorted.head))
        val merged = (if (state.exists) sorted else sorted.tail).foldLeft(s0)(mergeOne)
        state.update(merged)
        ttlMicros.foreach { ttl =>
          // event-time TTL: expire when the watermark passes lastUpdate + ttl
          state.setTimeoutTimestamp(merged.tsu / 1000 + ttl / 1000)
        }
        Iterator(StateOut(key, merged.eventId, merged.tsu, merged.eventType,
          merged.value, merged.filled, merged.nUpdates, expired = false))
      }
    }
  }

  /** Wire a streaming Dataset[Ev] into the keyed merge. The caller owns the
    * sink (`.writeStream.outputMode("update")`).
    */
  def latestState(events: Dataset[Ev], ttlMicros: Option[Long],
      watermarkDelay: String): Dataset[StateOut] = {
    import events.sparkSession.implicits._
    graft.core.LocalStorage.install(events.sparkSession)
    val timeout =
      if (ttlMicros.isDefined) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    events
      .withColumn("ts", timestamp_micros(col("tsu")))
      .withWatermark("ts", watermarkDelay)
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, timeout)(mergeFunc(ttlMicros))
  }

  /** Batch loader for the events table as Dataset[Ev] (spec plumbing). */
  def eventsAsDs(spark: SparkSession, dir: String): Dataset[Ev] = {
    import spark.implicits._
    graft.core.Tables.events(spark, dir)
      .select(col("event_id"), expr("ts div 1000").as("tsu"), col("user_id"),
        col("event_type"), col("value"))
      .as[Ev]
  }
}
