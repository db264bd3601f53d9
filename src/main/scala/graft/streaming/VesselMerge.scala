package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Per-field precedence merge for the vessel table — SURVEY §2.4 J5 /
  * §2.10 T1/T3, the reference's AIS ⟕ enrichment merge:
  *
  *  - AIS static reports overwrite a field whenever the report carries a
  *    value (`ais-proxy/server.js:473-514` — last-write-wins per field),
  *  - enrichment (Marinesia) rows fill a field only when the current value
  *    is missing or zero (`:594-610` fill-if-missing; draught/dimensions
  *    treat 0 as missing),
  *  - position is overwritten by enrichment only when its event time is
  *    NEWER than the last applied position (`:1497-1507`),
  *  - name provenance is tagged (`_nameSource ∈ {ais, marinesia}`, `:600`).
  *
  * The merge is a pure fold ([[mergeObs]]) so the streaming operator and
  * the spec's field-by-field table tests share one implementation.
  */
object VesselMerge {

  /** One observation from either source ("ais" | "marinesia"). */
  case class VesselObs(mmsi: Long, ts: Long, source: String,
      name: Option[String], shipType: Option[Int], imo: Option[Long],
      callsign: Option[String], destination: Option[String],
      draught: Option[Double], lat: Option[Double], lon: Option[Double])

  case class VesselState(mmsi: Long, lastUpdate: Long, posTs: Long,
      lat: Option[Double], lon: Option[Double],
      name: Option[String], nameSource: Option[String],
      shipType: Option[Int], imo: Option[Long], callsign: Option[String],
      destination: Option[String], draught: Option[Double])

  def empty(mmsi: Long): VesselState =
    VesselState(mmsi, Long.MinValue, Long.MinValue, None, None, None, None,
      None, None, None, None, None)

  /** Present = defined and non-empty / non-zero (JS truthiness on the
    * fields the reference guards with `|| 0` / `''` checks).
    */
  private def present(s: Option[String]): Boolean = s.exists(_.nonEmpty)
  private def presentNum[T](n: Option[T])(implicit num: Numeric[T]): Boolean =
    n.exists(v => num.toDouble(v) != 0.0)

  /** Fold one observation into the state (per-field precedence). */
  def mergeObs(s: VesselState, o: VesselObs): VesselState = {
    val isAis = o.source == "ais"
    def staticField[T](cur: Option[T], obs: Option[T], obsPresent: Boolean): Option[T] =
      if (isAis) { if (obsPresent) obs else cur } // AIS: overwrite when present
      else { if (cur.isEmpty && obsPresent) obs else cur } // enrich: fill-if-missing
    // draught: zero counts as missing on BOTH sides (`|| 0` guard)
    def zeroAsMissing(cur: Option[Double]): Option[Double] =
      cur.filter(_ != 0.0)
    val nameAfter = staticField(s.name, o.name, present(o.name))
    val nameSource =
      if (nameAfter != s.name && present(o.name)) Some(o.source)
      else if (nameAfter.isEmpty) None
      else s.nameSource
    val posNewer = o.lat.isDefined && o.lon.isDefined &&
      (isAis || o.ts > s.posTs) // enrichment position only when newer
    VesselState(
      mmsi = s.mmsi,
      lastUpdate = math.max(s.lastUpdate, o.ts),
      posTs = if (posNewer) o.ts else s.posTs,
      lat = if (posNewer) o.lat else s.lat,
      lon = if (posNewer) o.lon else s.lon,
      name = nameAfter,
      nameSource = nameSource,
      shipType = staticField(s.shipType, o.shipType, presentNum(o.shipType)),
      imo = staticField(s.imo, o.imo, presentNum(o.imo)),
      callsign = staticField(s.callsign, o.callsign, present(o.callsign)),
      destination = staticField(s.destination, o.destination, present(o.destination)),
      draught = staticField(zeroAsMissing(s.draught), o.draught, presentNum(o.draught)))
  }

  def mergeFunc(ttlMicros: Option[Long])(
      key: Long, rows: Iterator[VesselObs],
      state: GroupState[VesselState]): Iterator[VesselState] = {
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty // expired vessels simply drop out of the table (:621-649)
    } else {
      val merged = rows.foldLeft(state.getOption.getOrElse(empty(key)))(mergeObs)
      state.update(merged)
      ttlMicros.foreach(ttl => state.setTimeoutTimestamp(merged.lastUpdate / 1000 + ttl / 1000))
      Iterator(merged)
    }
  }

  /** Streaming form: union the source streams first (U2), then merge. */
  def vesselTable(obs: Dataset[VesselObs], ttlMicros: Option[Long],
      watermarkDelay: String): Dataset[VesselState] = {
    import obs.sparkSession.implicits._
    graft.core.LocalStorage.install(obs.sparkSession)
    val timeout =
      if (ttlMicros.isDefined) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    obs
      .withColumn("event_ts", timestamp_micros(col("ts")))
      .withWatermark("event_ts", watermarkDelay)
      .as[VesselObs]
      .groupByKey(_.mmsi)
      .flatMapGroupsWithState(OutputMode.Update, timeout)(mergeFunc(ttlMicros))
  }
}
