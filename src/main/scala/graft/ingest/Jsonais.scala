package graft.ingest

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** S2: the jsonais multi-dialect canonicalizer (`ais-proxy/server.js:
  * 997-1215`) as a plan-time Column pipeline: one permissive `from_json`
  * schema capturing every dialect's fields, then a dispatch-ordered
  * `coalesce` of candidate extractions — first match wins, exactly like the
  * reference's early returns:
  *
  *   1. AIS-catcher `msgs[]` (first element with mmsi + lat/lon in range)
  *   2. minimal (top-level mmsi/lat/lon)
  *   3. full JSONAIS `groups[].msgs[]`
  *   4. APRS (`call` as MMSI, `lat`/`lng`, ISO `time`)
  *   5. direct (`mmsi|MMSI`, `lat|latitude`, `lon|lng|longitude` + coord sanity)
  *
  * plus the truncated-JSON salvage path (`:1239-1259`): when the document
  * fails to parse, regex-extract the closed `"msgs":[...]` slice and re-parse
  * (C25/C1).
  *
  * Divergence (documented): rows without any timestamp get a null `ts_sec`
  * instead of the reference's `Date.now()` — wall-clock defaults are
  * non-deterministic and belong to the ingest layer, not the data.
  *
  * All values are parsed as strings then cast (`parseInt`/`parseFloat`
  * accept both quoted and bare numbers in the reference).
  */
object Jsonais {

  private val msgType = StructType(Seq(
    StructField("mmsi", StringType), StructField("lat", StringType),
    StructField("lon", StringType), StructField("rxtime", StringType),
    StructField("course", StringType), StructField("speed", StringType),
    StructField("heading", StringType), StructField("status", StringType)))

  /** Every field any dialect can carry. */
  val schema: StructType = StructType(Seq(
    StructField("msgs", ArrayType(msgType)),
    StructField("groups", ArrayType(StructType(Seq(
      StructField("msgs", ArrayType(msgType)))))),
    StructField("protocol", StringType),
    StructField("mmsi", StringType),
    StructField("lat", StringType), StructField("latitude", StringType),
    StructField("lon", StringType), StructField("lng", StringType),
    StructField("longitude", StringType),
    StructField("call", StringType), StructField("time", StringType),
    StructField("rxtime", StringType), StructField("course", StringType),
    StructField("speed", StringType), StructField("heading", StringType),
    StructField("status", StringType)))

  private def mmsiOk(m: Column): Column =
    m.isNotNull && m >= 100000000L && m <= 999999999L

  /** C4: rxtime `yyyyMMddHHmmss` (UTC) → epoch seconds; malformed → null. */
  def parseRxtime(rx: Column): Column =
    when(length(rx) === 14,
      unix_timestamp(to_timestamp(rx, "yyyyMMddHHmmss")))

  private def canonical(mmsi: Column, lat: Column, lon: Column, ts: Column,
      cog: Column, sog: Column): Column =
    struct(mmsi.as("mmsi"), lat.as("lat"), lon.as("lon"), ts.as("ts_sec"),
      cog.as("cog"), sog.as("sog"))

  private def fromMsg(m: Column): Column =
    canonical(m.getField("mmsi").cast("long"),
      m.getField("lat").cast("double"), m.getField("lon").cast("double"),
      parseRxtime(m.getField("rxtime")),
      m.getField("course").cast("double"), m.getField("speed").cast("double"))

  /** First element of a msgs array passing the reference's per-msg guard. */
  private def firstValid(msgs: Column): Column = {
    val ok = filter(msgs, m =>
      mmsiOk(m.getField("mmsi").cast("long")) &&
        m.getField("lat").isNotNull && m.getField("lon").isNotNull)
    when(size(ok) > 0, fromMsg(element_at(ok, 1)))
  }

  /** Dispatch over the parsed struct — returns the canonical struct or null.
    * `mmsiUpper` carries the direct-dialect `MMSI` key parsed separately.
    */
  def dispatch(j: Column, mmsiUpper: Column): Column = {
    val d1 = when(j.getField("msgs").isNotNull, firstValid(j.getField("msgs")))
    val d2 = when(
      mmsiOk(j.getField("mmsi").cast("long")) &&
        j.getField("lat").isNotNull && j.getField("lon").isNotNull,
      canonical(j.getField("mmsi").cast("long"),
        j.getField("lat").cast("double"), j.getField("lon").cast("double"),
        parseRxtime(j.getField("rxtime")),
        j.getField("course").cast("double"), j.getField("speed").cast("double")))
    val d3 = when(j.getField("groups").isNotNull,
      firstValid(flatten(transform(j.getField("groups"), g => g.getField("msgs")))))
    val d4 = when(
      mmsiOk(j.getField("call").cast("long")) &&
        j.getField("lat").isNotNull && j.getField("lng").isNotNull,
      canonical(j.getField("call").cast("long"),
        j.getField("lat").cast("double"), j.getField("lng").cast("double"),
        unix_timestamp(to_timestamp(j.getField("time"))),
        j.getField("course").cast("double"), j.getField("speed").cast("double")))
    val d5mmsi = coalesce(j.getField("mmsi"), mmsiUpper).cast("long")
    val d5lat = coalesce(j.getField("lat"), j.getField("latitude")).cast("double")
    val d5lon = coalesce(j.getField("lon"), j.getField("lng"),
      j.getField("longitude")).cast("double")
    val d5 = when(
      mmsiOk(d5mmsi) && abs(d5lat) <= 90 && abs(d5lon) <= 180,
      canonical(d5mmsi, d5lat, d5lon, parseRxtime(j.getField("rxtime")),
        j.getField("course").cast("double"), j.getField("speed").cast("double")))
    // empty msgs array is an early `return null` in the reference (:1024-1027)
    when(j.getField("msgs").isNotNull && size(j.getField("msgs")) === 0,
      lit(null).cast(canonicalType))
      .otherwise(coalesce(d1, d2, d3, d4, d5))
  }

  val canonicalType: DataType = StructType(Seq(
    StructField("mmsi", LongType), StructField("lat", DoubleType),
    StructField("lon", DoubleType), StructField("ts_sec", LongType),
    StructField("cog", DoubleType), StructField("sog", DoubleType)))

  // --- typed dispatch (the fast path) ---

  /** Parsed-document case classes mirroring [[schema]] field-for-field. */
  final case class PMsg(mmsi: String, lat: String, lon: String, rxtime: String,
      course: String, speed: String, heading: String, status: String)
  final case class PGroup(msgs: Seq[PMsg])
  final case class PDoc(msgs: Seq[PMsg], groups: Seq[PGroup], protocol: String,
      mmsi: String, lat: String, latitude: String, lon: String, lng: String,
      longitude: String, call: String, time: String, rxtime: String,
      course: String, speed: String, heading: String, status: String)
  final case class Canon(mmsi: Long, lat: Option[Double], lon: Option[Double],
      ts_sec: Option[Long], cog: Option[Double], sog: Option[Double])

  private def numL(s: String): Option[Long] =
    Option(s).flatMap(_.trim.toLongOption)
  private def numD(s: String): Option[Double] =
    Option(s).flatMap(_.trim.toDoubleOption)
  private def mmsiOkL(m: Option[Long]): Boolean =
    m.exists(v => v >= 100000000L && v <= 999999999L)

  private val RxFmt = java.time.format.DateTimeFormatter.ofPattern("yyyyMMddHHmmss")
  private def parseRx(s: String): Option[Long] =
    Option(s).filter(_.length == 14).flatMap(v =>
      scala.util.Try(java.time.LocalDateTime.parse(v, RxFmt)
        .toEpochSecond(java.time.ZoneOffset.UTC)).toOption)
  private def parseIso(s: String): Option[Long] =
    Option(s).flatMap(v =>
      scala.util.Try(java.time.Instant.parse(v).getEpochSecond).toOption)

  private def fromPMsg(m: PMsg): Option[Canon] = {
    val mmsi = numL(m.mmsi)
    if (!mmsiOkL(mmsi) || m.lat == null || m.lon == null) None
    else Some(Canon(mmsi.get, numD(m.lat), numD(m.lon), parseRx(m.rxtime),
      numD(m.course), numD(m.speed)))
  }

  /** Scala twin of [[dispatch]] — same order, same guards; `JsonaisSpec`
    * proves the two agree row-for-row.
    */
  def dispatchScala(j: PDoc, mmsiUpper: Option[String]): Option[Canon] = {
    if (j == null) return None
    if (j.msgs != null && j.msgs.isEmpty) return None // early return (:1024-1027)
    def firstValid(msgs: Seq[PMsg]): Option[Canon] =
      Option(msgs).getOrElse(Seq.empty).iterator.flatMap(fromPMsg).buffered
        .headOption
    val d1 = if (j.msgs != null) firstValid(j.msgs) else None
    lazy val d2 = {
      val m = numL(j.mmsi)
      if (mmsiOkL(m) && j.lat != null && j.lon != null)
        Some(Canon(m.get, numD(j.lat), numD(j.lon), parseRx(j.rxtime),
          numD(j.course), numD(j.speed)))
      else None
    }
    lazy val d3 =
      if (j.groups != null)
        firstValid(Option(j.groups).getOrElse(Seq.empty)
          .flatMap(g => Option(g.msgs).getOrElse(Seq.empty)))
      else None
    lazy val d4 = {
      val m = numL(j.call)
      if (mmsiOkL(m) && j.lat != null && j.lng != null)
        Some(Canon(m.get, numD(j.lat), numD(j.lng), parseIso(j.time),
          numD(j.course), numD(j.speed)))
      else None
    }
    lazy val d5 = {
      val m = numL(Option(j.mmsi).getOrElse(mmsiUpper.orNull))
      val la = numD(Option(j.lat).getOrElse(j.latitude))
      val lo = numD(Option(j.lon).getOrElse(Option(j.lng).getOrElse(j.longitude)))
      if (mmsiOkL(m) && la.exists(v => math.abs(v) <= 90) && lo.exists(v => math.abs(v) <= 180))
        Some(Canon(m.get, la, lo, parseRx(j.rxtime),
          numD(j.course), numD(j.speed)))
      else None
    }
    d1.orElse(d2).orElse(d3).orElse(d4).orElse(d5)
  }

  /** Full pipeline over a raw JSON-string column: parse, salvage truncated
    * documents via the `"msgs":[...]` regex (C25), dispatch.
    *
    * This is a DataFrame transform (not a single Column) on purpose: the
    * dispatch references the parsed struct ~25 times, and a single-Column
    * formulation would textually duplicate `from_json` into every
    * `getField` — a 30× JSON-parse blowup. Staged `withColumn`s keep each
    * `from_json` in its own projection; `CollapseProject` refuses to inline
    * non-cheap expressions that are referenced more than once, so each
    * document is parsed a constant number of times regardless of how many
    * fields the dispatch reads.
    */
  def canonicalizeDf(df: org.apache.spark.sql.DataFrame, raw: Column,
      out: String, dropAfterParse: Seq[String] = Nil): org.apache.spark.sql.DataFrame = {
    val parsed = col("__jsonais_parsed")
    // from_json can yield an all-null struct (not NULL) on failure; detect
    // "nothing parsed" via the dialect-discriminating fields (a to_json
    // round-trip gives the same answer but re-serializes the whole nested
    // struct per row)
    val parsedOk = parsed.isNotNull && Seq("msgs", "groups", "protocol",
      "mmsi", "call", "latitude")
      .map(f => parsed.getField(f).isNotNull).reduce(_ || _)
    val staged = df
      .withColumn("__jsonais_raw", raw)
      .withColumn("__jsonais_parsed", from_json(col("__jsonais_raw"), schema))
      // salvage parse sits INSIDE the otherwise-branch: CaseWhen evaluates
      // branches lazily, so well-formed documents pay exactly one parse
      .withColumn("__jsonais_j",
        when(parsedOk, parsed).otherwise(from_json(
          concat(lit("{\"msgs\":["),
            regexp_extract(col("__jsonais_raw"), "\"msgs\":\\s*\\[(.*?)\\]", 1),
            lit("]}")),
          schema)))
      .drop(dropAfterParse: _*) // e.g. the caller's raw column — parsed, not needed past the barrier
      // uppercase-MMSI dialect key via a cheap regex, not the parsed
      // struct: Spark's field resolution is case-insensitive, so
      // `mmsi`/`MMSI` cannot share one (the reference just parseInt()s
      // the field; a numeric extract is the same semantics)
      .withColumn("__jsonais_upper",
        when(regexp_extract(col("__jsonais_raw"), "\"MMSI\"\\s*:\\s*\"?(-?[0-9.]+)", 1) =!= "",
          regexp_extract(col("__jsonais_raw"), "\"MMSI\"\\s*:\\s*\"?(-?[0-9.]+)", 1)))
      .drop("__jsonais_raw", "__jsonais_parsed")
    // Optimizer barrier: CollapseProject would otherwise inline the
    // from_json into all ~25 getField references of the dispatch (measured
    // 251 from_json copies in the optimized plan = a 30× parse blowup;
    // a repartition Exchange does NOT stop the collapse — measured 246).
    // A per-partition identity map adds a serialize/deserialize fence the
    // optimizer cannot cross: no shuffle, one row-encode round trip.
    val barrier = staged.mapPartitions(identity(_))(
      org.apache.spark.sql.Encoders.row(staged.schema))
    barrier
      .withColumn(out, dispatch(col("__jsonais_j"), col("__jsonais_upper")))
      .drop("__jsonais_upper", "__jsonais_j")
  }

  /** Typed fast path: same parse staging, but the dispatch runs as plain
    * Scala over the decoded document ([[dispatchScala]]) — the encoder
    * boundary is paid ONCE (it doubles as the optimizer fence the Column
    * dispatch needs anyway), and the 5-dialect conditional logic becomes
    * JVM field access instead of a ~100 KB expression tree.
    * `df` must carry a unique `id` column; output = (id, canonical fields),
    * rows whose document yields no canonical message are dropped.
    */
  def canonicalizeTyped(df: org.apache.spark.sql.DataFrame, raw: Column,
      idCol: String): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val parsed = col("__p")
    val parsedOk = parsed.isNotNull && Seq("msgs", "groups", "protocol",
      "mmsi", "call", "latitude")
      .map(f => parsed.getField(f).isNotNull).reduce(_ || _)
    val staged = df
      .withColumn("__raw", raw)
      .withColumn("__p", from_json(col("__raw"), schema))
      .withColumn("__j",
        when(parsedOk, parsed).otherwise(from_json(
          concat(lit("{\"msgs\":["),
            regexp_extract(col("__raw"), "\"msgs\":\\s*\\[(.*?)\\]", 1),
            lit("]}")),
          schema)))
      .withColumn("__u",
        when(regexp_extract(col("__raw"), "\"MMSI\"\\s*:\\s*\"?(-?[0-9.]+)", 1) =!= "",
          regexp_extract(col("__raw"), "\"MMSI\"\\s*:\\s*\"?(-?[0-9.]+)", 1)))
      .select(col(idCol).as("_1"), col("__j").as("_2"), col("__u").as("_3"))
    staged.as[(Long, PDoc, Option[String])]
      .mapPartitions(_.flatMap { case (id, doc, upper) =>
        dispatchScala(doc, upper).map(c =>
          (id, c.mmsi, c.lat, c.lon, c.ts_sec, c.cog, c.sog))
      })
      .toDF(idCol, "mmsi", "lat", "lon", "ts_sec", "cog", "sog")
  }
}
