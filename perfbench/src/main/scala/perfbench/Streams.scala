package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.streaming.KeyedMerge
import graft.streaming.KeyedMerge.{Ev, StateOut}
import graft.streaming.StreamingDedup
import graft.streaming.StreamingDedup.Doc

object StreamWorkload {
  /** Feed sizes and rates. The open-loop rate of each operator is fixed
    * near half its saturated rate on the benchmark's reference machine.
    */
  final case class Config(tiny: Boolean) {
    val saturatedRows: Int = if (tiny) 4000 else 20000
    val chunkRows: Int = if (tiny) 1000 else 5000
    val openSeconds: Double = 1.0
    val tickMs: Int = 50
    val mergeRate: Int = if (tiny) 2000 else 5500
    val dedupRate: Int = if (tiny) 2000 else 10000
    val keys: Int = 2000
    val watermark = "10 seconds"
    val lateMaxMicros: Long = 5000000L
    def openRows(rate: Int): Int = (rate * openSeconds).toInt
    def aisFeed(seed: Long): Array[Ev] = Inputs.aisFeed(seed,
      saturatedRows + openRows(mergeRate), keys, lateShare = 0.1,
      tooLateShare = 0.02, lateMaxMicros)
    def fpFeed(seed: Long): Array[Doc] = Inputs.fingerprintFeed(seed,
      saturatedRows + openRows(dedupRate), dupShare = 0.3, lateShare = 0.1,
      lateMaxMicros)
  }

  /** Final merge state a batch computes: per key, the (tsu, event_id)-
    * latest event and the latest non-error reading.
    */
  type MergeKey = (Long, Long, String, Double, Option[Double])
}

/** stream_ingest: KeyedMerge.latestState (AIS latest-state upserts with a
  * TTL) and StreamingDedup.dedupStream over MemoryStream feeds. Each
  * operator runs a saturated phase, where a generator thread keeps two
  * chunks queued so the backlog never empties, then an open-loop phase
  * where it adds a chunk every tick at a fixed rate whatever the query
  * does. Latency is measured from each chunk's due time to the end of the
  * micro-batch that processed it.
  */
final class StreamWorkload(ctx: Ctx) extends Workload {
  val nominalPassS = 5.0
  import StreamWorkload._
  private val spark = ctx.spark
  private val a = ctx.args
  private val cfg = Config(a.tiny)
  private var ais: Array[Ev] = _
  private var fps: Array[Doc] = _
  private var wantMerge: Map[Long, MergeKey] = _
  private var wantAdmitted: Set[Long] = _
  private val TtlMicros = Some(KeyedMerge.DefaultTtlMicros)
  private var runs = 0

  override def generate(): Unit = {
    ctx.timedGen(3) {
      ais = cfg.aisFeed(a.seed)
      fps = cfg.fpFeed(a.seed)
    }
    ctx.inputs += Inputs.feedRecord("ais_feed", ais.toSeq)
    ctx.inputs += Inputs.feedRecord("fingerprint_feed", fps.toSeq)
    // batch answers for the checks, computed once (outside any timing)
    wantMerge = batchLatest(ais)
    wantAdmitted = firstPerFp(fps)
  }

  def cold(): Unit = {
    runMerge(-1, cfg.saturatedRows, open = false)
    runDedup(-1, cfg.saturatedRows, open = false)
  }

  def pass(k: Int): Unit = {
    runMerge(k, cfg.saturatedRows, open = true)
    runDedup(k, cfg.saturatedRows, open = true)
  }

  private def checkpoint(name: String): String = {
    runs += 1
    ctx.work(s"checkpoints/$name-$runs")
  }

  private def runMerge(k: Int, nSat: Int, open: Boolean): Unit = {
    import spark.implicits._
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[Ev]
    val last = new ConcurrentHashMap[Long, StateOut]()
    val sink: (Dataset[StateOut], Long) => Unit = (df, _) =>
      df.collect().foreach(r => last.put(r.user_id, r))
    val feed = if (open) ais else ais.take(nSat)
    val q = drive(k, "merge", stream, feed, nSat, open, cfg.mergeRate) {
      KeyedMerge.latestState(stream.toDS(), TtlMicros, cfg.watermark)
        .writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint("merge"))
        .foreachBatch(sink).start()
    }
    // the final state equals the batch latest-state over the same rows;
    // every row was merged or dropped by the watermark
    val want = if (open) wantMerge else batchLatest(feed)
    val got = last.asScala.map { case (key, s) =>
      key -> ((s.event_id, s.tsu, s.event_type, s.value, s.filled))
    }.toMap
    val expired = last.values.asScala.count(_.expired)
    val merged = last.values.asScala.map(_.n_updates).sum
    val dropped = q.map(_.recentProgress.flatMap(_.stateOperators)
      .map(_.numRowsDroppedByWatermark).sum).getOrElse(0L)
    ctx.check(s"merge_state[$k]", got == want && expired == 0,
      s"${got.size} keys vs ${want.size} batch keys, " +
        s"${got.count { case (kk, v) => !want.get(kk).contains(v) }} differ, $expired expired")
    ctx.check(s"merge_rows_accounted[$k]", merged + dropped == feed.length,
      s"merged $merged + dropped $dropped vs ${feed.length} fed")
  }

  private def runDedup(k: Int, nSat: Int, open: Boolean): Unit = {
    import spark.implicits._
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[Doc]
    val admitted = ConcurrentHashMap.newKeySet[Long]()
    val sink: (Dataset[Long], Long) => Unit = (df, _) =>
      df.collect().foreach(admitted.add(_))
    val feed = if (open) fps else fps.take(nSat)
    drive(k, "dedup", stream, feed, nSat, open, cfg.dedupRate) {
      StreamingDedup.dedupStream(stream.toDS(), None, cfg.watermark)
        .filter(col("admitted")).select(col("doc_id")).as[Long]
        .writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint("dedup"))
        .foreachBatch(sink).start()
    }
    val want = if (open) wantAdmitted else firstPerFp(feed)
    val got = admitted.asScala.toSet
    ctx.check(s"dedup_admitted[$k]", got == want,
      s"${got.size} admitted vs ${want.size} batch survivors, " +
        s"${(got diff want).size} extra, ${(want diff got).size} missing")
  }

  /** Batch latest-state: per key, the (tsu, event_id)-latest event and
    * the latest non-error reading, over the whole feed at once.
    */
  private def batchLatest(feed: Array[Ev]): Map[Long, MergeKey] =
    feed.groupBy(_.user_id).map { case (key, es) =>
      val l = es.maxBy(e => (e.tsu, e.event_id))
      val f = es.filter(_.event_type != "error")
      key -> ((l.event_id, l.tsu, l.event_type, l.value,
        if (f.isEmpty) None else Some(f.maxBy(e => (e.tsu, e.event_id)).value)))
    }

  /** Batch exact dedup: the first document per fingerprint in
    * (tsu, doc_id) order.
    */
  private def firstPerFp(feed: Array[Doc]): Set[Long] =
    feed.groupBy(_.fp).values.map(_.minBy(d => (d.tsu, d.doc_id)).doc_id).toSet

  /** Start the query, run the saturated phase as one timed op, then the
    * open-loop phase; record the per-operator figures; stop the query.
    */
  private def drive[T](k: Int, name: String, stream: MemoryStream[T],
      feed: Array[T], nSat: Int, open: Boolean, rate: Int)(
      start: => StreamingQuery): Option[StreamingQuery] = {
    var q: StreamingQuery = null
    val sat = feed.take(nSat).grouped(cfg.chunkRows).toIndexedSeq
    val satOk = ctx.op(k, s"${name}_saturated", "streaming") {
      q = start
      val gen = thread(s"perfbench-gen-$name") {
        var i = 0
        while (i < sat.length) {
          if (i - processed(q) < 2) { stream.addData(sat(i).toSeq); i += 1 }
          else Thread.sleep(1)
        }
      }
      gen.join()
      q.processAllAvailable()
    }
    if (q == null) return None
    val satBatches = q.recentProgress.length
    try {
      if (open && satOk.isDefined) {
        val rows = feed.drop(nSat)
        val perTick = (rate * cfg.tickMs / 1000).max(1)
        val chunks = rows.grouped(perTick).toIndexedSeq
        val due = new Array[Long](chunks.length)
        val added = new Array[Long](chunks.length)
        val offsets = new Array[Long](chunks.length)
        val t0 = System.nanoTime() + 20000000L
        val gen = thread(s"perfbench-open-$name") {
          chunks.indices.foreach { j =>
            due(j) = t0 + j * cfg.tickMs * 1000000L
            val wait = due(j) - System.nanoTime()
            if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
            offsets(j) = offsetOf(stream.addData(chunks(j).toSeq))
            added(j) = System.nanoTime()
          }
        }
        gen.join()
        q.processAllAvailable()
        val progress = q.recentProgress.drop(satBatches).filter(_.numInputRows > 0)
        record(k, name, q.recentProgress.take(satBatches), progress, chunks.map(_.length).toArray,
          due, added, offsets, nSat)
      }
    } finally q.stop()
    Some(q)
  }

  private def record(k: Int, name: String, sat: Array[StreamingQueryProgress],
      openP: Array[StreamingQueryProgress], rows: Array[Int], due: Array[Long],
      added: Array[Long], offsets: Array[Long], nSat: Int): Unit = {
    // nanoTime <-> epoch ms, for the progress timestamps
    val nanoNow = System.nanoTime()
    val epochNow = System.currentTimeMillis().toDouble
    def epochOf(nano: Long): Double = epochNow - (nanoNow - nano) / 1e6
    val ends = openP.map { p =>
      (endOffset(p), java.time.Instant.parse(p.timestamp).toEpochMilli +
        p.durationMs.getOrDefault("triggerExecution", 0L).toDouble)
    }.sortBy(_._1)
    rows.indices.foreach { j =>
      ends.find(_._1 >= offsets(j)).foreach { case (_, end) =>
        if (k >= 0) ctx.latency += Map("op" -> name, "pass" -> k,
          "latency_s" -> (end - epochOf(due(j))) / 1000.0, "rows" -> rows(j))
      }
    }
    def dur(ps: Array[StreamingQueryProgress], key: String): Array[Double] =
      ps.map(_.durationMs.getOrDefault(key, 0L).toDouble)
    def med(xs: Array[Double]): Double =
      if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.length / 2)
    val all = sat ++ openP
    val lastState = all.reverse.flatMap(_.stateOperators).headOption
    val p = s"streaming.$name."
    val vs = Seq(
      "rows_per_s" -> nSat / (dur(sat, "triggerExecution").sum / 1000.0).max(1e-9),
      "trigger_ms" -> med(dur(sat, "triggerExecution")),
      "add_batch_ms" -> med(dur(sat, "addBatch")),
      "commit_ms" -> med(dur(sat, "commitOffsets")),
      "state_rows" -> lastState.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "state_bytes_per_key" -> lastState.map(s =>
        s.memoryUsedBytes.toDouble / s.numRowsTotal.max(1L)).getOrElse(0.0),
      "late_rows_dropped" -> all.flatMap(_.stateOperators)
        .map(_.numRowsDroppedByWatermark.toDouble).sum,
      "backlog_rows" -> med(openP.map(_.numInputRows.toDouble)),
      "gen_late_ms" -> med(due.indices.map(j => (added(j) - due(j)) / 1e6).toArray))
    vs.foreach { case (n, v) => ctx.value(k, p + n, v) }
  }

  private def offsetOf(o: org.apache.spark.sql.connector.read.streaming.Offset): Long =
    o.json.trim.toLong
  private def endOffset(p: StreamingQueryProgress): Long =
    p.sources.headOption.flatMap(s => Option(s.endOffset))
      .map(_.trim.toLong).getOrElse(-1L)

  /** Chunks the query has consumed, from its last progress. */
  private def processed(q: StreamingQuery): Long =
    Option(q.lastProgress).map(p => endOffset(p) + 1).getOrElse(0L)

  /** Run `body` on its own thread; `join` rethrows what it threw. */
  private final class Gen(name: String, body: => Unit) {
    @volatile private var error: Throwable = null
    private val t = new Thread(() => try body catch { case e: Throwable => error = e }, name)
    t.setDaemon(true)
    t.start()
    def join(): Unit = { t.join(); if (error != null) throw error }
  }
  private def thread(name: String)(body: => Unit): Gen = new Gen(name, body)
}
