package perfbench

import graft.streaming.KeyedMerge.Ev
import graft.streaming.StreamingDedup.Doc

/** One generated input: its size and a content hash. */
final case class InputRecord(name: String, rows: Long, bytes: Long,
    hash: String)

/** Seeded streaming feeds (the corpus inputs are generated by
  * perfbench/gen.py before the JVM starts). The same seed gives the same
  * feeds.
  */
object Inputs {

  /** Event-time origin of the streaming feeds (µs). */
  val T0Micros = 1700000000000000L

  /** AIS-like event feed for KeyedMerge: `nKeys` vessels with power-law
    * skew, one event-time millisecond per event. `lateShare` of the
    * events arrive out of order by up to `lateMaxMicros` (inside the
    * watermark); `tooLateShare` arrive a minute behind, beyond the
    * watermark. Too-late events are "error" reports of a vessel that
    * already has a newer event, so whether or not the watermark drops
    * them, the latest state per key is unchanged.
    */
  def aisFeed(seed: Long, n: Int, nKeys: Int, lateShare: Double,
      tooLateShare: Double, lateMaxMicros: Long): Array[Ev] = {
    val rnd = new java.util.SplittableRandom(seed * 31 + 7)
    val lastTsu = new Array[Long](nKeys + 1)
    java.util.Arrays.fill(lastTsu, Long.MinValue)
    val types = Array("position", "position", "position", "status", "error")
    Array.tabulate(n) { i =>
      val base = T0Micros + i * 1000L
      val key = 1 + (nKeys * math.pow(rnd.nextDouble(), 2.0)).toInt.min(nKeys - 1)
      val u = rnd.nextDouble()
      val tooLate = base - 60000000L
      if (u < tooLateShare && lastTsu(key) > tooLate)
        Ev(i.toLong, tooLate, key.toLong, "error", rnd.nextDouble() * 30)
      else {
        val tsu = if (u < tooLateShare + lateShare)
          base - rnd.nextLong(lateMaxMicros) else base
        lastTsu(key) = math.max(lastTsu(key), tsu)
        Ev(i.toLong, tsu, key.toLong, types(rnd.nextInt(types.length)),
          math.round(rnd.nextDouble() * 300000) / 10000.0)
      }
    }
  }

  /** Fingerprint feed for StreamingDedup: `dupShare` of the documents
    * repeat a fingerprint seen before (power-law over recent ones).
    * `lateShare` arrive out of order, but never ahead of their
    * fingerprint's first occurrence in (tsu, doc_id) order, so the
    * admitted set is the first arrival per fingerprint in any batching.
    */
  def fingerprintFeed(seed: Long, n: Int, dupShare: Double,
      lateShare: Double, lateMaxMicros: Long): Array[Doc] = {
    val rnd = new java.util.SplittableRandom(seed * 17 + 3)
    val fps = new Array[Long](n)
    val firstTsu = new java.util.HashMap[Long, Long]()
    var distinct = 0
    Array.tabulate(n) { i =>
      val base = T0Micros + i * 1000L
      val dup = distinct > 0 && rnd.nextDouble() < dupShare
      val fp = if (dup)
        fps(distinct - 1 - (distinct * math.pow(rnd.nextDouble(), 3.0)).toInt
          .min(distinct - 1))
      else { val f = rnd.nextLong(); fps(distinct) = f; distinct += 1; f }
      val late = rnd.nextDouble() < lateShare
      val t0 = if (late) base - rnd.nextLong(lateMaxMicros) else base
      val tsu = if (dup) math.max(t0, firstTsu.get(fp)) else t0
      if (!dup) firstTsu.put(fp, tsu)
      Doc(i.toLong, tsu, fp)
    }
  }

  def feedRecord(name: String, rows: Seq[Product]): InputRecord = {
    var h = 0L
    var bytes = 0L
    rows.foreach { r =>
      h += scala.util.hashing.MurmurHash3.productHash(r).toLong * 0x9E3779B97F4A7C15L
      bytes += r.productIterator.map {
        case s: String => s.length.toLong
        case _ => 8L
      }.sum
    }
    InputRecord(name, rows.size.toLong, bytes, java.lang.Long.toHexString(h))
  }
}
