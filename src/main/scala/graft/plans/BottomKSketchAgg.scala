package graft.plans

import java.nio.ByteBuffer

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Bottom-k hash sample as a native [[SketchAgg]] — the
  * engine's second sketch (after [[HyperLogLogAgg]]), giving single-pass
  * approximate QUANTILES over unbounded integer domains.
  *
  * The L30/L35 quantile operators aggregate a count-map, exact but only
  * viable because token counts/quantized scores live in a bounded domain.
  * For an unbounded measure (bytes, latencies, arbitrary counters) the
  * exact form degenerates; the production shape is a mergeable sample.
  * This sketch keeps the k rows whose salted md5 hash is smallest under
  * the total order (hash, value): a uniform random-but-DETERMINISTIC
  * sample of rows.
  *
  * Why bottom-k-by-hash rather than a classical GK/KLL sketch: merge =
  * multiset-union → take k smallest, which is associative, commutative
  * and idempotent-safe — the result is IDENTICAL for any row order,
  * partitioning, or merge tree (GK/KLL compactions are merge-order
  * dependent, which would break both the engine's determinism contract
  * and the oracle). And because the hash is the engine's portable
  * md5-prefix construction over the decimal string form, DuckDB can
  * reproduce the exact same sample with `row_number() OVER (ORDER BY
  * hash, value)` — the sketch is oracle-checkable bit-for-bit, not just
  * within error bounds (q124).
  *
  * Returns the sampled VALUES sorted ascending (ARRAY<BIGINT>); duplicate
  * input values are interchangeable under the (hash, value) order, so
  * the returned multiset is well-defined even with ties. Buffer is at
  * most 2k pairs (compacted on overflow); serialized form is 16 bytes
  * per kept pair. Error: nearest-rank quantiles off a k-sample have
  * standard error ≈ sqrt(p(1-p)/k) in rank space.
  */
case class BottomKSketchAgg(k: Int, salt: String) extends Sketch[ArrayBuffer[(Long, Long)]] {

  require(k >= 1 && k <= 65536, s"graft_bottomk k must be in [1, 65536], got $k")

  type Buf = ArrayBuffer[(Long, Long)]

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def init(): Buf = new Buf()

  private def compact(buf: Buf): Buf = {
    if (buf.length > k) {
      val kept = buf.sortInPlace()(Ordering.Tuple2[Long, Long]).take(k)
      buf.clear()
      buf ++= kept
    }
    buf
  }

  override def update(buf: Buf, v: Any): Buf = {
    val value = v.asInstanceOf[Number].longValue()
    buf += ((BottomKSketchAgg.hash(salt, value), value))
    if (buf.length >= BottomKSketchAgg.TransientPairsFactor * k)
      compact(buf)
    buf
  }

  override def merge(buf: Buf, other: Buf): Buf = {
    buf ++= other
    compact(buf)
  }

  override def eval(buf: Buf): Any = {
    val sample = compact(buf).map(_._2).toArray
    java.util.Arrays.sort(sample)
    new GenericArrayData(sample)
  }

  // sorted by (hash, value) even under k pairs, so a state's bytes do
  // not depend on the order its rows arrived or merged in
  override def serialize(buf: Buf): Array[Byte] = {
    val kept = compact(buf).sortInPlace()(Ordering.Tuple2[Long, Long])
    val bb = ByteBuffer.allocate(kept.length * BottomKSketchAgg.BytesPerPair)
    kept.foreach { case (h, v) => bb.putLong(h); bb.putLong(v) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = init()
    while (bb.remaining() >= BottomKSketchAgg.BytesPerPair)
      buf += ((bb.getLong, bb.getLong))
    buf
  }
}

object BottomKSketchAgg {

  /** Serialized buffer geometry, exported as the ONE source of truth the
    * q233 error-budget planner prices memory against (VERDICT r17 #6 —
    * the planner previously restated these as free-standing literals, so
    * a layout change would have silently re-priced the wrong geometry):
    * [[serialize]] writes two 8-byte longs per kept (hash, value) pair.
    */
  val BytesPerPair: Int = 16

  /** Transient buffer bound: [[BottomKSketchAgg.update]] compacts once
    * the buffer reaches `TransientPairsFactor * k` pairs, so at most
    * 2k pairs are ever held before compaction — the planner's
    * `bytes_transient = k * BytesPerPair * TransientPairsFactor`.
    */
  val TransientPairsFactor: Int = 2

  /** The engine's portable hash over the decimal string form:
    * `md5("bk:<salt>:<value>")` low-60-bit prefix — identical to DuckDB's
    * `CAST('0x' || substr(md5('bk:<salt>:' || CAST(v AS VARCHAR)), 1, 15)
    * AS BIGINT)`, so an oracle reproduces the sample exactly.
    */
  def hash(salt: String, v: Long): Long = {
    val d = H64Expression.digest()
    d.update(s"bk:$salt:$v".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    d.h64()
  }
}
