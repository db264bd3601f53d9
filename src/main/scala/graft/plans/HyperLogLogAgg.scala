package graft.plans

import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** HyperLogLog approximate distinct count as a native
  * [[SketchAgg]] — the sketch aggregate SURVEY §2.11 reserved
  * for the moment sketches entered the engine. At 100 TB an exact
  * `countDistinct` is an expand + full shuffle of every distinct value;
  * this is a fixed 2^p-byte register array per group with map-side partial
  * merge (register-wise max), so cardinality costs one narrow aggregate
  * regardless of corpus size. Standard HLL estimator (Flajolet et al.)
  * with the linear-counting small-range correction; no large-range
  * correction is needed with a 64-bit hash.
  *
  * Determinism: the hash is a fixed splitmix64 finalizer (FNV-1a over
  * UTF-8 bytes for strings), registers merge by max — the estimate is
  * identical for any row order, partitioning, or merge tree, which the
  * spec asserts by comparing 1-partition and 8-partition runs exactly.
  *
  * Relative standard error ≈ 1.04/sqrt(2^p); the default p=11 (2 KB per
  * group) gives ~2.3%.
  */
case class HyperLogLogAgg(precision: Int) extends Sketch[Array[Byte]] {

  require(precision >= 4 && precision <= 16,
    s"graft_hll precision must be in [4, 16], got $precision")

  private val m: Int = 1 << precision

  override def dataType: DataType = LongType

  override def init(): Array[Byte] = new Array[Byte](m)

  override def update(buf: Array[Byte], v: Any): Array[Byte] = {
    val h = HyperLogLogAgg.hash64(v)
    val idx = (h >>> (64 - precision)).toInt
    val rest = h << precision
    val rank =
      if (rest == 0L) 64 - precision + 1
      else java.lang.Long.numberOfLeadingZeros(rest) + 1
    if (rank > buf(idx)) buf(idx) = rank.toByte
    buf
  }

  override def merge(buf: Array[Byte], other: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < m) {
      if (other(i) > buf(i)) buf(i) = other(i)
      i += 1
    }
    buf
  }

  override def eval(buf: Array[Byte]): Any = {
    // Flajolet et al. specify exact alpha for the small register counts
    // where the asymptotic formula is biased: 0.673 (m=16), 0.697 (m=32),
    // 0.709 (m=64); the asymptotic 0.7213/(1 + 1.079/m) applies for m>=128
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _ => 0.7213 / (1.0 + 1.079 / m)
    }
    var sum = 0.0
    var zeros = 0
    var i = 0
    while (i < m) {
      sum += java.lang.Math.pow(2.0, -buf(i).toDouble)
      if (buf(i) == 0) zeros += 1
      i += 1
    }
    val raw = alpha * m.toDouble * m.toDouble / sum
    val est =
      if (raw <= 2.5 * m && zeros > 0) m.toDouble * math.log(m.toDouble / zeros)
      else raw
    math.round(est)
  }

  override def serialize(buf: Array[Byte]): Array[Byte] = buf
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes
}

object HyperLogLogAgg {

  /** Engine-stable 64-bit hash: splitmix64 finalizer over the raw integral
    * value, or over FNV-1a of the UTF-8 bytes for strings. Independent of
    * JVM hashCode — the sketch is reproducible across runs and engines.
    */
  def hash64(v: Any): Long = v match {
    case s: UTF8String => mix(fnv64(s.getBytes))
    case l: java.lang.Long => mix(l.longValue())
    case i: java.lang.Integer => mix(i.longValue())
    case sh: java.lang.Short => mix(sh.longValue())
    case b: java.lang.Byte => mix(b.longValue())
    case other => mix(other.hashCode().toLong) // unreachable given the param
  }

  private def fnv64(bytes: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
}
