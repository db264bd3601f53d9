package graft.plans

import org.apache.spark.sql.types.{BinaryType, DataType}

/** Bloom-filter membership sketch as a native [[SketchAgg]] plus its
  * probe kernel — the bounded-memory form of the corpus
  * membership test behind incremental exact dedup (SURVEY §2.11a L31/L64).
  *
  * At 100 TB the exact "is this fingerprint already in the corpus" check
  * is a shuffle join against the full fingerprint set (L31's shape — the
  * right tool when the batch ALSO needs to know *which* doc it collided
  * with). When only the yes/no verdict matters, a Bloom filter replaces
  * the corpus side with a fixed `2^bitsLog2`-bit array: built in one
  * map-side-combined aggregate (bitmaps OR together in any merge order),
  * shipped BROADCAST, probed per arriving row with zero shuffle — one-sided
  * error only (no false negatives; the false-positive rate is governed by
  * the bits-per-key dial and MEASURED by the registered query, which is the
  * honest way to run a lossy sketch — the L11 NProbe / L44 subspace-count
  * convention).
  *
  * Portability: bit positions come from the engine's md5-prefix fingerprint
  * pushed through the [[graft.functions.Sketches]] universal hash family
  * (`((a_i·(h mod P31) + b_i) mod P31) mod m` — every intermediate below
  * 2^62, so DuckDB BIGINT computes the identical position). The DuckDB
  * oracle reproduces the exact verdict set — including the false
  * positives — from the same arithmetic as a distinct-positions join, so
  * the driver's hash gate proves the bitmap path bit-for-bit.
  *
  * Determinism: set-bit union is order- and merge-tree-independent;
  * `BloomSpec` asserts byte equality across 1- and 8-partition builds.
  */
case class BloomFilterAgg(bitsLog2: Int, k: Int) extends Sketch[Array[Byte]] {

  // cap 31: the universal family reduces positions mod P31 = 2^31 - 1, so
  // bits past 2^31 are unreachable — a wider filter would waste >half its
  // memory AND overflow `m = len << 3` as an Int (bitsLog2 32/33 wrapped
  // m to 0 → division by zero in position(); 31 itself only worked because
  // Long % Int.MinValue happens to stay non-negative). ADVICE r12.
  require(bitsLog2 >= 3 && bitsLog2 <= 31,
    s"graft_bloom bitsLog2 must be in [3, 31], got $bitsLog2")
  require(k >= 1 && k <= 16, s"graft_bloom k must be in [1, 16], got $k")

  private val nBytes: Int = 1 << (bitsLog2 - 3)

  override def dataType: DataType = BinaryType

  override def init(): Array[Byte] = new Array[Byte](nBytes)

  override def update(buf: Array[Byte], v: Any): Array[Byte] =
    BloomFilterAgg.add(buf, v.asInstanceOf[Number].longValue(), k)

  override def merge(buf: Array[Byte], other: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < nBytes) {
      buf(i) = (buf(i) | other(i)).toByte
      i += 1
    }
    buf
  }

  override def eval(buf: Array[Byte]): Any = buf

  override def serialize(buf: Array[Byte]): Array[Byte] = buf
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes
}

object BloomFilterAgg {

  /** Bit position of probe `i` for fingerprint `h` in an `m`-bit filter:
    * the [[graft.functions.Sketches]] universal family over the md5-prefix
    * hash, reduced mod m. `h` is the engine's 60-bit non-negative
    * fingerprint; every intermediate stays under 2^62, so the DuckDB
    * oracle computes the identical value in BIGINT. A NEGATIVE input
    * (some other hash pushed through the sketch) floor-mods into the
    * same non-negative domain instead of producing a negative index and
    * crashing the executor — registered queries only ever feed md5
    * fingerprints, where floorMod ≡ %, so oracle parity is unaffected.
    */
  def position(i: Int, h: Long, m: Long): Int = {
    import graft.functions.Sketches.{P31, hashA, hashB}
    ((hashA(i) * java.lang.Math.floorMod(h, P31) + hashB(i)) % P31 % m).toInt
  }

  /** The oracle twin of [[position]] (interpolates into DuckDB SQL). */
  def positionSql(i: Int, h: String, m: Int): String =
    s"(${graft.functions.Sketches.familyHashSql(i, h)} % $m)"

  def add(buf: Array[Byte], h: Long, k: Int): Array[Byte] = {
    // Long m: an Int `len << 3` wraps at len = 2^28 bytes (2^31 bits) —
    // the agg's require caps width below that, but the kernel must not
    // rely on it (probe sees arbitrary caller bitmaps)
    val m = buf.length.toLong << 3
    var i = 0
    while (i < k) {
      val p = position(i, h, m)
      buf(p >>> 3) = (buf(p >>> 3) | (1 << (p & 7))).toByte
      i += 1
    }
    buf
  }

  /** The `graft_bloom_probe(bitmap, fingerprint, k)` kernel: true iff
    * every one of the `k` probe bits for the fingerprint is set in the
    * bitmap (the filter width is carried by the bitmap itself:
    * m = 8 · length). A [[KernelCall]], so the broadcast bitmap probe is
    * map-side codegen'd work — the production membership path.
    */
  def probe(buf: Array[Byte], h: Long, k: Int): Boolean = {
    val m = buf.length.toLong << 3
    var i = 0
    while (i < k) {
      val p = position(i, h, m)
      if ((buf(p >>> 3) & (1 << (p & 7))) == 0) return false
      i += 1
    }
    true
  }
}
