package graft.plans

import org.apache.spark.sql.types.{BinaryType, DataType}

/** Count-min frequency sketch as a native [[SketchAgg]] plus its
  * point-query kernel — the frequency analog of the L64 Bloom
  * membership filter (one-sided error in the other direction: an estimate
  * can only OVERcount, never undercount).
  *
  * At 100 TB an exact term-frequency table is a full hash aggregate over
  * every occurrence — fine once, expensive to maintain and impossible to
  * broadcast. The CMS replaces it with a fixed depth×width counter matrix:
  * built in one map-side-combined aggregate (counter matrices ADD
  * together, so partial aggregation and any merge tree produce identical
  * state), shipped broadcast, point-queried per term as min over depth
  * rows (`graft_cms_query`, codegen'd). Estimate ≥ true count always;
  * the overshoot is bounded by the collision mass per row and MEASURED by
  * the registered query against the exact aggregate — the L64/L11/L44
  * honest-lossy-sketch convention.
  *
  * Portability: row cells come from the same md5-prefix + universal-family
  * arithmetic as the Bloom positions ([[BloomFilterAgg.position]]), so the
  * DuckDB oracle reproduces the exact estimates — collisions included —
  * from a per-(row, cell) counting join. Determinism: integer sums, no
  * order sensitivity; `CmsSpec` asserts byte equality across partitionings.
  */
case class CountMinAgg(widthLog2: Int, depth: Int) extends LongCellSketch(
    "graft_cms", depth << widthLog2, CountMinAgg.header(depth, widthLog2)) {

  require(widthLog2 >= 1 && widthLog2 <= 24,
    s"graft_cms widthLog2 must be in [1, 24], got $widthLog2")
  require(depth >= 1 && depth <= 8,
    s"graft_cms depth must be in [1, 8], got $depth")

  private val width: Int = 1 << widthLog2

  override def dataType: DataType = BinaryType

  override def update(buf: Array[Long], v: Any): Array[Long] = {
    val h = v.asInstanceOf[Number].longValue()
    var i = 0
    while (i < depth) {
      buf(i * width + BloomFilterAgg.position(i, h, width)) += 1L
      i += 1
    }
    buf
  }

  // 8-byte header = magic | depth | widthLog2, so query() can VALIDATE
  // the geometry instead of trusting its depth argument: a depth-4
  // sketch queried at depth 2 used to pass the old divisibility check,
  // derive a doubled width, and silently UNDERcount — breaking the
  // one-sided contract (ADVICE r12)
  override def eval(buf: Array[Long]): Any = serialize(buf)
}

object CountMinAgg {

  /** Serialized-sketch header long: "GCMS" magic in the high 4 bytes, then
    * depth and widthLog2 in the low 2. The geometry rides IN the bytes so
    * a query against a mismatched depth fails loudly even when the wrong
    * depth happens to divide the counter count (the old length-divisibility
    * check let depth 4 → 2 slip through and silently undercount).
    *
    * Byte 2 (bits 16-23) is an explicit FORMAT VERSION (ADVICE r13 #2,
    * mirroring the reference CountMinSketch binary format's leading
    * version int): the next layout evolution bumps it instead of breaking
    * old sketches undetectably, and a reader meeting a future version
    * fails with "version" in the message rather than a misleading
    * geometry mismatch.
    */
  private[plans] val FormatVersion = 1L

  private[graft] def header(depth: Int, widthLog2: Int): Long =
    (0x47434D53L << 32) | (FormatVersion << 16) |
      (depth.toLong << 8) | widthLog2.toLong

  /** The `graft_cms_query(sketch, fingerprint, depth)` kernel, a
    * [[KernelCall]]: min over the depth rows of the counter at
    * this fingerprint's cell. Geometry (depth, width) is validated against
    * the sketch's own header — a sketch built with a different depth than
    * queried fails loudly here instead of reading shifted rows as counters.
    */
  def query(bytes: Array[Byte], h: Long, depth: Int): Long = {
    require(bytes.length >= 16 && bytes.length % 8 == 0,
      s"graft_cms_query: ${bytes.length} bytes is not a graft_cms sketch")
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val hdr = bb.getLong(0)
    require((hdr >>> 32) == 0x47434D53L,
      s"graft_cms_query: bad sketch magic 0x${(hdr >>> 32).toHexString}")
    require(((hdr >>> 16) & 0xFF) == FormatVersion,
      s"graft_cms_query: unsupported sketch format version " +
        s"${(hdr >>> 16) & 0xFF} (this build reads version $FormatVersion)")
    val sketchDepth = ((hdr >>> 8) & 0xFF).toInt
    require(sketchDepth == depth,
      s"graft_cms_query depth=$depth does not match a depth-$sketchDepth sketch")
    val width = 1 << (hdr & 0xFF).toInt
    require(bytes.length == (depth * width + 1) * 8,
      s"graft_cms_query: ${bytes.length}-byte sketch inconsistent with " +
        s"header depth=$depth width=$width")
    var best = Long.MaxValue
    var i = 0
    while (i < depth) {
      val c = bb.getLong(
        (1 + i * width + BloomFilterAgg.position(i, h, width)) * 8)
      if (c < best) best = c
      i += 1
    }
    best
  }
}
