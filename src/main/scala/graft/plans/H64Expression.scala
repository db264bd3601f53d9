package graft.plans

import org.apache.spark.unsafe.types.UTF8String

/** The portable 60-bit md5-prefix hash as ONE native expression — the
  * r20 optimization under every `Sketches.h64` / `md5Fingerprint` call
  * site engine-wide.
  *
  * The Column form (`conv(substring(md5(x), 1, 15), 16, 10)`) pays, per
  * row: the Catalyst `Md5` expression (digest → 32-char lowercase-hex
  * UTF8String), a `substring` slice (second UTF8String), and a `conv`
  * base-16 parse back to the long the digest already contained. The
  * first 15 hex characters of an md5 ARE the digest's first 60 bits:
  * the big-endian first-8-bytes long unsigned-shifted right by 4 — the
  * identity [[CdcChunksExpression]] has used since r19 (no hex round
  * trip, no intermediate strings). `H64ExpressionSpec` pins the native
  * form against the legacy Column chain value-for-value (fixture corpus
  * + adversarial inputs) and interpreted == codegen.
  *
  * Null passes through (`md5(NULL)` is NULL, and every downstream op in
  * the legacy chain is null-preserving). Only STRING input is accepted:
  * an implicit cast would silently hash a number's text rendering, so a
  * caller that means that writes the `.cast("string")` itself.
  */
object H64Expression {

  /** A per-thread MD5 digest + output buffer: MessageDigest.getInstance
    * and the 16-byte digest array are the dominant allocations of a
    * per-row hash; both amortize to zero across the task's rows. Every
    * md5-prefix kernel ([[ClsScoreExpression]], [[WinnowStatsExpression]],
    * [[CdcChunksExpression]], [[BottomKSketchAgg.hash]]) hashes through it.
    */
  private[plans] final class Digest private[H64Expression] () {
    private val md = java.security.MessageDigest.getInstance("MD5")
    private val buf = new Array[Byte](16)
    private[H64Expression] def reset(): Unit = md.reset()
    def update(b: Array[Byte]): Unit = md.update(b)
    def update(b: Array[Byte], off: Int, len: Int): Unit = md.update(b, off, len)

    /** Low-60-bit md5 prefix of the bytes updated since the last call
      * (the digest resets): the first 15 hex digits of the md5 are its
      * first 60 bits, i.e. the big-endian first-8-bytes long unsigned-
      * shifted right by 4 — bit-identical to `parseLong(hex(0, 15), 16)`
      * and `Sketches.h64Scala`, with no hex round trip.
      */
    def h64(): Long = {
      md.digest(buf, 0, 16)
      val d = buf
      (((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
        ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
        ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
        ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)) >>> 4
    }
  }

  private val local: ThreadLocal[Digest] =
    ThreadLocal.withInitial(() => new Digest)

  /** This thread's digest, reset. */
  private[plans] def digest(): Digest = {
    val d = local.get()
    d.reset()
    d
  }

  /** The `graft_h64` kernel: low-60-bit md5 prefix of the string's UTF-8
    * bytes as BIGINT.
    */
  def h64(s: UTF8String): Long = {
    val d = digest()
    d.update(s.getBytes)
    d.h64()
  }
}
