package graft.plans

import org.apache.spark.unsafe.types.UTF8String

/** q121's hash-classifier document score as ONE native loop expression —
  * r19 optimization round.
  *
  * Replicates the relational form bit-for-bit: lowercase
  * (`UTF8String.toLowerCase`, the kernel Spark's `lower` runs), the
  * shared trim/split contract ([[WordBytes]]), non-empty words only, and
  * per word the weight (md5fp(word) % 1024) · 2654435761 % 1001 − 500
  * with md5fp = the low-60-bit md5 prefix of the word's UTF-8 bytes
  * (non-negative, so `%` is plain mod; the product is < 2^42, Long-safe).
  * Returns the summed score, or null when the document has no non-empty
  * words — exactly the rows the legacy explode + aggregate dropped.
  */
object ClsScoreExpression {
  /** The `graft_cls_score` kernel; null when no non-empty words survive
    * the split.
    */
  def score(s: UTF8String): java.lang.Long = {
    val w = WordBytes.split(s.toLowerCase)
    val md = H64Expression.digest()
    var sum = 0L
    var seen = false
    var i = 0
    while (i < w.count) {
      if (w.lens(i) > 0) {
        seen = true
        md.update(w.bytes, w.offs(i), w.lens(i))
        sum += (md.h64() % 1024L) * 2654435761L % 1001L - 500L
      }
      i += 1
    }
    if (seen) java.lang.Long.valueOf(sum) else null
  }
}
