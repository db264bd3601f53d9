package graft.plans

import org.apache.spark.unsafe.types.UTF8String

/** The L74 integer-ladder character-entropy proxy as a native loop
  * expression — r19 optimization round.
  *
  * Replicates bit-for-bit the relational ladder q142/q146/q206 gated
  * through round 18 (and whose DuckDB twin `entropyCtesSql` still
  * computes): over the first `cap` characters (code points, Spark's
  * `substring`/`length` unit), count each distinct character's
  * occurrences n_c, sum n_c · (len(bin(nn div n_c)) − 1) — i.e.
  * n_c · floor(log₂(nn div n_c)) — then
  * hp = cast_long(cast_double(sum · 10⁶) / cast_double(nn)), exactly
  * Spark's `(sum(...) * 1000000L / nn).cast("long")` operator tree
  * (integer multiply, double divide, truncating cast).
  *
  * The relational form paid a doc_id repartition, a 512× `sequence`
  * explode with per-position `substring` (O(len²) seeks), and two hash
  * aggregates — for a value that is a pure function of one document's
  * text. This expression computes it in one codegen'd pass: the whole
  * entropy probe becomes a map-side projection with zero shuffles.
  */
object CharEntropyExpression {

  /** The `graft_char_entropy` kernel. Callers guarantee
    * length(text) >= 1 (the registered queries filter empty docs first);
    * a zero-length input would divide by zero exactly as the relational
    * form's empty group never existed.
    */
  def entropyQ(s: UTF8String, cap: Int): Long = {
    val str = s.toString
    val counts = new java.util.HashMap[Integer, Integer](64)
    var i = 0
    var nn = 0L
    while (i < str.length && nn < cap) {
      val cp = str.codePointAt(i)
      i += Character.charCount(cp)
      nn += 1
      counts.merge(cp, 1,
        (a: Integer, b: Integer) => Integer.valueOf(a.intValue + b.intValue))
    }
    var total = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val n = it.next().longValue()
      // len(bin(x)) - 1 == floor(log2(x)) for x >= 1
      total += n * (63 - java.lang.Long.numberOfLeadingZeros(nn / n))
    }
    ((total * 1000000L).toDouble / nn.toDouble).toLong
  }
}
