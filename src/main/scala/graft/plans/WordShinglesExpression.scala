package graft.plans

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct word n-gram shingles as a native loop expression — the
  * construction under every shingle consumer (dedup fingerprints,
  * decontamination, boilerplate lexicons).
  *
  * The Column form (`sequence` + `transform(slice, array_join)` +
  * `array_distinct`) uses a higher-order lambda, which is CodegenFallback:
  * one in a projection de-optimizes the WHOLE host Project to interpreted
  * — the round-8 q91 lesson, worth 3× on a corpus scan. The registered
  * pipelines route shingles through the relational posexplode+lead frame;
  * this expression gives the LIBRARY surface (`Sketches.shingles`) the
  * same codegen residency for ad-hoc composition.
  *
  * Semantics are pinned to the lambda form bit-for-bit (spec-compared):
  * trim → split on `\s+` (limit -1, Spark's split), empty result when the
  * doc has fewer than n words, n-grams joined by one space, distinct in
  * first-occurrence order. The trim is SPACE-ONLY (U+0020, what Spark's
  * `trim` and DuckDB's `trim` strip) — Java `String.trim` strips all
  * control chars <= U+0020, so a tab/newline-edged document would lose
  * the empty edge words the reference form keeps.
  */
object WordShinglesExpression {

  /** The `graft_shingles` kernel. Byte-level since r19
    * ([[WordBytes]]): no UTF-8 decode, no regex, no per-shingle String
    * round trip — same trim/split/join/distinct contract, spec-pinned.
    */
  def shingles(s: UTF8String, n: Int): ArrayData = {
    val w = WordBytes.split(s)
    if (w.count < n) new GenericArrayData(Array.empty[Any])
    else {
      val out = new java.util.LinkedHashSet[UTF8String]
      var i = 0
      while (i <= w.count - n) {
        out.add(w.joined(i, n))
        i += 1
      }
      new GenericArrayData(out.toArray(Array.empty[AnyRef]).asInstanceOf[Array[Any]])
    }
  }
}
