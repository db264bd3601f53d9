package graft.plans

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** NON-distinct word n-grams in document order, as a native loop
  * expression — the postings construction under term-frequency
  * consumers (the L95 BM25 index), where [[WordShinglesExpression]]'s
  * distinctness would destroy tf.
  *
  * Same codegen rationale as the shingle kernel: the Column form
  * (`sequence` + `transform(element_at …)`) is a higher-order lambda —
  * CodegenFallback — and one in a projection de-optimizes the whole
  * host Project to interpreted. Same parsing contract too: SPACE-only
  * trim → split on `\s+` (limit -1), empty result below n words,
  * n-grams joined by one space — the DuckDB twin is
  * `list_transform(range(1, len(w) - n + 2), i -> …)` over the same
  * split, duplicates preserved.
  */
object WordGramsExpression {
  /** The `graft_grams` kernel — order-preserving, with
    * duplicates (tf survives). Byte-level since r19 ([[WordBytes]]):
    * same trim/split/join contract, no String round trips.
    */
  def grams(s: UTF8String, n: Int): ArrayData = {
    val w = WordBytes.split(s)
    if (w.count < n) new GenericArrayData(Array.empty[Any])
    else {
      val out = new Array[Any](w.count - n + 1)
      var i = 0
      while (i <= w.count - n) {
        out(i) = w.joined(i, n)
        i += 1
      }
      new GenericArrayData(out)
    }
  }
}
