package graft.plans

import org.apache.spark.unsafe.types.UTF8String

/** Maximum word multiplicity (the count of the most frequent exact word)
  * as a native loop expression — the Gopher/C4 top-word-fraction
  * numerator (L16), r19 optimization round.
  *
  * The relational form (posexplode words → groupBy(doc, word) count →
  * groupBy(doc) max) pays an Exchange on (doc_id, word) plus a second
  * partial/final aggregate for a value that is a pure function of one
  * document's text. This expression computes it in one codegen'd pass,
  * turning the whole L16 quality frame (q75, the funnel's `keep` flag)
  * into a map-side projection with zero shuffles.
  *
  * Parsing contract identical to [[WordShinglesExpression]] /
  * [[WordGramsExpression]]: SPACE-only trim (U+0020, the engine/oracle
  * trim parity), split on `\s+` with limit -1 — so an empty document
  * yields the single empty word and top count 1, exactly what the
  * exploded form counted. Words compare as exact strings.
  */
object TopWordCountExpression {

  /** The `graft_top_word_count` kernel. Byte-level since r19
    * ([[WordBytes]]): word keys are zero-copy UTF8String slices
    * (byte-wise equals/hashCode), no decode, no regex.
    */
  def topCount(s: UTF8String): Long = {
    val w = WordBytes.split(s)
    val counts = new java.util.HashMap[UTF8String, Integer](w.count * 2)
    var max = 0
    var i = 0
    while (i < w.count) {
      val c: Int = counts.merge(w.word(i), 1,
        (a: Integer, b: Integer) => Integer.valueOf(a.intValue + b.intValue))
      if (c > max) max = c
      i += 1
    }
    max.toLong
  }
}
