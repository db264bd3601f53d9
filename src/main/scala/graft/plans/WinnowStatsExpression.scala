package graft.plans

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The L52 winnowing per-document stats as ONE native loop expression —
  * r19 optimization round (q117).
  *
  * Replicates bit-for-bit the relational construction q117 gated through
  * round 18 (posexplode + two `lead` windows + a sliding `min` window +
  * two doc-keyed aggregates — an Exchange(doc_id)+sort for values that
  * are pure functions of one document's text):
  *
  *  - trigram positions p ∈ [0, m) with m = words − (n−1) (the
  *    `w_{n-1}.isNotNull` filter), words split by the shared byte-level
  *    contract ([[WordBytes]]);
  *  - pack(p) = (h64(trigramₚ) % 2⁴⁰) · 2²⁰ + p — h64 = low-60-bit md5
  *    prefix digested straight from the word byte slices;
  *  - n_shingles = m; a window at p is FULL iff p + w − 1 ≤ m − 1, so
  *    n_windows = max(m − w + 1, 0);
  *  - n_selected = |distinct min(pack[p .. p+w−1]) over full windows|.
  *
  * Returns null when the document has no trigrams (m == 0) — exactly the
  * rows the legacy inner aggregates dropped — so callers filter nulls.
  */
object WinnowStatsExpression {

  val Schema: StructType = StructType(Seq(
    StructField("n_shingles", LongType, nullable = false),
    StructField("n_windows", LongType, nullable = false),
    StructField("n_selected", LongType, nullable = false)))

  private val Space = Array[Byte](0x20)

  /** The `graft_winnow_stats` kernel; null when no n-grams. */
  def stats(s: UTF8String, n: Int, w: Int): GenericInternalRow = {
    val wd = WordBytes.split(s)
    val m = wd.count - (n - 1)
    if (m <= 0) return null
    val md = H64Expression.digest()
    val packs = new Array[Long](m)
    var p = 0
    while (p < m) {
      var j = 0
      while (j < n) {
        if (j > 0) md.update(Space)
        md.update(wd.bytes, wd.offs(p + j), wd.lens(p + j))
        j += 1
      }
      packs(p) = (md.h64() % 1099511627776L) * 1048576L + p
      p += 1
    }
    val nWindows = math.max(m - w + 1, 0)
    val selected = new java.util.HashSet[java.lang.Long]
    p = 0
    while (p < nWindows) {
      var mn = packs(p)
      var j = 1
      while (j < w) {
        if (packs(p + j) < mn) mn = packs(p + j)
        j += 1
      }
      selected.add(mn)
      p += 1
    }
    new GenericInternalRow(Array[Any](m.toLong, nWindows.toLong,
      selected.size.toLong))
  }
}
