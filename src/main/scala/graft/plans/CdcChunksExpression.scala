package graft.plans

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The L53 content-defined-chunking frame as ONE native loop expression —
  * r19 optimization round, shared by q118 and q133.
  *
  * Replicates bit-for-bit the relational construction both queries gated
  * through round 18 (posexplode + three `lead`/running-sum windows over
  * (doc_id ORDER BY pos) + a (doc, chunk) hash aggregate — an
  * Exchange(doc_id)+sort plus two aggregate exchanges for values that
  * are pure functions of one document's text):
  *
  *  - words: SPACE-only trim → split `\s+` limit -1 (the engine/oracle
  *    parsing contract of the other word-loop expressions);
  *  - boundary at 0-based word p iff p+2 ≤ n−1 and
  *    h64(wₚ ⊔ wₚ₊₁ ⊔ wₚ₊₂) % mod == 0 (h64 = low-60-bit md5 prefix,
  *    non-negative, so `%` is plain mod — [[graft.functions.Sketches]]);
  *  - chunk_id(p) = #boundaries strictly before p; a chunk therefore
  *    ends AT its boundary word and the next starts at p+1;
  *  - cfp = Σ (h64(wₚ) % 2³²) · (p − chunk_start + 1), Long wraparound
  *    exactly like the relational SUM;
  *  - n_w = words in the chunk; chunk_text = the chunk's words joined
  *    by one space (chunks tile the document contiguously, so joining
  *    kept chunk_texts in chunk order with " " reproduces q133's
  *    pos-ordered word rebuild string byte-for-byte).
  *
  * Output: array of (chunk_id, cfp, n_w, chunk_text) structs in chunk
  * order; null text → null (the exploded relational form dropped those
  * rows the same way).
  */
object CdcChunksExpression {

  val Schema: ArrayType = ArrayType(StructType(Seq(
    StructField("chunk_id", LongType, nullable = false),
    StructField("cfp", LongType, nullable = false),
    StructField("n_w", LongType, nullable = false),
    StructField("chunk_text", StringType, nullable = false))),
    containsNull = false)

  private val Space = Array[Byte](0x20)

  /** The `graft_cdc_chunks` kernel — byte-level ([[WordBytes]]):
    * word and 3-gram hashes digest the UTF-8 byte slices directly (a
    * word's UTF-8 bytes ARE its slice; the 3-gram's bytes are the three
    * slices joined by 0x20), so no String is ever built except the
    * chunk_text outputs.
    */
  def chunks(s: UTF8String, mod: Long): ArrayData = {
    val w = WordBytes.split(s)
    val n = w.count
    val md = H64Expression.digest()
    val out = new java.util.ArrayList[AnyRef](4)
    var chunkId = 0L
    var start = 0
    var cfp = 0L
    var nw = 0L
    var p = 0
    while (p < n) {
      md.update(w.bytes, w.offs(p), w.lens(p))
      cfp += (md.h64() % 4294967296L) * (p - start + 1)
      nw += 1
      val boundary = p + 2 <= n - 1 && {
        md.update(w.bytes, w.offs(p), w.lens(p))
        md.update(Space)
        md.update(w.bytes, w.offs(p + 1), w.lens(p + 1))
        md.update(Space)
        md.update(w.bytes, w.offs(p + 2), w.lens(p + 2))
        md.h64() % mod == 0
      }
      if (boundary) {
        out.add(new GenericInternalRow(Array[Any](chunkId, cfp, nw,
          w.joined(start, p - start + 1))))
        chunkId += 1
        start = p + 1
        cfp = 0L
        nw = 0L
      }
      p += 1
    }
    if (nw > 0) {
      out.add(new GenericInternalRow(Array[Any](chunkId, cfp, nw,
        w.joined(start, n - start))))
    }
    new GenericArrayData(out.toArray.asInstanceOf[Array[Any]])
  }
}
