package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Streaming form of L64's Bloom membership (q131): the ingest ADMISSION
  * gate — classify every arriving fingerprint against everything admitted
  * so far, with the corpus side held as a fixed-width Bloom bitmap
  * instead of the unbounded exact fingerprint set.
  *
  * Per micro-batch the kernel is the production combination: the Bloom
  * bitmap answers "seen in the corpus / any earlier batch?" (one-sided
  * error, measured by q131), while WITHIN the batch the exact L1
  * first-occurrence rule applies (a micro-batch is small by definition —
  * q96's asymmetry). Verdicts: `seen` (bitmap hit — corpus or an earlier
  * batch), `dup_in_batch` (same fingerprint earlier in THIS batch by the
  * min-doc_id survivor rule), `admitted`.
  *
  * After classification the batch's fingerprints are OR-merged into the
  * bitmap — bit union is associative/commutative/idempotent, so the
  * accumulated bitmap is BYTE-IDENTICAL to a one-shot batch build over
  * the union of all arrivals regardless of micro-batch chunking or
  * arrival order (`StreamingAdmissionSpec` asserts the bytes), and a
  * restart can rebuild or checkpoint it as a kilobyte-scale artifact.
  * State is the bitmap alone: memory fixed by the width dial, NOT by
  * stream length — the property that makes this the 100 TB admission
  * shape (the exact seen-set form, `StreamingDedup`, carries per-key
  * state that grows with distinct history; this carries 2^bits bits,
  * ever).
  */
object StreamingAdmission {

  case class Arrival(doc_id: Long, fp: Long)

  /** Classify one micro-batch against `bitmap` (frozen during the batch)
    * and return the updated bitmap. The probe is the codegen'd
    * `graft_bloom_probe` over a BROADCAST one-row bitmap frame — map-side,
    * zero shuffle beyond the |batch|-row first-occurrence aggregate. A
    * broadcast (not a literal column) so the bitmap ships to executors
    * once via torrent blocks instead of riding inside every serialized
    * plan/codegen fragment — at `bloomBitsFor`'s upper widths the bitmap
    * is hundreds of MB, which a plan literal would re-ship per batch.
    *
    * Width ceiling for THIS driver-held-artifact shape: the delta build
    * below still round-trips one bitmap through the driver per
    * micro-batch, so the practical ceiling is driver-heap/latency-bound
    * (~2^27 bits = 16 MiB is comfortable; the 2^31 family cap is not).
    * Past that, shard the filter by fingerprint range (one admitBatch
    * per shard) or fall back to the exact keyed-state form
    * (`StreamingDedup`), whose state is partitioned by construction.
    */
  def admitBatch(mb: Dataset[Arrival], bitmap: Array[Byte],
      bitsLog2: Int, k: Int): (DataFrame, Array[Byte]) = {
    require(bitmap.length == (1 << (bitsLog2 - 3)),
      s"bitmap width ${bitmap.length}B does not match bitsLog2=$bitsLog2")
    val first = mb.toDF().groupBy(col("fp"))
      .agg(min(col("doc_id")).as("first_id"))
    val spark = mb.sparkSession
    import spark.implicits._
    val bmDf = Seq(Tuple1(bitmap)).toDF("graft_bm")
    val verdicts = mb.toDF()
      .crossJoin(broadcast(bmDf))
      .withColumn("hit", call_function("graft_bloom_probe",
        col("graft_bm"), col("fp"), lit(k)))
      .drop("graft_bm")
      .join(broadcast(first), Seq("fp"))
      .select(col("doc_id"), col("fp"),
        when(col("hit"), "seen")
          .when(col("doc_id") =!= col("first_id"), "dup_in_batch")
          .otherwise("admitted").as("verdict"))
    val delta = mb.toDF()
      .agg(call_function("graft_bloom", col("fp"), lit(bitsLog2), lit(k)))
      .head().getAs[Array[Byte]](0)
    // graft_bloom's own OR merge, applied to the driver-held artifact
    (verdicts, graft.plans.BloomFilterAgg(bitsLog2, k).merge(bitmap.clone(), delta))
  }
}
