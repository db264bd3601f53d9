package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Streaming form of L67's count-min frequency sketch (q134): the
  * running term-frequency readout over an ingest stream, with state held
  * as the fixed depth×width counter matrix instead of the unbounded
  * exact frequency table.
  *
  * Per micro-batch the batch's own sketch is built RELATIONALLY by the
  * SAME native aggregate the batch operator uses (`graft_cms` — one
  * map-side-combined pass, only the serialized matrix crosses to the
  * driver) and ADDED into the held matrix. Counter addition is
  * associative and commutative, so the accumulated matrix is
  * BYTE-IDENTICAL to a one-shot build over the union of all arrivals
  * under any micro-batch chunking or arrival order
  * (`StreamingFrequencySpec` asserts the bytes). Unlike the Bloom/HLL
  * forms, CMS state is NOT idempotent — a replayed batch double-counts,
  * which is inherent to counting (the spec pins the property so nobody
  * mistakes it for a bug); exactly-once sinks or the L31 incremental
  * admission pattern own replay protection. The one-sided contract
  * (estimate ≥ truth, never under) holds at every prefix of the stream,
  * and per-term running estimates are monotone non-decreasing. State is
  * `8·(depth·width + 1)` bytes, fixed by geometry, not stream length.
  */
object StreamingFrequency {

  import graft.queries.TextCorpusOps.{CmsDepth, CmsWidthLog2}
  import graft.plans.CountMinAgg

  case class Arrival(doc_id: Long, w: String)

  /** The algebra `graft_cms` runs, at the stream's geometry. */
  private val Cms = CountMinAgg(CmsWidthLog2, CmsDepth)

  /** Zero matrix with the versioned geometry header — the add identity. */
  def emptySketch: Array[Byte] = Cms.serialize(Cms.init())

  /** Point estimate: min over depth rows at the term's cells — the
    * codegen'd `graft_cms_query` kernel itself, header checks included. */
  def estimate(sk: Array[Byte], h: Long): Long = CountMinAgg.query(sk, h, CmsDepth)

  /** Fold one micro-batch into `sk` (unmodified; a new array returns). */
  def observeBatch(mb: Dataset[Arrival], sk: Array[Byte]): Array[Byte] = {
    val batchSk = mb.toDF()
      .select(call_function("graft_cms",
        graft.functions.Sketches.h64(col("w")),
        lit(CmsWidthLog2), lit(CmsDepth)).as("sk"))
      .collect()(0).getAs[Array[Byte]](0)
    // counter add, graft_cms's own merge: both operands must carry this
    // geometry's header and length (the versioned-format check, ADVICE r12/r13)
    Cms.serialize(Cms.merge(Cms.deserialize(sk), Cms.deserialize(batchSk)))
  }

  /** Drain a memory-stream query, reporting after each batch the running
    * estimates for `probes` (the readout a monitoring sink publishes).
    */
  def run(arrivals: Dataset[Arrival], probes: Seq[String])
      : (Array[Byte], Seq[Seq[Long]]) = {
    var sk = emptySketch
    val outs = Seq.newBuilder[Seq[Long]]
    val hs = probes.map(p => graft.functions.Sketches.h64Scala(p))
    val q = arrivals.writeStream
      .outputMode("append")
      .foreachBatch { (mb: Dataset[Arrival], _: Long) =>
        sk = observeBatch(mb, sk)
        outs += hs.map(estimate(sk, _))
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    (sk, outs.result())
  }
}
