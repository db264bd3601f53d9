package graft.plans

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** Exact integer Gram matrix as a native [[SketchAgg]]:
  * per input vector, quantize each component on the q105 ladder
  * (floor(v·quantum) — bit-identical to Spark's own
  * `floor(cast(x AS double) * quantum)` since float→double widening is
  * exact and the product/floor are single IEEE operations) and
  * accumulate the dims×dims outer product into a Long matrix held as
  * the aggregation buffer.
  *
  * Why native instead of the declarative two-nested-posexplode form:
  * the explode materializes dims² rows PER VECTOR before the aggregate
  * (at sf0.1: 50k vectors × 4096 = 205M rows through the shuffle-write
  * path just to feed a 4096-cell result — measured 32 s of the q176
  * wall). The aggregate form does the same multiply-adds in a tight
  * loop on the buffer: one pass, map-side combined, the only thing
  * crossing the wire is the 4096-long buffer per partition. Matrix
  * addition is associative and commutative, so partial aggregation and
  * any merge tree produce identical state — and integer sums make the
  * result bit-identical to the exploded form and to the DuckDB oracle's
  * unnest join (`SpectralSpec` pins the replay).
  *
  * The buffer serializes as raw big-endian longs — java.nio.ByteBuffer's
  * default order, used verbatim on both sides of the round-trip (no header: unlike
  * the CMS bytes, this buffer never leaves the aggregate — the output
  * is an ARRAY<BIGINT> in row-major order, consumed by posexplode
  * immediately).
  */
case class GramMatrixAgg(dims: Int, quantum: Long, isFloat: Boolean = false)
  extends LongCellSketch("graft_gram", dims * dims) {

  require(dims >= 1 && dims <= 512, s"graft_gram dims must be in [1, 512], got $dims")
  require(quantum >= 1L, s"graft_gram quantum must be positive, got $quantum")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  // FLOAT elements for an ARRAY<FLOAT> input, DOUBLE otherwise
  override def forInput(t: DataType): GramMatrixAgg =
    copy(isFloat = t match { case ArrayType(FloatType, _) => true; case _ => false })

  override def update(buf: Array[Long], v: Any): Array[Long] = {
    val arr = v.asInstanceOf[ArrayData]
    require(arr.numElements() == dims,
      s"graft_gram expects $dims components, got ${arr.numElements()}")
    val q = new Array[Long](dims)
    var i = 0
    while (i < dims) {
      val x = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      q(i) = math.floor(x * quantum).toLong
      i += 1
    }
    i = 0
    while (i < dims) {
      val qi = q(i)
      val row = i * dims
      var j = 0
      while (j < dims) {
        buf(row + j) += qi * q(j)
        j += 1
      }
      i += 1
    }
    buf
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)
}
