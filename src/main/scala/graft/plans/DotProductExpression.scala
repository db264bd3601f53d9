package graft.plans

import org.apache.spark.sql.catalyst.util.ArrayData

/** Fixed-order embedding dot product as a native loop expression.
  *
  * The unrolled Column-tree form (`Sketches.dot`) emits `dims`
  * multiply-add terms as ONE expression tree — at 64 dims that is fine in
  * isolation, but when Catalyst collapses the projection into a
  * surrounding hash aggregate (the q78 pair subgraph does exactly this)
  * several unrolled dots and norms land in a single generated method and
  * blow the JVM's 64 KB bytecode limit, so Spark silently falls back to an
  * interpreted aggregate. As a [[KernelCall]] it is one static call:
  * constant bytecode size at any width, inside WholeStageCodegen, a
  * tight JIT-able loop.
  *
  * Bit-for-bit parity with the unrolled form (and so with the DuckDB
  * oracle twin `dotSql`): the products accumulate LEFT-ASSOCIATED in
  * element order — the same IEEE addition order as the `reduce(_ + _)`
  * term list — and each element is widened float→double before the
  * multiply, exactly as `element_at(a, i).cast("double")` did.
  *
  * Null semantics match the term-tree form: a null element on either side
  * nulls a term and therefore the whole sum; an array shorter than `dims`
  * yields NULL (the engine's embedding tables are fixed-width so neither
  * fires in practice, but the contract is pinned so the expression can
  * never diverge from the oracle on degenerate input).
  */
object DotProductExpression {
  /** The `graft_dot` kernel: the dot over the window of `dims` elements
    * starting at `offset` on both sides (0 = whole-vector dot; a non-zero
    * offset is the product-quantization subspace window).
    */
  def dotAt(a: ArrayData, b: ArrayData, dims: Int, offset: Int,
      aFloat: Boolean, bFloat: Boolean): java.lang.Double =
    dot(a, offset, b, offset, dims, aFloat, bFloat)

  /** Left-associated sum(a[aOff+i] * b[bOff+i]) over `dims` elements,
    * float inputs widened to double per element — the one dot loop of
    * `graft_dot` and of [[MaxSimExpression]]'s token pairs. NULL when a
    * window runs past its array or holds a NULL element (boxed, so the
    * NULL survives the codegen boundary).
    */
  def dot(a: ArrayData, aOff: Int, b: ArrayData, bOff: Int, dims: Int,
      aFloat: Boolean, bFloat: Boolean): java.lang.Double = {
    if (a.numElements() < aOff + dims || b.numElements() < bOff + dims) return null
    var j = 0
    while (j < dims) {
      if (a.isNullAt(aOff + j) || b.isNullAt(bOff + j)) return null
      j += 1
    }
    var acc = elem(a, aOff, aFloat) * elem(b, bOff, bFloat)
    j = 1
    while (j < dims) {
      acc += elem(a, aOff + j, aFloat) * elem(b, bOff + j, bFloat)
      j += 1
    }
    java.lang.Double.valueOf(acc)
  }

  @inline private def elem(arr: ArrayData, j: Int, isFloat: Boolean): Double =
    if (isFloat) arr.getFloat(j).toDouble else arr.getDouble(j)
}
