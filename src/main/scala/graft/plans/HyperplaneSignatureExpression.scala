package graft.plans

import org.apache.spark.sql.catalyst.util.ArrayData

/** L7's random-hyperplane signature as a native loop expression.
  *
  * The unrolled Column-tree form (`Sketches.hyperplaneSigN`) emits
  * bits×dims multiply-add terms as ONE expression tree — at 16 bits × 64
  * dims that is a 1024-term tree whose generated method blows the JVM's
  * 64 KB bytecode limit, so Spark silently falls back to interpreted
  * evaluation (the exact interpreted-lambda trap the engine engineered out
  * elsewhere). As a [[KernelCall]] it is a single static call over a
  * plane-matrix dial: constant-size bytecode for ANY bits/dims, inside
  * WholeStageCodegen, a tight JIT-able loop.
  *
  * Bit-for-bit parity with the unrolled form (and therefore with the
  * DuckDB oracle twin `hyperplaneSigNSql`): the dot product accumulates
  * left-associated in plane order — the same IEEE addition order as the
  * `reduce(_ + _)` term list — and the plane values are the identical
  * Knuth dyadic rationals, precomputed once on the driver.
  */
object HyperplaneSignatureExpression {

  /** The plane matrix of a (dims, bits) signature, keyed by exactly
    * those two numbers: as a call's dial it compares structurally, where
    * a raw `Array[Array[Double]]` would compare by reference and defeat
    * canonicalization and common-subexpression elimination.
    * rows(i)(j) = hyperplane i's component j (Knuth dyadic rational),
    * built once per deserialized dial.
    */
  final case class Planes(dims: Int, bits: Int) {
    lazy val rows: Array[Array[Double]] =
      Array.tabulate(bits, dims)((i, j) =>
        graft.functions.Sketches.hyperplane(i, j, dims))
  }

  /** The `graft_hyperplane_sig` kernel: bit i of the result is the
    * sign of the left-associated dot(v, plane_i).
    *
    * Semantics match the SQL twin (`hyperplaneSigNSql`, 1-based `v[j]`
    * indexing): a missing element — array shorter than dims — or a null
    * element makes every dot NULL, so every bit falls to 0 and the
    * signature is 0.
    */
  def signature(arr: ArrayData, matrix: Planes, isFloat: Boolean): Long = {
    val planes = matrix.rows
    val dims = if (planes.length == 0) 0 else planes(0).length
    if (arr.numElements() < dims) return 0L // out-of-bounds -> NULL dots -> 0
    // null elements are rare (clean embedding tables have none) — scan
    // once up front so the hot loop stays branch-light
    var hasNull = false
    var j = 0
    while (j < dims && !hasNull) { hasNull = arr.isNullAt(j); j += 1 }
    if (hasNull) return 0L // every dot is NULL -> every bit falls to 0
    var sig = 0L
    var i = 0
    while (i < planes.length) {
      val row = planes(i)
      var acc = row(0) * (if (isFloat) arr.getFloat(0).toDouble else arr.getDouble(0))
      j = 1
      while (j < row.length) {
        acc += row(j) * (if (isFloat) arr.getFloat(j).toDouble else arr.getDouble(j))
        j += 1
      }
      if (acc >= 0) sig |= (1L << i)
      i += 1
    }
    sig
  }
}
