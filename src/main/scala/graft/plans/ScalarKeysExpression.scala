package graft.plans

import org.apache.spark.sql.catalyst.util.MapData
import org.apache.spark.unsafe.types.UTF8String

/** P4's scalar-property cleaning kernel as a native loop expression: the
  * comma-joined, sorted keys of a string→string map whose values are
  * SCALAR (do not re-serialize as a nested object, i.e. don't start with
  * '{'), nulls excluded.
  *
  * The Column-tree form — `concat_ws(",", array_sort(map_keys(map_filter(
  * m, (_, v) => !v.startsWith("{")))))` — rides on a map higher-order
  * function, which is CodegenFallback: the one interpreted expression
  * de-optimized q62's whole cleaning projection out of whole-stage
  * codegen. Property cleaning is a per-row map pass over every feature —
  * the operator that must stay compiled at scale.
  *
  * Parity with the lambda form: entries with a NULL value are dropped
  * (a null lambda predicate drops the entry under `map_filter`), keys
  * sort in binary UTF8 order (`array_sort` on default-collation strings),
  * and the join skips nothing because map keys are never null.
  */
object ScalarKeysExpression {
  private val OpenBrace = UTF8String.fromString("{")
  private val Comma = UTF8String.fromString(",")

  /** The `graft_scalar_keys` kernel. */
  def scalarKeys(m: MapData): UTF8String = {
    val n = m.numElements()
    val keys = m.keyArray()
    val values = m.valueArray()
    val kept = new java.util.ArrayList[UTF8String](n)
    var i = 0
    while (i < n) {
      // null value = dropped (lambda-predicate parity); keys are non-null
      if (!values.isNullAt(i) && !values.getUTF8String(i).startsWith(OpenBrace)) {
        kept.add(keys.getUTF8String(i))
      }
      i += 1
    }
    // binary UTF8 order — array_sort's ordering for default-collation strings
    kept.sort((a: UTF8String, b: UTF8String) => a.binaryCompare(b))
    UTF8String.concatWs(Comma, kept.toArray(new Array[UTF8String](kept.size())): _*)
  }
}
