package graft.plans

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Case-insensitive "any element contains the needle" as a native loop
  * expression — the F6 substring-any-area predicate
  * (`power-outages/server.js` filters outages whose area list has a
  * case-insensitive substring hit) without a higher-order-function lambda.
  *
  * The Column-tree form — `exists(areas, a => lower(a).contains(n))` —
  * rides on a lambda, which is CodegenFallback: the one interpreted
  * predicate de-optimizes its ENTIRE host Filter out of whole-stage
  * codegen (q59's corpus-wide filter pack ran interpreted because of it).
  * A predicate applied to every event row is exactly the expression that
  * must stay codegen'd at 100 TB.
  *
  * Semantics match the lambda form: null elements are skipped (a null
  * lambda result is not true), a null array yields null.
  */
object AnyContainsExpression {
  /** The `graft_any_contains` kernel; the needle dial is lowercased once
    * on the driver.
    */
  def anyContains(arr: ArrayData, needleLower: UTF8String): Boolean = {
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i) &&
        arr.getUTF8String(i).toLowerCase.contains(needleLower)) return true
      i += 1
    }
    false
  }
}
