package graft.plans

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Case-insensitive stopword occurrence count as a native loop expression.
  *
  * The Column-tree form — `size(filter(words, w => lower(w).isin(...)))`
  * — rides on a higher-order-function lambda, which is CodegenFallback:
  * the one interpreted expression de-optimizes its ENTIRE host Project
  * out of whole-stage codegen (q41/q84 ran their full quality-scoring
  * projection interpreted because of it). Quality scoring is a
  * per-document map pass over the whole corpus — at 100 TB that Project
  * is exactly the operator that must stay codegen'd.
  *
  * Semantics match the lambda form: each element is lowercased
  * (UTF8String.toLowerCase — the same kernel Spark's `lower` uses) and
  * counted when it is in the stopword set; null elements count as false
  * exactly like a null lambda predicate under `filter`.
  */
object StopwordCountExpression {

  /** The lowercased membership set, built once on the driver and passed
    * as the call's object dial: lookups run on the raw scan bytes with
    * no per-element String conversion. A `HashSet` compares by content,
    * so two calls with the same stopwords are equal — an Array would
    * compare by reference and defeat canonicalization and
    * common-subexpression elimination (a per-language scorer builds one
    * of these per language in the same projection).
    */
  def stopSet(stopwords: Seq[String]): java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](stopwords.size * 2)
    stopwords.foreach(w => s.add(UTF8String.fromString(w.toLowerCase)))
    s
  }

  /** The `graft_stopword_count` kernel. */
  def count(arr: ArrayData, stops: java.util.HashSet[UTF8String]): Int = {
    var c = 0
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i) && stops.contains(arr.getUTF8String(i).toLowerCase)) c += 1
      i += 1
    }
    c
  }
}
