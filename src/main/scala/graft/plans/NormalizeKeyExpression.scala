package graft.plans

import org.apache.spark.unsafe.types.UTF8String

/** C10 as a NATIVE Catalyst expression: NFD-decompose, strip combining
  * marks, lowercase, trim (`tlc-localities.js:281-284`).
  *
  * This replaces the Scala-UDF form on the hot path: a UDF forces a
  * catalyst↔JVM encoder boundary per row and blocks expression-level
  * optimizations; `graft_normalize_key` is a [[KernelCall]] instead.
  */
object NormalizeKeyExpression {
  def normalize(s: String): String =
    java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFD)
      .replaceAll("\\p{M}", "").toLowerCase.trim

  /** The `graft_normalize_key` kernel. */
  def normalize(s: UTF8String): UTF8String =
    UTF8String.fromString(normalize(s.toString))

  /** Column-API entry point — resolves through the function registry
    * ([[GraftExtensions]] must be installed on the session).
    */
  def normalizeKey(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.call_function("graft_normalize_key", c)
}
