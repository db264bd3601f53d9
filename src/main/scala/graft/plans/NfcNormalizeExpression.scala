package graft.plans

import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization as a NATIVE Catalyst expression — the
  * encoding-cleanup stage of a pretraining corpus build (the ftfy-style
  * pass that canonicalizes decomposed diacritics so dedup fingerprints
  * and tokenizers see one byte sequence per grapheme).
  *
  * NFC is UAX#15: a spec-defined, idempotent canonical form, so the JVM's
  * `java.text.Normalizer` and other engines' implementations (DuckDB
  * `nfc_normalize`) agree exactly — which is what makes the stage
  * oracle-checkable (q90). A [[KernelCall]] rather than a UDF for the
  * same reason as [[NormalizeKeyExpression]]: the per-document pass
  * stays inside WholeStageCodegen with no encoder boundary.
  */
object NfcNormalizeExpression {
  def nfc(s: String): String =
    java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)

  /** The `graft_nfc` kernel. */
  def nfc(s: UTF8String): UTF8String = UTF8String.fromString(nfc(s.toString))

  /** Column-API entry point — resolves through the function registry
    * ([[GraftExtensions]] must be installed on the session).
    */
  def nfcNormalize(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.call_function("graft_nfc", c)
}
