package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec
import graft.functions.Sketches

/** r20 optimization: the native `graft_h64` digest replaces the
  * `conv(substring(md5(x), 1, 15), 16, 10)` hex round trip under every
  * `Sketches.h64` / `TextFunctions.md5Fingerprint` call site. The value
  * must be identical to the legacy Column chain — the first 15 hex
  * characters of an md5 are the digest's big-endian first-8-bytes long
  * `>>> 4` — over adversarial inputs and the fixture corpus, in both
  * interpreted and codegen evaluation.
  */
class H64ExpressionSpec extends SparkSpec {

  /** The pre-r20 Column chain, verbatim. */
  private def legacyH64(c: org.apache.spark.sql.Column) =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  private def assertAgree(src: DataFrame): Unit = {
    val rows = src
      .select(col("s"),
        legacyH64(col("s")).as("legacy"),
        call_function("graft_h64", col("s")).as("native"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2), s"mismatch on ${r.getString(0)}")
    }
  }

  test("native h64 == legacy md5-hex chain on adversarial inputs") {
    import spark.implicits._
    val texts = Seq(
      "", "a", "ab", " ", "\u0000",
      "The quick brown fox jumps over the lazy dog.",
      "日本語のテキストです 混ざった ascii も",
      "😀😀 emoji 😁",
      "x" * 4096,
      "ring:12345", "dsir:foo bar", "cr1:998877",
      (0 until 200).map(i => ('a' + i % 26).toChar).mkString)
      .toDF("s")
    assertAgree(texts)
  }

  test("native h64 == legacy chain on the fixture corpus + Scala twin") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("text").as("s")).filter(col("s").isNotNull)
    assertAgree(docs)
    // h64Scala (driver-held state) must keep matching the engine column
    val probe = "probe:42"
    val engine = spark.range(1)
      .select(call_function("graft_h64", lit(probe)).as("h"))
      .head().getLong(0)
    assert(engine == Sketches.h64Scala(probe))
  }

  test("interpreted == codegen, null passes through") {
    val e = graftCall("graft_h64",
      org.apache.spark.sql.catalyst.expressions.Literal(
        UTF8String.fromString("codegen-parity"),
        org.apache.spark.sql.types.StringType))
    assert(e.eval(null) == H64Expression.h64(
      UTF8String.fromString("codegen-parity")))
    // null child → null out (the legacy chain was null-preserving)
    import spark.implicits._
    val withNull = Seq(Some("x"), None).toDF("s")
      .select(call_function("graft_h64", col("s")).as("h"))
      .collect()
    assert(withNull.count(_.isNullAt(0)) == 1)
  }

  test("a BIGINT argument fails analysis instead of hashing its text rendering") {
    val e = intercept[org.apache.spark.sql.AnalysisException](
      spark.range(1).select(call_function("graft_h64", col("id"))))
    assert(e.getMessage.contains("graft_h64 needs STRING, got LongType"), e.getMessage)
  }

  test("Sketches.h64 routes through the native expression") {
    val df = spark.range(1)
      .select(Sketches.h64(col("id").cast("string")).as("h"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_h64"), plan)
  }
}
