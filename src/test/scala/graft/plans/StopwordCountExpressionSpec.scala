package graft.plans

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.TextFunctions

/** The native graft_stopword_count must agree exactly with the
  * higher-order-lambda formulation it replaced (the CodegenFallback that
  * de-optimized the quality/lang-id projections), including case folding,
  * duplicate occurrences, and null elements — and it must put the q41
  * quality projection back inside whole-stage codegen.
  */
class StopwordCountExpressionSpec extends SparkSpec {

  private val en = TextFunctions.StopwordProfiles.toMap.apply("en")

  test("native count == lambda count on generated corpora (dupes, case, unicode)") {
    import spark.implicits._
    val texts = Seq(
      "the The THE cat of and is to in that it for the",
      "no stop words here whatsoever",
      "", "   ", "of", "OF of oF",
      "的 是 the quick 的 brown fox", // zh chars pass through toLowerCase
      (1 to 200).map(i => if (i % 3 == 0) "the" else s"w$i").mkString(" "))
    val df = texts.toDF("text")
      .select(split(trim(col("text")), "\\s+").as("words"))
    val native = df.select(call_function("graft_stopword_count",
      col("words"), lit(en.toSeq.sorted.toArray))).as[Int].collect()
    val lambda = df.select(size(filter(col("words"),
      w => lower(w).isin(en.toSeq.sorted: _*)))).as[Int].collect()
    assert(native.toSeq === lambda.toSeq)
  }

  test("null array yields null; null elements are skipped like a null predicate") {
    import spark.implicits._
    val df = Seq(Some(Seq(Some("the"), None, Some("of"))), None).toDF("words")
    val out = df.select(call_function("graft_stopword_count",
      col("words"), lit(Array("the", "of")))).collect()
    assert(out(0).getInt(0) === 2)
    assert(out(1).isNullAt(0))
  }

  test("structurally identical instances are equal — canonicalization/CSE must see them") {
    // the stopword set rides as a HashSet dial, not an Array: Array
    // equality is by reference, which made five structurally identical
    // per-language counts compare unequal and defeated common-
    // subexpression elimination (round-8 ADVICE)
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val child = BoundReference(0, ArrayType(StringType), nullable = true)
    val a = graftCall("graft_stopword_count", child,
      Literal(Seq("the", "of").toArray[String]))
    val b = graftCall("graft_stopword_count", child,
      Literal(List("the", "of").toArray))
    assert(a === b, "same child + same stopwords must be equal")
    assert(a.semanticEquals(b), "canonicalized forms must match")
    assert(a.hashCode === b.hashCode)
    assert(Literal(1) !== a)
  }

  test("interpreted eval matches codegen; q41's quality projection has no interpreted island") {
    // direct interpreted eval
    val arr = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      Array("The", "of", "zebra").map(org.apache.spark.unsafe.types.UTF8String.fromString))
    val expr = graftCall("graft_stopword_count",
      org.apache.spark.sql.catalyst.expressions.Literal(arr,
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType)),
      org.apache.spark.sql.catalyst.expressions.Literal(Array("the", "of")))
    assert(expr.eval(null) === 2)

    // plan shape: the quality projection must sit inside WholeStageCodegen
    // (AQE defers codegen collapse to stage materialization, so audit the
    // non-adaptive physical plan — the PlanAudit protocol)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val df = graft.SparkEntry.queries("q41_text_quality")(spark, "/root/testdata/sf0.001")
      val (inside, eligible, islands) =
        graft.tools.PlanAudit.codegenCoverage(df.queryExecution.executedPlan)
      assert(islands.isEmpty,
        s"q41 must be fully codegen'd, found interpreted islands: $islands ($inside/$eligible)")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }
}
