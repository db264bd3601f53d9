package graft.plans

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The native graft_scalar_keys must agree exactly with the map_filter
  * lambda formulation it replaced (scalar-only keys, sorted, comma-joined,
  * null values dropped), and q62's cleaning projection must be back inside
  * whole-stage codegen.
  */
class ScalarKeysExpressionSpec extends SparkSpec {

  private def lambdaForm(m: org.apache.spark.sql.Column) =
    concat_ws(",", array_sort(map_keys(map_filter(m,
      (_, v) => !v.startsWith("{")))))

  test("native == lambda on generated JSON maps (nesting, ordering, empties)") {
    import spark.implicits._
    val texts = Seq(
      """{"b":"2","a":"1","nested":{"x":1},"z":"last"}""",
      """{"only_nested":{"y":2}}""",
      """{}""",
      """{"k":"{not-really-nested-string"}""", // value STARTING with { drops
      """{"upper":"A","Upper":"B","9num":"c"}""", // binary order: digits < upper < lower
      """{"a":null,"b":"kept"}""") // null value drops like a null predicate
    val df = texts.toDF("t").select(from_json(col("t"),
      org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType,
        org.apache.spark.sql.types.StringType)).as("m"))
    val native = df.select(call_function("graft_scalar_keys", col("m")))
      .as[String].collect()
    val lambda = df.select(lambdaForm(col("m"))).as[String].collect()
    assert(native.toSeq === lambda.toSeq)
    assert(native(4) === "9num,Upper,upper", "binary UTF8 key order")
    assert(native(5) === "b", "null values must drop the key")
  }

  test("null map yields null; interpreted eval matches codegen") {
    import spark.implicits._
    val df = Seq(Option.empty[Map[String, String]]).toDF("m")
    assert(df.select(call_function("graft_scalar_keys", col("m"))).collect()(0).isNullAt(0))

    val arr = org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
      Map("b" -> "2", "a" -> "{x}", "c" -> "3").map { case (k, v) =>
        org.apache.spark.unsafe.types.UTF8String.fromString(k) ->
          org.apache.spark.unsafe.types.UTF8String.fromString(v)
      })
    val expr = graftCall("graft_scalar_keys",
      org.apache.spark.sql.catalyst.expressions.Literal(arr,
        org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.StringType)))
    assert(expr.eval(null).toString === "b,c")
  }

  test("q62's cleaning projection has no interpreted island") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      graft.core.CacheScope.scoped {
        val df = graft.SparkEntry.queries("q62_property_cleaning")(
          spark, "/root/testdata/sf0.001")
        val (inside, eligible, islands) =
          graft.tools.PlanAudit.codegenCoverage(df.queryExecution.executedPlan)
        assert(islands.isEmpty,
          s"q62 must be fully codegen'd, found: $islands ($inside/$eligible)")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }
}
