package graft.tools

import org.apache.spark.sql.functions._

/** SURVEY §1.1.3 decision probe: can Spark 4's VariantType replace the
  * parse-once `map<string,string>` representation of dynamic metadata?
  * Checks (a) availability, (b) whether a Variant column crosses the
  * engine's encoder fence (`Synthetic.fence` is load-bearing for every
  * parse-once query), (c) throughput of variant_get vs map lookup on the
  * q31-shaped path workload. Run:
  * `sbt "Test/runMain graft.tools.VariantProbe"`.
  */
object VariantProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    val events = graft.core.Tables.events(spark, sfDir)

    // (a) availability
    val hasParseJson =
      try { spark.sql("SELECT parse_json('{\"a\":1}')").collect(); true }
      catch { case e: Throwable => println(s"[variant] parse_json: ${e.getMessage.linesIterator.next()}"); false }
    println(s"[variant] parse_json available: $hasParseJson")
    if (!hasParseJson) { spark.stop(); return }

    // (b) encoder-fence crossing
    val fenceOk =
      try {
        val df = events.limit(10).select(col("event_id"),
          expr("parse_json(props)").as("v"))
        graft.queries.Synthetic.fence(df)
          .select(expr("variant_get(v, '$.k', 'string')")).collect()
        true
      } catch { case e: Throwable =>
        println(s"[variant] fence: ${e.getMessage.linesIterator.next()}"); false
      }
    println(s"[variant] crosses the encoder fence: $fenceOk")

    // (c) throughput: parse + 3 path extractions + aggregate (no sort, no
    // fence — pure parse/extract cost)
    def time(label: String)(f: => org.apache.spark.sql.DataFrame): Unit =
      (1 to 3).foreach { i =>
        val t0 = System.nanoTime()
        f.write.format("noop").mode("overwrite").save()
        println(f"[variant] $label%-24s run$i ${(System.nanoTime() - t0) / 1e9}%6.2fs")
      }
    time("map<string,string>") {
      events.select(from_json(col("props"),
          org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.StringType)).as("m"))
        .select(col("m")("k").cast("double").as("k"),
          col("m")("missing").as("miss"), col("m")("k").as("ks"))
    }
    time("variant") {
      events.select(expr("parse_json(props)").as("v"))
        .select(expr("variant_get(v, '$.k', 'double')").as("k"),
          expr("variant_get(v, '$.missing', 'string')").as("miss"),
          expr("variant_get(v, '$.k', 'string')").as("ks"))
    }
    time("get_json_object x3") {
      events.select(
        get_json_object(col("props"), "$.k").cast("double").as("k"),
        get_json_object(col("props"), "$.missing").as("miss"),
        get_json_object(col("props"), "$.k").as("ks"))
    }
    spark.stop()
  }
}
