package graft.tools

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.{Bench, SparkSpec}

/** The harness contract: one session factory for the whole source tree,
  * its settings, the JSON escaper behind every artifact, and a smoke run
  * of each Probe mode.
  */
class HarnessSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("no SparkSession is built outside Harness") {
    // split so this file does not match itself
    val builder = "SparkSession" + ".builder"
    def count(text: String) = builder.r.findAllMatchIn(text).size
    val counts = Seq("src/main", "src/test").flatMap { root =>
      Files.walk(Paths.get(root)).iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .map(p => p.getFileName.toString ->
          count(new String(Files.readAllBytes(p), "UTF-8")))
        .filter(_._2 > 0)
    }
    assert(counts == Seq("Harness.scala" -> 1))
  }

  test("factory settings: UTC, partitions = cpus, AQE flag, native functions") {
    assert(Harness.settings(8, adaptive = false).toMap == Map(
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.ui.enabled" -> "false"))
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.sql("SELECT graft_h64('x')").head().getLong(0) ==
      graft.functions.Sketches.h64Scala("x"))
  }

  test("escaped strings and bench failure messages parse as JSON") {
    val mapper = new ObjectMapper
    val msg = "nul \u0000, \u001b[31mred\u001b[0m, a \"quote\", a \\ backslash, tab\t, crlf\r\n"
    assert(mapper.readTree(Harness.jsonString(msg)).asText == msg)
    // the 200-char cut lands right after a quote, between two quotes,
    // inside a backslash pair and after an ESC
    val cut = Seq(("x" * 199) + "\"tail", ("x" * 199) + "\"\"tail",
      ("x" * 198) + "\"\"tail", ("x" * 199) + "\\\\tail",
      ("x" * 199) + "\u001b[31mtail", msg)
    val failed = cut.zipWithIndex.map { case (m, i) => s"q$i" -> m }
    val tree = mapper.readTree(Bench.failuresJson(failed))
    failed.foreach { case (k, v) => assert(tree.get(k).asText == v.take(200)) }
  }

  test("Probe time, plan and dump run one cheap query") {
    val q = "q01_pricing_rollup"
    def probe(args: String*): String = {
      val buf = new java.io.ByteArrayOutputStream
      Console.withOut(buf)(Probe.run(spark, args))
      buf.toString("UTF-8")
    }
    val time = probe("time", q, "2", sf)
    assert(time.contains(s"[probe] $q") && time.contains("steady_sum="), time)
    val plan = probe("plan", q, sf)
    assert(plan.contains("[plan] optimized from_json count: 0"), plan)
    assert(plan.contains("[plan] physical Exchange hashpartitioning count:"), plan)
    assert(plan.contains("isFinalPlan=true"), plan)
    val dir = Files.createTempDirectory("probe-dump")
    probe("dump", dir.toString, "t", q, sf)
    val dumped = new String(Files.readAllBytes(dir.resolve(s"${q}_t.txt")), "UTF-8")
    assert(dumped.contains("Physical Plan"), dumped)
    intercept[IllegalArgumentException](Probe.run(spark, Seq("bogus")))
  }
}
