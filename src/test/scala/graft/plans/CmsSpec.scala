package graft.plans

import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Count-min sketch (L67): estimates equal the per-(row, cell) counting
  * model the DuckDB oracle computes, builds are merge-tree independent,
  * the one-sided (never-undercount) contract holds unconditionally, the
  * width dial trades overshoot monotonically, and the aggregate plans as
  * map-side-combined ObjectHashAggregate with a codegen'd probe.
  */
class CmsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val Depth = 2

  private def fpOf(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(8).map("%02x".format(_)).mkString
      .take(15), 16)
  }

  /** Reference model: exact per-(row, cell) counts, then min over rows. */
  private def refEstimate(occ: Seq[Long], h: Long, widthLog2: Int): Long = {
    val width = 1 << widthLog2
    (0 until Depth).map { i =>
      val cell = BloomFilterAgg.position(i, h, width)
      occ.count(BloomFilterAgg.position(i, _, width) == cell).toLong
    }.min
  }

  private def build(occ: Seq[Long], widthLog2: Int): Array[Byte] = {
    val width = 1 << widthLog2
    val buf = new Array[Long](Depth * width)
    occ.foreach { h =>
      (0 until Depth).foreach { i =>
        buf(i * width + BloomFilterAgg.position(i, h, width)) += 1L
      }
    }
    CountMinAgg(widthLog2, Depth).serialize(buf)
  }

  test("point estimates equal the per-(row, cell) counting model") {
    val occ = (0 until 500).map(i => fpOf(s"w${i % 37}")) // skewed 37-key stream
    val sk = build(occ, 5)
    (0 until 60).map(i => fpOf(s"w$i")).foreach { h =>
      assert(CountMinAgg.query(sk, h, Depth) === refEstimate(occ, h, 5))
    }
  }

  test("never undercounts, at any width") {
    val occ = (0 until 1000).map(i => fpOf(s"k${i % 53}"))
    val exact = occ.groupBy(identity).map { case (h, o) => h -> o.size.toLong }
    for (widthLog2 <- Seq(2, 4, 6, 10)) {
      val sk = build(occ, widthLog2)
      exact.foreach { case (h, c) =>
        assert(CountMinAgg.query(sk, h, Depth) >= c,
          s"undercount at width 2^$widthLog2")
      }
    }
  }

  test("width dial: total overshoot falls monotonically") {
    val occ = (0 until 2000).map(i => fpOf(s"t${i % 111}"))
    val exact = occ.groupBy(identity).map { case (h, o) => h -> o.size.toLong }
    val overs = Seq(3, 5, 7, 9).map { widthLog2 =>
      val sk = build(occ, widthLog2)
      widthLog2 -> exact.map { case (h, c) =>
        CountMinAgg.query(sk, h, Depth) - c }.sum
    }
    assert(overs.head._2 > 0, s"no collisions at the tightest width: $overs")
    overs.sliding(2).foreach { case Seq((_, hi), (_, lo)) =>
      assert(lo <= hi, s"overshoot not monotone in width: $overs")
    }
  }

  test("depth mismatch fails loudly; negative fingerprints stay one-sided") {
    val occ = Seq(-5L, -1L, Long.MinValue, 42L)
    val width = 1 << 4
    val buf = new Array[Long](Depth * width)
    occ.foreach { h =>
      (0 until Depth).foreach { i =>
        buf(i * width + BloomFilterAgg.position(i, h, width)) += 1L
      }
    }
    val sk = CountMinAgg(4, Depth).serialize(buf)
    occ.foreach(h => assert(CountMinAgg.query(sk, h, Depth) >= 1L,
      s"undercount for negative fingerprint $h"))
    // a sketch built at depth 2 queried at depth 3 must throw, not read
    // shifted rows as counters
    intercept[IllegalArgumentException] {
      CountMinAgg.query(sk, 42L, 3)
    }
  }

  test("aggregate build is merge-tree independent (1 vs 8 partitions)") {
    val docs = graft.core.Tables.documents(spark, sf)
      .select(explode(split(trim(col("text")), "\\s+")).as("w"))
      .select(graft.functions.TextFunctions.md5Fingerprint(col("w")).as("fp"))
    def agg(parts: Int): Array[Byte] = docs.repartition(parts)
      .agg(call_function("graft_cms", col("fp"), lit(5), lit(Depth)))
      .head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(agg(1), agg(8)),
      "sketch bytes differ across partitionings")
  }

  test("resolves in SQL, plans as ObjectHashAggregate, probe codegen'd") {
    graft.core.Tables.documents(spark, sf).createOrReplaceTempView("cms_docs")
    val df = spark.sql(
      """SELECT graft_cms(
           CAST(CONV(SUBSTRING(MD5(w), 1, 15), 16, 10) AS BIGINT), 5, 2)
         FROM (SELECT explode(split(trim(text), '\\s+')) AS w FROM cms_docs)""")
    assert(df.collect().length === 1)
    val aggs = flattenExecuted(df.queryExecution.executedPlan).collect {
      case o: ObjectHashAggregateExec => o
    }
    assert(aggs.size >= 2,
      "graft_cms must plan as partial + final ObjectHashAggregate")

    val occ = graft.core.Tables.documents(spark, sf)
      .select(explode(split(trim(col("text")), "\\s+")).as("w"))
      .select(graft.functions.TextFunctions.md5Fingerprint(col("w")).as("fp"))
    val sk = occ.agg(call_function("graft_cms", col("fp"), lit(5),
      lit(Depth)).as("sk"))
    val probed = occ.limit(100).crossJoin(broadcast(sk))
      .select(call_function("graft_cms_query", col("sk"), col("fp"),
        lit(Depth)).as("est"))
    probed.collect()
    val inCodegen = flattenExecuted(probed.queryExecution.executedPlan)
      .exists {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec =>
          w.toString.contains("graft_cms_query")
        case _ => false
      }
    assert(inCodegen, "cms probe fell out of codegen")
  }
}
