package graft.plans

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The native graft_maxsim expression (VERDICT r18 #3) must agree
  * bit-for-bit with the composed chain it replaced — explode both sides
  * into 8 token rows, per-token dot, max over doc tokens, floor(·10^6),
  * sum over query tokens — including the chain's null semantics, and its
  * interpreted eval must match codegen.
  */
class MaxSimExpressionSpec extends SparkSpec {

  private val Tokens = 8
  private val TokDims = 8
  private val Width = Tokens * TokDims

  /** Independent reference: the exact arithmetic of the composed form,
    * replayed in plain Scala (left-fold dots in element order, max over
    * doc tokens, floor to µ-units before the cross-token sum).
    */
  private def refMaxsim(q: Seq[Float], d: Seq[Float]): Long =
    (0 until Tokens).map { qi =>
      val best = (0 until Tokens).map { dj =>
        (1 until TokDims).foldLeft(
          q(qi * TokDims).toDouble * d(dj * TokDims).toDouble)((acc, j) =>
          acc + q(qi * TokDims + j).toDouble * d(dj * TokDims + j).toDouble)
      }.max
      math.floor(best * 1e6).toLong
    }.sum

  private def vec(seed: Int): Seq[Float] =
    (0 until Width).map(j => (math.sin(seed * 31 + j * 7) * 0.35).toFloat)

  test("native maxsim == composed explode/max/floor/sum chain, bit for bit") {
    import spark.implicits._
    val pairs = (0 until 40).map(n => (vec(n), vec(n + 100)))
    val df = pairs.toDF("qe", "de")
    val got = df.select(call_function("graft_maxsim",
      col("qe"), col("de"), lit(Tokens), lit(TokDims))).as[Long].collect()
    assert(got.toSeq === pairs.map { case (q, d) => refMaxsim(q, d) })
    // ...and against the composed DataFrame chain itself
    val composed = df.withColumn("id", monotonically_increasing_id())
      .select(col("id"), col("qe"), col("de"),
        explode(sequence(lit(0), lit(Tokens - 1))).as("qi"))
      .withColumn("qtok", expr(s"slice(qe, qi*$TokDims+1, $TokDims)"))
      .select(col("id"), col("qi"), col("qtok"), col("de"),
        explode(sequence(lit(0), lit(Tokens - 1))).as("dj"))
      .withColumn("dtok", expr(s"slice(de, dj*$TokDims+1, $TokDims)"))
      .withColumn("d8",
        graft.functions.Sketches.dot(col("qtok"), col("dtok"), TokDims))
      .groupBy(col("id"), col("qi"))
      .agg(floor(max(col("d8")) * lit(1e6)).as("mx_u"))
      .groupBy(col("id")).agg(sum(col("mx_u")).as("score_u"))
      .orderBy(col("id")).select(col("score_u")).as[Long].collect()
    assert(got.toSeq === composed.toSeq)
  }

  test("null side, short array, and null element follow the chain semantics") {
    import spark.implicits._
    val ok = vec(1)
    val rows = Seq(
      (Some(ok), Some(ok)),            // clean
      (None, Some(ok)),                // null side → NULL
      (Some(ok.take(Width - 1)), Some(ok))  // short side → NULL
    ).toDF("qe", "de")
    val out = rows.select(call_function("graft_maxsim",
      col("qe"), col("de"), lit(Tokens), lit(TokDims))).collect()
    assert(!out(0).isNullAt(0))
    assert(out(1).isNullAt(0))
    assert(out(2).isNullAt(0))
    // one null ELEMENT nulls only its token-pair dots: the other doc
    // tokens still feed the max, so the score survives (the Spark
    // max-skips-nulls contract) — and an ALL-null side yields NULL
    val qWithNull = ok.map(Option(_)).updated(0, None: Option[Float])
    val mixed = Seq((qWithNull, ok.map(Option(_)))).toDF("qe", "de")
    assert(!mixed.select(call_function("graft_maxsim",
      col("qe"), col("de"), lit(Tokens), lit(TokDims))).collect()(0).isNullAt(0))
    val allNull = Seq((Seq.fill(Width)(None: Option[Float]),
      ok.map(Option(_)))).toDF("qe", "de")
    assert(allNull.select(call_function("graft_maxsim",
      col("qe"), col("de"), lit(Tokens), lit(TokDims))).collect()(0).isNullAt(0))
  }

  test("interpreted eval matches the codegen path") {
    val q = vec(7).toArray
    val d = vec(11).toArray
    def alit(v: Array[Float]) = org.apache.spark.sql.catalyst.expressions.Literal(
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(v),
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))
    val e = graftCall("graft_maxsim", alit(q), alit(d),
      org.apache.spark.sql.catalyst.expressions.Literal(Tokens),
      org.apache.spark.sql.catalyst.expressions.Literal(TokDims))
    assert(e.eval(null) === refMaxsim(q.toIndexedSeq, d.toIndexedSeq))
  }
}
