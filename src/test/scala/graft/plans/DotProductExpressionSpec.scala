package graft.plans

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.Sketches

/** The native graft_dot expression must agree bit-for-bit with an
  * independent left-associated fold (the IEEE order the DuckDB oracle twin
  * `dotSql` emits), preserve the term-tree null semantics, and keep the
  * q72/q78 pair kernel inside compilable whole-stage codegen — the 64 KB
  * overflow it was built to kill.
  */
class DotProductExpressionSpec extends SparkSpec {

  /** Independent reference: plain Scala left fold, float widened per
    * element.
    */
  private def refDot(a: Seq[Double], b: Seq[Double], dims: Int): Double =
    (1 until dims).foldLeft(a(0) * b(0))((acc, j) => acc + a(j) * b(j))

  test("codegen'd dot == independent left fold, float and double arrays") {
    import spark.implicits._
    val dims = 64
    val pairs = (0 until 48).map { n =>
      ((0 until dims).map(j => math.sin(n * 17 + j * 3) * (if (j % 5 == 0) 1e-7 else 2.5)),
        (0 until dims).map(j => math.cos(n * 13 + j * 11) * 1.75))
    }
    val asFloat = pairs.map { case (a, b) => (a.map(_.toFloat), b.map(_.toFloat)) }
      .toDF("a", "b")
    val gotF = asFloat.select(Sketches.dot(col("a"), col("b"), dims)).as[Double].collect()
    val wantF = pairs.map { case (a, b) =>
      refDot(a.map(_.toFloat.toDouble), b.map(_.toFloat.toDouble), dims) }
    assert(gotF.toSeq === wantF)

    val asDouble = pairs.toDF("a", "b")
    val gotD = asDouble.select(Sketches.dot(col("a"), col("b"), dims)).as[Double].collect()
    assert(gotD.toSeq === pairs.map { case (a, b) => refDot(a, b, dims) })
  }

  test("null array, null element, and short array all yield NULL") {
    import spark.implicits._
    val ok = Seq(1.0f, 2.0f, 3.0f)
    val rows = Seq(
      (Some(ok), Some(ok)),                                  // clean
      (None, Some(ok)),                                      // null side
      (Some(Seq(1.0f, 2.0f)), Some(ok))                      // short side
    ).toDF("a", "b")
    val out = rows.select(Sketches.dot(col("a"), col("b"), 3)).collect()
    assert(!out(0).isNullAt(0))
    assert(out(1).isNullAt(0))
    assert(out(2).isNullAt(0))
    // null ELEMENT nulls the term and therefore the sum (term-tree parity)
    val withNullElem = Seq((Seq[Option[Float]](Some(1.0f), None, Some(2.0f)),
      Seq[Option[Float]](Some(1.0f), Some(1.0f), Some(1.0f)))).toDF("a", "b")
    assert(withNullElem.select(Sketches.dot(col("a"), col("b"), 3)).collect()(0).isNullAt(0))
  }

  test("interpreted eval matches the codegen path") {
    val a = (0 until 8).map(j => math.sin(j * 7) * 3).toArray
    val b = (0 until 8).map(j => math.cos(j * 5) * 2).toArray
    def lit(v: Array[Double]) = org.apache.spark.sql.catalyst.expressions.Literal(
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(v),
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))
    val expr = graftCall("graft_dot", lit(a), lit(b),
      org.apache.spark.sql.catalyst.expressions.Literal(8))
    assert(expr.eval(null) === refDot(a.toIndexedSeq, b.toIndexedSeq, 8))
  }

  test("subspace offset windows tile the full dot and see short arrays as NULL") {
    import spark.implicits._
    val a = (0 until 8).map(j => (math.sin(j * 7) * 3).toFloat)
    val b = (0 until 8).map(j => (math.cos(j * 5) * 2).toFloat)
    val df = Seq((a, b)).toDF("a", "b")
    val parts = df.select(
      (0 until 4).map(m =>
        Sketches.dotOff(col("a"), col("b"), 2, m * 2).as(s"p$m")): _*)
      .collect()(0)
    // each window equals the left fold over exactly its 2 elements
    (0 until 4).foreach { m =>
      val exp = refDot(
        a.map(_.toDouble).slice(m * 2, m * 2 + 2),
        b.map(_.toDouble).slice(m * 2, m * 2 + 2), 2)
      assert(parts.getDouble(m) === exp, s"subspace $m")
    }
    // an offset window past the end is NULL, same as a short array
    assert(df.select(Sketches.dotOff(col("a"), col("b"), 2, 7))
      .collect()(0).isNullAt(0))
  }

  test("q72/q78 pair kernel: every whole-stage span compiles (no 64 KB fallback)") {
    val dir = "/root/testdata/sf0.001"
    for (q <- Seq("q72_embed_neardup", "q78_neardup_components", "q38_ann_brute_topk")) {
      val df = graft.SparkEntry.queries(q)(spark, dir)
      val errs = graft.tools.PlanAudit.codegenCompileErrors(df.queryExecution.executedPlan)
      assert(errs.isEmpty, s"$q generated uncompilable codegen: ${errs.mkString("; ")}")
    }
  }
}
