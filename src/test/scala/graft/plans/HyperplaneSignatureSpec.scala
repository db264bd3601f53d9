package graft.plans

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.Sketches

/** The native graft_hyperplane_sig expression must agree bit-for-bit with
  * an independent left-associated fold over the same Knuth plane values —
  * the property that keeps the engine's signatures hash-checkable against
  * the SQL twin — and handle nulls/element types like any Catalyst
  * expression.
  */
class HyperplaneSignatureSpec extends SparkSpec {

  /** Independent reference: same plane formula, same fold order, plain
    * Scala doubles.
    */
  private def refSig(v: Seq[Double], dims: Int, bits: Int): Long =
    (0 until bits).map { i =>
      val dot = (1 until dims).foldLeft(Sketches.hyperplane(i, 0, dims) * v(0)) {
        (acc, j) => acc + Sketches.hyperplane(i, j, dims) * v(j)
      }
      if (dot >= 0) 1L << i else 0L
    }.sum

  private val dims = 16

  /** The Column API resolves through the session function registry, which
    * the table loader normally installs — do it explicitly here
    * (idempotent).
    */
  private lazy val registered: Unit = GraftExtensions.register(spark)

  test("codegen'd signature == independent fold, float and double arrays") {
    import spark.implicits._
    registered
    // deterministic pseudo-random vectors incl. sign-mix and tiny values
    val vecs = (0 until 64).map { n =>
      (0 until dims).map(j => math.sin(n * 31 + j * 7) * (if (j % 3 == 0) 1e-6 else 3.0))
    }
    val asFloat = vecs.map(v => v.map(_.toFloat)).toDF("v")
    val gotF = asFloat.select(Sketches.hyperplaneSigN(col("v"), dims, 16)).as[Long].collect()
    // float input: reference must fold over the WIDENED floats
    val wantF = vecs.map(v => refSig(v.map(x => x.toFloat.toDouble), dims, 16))
    assert(gotF.toSeq === wantF)

    val asDouble = vecs.toDF("v")
    val gotD = asDouble.select(Sketches.hyperplaneSigN(col("v"), dims, 16)).as[Long].collect()
    assert(gotD.toSeq === vecs.map(refSig(_, dims, 16)))
  }

  test("62-bit signatures stay positive and wide widths compile") {
    import spark.implicits._
    registered
    val df = Seq((0 until 64).map(j => math.cos(j).toFloat)).toDF("v")
    val sig = df.select(Sketches.hyperplaneSigN(col("v"), 64, 62)).as[Long].head()
    assert(sig >= 0L, "bit 62 cap keeps the signature in a positive long")
  }

  test("null array yields null, not a crash") {
    import spark.implicits._
    registered
    val df = Seq(Some(Seq(1.0f, -1.0f)), None).toDF("v")
    val out = df.select(Sketches.hyperplaneSigN(col("v"), 2, 4)).collect()
    assert(out(1).isNullAt(0))
    assert(!out(0).isNullAt(0))
  }

  test("null or missing elements zero the signature (SQL-twin NULL semantics)") {
    import spark.implicits._
    registered
    // a null element makes every dot NULL -> every bit falls to 0 (the
    // when-otherwise semantics of the SQL twin)
    val withNull = Seq(Seq[Option[Float]](Some(1.0f), None, Some(2.0f)))
      .toDF("v")
    assert(withNull.select(Sketches.hyperplaneSigN(col("v"), 3, 8))
      .as[Long].head() === 0L)
    // fewer elements than dims: the twin's 1-based v[j] yields NULL past
    // the end -> NULL dots -> 0, never a crash
    val short = Seq(Seq(1.0f, 2.0f)).toDF("v")
    assert(short.select(Sketches.hyperplaneSigN(col("v"), 3, 8))
      .as[Long].head() === 0L)
  }

  test("interpreted eval matches the codegen path") {
    val v = (0 until dims).map(j => math.sin(j * 13) * 2).toArray
    val arr = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(v)
    val expr = graftCall("graft_hyperplane_sig",
      org.apache.spark.sql.catalyst.expressions.Literal(arr,
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType)),
      org.apache.spark.sql.catalyst.expressions.Literal(dims),
      org.apache.spark.sql.catalyst.expressions.Literal(16))
    assert(expr.eval(null) === refSig(v.toIndexedSeq, dims, 16))
  }
}
