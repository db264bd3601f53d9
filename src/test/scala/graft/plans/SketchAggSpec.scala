package graft.plans

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{AnalysisException, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** The [[SketchAgg]] contract, checked for every registry entry that
  * builds one. Over the pure [[Sketch]] API with ScalaCheck-generated
  * inputs: random splits merged in a random tree serialize and evaluate
  * exactly as a single-pass fold, and serialization round-trips. Through
  * Spark: an empty and an all-null group give the initial result, nulls
  * are skipped, and a wrong input type fails analysis.
  */
class SketchAggSpec extends SparkSpec {

  private val sketches: Seq[String] = GraftExtensions.functions
    .filter(_.info.getClassName == classOf[SketchAgg[_]].getName).map(_.name)

  /** One entry's dials, input type, generated (external) input values, a
    * rejected input type and its result over no rows.
    */
  private case class Case(dials: Seq[Any], input: DataType, values: Gen[Any],
      wrong: DataType, empty: Any)

  private val fp: Gen[Any] =
    Gen.frequency(8 -> Gen.choose(-50L, 50L), 1 -> Gen.oneOf(Long.MinValue, Long.MaxValue))

  private val cases: Map[String, Case] = Map(
    "graft_hll" -> Case(Seq(6), StringType,
      Gen.oneOf(Gen.alphaNumStr.map(_.take(3)), Gen.const("é\u0000")), DoubleType, 0L),
    "graft_bloom" -> Case(Seq(9, 3), LongType, fp, StringType, Seq.fill(64)(0.toByte)),
    "graft_cms" -> Case(Seq(4, 2), LongType, fp, StringType,
      // "GCMS", format version 1, depth 2, widthLog2 4; then 2 x 16 zero counters
      java.nio.ByteBuffer.allocate(8).putLong(0x47434D5300010204L).array().toSeq ++
        Seq.fill(2 * 16 * 8)(0.toByte)),
    "graft_bottomk" -> Case(Seq(8, "s"), LongType, fp, StringType, Seq.empty[Long]),
    "graft_gram" -> Case(Seq(3, 10L), ArrayType(FloatType), Gen.listOfN(3, Gen.choose(-2f, 2f)),
      LongType, Seq.fill(9)(0L)))

  /** The entry's sketch over a resolved input of its case's type. */
  private def sketchOf(name: String): Sketch[Any] = {
    val c = cases(name)
    val f = GraftExtensions.functions.find(_.name == name).get
    val agg = f.builder(BoundReference(0, c.input, nullable = true) +: c.dials.map(Literal(_)))
    agg.asInstanceOf[SketchAgg[Any]].sketch.forInput(c.input)
  }

  /** An evaluated result as a comparable value. */
  private def norm(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case a: ArrayData => a.toLongArray().toSeq
    case s: Seq[_] => s.toList
    case other => other
  }

  private def fold(s: Sketch[Any], vs: Seq[Any]): Any = vs.foldLeft(s.init())(s.update)

  /** Merge the states `parts` in a random binary tree, operands swapped at random. */
  private def tree(s: Sketch[Any], parts: IndexedSeq[Any], rnd: Random): Any =
    if (parts.size == 1) parts.head
    else {
      val cut = 1 + rnd.nextInt(parts.size - 1)
      val (l, r) = (tree(s, parts.take(cut), rnd), tree(s, parts.drop(cut), rnd))
      if (rnd.nextBoolean()) s.merge(l, r) else s.merge(r, l)
    }

  test("every SketchAgg entry has a case here") {
    assert(sketches.toSet ==
      Set("graft_hll", "graft_bloom", "graft_cms", "graft_bottomk", "graft_gram"))
    assert(cases.keySet == sketches.toSet)
  }

  test("no TypedImperativeAggregate outside SketchAgg") {
    // split so this file does not match itself
    val subclass = ("(extends|with)\\s+" + "TypedImperativeAggregate\\b").r
    val found = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString ->
        subclass.findAllMatchIn(new String(Files.readAllBytes(p), "UTF-8")).size)
      .filter(_._2 > 0).toSeq
    assert(found == Seq("SketchAgg.scala" -> 1))
  }

  sketches.foreach { name =>
    test(s"$name: random splits merged in a random tree equal one fold; bytes round-trip") {
      val c = cases(name)
      val s = sketchOf(name)
      val toCatalyst = CatalystTypeConverters.createToCatalystConverter(c.input)
      // small inputs too: a bottom-k state under k pairs is never compacted
      val size = Gen.frequency(1 -> Gen.choose(0, 10), 3 -> Gen.choose(0, 300))
      val trials = Gen.listOfN(40, Gen.zip(size.flatMap(Gen.listOfN(_, c.values)), Gen.long))
        .pureApply(Gen.Parameters.default, Seed(42L))
      trials.foreach { case (external, seed) =>
        val vs = external.map(toCatalyst)
        val rnd = new Random(seed)
        val single = fold(s, vs)
        val bytes = s.serialize(single).clone()
        val result = norm(s.eval(s.deserialize(bytes.clone())))

        val shuffled = rnd.shuffle(vs).toIndexedSeq
        val cuts = (0 +: Seq.fill(rnd.nextInt(8))(rnd.nextInt(vs.size + 1)) :+ vs.size).sorted
        // each partial crosses a shuffle as bytes, as between Spark's partial and final
        val partials = cuts.zip(cuts.tail).map { case (a, b) =>
          s.deserialize(s.serialize(fold(s, shuffled.slice(a, b))).clone())
        }.toIndexedSeq
        val merged = tree(s, partials, rnd)
        assert(s.serialize(merged).toSeq == bytes.toSeq, s"${vs.size} values, cuts $cuts")
        assert(norm(s.eval(merged)) == result)

        assert(s.serialize(s.deserialize(bytes.clone())).toSeq == bytes.toSeq)
      }
    }

    test(s"$name: an empty and an all-null group give the initial result; nulls are skipped") {
      val c = cases(name)
      val call = call_function(name, col("c") +: c.dials.map(lit): _*)
      def frame(rows: Seq[Any]) = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(Row(_)), 3),
        StructType(Seq(StructField("c", c.input))))
      def agg(rows: Seq[Any]): Any = norm(frame(rows).agg(call).head().get(0))
      assert(agg(Nil) == c.empty)
      assert(agg(Seq.fill(5)(null)) == c.empty)

      val external = Gen.listOfN(200, c.values).pureApply(Gen.Parameters.default, Seed(7L))
      val s = sketchOf(name)
      val toCatalyst = CatalystTypeConverters.createToCatalystConverter(c.input)
      val expected = norm(s.eval(fold(s, external.map(toCatalyst))))
      assert(agg(external.flatMap(v => Seq(v, null))) == expected)
    }

    test(s"$name: a wrong input type fails analysis") {
      val c = cases(name)
      val e = intercept[AnalysisException] {
        spark.range(1).select(col("id").cast(c.wrong).as("a"))
          .agg(call_function(name, col("a") +: c.dials.map(lit): _*))
      }
      assert(e.getCondition.startsWith("DATATYPE_MISMATCH"), e.getMessage)
      val param = GraftExtensions.functions.find(_.name == name).get
        .builder(Literal(1) +: c.dials.map(Literal(_))).asInstanceOf[SketchAgg[_]].param
      assert(e.getMessage.contains(s"$name needs ${param.sql}, got ${c.wrong}"), e.getMessage)
    }
  }

  test("graft_gram over a BIGINT column fails analysis instead of crashing") {
    val a = spark.range(3).select(col("id").as("a"))
    val e = intercept[AnalysisException] {
      a.agg(call_function("graft_gram", col("a"), lit(4), lit(10L)))
    }
    assert(e.getMessage.contains("graft_gram needs ARRAY<FLOAT|DOUBLE>, got LongType"))
  }

  test("bottom-k merge keeps k pairs, the state size the q233 planner prices") {
    val s = BottomKSketchAgg(8, "m")
    val partials = (0L until 16L).map(p => (0L until 20L).foldLeft(s.init())((b, v) =>
      s.update(b, v * 16 + p)))
    assert(partials.reduce(s.merge).length == 8)
  }

  test("bottom-k hashes through the shared md5 prefix, bit-identical to h64Scala") {
    for (salt <- Seq("q224", "", "sälz-日本-😀");
         v <- Seq(0L, -1L, 1L, 42L, Long.MinValue, Long.MaxValue)) {
      assert(BottomKSketchAgg.hash(salt, v) ==
        graft.functions.Sketches.h64Scala(s"bk:$salt:$v"), s"salt $salt, v $v")
    }
  }
}
