package graft.plans

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.tools.PlanAudit

/** The [[KernelCall]] contract, checked for every registry entry that
  * builds one, and for the hand-written scalar `graft_barrier`: over
  * ScalaCheck-generated inputs (NUL, lone surrogates, astral code points,
  * empty, about 64 KiB, null), interpreted evaluation equals generated
  * code, and two calls in one projection compile and sit inside one
  * whole-stage codegen span.
  */
class KernelCallSpec extends SparkSpec {

  private val kernels: Seq[String] = GraftExtensions.functions
    .filter(_.info.getClassName == classOf[KernelCall].getName).map(_.name)

  /** Every scalar entry (all but the sketch aggregates) and its node class. */
  private val scalars: Seq[(String, String)] = GraftExtensions.functions
    .filter(_.info.getClassName != classOf[SketchAgg[_]].getName)
    .map(f => f.name -> f.info.getClassName)
  private val nodeClass = scalars.toMap

  // --- generated inputs -------------------------------------------------

  private val piece: Gen[String] = Gen.frequency(
    4 -> Gen.alphaNumStr.map(_.take(8)),
    2 -> Gen.oneOf("the", "OF", "Of", "{x}", "{", "é", "é", "İ", "ß"),
    1 -> Gen.const("\u0000"),
    1 -> Gen.oneOf(0xD800, 0xDBFF, 0xDC00, 0xDFFF).map(_.toChar.toString),
    1 -> Gen.choose(0x10000, 0x10FFFF).map(cp => new String(Character.toChars(cp))),
    1 -> Gen.const(""))
  private val sep: Gen[String] = Gen.oneOf(" ", " ", "  ", "\t", "\n", "")
  private val text: Gen[String] = for {
    n <- Gen.choose(0, 12)
    ps <- Gen.listOfN(n, piece)
    ss <- Gen.listOfN(n, sep)
  } yield ps.zip(ss).map { case (p, s) => p + s }.mkString
  private val bigText: Gen[String] =
    Gen.listOfN(16000, piece).map(_.mkString(" ").take(64 * 1024))

  private def orNull[T](g: Gen[T]): Gen[Any] = Gen.frequency(9 -> g, 1 -> Gen.const(null))

  private val words: Gen[Seq[Any]] =
    Gen.choose(0, 6).flatMap(Gen.listOfN(_, orNull(piece)))
  private val strMap: Gen[Map[String, Any]] = Gen.choose(0, 5).flatMap(n =>
    Gen.listOfN(n, Gen.zip(piece, orNull(Gen.oneOf(piece, Gen.const("{\"a\":1}"))))))
    .map(_.toMap)
  private def vector(elem: Gen[Any]): Gen[Seq[Any]] = Gen.frequency(
    8 -> Gen.listOfN(8, elem),
    1 -> Gen.listOfN(8, Gen.frequency(6 -> elem, 1 -> Gen.const(null))),
    1 -> Gen.choose(0, 7).flatMap(Gen.listOfN(_, elem)))
  private val floats = vector(Gen.choose(-2f, 2f))
  private val doubles = vector(Gen.choose(-2.0, 2.0))
  private val fp: Gen[Long] = Gen.choose(0L, 200L)

  private val schema = StructType(Seq(1, 2).flatMap(i => Seq(
    StructField(s"s$i", StringType),
    StructField(s"w$i", ArrayType(StringType)),
    StructField(s"m$i", MapType(StringType, StringType)),
    StructField(s"f$i", ArrayType(FloatType)),
    StructField(s"d$i", ArrayType(DoubleType)),
    StructField(s"fp$i", LongType))))

  private val row: Gen[Row] = Gen.listOfN(2, Gen.zip(orNull(text), orNull(words),
    orNull(strMap), orNull(floats), orNull(doubles), orNull(fp)))
    .map(sides => Row.fromSeq(sides.flatMap(_.productIterator)))

  private lazy val frame: DataFrame = {
    val params = Gen.Parameters.default
    val generated = Gen.listOfN(48, row).pureApply(params, Seed(42L))
    val big = bigText.pureApply(params, Seed(7L))
    val edges = Seq(
      Row.fromSeq(Seq.fill(schema.size)(null)),
      Row.fromSeq(Seq.fill(2)(Seq("", Seq.empty, Map.empty, Seq.empty, Seq.empty, 0L)).flatten),
      Row.fromSeq(Seq(big, Seq(big), Map(big -> big), null, null, 1L,
        big.reverse, Seq(big, null), Map("k" -> big), null, null, 2L)))
    // an RDD source: a local relation would be folded on the driver
    spark.createDataFrame(spark.sparkContext.parallelize(generated ++ edges, 2), schema)
  }

  // --- one call shape per kernel; instance i reads side i ---------------

  private lazy val bloom: Column = lit(spark.range(100)
    .select(call_function("graft_bloom", col("id"), lit(9), lit(3))).head().getAs[Array[Byte]](0))
  private lazy val cms: Column = lit(spark.range(100)
    .select(call_function("graft_cms", col("id"), lit(4), lit(2))).head().getAs[Array[Byte]](0))

  private def s(i: Int) = col(s"s$i")
  private def w(i: Int) = col(s"w$i")

  private val calls: Map[String, Int => Seq[Column]] = Map(
    "graft_h64" -> (i => Seq(s(i))),
    "graft_normalize_key" -> (i => Seq(s(i))),
    "graft_nfc" -> (i => Seq(s(i))),
    "graft_shingles" -> (i => Seq(s(i), lit(i + 1))),
    "graft_grams" -> (i => Seq(s(i), lit(i + 1))),
    "graft_top_word_count" -> (i => Seq(s(i))),
    "graft_char_entropy" -> (i => Seq(s(i), lit(64 * i))),
    "graft_cls_score" -> (i => Seq(s(i))),
    "graft_winnow_stats" -> (i => Seq(s(i), lit(3), lit(i + 2))),
    "graft_cdc_chunks" -> (i => Seq(s(i), lit(4L * i))),
    "graft_stopword_count" -> (i => Seq(w(i), lit(Array("the", "of").take(i)))),
    "graft_any_contains" -> (i => Seq(w(i), lit(if (i == 1) "E" else "{"))),
    "graft_scalar_keys" -> (i => Seq(col(s"m$i"))),
    // FLOAT/DOUBLE order swaps between the instances: the float flags
    // come from the resolved child types
    "graft_dot" -> (i => if (i == 1) Seq(col("f1"), col("d1"), lit(8))
      else Seq(col("d2"), col("f2"), lit(4), lit(2))),
    "graft_maxsim" -> (i => if (i == 1) Seq(col("f1"), col("d1"), lit(2), lit(4))
      else Seq(col("d2"), col("f2"), lit(4), lit(2))),
    "graft_hyperplane_sig" -> (i =>
      Seq(col(if (i == 1) "f1" else "d2"), lit(8), lit(8 * i))),
    "graft_bloom_probe" -> (i => Seq(bloom, col(s"fp$i"), lit(3))),
    "graft_cms_query" -> (i => Seq(cms, col(s"fp$i"), lit(2))),
    // the one scalar that is not a KernelCall
    "graft_barrier" -> (i => Seq(if (i == 1) s(1) else col("fp2"))))

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def twoCalls(name: String, from: DataFrame): DataFrame =
    from.select(call_function(name, calls(name)(1): _*).as("a"),
      call_function(name, calls(name)(2): _*).as("b"))

  /** Two calls over `from`: interpreted == codegen, and both compile
    * inside one whole-stage codegen span.
    */
  private def checkTwoCalls(name: String, from: DataFrame): Unit = {
    val codegen = withConf(
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false")(twoCalls(name, from).collect())
    val interpreted = withConf(
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false")(twoCalls(name, from).collect())
    assert(codegen.length == from.count())
    assert(interpreted.toSeq == codegen.toSeq)
    assert(codegen.exists(r => !r.isNullAt(0)) && codegen.exists(r => !r.isNullAt(1)))

    withConf("spark.sql.adaptive.enabled" -> "false") {
      val plan = twoCalls(name, from).queryExecution.executedPlan
      assert(PlanAudit.codegenCompileErrors(plan).isEmpty)
      val (inside, eligible, islands) = PlanAudit.codegenCoverage(plan)
      assert(islands.isEmpty && inside == eligible, s"$islands ($inside/$eligible)")
      val spanned = plan.collect { case ws: WholeStageCodegenExec => ws }
        .flatMap(_.collect { case p: ProjectExec => p })
      assert(spanned.exists(_.projectList.flatMap(_.collect {
        case k if k.getClass.getName == nodeClass(name) => k }).size == 2), plan.toString)
    }
  }

  test("every KernelCall entry has a call shape here") {
    assert(kernels.size == 18)
    assert(kernels.toSet.subsetOf(calls.keySet))
  }

  test("every scalar entry has a call shape here") {
    assert(scalars.size == 19)
    assert(calls.keySet == nodeClass.keySet)
  }

  scalars.map(_._1).foreach { name =>
    test(s"$name: interpreted == codegen; two calls compile inside one span") {
      checkTwoCalls(name, frame)
    }
    // the filter makes the columns non-nullable, so both calls' code
    // lands unguarded in one scope: their locals must not collide
    test(s"$name: the same over non-null columns") {
      val args = calls(name)(1) ++ calls(name)(2)
      checkTwoCalls(name, frame.where(args.map(_.isNotNull).reduce(_ && _)))
    }
  }
}
