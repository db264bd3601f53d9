package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{Block, CodegenContext, CodeGenerator,
  EmptyBlock, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._

/** One argument's type contract: the child's type must be one of `types`
  * (array-element and map-value nullability aside). With `cast`, a child
  * of another type first gets the analyzer's implicit cast to
  * `types.head`. With `floatFlag`, the kernel also receives, after the
  * dials, whether the resolved child is ARRAY<FLOAT> (it reads elements
  * with `getFloat` then, `getDouble` otherwise; a [[SketchAgg]]'s sketch
  * gets the resolved child type through [[Sketch.forInput]] instead).
  */
final case class Param(sql: String, types: Seq[DataType], cast: Boolean = false,
    floatFlag: Boolean = false) {
  def accepts(t: DataType): Boolean = types.contains(Param.loose(t))
}

object Param {
  /** STRING, implicitly cast from other types. */
  val Text: Param = Param("STRING", Seq(StringType), cast = true)
  /** STRING only: other types fail analysis. */
  val StrictText: Param = Param("STRING", Seq(StringType))
  val Words: Param = Param("ARRAY<STRING>", Seq(ArrayType(StringType)))
  val StringMap: Param =
    Param("MAP<STRING, STRING>", Seq(MapType(StringType, StringType)))
  val Vec: Param = Param("ARRAY<FLOAT|DOUBLE>",
    Seq(ArrayType(FloatType), ArrayType(DoubleType)), floatFlag = true)
  val Bytes: Param = Param("BINARY", Seq(BinaryType))
  val Fingerprint: Param = Param("BIGINT", Seq(LongType, IntegerType))
  val Integral: Param =
    Param("BIGINT|INT|SMALLINT|TINYINT", Seq(LongType, IntegerType, ShortType, ByteType))
  val IntegralOrText: Param =
    Param("BIGINT|INT|SMALLINT|TINYINT|STRING", Integral.types :+ StringType)

  private def loose(t: DataType): DataType = t match {
    case ArrayType(e, _) => ArrayType(loose(e), containsNull = true)
    case MapType(k, v, _) => MapType(loose(k), loose(v), valueContainsNull = true)
    case other => other
  }
}

/** A native kernel: the function `name` calls the static method
  * `owner.method` and yields `dataType`; `nullable` declares the result
  * nullable even when no argument is (required of a kernel that returns
  * null).
  */
final case class Kernel(name: String, owner: Class[_], method: String,
    dataType: DataType, params: Seq[Param], nullable: Boolean)

/** The one plan node of every native scalar kernel: `graft_x(args)`
  * evaluates `owner.method(args ++ dials ++ float flags)`.
  *
  * Contract: a kernel is one registry row ([[GraftExtensions.functions]]:
  * owner and method, result type, parameter types, nullability, dial
  * literals) plus one static method on a Scala object, next to the docs
  * that pin its parity with the form it replaced. The generated code,
  * written once here for every kernel, is one static call on locals with
  * fresh names: a null argument yields a null result without calling the
  * kernel, and a boxed null return becomes a null result. So every
  * kernel stays inside WholeStageCodegen with constant bytecode size and
  * no closure or encoder boundary (a fixed local name in one hand-written
  * copy per kernel once dropped a whole stage to interpreted mode).
  * Interpreted evaluation is Spark's own `StaticInvoke` over the same
  * arguments, built lazily; its generated form is not used because it
  * stages every argument, dials included, in a field of the generated
  * class, which made the per-kernel stages larger and the corpus
  * benchmark's passes measurably less steady.
  *
  * Dials are literal arguments kept outside `children`: `sql` and
  * generated column names stay `graft_x(args)`, explain shows args and
  * dials. An object dial must compare structurally (the stopword set is
  * a `HashSet`, the hyperplane matrix is keyed by its dims and bits), or
  * two identical calls look different to common-subexpression
  * elimination. `foldable` and `deterministic` follow the children.
  *
  * Not kernels, so not this node: `graft_barrier` (its codegen is its
  * child's, and it is declared non-deterministic) and the five aggregates
  * (one [[SketchAgg]] each). Point-in-polygon is no registry row at all:
  * it is a Column tree of built-in comparisons (`geo.GeoFunctions`).
  */
final case class KernelCall(kernel: Kernel, children: Seq[Expression],
    dials: Seq[Literal]) extends Expression with ImplicitCastInputTypes {

  override def dataType: DataType = kernel.dataType
  override def nullable: Boolean = kernel.nullable || children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)
  override def prettyName: String = kernel.name
  override protected def flatArguments: Iterator[Any] = (children ++ dials).iterator
  // StaticInvoke reuses one argument buffer across rows, so an
  // interpreted projection needs a fresh copy per use
  override def stateful: Boolean = true

  // read by the implicit-cast rule once the children are resolved
  override def inputTypes: Seq[DataType] = children.zip(kernel.params).map {
    case (c, p) => if (p.cast) p.types.head else c.dataType
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    val got = children.map(_.dataType)
    if (got.zip(kernel.params).forall { case (t, p) => p.accepts(t) }) {
      TypeCheckResult.TypeCheckSuccess
    } else {
      def list(xs: Seq[Any]) = if (xs.size == 1) xs.head else xs.mkString("(", ", ", ")")
      TypeCheckResult.TypeCheckFailure(
        s"${kernel.name} needs ${list(kernel.params.map(_.sql))}, got ${list(got)}")
    }
  }

  /** Per ARRAY<FLOAT|DOUBLE> parameter: is the resolved child ARRAY<FLOAT>. */
  private def flags: Seq[Literal] = children.zip(kernel.params).collect {
    case (c, p) if p.floatFlag =>
      Literal(c.dataType.asInstanceOf[ArrayType].elementType == FloatType)
  }

  @transient private lazy val call: StaticInvoke =
    StaticInvoke(kernel.owner, dataType, kernel.method, children ++ dials ++ flags,
      returnNullable = kernel.nullable)

  override def eval(input: InternalRow): Any = call.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val args = children.map(_.genCode(ctx))
    val values = args.map(_.value) ++ (dials ++ flags).map(_.genCode(ctx).value)
    val owner = kernel.owner.getName.stripSuffix("$")
    val invoke = s"$owner.${kernel.method}(${values.mkString(", ")})"
    val argCode = args.map(_.code).foldLeft[Block](EmptyBlock)(_ + _)
    val javaType = CodeGenerator.javaType(dataType)
    if (!nullable) {
      ev.copy(code = code"$argCode\n$javaType ${ev.value} = $invoke;", isNull = FalseLiteral)
    } else {
      val set = if (kernel.nullable) {
        val r = ctx.freshName("kernelResult")
        s"""${CodeGenerator.boxedType(dataType)} $r = $invoke;
           |${ev.isNull} = $r == null;
           |if (!${ev.isNull}) ${ev.value} = $r;""".stripMargin
      } else s"${ev.isNull} = false;\n${ev.value} = $invoke;"
      val nulls = args.map(_.isNull).filter(_ != FalseLiteral)
      val guarded =
        if (nulls.isEmpty) set else s"if (!(${nulls.mkString(" || ")})) {\n$set\n}"
      ev.copy(code = code"""
        $argCode
        boolean ${ev.isNull} = true;
        $javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
        $guarded""")
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KernelCall = copy(children = newChildren)
}
