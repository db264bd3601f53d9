package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Engine extension wiring (`spark.sql.extensions=graft.plans.GraftExtensions`):
  * registers the engine's native expressions with the session's function
  * registry, so they resolve in both the Column API (`call_function`) and
  * raw SQL. Every static-call kernel is one [[KernelCall]] row here, and
  * every sketch aggregate one [[SketchAgg]] row. Functions are all it
  * injects: no optimizer rule, so Catalyst plans every query with its
  * stock batches.
  *
  * [[GraftExtensions.register]] is the imperative twin for sessions the
  * engine does not construct (the driver harness creates its own) —
  * idempotent, called from the table loader so every registry query is
  * self-sufficient.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { f =>
      ext.injectFunction((FunctionIdentifier(f.name), f.info, f.builder))
    }
  }
}

object GraftExtensions {

  /** One registry entry: `builder` checks the argument count against
    * `arity` (plus up to `optional` trailing arguments) and requires every
    * argument from `dialsFrom` on to be a foldable literal (a dial).
    */
  final case class Fn(name: String, info: ExpressionInfo, arity: Int,
      optional: Int, dialsFrom: Int, builder: Seq[Expression] => Expression)

  /** A call's arguments, with the dials constant-folded. */
  private final class Args(children: Seq[Expression]) {
    def size: Int = children.length
    def apply(i: Int): Expression = children(i)
    def take(n: Int): Seq[Expression] = children.take(n)
    def int(i: Int): Int = children(i).eval().asInstanceOf[Number].intValue()
    def long(i: Int): Long = children(i).eval().asInstanceOf[Number].longValue()
    def string(i: Int): String = children(i).eval().toString
    def array(i: Int): ArrayData = children(i).eval().asInstanceOf[ArrayData]
  }

  private val NoDials = (Int.MaxValue, "")

  /** An entry whose arity message names the arguments `sig` and whose
    * literal message names the dials `dials._2`, from position `dials._1`.
    */
  private def fn(name: String, cls: Class[_], sig: String, arity: Int,
      optional: Int = 0, dials: (Int, String) = NoDials)(
      make: Args => Expression): Fn = {
    val (dialsFrom, dialNames) = dials
    Fn(name, new ExpressionInfo(cls.getName, name), arity, optional, dialsFrom,
      children => {
        require(children.length >= arity && children.length <= arity + optional,
          s"$name expects $sig, got ${children.length} args")
        require(children.drop(dialsFrom).forall(_.foldable),
          s"$name $dialNames must be literal")
        make(new Args(children))
      })
  }

  /** A [[KernelCall]] entry: `owner.method` over one child per param, then
    * the dial literals `dialArgs` returns (after any range checks).
    * `nullable`: see [[Kernel]].
    */
  private def kernel(name: String, sig: String, arity: Int, optional: Int = 0,
      dials: (Int, String) = NoDials)(owner: AnyRef, method: String,
      result: DataType, params: Seq[Param], nullable: Boolean = false)(
      dialArgs: Args => Seq[Literal] = _ => Nil): Fn = {
    val k = Kernel(name, owner.getClass, method, result, params, nullable)
    fn(name, classOf[KernelCall], sig, arity, optional, dials)(a =>
      KernelCall(k, a.take(params.size), dialArgs(a)))
  }

  /** A [[SketchAgg]] entry over its first argument, of type `param`, and
    * the sketch `make` builds from the dials (after its range checks). */
  private def sketch(name: String, sig: String, arity: Int, dials: String,
      param: Param)(make: Args => Sketch[_]): Fn =
    fn(name, classOf[SketchAgg[_]], sig, arity, dials = 1 -> dials)(a =>
      SketchAgg(name, make(a), param, a(0)))

  import Param._

  val functions: Seq[Fn] = Seq(
    kernel("graft_h64", "(text)", 1)(
      H64Expression, "h64", LongType, Seq(StrictText))(),
    kernel("graft_normalize_key", "(text)", 1)(
      NormalizeKeyExpression, "normalize", StringType, Seq(Text))(),
    kernel("graft_shingles", "(text, n)", 2, dials = 1 -> "n")(
        WordShinglesExpression, "shingles", ArrayType(StringType, containsNull = false),
        Seq(Text)) { a =>
      val n = a.int(1)
      require(n >= 1, s"graft_shingles width must be >= 1, got $n")
      Seq(Literal(n))
    },
    kernel("graft_grams", "(text, n)", 2, dials = 1 -> "n")(
        WordGramsExpression, "grams", ArrayType(StringType, containsNull = false),
        Seq(Text)) { a =>
      val n = a.int(1)
      require(n >= 1, s"graft_grams width must be >= 1, got $n")
      Seq(Literal(n))
    },
    kernel("graft_nfc", "(text)", 1)(
      NfcNormalizeExpression, "nfc", StringType, Seq(Text))(),
    kernel("graft_hyperplane_sig", "(vec, dims, bits)", 3, dials = 1 -> "dims/bits")(
        HyperplaneSignatureExpression, "signature", LongType, Seq(Vec)) { a =>
      val bits = a.int(2)
      require(bits >= 1 && bits <= 62, s"bits must be in [1, 62], got $bits")
      Seq(Literal(HyperplaneSignatureExpression.Planes(a.int(1), bits),
        ObjectType(classOf[HyperplaneSignatureExpression.Planes])))
    },
    kernel("graft_dot", "(a, b, dims[, offset])", 3, optional = 1,
        dials = 2 -> "dims/offset")(DotProductExpression, "dotAt", DoubleType,
        Seq(Vec, Vec), nullable = true) { a =>
      val (dims, offset) = (a.int(2), if (a.size == 4) a.int(3) else 0)
      require(dims >= 1, s"dims must be positive, got $dims")
      require(offset >= 0, s"offset must be non-negative, got $offset")
      Seq(Literal(dims), Literal(offset))
    },
    kernel("graft_maxsim", "(q, d, tokens, tokDims)", 4, dials = 2 -> "tokens/tokDims")(
        MaxSimExpression, "maxsim", LongType, Seq(Vec, Vec), nullable = true) { a =>
      val (tokens, tokDims) = (a.int(2), a.int(3))
      require(tokens >= 1, s"tokens must be positive, got $tokens")
      require(tokDims >= 1, s"tokDims must be positive, got $tokDims")
      Seq(Literal(tokens), Literal(tokDims))
    },
    kernel("graft_any_contains", "(arr, needle)", 2, dials = 1 -> "needle")(
        AnyContainsExpression, "anyContains", BooleanType, Seq(Words))(a =>
      Seq(Literal(a.string(1).toLowerCase))),
    fn("graft_barrier", classOf[BarrierExpression], "(expr)", 1)(a =>
      BarrierExpression(a(0))),
    kernel("graft_scalar_keys", "(map)", 1)(
      ScalarKeysExpression, "scalarKeys", StringType, Seq(StringMap))(),
    kernel("graft_winnow_stats", "(text, n, w)", 3, dials = 1 -> "n and w")(
        WinnowStatsExpression, "stats", WinnowStatsExpression.Schema, Seq(Text),
        nullable = true) { a =>
      val (n, w) = (a.int(1), a.int(2))
      require(n >= 1 && w >= 1, s"graft_winnow_stats needs n,w >= 1, got n=$n w=$w")
      Seq(Literal(n), Literal(w))
    },
    kernel("graft_cls_score", "(text)", 1)(
      ClsScoreExpression, "score", LongType, Seq(Text), nullable = true)(),
    kernel("graft_cdc_chunks", "(text, mod)", 2, dials = 1 -> "mod")(
        CdcChunksExpression, "chunks", CdcChunksExpression.Schema, Seq(Text)) { a =>
      val mod = a.long(1)
      require(mod >= 1, s"graft_cdc_chunks mod must be >= 1, got $mod")
      Seq(Literal(mod))
    },
    kernel("graft_char_entropy", "(text, cap)", 2, dials = 1 -> "cap")(
        CharEntropyExpression, "entropyQ", LongType, Seq(Text)) { a =>
      val cap = a.int(1)
      require(cap >= 1, s"graft_char_entropy cap must be >= 1, got $cap")
      Seq(Literal(cap))
    },
    kernel("graft_top_word_count", "(text)", 1)(
      TopWordCountExpression, "topCount", LongType, Seq(Text))(),
    kernel("graft_stopword_count", "(words, stopwords)", 2, dials = 1 -> "stopwords")(
        StopwordCountExpression, "count", IntegerType, Seq(Words)) { a =>
      val words = a.array(1).toObjectArray(StringType).map(_.toString).toSeq
      require(words.nonEmpty, "graft_stopword_count needs a non-empty stopword set")
      Seq(Literal(StopwordCountExpression.stopSet(words),
        ObjectType(classOf[java.util.HashSet[_]])))
    },
    // the aggregates: the analyzer wraps each SketchAgg into an
    // AggregateExpression itself
    sketch("graft_hll", "(col, precision)", 2, "precision", IntegralOrText)(a =>
      HyperLogLogAgg(a.int(1))),
    sketch("graft_bloom", "(fp, bitsLog2, k)", 3, "bitsLog2 and k", Fingerprint)(a =>
      BloomFilterAgg(a.int(1), a.int(2))),
    kernel("graft_bloom_probe", "(bitmap, fp, k)", 3, dials = 2 -> "k")(
        BloomFilterAgg, "probe", BooleanType, Seq(Bytes, Fingerprint),
        nullable = true) { a =>
      val k = a.int(2)
      require(k >= 1 && k <= 16, s"graft_bloom_probe k must be in [1, 16], got $k")
      Seq(Literal(k))
    },
    sketch("graft_cms", "(fp, widthLog2, depth)", 3, "widthLog2 and depth", Fingerprint)(a =>
      CountMinAgg(a.int(1), a.int(2))),
    kernel("graft_cms_query", "(sketch, fp, depth)", 3, dials = 2 -> "depth")(
        CountMinAgg, "query", LongType, Seq(Bytes, Fingerprint), nullable = true) { a =>
      val depth = a.int(2)
      require(depth >= 1 && depth <= 8,
        s"graft_cms_query depth must be in [1, 8], got $depth")
      Seq(Literal(depth))
    },
    sketch("graft_bottomk", "(col, k, salt)", 3, "k and salt", Integral)(a =>
      BottomKSketchAgg(a.int(1), a.string(2))),
    sketch("graft_gram", "(vec, dims, quantum)", 3, "dims and quantum", Vec)(a =>
      GramMatrixAgg(a.int(1), a.long(2))))

  /** Imperative registration for externally-created sessions: functions go
    * to the registry and the `file:` scheme to [[graft.core.LocalStorage]]
    * (both idempotent). No optimizer rule is injected.
    */
  def register(spark: SparkSession): Unit = {
    graft.core.LocalStorage.install(spark)
    functions.foreach { f =>
      spark.sessionState.functionRegistry
        .registerFunction(FunctionIdentifier(f.name), f.info, f.builder)
    }
  }
}
