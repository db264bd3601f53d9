package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.StringType

/** Engine extension wiring (`spark.sql.extensions=graft.plans.GraftExtensions`):
  * registers the engine's native expressions with the session's function
  * registry, so they resolve in both the Column API (`call_function`) and
  * raw SQL.
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
    ext.injectOptimizerRule(_ => PipBboxPruneRule)
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
    def int(i: Int): Int = children(i).eval().asInstanceOf[Number].intValue()
    def long(i: Int): Long = children(i).eval().asInstanceOf[Number].longValue()
    def string(i: Int): String = children(i).eval().toString
    def array(i: Int): ArrayData = children(i).eval().asInstanceOf[ArrayData]
  }

  /** An entry whose arity message names the arguments `sig` and whose
    * literal message names the dials `dials._2`, from position `dials._1`.
    */
  private def fn(name: String, cls: Class[_], sig: String, arity: Int,
      optional: Int = 0, dials: (Int, String) = (Int.MaxValue, ""))(
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

  val functions: Seq[Fn] = Seq(
    fn("graft_h64", classOf[H64Expression], "(text)", 1)(a =>
      H64Expression(a(0))),
    fn("graft_normalize_key", classOf[NormalizeKeyExpression], "(text)", 1)(a =>
      NormalizeKeyExpression(a(0))),
    fn("graft_shingles", classOf[WordShinglesExpression], "(text, n)", 2,
      dials = 1 -> "n")(a => WordShinglesExpression(a(0), a.int(1))),
    fn("graft_grams", classOf[WordGramsExpression], "(text, n)", 2,
      dials = 1 -> "n")(a => WordGramsExpression(a(0), a.int(1))),
    fn("graft_nfc", classOf[NfcNormalizeExpression], "(text)", 1)(a =>
      NfcNormalizeExpression(a(0))),
    fn("graft_point_in_polygon", classOf[PointInPolygonExpression],
      "(lon, lat, xs, ys)", 4, dials = 2 -> "ring")(a =>
      PointInPolygonExpression(a(0), a(1), a.array(2).toDoubleArray(),
        a.array(3).toDoubleArray())),
    fn("graft_hyperplane_sig", classOf[HyperplaneSignatureExpression],
      "(vec, dims, bits)", 3, dials = 1 -> "dims/bits")(a =>
      HyperplaneSignatureExpression(a(0), a.int(1), a.int(2))),
    fn("graft_dot", classOf[DotProductExpression], "(a, b, dims[, offset])", 3,
      optional = 1, dials = 2 -> "dims/offset")(a =>
      DotProductExpression(a(0), a(1), a.int(2), if (a.size == 4) a.int(3) else 0)),
    fn("graft_maxsim", classOf[MaxSimExpression], "(q, d, tokens, tokDims)", 4,
      dials = 2 -> "tokens/tokDims")(a =>
      MaxSimExpression(a(0), a(1), a.int(2), a.int(3))),
    fn("graft_any_contains", classOf[AnyContainsExpression], "(arr, needle)", 2,
      dials = 1 -> "needle")(a => AnyContainsExpression(a(0), a.string(1))),
    fn("graft_barrier", classOf[BarrierExpression], "(expr)", 1)(a =>
      BarrierExpression(a(0))),
    fn("graft_scalar_keys", classOf[ScalarKeysExpression], "(map)", 1)(a =>
      ScalarKeysExpression(a(0))),
    fn("graft_winnow_stats", classOf[WinnowStatsExpression], "(text, n, w)", 3,
      dials = 1 -> "n and w")(a =>
      WinnowStatsExpression(a(0), a.int(1), a.int(2))),
    fn("graft_cls_score", classOf[ClsScoreExpression], "(text)", 1)(a =>
      ClsScoreExpression(a(0))),
    fn("graft_cdc_chunks", classOf[CdcChunksExpression], "(text, mod)", 2,
      dials = 1 -> "mod")(a => CdcChunksExpression(a(0), a.long(1))),
    fn("graft_char_entropy", classOf[CharEntropyExpression], "(text, cap)", 2,
      dials = 1 -> "cap")(a => CharEntropyExpression(a(0), a.int(1))),
    fn("graft_top_word_count", classOf[TopWordCountExpression], "(text)", 1)(a =>
      TopWordCountExpression(a(0))),
    fn("graft_stopword_count", classOf[StopwordCountExpression],
      "(words, stopwords)", 2, dials = 1 -> "stopwords")(a =>
      StopwordCountExpression(a(0),
        a.array(1).toObjectArray(StringType).map(_.toString).toSeq)),
    // the aggregates: the analyzer wraps each AggregateFunction into an
    // AggregateExpression itself
    fn("graft_hll", classOf[HyperLogLogAgg], "(col, precision)", 2,
      dials = 1 -> "precision")(a => HyperLogLogAgg(a(0), a.int(1))),
    fn("graft_bloom", classOf[BloomFilterAgg], "(fp, bitsLog2, k)", 3,
      dials = 1 -> "bitsLog2 and k")(a =>
      BloomFilterAgg(a(0), a.int(1), a.int(2))),
    fn("graft_bloom_probe", classOf[BloomProbeExpression], "(bitmap, fp, k)", 3,
      dials = 2 -> "k")(a => BloomProbeExpression(a(0), a(1), a.int(2))),
    fn("graft_cms", classOf[CountMinAgg], "(fp, widthLog2, depth)", 3,
      dials = 1 -> "widthLog2 and depth")(a =>
      CountMinAgg(a(0), a.int(1), a.int(2))),
    fn("graft_cms_query", classOf[CmsQueryExpression], "(sketch, fp, depth)", 3,
      dials = 2 -> "depth")(a => CmsQueryExpression(a(0), a(1), a.int(2))),
    fn("graft_bottomk", classOf[BottomKSketchAgg], "(col, k, salt)", 3,
      dials = 1 -> "k and salt")(a =>
      BottomKSketchAgg(a(0), a.int(1), a.string(2))),
    fn("graft_gram", classOf[GramMatrixAgg], "(vec, dims, quantum)", 3,
      dials = 1 -> "dims and quantum")(a =>
      GramMatrixAgg(a(0), a.int(1), a.long(2))))

  /** Imperative registration for externally-created sessions: functions go
    * to the registry, the optimizer rule to `experimental.extraOptimizations`
    * (both idempotent).
    */
  def register(spark: SparkSession): Unit = {
    functions.foreach { f =>
      spark.sessionState.functionRegistry
        .registerFunction(FunctionIdentifier(f.name), f.info, f.builder)
    }
    if (!spark.experimental.extraOptimizations.contains(PipBboxPruneRule)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ PipBboxPruneRule
    }
  }

  /** Column-API entry for the native PIP predicate. */
  def pointInPolygon(lon: org.apache.spark.sql.Column, lat: org.apache.spark.sql.Column,
      ring: Seq[(Double, Double)]): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.call_function("graft_point_in_polygon", lon, lat,
      org.apache.spark.sql.functions.lit(ring.map(_._1).toArray),
      org.apache.spark.sql.functions.lit(ring.map(_._2).toArray))
}
