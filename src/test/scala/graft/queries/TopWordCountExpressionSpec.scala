package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.Sketches

/** r19 optimization: the native `graft_top_word_count` loop expression
  * replaces the exploded (doc_id, word) count → max aggregate in the L16
  * quality frame. Its value must equal the relational form's `maxc` for
  * every document, and the interpreted eval must match codegen.
  */
class TopWordCountExpressionSpec extends SparkSpec {

  private def fixture = {
    import spark.implicits._
    Seq(
      (1L, "a b c a b a"),                 // max = 3 ("a")
      (2L, "same same same same"),          // max = 4
      (3L, "all distinct words here"),      // max = 1
      (4L, ""),                             // one empty word, max = 1
      (5L, "   "),                          // trim → one empty word
      (6L, "x\ty  z\nx"),                   // mixed whitespace, x twice
      (7L, null.asInstanceOf[String]),      // null text → null
      (8L, " edge padded edge "))           // "edge" twice
      .toDF("doc_id", "text")
  }

  test("native top-word count == relational explode/count/max") {
    val w = fixture
    val native = w
      .select(col("doc_id"),
        call_function("graft_top_word_count", col("text")).as("maxc"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getLong(1))).toMap
    val relational = w
      .select(col("doc_id"), posexplode(Sketches.words(col("text")))
        .as(Seq("pos", "w0")))
      .groupBy(col("doc_id"), col("w0")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("maxc"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    relational.foreach { case (id, expected) =>
      assert(native(id) == expected, s"doc $id")
    }
    assert(native(7L) == null)
  }

  test("interpreted eval matches codegen") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    Seq("a b a", "", "  ", "x x x y y z").foreach { t =>
      val e = graftCall("graft_top_word_count", Literal(UTF8String.fromString(t),
        org.apache.spark.sql.types.StringType))
      assert(e.eval(null) == graft.plans.TopWordCountExpression.topCount(
        UTF8String.fromString(t)))
    }
  }

  test("q75 quality stats: map-side frame == legacy windowed frame") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    // legacy construction, verbatim (pre-r19 q75/funnel quality frame)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val withGram = docs
      .select(col("doc_id"), posexplode(Sketches.words(col("text"))).as(Seq("pos", "w0")))
      .withColumn("gram", concat(col("w0"), lit(" "), lead(col("w0"), 1).over(w)))
    val gstats = withGram.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), countDistinct(col("gram")).as("dist2"))
    val wstats = withGram.groupBy(col("doc_id"), col("w0")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("maxc"))
    val legacy = gstats.join(wstats, Seq("doc_id"))
      .select(col("doc_id"), col("n_words"), col("maxc"), col("dist2"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val got = LlmPipeline.qualityStats(docs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == legacy)
  }
}
