package graft.plans

import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, Literal}
import org.apache.spark.sql.types.IntegerType
import org.scalatest.funsuite.AnyFunSuite

/** Every registry entry rejects a wrong argument count and a non-literal
  * dial with its own message. The texts below are the registry's error
  * contract, verbatim.
  */
class GraftExtensionsSpec extends AnyFunSuite {
  private val signatures = Map(
    "graft_h64" -> "(text)",
    "graft_normalize_key" -> "(text)",
    "graft_shingles" -> "(text, n)",
    "graft_grams" -> "(text, n)",
    "graft_nfc" -> "(text)",
    "graft_hyperplane_sig" -> "(vec, dims, bits)",
    "graft_dot" -> "(a, b, dims[, offset])",
    "graft_maxsim" -> "(q, d, tokens, tokDims)",
    "graft_any_contains" -> "(arr, needle)",
    "graft_barrier" -> "(expr)",
    "graft_scalar_keys" -> "(map)",
    "graft_winnow_stats" -> "(text, n, w)",
    "graft_cls_score" -> "(text)",
    "graft_cdc_chunks" -> "(text, mod)",
    "graft_char_entropy" -> "(text, cap)",
    "graft_top_word_count" -> "(text)",
    "graft_stopword_count" -> "(words, stopwords)",
    "graft_hll" -> "(col, precision)",
    "graft_bloom" -> "(fp, bitsLog2, k)",
    "graft_bloom_probe" -> "(bitmap, fp, k)",
    "graft_cms" -> "(fp, widthLog2, depth)",
    "graft_cms_query" -> "(sketch, fp, depth)",
    "graft_bottomk" -> "(col, k, salt)",
    "graft_gram" -> "(vec, dims, quantum)")

  private val dials = Map(
    "graft_shingles" -> "n",
    "graft_grams" -> "n",
    "graft_hyperplane_sig" -> "dims/bits",
    "graft_dot" -> "dims/offset",
    "graft_maxsim" -> "tokens/tokDims",
    "graft_any_contains" -> "needle",
    "graft_winnow_stats" -> "n and w",
    "graft_cdc_chunks" -> "mod",
    "graft_char_entropy" -> "cap",
    "graft_stopword_count" -> "stopwords",
    "graft_hll" -> "precision",
    "graft_bloom" -> "bitsLog2 and k",
    "graft_bloom_probe" -> "k",
    "graft_cms" -> "widthLog2 and depth",
    "graft_cms_query" -> "depth",
    "graft_bottomk" -> "k and salt",
    "graft_gram" -> "dims and quantum")

  private def failure(f: GraftExtensions.Fn, args: Seq[Expression]): String =
    intercept[IllegalArgumentException](f.builder(args)).getMessage
      .stripPrefix("requirement failed: ")

  test("a wrong arity raises the entry's message") {
    assert(GraftExtensions.functions.map(_.name).toSet == signatures.keySet)
    GraftExtensions.functions.foreach { f =>
      Seq(f.arity - 1, f.arity + f.optional + 1).foreach { n =>
        assert(failure(f, Seq.fill(n)(Literal(1))) ==
          s"${f.name} expects ${signatures(f.name)}, got $n args")
      }
    }
  }

  test("a non-literal dial raises the entry's message") {
    val withDials = GraftExtensions.functions.filter(f => f.dialsFrom < f.arity)
    assert(withDials.map(_.name).toSet == dials.keySet)
    withDials.foreach { f =>
      val n = f.arity + f.optional
      (f.dialsFrom until n).foreach { i =>
        val args = Seq.tabulate(n)(j =>
          if (j == i) AttributeReference("c", IntegerType)() else Literal(1))
        assert(failure(f, args) == s"${f.name} ${dials(f.name)} must be literal")
      }
    }
  }
}
