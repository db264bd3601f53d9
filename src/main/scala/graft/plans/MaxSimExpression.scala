package graft.plans

import org.apache.spark.sql.catalyst.util.ArrayData

/** Late-interaction (ColBERT maxsim) score as ONE native loop expression:
  * read each embedding as `tokens` sub-vectors of `tokDims` dims and
  * compute Σ_i floor(max_j <q_i, d_j> · 10^6) in a single pass over the
  * two fixed-width arrays.
  *
  * The composed form this replaces (VERDICT r18 #3) exploded BOTH sides
  * into token rows (8× per vector), joined them into 64 rows per
  * (query, doc) pair, and ran two hash aggregates (max over doc tokens,
  * sum over query tokens) — per-pair row fan-out and two shuffles of
  * pair-keyed rows. Here the pair row count stays 1: the token loops run
  * inside whole-stage codegen via one static call (a [[KernelCall]], like
  * [[DotProductExpression]] — constant bytecode size, tight JIT-able
  * loop), and the downstream plan sees only (pair, score).
  *
  * Bit-for-bit parity with the composed form (and the DuckDB twin):
  *  - each <q_i, d_j> accumulates LEFT-ASSOCIATED in element order with
  *    float→double widening per element — exactly
  *    [[DotProductExpression.dot]] over the token's offset window;
  *  - the per-token max is quantized with floor(·10^6) to a LONG BEFORE
  *    the cross-token sum (the q86 order-free-integer-sum rule), so the
  *    score is identical to the two-aggregate form's sum of mx_u.
  *
  * Null semantics mirror the composed chain: an array shorter than
  * tokens·tokDims → NULL score (every sliced dot was NULL); a NULL
  * element NULLs its token-pair dot, the max skips NULL dots (Spark
  * `max`), an all-NULL token group contributes nothing (Spark `sum`
  * skips NULLs), and a pair whose every token group is NULL → NULL.
  * None of this fires on the fixed-width embedding tables; the contract
  * is pinned so the expression can never diverge from the oracle on
  * degenerate input.
  */
object MaxSimExpression {
  /** The `graft_maxsim` kernel. Per query token i: the max
    * over doc tokens j of the left-associated widened dot over the two
    * offset windows, quantized floor(·10^6) to a LONG; summed over i.
    * Boxed so NULL survives the codegen boundary.
    */
  def maxsim(q: ArrayData, d: ArrayData, tokens: Int, tokDims: Int,
      qFloat: Boolean, dFloat: Boolean): java.lang.Long = {
    val width = tokens * tokDims
    if (q.numElements() < width || d.numElements() < width) return null
    var total = 0L
    var any = false
    var qi = 0
    while (qi < tokens) {
      var best = 0.0
      var has = false
      var dj = 0
      while (dj < tokens) {
        val dp = DotProductExpression.dot(q, qi * tokDims, d, dj * tokDims,
          tokDims, qFloat, dFloat)
        // NULL dots (a NULL element in either window) are skipped, the
        // Spark `max` contract; comparison is plain `>` — finite inputs
        // only, per the embedding-table contract
        if (dp != null && (!has || dp.doubleValue() > best)) {
          best = dp.doubleValue(); has = true
        }
        dj += 1
      }
      if (has) { total += math.floor(best * 1e6).toLong; any = true }
      qi += 1
    }
    if (any) java.lang.Long.valueOf(total) else null
  }
}
