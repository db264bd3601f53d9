package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Portable sketching primitives for the LLM-data-pipeline operators:
  * MinHash signatures, banded LSH keys, SimHash fingerprints, and
  * fixed-order cosine similarity.
  *
  * Everything here is built to be computed IDENTICALLY by Spark and by the
  * DuckDB oracle, so the whole dedup/ANN pipeline is hash-checkable:
  *
  *  - the only hash function is a 60-bit prefix of md5 (both engines md5
  *    identically; 15 hex chars keep the value inside a signed long),
  *  - float reductions are emitted as explicit left-associated term lists
  *    (IEEE addition is order-sensitive; a fixed order makes both engines
  *    bit-identical),
  *  - pseudo-random hyperplanes are dyadic rationals from a Knuth
  *    multiplicative sequence — exactly representable as doubles, so their
  *    decimal literals round-trip losslessly into SQL.
  *
  * Scale notes: signatures/fingerprints are per-row map-side work (array
  * transforms over the shingle list — no shuffle, no UDF). The LSH shuffle
  * key is `(band, bucket-hash)`, never all-pairs; candidate verification
  * re-joins on doc id. That is the 100 TB-safe shape: cost scales with
  * bucket collision counts, not n².
  */
object Sketches {

  // --- portable 60-bit hash ---

  /** Low-60-bit md5 prefix as BIGINT — the engine-portable hash. Native
    * since r20 ([[graft.plans.H64Expression]]): one digest, no hex round
    * trip — value-identical to the legacy
    * `conv(substring(md5(c), 1, 15), 16, 10)` chain (spec-pinned).
    */
  def h64(c: Column): Column = call_function("graft_h64", c)
  def h64Sql(e: String): String =
    s"CAST(('0x' || substr(md5($e), 1, 15)) AS BIGINT)"

  /** JVM-side twin of [[h64]] for driver-held state (streaming sketch
    * readouts probe the same hash the executors built the state with).
    */
  def h64Scala(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** floor(log2(x)) for x ≥ 1 — the libm-free integer-log ladder (L63/
    * L86 convention): the length of the binary rendering minus one.
    * Engine-portable bit-for-bit; both sides are pure integer ops.
    *
    * The domain is ENFORCED, not assumed: the argument is clamped to
    * ≥ 1 inside both forms, because below 1 the two engines silently
    * diverge (Spark `bin(-7)` renders 64 two's-complement chars →
    * 63, DuckDB `format('{:b}', -7)` renders '-111' → 3) — a future
    * signed caller would pass gates on one engine and drift on the
    * other (ADVICE r15). Every current call site passes ≥ 1, so the
    * clamp changes no gated value.
    */
  def ilog2(c: Column): Column =
    (length(bin(greatest(c, lit(1L)))) - 1).cast("long")
  def ilog2Sql(e: String): String =
    s"CAST((length(format('{:b}', GREATEST($e, 1))) - 1) AS BIGINT)"
  /** JVM twin of [[ilog2]] for spec replays and streaming readouts —
    * the single point of truth for the floor-log2 ladder off-engine
    * (ADVICE r17: StreamingDrift and SketchesSpec each carried a
    * private copy that could drift from the Column/SQL forms).
    */
  def ilog2Scala(v: Long): Long =
    63L - java.lang.Long.numberOfLeadingZeros(math.max(v, 1L))

  /** Fractional log2 in Q10 fixed point for x ≥ 1 (clamped like
    * [[ilog2]]): e·2^10 + mantissa-linear fraction, where the fraction
    * interpolates the mantissa linearly within the octave —
    * (x·2^10) div 2^e − 2^10, computed with the numerator or the
    * denominator shifted depending on e so every intermediate stays
    * under 2^63 at ANY input. Exact on powers of two, monotone
    * everywhere, max error vs true log2 = 0.0861 bits (the standard
    * fast-log trick) — a DEFINED ladder both engines and the Scala
    * replay compute bit-identically, for order-of-magnitude planners
    * (L136) where the ilog2 floor is too coarse.
    */
  def log2q10(c: Column): Column = {
    val x = greatest(c, lit(1L))
    val e = (length(bin(x)) - 1).cast("long")
    // x ≥ 0 and the divisor is 2^k, so integer division IS a right
    // shift — dynamic shift amounts go through call_function (the
    // public shiftright only takes a literal count)
    val frac = when(e <= 52,
      call_function("shiftright", shiftleft(x, 10), e.cast("int")))
      .otherwise(call_function("shiftright", x, (e - 10L).cast("int")))
    (e * 1024L + (frac.cast("long") - 1024L)).cast("long")
  }
  def log2q10Sql(e: String): String = {
    val x = s"GREATEST($e, 1)"
    val ex = s"CAST((length(format('{:b}', $x)) - 1) AS BIGINT)"
    s"""($ex * 1024 + (CASE WHEN $ex <= 52
        THEN ($x * 1024) // (CAST(1 AS BIGINT) << CAST($ex AS INT))
        ELSE $x // (CAST(1 AS BIGINT) << CAST($ex - 10 AS INT))
        END) - 1024)"""
  }
  /** JVM twin of [[log2q10]] for spec replays. */
  def log2q10Scala(v: Long): Long = {
    val x = math.max(v, 1L)
    val e = 63L - java.lang.Long.numberOfLeadingZeros(x)
    val frac = if (e <= 52) (x << 10) / (1L << e) else x >> (e - 10)
    e * 1024L + frac - 1024L
  }

  /** Exact integer square root floor(√x) for 0 ≤ x < 2^62 (clamped
    * below at 0): IEEE double sqrt is correctly rounded and the
    * int→double conversion error keeps the float guess within 1 of
    * the true floor at this domain, so ONE ±1 correction step makes
    * it exact — and therefore engine-independent (both sides compute
    * the same mathematical function, not the same rounding accident).
    * The correction squares (guess+1) ≤ 2^31+1, safely under 2^63.
    * Powers the ^(3/4) negative-sampling ladder (L142 — nested:
    * isqrt(isqrt(c³)) = floor(c^(3/4))) and the temperature dial
    * (L143 — isqrt = τ=2, nested = τ=4).
    */
  def isqrt(c: Column): Column = {
    val x = greatest(c, lit(0L))
    val g = floor(sqrt(x.cast("double"))).cast("long")
    when((g + 1) * (g + 1) <= x, g + 1)
      .when(g * g > x, g - 1)
      .otherwise(g)
  }
  def isqrtSql(e: String): String = {
    val x = s"GREATEST($e, 0)"
    val g = s"CAST(floor(sqrt(CAST($x AS DOUBLE))) AS BIGINT)"
    s"""(CASE WHEN ($g + 1) * ($g + 1) <= $x THEN $g + 1
        WHEN $g * $g > $x THEN $g - 1 ELSE $g END)"""
  }
  /** JVM twin of [[isqrt]] for spec replays. */
  def isqrtScala(v: Long): Long = {
    val x = math.max(v, 0L)
    val g = math.floor(math.sqrt(x.toDouble)).toLong
    if ((g + 1) * (g + 1) <= x) g + 1 else if (g * g > x) g - 1 else g
  }

  // --- universal hash family over an already-md5-hashed value ---
  //
  // md5 is the expensive part (and higher-order-function lambdas are
  // interpreted, not codegen'd), so the MinHash family hashes each shingle
  // with md5 ONCE and derives the k family members with modular arithmetic:
  // g_i(h) = (a_i * (h mod P) + b_i) mod P,  P = 2^31 - 1.
  // All intermediates stay under 2^63, so DuckDB BIGINT (which errors on
  // overflow, unlike Java's wrapping long) computes the identical value.

  val P31: Long = 2147483647L // Mersenne prime 2^31 - 1

  /** Family coefficients from the Knuth multiplicative sequence. */
  def hashA(i: Int): Long = math.max(1L, ((i * 2 + 1) * 2654435761L) % P31)
  def hashB(i: Int): Long = ((i * 2 + 2) * 2654435761L) % P31

  def familyHash(i: Int, h: Column): Column =
    (lit(hashA(i)) * (h % P31) + lit(hashB(i))) % P31
  def familyHashSql(i: Int, h: String): String =
    s"((${hashA(i)} * (($h) % $P31) + ${hashB(i)}) % $P31)"

  // --- words / shingles ---

  def words(text: Column): Column = split(trim(text), "\\s+")
  def wordsSql(e: String): String = s"regexp_split_to_array(trim($e), '\\s+')"

  /** Distinct word n-gram shingles (mirrors TextFunctions.wordShingles,
    * shared here with its SQL twin).
    */
  def shingles(text: Column, n: Int): Column = TextFunctions.wordShingles(text, n)
  def shinglesSql(e: String, n: Int): String = {
    val ws = wordsSql(e)
    // guard documents shorter than n words: the Scala mirror
    // (wordShingles) emits an EMPTY array there, so the twin must too —
    // the unguarded range() form emitted one phantom sub-n shingle
    s"CASE WHEN len($ws) >= $n THEN " +
      s"list_distinct(list_transform(range(1, len($ws) - $n + 2), " +
      s"i -> array_to_string(($ws)[i:i+${n - 1}], ' '))) " +
      s"ELSE CAST([] AS VARCHAR[]) END"
  }

  // --- MinHash ---

  val NumHashes = 16
  val Bands = 4
  val RowsPerBand = 4

  /** Corpus-scaled rows-per-band dial (VERDICT r12 #4 — the bandBitsFor
    * treatment applied to the text MinHash family). Rows per band is the
    * LSH sharpness exponent: a pair colliding in one band requires r
    * signature positions to agree, so a random background pair's per-band
    * collision probability is ~E[j₀^r] — every extra row multiplies the
    * corpus's random-candidate mass by j₀ < 1 while the band count
    * (held at [[Bands]] = 4) keeps the OR-recall term 1-(1-j^r)^b for
    * true near-dups. Growing the corpus by ~a decade therefore buys one
    * extra row to hold candidate volume (the path's one quadratic term)
    * at its small-corpus level; the signature grows to Bands·r family
    * minima ([[familyHash]] is defined for any index). The floor keeps
    * every gated SF (≤ 10k docs) at the baked 4×4 geometry, so the
    * oracle-checked queries stay hash-identical; the adaptive form is the
    * production default, measured by ScaleRehearsal's minhash dial.
    */
  def rowsPerBandFor(n: Long): Int =
    math.max(RowsPerBand, math.ceil(math.log10(math.max(1L, n).toDouble))
      .toInt)

  /** Corpus-scaled query-budget dial for the rerank/audit protocols
    * whose query set is a stride sample of the corpus (L96 maxsim, L97
    * matryoshka): a FIXED stride couples the query count to n, making
    * the pair set quadratic in corpus size — by design at gated SFs
    * (the oracle sees every pair) but a workload dial at production.
    * stride = max(50, n div 40) holds the query budget at ~40 beyond
    * the gated sizes; the floor keeps every gated SF (≤ 2000 vectors)
    * at the baked %-50 protocol, so the oracle-checked queries stay
    * hash-identical. The adaptive form is the production default,
    * measured by ScaleRehearsal's 10× table.
    */
  def queryStrideFor(n: Long): Long = math.max(50L, n / 40L)

  /** Base hash array: md5 once per shingle. Materialize this as a column,
    * then take the k family minima over it — md5 cost is paid once.
    */
  def shingleHashes(sh: Column): Column = transform(sh, s => h64(s))
  def shingleHashesSql(shExpr: String): String =
    s"list_transform($shExpr, s -> ${h64Sql("s")})"

  /** MinHash signature element i over the base hash array. */
  def minhash(hs: Column, i: Int): Column =
    array_min(transform(hs, h => familyHash(i, h)))
  def minhashSql(hsExpr: String, i: Int): String =
    s"list_min(list_transform($hsExpr, h -> ${familyHashSql(i, "h")}))"

  /** Aggregate form over an exploded base-hash column (`min` of the family
    * hash) — same value as [[minhash]], but a codegen'd hash aggregate with
    * map-side partial combine instead of an interpreted array lambda.
    */
  def minhashAgg(i: Int, h: Column): Column = min(familyHash(i, h))

  /** LSH band bucket key: hash of the band's signature slice (columns
    * s0..s{bands·rows-1} must exist).
    */
  def bandHash(band: Int): Column = bandHash(band, RowsPerBand)

  def bandHash(band: Int, rows: Int): Column = {
    val cols = (band * rows until (band + 1) * rows)
      .map(i => col(s"s$i").cast("string"))
    h64(concat_ws(",", cols: _*))
  }
  def bandHashSql(band: Int): String = {
    val parts = (band * RowsPerBand until (band + 1) * RowsPerBand)
      .map(i => s"CAST(s$i AS VARCHAR)")
    h64Sql(parts.mkString(" || ',' || "))
  }

  /** Exact Jaccard over two distinct-element array Columns (one division —
    * deterministic).
    */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))
  def jaccardSql(a: String, b: String): String =
    s"CAST(len(list_intersect($a, $b)) AS DOUBLE) / len(list_distinct(list_concat($a, $b)))"

  // --- SimHash (32-bit, over distinct-word hashes) ---

  val SimHashBits = 32

  /** Distinct-word hash array for SimHash — materialize as a column so md5
    * runs once per word, not once per (word, bit).
    */
  def wordHashes(text: Column): Column =
    transform(array_distinct(words(text)), w => h64(w))
  def wordHashesSql(e: String): String =
    s"list_transform(list_distinct(${wordsSql(e)}), w -> ${h64Sql("w")})"

  /** 32-bit SimHash over the word-hash array: bit k is set when the
    * majority of word hashes have bit k set (strict majority; ties → 0).
    * Uses the distinct-word set so word frequency doesn't weight the
    * fingerprint.
    */
  def simhash(hs: Column): Column = {
    val n = size(hs).cast("long")
    (0 until SimHashBits).map { k =>
      val cnt = aggregate(hs, lit(0L), (acc, h) => acc + shiftright(h, k).bitwiseAND(1L))
      when(cnt * 2 > n, lit(1L << k)).otherwise(lit(0L))
    }.reduce(_ + _)
  }
  /** SQL twin over an `hs` column (compute [[wordHashesSql]] in a prior
    * CTE so md5 runs once).
    */
  def simhashSql(hs: String): String = {
    val terms = (0 until SimHashBits).map { k =>
      s"(CASE WHEN CAST(list_sum(list_transform($hs, h -> (h >> $k) & 1)) AS BIGINT) * 2 > len($hs) " +
        s"THEN CAST(${1L << k} AS BIGINT) ELSE 0 END)"
    }
    terms.mkString("(", " + ", ")")
  }

  // --- fixed-order cosine similarity ---

  /** Left-associated dot product over `dims` elements — identical IEEE
    * addition order in both engines → bit-identical doubles.
    *
    * Implementation: the native loop expression
    * [[graft.plans.DotProductExpression]], NOT an unrolled term tree. The
    * unrolled form was correct in isolation, but Catalyst's projection
    * collapse could fuse several 64-term dots/norms into one generated
    * aggregate method and blow the JVM's 64 KB limit (q78 did exactly
    * that, silently de-optimizing to an interpreted aggregate). The native
    * node is constant-size bytecode at any width and accumulates in the
    * same left-to-right order, so oracle bit-parity is preserved. Requires
    * the graft function registry ([[graft.plans.GraftExtensions.register]]
    * — the table loader installs it).
    */
  def dot(a: Column, b: Column, dims: Int): Column =
    call_function("graft_dot", a, b, lit(dims))
  def dotSql(a: String, b: String, dims: Int): String =
    (1 to dims).map(i =>
      s"CAST($a[$i] AS DOUBLE) * CAST($b[$i] AS DOUBLE)").mkString(" + ")

  /** Subspace dot: left-associated sum over `dims` elements starting at
    * 0-based `off` — the product-quantization window (L44). Same native
    * loop node, so the parity contract of [[dot]] carries over unchanged.
    */
  def dotOff(a: Column, b: Column, dims: Int, off: Int): Column =
    call_function("graft_dot", a, b, lit(dims), lit(off))
  def dotSqlOff(a: String, b: String, dims: Int, off: Int): String =
    (1 to dims).map(i =>
      s"CAST($a[${off + i}] AS DOUBLE) * CAST($b[${off + i}] AS DOUBLE)")
      .mkString(" + ")

  def norm(a: Column, dims: Int): Column = sqrt(dot(a, a, dims))
  def normSql(a: String, dims: Int): String = s"sqrt(${dotSql(a, a, dims)})"

  /** cosine = dot / (norm_a * norm_b), with norms precomputed per side.
    *
    * Zero-norm guard: engines disagree on x/0.0 for doubles (Spark's
    * non-ANSI Divide yields NULL, DuckDB yields ±inf/NaN), so a degenerate
    * zero vector would silently diverge the engine from the oracle — and a
    * NULL cosine would make downstream max_by/row_number ranking
    * engine-dependent. The guard pins BOTH sides ([[cosineSql]] mirrors
    * it) to an explicit NULL for zero-norm inputs; the fixture contains
    * none, so results are unchanged and the agreement is now by
    * construction rather than by fixture luck.
    */
  def cosineFromParts(d: Column, na: Column, nb: Column): Column = {
    val p = na * nb
    when(p > 0d, d / p)
  }

  /** DuckDB rendering of [[cosineFromParts]], same zero-norm contract. */
  def cosineSql(d: String, na: String, nb: String): String =
    s"CASE WHEN ($na) * ($nb) > 0 THEN ($d) / (($na) * ($nb)) END"

  // --- random-hyperplane LSH for embeddings ---

  val HyperplaneBits = 8

  /** Deterministic pseudo-random hyperplane component in [-1, 1): a Knuth
    * multiplicative-hash dyadic rational — reproducible from this public
    * formula and exactly representable as a double.
    */
  def hyperplane(i: Int, j: Int, dims: Int): Double =
    (((i * dims + j + 1) * 2654435761L) % 4294967296L).toDouble / 2147483648.0 - 1.0

  /** Bit i of the hyperplane signature: sign of dot(v, hp_i). */
  private def hpDotSql(v: String, i: Int, dims: Int): String =
    (1 to dims).map(j =>
      s"(${hyperplane(i, j - 1, dims)}) * CAST($v[$j] AS DOUBLE)").mkString(" + ")

  /** n-bit random-hyperplane signature: the ANN bucket key (bits ≤ 62).
    *
    * Scale note: bucket count is 2^bits, and the within-bucket self-join is
    * O(n²/2^bits) — so BITS MUST GROW WITH THE CORPUS (8 bits = 256 buckets
    * is fine for thousands of vectors, quadratic death at 100 TB; size for
    * ≥16-24 bits there). Wider signatures cost recall, which band-OR
    * multi-probe buys back: split the signature into bands and take
    * candidates agreeing on ANY band (see the banded ANN query / recall
    * spec).
    *
    * Implementation: the native loop expression
    * [[graft.plans.HyperplaneSignatureExpression]] — the unrolled
    * bits×dims term tree overflows the JVM's 64 KB generated-method limit
    * at 16×64 and silently de-optimizes to interpreted eval; the native
    * node is constant-size bytecode at any width. Requires the graft
    * function registry ([[graft.plans.GraftExtensions.register]] — the
    * table loader installs it).
    */
  def hyperplaneSigN(v: Column, dims: Int, bits: Int): Column =
    call_function("graft_hyperplane_sig", v, lit(dims), lit(bits))
  def hyperplaneSigNSql(v: String, dims: Int, bits: Int): String =
    (0 until bits).map { i =>
      s"(CASE WHEN ${hpDotSql(v, i, dims)} >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** 8-bit random-hyperplane signature (0..255). */
  def hyperplaneSig(v: Column, dims: Int): Column =
    hyperplaneSigN(v, dims, HyperplaneBits)
  def hyperplaneSigSql(v: String, dims: Int): String =
    hyperplaneSigNSql(v, dims, HyperplaneBits)
}
