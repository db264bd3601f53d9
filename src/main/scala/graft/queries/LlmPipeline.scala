package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{CacheScope, Tables}
import graft.functions.{Sketches, Skew, TextFunctions}
import graft.plans.NfcNormalizeExpression

/** LLM-training-data pipeline operators over `documents` / `embeddings`
  * (builder brief: first-class alongside SURVEY §2; inventory §2.11a).
  *
  *  - L1 exact dedup (content fingerprint)          → q33
  *  - L2 canonical-form dedup (bag-of-words key)    → q34
  *  - L3 MinHash signatures                         → q35
  *  - L4 banded-LSH near-dup + n-gram Jaccard       → q36
  *  - L5 SimHash fingerprint + band keys            → q37
  *  - L6 brute-force cosine top-k (ANN baseline)    → q38
  *  - L7 hyperplane-LSH bucketed ANN (scale path)   → q39 (8-bit),
  *       q67 (16-bit signature + band-OR multi-probe — the 100 TB config:
  *       bucket count must grow with the corpus, recall bought back by
  *       accepting candidates that agree on ANY 8-bit band)
  *  - L8 language ID (stopword heuristic)           → q40
  *  - L9 quality scoring + token counting           → q41
  *  - L11 IVF coarse-quantized ANN (the data-adaptive
  *       scale path: broadcast codebook, cell-keyed
  *       candidate join, NProbe recall dial)         → q70
  *  - embedding-cosine near-dup dedup (the brief's
  *       fifth dedup modality: banded candidates →
  *       exact-cosine verify → min-id survivor)      → q72
  *  - L14 deterministic stratified split (salted id
  *       hash → train/val/test, per-stratum report)  → q73
  *  - L15 token-budget sequence packing (sharded
  *       contiguous fill, no global window)          → q74
  *  - L16 repetition/boilerplate filters (C4/Gopher
  *       dup-2-gram ratio + top-word fraction)       → q75
  *  - L17 benchmark decontamination (n-gram overlap
  *       vs a broadcast eval set)                    → q76
  *  - L18 mixture resampling to target weights
  *       (downsample-only, hash-deterministic)       → q77
  *  - L19 transitive near-dup clustering (iterative
  *       min-label propagation vs a recursive-CTE
  *       closure oracle)                             → q78
  *  - L20 context-window chunking (map-side 1→N
  *       sliding windows + chunk fingerprints)       → q79
  *  - corpus-assembly funnel: L1 → L16 → L17 → L14
  *       composed as ONE plan, cumulative survivor
  *       counts per (lang, split)                    → q80
  *  - L21 quality-aware survivor selection (best
  *       scored per cluster, not first seen)         → q84
  *
  * Oracle-parity design: every hash is the md5-prefix BIGINT, every float
  * reduction a fixed-order term list (see [[graft.functions.Sketches]]) —
  * the whole pipeline is hash-checked against DuckDB, including the LSH
  * banding itself (the oracle replicates the banding rather than brute-
  * forcing, so the candidate-generation semantics are verified too).
  *
  * Scale notes: dedup/ANN never go all-pairs. MinHash-LSH shuffles on
  * `(band, bucket)`; candidate pairs are verified after an id-keyed
  * re-join; hyperplane ANN shuffles on the 8-bit signature. At 100 TB the
  * bucket fan-in is the only quadratic term, and it is bounded by banding
  * width (tune Bands/RowsPerBand) — the classic SlimPajama/RefinedWeb shape.
  */
object LlmPipeline {

  private[graft] val ShingleN = 3
  private[queries] val JaccardThreshold = 0.8
  private[queries] val Dims = 64
  // L23 vocab width — 20 of the synthetic corpus's 31 distinct words so the
  // familiarity filter discriminates on the fixtures (production: 1e4-1e5)
  private val TopVocab = 20
  // L26 boilerplate document-frequency threshold: a shingle present in more
  // than this many docs is template text (fixtures: 151 of 16k 3-grams at
  // sf0.01, max df 7 — the dial discriminates; production runs df >> this)
  private val BoilerDf = 4
  // L24 second-level public suffixes (compact stand-in for the full PSL):
  // last-two-labels is not a registrable domain under these — take three
  private val SecondLevelSuffixes =
    Seq("co.nz", "org.nz", "net.nz", "ac.nz", "govt.nz", "co.uk", "com.au")
  private[queries] val TopK = 5

  /** IVF (q70): every CentroidStep-th vector seeds the codebook — K grows
    * with the corpus (~n/63: 8 cells on the 500-row fixtures, 32 at sf0.1),
    * keeping per-cell candidate lists bounded as n does. NProbe is the
    * recall/cost dial. The fixtures are UNIFORMLY RANDOM vectors — the
    * worst case for any space-partitioning index (recall ≈ fraction of
    * corpus probed; measured 9/10 top-1 at these settings, vs 4/10 at
    * K=17/NProbe=2). Real embedding corpora cluster, which is the entire
    * premise of IVF — production tuning is K ~ sqrt(n), NProbe ~ K/16.
    */
  private[queries] val CentroidStep = 63
  private[queries] val NProbe = 4

  /** Max members per LSH bucket before [[graft.functions.Skew.dropHotBuckets]]
    * drops the bucket from candidate generation (a bucket of n yields n²/2
    * pairs; members past this size are boilerplate mega-clusters that
    * L1/L2 exact dedup already collapses far cheaper). 10k is ~3 orders of
    * magnitude above the test fixtures' largest bucket, so the oracle hash
    * proves the guard non-binding; a 100 TB run tunes it down (10²–10³).
    */
  private[queries] val HotBucketCap = 10000L

  /** q73: deterministic hash-split fractions (train/val/test = 80/10/10)
    * and the salt that decorrelates the split hash from the content
    * fingerprints (L1) and shard hash (q74) — the standard trick so that
    * re-running dedup or resharding never migrates documents across
    * splits.
    */
  private[queries] val TrainPct = 80
  private[queries] val ValPct = 10

  /** q74: contiguous-fill sequence packing — shard count and per-window
    * token budget. At 100 TB PackShards scales with the corpus (it is the
    * unit of parallelism AND the bound on any per-key sort), while the
    * budget is the model's context length.
    */
  private[queries] val PackShards = 8
  private[queries] val PackBudget = 512

  /** q77: target mixture weights per language (must cover every lang in
    * the corpus; a production run derives them from the data card). The
    * binding stratum (largest n/weight deficit) keeps its full count and
    * every other stratum downsamples to match — downsample-only mixing,
    * never upsampling.
    */
  private val MixtureWeights: Seq[(String, Double)] =
    Seq("de" -> 0.15, "en" -> 0.4, "es" -> 0.15, "fr" -> 0.15, "zh" -> 0.15)

  /** q78: cap on min-label-propagation rounds. Convergence needs
    * O(component diameter) rounds; near-dup components are dedup clusters
    * (handfuls of vectors), so the cap is a runaway guard, not a tuning
    * knob — the convergence probe exits the loop as soon as a round
    * changes nothing.
    */
  private val MaxCcRounds = 50

  /** q78 clusters the CONFIDENT near-dup graph. At the assignment
    * threshold (NearDupTau = 0.3) the uniform-random fixture vectors form
    * a percolating graph — pair count grows with n², so any fixed
    * threshold densifies as the corpus grows and the "clusters" become
    * one giant component (13 propagation rounds measured at sf0.1). Real
    * near-dup clusters are the right tail, so the transitive step uses a
    * stricter cosine: subcritical edge density, handful-sized components,
    * O(1) rounds. q72 (best single dup per vector) stays at NearDupTau.
    */
  private val CcTau = 0.45

  /** q79: sliding context-window chunking — window size and stride in
    * words (the fixture-scale token proxy; a production run swaps in the
    * tokenizer's counts). Overlap = ChunkSize - ChunkStride.
    */
  private[queries] val ChunkSize = 48
  private[queries] val ChunkStride = 32

  /** Cosine threshold for q72's embedding near-dup verify. The fixtures
    * are uniformly random unit-ish vectors (pairwise cosine ~N(0, 1/√64),
    * max observed ≈ 0.51), so 0.3 admits the genuine upper tail — the
    * point is the operator's semantics and shape; a real embedding corpus
    * runs this at 0.9+.
    */
  private[queries] val NearDupTau = 0.3

  /** L1: exact-duplicate clustering by content fingerprint. Every row keeps
    * its cluster size and whether it is the canonical (min-id) survivor —
    * the "drop exact dups, keep one" primitive.
    */
  val q33 = GraftQuery(
    "q33_exact_dedup", "L1 J9",
    (s, d) => {
      val byFp = Window.partitionBy(col("fp"))
      Tables.documents(s, d)
        .withColumn("fp", TextFunctions.md5Fingerprint(col("text")))
        .withColumn("cluster_n", count(lit(1)).over(byFp))
        .withColumn("keeper", min(col("doc_id")).over(byFp))
        .select(col("doc_id"), col("fp"), col("cluster_n"),
          (col("doc_id") === col("keeper")).as("is_canonical"))
        .orderBy(col("doc_id"))
    },
    Some(s"""SELECT doc_id, ${TextFunctions.md5FingerprintSql("text")} AS fp,
        COUNT(*) OVER (PARTITION BY ${TextFunctions.md5FingerprintSql("text")}) AS cluster_n,
        doc_id = MIN(doc_id) OVER (PARTITION BY ${TextFunctions.md5FingerprintSql("text")}) AS is_canonical
      FROM documents ORDER BY doc_id"""))

  /** L2: canonical-form dedup — documents collapse to a sorted distinct
    * bag-of-words key (the lowercase/strip-punct canonicalization family);
    * emit only real clusters (n >= 2).
    */
  val q34 = GraftQuery(
    "q34_bow_dedup", "L2 J9",
    (s, d) =>
      Tables.documents(s, d)
        .withColumn("key",
          array_join(sort_array(array_distinct(Sketches.words(col("text")))), " "))
        .withColumn("fp", Sketches.h64(col("key")))
        .groupBy(col("fp"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .filter(col("n") >= 2)
        .orderBy(col("first_doc")),
    Some {
      val key = s"array_to_string(list_sort(list_distinct(${Sketches.wordsSql("text")})), ' ')"
      s"""SELECT ${Sketches.h64Sql(key)} AS fp, COUNT(*) AS n,
          MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        FROM documents GROUP BY 1 HAVING COUNT(*) >= 2 ORDER BY first_doc"""
    })

  /* Shared shingle frame: one codegen'd native loop expression
   * ([[graft.plans.WordShinglesExpression]], `graft_shingles`) builds each
   * document's DISTINCT n-gram set in a single pass, exploded to
   * (doc_id, shingle) rows — zero exchanges: the r19 optimization round
   * replaced the earlier posexplode + window-`lead` + global `distinct`
   * form, which paid an Exchange(doc_id)+sort for the leads and a second
   * exchange for the distinct in EVERY shingle consumer (guide §2.4:
   * remove shuffles outright). Semantics are bit-identical: the native
   * expression is spec-pinned to the same trim/split/join/distinct
   * contract, and the DuckDB twin ([[Sketches.shinglesSql]], interpolated
   * by every shingle oracle) has always modeled exactly this per-document
   * distinct-set form. Per-doc distinctness equals the old global
   * distinct because doc_id is unique in every caller's frame (base
   * tables key on it; planted replicas re-key beyond the id space). */
  private[queries] def shingleRows(s: org.apache.spark.sql.SparkSession, d: String,
      n: Int = ShingleN, carry: Seq[String] = Nil): org.apache.spark.sql.DataFrame =
    shingleRowsOf(Tables.documents(s, d), n, carry)

  /** [[shingleRows]] over an arbitrary documents frame (the incremental
    * funnel shingles its arriving batch with the same construction).
    */
  private[queries] def shingleRowsOf(docs: org.apache.spark.sql.DataFrame,
      n: Int = ShingleN, carry: Seq[String] = Nil): org.apache.spark.sql.DataFrame = {
    val keep = col("doc_id") +: carry.map(col)
    docs.select(keep :+ explode(Sketches.shingles(col("text"), n)).as("s"): _*)
  }

  /** L16 per-document quality raw stats `(doc_id, n_words, maxc, dist2)`
    * as ONE codegen'd map-side projection — no shuffle: every stat is a
    * function of a single document's text (n_words = |split words|,
    * maxc = the native `graft_top_word_count` top-word multiplicity,
    * dist2 = |distinct 2-grams| via the native `graft_shingles` set).
    * Replaces (r19 optimization) the exploded/windowed construction that
    * paid an Exchange(doc_id)+sort plus a (doc_id, word) aggregate.
    * Null-text documents are dropped, exactly as `posexplode` of a null
    * words array dropped them. Shared by q75 and [[funnelFlagsOver]].
    */
  private[queries] def qualityStats(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        size(Sketches.words(col("text"))).cast("long").as("n_words"),
        call_function("graft_top_word_count", col("text")).as("maxc"),
        size(Sketches.shingles(col("text"), 2)).cast("long").as("dist2"))

  /** The funnel's L17 eval-contamination model: distinct 3-gram
    * fingerprints of the EVAL documents (`doc_id % 97 == 0` — the same
    * held-out rule the split stage uses). Exposed so the incremental
    * funnel can FREEZE this model at corpus-build time: nightly appends
    * must not let an arriving eval document retroactively contaminate
    * (and thus retract) already-shipped training rows — in production the
    * decontamination set is a pinned input, not something each increment
    * re-derives (the q85 shape).
    */
  def evalGramFingerprints(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    // filter-then-shingle: shingles are per-document (the window partitions
    // by doc_id), so restricting to eval docs first computes ~1% of the
    // corpus's shingle work with identical results
    shingleRowsOf(docs.filter(col("doc_id") % 97 === 0))
      .select(TextFunctions.md5Fingerprint(col("s")).as("g")).distinct()

  /** Per-document funnel flag frame — the shared heart of q80 and the
    * funnel→shards composition ([[trainingSurvivors]]): one row per
    * non-eval document with `(doc_id, lang, split, text, canon, keep,
    * dirty)`, each flag derived EXACTLY as its standalone operator
    * derives it (L1 canonical keeper, L16 repetition/quality keep, L17
    * 3-gram contamination, L14 deterministic split). The scan is shared,
    * the flags are independent columns joined by doc id, and the only
    * wide operations are the same bounded shuffles the standalone
    * operators use (fp groupBy, per-doc window, broadcast eval set).
    */
  def funnelFlags(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val docs = Tables.documents(s, d)
    // self-eval semantics: the contamination model is the same corpus's
    // eval docs (the incremental funnel instead FREEZES a prebuilt model
    // — see evalGramFingerprints / IncrementalFunnel)
    funnelFlagsOver(docs, evalGramFingerprints(docs))
  }

  /** [[funnelFlags]] over an arbitrary documents frame and an EXPLICIT
    * contamination model (`evalGrams`: one distinct `g` fingerprint
    * column). The registered funnel passes the corpus's own eval grams;
    * the incremental funnel passes the model frozen at corpus build.
    * Flag semantics are unchanged: L1 canonical keeper (min doc id per
    * content fingerprint WITHIN `docs`), L16 repetition/quality keep,
    * L17 contamination vs `evalGrams`, L14 deterministic split; eval
    * documents (`doc_id % 97 == 0`) are excluded from the output rows.
    */
  def funnelFlagsOver(docs: org.apache.spark.sql.DataFrame,
      evalGrams: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // L1: canonical = min doc_id of the content-fingerprint cluster
    val canon = docs
      .withColumn("fp", TextFunctions.md5Fingerprint(col("text")))
      .groupBy(col("fp")).agg(min(col("doc_id")).as("keeper"))
    // L16: repetition/quality keep flag (q75's exact construction —
    // the shared map-side qualityStats projection since r19)
    val quality = qualityStats(docs)
      .select(col("doc_id"),
        (col("n_words") >= 10 &&
          col("maxc").cast("double") / col("n_words").cast("double") <= 0.2 &&
          when(col("n_words") >= 2,
            lit(1.0) - col("dist2").cast("double") / (col("n_words") - 1).cast("double"))
            .otherwise(lit(0.0)) <= 0.3).as("keep"))
    // L17: contaminated = shares any 3-gram fingerprint with the eval set
    val grams = shingleRowsOf(docs)
      .select(col("doc_id"), TextFunctions.md5Fingerprint(col("s")).as("g"))
    val dirty = grams.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(evalGrams), Seq("g"))
      .select(col("doc_id")).distinct()
      .withColumn("contaminated", lit(true))
    // L14: deterministic split (eval docs excluded from the corpus)
    val h = pmod(TextFunctions.md5Fingerprint(
      concat(lit("split:"), col("doc_id").cast("string"))), lit(100L))
    docs.filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"), col("lang"), col("source"), col("text"),
        TextFunctions.md5Fingerprint(col("text")).as("fp"),
        when(h < TrainPct, "train")
          .when(h < TrainPct + ValPct, "val")
          .otherwise("test").as("split"))
      .join(canon, Seq("fp"))
      .join(quality, Seq("doc_id"))
      .join(dirty, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("source"), col("split"), col("text"),
        (col("doc_id") === col("keeper")).as("canon"),
        col("keep"), coalesce(col("contaminated"), lit(false)).as("dirty"))
  }

  /** DuckDB twin of [[funnelFlags]] as a WITH-body ending in
    * `base(doc_id, lang, source, text, split, canon, keep, dirty)` — the
    * ONE source of truth for the funnel's oracle CTEs (q80 and q86 both
    * interpolate it; the qualityScoreSql de-duplication rule).
    */
  private[queries] def funnelBaseCtesSql: String = {
    val fp = TextFunctions.md5FingerprintSql("text")
    val h = TextFunctions.md5FingerprintSql("'split:' || CAST(d.doc_id AS VARCHAR)")
    val ws = Sketches.wordsSql("text")
    val shed = Sketches.shinglesSql("text", ShingleN)
    val gfp = TextFunctions.md5FingerprintSql("s")
    s"""canon AS (SELECT $fp AS fp, MIN(doc_id) AS keeper
          FROM documents GROUP BY 1),
        a AS (SELECT doc_id, $ws AS ws FROM documents),
        g AS (SELECT doc_id, len(ws) AS n_words,
            len(list_distinct(list_transform(generate_series(1, len(ws) - 1),
              i -> ws[i] || ' ' || ws[i + 1]))) AS dist2 FROM a),
        wc AS (SELECT doc_id, word, COUNT(*) AS c
          FROM (SELECT doc_id, unnest(ws) AS word FROM a) GROUP BY 1, 2),
        mx AS (SELECT doc_id, MAX(c) AS maxc FROM wc GROUP BY 1),
        quality AS (SELECT g.doc_id,
            (n_words >= 10
             AND CAST(maxc AS DOUBLE) / CAST(n_words AS DOUBLE) <= 0.2e0
             AND (CASE WHEN n_words >= 2
                  THEN 1.0e0 - CAST(dist2 AS DOUBLE) / CAST(n_words - 1 AS DOUBLE)
                  ELSE 0.0e0 END) <= 0.3e0) AS keep
          FROM g JOIN mx ON mx.doc_id = g.doc_id),
        sh AS (SELECT doc_id, unnest(s) AS s FROM
          (SELECT doc_id, $shed AS s FROM documents)),
        hg AS (SELECT doc_id, $gfp AS g FROM sh),
        dirty AS (SELECT DISTINCT tr.doc_id FROM hg tr
          JOIN (SELECT DISTINCT g FROM hg WHERE doc_id % 97 = 0) ev
            ON ev.g = tr.g
          WHERE tr.doc_id % 97 <> 0),
        base AS (SELECT d.doc_id, d.lang, d.source, d.text,
            CASE WHEN $h % 100 < $TrainPct THEN 'train'
                 WHEN $h % 100 < ${TrainPct + ValPct} THEN 'val'
                 ELSE 'test' END AS split,
            d.doc_id = canon.keeper AS canon,
            quality.keep AS keep,
            dirty.doc_id IS NOT NULL AS dirty
          FROM documents d
          JOIN canon ON canon.fp = $fp
          JOIN quality ON quality.doc_id = d.doc_id
          LEFT JOIN dirty ON dirty.doc_id = d.doc_id
          WHERE d.doc_id % 97 <> 0)"""
  }

  /** The corpus the funnel keeps: canonical, quality-passing,
    * uncontaminated documents with their split assignment — q80's
    * `n_clean` rows as data instead of counts.
    */
  def trainingSurvivors(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame =
    funnelFlags(s, d)
      .filter(col("canon") && col("keep") && !col("dirty"))
      .select(col("doc_id"), col("lang"), col("split"), col("text"))

  /** [[trainingSurvivors]] over an arbitrary documents frame and an
    * explicit contamination model — the from-scratch-rebuild comparator
    * the incremental funnel is proven against (TrainingShardsSpec /
    * IncrementalFunnelSpec).
    */
  def trainingSurvivorsOver(docs: org.apache.spark.sql.DataFrame,
      evalGrams: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    funnelFlagsOver(docs, evalGrams)
      .filter(col("canon") && col("keep") && !col("dirty"))
      .select(col("doc_id"), col("lang"), col("split"), col("text"))

  /** Flagship end-to-end pipeline: corpus in → funnel (dedup → quality →
    * decontaminate → split) → deterministic training shards on disk, as
    * ONE composition — `trainingSurvivors` through
    * [[graft.sinks.ShardWriter]]. Shard membership is a pure salted hash
    * of doc_id and within-shard order is the key sort, so a re-run over
    * the same corpus reproduces the identical layout byte-for-byte at the
    * row level (TrainingShardsSpec proves it); at 100 TB the whole thing
    * is the funnel's bounded shuffles plus the writer's single exchange.
    */
  def writeTrainingShards(s: org.apache.spark.sql.SparkSession, d: String,
      outDir: String, nShards: Int = 64, maxRecordsPerFile: Long = 1000000L,
      redactPii: Boolean = true): Unit = {
    // production default: shards ship scrubbed (L22) — a pure map-side
    // projection on the already-filtered survivor rows, so it changes
    // neither shard membership nor within-shard order
    val rows = trainingSurvivors(s, d)
    val out = if (redactPii) {
      rows.withColumn("text", TextFunctions.redactPii(col("text")))
    } else rows
    graft.sinks.ShardWriter.write(out, "doc_id", nShards, outDir, maxRecordsPerFile)
  }

  /** [[writeTrainingShards]] over an arbitrary documents frame and an
    * explicit contamination model — the from-scratch rebuild the
    * incremental funnel ([[IncrementalFunnel.updateTrainingShards]]) is
    * proven row-equal to.
    */
  def writeTrainingShardsOver(docs: org.apache.spark.sql.DataFrame,
      evalGrams: org.apache.spark.sql.DataFrame, outDir: String,
      nShards: Int = 64, maxRecordsPerFile: Long = 1000000L,
      redactPii: Boolean = true): Unit = {
    val rows = trainingSurvivorsOver(docs, evalGrams)
    val out = if (redactPii) {
      rows.withColumn("text", TextFunctions.redactPii(col("text")))
    } else rows
    graft.sinks.ShardWriter.write(out, "doc_id", nShards, outDir, maxRecordsPerFile)
  }

  /** L11 with its recall dials exposed: the EXACT pipeline q70 registers
    * (broadcast-codebook argmax assignment, probes broadcast so the corpus
    * is never shuffled on cell), parameterized on `nprobe` (cells probed
    * per query) and `centroidStep` (codebook stride — K ≈ n/centroidStep).
    * The registered q70 is `ivfTopK(s, d)` at the defaults; AnnRecallSpec
    * sweeps nprobe over the planted-twin corpus to measure the
    * recall-vs-dial curve the defaults are chosen from.
    */
  def ivfTopK(s: org.apache.spark.sql.SparkSession, d: String,
      nprobe: Int = NProbe, centroidStep: Int = CentroidStep)
      : org.apache.spark.sql.DataFrame = {
    val e = CacheScope.tracked(Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        Sketches.norm(col("embedding"), Dims).as("nrm")))
    val c = e.filter(col("vec_id") % centroidStep === 0)
      .select(col("vec_id").as("c_id"), col("embedding").as("ce"),
        col("nrm").as("cn"))
    def centroidCos = Sketches.cosineFromParts(
      Sketches.dot(col("embedding"), col("ce"), Dims), col("nrm"), col("cn"))
    // one cell per vector: argmax cosine over the broadcast codebook,
    // ties to the lowest centroid id (struct max on (cos, -c_id))
    val asn = e.crossJoin(broadcast(c))
      .select(col("vec_id"), col("c_id"), centroidCos.as("ccos"))
      .groupBy(col("vec_id"))
      .agg(max_by(col("c_id"), struct(col("ccos"), -col("c_id"))).as("cell"))
    // the query workload is the small side by definition — ranking its
    // nprobe probes with a window is per-query work, not corpus work
    val probes = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("embedding"), col("nrm"))
      .crossJoin(broadcast(c))
      .select(col("q_id"), col("c_id"), centroidCos.as("ccos"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("ccos").desc, col("c_id"))))
      .filter(col("rn") <= nprobe)
      .select(col("q_id"), col("c_id").as("cell"))
    // probes is |queries|·nprobe rows — broadcast it so the corpus-
    // sized assignment table is NEVER shuffled on cell (map-side hash
    // join against the cells each query probes), and broadcast the
    // query-side embeddings the same way q38 broadcasts its query set
    val cand = asn.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("cell"))
    val qemb = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
        col("nrm").as("qn"))
    val scored = cand
      .join(broadcast(qemb), Seq("q_id"))
      .join(e, Seq("vec_id"))
      .withColumn("cos", Sketches.cosineFromParts(
        Sketches.dot(col("qe"), col("embedding"), Dims), col("qn"), col("nrm")))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rank") <= TopK)
      .select(col("q_id"), col("rank").cast("long").as("rank"),
        col("vec_id"), col("cell"), col("cos"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** L6 brute-force cosine top-k builder (the ANN correctness baseline;
    * query set = vec_id % 50 == 0, broadcast against the full table) —
    * factored out of q38 so the L90 rank-agreement audit (q158) measures
    * the REGISTERED baseline, not a copy.
    */
  private[queries] def bruteTopK(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val e = CacheScope.tracked(Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        Sketches.norm(col("embedding"), Dims).as("nrm")))
    val q = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("nrm").as("qn"))
    broadcast(q).join(e, col("vec_id") =!= col("q_id"))
      .withColumn("cos", Sketches.cosineFromParts(
        Sketches.dot(col("qe"), col("embedding"), Dims), col("qn"), col("nrm")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rank") <= TopK)
      .select(col("q_id"), col("rank").cast("long").as("rank"),
        col("vec_id"), col("cos"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** DuckDB twin of [[bruteTopK]]'s ranking as CTEs ending in
    * `name(q_id, vec_id, cos, rank)` (unfiltered rank — consumers cut at
    * their own depth). The unrolled cosine lands in a stored column
    * before the window orders by it (the r13 mmap rule).
    */
  private[queries] def bruteRankedCtesSql(name: String): String = {
    val dot = Sketches.dotSql("q.embedding", "e.embedding", Dims)
    val qn = Sketches.normSql("q.embedding", Dims)
    val en = Sketches.normSql("e.embedding", Dims)
    s"""${name}_pairs AS MATERIALIZED (
        SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
          ${Sketches.cosineSql(dot, qn, en)} AS cos
        FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
        WHERE q.vec_id % 50 = 0),
      $name AS (SELECT *, row_number() OVER
        (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
        FROM ${name}_pairs)"""
  }

  /** DuckDB twin of [[ivfTopK]] at the default dials as CTEs ending in
    * `name(q_id, vec_id, cell, cos, rank)` (unfiltered rank) — factored
    * out of q70's oracle for the same one-source-of-truth reason, with
    * its staged MATERIALIZED shapes intact (see q70's scaladoc for the
    * mmap history).
    */
  private[queries] def ivfRankedCtesSql(name: String): String = {
    val ccos = Sketches.cosineSql(
      Sketches.dotSql("e.embedding", "c.embedding", Dims),
      Sketches.normSql("e.embedding", Dims),
      Sketches.normSql("c.embedding", Dims))
    val qcos = Sketches.cosineSql(
      Sketches.dotSql("q.embedding", "e.embedding", Dims),
      Sketches.normSql("q.embedding", Dims),
      Sketches.normSql("e.embedding", Dims))
    s"""${cellAsnCtesSql()},
      ${name}_prsc AS MATERIALIZED (SELECT e.vec_id AS q_id, c.c_id,
          $ccos AS ccos
        FROM embeddings e CROSS JOIN c WHERE e.vec_id % 50 = 0),
      ${name}_pr AS MATERIALIZED (SELECT q_id, c_id AS cell FROM (
        SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
          ORDER BY ccos DESC, c_id) AS rn FROM ${name}_prsc)
        WHERE rn <= $NProbe),
      ${name}_cand AS (SELECT pr.q_id, a.vec_id, a.cell
        FROM ${name}_pr pr JOIN asn a ON a.cell = pr.cell
        WHERE a.vec_id <> pr.q_id),
      ${name}_scored AS MATERIALIZED (
        SELECT cand.q_id, cand.vec_id, cand.cell, $qcos AS cos
        FROM ${name}_cand cand JOIN embeddings q ON q.vec_id = cand.q_id
          JOIN embeddings e ON e.vec_id = cand.vec_id),
      $name AS (SELECT *, row_number() OVER (PARTITION BY q_id
          ORDER BY cos DESC, vec_id) AS rank FROM ${name}_scored)"""
  }

  /** Cached narrow embedding frame (id, vector, precomputed norm) — the
    * shared input of every embedding-space operator (q70/q72/q92/q104).
    */
  private[queries] def embeddingFrame(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    CacheScope.tracked(Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        Sketches.norm(col("embedding"), Dims).as("nrm")))

  /** Broadcast-codebook cell assignment (the IVF/SemDeDup quantizer step,
    * shared by q92 and q104): every CentroidStep-th vector seeds the
    * codebook, each vector joins the BROADCAST codebook and takes the
    * argmax-cosine centroid (ties to the lowest centroid id via struct
    * max on (cos, -c_id)). The corpus is never shuffled — one broadcast
    * NLJ plus a map-side-combined max_by aggregate per vector.
    */
  private[queries] def cellAssignOf(e: org.apache.spark.sql.DataFrame,
      centroidStep: Int = CentroidStep): org.apache.spark.sql.DataFrame =
    cellAgg(e, centroidStep, carryVec = false)

  /** [[cellAssignOf]] carrying the vector THROUGH the argmax aggregate
    * (`first(embedding)` is well-defined: the vector is functionally
    * dependent on `vec_id`, every row of the group holds the same value),
    * so downstream per-cell vector math needs no corpus-sized re-join on
    * `vec_id` — the quantizer-refinement shape (q105).
    */
  private[queries] def cellAssignCarryingVec(e: org.apache.spark.sql.DataFrame,
      centroidStep: Int = CentroidStep): org.apache.spark.sql.DataFrame =
    cellAgg(e, centroidStep, carryVec = true)

  /** [[cellAssignOf]] carrying each vector's best (assigned-centroid)
    * cosine through the argmax aggregate as `best_cos` — the
    * prototypicality/outlier signal (q111): distance-to-assigned-centroid
    * is exactly 1 − best_cos. Same plan shape (broadcast NLJ + map-side
    * argmax), one extra `max` running alongside the `max_by`.
    */
  private[queries] def cellAssignWithCos(e: org.apache.spark.sql.DataFrame,
      centroidStep: Int = CentroidStep): org.apache.spark.sql.DataFrame =
    cellAggWith(e,
      e.filter(col("vec_id") % centroidStep === 0)
        .select(col("vec_id").as("c_id"), col("embedding").as("ce"),
          col("nrm").as("cn")),
      carryVec = false, carryCos = true)

  private def cellAgg(e: org.apache.spark.sql.DataFrame, centroidStep: Int,
      carryVec: Boolean): org.apache.spark.sql.DataFrame =
    cellAggWith(e,
      e.filter(col("vec_id") % centroidStep === 0)
        .select(col("vec_id").as("c_id"), col("embedding").as("ce"),
          col("nrm").as("cn")),
      carryVec, carryCos = false)

  /** Assignment against an EXPLICIT codebook `(c_id, ce, cn)` — the
    * [[cellAgg]] kernel with the stride sampling factored out, so
    * [[refineCodebook]] can iterate it against a trained codebook.
    * `carryCos` additionally carries each vector's best cosine through
    * the aggregate (`best_cos`) for inertia tracking.
    */
  private[queries] def cellAggWith(e: org.apache.spark.sql.DataFrame,
      c: org.apache.spark.sql.DataFrame, carryVec: Boolean,
      carryCos: Boolean): org.apache.spark.sql.DataFrame = {
    val centroidCos = Sketches.cosineFromParts(
      Sketches.dot(col("embedding"), col("ce"), Dims), col("nrm"), col("cn"))
    val scored = e.crossJoin(broadcast(c))
      .select(col("vec_id") +: col("c_id") +: centroidCos.as("ccos") +:
        (if (carryVec) Seq(col("embedding")) else Nil): _*)
    val cellOf = max_by(col("c_id"), struct(col("ccos"), -col("c_id"))).as("cell")
    val extras =
      (if (carryVec) Seq(first(col("embedding")).as("embedding")) else Nil) ++
        (if (carryCos) Seq(max(col("ccos")).as("best_cos")) else Nil)
    scored.groupBy(col("vec_id")).agg(cellOf, extras: _*)
  }

  /** Iterated Lloyd/k-means training of the quantizer codebook — the job
    * that PRODUCES the codebook the IVF/SemDeDup/balance operators
    * (q70/q92/q104) consume as an input at production scale (their
    * in-query stride sampling is the init/fixture stand-in; see the q70
    * scaladoc). q105 registers one oracle-gated step of exactly this loop.
    *
    * Per iteration: broadcast the current codebook, assign each vector
    * map-side (one broadcast NLJ + map-side-combined argmax — the corpus
    * is never shuffled), reduce members to |cells|·Dims quantized
    * component sums (the q105 aggregate), and collect ONLY the
    * |cells|·Dims-row new codebook to the driver — the codebook is
    * broadcast state by definition (kilobytes at production K), so this
    * is orchestration, not a driver funnel. Cells that lose all members
    * drop out (standard Lloyd; K can only shrink).
    *
    * Returns the final codebook and the per-iteration mean inertia
    * (1 − best cosine, measured BEFORE that iteration's recentering) —
    * non-increasing across iterations up to quantization noise.
    */
  /** Shared verified near-dup pair kernel (q72 single-pass assignment,
    * q78 transitive clustering): banded hyperplane-signature candidates →
    * exact cosine >= NearDupTau — one (a_id, b_id, pcos) row per verified
    * pair, a_id < b_id. Ids-only ride the band and pair shuffles;
    * embeddings re-join by id for the verify; the hot-bucket guard runs
    * in the executed plan (`embed_hot_buckets`).
    *
    * `bandBits` is the occupancy dial: 2 bands of `bandBits` bits each,
    * so expected bucket population is n / 2^bandBits — the quadratic
    * candidate term is n·occupancy. The DEFAULT is data-scaled
    * ([[bandBitsFor]]): bits grow with log2(n) to hold occupancy (and
    * therefore per-row candidate work) constant as the corpus grows —
    * the fix for the one super-linear 10× ScaleRehearsal ratio the fixed
    * 8-bit constant caused. ScaleRehearsal's `dial` mode prints the
    * measured wall/pair-count evidence at 1×@8, 10×@8 and 10×@11.
    */
  /** Occupancy-targeted band width: the narrowest `bandBits ≥ 8` with
    * expected bucket population n / 2^bandBits ≤ [[BandOccupancyTarget]].
    * The floor keeps every driver-gated SF (n ≤ 2000 embeddings) at the
    * historical 8 bits — the baked 16-bit-signature oracles stay
    * hash-identical — while 10× rehearsal data (n = 20000) gets 11 bits
    * and production corpora keep scaling, capped at 31 (62-bit
    * signatures still fit the LONG sig column).
    */
  private[graft] val BandOccupancyTarget = 12L
  private[graft] def bandBitsFor(n: Long): Int = {
    def ceilLog2(x: Long): Int =
      if (x <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(x - 1)
    // overflow-safe ceiling divide: (n + C - 1) wraps near Long.MaxValue
    val buckets = if (n <= 0L) 1L else (n - 1) / BandOccupancyTarget + 1
    math.min(31, math.max(8, ceilLog2(buckets)))
  }

  /** Adaptive-default form — resolves the dial from the corpus row count
    * read DIRECTLY from the parquet footers ([[Tables.footerRowCount]]:
    * driver-side metadata I/O, zero Spark jobs — VERDICT r18 #2; the
    * previous `df.count()` here was eager work inside a query builder),
    * memoized on the immutable fixture dir; a production deployment
    * would resolve it from catalog stats.
    */
  private val bandBitsMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  /** Drop every memoized dial width (band bits + minhash rows-per-band).
    * The memo key is the directory PATH, so an in-process fixture rebuild
    * at a different scale under the same path (ScaleRehearsal rewrites
    * `target/scaleN` between modes) must call this right after writing —
    * the RetrievalOps.resetStrideMemo stance (ADVICE r15).
    */
  private[graft] def resetDialMemos(): Unit = {
    bandBitsMemo.clear(); minhashRowsMemo.clear()
  }

  private[graft] def embedNearDupPairs(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val bits = bandBitsMemo.computeIfAbsent(d, _ => Integer.valueOf(
      bandBitsFor(Tables.footerRowCount(s, d, "embeddings"))))
    embedNearDupPairs(s, d, bits.intValue())
  }

  /** The candidate half of the kernel — banded signature equi-join
    * BEFORE the exact-cosine verify. Exposed so ScaleRehearsal's dial
    * can measure cost (candidate count, the quadratic term bandBits
    * bounds) separately from recall (verified pairs surviving the
    * cosine gate).
    */
  private[graft] def embedCandidatePairs(
      s: org.apache.spark.sql.SparkSession,
      d: String, bandBits: Int): org.apache.spark.sql.DataFrame = {
    require(bandBits >= 1 && bandBits <= 31, "bandBits in [1, 31]")
    val mask = (1L << bandBits) - 1L
    val sigs = Tables.embeddings(s, d)
      .select(col("vec_id"),
        Sketches.hyperplaneSigN(col("embedding"), Dims, 2 * bandBits).as("sig"))
    val bands = Skew.dropHotBuckets(
      sigs.select(col("vec_id"),
        posexplode(array(col("sig").bitwiseAND(lit(mask)),
          shiftright(col("sig"), bandBits).bitwiseAND(lit(mask))))
          .as(Seq("bi", "bv"))),
      Seq("bi", "bv"), HotBucketCap,
      observeAs = Some("embed_hot_buckets"))
    bands
      .join(bands.select(col("vec_id").as("b_id"), col("bi"), col("bv")),
        Seq("bi", "bv"))
      .filter(col("vec_id") < col("b_id"))
      .select(col("vec_id").as("a_id"), col("b_id")).distinct()
  }

  private[graft] def embedNearDupPairs(s: org.apache.spark.sql.SparkSession,
      d: String, bandBits: Int): org.apache.spark.sql.DataFrame = {
    val emb = CacheScope.tracked(Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        Sketches.norm(col("embedding"), Dims).as("nrm")))
    val cand = embedCandidatePairs(s, d, bandBits)
    cand
      .join(emb.select(col("vec_id").as("a_id"), col("embedding").as("ae"),
        col("nrm").as("an")), Seq("a_id"))
      .join(emb.select(col("vec_id").as("b_id"), col("embedding").as("be"),
        col("nrm").as("bn")), Seq("b_id"))
      .withColumn("cos", Sketches.cosineFromParts(
        Sketches.dot(col("ae"), col("be"), Dims), col("an"), col("bn")))
      .filter(col("cos") >= NearDupTau)
      .select(col("a_id"), col("b_id"), col("cos").as("pcos"))
  }

  def refineCodebook(s: org.apache.spark.sql.SparkSession, d: String,
      iterations: Int = 2, centroidStep: Int = CentroidStep)
      : (Seq[(Long, Array[Float])], Seq[Double]) = {
    require(iterations >= 1, "at least one Lloyd iteration")
    val e = embeddingFrame(s, d)
    var code: Seq[(Long, Array[Float])] =
      e.filter(col("vec_id") % centroidStep === 0)
        .select(col("vec_id"), col("embedding"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    val inertias = Seq.newBuilder[Double]
    for (_ <- 1 to iterations) {
      import s.implicits._
      val cdf = code.toDF("c_id", "ce")
        .withColumn("cn", Sketches.norm(col("ce"), Dims))
      val asn = cellAggWith(e, cdf, carryVec = true, carryCos = true)
      inertias += asn.agg(avg(lit(1.0) - col("best_cos")))
        .as[Double].head()
      val comps = asn
        .select(col("cell"), posexplode(col("embedding")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(floor(col("col").cast("double") * lit(1e6)).cast("long"))
          .as("sq"), count(lit(1)).as("n"))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      code = comps.groupBy(_._1).toSeq.sortBy(_._1).map { case (cid, rows) =>
        val vec = new Array[Float](Dims)
        rows.foreach { case (_, pos, sq, n) =>
          vec(pos) = ((sq.toDouble / n.toDouble) / 1e6).toFloat
        }
        (cid, vec)
      }
    }
    (code, inertias.result())
  }

  /** DuckDB twin of [[cellAssignOf]] as CTEs `c`,
    * `asn(vec_id, cell, ccos)` — shared by the q92/q104/q105/q111 oracles
    * so the quantizer has exactly one SQL source of truth (`ccos` is the
    * assigned-centroid cosine, [[cellAssignWithCos]]'s `best_cos`;
    * consumers that don't need it ignore the column).
    *
    * `asn` (and the scored `asn_sc` stage inside [[asnOverCtesSql]]) is
    * declared MATERIALIZED: DuckDB inlines plain CTEs, and a consumer
    * that references `asn` twice (q92's candidate self-join) re-executes
    * the 64-wide unrolled-cosine stage per reference — measured to
    * fragment the oracle process into >30k mmap regions at sf0.001,
    * enough for two adjacent embedding oracles to hit vm.max_map_count
    * (65530) and fail ALL later allocations in the sweep ("bad
    * allocation" at 2 KB with 120 GB free). Materializing the
    * |corpus|-row (vec_id, cell) table keeps the whole sweep ~1k maps,
    * and the r12 staged-argmax rewrite (see [[asnOverCtesSql]]) removed
    * the per-vec window whose sort state was the remaining peak-memory
    * term in the driver's long-lived checker process. Oracle-side only;
    * the Spark plan is unaffected.
    */
  private[queries] def cellAsnCtesSql(
      centroidStep: Int = CentroidStep): String =
    s"""c AS (SELECT vec_id AS c_id, embedding FROM embeddings
              WHERE vec_id % $centroidStep = 0),
          ${asnOverCtesSql("asn", "c", "embeddings")}"""

  /** The argmax-cosine assignment CTE alone, against an explicit codebook
    * CTE `cbName(c_id, embedding)` and an arbitrary `(vec_id, embedding)`
    * relation — the [[cellAsnCtesSql]] kernel factored out so oracles
    * that need TWO assignment tables against one frozen codebook (the
    * incremental shape, q123) keep one SQL source of truth. Emits
    * `asnName(vec_id, cell, ccos)`, MATERIALIZED (the mmap lesson).
    */
  private[queries] def asnOverCtesSql(asnName: String, cbName: String,
      srcSql: String): String = {
    val ccos = Sketches.cosineSql(
      Sketches.dotSql("e.embedding", "c.embedding", Dims),
      Sketches.normSql("e.embedding", Dims),
      Sketches.normSql("c.embedding", Dims))
    // Staged max + join-back instead of a row_number window (VERDICT r12
    // #1): the 64-wide unrolled cosine evaluates exactly ONCE into the
    // MATERIALIZED `_sc` scored table (the window form referenced $ccos in
    // both the projection and the ORDER BY, and its per-vec_id sort held
    // |corpus|·K rows of window state at peak); the argmax is then two
    // streaming hash aggregates over plain stored doubles. Keeping `_sc`
    // MATERIALIZED is measured, not assumed (ADVICE r13 #1 proposed
    // dropping it): in a driver-shaped single-connection sweep the
    // materialized form grew the process map count LESS than the
    // recompute-twice plain-CTE form (~1.0k vs ~2.3k regions per
    // execution, tools/driver_sim.py) and ran faster; the r13 OOM shift
    // was q70's own un-shared window-form oracle, fixed below. Tie-break
    // MIN(c_id) at max ccos ≡ the old window's `ORDER BY ccos DESC, c_id`
    // rn=1, so every consumer's values (and the driver's hashes) are
    // unchanged. The join is null-SAFE (ADVICE r13 #4): a zero-norm
    // vector scores NULL against every centroid (cosineSql's guard), and
    // `IS NOT DISTINCT FROM` keeps its group — MIN(c_id) over the all-NULL
    // rows ≡ the engine's `max_by(c_id, struct(ccos, -c_id))`, whose
    // nulls-first struct ordering resolves the all-NULL tie to the LOWEST
    // centroid id with a NULL best_cos (measured on the kernel, not
    // assumed: cell=min c_id, best_cos=NULL).
    s"""${asnName}_sc AS MATERIALIZED (
            SELECT e.vec_id, c.c_id, $ccos AS ccos
            FROM $srcSql e CROSS JOIN $cbName c),
          ${asnName}_mx AS (SELECT vec_id, MAX(ccos) AS best
            FROM ${asnName}_sc GROUP BY vec_id),
          $asnName AS MATERIALIZED (
            SELECT s.vec_id, MIN(s.c_id) AS cell, MAX(s.ccos) AS ccos
            FROM ${asnName}_sc s JOIN ${asnName}_mx m
              ON m.vec_id = s.vec_id AND s.ccos IS NOT DISTINCT FROM m.best
            GROUP BY s.vec_id)"""
  }

  /** L27 with its dials exposed: the EXACT pipeline q92 registers
    * (cell-based candidates, exact-cosine verify, min-id survivor),
    * parameterized on `centroidStep` (codebook stride — cell size vs
    * boundary-miss trade) and `tau` (verify threshold). The registered
    * q92 is `semDedupCells(s, d)` at the defaults; AnnRecallSpec sweeps
    * centroidStep to measure twin recall and candidate-pair count —
    * the quantizer-balance trade the dial controls.
    */
  def semDedupCells(s: org.apache.spark.sql.SparkSession, d: String,
      centroidStep: Int = CentroidStep, tau: Double = NearDupTau)
      : org.apache.spark.sql.DataFrame = {
    val e = embeddingFrame(s, d)
    val asn = cellAssignOf(e, centroidStep)
    // ids-only candidate pairs within a cell (a_id < b_id)
    val cand = asn.select(col("cell"), col("vec_id").as("a_id"))
      .join(asn.select(col("cell"), col("vec_id").as("b_id")), Seq("cell"))
      .filter(col("a_id") < col("b_id"))
    // exact-cosine verify: embeddings re-join by id
    val ea = e.select(col("vec_id").as("a_id"), col("embedding").as("ae"),
      col("nrm").as("an"))
    val eb = e.select(col("vec_id").as("b_id"), col("embedding").as("be"),
      col("nrm").as("bn"))
    val verified = cand.join(ea, Seq("a_id")).join(eb, Seq("b_id"))
      .filter(Sketches.cosineFromParts(
        Sketches.dot(col("ae"), col("be"), Dims),
        col("an"), col("bn")) >= tau)
    val dup = verified.groupBy(col("b_id")).agg(min(col("a_id")).as("dup_of"))
    asn.join(dup, col("vec_id") === col("b_id"), "left")
      .select(col("vec_id"), col("cell"), col("dup_of"))
      .orderBy(col("vec_id"))
  }

  /** Shared MinHash signature frame over the shingle rows: md5 each
    * shingle ONCE through codegen'd scalar expressions, then take the 16
    * family minima as plain hash aggregates with map-side partial combine
    * — the 100 TB-safe shape. Shared by q35/q36 and the calibration
    * operator (q103).
    */
  private[queries] def signaturesOf(ex: org.apache.spark.sql.DataFrame,
      numHashes: Int = Sketches.NumHashes): org.apache.spark.sql.DataFrame =
    ex.withColumn("h", Sketches.h64(col("s")))
      .groupBy(col("doc_id"))
      .agg(Sketches.minhashAgg(0, col("h")).as("s0"),
        (1 until numHashes).map(i =>
          Sketches.minhashAgg(i, col("h")).as(s"s$i")): _*)

  /** LSH band rows `(doc_id, band, bh)` from a signature frame, with the
    * hot-bucket skew guard IN the plan (observable via `observeName`).
    * Shared by q36 and q103 — one construction, one guard contract.
    */
  private[queries] def lshBands(sig: org.apache.spark.sql.DataFrame,
      observeName: String,
      rowsPerBand: Int = Sketches.RowsPerBand): org.apache.spark.sql.DataFrame =
    Skew.dropHotBuckets(
      sig.select(col("doc_id"), explode(array(
          (0 until Sketches.Bands).map(b =>
            struct(lit(b).as("band"),
              Sketches.bandHash(b, rowsPerBand).as("bh"))): _*)).as("e"))
        .select(col("doc_id"), col("e.band").as("band"), col("e.bh").as("bh")),
      Seq("band", "bh"), HotBucketCap,
      observeAs = Some(observeName))

  /** Distinct candidate pairs `(a, b)`, a < b, from an LSH band frame —
    * the one quadratic term of the near-dup path, bounded per-bucket by
    * the skew guard upstream.
    */
  private[queries] def lshCandidates(bands: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()

  /** The banded-candidate half of the text near-dup kernel with the
    * rows-per-band dial exposed — the quadratic term ScaleRehearsal's
    * minhash dial measures separately from recall (verified pairs).
    */
  private[graft] def textCandidatePairs(s: org.apache.spark.sql.SparkSession,
      d: String, rowsPerBand: Int): org.apache.spark.sql.DataFrame = {
    require(rowsPerBand >= 1 && rowsPerBand <= 8, "rowsPerBand in [1, 8]")
    val sig = signaturesOf(shingleRows(s, d), Sketches.Bands * rowsPerBand)
    lshCandidates(lshBands(sig, "text_neardup_hot_buckets", rowsPerBand))
  }

  /** q36's EXACT kernel with the corpus-scaled rows-per-band dial
    * (VERDICT r12 #4 — [[Sketches.rowsPerBandFor]]'s occupancy treatment
    * for the text MinHash family): banded candidates at `Bands × r`
    * signature geometry, exact-Jaccard verified at [[JaccardThreshold]].
    * The registered q36/q103/q126 stay at the baked 4×4 floor (their
    * oracles bake the 16-hash signature); this form is the production
    * default — r grows ~one row per decade of corpus, holding the random
    * candidate mass (the path's quadratic term) near its small-corpus
    * level, measured by ScaleRehearsal's `minhashdial` mode.
    */
  private[graft] def textNearDupPairs(s: org.apache.spark.sql.SparkSession,
      d: String, rowsPerBand: Int): org.apache.spark.sql.DataFrame = {
    val ex = shingleRows(s, d)
    val sig = signaturesOf(ex, Sketches.Bands * rowsPerBand)
    val cand = lshCandidates(
      lshBands(sig, "text_neardup_hot_buckets", rowsPerBand))
    jaccardVerify(ex, cand)
  }

  private val minhashRowsMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  /** Adaptive-default form — rows-per-band resolved from the corpus row
    * count read from parquet footers ([[Tables.footerRowCount]]: zero
    * Spark jobs at plan-build time, VERDICT r18 #2), memoized per
    * immutable fixture dir; a production deployment would resolve it
    * from catalog stats.
    */
  private[graft] def textNearDupPairs(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val rows = minhashRowsMemo.computeIfAbsent(d, _ => Integer.valueOf(
      Sketches.rowsPerBandFor(Tables.footerRowCount(s, d, "documents"))))
    textNearDupPairs(s, d, rows.intValue())
  }

  /** Exact-Jaccard verification of candidate pairs by relational
    * intersect-count over the shingle rows — q36's verify stage, shared
    * with the dial forms above so there is one kernel, one contract.
    */
  private[queries] def jaccardVerify(ex: org.apache.spark.sql.DataFrame,
      cand: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val sizes = ex.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val inter = cand
      .join(ex.as("ea"), col("a") === col("ea.doc_id"))
      .join(ex.as("eb"),
        col("b") === col("eb.doc_id") && col("ea.s") === col("eb.s"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("a"), col("sz").as("sza")), "a")
      .join(sizes.select(col("doc_id").as("b"), col("sz").as("szb")), "b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sza") + col("szb") - col("inter")))
      .filter(col("jaccard") >= JaccardThreshold)
      .select(col("a").as("doc_a"), col("b").as("doc_b"), col("jaccard"))
  }

  /** DuckDB twin of the shingle→hash→signature chain as WITH-body CTEs
    * ending in `sig(doc_id, s0..s15)` (plus `sh(doc_id, sh)` holding each
    * document's distinct-shingle array) — the ONE source of truth for the
    * MinHash oracle SQL (q35, q36 and q103 all interpolate it; the
    * qualityScoreSql de-duplication rule).
    */
  private[queries] def sigCtesSql: String = sigCtesSqlOver("documents")

  /** [[sigCtesSql]] over an arbitrary documents-shaped relation `src` —
    * operators that plant replays (q126) interpolate their union here.
    */
  private[queries] def sigCtesSqlOver(src: String): String = {
    val shed = Sketches.shinglesSql("text", ShingleN)
    val sigs = (0 until Sketches.NumHashes)
      .map(i => s"${Sketches.minhashSql("hs", i)} AS s$i").mkString(", ")
    s"""sh AS (SELECT doc_id, s AS sh FROM
          (SELECT doc_id, $shed AS s FROM $src) WHERE len(s) > 0),
        hh AS (SELECT doc_id, ${Sketches.shingleHashesSql("sh")} AS hs FROM sh),
        sig AS (SELECT doc_id, $sigs FROM hh)"""
  }

  /** DuckDB twin of [[lshBands]] (guard non-binding on the fixtures, as
    * the q36 oracle proves) + [[lshCandidates]] as CTEs `bands`, `cand` —
    * appended after [[sigCtesSql]].
    */
  private[queries] def bandCandCtesSql: String = {
    val bandSelects = (0 until Sketches.Bands).map(b =>
      s"SELECT doc_id, $b AS band, ${Sketches.bandHashSql(b)} AS bh FROM sig")
      .mkString(" UNION ALL ")
    s"""bands AS ($bandSelects),
        cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
          FROM bands x JOIN bands y
            ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id)"""
  }

  /** The L20 chunk frame `(doc_id, chunk_id, start_word, n_chunk_words,
    * chunk_fp)` over an arbitrary documents frame — q79's exact
    * construction, shared with the chunk-level dedup operator (q98).
    */
  private[queries] def chunkFrame(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val words = Sketches.words(col("text"))
    val n = size(words)
    val nc = when(n <= ChunkSize, lit(1L)).otherwise(
      ceil((n - ChunkSize).cast("double") / ChunkStride.toDouble) + 1L)
    docs
      .select(col("doc_id"), words.as("ws"), nc.as("nc"))
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(0L), col("nc") - 1L)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        (col("chunk_id") * ChunkStride).as("start_word"),
        least(size(col("ws")) - col("chunk_id") * ChunkStride, lit(ChunkSize))
          .as("n_chunk_words"),
        TextFunctions.md5Fingerprint(array_join(
          slice(col("ws"), (col("chunk_id") * ChunkStride + 1).cast("int"),
            lit(ChunkSize)), " ")).as("chunk_fp"))
  }

  /** DuckDB twin of [[chunkFrame]] over a `documents`-shaped relation
    * named by `src`, as CTEs ending in `chunks(doc_id, chunk_id,
    * start_word, n_chunk_words, chunk_fp)`.
    */
  private[queries] def chunkCtesSql(src: String = "documents"): String = {
    val ws = Sketches.wordsSql("text")
    val fp = TextFunctions.md5FingerprintSql(
      s"array_to_string(ws[CAST(chunk_id * $ChunkStride + 1 AS BIGINT):" +
        s"CAST(chunk_id * $ChunkStride + $ChunkSize AS BIGINT)], ' ')")
    s"""ca AS (SELECT doc_id, $ws AS ws FROM $src),
        cn AS (SELECT doc_id, ws, CASE WHEN len(ws) <= $ChunkSize THEN 1
            ELSE CAST(CEIL(CAST(len(ws) - $ChunkSize AS DOUBLE) / $ChunkStride.0)
              AS BIGINT) + 1 END AS nc FROM ca),
        cc AS (SELECT doc_id, ws, unnest(generate_series(0, nc - 1)) AS chunk_id
          FROM cn),
        chunks AS (SELECT doc_id, chunk_id, chunk_id * $ChunkStride AS start_word,
            LEAST(len(ws) - chunk_id * $ChunkStride, $ChunkSize) AS n_chunk_words,
            $fp AS chunk_fp
          FROM cc)"""
  }

  val all: Seq[GraftQuery] = {

    def signatures(ex: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      signaturesOf(ex)

    /* L3: MinHash signatures — 16 portable hash-family minima over distinct
     * 3-gram shingles. */
    val q35 = GraftQuery(
      "q35_minhash_signatures", "L3",
      (s, d) => signatures(shingleRows(s, d)).orderBy(col("doc_id")),
      Some(s"""WITH $sigCtesSql SELECT * FROM sig ORDER BY doc_id"""))

    /* L4: banded LSH near-dup pairs, Jaccard-verified. The oracle replicates
     * the banding (not brute force) so candidate semantics are checked.
     * 100 TB guard: the bucket self-join below is the path's one quadratic
     * term — `Skew.dropHotBuckets` runs IN the executed plan (one
     * map-side-combined count + a broadcast anti-join) so a boilerplate
     * mega-cluster is capped at HotBucketCap·n pairs instead of n². The
     * cap is far above any fixture bucket (hashes unchanged — the oracle
     * proves the guard is non-binding here); SkewBucketSpec demonstrates
     * the mega-cluster collapse and LlmPlanSpec asserts the anti-join is
     * in q36/q67's optimized plan. */
    val q36 = GraftQuery(
      "q36_lsh_neardup_pairs", "L4 L2",
      (s, d) => {
        val ex = shingleRows(s, d)
        val sig = signatures(ex)
        val cand = lshCandidates(lshBands(sig, "lsh_hot_buckets"))
        // |A ∩ B| for candidate pairs by counting shingle matches — a
        // relational (codegen) equivalent of array_intersect, joined on
        // the shingle value, so only candidate pairs pay anything
        // (jaccardVerify, shared with the corpus-scaled dial forms).
        jaccardVerify(ex, cand).orderBy(col("doc_a"), col("doc_b"))
      },
      Some {
        s"""WITH $sigCtesSql,
          $bandCandCtesSql
          SELECT c.a AS doc_a, c.b AS doc_b,
            ${Sketches.jaccardSql("sa.sh", "sb.sh")} AS jaccard
          FROM cand c JOIN sh sa ON sa.doc_id = c.a JOIN sh sb ON sb.doc_id = c.b
          WHERE ${Sketches.jaccardSql("sa.sh", "sb.sh")} >= $JaccardThreshold
          ORDER BY doc_a, doc_b"""
      })

    /* L5: SimHash fingerprint + its 8-bit band keys (the blocking keys a
     * hamming-distance join would shuffle on). */
    val q37 = GraftQuery(
      "q37_simhash", "L5",
      (s, d) => {
        // explode distinct words → one codegen'd md5 per word → 32 per-bit
        // sum aggregates (map-side combined) → majority-vote bits
        val ex = Tables.documents(s, d)
          .select(col("doc_id"),
            explode(array_distinct(Sketches.words(col("text")))).as("w"))
          .withColumn("h", Sketches.h64(col("w")))
        val agg = ex.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n"),
            (0 until Sketches.SimHashBits).map(k =>
              sum(shiftright(col("h"), k).bitwiseAND(1L)).as(s"c$k")): _*)
        agg
          .withColumn("simhash",
            (0 until Sketches.SimHashBits).map(k =>
              when(col(s"c$k") * 2 > col("n"), lit(1L << k)).otherwise(lit(0L)))
              .reduce(_ + _))
          .select(col("doc_id"), col("simhash"),
            shiftright(col("simhash"), 0).bitwiseAND(255).as("band0"),
            shiftright(col("simhash"), 8).bitwiseAND(255).as("band1"),
            shiftright(col("simhash"), 16).bitwiseAND(255).as("band2"),
            shiftright(col("simhash"), 24).bitwiseAND(255).as("band3"))
          .orderBy(col("doc_id"))
      },
      Some {
        val sh = Sketches.simhashSql("hs")
        s"""WITH h AS (SELECT doc_id, ${Sketches.wordHashesSql("text")} AS hs FROM documents),
          s AS (SELECT doc_id, $sh AS simhash FROM h)
          SELECT doc_id, simhash,
            (simhash >> 0) & 255 AS band0, (simhash >> 8) & 255 AS band1,
            (simhash >> 16) & 255 AS band2, (simhash >> 24) & 255 AS band3
          FROM s ORDER BY doc_id"""
      })

    /* L6: brute-force cosine top-k — the ANN correctness baseline. Query
     * set = vec_id % 50 == 0, broadcast against the full table. */
    val q38 = GraftQuery(
      "q38_ann_brute_topk", "L6",
      (s, d) => bruteTopK(s, d),
      Some {
        s"""WITH ${bruteRankedCtesSql("br")}
          SELECT q_id, rank, vec_id, cos FROM br WHERE rank <= $TopK
          ORDER BY q_id, rank"""
      })

    /* L7: hyperplane-LSH bucketed ANN — the 100 TB path. Signature is the
     * shuffle key; nearest neighbor is found within the bucket only. */
    val q39 = GraftQuery(
      "q39_ann_lsh_bucketed", "L7 L2",
      (s, d) => {
        // persist (lazy): `e` feeds three DAG branches; without it each
        // branch recomputes the signature + norm trees (see q67's note).
        // Lazy persist instead of eager localCheckpoint so building the
        // plan runs no Spark jobs — audit tooling stays side-effect-free
        // and the materialization cost lands inside the timed execution
        val e = CacheScope.tracked(Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding"),
            Sketches.norm(col("embedding"), Dims).as("nrm"),
            Sketches.hyperplaneSig(col("embedding"), Dims).as("sig")))
        val b = e.select(col("vec_id").as("b_id"), col("embedding").as("be"),
          col("nrm").as("bn"), col("sig").as("b_sig"))
        val nn = e.join(b, col("sig") === col("b_sig") && col("vec_id") =!= col("b_id"))
          .withColumn("cos", Sketches.cosineFromParts(
            Sketches.dot(col("embedding"), col("be"), Dims), col("nrm"), col("bn")))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("vec_id")).orderBy(col("cos").desc, col("b_id"))))
          .filter(col("rn") === 1)
          .select(col("vec_id"), col("b_id").as("nn_id"), col("cos").as("nn_cos"))
        e.select(col("vec_id"), col("sig"))
          .join(nn, Seq("vec_id"), "left")
          .orderBy(col("vec_id"))
      },
      Some {
        val sig = Sketches.hyperplaneSigSql("embedding", Dims)
        val dot = Sketches.dotSql("a.embedding", "b.embedding", Dims)
        val an = Sketches.normSql("a.embedding", Dims)
        val bn = Sketches.normSql("b.embedding", Dims)
        s"""WITH e AS (SELECT vec_id, embedding, $sig AS sig FROM embeddings),
          nn AS (SELECT * FROM (
            SELECT a.vec_id, b.vec_id AS nn_id,
              ${Sketches.cosineSql(dot, an, bn)} AS nn_cos,
              row_number() OVER (PARTITION BY a.vec_id
                ORDER BY ${Sketches.cosineSql(dot, an, bn)} DESC, b.vec_id) AS rn
            FROM e a JOIN e b ON a.sig = b.sig AND a.vec_id <> b.vec_id)
            WHERE rn = 1)
          SELECT e.vec_id, CAST(e.sig AS BIGINT) AS sig, nn.nn_id, nn.nn_cos
          FROM e LEFT JOIN nn ON nn.vec_id = e.vec_id
          ORDER BY e.vec_id"""
      })

    /* L7 at 100 TB: 16-bit signature (65k buckets — the within-bucket
     * self-join is O(n²/2^bits), so bits grow with the corpus) with
     * band-OR multi-probe: candidates agree on EITHER 8-bit half of the
     * signature, buying back the recall the wider signature costs
     * (SketchesSpec proves recall vs brute force). Candidate generation is
     * a (band, value)-keyed equi-join on ids only; embeddings re-join by
     * id afterwards, so wide vectors never ride through the pair shuffle. */
    val q67 = GraftQuery(
      "q67_ann_lsh_banded16", "L7",
      (s, d) => {
        // cache the sketch projections ONCE (lazy persist, not eager
        // localCheckpoint — no Spark jobs at plan-build time): both frames
        // are used on multiple DAG branches, and without the cache every
        // branch recomputes the signature / 64-term norm trees per use.
        // At 100 TB the sig table is narrow (id + int64) — caching it is
        // the standard LSH shape; the embedding+norm frame would instead
        // be re-scanned or selectively cached there.
        val emb = CacheScope.tracked(Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding"),
            Sketches.norm(col("embedding"), Dims).as("nrm")))
        val sigs = CacheScope.tracked(Tables.embeddings(s, d)
          .select(col("vec_id"),
            Sketches.hyperplaneSigN(col("embedding"), Dims, 16).as("sig")))
        // hot-bucket guard in the executed plan (same rationale as q36):
        // one count aggregate + broadcast anti-join before the quadratic
        // self-join; the cap never binds on the fixture (oracle-verified)
        val bands = Skew.dropHotBuckets(
          sigs.select(col("vec_id"),
            posexplode(array(col("sig").bitwiseAND(lit(255L)),
              shiftright(col("sig"), 8).bitwiseAND(lit(255L)))).as(Seq("bi", "bv"))),
          Seq("bi", "bv"), HotBucketCap,
          observeAs = Some("hyperplane_hot_buckets"))
        val cand = bands
          .join(bands.select(col("vec_id").as("b_id"), col("bi"), col("bv")),
            Seq("bi", "bv"))
          .filter(col("vec_id") =!= col("b_id"))
          .select(col("vec_id"), col("b_id")).distinct()
        val nn = cand
          .join(emb, Seq("vec_id"))
          .join(emb.select(col("vec_id").as("b_id"), col("embedding").as("be"),
            col("nrm").as("bn")), Seq("b_id"))
          .withColumn("cos", Sketches.cosineFromParts(
            Sketches.dot(col("embedding"), col("be"), Dims), col("nrm"), col("bn")))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("vec_id")).orderBy(col("cos").desc, col("b_id"))))
          .filter(col("rn") === 1)
          .select(col("vec_id"), col("b_id").as("nn_id"), col("cos").as("nn_cos"))
        sigs.join(nn, Seq("vec_id"), "left")
          .select(col("vec_id"), col("sig"), col("nn_id"), col("nn_cos"))
          .orderBy(col("vec_id"))
      },
      Some {
        val sig = Sketches.hyperplaneSigNSql("embedding", Dims, 16)
        val dot = Sketches.dotSql("x.embedding", "y.embedding", Dims)
        val xn = Sketches.normSql("x.embedding", Dims)
        val yn = Sketches.normSql("y.embedding", Dims)
        s"""WITH e AS (SELECT vec_id, embedding, $sig AS sig FROM embeddings),
          bd AS (SELECT vec_id, UNNEST([sig & 255, (sig >> 8) & 255]) AS bv,
                   UNNEST([0, 1]) AS bi FROM e),
          cand AS (SELECT DISTINCT a.vec_id AS va, c.vec_id AS vb
            FROM bd a JOIN bd c ON a.bi = c.bi AND a.bv = c.bv
              AND a.vec_id <> c.vec_id),
          nn AS (SELECT * FROM (
            SELECT cand.va AS vec_id, cand.vb AS nn_id,
              ${Sketches.cosineSql(dot, xn, yn)} AS nn_cos,
              row_number() OVER (PARTITION BY cand.va
                ORDER BY ${Sketches.cosineSql(dot, xn, yn)} DESC, cand.vb) AS rn
            FROM cand JOIN e x ON x.vec_id = cand.va
              JOIN e y ON y.vec_id = cand.vb)
            WHERE rn = 1)
          SELECT e.vec_id, CAST(e.sig AS BIGINT) AS sig, nn.nn_id, nn.nn_cos
          FROM e LEFT JOIN nn ON nn.vec_id = e.vec_id
          ORDER BY e.vec_id"""
      })

    /* L8: language ID — stopword-fraction argmax with (score, lang)
     * tie-break and 'und' floor. The oracle uses an UNNEST + window argmax
     * (an independent formulation of the same semantics). */
    val q40 = GraftQuery(
      "q40_lang_id", "L8",
      (s, d) => {
        // relational formulation of the stopword-fraction argmax: explode
        // words, broadcast-join the stopword table, count hits per (doc,
        // lang), argmax by (score, lang) via a struct max — all codegen'd
        // (the array-lambda form pays interpreted HOF evaluation per word
        // per language)
        import s.implicits._
        val sw = TextFunctions.StopwordProfiles
          .flatMap { case (lang, set) => set.toSeq.map(w => (lang, w)) }
          .toDF("cand", "sw")
        val langs = TextFunctions.StopwordProfiles.map(_._1).toDF("cand")
        val words = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"),
            explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
        val totals = words.groupBy(col("doc_id"), col("lang")).agg(count(lit(1)).as("n"))
        val hits = words
          .join(broadcast(sw), col("w") === col("sw"))
          .groupBy(col("doc_id").as("h_doc"), col("cand").as("h_cand"))
          .agg(count(lit(1)).as("hits"))
        val scored = totals.crossJoin(broadcast(langs))
          .join(hits, col("doc_id") === col("h_doc") && col("cand") === col("h_cand"), "left")
          .withColumn("score", coalesce(col("hits"), lit(0L)).cast("double") / col("n"))
        scored.groupBy(col("doc_id"), col("lang"))
          .agg(max(struct(col("score"), col("cand"))).as("best"))
          .withColumn("detected",
            when(col("best.score") === 0.0, lit("und")).otherwise(col("best.cand")))
          .select(col("doc_id"), col("lang"), col("detected"),
            (col("detected") === col("lang")).as("agree"))
          .orderBy(col("doc_id"))
      },
      Some {
        val ws = Sketches.wordsSql("lower(text)")
        val scored = TextFunctions.StopwordProfiles.map { case (lang, sw) =>
          val list = sw.toSeq.sorted.map(w => s"'$w'").mkString("[", ", ", "]")
          s"{'score': CAST(len(list_filter(ws, x -> list_contains($list, x))) AS DOUBLE) / len(ws), 'lang': '$lang'}"
        }.mkString("[", ", ", "]")
        s"""WITH w AS (SELECT doc_id, lang, $ws AS ws FROM documents),
          u AS (SELECT doc_id, lang, UNNEST($scored) AS sc FROM w),
          r AS (SELECT doc_id, lang, sc.lang AS cand, sc.score AS score,
            row_number() OVER (PARTITION BY doc_id ORDER BY sc.score DESC, sc.lang DESC) AS rn
            FROM u)
          SELECT doc_id, lang,
            CASE WHEN score = 0 THEN 'und' ELSE cand END AS detected,
            (CASE WHEN score = 0 THEN 'und' ELSE cand END) = lang AS agree
          FROM r WHERE rn = 1 ORDER BY doc_id"""
      })

    /* L9: quality scoring + token counting (whitespace + BPE-ish regex). */
    val q41 = GraftQuery(
      "q41_text_quality", "L9 L10",
      (s, d) =>
        Tables.documents(s, d)
          .select(col("doc_id"),
            TextFunctions.tokenCountWs(col("text")).cast("long").as("tok_ws"),
            TextFunctions.tokenCountBpeIsh(col("text")).cast("long").as("tok_bpe"),
            TextFunctions.qualityScoreColumn(col("text")).as("quality"))
          .orderBy(col("doc_id")),
      Some {
        s"""SELECT doc_id,
            CASE WHEN len(trim(text)) = 0 THEN 0
                 ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS tok_ws,
            ${TextFunctions.tokenCountBpeIshSql("text")} AS tok_bpe,
            ${TextFunctions.qualityScoreSql("text")} AS quality
          FROM documents ORDER BY doc_id"""
      })

    /* L7 IVF variant: inverted-file coarse quantization — the other
     * classic ANN scale path (the FAISS IVF-Flat shape), complementing the
     * LSH family (q39/q67) with a data-adaptive partition of the space.
     * The centroid table is a small broadcast frame (here a deterministic
     * corpus sample standing in for an offline-trained k-means codebook —
     * at 100 TB the quantizer is an INPUT to the query, not something it
     * trains). Cell assignment is a broadcast score fan-out collapsed by
     * ONE map-side-combined max_by aggregate — no window, no per-key sort;
     * the shuffle carries one partial per (map partition, vector). The
     * cell id then plays exactly the role the LSH bucket plays in q39/q67:
     * the equi-join shuffle key for candidate generation, with ids-only
     * riding the shuffle and embeddings re-joined by id. Queries probe
     * their NProbe nearest cells to buy back the recall a single cell
     * loses at the cell boundary. */
    val q70 = GraftQuery(
      "q70_ann_ivf_coarse", "L11 L7",
      // the object-level `ivfTopK` builder at the default dials (NProbe,
      // CentroidStep) — AnnRecallSpec sweeps the same builder's nprobe
      // to measure the recall curve the defaults are chosen from
      (s, d) => ivfTopK(s, d),
      Some {
        // No window may ORDER BY the unrolled cosine directly: DuckDB's
        // per-partition sort state under a 64-wide ordering expression is
        // the single worst allocator-fragmentation shape in the whole
        // oracle suite — this query's old inline row_number asn grew the
        // checker process by ~57k mmap regions ALONE (driver_sim at
        // sf0.01), the actual root cause of the r12/r13 driver OOMs
        // (q92/q78 just inherited the exhausted map table). Shared staged
        // asn + scores STORED before every window: ~1k regions, 3× faster,
        // value-identical (verified at sf0.01 and sf0.1). The CTE chain
        // lives in [[ivfRankedCtesSql]], shared with the L90 audit (q158).
        s"""WITH ${ivfRankedCtesSql("ivr")}
          SELECT q_id, rank, vec_id, cell, cos FROM ivr
          WHERE rank <= $TopK ORDER BY q_id, rank"""
      })

    /* Embedding-cosine near-dup dedup — the fifth dedup modality of the
     * brief (after exact, MinHash-LSH, SimHash, n-gram Jaccard): banded
     * 16-bit-signature candidates (q67's generation, hot-bucket guard
     * included) verified by EXACT cosine >= NearDupTau, then the same
     * min-id-survivor policy as q33/q34 applied in embedding space —
     * each vector's dup_of is its lowest-id near-duplicate with a
     * smaller id, NULL marking the survivor. Single-pass assignment, not
     * transitive-closure clustering: at 100 TB the iterative union-find
     * is a driver-side orchestration of exactly this candidate+verify
     * kernel, so the kernel is the operator. Ids-only ride the band and
     * pair shuffles; embeddings re-join by id for the verify. */
    /* Shared verified near-dup pair kernel (q72 single-pass assignment,
     * q78 transitive clustering): banded 16-bit-signature candidates →
     * exact cosine >= NearDupTau — one (a_id, b_id) row per verified pair,
     * a_id < b_id. Ids-only ride the band and pair shuffles; embeddings
     * re-join by id for the verify. */
    // (embedNearDupPairs moved to object scope — the band-width dial is
    //  exercised by ScaleRehearsal; registered queries use the default)

    /* SQL twin of embedNearDupPairs, as CTEs ending in `pr(a_id, b_id)`. */
    def embedPairsCtes: String = {
      val sig = Sketches.hyperplaneSigNSql("embedding", Dims, 16)
      val cos = Sketches.cosineSql(
        Sketches.dotSql("x.embedding", "y.embedding", Dims),
        Sketches.normSql("x.embedding", Dims),
        Sketches.normSql("y.embedding", Dims))
      s"""e AS (SELECT vec_id, embedding, $sig AS sig FROM embeddings),
          bd AS (SELECT vec_id, UNNEST([sig & 255, (sig >> 8) & 255]) AS bv,
                   UNNEST([0, 1]) AS bi FROM e),
          cand AS (SELECT DISTINCT a.vec_id AS a_id, c.vec_id AS b_id
            FROM bd a JOIN bd c ON a.bi = c.bi AND a.bv = c.bv
              AND a.vec_id < c.vec_id),
          pr AS (SELECT a_id, b_id, $cos AS pcos FROM cand
            JOIN e x ON x.vec_id = cand.a_id
            JOIN e y ON y.vec_id = cand.b_id
            WHERE $cos >= $NearDupTau)"""
    }

    val q72 = GraftQuery(
      "q72_embed_neardup", "L13 L7 J9",
      (s, d) => {
        val dup = embedNearDupPairs(s, d)
          .groupBy(col("b_id"))
          .agg(min(col("a_id")).as("dup_of"))
        Tables.embeddings(s, d).select(col("vec_id"))
          .join(dup, col("vec_id") === col("b_id"), "left")
          .select(col("vec_id"), col("dup_of"))
          .orderBy(col("vec_id"))
      },
      Some {
        s"""WITH $embedPairsCtes,
          dup AS (SELECT b_id, MIN(a_id) AS dup_of FROM pr GROUP BY b_id)
          SELECT e.vec_id, dup.dup_of FROM e
          LEFT JOIN dup ON dup.b_id = e.vec_id
          ORDER BY e.vec_id"""
      })

    /* L14: deterministic stratified train/val/test split. Assignment is a
     * pure map-side hash of the document ID (salted, so it is independent
     * of the content fingerprint and the q74 shard hash): h mod 100 →
     * 80/10/10. No shuffle to ASSIGN — the only shuffle is the reporting
     * aggregate, and the per-stratum fraction is a window over the
     * ALREADY-AGGREGATED frame (|langs|×3 rows), never over documents.
     * This is the split you can re-derive on any engine, any partitioning,
     * any day — membership is a function of the id alone, which is what
     * makes held-out sets stable across pipeline re-runs at 100 TB. */
    val q73 = GraftQuery(
      "q73_stratified_split", "L14",
      (s, d) => {
        val h = pmod(TextFunctions.md5Fingerprint(
          concat(lit("split:"), col("doc_id").cast("string"))), lit(100L))
        val assigned = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"),
            when(h < TrainPct, "train")
              .when(h < TrainPct + ValPct, "val")
              .otherwise("test").as("split"))
        val counts = assigned.groupBy(col("lang"), col("split"))
          .agg(count(lit(1)).as("n_docs"))
        counts
          .withColumn("stratum_frac", col("n_docs").cast("double") /
            sum(col("n_docs")).over(Window.partitionBy(col("lang"))).cast("double"))
          .orderBy(col("lang"), col("split"))
      },
      Some {
        val h = TextFunctions.md5FingerprintSql("'split:' || CAST(doc_id AS VARCHAR)")
        s"""WITH a AS (SELECT doc_id, lang,
            CASE WHEN $h % 100 < $TrainPct THEN 'train'
                 WHEN $h % 100 < ${TrainPct + ValPct} THEN 'val'
                 ELSE 'test' END AS split
          FROM documents),
          c AS (SELECT lang, split, COUNT(*) AS n_docs FROM a GROUP BY 1, 2)
          SELECT lang, split, n_docs,
            CAST(n_docs AS DOUBLE) /
              CAST(SUM(n_docs) OVER (PARTITION BY lang) AS DOUBLE) AS stratum_frac
          FROM c ORDER BY lang, split"""
      })

    /* L15: token-budget sequence packing (contiguous fill). Documents are
     * hash-sharded, ordered by id within the shard, and a document lands
     * in the bin where its FIRST token falls in the shard's contiguous
     * token stream (exclusive prefix sum div budget) — the deterministic
     * packing used to build fixed-context training batches. The window is
     * partitioned by shard, so the per-key sort is bounded by corpus/
     * PackShards and the shard count is the scale dial — there is no
     * global window (the O4 rule). Greedy first-fit bin packing is
     * order-dependent by nature; fixing the order to (shard, doc_id) is
     * what makes it both distributable and reproducible. */
    val q74 = GraftQuery(
      "q74_token_packing", "L15 L9",
      (s, d) => {
        val docs = Tables.documents(s, d).select(
          col("doc_id"),
          pmod(TextFunctions.md5Fingerprint(
            concat(lit("shard:"), col("doc_id").cast("string"))), lit(PackShards.toLong)).as("shard"),
          TextFunctions.tokenCountBpeIsh(col("text")).cast("long").as("tokens"))
        val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        docs
          .withColumn("cum", sum(col("tokens")).over(w))
          .withColumn("bin", floor((col("cum") - col("tokens")) / lit(PackBudget.toDouble)))
          .groupBy(col("shard"), col("bin"))
          .agg(count(lit(1)).as("n_docs"), sum(col("tokens")).as("bin_tokens"),
            min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
          .orderBy(col("shard"), col("bin"))
      },
      Some {
        val h = TextFunctions.md5FingerprintSql("'shard:' || CAST(doc_id AS VARCHAR)")
        s"""WITH t AS (SELECT doc_id, $h % $PackShards AS shard,
            ${TextFunctions.tokenCountBpeIshSql("text")} AS tokens
          FROM documents),
          c AS (SELECT *, CAST(SUM(tokens) OVER (PARTITION BY shard ORDER BY doc_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM t)
          SELECT shard, CAST(FLOOR((cum - tokens) / $PackBudget.0) AS BIGINT) AS bin,
            COUNT(*) AS n_docs, CAST(SUM(tokens) AS BIGINT) AS bin_tokens,
            MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
          FROM c GROUP BY 1, 2 ORDER BY shard, bin"""
      })

    /* L16: repetition/boilerplate quality filters — the C4/Gopher rules:
     * duplicate-2-gram ratio (how much of the document is the same phrase
     * repeated) and top-word fraction (machine-generated and boilerplate
     * pages are dominated by one token), plus a minimum word count. All
     * three stats are pure functions of ONE document's text, so since the
     * r19 optimization round they are a single codegen'd map-side
     * projection (guide §2.4: the earlier posexplode + window + two
     * aggregate branches paid an Exchange(doc_id)+sort plus a
     * (doc_id, word) aggregate for per-doc-local values): n_words =
     * |split|, dist2 = |distinct 2-grams| (the native graft_shingles
     * set), maxc = the native graft_top_word_count loop. Zero shuffles
     * before the output sort. The thresholds are the published C4/Gopher
     * ballpark; the output carries the raw ratios so a 100 TB run
     * re-tunes them by filtering, not recomputing. */
    val q75 = GraftQuery(
      "q75_repetition_filter", "L16 L9",
      (s, d) => {
        val top = col("maxc").cast("double") / col("n_words").cast("double")
        val dup = when(col("n_words") >= 2,
          lit(1.0) - col("dist2").cast("double") / (col("n_words") - 1).cast("double"))
          .otherwise(lit(0.0))
        qualityStats(Tables.documents(s, d))
          .select(col("doc_id"), col("n_words"), top.as("top_frac"), dup.as("dup2_ratio"))
          .withColumn("keep",
            col("n_words") >= 10 && col("top_frac") <= 0.2 && col("dup2_ratio") <= 0.3)
          .orderBy(col("doc_id"))
      },
      Some {
        val ws = Sketches.wordsSql("text")
        s"""WITH a AS (SELECT doc_id, $ws AS ws FROM documents),
          g AS (SELECT doc_id, len(ws) AS n_words,
              len(list_distinct(list_transform(generate_series(1, len(ws) - 1),
                i -> ws[i] || ' ' || ws[i + 1]))) AS dist2 FROM a),
          wc AS (SELECT doc_id, word, COUNT(*) AS c
            FROM (SELECT doc_id, unnest(ws) AS word FROM a) GROUP BY 1, 2),
          mx AS (SELECT doc_id, MAX(c) AS maxc FROM wc GROUP BY 1),
          r AS (SELECT g.doc_id, n_words,
              CAST(maxc AS DOUBLE) / CAST(n_words AS DOUBLE) AS top_frac,
              CASE WHEN n_words >= 2
                THEN 1.0e0 - CAST(dist2 AS DOUBLE) / CAST(n_words - 1 AS DOUBLE)
                ELSE 0.0e0 END AS dup2_ratio
            FROM g JOIN mx ON mx.doc_id = g.doc_id)
          SELECT doc_id, n_words, top_frac, dup2_ratio,
            (n_words >= 10 AND top_frac <= 0.2e0 AND dup2_ratio <= 0.3e0) AS keep
          FROM r ORDER BY doc_id"""
      })

    /* L17: benchmark decontamination — find training documents sharing any
     * word n-gram with a held-out evaluation set (the standard pretraining
     * decontamination kernel). The eval set is tiny relative to the corpus
     * BY CONSTRUCTION (benchmarks are fixed-size; the fixture split takes
     * every `evalMod`-th doc id), so its distinct gram fingerprints
     * BROADCAST and the corpus is filtered map-side — the 100 TB shape:
     * the corpus never shuffles, and the join key is an 8-byte md5-prefix
     * fingerprint rather than the gram string. Reuses q35's relational
     * shingle frame; the window width `n` is the production dial
     * (SURVEY L17: 8-13 grams), oracle-gated at BOTH n=3 (q76, dense
     * matches on the ~50-word fixture docs) and n=8 (q85, the width that
     * ships — a denser eval split compensates for the fixtures' short
     * documents so the gated result is non-trivial at both SFs). */
    def decontaminate(s: org.apache.spark.sql.SparkSession, d: String,
        n: Int, evalMod: Int): org.apache.spark.sql.DataFrame = {
      val grams = shingleRows(s, d, n)
        .select(col("doc_id"), TextFunctions.md5Fingerprint(col("s")).as("g"))
      val ev = grams.filter(col("doc_id") % evalMod === 0)
        .select(col("doc_id").as("eval_id"), col("g"))
      grams.filter(col("doc_id") % evalMod =!= 0)
        .join(broadcast(ev), Seq("g"))
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("eval_id")).as("eval_hits"),
          countDistinct(col("g")).as("gram_hits"))
        .orderBy(col("doc_id"))
    }
    def decontaminateSql(n: Int, evalMod: Int): String = {
      val shed = Sketches.shinglesSql("text", n)
      val fp = TextFunctions.md5FingerprintSql("s")
      s"""WITH sh AS (SELECT doc_id, unnest(s) AS s FROM
          (SELECT doc_id, $shed AS s FROM documents)),
        h AS (SELECT doc_id, $fp AS g FROM sh),
        ev AS (SELECT doc_id AS eval_id, g FROM h WHERE doc_id % $evalMod = 0),
        tr AS (SELECT doc_id, g FROM h WHERE doc_id % $evalMod <> 0)
        SELECT tr.doc_id, COUNT(DISTINCT eval_id) AS eval_hits,
          COUNT(DISTINCT tr.g) AS gram_hits
        FROM tr JOIN ev ON ev.g = tr.g
        GROUP BY 1 ORDER BY doc_id"""
    }
    val q76 = GraftQuery(
      "q76_decontaminate", "L17 L3",
      (s, d) => decontaminate(s, d, ShingleN, 97),
      Some(decontaminateSql(ShingleN, 97)))

    /* L17 at production window width: the 8-gram form (SURVEY's 8-13-gram
     * spec), same plan shape — only the lead-window width and therefore
     * the gram length changes, which is exactly why the width is a dial
     * and not a rewrite. */
    val q85 = GraftQuery(
      "q85_decontaminate_n8", "L17 L3",
      (s, d) => decontaminate(s, d, 8, 7),
      Some(decontaminateSql(8, 7)))

    /* L18: deterministic mixture resampling — downsample each language
     * stratum so the surviving corpus matches target mixture weights (the
     * Pile/Dolma-style mixing step). The per-stratum acceptance threshold
     * is derived from the observed counts (tiny aggregate, broadcast back
     * onto the corpus), and membership is the same salted id-hash trick as
     * q73 — a document's fate is a function of its id and the weight
     * table alone, so the mix is reproducible and composes with dedup/
     * split re-runs. Corpus passes are all map-side (filter against a
     * broadcast threshold row); the only shuffles are the |langs|-row
     * aggregates. Downsample-only: the binding stratum (largest n/weight
     * deficit) keeps every row, everyone else thins to match. */
    val q77 = GraftQuery(
      "q77_mixture_resample", "L18 L14",
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d)
        val weights = MixtureWeights.toDF("lang", "tw")
        val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
          .join(weights, Seq("lang"))
        val tot = counts.agg(min(col("n").cast("double") / col("tw")).as("tot"))
        val thresholds = counts.crossJoin(broadcast(tot))
          .withColumn("thresh",
            floor(least((col("tw") * col("tot")) / col("n").cast("double"), lit(1.0))
              * lit(1000000)).cast("long"))
        val accepted = docs
          .join(broadcast(thresholds.select(col("lang"), col("thresh"))), Seq("lang"))
          .filter(pmod(TextFunctions.md5Fingerprint(
            concat(lit("mix:"), col("doc_id").cast("string"))), lit(1000000L)) < col("thresh"))
          .groupBy(col("lang")).agg(count(lit(1)).as("n_sampled"))
        val totalSampled = accepted.agg(sum(col("n_sampled")).as("tot_s"))
        accepted
          .join(thresholds.select(col("lang"), col("n"), col("tw")), Seq("lang"))
          .crossJoin(broadcast(totalSampled))
          .select(col("lang"), col("n").as("n_docs"), col("tw").as("target_w"),
            col("n_sampled"),
            (col("n_sampled").cast("double") / col("tot_s").cast("double"))
              .as("achieved_frac"))
          .orderBy(col("lang"))
      },
      Some {
        val w = MixtureWeights
          .map { case (l, tw) => s"('$l', ${tw}e0)" }.mkString(", ")
        val fp = TextFunctions.md5FingerprintSql("'mix:' || CAST(doc_id AS VARCHAR)")
        s"""WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
          w AS (SELECT * FROM (VALUES $w) AS t(lang, tw)),
          t AS (SELECT MIN(CAST(n AS DOUBLE) / tw) AS tot FROM c JOIN w USING (lang)),
          p AS (SELECT lang, n, tw,
              CAST(FLOOR(LEAST((tw * tot) / CAST(n AS DOUBLE), 1.0e0) * 1000000)
                AS BIGINT) AS thresh
            FROM c JOIN w USING (lang), t),
          acc AS (SELECT d.lang, COUNT(*) AS n_sampled
            FROM documents d JOIN p USING (lang)
            WHERE $fp % 1000000 < thresh GROUP BY 1),
          ts AS (SELECT CAST(SUM(n_sampled) AS BIGINT) AS tot_s FROM acc)
          SELECT p.lang, p.n AS n_docs, p.tw AS target_w, acc.n_sampled,
            CAST(acc.n_sampled AS DOUBLE) / CAST(ts.tot_s AS DOUBLE) AS achieved_frac
          FROM p JOIN acc USING (lang), ts ORDER BY lang"""
      })

    /* L19: transitive near-dup clustering — connected components over the
     * verified pair graph, each vector labeled with the minimum id
     * reachable through near-duplicate edges (q72 assigns each vector its
     * best single dup; this closes the transitive chain a->b->c into one
     * cluster). Distributed min-label propagation: each round joins the
     * current labels onto the symmetric edge list and takes the min label
     * seen across neighbors — a per-round cost of one id-keyed join + one
     * hash aggregate, converging in O(component diameter) rounds. The
     * driver only orchestrates (per-round single-row convergence probe);
     * labels and edges are never collected. Near-dup components are tiny
     * by construction (dedup clusters, not the social graph), so the
     * diameter bound is small; a 100 TB run persists/checkpoints the label
     * frame between rounds exactly as CacheScope does here. The oracle is
     * the full transitive closure via a recursive CTE — an INDEPENDENT
     * formulation of reachability, so the iterative kernel is verified
     * against closed-form semantics, not against itself. */
    val q78 = GraftQuery(
      "q78_neardup_components", "L19 L13 J9",
      (s, d) => {
        val pairs = CacheScope.tracked(
          embedNearDupPairs(s, d).filter(col("pcos") >= CcTau))
        val edges = CacheScope.tracked(
          pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
            .union(pairs.select(col("b_id").as("src"), col("a_id").as("dst"))))
        // iterate ONLY over the dup subgraph — vertices with at least one
        // edge. Singletons (the overwhelming majority of a deduped corpus)
        // never enter the loop; they rejoin as their own cluster at the
        // end. This is what keeps the iteration cheap at 100 TB: the
        // per-round frames are sized by the duplicate population, not the
        // corpus.
        var labels = CacheScope.tracked(
          edges.select(col("src").as("vec_id")).distinct()
            .select(col("vec_id"), col("vec_id").as("cluster")))
        var converged = false
        var round = 0
        while (!converged && round < MaxCcRounds) {
          val prop = labels
            .join(edges, col("vec_id") === col("src"))
            .select(col("dst").as("vec_id"), col("cluster"))
          val nmin = labels.union(prop).groupBy(col("vec_id"))
            .agg(min(col("cluster")).as("cluster"))
          // pointer jump: follow the label one hop (cluster ids are vertex
          // ids, so cluster(cluster(v)) is a self-join) — path compression
          // turns O(diameter) rounds into O(log diameter)
          val jump = nmin
            .join(nmin.select(col("vec_id").as("cluster"), col("cluster").as("cc")),
              Seq("cluster"))
            .select(col("vec_id"), least(col("cluster"), col("cc")).as("cluster"))
          // cut the LOGICAL lineage each round (createDataFrame over the
          // round's RDD): without this the plan tree doubles per round and
          // analysis/cache-matching cost grows exponentially even though
          // execution is cached. Distribution and laziness are preserved;
          // the persist bounds the physical recompute chain.
          val next = CacheScope.tracked(s.createDataFrame(jump.rdd, labels.schema))
          val changed = next
            .join(labels.withColumnRenamed("cluster", "old"), Seq("vec_id"))
            .filter(col("cluster") =!= col("old"))
            .limit(1).count()
          labels = next
          converged = changed == 0L
          round += 1
        }
        // rounds-to-convergence is the operator's cost model — surface it
        System.err.println(s"[q78] label propagation converged=$converged rounds=$round")
        Tables.embeddings(s, d).select(col("vec_id"))
          .join(labels, Seq("vec_id"), "left")
          .select(col("vec_id"),
            coalesce(col("cluster"), col("vec_id")).as("cluster"))
          .orderBy(col("vec_id"))
      },
      Some {
        s"""WITH RECURSIVE $embedPairsCtes,
          cc AS (SELECT a_id, b_id FROM pr WHERE pcos >= $CcTau),
          ed AS (SELECT a_id AS src, b_id AS dst FROM cc
                 UNION ALL SELECT b_id, a_id FROM cc),
          r AS (SELECT vec_id AS v, vec_id AS u FROM embeddings
                UNION
                SELECT r.v, ed.dst FROM r JOIN ed ON ed.src = r.u)
          SELECT v AS vec_id, MIN(u) AS cluster FROM r
          GROUP BY v ORDER BY v"""
      })

    /* L20: sliding context-window chunking — each document expands into
     * overlapping word windows (size ChunkSize, stride ChunkStride), the
     * standard RAG/pretraining chunking step and the text analog of the
     * multimodal 1->N frame sample (L12). Pure map-side 1->N expansion:
     * chunk count and boundaries are arithmetic on the word count, the
     * window text is an array slice, and the only shuffle is the output
     * sort — no joins, no aggregates, so the operator scales as a single
     * corpus pass at any size. Each chunk carries its boundary metadata
     * and an md5-prefix fingerprint of its text (chunk-level exact dedup
     * composes directly with L1). */
    val q79 = GraftQuery(
      "q79_window_chunking", "L20 L12",
      (s, d) => chunkFrame(Tables.documents(s, d))
        .orderBy(col("doc_id"), col("chunk_id")),
      Some(s"""WITH ${chunkCtesSql()}
          SELECT * FROM chunks ORDER BY doc_id, chunk_id"""))

    /* Corpus-assembly funnel — the verbs COMPOSE: one plan that runs exact
     * dedup (L1 canonical flag), repetition-quality filtering (L16 keep),
     * benchmark decontamination (L17 clean), and the deterministic split
     * (L14) over every document, then reports the per-(lang, split)
     * survivor funnel. Each stage is a per-doc boolean derived exactly as
     * its standalone query derives it, so this is the end-to-end pretraining
     * corpus build as a single Catalyst plan: the scan is shared, the
     * stage flags are independent columns joined by doc id, and the only
     * wide operations are the same bounded shuffles the standalone
     * operators use (fp groupBy, per-doc window, broadcast eval set).
     * Conditional-sum funnel columns: each count applies the stages
     * CUMULATIVELY (dedup -> +quality -> +decontam), which is the order a
     * production build applies them. */
    val q80 = GraftQuery(
      "q80_corpus_funnel", "L1 L14 L16 L17",
      (s, d) => {
        funnelFlags(s, d)
          .groupBy(col("lang"), col("split"))
          .agg(count(lit(1)).as("n_raw"),
            sum(when(col("canon"), 1L).otherwise(0L)).as("n_dedup"),
            sum(when(col("canon") && col("keep"), 1L).otherwise(0L)).as("n_quality"),
            sum(when(col("canon") && col("keep") && !col("dirty"), 1L).otherwise(0L))
              .as("n_clean"))
          .orderBy(col("lang"), col("split"))
      },
      Some {
        s"""WITH $funnelBaseCtesSql
          SELECT lang, split, COUNT(*) AS n_raw,
            CAST(SUM(CASE WHEN canon THEN 1 ELSE 0 END) AS BIGINT) AS n_dedup,
            CAST(SUM(CASE WHEN canon AND keep THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
            CAST(SUM(CASE WHEN canon AND keep AND NOT dirty THEN 1 ELSE 0 END)
              AS BIGINT) AS n_clean
          FROM base GROUP BY 1, 2 ORDER BY lang, split"""
      })

    /* Per-source curation profile — the mixture-weight input step of a
     * production corpus build (the Dolma/RefinedWeb per-domain profiling
     * pass): for every source, the funnel survival counts plus mean raw
     * quality and the clean token budget. One pass over the shared funnel
     * flag frame; the mean is a floor(q*1e6)-quantized LONG sum divided
     * once (an IEEE double sum is addition-order-dependent and therefore
     * not engine-portable; double→DECIMAL casts are ALSO not portable —
     * Spark rounds the double's shortest-decimal rendering, DuckDB the
     * exact binary value, and the sf0.1 corpus has quality scores near
     * enough a 1e-6 quantum to round apart — whereas multiply and floor
     * are single IEEE ops, bit-identical on any engine; the long sum is
     * exact, and its double image is exact under 2^53, i.e. to ~9e9
     * docs/source, the q01 lesson). At 100 TB: |sources|-row
     * output, map-side-combined conditional sums, same bounded shuffles as
     * q80. */
    val q86 = GraftQuery(
      "q86_source_profile", "L18 L9 L1 L16 L17",
      (s, d) => {
        funnelFlags(s, d)
          .withColumn("q", TextFunctions.qualityScoreColumn(col("text")))
          .withColumn("toks", TextFunctions.tokenCountBpeIsh(col("text")).cast("long"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("canon"), 1L).otherwise(0L)).as("n_canon"),
            sum(when(col("canon") && col("keep"), 1L).otherwise(0L)).as("n_quality"),
            sum(when(col("canon") && col("keep") && !col("dirty"), 1L).otherwise(0L))
              .as("n_clean"),
            (sum(floor(col("q") * lit(1e6))).cast("double") /
              (count(lit(1)).cast("double") * lit(1e6))).as("mean_quality"),
            sum(when(col("canon") && col("keep") && !col("dirty"), col("toks"))
              .otherwise(0L)).as("clean_tokens"))
          .orderBy(col("source"))
      },
      Some {
        val quality = TextFunctions.qualityScoreSql("text")
        s"""WITH $funnelBaseCtesSql,
          prof AS (SELECT source, canon, keep, dirty, $quality AS q,
              ${TextFunctions.tokenCountBpeIshSql("text")} AS toks
            FROM base)
          SELECT source, COUNT(*) AS n_docs,
            CAST(SUM(CASE WHEN canon THEN 1 ELSE 0 END) AS BIGINT) AS n_canon,
            CAST(SUM(CASE WHEN canon AND keep THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
            CAST(SUM(CASE WHEN canon AND keep AND NOT dirty THEN 1 ELSE 0 END)
              AS BIGINT) AS n_clean,
            CAST(SUM(CAST(floor(q * 1e6) AS BIGINT)) AS DOUBLE)
              / (CAST(COUNT(*) AS DOUBLE) * 1e6) AS mean_quality,
            CAST(SUM(CASE WHEN canon AND keep AND NOT dirty THEN toks ELSE 0 END)
              AS BIGINT) AS clean_tokens
          FROM prof GROUP BY 1 ORDER BY source"""
      })

    /* L22: PII scrubbing — the redaction stage every pretraining corpus
     * runs (emails, phone numbers, IPv4s → typed tokens). The synthetic
     * corpus contains no PII, so the query PLANTS deterministic PII
     * derived from doc_id — independently on both engines — then scrubs
     * and compares per-source match counts, a changed-docs count, an
     * in-query residual proof (re-scanning the redacted text must find
     * nothing), and the MIN fingerprint of the redacted text (pins
     * content, not just counts). What the oracle is really gating is
     * regex-dialect parity: the patterns live in the Java ∩ RE2 subset
     * and a divergence in match semantics on either engine breaks the
     * hash. At 100 TB: three codegen'd regexp_replace passes, map-side
     * conditional sums, |sources|-row output — no joins, no window. */
    val q87 = GraftQuery(
      "q87_pii_scrub", "L22 L10",
      (s, d) => {
        val id = col("doc_id")
        val sep = when(id % 2 === 0, lit(" ")).otherwise(lit("-"))
        val email = concat(lit(" contact user"), id.cast("string"),
          lit("@mail"), (id % 7).cast("string"), lit(".com"))
        val email2 = concat(lit(" cc alt."), id.cast("string"),
          lit("+tag@mail"), (id % 5).cast("string"), lit(".org"))
        val phone = concat(lit(" call +"), (id % 89 + 1).cast("string"), sep,
          (id % 80 + 20).cast("string"), sep,
          (id % 9000000 + 1000000).cast("string"))
        val ip = concat(lit(" host "), ((id * 7) % 223 + 1).cast("string"),
          lit("."), ((id * 13) % 256).cast("string"),
          lit("."), ((id * 17) % 256).cast("string"),
          lit("."), ((id * 19) % 254 + 1).cast("string"))
        Tables.documents(s, d)
          .select(col("source"), concat(col("text"),
            when(id % 3 === 0, email).otherwise(lit("")),
            when(id % 9 === 0, email2).otherwise(lit("")),
            when(id % 5 === 0, phone).otherwise(lit("")),
            when(id % 7 === 0, ip).otherwise(lit(""))).as("t"))
          .withColumn("red", TextFunctions.redactPii(col("t")))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(regexp_count(col("t"), lit(TextFunctions.PiiEmailPattern)))
              .as("n_emails"),
            sum(regexp_count(col("t"), lit(TextFunctions.PiiPhonePattern)))
              .as("n_phones"),
            sum(regexp_count(col("t"), lit(TextFunctions.PiiIpPattern)))
              .as("n_ips"),
            sum(when(col("t") =!= col("red"), 1L).otherwise(0L))
              .as("docs_changed"),
            sum(regexp_count(col("red"), lit(TextFunctions.PiiEmailPattern)) +
              regexp_count(col("red"), lit(TextFunctions.PiiPhonePattern)) +
              regexp_count(col("red"), lit(TextFunctions.PiiIpPattern)))
              .as("residual"),
            min(TextFunctions.md5Fingerprint(col("red"))).as("red_fp_min"))
          .orderBy(col("source"))
      },
      Some {
        val e = s"'${TextFunctions.PiiEmailPattern}'"
        val p = s"'${TextFunctions.PiiPhonePattern}'"
        val i = s"'${TextFunctions.PiiIpPattern}'"
        s"""WITH pl AS (SELECT source, text
              || CASE WHEN doc_id % 3 = 0 THEN ' contact user' ||
                   CAST(doc_id AS VARCHAR) || '@mail' ||
                   CAST(doc_id % 7 AS VARCHAR) || '.com' ELSE '' END
              || CASE WHEN doc_id % 9 = 0 THEN ' cc alt.' ||
                   CAST(doc_id AS VARCHAR) || '+tag@mail' ||
                   CAST(doc_id % 5 AS VARCHAR) || '.org' ELSE '' END
              || CASE WHEN doc_id % 5 = 0 THEN ' call +' ||
                   CAST((doc_id % 89) + 1 AS VARCHAR) ||
                   (CASE WHEN doc_id % 2 = 0 THEN ' ' ELSE '-' END) ||
                   CAST((doc_id % 80) + 20 AS VARCHAR) ||
                   (CASE WHEN doc_id % 2 = 0 THEN ' ' ELSE '-' END) ||
                   CAST((doc_id % 9000000) + 1000000 AS VARCHAR) ELSE '' END
              || CASE WHEN doc_id % 7 = 0 THEN ' host ' ||
                   CAST(((doc_id * 7) % 223) + 1 AS VARCHAR) || '.' ||
                   CAST((doc_id * 13) % 256 AS VARCHAR) || '.' ||
                   CAST((doc_id * 17) % 256 AS VARCHAR) || '.' ||
                   CAST(((doc_id * 19) % 254) + 1 AS VARCHAR) ELSE '' END
            AS t FROM documents),
          r AS (SELECT source, t, ${TextFunctions.redactPiiSql("t")} AS red
            FROM pl)
          SELECT source, COUNT(*) AS n_docs,
            CAST(SUM(len(regexp_extract_all(t, $e))) AS BIGINT) AS n_emails,
            CAST(SUM(len(regexp_extract_all(t, $p))) AS BIGINT) AS n_phones,
            CAST(SUM(len(regexp_extract_all(t, $i))) AS BIGINT) AS n_ips,
            CAST(SUM(CASE WHEN t <> red THEN 1 ELSE 0 END) AS BIGINT)
              AS docs_changed,
            CAST(SUM(len(regexp_extract_all(red, $e)) +
              len(regexp_extract_all(red, $p)) +
              len(regexp_extract_all(red, $i))) AS BIGINT) AS residual,
            MIN(${TextFunctions.md5FingerprintSql("red")}) AS red_fp_min
          FROM r GROUP BY 1 ORDER BY source"""
      })

    /* L23: corpus-LM familiarity filter — the CCNet-shaped stage: TRAIN a
     * language model on the corpus itself, then SCORE every document
     * against it and filter. The model here is the integer-rank form
     * (top-1000 vocabulary by corpus frequency, (count DESC, word ASC)
     * tie-break) rather than log-prob perplexity: transcendental log is
     * the one operation whose libm implementations differ by 1 ulp
     * across engines, so a portable oracle pins the integer-exact
     * variant — familiarity = fraction of a doc's words inside the top
     * vocabulary, keep at >= 0.6. The vocab width is the recall dial:
     * production corpora run 1e4-1e5; the synthetic corpus has only 31
     * distinct words, so the gated width is 20 (measured familiarity
     * spread 0.38-1.0, 422/500 kept — the filter discriminates rather
     * than trivially passing). All parity-relevant math is exact
     * (int counts, ONE int/int IEEE division per doc, floor-quantized
     * mean). At 100 TB this is the train-then-score pattern: the vocab
     * aggregate is map-side combined, top-K is a tiny sort on the
     * |vocab|-row frame, the model ships as a BROADCAST join (no
     * driver collect), and scoring is one explode + per-doc re-agg —
     * the same bounded shuffles however wide the corpus. */
    val q88 = GraftQuery(
      "q88_lm_familiarity", "L23 L8 L9",
      (s, d) => {
        val words = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"),
            explode(Sketches.words(col("text"))).as("w"))
        val vocabTop = words.groupBy(col("w"))
          .agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("w")).limit(TopVocab)
        val perDoc = words.groupBy(col("doc_id"), col("lang"))
          .agg(count(lit(1)).as("n_words"))
        val fam = words.join(broadcast(vocabTop.select(col("w"))), Seq("w"))
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_familiar"))
        perDoc.join(fam, Seq("doc_id"), "left")
          .withColumn("fam",
            coalesce(col("n_familiar"), lit(0L)).cast("double") /
              col("n_words").cast("double"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("fam") >= 0.6, 1L).otherwise(0L)).as("n_keep"),
            (sum(floor(col("fam") * lit(1e6))).cast("double") /
              (count(lit(1)).cast("double") * lit(1e6)))
              .as("mean_familiarity"))
          .orderBy(col("lang"))
      },
      Some {
        s"""WITH w AS (SELECT doc_id, lang,
              unnest(${Sketches.wordsSql("text")}) AS w
            FROM documents),
          v AS (SELECT w FROM (SELECT w, COUNT(*) AS c FROM w GROUP BY 1)
            ORDER BY c DESC, w LIMIT $TopVocab),
          pd AS (SELECT doc_id, lang, COUNT(*) AS n_words FROM w GROUP BY 1, 2),
          f AS (SELECT w.doc_id, COUNT(*) AS n_familiar
            FROM w JOIN v ON v.w = w.w GROUP BY 1),
          sc AS (SELECT pd.lang,
              CAST(COALESCE(f.n_familiar, 0) AS DOUBLE) /
                CAST(pd.n_words AS DOUBLE) AS fam
            FROM pd LEFT JOIN f ON f.doc_id = pd.doc_id)
          SELECT lang, COUNT(*) AS n_docs,
            CAST(SUM(CASE WHEN fam >= 0.6e0 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_keep,
            CAST(SUM(CAST(floor(fam * 1e6) AS BIGINT)) AS DOUBLE)
              / (CAST(COUNT(*) AS DOUBLE) * 1e6) AS mean_familiarity
          FROM sc GROUP BY 1 ORDER BY lang"""
      })

    /* L24: domain blocklist filter — the URL-filtering stage of a web
     * corpus build (RefinedWeb/C4 ban lists): extract URLs, reduce each
     * host to its registrable domain, and match against a blocklist so
     * subdomains of a banned domain are caught (ads3.bad.net → bad.net
     * → blocked). Registrable = last two labels, except when those two
     * are a known second-level public suffix (co.nz, co.uk, com.au, …
     * — the compact stand-in for the full public-suffix list), where
     * the last THREE labels are the registrable domain: spam.co.nz
     * sites must block on site.co.nz, not on all of co.nz. The corpus
     * has no URLs, so q89 plants them deterministically on both
     * engines (the q87 pattern), including a www.-prefixed banned
     * co.nz domain exercising the three-label path; the blocklist is a
     * literal table shipped as a BROADCAST join. At 100 TB: one
     * regexp_extract_all + explode, broadcast blocklist probe,
     * count_distinct only over the exploded URL rows (a
     * corpus-fraction frame), |sources|-row output. */
    val q89 = GraftQuery(
      "q89_domain_blocklist", "L24",
      (s, d) => {
        import s.implicits._
        val id = col("doc_id")
        val urlPat = "https?://[A-Za-z0-9.-]+"
        val planted = concat(col("text"),
          when(id % 4 === 0, concat(lit(" see https://cdn"),
            (id % 7).cast("string"), lit(".example.com/p"),
            id.cast("string"))).otherwise(lit("")),
          when(id % 6 === 0, concat(lit(" ref http://ads"),
            (id % 5).cast("string"), lit(".bad.net/x"))).otherwise(lit("")),
          when(id % 10 === 0, concat(lit(" img https://t"),
            (id % 3).cast("string"), lit(".tracker.io"))).otherwise(lit("")),
          when(id % 9 === 0, concat(lit(" nz https://www.kiwi"),
            (id % 4).cast("string"), lit(".co.nz/home"))).otherwise(lit("")))
        val blocklist = Seq("bad.net", "tracker.io", "kiwi1.co.nz")
          .toDF("blocked_domain")
        val labels = split(col("host"), "\\.")
        val last2 = concat_ws(".", element_at(labels, -2), element_at(labels, -1))
        val last3 = concat_ws(".", element_at(labels, -3),
          element_at(labels, -2), element_at(labels, -1))
        val urls = Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            explode(regexp_extract_all(planted, lit(urlPat), lit(0))).as("url"))
          .withColumn("host", regexp_replace(col("url"), "^https?://", ""))
          .withColumn("domain",
            when(size(labels) < 2, col("host"))
              .when(size(labels) >= 3 && last2.isin(SecondLevelSuffixes: _*), last3)
              .otherwise(last2))
          .join(broadcast(blocklist),
            col("domain") === col("blocked_domain"), "left")
        urls.groupBy(col("source"))
          .agg(count(lit(1)).as("n_urls"),
            count_distinct(col("doc_id")).as("n_docs_with_url"),
            sum(when(col("blocked_domain").isNotNull, 1L).otherwise(0L))
              .as("n_blocked_urls"),
            count_distinct(when(col("blocked_domain").isNotNull, col("doc_id")))
              .as("n_docs_blocked"),
            count_distinct(col("domain")).as("n_domains"))
          .orderBy(col("source"))
      },
      Some {
        val slsSqlList = SecondLevelSuffixes.map(x => s"'$x'").mkString(", ")
        s"""WITH pl AS (SELECT doc_id, source, text
              || CASE WHEN doc_id % 4 = 0 THEN ' see https://cdn' ||
                   CAST(doc_id % 7 AS VARCHAR) || '.example.com/p' ||
                   CAST(doc_id AS VARCHAR) ELSE '' END
              || CASE WHEN doc_id % 6 = 0 THEN ' ref http://ads' ||
                   CAST(doc_id % 5 AS VARCHAR) || '.bad.net/x' ELSE '' END
              || CASE WHEN doc_id % 10 = 0 THEN ' img https://t' ||
                   CAST(doc_id % 3 AS VARCHAR) || '.tracker.io' ELSE '' END
              || CASE WHEN doc_id % 9 = 0 THEN ' nz https://www.kiwi' ||
                   CAST(doc_id % 4 AS VARCHAR) || '.co.nz/home' ELSE '' END
            AS t FROM documents),
          u AS (SELECT doc_id, source,
              regexp_replace(unnest(regexp_extract_all(t, 'https?://[A-Za-z0-9.-]+')),
                '^https?://', '') AS host
            FROM pl),
          dom AS (SELECT doc_id, source,
              CASE WHEN len(ls) < 2 THEN host
                WHEN len(ls) >= 3 AND ls[-2] || '.' || ls[-1] IN ($slsSqlList)
                  THEN ls[-3] || '.' || ls[-2] || '.' || ls[-1]
                ELSE ls[-2] || '.' || ls[-1] END AS domain
            FROM (SELECT doc_id, source, host, string_split(host, '.') AS ls
              FROM u)),
          bl AS (SELECT * FROM (VALUES ('bad.net'), ('tracker.io'),
            ('kiwi1.co.nz')) AS b(blocked_domain)),
          j AS (SELECT dom.doc_id, dom.source, dom.domain, bl.blocked_domain
            FROM dom LEFT JOIN bl ON bl.blocked_domain = dom.domain)
          SELECT source, COUNT(*) AS n_urls,
            CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs_with_url,
            CAST(SUM(CASE WHEN blocked_domain IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_blocked_urls,
            CAST(COUNT(DISTINCT CASE WHEN blocked_domain IS NOT NULL
              THEN doc_id END) AS BIGINT) AS n_docs_blocked,
            CAST(COUNT(DISTINCT domain) AS BIGINT) AS n_domains
          FROM j GROUP BY 1 ORDER BY source"""
      })

    /* L25: encoding cleanup — the ftfy-style Unicode canonicalization
     * pass: NFC-normalize every document so decomposed diacritics
     * (e + U+0301) and their precomposed forms (é) collapse to ONE byte
     * sequence before dedup fingerprints and tokenizers see the text.
     * NFC is UAX#15 — spec-defined and idempotent — so the JVM
     * Normalizer and DuckDB's nfc_normalize agree exactly, making the
     * stage oracle-checkable: the corpus is ASCII, so q90 plants
     * decomposed/precomposed sequences from doc_id on both engines and
     * gates changed-doc counts, the composed-character delta, an
     * in-query idempotence proof, and the normalized-content
     * fingerprint. Runs as the native `graft_nfc` expression
     * (whole-stage codegen, no UDF encoder boundary). At 100 TB: one
     * map-side projection, |sources|-row output. */
    val q90 = GraftQuery(
      "q90_encoding_cleanup", "L25 C10",
      (s, d) => {
        val id = col("doc_id")
        val planted = concat(col("text"),
          // explicit escapes, not glyphs: %3==0 plants the DECOMPOSED form
          // (e + U+0301 combining acute), %3==1 the precomposed NFC form
          // (U+00E9), %5==0 a decomposed o + U+0308 mid-word
          when(id % 3 === 0, lit(" cafe\u0301")).otherwise(lit("")),
          when(id % 3 === 1, lit(" caf\u00e9")).otherwise(lit("")),
          when(id % 5 === 0, lit(" zuo\u0308rich")).otherwise(lit("")))
        Tables.documents(s, d)
          .select(col("source"), planted.as("t"))
          .withColumn("norm", NfcNormalizeExpression.nfcNormalize(col("t")))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("t") =!= col("norm"), 1L).otherwise(0L)).as("n_changed"),
            sum((length(col("t")) - length(col("norm"))).cast("long"))
              .as("chars_composed"),
            sum(when(NfcNormalizeExpression.nfcNormalize(col("norm")) =!= col("norm"), 1L)
              .otherwise(0L)).as("non_idempotent"),
            min(TextFunctions.md5Fingerprint(col("norm"))).as("norm_fp_min"))
          .orderBy(col("source"))
      },
      Some {
        s"""WITH pl AS (SELECT source, text
              || CASE WHEN doc_id % 3 = 0 THEN ' caf' || 'e' || chr(769) ELSE '' END
              || CASE WHEN doc_id % 3 = 1 THEN ' caf' || chr(233) ELSE '' END
              || CASE WHEN doc_id % 5 = 0 THEN ' zu' || 'o' || chr(776) || 'rich'
                ELSE '' END
            AS t FROM documents),
          n AS (SELECT source, t, nfc_normalize(t) AS norm FROM pl)
          SELECT source, COUNT(*) AS n_docs,
            CAST(SUM(CASE WHEN t <> norm THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
            CAST(SUM(length(t) - length(norm)) AS BIGINT) AS chars_composed,
            CAST(SUM(CASE WHEN nfc_normalize(norm) <> norm THEN 1 ELSE 0 END)
              AS BIGINT) AS non_idempotent,
            MIN(${TextFunctions.md5FingerprintSql("norm")}) AS norm_fp_min
          FROM n GROUP BY 1 ORDER BY source"""
      })

    /* L26: boilerplate passage detection — the intra-corpus analog of
     * C4's repeated-line removal: a passage (word shingle) occurring in
     * more than BoilerDf distinct documents is template text (headers,
     * footers, navigation), reported per source with affected-doc
     * counts. Unlike L17 decontamination there is NO external eval set —
     * the lexicon is induced from the corpus itself, so this is the
     * second train-then-score operator (q88's shape over passages
     * instead of words). All joins ride on 8-byte md5-prefix
     * fingerprints, never shingle strings. At 100 TB: one shingle
     * explode, a map-side-combined df aggregate, and a re-join against
     * the induced lexicon — which is df-thresholded and therefore the
     * small side (AQE broadcasts it); the left join back to per-source
     * totals keeps zero-hit sources in the report. */
    val q91 = GraftQuery(
      "q91_boilerplate_passages", "L26 L4 L17",
      (s, d) => {
        // the shared codegen'd shingle frame (posexplode + lead), carrying
        // source through — the array-lambda form is interpreted on the scan
        val sh = shingleRows(s, d, ShingleN, carry = Seq("source"))
          .select(col("doc_id"), col("source"), Sketches.h64(col("s")).as("h"))
        val boiler = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
          .filter(col("df") > BoilerDf).select(col("h"))
        val hits = sh.join(boiler, Seq("h"))
          .groupBy(col("source"))
          .agg(count_distinct(col("doc_id")).as("docs_affected"),
            count(lit(1)).as("boiler_hits"),
            count_distinct(col("h")).as("n_passages"))
        Tables.documents(s, d).groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"))
          .join(hits, Seq("source"), "left")
          .select(col("source"), col("n_docs"),
            coalesce(col("docs_affected"), lit(0L)).as("docs_affected"),
            coalesce(col("boiler_hits"), lit(0L)).as("boiler_hits"),
            coalesce(col("n_passages"), lit(0L)).as("n_passages"))
          .orderBy(col("source"))
      },
      Some {
        val shed = Sketches.shinglesSql("text", ShingleN)
        s"""WITH sh AS (SELECT doc_id, source, ${Sketches.h64Sql("g")} AS h FROM
              (SELECT doc_id, source, unnest(s) AS g FROM
                (SELECT doc_id, source, $shed AS s FROM documents))),
          boiler AS (SELECT h FROM (SELECT h, COUNT(*) AS df FROM sh GROUP BY 1)
            WHERE df > $BoilerDf),
          hits AS (SELECT source,
              CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS docs_affected,
              CAST(COUNT(*) AS BIGINT) AS boiler_hits,
              CAST(COUNT(DISTINCT h) AS BIGINT) AS n_passages
            FROM sh JOIN boiler USING (h) GROUP BY 1),
          base AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1)
          SELECT base.source, base.n_docs,
            COALESCE(docs_affected, 0) AS docs_affected,
            COALESCE(boiler_hits, 0) AS boiler_hits,
            COALESCE(n_passages, 0) AS n_passages
          FROM base LEFT JOIN hits ON hits.source = base.source
          ORDER BY base.source"""
      })

    /* L21: quality-aware survivor selection — the production refinement of
     * the min-id rule: within each canonical-form cluster (q34's
     * bag-of-words key — members share a word set but differ in order and
     * repetition, so their quality scores differ) keep the HIGHEST
     * QUALITY copy, smallest doc_id on ties. "First seen" discards signal
     * that "best scored" keeps. Spark: ONE map-side-combined hash
     * aggregate — max_by(doc_id, struct(quality, -doc_id)) — no window,
     * no re-join (the q42 family shape). The oracle derives the identical
     * survivor by the independent two-step formulation (per-cluster max
     * quality, then min id among the bit-identical maximal rows), so the
     * lexicographic-struct argmax is cross-checked, not replicated. */
    val q84 = GraftQuery(
      "q84_best_of_cluster", "L21 L2 L9",
      (s, d) => {
        val docs = Tables.documents(s, d).select(col("doc_id"),
          Sketches.h64(array_join(sort_array(array_distinct(
            Sketches.words(col("text")))), " ")).as("fp"),
          TextFunctions.qualityScoreColumn(col("text")).as("quality"))
        docs.groupBy(col("fp"))
          .agg(count(lit(1)).as("cluster_n"),
            max_by(col("doc_id"),
              struct(col("quality"), (-col("doc_id")).as("nid"))).as("survivor"),
            max(col("quality")).as("best_quality"),
            min(col("doc_id")).as("first_doc"))
          .orderBy(col("first_doc"))
          .select(col("fp"), col("cluster_n"), col("survivor"),
            col("best_quality"), col("first_doc"))
      },
      Some {
        val key = s"array_to_string(list_sort(list_distinct(${Sketches.wordsSql("text")})), ' ')"
        val quality = TextFunctions.qualityScoreSql("text")
        s"""WITH q AS (SELECT doc_id, ${Sketches.h64Sql(key)} AS fp,
              $quality AS quality FROM documents),
          c AS (SELECT fp, COUNT(*) AS cluster_n, MAX(quality) AS best_quality,
              MIN(doc_id) AS first_doc FROM q GROUP BY fp)
          SELECT c.fp, c.cluster_n, MIN(q.doc_id) AS survivor,
            c.best_quality, c.first_doc
          FROM c JOIN q ON q.fp = c.fp AND q.quality = c.best_quality
          GROUP BY c.fp, c.cluster_n, c.best_quality, c.first_doc
          ORDER BY c.first_doc"""
      })

    /* L27: semantic dedup (SemDeDup) — embedding-space near-dup removal
     * with CLUSTERING-based candidate generation: every vector is assigned
     * to its nearest coarse centroid (q70's broadcast-codebook argmax —
     * the IVF cell), candidate pairs are generated only WITHIN a cell,
     * verified by exact cosine >= tau, and the min-id survivor rule marks
     * each duplicate's keeper. Complements q72, which generates candidates
     * by hyperplane-LSH bands: cells are data-adaptive (the SemDeDup
     * paper's k-means shape) where bands are data-oblivious, and the two
     * recall profiles differ — cells catch near-dups whose sign bits
     * straddle a hyperplane, bands catch pairs split across a cell
     * boundary. At 100 TB: the codebook is a BROADCAST (the quantizer is
     * an input, trained offline); candidates are ids-only rows keyed by
     * cell id, so pair count is sum over cells of |cell|² — bounded by
     * the quantizer's balance, exactly the knob a production codebook
     * controls (k scales with corpus size to hold |cell| constant);
     * embeddings re-join BY ID for the verify; no window, no all-pairs. */
    val q92 = GraftQuery(
      "q92_semdedup_cells", "L27 L11 L13",
      // the object-level `semDedupCells` builder at the default dials
      // (CentroidStep, NearDupTau) — AnnRecallSpec sweeps the same
      // builder's centroidStep to measure the recall/pair-count trade
      (s, d) => semDedupCells(s, d),
      Some {
        val vcos = Sketches.cosineSql(
          Sketches.dotSql("ea.embedding", "eb.embedding", Dims),
          Sketches.normSql("ea.embedding", Dims),
          Sketches.normSql("eb.embedding", Dims))
        s"""WITH ${cellAsnCtesSql()},
          cand AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id
            FROM asn a JOIN asn b ON a.cell = b.cell AND a.vec_id < b.vec_id),
          ver AS MATERIALIZED (SELECT cand.a_id, cand.b_id FROM cand
            JOIN embeddings ea ON ea.vec_id = cand.a_id
            JOIN embeddings eb ON eb.vec_id = cand.b_id
            WHERE $vcos >= $NearDupTau),
          dup AS (SELECT b_id AS vec_id, MIN(a_id) AS dup_of FROM ver GROUP BY 1)
          SELECT asn.vec_id, asn.cell, dup.dup_of
          FROM asn LEFT JOIN dup ON dup.vec_id = asn.vec_id
          ORDER BY asn.vec_id"""
      })

    /* L28: TF-IDF distinctive-term profiling — per source, the terms that
     * most distinguish it from the rest of the corpus, the standard
     * corpus-exploration report a data curator runs before mixing
     * sources. The weight is a deliberate RARITY-RATIO score — the exact
     * rational (tf·1e6) div df under integer division — not classical
     * tf·ln(N/df): libm log differs by 1 ulp across engines (the q88
     * lesson), so the transcendental form is an oracle-divergence hazard.
     * The two DO rank differently when tf and df vary together (log
     * damps the df axis, the ratio doesn't — tf/df is rank-equivalent to
     * TF-IDF only at fixed tf); the ratio is chosen as the defined score
     * of this operator, trading TF-IDF's df damping for cross-engine
     * exactness. The corpus-size factor N genuinely IS rank-irrelevant
     * within a source (constant across terms) and is dropped from the
     * score — which also bounds every intermediate at tf·1e6,
     * overflow-free below ~9.2e12 occurrences of one term in one source
     * (int64 wraps silently on Spark but ERRORS on DuckDB, so an
     * unbounded product is an engine-divergence hazard, not just a wrong
     * number; beyond that domain, lift tf to DECIMAL(38,0) on both
     * engines). n_docs still rides along as a reported column — attached
     * as a broadcast one-row scalar, the reader applies any cross-corpus
     * normalization. At 100 TB: tf and df are both map-side-combined
     * aggregates (df over the distinct (doc, term) frame); the df side
     * collapses to |vocab| rows and joins the tf frame on the term; the
     * top-k window runs over the |sources|·|vocab| AGGREGATED frame,
     * never the corpus. */
    val q93 = GraftQuery(
      "q93_tfidf_terms", "L28 L8 A3 O2",
      (s, d) => {
        val w = Tables.documents(s, d)
          .select(col("source"), col("doc_id"),
            explode(Sketches.words(col("text"))).as("w"))
        val tf = w.groupBy(col("source"), col("w")).agg(count(lit(1)).as("tf"))
        val df = w.select(col("doc_id"), col("w")).distinct()
          .groupBy(col("w")).agg(count(lit(1)).as("df"))
        val n = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
        tf.join(df, Seq("w")).crossJoin(broadcast(n))
          .withColumn("score_ppm", expr("tf * 1000000 div df"))
          .withColumn("rank", row_number().over(
            Window.partitionBy(col("source"))
              .orderBy(col("score_ppm").desc, col("w"))))
          .filter(col("rank") <= 5)
          .select(col("source"), col("rank").cast("long").as("rank"),
            col("w").as("term"),
            col("tf"), col("df"), col("n_docs"), col("score_ppm"))
          .orderBy(col("source"), col("rank"))
      },
      Some {
        val ws = Sketches.wordsSql("text")
        s"""WITH w AS (SELECT source, doc_id, unnest($ws) AS w FROM documents),
          tf AS (SELECT source, w, COUNT(*) AS tf FROM w GROUP BY 1, 2),
          df AS (SELECT w, COUNT(*) AS df FROM
            (SELECT DISTINCT doc_id, w FROM w) GROUP BY 1),
          n AS (SELECT COUNT(*) AS n_docs FROM documents),
          sc AS (SELECT source, w, tf, df, n_docs,
              tf * 1000000 // df AS score_ppm
            FROM tf JOIN df USING (w) CROSS JOIN n),
          rk AS (SELECT *, row_number() OVER (PARTITION BY source
              ORDER BY score_ppm DESC, w) AS rank FROM sc)
          SELECT source, rank, w AS term, tf, df, n_docs, score_ppm
          FROM rk WHERE rank <= 5 ORDER BY source, rank"""
      })

    /* L29: cross-source overlap matrix — for every pair of sources, how
     * much content they share: distinct shingle fingerprints per source,
     * pairwise shared counts, and the Jaccard overlap (exact integer ppm).
     * This is the corpus-contamination profile a curator reads before
     * deduplicating across sources or holding one source out as eval —
     * the pairwise generalization of L17's corpus-vs-evalset check. At
     * 100 TB: the corpus collapses to the distinct (source, fingerprint)
     * frame first (one map-side-combined distinct — fingerprints are
     * 8-byte md5 prefixes, never shingle strings); the self-join fans out
     * per fingerprint by AT MOST |sources| rows, so pair cardinality is
     * bounded by |fps|·|sources|, never |docs|²; the output is the
     * |sources|² matrix; per-source totals attach as broadcast joins.
     * Overflow domain (the q93 rule): shared·1e6 stays inside int64 up to
     * ~9.2e12 shared fingerprints per source pair — ≈40 TB of unique text
     * in a single source; beyond that, lift the ppm product to
     * DECIMAL(38,0) on both engines. */
    val q94 = GraftQuery(
      "q94_source_overlap", "L29 L17 J9",
      (s, d) => {
        // r19 note: `fps` feeds three DAG branches (tot + both self-join
        // sides); its distinct's exchange subtree is identical under all
        // three, and the executed plan confirms ReusedExchange fires, so
        // the shingle+md5 map work runs once. A lazy persist here
        // measured WORSE in suite context (1.80 s vs ~1.5 s) — the q220
        // lesson: concurrent AQE stages racing to populate an
        // InMemoryRelation recompute it per scanner, while exchange
        // stage reuse is concurrency-safe.
        val fps = shingleRows(s, d, ShingleN, carry = Seq("source"))
          .select(col("source"), Sketches.h64(col("s")).as("g")).distinct()
        val tot = fps.groupBy(col("source")).agg(count(lit(1)).as("n_fp"))
        val pairs = fps.select(col("source").as("src_a"), col("g"))
          .join(fps.select(col("source").as("src_b"), col("g")), Seq("g"))
          .filter(col("src_a") < col("src_b"))
          .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("shared"))
        pairs
          .join(broadcast(tot.select(col("source").as("src_a"),
            col("n_fp").as("n_a"))), Seq("src_a"))
          .join(broadcast(tot.select(col("source").as("src_b"),
            col("n_fp").as("n_b"))), Seq("src_b"))
          .withColumn("jaccard_ppm",
            expr("shared * 1000000 div (n_a + n_b - shared)"))
          .select(col("src_a"), col("src_b"), col("shared"), col("n_a"),
            col("n_b"), col("jaccard_ppm"))
          .orderBy(col("src_a"), col("src_b"))
      },
      Some {
        val shed = Sketches.shinglesSql("text", ShingleN)
        s"""WITH sh AS (SELECT DISTINCT source, ${Sketches.h64Sql("g")} AS g
              FROM (SELECT source, unnest(s) AS g FROM
                (SELECT source, $shed AS s FROM documents))),
          tot AS (SELECT source, COUNT(*) AS n_fp FROM sh GROUP BY 1),
          p AS (SELECT a.source AS src_a, b.source AS src_b,
              COUNT(*) AS shared
            FROM sh a JOIN sh b ON a.g = b.g AND a.source < b.source
            GROUP BY 1, 2)
          SELECT src_a, src_b, shared, ta.n_fp AS n_a, tb.n_fp AS n_b,
            shared * 1000000 // (ta.n_fp + tb.n_fp - shared) AS jaccard_ppm
          FROM p JOIN tot ta ON ta.source = p.src_a
            JOIN tot tb ON tb.source = p.src_b
          ORDER BY src_a, src_b"""
      })

    /* L30: length-distribution profile — per source, the quartiles, mean,
     * and extremes of document token counts: the histogram a curator reads
     * to set truncation budgets and spot sources of degenerate shorts or
     * pathological longs before mixing. Quantiles are EXACT at dyadic
     * probabilities (0.25/0.5/0.75) over integer token counts: the
     * interpolation index (n-1)·p and fraction are dyadic rationals,
     * products and sums of integers with quarters are exactly
     * representable doubles, so ANY correct interpolation algebra — Spark's
     * `percentile` and DuckDB's `quantile_cont` differ in expression
     * order — produces bit-identical results; no transcendental, no
     * quantization. The mean is the one-division exact form (bigint
     * sum / count). At 100 TB: token counting is map-side column math;
     * `percentile` aggregates a count-map keyed by distinct count values
     * (bounded domain — document lengths, not documents) with map-side
     * partial merge; output is |sources| rows. */
    val q95 = GraftQuery(
      "q95_length_profile", "L30 L9 A2",
      (s, d) => {
        Tables.documents(s, d)
          .select(col("source"),
            TextFunctions.tokenCountWs(col("text")).cast("long").as("tok"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("tok")).as("total_tokens"),
            min(col("tok")).as("min_tok"),
            expr("percentile(tok, 0.25)").as("p25"),
            expr("percentile(tok, 0.5)").as("p50"),
            expr("percentile(tok, 0.75)").as("p75"),
            max(col("tok")).as("max_tok"),
            (sum(col("tok")).cast("double") / count(lit(1)).cast("double"))
              .as("mean_tok"))
          .orderBy(col("source"))
      },
      Some {
        s"""WITH t AS (SELECT source,
              CAST(CASE WHEN len(trim(text)) = 0 THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
                AS BIGINT) AS tok
            FROM documents)
          SELECT source, COUNT(*) AS n_docs,
            CAST(SUM(tok) AS BIGINT) AS total_tokens,
            MIN(tok) AS min_tok,
            quantile_cont(tok, 0.25e0) AS p25,
            quantile_cont(tok, 0.5e0) AS p50,
            quantile_cont(tok, 0.75e0) AS p75,
            MAX(tok) AS max_tok,
            CAST(SUM(tok) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_tok
          FROM t GROUP BY 1 ORDER BY source"""
      })

    /* L31: incremental (batch-vs-corpus) dedup — the nightly-ingest shape:
     * an arriving batch is checked against the existing corpus WITHOUT
     * re-deduplicating the corpus. Exact layer: content fingerprints.
     * Near-dup layer: canonical bag-of-words keys (L2's family). The scale
     * asymmetry is the whole operator: the batch is small by definition
     * (one day's crawl vs years of corpus), so BOTH probe joins broadcast
     * the BATCH side and stream the corpus map-side — zero corpus shuffle,
     * zero corpus re-fingerprinting beyond the scan projection. Verdicts
     * per batch doc: 'exact_dup' (content fp already in corpus),
     * 'near_dup' (canonical key present, content differs), 'new'. The
     * fixture splits documents by id — doc_id % 10 = 0 is the batch, the
     * rest the corpus — and additionally REPLAYS corpus docs with
     * doc_id % 97 = 1 into the batch verbatim under new ids (the q87/q89
     * planted pattern, both engines identically): the synthetic corpus has
     * no exact-dup pair straddling any id split at sf0.01, and a
     * re-crawled unchanged page is precisely the event the exact layer
     * exists to catch — planting makes that branch fire at every SF
     * instead of only where fixture luck provides a collision. */
    val q96 = GraftQuery(
      "q96_incremental_dedup", "L31 L1 L2 J6",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .select(col("doc_id"),
            TextFunctions.md5Fingerprint(col("text")).as("fp"),
            Sketches.h64(array_join(sort_array(array_distinct(
              Sketches.words(col("text")))), " ")).as("ck"))
        val corpus = docs.filter(col("doc_id") % 10 =!= 0)
        val batch = docs.filter(col("doc_id") % 10 === 0)
          .unionAll(corpus.filter(col("doc_id") % 97 === 1)
            .select((col("doc_id") + 1000000L).as("doc_id"), col("fp"), col("ck")))
        // batch side is broadcast; the corpus streams through both probes
        // map-side. The aggregates collapse to at most |batch| rows before
        // the final (broadcast) classification joins.
        val exactHit = corpus.join(broadcast(batch.select(col("fp")).distinct()),
            Seq("fp"))
          .groupBy(col("fp")).agg(min(col("doc_id")).as("first_exact"))
        val nearHit = corpus.join(broadcast(batch.select(col("ck")).distinct()),
            Seq("ck"))
          .groupBy(col("ck")).agg(min(col("doc_id")).as("first_near"))
        batch
          .join(broadcast(exactHit), Seq("fp"), "left")
          .join(broadcast(nearHit), Seq("ck"), "left")
          .select(col("doc_id"),
            when(col("first_exact").isNotNull, "exact_dup")
              .when(col("first_near").isNotNull, "near_dup")
              .otherwise("new").as("verdict"),
            coalesce(col("first_exact"), col("first_near")).as("matched_doc"))
          .orderBy(col("doc_id"))
      },
      Some {
        val fp = TextFunctions.md5FingerprintSql("text")
        val ck = Sketches.h64Sql(
          s"array_to_string(list_sort(list_distinct(${Sketches.wordsSql("text")})), ' ')")
        s"""WITH docs AS (SELECT doc_id, $fp AS fp, $ck AS ck FROM documents),
          corpus AS (SELECT * FROM docs WHERE doc_id % 10 <> 0),
          batch AS (SELECT * FROM docs WHERE doc_id % 10 = 0
            UNION ALL SELECT doc_id + 1000000, fp, ck FROM corpus
            WHERE doc_id % 97 = 1),
          ex AS (SELECT c.fp, MIN(c.doc_id) AS first_exact FROM corpus c
            JOIN (SELECT DISTINCT fp FROM batch) b ON b.fp = c.fp GROUP BY 1),
          nr AS (SELECT c.ck, MIN(c.doc_id) AS first_near FROM corpus c
            JOIN (SELECT DISTINCT ck FROM batch) b ON b.ck = c.ck GROUP BY 1)
          SELECT batch.doc_id,
            CASE WHEN ex.first_exact IS NOT NULL THEN 'exact_dup'
                 WHEN nr.first_near IS NOT NULL THEN 'near_dup'
                 ELSE 'new' END AS verdict,
            COALESCE(ex.first_exact, nr.first_near) AS matched_doc
          FROM batch LEFT JOIN ex ON ex.fp = batch.fp
            LEFT JOIN nr ON nr.ck = batch.ck
          ORDER BY batch.doc_id"""
      })

    /* L32: split-leakage audit — do near-duplicate clusters span
     * train/val/test? The id-hash split (L14) is deliberately independent
     * of content, so duplicate documents CAN land in different splits;
     * this is the audit that quantifies that leakage and justifies
     * dedup-before-split ordering in the funnel. Clusters are the
     * canonical bag-of-words family (L2 — the corpus has no exact-dup
     * pair at sf0.01, but 21 bow clusters), the split assignment is
     * EXACTLY the L14 hash over the eval-filtered corpus, and the report
     * groups multi-doc clusters by how many distinct splits they touch
     * (1 = clean, ≥2 = leaking) with doc counts. At 100 TB: one hash
     * aggregate per cluster key over the shared funnel scan, then a
     * |clusters|-row re-aggregate — no window, no join wider than the
     * funnel's own. */
    val q97 = GraftQuery(
      "q97_split_leakage", "L32 L14 L2",
      (s, d) => {
        val flags = funnelFlags(s, d)
          .select(col("doc_id"), col("split"),
            Sketches.h64(array_join(sort_array(array_distinct(
              Sketches.words(col("text")))), " ")).as("ck"))
        flags.groupBy(col("ck"))
          .agg(count(lit(1)).as("n"),
            countDistinct(col("split")).as("n_splits"))
          .filter(col("n") >= 2)
          .groupBy(col("n_splits"))
          .agg(count(lit(1)).as("n_clusters"), sum(col("n")).as("n_docs"))
          .orderBy(col("n_splits"))
      },
      Some {
        val ck = Sketches.h64Sql(
          s"array_to_string(list_sort(list_distinct(${Sketches.wordsSql("text")})), ' ')")
        s"""WITH $funnelBaseCtesSql,
          cl AS (SELECT $ck AS ck, COUNT(*) AS n,
              COUNT(DISTINCT split) AS n_splits
            FROM base GROUP BY 1 HAVING COUNT(*) >= 2)
          SELECT n_splits, COUNT(*) AS n_clusters,
            CAST(SUM(n) AS BIGINT) AS n_docs
          FROM cl GROUP BY 1 ORDER BY n_splits"""
      })

    Seq(q33, q34, q35, q36, q37, q38, q39, q40, q41, q67, q70, q72, q73, q74,
      q75, q76, q77, q78, q79, q80, q84, q85, q86, q87, q88, q89, q90, q91,
      q92, q93, q94, q95, q96, q97)
  }
}
