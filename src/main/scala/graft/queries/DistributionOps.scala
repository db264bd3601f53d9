package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.Sketches

/** Distribution-shaping operators (SURVEY §2.11a, L140–L143):
  *
  *  - L140 duplication-provenance attribution      → q208
  *  - L141 conditional-entropy redundancy          → q209
  *  - L142 negative-sampling distribution (¾ pow)  → q210
  *  - L143 temperature-mixture dial curve          → q211
  *
  * The tier that turns raw corpus distributions into the shaped ones
  * training actually consumes: WHO copies WHOM (the directed read on
  * the L29 overlap matrix — exact-dup clusters credited to their
  * earliest-arrival source, the provenance/licensing signal), how
  * much of a source's token stream is predictable from one word of
  * context (bigram conditional entropy vs the unigram baseline — the
  * redundancy health read behind deduplication and repetition
  * policy), the word2vec negative-sampling table (unigram counts
  * flattened to the ¾ power — exactly, via the nested integer sqrt,
  * no libm), and the multilingual temperature-sampling curve (source
  * shares at τ ∈ {1,2,4} with the effective-source count each τ
  * buys — the measured dial behind every mixture plan).
  *
  * Determinism: the provenance origin is a (doc_id, source) min
  * struct, the entropy ladder rides log2q10, the ¾ power is
  * floor(c^¾) = isqrt(isqrt(c³)) exactly, and temperature weights
  * are nested isqrt — all shared primitives with SQL and Scala twins.
  */
object DistributionOps {

  /** L142 dials: per-word counts clip at 2^20 (keeps c³ < 2^60 inside
    * the nested-isqrt domain at any corpus size) and the table
    * reports the top-16 head words.
    */
  private[queries] val NegClip = 1048576L
  private[queries] val NegTopK = 16

  def all: Seq[GraftQuery] = {

    /* L140: duplication-provenance attribution — the DIRECTED read on
     * cross-source duplication: L29 reports how much content two
     * sources share, this reports which one had it FIRST. Every
     * multi-doc exact-dup cluster (the registered q160/q202 kernel)
     * is credited to its earliest member — origin = min
     * (doc_id, source) struct, the L31 monotone-ingest stance: the
     * ingest id IS arrival order — and every later member counts as a
     * republication (origin_source → dup_source) with its character
     * mass. A heavy off-diagonal row means a source is largely
     * syndicated content (licensing/attribution risk and a dedup
     * priority); the diagonal is within-source duplication. At
     * 100 TB: the cluster agg and join are co-located under a
     * ck-bucketed K8 layout; the matrix is ≤ |sources|² rows. */
    val q208 = GraftQuery(
      "q208_dup_provenance", "L140 L29 L92 L2",
      (s, d) => {
        val cs = WebCorpusOps.clusterSizes(s, d)
        val origin = cs.groupBy(col("ck"))
          .agg(min(struct(col("doc_id"), col("source"))).as("o"))
          .select(col("ck"), col("o.doc_id").as("o_id"),
            col("o.source").as("origin_source"))
        cs.filter(col("csz") >= 2)
          .join(origin, Seq("ck"))
          .filter(col("doc_id") =!= col("o_id"))
          .groupBy(col("origin_source"), col("source").as("dup_source"))
          .agg(count(lit(1)).as("n_dup_docs"),
            sum(col("n_chars")).as("dup_chars"))
          .orderBy(col("origin_source"), col("dup_source"))
      },
      Some {
        s"""WITH ${WebCorpusOps.clusterCtesSql},
          oo AS (SELECT ck, doc_id AS o_id, source AS origin_source
            FROM (SELECT ck, doc_id, source, row_number() OVER
                (PARTITION BY ck ORDER BY doc_id) AS rn FROM cj)
            WHERE rn = 1),
          dup AS (SELECT oo.origin_source, cj.source AS dup_source,
              cj.n_chars
            FROM cj JOIN oo ON oo.ck = cj.ck
            WHERE cj.csz >= 2 AND cj.doc_id <> oo.o_id)
          SELECT origin_source, dup_source,
            CAST(COUNT(*) AS BIGINT) AS n_dup_docs,
            CAST(SUM(n_chars) AS BIGINT) AS dup_chars
          FROM dup GROUP BY 1, 2 ORDER BY origin_source, dup_source"""
      })

    /* L141: conditional-entropy redundancy — how much of a source's
     * token stream one word of context already predicts: over the
     * bigram process, H(Y|X) = Σ c_xy·(log2 c_x − log2 c_xy)/N vs the
     * unigram baseline H(Y) = Σ c_x·(log2 N − log2 c_x)/N (both over
     * the first-word marginal so the ratio is apples-to-apples), and
     * predictability = max(0, 1 − H(Y|X)/H(Y)) — FLOORED at 0 on both
     * engines: the baseline is the FIRST-word marginal, and H(Y|X) can
     * exceed it on corpora where one dominant first word fans out to
     * many distinct continuations, so the raw ratio is not structurally
     * bounded below (ADVICE r16); the floor makes the [0, 10^6] range a
     * law, not a fixture accident. Template floods and
     * boilerplate push predictability toward 1 (the next word is
     * nearly determined); word salad pushes it toward 0 — the
     * corpus-health read BEHIND the L16/L26 filters, on the same
     * ladder the L48 familiarity score uses per-doc. Both entropies
     * ride the log2q10 ladder (Q10 bits — the differences are ≥ 0
     * because log2q10 is monotone and c_xy ≤ c_x ≤ N). At 100 TB:
     * one native non-distinct bigram pass (the L95 postings shuffle),
     * a first-word marginal rollup keyed by (source, word), and
     * |sources|-row math. */
    val q209 = GraftQuery(
      "q209_conditional_entropy", "L141 L48 L63 L95",
      (s, d) => {
        val bg = Tables.documents(s, d)
          .select(col("source"),
            explode(call_function("graft_grams", col("text"), lit(2)))
              .as("gram"))
          .groupBy(col("source"), col("gram"))
          .agg(count(lit(1)).as("cxy"))
          .withColumn("fx", substring_index(col("gram"), " ", 1))
        val ux = bg.groupBy(col("source"), col("fx"))
          .agg(sum(col("cxy")).as("cx"))
        val tot = bg.groupBy(col("source"))
          .agg(sum(col("cxy")).as("nb"))
        val sumCond = bg.join(ux, Seq("source", "fx"))
          .groupBy(col("source"))
          .agg(sum(col("cxy") * (Sketches.log2q10(col("cx")) -
            Sketches.log2q10(col("cxy")))).as("sc"))
        val sumUni = ux.join(broadcast(tot), Seq("source"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_first_types"),
            sum(col("cx") * (Sketches.log2q10(col("nb")) -
              Sketches.log2q10(col("cx")))).as("su"))
        sumCond.join(sumUni, Seq("source"))
          .join(broadcast(tot), Seq("source"))
          .withColumn("h_cond_q10", expr("sc div nb"))
          .withColumn("h_unigram_q10", expr("su div nb"))
          .withColumn("predictability_ppm", expr(
            "greatest(1000000 - (h_cond_q10 * 1000000) div " +
              "greatest(h_unigram_q10, 1), 0)"))
          .select(col("source"), col("nb").as("n_bigrams"),
            col("n_first_types"), col("h_unigram_q10"),
            col("h_cond_q10"), col("predictability_ppm"))
          .orderBy(col("source"))
      },
      Some {
        val ws = Sketches.wordsSql("text")
        val lgCx = Sketches.log2q10Sql("cx")
        val lgCxy = Sketches.log2q10Sql("cxy")
        val lgNb = Sketches.log2q10Sql("nb")
        s"""WITH gd AS (SELECT source,
              CASE WHEN len($ws) >= 2 THEN
                list_transform(range(1, len($ws)),
                  i -> ($ws)[i] || ' ' || ($ws)[i+1])
              ELSE CAST([] AS VARCHAR[]) END AS g
            FROM documents),
          bg AS (SELECT source, gram, CAST(COUNT(*) AS BIGINT) AS cxy,
              split_part(gram, ' ', 1) AS fx
            FROM (SELECT source, unnest(g) AS gram FROM gd)
            GROUP BY 1, 2),
          ux AS (SELECT source, fx, CAST(SUM(cxy) AS BIGINT) AS cx
            FROM bg GROUP BY 1, 2),
          tot AS (SELECT source, CAST(SUM(cxy) AS BIGINT) AS nb
            FROM bg GROUP BY 1),
          sc AS (SELECT bg.source,
              CAST(SUM(bg.cxy * ($lgCx - $lgCxy)) AS BIGINT) AS sc
            FROM bg JOIN ux ON ux.source = bg.source AND ux.fx = bg.fx
            GROUP BY 1),
          su AS (SELECT ux.source,
              CAST(COUNT(*) AS BIGINT) AS n_first_types,
              CAST(SUM(ux.cx * ($lgNb - $lgCx)) AS BIGINT) AS su
            FROM ux JOIN tot ON tot.source = ux.source GROUP BY 1),
          ag AS (SELECT sc.source, tot.nb, su.n_first_types,
              su.su // tot.nb AS h_unigram_q10,
              sc.sc // tot.nb AS h_cond_q10
            FROM sc JOIN su ON su.source = sc.source
              JOIN tot ON tot.source = sc.source)
          SELECT source, nb AS n_bigrams, n_first_types,
            h_unigram_q10, h_cond_q10,
            GREATEST(1000000 - (h_cond_q10 * 1000000)
              // GREATEST(h_unigram_q10, 1), 0) AS predictability_ppm
          FROM ag ORDER BY source"""
      })

    /* L142: negative-sampling distribution — word2vec's unigram^¾
     * table, computed EXACTLY: flattening the unigram distribution to
     * the ¾ power moves sampling mass from the head ("the") toward
     * the tail, and floor(c^¾) = isqrt(isqrt(c³)) needs only the
     * integer square root (counts clip at 2^20 so c³ stays inside
     * the isqrt domain — the saturation read is the same as L133's
     * clip). The table reports the top-16 head words with their raw
     * vs negative-table shares — raw > neg on the head is the
     * flattening working; the full Σw normalizer covers the ENTIRE
     * vocabulary, not just the reported head. At 100 TB: one word
     * pass into the map-side-combined vocab agg, two broadcast
     * scalars, the orderBy.limit head (post-limit stance). */
    val q210 = GraftQuery(
      "q210_negative_sampling_table", "L142 L116 L9",
      (s, d) => {
        val vocab = Tables.documents(s, d)
          .select(explode(Sketches.words(col("text"))).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("c"))
          .withColumn("cl", least(col("c"), lit(NegClip)))
          .withColumn("w34",
            Sketches.isqrt(Sketches.isqrt(col("cl") * col("cl") * col("cl"))))
        val tot = vocab.agg(sum(col("c")).as("n_tokens"),
          sum(col("w34")).as("sum_w34"))
        vocab.crossJoin(broadcast(tot))
          .orderBy(col("c").desc, col("w"))
          .limit(NegTopK)
          .withColumn("raw_share_ppm",
            expr("(c * 1000000) div greatest(n_tokens, 1)"))
          .withColumn("neg_share_ppm",
            expr("(w34 * 1000000) div greatest(sum_w34, 1)"))
          .select(col("w").as("word"), col("c"), col("w34"),
            col("raw_share_ppm"), col("neg_share_ppm"))
      },
      Some {
        val ws = Sketches.wordsSql("text")
        val w34 = Sketches.isqrtSql(Sketches.isqrtSql("cl * cl * cl"))
        s"""WITH vocab AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c,
              LEAST(CAST(COUNT(*) AS BIGINT), $NegClip) AS cl
            FROM (SELECT unnest($ws) AS w FROM documents) GROUP BY 1),
          vw AS (SELECT w, c, $w34 AS w34 FROM vocab),
          tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tokens,
              CAST(SUM(w34) AS BIGINT) AS sum_w34 FROM vw)
          SELECT w AS word, c, w34,
            (c * 1000000) // GREATEST(n_tokens, 1) AS raw_share_ppm,
            (w34 * 1000000) // GREATEST(sum_w34, 1) AS neg_share_ppm
          FROM vw, tot ORDER BY c DESC, w LIMIT $NegTopK"""
      })

    /* L143: temperature-mixture dial curve — the multilingual
     * temperature-sampling law (mT5/XLM-R style) as a measured dial:
     * source shares flattened as supply^(1/τ) for τ ∈ {1, 2, 4}
     * (τ = 1 raw, τ = 2 the Q10-scaled √, τ = 4 its nested √ — exact
     * integer roots via isqrt, no libm), each τ priced by the
     * effective-source count
     * its shares buy (inverse Simpson on the ppm shares, Q10) — the
     * curve an operator reads before committing a mixture: how much
     * head-source dominance each temperature step actually removes.
     * L42 executes a chosen temperature; this prices the choice (the
     * L129/L130 nested-dial stance). At 100 TB: one word-count pass
     * into a |sources|-row rollup; the τ grid and both windows run on
     * 3·|sources| rows. */
    val q211 = GraftQuery(
      "q211_temperature_dial_curve", "L143 L42 L112",
      (s, d) => {
        val sup = Tables.documents(s, d)
          .select(col("source"),
            explode(Sketches.words(col("text"))).as("w"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("supply_tokens"))
        // roots carry Q10 resolution (w₂ = √n·2^10, w₄ = ∜n·2^10 —
        // raw integer roots are ~15 at fixture scale and their
        // quantization lumps the shares enough to break the dial law;
        // the Q10 scale restores it). Below 2^42 the scale rides
        // inside the isqrt exactly; above, the root is taken first —
        // same branch both engines.
        val w2 = when(col("supply_tokens") < (1L << 42),
          Sketches.isqrt(col("supply_tokens") * lit(1048576L)))
          .otherwise(Sketches.isqrt(col("supply_tokens")) * lit(1024L))
        val wts = sup.select(col("source"), col("supply_tokens"),
          explode(array(
            struct(lit(1L).as("tau"),
              col("supply_tokens").as("w")),
            struct(lit(2L).as("tau"), w2.as("w")),
            struct(lit(4L).as("tau"),
              Sketches.isqrt(w2 * lit(1024L)).as("w")))).as("x"))
          .select(col("source"), col("supply_tokens"),
            col("x.tau").as("tau"), col("x.w").as("w_tau"))
        val wt = Window.partitionBy(col("tau"))
        wts
          .withColumn("tot_w", sum(col("w_tau")).over(wt))
          .withColumn("share_ppm",
            expr("(w_tau * 1000000) div greatest(tot_w, 1)"))
          .withColumn("ssq",
            sum(col("share_ppm") * col("share_ppm")).over(wt))
          .withColumn("eff_sources_q10",
            expr("1024000000000000 div greatest(ssq, 1)"))
          .select(col("tau"), col("source"), col("supply_tokens"),
            col("w_tau"), col("share_ppm"), col("eff_sources_q10"))
          .orderBy(col("tau"), col("source"))
      },
      Some {
        val ws = Sketches.wordsSql("text")
        val sq = s"""(CASE WHEN supply_tokens < 4398046511104
          THEN ${Sketches.isqrtSql("supply_tokens * 1048576")}
          ELSE ${Sketches.isqrtSql("supply_tokens")} * 1024 END)"""
        val qq = Sketches.isqrtSql("w2 * 1024")
        s"""WITH sup AS (SELECT source,
              CAST(COUNT(*) AS BIGINT) AS supply_tokens
            FROM (SELECT source, unnest($ws) AS w FROM documents)
            GROUP BY 1),
          s2 AS (SELECT source, supply_tokens, $sq AS w2 FROM sup),
          wts AS (
            SELECT source, supply_tokens, CAST(1 AS BIGINT) AS tau,
              supply_tokens AS w_tau FROM s2
            UNION ALL
            SELECT source, supply_tokens, CAST(2 AS BIGINT) AS tau,
              w2 AS w_tau FROM s2
            UNION ALL
            SELECT source, supply_tokens, CAST(4 AS BIGINT) AS tau,
              $qq AS w_tau FROM s2),
          sh AS (SELECT source, supply_tokens, tau, w_tau,
              (w_tau * 1000000) // GREATEST(CAST(SUM(w_tau) OVER
                (PARTITION BY tau) AS BIGINT), 1) AS share_ppm
            FROM wts)
          SELECT tau, source, supply_tokens, w_tau, share_ppm,
            1024000000000000 // GREATEST(CAST(SUM(
              share_ppm * share_ppm) OVER (PARTITION BY tau)
              AS BIGINT), 1) AS eff_sources_q10
          FROM sh ORDER BY tau, source"""
      })

    Seq(q208, q209, q210, q211)
  }
}
