package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables

/** Mixture-allocation and ANN-governance operators (SURVEY §2.11a,
  * L89–L90):
  *
  *  - L89 budget water-filling allocation (DoReMi-lite)        → q157
  *  - L90 ANN rank-agreement audit (exact vs IVF per depth)    → q158
  *
  * Both are governance-by-evidence ops: q157 turns "mix sources at
  * these weights" into a feasible integer allocation with saturation
  * bookkeeping; q158 turns the ANN recall story (previously spec-only,
  * AnnRecallSpec) into an ORACLE-GATED per-depth agreement measurement
  * between the registered exact baseline (q38's builder) and the
  * registered IVF path (q70's builder).
  */
object MixtureAuditOps {

  /** L89 dials: the corpus share the budget represents (60%), the
    * number of unrolled water-filling iterations, and the planted
    * per-source target weights w = 1 + (source index mod 7) — skewed
    * enough that high-weight sources DEMAND more than they have and
    * saturate at iteration 1 at every gated SF, exercising the
    * redistribution branch (the dynamics are scale-invariant: avail and
    * budget both scale with the corpus).
    */
  private[queries] val WfBudgetPct = 60L
  private[queries] val WfIters = 3

  /** L90 agreement depths (≤ q38/q70's registered TopK = 5). */
  private[queries] val AgreeDepths = Seq(1L, 3L, 5L)

  def all: Seq[GraftQuery] = {

    /* L89: budget water-filling — the allocator that turns target
     * mixture weights into a FEASIBLE per-source token allocation when
     * some sources cannot fill their share (the DoReMi/data-mixing
     * reality: weights come from a proxy run, availability from the
     * corpus, and the two disagree): iteration k gives every
     * unsaturated source demand = remaining_budget · w div Σw_active,
     * takes min(demand, what's left of the source), marks saturations,
     * and rolls the un-taken budget forward; 3 unrolled iterations (the
     * oracle unrolls the same three as chained CTEs — the q141/q143
     * fixed-iteration convention). All integer; floor dust stays in
     * `leftover`, accounted, never silently lost. At 100 TB: avail is
     * one map-side |sources|-row aggregate of the corpus scan;
     * iterations run ON the |sources|-row frame (broadcast scalar
     * reductions) — corpus cost is ONE pass regardless of iteration
     * count. */
    val q157 = GraftQuery(
      "q157_budget_waterfill", "L89 L18 L49",
      (s, d) => {
        val av = Tables.documents(s, d)
          .groupBy(col("source"))
          .agg(sum(col("n_chars")).as("avail"))
          .withColumn("w",
            expr("cast(substring(source, 4) as bigint) % 7 + 1"))
        val bt = av.agg(expr(s"(sum(avail) * $WfBudgetPct) div 100").as("b"))
        val st0 = av.crossJoin(broadcast(bt))
          .withColumn("alloc", lit(0L))
          .withColumn("sat_iter", lit(0L))
        val stN = (1 to WfIters).foldLeft(st0) { (st, k) =>
          val sums = st.agg(
            sum(when(col("alloc") < col("avail"), col("w")).otherwise(0L))
              .as("sw"),
            (first(col("b")) - sum(col("alloc"))).as("rem"))
          st.crossJoin(broadcast(sums))
            .withColumn("take",
              when(col("alloc") < col("avail") && col("sw") > 0,
                least(col("avail") - col("alloc"),
                  expr("(rem * w) div sw"))).otherwise(lit(0L)))
            .withColumn("alloc", col("alloc") + col("take"))
            .withColumn("sat_iter",
              when(col("sat_iter") === 0 && col("alloc") === col("avail"),
                lit(k.toLong)).otherwise(col("sat_iter")))
            .select(col("source"), col("avail"), col("w"), col("b"),
              col("alloc"), col("sat_iter"))
        }
        val left = stN.agg((first(col("b")) - sum(col("alloc")))
          .as("leftover"))
        stN.crossJoin(broadcast(left))
          .select(col("source"), col("w"), col("avail"),
            col("alloc"), col("sat_iter"), col("b").as("budget"),
            col("leftover"))
          .orderBy(col("source"))
      },
      Some {
        def iterSql(k: Int): String =
          s"""t$k AS (SELECT
              CAST(SUM(CASE WHEN alloc < avail THEN w ELSE 0 END) AS BIGINT)
                AS sw,
              (SELECT b FROM bt) - CAST(SUM(alloc) AS BIGINT) AS rem
            FROM s${k - 1}),
          s$k AS (SELECT source, w, avail,
              alloc + CASE WHEN alloc < avail AND t.sw > 0
                THEN LEAST(avail - alloc, (t.rem * w) // t.sw)
                ELSE 0 END AS alloc,
              CASE WHEN sat_iter = 0 AND alloc + CASE WHEN alloc < avail
                  AND t.sw > 0 THEN LEAST(avail - alloc, (t.rem * w) // t.sw)
                  ELSE 0 END = avail
                THEN $k ELSE sat_iter END AS sat_iter
            FROM s${k - 1} CROSS JOIN t$k t)"""
        s"""WITH av AS (SELECT source,
              CAST(substring(source, 4) AS BIGINT) % 7 + 1 AS w,
              CAST(SUM(n_chars) AS BIGINT) AS avail
            FROM documents GROUP BY 1),
          bt AS (SELECT (CAST(SUM(avail) AS BIGINT) * $WfBudgetPct) // 100
              AS b FROM av),
          s0 AS (SELECT source, w, avail, CAST(0 AS BIGINT) AS alloc,
              CAST(0 AS BIGINT) AS sat_iter FROM av),
          ${(1 to WfIters).map(iterSql).mkString(",\n          ")}
          SELECT source, w, avail, alloc, sat_iter,
            (SELECT b FROM bt) AS budget,
            (SELECT b FROM bt) -
              (SELECT CAST(SUM(alloc) AS BIGINT) FROM s$WfIters) AS leftover
          FROM s$WfIters ORDER BY source"""
      })

    /* L90: ANN rank-agreement audit — the per-depth overlap between the
     * registered exact baseline (q38's builder) and the registered IVF
     * path (q70's builder), as an oracle-gated query instead of a
     * spec-only recall number: for each depth d, overlap(q) = |exact
     * top-d ∩ IVF top-d|, reported as Σoverlap, agreement ppm
     * (Σoverlap·1e6 div (n_queries·d)) and the count of queries in
     * perfect agreement. Queries the IVF path misses entirely
     * contribute zero through the inner join (never dropped from the
     * denominator — n_queries comes from the exact side). Both engines
     * consume the SAME factored kernels (bruteRankedCtesSql /
     * ivfRankedCtesSql — one source of truth with q38/q70), so the gate
     * proves the measurement, and the measurement governs the NProbe/
     * CentroidStep dials. At 100 TB: both inputs are bounded by the
     * q38/q70 query-budget protocol (|queries| = n/50); the audit adds
     * one (q_id, vec_id) join and |depths|-row aggregates. */
    val q158 = GraftQuery(
      "q158_ann_rank_agreement", "L90 L6 L11",
      (s, d) => {
        import s.implicits._
        val exact = LlmPipeline.bruteTopK(s, d)
          .select(col("q_id"), col("vec_id"), col("rank").as("rank_e"))
        val ivf = LlmPipeline.ivfTopK(s, d)
          .select(col("q_id"), col("vec_id"), col("rank").as("rank_i"))
        val depths = AgreeDepths.toDF("depth")
        val nq = exact.select(col("q_id")).distinct()
          .agg(count(lit(1)).as("n_queries"))
        val ov = exact.join(ivf, Seq("q_id", "vec_id"))
          .crossJoin(broadcast(depths))
          .filter(col("rank_e") <= col("depth") &&
            col("rank_i") <= col("depth"))
          .groupBy(col("depth"), col("q_id"))
          .agg(count(lit(1)).as("ov"))
        depths.join(
            ov.groupBy(col("depth"))
              .agg(sum(col("ov")).as("sum_overlap"),
                sum(when(col("ov") === col("depth"), 1L).otherwise(0L))
                  .as("n_perfect")),
            Seq("depth"), "left")
          .crossJoin(broadcast(nq))
          .select(col("depth"), col("n_queries"),
            coalesce(col("sum_overlap"), lit(0L)).as("sum_overlap"),
            expr("coalesce(sum_overlap, 0) * 1000000 div (n_queries * depth)")
              .as("agree_ppm"),
            coalesce(col("n_perfect"), lit(0L)).as("n_perfect"))
          .orderBy(col("depth"))
      },
      Some {
        val depthsSql = AgreeDepths.mkString(", ")
        s"""WITH ${LlmPipeline.bruteRankedCtesSql("br")},
          ${LlmPipeline.ivfRankedCtesSql("ivr")},
          dp AS (SELECT unnest([$depthsSql]) AS depth),
          nq AS (SELECT CAST(COUNT(DISTINCT q_id) AS BIGINT) AS n_queries
            FROM br),
          j AS (SELECT br.q_id, br.rank AS rank_e, ivr.rank AS rank_i
            FROM br JOIN ivr ON ivr.q_id = br.q_id
              AND ivr.vec_id = br.vec_id),
          ov AS (SELECT dp.depth, j.q_id, CAST(COUNT(*) AS BIGINT) AS ov
            FROM j CROSS JOIN dp
            WHERE j.rank_e <= dp.depth AND j.rank_i <= dp.depth
            GROUP BY 1, 2),
          pd AS (SELECT depth, CAST(SUM(ov) AS BIGINT) AS sum_overlap,
              CAST(SUM(CASE WHEN ov = depth THEN 1 ELSE 0 END) AS BIGINT)
                AS n_perfect
            FROM ov GROUP BY 1)
          SELECT CAST(dp.depth AS BIGINT) AS depth, nq.n_queries,
            COALESCE(pd.sum_overlap, 0) AS sum_overlap,
            COALESCE(pd.sum_overlap, 0) * 1000000
              // (nq.n_queries * dp.depth) AS agree_ppm,
            COALESCE(pd.n_perfect, 0) AS n_perfect
          FROM dp LEFT JOIN pd ON pd.depth = dp.depth CROSS JOIN nq
          ORDER BY dp.depth"""
      })

    /* L94: packing cross-contamination audit — the attention-mask
     * question L15's sequence packing raises: when multiple docs share
     * one training sequence, what fraction of attention pairs CROSS doc
     * boundaries (noise unless the trainer masks them)? Per packed bin
     * with doc token lengths t_i and T = Σt_i: cross pairs / all pairs
     * = (T² − Σt_i²) / T², exact in ppm. The dial is the pack budget —
     * the registered query measures BOTH the production budget and 2×
     * (bigger windows pack more docs per sequence → more cross mass),
     * reusing q74's exact shard/packing arithmetic so the audit
     * measures the REGISTERED packer. At 100 TB: the L15 pass itself
     * (per-shard cumulative window over stored ints) plus an 8-byte-key
     * aggregate; output is |budgets|×|shards| rows. */
    val q162 = GraftQuery(
      "q162_packing_cross_audit", "L94 L15 L47",
      (s, d) => {
        import graft.functions.TextFunctions
        val base = Tables.documents(s, d).select(
          col("doc_id"),
          pmod(TextFunctions.md5Fingerprint(concat(lit("shard:"),
            col("doc_id").cast("string"))),
            lit(LlmPipeline.PackShards.toLong)).as("shard"),
          TextFunctions.tokenCountBpeIsh(col("text")).cast("long")
            .as("tokens"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("shard")).orderBy(col("doc_id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, org.apache.spark.sql.expressions.Window
            .currentRow)
        val perBudget = Seq(LlmPipeline.PackBudget,
          LlmPipeline.PackBudget * 2).map { b =>
          base
            .withColumn("cum", sum(col("tokens")).over(w))
            .withColumn("bin", expr(s"(cum - tokens) div $b"))
            .groupBy(col("shard"), col("bin"))
            .agg(sum(col("tokens")).as("tt"),
              sum(col("tokens") * col("tokens")).as("sq"))
            .withColumn("cross_ppm",
              expr("(tt * tt - sq) * 1000000 div (tt * tt)"))
            .groupBy(col("shard"))
            .agg(count(lit(1)).as("n_bins"),
              expr("sum(cross_ppm) div count(1)").as("avg_cross_ppm"),
              max(col("cross_ppm")).as("max_cross_ppm"))
            .withColumn("budget", lit(b.toLong))
        }
        perBudget.reduce(_ unionByName _)
          .select(col("budget"), col("shard"), col("n_bins"),
            col("avg_cross_ppm"), col("max_cross_ppm"))
          .orderBy(col("budget"), col("shard"))
      },
      Some {
        import graft.functions.TextFunctions
        val h = TextFunctions.md5FingerprintSql(
          "'shard:' || CAST(doc_id AS VARCHAR)")
        val tok = TextFunctions.tokenCountBpeIshSql("text")
        def budgetSql(b: Int): String =
          s"""SELECT CAST($b AS BIGINT) AS budget, shard,
              CAST(COUNT(*) AS BIGINT) AS n_bins,
              CAST(SUM(cross_ppm) AS BIGINT) // COUNT(*) AS avg_cross_ppm,
              MAX(cross_ppm) AS max_cross_ppm
            FROM (SELECT shard, bin,
                (tt * tt - sq) * 1000000 // (tt * tt) AS cross_ppm
              FROM (SELECT shard, (cum - tokens) // $b AS bin,
                  CAST(SUM(tokens) AS BIGINT) AS tt,
                  CAST(SUM(tokens * tokens) AS BIGINT) AS sq
                FROM c GROUP BY 1, 2))
            GROUP BY 1, 2"""
        s"""WITH t AS (SELECT doc_id, $h % ${LlmPipeline.PackShards}
              AS shard, $tok AS tokens FROM documents),
          c AS (SELECT *, CAST(SUM(tokens) OVER (PARTITION BY shard
              ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
            FROM t)
          ${budgetSql(LlmPipeline.PackBudget)}
          UNION ALL
          ${budgetSql(LlmPipeline.PackBudget * 2)}
          ORDER BY budget, shard"""
      })

    /* L110: retrieval MRR/hit audit — the rank-position companion to
     * L90's set-overlap agreement: where q158 asks "how much of the
     * exact top-d does the IVF list recover", this asks "WHERE does the
     * IVF list put the one answer that matters" — the exact top-1
     * neighbor per query. Reciprocal rank is exact in ppm (10^6 div
     * rank — rank fusion's q172 integerization stance), 0 when the IVF
     * list (depth = TopK) misses the exact top-1 entirely, and the
     * per-query frame carries the IVF rank as provenance (−1 = absent).
     * Both engines consume the SAME factored kernels as q38/q70/q158
     * (bruteTopK/ivfTopK ↔ bruteRankedCtesSql/ivfRankedCtesSql), so
     * the gate proves the measurement that justifies serving from the
     * IVF index. Summary columns (n_queries, Σrr, hit@1, hit@TopK)
     * broadcast onto every row. At 100 TB: both inputs bounded by the
     * q38/q70 query-budget protocol; the audit adds one |queries|-row
     * left join and a 1-row aggregate. */
    val q178 = GraftQuery(
      "q178_retrieval_mrr", "L110 L90 L6 L11",
      (s, d) => {
        val top1 = LlmPipeline.bruteTopK(s, d)
          .filter(col("rank") === 1)
          .select(col("q_id"), col("vec_id").as("top1"))
        val ivf = LlmPipeline.ivfTopK(s, d)
          .select(col("q_id"), col("vec_id").as("top1"),
            col("rank").as("rank_ivf"))
        val per = top1.join(ivf, Seq("q_id", "top1"), "left")
          .select(col("q_id"), col("top1"),
            coalesce(col("rank_ivf"), lit(-1L)).as("rank_ivf"))
          .withColumn("rr_ppm",
            when(col("rank_ivf") > 0, expr("1000000 div rank_ivf"))
              .otherwise(lit(0L)))
        val sm = per.agg(count(lit(1)).as("n_queries"),
          sum(col("rr_ppm")).as("sum_rr_ppm"),
          sum(when(col("rank_ivf") === 1, 1L).otherwise(0L)).as("n_hit1"),
          sum(when(col("rank_ivf") > 0, 1L).otherwise(0L)).as("n_hitk"))
        per.crossJoin(broadcast(sm))
          .orderBy(col("q_id"))
      },
      Some {
        s"""WITH ${LlmPipeline.bruteRankedCtesSql("br")},
          ${LlmPipeline.ivfRankedCtesSql("ivr")},
          e1 AS (SELECT q_id, vec_id AS top1 FROM br WHERE rank = 1),
          j AS (SELECT e1.q_id, e1.top1,
              COALESCE(ivr.rank, -1) AS rank_ivf
            FROM e1 LEFT JOIN ivr ON ivr.q_id = e1.q_id
              AND ivr.vec_id = e1.top1 AND ivr.rank <= ${LlmPipeline.TopK}),
          p AS (SELECT q_id, top1, rank_ivf,
              CASE WHEN rank_ivf > 0 THEN 1000000 // rank_ivf
                ELSE 0 END AS rr_ppm
            FROM j),
          sm AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
              CAST(SUM(rr_ppm) AS BIGINT) AS sum_rr_ppm,
              CAST(SUM(CASE WHEN rank_ivf = 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_hit1,
              CAST(SUM(CASE WHEN rank_ivf > 0 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_hitk
            FROM p)
          SELECT p.q_id, p.top1, p.rank_ivf, p.rr_ppm, sm.n_queries,
            sm.sum_rr_ppm, sm.n_hit1, sm.n_hitk
          FROM p CROSS JOIN sm ORDER BY q_id"""
      })

    Seq(q157, q158, q162, q178)
  }
}
