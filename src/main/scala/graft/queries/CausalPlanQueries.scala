package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.SqlMacros._

/** Round-6 batch 16: observational-data machinery — confounded-logging
  * recovery by stratification, pooling bias in retrieval evaluation,
  * and local clustering structure. All outputs integers / strings with
  * total ORDER BYs for the oracle gate.
  */
object CausalPlanQueries extends QueryGroup {

  // ---------------------------------------------------------------- q588

  /** Confounded-logging recovery audit: simulate a biased logging
    * policy — treatment probability rises with the order's price
    * decile (10%…82%, hash-deterministic) — on an outcome (net
    * revenue) that ALSO rises with the decile, while the treatment
    * itself does nothing. The naive treated-vs-control contrast then
    * reports a large phantom effect (it reads the confounder);
    * propensity stratification (the plug-in IPW) collapses it toward
    * zero; and trimming the non-overlap deciles (propensity outside
    * [10%, 90%]) documents the positivity price. The table every
    * logged-policy analysis should produce before claiming an effect.
    *
    * Scale shape: deciles come from the q82 histogram discipline
    * (cumulative window over the quantized value histogram, broadcast
    * thresholds); everything else folds to 10 decile × 2 arm cells in
    * one aggregate; estimators are arithmetic over those 20 cells. */
  private val q588 = QueryDef(
    "q588_confounded_logging_audit",
    (spark, dir) => {
      import graft.functions.Deterministic.cents
      import graft.operators.Sampling
      import org.apache.spark.sql.expressions.Window
      val base = Tables.orders(spark, dir)
        .select(cents(col("o_totalprice")).as("y"),
          Sampling.keyHash(col("o_orderkey"), 2246822519L).as("h2"))
      // price decile via the q82 histogram discipline: the cumulative
      // runs over the VALUE histogram (value-resolution-bounded), never
      // a corpus-sized row sort; ties share a bin-granular decile
      val hist = base.groupBy(col("y")).agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(Window.orderBy(col("y"))
          .rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("n_all", expr("sum(c) OVER ()"))
        .select(col("y"),
          expr("least((cum - c) * 10 div n_all, 9)").as("decile"))
      val withD = base.join(hist, Seq("y"))
      val cells = withD
        .withColumn("t", expr(
          "CASE WHEN (h2 div 4096) * 1000000 < (100000 + 80000 * decile) * 1048576 " +
            "THEN 1 ELSE 0 END"))
        .groupBy(col("decile"), col("t"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("s"))
        .persist()
      val byD = cells.groupBy(col("decile")).agg(
        sum(col("n")).as("n_d"),
        expr("sum(CASE WHEN t = 1 THEN n ELSE 0 END)").as("nt"),
        expr("sum(CASE WHEN t = 1 THEN s ELSE 0 END)").as("st"),
        expr("sum(CASE WHEN t = 0 THEN n ELSE 0 END)").as("nc"),
        expr("sum(CASE WHEN t = 0 THEN s ELSE 0 END)").as("sc"))
        .withColumn("prop_ppm", expr("nt * 1000000 div n_d"))
        .withColumn("gap_d", expr(
          "st div greatest(nt, 1) - sc div greatest(nc, 1)"))
        .persist()
      val naive = cells.agg(expr(
        """sum(CASE WHEN t = 1 THEN s ELSE 0 END)
             div greatest(sum(CASE WHEN t = 1 THEN n ELSE 0 END), 1)
         - sum(CASE WHEN t = 0 THEN s ELSE 0 END)
             div greatest(sum(CASE WHEN t = 0 THEN n ELSE 0 END), 1)""")
        .as("est"), expr("CAST(10 AS BIGINT)").as("n_deciles_used"))
        .select(lit("naive").as("estimator"), col("est"), col("n_deciles_used"))
      val strat = byD.agg(
        expr("sum(n_d * gap_d) div sum(n_d)").as("est"),
        count(lit(1)).as("n_deciles_used"))
        .select(lit("stratified").as("estimator"), col("est"), col("n_deciles_used"))
      val trimmed = byD
        .filter(col("prop_ppm") >= 100000L && col("prop_ppm") <= 900000L)
        .agg(expr("sum(n_d * gap_d) div sum(n_d)").as("est"),
          count(lit(1)).as("n_deciles_used"))
        .select(lit("stratified_trimmed").as("estimator"), col("est"),
          col("n_deciles_used"))
      naive.union(strat).union(trimmed)
        .select(col("estimator"), col("est").as("est_diff_cents"),
          col("n_deciles_used"))
        .orderBy(col("estimator"))
    },
    Some("""
      WITH base AS (
        SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS y,
          ((o_orderkey % 2147483648) * 2246822519) % 4294967296 AS h2
        FROM orders),
      hist AS (
        SELECT y,
          least((sum(c) OVER (ORDER BY y ROWS UNBOUNDED PRECEDING) - c)
            * 10 // sum(c) OVER (), 9) AS decile
        FROM (SELECT y, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY y)),
      wd AS (SELECT b.y, b.h2, h.decile FROM base b JOIN hist h USING (y)),
      cells AS (
        SELECT decile,
          CASE WHEN (h2 // 4096) * 1000000
            < (100000 + 80000 * decile) * 1048576 THEN 1 ELSE 0 END AS t,
          CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS s
        FROM wd GROUP BY 1, 2),
      byd AS (
        SELECT decile, CAST(sum(n) AS BIGINT) AS n_d,
          CAST(sum(CASE WHEN t = 1 THEN n ELSE 0 END) AS BIGINT) AS nt,
          CAST(sum(CASE WHEN t = 1 THEN s ELSE 0 END) AS BIGINT) AS st,
          CAST(sum(CASE WHEN t = 0 THEN n ELSE 0 END) AS BIGINT) AS nc,
          CAST(sum(CASE WHEN t = 0 THEN s ELSE 0 END) AS BIGINT) AS sc
        FROM cells GROUP BY decile),
      byd2 AS (
        SELECT *, CAST(nt * 1000000 // n_d AS BIGINT) AS prop_ppm,
          CAST(st // greatest(nt, 1) - sc // greatest(nc, 1) AS BIGINT) AS gap_d
        FROM byd),
      est AS (
        SELECT 'naive' AS estimator,
          CAST(sum(CASE WHEN t = 1 THEN s ELSE 0 END)
              // greatest(sum(CASE WHEN t = 1 THEN n ELSE 0 END), 1)
            - sum(CASE WHEN t = 0 THEN s ELSE 0 END)
              // greatest(sum(CASE WHEN t = 0 THEN n ELSE 0 END), 1)
            AS BIGINT) AS est_diff_cents,
          CAST(10 AS BIGINT) AS n_deciles_used
        FROM cells
        UNION ALL
        SELECT 'stratified',
          CAST(sum(n_d * gap_d) // sum(n_d) AS BIGINT),
          CAST(count(*) AS BIGINT)
        FROM byd2
        UNION ALL
        SELECT 'stratified_trimmed',
          CAST(sum(n_d * gap_d) // sum(n_d) AS BIGINT),
          CAST(count(*) AS BIGINT)
        FROM byd2 WHERE prop_ppm BETWEEN 100000 AND 900000)
      SELECT estimator, est_diff_cents, n_deciles_used
      FROM est ORDER BY estimator
    """))

  // ---------------------------------------------------------------- q589

  /** Pooling-bias retrieval evaluation: judge two rankers — the flat
    * dot product and MaxSim late interaction (q572's pair) — against
    * (a) FULL same-label relevance and (b) a judgment pool built from
    * only ONE system's top-10 (how real IR test collections are made
    * when assessors are scarce). The pooling system keeps its measured
    * precision; the un-pooled system's unique relevant hits are
    * unjudged and silently counted wrong, so its pooled score drops —
    * the bias that makes new systems look worse on old collections.
    * Averaged over a 5-probe panel.
    *
    * Scale shape: both scores are one panel-broadcast pass (q572's
    * expressions); both per-probe top-10s come from the
    * [[graft.functions.TopKPairs]] bounded-heap aggregate in a SINGLE
    * groupBy pass — map-side partials carry ≤10 rows per (probe,
    * ranking) into the exchange, never a corpus-sized window partition
    * (the round-6 form ranked the full scored corpus inside each of 5
    * probe partitions, twice). Neighbor relevance rides in the heap
    * id's low bit (id = vec_id·2 + rel, monotone in vec_id, so ties
    * break by vec_id exactly like the oracle's row_number), and the
    * pool test is an array-membership check between the two ≤10-entry
    * top lists. The final readout is arithmetic on 2×5 (system, probe)
    * cells.
    *
    * TIMING note (round 7 → 8): the round-7 residual 4–7 s was the
    * nested MaxSim lambda on Spark's INTERPRETED higher-order-function
    * path going megamorphic after ~50k generated classes load in a
    * wide suite. Round 8 promoted both scorers to fused codegen'd
    * Catalyst kernels — [[graft.functions.expressions.long_dot]] and
    * [[graft.functions.expressions.maxsim_blocks]] (the
    * CharShingleSet/WordShingleSet precedent) — so the scoring
    * projection now rides whole-stage codegen; bit-parity with the HOF
    * forms is asserted in KernelParitySpec, and the oracle is
    * unchanged. */
  private val q589 = QueryDef(
    "q589_pooling_bias_eval",
    (spark, dir) => {
      val qv = "transform(embedding, x -> CAST(floor(x * 512 + 0.5) AS BIGINT))"
      val base = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("label").cast("long").as("label"),
          expr(qv).as("v"))
      val probes = base.filter(col("vec_id") < 5L)
        .select(col("vec_id").as("pid"), col("label").as("plabel"), col("v").as("pv"))
      val scored = base.filter(col("vec_id") >= 5L)
        .crossJoin(broadcast(probes))
        .select(col("pid"), col("vec_id"), col("plabel"),
          when(col("label") === col("plabel"), 1L).otherwise(0L).as("rel"),
          graft.functions.expressions.long_dot(col("pv"), col("v")).as("dot"),
          graft.functions.expressions.maxsim_blocks(col("pv"), col("v"), 4)
            .as("maxsim"))
      // both rankings' top-10s in ONE bounded-heap pass (≤10 rows per
      // probe per ranking cross the shuffle); rel packed into the id
      val packed = col("vec_id") * lit(2L) + col("rel")
      val top = scored.groupBy(col("pid")).agg(
        graft.functions.TopKAggregate.topk_pairs(
          col("dot").cast("double"), packed, 10).as("top_dot"),
        graft.functions.TopKAggregate.topk_pairs(
          col("maxsim").cast("double"), packed, 10).as("top_ms"))
      // the pool is DOT's top-10: a hit is judged-relevant only if
      // relevant AND inside the pool (dot's pooled == dot's full)
      val perSys = top.select(
          expr("CAST(size(filter(top_dot, e -> e.id % 2 = 1)) AS BIGINT)")
            .as("dot_rel"),
          expr("CAST(size(filter(top_ms, e -> e.id % 2 = 1)) AS BIGINT)")
            .as("ms_rel"),
          expr("""CAST(size(filter(top_ms, e -> e.id % 2 = 1 AND
              array_contains(transform(top_dot, x -> x.id), e.id)))
            AS BIGINT)""").as("ms_in_pool"))
        .agg(
          sum(col("dot_rel")).as("dot_full"),
          sum(col("dot_rel")).as("dot_pooled"),
          sum(col("ms_rel")).as("ms_full"),
          sum(col("ms_in_pool")).as("ms_pooled"),
          count(lit(1)).as("n_probes"))
      perSys.select(expr("""stack(2,
          'dot', dot_full, dot_pooled,
          'maxsim', ms_full, ms_pooled) AS (system, full_hits, pooled_hits)"""),
          col("n_probes"))
        .select(col("system"), col("n_probes"),
          expr("full_hits * 1000000 div (n_probes * 10)").as("p10_full_ppm"),
          expr("pooled_hits * 1000000 div (n_probes * 10)").as("p10_pooled_ppm"),
          expr("(full_hits - pooled_hits) * 1000000 div (n_probes * 10)")
            .as("pool_bias_ppm"))
        .orderBy(col("system"))
    },
    Some(s"""
      WITH base AS (
        SELECT vec_id, CAST(label AS BIGINT) AS label,
          $duckQuantVec AS v
        FROM embeddings),
      probes AS (SELECT vec_id AS pid, label AS plabel, v AS pv
                 FROM base WHERE vec_id < 5),
      scored AS (
        SELECT p.pid, b.vec_id,
          CASE WHEN b.label = p.plabel THEN 1 ELSE 0 END AS rel,
          CAST(list_sum(list_transform(range(1, 65), t ->
            p.pv[CAST(t AS INTEGER)] * b.v[CAST(t AS INTEGER)])) AS BIGINT)
            AS dot,
          CAST(list_sum(list_transform(range(0, 4), j ->
            list_max(list_slice(
              list_transform(range(0, 16), q ->
                CAST(list_sum(list_transform(range(1, 17), t ->
                  p.pv[CAST((q // 4) * 16 + t AS INTEGER)]
                  * b.v[CAST((q % 4) * 16 + t AS INTEGER)])) AS BIGINT)),
              CAST(j * 4 + 1 AS INTEGER), CAST(j * 4 + 4 AS INTEGER)))))
            AS BIGINT) AS maxsim
        FROM base b CROSS JOIN probes p WHERE b.vec_id >= 5),
      ranked AS (
        SELECT *,
          row_number() OVER (PARTITION BY pid ORDER BY dot DESC, vec_id)
            AS rk_dot,
          row_number() OVER (PARTITION BY pid ORDER BY maxsim DESC, vec_id)
            AS rk_ms
        FROM scored),
      marked AS (
        SELECT *, rel * CASE WHEN rk_dot <= 10 THEN 1 ELSE 0 END AS pooled_rel
        FROM ranked WHERE rk_dot <= 10 OR rk_ms <= 10),
      agg AS (
        SELECT
          CAST(sum(CASE WHEN rk_dot <= 10 THEN rel ELSE 0 END) AS BIGINT)
            AS dot_full,
          CAST(sum(CASE WHEN rk_dot <= 10 THEN pooled_rel ELSE 0 END) AS BIGINT)
            AS dot_pooled,
          CAST(sum(CASE WHEN rk_ms <= 10 THEN rel ELSE 0 END) AS BIGINT)
            AS ms_full,
          CAST(sum(CASE WHEN rk_ms <= 10 THEN pooled_rel ELSE 0 END) AS BIGINT)
            AS ms_pooled,
          CAST(count(DISTINCT pid) AS BIGINT) AS n_probes
        FROM marked),
      s AS (
        SELECT 'dot' AS system, n_probes, dot_full AS full_hits,
          dot_pooled AS pooled_hits FROM agg
        UNION ALL SELECT 'maxsim', n_probes, ms_full, ms_pooled FROM agg)
      SELECT system, n_probes,
        CAST(full_hits * 1000000 // (n_probes * 10) AS BIGINT) AS p10_full_ppm,
        CAST(pooled_hits * 1000000 // (n_probes * 10) AS BIGINT)
          AS p10_pooled_ppm,
        CAST((full_hits - pooled_hits) * 1000000 // (n_probes * 10) AS BIGINT)
          AS pool_bias_ppm
      FROM s ORDER BY system
    """))

  // ---------------------------------------------------------------- q590

  /** Local clustering coefficient census on the supplier co-purchase
    * BACKBONE (edges = top-quartile co-occurrence weights — the raw
    * co-purchase graph is a near-clique at any TPC-H scale, so the
    * weight threshold, read off the weight histogram and therefore
    * self-normalizing across scale factors, is what leaves structure
    * to measure): per node, LCC = triangles/C(deg,2) — how much of
    * each supplier's neighborhood trades among itself — reported as a
    * deciles-of-LCC histogram. Local structure is what global triangle
    * counts hide: a high-triangle graph can still have hub nodes with
    * near-zero local closure, and those hubs are where join-key skew
    * and community-detection failure concentrate.
    *
    * Scale shape: the supplier projection is bounded by the supplier
    * dimension (edges ≤ |S|²/2, with |S| ~10⁴ at TPC-H scale — the
    * projection, not the order fact, is the working set); triangles
    * per node come from the degree-ordered oriented wedge join (the
    * q95 exact-triangle discipline: orient low→high by (degree, id),
    * count each triangle once at its apex, explode the 3 endpoints for
    * per-node credit); the census lands on ≤ 11 LCC decile rows.
    *
    * SCALING (round-7 probe, largest testdata = sf0.1, oriented form):
    * 2.28 s at sf0.01 → 5.40 s at sf0.1 (10× data, 2.37× time ≈
    * exponent 0.37) — the heaviest step is the co-purchase projection,
    * whose output is supplier-dimension-bounded, so the slope flattens
    * as SF grows past the dimension's saturation. */
  private val q590 = QueryDef(
    "q590_local_clustering_census",
    (spark, dir) => {
      // the raw co-purchase graph is a near-clique at any TPC-H scale —
      // keep only the BACKBONE (top-quartile co-occurrence weights, the
      // threshold from the weight histogram so it self-normalizes
      // across scale factors) or LCC degenerates to 1 everywhere
      val edges = graft.graph.Backbone.orderYearBackbone(spark, dir)
      val deg = graft.graph.Backbone.symDegrees(edges)
      // triangles per node via the shared degree-ordered discipline
      // (graph.Backbone.orientByDegree/triangles — each triangle once
      // at its apex; exploding the 3 endpoints credits every node once
      // per incident triangle, 3·Δ rows, vastly fewer than Σ deg²)
      val tri = graft.graph.Backbone
        .triangles(graft.graph.Backbone.orientByDegree(edges, deg))
        .select(explode(array(col("apex"), col("x"), col("y"))).as("u"))
        .groupBy(col("u")).agg(count(lit(1)).as("t"))
      val lcc = deg.join(tri, Seq("u"), "left")
        .select(col("u"), col("d"),
          coalesce(col("t"), lit(0L)).as("t"))
        .filter(col("d") >= 2L)
        .select(col("u"),
          expr("t * 2000 div (d * (d - 1))").as("lcc_milli"))
      lcc.groupBy(expr("least(lcc_milli div 100, 10)").as("lcc_decile"))
        .agg(count(lit(1)).as("n_nodes"),
          expr("sum(lcc_milli) div count(1)").as("avg_lcc_milli"))
        .orderBy(col("lcc_decile"))
    },
    Some(s"""
      WITH ${graft.graph.Backbone.pairsOrderYearSql},
      ${graft.graph.Backbone.backboneSql},
      ${graft.graph.Backbone.orientedTrianglesSql},
      tn AS (
        SELECT node AS u, CAST(count(*) AS BIGINT) AS t
        FROM (SELECT unnest([apex, x, y]) AS node FROM tri)
        GROUP BY node),
      lcc AS (
        SELECT deg.u,
          CAST(coalesce(t, 0) * 2000 // (d * (d - 1)) AS BIGINT) AS lcc_milli
        FROM deg LEFT JOIN tn USING (u)
        WHERE d >= 2)
      SELECT least(lcc_milli // 100, 10) AS lcc_decile,
        CAST(count(*) AS BIGINT) AS n_nodes,
        CAST(sum(lcc_milli) // count(*) AS BIGINT) AS avg_lcc_milli
      FROM lcc GROUP BY 1 ORDER BY 1
    """))

  def defs: Seq[QueryDef] = Seq(q588, q589, q590)
}
