package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.SqlMacros._

/** Round-6 batch 18: protocol machinery — secure-aggregation dropout,
  * front-door causal adjustment, and mergeable top-k summary bounds.
  * All outputs integers / strings with total ORDER BYs for the oracle
  * gate.
  */
object ProtocolPlanQueries extends QueryGroup {

  // ---------------------------------------------------------------- q594

  /** Secure-aggregation dropout audit: 16 clients (hash shards of
    * order revenue) run the pairwise-mask protocol — client i submits
    * xᵢ + Σⱼ±mᵢⱼ where mᵢⱼ = −mⱼᵢ are hash-derived masks — so the
    * server's sum of ALL submissions telescopes to Σxᵢ exactly while
    * no single submission reveals anything. Then clients drop out at
    * 0/12.5/25% and the audit shows the failure mode: masks shared
    * with absent partners no longer cancel, and the recovered sum is
    * off by the un-cancelled mask residue — the reason real
    * secure-agg (Bonawitz et al.) needs a mask-recovery round. All
    * mask arithmetic is deterministic-hash integers, so the residue is
    * exact and reproducible.
    *
    * Scale shape: shards fold in one keyed aggregate to 16 client
    * rows; each client's mask sum is an in-row HOF over the 16 partner
    * indices (no pair join); the 3-rate readout is conditional sums
    * over those 16 rows (bounded global window, sanctioned). */
  private val q594 = QueryDef(
    "q594_secure_agg_dropout",
    (spark, dir) => {
      import graft.functions.Deterministic.cents
      import graft.operators.Sampling
      // mask(i,j) for i<j: signed hash in [-10^6, 10^6]
      val maskSum =
        """aggregate(sequence(0, 15), 0L, (acc, j) -> acc +
             CASE WHEN j = CAST(i AS INT) THEN 0L
               WHEN j > CAST(i AS INT) THEN
                 ((i * 16 + j) * 2654435761L) % 4294967296 % 2000001 - 1000000
               ELSE
                 -(((j * 16 + i) * 2654435761L) % 4294967296 % 2000001 - 1000000)
             END)"""
      val clients = Tables.orders(spark, dir)
        .select(cents(col("o_totalprice")).as("x"),
          Sampling.keyHash(col("o_orderkey")).as("h"))
        .groupBy(expr("h div 268435456").as("i"))
        .agg(sum(col("x")).as("x"))
        .withColumn("y", col("x") + expr(maskSum))
        .withColumn("drop_u", expr(
          "((i % 2147483648) * 2246822519) % 4294967296 div 4096"))
      val spark0 = spark
      import spark0.implicits._
      val grid = Seq(0L, 125L, 250L).toDF("drop_pml")
      clients.crossJoin(broadcast(grid))
        .withColumn("active", expr(
          "CASE WHEN drop_u * 1000 < drop_pml * 1048576 THEN 0 ELSE 1 END"))
        .groupBy(col("drop_pml"))
        .agg(sum(col("active")).as("n_active"),
          sum(expr("active * x")).as("true_active_sum"),
          sum(expr("active * y")).as("recovered_sum"))
        .select(col("drop_pml"), col("n_active"),
          col("true_active_sum"), col("recovered_sum"),
          expr("abs(recovered_sum - true_active_sum)").as("mask_residue_cents"))
        .orderBy(col("drop_pml"))
    },
    Some("""
      WITH clients AS (
        SELECT ((o_orderkey % 2147483648) * 2654435761) % 4294967296
            // 268435456 AS i,
          CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS x
        FROM orders GROUP BY 1),
      masked AS (
        SELECT i, x,
          x + CAST(list_sum(list_transform(range(0, 16), j ->
            CASE WHEN j = i THEN 0
              WHEN j > i THEN
                ((i * 16 + j) * 2654435761) % 4294967296 % 2000001 - 1000000
              ELSE
                -(((j * 16 + i) * 2654435761) % 4294967296 % 2000001 - 1000000)
            END)) AS BIGINT) AS y,
          ((i % 2147483648) * 2246822519) % 4294967296 // 4096 AS drop_u
        FROM clients),
      grid(drop_pml) AS (VALUES (CAST(0 AS BIGINT)), (CAST(125 AS BIGINT)),
        (CAST(250 AS BIGINT))),
      m AS (
        SELECT drop_pml,
          CASE WHEN drop_u * 1000 < drop_pml * 1048576 THEN 0 ELSE 1 END
            AS active,
          x, y
        FROM masked CROSS JOIN grid)
      SELECT drop_pml, CAST(sum(active) AS BIGINT) AS n_active,
        CAST(sum(active * x) AS BIGINT) AS true_active_sum,
        CAST(sum(active * y) AS BIGINT) AS recovered_sum,
        CAST(abs(sum(active * y) - sum(active * x)) AS BIGINT)
          AS mask_residue_cents
      FROM m GROUP BY drop_pml ORDER BY drop_pml
    """))

  // ---------------------------------------------------------------- q595

  /** Front-door adjustment audit: a constructed mechanism where the
    * back door is CLOSED to us — treatment T is logged with
    * price-decile bias (the unobserved confounder U), the mediator M
    * follows T with ~10% hash noise (410/4096, from hash bits DISJOINT
    * from the treatment test — see the in-code aliasing note; T → M, no
    * U arrow), and the
    * outcome adds 50 000 dollars per M on top of the U-driven price
    * (large enough that the effect clears the sampling noise of the
    * ~700-row flipped cells; a 5 000-cent effect was 0.02% of Y and
    * drowned). The
    * naive T-contrast reads the confounder; the FRONT-DOOR formula —
    * Σₘ[P(m|t=1)−P(m|t=0)]·Σₜ′P(t′)E[Y|m,t′] — uses only (T, M, Y)
    * and recovers the mechanism truth 5·10⁶·ΔP(m) without ever seeing
    * U. Pearl's estimator, runnable as four aggregates.
    *
    * Scale shape: deciles (for GENERATING the bias only) come from the
    * q82 histogram discipline; the estimator itself folds to 4
    * (t, m) cells in one aggregate and everything downstream is cell
    * arithmetic. */
  private val q595 = QueryDef(
    "q595_front_door_adjustment",
    (spark, dir) => {
      import graft.functions.Deterministic.cents
      import graft.operators.Sampling
      val base = Tables.orders(spark, dir)
        .select(cents(col("o_totalprice")).as("p"),
          Sampling.keyHash(col("o_orderkey"), 2246822519L).as("h2"))
      val hist = base.groupBy(col("p")).agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(Window.orderBy(col("p"))
          .rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("n_all", expr("sum(c) OVER ()"))
        .select(col("p"), expr("least((cum - c) * 10 div n_all, 9)").as("u"))
      val cells = base.join(hist, Seq("p"))
        .withColumn("t", expr(
          "CASE WHEN (h2 div 4096) * 1000000 < (100000 + 80000 * u) * 1048576 " +
            "THEN 1 ELSE 0 END"))
        // the flip reads h2's LOW 12 bits — DISJOINT from the t test's
        // bits 12..31, so it is exactly independent of the treatment
        // threshold within every stratum. (A second Knuth hash of the
        // same key is an affine function of the first mod 2^32 and is
        // NOT an independent stream — using one here correlated the
        // flip with u and sent the front-door estimate to -692k. Bare
        // INT literal products also overflow silently with ANSI off.)
        .withColumn("m", expr(
          "CASE WHEN h2 % 4096 < 410 THEN 1 - t ELSE t END"))
        .withColumn("y", expr("p + 5000000 * m"))
        .groupBy(col("t"), col("m"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("s"))
      val one = cells.agg(
        expr("sum(CASE WHEN t = 1 THEN n ELSE 0 END)").as("n1"),
        expr("sum(CASE WHEN t = 0 THEN n ELSE 0 END)").as("n0"),
        expr("sum(CASE WHEN t = 1 AND m = 1 THEN n ELSE 0 END)").as("n1m1"),
        expr("sum(CASE WHEN t = 0 AND m = 1 THEN n ELSE 0 END)").as("n0m1"),
        expr("sum(CASE WHEN t = 1 THEN s ELSE 0 END)").as("s1"),
        expr("sum(CASE WHEN t = 0 THEN s ELSE 0 END)").as("s0"),
        expr("sum(CASE WHEN m = 1 AND t = 1 THEN s ELSE 0 END)").as("s_m1t1"),
        expr("sum(CASE WHEN m = 1 AND t = 0 THEN s ELSE 0 END)").as("s_m1t0"),
        expr("sum(CASE WHEN m = 0 AND t = 1 THEN s ELSE 0 END)").as("s_m0t1"),
        expr("sum(CASE WHEN m = 0 AND t = 0 THEN s ELSE 0 END)").as("s_m0t0"),
        expr("sum(CASE WHEN m = 1 AND t = 1 THEN n ELSE 0 END)").as("n_m1t1"),
        expr("sum(CASE WHEN m = 1 AND t = 0 THEN n ELSE 0 END)").as("n_m1t0"),
        expr("sum(CASE WHEN m = 0 AND t = 1 THEN n ELSE 0 END)").as("n_m0t1"),
        expr("sum(CASE WHEN m = 0 AND t = 0 THEN n ELSE 0 END)").as("n_m0t0"))
      one.select(
          // ΔP(m=1 | t) in ppm
          expr("n1m1 * 1000000 div n1 - n0m1 * 1000000 div n0").as("dpm_ppm"),
          // E[Y | m, t'] mixed over P(t'): the front-door inner term
          expr("""(s_m1t1 div greatest(n_m1t1, 1) * n1
                + s_m1t0 div greatest(n_m1t0, 1) * n0) div (n1 + n0)""")
            .as("ey_m1"),
          expr("""(s_m0t1 div greatest(n_m0t1, 1) * n1
                + s_m0t0 div greatest(n_m0t0, 1) * n0) div (n1 + n0)""")
            .as("ey_m0"),
          expr("s1 div n1 - s0 div n0").as("naive_cents"))
        .select(expr("""stack(3,
            'naive', naive_cents,
            'front_door', (ey_m1 - ey_m0) * dpm_ppm div 1000000,
            'mechanism_truth', 5000000 * dpm_ppm div 1000000)
            AS (estimator, est_cents)"""))
        .orderBy(col("estimator"))
    },
    Some("""
      WITH base AS (
        SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS p,
          ((o_orderkey % 2147483648) * 2246822519) % 4294967296 AS h2
        FROM orders),
      hist AS (
        SELECT p,
          least((sum(c) OVER (ORDER BY p ROWS UNBOUNDED PRECEDING) - c)
            * 10 // sum(c) OVER (), 9) AS u
        FROM (SELECT p, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY p)),
      wd AS (
        SELECT b.p, b.h2, h.u,
          CASE WHEN (b.h2 // 4096) * 1000000 < (100000 + 80000 * h.u) * 1048576
            THEN 1 ELSE 0 END AS t
        FROM base b JOIN hist h USING (p)),
      wm AS (
        SELECT *, CASE WHEN h2 % 4096 < 410 THEN 1 - t ELSE t END AS m
        FROM wd),
      cells AS (
        SELECT t, m, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(p + 5000000 * m) AS BIGINT) AS s
        FROM wm GROUP BY 1, 2),
      one AS (
        SELECT
          CAST(sum(CASE WHEN t = 1 THEN n ELSE 0 END) AS BIGINT) AS n1,
          CAST(sum(CASE WHEN t = 0 THEN n ELSE 0 END) AS BIGINT) AS n0,
          CAST(sum(CASE WHEN t = 1 AND m = 1 THEN n ELSE 0 END) AS BIGINT) AS n1m1,
          CAST(sum(CASE WHEN t = 0 AND m = 1 THEN n ELSE 0 END) AS BIGINT) AS n0m1,
          CAST(sum(CASE WHEN t = 1 THEN s ELSE 0 END) AS BIGINT) AS s1,
          CAST(sum(CASE WHEN t = 0 THEN s ELSE 0 END) AS BIGINT) AS s0,
          CAST(sum(CASE WHEN m = 1 AND t = 1 THEN s ELSE 0 END) AS BIGINT) AS s_m1t1,
          CAST(sum(CASE WHEN m = 1 AND t = 0 THEN s ELSE 0 END) AS BIGINT) AS s_m1t0,
          CAST(sum(CASE WHEN m = 0 AND t = 1 THEN s ELSE 0 END) AS BIGINT) AS s_m0t1,
          CAST(sum(CASE WHEN m = 0 AND t = 0 THEN s ELSE 0 END) AS BIGINT) AS s_m0t0,
          CAST(sum(CASE WHEN m = 1 AND t = 1 THEN n ELSE 0 END) AS BIGINT) AS n_m1t1,
          CAST(sum(CASE WHEN m = 1 AND t = 0 THEN n ELSE 0 END) AS BIGINT) AS n_m1t0,
          CAST(sum(CASE WHEN m = 0 AND t = 1 THEN n ELSE 0 END) AS BIGINT) AS n_m0t1,
          CAST(sum(CASE WHEN m = 0 AND t = 0 THEN n ELSE 0 END) AS BIGINT) AS n_m0t0
        FROM cells),
      d AS (
        SELECT
          n1m1 * 1000000 // n1 - n0m1 * 1000000 // n0 AS dpm_ppm,
          (s_m1t1 // greatest(n_m1t1, 1) * n1
            + s_m1t0 // greatest(n_m1t0, 1) * n0) // (n1 + n0) AS ey_m1,
          (s_m0t1 // greatest(n_m0t1, 1) * n1
            + s_m0t0 // greatest(n_m0t0, 1) * n0) // (n1 + n0) AS ey_m0,
          s1 // n1 - s0 // n0 AS naive_cents
        FROM one),
      out AS (
        SELECT 'naive' AS estimator, CAST(naive_cents AS BIGINT) AS est_cents
          FROM d
        UNION ALL SELECT 'front_door',
          CAST((ey_m1 - ey_m0) * dpm_ppm // 1000000 AS BIGINT) FROM d
        UNION ALL SELECT 'mechanism_truth',
          CAST(5000000 * dpm_ppm // 1000000 AS BIGINT) FROM d)
      SELECT estimator, est_cents FROM out ORDER BY estimator
    """))

  // ---------------------------------------------------------------- q596

  /** Mergeable top-k summary audit: every source keeps only its top-8
    * bigram counts plus a one-number error bound (the 9th-ranked count —
    * the ceiling on anything it dropped), the 20 summaries
    * merge by summing kept counts, and the global top-10 bigrams are
    * re-estimated from the merge. The audit shows each estimate
    * landing inside [true − Σ bounds, true] — the mergeability
    * contract that lets heavy-hitter monitoring run with k counters
    * per shard instead of a full shuffle.
    *
    * Scale shape: per-source bigram counts are the only corpus-sized
    * fold; the per-source top-8 is a partitioned-window rank
    * (source-keyed); summaries are ≤ 20×8 rows; truth for the 10
    * audited bigrams is one more keyed fold. */
  private val q596 = QueryDef(
    "q596_mergeable_topk_audit",
    (spark, dir) => {
      import graft.functions.expressions.tokens_native
      val bigrams = Tables.documents(spark, dir)
        .select(col("source"), tokens_native(col("text")).as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(col("source"), explode(expr(
          "transform(slice(toks, 1, size(toks) - 1), (t, i) -> concat(t, ' ', toks[i + 1]))"))
          .as("bg"))
        .groupBy(col("source"), col("bg")).agg(count(lit(1)).as("c"))
      val ranked = bigrams.withColumn("rk", row_number().over(
          Window.partitionBy(col("source")).orderBy(col("c").desc, col("bg"))))
      val summaries = ranked.filter(col("rk") <= 8)
      // a dropped bigram's per-source count is at most the 9th-ranked
      // count (it lost the rank race), so the merge undercount is
      // bounded by the sum of those per-source ceilings
      val bounds = ranked.filter(col("rk") > 8)
        .groupBy(col("source")).agg(max(col("c")).as("e_src"))
      val totalBound = bounds.agg(
        coalesce(sum(col("e_src")), lit(0L)).as("merge_bound"))
      val truth = bigrams.groupBy(col("bg")).agg(sum(col("c")).as("true_count"))
      val topTrue = truth.orderBy(col("true_count").desc, col("bg")).limit(10)
      val merged = summaries.groupBy(col("bg")).agg(sum(col("c")).as("merged_est"))
      topTrue.join(merged, Seq("bg"), "left")
        .crossJoin(broadcast(totalBound))
        .select(col("bg"), col("true_count"),
          coalesce(col("merged_est"), lit(0L)).as("merged_est"),
          col("merge_bound"),
          expr("true_count - coalesce(merged_est, 0)").as("undercount"),
          expr("""CAST(CASE WHEN true_count - coalesce(merged_est, 0) >= 0
              AND true_count - coalesce(merged_est, 0) <= merge_bound
              THEN 1 ELSE 0 END AS BIGINT)""").as("within_bound"))
        .orderBy(col("true_count").desc, col("bg"))
    },
    Some(s"""
      WITH bigrams AS (
        SELECT source, bg, CAST(count(*) AS BIGINT) AS c
        FROM (
          SELECT source,
            unnest([tk[i] || ' ' || tk[i + 1] for i in range(1, len(tk))])
              AS bg
          FROM (SELECT source,
                  $duckTokens AS tk
                FROM documents)
          WHERE len(tk) >= 2)
        GROUP BY 1, 2),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY source
          ORDER BY c DESC, bg) AS rk
        FROM bigrams),
      summaries AS (SELECT source, bg, c FROM ranked WHERE rk <= 8),
      bounds AS (
        SELECT source, CAST(max(c) AS BIGINT) AS e_src
        FROM ranked WHERE rk > 8 GROUP BY source),
      tb AS (SELECT CAST(coalesce(sum(e_src), 0) AS BIGINT) AS merge_bound
             FROM bounds),
      truth AS (SELECT bg, CAST(sum(c) AS BIGINT) AS true_count
                FROM bigrams GROUP BY bg),
      top_true AS (SELECT bg, true_count FROM truth
                   ORDER BY true_count DESC, bg LIMIT 10),
      merged AS (SELECT bg, CAST(sum(c) AS BIGINT) AS merged_est
                 FROM summaries GROUP BY bg)
      SELECT t.bg, t.true_count,
        CAST(coalesce(m.merged_est, 0) AS BIGINT) AS merged_est,
        tb.merge_bound,
        CAST(t.true_count - coalesce(m.merged_est, 0) AS BIGINT) AS undercount,
        CAST(CASE WHEN t.true_count - coalesce(m.merged_est, 0) >= 0
          AND t.true_count - coalesce(m.merged_est, 0) <= tb.merge_bound
          THEN 1 ELSE 0 END AS BIGINT) AS within_bound
      FROM top_true t LEFT JOIN merged m USING (bg)
      CROSS JOIN tb
      ORDER BY t.true_count DESC, t.bg
    """))

  def defs: Seq[QueryDef] = Seq(q594, q595, q596)
}
