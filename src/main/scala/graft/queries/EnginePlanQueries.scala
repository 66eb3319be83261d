package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Round-6 batch 3: engine-internal planners — hash-vs-sort aggregation
  * advice from measured NDVs, exact 3-channel Shapley attribution, and
  * the skew-salting factor plan. All outputs integers / strings with
  * total ORDER BYs for the oracle gate.
  */
object EnginePlanQueries extends QueryGroup {

  // ---------------------------------------------------------------- q541

  /** Hash-vs-sort aggregation advisor: a hash aggregate holds one entry
    * per distinct key (≈ 48 bytes with map overhead), a sort aggregate
    * streams at constant memory — so the strategy choice is exactly
    * "does ndv/partitions × 48 fit the 32 MiB per-task budget", measured
    * here for four candidate group-by keys of increasing cardinality.
    * At this SF everything fits (the readout shows HOW CLOSE each key
    * comes); at 10⁴× the l_orderkey row would flip to 'sort' — which is
    * the point of measuring instead of defaulting.
    *
    * Scale shape: four independent (count, exact-ndv) folds union'd into
    * four rows; the advisor math is scalar. */
  private val q541 = QueryDef(
    "q541_agg_strategy_advisor",
    (spark, dir) => {
      def stats(colName: String) = Tables.lineitem(spark, dir)
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col(colName)).as("ndv"))
        .select(lit(colName).as("group_key"), col("n_rows"), col("ndv"),
          expr("(ndv + 31) div 32 * 48").as("hash_bytes_per_task"),
          expr("CASE WHEN (ndv + 31) div 32 * 48 <= 33554432" +
            " THEN 'hash' ELSE 'sort' END").as("strategy"),
          expr("n_rows div ndv").as("rows_per_group"))
      stats("l_returnflag")
        .unionAll(stats("l_suppkey"))
        .unionAll(stats("l_partkey"))
        .unionAll(stats("l_orderkey"))
        .orderBy(col("group_key"))
    },
    Some {
      def statsSql(c: String) = s"""
        SELECT '$c' AS group_key, CAST(count(*) AS BIGINT) AS n_rows,
          CAST(count(DISTINCT $c) AS BIGINT) AS ndv
        FROM lineitem"""
      s"""
      WITH s AS (${statsSql("l_returnflag")} UNION ALL ${statsSql("l_suppkey")}
        UNION ALL ${statsSql("l_partkey")} UNION ALL ${statsSql("l_orderkey")})
      SELECT group_key, n_rows, ndv,
        (ndv + 31) // 32 * 48 AS hash_bytes_per_task,
        CASE WHEN (ndv + 31) // 32 * 48 <= 33554432 THEN 'hash' ELSE 'sort' END
          AS strategy,
        n_rows // ndv AS rows_per_group
      FROM s ORDER BY group_key
    """
    })

  // ---------------------------------------------------------------- q542

  /** Exact Shapley attribution over the {view, click, signup} channel
    * game: v(S) = purchase-conversion rate (ppm) of users whose exact
    * touch set is S, and each channel's Shapley value is the
    * permutation-weighted marginal Σ |S|!(2−|S|)!/3!·(v(S∪i) − v(S)) —
    * carried in SIXTHS of a ppm so the n=3 weights (2,1,1,2)/6 stay
    * integer. Efficiency (Σφ = v(full) − v(∅)) holds exactly and is
    * spec-asserted. The principled alternative to q85/q105/q278's
    * positional heuristics, exact because the channel set is tiny.
    *
    * Scale shape: one per-user presence fold, one 8-row exact-subset
    * census pivoted to a single row of rates, scalar Shapley math,
    * 3-row unpivot. */
  private val q542 = QueryDef(
    "q542_shapley_attribution",
    (spark, dir) => {
      val users = Tables.events(spark, dir)
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "view", 1L).otherwise(0L)).as("v"),
          max(when(col("event_type") === "click", 1L).otherwise(0L)).as("c"),
          max(when(col("event_type") === "signup", 1L).otherwise(0L)).as("s"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
      val seg = users.groupBy(expr("v * 4 + c * 2 + s").as("k"))
        .agg(count(lit(1)).as("n"), sum(col("conv")).as("nc"))
        .select(col("k"), expr("nc * 1000000 div n").as("rate"))
      def r(i: Int) = s"coalesce(max(CASE WHEN k = $i THEN rate END), 0)"
      val pivot = seg.agg(
        expr(r(0)).as("r0"), expr(r(1)).as("r1"), expr(r(2)).as("r2"),
        expr(r(3)).as("r3"), expr(r(4)).as("r4"), expr(r(5)).as("r5"),
        expr(r(6)).as("r6"), expr(r(7)).as("r7"))
      pivot.selectExpr(
          "r0", "r7",
          "2*(r4-r0) + (r6-r2) + (r5-r1) + 2*(r7-r3) AS phi_view",
          "2*(r2-r0) + (r6-r4) + (r3-r1) + 2*(r7-r5) AS phi_click",
          "2*(r1-r0) + (r3-r2) + (r5-r4) + 2*(r7-r6) AS phi_signup")
        .selectExpr(
          "stack(3, 'click', phi_click, 'signup', phi_signup, 'view', phi_view)" +
            " AS (channel, phi_sixths_ppm)",
          "r0 AS v_empty_ppm", "r7 AS v_full_ppm")
        .select(col("channel"), col("phi_sixths_ppm"), col("v_empty_ppm"),
          col("v_full_ppm"))
        .orderBy(col("channel"))
    },
    Some("""
      WITH users AS (
        SELECT user_id,
          max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS v,
          max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
          max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS s,
          max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        FROM events GROUP BY user_id),
      seg AS (
        SELECT v * 4 + c * 2 + s AS k,
          CAST(sum(conv) * 1000000 // count(*) AS BIGINT) AS rate
        FROM users GROUP BY 1),
      p AS (
        SELECT
          coalesce(max(CASE WHEN k = 0 THEN rate END), 0) AS r0,
          coalesce(max(CASE WHEN k = 1 THEN rate END), 0) AS r1,
          coalesce(max(CASE WHEN k = 2 THEN rate END), 0) AS r2,
          coalesce(max(CASE WHEN k = 3 THEN rate END), 0) AS r3,
          coalesce(max(CASE WHEN k = 4 THEN rate END), 0) AS r4,
          coalesce(max(CASE WHEN k = 5 THEN rate END), 0) AS r5,
          coalesce(max(CASE WHEN k = 6 THEN rate END), 0) AS r6,
          coalesce(max(CASE WHEN k = 7 THEN rate END), 0) AS r7
        FROM seg)
      SELECT 'click' AS channel,
        CAST(2*(r2-r0) + (r6-r4) + (r3-r1) + 2*(r7-r5) AS BIGINT)
          AS phi_sixths_ppm,
        CAST(r0 AS BIGINT) AS v_empty_ppm, CAST(r7 AS BIGINT) AS v_full_ppm
      FROM p
      UNION ALL
      SELECT 'signup',
        CAST(2*(r1-r0) + (r3-r2) + (r5-r4) + 2*(r7-r6) AS BIGINT), r0, r7
      FROM p
      UNION ALL
      SELECT 'view',
        CAST(2*(r4-r0) + (r6-r2) + (r5-r1) + 2*(r7-r3) AS BIGINT), r0, r7
      FROM p
      ORDER BY channel
    """))

  // ---------------------------------------------------------------- q543

  /** Skew-salting factor plan: before a skewed join, each hot key is
    * split into ⌈rows/T⌉ salt buckets (T = 2000 target rows per task),
    * which caps every task's probe volume at T but replicates the build
    * side once per extra bucket — the exact cost/benefit readout (max
    * task rows before vs after, build-row replicas bought) that decides
    * whether to salt. q33 EXECUTES a salted join, q232 measures skew;
    * this plans the factor.
    *
    * Scale shape: one key-volume fold (the only corpus-sized shuffle);
    * the plan census is a scalar rollup over key-count rows. */
  private val q543 = QueryDef(
    "q543_salting_factor_plan",
    (spark, dir) => {
      Tables.lineitem(spark, dir)
        .groupBy(col("l_suppkey")).agg(count(lit(1)).as("cnt"))
        .select(col("cnt"), expr("(cnt + 1999) div 2000").as("salt"))
        .agg(count(lit(1)).as("n_keys"),
          sum(when(col("salt") > 1L, 1L).otherwise(0L)).as("hot_keys"),
          max(col("cnt")).as("max_key_rows"),
          max(expr("(cnt + salt - 1) div salt")).as("max_task_rows_after"),
          sum(col("salt")).as("total_tasks"),
          (sum(col("salt")) - count(lit(1))).as("build_replicas"))
        .select(col("n_keys"), col("hot_keys"), col("max_key_rows"),
          col("max_task_rows_after"), col("total_tasks"), col("build_replicas"),
          expr("max_key_rows * 1000 div greatest(max_task_rows_after, 1)")
            .as("skew_reduction_milli"))
    },
    Some("""
      WITH k AS (
        SELECT l_suppkey, CAST(count(*) AS BIGINT) AS cnt FROM lineitem
        GROUP BY l_suppkey),
      s AS (SELECT cnt, (cnt + 1999) // 2000 AS salt FROM k)
      SELECT CAST(count(*) AS BIGINT) AS n_keys,
        CAST(sum(CASE WHEN salt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS hot_keys,
        max(cnt) AS max_key_rows,
        max((cnt + salt - 1) // salt) AS max_task_rows_after,
        CAST(sum(salt) AS BIGINT) AS total_tasks,
        CAST(sum(salt) - count(*) AS BIGINT) AS build_replicas,
        CAST(max(cnt) * 1000 // greatest(max((cnt + salt - 1) // salt), 1)
          AS BIGINT) AS skew_reduction_milli
      FROM s
    """))

  // ------------------------------------------------------------ q544/q545

  /** One row per order: `(o_orderkey, x1, x2, y)`, x1 its line-item
    * count, x2 its total quantity, y its value in whole dollars. */
  private def perOrder(spark: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey").as("o_orderkey"))
      .agg(count(lit(1)).as("x1"),
        expr("CAST(sum(l_quantity) AS BIGINT)").as("x2"))
      .join(Tables.orders(spark, dir)
        .select(col("o_orderkey"),
          expr("CAST(floor(o_totalprice + 0.5) AS BIGINT)").as("y")),
        Seq("o_orderkey"))

  /** The shared exact-integer OLS fit: order value (whole dollars) on
    * x1 = line-item count and x2 = total quantity, solved by Cramer's
    * rule on the CENTERED 2×2 normal equations. Everything stays in
    * 64-bit integers by construction: centered sums are O(n·cov) (the
    * raw Σx·Σy cross terms ≤ ~4·10¹⁷ at sf0.1; at much larger n divide
    * by n before the product), the determinant ≈ 10¹⁵, and the
    * milli-betas divide by (det div 1000) instead of multiplying the
    * ~10¹⁷ numerator by 1000. One row out: betas (milli), means, n. */
  private def olsFit(spark: org.apache.spark.sql.SparkSession, dir: String) = {
    perOrder(spark, dir).agg(count(lit(1)).as("n"),
        sum(col("x1")).as("sx1"), sum(col("x2")).as("sx2"), sum(col("y")).as("sy"),
        sum(expr("x1 * x1")).as("sx1x1"), sum(expr("x2 * x2")).as("sx2x2"),
        sum(expr("x1 * x2")).as("sx1x2"), sum(expr("x1 * y")).as("sx1y"),
        sum(expr("x2 * y")).as("sx2y"), sum(expr("y * y")).as("syy"))
      .withColumn("cx1x1", expr("sx1x1 - sx1 * sx1 div n"))
      .withColumn("cx2x2", expr("sx2x2 - sx2 * sx2 div n"))
      .withColumn("cx1x2", expr("sx1x2 - sx1 * sx2 div n"))
      .withColumn("cx1y", expr("sx1y - sx1 * sy div n"))
      .withColumn("cx2y", expr("sx2y - sx2 * sy div n"))
      .withColumn("det", expr("cx1x1 * cx2x2 - cx1x2 * cx1x2"))
      .withColumn("beta1_milli",
        expr("(cx1y * cx2x2 - cx2y * cx1x2) div greatest(det div 1000, 1)"))
      .withColumn("beta2_milli",
        expr("(cx2y * cx1x1 - cx1y * cx1x2) div greatest(det div 1000, 1)"))
      .withColumn("beta0_milli",
        expr("(sy * 1000 - beta1_milli * sx1 - beta2_milli * sx2) div n"))
  }

  private val olsFitSql: String = """
      per AS (
        SELECT l.o_orderkey, l.x1, l.x2,
          CAST(floor(o.o_totalprice + 0.5) AS BIGINT) AS y
        FROM (SELECT l_orderkey AS o_orderkey, CAST(count(*) AS BIGINT) AS x1,
                CAST(sum(l_quantity) AS BIGINT) AS x2
              FROM lineitem GROUP BY l_orderkey) l
        JOIN orders o ON o.o_orderkey = l.o_orderkey),
      sums AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(x1) AS BIGINT) AS sx1, CAST(sum(x2) AS BIGINT) AS sx2,
          CAST(sum(y) AS BIGINT) AS sy,
          CAST(sum(x1 * x1) AS BIGINT) AS sx1x1,
          CAST(sum(x2 * x2) AS BIGINT) AS sx2x2,
          CAST(sum(x1 * x2) AS BIGINT) AS sx1x2,
          CAST(sum(x1 * y) AS BIGINT) AS sx1y,
          CAST(sum(x2 * y) AS BIGINT) AS sx2y,
          CAST(sum(y * y) AS BIGINT) AS syy
        FROM per),
      cen AS (
        SELECT *, sx1x1 - sx1 * sx1 // n AS cx1x1,
          sx2x2 - sx2 * sx2 // n AS cx2x2,
          sx1x2 - sx1 * sx2 // n AS cx1x2,
          sx1y - sx1 * sy // n AS cx1y,
          sx2y - sx2 * sy // n AS cx2y
        FROM sums),
      det AS (SELECT *, cx1x1 * cx2x2 - cx1x2 * cx1x2 AS det FROM cen),
      fit AS (
        SELECT *,
          (cx1y * cx2x2 - cx2y * cx1x2) // greatest(det // 1000, 1)
            AS beta1_milli,
          (cx2y * cx1x1 - cx1y * cx1x2) // greatest(det // 1000, 1)
            AS beta2_milli
        FROM det),
      fit0 AS (
        SELECT *,
          (sy * 1000 - beta1_milli * sx1 - beta2_milli * sx2) // n
            AS beta0_milli
        FROM fit)"""

  /** Exact-integer OLS by normal equations: order value regressed on
    * line-item count and total quantity, Cramer-solved on centered sums
    * (see olsFit), then a SECOND pass scores every order with the
    * broadcast milli-betas for SSE, with SST taken about the floored
    * mean (exact: Σy² − 2m·Σy + n·m², every term < 10¹⁶) and R² in ppm
    * by dividing SSE by (SST div 10⁶) — division-first keeps every
    * intermediate in range, identically in both engines. In-engine
    * model TRAINING with a bit-exact certificate, where q141/q186 fit
    * single-feature trends.
    *
    * Scale shape: two corpus folds (sufficient statistics, then
    * residuals against the one-row broadcast fit); no windows. */
  private val q544 = QueryDef(
    "q544_ols_normal_equations",
    (spark, dir) => {
      val fit = olsFit(spark, dir)
      perOrder(spark, dir).crossJoin(broadcast(fit))
        .withColumn("r", expr(
          "(y * 1000 - (beta0_milli + beta1_milli * x1 + beta2_milli * x2)) div 1000"))
        .groupBy(col("n"), col("beta0_milli"), col("beta1_milli"),
          col("beta2_milli"), col("sy"), col("syy"))
        .agg(sum(expr("r * r")).as("sse"))
        .withColumn("m", expr("sy div n"))
        .withColumn("sst", expr("syy - 2 * m * sy + n * m * m"))
        .select(col("n").as("n_orders"), col("beta0_milli"), col("beta1_milli"),
          col("beta2_milli"), col("sse"), col("sst"),
          expr("1000000 - sse div greatest(sst div 1000000, 1)").as("r2_ppm"))
    },
    Some(s"""
      WITH $olsFitSql,
      scored AS (
        SELECT f.n, f.beta0_milli, f.beta1_milli, f.beta2_milli, f.sy, f.syy,
          (p.y * 1000 - (f.beta0_milli + f.beta1_milli * p.x1
            + f.beta2_milli * p.x2)) // 1000 AS r
        FROM per p CROSS JOIN fit0 f),
      agg AS (
        SELECT n, beta0_milli, beta1_milli, beta2_milli, sy, syy,
          CAST(sum(r * r) AS BIGINT) AS sse
        FROM scored
        GROUP BY n, beta0_milli, beta1_milli, beta2_milli, sy, syy),
      m AS (SELECT *, sy // n AS m FROM agg)
      SELECT n AS n_orders, beta0_milli, beta1_milli, beta2_milli, sse,
        syy - 2 * m * sy + n * m * m AS sst,
        CAST(1000000 - sse // greatest((syy - 2 * m * sy + n * m * m)
          // 1000000, 1) AS BIGINT) AS r2_ppm
      FROM m
    """))

  /** OLS segment-bias audit: score every order with q544's broadcast
    * fit and roll residuals up by customer market segment — a model
    * whose residual MEAN differs by segment is systematically over- or
    * under-pricing that segment (the fairness readout run on every
    * production regression; q209's Simpson audit is the univariate
    * cousin). Residuals in whole dollars, means in milli.
    *
    * Scale shape: the fit is a one-row broadcast; orders join customers
    * on the dimension key; one per-segment rollup. */
  private val q545 = QueryDef(
    "q545_ols_segment_residual_audit",
    (spark, dir) => {
      val fit = olsFit(spark, dir)
        .select(col("beta0_milli"), col("beta1_milli"), col("beta2_milli"))
      val perOrder = Tables.lineitem(spark, dir)
        .groupBy(col("l_orderkey").as("o_orderkey"))
        .agg(count(lit(1)).as("x1"),
          expr("CAST(sum(l_quantity) AS BIGINT)").as("x2"))
        .join(Tables.orders(spark, dir)
          .select(col("o_orderkey"), col("o_custkey"),
            expr("CAST(floor(o_totalprice + 0.5) AS BIGINT)").as("y")),
          Seq("o_orderkey"))
        .join(Tables.customer(spark, dir)
          .select(col("c_custkey").as("o_custkey"), col("c_mktsegment")),
          Seq("o_custkey"))
      perOrder.crossJoin(broadcast(fit))
        .withColumn("r", expr(
          "(y * 1000 - (beta0_milli + beta1_milli * x1 + beta2_milli * x2)) div 1000"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"), sum(col("r")).as("sum_residual"),
          sum(when(col("r") > 0L, 1L).otherwise(0L)).as("n_over"))
        .select(col("c_mktsegment"), col("n_orders"), col("sum_residual"),
          expr("sum_residual * 1000 div n_orders").as("mean_residual_milli"),
          expr("n_over * 1000000 div n_orders").as("over_ppm"))
        .orderBy(col("c_mktsegment"))
    },
    Some(s"""
      WITH $olsFitSql,
      scored AS (
        SELECT c.c_mktsegment,
          (p.y * 1000 - (f.beta0_milli + f.beta1_milli * p.x1
            + f.beta2_milli * p.x2)) // 1000 AS r
        FROM per p
        JOIN orders o ON o.o_orderkey = p.o_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        CROSS JOIN fit0 f)
      SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
        CAST(sum(r) AS BIGINT) AS sum_residual,
        CAST(sum(r) * 1000 // count(*) AS BIGINT) AS mean_residual_milli,
        CAST(sum(CASE WHEN r > 0 THEN 1 ELSE 0 END) * 1000000 // count(*)
          AS BIGINT) AS over_ppm
      FROM scored GROUP BY c_mktsegment ORDER BY c_mktsegment
    """))

  def defs: Seq[QueryDef] = Seq(q541, q542, q543, q544, q545)
}
