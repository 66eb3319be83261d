package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Round-7 batch 15: agreement statistics — Kendall's W / Friedman over
  * repeated brand rankings, Cronbach's alpha reliability of the monthly
  * revenue "items", and Bland–Altman limits of agreement between the
  * order-header and lineitem-derived totals. All exact integers
  * (decimal moments, ±1-corrected isqrt) on dimension-bounded grids
  * with total ORDER BYs for the oracle gate.
  */
object AgreementPlanQueries extends QueryGroup {

  /** Dense (month, brand, revenue-cents) cells for 1995 — zero-filled
    * so every (month, brand) exists (rank/variance statistics are
    * wrong on ragged grids). */
  private def denseCells(spark: org.apache.spark.sql.SparkSession, dir: String) = {
    val cells = CohesionPlanQueries.brandMonthRevenue(spark, dir)
    val brands = Tables.part(spark, dir).select(col("p_brand").as("brand")).distinct()
    val months = brands.select(explode(expr("sequence(1L, 12L)")).as("m")).distinct()
    brands.crossJoin(months)
      .join(cells, Seq("brand", "m"), "left")
      .select(col("brand"), col("m"), coalesce(col("rev"), lit(0L)).as("rev"))
  }

  private val denseCellsSql = """
      raw AS (
        SELECT p_brand AS brand,
          CAST(month(CAST(l_shipdate AS DATE)) AS BIGINT) AS m,
          CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS rev
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate < TIMESTAMP '1996-01-01'
        GROUP BY 1, 2),
      brands AS (SELECT DISTINCT p_brand AS brand FROM part),
      grid AS (
        SELECT brand, CAST(mm.m AS BIGINT) AS m
        FROM brands, LATERAL (SELECT unnest(range(1, 13)) AS m) mm),
      cells AS (
        SELECT g.brand, g.m, coalesce(raw.rev, 0) AS rev
        FROM grid g LEFT JOIN raw ON raw.brand = g.brand AND raw.m = g.m)"""

  // ---------------------------------------------------------------- q642

  /** Kendall's W (coefficient of concordance) + Friedman test over the
    * 12 monthly brand-revenue rankings: W = 12S/(m²·n(n²−1)) with S the
    * squared deviation of brand rank-sums from their mean — W = 1 means
    * every month ranks the brands identically (a stable market), W ≈ 0
    * means monthly rankings are noise; χ²_F = m(n−1)·W is Friedman's
    * significance statistic for the same table (df = n−1). Ranks are
    * total (revenue desc, brand) within each month, and the grid is
    * dense (zero-filled) so rank-sums are comparable.
    *
    * Scale shape: one fact scan folds to the 12×|brands| dense grid;
    * per-month ranks partition by month (≤ |brands| rows each); the
    * readout is one row. */
  private val q642 = QueryDef(
    "q642_kendall_w_concordance",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val cells = denseCells(spark, dir)
      val ranked = cells.withColumn("rk", row_number().over(
        Window.partitionBy(col("m")).orderBy(col("rev").desc, col("brand")))
        .cast("long"))
      val sums = ranked.groupBy(col("brand")).agg(sum(col("rk")).as("r"))
      val n = sums.agg(count(lit(1)).as("n"))
      // S·4 stays integral: Σ(2R − m(n+1))² = 4S with m = 12
      val s4 = sums.crossJoin(broadcast(n))
        .select(expr("(2 * r - 12 * (n + 1)) * (2 * r - 12 * (n + 1))").as("d2"))
        .agg(sum(col("d2")).as("s4"))
      s4.crossJoin(broadcast(n))
        .select(col("n").as("n_brands"), lit(12L).as("m_months"),
          expr("s4 div 4").as("s_stat"),
          expr("12 * (s4 div 4) * 1000000 div (144 * n * (n * n - 1))")
            .as("w_ppm"))
        .select(col("n_brands"), col("m_months"), col("s_stat"), col("w_ppm"),
          expr("12 * (n_brands - 1) * w_ppm div 1000").as("friedman_chi2_milli"))
    },
    Some(s"""
      WITH $denseCellsSql,
      ranked AS (
        SELECT brand,
          CAST(row_number() OVER (PARTITION BY m ORDER BY rev DESC, brand)
            AS BIGINT) AS rk
        FROM cells),
      sums AS (SELECT brand, CAST(sum(rk) AS BIGINT) AS r
               FROM ranked GROUP BY brand),
      n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM sums),
      s4 AS (
        SELECT CAST(sum((2 * r - 12 * (n + 1)) * (2 * r - 12 * (n + 1)))
          AS BIGINT) AS s4
        FROM sums CROSS JOIN n)
      SELECT n AS n_brands, CAST(12 AS BIGINT) AS m_months,
        CAST(s4 // 4 AS BIGINT) AS s_stat,
        CAST(12 * (s4 // 4) * 1000000 // (144 * n * (n * n - 1)) AS BIGINT)
          AS w_ppm,
        CAST(12 * (n - 1) * (12 * (s4 // 4) * 1000000
          // (144 * n * (n * n - 1))) // 1000 AS BIGINT)
          AS friedman_chi2_milli
      FROM s4 CROSS JOIN n
    """))

  // ---------------------------------------------------------------- q643

  /** Cronbach's alpha over the monthly revenue "items": α =
    * k/(k−1)·(1 − Σᵢ σ²ᵢ / σ²_total), k = 12 months as items, brands
    * as cases — the internal-consistency statistic: α near 1 means the
    * months measure one underlying "brand strength" factor (rankings
    * portable across months); α near 0 means each month is its own
    * story and any annual composite score is unreliable. Population
    * variances in exact decimal(38,0) with a common n² denominator so
    * the ratio is a pure integer division.
    *
    * Scale shape: the dense 12×|brands| grid; per-month and per-brand
    * variance aggregates; one-row readout. */
  private val q643 = QueryDef(
    "q643_cronbach_alpha",
    (spark, dir) => {
      val cells = denseCells(spark, dir).persist()
      // per-month population variance numerators (common denominator n²)
      val vItems = cells.groupBy(col("m"))
        .agg(count(lit(1)).as("n"), sum(col("rev")).as("s"),
          sum(expr("CAST(rev AS DECIMAL(38,0)) * rev")).as("ss"))
        .select(col("n"), expr("n * ss - CAST(s AS DECIMAL(38,0)) * s").as("vnum"))
      val sv = vItems.agg(sum(col("vnum")).as("sum_item_var"), max(col("n")).as("n"))
      val totals = cells.groupBy(col("brand")).agg(sum(col("rev")).as("t"))
        .agg(count(lit(1)).as("nt"), sum(col("t")).as("s"),
          sum(expr("CAST(t AS DECIMAL(38,0)) * t")).as("ss"))
        .select(expr("nt * ss - CAST(s AS DECIMAL(38,0)) * s").as("vtot"))
      sv.crossJoin(broadcast(totals))
        .select(col("n").as("n_brands"), lit(12L).as("k_items"),
          expr("CAST(sum_item_var * 1000000 DIV vtot AS BIGINT)")
            .as("item_var_share_ppm"))
        .select(col("n_brands"), col("k_items"), col("item_var_share_ppm"),
          expr("12 * (1000000 - item_var_share_ppm) div 11 div 1000")
            .as("alpha_milli"))
    },
    Some(s"""
      WITH $denseCellsSql,
      vi AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
          count(*) * sum(CAST(rev AS HUGEINT) * rev)
            - CAST(sum(rev) AS HUGEINT) * sum(rev) AS vnum
        FROM cells GROUP BY m),
      sv AS (SELECT sum(vnum) AS sum_item_var, CAST(max(n) AS BIGINT) AS n
             FROM vi),
      tt AS (
        SELECT count(*) * sum(CAST(t AS HUGEINT) * t)
          - CAST(sum(t) AS HUGEINT) * sum(t) AS vtot
        FROM (SELECT brand, CAST(sum(rev) AS BIGINT) AS t
              FROM cells GROUP BY brand))
      SELECT n AS n_brands, CAST(12 AS BIGINT) AS k_items,
        CAST(sum_item_var * 1000000 // vtot AS BIGINT) AS item_var_share_ppm,
        CAST(12 * (1000000 - sum_item_var * 1000000 // vtot) // 11 // 1000
          AS BIGINT) AS alpha_milli
      FROM sv CROSS JOIN tt
    """))

  // ---------------------------------------------------------------- q644

  /** Bland–Altman limits of agreement between the order header's
    * o_totalprice and the lineitem-derived total Σ extprice·(1−disc)·
    * (1+tax): bias (mean difference), the ±1.96σ limits, and the
    * fraction of orders outside them — the method-comparison statistic
    * that, unlike a match-count reconciliation (q156), QUANTIFIES how
    * far two fee pipelines drift and whether the drift is a constant
    * offset or value-dependent scatter. (On this synthetic data the
    * two totals are generated independently — the audit's honest
    * verdict is "no agreement", with the limits saying by how much.)
    * All cents-exact; σ via ±1-corrected isqrt of decimal moments.
    *
    * Scale shape: one lineitem fold keyed by order, one equi-join to
    * the header, one moment row; the outside-count reuses the same
    * scan with the one-row limits broadcast. */
  private val q644 = QueryDef(
    "q644_bland_altman_agreement",
    (spark, dir) => {
      val li = Tables.lineitem(spark, dir)
        .groupBy(col("l_orderkey"))
        .agg(sum(expr(
          """CAST(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100
               + 0.5) AS BIGINT)""")).as("t"))
      val diffs = Tables.orders(spark, dir)
        .select(col("o_orderkey"),
          graft.functions.Deterministic.cents(col("o_totalprice")).as("h"))
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .select((col("h") - col("t")).as("d"))
        .persist()
      val mom = diffs.agg(count(lit(1)).as("n"), sum(col("d")).as("s"),
          sum(expr("CAST(d AS DECIMAL(38,0)) * d")).as("ss"))
        .select(col("n"), expr("s div n").as("bias"),
          expr("""CAST((n * ss - CAST(s AS DECIMAL(38,0)) * s)
            DIV (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)""").as("v"))
        .select(col("n"), col("bias"),
          expr(s"${SqlMacros.isqrt("v")}").as("sd"))
        .select(col("n"), col("bias"), col("sd"),
          expr("bias - 1960 * sd div 1000").as("loa_low"),
          expr("bias + 1960 * sd div 1000").as("loa_high"))
      diffs.crossJoin(broadcast(mom))
        .agg(max(col("n")).as("n_orders"), max(col("bias")).as("bias_cents"),
          max(col("sd")).as("sd_cents"), max(col("loa_low")).as("loa_low_cents"),
          max(col("loa_high")).as("loa_high_cents"),
          sum(when(col("d") < col("loa_low") || col("d") > col("loa_high"), 1L)
            .otherwise(0L)).as("n_outside"))
        .select(col("n_orders"), col("bias_cents"), col("sd_cents"),
          col("loa_low_cents"), col("loa_high_cents"),
          expr("n_outside * 1000000 div n_orders").as("outside_ppm"))
    },
    Some(s"""
      WITH li AS (
        SELECT l_orderkey,
          CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
            * (1 + l_tax) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS t
        FROM lineitem GROUP BY l_orderkey),
      diffs AS (
        SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) - t AS d
        FROM orders JOIN li ON o_orderkey = l_orderkey),
      mom AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(d) // count(*) AS BIGINT) AS bias,
          CAST((count(*) * sum(CAST(d AS HUGEINT) * d)
            - CAST(sum(d) AS HUGEINT) * sum(d))
            // (CAST(count(*) AS HUGEINT) * count(*)) AS BIGINT) AS v
        FROM diffs),
      lim AS (
        SELECT n, bias, ${SqlMacros.isqrt("v")} AS sd FROM mom),
      lim2 AS (
        SELECT n, bias, sd,
          bias - 1960 * sd // 1000 AS loa_low,
          bias + 1960 * sd // 1000 AS loa_high
        FROM lim)
      SELECT max(n) AS n_orders, CAST(max(bias) AS BIGINT) AS bias_cents,
        CAST(max(sd) AS BIGINT) AS sd_cents,
        CAST(max(loa_low) AS BIGINT) AS loa_low_cents,
        CAST(max(loa_high) AS BIGINT) AS loa_high_cents,
        CAST(sum(CASE WHEN d < loa_low OR d > loa_high THEN 1 ELSE 0 END)
          * 1000000 // max(n) AS BIGINT) AS outside_ppm
      FROM diffs CROSS JOIN lim2
    """))

  override def defs: Seq[QueryDef] = Seq(q642, q643, q644)
}
