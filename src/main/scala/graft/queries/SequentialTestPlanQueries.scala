package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Round-7 batch 10: sequential and dependence-robust testing — the
  * Benjamini–Yekutieli step-up against BH on the same statistics,
  * empirical-Bernstein vs Hoeffding confidence radii, and Wald's SPRT
  * with literal log-likelihood constants. All exact integers
  * (precomputed public quantile/log constants as ppm/milli literals —
  * the q417 discipline) with total ORDER BYs for the oracle gate.
  */
object SequentialTestPlanQueries extends QueryGroup {

  // ---------------------------------------------------------------- q628

  // chi2(1) icdf ppm at alpha*k/25 (BH) and alpha*k/(25*H25) (BY),
  // alpha = 0.05, k = 1..25 — public constants via the normal icdf
  private val bhPpm = Seq(9549536L, 8283815L, 7550303L, 7033475L, 6634897L,
    6310870L, 6038144L, 5802875L, 5596150L, 5411895L, 5245786L,
    5094633L, 4956019L, 4828068L, 4709293L, 4598497L, 4494704L,
    4397105L, 4305023L, 4217885L, 4135205L, 4056562L, 3981595L,
    3909986L, 3841459L)
  private val byPpm = Seq(12027851L, 10740377L, 9991852L, 9463105L, 9054442L,
    8721560L, 8440872L, 8198321L, 7984853L, 7794294L, 7622247L,
    7465465L, 7321490L, 7188408L, 7064706L, 6949165L, 6840788L,
    6738751L, 6642362L, 6551039L, 6464282L, 6381664L, 6302815L,
    6227411L, 6155168L)

  /** Benjamini–Yekutieli vs BH on the same 25 brand return-rate
    * statistics ([[RetrievalQueries.brandChiSquare]], q417's exact χ²
    * construction): under ARBITRARY dependence BH's FDR guarantee
    * fails, and BY restores it by
    * shrinking every level to α·k/(m·H_m), H₂₅ ≈ 3.816 — the χ²₁
    * critical values at both level ladders are embedded ppm constants
    * (public quantiles via the normal icdf, precomputed once). The
    * audit reports, per brand, which procedures reject — BY ⊆ BH
    * always, and the gap is the robustness premium.
    *
    * Scale shape: brandChiSquare's — one fact scan folds to 25 cells, ranking
    * and both step-ups run on the 25-row grid. */
  private val q628 = QueryDef(
    "q628_by_vs_bh_fdr",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val th = spark.range(1, 26).select(col("id").as("rk"),
        element_at(array(bhPpm.map(lit): _*), col("id").cast("int")).as("t_bh"),
        element_at(array(byPpm.map(lit): _*), col("id").cast("int")).as("t_by"))
      val stats = RetrievalQueries.brandChiSquare(spark, dir)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("stat_ppm").desc, col("p_brand"))))
        .join(broadcast(th), Seq("rk"))
      val kmax = stats.agg(
        coalesce(max(when(col("stat_ppm") >= col("t_bh"), col("rk"))), lit(0L))
          .as("k_bh"),
        coalesce(max(when(col("stat_ppm") >= col("t_by"), col("rk"))), lit(0L))
          .as("k_by"))
      stats.crossJoin(broadcast(kmax))
        .select(col("p_brand"), col("stat_ppm"), col("rk").cast("long").as("rank"),
          when(col("rk") <= col("k_bh"), 1L).otherwise(0L).as("rejected_bh"),
          when(col("rk") <= col("k_by"), 1L).otherwise(0L).as("rejected_by"))
        .orderBy(col("rank"))
    },
    Some {
      s"""
      WITH th AS (
        SELECT CAST(k.k AS BIGINT) AS rk,
          CAST([${bhPpm.mkString(", ")}][CAST(k.k AS INTEGER)] AS BIGINT) AS t_bh,
          CAST([${byPpm.mkString(", ")}][CAST(k.k AS INTEGER)] AS BIGINT) AS t_by
        FROM (SELECT unnest(range(1, 26)) AS k) k),
      li AS (
        SELECT p_brand, CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM lineitem JOIN part ON l_partkey = p_partkey),
      cells AS (
        SELECT p_brand, CAST(sum(y) AS BIGINT) AS a,
          CAST(sum(1 - y) AS BIGINT) AS b
        FROM li GROUP BY p_brand),
      tot AS (SELECT CAST(sum(a) AS BIGINT) AS ta,
              CAST(sum(b) AS BIGINT) AS tb FROM cells),
      stats AS (
        SELECT p_brand,
          CAST(CAST(ta + tb AS HUGEINT)
            * (CAST(a * (tb - b) - b * (ta - a) AS HUGEINT)
               * (a * (tb - b) - b * (ta - a))) * 1000000
            // (CAST((a + b) * (ta - a + tb - b) AS HUGEINT)
               * (a + ta - a) * (b + tb - b)) AS BIGINT) AS stat_ppm
        FROM cells CROSS JOIN tot),
      ranked AS (
        SELECT p_brand, stat_ppm,
          row_number() OVER (ORDER BY stat_ppm DESC, p_brand) AS rk
        FROM stats),
      j AS (SELECT * FROM ranked JOIN th USING (rk)),
      kmax AS (
        SELECT coalesce(max(CASE WHEN stat_ppm >= t_bh THEN rk END), 0) AS k_bh,
          coalesce(max(CASE WHEN stat_ppm >= t_by THEN rk END), 0) AS k_by
        FROM j)
      SELECT p_brand, stat_ppm, CAST(rk AS BIGINT) AS rank,
        CAST(CASE WHEN rk <= k_bh THEN 1 ELSE 0 END AS BIGINT) AS rejected_bh,
        CAST(CASE WHEN rk <= k_by THEN 1 ELSE 0 END AS BIGINT) AS rejected_by
      FROM j CROSS JOIN kmax ORDER BY rank
    """
    })

  // ---------------------------------------------------------------- q629

  /** Empirical-Bernstein vs Hoeffding confidence radii per document
    * source: Hoeffding's radius R·√(L/2n) only sees the RANGE R of the
    * quality metric (chars per doc); empirical Bernstein,
    * √(2·V̂·L/n) + 3·R·L/n, sees the measured variance and wins
    * whenever the data is far from worst-case spread — the bound that
    * decides how many samples a data-quality audit actually needs.
    * L = ln(3/δ) at δ = 0.05 ships as the milli literal 4094; radii
    * come from the ±1-corrected isqrt over exact integer moments.
    *
    * Scale shape: one documents scan folds to per-source (n, Σx, Σx²,
    * min, max) moments in decimal(38,0); radii are per-source scalar
    * arithmetic on that ≤ sources-sized grid. */
  private val q629 = QueryDef(
    "q629_empirical_bernstein_radius",
    (spark, dir) => {
      val m = Tables.documents(spark, dir)
        .select(col("source"), col("n_chars").cast("long").as("x"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("ss"),
          max(col("x")).as("mx"), min(col("x")).as("mn"))
        // variance floor-divided once; L_milli = 4094 (= ln(60)·1000)
        .withColumn("v", expr("CAST((n * ss - CAST(s AS DECIMAL(38,0)) * s) DIV (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)"))
        .withColumn("r", col("mx") - col("mn"))
      m.select(col("source"), col("n"), col("v").as("variance"), col("r").as("range_x"),
          expr(s"${SqlMacros.isqrt("2 * v * 4094 div (1000 * n)")}").as("eb_term1"),
          expr("3 * r * 4094 div (1000 * n)").as("eb_term2"),
          expr(s"${SqlMacros.isqrt("r * r * 4094 div (2000 * n)")}").as("hoeffding_radius"))
        .select(col("source"), col("n"), col("variance"), col("range_x"),
          (col("eb_term1") + col("eb_term2")).as("bernstein_radius"),
          col("hoeffding_radius"),
          (col("eb_term1") + col("eb_term2") < col("hoeffding_radius"))
            .as("bernstein_tighter"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH m AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(n_chars) AS BIGINT) AS s,
          sum(CAST(n_chars AS HUGEINT) * n_chars) AS ss,
          CAST(max(n_chars) AS BIGINT) AS mx, CAST(min(n_chars) AS BIGINT) AS mn
        FROM documents GROUP BY source),
      v AS (
        SELECT source, n,
          CAST((n * ss - CAST(s AS HUGEINT) * s)
            // (CAST(n AS HUGEINT) * n) AS BIGINT) AS v,
          mx - mn AS r
        FROM m),
      t AS (
        SELECT source, n, v AS variance, r AS range_x,
          ${SqlMacros.isqrt("2 * v * 4094 // (1000 * n)")} AS eb1,
          3 * r * 4094 // (1000 * n) AS eb2,
          ${SqlMacros.isqrt("r * r * 4094 // (2000 * n)")} AS hoeffding_radius
        FROM v)
      SELECT source, n, variance, range_x,
        CAST(eb1 + eb2 AS BIGINT) AS bernstein_radius,
        CAST(hoeffding_radius AS BIGINT) AS hoeffding_radius,
        eb1 + eb2 < hoeffding_radius AS bernstein_tighter
      FROM t ORDER BY source
    """))

  // ---------------------------------------------------------------- q630

  /** Wald's SPRT on the daily purchase-share stream: H₀ p = 0.18 vs
    * H₁ p = 0.22, log-likelihood increments per day
    * x·ln(p₁/p₀) + (n−x)·ln((1−p₁)/(1−p₀)) with the two logs as milli
    * literals (201, −50); the cumulative LLR crosses ln((1−β)/α) =
    * 2944 milli → accept H₁, or −2944 → accept H₀ (α = β = 0.05).
    * The audit reports the crossing day and decision against the
    * fixed-horizon verdict — the sequential test that stops ~half as
    * late as a fixed-n test at the same error rates, and the honest
    * form of the "peek early" q557 warns about.
    *
    * Scale shape: events fold to one row per day; the cumulative LLR
    * is a running window over the calendar-bounded day series (the
    * q130 class); readout is one row. */
  private val q630 = QueryDef(
    "q630_sprt_purchase_share",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      import graft.functions.Deterministic.epochS
      val byDay = Tables.events(spark, dir)
        .select(epochS(col("ts")).as("es"), col("event_type"))
        .groupBy(expr("es div 86400").as("day"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("x"))
      val w = Window.orderBy(col("day")).rowsBetween(Window.unboundedPreceding, 0)
      val llr = byDay
        .withColumn("llr", sum(expr("x * 201 + (n - x) * -50")).over(w))
        .withColumn("day_idx", row_number().over(Window.orderBy(col("day"))).cast("long"))
      val crossings = llr.agg(
        min(when(col("llr") >= 2944L, col("day_idx"))).as("first_h1_day"),
        min(when(col("llr") <= -2944L, col("day_idx"))).as("first_h0_day"),
        max(col("day_idx")).as("n_days"),
        sum(col("x")).as("total_x"), sum(col("n")).as("total_n"),
        max(col("llr")).as("max_llr"), min(col("llr")).as("min_llr"))
      crossings.select(
        col("n_days"), col("total_x"), col("total_n"),
        expr("total_x * 1000000 div total_n").as("share_ppm"),
        coalesce(col("first_h1_day"), lit(-1L)).as("first_h1_day"),
        coalesce(col("first_h0_day"), lit(-1L)).as("first_h0_day"),
        expr("""CASE
            WHEN first_h1_day IS NOT NULL AND (first_h0_day IS NULL
              OR first_h1_day < first_h0_day) THEN 'accept_h1'
            WHEN first_h0_day IS NOT NULL THEN 'accept_h0'
            ELSE 'continue' END""").as("decision"),
        col("max_llr"), col("min_llr"))
    },
    Some("""
      WITH byday AS (
        SELECT epoch_ms(ts) // 1000 // 86400 AS day,
          CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            AS BIGINT) AS x
        FROM events GROUP BY 1),
      llr AS (
        SELECT day, n, x,
          sum(x * 201 + (n - x) * -50) OVER (ORDER BY day
            ROWS UNBOUNDED PRECEDING) AS llr,
          CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS day_idx
        FROM byday),
      c AS (
        SELECT min(CASE WHEN llr >= 2944 THEN day_idx END) AS first_h1_day,
          min(CASE WHEN llr <= -2944 THEN day_idx END) AS first_h0_day,
          CAST(max(day_idx) AS BIGINT) AS n_days,
          CAST(sum(x) AS BIGINT) AS total_x, CAST(sum(n) AS BIGINT) AS total_n,
          CAST(max(llr) AS BIGINT) AS max_llr,
          CAST(min(llr) AS BIGINT) AS min_llr
        FROM llr)
      SELECT n_days, total_x, total_n,
        CAST(total_x * 1000000 // total_n AS BIGINT) AS share_ppm,
        CAST(coalesce(first_h1_day, -1) AS BIGINT) AS first_h1_day,
        CAST(coalesce(first_h0_day, -1) AS BIGINT) AS first_h0_day,
        CASE WHEN first_h1_day IS NOT NULL AND (first_h0_day IS NULL
            OR first_h1_day < first_h0_day) THEN 'accept_h1'
          WHEN first_h0_day IS NOT NULL THEN 'accept_h0'
          ELSE 'continue' END AS decision,
        max_llr, min_llr
      FROM c
    """))

  override def defs: Seq[QueryDef] = Seq(q628, q629, q630)
}
