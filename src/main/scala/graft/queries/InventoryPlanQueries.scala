package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Round-7 batch 12: inventory planning from measured demand — EOQ
  * (economic order quantity), lead-time safety stock with an empirical
  * stockout audit, and the risk-pooling benefit of consolidating
  * demand. All exact integers (±1-corrected isqrt) with total ORDER
  * BYs for the oracle gate.
  */
object InventoryPlanQueries extends QueryGroup {

  /** One order-year of (brand, day, units) demand. */
  private def demand(spark: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= "1995-01-01" && col("l_shipdate") < "1996-01-01")
      .join(broadcast(Tables.part(spark, dir)
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand").as("brand"),
        expr("CAST(datediff(CAST(l_shipdate AS DATE), DATE '1995-01-01') AS BIGINT)")
          .as("day"),
        expr("CAST(l_quantity AS BIGINT)").as("q"))

  // ---------------------------------------------------------------- q633

  /** Economic order quantity per brand: EOQ = √(2·D·S/H) with annual
    * demand D measured (1995 units shipped), a 100.00-currency fixed
    * order cost S, and holding cost H = 20% of the brand's mean unit
    * price per year — the classic Wilson lot size, computed from data
    * instead of a guess, with the implied orders/year and cycle
    * length. Exact via the ±1-corrected isqrt on cents-scaled
    * integers.
    *
    * Scale shape: one fact scan folds to per-brand (units, revenue)
    * aggregates; EOQ is per-row arithmetic on the ≤ |brands| grid. */
  private val q633 = QueryDef(
    "q633_eoq_order_sizing",
    (spark, dir) => {
      val byBrand = Tables.lineitem(spark, dir)
        .filter(col("l_shipdate") >= "1995-01-01" && col("l_shipdate") < "1996-01-01")
        .join(broadcast(Tables.part(spark, dir)
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand").as("brand"))
        .agg(sum(expr("CAST(l_quantity AS BIGINT)")).as("d_units"),
          sum(graft.functions.Deterministic.cents(col("l_extendedprice")))
            .as("rev_cents"))
        .withColumn("unit_price_cents", expr("rev_cents div d_units"))
        .withColumn("h_cents", expr("greatest(unit_price_cents div 5, 1L)"))
      byBrand.select(col("brand"), col("d_units"), col("unit_price_cents"),
          col("h_cents"),
          // EOQ = isqrt(2·D·S/H), S = 10000 cents
          expr(s"${SqlMacros.isqrt("2 * d_units * 10000 div h_cents")}").as("eoq_units"))
        .select(col("brand"), col("d_units"), col("unit_price_cents"),
          col("h_cents"), col("eoq_units"),
          expr("CASE WHEN eoq_units > 0 THEN d_units div eoq_units ELSE 0 END")
            .as("orders_per_year"))
        .orderBy(col("brand"))
    },
    Some(s"""
      WITH b AS (
        SELECT p_brand AS brand,
          CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS d_units,
          CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS rev_cents
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate < TIMESTAMP '1996-01-01'
        GROUP BY 1),
      p AS (
        SELECT brand, d_units, rev_cents // d_units AS unit_price_cents,
          greatest(rev_cents // d_units // 5, 1) AS h_cents
        FROM b),
      e AS (
        SELECT brand, d_units, unit_price_cents, h_cents,
          ${SqlMacros.isqrt("2 * d_units * 10000 // h_cents")} AS eoq_units
        FROM p)
      SELECT brand, d_units, unit_price_cents, h_cents,
        CAST(eoq_units AS BIGINT) AS eoq_units,
        CAST(CASE WHEN eoq_units > 0 THEN d_units // eoq_units ELSE 0 END
          AS BIGINT) AS orders_per_year
      FROM e ORDER BY brand
    """))

  // ---------------------------------------------------------------- q634

  /** Lead-time safety stock with an empirical stockout audit: the
    * textbook reorder point is L·μ_daily + z·√(L·σ²_daily) (L = 7
    * days, z = 1.645 for a 95% cycle service level, both literals;
    * exact isqrt) — and because the normal assumption is exactly what
    * fails on lumpy demand, the audit CHECKS it: the realized
    * fraction of 7-day demand windows exceeding the reorder point,
    * from the same data. A gap between 5% nominal and realized
    * stockout ppm is the lumpiness bill.
    *
    * Scale shape: one fact scan folds to (brand, day) then (brand,
    * week) cells — calendar-bounded grids; moments and the exceedance
    * count are keyed aggregates on them; readout is ≤ |brands| rows. */
  private val q634 = QueryDef(
    "q634_safety_stock_audit",
    (spark, dir) => {
      val byDay = demand(spark, dir)
        .groupBy(col("brand"), col("day")).agg(sum(col("q")).as("dq"))
      // daily moments over the FULL 365-day calendar (zero-demand days
      // count — demand variance on observed-only days understates)
      val mom = byDay.groupBy(col("brand"))
        .agg(sum(col("dq")).as("s"), sum(expr("dq * dq")).as("ss"))
        .select(col("brand"), col("s"),
          expr("s div 365").as("mu_daily"),
          expr("(365 * ss - s * s) div (365 * 365)").as("var_daily"))
      val rop = mom.select(col("brand"), col("s").as("annual_units"),
        col("mu_daily"), col("var_daily"),
        expr(s"7 * mu_daily + 1645 * ${SqlMacros.isqrt("7 * var_daily")} div 1000")
          .as("reorder_point"))
      val weekly = byDay
        .groupBy(col("brand"), expr("day div 7").as("wk"))
        .agg(sum(col("dq")).as("wq"))
        .groupBy(col("brand"))
        .agg(count(lit(1)).as("weeks_observed"), max(col("wq")).as("max_week"))
      val exceed = byDay
        .groupBy(col("brand"), expr("day div 7").as("wk"))
        .agg(sum(col("dq")).as("wq"))
        .join(rop.select(col("brand"), col("reorder_point")), Seq("brand"))
        .groupBy(col("brand"))
        .agg(sum(when(col("wq") > col("reorder_point"), 1L).otherwise(0L))
          .as("stockout_weeks"))
      rop.join(weekly, Seq("brand")).join(exceed, Seq("brand"))
        .select(col("brand"), col("annual_units"), col("mu_daily"),
          col("var_daily"), col("reorder_point"), col("weeks_observed"),
          col("stockout_weeks"),
          // 52 weeks of the year exist; unobserved weeks had zero demand
          // and cannot stock out — audit over 52
          expr("stockout_weeks * 1000000 div 52").as("stockout_ppm"))
        .orderBy(col("brand"))
    },
    Some(s"""
      WITH d AS (
        SELECT p_brand AS brand,
          CAST(datediff('day', DATE '1995-01-01', CAST(l_shipdate AS DATE))
            AS BIGINT) AS day,
          CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS dq
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate < TIMESTAMP '1996-01-01'
        GROUP BY 1, 2),
      mom AS (
        SELECT brand, CAST(sum(dq) AS BIGINT) AS s,
          CAST(sum(dq) // 365 AS BIGINT) AS mu_daily,
          CAST((365 * sum(dq * dq) - sum(dq) * sum(dq)) // (365 * 365)
            AS BIGINT) AS var_daily
        FROM d GROUP BY brand),
      rop AS (
        SELECT brand, s AS annual_units, mu_daily, var_daily,
          CAST(7 * mu_daily + 1645 * ${SqlMacros.isqrt("7 * var_daily")} // 1000
            AS BIGINT) AS reorder_point
        FROM mom),
      wk AS (
        SELECT brand, day // 7 AS wk, CAST(sum(dq) AS BIGINT) AS wq
        FROM d GROUP BY 1, 2),
      wa AS (
        SELECT brand, CAST(count(*) AS BIGINT) AS weeks_observed
        FROM wk GROUP BY brand),
      ex AS (
        SELECT wk.brand,
          CAST(sum(CASE WHEN wq > reorder_point THEN 1 ELSE 0 END) AS BIGINT)
            AS stockout_weeks
        FROM wk JOIN rop USING (brand) GROUP BY wk.brand)
      SELECT brand, annual_units, mu_daily, var_daily, reorder_point,
        weeks_observed, stockout_weeks,
        CAST(stockout_weeks * 1000000 // 52 AS BIGINT) AS stockout_ppm
      FROM rop JOIN wa USING (brand) JOIN ex USING (brand)
      ORDER BY brand
    """))

  // ---------------------------------------------------------------- q635

  /** Risk-pooling audit: serving each nation from its own stock
    * requires Σᵢ zσᵢ of safety stock; one pooled DC needs only
    * z·σ_pooled, and σ_pooled ≤ Σσᵢ with equality only under perfect
    * correlation — the √N consolidation dividend. Both sides computed
    * exactly from daily national order-demand series over the full
    * calendar (isqrt per nation, isqrt of the pooled series — in CENTI
    * units so integer flooring cannot fake a superadditive sd), plus the
    * savings share — the quantitative case for (or against, if demand
    * is correlated) centralizing inventory.
    *
    * Scale shape: orders fold to (nation, day) cells — 25 × 365; all
    * variances come from those cells and their day-summed pooled
    * series; readout is one row. */
  private val q635 = QueryDef(
    "q635_risk_pooling_audit",
    (spark, dir) => {
      val cells = Tables.orders(spark, dir)
        .filter(col("o_orderdate") >= "1995-01-01" && col("o_orderdate") < "1996-01-01")
        .join(broadcast(Tables.customer(spark, dir)
          .select(col("c_custkey"), col("c_nationkey"))),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").as("nat"),
          expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE '1995-01-01') AS BIGINT)")
            .as("day"))
        .agg(count(lit(1)).as("dq"))
      // sd in CENTI units: integer flooring at unit resolution can
      // invert subadditivity on sparse series (floor(sd_i) = 0 while
      // the pooled floor survives); centi keeps the error < 0.01/term
      val perNat = cells.groupBy(col("nat"))
        .agg(sum(col("dq")).as("s"), sum(expr("dq * dq")).as("ss"))
        .select(col("nat"),
          expr("(365 * ss - s * s) * 10000 div (365 * 365)").as("v"))
        .select(col("nat"), expr(s"${SqlMacros.isqrt("v")}").as("sd"))
      val sumSd = perNat.agg(sum(col("sd")).as("sum_sd"),
        count(lit(1)).as("n_nations"))
      val pooled = cells.groupBy(col("day")).agg(sum(col("dq")).as("dq"))
        .agg(sum(col("dq")).as("s"), sum(expr("dq * dq")).as("ss"))
        .select(expr("(365 * ss - s * s) * 10000 div (365 * 365)").as("v"))
        .select(expr(s"${SqlMacros.isqrt("v")}").as("pooled_sd"))
      sumSd.crossJoin(broadcast(pooled))
        .select(col("n_nations"), col("sum_sd").as("sum_sd_centi"),
          col("pooled_sd").as("pooled_sd_centi"),
          (col("sum_sd_centi") - col("pooled_sd_centi")).as("sd_saved_centi"),
          expr("(sum_sd_centi - pooled_sd_centi) * 1000000"
            + " div greatest(sum_sd_centi, 1)").as("pooling_benefit_ppm"))
    },
    Some(s"""
      WITH cells AS (
        SELECT c_nationkey AS nat,
          CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
            AS BIGINT) AS day,
          CAST(count(*) AS BIGINT) AS dq
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate < TIMESTAMP '1996-01-01'
        GROUP BY 1, 2),
      pn AS (
        SELECT nat, ${SqlMacros.isqrt("(365 * sum(dq * dq) - sum(dq) * sum(dq)) * 10000 // (365 * 365)")} AS sd
        FROM cells GROUP BY nat),
      ss AS (SELECT CAST(sum(sd) AS BIGINT) AS sum_sd,
             CAST(count(*) AS BIGINT) AS n_nations FROM pn),
      pool AS (
        SELECT ${SqlMacros.isqrt("(365 * sum(dq * dq) - sum(dq) * sum(dq)) * 10000 // (365 * 365)")}
          AS pooled_sd
        FROM (SELECT day, CAST(sum(dq) AS BIGINT) AS dq
              FROM cells GROUP BY day))
      SELECT n_nations, sum_sd AS sum_sd_centi,
        CAST(pooled_sd AS BIGINT) AS pooled_sd_centi,
        CAST(sum_sd - pooled_sd AS BIGINT) AS sd_saved_centi,
        CAST((sum_sd - pooled_sd) * 1000000 // greatest(sum_sd, 1) AS BIGINT)
          AS pooling_benefit_ppm
      FROM ss CROSS JOIN pool
    """))

  override def defs: Seq[QueryDef] = Seq(q633, q634, q635)
}
