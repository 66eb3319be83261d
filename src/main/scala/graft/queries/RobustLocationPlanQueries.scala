package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Round-7 batch 13: the classical robust estimators built from
  * PAIRWISE statistics on the calendar-bounded daily revenue series —
  * Hodges–Lehmann location, Siegel's repeated-median slope (the
  * 50%-breakdown upgrade over q186's Theil–Sen), and the
  * pairwise-difference Qn-style scale. Day-grid pair joins (≤ ~730²/2
  * rows, bounded by the calendar, never corpus rows) feeding
  * histogram-granular order statistics. Exact integers with total ORDER
  * BYs for the oracle gate.
  */
object RobustLocationPlanQueries extends QueryGroup {

  /** Daily revenue (exact cents) for 1995–1996, one row per order day. */
  private def daily(spark: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= "1995-01-01" && col("o_orderdate") < "1997-01-01")
      .select(expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE '1995-01-01') AS BIGINT)")
          .as("day"),
        graft.functions.Deterministic.cents(col("o_totalprice")).as("c"))
      .groupBy(col("day")).agg(sum(col("c")).as("rev"))

  // ---------------------------------------------------------------- q636

  /** Hodges–Lehmann location estimate: the median of all pairwise
    * Walsh averages (xᵢ+xⱼ)/2, i ≤ j — the estimator dual to the
    * Wilcoxon test: ~95% Gaussian efficiency with a 29% breakdown
    * point, where the plain mean breaks at one outlier and the median
    * pays ~36% efficiency. Reported against both, with the pseudo-
    * median/mean gap as the skewness tell.
    *
    * Scale shape: Walsh averages live on the day-grid pair join
    * (calendar-bounded); the median is bin-granular over their value
    * histogram (the q82 discipline); readout is one row. */
  private val q636 = QueryDef(
    "q636_hodges_lehmann_location",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = daily(spark, dir)
      val walsh = d.as("a").join(d.as("b"), col("a.day") <= col("b.day"))
        .select(expr("(a.rev + b.rev) div 2").as("w"))
      val hist = walsh.groupBy(col("w")).agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(Window.orderBy(col("w"))
          .rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("n", expr("sum(c) OVER ()"))
      val hl = hist.filter(expr("cum * 2 >= n")).agg(min(col("w")).as("hl"))
      val mm = d.agg(expr("sum(rev) div count(1)").as("mean_rev"),
        count(lit(1)).as("n_days"))
      val medHist = d.groupBy(col("rev")).agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(Window.orderBy(col("rev"))
          .rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("n", expr("sum(c) OVER ()"))
        .filter(expr("cum * 2 >= n")).agg(min(col("rev")).as("median_rev"))
      hl.crossJoin(broadcast(mm)).crossJoin(broadcast(medHist))
        .select(col("n_days"), col("hl").as("hodges_lehmann_cents"),
          col("mean_rev").as("mean_cents"), col("median_rev").as("median_cents"),
          (col("hl") - col("median_rev")).as("hl_minus_median_cents"),
          (col("mean_rev") - col("hl")).as("mean_minus_hl_cents"))
    },
    Some("""
      WITH d AS (
        SELECT CAST(datediff('day', DATE '1995-01-01',
            CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
          CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
            AS rev
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY 1),
      walsh AS (
        SELECT (a.rev + b.rev) // 2 AS w
        FROM d a JOIN d b ON a.day <= b.day),
      h AS (
        SELECT w, sum(c) OVER (ORDER BY w ROWS UNBOUNDED PRECEDING) AS cum,
          sum(c) OVER () AS n
        FROM (SELECT w, CAST(count(*) AS BIGINT) AS c FROM walsh GROUP BY w)),
      hl AS (SELECT CAST(min(w) AS BIGINT) AS hl FROM h WHERE cum * 2 >= n),
      mm AS (SELECT CAST(sum(rev) // count(*) AS BIGINT) AS mean_rev,
             CAST(count(*) AS BIGINT) AS n_days FROM d),
      mh AS (
        SELECT CAST(min(rev) AS BIGINT) AS median_rev
        FROM (SELECT rev, sum(c) OVER (ORDER BY rev ROWS UNBOUNDED PRECEDING)
                AS cum, sum(c) OVER () AS n
              FROM (SELECT rev, CAST(count(*) AS BIGINT) AS c
                    FROM d GROUP BY rev))
        WHERE cum * 2 >= n)
      SELECT n_days, hl AS hodges_lehmann_cents, mean_rev AS mean_cents,
        median_rev AS median_cents,
        CAST(hl - median_rev AS BIGINT) AS hl_minus_median_cents,
        CAST(mean_rev - hl AS BIGINT) AS mean_minus_hl_cents
      FROM hl CROSS JOIN mm CROSS JOIN mh
    """))

  // ---------------------------------------------------------------- q637

  /** Siegel's repeated-median slope: slope = med_i(med_j((yⱼ−yᵢ)/(xⱼ−xᵢ)))
    * — the nested median lifts Theil–Sen's 29% breakdown to 50%, the
    * strongest possible, because a bad day corrupts only its OWN inner
    * median. Inner medians rank per-day over that day's ≤ n−1 slopes
    * (day-keyed partitions, bounded by the calendar); the outer median
    * is bin-granular over ≤ n inner values. Slopes in exact
    * micro-cents/day; ties inside a day break by the paired day id, as
    * documented in both engines.
    *
    * Scale shape: one calendar-bounded pair join; per-day windows over
    * ≤ 730 rows each; two bounded histograms. */
  private val q637 = QueryDef(
    "q637_siegel_repeated_median",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = daily(spark, dir)
      val slopes = d.as("a").join(d.as("b"), col("a.day") =!= col("b.day"))
        .select(col("a.day").as("day"),
          expr("(b.rev - a.rev) * 1000000 div (b.day - a.day)").as("s"))
      val byDay = Window.partitionBy(col("day")).orderBy(col("s"))
      val inner = slopes
        .withColumn("rk", row_number().over(byDay))
        .withColumn("m", count(lit(1)).over(Window.partitionBy(col("day"))))
        .filter(expr("rk * 2 = m OR rk * 2 = m + 1"))
        .groupBy(col("day")).agg(min(col("s")).as("med_s"))
      val hist = inner.groupBy(col("med_s")).agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(Window.orderBy(col("med_s"))
          .rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("n", expr("sum(c) OVER ()"))
      val outer = hist.filter(expr("cum * 2 >= n"))
        .agg(min(col("med_s")).as("siegel_slope_micro"))
      val tsHist = d.as("a").join(d.as("b"), col("a.day") < col("b.day"))
        .select(expr("(b.rev - a.rev) * 1000000 div (b.day - a.day)").as("s"))
        .groupBy(col("s")).agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(Window.orderBy(col("s"))
          .rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("n", expr("sum(c) OVER ()"))
        .filter(expr("cum * 2 >= n"))
        .agg(min(col("s")).as("theil_sen_slope_micro"))
      outer.crossJoin(broadcast(tsHist))
        .crossJoin(broadcast(inner.agg(count(lit(1)).as("n_days"))))
        .select(col("n_days"), col("siegel_slope_micro"),
          col("theil_sen_slope_micro"),
          abs(col("siegel_slope_micro") - col("theil_sen_slope_micro"))
            .as("abs_gap_micro"))
    },
    Some("""
      WITH d AS (
        SELECT CAST(datediff('day', DATE '1995-01-01',
            CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
          CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
            AS rev
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY 1),
      slopes AS (
        SELECT a.day, (b.rev - a.rev) * 1000000 // (b.day - a.day) AS s
        FROM d a JOIN d b ON a.day <> b.day),
      inner_ AS (
        SELECT day, CAST(min(s) AS BIGINT) AS med_s
        FROM (SELECT day, s,
                row_number() OVER (PARTITION BY day ORDER BY s) AS rk,
                count(*) OVER (PARTITION BY day) AS m
              FROM slopes)
        WHERE rk * 2 = m OR rk * 2 = m + 1
        GROUP BY day),
      outer_ AS (
        SELECT CAST(min(med_s) AS BIGINT) AS siegel_slope_micro
        FROM (SELECT med_s,
                sum(c) OVER (ORDER BY med_s ROWS UNBOUNDED PRECEDING) AS cum,
                sum(c) OVER () AS n
              FROM (SELECT med_s, CAST(count(*) AS BIGINT) AS c
                    FROM inner_ GROUP BY med_s))
        WHERE cum * 2 >= n),
      ts AS (
        SELECT CAST(min(s) AS BIGINT) AS theil_sen_slope_micro
        FROM (SELECT s, sum(c) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING)
                AS cum, sum(c) OVER () AS n
              FROM (SELECT (b.rev - a.rev) * 1000000 // (b.day - a.day) AS s,
                      CAST(count(*) AS BIGINT) AS c
                    FROM d a JOIN d b ON a.day < b.day GROUP BY 1))
        WHERE cum * 2 >= n),
      nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM inner_)
      SELECT n_days, siegel_slope_micro, theil_sen_slope_micro,
        CAST(abs(siegel_slope_micro - theil_sen_slope_micro) AS BIGINT)
          AS abs_gap_micro
      FROM outer_ CROSS JOIN ts CROSS JOIN nd
    """))

  // ---------------------------------------------------------------- q638

  /** Pairwise-difference scale (the Qn family): the first quartile of
    * all |xᵢ − xⱼ|, i < j — a 50%-breakdown scale estimator that,
    * unlike MAD, needs NO location estimate and keeps 82% Gaussian
    * efficiency (MAD: 37%). Reported with its Gaussian-consistency
    * factor 2.2219 (milli literal) next to the classical sd — the
    * robust/classical gap is the outlier-contamination tell a data
    * monitor alarms on.
    *
    * Scale shape: one calendar-bounded pair join → |diff| histogram;
    * the quartile is bin-granular; sd from one-pass decimal moments.
    * Readout is one row. */
  private val q638 = QueryDef(
    "q638_pairwise_difference_scale",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = daily(spark, dir).persist()
      val hist = d.as("a").join(d.as("b"), col("a.day") < col("b.day"))
        .select(abs(col("b.rev") - col("a.rev")).as("ad"))
        .groupBy(col("ad")).agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(Window.orderBy(col("ad"))
          .rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("n", expr("sum(c) OVER ()"))
      val qn = hist.filter(expr("cum * 4 >= n")).agg(min(col("ad")).as("qn_raw"))
      val sd = d.agg(count(lit(1)).as("n_days"), sum(col("rev")).as("s"),
          sum(expr("CAST(rev AS DECIMAL(38,0)) * rev")).as("ss"))
        .select(col("n_days"),
          expr("""CAST((n_days * ss - CAST(s AS DECIMAL(38,0)) * s)
            DIV (CAST(n_days AS DECIMAL(38,0)) * n_days) AS BIGINT)""")
            .as("variance"))
      val isq =
        """(CASE
            WHEN (CAST(floor(sqrt(CAST(variance AS DOUBLE))) AS BIGINT) + 1)
               * (CAST(floor(sqrt(CAST(variance AS DOUBLE))) AS BIGINT) + 1)
               <= variance
              THEN CAST(floor(sqrt(CAST(variance AS DOUBLE))) AS BIGINT) + 1
            WHEN CAST(floor(sqrt(CAST(variance AS DOUBLE))) AS BIGINT)
               * CAST(floor(sqrt(CAST(variance AS DOUBLE))) AS BIGINT) > variance
              THEN CAST(floor(sqrt(CAST(variance AS DOUBLE))) AS BIGINT) - 1
            ELSE CAST(floor(sqrt(CAST(variance AS DOUBLE))) AS BIGINT) END)"""
      qn.crossJoin(broadcast(sd))
        .select(col("n_days"), col("qn_raw"),
          expr("qn_raw * 1000 div 2219").as("qn_scaled_cents"),
          expr(s"$isq").as("sd_cents"))
        .select(col("n_days"), col("qn_raw"), col("qn_scaled_cents"),
          col("sd_cents"),
          expr("qn_scaled_cents * 1000 div greatest(sd_cents, 1)")
            .as("robust_classical_ratio_milli"))
    },
    Some("""
      WITH d AS (
        SELECT CAST(datediff('day', DATE '1995-01-01',
            CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
          CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
            AS rev
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY 1),
      h AS (
        SELECT ad, sum(c) OVER (ORDER BY ad ROWS UNBOUNDED PRECEDING) AS cum,
          sum(c) OVER () AS n
        FROM (SELECT abs(b.rev - a.rev) AS ad, CAST(count(*) AS BIGINT) AS c
              FROM d a JOIN d b ON a.day < b.day GROUP BY 1)),
      qn AS (SELECT CAST(min(ad) AS BIGINT) AS qn_raw FROM h WHERE cum * 4 >= n),
      sd AS (
        SELECT CAST(count(*) AS BIGINT) AS n_days,
          CAST((count(*) * sum(CAST(rev AS HUGEINT) * rev)
            - CAST(sum(rev) AS HUGEINT) * sum(rev))
            // (CAST(count(*) AS HUGEINT) * count(*)) AS BIGINT) AS variance
        FROM d),
      s2 AS (
        SELECT n_days, variance,
          (CASE
            WHEN (CAST(floor(sqrt(CAST(variance AS DOUBLE))) AS BIGINT) + 1)
               * (CAST(floor(sqrt(CAST(variance AS DOUBLE))) AS BIGINT) + 1)
               <= variance
              THEN CAST(floor(sqrt(CAST(variance AS DOUBLE))) AS BIGINT) + 1
            WHEN CAST(floor(sqrt(CAST(variance AS DOUBLE))) AS BIGINT)
               * CAST(floor(sqrt(CAST(variance AS DOUBLE))) AS BIGINT) > variance
              THEN CAST(floor(sqrt(CAST(variance AS DOUBLE))) AS BIGINT) - 1
            ELSE CAST(floor(sqrt(CAST(variance AS DOUBLE))) AS BIGINT) END)
            AS sd_cents
        FROM sd)
      SELECT n_days, qn_raw,
        CAST(qn_raw * 1000 // 2219 AS BIGINT) AS qn_scaled_cents,
        sd_cents,
        CAST(qn_raw * 1000 // 2219 * 1000 // greatest(sd_cents, 1) AS BIGINT)
          AS robust_classical_ratio_milli
      FROM qn CROSS JOIN s2
    """))

  override def defs: Seq[QueryDef] = Seq(q636, q637, q638)
}
