package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Round-7 batch 5: nonparametric trend and change detection on the
  * daily revenue/volume series — Mann–Kendall trend test (the rank-based
  * companion to q186's Theil–Sen slope), Page–Hinkley change detection
  * (the sequential CUSUM variant q176 does not cover), and the
  * turning-point randomness test. All exact integers (±1-corrected
  * isqrt for the z denominators) over calendar-bounded series with total
  * ORDER BYs for the oracle gate.
  */
object TrendPlanQueries extends QueryGroup {

  /** Daily revenue series (exact cents), one row per order day. */
  private def dailyRevenue(spark: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= "1995-01-01" && col("o_orderdate") < "1997-01-01")
      .select(expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE '1995-01-01') AS BIGINT)")
          .as("day"),
        graft.functions.Deterministic.cents(col("o_totalprice")).as("c"))
      .groupBy(col("day")).agg(sum(col("c")).as("rev"))

  // ---------------------------------------------------------------- q611

  /** Mann–Kendall trend test on two years of daily revenue:
    * S = Σ_{i<j} sgn(xⱼ − xᵢ) over all day pairs, Var(S) =
    * [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)]/18 with the tie correction from
    * the revenue-value histogram, z = (S ∓ 1)/√Var with continuity
    * correction — the distribution-free "is there a monotone trend"
    * answer that complements q186's Theil–Sen slope ESTIMATE. Exact:
    * sgn sums are integers, Var·18 stays integral, and z_milli uses
    * the ±1-corrected isqrt.
    *
    * Scale shape: the pair join is day-grid × day-grid — bounded by
    * the calendar (≤ ~730 rows a side here, never corpus rows); ties
    * come from a value histogram; readout is one row. */
  private val q611 = QueryDef(
    "q611_mann_kendall_trend",
    (spark, dir) => {
      val d = dailyRevenue(spark, dir)
      val s = d.as("a").join(d.as("b"), col("a.day") < col("b.day"))
        .agg(sum(expr("CAST(sign(b.rev - a.rev) AS BIGINT)")).as("s_stat"))
      val n = d.agg(count(lit(1)).as("n"))
      val ties = d.groupBy(col("rev")).agg(count(lit(1)).as("t"))
        .agg(coalesce(sum(expr("t * (t - 1) * (2 * t + 5)")), lit(0L)).as("tie18"))
      s.crossJoin(broadcast(n)).crossJoin(broadcast(ties))
        .select(col("n").as("n_days"), col("s_stat"),
          expr("(n * (n - 1) * (2 * n + 5) - tie18) div 18").as("var_s"))
        .select(col("n_days"), col("s_stat"), col("var_s"),
          expr(s"""CASE WHEN s_stat > 0 THEN (s_stat - 1) * 1000 div ${SqlMacros.isqrt("var_s")}
                   WHEN s_stat < 0 THEN (s_stat + 1) * 1000 div ${SqlMacros.isqrt("var_s")}
                   ELSE 0 END""").as("z_milli"))
        .select(col("n_days"), col("s_stat"), col("var_s"), col("z_milli"),
          when(col("z_milli") > 1960L, "increasing")
            .when(col("z_milli") < -1960L, "decreasing")
            .otherwise("no_trend").as("verdict"))
    },
    Some(s"""
      WITH d AS (
        SELECT CAST(datediff('day', DATE '1995-01-01',
            CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
          CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
            AS rev
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY 1),
      s AS (
        SELECT CAST(sum(CAST(sign(b.rev - a.rev) AS BIGINT)) AS BIGINT) AS s_stat
        FROM d a JOIN d b ON a.day < b.day),
      n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
      ties AS (
        SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tie18
        FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM d GROUP BY rev)),
      v AS (
        SELECT n AS n_days, s_stat,
          CAST((n * (n - 1) * (2 * n + 5) - tie18) // 18 AS BIGINT) AS var_s
        FROM s CROSS JOIN n CROSS JOIN ties),
      z AS (
        SELECT n_days, s_stat, var_s,
          CAST(CASE WHEN s_stat > 0 THEN (s_stat - 1) * 1000 // ${SqlMacros.isqrt("var_s")}
               WHEN s_stat < 0 THEN (s_stat + 1) * 1000 // ${SqlMacros.isqrt("var_s")}
               ELSE 0 END AS BIGINT) AS z_milli
        FROM v)
      SELECT n_days, s_stat, var_s, z_milli,
        CASE WHEN z_milli > 1960 THEN 'increasing'
             WHEN z_milli < -1960 THEN 'decreasing'
             ELSE 'no_trend' END AS verdict
      FROM z
    """))

  // ---------------------------------------------------------------- q612

  /** Page–Hinkley change detection on daily order volume: with a
    * reference mean μ from the first 90 days, the statistic
    * PH(t) = Σ_{s≤t}(x_s − μ − δ) minus its running minimum alarms
    * when it exceeds λ — the sequential test that fires on a
    * SUSTAINED upward shift where q176's CUSUM-by-eye and threshold
    * alerts fire on single spikes. Swept over (δ, λ) ∈
    * {(μ/20, 5μ), (μ/20, 10μ), (μ/10, 5μ), (μ/10, 10μ)}; reports first
    * alarm day and the max excursion per cell.
    *
    * Scale shape: orders fold to one row per day; the reference mean
    * is a one-row broadcast; the cumulative and running-min windows
    * run over the calendar-bounded day series per grid cell (the q130
    * class); readout is 4 rows. */
  private val q612 = QueryDef(
    "q612_page_hinkley_drift",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val spark0 = spark
      import spark0.implicits._
      val grid = Seq((20L, 5L), (20L, 10L), (10L, 5L), (10L, 10L))
        .toDF("delta_div", "lambda_mult")
      val byDay = Tables.orders(spark, dir)
        .filter(col("o_orderdate") >= "1995-01-01" && col("o_orderdate") < "1997-01-01")
        .select(expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE '1995-01-01') AS BIGINT)")
          .as("day"))
        .groupBy(col("day")).agg(count(lit(1)).as("x"))
      val ref = byDay.filter(col("day") < 90L)
        .agg(expr("sum(x) div count(1)").as("mu"))
      val wP = Window.partitionBy(col("delta_div"), col("lambda_mult"))
        .orderBy(col("day")).rowsBetween(Window.unboundedPreceding, 0)
      val ph = byDay.crossJoin(broadcast(grid)).crossJoin(broadcast(ref))
        .withColumn("ph", sum(expr("x - mu - mu div delta_div")).over(wP))
        .withColumn("exc", col("ph") - least(min(col("ph")).over(wP), lit(0L)))
        .withColumn("alarm", col("exc") > expr("mu * lambda_mult"))
      ph.groupBy(col("delta_div"), col("lambda_mult"))
        .agg(max(col("mu")).as("mu"),
          min(when(col("alarm"), col("day"))).as("first_alarm_day"),
          max(col("exc")).as("max_excursion"))
        .select(col("delta_div"), col("lambda_mult"), col("mu"),
          coalesce(col("first_alarm_day"), lit(-1L)).as("first_alarm_day"),
          col("max_excursion"))
        .orderBy(col("delta_div"), col("lambda_mult"))
    },
    Some("""
      WITH grid(delta_div, lambda_mult) AS (VALUES
        (CAST(20 AS BIGINT), CAST(5 AS BIGINT)), (20, 10), (10, 5), (10, 10)),
      byday AS (
        SELECT CAST(datediff('day', DATE '1995-01-01',
            CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
          CAST(count(*) AS BIGINT) AS x
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY 1),
      ref AS (SELECT CAST(sum(x) // count(*) AS BIGINT) AS mu
              FROM byday WHERE day < 90),
      ph AS (
        SELECT delta_div, lambda_mult, day, mu,
          sum(x - mu - mu // delta_div) OVER
            (PARTITION BY delta_div, lambda_mult ORDER BY day
             ROWS UNBOUNDED PRECEDING) AS p
        FROM byday CROSS JOIN grid CROSS JOIN ref),
      exc AS (
        SELECT delta_div, lambda_mult, day, mu,
          p - least(min(p) OVER (PARTITION BY delta_div, lambda_mult
            ORDER BY day ROWS UNBOUNDED PRECEDING), 0) AS exc
        FROM ph)
      SELECT delta_div, lambda_mult, CAST(max(mu) AS BIGINT) AS mu,
        CAST(coalesce(min(CASE WHEN exc > mu * lambda_mult THEN day END), -1)
          AS BIGINT) AS first_alarm_day,
        CAST(max(exc) AS BIGINT) AS max_excursion
      FROM exc GROUP BY delta_div, lambda_mult
      ORDER BY delta_div, lambda_mult
    """))

  // ---------------------------------------------------------------- q613

  /** Turning-point randomness test on daily revenue: a day is a
    * turning point when it is a strict local max or min of the
    * 3-day neighborhood; under exchangeability E[T] = 2(n−2)/3 and
    * Var(T) = (16n − 29)/90, so z = (T − E)/√Var (milli, exact isqrt
    * on 90·-scaled terms) flags series that are too smooth (trend,
    * strong autocorrelation → few turns) or too oscillatory
    * (overdifferencing, alternating loads → many turns). The IID
    * sanity check run before any forecasting model is trusted.
    *
    * Scale shape: orders fold to the day series; lag/lead windows run
    * over the calendar-bounded series (the q130 class); readout is one
    * row. */
  private val q613 = QueryDef(
    "q613_turning_point_test",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy(col("day"))
      val d = dailyRevenue(spark, dir)
        .withColumn("prev", lag(col("rev"), 1).over(w))
        .withColumn("next", lead(col("rev"), 1).over(w))
        .filter(col("prev").isNotNull && col("next").isNotNull)
        .select(when((col("rev") > col("prev") && col("rev") > col("next"))
            || (col("rev") < col("prev") && col("rev") < col("next")), 1L)
          .otherwise(0L).as("tp"))
      d.agg(count(lit(1)).as("n_interior"), sum(col("tp")).as("n_turning"))
        .select(col("n_interior"), col("n_turning"),
          // n = interior + 2 endpoints; E·3 = 2(n−2) = 2·n_interior
          expr("2 * n_interior div 3").as("expected_turning"),
          expr(s"""(3 * n_turning - 2 * n_interior) * 1000
                   div ${SqlMacros.isqrt("(16 * (n_interior + 2) - 29) div 10")}""")
            .as("z_milli"))
        .select(col("n_interior"), col("n_turning"), col("expected_turning"),
          col("z_milli"),
          when(abs(col("z_milli")) > 1960L, "non_random")
            .otherwise("consistent_with_random").as("verdict"))
    },
    Some(s"""
      WITH d AS (
        SELECT CAST(datediff('day', DATE '1995-01-01',
            CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
          CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
            AS rev
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY 1),
      t AS (
        SELECT CASE WHEN (rev > prev AND rev > next)
                      OR (rev < prev AND rev < next) THEN 1 ELSE 0 END AS tp
        FROM (SELECT rev,
                lag(rev, 1) OVER (ORDER BY day) AS prev,
                lead(rev, 1) OVER (ORDER BY day) AS next
              FROM d)
        WHERE prev IS NOT NULL AND next IS NOT NULL),
      a AS (
        SELECT CAST(count(*) AS BIGINT) AS n_interior,
          CAST(sum(tp) AS BIGINT) AS n_turning
        FROM t)
      SELECT n_interior, n_turning,
        CAST(2 * n_interior // 3 AS BIGINT) AS expected_turning,
        CAST((3 * n_turning - 2 * n_interior) * 1000
          // ${SqlMacros.isqrt("(16 * (n_interior + 2) - 29) // 10")} AS BIGINT)
          AS z_milli,
        CASE WHEN abs((3 * n_turning - 2 * n_interior) * 1000
          // ${SqlMacros.isqrt("(16 * (n_interior + 2) - 29) // 10")}) > 1960
          THEN 'non_random' ELSE 'consistent_with_random' END AS verdict
      FROM a
    """))

  // ---------------------------------------------------------------- q692

  /** Top-k rank-churn series: the 1995 monthly top-10 brands by
    * revenue, and between every consecutive month pair, how many of the
    * top 10 survived, entered, and what the deepest surviving rank move
    * was. q189's RBO scores ONE ranking pair and q650's footrule one
    * probe; this is the TURNOVER TIME SERIES — a leaderboards/feeds
    * owner reads the churn column to size cache invalidation and to
    * tell seasonal reshuffles from a stable head.
    *
    * Scale shape: lineitem folds once to (month, brand) revenue cents
    * (keyed agg, map-side partials); the rank window partitions by
    * month over the ≤|brands| aggregate rows per month (dimension-
    * bounded partitions, never corpus rows); the month-to-month
    * overlap is a keyed self-join of two 120-row top-k lists. */
  private val q692 = QueryDef(
    "q692_topk_rank_churn",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      import graft.functions.Deterministic.cents
      val w = Window.partitionBy(col("m"))
        .orderBy(col("rev").desc, col("p_brand"))
      val topk = Tables.lineitem(spark, dir)
        .filter(col("l_shipdate") >= "1995-01-01" && col("l_shipdate") < "1996-01-01")
        .join(broadcast(Tables.part(spark, dir)
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(expr("CAST(month(l_shipdate) AS BIGINT)").as("m"), col("p_brand"))
        .agg(sum(cents(col("l_extendedprice"))).as("rev"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 10)
        .select(col("m"), col("p_brand"), col("rk"))
      val a = topk.select(col("m"), col("p_brand"), col("rk").as("rk_a"))
      val b = topk.select((col("m") - 1L).as("m"), col("p_brand"),
        col("rk").as("rk_b"))
      a.join(b, Seq("m", "p_brand"))
        .groupBy(col("m"))
        .agg(count(lit(1)).as("survivors"),
          max(abs(col("rk_a") - col("rk_b"))).as("max_rank_move"))
        .select(col("m").as("month"), lit(10L).as("k"), col("survivors"),
          (lit(10L) - col("survivors")).as("churned"),
          expr("(10 - survivors) * 1000000 div 10").as("churn_ppm"),
          col("max_rank_move"))
        .orderBy(col("month"))
    },
    Some("""
      WITH rev AS (
        SELECT CAST(month(l_shipdate) AS BIGINT) AS m, p.p_brand,
          sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS rev
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate < TIMESTAMP '1996-01-01'
        GROUP BY 1, 2),
      ranked AS (
        SELECT m, p_brand,
          row_number() OVER (PARTITION BY m ORDER BY rev DESC, p_brand)
            AS rk
        FROM rev),
      topk AS (SELECT m, p_brand, rk FROM ranked WHERE rk <= 10),
      paired AS (
        -- label each consecutive pair by its EARLIER month (a is the
        -- later list, so the pair key is a.m - 1), matching Spark
        SELECT a.m - 1 AS m, b.rk AS rk_a, a.rk AS rk_b
        FROM topk a JOIN topk b
          ON b.m = a.m - 1 AND b.p_brand = a.p_brand)
      SELECT m AS month, CAST(10 AS BIGINT) AS k,
        CAST(count(*) AS BIGINT) AS survivors,
        CAST(10 - count(*) AS BIGINT) AS churned,
        CAST((10 - count(*)) * 1000000 // 10 AS BIGINT) AS churn_ppm,
        CAST(max(abs(rk_a - rk_b)) AS BIGINT) AS max_rank_move
      FROM paired GROUP BY m ORDER BY month
    """))

  override def defs: Seq[QueryDef] = Seq(q611, q612, q613, q692)
}
