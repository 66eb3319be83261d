package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Deterministic.{cents, epochS}

/** Round-4 user/customer behavior analytics: ordered event funnels,
  * histogram-quartile RFM segmentation, and revenue-concentration (Gini)
  * measurement. All arithmetic is exact-integer (or decimal(38,0) where
  * 64-bit products could wrap at the 100 TB design point), so the DuckDB
  * oracle reproduces every byte.
  */
object BehaviorQueries extends QueryGroup {

  /** The strictly-ordered view → click → purchase funnel as one row:
    * `([window_s,] n_view, n_click, n_purchase, click_conv_ppm,
    * purchase_conv_ppm)`. A user counts for a stage only if the stage's
    * event happens AFTER their first event of the previous stage; with
    * a `window` (seconds), also no later than that event + window.
    * Three conditional-min aggregations keyed on user_id, each stage
    * joined to the (user, first_ts) table of the previous one on the
    * same key; the stage counts are one-row aggregates combined by
    * broadcast (never a driver collect). q115 runs it unbounded, q249
    * once per conversion window. */
  private def funnel(spark: SparkSession, dir: String, window: Option[Long]): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), epochS(col("ts")).as("ts_s"))
    val v = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts_s")).as("t1"))
    def after(t: String): Column =
      window.foldLeft(col("ts_s") > col(t))((c, w) => c && col("ts_s") <= col(t) + w)
    val c = e.filter(col("event_type") === "click").join(v, Seq("user_id"))
      .filter(after("t1"))
      .groupBy(col("user_id")).agg(min(col("ts_s")).as("t2"))
    val p = e.filter(col("event_type") === "purchase").join(c, Seq("user_id"))
      .filter(after("t2"))
      .groupBy(col("user_id")).agg(min(col("ts_s")).as("t3"))
    v.agg(count(lit(1)).as("n_view"))
      .crossJoin(broadcast(c.agg(count(lit(1)).as("n_click"))))
      .crossJoin(broadcast(p.agg(count(lit(1)).as("n_purchase"))))
      .select(window.map(w => lit(w).as("window_s")).toSeq ++ Seq(
        col("n_view"), col("n_click"), col("n_purchase"),
        expr("CASE WHEN n_view = 0 THEN NULL ELSE n_click * 1000000L div n_view END")
          .as("click_conv_ppm"),
        expr("CASE WHEN n_click = 0 THEN NULL ELSE n_purchase * 1000000L div n_click END")
          .as("purchase_conv_ppm")): _*)
  }

  /** Strictly-ordered conversion funnel view → click → purchase: a user
    * counts for a stage only if the stage's event happens AFTER their
    * first event of the previous stage. Timestamps compare at second
    * resolution (epoch seconds) so nanosecond-vs-microsecond reader
    * truncation can't flip a comparison between engines.
    *
    * Scale shape: [[funnel]] with no window. Each stage is one
    * pushed-down event_type scan + one keyed shuffle, and stages 2/3
    * join against the (user, first_ts) table from the previous stage —
    * co-partitioned on the same key, so the exchanges reuse
    * partitioning. */
  private val q115 = QueryDef(
    "q115_event_funnel",
    (spark, dir) => funnel(spark, dir, None),
    Some("""
      WITH e AS (
        SELECT user_id, event_type, CAST(epoch_ms(ts) // 1000 AS BIGINT) AS ts_s
        FROM events),
      v AS (SELECT user_id, min(ts_s) AS t1 FROM e WHERE event_type = 'view' GROUP BY user_id),
      c AS (SELECT e.user_id, min(e.ts_s) AS t2 FROM e JOIN v USING (user_id)
            WHERE e.event_type = 'click' AND e.ts_s > v.t1 GROUP BY e.user_id),
      p AS (SELECT e.user_id, min(e.ts_s) AS t3 FROM e JOIN c USING (user_id)
            WHERE e.event_type = 'purchase' AND e.ts_s > c.t2 GROUP BY e.user_id)
      SELECT nv.n_view, nc.n_click, np.n_purchase,
        CASE WHEN nv.n_view = 0 THEN NULL ELSE nc.n_click * 1000000 // nv.n_view END AS click_conv_ppm,
        CASE WHEN nc.n_click = 0 THEN NULL ELSE np.n_purchase * 1000000 // nc.n_click END AS purchase_conv_ppm
      FROM (SELECT count(*) AS n_view FROM v) nv,
           (SELECT count(*) AS n_click FROM c) nc,
           (SELECT count(*) AS n_purchase FROM p) np
    """))

  /** Histogram-quartile scoring of one RFM dimension: quartile =
    * (4·cum + n − 1) DIV n over the dimension's value histogram (the q82
    * bin-granularity pattern — the cumulative window runs over BINS,
    * never customers, so there is no global sort and no per-row window
    * at any scale). */
  private def quartileMap(cust: DataFrame, dim: String): DataFrame = {
    val hist = cust.groupBy(col(dim)).agg(count(lit(1)).as("c"))
    val w = Window.orderBy(col(dim)).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // r14: the customer total is Σc over the SAME bin histogram, read
    // with a full-frame window (`sum(c) OVER ()`, the Backbone
    // threshold pattern) — the separate count aggregate and its three
    // broadcast-exchange jobs disappear; value identical by definition.
    hist.select(col(dim), sum(col("c")).over(w).as("cum"),
        expr("sum(c) OVER ()").as("n"))
      .select(col(dim), expr("CAST((4 * cum + n - 1) DIV n AS BIGINT)").as(s"${dim}_q"))
  }

  /** RFM customer segmentation: recency (days since last order, vs the
    * corpus max day), frequency (order count), monetary (lifetime revenue
    * in exact cents, bucketed to $100 units so the value histogram stays
    * value-range-bounded rather than customer-count-bounded). Each
    * dimension gets an exact equal-frequency quartile via the bin
    * histogram; output is customer counts per (r,f,m) segment — at most
    * 64 rows.
    *
    * Scale shape: one orders scan → per-customer aggregate; three
    * bounded histograms (days / order-count / $100 buckets) each get a
    * bin-level cumulative window and broadcast back — no ntile over the
    * customer table, no global sort. */
  private val q116 = QueryDef(
    "q116_rfm_segmentation",
    (spark, dir) => {
      val cust0 = Tables.orders(spark, dir)
        .groupBy(col("o_custkey")).agg(
          max(datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date")))
            .as("last_day"),
          count(lit(1)).as("f_orders"),
          sum(cents(col("o_totalprice"))).as("mon_cents"))
      val maxd = cust0.agg(max(col("last_day")).as("maxd"))
      val cust = cust0.crossJoin(broadcast(maxd))
        .select(col("o_custkey"),
          (col("maxd") - col("last_day")).cast("long").as("r_days"),
          col("f_orders"),
          expr("mon_cents div 10000").as("m_hund"))
      cust
        .join(broadcast(quartileMap(cust, "r_days")), Seq("r_days"))
        .join(broadcast(quartileMap(cust, "f_orders")), Seq("f_orders"))
        .join(broadcast(quartileMap(cust, "m_hund")), Seq("m_hund"))
        .select(col("r_days_q").as("r_score"), col("f_orders_q").as("f_score"),
          col("m_hund_q").as("m_score"))
        .groupBy(col("r_score"), col("f_score"), col("m_score"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("r_score"), col("f_score"), col("m_score"))
    },
    Some("""
      WITH c0 AS (
        SELECT o_custkey,
          max(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))) AS last_day,
          count(*) AS f_orders,
          sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS mon_cents
        FROM orders GROUP BY o_custkey),
      mx AS (SELECT max(last_day) AS maxd FROM c0),
      cust AS (
        SELECT o_custkey, CAST(maxd - last_day AS BIGINT) AS r_days, f_orders,
          mon_cents // 10000 AS m_hund
        FROM c0 CROSS JOIN mx),
      n AS (SELECT count(*) AS n FROM cust),
      rh AS (SELECT r_days, count(*) AS c FROM cust GROUP BY r_days),
      rq AS (SELECT r_days, CAST((4 * sum(c) OVER (ORDER BY r_days) + n - 1) // n AS BIGINT) AS r_score
             FROM rh CROSS JOIN n),
      fh AS (SELECT f_orders, count(*) AS c FROM cust GROUP BY f_orders),
      fq AS (SELECT f_orders, CAST((4 * sum(c) OVER (ORDER BY f_orders) + n - 1) // n AS BIGINT) AS f_score
             FROM fh CROSS JOIN n),
      mh AS (SELECT m_hund, count(*) AS c FROM cust GROUP BY m_hund),
      mq AS (SELECT m_hund, CAST((4 * sum(c) OVER (ORDER BY m_hund) + n - 1) // n AS BIGINT) AS m_score
             FROM mh CROSS JOIN n)
      SELECT r_score, f_score, m_score, count(*) AS n_customers
      FROM cust
      JOIN rq USING (r_days) JOIN fq USING (f_orders) JOIN mq USING (m_hund)
      GROUP BY r_score, f_score, m_score
      ORDER BY r_score, f_score, m_score
    """))

  /** Exact Gini coefficient of customer lifetime revenue (whole-dollar
    * quantization), in parts-per-million: with per-customer revenues
    * x_1 ≤ … ≤ x_n,  G = (2·Σ i·x_i − (n+1)·Σx) / (n·Σx). The
    * rank-weighted sum is computed at VALUE-HISTOGRAM granularity — a
    * bucket of c equal values v starting after cum_prev smaller customers
    * contributes v·(cum_prev·c + c(c+1)/2) — so the cumulative window runs
    * over the bounded dollar histogram, never over customers, and all
    * sums are decimal(38,0) (the 64-bit products 2·Σi·x_i wrap silently
    * past ~10^18 — the ADVICE-r3 overflow class, avoided by construction).
    */
  private val q117 = QueryDef(
    "q117_gini_concentration",
    (spark, dir) => {
      val rev = Tables.orders(spark, dir)
        .groupBy(col("o_custkey"))
        .agg(sum(cents(col("o_totalprice"))).as("rc"))
        .select(expr("rc div 100").as("v"))
      val hist = rev.groupBy(col("v")).agg(count(lit(1)).as("c"))
      val w = Window.orderBy(col("v")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist.select(col("v"), col("c"),
        (sum(col("c")).over(w) - col("c")).as("cum_prev"))
      val agg = cum
        .select(
          expr("CAST(v AS DECIMAL(38,0)) * (CAST(cum_prev AS DECIMAL(38,0)) * c + (c * (c + 1)) DIV 2)")
            .as("s1"),
          expr("CAST(v AS DECIMAL(38,0)) * c").as("s0"),
          col("c"))
        .agg(sum(col("s1")).as("rank_weighted"),
          sum(col("s0")).as("total_dollars"),
          sum(col("c")).as("n_customers"))
      agg.select(
        col("n_customers"),
        col("total_dollars").cast("long").as("total_dollars"),
        expr("""CAST((2 * rank_weighted - (n_customers + 1) * total_dollars) * 1000000
                DIV (CAST(n_customers AS DECIMAL(38,0)) * total_dollars) AS BIGINT)""")
          .as("gini_ppm"))
    },
    Some("""
      WITH rev AS (
        SELECT sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) // 100 AS v
        FROM orders GROUP BY o_custkey),
      h AS (SELECT v, count(*) AS c FROM rev GROUP BY v),
      cu AS (SELECT v, c, sum(c) OVER (ORDER BY v) - c AS cum_prev FROM h),
      p AS (SELECT
          CAST(v AS HUGEINT) * (CAST(cum_prev AS HUGEINT) * c + (c * (c + 1)) // 2) AS s1,
          CAST(v AS HUGEINT) * c AS s0, c
        FROM cu),
      a AS (SELECT sum(s1) AS rank_weighted, sum(s0) AS total_dollars,
              sum(c) AS n_customers FROM p)
      SELECT CAST(n_customers AS BIGINT) AS n_customers,
        CAST(total_dollars AS BIGINT) AS total_dollars,
        CAST((2 * rank_weighted - (n_customers + 1) * total_dollars) * 1000000
          // (CAST(n_customers AS HUGEINT) * total_dollars) AS BIGINT) AS gini_ppm
      FROM a
    """))

  /** Time-weighted average (TWAP) of event value per user: each
    * observation holds until the next one, so its weight is the gap to
    * the successor (the last event has no holding period). Exact
    * integers end-to-end: cents × gap-seconds summed in decimal(38,0),
    * one integral division at the end.
    *
    * Scale shape: the lead() window is partitioned by user and ordered
    * by (ts, event_id) — per-user state only, no global sort; the final
    * aggregate is one map-side-combined pass. */
  private val q132 = QueryDef(
    "q132_time_weighted_avg",
    (spark, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_s"), col("event_id"))
      Tables.events(spark, dir)
        .select(col("user_id"), col("event_id"), epochS(col("ts")).as("ts_s"),
          cents(col("value")).as("vc"))
        .select(col("user_id"), col("vc"),
          (lead(col("ts_s"), 1).over(w) - col("ts_s")).as("gap_s"))
        .filter(col("gap_s").isNotNull)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_holds"),
          sum(col("gap_s")).as("span_s"),
          sum(expr("CAST(vc AS DECIMAL(38,0)) * gap_s")).as("vw"))
        .select(col("user_id"), col("n_holds"), col("span_s"),
          expr("CAST(vw DIV span_s AS BIGINT)").as("twap_cents"))
        .orderBy(col("user_id"))
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_id, CAST(epoch_ms(ts) // 1000 AS BIGINT) AS ts_s,
          CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc
        FROM events),
      g AS (
        SELECT user_id, vc,
          lead(ts_s) OVER (PARTITION BY user_id ORDER BY ts_s, event_id) - ts_s AS gap_s
        FROM e)
      SELECT user_id, count(*) AS n_holds,
        CAST(sum(gap_s) AS BIGINT) AS span_s,
        CAST(sum(CAST(vc AS HUGEINT) * gap_s) // CAST(sum(gap_s) AS HUGEINT) AS BIGINT)
          AS twap_cents
      FROM g WHERE gap_s IS NOT NULL
      GROUP BY user_id ORDER BY user_id
    """))

  /** Conversion-latency quartiles: minutes from first view to first
    * (strictly ordered) purchase across converting users, as exact
    * bin-granular percentiles — the p-th percentile is the smallest
    * minute bucket whose cumulative count reaches ceil(p·n/100), so the
    * cumulative window runs over the bounded minute histogram, never
    * over users (q82's pattern applied to a latency distribution).
    *
    * Scale shape: q115's funnel joins (co-partitioned on user_id) down
    * to one row per converting user, collapsed to a minute histogram
    * before any window; output is one row. */
  private val q134 = QueryDef(
    "q134_conversion_latency",
    (spark, dir) => {
      val e = Tables.events(spark, dir)
        .select(col("user_id"), col("event_type"), epochS(col("ts")).as("ts_s"))
      val v = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts_s")).as("t1"))
      val c = e.filter(col("event_type") === "click").join(v, Seq("user_id"))
        .filter(col("ts_s") > col("t1"))
        .groupBy(col("user_id")).agg(min(col("ts_s")).as("t2"), min(col("t1")).as("t1m"))
      val p = e.filter(col("event_type") === "purchase").join(c, Seq("user_id"))
        .filter(col("ts_s") > col("t2"))
        .groupBy(col("user_id"))
        .agg(expr("(min(ts_s) - min(t1m)) div 60").as("lat_min"))
      val hist = p.groupBy(col("lat_min")).agg(count(lit(1)).as("c"))
      val w = Window.orderBy(col("lat_min"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist.select(col("lat_min"), sum(col("c")).over(w).as("cum"))
      val tot = hist.agg(sum(col("c")).as("n"))
      cum.crossJoin(broadcast(tot))
        .select(col("n"), col("lat_min"), col("cum"),
          expr("CAST((25 * n + 99) DIV 100 AS BIGINT)").as("k25"),
          expr("CAST((50 * n + 99) DIV 100 AS BIGINT)").as("k50"),
          expr("CAST((75 * n + 99) DIV 100 AS BIGINT)").as("k75"))
        .groupBy(col("n"))
        .agg(min(when(col("cum") >= col("k25"), col("lat_min"))).as("p25_min"),
          min(when(col("cum") >= col("k50"), col("lat_min"))).as("p50_min"),
          min(when(col("cum") >= col("k75"), col("lat_min"))).as("p75_min"))
        .select(col("n").as("n_converting"), col("p25_min"), col("p50_min"), col("p75_min"))
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_type, CAST(epoch_ms(ts) // 1000 AS BIGINT) AS ts_s
        FROM events),
      v AS (SELECT user_id, min(ts_s) AS t1 FROM e WHERE event_type = 'view' GROUP BY user_id),
      c AS (SELECT e.user_id, min(e.ts_s) AS t2, min(v.t1) AS t1m
            FROM e JOIN v USING (user_id)
            WHERE e.event_type = 'click' AND e.ts_s > v.t1 GROUP BY e.user_id),
      p AS (SELECT e.user_id,
              CAST((min(e.ts_s) - min(c.t1m)) // 60 AS BIGINT) AS lat_min
            FROM e JOIN c USING (user_id)
            WHERE e.event_type = 'purchase' AND e.ts_s > c.t2 GROUP BY e.user_id),
      h AS (SELECT lat_min, count(*) AS c FROM p GROUP BY lat_min),
      cum AS (SELECT lat_min, sum(c) OVER (ORDER BY lat_min) AS cum FROM h),
      tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM h)
      SELECT n AS n_converting,
        min(CASE WHEN cum >= (25 * n + 99) // 100 THEN lat_min END) AS p25_min,
        min(CASE WHEN cum >= (50 * n + 99) // 100 THEN lat_min END) AS p50_min,
        min(CASE WHEN cum >= (75 * n + 99) // 100 THEN lat_min END) AS p75_min
      FROM cum CROSS JOIN tot
      GROUP BY n
    """))

  /** Week-over-week revenue growth in signed ppm: weekly exact-cents
    * revenue and its relative change vs the previous observed week,
    * (rev − prev)·10^6 DIV prev. Both engines truncate integral
    * division toward zero — including for negative growth — so the
    * signed ppm hash-matches.
    *
    * Scale shape: the fact table collapses to one row per epoch-week
    * before the lag window, which therefore runs over the bounded
    * calendar, not over orders. */
  private val q140 = QueryDef(
    "q140_wow_growth",
    (spark, dir) => {
      val w = Window.orderBy(col("week"))
      Tables.orders(spark, dir)
        .select(
          expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') div 7 AS BIGINT)")
            .as("week"),
          cents(col("o_totalprice")).as("vc"))
        .groupBy(col("week")).agg(sum(col("vc")).as("rev_cents"))
        .select(col("week"), col("rev_cents"),
          lag(col("rev_cents"), 1).over(w).as("prev_cents"))
        .select(col("week"), col("rev_cents"), col("prev_cents"),
          expr("(rev_cents - prev_cents) * 1000000L div prev_cents").as("growth_ppm"))
        .orderBy(col("week"))
    },
    Some("""
      WITH o AS (
        SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) // 7
            AS BIGINT) AS week,
          CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS vc
        FROM orders),
      wk AS (SELECT week, sum(vc) AS rev_cents FROM o GROUP BY week),
      g AS (
        SELECT week, CAST(rev_cents AS BIGINT) AS rev_cents,
          CAST(lag(rev_cents) OVER (ORDER BY week) AS BIGINT) AS prev_cents
        FROM wk)
      SELECT week, rev_cents, prev_cents,
        (rev_cents - prev_cents) * 1000000 // prev_cents AS growth_ppm
      FROM g ORDER BY week
    """))

  /** Shipping-latency quartiles per order priority — q134's exact
    * bin-granular percentile, GROUPED: the cumulative window is
    * PARTITIONED by priority and runs over each group's bounded
    * day-latency histogram, so adding groups never widens any single
    * window. The SLA readout per service class.
    *
    * Scale shape: one fact-to-fact equi-join (lineitem ⋈ orders on the
    * order key), collapse to (priority, latency-day) bins, partitioned
    * cumulative window over bins, per-group totals broadcast back. */
  private val q142 = QueryDef(
    "q142_ship_latency_quartiles",
    (spark, dir) => {
      val hist = Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_shipdate"))
        .join(Tables.orders(spark, dir)
            .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority").as("pr"),
          datediff(col("l_shipdate").cast("date"), col("o_orderdate").cast("date"))
            .cast("long").as("d"))
        .groupBy(col("pr"), col("d")).agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("pr")).orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist.select(col("pr"), col("d"), sum(col("c")).over(w).as("cum"))
      val tot = hist.groupBy(col("pr")).agg(sum(col("c")).as("n"))
      cum.join(broadcast(tot), Seq("pr"))
        .groupBy(col("pr"), col("n"))
        .agg(
          min(when(expr("cum >= (25 * n + 99) DIV 100"), col("d"))).as("p25_days"),
          min(when(expr("cum >= (50 * n + 99) DIV 100"), col("d"))).as("p50_days"),
          min(when(expr("cum >= (75 * n + 99) DIV 100"), col("d"))).as("p75_days"))
        .select(col("pr").as("priority"), col("n").as("n_lines"),
          col("p25_days"), col("p50_days"), col("p75_days"))
        .orderBy(col("priority"))
    },
    Some("""
      WITH lat AS (
        SELECT o_orderpriority AS pr,
          CAST(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))
            AS BIGINT) AS d
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      h AS (SELECT pr, d, count(*) AS c FROM lat GROUP BY pr, d),
      cum AS (
        SELECT pr, d, sum(c) OVER (PARTITION BY pr ORDER BY d) AS cum FROM h),
      tot AS (SELECT pr, CAST(sum(c) AS BIGINT) AS n FROM h GROUP BY pr)
      SELECT pr AS priority, n AS n_lines,
        min(CASE WHEN cum >= (25 * n + 99) // 100 THEN d END) AS p25_days,
        min(CASE WHEN cum >= (50 * n + 99) // 100 THEN d END) AS p50_days,
        min(CASE WHEN cum >= (75 * n + 99) // 100 THEN d END) AS p75_days
      FROM cum JOIN tot USING (pr)
      GROUP BY pr, n
      ORDER BY priority
    """))

  /** Cohort LTV curve — q71's retention matrix upgraded from "is the
    * user still here" to "what has the cohort spent": per (cohort-day,
    * day-offset) purchase revenue in exact cents, its running cumulative
    * within the cohort, and cumulative LTV per cohort user. The curve a
    * growth model trains against.
    *
    * Scale shape: cohort assignment is one user-keyed min; revenue
    * collapses to (cohort, offset) cells before the cumulative window,
    * which is PARTITIONED by cohort over the bounded offset calendar;
    * cohort sizes broadcast back. Offsets with zero purchases emit no
    * row (the curve is defined at observed points). */
  private val q143 = QueryDef(
    "q143_cohort_ltv",
    (spark, dir) => {
      val ev = Tables.events(spark, dir)
        .select(col("user_id"), col("event_type"),
          expr("CAST(CAST(ts AS TIMESTAMP) AS LONG) div 86400").as("day"),
          cents(col("value")).as("vc"))
      val first = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
      val sizes = first.groupBy(col("cohort_day")).agg(count(lit(1)).as("n_users"))
      val cells = ev.filter(col("event_type") === "purchase")
        .join(first, Seq("user_id"))
        .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
        .agg(sum(col("vc")).as("rev_cents"))
      val w = Window.partitionBy(col("cohort_day")).orderBy(col("day_offset"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cells
        .select(col("cohort_day"), col("day_offset"), col("rev_cents"),
          sum(col("rev_cents")).over(w).as("cum_rev_cents"))
        .join(broadcast(sizes), Seq("cohort_day"))
        .select(col("cohort_day"), col("day_offset"), col("rev_cents"),
          col("cum_rev_cents"),
          expr("cum_rev_cents div n_users").as("ltv_per_user_cents"))
        .orderBy(col("cohort_day"), col("day_offset"))
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_type,
          CAST(epoch_ms(ts) // 1000 // 86400 AS BIGINT) AS day,
          CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc
        FROM events),
      f AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY user_id),
      sz AS (SELECT cohort_day, count(*) AS n_users FROM f GROUP BY cohort_day),
      cells AS (
        SELECT f.cohort_day, e.day - f.cohort_day AS day_offset,
          sum(e.vc) AS rev_cents
        FROM e JOIN f USING (user_id)
        WHERE e.event_type = 'purchase'
        GROUP BY 1, 2),
      cum AS (
        SELECT cohort_day, day_offset, CAST(rev_cents AS BIGINT) AS rev_cents,
          CAST(sum(rev_cents) OVER (PARTITION BY cohort_day ORDER BY day_offset)
            AS BIGINT) AS cum_rev_cents
        FROM cells)
      SELECT cohort_day, day_offset, rev_cents, cum_rev_cents,
        cum_rev_cents // n_users AS ltv_per_user_cents
      FROM cum JOIN sz USING (cohort_day)
      ORDER BY cohort_day, day_offset
    """))

  /** Daily cart abandonment: of the users who clicked on a given day,
    * how many never purchased that same day — count and rate in ppm.
    * The conversion-health monitor between q115's lifetime funnel and
    * q130's volume alarms.
    *
    * Scale shape: events collapse to per-(user, day) click/purchase
    * flags in one conditional aggregate (map-side combined), then one
    * day-keyed rollup — no window, no join. */
  private val q144 = QueryDef(
    "q144_cart_abandonment",
    (spark, dir) => {
      Tables.events(spark, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("user_id"), col("event_type"),
          expr("CAST(CAST(ts AS TIMESTAMP) AS LONG) div 86400").as("day"))
        .groupBy(col("user_id"), col("day"))
        .agg(max(when(col("event_type") === "click", 1L).otherwise(0L)).as("clicked"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("purchased"))
        .filter(col("clicked") === 1L)
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_clickers"),
          sum(lit(1L) - col("purchased")).as("n_abandoned"))
        .select(col("day"), col("n_clickers"), col("n_abandoned"),
          expr("n_abandoned * 1000000L div n_clickers").as("abandon_ppm"))
        .orderBy(col("day"))
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_type,
          CAST(epoch_ms(ts) // 1000 // 86400 AS BIGINT) AS day
        FROM events
        WHERE event_type IN ('click', 'purchase')),
      ud AS (
        SELECT user_id, day,
          max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS clicked,
          max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS purchased
        FROM e GROUP BY user_id, day),
      d AS (
        SELECT day, count(*) AS n_clickers,
          CAST(sum(1 - purchased) AS BIGINT) AS n_abandoned
        FROM ud WHERE clicked = 1 GROUP BY day)
      SELECT day, n_clickers, n_abandoned,
        n_abandoned * 1000000 // n_clickers AS abandon_ppm
      FROM d ORDER BY day
    """))

  /** First-order Markov transition matrix over per-user event streams:
    * P(next event type | current event type) in exact ppm, the
    * session-model companion to q87's literal path mining — this is the
    * aggregate a recommendation or anomaly model consumes directly.
    *
    * Scale shape: one keyed window (lag over user_id — the same
    * user-partitioned sort sessionization already pays, amortizable
    * across both), then the transition counts collapse to at most
    * |event vocabulary|² rows. The per-source totals that normalize the
    * probabilities are vocabulary-sized and broadcast. Timestamps
    * compare at epoch-second resolution with event_id tiebreak so the
    * ordering — and therefore every transition pair — is deterministic
    * across engines and partitionings. */
  private val q150 = QueryDef(
    "q150_markov_transitions",
    (spark, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_s"), col("event_id"))
      val trans = Tables.events(spark, dir)
        .select(col("user_id"), col("event_id"), epochS(col("ts")).as("ts_s"),
          col("event_type"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"))
      val totals = trans.groupBy(col("prev_type")).agg(sum(col("n")).as("n_from"))
      trans.join(broadcast(totals), Seq("prev_type"))
        .select(col("prev_type"), col("next_type"), col("n"), col("n_from"),
          expr("CAST(CAST(n AS DECIMAL(38,0)) * 1000000 DIV n_from AS BIGINT)")
            .as("p_ppm"))
        .orderBy(col("prev_type"), col("next_type"))
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_id, event_type,
          CAST(epoch_ms(ts) // 1000 AS BIGINT) AS ts_s
        FROM events),
      t AS (
        SELECT lag(event_type) OVER
            (PARTITION BY user_id ORDER BY ts_s, event_id) AS prev_type,
          event_type AS next_type
        FROM e),
      m AS (
        SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
        FROM t WHERE prev_type IS NOT NULL GROUP BY 1, 2),
      tot AS (SELECT prev_type, CAST(sum(n) AS BIGINT) AS n_from FROM m GROUP BY 1)
      SELECT m.prev_type, m.next_type, m.n, tot.n_from,
        CAST(CAST(m.n AS HUGEINT) * 1000000 // tot.n_from AS BIGINT) AS p_ppm
      FROM m JOIN tot USING (prev_type)
      ORDER BY prev_type, next_type
    """))

  /** Day-of-week seasonality index: each weekday's average daily revenue
    * relative to the overall average daily revenue, in exact ppm
    * (1 000 000 = an average day). The multiplicative seasonal profile a
    * forecaster divides out before fitting trend (q141) — and the
    * complement of q140's week-over-week growth, which this index
    * de-noises. Day-of-week is computed from epoch-day arithmetic
    * ((day+4) mod 7, 0=Sunday) rather than engine date functions, whose
    * week-start conventions differ across engines.
    *
    * Scale shape: one scan → per-day revenue (calendar-sized), then a
    * 7-row aggregate; the single-row grand total joins back by broadcast
    * cross join (no driver action). Index arithmetic in decimal(38,0):
    * cents·days·10^6 can pass 2^63 at the 100 TB design point. */
  private val q151 = QueryDef(
    "q151_dow_seasonality",
    (spark, dir) => {
      val daily = Tables.orders(spark, dir)
        .select(
          expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') AS BIGINT)")
            .as("day"),
          cents(col("o_totalprice")).as("c"))
        .groupBy(col("day")).agg(sum(col("c")).as("rev"))
        .select(((col("day") + 4) % 7).as("dow"), col("rev"))
      val byDow = daily.groupBy(col("dow"))
        .agg(count(lit(1)).as("n_days"), sum(col("rev")).as("revenue_cents"))
      val tot = byDow.select(
        sum(col("n_days")).as("t_days"), sum(col("revenue_cents")).as("t_rev"))
      byDow.crossJoin(broadcast(tot))
        .select(col("dow"), col("n_days"), col("revenue_cents"),
          expr("""CAST(CAST(revenue_cents AS DECIMAL(38,0)) * t_days * 1000000
                  DIV (CAST(n_days AS DECIMAL(38,0)) * t_rev) AS BIGINT)""")
            .as("index_ppm"))
        .orderBy(col("dow"))
    },
    Some("""
      WITH daily AS (
        SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
            AS BIGINT) AS day,
          CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev
        FROM orders GROUP BY 1),
      bydow AS (
        SELECT (day + 4) % 7 AS dow, CAST(count(*) AS BIGINT) AS n_days,
          CAST(sum(rev) AS BIGINT) AS revenue_cents
        FROM daily GROUP BY 1),
      tot AS (SELECT CAST(sum(n_days) AS BIGINT) AS t_days,
        CAST(sum(revenue_cents) AS HUGEINT) AS t_rev FROM bydow)
      SELECT dow, n_days, revenue_cents,
        CAST(CAST(revenue_cents AS HUGEINT) * t_days * 1000000
          // (CAST(n_days AS HUGEINT) * t_rev) AS BIGINT) AS index_ppm
      FROM bydow CROSS JOIN tot
      ORDER BY dow
    """))

  /** Churn-overdue scoring: each user's CURRENT silence (time from
    * their last event to the corpus watermark) as a fraction of their
    * worst historical inter-event gap, in exact ppm — "overdue"
    * relative to the user's OWN cadence, not a global cutoff, so a
    * daily user alarms after days while a monthly user doesn't alarm
    * for months. ≥ 1 000 000 means the user has already been silent
    * longer than they ever were while active; the caller thresholds.
    * Requires ≥3 events (≥2 historical gaps) for a personal baseline.
    *
    * Scale shape: the same user-partitioned lag window q76 pays (one
    * keyed shuffle), collapsed to one row per user; the corpus
    * watermark is a one-row aggregate broadcast back by cross join —
    * no driver action. */
  private val q153 = QueryDef(
    "q153_churn_overdue",
    (spark, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_s"), col("event_id"))
      val perUser = Tables.events(spark, dir)
        .select(col("user_id"), col("event_id"), epochS(col("ts")).as("ts_s"))
        .withColumn("gap", col("ts_s") - lag(col("ts_s"), 1).over(w))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"), max(col("ts_s")).as("last_ts_s"),
          max(col("gap")).as("max_gap_s"))
        .filter(col("n_events") >= 3)
      val wm = perUser.agg(max(col("last_ts_s")).as("watermark_s"))
      perUser.crossJoin(broadcast(wm))
        .withColumn("silence_s", col("watermark_s") - col("last_ts_s"))
        .select(col("user_id"), col("n_events"), col("silence_s"), col("max_gap_s"),
          expr("CAST(CAST(silence_s AS DECIMAL(38,0)) * 1000000 DIV max_gap_s AS BIGINT)")
            .as("overdue_ppm"))
        .orderBy(col("user_id"))
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_id, CAST(epoch_ms(ts) // 1000 AS BIGINT) AS ts_s
        FROM events),
      g AS (
        SELECT user_id, ts_s,
          ts_s - lag(ts_s) OVER (PARTITION BY user_id ORDER BY ts_s, event_id) AS gap
        FROM e),
      u AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
          CAST(max(ts_s) AS BIGINT) AS last_ts_s,
          CAST(max(gap) AS BIGINT) AS max_gap_s
        FROM g GROUP BY user_id HAVING count(*) >= 3),
      wm AS (SELECT max(last_ts_s) AS watermark_s FROM u)
      SELECT user_id, n_events,
        CAST(watermark_s - last_ts_s AS BIGINT) AS silence_s, max_gap_s,
        CAST(CAST(watermark_s - last_ts_s AS HUGEINT) * 1000000 // max_gap_s
          AS BIGINT) AS overdue_ppm
      FROM u CROSS JOIN wm
      ORDER BY user_id
    """))

  /** Daily session KPIs: sessionize by 30-minute inactivity gaps
    * (q87's lag+cumulative-flag windows), then the web-analytics
    * headline numbers per day of session start — sessions, bounce rate
    * (single-event sessions, ppm), events per session (milli-events),
    * total and mean dwell seconds. Means are integer DIV ratios of
    * exact sums, so every cell reproduces bitwise.
    *
    * Scale shape: one user-partitioned window pass (the sessionization
    * shuffle q87/q76 already pay), one (user, session) aggregate, one
    * calendar-sized daily rollup. Nothing global, no broadcast needed. */
  private val q160 = QueryDef(
    "q160_session_kpis",
    (spark, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_s"), col("event_id"))
      val sessions = Tables.events(spark, dir)
        .select(col("user_id"), col("event_id"), epochS(col("ts")).as("ts_s"))
        .withColumn("prev_ts", lag(col("ts_s"), 1).over(w))
        .withColumn("new_s",
          when(col("prev_ts").isNull || col("ts_s") - col("prev_ts") > 1800, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("new_s")).over(w))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_ev"), min(col("ts_s")).as("t0"), max(col("ts_s")).as("t1"))
      sessions
        .select(expr("t0 div 86400").as("day"),
          col("n_ev"), (col("t1") - col("t0")).as("dwell"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(when(col("n_ev") === 1, 1L).otherwise(0L)).as("n_bounce"),
          sum(col("n_ev")).as("n_events"), sum(col("dwell")).as("dwell_s"))
        .select(col("day"), col("n_sessions"), col("n_bounce"),
          expr("CAST(CAST(n_bounce AS DECIMAL(38,0)) * 1000000 DIV n_sessions AS BIGINT)")
            .as("bounce_ppm"),
          expr("CAST(CAST(n_events AS DECIMAL(38,0)) * 1000 DIV n_sessions AS BIGINT)")
            .as("events_per_session_milli"),
          col("dwell_s"),
          expr("CAST(dwell_s DIV n_sessions AS BIGINT)").as("avg_dwell_s"))
        .orderBy(col("day"))
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_id, CAST(epoch_ms(ts) // 1000 AS BIGINT) AS ts_s
        FROM events),
      f AS (
        SELECT user_id, event_id, ts_s,
          CASE WHEN lag(ts_s) OVER w IS NULL OR ts_s - lag(ts_s) OVER w > 1800
               THEN 1 ELSE 0 END AS new_s
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)),
      g AS (
        SELECT user_id, ts_s,
          sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
            ROWS UNBOUNDED PRECEDING) AS session_id
        FROM f),
      s AS (
        SELECT user_id, session_id, count(*) AS n_ev,
          min(ts_s) AS t0, max(ts_s) AS t1
        FROM g GROUP BY 1, 2),
      d AS (
        SELECT t0 // 86400 AS day, CAST(count(*) AS BIGINT) AS n_sessions,
          CAST(sum(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounce,
          CAST(sum(n_ev) AS BIGINT) AS n_events,
          CAST(sum(t1 - t0) AS BIGINT) AS dwell_s
        FROM s GROUP BY 1)
      SELECT day, n_sessions, n_bounce,
        CAST(CAST(n_bounce AS HUGEINT) * 1000000 // n_sessions AS BIGINT) AS bounce_ppm,
        CAST(CAST(n_events AS HUGEINT) * 1000 // n_sessions AS BIGINT)
          AS events_per_session_milli,
        dwell_s,
        CAST(dwell_s // n_sessions AS BIGINT) AS avg_dwell_s
      FROM d ORDER BY day
    """))

  /** Rapid-repeat suppression (telemetry debounce): flag events of the
    * same (user, event type) arriving within 60 s of the PREVIOUS such
    * event — double-clicks, retry storms, bot bursts — and report the
    * per-type suppression census. The lag form is deliberately
    * one-pass-deterministic (each event compares to its physical
    * predecessor, not to the last KEPT event, which would be a
    * sequential chain no engine can parallelize).
    *
    * Scale shape: one (user, type)-partitioned window — a narrower
    * shuffle than sessionization's — then a vocabulary-sized census.
    * Suppression rate in exact ppm. */
  private val q162 = QueryDef(
    "q162_event_debounce",
    (spark, dir) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts_s"), col("event_id"))
      Tables.events(spark, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          epochS(col("ts")).as("ts_s"))
        .withColumn("gap", col("ts_s") - lag(col("ts_s"), 1).over(w))
        .select(col("event_type"),
          when(col("gap").isNotNull && col("gap") <= 60, 1L).otherwise(0L)
            .as("suppressed"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"), sum(col("suppressed")).as("n_suppressed"))
        .select(col("event_type"), col("n_events"), col("n_suppressed"),
          expr("CAST(CAST(n_suppressed AS DECIMAL(38,0)) * 1000000 DIV n_events AS BIGINT)")
            .as("suppressed_ppm"))
        .orderBy(col("event_type"))
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_id, event_type,
          CAST(epoch_ms(ts) // 1000 AS BIGINT) AS ts_s
        FROM events),
      g AS (
        SELECT event_type,
          CASE WHEN ts_s - lag(ts_s) OVER (PARTITION BY user_id, event_type
              ORDER BY ts_s, event_id) <= 60 THEN 1 ELSE 0 END AS suppressed
        FROM e),
      c AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
          CAST(sum(suppressed) AS BIGINT) AS n_suppressed
        FROM g GROUP BY 1)
      SELECT event_type, n_events, n_suppressed,
        CAST(CAST(n_suppressed AS HUGEINT) * 1000000 // n_events AS BIGINT)
          AS suppressed_ppm
      FROM c ORDER BY event_type
    """))

  /** Marker-segmented cumulative sums: per user, event history is cut
    * into segments at purchase events (the marker), and each closed
    * segment reports its basket build-up — pre-purchase event count,
    * accumulated browse value, and the closing purchase value. This is
    * the "cumulative sum with resets" pattern no single window frame
    * expresses: a prefix-count of markers assigns the segment id, then
    * an ordinary keyed aggregation collapses each segment.
    *
    * Scale shape: one shuffle to (user) for the window, one to
    * (user, seg) for the rollup — both on the same key prefix, so AQE
    * coalesces them; nothing driver-side, no self-join. Output is one
    * row per purchase. */
  private val q184 = QueryDef(
    "q184_marker_segments",
    (spark, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_s"), col("event_id"))
      Tables.events(spark, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          epochS(col("ts")).as("ts_s"), cents(col("value")).as("v"))
        .withColumn("seg", coalesce(
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .groupBy(col("user_id"), col("seg"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("event_type") =!= "purchase", col("v")).otherwise(0L))
            .as("build_cents"),
          sum(when(col("event_type") === "purchase", col("v")).otherwise(0L))
            .as("purchase_cents"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("closed"))
        .filter(col("closed") === 1L)
        .select(col("user_id"), col("seg"), col("n_events"),
          col("build_cents"), col("purchase_cents"))
        .orderBy(col("user_id"), col("seg"))
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_id, event_type,
          CAST(epoch_ms(ts) // 1000 AS BIGINT) AS ts_s,
          CAST(floor(value*100 + 0.5) AS BIGINT) AS v
        FROM events),
      s AS (
        SELECT *, coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
          OVER (PARTITION BY user_id ORDER BY ts_s, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS seg
        FROM e),
      g AS (
        SELECT user_id, seg, CAST(count(*) AS BIGINT) AS n_events,
          CAST(sum(CASE WHEN event_type <> 'purchase' THEN v ELSE 0 END) AS BIGINT)
            AS build_cents,
          CAST(sum(CASE WHEN event_type = 'purchase' THEN v ELSE 0 END) AS BIGINT)
            AS purchase_cents,
          max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS closed
        FROM s GROUP BY 1, 2)
      SELECT user_id, CAST(seg AS BIGINT) AS seg, n_events, build_cents, purchase_cents
      FROM g WHERE closed = 1 ORDER BY user_id, seg
    """))

  /** Gaps-and-islands longest streak: per user, the longest run of
    * consecutive active days — the classic `day − row_number()` island
    * trick: within a user, consecutive days share a constant difference
    * between the day number and its rank, so each maximal run collapses
    * to one (user, island) group. The engagement feature behind
    * "N-day streak" product metrics.
    *
    * Scale shape: distinct (user, day) first (one shuffle), then two
    * keyed aggregations on the same user prefix — the window and both
    * group-bys share the user key, so AQE plans one exchange. One
    * output row per user. */
  private val q192 = QueryDef(
    "q192_longest_streak",
    (spark, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      Tables.events(spark, dir)
        .select(col("user_id"), (epochS(col("ts")) / 86400).cast("long").as("day"))
        .distinct()
        .withColumn("island", col("day") - row_number().over(w))
        .groupBy(col("user_id"), col("island"))
        .agg(count(lit(1)).as("run"))
        .groupBy(col("user_id"))
        .agg(sum(col("run")).as("n_active_days"),
          max(col("run")).as("longest_streak"),
          count(lit(1)).as("n_islands"))
        .orderBy(col("user_id"))
    },
    Some("""
      WITH d AS (
        SELECT DISTINCT user_id,
          CAST(epoch_ms(ts) // 1000 // 86400 AS BIGINT) AS day
        FROM events),
      i AS (
        SELECT user_id, day,
          day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS island
        FROM d),
      runs AS (
        SELECT user_id, island, CAST(count(*) AS BIGINT) AS run
        FROM i GROUP BY 1, 2)
      SELECT user_id, CAST(sum(run) AS BIGINT) AS n_active_days,
        CAST(max(run) AS BIGINT) AS longest_streak,
        CAST(count(*) AS BIGINT) AS n_islands
      FROM runs GROUP BY user_id ORDER BY user_id
    """))

  /** Purchase-activity bitmap census: each user's January purchase days
    * packed into one 30-bit Long (bit d−1 = bought on day d), then a
    * histogram over popcount with a contiguous-run subcount via pure bit
    * tricks — `mask & -mask` isolates the lowest bit, and a mask is one
    * contiguous run iff shifting it down to bit 0 yields 2^k−1 (x&(x+1)=0).
    * The roaring-bitmap idea in miniature: a month of per-user presence is
    * ONE integer, so set algebra (popcount, runs, day membership) costs one
    * ALU op instead of a per-day row scan.
    *
    * Scale shape: one filtered scan → hash aggregate keyed by user (bit_or
    * partials combine map-side, one Long per user shuffles — never the
    * events), then a ≤31-row histogram. At 100 TB the per-user masks are
    * the compression: 30 day-rows collapse into 8 bytes before the wire. */
  private val q204 = QueryDef(
    "q204_activity_bitmap",
    (spark, dir) => {
      Tables.events(spark, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), dayofmonth(col("ts")).as("d"))
        .groupBy(col("user_id"))
        .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), d - 1))").as("mask"),
          count(lit(1)).as("n_ev"))
        .select(expr("CAST(bit_count(mask) AS BIGINT)").as("n_active_days"),
          expr("CASE WHEN ((mask DIV (mask & -mask)) & ((mask DIV (mask & -mask)) + 1)) = 0 " +
            "THEN 1L ELSE 0L END").as("contig"),
          col("n_ev"))
        .groupBy(col("n_active_days"))
        .agg(count(lit(1)).as("n_users"), sum(col("contig")).as("n_contiguous"),
          sum(col("n_ev")).as("n_purchases"))
        .orderBy(col("n_active_days"))
    },
    Some("""
      WITH m AS (
        SELECT user_id,
          bit_or(1::BIGINT << (CAST(extract(day FROM ts) AS INTEGER) - 1)) AS mask,
          CAST(count(*) AS BIGINT) AS n_ev
        FROM events WHERE event_type = 'purchase' GROUP BY user_id),
      f AS (
        SELECT CAST(bit_count(mask) AS BIGINT) AS n_active_days,
          CASE WHEN ((mask // (mask & -mask)) & ((mask // (mask & -mask)) + 1)) = 0
               THEN 1 ELSE 0 END AS contig,
          n_ev
        FROM m)
      SELECT n_active_days, CAST(count(*) AS BIGINT) AS n_users,
        CAST(sum(contig) AS BIGINT) AS n_contiguous,
        CAST(sum(n_ev) AS BIGINT) AS n_purchases
      FROM f GROUP BY n_active_days ORDER BY n_active_days
    """))

  /** Markov next-event backtest: transition counts learned on events
    * before Jan 25 predict each state's most-likely successor (ties break
    * alphabetically), scored top-1 on the held-out tail. The honest
    * companion to q150's transition matrix — a model is only as good as
    * its out-of-sample hit rate, and the time-based split (never random)
    * keeps both engines and every rerun on the same test set. A pair
    * belongs to train iff its LATER event predates the cutoff, so no
    * pair straddles into both sets.
    *
    * Scale shape: the lag window shuffles once by user; transition counts
    * collapse to |states|² rows, so the argmax window and the broadcast
    * join against test pairs are free. Nothing global ever sorts. */
  private val q206 = QueryDef(
    "q206_markov_backtest",
    (spark, dir) => {
      val cutoff = 1706140800L // 2024-01-25 00:00:00 UTC
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_s"), col("event_id"))
      val pairs = Tables.events(spark, dir)
        .select(col("user_id"), col("event_id"), epochS(col("ts")).as("ts_s"),
          col("event_type"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .select(col("prev_type"), col("event_type").as("next_type"), col("ts_s"))
      val pred = pairs.filter(col("ts_s") < cutoff)
        .groupBy(col("prev_type"), col("next_type")).agg(count(lit(1)).as("n"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("prev_type"))
            .orderBy(col("n").desc, col("next_type"))))
        .filter(col("rk") === 1)
        .select(col("prev_type"), col("next_type").as("predicted"))
      pairs.filter(col("ts_s") >= cutoff)
        .join(broadcast(pred), Seq("prev_type"), "left")
        .withColumn("predicted", coalesce(col("predicted"), lit("(none)")))
        .groupBy(col("prev_type"), col("predicted"))
        .agg(count(lit(1)).as("n_test"),
          sum(when(col("next_type") === col("predicted"), 1L).otherwise(0L))
            .as("n_correct"))
        .select(col("prev_type"), col("predicted"), col("n_test"), col("n_correct"),
          expr("n_correct * 1000000L div n_test").as("acc_ppm"))
        .orderBy(col("prev_type"))
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_id, event_type,
          CAST(epoch_ms(ts) // 1000 AS BIGINT) AS ts_s
        FROM events),
      p AS (
        SELECT lag(event_type) OVER
            (PARTITION BY user_id ORDER BY ts_s, event_id) AS prev_type,
          event_type AS next_type, ts_s
        FROM e),
      pairs AS (SELECT * FROM p WHERE prev_type IS NOT NULL),
      cnt AS (
        SELECT prev_type, next_type, count(*) AS n
        FROM pairs WHERE ts_s < 1706140800 GROUP BY 1, 2),
      pred AS (
        SELECT prev_type, next_type AS predicted
        FROM (SELECT prev_type, next_type,
                row_number() OVER (PARTITION BY prev_type
                  ORDER BY n DESC, next_type) AS rk
              FROM cnt)
        WHERE rk = 1)
      SELECT t.prev_type, coalesce(pred.predicted, '(none)') AS predicted,
        CAST(count(*) AS BIGINT) AS n_test,
        CAST(sum(CASE WHEN t.next_type = coalesce(pred.predicted, '(none)')
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
        CAST(sum(CASE WHEN t.next_type = coalesce(pred.predicted, '(none)')
                 THEN 1 ELSE 0 END) * 1000000
          // count(*) AS BIGINT) AS acc_ppm
      FROM (SELECT * FROM pairs WHERE ts_s >= 1706140800) t
      LEFT JOIN pred ON t.prev_type = pred.prev_type
      GROUP BY t.prev_type, coalesce(pred.predicted, '(none)')
      ORDER BY t.prev_type
    """))

  /** Revenue-decile mobility matrix: every 1995 customer's spend decile
    * versus their 1996 decile (decile 0 = no 1996 orders — the churn
    * row), counted into the 10×11 transition census. Rank mobility is
    * the year-over-year loyalty question RFM (q116) can't answer: how
    * sticky is being a top-decile customer? Deciles come from
    * `(row_number−1)·10 div n`, NOT ntile — the formula is pure integer
    * arithmetic over an explicit total order, so both engines and every
    * rerun agree on boundary rows.
    *
    * Scale shape: two date-pruned grouped aggregations (customer-sized),
    * one left join on customer key, and a ≤110-row census. The
    * row_number windows are global but run over the customer aggregate —
    * dimension-sized; at the 100 TB design point that rank is the stage
    * to range-partition. */
  private val q210 = QueryDef(
    "q210_decile_mobility",
    (spark, dir) => {
      def yearRev(y: Int): DataFrame = Tables.orders(spark, dir)
        .filter(col("o_orderdate") >= s"$y-01-01" && col("o_orderdate") < s"${y + 1}-01-01")
        .groupBy(col("o_custkey").as("cust"))
        .agg(sum(cents(col("o_totalprice"))).as("rev"))
      def deciled(df: DataFrame, out: String): DataFrame = {
        val w = Window.orderBy(col("rev").desc, col("cust"))
        val n = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        df.withColumn("rn", row_number().over(w).cast("long"))
          .withColumn("n", count(lit(1)).over(n))
          .select(col("cust"), expr("(rn - 1) * 10 div n + 1").as(out))
      }
      deciled(yearRev(1995), "d_from")
        .join(deciled(yearRev(1996), "d_to"), Seq("cust"), "left")
        .withColumn("d_to", coalesce(col("d_to"), lit(0L)))
        .groupBy(col("d_from"), col("d_to"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("d_from"), col("d_to"))
    },
    Some("""
      WITH r94 AS (
        SELECT o_custkey AS cust,
          CAST(sum(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)) AS BIGINT) AS rev
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate < TIMESTAMP '1996-01-01'
        GROUP BY 1),
      r95 AS (
        SELECT o_custkey AS cust,
          CAST(sum(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)) AS BIGINT) AS rev
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY 1),
      d94 AS (
        SELECT cust,
          (row_number() OVER (ORDER BY rev DESC, cust) - 1) * 10
            // count(*) OVER () + 1 AS d_from
        FROM r94),
      d95 AS (
        SELECT cust,
          (row_number() OVER (ORDER BY rev DESC, cust) - 1) * 10
            // count(*) OVER () + 1 AS d_to
        FROM r95)
      SELECT CAST(d_from AS BIGINT) AS d_from,
        CAST(coalesce(d_to, 0) AS BIGINT) AS d_to,
        CAST(count(*) AS BIGINT) AS n_customers
      FROM d94 LEFT JOIN d95 USING (cust)
      GROUP BY 1, 2 ORDER BY d_from, d_to
    """))

  /** Purchase-regularity census: coefficient of variation of each
    * repeat customer's inter-order gaps, banded into clockwork
    * (cv² ≤ 0.25), regular (≤ 1), and erratic — plus a degenerate band
    * for all-same-day customers whose gap sum is zero (cv² is 0/0
    * there; the NULL that falls out of integer ÷0 is routed to its own
    * band instead of silently joining a numeric one). The behavioral
    * complement of q76's gap moments: not how long between orders, but
    * how predictable. Customers need ≥ 3 orders (≥ 2 gaps) to have a
    * variance at all.
    *
    * Scale shape: one orders scan → per-customer gap moments via one
    * partitioned window + hash aggregate, then a 4-row census. Gap sums
    * are calendar-bounded (≤ ~10⁴ days), so n·ΣG² and S² sit far below
    * 2^63 in plain Long at any corpus size — no decimal needed, and the
    * scaladoc says why. */
  private val q219 = QueryDef(
    "q219_purchase_regularity",
    (spark, dir) => {
      val w = Window.partitionBy(col("cust")).orderBy(col("day"), col("okey"))
      Tables.orders(spark, dir)
        .select(col("o_custkey").as("cust"), col("o_orderkey").as("okey"),
          (epochS(col("o_orderdate")) / 86400).cast("long").as("day"))
        .withColumn("gap", col("day") - lag(col("day"), 1).over(w))
        .filter(col("gap").isNotNull)
        .groupBy(col("cust"))
        .agg(count(lit(1)).as("n"), sum(col("gap")).as("s"),
          sum(col("gap") * col("gap")).as("q"))
        .filter(col("n") >= 2L)
        .withColumn("cv2_ppm", expr("(n * q - s * s) * 1000000L div (s * s)"))
        .select(
          when(col("cv2_ppm").isNull, "degenerate")
            .when(col("cv2_ppm") <= 250000L, "clockwork")
            .when(col("cv2_ppm") <= 1000000L, "regular")
            .otherwise("erratic").as("band"),
          col("n"), col("s"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_customers"),
          expr("sum(s) div sum(n)").as("avg_gap_days"))
        .orderBy(col("band"))
    },
    Some("""
      WITH o AS (
        SELECT o_custkey AS cust,
          CAST(epoch_ms(o_orderdate) // 1000 // 86400 AS BIGINT) AS day,
          o_orderkey AS okey
        FROM orders),
      g AS (
        SELECT cust,
          day - lag(day) OVER (PARTITION BY cust ORDER BY day, okey) AS gap
        FROM o),
      m AS (
        SELECT cust, CAST(count(*) AS BIGINT) AS n, CAST(sum(gap) AS BIGINT) AS s,
          CAST(sum(gap * gap) AS BIGINT) AS q
        FROM g WHERE gap IS NOT NULL GROUP BY cust),
      c AS (
        SELECT n, s, (n * q - s * s) * 1000000 // (s * s) AS cv2_ppm
        FROM m WHERE n >= 2),
      b AS (
        SELECT CASE WHEN cv2_ppm IS NULL THEN 'degenerate'
                    WHEN cv2_ppm <= 250000 THEN 'clockwork'
                    WHEN cv2_ppm <= 1000000 THEN 'regular'
                    ELSE 'erratic' END AS band, n, s
        FROM c)
      SELECT band, CAST(count(*) AS BIGINT) AS n_customers,
        CAST(sum(s) // sum(n) AS BIGINT) AS avg_gap_days
      FROM b GROUP BY band ORDER BY band
    """))

  /** Arc price elasticity of demand across adjacent discount levels:
    * for each step d_i → d_{i+1} in the discrete discount ladder, the
    * midpoint-formula elasticity of quantity with respect to average
    * net unit price, fully cross-multiplied into integers — with
    * p_i = R_i/Q_i (net revenue over quantity), the arc formula
    * (ΔQ/Q̄)/(Δp/p̄) collapses to
    * (Q₂−Q₁)(R₂Q₁+R₁Q₂) / ((Q₂+Q₁)(R₂Q₁−R₁Q₂)) — no fractional
    * averages anywhere. Sign split out of the division so Spark DIV
    * and DuckDB // agree; a zero price step reports NULL elasticity.
    *
    * Scale shape: one hash agg to the ≤11-level discount ladder, then
    * a LAG window over the ladder (vocabulary-sized, sanctioned). The
    * quad products run in decimal(38,0): R·Q reaches ~10³⁰ at the
    * 100 TB design point. */
  private val q236 = QueryDef(
    "q236_discount_elasticity",
    (spark, dir) => {
      val lvl = Window.orderBy(col("d"))
      Tables.lineitem(spark, dir)
        .select(floor(col("l_discount") * 10000 + lit(0.5d)).cast("long").as("d"),
          floor(col("l_quantity") + lit(0.5d)).cast("long").as("q"),
          cents(col("l_extendedprice") * (lit(1d) - col("l_discount"))).as("r"))
        .groupBy(col("d"))
        .agg(sum(col("q")).as("qty"), sum(col("r")).as("rev"))
        .withColumn("d_prev", lag(col("d"), 1).over(lvl))
        .withColumn("q1", lag(col("qty"), 1).over(lvl))
        .withColumn("r1", lag(col("rev"), 1).over(lvl))
        .filter(col("d_prev").isNotNull)
        .select(col("d_prev").as("d_lo"), col("d").as("d_hi"),
          col("q1"), col("qty").as("q2"),
          // sign of the a·b·c product via sign(a)·sign(b)·sign(c): the
          // literal triple product overflows 128-bit integers at sf0.1
          // magnitudes (~10^39), and overflow here means a silent null
          // on Spark and a hard error on the oracle
          expr("""CAST(CASE
              WHEN CAST(rev AS DECIMAL(38,0)) * q1 - CAST(r1 AS DECIMAL(38,0)) * qty = 0
                THEN NULL
              ELSE (CASE WHEN sign(qty - q1)
                              * sign(CAST(rev AS DECIMAL(38,0)) * q1 + CAST(r1 AS DECIMAL(38,0)) * qty)
                              * sign(CAST(rev AS DECIMAL(38,0)) * q1 - CAST(r1 AS DECIMAL(38,0)) * qty) < 0
                         THEN -1 ELSE 1 END) *
                (abs((qty - q1) * (CAST(rev AS DECIMAL(38,0)) * q1 + CAST(r1 AS DECIMAL(38,0)) * qty)) * 1000000
                 DIV abs((qty + q1) * (CAST(rev AS DECIMAL(38,0)) * q1 - CAST(r1 AS DECIMAL(38,0)) * qty)))
            END AS BIGINT)""").as("elasticity_ppm"))
        .orderBy(col("d_lo"))
    },
    Some("""
      WITH b AS (
        SELECT CAST(floor(l_discount * 10000 + 0.5) AS BIGINT) AS d,
          CAST(floor(l_quantity + 0.5) AS BIGINT) AS q,
          CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT) AS r
        FROM lineitem),
      g AS (
        SELECT d, CAST(sum(q) AS BIGINT) AS qty, CAST(sum(r) AS BIGINT) AS rev
        FROM b GROUP BY d),
      w AS (
        SELECT d, qty, rev,
          lag(d) OVER (ORDER BY d) AS d_prev,
          lag(qty) OVER (ORDER BY d) AS q1,
          lag(rev) OVER (ORDER BY d) AS r1
        FROM g)
      SELECT d_prev AS d_lo, d AS d_hi, q1, qty AS q2,
        CAST(CASE
          WHEN CAST(rev AS HUGEINT) * q1 - CAST(r1 AS HUGEINT) * qty = 0 THEN NULL
          ELSE (CASE WHEN sign(qty - q1)
                          * sign(CAST(rev AS HUGEINT) * q1 + CAST(r1 AS HUGEINT) * qty)
                          * sign(CAST(rev AS HUGEINT) * q1 - CAST(r1 AS HUGEINT) * qty) < 0
                     THEN -1 ELSE 1 END) *
            (abs((qty - q1) * (CAST(rev AS HUGEINT) * q1 + CAST(r1 AS HUGEINT) * qty)) * 1000000
             // abs((qty + q1) * (CAST(rev AS HUGEINT) * q1 - CAST(r1 AS HUGEINT) * qty)))
        END AS BIGINT) AS elasticity_ppm
      FROM w WHERE d_prev IS NOT NULL
      ORDER BY d_lo
    """))

  /** Effective catalog breadth per month: the inverse-Simpson
    * "effective number of parts" (Σn)²/Σn² — how many parts demand
    * BEHAVES like it's spread over, versus how many it merely touched.
    * n_parts counts every part with ≥1 sale; eff_milli discounts the
    * long tail (uniform demand ⇒ eff = n_parts; one-hit-dominated ⇒
    * eff → 1). The trend pair (n_parts, eff) is the assortment-health
    * readout: a growing catalog with flat eff means new items don't
    * sell. Complements q205 (HHI = the same Σp² as a concentration
    * index, globally) with the per-month effective-count form.
    *
    * Scale shape: (month, part) hash agg, then a month-sized rollup;
    * squares in decimal(38,0) — Σn² crosses 2^63 once a single part
    * sells ~3×10⁹ units in a month at the 100 TB design point. */
  private val q241 = QueryDef(
    "q241_effective_breadth",
    (spark, dir) => {
      val m = Tables.lineitem(spark, dir)
        .select((year(col("l_shipdate")) * 100 + month(col("l_shipdate")))
            .cast("long").as("month"),
          col("l_partkey").as("part"),
          floor(col("l_quantity") + lit(0.5d)).cast("long").as("q"))
        .groupBy(col("month"), col("part"))
        .agg(sum(col("q")).as("n"))
      m.groupBy(col("month"))
        .agg(count(lit(1)).as("n_parts"), sum(col("n")).as("units"),
          sum(expr("CAST(n AS DECIMAL(38,0)) * n")).as("ssq"))
        .select(col("month"), col("n_parts"), col("units"),
          expr("CAST(CAST(units AS DECIMAL(38,0)) * units * 1000 DIV ssq AS BIGINT)")
            .as("eff_milli"))
        .orderBy(col("month"))
    },
    Some("""
      WITH mp AS (
        SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT) AS month,
          l_partkey AS part,
          CAST(sum(floor(l_quantity + 0.5)) AS BIGINT) AS n
        FROM lineitem GROUP BY 1, 2),
      g AS (
        SELECT month, CAST(count(*) AS BIGINT) AS n_parts,
          CAST(sum(n) AS BIGINT) AS units,
          sum(CAST(n AS HUGEINT) * n) AS ssq
        FROM mp GROUP BY month)
      SELECT month, n_parts, units,
        CAST(CAST(units AS HUGEINT) * units * 1000 // ssq AS BIGINT) AS eff_milli
      FROM g ORDER BY month
    """))

  /** Time-bounded funnel sweep: q115's view→click→purchase funnel with
    * a CONVERSION WINDOW — click must land within w of the first view,
    * purchase within w of that click — swept over w ∈ {1h, 6h, 24h,
    * 7d}. The window column is what turns a funnel into an SLA: the
    * w where conversion stops growing is how long intent survives,
    * and unbounded q115 is the w→∞ asymptote of this table.
    *
    * Scale shape: per window, the [[funnel]] min-join chain q115 runs
    * unbounded (AQE plans one exchange for the shared user key);
    * four window variants union into a 4-row census. */
  private val q249 = QueryDef(
    "q249_funnel_conversion_windows",
    (spark, dir) => {
      Seq(3600L, 21600L, 86400L, 604800L).map(w => funnel(spark, dir, Some(w)))
        .reduce(_.unionAll(_))
        .orderBy(col("window_s"))
    },
    Some {
      def block(w: Long) = s"""
        SELECT CAST($w AS BIGINT) AS window_s, nv.n_view, nc.n_click, np.n_purchase,
          CASE WHEN nv.n_view = 0 THEN NULL ELSE nc.n_click * 1000000 // nv.n_view END AS click_conv_ppm,
          CASE WHEN nc.n_click = 0 THEN NULL ELSE np.n_purchase * 1000000 // nc.n_click END AS purchase_conv_ppm
        FROM (SELECT count(*) AS n_view FROM v) nv,
             (SELECT count(*) AS n_click FROM
                (SELECT e.user_id, min(e.ts_s) AS t2 FROM e JOIN v USING (user_id)
                 WHERE e.event_type = 'click' AND e.ts_s > v.t1 AND e.ts_s <= v.t1 + $w
                 GROUP BY e.user_id)) nc,
             (SELECT count(*) AS n_purchase FROM
                (SELECT e2.user_id FROM e e2 JOIN
                   (SELECT e.user_id, min(e.ts_s) AS t2 FROM e JOIN v USING (user_id)
                    WHERE e.event_type = 'click' AND e.ts_s > v.t1 AND e.ts_s <= v.t1 + $w
                    GROUP BY e.user_id) c2 USING (user_id)
                 WHERE e2.event_type = 'purchase' AND e2.ts_s > c2.t2 AND e2.ts_s <= c2.t2 + $w
                 GROUP BY e2.user_id)) np"""
      s"""
      WITH e AS (
        SELECT user_id, event_type, CAST(epoch_ms(ts) // 1000 AS BIGINT) AS ts_s
        FROM events),
      v AS (SELECT user_id, min(ts_s) AS t1 FROM e WHERE event_type = 'view' GROUP BY user_id)
      ${Seq(3600L, 21600L, 86400L, 604800L).map(block).mkString(" UNION ALL ")}
      ORDER BY window_s
      """
    })

  /** Day-of-week effect size on daily revenue — one-way ANOVA η² =
    * SSB/SST plus the F statistic, answering what q151's per-DOW means
    * table can't: is the weekly pattern SIGNAL or noise, and how much
    * of daily variance does it explain? Means are micro-quantized
    * (exact integer division — both engines round identically) and the
    * sums of squares run in decimal(38,0), so the ratio is
    * bit-deterministic. DOW from epoch days ((d+4) mod 7, q80's
    * portable convention).
    *
    * Scale shape: day-level aggregate (≤365 rows/year), a 7-row group
    * census, scalar algebra — nothing row-sized past the first agg. */
  private val q259 = QueryDef(
    "q259_dow_effect_size",
    (spark, dir) => {
      import graft.functions.Deterministic.{cents, epochS}
      val daily = Tables.orders(spark, dir)
        .filter(col("o_orderdate") >= "1995-01-01" && col("o_orderdate") < "1996-01-01")
        .select((epochS(col("o_orderdate")) / 86400).cast("long").as("day"),
          cents(col("o_totalprice")).as("vc"))
        .groupBy(col("day")).agg(sum(col("vc")).as("x"))
        .withColumn("dow", expr("(day + 4) % 7"))
      val mean = daily.agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
        .select(col("n"), expr("CAST(CAST(s AS DECIMAL(38,0)) * 1000000 DIV n AS BIGINT)")
          .as("mean_micro"))
      val groups = daily.groupBy(col("dow"))
        .agg(count(lit(1)).as("n_g"), sum(col("x")).as("s_g"))
        .select(col("dow"), col("n_g"),
          expr("CAST(CAST(s_g AS DECIMAL(38,0)) * 1000000 DIV n_g AS BIGINT)")
            .as("mean_g_micro"))
      val ssb = groups.crossJoin(broadcast(mean))
        .agg(count(lit(1)).as("k"),
          sum(expr("CAST(n_g AS DECIMAL(38,0)) * (mean_g_micro - mean_micro)" +
            " * (mean_g_micro - mean_micro)")).as("ssb"))
      val sst = daily.crossJoin(broadcast(mean))
        .agg(sum(expr("CAST(x AS DECIMAL(38,0)) * 1000000 * 1000000" +
          " - 2 * CAST(x AS DECIMAL(38,0)) * 1000000 * mean_micro" +
          " + CAST(mean_micro AS DECIMAL(38,0)) * mean_micro")).as("sst_raw"))
      ssb.crossJoin(broadcast(sst)).crossJoin(broadcast(mean.select(col("n"))))
        .select(col("n").as("n_days"), col("k").as("k_groups"),
          expr("CAST(ssb * 1000000 DIV sst_raw AS BIGINT)").as("eta2_ppm"),
          expr("""CAST(CASE WHEN sst_raw - ssb = 0 THEN NULL
                  ELSE ssb * (n - k) * 1000 DIV ((sst_raw - ssb) * (k - 1)) END
                AS BIGINT)""").as("f_milli"))
    },
    Some("""
      WITH daily AS (
        SELECT CAST(epoch_ms(o_orderdate) // 1000 // 86400 AS BIGINT) AS day,
          CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS x
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate < TIMESTAMP '1996-01-01'
        GROUP BY 1),
      d2 AS (SELECT day, x, (day + 4) % 7 AS dow FROM daily),
      m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(CAST(sum(x) AS HUGEINT) * 1000000 // count(*) AS BIGINT) AS mean_micro
        FROM d2),
      g AS (
        SELECT dow, CAST(count(*) AS BIGINT) AS n_g,
          CAST(CAST(sum(x) AS HUGEINT) * 1000000 // count(*) AS BIGINT) AS mean_g_micro
        FROM d2 GROUP BY dow),
      ssb AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
          sum(CAST(n_g AS HUGEINT) * (mean_g_micro - m.mean_micro)
              * (mean_g_micro - m.mean_micro)) AS ssb
        FROM g, m),
      sst AS (
        SELECT sum(CAST(x AS HUGEINT) * 1000000 * 1000000
          - 2 * CAST(x AS HUGEINT) * 1000000 * m.mean_micro
          + CAST(m.mean_micro AS HUGEINT) * m.mean_micro) AS sst_raw
        FROM d2, m)
      SELECT m.n AS n_days, ssb.k AS k_groups,
        CAST(ssb.ssb * 1000000 // sst.sst_raw AS BIGINT) AS eta2_ppm,
        CAST(CASE WHEN sst.sst_raw - ssb.ssb = 0 THEN NULL
             ELSE ssb.ssb * (m.n - ssb.k) * 1000 // ((sst.sst_raw - ssb.ssb) * (ssb.k - 1)) END
          AS BIGINT) AS f_milli
      FROM m, ssb, sst
    """))

  /** Co-engagement matrix: for every event-type pair, how many users do
    * BOTH, and the Jaccard of their user sets in ppm — the audience-
    * overlap table behind "users who click also purchase". Complements
    * q111 (co-occurrence lift on baskets) with set overlap on user
    * audiences; all counts exact, union by inclusion-exclusion.
    *
    * Scale shape: one (user, type) distinct shuffle; the pair join is
    * user-keyed equi (types are the tiny side of each row); per-type
    * totals broadcast onto the 10-row pair census. */
  private val q262 = QueryDef(
    "q262_co_engagement",
    (spark, dir) => {
      val ut = Tables.events(spark, dir)
        .select(col("user_id"), col("event_type")).distinct()
      val totals = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      val inter = ut.select(col("user_id"), col("event_type").as("type_a"))
        .join(ut.select(col("user_id"), col("event_type").as("type_b")), Seq("user_id"))
        .filter(col("type_a") < col("type_b"))
        .groupBy(col("type_a"), col("type_b"))
        .agg(count(lit(1)).as("n_both"))
      inter
        .join(broadcast(totals.select(col("event_type").as("type_a"), col("n").as("n_a"))),
          Seq("type_a"))
        .join(broadcast(totals.select(col("event_type").as("type_b"), col("n").as("n_b"))),
          Seq("type_b"))
        .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"), col("n_both"),
          expr("CAST(CAST(n_both AS DECIMAL(38,0)) * 1000000" +
            " DIV (n_a + n_b - n_both) AS BIGINT)").as("jaccard_ppm"))
        .orderBy(col("type_a"), col("type_b"))
    },
    Some("""
      WITH ut AS (
        SELECT DISTINCT user_id, event_type FROM events),
      t AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM ut GROUP BY event_type),
      i AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
          CAST(count(*) AS BIGINT) AS n_both
        FROM ut a JOIN ut b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2)
      SELECT type_a, type_b, ta.n AS n_a, tb.n AS n_b, n_both,
        CAST(CAST(n_both AS HUGEINT) * 1000000 // (ta.n + tb.n - n_both) AS BIGINT)
          AS jaccard_ppm
      FROM i JOIN t ta ON i.type_a = ta.event_type
             JOIN t tb ON i.type_b = tb.event_type
      ORDER BY type_a, type_b
    """))

  /** Additively-smoothed brand return rates — the small-sample fix for
    * league tables: raw return ppm per brand PLUS the Laplace-smoothed
    * rate that pulls low-volume brands toward the global rate with 50
    * pseudo-observations (shrunk = (returns·10⁶ + 50·global_ppm) /
    * (n + 50), all integer). Ranking by the raw column crowns noisy
    * small brands; the shrunk column is the one a dashboard should
    * sort by.
    *
    * Scale shape: one (brand) hash agg after the part join; the global
    * rate is a one-row broadcast (q64 pattern). */
  private val q266 = QueryDef(
    "q266_shrunk_return_rates",
    (spark, dir) => {
      val base = Tables.lineitem(spark, dir)
        .join(Tables.part(spark, dir), col("l_partkey") === col("p_partkey"))
        .select(col("p_brand").as("brand"),
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("r"))
      val global = base.agg(
        expr("CAST(CAST(sum(r) AS DECIMAL(38,0)) * 1000000 DIV count(1) AS BIGINT)")
          .as("global_ppm"))
      base.groupBy(col("brand"))
        .agg(count(lit(1)).as("n"), sum(col("r")).as("returns"))
        .crossJoin(broadcast(global))
        .select(col("brand"), col("n"), col("returns"), col("global_ppm"),
          expr("CAST(CAST(returns AS DECIMAL(38,0)) * 1000000 DIV n AS BIGINT)")
            .as("raw_ppm"),
          expr("""CAST((CAST(returns AS DECIMAL(38,0)) * 1000000 + 50 * global_ppm)
                  DIV (n + 50) AS BIGINT)""").as("shrunk_ppm"))
        .orderBy(col("brand"))
    },
    Some("""
      WITH b AS (
        SELECT p_brand AS brand,
          CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS r
        FROM lineitem JOIN part ON l_partkey = p_partkey),
      g AS (
        SELECT CAST(CAST(sum(r) AS HUGEINT) * 1000000 // count(*) AS BIGINT)
          AS global_ppm
        FROM b),
      t AS (
        SELECT brand, CAST(count(*) AS BIGINT) AS n, CAST(sum(r) AS BIGINT) AS returns
        FROM b GROUP BY brand)
      SELECT brand, n, returns, g.global_ppm,
        CAST(CAST(returns AS HUGEINT) * 1000000 // n AS BIGINT) AS raw_ppm,
        CAST((CAST(returns AS HUGEINT) * 1000000 + 50 * g.global_ppm) // (n + 50)
          AS BIGINT) AS shrunk_ppm
      FROM t, g ORDER BY brand
    """))

  override def defs: Seq[QueryDef] =
    Seq(q115, q116, q117, q132, q134, q140, q142, q143, q144, q150, q151, q153,
      q160, q162, q184, q192, q204, q206, q210, q219, q236, q241, q249, q259,
      q262, q266)
}
