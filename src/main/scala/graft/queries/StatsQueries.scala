package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Deterministic._
import graft.queries.SqlMacros._

/** Distribution statistics and remaining grouping/windowing shapes:
  * exact rank-based percentiles, CUBE, and batch session windows. */
object StatsQueries extends QueryGroup {

  /** Exact lower-quantile percentiles per group via rank selection (the
    * interpolation-free definition both engines compute identically on
    * integer cents). Median and p90 of lineitem quantity per returnflag.
    *
    * Scale design: two passes, no full-table sort. Pass 1 is a fully
    * parallel hash aggregate to a per-(group, value) histogram — the only
    * thing that ever shuffles is one row per distinct cents value. Pass 2
    * runs the cumulative-count window over the histogram alone, so the
    * per-group window (parallelism = #groups) touches #distinct-values
    * rows, not the full table: the k-th smallest value is the least value
    * whose cumulative count reaches k. A naive
    * `row_number over (partition by group order by value)` on the raw
    * table sorts 100% of rows in #groups tasks at any cluster size.
    */
  private val q36 = QueryDef(
    "q36_exact_percentiles",
    (spark, dir) => {
      val hist = Tables.lineitem(spark, dir)
        .select(col("l_returnflag"), cents(col("l_quantity")).as("qc"))
        .groupBy(col("l_returnflag"), col("qc"))
        .agg(count(lit(1)).as("cnt"))
      val wCum = Window.partitionBy(col("l_returnflag")).orderBy(col("qc"))
      val wAll = Window.partitionBy(col("l_returnflag"))
      hist
        .withColumn("cum", sum(col("cnt")).over(wCum))
        .withColumn("n", sum(col("cnt")).over(wAll))
        .groupBy(col("l_returnflag"), col("n"))
        .agg(
          min(when(col("cum") >= floor((col("n") - 1) * lit(0.5)) + 1, col("qc"))).as("p50_cents"),
          min(when(col("cum") >= floor((col("n") - 1) * lit(0.9)) + 1, col("qc"))).as("p90_cents"))
        .orderBy("l_returnflag")
    },
    Some("""
      WITH ranked AS (
        SELECT l_returnflag, CAST(floor(l_quantity*100 + 0.5) AS BIGINT) AS qc,
          row_number() OVER (PARTITION BY l_returnflag
                             ORDER BY CAST(floor(l_quantity*100 + 0.5) AS BIGINT), l_orderkey, l_linenumber) AS rn,
          count(*) OVER (PARTITION BY l_returnflag) AS n
        FROM lineitem)
      SELECT l_returnflag, n,
        CAST(min(CASE WHEN rn = floor((n-1)*0.5) + 1 THEN qc END) AS BIGINT) AS p50_cents,
        CAST(min(CASE WHEN rn = floor((n-1)*0.9) + 1 THEN qc END) AS BIGINT) AS p90_cents
      FROM ranked
      WHERE rn = floor((n-1)*0.5) + 1 OR rn = floor((n-1)*0.9) + 1
      GROUP BY 1, 2 ORDER BY l_returnflag
    """))

  /** CUBE over (returnflag, linestatus) with GROUPING indicators — the
    * full-lattice companion to q19's rollup. */
  private val q37 = QueryDef(
    "q37_cube_grouping",
    (spark, dir) => {
      Tables.lineitem(spark, dir)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(
          grouping(col("l_returnflag")).cast("long").as("g_rf"),
          grouping(col("l_linestatus")).cast("long").as("g_ls"),
          count(lit(1)).as("n"),
          sum(cents(col("l_quantity"))).as("qty_cents"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("g_rf"), col("g_ls"), col("n"), col("qty_cents"))
        .orderBy("g_rf", "g_ls", "returnflag", "linestatus")
    },
    Some("""
      SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        coalesce(l_linestatus, 'ALL') AS linestatus,
        CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
        CAST(grouping(l_linestatus) AS BIGINT) AS g_ls,
        count(*) AS n,
        CAST(sum(CAST(floor(l_quantity*100 + 0.5) AS BIGINT)) AS BIGINT) AS qty_cents
      FROM lineitem
      GROUP BY CUBE (l_returnflag, l_linestatus)
      ORDER BY g_rf, g_ls, returnflag, linestatus
    """))

  /** Batch session windows: session_window(ts, 10 min gap) per user over
    * events — sessions merge while gaps stay under 10 minutes; session
    * end = last event + gap. Oracle reproduces via gaps-and-islands
    * (lag + running sum). Completes SURVEY §2.6 W8. */
  private val q38 = QueryDef(
    "q38_session_window",
    (spark, dir) => {
      Tables.events(spark, dir)
        .filter(col("ts").isNotNull)
        .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), moneySum(col("value")).as("total_value"))
        .select(
          col("user_id"),
          epochS(col("session_window.start")).as("session_start"),
          epochS(col("session_window.end")).as("session_end"),
          col("n_events"), col("total_value"))
        .orderBy("user_id", "session_start")
    },
    Some("""
      WITH e AS (
        SELECT user_id, ts, value,
          epoch_us(ts) AS tus,
          CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                 OVER (PARTITION BY user_id ORDER BY ts) >= 600000000
               OR lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
               THEN 1 ELSE 0 END AS new_session
        FROM events WHERE ts IS NOT NULL),
      islands AS (
        SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM e)
      SELECT user_id,
        CAST(min(tus) // 1000000 AS BIGINT) AS session_start,
        CAST((max(tus) + 600000000) // 1000000 AS BIGINT) AS session_end,
        count(*) AS n_events,
        CAST(sum(CAST(floor(value*100 + 0.5) AS BIGINT)) AS DOUBLE)/100 AS total_value
      FROM islands GROUP BY user_id, session_id
      ORDER BY user_id, session_start
    """))

  /** Time-series gap filling: last-observation-carried-forward of each
    * user's most recent 'purchase' value at every event (the as-of
    * self-lookup training pipelines use for sparse signals). Narrow
    * window op — one shuffle on user_id, sorted once per partition. */
  private val q39 = QueryDef(
    "q39_locf_asof",
    (spark, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(spark, dir)
        .filter(col("ts").isNotNull)
        .select(
          col("event_id"), col("user_id"),
          epochS(col("ts")).as("t"),
          col("event_type"),
          last(when(col("event_type") === "purchase", cents(col("value"))), ignoreNulls = true)
            .over(w).as("last_purchase_cents"))
        .orderBy("event_id")
    },
    Some("""
      SELECT event_id, user_id,
        CAST(epoch_us(ts) // 1000000 AS BIGINT) AS t,
        event_type,
        last_value(CASE WHEN event_type = 'purchase'
                        THEN CAST(floor(value*100 + 0.5) AS BIGINT) END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase_cents
      FROM events WHERE ts IS NOT NULL
      ORDER BY event_id
    """))

  /** Generator/lateral-view coverage: corpus word count — explode the
    * token arrays, aggregate, top-20. The map-side partial agg collapses
    * the exploded stream before the shuffle. */
  private val q40 = QueryDef(
    "q40_wordcount_explode",
    (spark, dir) => {
      Tables.documents(spark, dir)
        .select(explode(graft.text.TextFunctions.tokens(col("text"))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(20)
    },
    Some(s"""
      SELECT token, count(*) AS n
      FROM (SELECT unnest($duckTokens) AS token
            FROM documents)
      GROUP BY token ORDER BY n DESC, token LIMIT 20
    """))

  /** String/conditional scalar-function bundle: upper/lower/trim/
    * substring/replace/lpad/instr/length + coalesce/nullif/greatest. */
  private val q41 = QueryDef(
    "q41_string_functions",
    (spark, dir) => {
      Tables.customer(spark, dir)
        .filter(col("c_custkey") % 25 === 0)
        .select(
          col("c_custkey"),
          upper(col("c_name")).as("name_upper"),
          lower(col("c_mktsegment")).as("segment_lower"),
          trim(lit("  padded  ")).as("trimmed"),
          substring(col("c_name"), 1, 8).as("name_prefix"),
          regexp_replace(col("c_name"), "Customer", "C").as("name_short"),
          lpad(col("c_custkey").cast("string"), 10, "0").as("key_padded"),
          instr(col("c_name"), "#").cast("long").as("hash_pos"),
          length(col("c_name")).cast("long").as("name_len"),
          coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("OTHER")).as("segment_or_other"),
          greatest(col("c_acctbal"), lit(0.0d)).as("balance_floor0"))
        .orderBy("c_custkey")
    },
    Some("""
      SELECT c_custkey,
        upper(c_name) AS name_upper,
        lower(c_mktsegment) AS segment_lower,
        trim('  padded  ') AS trimmed,
        substr(c_name, 1, 8) AS name_prefix,
        regexp_replace(c_name, 'Customer', 'C', 'g') AS name_short,
        lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS key_padded,
        CAST(strpos(c_name, '#') AS BIGINT) AS hash_pos,
        CAST(length(c_name) AS BIGINT) AS name_len,
        coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS segment_or_other,
        greatest(c_acctbal, 0.0) AS balance_floor0
      FROM customer WHERE c_custkey % 25 = 0
      ORDER BY c_custkey
    """))

  /** As-of join (graft.operators.AsofJoin): every 'view' event enriched
    * with the user's most recent at-or-before 'purchase' value — verified
    * against DuckDB's native ASOF JOIN. */
  private val q42 = QueryDef(
    "q42_asof_join",
    (spark, dir) => {
      val events = Tables.events(spark, dir).filter(col("ts").isNotNull)
      val views = events.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = events.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("pts"), cents(col("value")).as("purchase_cents"))
      graft.operators.AsofJoin.asofJoin(
        views, purchases, Seq("user_id"), "ts", "pts", Seq("purchase_cents"))
        .select(col("event_id"), col("user_id"), epochS(col("ts")).as("t"), col("purchase_cents"))
        .orderBy("event_id")
    },
    Some("""
      SELECT v.event_id, v.user_id,
        CAST(epoch_us(v.ts) // 1000000 AS BIGINT) AS t,
        p.purchase_cents
      FROM (SELECT event_id, user_id, ts FROM events
            WHERE ts IS NOT NULL AND event_type = 'view') v
      ASOF LEFT JOIN (SELECT user_id AS pu, ts AS pts,
                        CAST(floor(value*100 + 0.5) AS BIGINT) AS purchase_cents
                      FROM events WHERE ts IS NOT NULL AND event_type = 'purchase') p
        ON v.user_id = p.pu AND v.ts >= p.pts
      ORDER BY v.event_id
    """))

  /** Exact group variance/stddev from integer moments: Σx and Σx² are
    * exact 64-bit sums of cents, so the one double evaluation
    * ss/n − (s/n)² is bit-identical across engines (same IEEE op
    * sequence). Range note: Σx² of cents fits a long through ~10^12 rows
    * per group at 2-decimal values; beyond that, per-partition Welford
    * merging (graft.functions.TypedStats) or decimal moments take over.
    */
  private val q55 = QueryDef(
    "q55_group_variance",
    (spark, dir) => {
      Tables.lineitem(spark, dir)
        .select(col("l_returnflag"), cents(col("l_quantity")).as("qc"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(col("qc")).as("s"),
          sum(col("qc") * col("qc")).as("ss"))
        .select(col("l_returnflag"), col("n"),
          (col("ss").cast("double") / col("n") -
            (col("s").cast("double") / col("n")) * (col("s").cast("double") / col("n")))
            .as("var_cents2"),
          sqrt(col("ss").cast("double") / col("n") -
            (col("s").cast("double") / col("n")) * (col("s").cast("double") / col("n")))
            .as("stddev_cents"))
        .orderBy("l_returnflag")
    },
    Some("""
      WITH m AS (
        SELECT l_returnflag, count(*) AS n,
          CAST(sum(CAST(floor(l_quantity*100 + 0.5) AS BIGINT)) AS BIGINT) AS s,
          CAST(sum(CAST(floor(l_quantity*100 + 0.5) AS BIGINT)
                 * CAST(floor(l_quantity*100 + 0.5) AS BIGINT)) AS BIGINT) AS ss
        FROM lineitem GROUP BY l_returnflag)
      SELECT l_returnflag, n,
        CAST(ss AS DOUBLE)/n - (CAST(s AS DOUBLE)/n)*(CAST(s AS DOUBLE)/n) AS var_cents2,
        sqrt(CAST(ss AS DOUBLE)/n - (CAST(s AS DOUBLE)/n)*(CAST(s AS DOUBLE)/n)) AS stddev_cents
      FROM m ORDER BY l_returnflag
    """))

  /** Percent-of-total (ratio_to_report) analytics: per-nation supplier
    * revenue, each nation's share of the grand total, and its revenue
    * rank. The share window runs over the ALREADY-AGGREGATED nation
    * table (25 rows) — the corpus aggregates once, keyed; only the tiny
    * result sees unpartitioned windows. Integer cents end-to-end, one
    * division for the share. */
  private val q90 = QueryDef(
    "q90_revenue_share",
    (spark, dir) => {
      val everything = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.lineitem(spark, dir)
        .join(broadcast(Tables.supplier(spark, dir)), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(cents(col("l_extendedprice"))).as("revenue_cents"))
        .withColumn("total_cents", sum(col("revenue_cents")).over(everything))
        .withColumn("share", col("revenue_cents").cast("double") / col("total_cents"))
        .withColumn("rnk", row_number().over(
          Window.orderBy(col("revenue_cents").desc, col("n_name"))).cast("long"))
        .select(col("n_name"), col("revenue_cents"), col("share"), col("rnk"))
        .orderBy("rnk")
    },
    Some("""
      WITH r AS (
        SELECT n_name,
          CAST(sum(CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        GROUP BY n_name)
      SELECT n_name, revenue_cents,
        CAST(revenue_cents AS DOUBLE) /
          CAST(sum(revenue_cents) OVER () AS BIGINT) AS share,
        CAST(row_number() OVER (ORDER BY revenue_cents DESC, n_name) AS BIGINT) AS rnk
      FROM r ORDER BY rnk
    """))

  /** One-scan feature correlation matrix: exact Pearson r for all 6
    * pairs of 4 lineitem numerics (quantity, whole-dollar price,
    * discount bp, tax bp) — the feature-redundancy screen a training
    * pipeline runs before model fitting, and the multi-pair extension
    * of q66's single-statistic pattern. A naive build scans the table
    * once per pair; this plans ONE scan: `stack` (Expand) emits the 6
    * (pair, x, y) projections per row, partial aggregation collapses
    * them map-side, so 6 moment-sum rows per partition shuffle — never
    * the table. All five sums stay below 2^53 at verification scale
    * (dollar prices, not cents — the q66 bound argument), so their
    * double images are exact and the final r is the same IEEE op
    * sequence in both engines. */
  private val q180 = QueryDef(
    "q180_correlation_matrix",
    (spark, dir) => {
      val base = Tables.lineitem(spark, dir).select(
        floor(col("l_quantity") + 0.5).cast("long").as("qty"),
        floor(col("l_extendedprice") + 0.5).cast("long").as("price"),
        floor(col("l_discount") * 10000 + 0.5).cast("long").as("disc"),
        floor(col("l_tax") * 10000 + 0.5).cast("long").as("tax"))
      val pairs = base.select(expr(
        """stack(6,
             'disc_tax',  disc,  tax,
             'qty_disc',  qty,   disc,
             'qty_price', qty,   price,
             'qty_tax',   qty,   tax,
             'price_disc', price, disc,
             'price_tax', price, tax) AS (pair, x, y)"""))
      val d = (c: org.apache.spark.sql.Column) => c.cast("double")
      pairs.groupBy(col("pair"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .select(col("pair"), col("n"),
          ((d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))) /
            sqrt((d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))) *
              (d(col("n")) * d(col("syy")) - d(col("sy")) * d(col("sy"))))).as("corr"))
        .orderBy("pair")
    },
    Some("""
      WITH base AS (
        SELECT CAST(floor(l_quantity + 0.5) AS BIGINT) AS qty,
          CAST(floor(l_extendedprice + 0.5) AS BIGINT) AS price,
          CAST(floor(l_discount*10000 + 0.5) AS BIGINT) AS disc,
          CAST(floor(l_tax*10000 + 0.5) AS BIGINT) AS tax
        FROM lineitem),
      p AS (
        SELECT 'disc_tax' AS pair, disc AS x, tax AS y FROM base UNION ALL
        SELECT 'qty_disc', qty, disc FROM base UNION ALL
        SELECT 'qty_price', qty, price FROM base UNION ALL
        SELECT 'qty_tax', qty, tax FROM base UNION ALL
        SELECT 'price_disc', price, disc FROM base UNION ALL
        SELECT 'price_tax', price, tax FROM base),
      m AS (
        SELECT pair, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
          CAST(sum(x*y) AS BIGINT) AS sxy,
          CAST(sum(x*x) AS BIGINT) AS sxx, CAST(sum(y*y) AS BIGINT) AS syy
        FROM p GROUP BY pair)
      SELECT pair, n,
        (CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)) /
          sqrt((CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) *
               (CAST(n AS DOUBLE)*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE)))
          AS corr
      FROM m ORDER BY pair
    """))

  /** Mann-Whitney rank test as AUC: per order status, does the
    * URGENT+HIGH priority class pay more than LOW? U is computed by the
    * histogram identity (Σ over value bins of n_hi·(2·cum_lo_below +
    * lo_here), doubled so midrank ties stay integer), and AUC =
    * U/(n_hi·n_lo) is the probability a random high-priority order
    * outranks a random low one — the nonparametric A/B readout that
    * needs no normality assumption, complementing q163's mean-based
    * readout and q120's KS distance.
    *
    * Scale shape: the corpus collapses to a (status, k$-bin) histogram
    * first (bin-granular rank recipe, as q36), so the cumulative window
    * runs over ≤ a few hundred bounded-value rows per status — the raw
    * table is never sorted. */
  private val q181 = QueryDef(
    "q181_mann_whitney_auc",
    (spark, dir) => {
      val f = Tables.orders(spark, dir)
        .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH", "5-LOW"))
        .select(col("o_orderstatus").as("status"),
          when(col("o_orderpriority") === "5-LOW", lit(0L)).otherwise(lit(1L)).as("hi"),
          expr("CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) div 100000").as("bin"))
      val hist = f.groupBy(col("status"), col("bin"))
        .agg(sum(col("hi")).as("na"), sum(lit(1L) - col("hi")).as("nb"))
      val w = Window.partitionBy(col("status")).orderBy(col("bin"))
        .rowsBetween(Window.unboundedPreceding, -1)
      hist
        .withColumn("cum_b", coalesce(sum(col("nb")).over(w), lit(0L)))
        .groupBy(col("status"))
        .agg(sum(col("na")).as("n_hi"), sum(col("nb")).as("n_lo"),
          sum(col("na") * (lit(2L) * col("cum_b") + col("nb"))).as("u2"))
        .filter(col("n_hi") > 0 && col("n_lo") > 0)
        .select(col("status"), col("n_hi"), col("n_lo"), col("u2"),
          (col("u2").cast("double") /
            (lit(2.0) * col("n_hi").cast("double") * col("n_lo").cast("double"))).as("auc"))
        .orderBy("status")
    },
    Some("""
      WITH f AS (
        SELECT o_orderstatus AS status,
          CASE WHEN o_orderpriority = '5-LOW' THEN 0 ELSE 1 END AS hi,
          CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) // 100000 AS bin
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '2-HIGH', '5-LOW')),
      h AS (
        SELECT status, bin,
          CAST(sum(hi) AS BIGINT) AS na, CAST(sum(1 - hi) AS BIGINT) AS nb
        FROM f GROUP BY status, bin),
      c AS (
        SELECT status, na, nb,
          coalesce(sum(nb) OVER (PARTITION BY status ORDER BY bin
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_b
        FROM h),
      g AS (
        SELECT status, CAST(sum(na) AS BIGINT) AS n_hi, CAST(sum(nb) AS BIGINT) AS n_lo,
          CAST(sum(na * (2*cum_b + nb)) AS BIGINT) AS u2
        FROM c GROUP BY status)
      SELECT status, n_hi, n_lo, u2,
        CAST(u2 AS DOUBLE) / (2.0 * CAST(n_hi AS DOUBLE) * CAST(n_lo AS DOUBLE)) AS auc
      FROM g WHERE n_hi > 0 AND n_lo > 0
      ORDER BY status
    """))

  /** Theil-Sen robust trend: per order-year, the median of all pairwise
    * monthly-revenue slopes — the estimator that shrugs off the outlier
    * months OLS (q141) chases. Slopes are quantized to milli-cents per
    * month BEFORE the median (both engines apply the same truncating
    * integer division, so the order statistic is over identical
    * integers), and the lower median is picked by a deterministic
    * (slope, m1, m2) rank — no doubles anywhere.
    *
    * Scale shape: the corpus collapses to a (year, month) census first,
    * so the pairwise join is over ≤ 12 rows per year — C(12,2) = 66
    * slope rows per year regardless of corpus size. The DECIMAL(38,0)
    * image of the revenue delta keeps the ×1000 from wrapping at any
    * scale. */
  private val q186 = QueryDef(
    "q186_theil_sen_trend",
    (spark, dir) => {
      val monthly = Tables.orders(spark, dir)
        .select(year(col("o_orderdate")).cast("long").as("yr"),
          month(col("o_orderdate")).cast("long").as("mo"),
          cents(col("o_totalprice")).as("c"))
        .groupBy(col("yr"), col("mo")).agg(sum(col("c")).as("rev"))
      val slopes = monthly.select(col("yr"), col("mo").as("m1"), col("rev").as("r1"))
        .join(monthly.select(col("yr"), col("mo").as("m2"), col("rev").as("r2")),
          Seq("yr"))
        .filter(col("m1") < col("m2"))
        .select(col("yr"), col("m1"), col("m2"),
          expr("CAST(CAST(r2 - r1 AS DECIMAL(38,0)) * 1000 DIV (m2 - m1) AS BIGINT)")
            .as("s"))
      val wR = Window.partitionBy(col("yr")).orderBy(col("s"), col("m1"), col("m2"))
      val wN = Window.partitionBy(col("yr"))
      slopes
        .withColumn("rn", row_number().over(wR).cast("long"))
        .withColumn("n_pairs", count(lit(1)).over(wN))
        .filter(col("rn") === expr("(n_pairs + 1) div 2"))
        .select(col("yr"), col("n_pairs"), col("s").as("slope_milli"))
        .orderBy(col("yr"))
    },
    Some("""
      WITH m AS (
        SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
          CAST(month(o_orderdate) AS BIGINT) AS mo,
          CAST(sum(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)) AS BIGINT) AS rev
        FROM orders GROUP BY 1, 2),
      p AS (
        SELECT a.yr, a.mo AS m1, b.mo AS m2,
          CAST(CAST(b.rev - a.rev AS HUGEINT) * 1000 // (b.mo - a.mo) AS BIGINT) AS s
        FROM m a JOIN m b ON a.yr = b.yr AND a.mo < b.mo),
      r AS (
        SELECT yr, s, m1, m2,
          CAST(row_number() OVER (PARTITION BY yr ORDER BY s, m1, m2) AS BIGINT) AS rn,
          CAST(count(*) OVER (PARTITION BY yr) AS BIGINT) AS n_pairs
        FROM p)
      SELECT yr, n_pairs, s AS slope_milli
      FROM r WHERE rn = (n_pairs + 1) // 2 ORDER BY yr
    """))

  /** Herfindahl–Hirschman supplier-concentration index per nation: each
    * supplier's revenue share of its nation in exact ppm, HHI = Σ share²
    * rescaled back to ppm (1 000 000 = monopoly), banded at the antitrust
    * thresholds (0.25 / 0.15 of the 0–1 scale). Complements q90 (share of
    * grand total) and q117 (Gini): HHI is the concentration statistic
    * that detects ONE dominant supplier even when the rest are equal.
    *
    * Scale shape: one lineitem scan → hash aggregate keyed by supplier
    * (broadcast nation lookup), then windows over the supplier-count-sized
    * table only. Share numerators run in decimal(38,0) — cents·10^6
    * passes 2^63 near the 100 TB design point — but each share is ≤10^6,
    * so the Σ share² accumulator stays a cheap Long (≤10^12·n). */
  private val q205 = QueryDef(
    "q205_hhi_concentration",
    (spark, dir) => {
      val bySupp = Tables.lineitem(spark, dir)
        .join(broadcast(Tables.supplier(spark, dir)),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(spark, dir)),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), col("s_suppkey"))
        .agg(sum(cents(col("l_extendedprice"))).as("rev"))
      val w = Window.partitionBy(col("n_name"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      bySupp
        .withColumn("nat_rev", sum(col("rev")).over(w))
        .withColumn("share_ppm",
          expr("CAST(CAST(rev AS DECIMAL(38,0)) * 1000000 DIV nat_rev AS BIGINT)"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_suppliers"),
          max(col("nat_rev")).as("nation_rev_cents"),
          expr("CAST(sum(share_ppm * share_ppm) DIV 1000000 AS BIGINT)")
            .as("hhi_ppm"))
        .withColumn("band",
          when(col("hhi_ppm") >= 250000L, "concentrated")
            .when(col("hhi_ppm") >= 150000L, "moderate")
            .otherwise("unconcentrated"))
        .select(col("n_name"), col("n_suppliers"), col("nation_rev_cents"),
          col("hhi_ppm"), col("band"))
        .orderBy(col("hhi_ppm").desc, col("n_name"))
    },
    Some("""
      WITH s AS (
        SELECT n_name, s_suppkey,
          CAST(sum(CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT)) AS BIGINT) AS rev
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        GROUP BY 1, 2),
      sh AS (
        SELECT n_name, rev,
          CAST(sum(rev) OVER (PARTITION BY n_name) AS BIGINT) AS nat_rev,
          CAST(CAST(rev AS HUGEINT) * 1000000
            // sum(rev) OVER (PARTITION BY n_name) AS BIGINT) AS share_ppm
        FROM s),
      h AS (
        SELECT n_name, CAST(count(*) AS BIGINT) AS n_suppliers,
          CAST(max(nat_rev) AS BIGINT) AS nation_rev_cents,
          CAST(sum(share_ppm * share_ppm) // 1000000 AS BIGINT) AS hhi_ppm
        FROM sh GROUP BY n_name)
      SELECT n_name, n_suppliers, nation_rev_cents, hhi_ppm,
        CASE WHEN hhi_ppm >= 250000 THEN 'concentrated'
             WHEN hhi_ppm >= 150000 THEN 'moderate'
             ELSE 'unconcentrated' END AS band
      FROM h ORDER BY hhi_ppm DESC, n_name
    """))

  /** Right-censored survival life table for repeat purchase: per
    * customer, the days from first to second order (event) or from
    * first order to the dataset's last date (censored — still "alive"
    * without a repeat when observation stopped), bucketed into 30-day
    * intervals. The table reports each interval's risk set (customers
    * still unresolved entering it, the suffix-sum of later exits),
    * events, censorings, and the discrete hazard d/n in exact ppm —
    * the Kaplan–Meier life table WITHOUT the cumulative product, whose
    * float chain the integer contract forbids; hazard-per-bucket is
    * the estimator's sufficient statistic anyway. Censoring cutoff is
    * data-derived (max order date), so every scale factor is
    * self-consistent.
    *
    * Scale shape: one orders scan → per-customer first/second dates via
    * one partitioned window; the life table and its suffix-sum window
    * run over ≤80 bucket rows. Never a global sort of customers. */
  private val q216 = QueryDef(
    "q216_survival_life_table",
    (spark, dir) => {
      val w = Window.partitionBy(col("cust")).orderBy(col("day"), col("okey"))
      val firsts = Tables.orders(spark, dir)
        .select(col("o_custkey").as("cust"), col("o_orderkey").as("okey"),
          (epochS(col("o_orderdate")) / 86400).cast("long").as("day"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .groupBy(col("cust"))
        .agg(min(when(col("rn") === 1, col("day"))).as("d1"),
          min(when(col("rn") === 2, col("day"))).as("d2"))
      val cutoff = Tables.orders(spark, dir)
        .agg(max((epochS(col("o_orderdate")) / 86400).cast("long")).as("cens"))
      val exits = firsts.crossJoin(broadcast(cutoff))
        .select(
          expr("coalesce(d2 - d1, cens - d1) div 30").as("bucket"),
          when(col("d2").isNotNull, 1L).otherwise(0L).as("ev"))
        .groupBy(col("bucket"))
        .agg(sum(col("ev")).as("n_events"),
          sum(lit(1L) - col("ev")).as("n_censored"))
      val atRisk = Window.orderBy(col("bucket").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      exits
        .withColumn("n_at_risk", sum(col("n_events") + col("n_censored")).over(atRisk))
        .select(col("bucket"), col("n_at_risk"), col("n_events"), col("n_censored"),
          expr("n_events * 1000000L div n_at_risk").as("hazard_ppm"))
        .orderBy(col("bucket"))
    },
    Some("""
      WITH o AS (
        SELECT o_custkey AS cust, o_orderkey AS okey,
          CAST(epoch_ms(o_orderdate) // 1000 // 86400 AS BIGINT) AS day
        FROM orders),
      r AS (
        SELECT cust, day,
          row_number() OVER (PARTITION BY cust ORDER BY day, okey) AS rn
        FROM o),
      f AS (
        SELECT cust,
          min(CASE WHEN rn = 1 THEN day END) AS d1,
          min(CASE WHEN rn = 2 THEN day END) AS d2
        FROM r WHERE rn <= 2 GROUP BY cust),
      c AS (SELECT max(day) AS cens FROM o),
      e AS (
        SELECT coalesce(d2 - d1, cens - d1) // 30 AS bucket,
          CASE WHEN d2 IS NOT NULL THEN 1 ELSE 0 END AS ev
        FROM f CROSS JOIN c),
      x AS (
        SELECT bucket, CAST(sum(ev) AS BIGINT) AS n_events,
          CAST(sum(1 - ev) AS BIGINT) AS n_censored
        FROM e GROUP BY bucket),
      t AS (
        SELECT bucket, n_events, n_censored,
          CAST(sum(n_events + n_censored) OVER (ORDER BY bucket DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_at_risk
        FROM x)
      SELECT bucket, n_at_risk, n_events, n_censored,
        CAST(n_events * 1000000 // n_at_risk AS BIGINT) AS hazard_ppm
      FROM t ORDER BY bucket
    """))

  /** Exact grouped mode with tie census: per return flag, the most
    * frequent lineitem quantity (ties resolved to the smallest value —
    * stated, not accidental), its frequency, and HOW MANY values tie at
    * that frequency. The tie count is the honest part: a mode reported
    * without it reads as "the typical value" even when 12 values share
    * the crown. Heavy hitters (q62) answer this approximately with a
    * sketch; this is the exact form for when the group×value universe
    * fits a shuffle.
    *
    * Scale shape: hash aggregate to (flag, quantity) counts — the only
    * thing that shuffles — then windows over that histogram. */
  private val q218 = QueryDef(
    "q218_grouped_mode",
    (spark, dir) => {
      val counts = Tables.lineitem(spark, dir)
        .select(col("l_returnflag").as("flag"),
          floor(col("l_quantity") + lit(0.5d)).cast("long").as("qty"))
        .groupBy(col("flag"), col("qty")).agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("flag"))
      counts
        .withColumn("mx", max(col("n")).over(w))
        .filter(col("n") === col("mx"))
        .groupBy(col("flag"))
        .agg(min(col("qty")).as("mode_qty"), max(col("n")).as("mode_count"),
          count(lit(1)).as("n_tied"))
        .orderBy(col("flag"))
    },
    Some("""
      WITH c AS (
        SELECT l_returnflag AS flag,
          CAST(floor(l_quantity + 0.5) AS BIGINT) AS qty,
          CAST(count(*) AS BIGINT) AS n
        FROM lineitem GROUP BY 1, 2),
      m AS (
        SELECT flag, qty, n, max(n) OVER (PARTITION BY flag) AS mx
        FROM c)
      SELECT flag, CAST(min(qty) AS BIGINT) AS mode_qty,
        CAST(max(n) AS BIGINT) AS mode_count,
        CAST(count(*) AS BIGINT) AS n_tied
      FROM m WHERE n = mx GROUP BY flag ORDER BY flag
    """))

  /** Rank concordance between two brand orderings — does revenue rank
    * agree with volume rank? Counts concordant / discordant / tied pairs
    * over all brand pairs and reports Kendall-style agreement as
    * Goodman-Kruskal gamma = (C−D)/(C+D) in ppm — the tie-robust
    * integer-exact member of the Kendall family (tau-b needs a sqrt).
    * Complements q180 (linear correlation on row-level values) and q189
    * (RBO on top-k lists) with a whole-ranking, outlier-immune measure.
    *
    * Scale shape: the corpus collapses to one row per brand (~25) before
    * any pairing; the `<` self-join is over that vocabulary-sized
    * aggregate — the sanctioned broadcast nested-loop shape, O(brands²)
    * = hundreds of rows, independent of corpus size. The gamma division
    * keeps both operands non-negative (sign split out) so Spark DIV and
    * DuckDB // cannot disagree on negative truncation. */
  private val q224 = QueryDef(
    "q224_rank_concordance",
    (spark, dir) => {
      val byBrand = Tables.lineitem(spark, dir)
        .join(Tables.part(spark, dir),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand").as("brand"))
        .agg(sum(cents(col("l_extendedprice") * (lit(1d) - col("l_discount"))))
            .as("rev_c"),
          sum(floor(col("l_quantity") + lit(0.5d)).cast("long")).as("qty"))
      val a = byBrand.select(col("brand").as("brand_a"),
        col("rev_c").as("rev_a"), col("qty").as("qty_a"))
      val b = byBrand.select(col("brand").as("brand_b"),
        col("rev_c").as("rev_b"), col("qty").as("qty_b"))
      a.join(broadcast(b), col("brand_a") < col("brand_b"))
        .select(
          when((col("rev_a") - col("rev_b")) * (col("qty_a") - col("qty_b")) > 0, 1L)
            .otherwise(0L).as("c"),
          when((col("rev_a") - col("rev_b")) * (col("qty_a") - col("qty_b")) < 0, 1L)
            .otherwise(0L).as("d"))
        .agg(count(lit(1)).as("n_pairs"), sum(col("c")).as("concordant"),
          sum(col("d")).as("discordant"))
        .select(col("n_pairs"), col("concordant"), col("discordant"),
          (col("n_pairs") - col("concordant") - col("discordant")).as("ties"),
          expr("""CAST(CASE
                    WHEN concordant + discordant = 0 THEN 0
                    WHEN concordant >= discordant THEN
                      (concordant - discordant) * 1000000 DIV (concordant + discordant)
                    ELSE
                      -((discordant - concordant) * 1000000 DIV (concordant + discordant))
                  END AS BIGINT)""").as("gamma_ppm"))
    },
    Some("""
      WITH m AS (
        SELECT p_brand AS brand,
          CAST(sum(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)) AS BIGINT)
            AS rev_c,
          CAST(sum(floor(l_quantity + 0.5)) AS BIGINT) AS qty
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand),
      p AS (
        SELECT
          CASE WHEN (a.rev_c - b.rev_c) * (a.qty - b.qty) > 0 THEN 1 ELSE 0 END AS c,
          CASE WHEN (a.rev_c - b.rev_c) * (a.qty - b.qty) < 0 THEN 1 ELSE 0 END AS d
        FROM m a JOIN m b ON a.brand < b.brand),
      s AS (
        SELECT CAST(count(*) AS BIGINT) AS n_pairs,
          CAST(sum(c) AS BIGINT) AS concordant,
          CAST(sum(d) AS BIGINT) AS discordant
        FROM p)
      SELECT n_pairs, concordant, discordant,
        n_pairs - concordant - discordant AS ties,
        CAST(CASE
          WHEN concordant + discordant = 0 THEN 0
          WHEN concordant >= discordant THEN
            (concordant - discordant) * 1000000 // (concordant + discordant)
          ELSE
            -((discordant - concordant) * 1000000 // (concordant + discordant))
        END AS BIGINT) AS gamma_ppm
      FROM s
    """))

  /** Per-brand price bands — exact P10/P50/P90 of net unit price over a
    * near-continuous cents domain, via [[graft.operators.RankSelect]]'s
    * two-level selection (coarse $100 bins locate each percentile's
    * bin; only those bins get cent-exact refinement). The pricing-page
    * summary (floor / typical / premium) that q36 cannot produce
    * scale-safely when the value domain is unbounded: its
    * histogram-window form is exactly what RankSelect replaces.
    *
    * Scale shape: windows touch the ~1100-bin coarse histogram and the
    * ~0.3% of rows inside selected bins, partitioned by (brand, bin) —
    * parallelism |brands|·|selected bins|, never |brands|. */
  private val q242 = QueryDef(
    "q242_brand_price_bands",
    (spark, dir) => {
      val base = Tables.lineitem(spark, dir)
        .join(Tables.part(spark, dir), col("l_partkey") === col("p_partkey"))
        .select(col("p_brand").as("brand"),
          cents(col("l_extendedprice") * (lit(1d) - col("l_discount"))).as("pc"))
      graft.operators.RankSelect
        .percentiles(base, "brand", "pc", Seq(1000, 5000, 9000), binWidth = 10000)
        .select(col("brand"), col("n"), col("p_1000").as("p10_cents"),
          col("p_5000").as("p50_cents"), col("p_9000").as("p90_cents"))
        .orderBy(col("brand"))
    },
    Some("""
      WITH b AS (
        SELECT p_brand AS brand,
          CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT) AS pc
        FROM lineitem JOIN part ON l_partkey = p_partkey),
      m AS (
        SELECT brand, pc, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY brand, pc),
      w AS (
        SELECT brand, pc,
          CAST(sum(cnt) OVER (PARTITION BY brand ORDER BY pc) AS BIGINT) AS cum,
          CAST(sum(cnt) OVER (PARTITION BY brand) AS BIGINT) AS n
        FROM m)
      SELECT brand, max(n) AS n,
        min(CASE WHEN cum * 10000 >= 1000 * n THEN pc END) AS p10_cents,
        min(CASE WHEN cum * 10000 >= 5000 * n THEN pc END) AS p50_cents,
        min(CASE WHEN cum * 10000 >= 9000 * n THEN pc END) AS p90_cents
      FROM w GROUP BY brand ORDER BY brand
    """))

  /** Monthly percentile ribbon — exact P25/P50/P90 of order value per
    * month via [[graft.operators.RankSelect]] over the near-continuous
    * cents domain: the time-series spread chart (median line inside a
    * quantile band) every revenue dashboard draws. Third RankSelect
    * consumer, this time with ~80 month groups: the coarse window runs
    * over months × $100-bins, refinement touches only the three
    * selected bins per month.
    *
    * Scale shape: RankSelect's two-level selection — no per-month full
    * sort; parallelism months × selected bins. */
  private val q264 = QueryDef(
    "q264_monthly_value_ribbon",
    (spark, dir) => {
      import graft.functions.Deterministic.cents
      val base = Tables.orders(spark, dir)
        .select((year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
            .cast("long").as("month"),
          cents(col("o_totalprice")).as("pc"))
      graft.operators.RankSelect
        .percentiles(base, "month", "pc", Seq(2500, 5000, 9000), binWidth = 10000)
        .select(col("month"), col("n"), col("p_2500").as("p25_cents"),
          col("p_5000").as("p50_cents"), col("p_9000").as("p90_cents"))
        .orderBy(col("month"))
    },
    Some("""
      WITH b AS (
        SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS month,
          CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS pc
        FROM orders),
      m AS (
        SELECT month, pc, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY month, pc),
      w AS (
        SELECT month, pc,
          CAST(sum(cnt) OVER (PARTITION BY month ORDER BY pc) AS BIGINT) AS cum,
          CAST(sum(cnt) OVER (PARTITION BY month) AS BIGINT) AS n
        FROM m)
      SELECT month, max(n) AS n,
        min(CASE WHEN cum * 10000 >= 2500 * n THEN pc END) AS p25_cents,
        min(CASE WHEN cum * 10000 >= 5000 * n THEN pc END) AS p50_cents,
        min(CASE WHEN cum * 10000 >= 9000 * n THEN pc END) AS p90_cents
      FROM w GROUP BY month ORDER BY month
    """))

  def defs: Seq[QueryDef] =
    Seq(q36, q37, q38, q39, q40, q41, q42, q55, q90, q180, q181, q186, q205,
      q216, q218, q224, q242, q264)
}
