package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Data-quality audit operators (round 3): exact statistical outlier
  * detection and referential-integrity census — the checks a pipeline
  * runs before trusting a new snapshot.
  */
object AuditQueries extends QueryGroup {

  /** Exact 3σ outlier detection with NO floating point: x is an outlier
    * of its group iff (x−μ)² > 9σ², which cross-multiplies to the
    * all-integer test (n·x − Sx)² > 9·(n·Sxx − Sx²). Both sides are
    * evaluated in 38-digit decimals (Spark) / HUGEINT (DuckDB) — exact
    * up to n·x² < 10^38, far past any per-group cardinality here — so
    * the flagged set is bit-identical across engines and partitionings,
    * where a double-based z-score would wobble at the boundary.
    * Dataflow: one grouped moment aggregation (3 integer sums),
    * broadcast back onto the scan, narrow filter. */
  private val q81 = QueryDef(
    "q81_outlier_detection",
    (spark, dir) => {
      import graft.functions.Deterministic.cents
      val d = (c: Column) => c.cast("decimal(19,0)")
      val base = Tables.events(spark, dir)
        .select(col("event_type"), col("event_id"), cents(col("value")).as("x"))
      val moments = base
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("x") * col("x")).as("sxx"))
      val lhs = (d(col("n")) * d(col("x")) - d(col("sx"))) *
        (d(col("n")) * d(col("x")) - d(col("sx")))
      val rhs = lit(9) * (d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx")))
      base
        .join(broadcast(moments), Seq("event_type"))
        .filter(lhs > rhs)
        .select(col("event_type"), col("event_id"), col("x"), col("n"))
        .orderBy("event_type", "event_id")
    },
    Some("""
      WITH b AS (
        SELECT event_type, event_id,
          CAST(floor(value*100 + 0.5) AS BIGINT) AS x
        FROM events),
      m AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(x) AS BIGINT) AS sx, CAST(sum(x*x) AS BIGINT) AS sxx
        FROM b GROUP BY 1)
      SELECT b.event_type, b.event_id, b.x, m.n
      FROM b JOIN m USING (event_type)
      WHERE (CAST(m.n AS HUGEINT)*b.x - m.sx) * (CAST(m.n AS HUGEINT)*b.x - m.sx)
            > 9 * (CAST(m.n AS HUGEINT)*m.sxx - CAST(m.sx AS HUGEINT)*m.sx)
      ORDER BY event_type, event_id
    """))

  /** Referential-integrity census: orphan counts for every foreign-key
    * edge of the schema, in one result. Each edge is a LEFT ANTI join
    * (parent keys broadcast when dimension-sized) feeding a count — the
    * audit a pipeline runs on every new snapshot before joining against
    * it. All-zero counts are the expected healthy result; the query
    * proves it rather than assuming it. */
  private val q83 = QueryDef(
    "q83_fk_audit",
    (spark, dir) => {
      // one pass per edge: LEFT join against the (unique) parent key set,
      // count rows and parent-misses in the same aggregation — no
      // driver-side count, no second scan of the child
      def orphans(name: String, child: DataFrame, childKey: String,
                  parent: DataFrame, parentKey: String): DataFrame =
        child.select(col(childKey).as("k"))
          .join(parent.select(col(parentKey).as("k"), lit(1).as("hit")), Seq("k"), "left")
          .agg(count(lit(1)).as("n_child_rows"),
            count(when(col("hit").isNull, 1)).as("n_orphans"))
          .select(lit(name).as("fk_edge"), col("n_child_rows"), col("n_orphans"))
      val li = Tables.lineitem(spark, dir); val o = Tables.orders(spark, dir)
      val c = Tables.customer(spark, dir); val su = Tables.supplier(spark, dir)
      val p = Tables.part(spark, dir); val n = Tables.nation(spark, dir)
      val r = Tables.region(spark, dir)
      Seq(
        orphans("customer.nation", c, "c_nationkey", n, "n_nationkey"),
        orphans("lineitem.orders", li, "l_orderkey", o, "o_orderkey"),
        orphans("lineitem.part", li, "l_partkey", p, "p_partkey"),
        orphans("lineitem.supplier", li, "l_suppkey", su, "s_suppkey"),
        orphans("nation.region", n, "n_regionkey", r, "r_regionkey"),
        orphans("orders.customer", o, "o_custkey", c, "c_custkey"),
        orphans("supplier.nation", su, "s_nationkey", n, "n_nationkey"))
        .reduce(_ union _)
        .orderBy("fk_edge")
    },
    Some("""
      SELECT * FROM (
        SELECT 'customer.nation' AS fk_edge, CAST(count(*) AS BIGINT) AS n_child_rows,
          CAST(count(*) FILTER (c_nationkey NOT IN (SELECT n_nationkey FROM nation)) AS BIGINT) AS n_orphans
        FROM customer
        UNION ALL
        SELECT 'lineitem.orders', CAST(count(*) AS BIGINT),
          CAST(count(*) FILTER (l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'lineitem.part', CAST(count(*) AS BIGINT),
          CAST(count(*) FILTER (l_partkey NOT IN (SELECT p_partkey FROM part)) AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'lineitem.supplier', CAST(count(*) AS BIGINT),
          CAST(count(*) FILTER (l_suppkey NOT IN (SELECT s_suppkey FROM supplier)) AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'nation.region', CAST(count(*) AS BIGINT),
          CAST(count(*) FILTER (n_regionkey NOT IN (SELECT r_regionkey FROM region)) AS BIGINT)
        FROM nation
        UNION ALL
        SELECT 'orders.customer', CAST(count(*) AS BIGINT),
          CAST(count(*) FILTER (o_custkey NOT IN (SELECT c_custkey FROM customer)) AS BIGINT)
        FROM orders
        UNION ALL
        SELECT 'supplier.nation', CAST(count(*) AS BIGINT),
          CAST(count(*) FILTER (s_nationkey NOT IN (SELECT n_nationkey FROM nation)) AS BIGINT)
        FROM supplier)
      ORDER BY fk_edge
    """))

  /** Incremental view maintenance (graft.operators.Incremental): the
    * revenue-by-status view is maintained as base (first half of the
    * month) merged with a delta batch (second half) — and must be
    * BIT-IDENTICAL to the full recompute, which is exactly what the
    * oracle computes. The merge cost is O(|groups|): history is never
    * rescanned. */
  private val q84 = QueryDef(
    "q84_incremental_agg",
    (spark, dir) => {
      import graft.functions.Deterministic.{cents, epochS}
      import graft.operators.Incremental
      val ev = Tables.events(spark, dir)
        .select(col("event_type"), cents(col("value")).as("vc"),
          epochS(col("ts")).as("ts_s"))
      val cut = 1705276800L // 2024-01-15T00:00:00Z
      val base = Incremental.aggState(ev.filter(col("ts_s") < cut), "event_type", "vc")
      val delta = Incremental.aggState(ev.filter(col("ts_s") >= cut), "event_type", "vc")
      Incremental.merge(Seq(base, delta))
        .select(col("event_type"), col("n"), col("sum_cents"))
        .orderBy("event_type")
    },
    Some("""
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CAST(floor(value*100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
      FROM events GROUP BY event_type ORDER BY event_type
    """))

  /** Every (purchase, view) pair of one user where the view falls in
    * the hour before the purchase: (user_id, purchase_id, p_ts, vc,
    * view_id, v_ts). A purchase joins only the views of its own and the
    * previous hour bucket, never the user's full history. The
    * attribution queries (q85 first touch, q105 position, q278 linear)
    * each aggregate it per purchase. */
  private[queries] def viewTouches(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Deterministic.{cents, epochS}
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        epochS(col("ts")).as("ts_s"), cents(col("value")).as("vc"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .withColumn("p_bucket", expr("ts_s div 3600"))
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts_s").as("p_ts"), col("vc"),
        explode(array(col("p_bucket") - 1, col("p_bucket"))).as("bucket"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        col("ts_s").as("v_ts"), expr("ts_s div 3600").as("bucket"))
    purchases
      .join(views, Seq("user_id", "bucket"))
      .filter(col("v_ts") <= col("p_ts") && col("v_ts") > col("p_ts") - 3600)
  }

  /** First-touch attribution: each purchase credited to the user's
    * FIRST 'view' within the preceding hour — min-over exact integer
    * timestamps via one keyed join bounded by a coarse time bucket
    * (purchases only join views in their own or previous hour bucket,
    * never the user's full history) + one hash aggregation. */
  private val q85 = QueryDef(
    "q85_first_touch_attribution",
    (spark, dir) => {
      viewTouches(spark, dir)
        .groupBy(col("user_id"), col("purchase_id"), col("p_ts"), col("vc"))
        .agg(min(struct(col("v_ts"), col("view_id"))).as("first"))
        .select(col("user_id"), col("purchase_id"), col("vc").as("value_cents"),
          col("first.view_id").as("attributed_view_id"),
          (col("p_ts") - col("first.v_ts")).as("lag_s"))
        .orderBy("user_id", "purchase_id")
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_id, event_type,
          CAST(epoch_ms(ts) // 1000 AS BIGINT) AS ts_s,
          CAST(floor(value*100 + 0.5) AS BIGINT) AS vc
        FROM events),
      p AS (
        SELECT user_id, event_id AS purchase_id, ts_s AS p_ts, vc
        FROM e WHERE event_type = 'purchase'),
      v AS (
        SELECT user_id, event_id AS view_id, ts_s AS v_ts
        FROM e WHERE event_type = 'view'),
      j AS (
        SELECT p.user_id, p.purchase_id, p.p_ts, p.vc, v.v_ts, v.view_id
        FROM p JOIN v ON p.user_id = v.user_id
          AND v.v_ts <= p.p_ts AND v.v_ts > p.p_ts - 3600
        QUALIFY row_number() OVER (
          PARTITION BY p.purchase_id ORDER BY v.v_ts, v.view_id) = 1)
      SELECT user_id, purchase_id, vc AS value_cents,
        view_id AS attributed_view_id,
        CAST(p_ts - v_ts AS BIGINT) AS lag_s
      FROM j ORDER BY user_id, purchase_id
    """))

  /** Rolling 7-day active users per day. Scale shape: each (user, day)
    * fact explodes to the ≤7 window-days it contributes to, then one
    * keyed distinct-count — an equi-join dataflow that partitions on
    * the window day. The ORACLE is deliberately the naive range join
    * (day BETWEEN d−6 AND d): the textbook formulation the explode
    * form replaces, proving the rewrite exact. */
  private val q91 = QueryDef(
    "q91_rolling_active_users",
    (spark, dir) => {
      import graft.functions.Deterministic.epochS
      val ud = Tables.events(spark, dir)
        .select(col("user_id"), epochS(col("ts")).as("ts_s"))
        .select(col("user_id"), expr("ts_s div 86400").as("day"))
        .distinct()
      val days = ud.select(col("day").as("w_day")).distinct()
      ud
        .select(col("user_id"), explode(sequence(col("day"), col("day") + 6)).as("w_day"))
        .join(broadcast(days), Seq("w_day"), "left_semi")
        .groupBy(col("w_day"))
        .agg(countDistinct(col("user_id")).as("wau"))
        .select(col("w_day").as("day"), col("wau"))
        .orderBy("day")
    },
    Some("""
      WITH e AS (
        SELECT DISTINCT user_id,
          CAST(epoch_ms(ts) // 1000 // 86400 AS BIGINT) AS day
        FROM events),
      days AS (SELECT DISTINCT day FROM e)
      SELECT d.day, CAST(count(DISTINCT e.user_id) AS BIGINT) AS wau
      FROM days d JOIN e ON e.day BETWEEN d.day - 6 AND d.day
      GROUP BY d.day ORDER BY d.day
    """))

  /** k-anonymity audit over quasi-identifiers — the privacy check a
    * pipeline runs before releasing a table: with QIDs (nation, market
    * segment, 1000-dollar balance band), how many equivalence classes
    * fall below k, and how many records they re-identify, for a ladder
    * of k thresholds. A class of size s < k means each of its s records
    * is distinguishable among fewer than k peers.
    *
    * Scale shape: one grouped count builds the equivalence classes
    * (cardinality ≤ |QID| combinations — vocabulary-sized, never
    * corpus-sized), then the 4-row k ladder cross-joins onto the class
    * table with conditional sums. The corpus is scanned once; rows
    * never move after the first keyed shuffle. Risk rate in exact ppm
    * (decimal division, truncating) so the oracle matches bitwise. */
  private val q149 = QueryDef(
    "q149_k_anonymity",
    (spark, dir) => {
      val classes = Tables.customer(spark, dir)
        .select(col("c_nationkey"), col("c_mktsegment"),
          expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) div 100000").as("bal_band"))
        .groupBy(col("c_nationkey"), col("c_mktsegment"), col("bal_band"))
        .agg(count(lit(1)).as("sz"))
      val ks = spark.range(0, 4).select(
        expr("element_at(array(2L, 5L, 10L, 25L), CAST(id AS INT) + 1)").as("k"))
      classes.crossJoin(broadcast(ks))
        .groupBy(col("k"))
        .agg(
          count(lit(1)).as("n_classes"),
          sum(col("sz")).as("n_records"),
          sum(when(col("sz") < col("k"), lit(1L)).otherwise(lit(0L))).as("classes_below"),
          sum(when(col("sz") < col("k"), col("sz")).otherwise(lit(0L))).as("records_at_risk"))
        .select(col("k"), col("n_classes"), col("classes_below"), col("records_at_risk"),
          expr("CAST(CAST(records_at_risk AS DECIMAL(38,0)) * 1000000 DIV n_records AS BIGINT)")
            .as("risk_ppm"))
        .orderBy(col("k"))
    },
    Some("""
      WITH classes AS (
        SELECT c_nationkey, c_mktsegment,
          CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) // 100000 AS bal_band,
          CAST(count(*) AS BIGINT) AS sz
        FROM customer GROUP BY 1, 2, 3),
      ks AS (SELECT unnest([2, 5, 10, 25]) AS k)
      SELECT CAST(k AS BIGINT) AS k,
        CAST(count(*) AS BIGINT) AS n_classes,
        CAST(sum(CASE WHEN sz < k THEN 1 ELSE 0 END) AS BIGINT) AS classes_below,
        CAST(sum(CASE WHEN sz < k THEN sz ELSE 0 END) AS BIGINT) AS records_at_risk,
        CAST(sum(CASE WHEN sz < k THEN sz ELSE 0 END) * 1000000
          // sum(sz) AS BIGINT) AS risk_ppm
      FROM classes CROSS JOIN ks
      GROUP BY k ORDER BY k
    """))

  /** Benford first-digit audit: the leading-digit distribution of order
    * totals vs Benford's law, the classic forensic screen for fabricated
    * or truncated financial data. The same census as q198 under this
    * query's column names: its oracle takes the first digit of integer
    * dollars, q198's that of integer cents, and the two agree for every
    * total of at least $1 (the smallest o_totalprice from sf0.001 to
    * sf0.1 is $1001.91). */
  private val q155 = QueryDef(
    "q155_benford_audit",
    (spark, dir) => benfordCensus(spark, dir)
      .select(col("digit"), col("n"), col("share_ppm").as("obs_ppm"),
        col("benford_ppm"), col("dev_ppm").as("abs_dev_ppm")),
    Some("""
      WITH d AS (
        SELECT CAST(substring(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
            // 100 AS VARCHAR), 1, 1) AS BIGINT) AS digit,
          count(*) AS n
        FROM orders GROUP BY 1),
      tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM d),
      b AS (SELECT unnest(generate_series(1, 9)) AS digit,
        unnest([301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153, 45757])
          AS benford_ppm)
      SELECT d.digit, CAST(d.n AS BIGINT) AS n,
        CAST(CAST(d.n AS HUGEINT) * 1000000 // t AS BIGINT) AS obs_ppm,
        CAST(b.benford_ppm AS BIGINT) AS benford_ppm,
        CAST(abs(CAST(CAST(d.n AS HUGEINT) * 1000000 // t AS BIGINT)
          - b.benford_ppm) AS BIGINT) AS abs_dev_ppm
      FROM d JOIN b ON b.digit = d.digit CROSS JOIN tot
      ORDER BY d.digit
    """))

  /** Financial reconciliation audit: does the denormalized
    * o_totalprice equal the sum of its line items' extended price net
    * of discount plus tax? Every term stays in exact integers — cents ×
    * (100−disc%) × (100+tax%) lands in 10⁻⁴-cent units, the recorded
    * total scales by 10⁴ to meet it — so "exact" means EXACT, and each
    * mismatched order lands in a magnitude bucket (≤1¢, ≤$1, >$1; plus
    * orders with no line items). The first query a warehouse runs after
    * an ETL change touches money columns.
    *
    * Scale shape: fact-to-fact equi-join on the order key (the shuffle
    * both sides already bucket by), one grouped sum, then a 5-row
    * bucket census. No broadcast needed; nothing wider than
    * (orderkey, two longs) moves. */
  private val q156 = QueryDef(
    "q156_order_reconciliation",
    (spark, dir) => {
      import graft.functions.Deterministic.cents
      val li = Tables.lineitem(spark, dir)
        .select(col("l_orderkey"),
          (cents(col("l_extendedprice")) *
            (lit(100L) - expr("CAST(floor(l_discount * 100 + 0.5) AS BIGINT)")) *
            (lit(100L) + expr("CAST(floor(l_tax * 100 + 0.5) AS BIGINT)"))).as("e4"))
        .groupBy(col("l_orderkey")).agg(sum(col("e4")).as("computed_e4"))
      Tables.orders(spark, dir)
        .select(col("o_orderkey"), (cents(col("o_totalprice")) * 10000L).as("recorded_e4"))
        .join(li, col("o_orderkey") === col("l_orderkey"), "left")
        .select(when(col("computed_e4").isNull, "no_lineitems")
          .when(col("computed_e4") === col("recorded_e4"), "exact")
          .when(abs(col("computed_e4") - col("recorded_e4")) <= 10000L, "within_cent")
          .when(abs(col("computed_e4") - col("recorded_e4")) <= 1000000L, "within_dollar")
          .otherwise("over_dollar").as("bucket"),
          coalesce(abs(col("computed_e4") - col("recorded_e4")), lit(0L)).as("diff"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_orders"), max(col("diff")).as("max_diff_e4"))
        .orderBy(col("bucket"))
    },
    Some("""
      WITH li AS (
        SELECT l_orderkey,
          CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
            * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))
            * (100 + CAST(floor(l_tax * 100 + 0.5) AS BIGINT))) AS BIGINT)
            AS computed_e4
        FROM lineitem GROUP BY 1),
      j AS (
        SELECT CASE
            WHEN computed_e4 IS NULL THEN 'no_lineitems'
            WHEN computed_e4 = recorded_e4 THEN 'exact'
            WHEN abs(computed_e4 - recorded_e4) <= 10000 THEN 'within_cent'
            WHEN abs(computed_e4 - recorded_e4) <= 1000000 THEN 'within_dollar'
            ELSE 'over_dollar' END AS bucket,
          coalesce(abs(computed_e4 - recorded_e4), 0) AS diff
        FROM (SELECT o_orderkey,
            CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) * 10000 AS recorded_e4
          FROM orders) o
        LEFT JOIN li ON l_orderkey = o_orderkey)
      SELECT bucket, CAST(count(*) AS BIGINT) AS n_orders,
        CAST(max(diff) AS BIGINT) AS max_diff_e4
      FROM j GROUP BY bucket ORDER BY bucket
    """))

  /** Functional-dependency discovery: for candidate column pairs
    * key → dependent across the schema, how many key values map to
    * MORE than one dependent value (FD violations) and how many rows
    * sit under those violating keys. A clean FD (0 violations) is a
    * normalization/compression opportunity; a near-FD with a few
    * violations is usually a data bug. The profiling query behind
    * schema-inference tools.
    *
    * Scale shape: each candidate is one (key, dependent) distinct
    * aggregate (map-side combined) + a key-sized rollup; candidates
    * union into one result. Nothing joins, nothing broadcasts. */
  private val q167 = QueryDef(
    "q167_fd_discovery",
    (spark, dir) => {
      def audit(df: DataFrame, fd: String, key: Column, dep: Column): DataFrame = {
        val keys = df.select(key.as("k"), dep.as("d"))
          .groupBy(col("k"))
          .agg(countDistinct(col("d")).as("nd"), count(lit(1)).as("nrows"))
        keys.agg(
          lit(fd).as("fd"),
          count(lit(1)).as("n_keys"),
          sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_violating"),
          sum(when(col("nd") > 1, col("nrows")).otherwise(0L)).as("rows_affected"))
      }
      val part = Tables.part(spark, dir)
      val cust = Tables.customer(spark, dir)
      val ord = Tables.orders(spark, dir)
      audit(part, "p_brand->p_type", col("p_brand"), col("p_type"))
        .unionAll(audit(part, "p_name->p_brand", col("p_name"), col("p_brand")))
        .unionAll(audit(cust, "c_nationkey->c_mktsegment",
          col("c_nationkey"), col("c_mktsegment")))
        .unionAll(audit(ord, "o_custkey->o_orderpriority",
          col("o_custkey"), col("o_orderpriority")))
        .select(col("fd"), col("n_keys"), col("n_violating"), col("rows_affected"),
          expr("CAST(CAST(n_violating AS DECIMAL(38,0)) * 1000000 DIV n_keys AS BIGINT)")
            .as("violation_ppm"))
        .orderBy(col("fd"))
    },
    Some("""
      WITH a1 AS (
        SELECT 'p_brand->p_type' AS fd, p_brand AS k,
          count(DISTINCT p_type) AS nd, count(*) AS nrows
        FROM part GROUP BY 2),
      a2 AS (
        SELECT 'p_name->p_brand' AS fd, p_name AS k,
          count(DISTINCT p_brand) AS nd, count(*) AS nrows
        FROM part GROUP BY 2),
      a3 AS (
        SELECT 'c_nationkey->c_mktsegment' AS fd, CAST(c_nationkey AS VARCHAR) AS k,
          count(DISTINCT c_mktsegment) AS nd, count(*) AS nrows
        FROM customer GROUP BY 2),
      a4 AS (
        SELECT 'o_custkey->o_orderpriority' AS fd, CAST(o_custkey AS VARCHAR) AS k,
          count(DISTINCT o_orderpriority) AS nd, count(*) AS nrows
        FROM orders GROUP BY 2),
      u AS (SELECT * FROM a1 UNION ALL SELECT * FROM a2
        UNION ALL SELECT * FROM a3 UNION ALL SELECT * FROM a4)
      SELECT fd, CAST(count(*) AS BIGINT) AS n_keys,
        CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
        CAST(sum(CASE WHEN nd > 1 THEN nrows ELSE 0 END) AS BIGINT) AS rows_affected,
        CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) * 1000000
          // count(*) AS BIGINT) AS violation_ppm
      FROM u GROUP BY fd ORDER BY fd
    """))

  /** Late-shipment SLA census: line items shipped more than 90 days
    * after their order date, by order priority — the compliance table
    * an ops dashboard leads with. Date arithmetic in epoch days
    * (engine-neutral), rate in exact ppm.
    *
    * Scale shape: fact-to-fact equi-join on the order key (same
    * bucketing as q156), then a 5-row priority census. Only
    * (orderkey, two days) survive the scan. */
  private val q169 = QueryDef(
    "q169_late_shipment_sla",
    (spark, dir) => {
      val li = Tables.lineitem(spark, dir).select(col("l_orderkey"),
        expr("CAST(datediff(CAST(l_shipdate AS DATE), DATE '1970-01-01') AS BIGINT)")
          .as("ship_day"))
      val ord = Tables.orders(spark, dir).select(col("o_orderkey"),
        col("o_orderpriority"),
        expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') AS BIGINT)")
          .as("order_day"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority"),
          when(col("ship_day") - col("order_day") > 90, 1L).otherwise(0L).as("late"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_lineitems"), sum(col("late")).as("n_late"))
        .select(col("o_orderpriority"), col("n_lineitems"), col("n_late"),
          expr("CAST(CAST(n_late AS DECIMAL(38,0)) * 1000000 DIV n_lineitems AS BIGINT)")
            .as("late_ppm"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""
      WITH j AS (
        SELECT o_orderpriority,
          CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
              CAST(l_shipdate AS DATE)) > 90 THEN 1 ELSE 0 END AS late
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
      SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_lineitems,
        CAST(sum(late) AS BIGINT) AS n_late,
        CAST(sum(late) * 1000000 // count(*) AS BIGINT) AS late_ppm
      FROM j GROUP BY 1 ORDER BY 1
    """))

  /** Subsample-stability audit: 32 deterministic half-samples of the
    * document corpus (membership = bit b of a Knuth multiplicative hash
    * of doc_id), each reporting its mean document length — the spread
    * across the 32 means is a bootstrap-free confidence readout on any
    * corpus-mean statistic: wide spread ⇒ the mean is driven by a few
    * outliers and a sampled pipeline stage would be unstable. Hash
    * bits replace RNG so both engines (and reruns) agree bit-for-bit.
    *
    * Scale shape: one scan, a 32-way explode of (len, bucket) longs —
    * never text — and a 32-group aggregate; the hash is one integer
    * multiply in DECIMAL(38,0) so it cannot wrap at any doc_id. */
  private val q191 = QueryDef(
    "q191_subsample_stability",
    (spark, dir) => {
      Tables.documents(spark, dir)
        .select(length(col("text")).cast("long").as("len"),
          expr("CAST(CAST(doc_id AS DECIMAL(38,0)) * 2654435761 % 4294967296 AS BIGINT)")
            .as("bucket"))
        .select(col("len"), col("bucket"), explode(expr("sequence(0, 31)")).as("b"))
        .filter(expr("(bucket div shiftleft(1L, b)) % 2 = 1"))
        .groupBy(col("b").cast("long").as("b"))
        .agg(count(lit(1)).as("n_docs"), sum(col("len")).as("s"))
        .select(col("b"), col("n_docs"),
          expr("CAST(CAST(s AS DECIMAL(38,0)) * 1000 DIV n_docs AS BIGINT)")
            .as("mean_len_milli"))
        .orderBy(col("b"))
    },
    Some("""
      WITH d AS (
        SELECT CAST(len(text) AS BIGINT) AS l,
          CAST(CAST(doc_id AS HUGEINT) * 2654435761 % 4294967296 AS BIGINT)
            AS bucket
        FROM documents),
      e AS (
        SELECT d.l, b.b FROM d, (SELECT unnest(range(0, 32)) AS b) b
        WHERE (d.bucket // (CAST(1 AS BIGINT) << b.b)) % 2 = 1)
      SELECT b, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(CAST(sum(l) AS HUGEINT) * 1000 // count(*) AS BIGINT)
          AS mean_len_milli
      FROM e GROUP BY b ORDER BY b
    """))

  /** l-diversity census — the release-audit companion to q149's
    * k-anonymity: k bounds re-identification, but a class whose
    * SENSITIVE attribute is uniform still leaks it ("everyone in this
    * bucket ordered 1-URGENT"). Per quasi-identifier class
    * (status, 100$-price band) over orders, l = distinct sensitive
    * priorities; the census reports, per l, how many classes and
    * records sit at that diversity level — min l is the release gate.
    *
    * Scale shape: one scan → (QI, priority) distinct-ish aggregate →
    * class rollup → ≤5-row census; all keyed, nothing driver-side. */
  private val q197 = QueryDef(
    "q197_l_diversity",
    (spark, dir) => {
      val classes = Tables.orders(spark, dir)
        .select(col("o_orderstatus").as("status"),
          expr("CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) div 10000").as("band"),
          col("o_orderpriority").as("sensitive"))
        .groupBy(col("status"), col("band"))
        .agg(countDistinct(col("sensitive")).as("l"), count(lit(1)).as("sz"))
      classes.groupBy(col("l"))
        .agg(count(lit(1)).as("n_classes"), sum(col("sz")).as("n_records"))
        .orderBy(col("l"))
    },
    Some("""
      WITH c AS (
        SELECT o_orderstatus AS status,
          CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) // 10000 AS band,
          CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS l,
          CAST(count(*) AS BIGINT) AS sz
        FROM orders GROUP BY 1, 2)
      SELECT l, CAST(count(*) AS BIGINT) AS n_classes,
        CAST(sum(sz) AS BIGINT) AS n_records
      FROM c GROUP BY l ORDER BY l
    """))

  /** Benford first-digit audit — the fraud/fabrication smoke test over
    * a monetary column: naturally-grown amounts follow
    * P(d) = log10(1+1/d); fabricated or capped ones don't. Observed
    * first-significant-digit shares (ppm, integer cross-division) sit
    * next to the Benford expectation as FIXED ppm literals
    * (floor(log10(1+1/d)·10^6 + 0.5), summing to exactly 10^6) — no
    * runtime logarithm, so both engines emit bit-identical deviations.
    *
    * Scale shape: digit extraction is a narrow map over the scan; the
    * aggregate is 9 rows, and the total comes from a window over those
    * 9 rows — nothing global ever exceeds digit cardinality. */
  private def benfordCensus(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Deterministic.cents
    val benford = "CASE digit WHEN 1 THEN 301030 WHEN 2 THEN 176091 " +
      "WHEN 3 THEN 124939 WHEN 4 THEN 96910 WHEN 5 THEN 79181 " +
      "WHEN 6 THEN 66947 WHEN 7 THEN 57992 WHEN 8 THEN 51153 " +
      "ELSE 45757 END"
    val everything = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    Tables.orders(spark, dir)
      .select(cents(col("o_totalprice")).as("vc"))
      .withColumn("digit", expr("CAST(substring(CAST(vc AS STRING), 1, 1) AS BIGINT)"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      .withColumn("tot", sum(col("n")).over(everything))
      .withColumn("share_ppm", expr("n * 1000000 div tot"))
      .withColumn("benford_ppm", expr(s"CAST($benford AS BIGINT)"))
      .select(col("digit"), col("n"), col("share_ppm"), col("benford_ppm"),
        abs(col("share_ppm") - col("benford_ppm")).as("dev_ppm"))
      .orderBy(col("digit"))
  }

  private val q198 = QueryDef(
    "q198_benford_audit",
    benfordCensus,
    Some("""
      WITH v AS (
        SELECT CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS vc FROM orders),
      d AS (
        SELECT CAST(substring(CAST(vc AS VARCHAR), 1, 1) AS BIGINT) AS digit,
          CAST(count(*) AS BIGINT) AS n
        FROM v GROUP BY 1),
      t AS (SELECT digit, n, CAST(sum(n) OVER () AS BIGINT) AS tot FROM d),
      s AS (
        SELECT digit, n, CAST(n * 1000000 // tot AS BIGINT) AS share_ppm,
          CAST(CASE digit WHEN 1 THEN 301030 WHEN 2 THEN 176091
            WHEN 3 THEN 124939 WHEN 4 THEN 96910 WHEN 5 THEN 79181
            WHEN 6 THEN 66947 WHEN 7 THEN 57992 WHEN 8 THEN 51153
            ELSE 45757 END AS BIGINT) AS benford_ppm
        FROM t)
      SELECT digit, n, share_ppm, benford_ppm,
        abs(share_ppm - benford_ppm) AS dev_ppm
      FROM s ORDER BY digit
    """))

  /** Simpson's-paradox audit: BUILDING vs MACHINERY average order value
    * compared overall AND within every nation, flagging nations whose
    * direction reverses the aggregate's. Mean comparison never divides —
    * avg₁ > avg₂ ⟺ s₁·n₂ > s₂·n₁ on exact integer cents, so the verdict
    * is pure sign algebra and bit-identical across engines. The audit a
    * metrics team runs before shipping "segment A spends more": if most
    * nations disagree with the pooled number, the pooled number is the
    * confounded one.
    *
    * Scale shape: one orders scan with broadcast customer-segment and
    * nation lookups → a 25-row per-nation conditional aggregate; the
    * pooled comparison is a window over those 25 rows. Cross-products
    * s·n run in decimal(38,0) — cents·rowcount clears 2^63 at the
    * 100 TB design point. */
  private val q209 = QueryDef(
    "q209_simpson_audit",
    (spark, dir) => {
      import graft.functions.Deterministic.cents
      import org.apache.spark.sql.expressions.Window
      val everything = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.orders(spark, dir)
        .join(broadcast(Tables.customer(spark, dir)
          .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
          .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"))),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(spark, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"), col("c_mktsegment").as("seg"),
          cents(col("o_totalprice")).as("c"))
        .groupBy(col("n_name"))
        .agg(
          sum(when(col("seg") === "BUILDING", col("c")).otherwise(0L)).as("s1"),
          sum(when(col("seg") === "BUILDING", 1L).otherwise(0L)).as("n1"),
          sum(when(col("seg") === "MACHINERY", col("c")).otherwise(0L)).as("s2"),
          sum(when(col("seg") === "MACHINERY", 1L).otherwise(0L)).as("n2"))
        .withColumn("dir", expr(
          "CAST(sign(CAST(s1 AS DECIMAL(38,0)) * n2 - CAST(s2 AS DECIMAL(38,0)) * n1) AS BIGINT)"))
        .withColumn("t1", sum(col("s1")).over(everything))
        .withColumn("m1", sum(col("n1")).over(everything))
        .withColumn("t2", sum(col("s2")).over(everything))
        .withColumn("m2", sum(col("n2")).over(everything))
        .withColumn("overall_dir", expr(
          "CAST(sign(CAST(t1 AS DECIMAL(38,0)) * m2 - CAST(t2 AS DECIMAL(38,0)) * m1) AS BIGINT)"))
        .select(col("n_name"), col("n1"), col("n2"), col("dir"), col("overall_dir"),
          when(col("dir") === 0L || col("overall_dir") === 0L, "tie")
            .when(col("dir") === col("overall_dir"), "consistent")
            .otherwise("reversed").as("verdict"))
        .orderBy(col("n_name"))
    },
    Some("""
      WITH o AS (
        SELECT n_name, c_mktsegment AS seg,
          CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS c
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
      g AS (
        SELECT n_name,
          CAST(sum(CASE WHEN seg = 'BUILDING' THEN c ELSE 0 END) AS BIGINT) AS s1,
          CAST(sum(CASE WHEN seg = 'BUILDING' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
          CAST(sum(CASE WHEN seg = 'MACHINERY' THEN c ELSE 0 END) AS BIGINT) AS s2,
          CAST(sum(CASE WHEN seg = 'MACHINERY' THEN 1 ELSE 0 END) AS BIGINT) AS n2
        FROM o GROUP BY n_name),
      d AS (
        SELECT n_name, n1, n2,
          CAST(sign(CAST(s1 AS HUGEINT) * n2 - CAST(s2 AS HUGEINT) * n1) AS BIGINT) AS dir,
          CAST(sign(CAST(sum(s1) OVER () AS HUGEINT) * sum(n2) OVER ()
            - CAST(sum(s2) OVER () AS HUGEINT) * sum(n1) OVER ()) AS BIGINT) AS overall_dir
        FROM g)
      SELECT n_name, n1, n2, dir, overall_dir,
        CASE WHEN dir = 0 OR overall_dir = 0 THEN 'tie'
             WHEN dir = overall_dir THEN 'consistent'
             ELSE 'reversed' END AS verdict
      FROM d ORDER BY n_name
    """))

  /** Sample-ratio-mismatch (SRM) audit — the first thing to check on any
    * A/B experiment: does the daily split between the two arms actually
    * look 50/50? Users land in arms by the deterministic key hash (the
    * q45 split convention), and each day gets the two-cell chi-square
    * statistic, which for a 50/50 design collapses to (n₀−n₁)²/n —
    * exact integer arithmetic, no expected-count fractions. A day is
    * flagged when chi exceeds the χ²₁ 95% critical value 3.841459
    * (ppm-scaled). Persistent flags mean assignment or logging is
    * biased and every downstream readout (q163) is invalid.
    *
    * Scale shape: a narrow scan projecting (day, arm) and one hash agg
    * on day — nothing else. The squared difference runs in
    * decimal(38,0): (n₀−n₁)²·10⁶ clears 2^63 once a day sees ~10⁹
    * events at the 100 TB design point. */
  private val q225 = QueryDef(
    "q225_srm_audit",
    (spark, dir) => {
      import graft.functions.Deterministic.epochS
      Tables.events(spark, dir)
        .select((epochS(col("ts")) / 86400).cast("long").as("day"),
          (graft.operators.Sampling.keyHash(col("user_id")) % 2).as("arm"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n"), sum(col("arm")).as("arm1"))
        .select(col("day"), col("n"), (col("n") - col("arm1")).as("arm0"), col("arm1"),
          expr("""CAST(CAST(n - 2 * arm1 AS DECIMAL(38,0)) *
                       CAST(n - 2 * arm1 AS DECIMAL(38,0)) * 1000000 DIV n
                  AS BIGINT)""").as("chi_ppm"))
        .withColumn("srm_flag",
          when(col("chi_ppm") > 3841459L, 1L).otherwise(0L))
        .orderBy(col("day"))
    },
    Some("""
      WITH e AS (
        SELECT CAST(epoch_ms(ts) // 1000 // 86400 AS BIGINT) AS day,
          ((user_id % 2147483648) * 2654435761) % 4294967296 % 2 AS arm
        FROM events),
      d AS (
        SELECT day, CAST(count(*) AS BIGINT) AS n, CAST(sum(arm) AS BIGINT) AS arm1
        FROM e GROUP BY day)
      SELECT day, n, n - arm1 AS arm0, arm1,
        CAST(CAST(n - 2 * arm1 AS HUGEINT) * (n - 2 * arm1) * 1000000 // n
          AS BIGINT) AS chi_ppm,
        CAST(CASE WHEN CAST(n - 2 * arm1 AS HUGEINT) * (n - 2 * arm1) * 1000000 // n
               > 3841459 THEN 1 ELSE 0 END AS BIGINT) AS srm_flag
      FROM d ORDER BY day
    """))

  /** Difference-in-differences readout: split customers into hash arms
    * (q225's assignment), split the order span into pre/post halves,
    * and report each cell's per-customer average revenue (micro-cents,
    * one exact integer division per cell) plus the DiD estimate —
    * (T_post − T_pre) − (C_post − C_pre) — the causal-analytics
    * workhorse when only the treated arm changed. Averages divide
    * once per cell and subtract after, so every number is a
    * deterministic integer both engines produce bit-identically.
    *
    * Scale shape: one narrow scan, one (arm, period, custkey) agg for
    * distinct customers folded into a 4-cell rollup, single-row
    * output. The day midpoint comes from a broadcast min/max scalar
    * (q64 pattern). */
  private val q240 = QueryDef(
    "q240_did_analysis",
    (spark, dir) => {
      import graft.functions.Deterministic.{cents, epochS}
      val o = Tables.orders(spark, dir)
        .select(col("o_custkey").as("cust"),
          (epochS(col("o_orderdate")) / 86400).cast("long").as("day"),
          cents(col("o_totalprice")).as("rc"))
      val bounds = o.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      val cells = o.crossJoin(broadcast(bounds))
        .select(
          (graft.operators.Sampling.keyHash(col("cust")) % 2).as("arm"),
          expr("CASE WHEN day < lo + (hi - lo + 1) DIV 2 THEN 0 ELSE 1 END").as("post"),
          col("cust"), col("rc"))
        .groupBy(col("arm"), col("post"), col("cust"))
        .agg(sum(col("rc")).as("rc"))
        .groupBy(col("arm"), col("post"))
        .agg(count(lit(1)).as("n_cust"), sum(col("rc")).as("rev_cents"))
        .select(col("arm"), col("post"), col("n_cust"), col("rev_cents"),
          expr("CAST(CAST(rev_cents AS DECIMAL(38,0)) * 1000000 DIV n_cust AS BIGINT)")
            .as("avg_micro"))
      cells.groupBy()
        .agg(
          max(when(col("arm") === 1 && col("post") === 1, col("avg_micro"))).as("t_post"),
          max(when(col("arm") === 1 && col("post") === 0, col("avg_micro"))).as("t_pre"),
          max(when(col("arm") === 0 && col("post") === 1, col("avg_micro"))).as("c_post"),
          max(when(col("arm") === 0 && col("post") === 0, col("avg_micro"))).as("c_pre"),
          sum(col("n_cust")).as("n_cells_cust"))
        .select(col("t_pre"), col("t_post"), col("c_pre"), col("c_post"),
          col("n_cells_cust"),
          ((col("t_post") - col("t_pre")) - (col("c_post") - col("c_pre"))).as("did_micro"))
    },
    Some("""
      WITH o AS (
        SELECT o_custkey AS cust,
          CAST(epoch_ms(o_orderdate) // 1000 // 86400 AS BIGINT) AS day,
          CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS rc
        FROM orders),
      b AS (SELECT min(day) AS lo, max(day) AS hi FROM o),
      pc AS (
        SELECT ((cust % 2147483648) * 2654435761) % 4294967296 % 2 AS arm,
          CASE WHEN day < lo + (hi - lo + 1) // 2 THEN 0 ELSE 1 END AS post,
          cust, CAST(sum(rc) AS BIGINT) AS rc
        FROM o, b GROUP BY 1, 2, cust),
      cell AS (
        SELECT arm, post, CAST(count(*) AS BIGINT) AS n_cust,
          CAST(sum(rc) AS BIGINT) AS rev_cents,
          CAST(CAST(sum(rc) AS HUGEINT) * 1000000 // count(*) AS BIGINT) AS avg_micro
        FROM pc GROUP BY arm, post)
      SELECT
        max(CASE WHEN arm = 1 AND post = 0 THEN avg_micro END) AS t_pre,
        max(CASE WHEN arm = 1 AND post = 1 THEN avg_micro END) AS t_post,
        max(CASE WHEN arm = 0 AND post = 0 THEN avg_micro END) AS c_pre,
        max(CASE WHEN arm = 0 AND post = 1 THEN avg_micro END) AS c_post,
        CAST(sum(n_cust) AS BIGINT) AS n_cells_cust,
        (max(CASE WHEN arm = 1 AND post = 1 THEN avg_micro END)
         - max(CASE WHEN arm = 1 AND post = 0 THEN avg_micro END))
        - (max(CASE WHEN arm = 0 AND post = 1 THEN avg_micro END)
           - max(CASE WHEN arm = 0 AND post = 0 THEN avg_micro END)) AS did_micro
      FROM cell
    """))

  /** Uplift by prior-spend decile — the heterogeneous-treatment-effect
    * readout behind targeting decisions: does the (hash-assigned)
    * treatment arm lift low-value or high-value customers? Customers
    * rank into pre-period spend deciles by the q210 integer formula
    * ((rn−1)·10 div n — no ntile), then each decile reports both arms'
    * post-period per-customer average (one exact division per cell)
    * and their difference. Constant uplift across deciles ⇒ treat
    * everyone; concentrated uplift ⇒ target that decile.
    *
    * Scale shape: customer-sized aggregates; the decile rank is a
    * global window over the customer aggregate (dimension-sized, the
    * stage to range-partition at 100 TB — q210's documented shape);
    * final census is 10×2 cells wide. */
  private val q244 = QueryDef(
    "q244_uplift_by_decile",
    (spark, dir) => {
      import graft.functions.Deterministic.{cents, epochS}
      import org.apache.spark.sql.expressions.Window
      val o = Tables.orders(spark, dir)
        .select(col("o_custkey").as("cust"),
          (epochS(col("o_orderdate")) / 86400).cast("long").as("day"),
          cents(col("o_totalprice")).as("rc"))
      val bounds = o.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      val perCust = o.crossJoin(broadcast(bounds))
        .select(col("cust"), col("rc"),
          expr("CASE WHEN day < lo + (hi - lo + 1) DIV 2 THEN 0 ELSE 1 END").as("post"))
        .groupBy(col("cust"))
        .agg(sum(when(col("post") === 0, col("rc")).otherwise(0L)).as("pre_rc"),
          sum(when(col("post") === 1, col("rc")).otherwise(0L)).as("post_rc"))
        .withColumn("arm", graft.operators.Sampling.keyHash(col("cust")) % 2)
      val w = Window.orderBy(col("pre_rc").desc, col("cust"))
      val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      perCust
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(all))
        .select(expr("(rn - 1) * 10 div n + 1").as("decile"), col("arm"),
          col("post_rc"))
        .groupBy(col("decile"))
        .agg(sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_treat"),
          sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_ctrl"),
          sum(when(col("arm") === 1, col("post_rc")).otherwise(0L)).as("rc_treat"),
          sum(when(col("arm") === 0, col("post_rc")).otherwise(0L)).as("rc_ctrl"))
        .select(col("decile"), col("n_treat"), col("n_ctrl"),
          expr("CAST(CAST(rc_treat AS DECIMAL(38,0)) * 1000000 DIV n_treat AS BIGINT)")
            .as("treat_avg_micro"),
          expr("CAST(CAST(rc_ctrl AS DECIMAL(38,0)) * 1000000 DIV n_ctrl AS BIGINT)")
            .as("ctrl_avg_micro"))
        .withColumn("uplift_micro", col("treat_avg_micro") - col("ctrl_avg_micro"))
        .orderBy(col("decile"))
    },
    Some("""
      WITH o AS (
        SELECT o_custkey AS cust,
          CAST(epoch_ms(o_orderdate) // 1000 // 86400 AS BIGINT) AS day,
          CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS rc
        FROM orders),
      b AS (SELECT min(day) AS lo, max(day) AS hi FROM o),
      pc AS (
        SELECT cust,
          CAST(sum(CASE WHEN day < lo + (hi - lo + 1) // 2 THEN rc ELSE 0 END) AS BIGINT) AS pre_rc,
          CAST(sum(CASE WHEN day >= lo + (hi - lo + 1) // 2 THEN rc ELSE 0 END) AS BIGINT) AS post_rc
        FROM o, b GROUP BY cust),
      d AS (
        SELECT cust, pre_rc, post_rc,
          ((cust % 2147483648) * 2654435761) % 4294967296 % 2 AS arm,
          (row_number() OVER (ORDER BY pre_rc DESC, cust) - 1) * 10
            // count(*) OVER () + 1 AS decile
        FROM pc),
      g AS (
        SELECT decile,
          CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_treat,
          CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ctrl,
          CAST(sum(CASE WHEN arm = 1 THEN post_rc ELSE 0 END) AS BIGINT) AS rc_treat,
          CAST(sum(CASE WHEN arm = 0 THEN post_rc ELSE 0 END) AS BIGINT) AS rc_ctrl
        FROM d GROUP BY decile)
      SELECT decile, n_treat, n_ctrl,
        CAST(CAST(rc_treat AS HUGEINT) * 1000000 // n_treat AS BIGINT) AS treat_avg_micro,
        CAST(CAST(rc_ctrl AS HUGEINT) * 1000000 // n_ctrl AS BIGINT) AS ctrl_avg_micro,
        CAST(CAST(rc_treat AS HUGEINT) * 1000000 // n_treat
             - CAST(rc_ctrl AS HUGEINT) * 1000000 // n_ctrl AS BIGINT) AS uplift_micro
      FROM g ORDER BY decile
    """))

  /** Rolling 7-day distinct users from MERGED daily KMV sketches,
    * audited against q91's exact computation. Each day stores one
    * bottom-64 sketch; the trailing window unions 7 sketches with pure
    * array SQL (flatten → distinct → sort → slice — KMV merge needs no
    * custom code once the daily sketches exist) and estimates. This is
    * THE scale play for rolling distinct: q91's exact form explodes
    * every (user, day) into 7 window rows; the sketch form carries
    * 64 longs per day regardless of user count, and the window cost is
    * O(days·k), not O(user-days·7).
    *
    * Scale shape: one (day, hash) distinct shuffle → day-sized sketch
    * table → a days-ordered RANGE window over ≤64-long arrays. The
    * exact audit side is q91 verbatim (its cost is the point). */
  private val q246 = QueryDef(
    "q246_kmv_rolling_distinct",
    (spark, dir) => {
      import graft.functions.Deterministic.epochS
      import graft.functions.KmvSketch.{kmv_bottom_k, kmv_estimate}
      import org.apache.spark.sql.expressions.Window
      val ud = Tables.events(spark, dir)
        .select(col("user_id"), (epochS(col("ts")) / 86400).cast("long").as("day"))
        .distinct()
      val daily = ud
        .select(col("day"), graft.operators.Sampling.keyHash(col("user_id")).as("h"))
        .groupBy(col("day"))
        .agg(kmv_bottom_k(col("h"), 64).as("sketch"))
      val trailing = Window.orderBy(col("day")).rangeBetween(-6, 0)
      val est2 = daily
        .withColumn("win_sketches", collect_list(col("sketch")).over(trailing))
        .withColumn("merged", expr(
          "slice(array_sort(array_distinct(flatten(win_sketches))), 1, 64)"))
        .select(col("day"), kmv_estimate("merged", 64).as("wau_est"))
      val exact = ud
        .select(col("user_id"), explode(sequence(col("day"), col("day") + 6)).as("w_day"))
        .join(broadcast(ud.select(col("day").as("w_day")).distinct()), Seq("w_day"), "left_semi")
        .groupBy(col("w_day"))
        .agg(countDistinct(col("user_id")).as("wau_exact"))
        .select(col("w_day").as("day"), col("wau_exact"))
      est2.join(exact, Seq("day"))
        .select(col("day"), col("wau_exact"), col("wau_est"),
          expr("CAST(abs(wau_est - wau_exact) * 1000000 DIV wau_exact AS BIGINT)")
            .as("err_ppm"))
        .orderBy(col("day"))
    },
    Some("""
      WITH ud AS (
        SELECT DISTINCT user_id,
          CAST(epoch_ms(ts) // 1000 // 86400 AS BIGINT) AS day
        FROM events),
      dh AS (
        SELECT DISTINCT day,
          ((user_id % 2147483648) * 2654435761) % 4294967296 AS h
        FROM ud),
      rk AS (
        SELECT day, h,
          CAST(row_number() OVER (PARTITION BY day ORDER BY h) AS BIGINT) AS rk
        FROM dh),
      daily AS (
        SELECT day, list_sort(list(h ORDER BY h)) AS sketch
        FROM rk WHERE rk <= 64 GROUP BY day),
      win AS (
        SELECT day,
          list_slice(list_sort(list_distinct(flatten(
            list(sketch) OVER (ORDER BY day RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
          ))), 1, 64) AS merged
        FROM daily),
      est AS (
        SELECT day,
          CAST(CASE WHEN len(merged) < 64 THEN len(merged)
                    ELSE 63 * 4294967296 // merged[64] END AS BIGINT) AS wau_est
        FROM win),
      ex AS (
        SELECT w.w_day AS day, CAST(count(DISTINCT u.user_id) AS BIGINT) AS wau_exact
        FROM ud u
        JOIN (SELECT DISTINCT day AS w_day FROM ud) w
          ON w.w_day BETWEEN u.day AND u.day + 6
        GROUP BY 1)
      SELECT e.day, x.wau_exact, e.wau_est,
        CAST(abs(e.wau_est - x.wau_exact) * 1000000 // x.wau_exact AS BIGINT) AS err_ppm
      FROM est e JOIN ex x ON e.day = x.day
      ORDER BY e.day
    """))

  def defs: Seq[QueryDef] =
    Seq(q81, q83, q84, q85, q91, q149, q155, q156, q167, q169, q191, q197, q198,
      q209, q225, q240, q244, q246)
}
