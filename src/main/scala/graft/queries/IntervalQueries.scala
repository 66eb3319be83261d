package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-4 temporal/statistical operators: interval-interval overlap
  * join (the generalization of q43's point-in-interval), calendar-spine
  * densification (gap filling), and exact-percentile winsorization.
  */
object IntervalQueries extends QueryGroup {

  /** Interval-interval overlap self-join: pairs of orders by the SAME
    * customer whose 7-day fulfillment windows overlap — the temporal
    * theta join (a.s ≤ b.e AND b.s ≤ a.e) rewritten as an equi-join:
    * each interval explodes to the ≤2 week-bins it covers, candidates
    * meet on (customer, bin), the exact predicate filters residually,
    * and duplicates from intervals sharing two bins are struck. The
    * ORACLE is deliberately the naive theta self-join the rewrite
    * replaces. Scale shape: candidate count is bounded by co-bin
    * occupancy (bin width = interval span), never |orders|²; no
    * nested-loop join appears in the plan. */
  private val q98 = QueryDef(
    "q98_interval_overlap_join",
    (spark, dir) => {
      import graft.functions.Deterministic.epochS
      val o = Tables.orders(spark, dir)
        .select(col("o_orderkey").as("k"), col("o_custkey").as("c"),
          (epochS(col("o_orderdate")) / 86400).cast("long").as("s"))
        .withColumn("e", col("s") + 6)
      val binned = o.select(col("k"), col("c"), col("s"), col("e"),
        explode(sequence(expr("s div 7"), expr("e div 7"))).as("bin"))
      binned
        .join(binned.select(col("c"), col("bin"), col("k").as("k2"),
          col("s").as("s2"), col("e").as("e2")), Seq("c", "bin"))
        .filter(col("k") < col("k2") && col("s") <= col("e2") && col("s2") <= col("e"))
        .select(col("c").as("custkey"), col("k").as("order_a"), col("k2").as("order_b"),
          col("s"), col("e"), col("s2"), col("e2"))
        .distinct()
        .select(col("custkey"), col("order_a"), col("order_b"),
          (least(col("e"), col("e2")) - greatest(col("s"), col("s2")) + 1)
            .as("overlap_days"))
        .orderBy("custkey", "order_a", "order_b")
    },
    Some("""
      WITH o AS (
        SELECT o_orderkey AS k, o_custkey AS c,
          CAST(epoch_ms(o_orderdate) // 1000 // 86400 AS BIGINT) AS s
        FROM orders),
      i AS (SELECT k, c, s, s + 6 AS e FROM o)
      SELECT a.c AS custkey, a.k AS order_a, b.k AS order_b,
        least(a.e, b.e) - greatest(a.s, b.s) + 1 AS overlap_days
      FROM i a JOIN i b
        ON a.c = b.c AND a.k < b.k AND a.s <= b.e AND b.s <= a.e
      ORDER BY custkey, order_a, order_b
    """))

  /** Calendar-spine densification: daily 1995 revenue per region with
    * missing days materialized as zero — the gap-filling pass that
    * makes downstream window/rolling math see a complete series. The
    * spine is generated, not scanned: the 25-row region×nation side
    * explodes a literal day sequence (365 rows each), the fact side is
    * one grouped aggregation of the date-pruned orders scan, and the
    * fill is a left join of spine onto facts — never a cross join of
    * one-row relations, never a scan of days that do not exist.
    * Revenue folds exact integer cents. */
  private val q99 = QueryDef(
    "q99_calendar_densify",
    (spark, dir) => {
      import graft.functions.Deterministic.{cents, epochS}
      val d0 = 9131L // 1995-01-01 as epoch days
      val d1 = 9495L // 1995-12-31
      val custRegion = Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_nationkey"))
        .join(broadcast(Tables.nation(spark, dir)
          .select(col("n_nationkey"), col("n_regionkey"))),
          col("c_nationkey") === col("n_nationkey"))
      val daily = Tables.orders(spark, dir)
        .filter(col("o_orderdate") >= "1995-01-01" && col("o_orderdate") < "1996-01-01")
        .select(col("o_custkey"), (epochS(col("o_orderdate")) / 86400).cast("long").as("day"),
          cents(col("o_totalprice")).as("vc"))
        .join(custRegion, col("o_custkey") === col("c_custkey"))
        .groupBy(col("n_regionkey").as("r_regionkey"), col("day"))
        .agg(sum(col("vc")).as("rev_cents"), count(lit(1)).as("n_orders"))
      Tables.region(spark, dir)
        .select(col("r_regionkey"), col("r_name"),
          explode(sequence(lit(d0), lit(d1))).as("day"))
        .join(daily, Seq("r_regionkey", "day"), "left")
        .select(col("r_name"), col("day"),
          coalesce(col("rev_cents"), lit(0L)).as("rev_cents"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"))
        .orderBy("r_name", "day")
    },
    Some("""
      WITH spine AS (
        SELECT r_regionkey, r_name, CAST(d AS BIGINT) AS day
        FROM region, LATERAL (SELECT unnest(range(9131, 9496)) AS d) x),
      daily AS (
        SELECT n.n_regionkey,
          CAST(epoch_ms(o.o_orderdate) // 1000 // 86400 AS BIGINT) AS day,
          CAST(sum(CAST(floor(o.o_totalprice*100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents,
          CAST(count(*) AS BIGINT) AS n_orders
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE o.o_orderdate >= TIMESTAMP '1995-01-01'
          AND o.o_orderdate < TIMESTAMP '1996-01-01'
        GROUP BY 1, 2)
      SELECT s.r_name, s.day,
        coalesce(d.rev_cents, 0) AS rev_cents,
        coalesce(d.n_orders, 0) AS n_orders
      FROM spine s LEFT JOIN daily d
        ON s.r_regionkey = d.n_regionkey AND s.day = d.day
      ORDER BY s.r_name, s.day
    """))

  /** Exact-percentile winsorization: clip each lineitem price to its
    * return-flag group's [P5, P95], where the percentiles are EXACT and
    * integer-derived, with the discrete-percentile test cum·100 ≥ p·n
    * done in 64-bit integers so both engines flag the same bin.
    *
    * The thresholds use TWO-LEVEL rank selection: a $100-coarse
    * histogram locates the bin holding each percentile (cumulative
    * window over ≤ ~1100 bins per group), then only the rows inside the
    * two selected bins get the exact per-cent refinement (a window over
    * ~0.2% of the data, partitioned by (group, bin)). A single-level
    * exact pass would sort the full (group, cents) histogram inside
    * |groups| window partitions — 3 tasks each sorting a third of the
    * corpus at 100 TB. Thresholds broadcast back onto the scan; the
    * clipped re-aggregation is one more hash agg. The
    * robust-statistics companion to q81's outlier flagging: q81 finds
    * the tails, this one caps them. */
  private val q100 = QueryDef(
    "q100_winsorize",
    (spark, dir) => {
      import graft.functions.Deterministic.cents
      val base = Tables.lineitem(spark, dir)
        .select(col("l_returnflag").as("g"), cents(col("l_extendedprice")).as("x"))
      // two-level selection lives in operators.RankSelect (coarse $100
      // bins locate P5/P95, exact refinement only inside those bins)
      val thresholds = graft.operators.RankSelect
        .percentiles(base, "g", "x", Seq(500, 9500), binWidth = 10000)
        .select(col("g"), col("p_500").as("p05"), col("p_9500").as("p95"))
      base
        .join(broadcast(thresholds), Seq("g"))
        .select(col("g"), col("p05"), col("p95"),
          least(greatest(col("x"), col("p05")), col("p95")).as("clipped"),
          when(col("x") < col("p05"), 1L).otherwise(0L).as("lo"),
          when(col("x") > col("p95"), 1L).otherwise(0L).as("hi"))
        .groupBy(col("g"), col("p05"), col("p95"))
        .agg(count(lit(1)).as("n"), sum(col("clipped")).as("sum_clipped_cents"),
          sum(col("lo")).as("n_clipped_low"), sum(col("hi")).as("n_clipped_high"))
        .select(col("g").as("returnflag"), col("n"), col("p05"), col("p95"),
          col("sum_clipped_cents"), col("n_clipped_low"), col("n_clipped_high"))
        .orderBy("returnflag")
    },
    Some("""
      WITH b AS (
        SELECT l_returnflag AS g,
          CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT) AS x
        FROM lineitem),
      hist AS (SELECT g, x, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY g, x),
      m AS (
        SELECT g, x, cnt,
          CAST(sum(cnt) OVER (PARTITION BY g ORDER BY x) AS BIGINT) AS cum,
          CAST(sum(cnt) OVER (PARTITION BY g) AS BIGINT) AS n
        FROM hist),
      t AS (
        SELECT g,
          min(CASE WHEN cum * 100 >= 5 * n THEN x END) AS p05,
          min(CASE WHEN cum * 100 >= 95 * n THEN x END) AS p95
        FROM m GROUP BY g)
      SELECT b.g AS returnflag, CAST(count(*) AS BIGINT) AS n, t.p05, t.p95,
        CAST(sum(least(greatest(b.x, t.p05), t.p95)) AS BIGINT) AS sum_clipped_cents,
        CAST(count(*) FILTER (b.x < t.p05) AS BIGINT) AS n_clipped_low,
        CAST(count(*) FILTER (b.x > t.p95) AS BIGINT) AS n_clipped_high
      FROM b JOIN t ON b.g = t.g
      GROUP BY b.g, t.p05, t.p95
      ORDER BY returnflag
    """))

  /** SCD Type-2 dimension build: a keyed changelog (purchase events per
    * user) becomes a versioned dimension — each change opens a validity
    * interval [ts, next-change ts), the latest version stays open
    * (null valid_to, is_current). One window pass ordered WITHIN each
    * key (never globally): lead() closes the interval, row_number()
    * stamps the version — the point-in-time-correct dimension an as-of
    * join (q42) then queries. Key-pruned to users < 20 and the
    * predicate reaches the scan. */
  private val q101 = QueryDef(
    "q101_scd2_dimension_build",
    (spark, dir) => {
      import graft.functions.Deterministic.{cents, epochS}
      val w = Window.partitionBy(col("key")).orderBy(col("valid_from_s"), col("event_id"))
      Tables.events(spark, dir)
        .filter(col("event_type") === "purchase" && col("user_id") < 20)
        .select(col("user_id").as("key"), epochS(col("ts")).as("valid_from_s"),
          col("event_id"), cents(col("value")).as("val_cents"))
        .withColumn("version", row_number().over(w).cast("long"))
        .withColumn("valid_to_s", lead(col("valid_from_s"), 1).over(w))
        .select(col("key"), col("version"), col("valid_from_s"), col("valid_to_s"),
          col("val_cents"), col("valid_to_s").isNull.as("is_current"))
        .orderBy("key", "version")
    },
    Some("""
      WITH ch AS (
        SELECT user_id AS key,
          CAST(epoch_ms(ts) // 1000 AS BIGINT) AS valid_from_s,
          event_id,
          CAST(floor(value*100 + 0.5) AS BIGINT) AS val_cents
        FROM events WHERE event_type = 'purchase' AND user_id < 20)
      SELECT key,
        CAST(row_number() OVER w AS BIGINT) AS version,
        valid_from_s,
        lead(valid_from_s, 1) OVER w AS valid_to_s,
        val_cents,
        lead(valid_from_s, 1) OVER w IS NULL AS is_current
      FROM ch
      WINDOW w AS (PARTITION BY key ORDER BY valid_from_s, event_id)
      ORDER BY key, version
    """))

  /** 1995 order revenue cents per (priority, epoch day) that has
    * orders: `(pri, day, vc)`, one date-pruned grouped aggregation. */
  private[queries] def dailyRevenue(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Deterministic.{cents, epochS}
    Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= "1995-01-01" && col("o_orderdate") < "1996-01-01")
      .select(col("o_orderpriority").as("pri"),
        (epochS(col("o_orderdate")) / 86400).cast("long").as("day"),
        cents(col("o_totalprice")).as("vc"))
      .groupBy(col("pri"), col("day")).agg(sum(col("vc")).as("vc"))
  }

  /** [[dailyRevenue]] on the full 5×365-row (priority, 1995 day) spine:
    * `(pri, day, vc)`, vc NULL on a day without orders. q199 fills the
    * gaps by interpolation, q201 with zeros. */
  private[queries] def dailyOnSpine(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyRevenue(spark, dir)
    val spine = Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("pri")).distinct()
      .select(col("pri"), explode(sequence(lit(9131L), lit(9495L))).as("day"))
    spine.join(daily, Seq("pri", "day"), "left")
  }

  /** Linear-interpolation gap fill — the series-repair step between
    * q99's zero-fill (wrong for level metrics) and a model-based
    * imputer: missing days in a per-priority daily revenue series get
    * the straight line between their nearest observed neighbors,
    * computed exactly in integer cents via cross multiplication
    * v_lo + (v_hi−v_lo)·(d−d_lo) div (d_hi−d_lo) — no doubles, so both
    * engines land on the same cent. Leading/trailing gaps extrapolate
    * flat (nearest observation); IGNORE NULLS window carries give each
    * row its bracketing neighbors in two passes over the spine, never a
    * self-join. The interior product is bounded by gap·Δcents (≤365·
    * daily-sum) — far under 2^63 even at 100 TB daily volumes.
    *
    * Scale shape: the fact side is one grouped aggregation of the
    * date-pruned scan; everything after runs on the 5×365-row spine. */
  private val q199 = QueryDef(
    "q199_linear_interpolation",
    (spark, dir) => {
      val base = Window.partitionBy(col("pri")).orderBy(col("day"))
      val prevW = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val nextW = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      dailyOnSpine(spark, dir)
        .withColumn("v_lo", last(col("vc"), ignoreNulls = true).over(prevW))
        .withColumn("d_lo", max(when(col("vc").isNotNull, col("day"))).over(prevW))
        .withColumn("v_hi", first(col("vc"), ignoreNulls = true).over(nextW))
        .withColumn("d_hi", min(when(col("vc").isNotNull, col("day"))).over(nextW))
        .select(col("pri"), col("day"),
          coalesce(col("vc"),
            expr("v_lo + (v_hi - v_lo) * (day - d_lo) div (d_hi - d_lo)"),
            col("v_lo"), col("v_hi"), lit(0L)).as("rev_cents"),
          col("vc").isNull.as("filled"))
        .orderBy("pri", "day")
    },
    Some("""
      WITH daily AS (
        SELECT o_orderpriority AS pri,
          CAST(epoch_ms(o_orderdate) // 1000 // 86400 AS BIGINT) AS day,
          CAST(sum(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)) AS BIGINT) AS vc
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate < TIMESTAMP '1996-01-01'
        GROUP BY 1, 2),
      spine AS (
        SELECT pri, CAST(d AS BIGINT) AS day
        FROM (SELECT DISTINCT o_orderpriority AS pri FROM orders),
          LATERAL (SELECT unnest(range(9131, 9496)) AS d) x),
      j AS (
        SELECT s.pri, s.day, daily.vc,
          last_value(vc IGNORE NULLS) OVER wp AS v_lo,
          max(CASE WHEN vc IS NOT NULL THEN s.day END) OVER wp AS d_lo,
          first_value(vc IGNORE NULLS) OVER wn AS v_hi,
          min(CASE WHEN vc IS NOT NULL THEN s.day END) OVER wn AS d_hi
        FROM spine s LEFT JOIN daily ON s.pri = daily.pri AND s.day = daily.day
        WINDOW
          wp AS (PARTITION BY s.pri ORDER BY s.day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
          wn AS (PARTITION BY s.pri ORDER BY s.day
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      SELECT pri, day,
        CAST(coalesce(vc,
          v_lo + (v_hi - v_lo) * (day - d_lo) // (d_hi - d_lo),
          v_lo, v_hi, 0) AS BIGINT) AS rev_cents,
        vc IS NULL AS filled
      FROM j ORDER BY pri, day
    """))

  /** Merged-interval coverage — the interval-union aggregate: each
    * event opens a 30-minute activity interval; overlapping intervals
    * per user merge into islands (new island iff the start clears the
    * running max of all previous ends — the classic sweep), and the
    * census reports, per island count, how many users and how much
    * merged coverage. The per-user complement to q100-style global
    * sweep-line concurrency: THIS is "how long was each user actually
    * active", immune to double-counting bursts.
    *
    * Determinism: epoch-second arithmetic; ties at equal start are
    * harmless (same-start rows can never open a second island).
    * Scale shape: both windows and both rollups share the user key —
    * one shuffle, then AQE-coalesced key-local passes; nothing global. */
  private val q200 = QueryDef(
    "q200_interval_union",
    (spark, dir) => {
      import graft.functions.Deterministic.epochS
      val w = Window.partitionBy(col("u")).orderBy(col("s"))
      val prevEnds = w.rowsBetween(Window.unboundedPreceding, -1)
      val runW = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(spark, dir)
        .select(col("user_id").as("u"), epochS(col("ts")).as("s"))
        .withColumn("e", col("s") + 1800L)
        .withColumn("pmax", max(col("e")).over(prevEnds))
        .withColumn("brk", when(col("pmax").isNull || col("s") >= col("pmax"), 1L).otherwise(0L))
        .withColumn("island", sum(col("brk")).over(runW))
        .groupBy(col("u"), col("island"))
        .agg(min(col("s")).as("st"), max(col("e")).as("en"))
        .groupBy(col("u"))
        .agg(count(lit(1)).as("n_islands"), sum(col("en") - col("st")).as("covered_s"))
        .groupBy(col("n_islands"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("covered_s")).as("total_covered_s"),
          max(col("covered_s")).as("max_covered_s"))
        .orderBy(col("n_islands"))
    },
    Some("""
      WITH iv AS (
        SELECT user_id AS u, CAST(epoch_ms(ts) // 1000 AS BIGINT) AS s,
          CAST(epoch_ms(ts) // 1000 + 1800 AS BIGINT) AS e
        FROM events),
      m AS (
        SELECT u, s, e,
          max(e) OVER (PARTITION BY u ORDER BY s
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        FROM iv),
      b AS (
        SELECT u, s, e,
          CAST(sum(CASE WHEN pmax IS NULL OR s >= pmax THEN 1 ELSE 0 END)
            OVER (PARTITION BY u ORDER BY s
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island
        FROM m),
      isl AS (
        SELECT u, island, min(s) AS st, max(e) AS en
        FROM b GROUP BY u, island),
      per_user AS (
        SELECT u, CAST(count(*) AS BIGINT) AS n_islands,
          CAST(sum(en - st) AS BIGINT) AS covered_s
        FROM isl GROUP BY u)
      SELECT n_islands, CAST(count(*) AS BIGINT) AS n_users,
        CAST(sum(covered_s) AS BIGINT) AS total_covered_s,
        CAST(max(covered_s) AS BIGINT) AS max_covered_s
      FROM per_user GROUP BY n_islands ORDER BY n_islands
    """))

  /** Forward as-of join with tolerance: for every error event, the FIRST
    * purchase by the same user strictly after it (in (ts, event_id) total
    * order), kept only when it lands within the 1-hour tolerance — the
    * error-recovery-time question, and the mirror of q42's backward
    * as-of. No pair join ever forms: a descending-order running `min`
    * over the purchase timestamps ("smallest purchase ts among rows later
    * than me") resolves every error's successor in one window pass, and
    * the 1-PRECEDING frame end is what makes the match strict. Results
    * roll up to a 10-minute-bucket recovery histogram with bucket −1 for
    * errors that never recover in tolerance.
    *
    * Scale shape: one filtered scan (two event types only), one shuffle
    * by user for the window, then a ≤8-row histogram. The union-window
    * trick is THE scalable as-of form: tolerance checks happen after
    * matching, so the plan is identical whatever the tolerance. */
  private val q208 = QueryDef(
    "q208_recovery_asof",
    (spark, dir) => {
      import graft.functions.Deterministic.epochS
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_s").desc, col("event_id").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(spark, dir)
        .filter(col("event_type").isin("error", "purchase"))
        .select(col("user_id"), col("event_id"), epochS(col("ts")).as("ts_s"),
          col("event_type"))
        .withColumn("next_p",
          min(when(col("event_type") === "purchase", col("ts_s"))).over(w))
        .filter(col("event_type") === "error")
        .select(
          when(col("next_p").isNull || col("next_p") - col("ts_s") > 3600L, -1L)
            .otherwise(expr("(next_p - ts_s) div 600")).as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_errors"))
        .orderBy(col("bucket"))
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_id, event_type,
          CAST(epoch_ms(ts) // 1000 AS BIGINT) AS ts_s
        FROM events WHERE event_type IN ('error', 'purchase')),
      nx AS (
        SELECT event_type, ts_s,
          min(CASE WHEN event_type = 'purchase' THEN ts_s END) OVER
            (PARTITION BY user_id ORDER BY ts_s DESC, event_id DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS next_p
        FROM e),
      r AS (
        SELECT CASE WHEN next_p IS NULL OR next_p - ts_s > 3600 THEN -1
                    ELSE (next_p - ts_s) // 600 END AS bucket
        FROM nx WHERE event_type = 'error')
      SELECT bucket, CAST(count(*) AS BIGINT) AS n_errors
      FROM r GROUP BY bucket ORDER BY bucket
    """))

  /** DAU/MAU stickiness via difference arrays: daily active users,
    * trailing-30-day active users, and their ratio in exact ppm for
    * every day of the observed range. The trailing distinct count —
    * normally the expensive part — never materializes a 30-day window:
    * each user's consecutive activity days become half-open "counts as
    * monthly-active" intervals [a, min(a+29, next−1)], the intervals
    * become ±1 deltas at their endpoints, and MAU(d) is one running sum
    * over the per-day delta aggregate. O(user-days) work total, versus
    * O(user-days × 30) for the explode-a-window form.
    *
    * Scale shape: distinct user-days (one shuffle), a per-user lead
    * window, a per-day delta aggregate (calendar-sized), and cumsum +
    * ratio over the day spine. The spine bounds are data-derived so
    * every scale factor is self-consistent. */
  private val q221 = QueryDef(
    "q221_dau_mau_stickiness",
    (spark, dir) => {
      import graft.functions.Deterministic.epochS
      val ud = Tables.events(spark, dir)
        .select(col("user_id").as("u"),
          (epochS(col("ts")) / 86400).cast("long").as("day"))
        .distinct()
      val w = Window.partitionBy(col("u")).orderBy(col("day"))
      val deltas = ud
        .withColumn("nxt", lead(col("day"), 1).over(w))
        .select(col("day").as("start"),
          when(col("nxt").isNotNull && col("nxt") <= col("day") + 29L,
            col("nxt") - 1L).otherwise(col("day") + 29L).as("end"))
        .select(explode(array(
          struct(col("start").as("d"), lit(1L).as("delta")),
          struct((col("end") + 1L).as("d"), lit(-1L).as("delta")))).as("x"))
        .select(col("x.d"), col("x.delta"))
        .groupBy(col("d")).agg(sum(col("delta")).as("delta"))
      val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
      val bounds = ud.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
      val spine = bounds.select(
        explode(sequence(col("mn"), col("mx"))).as("day"))
      val cum = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine
        .join(deltas.withColumnRenamed("d", "day"), Seq("day"), "left")
        .join(dau, Seq("day"), "left")
        .withColumn("mau", sum(coalesce(col("delta"), lit(0L))).over(cum))
        .withColumn("dau", coalesce(col("dau"), lit(0L)))
        .select(col("day"), col("dau"), col("mau"),
          expr("dau * 1000000L div mau").as("stickiness_ppm"))
        .orderBy(col("day"))
    },
    Some("""
      WITH ud AS (
        SELECT DISTINCT user_id AS u,
          CAST(epoch_ms(ts) // 1000 // 86400 AS BIGINT) AS day
        FROM events),
      iv AS (
        SELECT day AS s,
          CASE WHEN lead(day) OVER (PARTITION BY u ORDER BY day) <= day + 29
               THEN lead(day) OVER (PARTITION BY u ORDER BY day) - 1
               ELSE day + 29 END AS e
        FROM ud),
      deltas AS (
        SELECT d, CAST(sum(delta) AS BIGINT) AS delta FROM (
          SELECT s AS d, 1 AS delta FROM iv
          UNION ALL
          SELECT e + 1 AS d, -1 AS delta FROM iv)
        GROUP BY d),
      dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY day),
      spine AS (
        SELECT CAST(unnest(range((SELECT min(day) FROM ud),
                                 (SELECT max(day) FROM ud) + 1)) AS BIGINT) AS day),
      t AS (
        SELECT s.day, coalesce(dau.dau, 0) AS dau,
          CAST(sum(coalesce(deltas.delta, 0)) OVER (ORDER BY s.day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS mau
        FROM spine s
        LEFT JOIN deltas ON deltas.d = s.day
        LEFT JOIN dau ON dau.day = s.day)
      SELECT day, dau, mau, dau * 1000000 // mau AS stickiness_ppm
      FROM t ORDER BY day
    """))

  def defs: Seq[QueryDef] = Seq(q98, q99, q100, q101, q199, q200, q208, q221)
}
