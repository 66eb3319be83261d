package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.SqlMacros._

/** Round-6 batch 5: operational planners — newsvendor stocking from the
  * demand distribution, corruption blast-radius accounting, and MVCC
  * version-chain vacuum sizing. All outputs integers / strings with
  * total ORDER BYs for the oracle gate.
  */
object OpsPlanQueries extends QueryGroup {

  // ---------------------------------------------------------------- q552

  /** Newsvendor stock plan: the profit-optimal stock level is the
    * critical quantile F⁻¹(cᵤ/(cᵤ+cₒ)) of the demand distribution —
    * taken here bin-exactly from the observed DAILY demand (total
    * lineitem quantity per ship day) for critical ratios 0.5/0.8/0.9,
    * with the expected leftover (overage) and lost-sales (underage)
    * units per day that each choice actually implies, summed exactly
    * over the demand history. The one-number inventory decision, made
    * from data instead of a distributional guess.
    *
    * Scale shape: demand folds to one row per day (calendar-sized); the
    * quantile comes from a cumulative window over the per-day demand
    * table (q64's bin discipline — the boundary day is included whole);
    * the 3-row ratio grid and its stock levels broadcast back onto the
    * day table for the expectation sums. */
  private val q552 = QueryDef(
    "q552_newsvendor_stock_plan",
    (spark, dir) => {
      import graft.functions.Deterministic.epochS
      val spark0 = spark
      import spark0.implicits._
      val grid = Seq(500L, 800L, 900L).toDF("ratio_milli")
      val daily = Tables.lineitem(spark, dir)
        .select((epochS(col("l_shipdate")) / 86400L).cast("long").as("day"),
          expr("CAST(l_quantity AS BIGINT)").as("q"))
        .groupBy(col("day")).agg(sum(col("q")).as("d"))
      val cum = daily
        .withColumn("cum_days", count(lit(1)).over(Window.orderBy(col("d"), col("day"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      val tot = daily.agg(count(lit(1)).as("n_days"))
      val stocks = cum.crossJoin(broadcast(tot)).crossJoin(broadcast(grid))
        .filter(col("cum_days") * 1000L >= col("ratio_milli") * col("n_days"))
        .groupBy(col("ratio_milli"))
        .agg(min(col("d")).as("stock_units"), max(col("n_days")).as("n_days"))
      daily.crossJoin(broadcast(stocks))
        .groupBy(col("ratio_milli"), col("stock_units"), col("n_days"))
        .agg(sum(expr("greatest(stock_units - d, 0)")).as("overage_units"),
          sum(expr("greatest(d - stock_units, 0)")).as("underage_units"))
        .select(col("ratio_milli"), col("n_days"), col("stock_units"),
          col("overage_units"), col("underage_units"),
          expr("overage_units * 1000 div n_days").as("overage_per_day_milli"),
          expr("underage_units * 1000 div n_days").as("underage_per_day_milli"))
        .orderBy(col("ratio_milli"))
    },
    Some("""
      WITH grid(ratio_milli) AS (VALUES (CAST(500 AS BIGINT)),
        (CAST(800 AS BIGINT)), (CAST(900 AS BIGINT))),
      daily AS (
        SELECT epoch_ms(l_shipdate) // 1000 // 86400 AS day,
          CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS d
        FROM lineitem GROUP BY 1),
      cum AS (
        SELECT day, d,
          count(*) OVER (ORDER BY d, day ROWS UNBOUNDED PRECEDING) AS cum_days
        FROM daily),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily),
      stocks AS (
        SELECT ratio_milli, min(d) AS stock_units, max(n_days) AS n_days
        FROM cum CROSS JOIN tot CROSS JOIN grid
        WHERE cum_days * 1000 >= ratio_milli * n_days
        GROUP BY ratio_milli)
      SELECT ratio_milli, n_days, stock_units,
        CAST(sum(greatest(stock_units - d, 0)) AS BIGINT) AS overage_units,
        CAST(sum(greatest(d - stock_units, 0)) AS BIGINT) AS underage_units,
        CAST(sum(greatest(stock_units - d, 0)) * 1000 // n_days AS BIGINT)
          AS overage_per_day_milli,
        CAST(sum(greatest(d - stock_units, 0)) * 1000 // n_days AS BIGINT)
          AS underage_per_day_milli
      FROM daily CROSS JOIN stocks
      GROUP BY ratio_milli, stock_units, n_days
      ORDER BY ratio_milli
    """))

  // ---------------------------------------------------------------- q553

  /** Corruption blast-radius accounting: if one ingest slice (the
    * orders of 1995-03) is found corrupted, what exactly must be
    * quarantined and restated — orders, their line items, the customers
    * whose histories are now suspect, and the revenue at risk, absolute
    * and as a share of total (cents-exact). The first query an incident
    * runbook runs; q292 plans the cascade DELETE mechanics, this sizes
    * the incident.
    *
    * Scale shape: partition-pruned scans (the date filter reaches the
    * orders scan), two keyed joins, one-row total broadcast for the
    * share. */
  private val q553 = QueryDef(
    "q553_corruption_blast_radius",
    (spark, dir) => {
      val bad = Tables.orders(spark, dir)
        .filter(col("o_orderdate") >= "1995-03-01" && col("o_orderdate") < "1995-04-01")
        .select(col("o_orderkey"), col("o_custkey"))
      val badLines = Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("o_orderkey"),
          expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").as("price_c"))
        .join(bad, Seq("o_orderkey"))
      val total = Tables.lineitem(spark, dir)
        .agg(sum(expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"))
          .as("total_revenue_c"))
      val oStats = bad.agg(count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_customers"))
      badLines.agg(count(lit(1)).as("n_lineitems"),
          sum(col("price_c")).as("revenue_at_risk_c"))
        .crossJoin(broadcast(oStats))
        .crossJoin(broadcast(total))
        .select(col("n_orders"), col("n_lineitems"), col("n_customers"),
          col("revenue_at_risk_c"),
          expr("revenue_at_risk_c * 1000000 div total_revenue_c")
            .as("revenue_share_ppm"))
    },
    Some("""
      WITH bad AS (
        SELECT o_orderkey, o_custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-03-01'
          AND o_orderdate < TIMESTAMP '1995-04-01'),
      bl AS (
        SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS price_c
        FROM lineitem l JOIN bad b ON l.l_orderkey = b.o_orderkey),
      t AS (
        SELECT CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
          AS BIGINT) AS total_revenue_c
        FROM lineitem),
      os AS (
        SELECT CAST(count(*) AS BIGINT) AS n_orders,
          CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
        FROM bad)
      SELECT os.n_orders, CAST(count(*) AS BIGINT) AS n_lineitems,
        os.n_customers,
        CAST(sum(price_c) AS BIGINT) AS revenue_at_risk_c,
        CAST(sum(price_c) * 1000000 // total_revenue_c AS BIGINT)
          AS revenue_share_ppm
      FROM bl CROSS JOIN os CROSS JOIN t
      GROUP BY os.n_orders, os.n_customers, t.total_revenue_c
    """))

  // ---------------------------------------------------------------- q554

  /** MVCC version-chain vacuum sizing: treating each user's events as
    * versions of one logical row, a keep-latest-2 vacuum reclaims every
    * older version — counted per key with a key-partitioned recency
    * rank, with reclaimable bytes from the props payload (+16 bytes of
    * row header). The VACUUM cost/benefit readout (chains needing work,
    * bytes returned) that schedules compaction; q61 keeps the latest
    * version, this prices deleting the rest.
    *
    * Scale shape: the rank is partitioned by user key (the table's
    * natural key, bounded per key); two keyed folds to a one-row
    * census. */
  private val q554 = QueryDef(
    "q554_version_chain_vacuum",
    (spark, dir) => {
      import graft.functions.Deterministic.epochS
      val ranked = Tables.events(spark, dir)
        .select(col("user_id"), epochS(col("ts")).as("ts_s"), col("event_id"),
          (length(col("props")) + 16L).cast("long").as("bytes"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("user_id"))
            .orderBy(col("ts_s").desc, col("event_id").desc)))
      val perKey = ranked.groupBy(col("user_id"))
        .agg(count(lit(1)).as("versions"), sum(col("bytes")).as("bytes"),
          sum(when(col("rk") > 2, col("bytes")).otherwise(0L)).as("old_bytes"),
          sum(when(col("rk") > 2, 1L).otherwise(0L)).as("old_versions"))
      perKey.agg(count(lit(1)).as("n_keys"),
          sum(when(col("versions") > 2L, 1L).otherwise(0L)).as("keys_to_vacuum"),
          sum(col("versions")).as("total_versions"),
          sum(col("old_versions")).as("reclaimable_versions"),
          sum(col("bytes")).as("total_bytes"),
          sum(col("old_bytes")).as("reclaimable_bytes"))
        .select(col("n_keys"), col("keys_to_vacuum"), col("total_versions"),
          col("reclaimable_versions"), col("total_bytes"),
          col("reclaimable_bytes"),
          expr("reclaimable_bytes * 1000000 div total_bytes")
            .as("reclaim_ppm"))
    },
    Some("""
      WITH ranked AS (
        SELECT user_id, CAST(len(props) + 16 AS BIGINT) AS bytes,
          row_number() OVER (PARTITION BY user_id
            ORDER BY epoch_ms(ts) // 1000 DESC, event_id DESC) AS rk
        FROM events),
      perkey AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS versions,
          CAST(sum(bytes) AS BIGINT) AS bytes,
          CAST(sum(CASE WHEN rk > 2 THEN bytes ELSE 0 END) AS BIGINT)
            AS old_bytes,
          CAST(sum(CASE WHEN rk > 2 THEN 1 ELSE 0 END) AS BIGINT)
            AS old_versions
        FROM ranked GROUP BY user_id)
      SELECT CAST(count(*) AS BIGINT) AS n_keys,
        CAST(sum(CASE WHEN versions > 2 THEN 1 ELSE 0 END) AS BIGINT)
          AS keys_to_vacuum,
        CAST(sum(versions) AS BIGINT) AS total_versions,
        CAST(sum(old_versions) AS BIGINT) AS reclaimable_versions,
        CAST(sum(bytes) AS BIGINT) AS total_bytes,
        CAST(sum(old_bytes) AS BIGINT) AS reclaimable_bytes,
        CAST(sum(old_bytes) * 1000000 // sum(bytes) AS BIGINT) AS reclaim_ppm
      FROM perkey
    """))

  // ---------------------------------------------------------------- q555

  /** MoE capacity-factor overflow audit: route every document token to
    * one of 8 experts under two policies — content routing (expert =
    * hash(token), what a trained router approximates: Zipf head terms
    * pile onto their expert) vs position routing (expert = hash(doc,
    * position), the uniform baseline) — and price each at capacity
    * factors 1.0/1.25/1.5: tokens dropped when a per-batch expert
    * buffer overflows, plus the load-balance auxiliary loss E·Σfᵢ²
    * (Switch-Transformer's, exact in ppm from integer shares). The
    * readout that sizes expert buffers before a training run.
    *
    * Scale shape: one posexplode scan; everything downstream lives on
    * (policy × 16 batches × 8 experts) = 256 cells; the 3-row CF grid
    * broadcasts onto the cells; shares are Longs (q205's Σshare²
    * discipline — no wide intermediates). */
  private val q555 = QueryDef(
    "q555_moe_capacity_overflow",
    (spark, dir) => {
      import graft.functions.expressions.{poly_hash, tokens_native}
      val tok = Tables.documents(spark, dir)
        .select(col("doc_id"), posexplode(tokens_native(col("text"))).as(Seq("pos", "token")))
      val routed = tok.select(
        (col("doc_id") % 16L).as("batch"),
        explode(map(
          lit("content"), pmod(poly_hash(col("token")), lit(8L)),
          lit("position"), pmod(pmod(col("doc_id") * 4096L + pmod(col("pos"), lit(4096L)),
            lit(2147483648L)) * 2654435761L, lit(4294967296L)) % 8L
        )).as(Seq("policy", "expert")))
      val cells = routed.groupBy(col("policy"), col("batch"), col("expert"))
        .agg(count(lit(1)).as("n"))
      val batchTot = cells.groupBy(col("policy"), col("batch"))
        .agg(sum(col("n")).as("t_b"))
      val totals = cells.groupBy(col("policy")).agg(sum(col("n")).as("total_tokens"))
      val lb = cells.groupBy(col("policy"), col("expert")).agg(sum(col("n")).as("n_e"))
        .join(totals, Seq("policy"))
        .select(col("policy"), expr("n_e * 1000000 div total_tokens").as("share_ppm"))
        .groupBy(col("policy"))
        .agg(expr("CAST(8 * sum(share_ppm * share_ppm) div 1000000 AS BIGINT)")
          .as("lb_loss_ppm"))
      val spark0 = spark
      import spark0.implicits._
      val grid = Seq(1000L, 1250L, 1500L).toDF("cf_milli")
      cells.join(batchTot, Seq("policy", "batch"))
        .crossJoin(broadcast(grid))
        .select(col("policy"), col("cf_milli"),
          col("n"), expr("(cf_milli * t_b + 7999) div 8000").as("cap"))
        .groupBy(col("policy"), col("cf_milli"))
        .agg(sum(expr("greatest(n - cap, 0)")).as("dropped_tokens"))
        .join(totals, Seq("policy")).join(lb, Seq("policy"))
        .select(col("policy"), col("cf_milli"), col("total_tokens"),
          col("dropped_tokens"),
          expr("dropped_tokens * 1000000 div total_tokens").as("dropped_ppm"),
          col("lb_loss_ppm"))
        .orderBy(col("policy"), col("cf_milli"))
    },
    Some(s"""
      WITH tk AS (
        SELECT doc_id, $duckTokens AS tk
        FROM documents),
      post AS (
        SELECT doc_id, CAST(i.i - 1 AS BIGINT) AS pos, tk[CAST(i.i AS INTEGER)] AS token
        FROM tk, LATERAL (SELECT unnest(range(1, len(tk) + 1)) AS i) i),
      routed AS (
        SELECT doc_id % 16 AS batch, p.policy,
          CASE WHEN p.policy = 'content'
            THEN ${duckPolyHashOf("token")} % 8
            ELSE ((doc_id*4096 + pos % 4096) % 2147483648) * 2654435761
              % 4294967296 % 8
          END AS expert
        FROM post CROSS JOIN (VALUES ('content'), ('position')) p(policy)),
      cells AS (
        SELECT policy, batch, expert, CAST(count(*) AS BIGINT) AS n
        FROM routed GROUP BY 1, 2, 3),
      bt AS (SELECT policy, batch, CAST(sum(n) AS BIGINT) AS t_b
             FROM cells GROUP BY 1, 2),
      tot AS (SELECT policy, CAST(sum(n) AS BIGINT) AS total_tokens
              FROM cells GROUP BY 1),
      lb AS (
        SELECT policy,
          CAST(8 * sum(share_ppm * share_ppm) // 1000000 AS BIGINT) AS lb_loss_ppm
        FROM (SELECT c.policy, CAST(sum(n) AS BIGINT) * 1000000 // max(total_tokens)
                AS share_ppm
              FROM cells c JOIN tot USING (policy)
              GROUP BY c.policy, c.expert)
        GROUP BY policy),
      grid(cf_milli) AS (VALUES (CAST(1000 AS BIGINT)), (CAST(1250 AS BIGINT)),
        (CAST(1500 AS BIGINT))),
      drops AS (
        SELECT policy, cf_milli,
          CAST(sum(greatest(n - (cf_milli * t_b + 7999) // 8000, 0)) AS BIGINT)
            AS dropped_tokens
        FROM cells JOIN bt USING (policy, batch) CROSS JOIN grid
        GROUP BY 1, 2)
      SELECT policy, cf_milli, total_tokens, dropped_tokens,
        CAST(dropped_tokens * 1000000 // total_tokens AS BIGINT) AS dropped_ppm,
        lb_loss_ppm
      FROM drops JOIN tot USING (policy) JOIN lb USING (policy)
      ORDER BY policy, cf_milli
    """))

  // ---------------------------------------------------------------- q556

  /** Drain-rate shaper backlog audit: feed each user's per-minute event
    * arrivals into a constant-drain shaper (an infinite-buffer rate
    * limiter) at 2/5/15 milli-events per minute (≈3/7/22 events per
    * day — the observed per-user mean is ≈2.3 milli/min, so the grid
    * straddles the saturation point) and measure the backlog
    * carried INTO each minute — exactly, via the Lindley/network-
    * calculus identity Q(t) = (A(t) − r·t) − min_{s≤t}(A(s⁻) − r·s),
    * which turns the sequential token-bucket recursion into one
    * cumulative sum + one running min per key. The census (who ever
    * queues, how deep, how long) that picks a per-user rate limit.
    *
    * Scale shape: events fold to (user, minute) counts first; the 3-row
    * rate grid broadcasts onto that (×3, grid-bounded); both windows
    * are partitioned by (user, rate) — per-user series are calendar-
    * bounded, nothing global. */
  private val q556 = QueryDef(
    "q556_shaper_backlog_audit",
    (spark, dir) => {
      import graft.functions.Deterministic.epochS
      val spark0 = spark
      import spark0.implicits._
      val grid = Seq(2L, 5L, 15L).toDF("r_milli")
      val perMin = Tables.events(spark, dir)
        .select(col("user_id"), (epochS(col("ts")) / 60L).cast("long").as("minute"))
        .groupBy(col("user_id"), col("minute")).agg(count(lit(1)).as("a"))
      val w = Window.partitionBy(col("user_id"), col("r_milli")).orderBy(col("minute"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val q = perMin.crossJoin(broadcast(grid))
        .withColumn("cum", sum(col("a")).over(w))
        .withColumn("pre", (col("cum") - col("a")) * 1000L - col("r_milli") * col("minute"))
        .withColumn("carry_milli", (col("cum") - col("a")) * 1000L -
          col("r_milli") * col("minute") - min(col("pre")).over(w))
      q.groupBy(col("r_milli"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          countDistinct(when(col("carry_milli") > 0L, col("user_id"))).as("users_carrying"),
          count(lit(1)).as("observed_minutes"),
          sum(when(col("carry_milli") > 0L, 1L).otherwise(0L)).as("carrying_minutes"),
          max(col("carry_milli")).as("max_carry_milli"),
          sum(col("carry_milli")).as("total_carry_milli"))
        .select(col("r_milli"), col("n_users"), col("users_carrying"),
          expr("users_carrying * 1000000 div n_users").as("carrying_user_ppm"),
          col("observed_minutes"), col("carrying_minutes"),
          col("max_carry_milli"), col("total_carry_milli"))
        .orderBy(col("r_milli"))
    },
    Some("""
      WITH grid(r_milli) AS (VALUES (CAST(2 AS BIGINT)), (CAST(5 AS BIGINT)),
        (CAST(15 AS BIGINT))),
      pm AS (
        SELECT user_id, epoch_ms(ts) // 1000 // 60 AS minute,
          CAST(count(*) AS BIGINT) AS a
        FROM events GROUP BY 1, 2),
      cum AS (
        SELECT user_id, r_milli, minute, a,
          CAST(sum(a) OVER w AS BIGINT) AS cum
        FROM pm CROSS JOIN grid
        WINDOW w AS (PARTITION BY user_id, r_milli ORDER BY minute
          ROWS UNBOUNDED PRECEDING)),
      q AS (
        SELECT user_id, r_milli, a,
          (cum - a) * 1000 - r_milli * minute
            - min((cum - a) * 1000 - r_milli * minute) OVER w AS carry_milli
        FROM cum
        WINDOW w AS (PARTITION BY user_id, r_milli ORDER BY minute
          ROWS UNBOUNDED PRECEDING))
      SELECT r_milli, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        CAST(count(DISTINCT CASE WHEN carry_milli > 0 THEN user_id END) AS BIGINT)
          AS users_carrying,
        CAST(count(DISTINCT CASE WHEN carry_milli > 0 THEN user_id END) * 1000000
          // count(DISTINCT user_id) AS BIGINT) AS carrying_user_ppm,
        CAST(count(*) AS BIGINT) AS observed_minutes,
        CAST(sum(CASE WHEN carry_milli > 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS carrying_minutes,
        CAST(max(carry_milli) AS BIGINT) AS max_carry_milli,
        CAST(sum(carry_milli) AS BIGINT) AS total_carry_milli
      FROM q GROUP BY r_milli ORDER BY r_milli
    """))

  // ---------------------------------------------------------------- q557

  /** Peeking (optional-stopping) inflation audit: an A/A experiment —
    * customers hash-split into two arms that differ by construction
    * only in the hash — checked EVERY day at fixed z thresholds
    * (1.96/2.576/3.29) via the integer-exact crossing test
    * diff²·10⁶ > z²·n on cumulative per-arm order counts. Any crossing
    * is a false positive, so the per-stream crossing census IS the
    * measured peeking inflation; the final-day verdict shows what the
    * honest fixed-horizon test concludes. Runs one stream per order
    * priority: 5 independent replicates in one plan.
    *
    * Scale shape: orders fold to (stream, day, arm) counts; cumulative
    * windows are partitioned per stream over the calendar-sized day
    * series; the 3-row z grid broadcasts on top. */
  private val q557 = QueryDef(
    "q557_peeking_inflation_audit",
    (spark, dir) => {
      import graft.functions.Deterministic.epochS
      val spark0 = spark
      import spark0.implicits._
      val grid = Seq(1960L, 2576L, 3291L).toDF("z_milli")
      val daily = Tables.orders(spark, dir)
        .select(col("o_orderpriority").as("stream"),
          (epochS(col("o_orderdate")) / 86400L).cast("long").as("day"),
          (graft.operators.Sampling.keyHash(col("o_custkey")) % 2L).as("arm"))
        .groupBy(col("stream"), col("day"))
        .agg(sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("d0"),
          sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("d1"))
      val w = Window.partitionBy(col("stream")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val cum = daily
        .withColumn("cum0", sum(col("d0")).over(w))
        .withColumn("cum1", sum(col("d1")).over(w))
        .withColumn("day_idx", count(lit(1)).over(w))
      cum.crossJoin(broadcast(grid))
        .withColumn("crossed", ((col("cum0") - col("cum1")) * (col("cum0") - col("cum1"))
          * 1000000L > col("z_milli") * col("z_milli") * (col("cum0") + col("cum1")))
          .cast("long"))
        .groupBy(col("stream"), col("z_milli"))
        .agg(count(lit(1)).as("n_days"),
          sum(col("crossed")).as("n_crossings"),
          coalesce(min(when(col("crossed") === 1L, col("day_idx"))), lit(-1L))
            .as("first_cross_idx"),
          max(col("cum0")).as("tot0"), max(col("cum1")).as("tot1"))
        .select(col("stream"), col("z_milli"), col("n_days"), col("n_crossings"),
          col("first_cross_idx"),
          ((col("tot0") - col("tot1")) * (col("tot0") - col("tot1")) * 1000000L >
            col("z_milli") * col("z_milli") * (col("tot0") + col("tot1")))
            .cast("long").as("final_significant"))
        .orderBy(col("stream"), col("z_milli"))
    },
    Some("""
      WITH grid(z_milli) AS (VALUES (CAST(1960 AS BIGINT)), (CAST(2576 AS BIGINT)),
        (CAST(3291 AS BIGINT))),
      daily AS (
        SELECT o_orderpriority AS stream,
          epoch_ms(o_orderdate) // 1000 // 86400 AS day,
          CAST(sum(CASE WHEN ((o_custkey % 2147483648) * 2654435761)
            % 4294967296 % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d0,
          CAST(sum(CASE WHEN ((o_custkey % 2147483648) * 2654435761)
            % 4294967296 % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d1
        FROM orders GROUP BY 1, 2),
      cum AS (
        SELECT stream,
          CAST(sum(d0) OVER w AS BIGINT) AS cum0,
          CAST(sum(d1) OVER w AS BIGINT) AS cum1,
          CAST(count(*) OVER w AS BIGINT) AS day_idx
        FROM daily
        WINDOW w AS (PARTITION BY stream ORDER BY day ROWS UNBOUNDED PRECEDING)),
      marked AS (
        SELECT stream, z_milli, day_idx, cum0, cum1,
          CASE WHEN (cum0 - cum1) * (cum0 - cum1) * 1000000
            > z_milli * z_milli * (cum0 + cum1) THEN 1 ELSE 0 END AS crossed
        FROM cum CROSS JOIN grid)
      SELECT stream, z_milli, CAST(count(*) AS BIGINT) AS n_days,
        CAST(sum(crossed) AS BIGINT) AS n_crossings,
        CAST(coalesce(min(CASE WHEN crossed = 1 THEN day_idx END), -1) AS BIGINT)
          AS first_cross_idx,
        CAST(CASE WHEN (max(cum0) - max(cum1)) * (max(cum0) - max(cum1)) * 1000000
          > z_milli * z_milli * (max(cum0) + max(cum1)) THEN 1 ELSE 0 END AS BIGINT)
          AS final_significant
      FROM marked GROUP BY stream, z_milli ORDER BY stream, z_milli
    """))

  def defs: Seq[QueryDef] = Seq(q552, q553, q554, q555, q556, q557)
}
