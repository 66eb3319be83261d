package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Deterministic.cents
import graft.queries.SqlMacros._

/** Round-4 layout/eval/attribution operators: run-length-encoding layout
  * planning, graded-relevance retrieval evaluation, and Markov
  * removal-effect attribution — the storage-, search-, and
  * marketing-science corners of a training-data platform.
  *
  * Everything is integer-exact (scaled rationals, floor division) so the
  * DuckDB hash compare is byte-identical; see Deterministic.
  */
object EvalQueries extends QueryGroup {

  /** lineitem revenue in 1e-4-dollar units as a Column (q375). */
  private def revE4Col =
    floor(col("l_extendedprice") * lit(100d) + lit(0.5d)).cast("long") *
      (lit(100L) - floor(col("l_discount") * lit(100d) + lit(0.5d)).cast("long"))

  private val revE4Sql =
    "CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount*100 + 0.5) AS BIGINT))"

  // ---------------------------------------------------------------- q372

  /** Run-length-encoding layout plan: for two candidate lineitem columns
    * (low-cardinality l_returnflag, high-cardinality l_suppkey), the
    * exact number of RLE runs the column would produce in primary-key
    * order (l_orderkey, l_linenumber), its distinct-value floor (= runs
    * if the table were re-sorted by that column), and the RLE
    * compression ratio in percent — the evidence for choosing a sort
    * key before a big parquet rewrite.
    *
    * Scale shape: a global adjacency scan is NOT one giant window — rows
    * bucket by `l_orderkey div 64` and adjacency is counted with a
    * window WITHIN each bucket (64-order slices, embarrassingly
    * parallel), plus one boundary pass over the bucket-summary table
    * (first/last row per bucket via asc/desc row_number under the full
    * layout order);
    * the summary is ~450× smaller than the fact, and the construction
    * recurses if even that is too big. Both adjacency counts and the
    * distinct floors come out of ONE scan each. */
  private val q372 = QueryDef(
    "q372_rle_layout_plan",
    (spark, dir) => {
      // Layout order: (orderkey, linenumber, suppkey, price-cents,
      // returnflag). (orderkey, linenumber) is NOT unique in this data,
      // so both measured columns ride at the end of the sort key — any
      // remaining tie is between rows equal in BOTH measured columns,
      // making the run counts independent of how an engine breaks it.
      val li = Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_suppkey"),
          graft.functions.Deterministic.cents(col("l_extendedprice")).as("price_c"))
        .withColumn("bkt", expr("l_orderkey div 64"))
      val ord = Seq(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"),
        col("price_c"), col("l_returnflag"))
      val w = Window.partitionBy(col("bkt")).orderBy(ord: _*)
      val wAll = Window.partitionBy(col("bkt"))
      // ONE window pass per consumer: lag for adjacency, row_number +
      // partition count mark each bucket's first/last row — no second
      // (descending) sort, no per-branch window spec
      val marked = li
        .withColumn("p_rf", lag(col("l_returnflag"), 1).over(w))
        .withColumn("p_sk", lag(col("l_suppkey"), 1).over(w))
        .withColumn("rn", row_number().over(w))
        .withColumn("cnt", count(lit(1)).over(wAll))
      val within = marked
        .agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("p_rf").isNotNull && col("p_rf") =!= col("l_returnflag"), 1L)
            .otherwise(0L)).as("rf_chg_w"),
          sum(when(col("p_sk").isNotNull && col("p_sk") =!= col("l_suppkey"), 1L)
            .otherwise(0L)).as("sk_chg_w"),
          countDistinct(col("l_returnflag")).as("rf_distinct"),
          countDistinct(col("l_suppkey")).as("sk_distinct"))
      val bounds = marked
        .filter(col("rn") === 1 || col("rn") === col("cnt"))
        .groupBy(col("bkt"))
        .agg(max(when(col("rn") === 1, col("l_returnflag"))).as("first_rf"),
          max(when(col("rn") === col("cnt"), col("l_returnflag"))).as("last_rf"),
          max(when(col("rn") === 1, col("l_suppkey"))).as("first_sk"),
          max(when(col("rn") === col("cnt"), col("l_suppkey"))).as("last_sk"))
      val wb = Window.orderBy(col("bkt"))
      val boundary = bounds
        .withColumn("p_rf", lag(col("last_rf"), 1).over(wb))
        .withColumn("p_sk", lag(col("last_sk"), 1).over(wb))
        .agg(
          sum(when(col("p_rf").isNotNull && col("p_rf") =!= col("first_rf"), 1L)
            .otherwise(0L)).as("rf_chg_b"),
          sum(when(col("p_sk").isNotNull && col("p_sk") =!= col("first_sk"), 1L)
            .otherwise(0L)).as("sk_chg_b"))
      // explode, not union: a union of two projections would duplicate
      // the whole fact subtree (4 corpus scans instead of 2)
      within.crossJoin(broadcast(boundary))
        .select(col("n_rows"),
          (col("rf_chg_w") + col("rf_chg_b") + lit(1L)).as("rf_runs"),
          (col("sk_chg_w") + col("sk_chg_b") + lit(1L)).as("sk_runs"),
          col("rf_distinct"), col("sk_distinct"))
        .select(explode(array(
          struct(lit("l_returnflag").as("column_name"), col("n_rows"),
            col("rf_runs").as("n_runs"), col("rf_distinct").as("n_distinct")),
          struct(lit("l_suppkey").as("column_name"), col("n_rows"),
            col("sk_runs").as("n_runs"), col("sk_distinct").as("n_distinct"))))
          .as("s"))
        .select(col("s.column_name"), col("s.n_rows"), col("s.n_runs"),
          col("s.n_distinct"),
          expr("s.n_rows * 100 div s.n_runs").as("rle_ratio_pct"))
        .orderBy(col("column_name"))
    },
    Some("""
      WITH li AS (
        SELECT l_orderkey // 64 AS bkt, l_orderkey, l_linenumber,
          l_returnflag, l_suppkey,
          CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT) AS price_c
        FROM lineitem),
      adj AS (
        SELECT l_returnflag, l_suppkey,
          lag(l_returnflag) OVER wa AS p_rf,
          lag(l_suppkey) OVER wa AS p_sk
        FROM li
        WINDOW wa AS (PARTITION BY bkt
          ORDER BY l_orderkey, l_linenumber, l_suppkey, price_c, l_returnflag)),
      w AS (
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
          CAST(count(*) FILTER (p_rf IS NOT NULL AND p_rf <> l_returnflag) AS BIGINT) AS rf_chg_w,
          CAST(count(*) FILTER (p_sk IS NOT NULL AND p_sk <> l_suppkey) AS BIGINT) AS sk_chg_w,
          CAST(count(DISTINCT l_returnflag) AS BIGINT) AS rf_distinct,
          CAST(count(DISTINCT l_suppkey) AS BIGINT) AS sk_distinct
        FROM adj),
      rns AS (
        SELECT bkt, l_returnflag, l_suppkey,
          row_number() OVER (PARTITION BY bkt
            ORDER BY l_orderkey, l_linenumber, l_suppkey, price_c, l_returnflag) AS rn_a,
          row_number() OVER (PARTITION BY bkt
            ORDER BY l_orderkey DESC, l_linenumber DESC, l_suppkey DESC,
              price_c DESC, l_returnflag DESC) AS rn_d
        FROM li),
      bounds AS (
        SELECT bkt,
          max(CASE WHEN rn_a = 1 THEN l_returnflag END) AS first_rf,
          max(CASE WHEN rn_d = 1 THEN l_returnflag END) AS last_rf,
          max(CASE WHEN rn_a = 1 THEN l_suppkey END) AS first_sk,
          max(CASE WHEN rn_d = 1 THEN l_suppkey END) AS last_sk
        FROM rns WHERE rn_a = 1 OR rn_d = 1 GROUP BY bkt),
      badj AS (
        SELECT first_rf, first_sk,
          lag(last_rf) OVER (ORDER BY bkt) AS p_rf,
          lag(last_sk) OVER (ORDER BY bkt) AS p_sk
        FROM bounds),
      b AS (
        SELECT
          CAST(count(*) FILTER (p_rf IS NOT NULL AND p_rf <> first_rf) AS BIGINT) AS rf_chg_b,
          CAST(count(*) FILTER (p_sk IS NOT NULL AND p_sk <> first_sk) AS BIGINT) AS sk_chg_b
        FROM badj),
      one AS (
        SELECT n_rows, rf_chg_w + rf_chg_b + 1 AS rf_runs,
          sk_chg_w + sk_chg_b + 1 AS sk_runs, rf_distinct, sk_distinct
        FROM w CROSS JOIN b)
      SELECT 'l_returnflag' AS column_name, n_rows, rf_runs AS n_runs,
        rf_distinct AS n_distinct, n_rows * 100 // rf_runs AS rle_ratio_pct
      FROM one
      UNION ALL
      SELECT 'l_suppkey', n_rows, sk_runs, sk_distinct, n_rows * 100 // sk_runs
      FROM one
      ORDER BY column_name
    """))

  // ---------------------------------------------------------------- q373

  /** Graded-relevance retrieval evaluation: DCG@10 with HARMONIC
    * discount (gain/rank instead of gain/log₂(rank+1) — scaled by
    * LCM(1..10) = 2520 it stays in exact integers, where the log form
    * would hash-diverge between engines). Queries are a fixed
    * 64-query panel (the hash-smallest vec_ids); a candidate is
    * relevant iff it shares the query's label; ndcg_ppm normalizes by
    * the ideal DCG for the query's actual relevant-candidate count.
    *
    * Scale shape: [[QuantQueries.panelDots]], q235's eval harness —
    * broadcast quantized query vectors (a fixed BUDGET, not a
    * fraction: a fraction grows candidate pairs quadratically),
    * codegen'd integer dot products on one corpus scan, top-10 per
    * query via the [[graft.functions.TopKPairs]] bounded heap (≤10 rows
    * per query cross the shuffle)
    * with n_rel aggregated alongside in the same pass — never a
    * corpus-sized window partition. */
  private val q373 = QueryDef(
    "q373_dcg_retrieval_eval",
    (spark, dir) => {
      // Σ_{r=1..m} 2520 div r, m = min(10, n_rel): the ideal DCG lookup
      val idealCase =
        """CASE WHEN m >= 10 THEN 7381 WHEN m = 9 THEN 7129 WHEN m = 8 THEN 6849
                WHEN m = 7 THEN 6534 WHEN m = 6 THEN 6174 WHEN m = 5 THEN 5754
                WHEN m = 4 THEN 5250 WHEN m = 3 THEN 4620 WHEN m = 2 THEN 3780
                WHEN m = 1 THEN 2520 ELSE 0 END"""
      QuantQueries.panelDots(spark, dir, labeled = true)
        .withColumn("cosine", col("dot").cast("double") /
          sqrt(col("nsq").cast("double") * col("q_nsq").cast("double")))
        .withColumn("rel", when(col("label") === col("q_label"), 1L).otherwise(0L))
        // top-10 per query via the bounded heap (≤10 rows per query
        // cross the shuffle — never a corpus-sized window partition);
        // rel rides in the id's low bit, n_rel aggregates alongside
        .groupBy(col("q_id"), col("q_label"))
        .agg(graft.functions.TopKAggregate.topk_pairs(
            col("cosine"), col("vec_id") * lit(2L) + col("rel"), 10).as("top10"),
          sum(col("rel")).as("n_rel"))
        // DCG by one fold over the rank-sorted array: gain 2520/k at
        // each relevant position k
        .withColumn("dcg_mu", expr(
          """aggregate(top10, named_struct('k', 0L, 's', 0L),
               (a, e) -> named_struct('k', a.k + 1L,
                 's', a.s + IF(e.id % 2 = 1, 2520 DIV (a.k + 1L), 0L))).s"""))
        .withColumn("m", least(col("n_rel"), lit(10L)))
        .select(col("q_id"), col("q_label"), col("n_rel"), col("dcg_mu"),
          expr(s"CASE WHEN ($idealCase) = 0 THEN 0 " +
            s"ELSE dcg_mu * 1000000 DIV ($idealCase) END").as("ndcg_ppm"))
        .orderBy(col("q_id"))
    },
    Some(s"""
      WITH v AS (
        SELECT vec_id, CAST(label AS BIGINT) AS label,
          $duckQuantVec AS qv
        FROM embeddings),
      n AS (
        SELECT vec_id, label, qv,
          CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS nsq
        FROM v),
      nn AS (SELECT * FROM n WHERE nsq > 0),
      q AS (
        SELECT vec_id AS q_id, label AS q_label, qv AS q_qv, nsq AS q_nsq
        FROM nn
        ORDER BY ((vec_id % 2147483648) * 2654435761) % 4294967296, vec_id
        LIMIT 64),
      scored AS (
        SELECT nn.vec_id, q_id, q_label,
          CASE WHEN nn.label = q_label THEN 1 ELSE 0 END AS rel,
          CAST(CAST(list_sum(list_transform(range(1, len(qv)+1), i -> qv[i]*q_qv[i])) AS BIGINT) AS DOUBLE)
            / sqrt(CAST(nsq AS DOUBLE)*CAST(q_nsq AS DOUBLE)) AS cosine
        FROM nn CROSS JOIN q WHERE nn.vec_id <> q_id),
      ranked AS (
        SELECT q_id, q_label, rel,
          CAST(sum(rel) OVER (PARTITION BY q_id) AS BIGINT) AS n_rel,
          CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS rk
        FROM scored),
      dcg AS (
        SELECT q_id, q_label, n_rel,
          sum(CASE WHEN rel = 1 THEN 2520 // rk ELSE CAST(0 AS BIGINT) END) AS dcg_mu,
          least(n_rel, 10) AS m
        FROM ranked WHERE rk <= 10
        GROUP BY q_id, q_label, n_rel)
      SELECT q_id, q_label, n_rel, CAST(dcg_mu AS BIGINT) AS dcg_mu,
        CAST(CASE WHEN (CASE WHEN m >= 10 THEN 7381 WHEN m = 9 THEN 7129 WHEN m = 8 THEN 6849
                        WHEN m = 7 THEN 6534 WHEN m = 6 THEN 6174 WHEN m = 5 THEN 5754
                        WHEN m = 4 THEN 5250 WHEN m = 3 THEN 4620 WHEN m = 2 THEN 3780
                        WHEN m = 1 THEN 2520 ELSE 0 END) = 0 THEN CAST(0 AS BIGINT)
             ELSE dcg_mu * 1000000 // (CASE WHEN m >= 10 THEN 7381 WHEN m = 9 THEN 7129
                        WHEN m = 8 THEN 6849 WHEN m = 7 THEN 6534 WHEN m = 6 THEN 6174
                        WHEN m = 5 THEN 5754 WHEN m = 4 THEN 5250 WHEN m = 3 THEN 4620
                        WHEN m = 2 THEN 3780 WHEN m = 1 THEN 2520 ELSE 0 END) END AS BIGINT) AS ndcg_ppm
      FROM dcg
      ORDER BY q_id
    """))

  // ---------------------------------------------------------------- q374

  /** Markov removal-effect attribution: build the first-order
    * click-stream chain over event types (consecutive events per user,
    * purchase absorbing, journey start as a synthetic START state), then
    * for each non-absorbing channel ask "what fraction of conversions
    * disappears if this channel vanishes?" — conversion probability from
    * START under 8 power steps, computed on the base chain and on each
    * channel-removed chain, all in exact ppm integers.
    *
    * Scale shape: the transition table is vocabulary-sized (≤ 7×7
    * states) but its BUILD scans the events table — so it is
    * localCheckpoint'ed once and the 8-step unrolled iteration (one
    * join + one keyed agg per step, PageRank's dataflow) runs over tiny
    * keyed tables for all 5 chain variants AT ONCE (variant is just
    * another key — removing a channel is a filter, not a new job).
    * Nothing driver-side, nothing quadratic; the events scan happens
    * exactly once. */
  private val q374 = QueryDef(
    "q374_markov_removal_attribution",
    (spark, dir) => {
      val ev = Tables.events(spark, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      val wU = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      // consecutive pairs; purchase absorbs (no outgoing edge); the
      // journey start contributes a START → first-event edge
      val nxt = ev
        .withColumn("nxt", lead(col("event_type"), 1).over(wU))
        .withColumn("rk", row_number().over(wU))
      val steps = nxt
        .filter(col("nxt").isNotNull && col("event_type") =!= "purchase")
        .select(col("event_type").as("src"), col("nxt").as("dst"))
        .union(nxt.filter(col("rk") === 1)
          .select(lit("START").as("src"), col("event_type").as("dst")))
      val counts = steps.groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n"))
      val outs = counts.groupBy(col("src")).agg(sum(col("n")).as("tot"))
      // materialize the transition table ONCE (it embeds the events
      // scan and appears in all 8 unrolled iterations × 5 variants)
      val baseT = counts.join(outs, Seq("src"))
        .select(col("src"), col("dst"), expr("n * 1000000 div tot").as("t_ppm"))
        .localCheckpoint(true)
      // 5 variants keyed by the removed channel ('none' = base chain);
      // removal drops every edge touching the channel — a filter over
      // the ≤49-entry transition array, not a new scan.
      //
      // r13: the chain is FIXED at ≤7×7 states at every scale factor,
      // so the whole 8-step × 5-variant power iteration runs inside one
      // codegen'd aggregate HOF over the collected transition array —
      // the former plan nested 8 rounds × (join + agg + right-join)
      // per variant into one enormous lazy plan (16+ joins, heavy
      // planning + AQE barriers). Recurrence, flooring order
      // (Σ products, then ONE div 1e6), missing-state defaults and the
      // states domain are identical. (plans/r13/q374_*.txt)
      val variants = Seq("none", "click", "view", "signup", "error")
      val transRow = baseT
        .agg(collect_list(struct(col("src"), col("dst"), col("t_ppm"))).as("tr"))
      val statesArr = "array('START', 'click', 'view', 'signup', 'error')"
      val iterExpr = s"""
        aggregate(sequence(1, 8),
          map_from_arrays($statesArr,
            transform($statesArr, s -> CAST(0 AS BIGINT))),
          (v, step) -> map_from_arrays($statesArr,
            transform($statesArr, s ->
              aggregate(
                filter(tarr, e -> e.src = s),
                CAST(0 AS BIGINT),
                (acc, e) -> acc + e.t_ppm *
                  (CASE WHEN e.dst = 'purchase' THEN CAST(1000000 AS BIGINT)
                        ELSE coalesce(try_element_at(v, e.dst),
                                      CAST(0 AS BIGINT)) END),
                t -> t div 1000000))),
          v -> try_element_at(v, 'START'))"""
      val conv = {
        import spark.implicits._
        variants.toDF("variant")
      }
        .crossJoin(broadcast(transRow))
        .withColumn("tarr", expr(
          """CASE WHEN variant = 'none' THEN tr
             ELSE filter(tr, e -> e.src != variant AND e.dst != variant)
             END"""))
        .select(col("variant"), expr(iterExpr).as("conv_ppm"))
      val base = conv.filter(col("variant") === "none")
        .select(col("conv_ppm").as("base_ppm"))
      conv.crossJoin(broadcast(base))
        .select(col("variant").as("removed_channel"), col("conv_ppm"),
          expr("CASE WHEN base_ppm = 0 THEN 0 " +
            "ELSE (base_ppm - conv_ppm) * 1000000 div base_ppm END")
            .as("removal_effect_ppm"))
        .orderBy(col("removed_channel"))
    },
    Some {
      val states = Seq("START", "click", "view", "signup", "error")
      val statesSql = states.map(s => s"('$s')").mkString(", ")
      // unrolled fixed-point: v0 = 0 everywhere; each step joins the
      // transition CTE with the previous vector (chained CTEs — DuckDB
      // recursive CTEs can't aggregate over the recursive reference)
      val stepCtes = (1 to 8).map { i =>
        val prev = if (i == 1) "v0" else s"v${i - 1}"
        s"""v$i AS (
          SELECT t.variant, t.src AS state,
            sum(t.t_ppm * (CASE WHEN t.dst = 'purchase' THEN 1000000
                                ELSE coalesce(p.v_ppm, 0) END)) // 1000000 AS v_ppm
          FROM trans t
          LEFT JOIN $prev p ON p.variant = t.variant AND p.state = t.dst
          GROUP BY 1, 2)"""
      }.mkString(",\n")
      s"""
      WITH ev AS (
        SELECT user_id, event_type,
          lead(event_type) OVER w AS nxt,
          row_number() OVER w AS rk
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      steps AS (
        SELECT event_type AS src, nxt AS dst FROM ev
        WHERE nxt IS NOT NULL AND event_type <> 'purchase'
        UNION ALL
        SELECT 'START', event_type FROM ev WHERE rk = 1),
      counts AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS n FROM steps GROUP BY 1, 2),
      outs AS (SELECT src, sum(n) AS tot FROM counts GROUP BY 1),
      base_t AS (
        SELECT counts.src, dst, n * 1000000 // tot AS t_ppm
        FROM counts JOIN outs ON counts.src = outs.src),
      variants(variant) AS (VALUES ('none'), ('click'), ('view'), ('signup'), ('error')),
      trans AS (
        SELECT variant, src, dst, t_ppm FROM variants CROSS JOIN base_t
        WHERE variant = 'none' OR (src <> variant AND dst <> variant)),
      states(state) AS (VALUES $statesSql),
      v0 AS (
        SELECT variant, state, CAST(0 AS BIGINT) AS v_ppm
        FROM variants CROSS JOIN states),
      $stepCtes,
      conv AS (
        SELECT variant, coalesce(v_ppm, 0) AS conv_ppm
        FROM variants
        LEFT JOIN v8 USING (variant)
        WHERE v8.state = 'START' OR v8.state IS NULL),
      base AS (SELECT conv_ppm AS base_ppm FROM conv WHERE variant = 'none')
      SELECT variant AS removed_channel, CAST(conv_ppm AS BIGINT) AS conv_ppm,
        CAST(CASE WHEN base_ppm = 0 THEN CAST(0 AS BIGINT)
             ELSE (base_ppm - conv_ppm) * 1000000 // base_ppm END AS BIGINT) AS removal_effect_ppm
      FROM conv CROSS JOIN base
      ORDER BY removed_channel
      """
    })

  // ---------------------------------------------------------------- q375

  /** Incremental view maintenance of a JOIN view: the revenue-by-segment
    * view V = Σ rev over (lineitem ⋈ orders ⋈ customer), maintained from
    * a base snapshot (orders placed AND lines shipped before 1998) to
    * the next (before Feb 1998) via the join delta algebra
    * Δ(L ⋈ O) = ΔL⋈O_old ∪ L_old⋈ΔO ∪ ΔL⋈ΔO — never re-aggregating the
    * base quadrant from scratch.
    *
    * Scale shape: the whole point of IVM at 100 TB — the three delta
    * terms touch ONE month of lines/orders; ΔO broadcasts into the
    * L_old term so old lines are filtered at the join, not re-scanned
    * into a full view rebuild. All four quadrants union row-wise into a
    * single segment-keyed aggregate (one shuffle). Output carries base,
    * delta, and maintained totals — the maintained total is what a
    * production system would write back. */
  private val q375 = QueryDef(
    "q375_ivm_join_delta",
    (spark, dir) => {
      val cust = Tables.customer(spark, dir).select(col("c_custkey"), col("c_mktsegment"))
      val oAll = Tables.orders(spark, dir)
        .filter(col("o_orderdate") < "1998-02-01")
        .select(col("o_orderkey"), col("o_custkey"),
          (col("o_orderdate") < "1998-01-01").as("o_old"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_mktsegment"), col("o_old"))
      val oOld = oAll.filter(col("o_old"))
      val oDelta = oAll.filter(!col("o_old"))
      val lAll = Tables.lineitem(spark, dir)
        .filter(col("l_shipdate") < "1998-02-01")
        .select(col("l_orderkey"), revE4Col.as("rev_e4"),
          (col("l_shipdate") < "1998-01-01").as("l_old"))
      val lOld = lAll.filter(col("l_old"))
      val lDelta = lAll.filter(!col("l_old"))
      def term(l: DataFrame, o: DataFrame, phase: String, bcast: Boolean) = {
        val os = if (bcast) broadcast(o) else o
        l.join(os, col("l_orderkey") === col("o_orderkey"))
          .select(col("c_mktsegment"), col("rev_e4"), lit(phase).as("phase"))
      }
      term(lOld, oOld, "base", bcast = false)
        .union(term(lDelta, oOld, "delta", bcast = false))
        .union(term(lOld, oDelta, "delta", bcast = true))
        .union(term(lDelta, oDelta, "delta", bcast = true))
        .groupBy(col("c_mktsegment"))
        .agg(
          sum(when(col("phase") === "base", col("rev_e4")).otherwise(0L)).as("base_e4"),
          sum(when(col("phase") === "delta", col("rev_e4")).otherwise(0L)).as("delta_e4"),
          sum(when(col("phase") === "base", 1L).otherwise(0L)).as("n_base"),
          sum(when(col("phase") === "delta", 1L).otherwise(0L)).as("n_delta"))
        .select(col("c_mktsegment"), col("n_base"), col("n_delta"),
          (col("base_e4").cast("double") / lit(10000d)).as("rev_base"),
          (col("delta_e4").cast("double") / lit(10000d)).as("rev_delta"),
          ((col("base_e4") + col("delta_e4")).cast("double") / lit(10000d)).as("rev_maintained"))
        .orderBy(col("c_mktsegment"))
    },
    Some(s"""
      SELECT c_mktsegment,
        CAST(count(*) FILTER (o_old AND l_old) AS BIGINT) AS n_base,
        CAST(count(*) FILTER (NOT (o_old AND l_old)) AS BIGINT) AS n_delta,
        CAST(coalesce(sum(rev_e4) FILTER (o_old AND l_old), 0) AS DOUBLE)/10000 AS rev_base,
        CAST(coalesce(sum(rev_e4) FILTER (NOT (o_old AND l_old)), 0) AS DOUBLE)/10000 AS rev_delta,
        CAST(sum(rev_e4) AS DOUBLE)/10000 AS rev_maintained
      FROM (
        SELECT c_mktsegment, $revE4Sql AS rev_e4,
          o_orderdate < TIMESTAMP '1998-01-01' AS o_old,
          l_shipdate < TIMESTAMP '1998-01-01' AS l_old
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE o_orderdate < TIMESTAMP '1998-02-01'
          AND l_shipdate < TIMESTAMP '1998-02-01')
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment
    """))

  // ---------------------------------------------------------------- q376

  /** Partitioned-write layout forecast: before a
    * `partitionBy(lang, source)` rewrite of the documents table, the
    * per-directory row count, payload bytes (text chars + a 64-byte
    * per-row metadata overhead), resulting file count at a 64 KiB
    * target, and a small-file flag (dir payload < ¼ target) — the
    * pre-flight check that catches the small-file explosion BEFORE the
    * job writes 50 k tiny objects.
    *
    * Scale shape: one hash aggregate over (lang, source) — the
    * partition-dir cardinality itself. Everything integer. */
  private val q376 = QueryDef(
    "q376_partitioned_write_plan",
    (spark, dir) => {
      val target = 65536L
      Tables.documents(spark, dir)
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_rows"),
          (sum(col("n_chars")) + count(lit(1)) * lit(64L)).as("est_bytes"))
        .select(col("lang"), col("source"), col("n_rows"), col("est_bytes"),
          expr(s"(est_bytes + ${target - 1}) div $target").as("n_files"),
          (col("est_bytes") < lit(target / 4)).as("small_file_risk"))
        .orderBy(col("lang"), col("source"))
    },
    Some("""
      SELECT lang, source, CAST(count(*) AS BIGINT) AS n_rows,
        CAST(sum(n_chars) + count(*) * 64 AS BIGINT) AS est_bytes,
        CAST((sum(n_chars) + count(*) * 64 + 65535) // 65536 AS BIGINT) AS n_files,
        (sum(n_chars) + count(*) * 64) < 16384 AS small_file_risk
      FROM documents
      GROUP BY lang, source
      ORDER BY lang, source
    """))

  // ---------------------------------------------------------------- q377

  /** Cluster-sampling design effect: when sampling by CUSTOMER instead
    * of by order, how much estimation power is lost to within-customer
    * correlation? One-way ANOVA over whole-dollar order totals keyed by
    * customer → intra-class correlation and Kish's design effect
    * deff = 1 + (m̄−1)·ICC, plus the effective sample size — the number
    * that decides cluster- vs row-level sampling for a 100 TB pipeline.
    *
    * All moments are exact integer sums (dollars, dollars²); the ANOVA
    * ratios use floor division on the ppm grid — identical op order in
    * both engines. (Beyond ~10⁹ orders the squared sums need
    * decimal(38,0); noted, same convention as q353/q291.) */
  private val q377 = QueryDef(
    "q377_cluster_design_effect",
    (spark, dir) => {
      val d = Tables.orders(spark, dir)
        .select(col("o_custkey"), floor(col("o_totalprice")).cast("long").as("d"))
      val per = d.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_i"), sum(col("d")).as("s_i"),
          sum(col("d") * col("d")).as("q_i"))
      per.agg(
          count(lit(1)).as("k"), sum(col("n_i")).as("n"),
          sum(col("s_i")).as("s"), sum(col("q_i")).as("q"),
          sum(expr("(s_i * s_i) div n_i")).as("cm"))
        .select(col("k"), col("n"),
          // SSW = Σq_i − Σ s_i²/n_i ; SSB = Σ s_i²/n_i − S²/N.
          // S² exceeds 2^63 already at sf0.01 (S ≈ 3.8e9) — the global
          // square goes through decimal(38,0) where DuckDB's sum is
          // HUGEINT natively; per-cluster squares stay comfortably long
          (col("q") - col("cm")).as("ssw"),
          (col("cm") -
            expr("CAST((CAST(s AS DECIMAL(38,0)) * CAST(s AS DECIMAL(38,0))) div n AS BIGINT)"))
            .as("ssb"))
        .select(col("k"), col("n"), col("ssw"), col("ssb"),
          expr("ssb div (k - 1)").as("msb"),
          expr("ssw div (n - k)").as("msw"),
          expr("n div k").as("m_bar"))
        .select(col("k"), col("n"), col("m_bar"),
          // ICC_ppm = (MSB − MSW)·1e6 / (MSB + (m̄−1)·MSW), clamped ≥ 0
          expr("""CASE WHEN msb <= msw THEN 0
                  ELSE (msb - msw) * 1000000 div (msb + (m_bar - 1) * msw) END""")
            .as("icc_ppm"))
        .select(col("k"), col("n"), col("m_bar"), col("icc_ppm"),
          expr("1000000 + (m_bar - 1) * icc_ppm").as("deff_ppm"))
        .select(col("k"), col("n"), col("m_bar"), col("icc_ppm"), col("deff_ppm"),
          expr("n * 1000000 div deff_ppm").as("n_effective"))
    },
    Some("""
      WITH per AS (
        SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_i,
          sum(CAST(floor(o_totalprice) AS BIGINT)) AS s_i,
          sum(CAST(floor(o_totalprice) AS BIGINT) * CAST(floor(o_totalprice) AS BIGINT)) AS q_i
        FROM orders GROUP BY 1),
      m AS (
        SELECT CAST(count(*) AS BIGINT) AS k, sum(n_i) AS n, sum(s_i) AS s,
          sum(q_i) AS q, sum((s_i * s_i) // n_i) AS cm
        FROM per),
      ss AS (
        SELECT k, n, q - cm AS ssw, cm - (s * s) // n AS ssb FROM m),
      ms AS (
        SELECT k, n, ssb // (k - 1) AS msb, ssw // (n - k) AS msw,
          n // k AS m_bar
        FROM ss),
      icc AS (
        SELECT k, n, m_bar,
          CASE WHEN msb <= msw THEN CAST(0 AS BIGINT)
               ELSE (msb - msw) * 1000000 // (msb + (m_bar - 1) * msw) END AS icc_ppm
        FROM ms),
      de AS (
        SELECT k, n, m_bar, icc_ppm,
          1000000 + (m_bar - 1) * icc_ppm AS deff_ppm
        FROM icc)
      SELECT k, CAST(n AS BIGINT) AS n, CAST(m_bar AS BIGINT) AS m_bar,
        CAST(icc_ppm AS BIGINT) AS icc_ppm, CAST(deff_ppm AS BIGINT) AS deff_ppm,
        CAST(n * 1000000 // deff_ppm AS BIGINT) AS n_effective
      FROM de
    """))

  // ---------------------------------------------------------------- q378

  /** Semantic-cluster auto-labeling: each embedding cluster (the label
    * column — in production the IVF cell assignment) gets its top-3
    * discriminative tokens by keyness lift: share of the token inside
    * the cluster vs its corpus share, exact ppm with a min-count floor.
    * The human-readable name for an unsupervised cluster, cross-modal
    * over documents ⋈ embeddings.
    *
    * Scale shape: the (id → cluster) map is cluster-assignment-sized
    * and broadcasts onto the token explode; (cluster, token) and token
    * marginals are two keyed aggs; ranking windows run per cluster over
    * the vocabulary. */
  private val q378 = QueryDef(
    "q378_cluster_keyword_labels",
    (spark, dir) => {
      val labels = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("label").cast("long").as("cluster"))
      val tok = Tables.documents(spark, dir)
        .select(col("doc_id"),
          explode(graft.functions.expressions.tokens_native(col("text"))).as("token"))
        .join(broadcast(labels), col("doc_id") === col("vec_id"))
      val byCluster = tok.groupBy(col("cluster"), col("token")).agg(count(lit(1)).as("c_lt"))
      val byToken = tok.groupBy(col("token")).agg(count(lit(1)).as("c_t"))
      val perCluster = byCluster.groupBy(col("cluster")).agg(sum(col("c_lt")).as("t_l"))
      val total = byToken.agg(sum(col("c_t")).as("t"))
      val wr = Window.partitionBy(col("cluster"))
        .orderBy(col("keyness_ppm").desc, col("token"))
      byCluster.filter(col("c_lt") >= 5L)
        .join(byToken, Seq("token"))
        .join(perCluster, Seq("cluster"))
        .crossJoin(broadcast(total))
        .select(col("cluster"), col("token"), col("c_lt"),
          expr("c_lt * t * 1000000 div (c_t * t_l)").as("keyness_ppm"))
        .withColumn("rank", row_number().over(wr))
        .filter(col("rank") <= 3)
        .select(col("cluster"), col("rank"), col("token"), col("c_lt"), col("keyness_ppm"))
        .orderBy(col("cluster"), col("rank"))
    },
    Some(s"""
      WITH labels AS (
        SELECT vec_id, CAST(label AS BIGINT) AS cluster FROM embeddings),
      tok AS (
        SELECT cluster, unnest($duckTokens) AS token
        FROM documents JOIN labels ON doc_id = vec_id),
      by_cluster AS (
        SELECT cluster, token, CAST(count(*) AS BIGINT) AS c_lt
        FROM tok GROUP BY 1, 2),
      by_token AS (
        SELECT token, CAST(count(*) AS BIGINT) AS c_t FROM tok GROUP BY 1),
      per_cluster AS (
        SELECT cluster, sum(c_lt) AS t_l FROM by_cluster GROUP BY 1),
      total AS (SELECT sum(c_t) AS t FROM by_token),
      keyed AS (
        SELECT cluster, token, c_lt,
          c_lt * t * 1000000 // (c_t * t_l) AS keyness_ppm
        FROM by_cluster
        JOIN by_token USING (token)
        JOIN per_cluster USING (cluster)
        CROSS JOIN total
        WHERE c_lt >= 5)
      SELECT cluster, rank, token, c_lt, CAST(keyness_ppm AS BIGINT) AS keyness_ppm
      FROM (
        SELECT *, CAST(row_number() OVER (PARTITION BY cluster
          ORDER BY keyness_ppm DESC, token) AS INTEGER) AS rank
        FROM keyed)
      WHERE rank <= 3
      ORDER BY cluster, rank
    """))

  // ---------------------------------------------------------------- q379

  /** SimHash threshold tuning: the Hamming-distance histogram of
    * ADJACENT fingerprints in sorted order within 10-bit prefix blocks
    * — the cheap empirical picture ("how far apart are neighboring
    * documents?") that picks the near-dup cut before running the full
    * pigeonhole banding of q22.
    *
    * Scale shape: sorting adjacency is blocked by the fingerprint's own
    * top bits (the same prefix family LSH banding uses), so every
    * window is a small partition; no global sort, no pairwise join —
    * cost is one fingerprint pass + one windowed lag. */
  private val q379 = QueryDef(
    "q379_simhash_hamming_histogram",
    (spark, dir) => {
      val fp = graft.dedup.SimHash.fingerprints(Tables.documents(spark, dir), "doc_id", "text")
      val w = Window.partitionBy(col("prefix")).orderBy(col("simhash"), col("doc_id"))
      fp.withColumn("prefix", expr("simhash div 1048576")) // >> 20 of the 30-bit fp
        .withColumn("prev", lag(col("simhash"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(expr("bit_count(simhash ^ prev)").cast("long").as("hamming"))
        .groupBy(col("hamming")).agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("hamming"))
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id, unnest($duckTokens) AS tok FROM documents),
      hashes AS (
        SELECT doc_id, ${duckPolyHashOf("tok")} AS h FROM toks),
      votes AS (
        SELECT doc_id, t.b, sum(2 * ((h >> t.b) & 1) - 1) AS vote
        FROM hashes CROSS JOIN (SELECT unnest(range(30)) AS b) t
        GROUP BY doc_id, t.b),
      fp AS (
        SELECT doc_id,
          CAST(sum(CASE WHEN vote >= 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
        FROM votes GROUP BY doc_id),
      adj AS (
        SELECT simhash,
          lag(simhash) OVER (PARTITION BY simhash // 1048576
            ORDER BY simhash, doc_id) AS prev
        FROM fp)
      SELECT CAST(bit_count(xor(simhash, prev)) AS BIGINT) AS hamming,
        CAST(count(*) AS BIGINT) AS n_pairs
      FROM adj WHERE prev IS NOT NULL
      GROUP BY 1 ORDER BY 1
    """))

  // ---------------------------------------------------------------- q380

  /** Water-filling source quotas: distribute a token... here document
    * budget (60% of the corpus) across sources so that no source
    * exceeds a common cap C, chosen as the LARGEST integer cap whose
    * total allocation Σ min(nᵢ, C) fits the budget — the canonical
    * fair-allocation rule for mixing over-represented web dumps down
    * without starving small sources.
    *
    * Scale shape: per-source counts are vocabulary-sized; the cap
    * search is a prefix-sum window over the sorted source table plus a
    * one-row broadcast (no iteration, no driver logic) — exact integer
    * arithmetic end to end. */
  private val q380 = QueryDef(
    "q380_water_filling_quota",
    (spark, dir) => {
      val src = Tables.documents(spark, dir)
        .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      val tot = src.agg(sum(col("n_docs")).as("total"), count(lit(1)).as("k"))
        .select(col("total"), col("k"), expr("total * 60 div 100").as("budget"))
      val w = Window.orderBy(col("n_docs"), col("source"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ranked = src.crossJoin(broadcast(tot))
        .withColumn("rn", row_number().over(Window.orderBy(col("n_docs"), col("source"))).cast("long"))
        .withColumn("cum", sum(col("n_docs")).over(w))
      // i* = deepest position where capping AT that source's own count
      // still fits; the cap then fills the remaining budget evenly
      val star = ranked
        .select(col("budget"), col("k"),
          when(col("cum") - col("n_docs") + (col("k") - col("rn") + 1L) * col("n_docs")
            <= col("budget"), col("rn")).otherwise(0L).as("feas_rn"),
          when(col("cum") - col("n_docs") + (col("k") - col("rn") + 1L) * col("n_docs")
            <= col("budget"), col("cum")).otherwise(0L).as("feas_cum"))
        .groupBy(col("budget"), col("k"))
        .agg(max(col("feas_rn")).as("i_star"), max(col("feas_cum")).as("cum_star"))
        .select(col("k"),
          when(col("i_star") === col("k"), lit(Long.MaxValue))
            .otherwise(expr("(budget - cum_star) div (k - i_star)")).as("cap"))
      ranked
        .crossJoin(broadcast(star.select(col("cap"))))
        .select(col("source"), col("n_docs"),
          least(col("n_docs"), col("cap")).as("allocated"),
          (col("n_docs") > col("cap")).as("capped"))
        .orderBy(col("source"))
    },
    Some("""
      WITH src AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY 1),
      tot AS (
        SELECT sum(n_docs) AS total, CAST(count(*) AS BIGINT) AS k,
          sum(n_docs) * 60 // 100 AS budget
        FROM src),
      ranked AS (
        SELECT source, n_docs, budget, k,
          CAST(row_number() OVER (ORDER BY n_docs, source) AS BIGINT) AS rn,
          sum(n_docs) OVER (ORDER BY n_docs, source
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM src CROSS JOIN tot),
      star AS (
        SELECT budget, k,
          coalesce(max(rn) FILTER (cum - n_docs + (k - rn + 1) * n_docs <= budget), 0) AS i_star,
          coalesce(max(cum) FILTER (cum - n_docs + (k - rn + 1) * n_docs <= budget), 0) AS cum_star
        FROM ranked GROUP BY 1, 2),
      cap AS (
        SELECT CASE WHEN i_star = k THEN 9223372036854775807
                    ELSE (budget - cum_star) // (k - i_star) END AS cap
        FROM star)
      SELECT source, n_docs, CAST(least(n_docs, cap) AS BIGINT) AS allocated,
        n_docs > cap AS capped
      FROM ranked CROSS JOIN cap
      ORDER BY source
    """))

  // ---------------------------------------------------------------- q381

  /** Distribution-free median confidence interval by order statistics:
    * the median of order totals with the ~95% CI at ranks
    * (n+1)/2 ∓ 0.98·⌊√n⌋ — no normality assumption, no resampling; the
    * robust companion to the mean CIs of q322/q344.
    *
    * Scale shape: value-at-rank via the two-level histogram selection
    * (RankSelect's pattern, inlined for data-dependent ranks): a coarse
    * $10-bin histogram locates each target rank's bin (cumulative
    * window over thousands of bins, not rows), then ONLY the selected
    * bins' rows get the exact within-bin ranking. √n through one
    * correctly-rounded IEEE sqrt — identical in both engines. */
  private val q381 = QueryDef(
    "q381_median_order_stat_ci",
    (spark, dir) => {
      val cents = Tables.orders(spark, dir)
        .select(graft.functions.Deterministic.cents(col("o_totalprice")).as("v"))
      val hist = cents.groupBy(expr("v div 1000").as("xb")).agg(count(lit(1)).as("cnt"))
      val wCum = Window.orderBy(col("xb"))
      val cum1 = hist.withColumn("cum", sum(col("cnt")).over(wCum))
      val ranks = cum1.agg(sum(col("cnt")).as("n"))
        .select(col("n"),
          expr("(n + 1) div 2").as("med_r"),
          expr("CAST(floor(sqrt(CAST(n AS DOUBLE)) * 98) AS BIGINT) div 100").as("d"))
        .select(col("n"), col("med_r"),
          greatest(col("med_r") - col("d"), lit(1L)).as("lo_r"),
          least(col("med_r") + col("d"), col("n")).as("hi_r"))
      val binsel = cum1.crossJoin(broadcast(ranks))
        .groupBy(col("n"), col("med_r"), col("lo_r"), col("hi_r"))
        .agg(
          min(when(col("cum") >= col("med_r"), col("xb"))).as("bin_med"),
          min(when(col("cum") >= col("lo_r"), col("xb"))).as("bin_lo"),
          min(when(col("cum") >= col("hi_r"), col("xb"))).as("bin_hi"))
      val pre = cum1.crossJoin(broadcast(binsel))
        .groupBy(col("n"), col("med_r"), col("lo_r"), col("hi_r"),
          col("bin_med"), col("bin_lo"), col("bin_hi"))
        .agg(
          max(when(col("xb") === col("bin_med"), col("cum") - col("cnt"))).as("before_med"),
          max(when(col("xb") === col("bin_lo"), col("cum") - col("cnt"))).as("before_lo"),
          max(when(col("xb") === col("bin_hi"), col("cum") - col("cnt"))).as("before_hi"))
      val wBin = Window.partitionBy(col("xb")).orderBy(col("v"))
      cents.crossJoin(broadcast(pre))
        .withColumn("xb", expr("v div 1000"))
        .filter(col("xb") === col("bin_med") || col("xb") === col("bin_lo") ||
          col("xb") === col("bin_hi"))
        .withColumn("rn", row_number().over(wBin).cast("long"))
        .groupBy(col("n"), col("med_r"), col("lo_r"), col("hi_r"))
        .agg(
          min(when(col("xb") === col("bin_med") &&
            col("before_med") + col("rn") >= col("med_r"), col("v"))).as("median_c"),
          min(when(col("xb") === col("bin_lo") &&
            col("before_lo") + col("rn") >= col("lo_r"), col("v"))).as("ci_lo_c"),
          min(when(col("xb") === col("bin_hi") &&
            col("before_hi") + col("rn") >= col("hi_r"), col("v"))).as("ci_hi_c"))
        .select(col("n"), col("lo_r"), col("med_r"), col("hi_r"),
          col("ci_lo_c"), col("median_c"), col("ci_hi_c"))
    },
    Some("""
      WITH v AS (
        SELECT CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS v FROM orders),
      hist AS (SELECT v // 1000 AS xb, CAST(count(*) AS BIGINT) AS cnt FROM v GROUP BY 1),
      cum1 AS (
        SELECT xb, cnt, sum(cnt) OVER (ORDER BY xb) AS cum FROM hist),
      ranks AS (
        SELECT n, med_r,
          greatest(med_r - d, 1) AS lo_r, least(med_r + d, n) AS hi_r
        FROM (
          SELECT sum(cnt) AS n, (sum(cnt) + 1) // 2 AS med_r,
            CAST(floor(sqrt(CAST(sum(cnt) AS DOUBLE)) * 98) AS BIGINT) // 100 AS d
          FROM hist)),
      binsel AS (
        SELECT n, med_r, lo_r, hi_r,
          min(CASE WHEN cum >= med_r THEN xb END) AS bin_med,
          min(CASE WHEN cum >= lo_r THEN xb END) AS bin_lo,
          min(CASE WHEN cum >= hi_r THEN xb END) AS bin_hi
        FROM cum1 CROSS JOIN ranks
        GROUP BY 1, 2, 3, 4),
      pre AS (
        SELECT n, med_r, lo_r, hi_r, bin_med, bin_lo, bin_hi,
          max(CASE WHEN xb = bin_med THEN cum - cnt END) AS before_med,
          max(CASE WHEN xb = bin_lo THEN cum - cnt END) AS before_lo,
          max(CASE WHEN xb = bin_hi THEN cum - cnt END) AS before_hi
        FROM cum1 CROSS JOIN binsel
        GROUP BY 1, 2, 3, 4, 5, 6, 7),
      fine AS (
        SELECT v.v, v.v // 1000 AS xb, p.*,
          CAST(row_number() OVER (PARTITION BY v.v // 1000 ORDER BY v.v) AS BIGINT) AS rn
        FROM v CROSS JOIN pre p
        WHERE v.v // 1000 IN (p.bin_med, p.bin_lo, p.bin_hi))
      SELECT CAST(n AS BIGINT) AS n, CAST(lo_r AS BIGINT) AS lo_r,
        CAST(med_r AS BIGINT) AS med_r, CAST(hi_r AS BIGINT) AS hi_r,
        min(CASE WHEN xb = bin_lo AND before_lo + rn >= lo_r THEN v END) AS ci_lo_c,
        min(CASE WHEN xb = bin_med AND before_med + rn >= med_r THEN v END) AS median_c,
        min(CASE WHEN xb = bin_hi AND before_hi + rn >= hi_r THEN v END) AS ci_hi_c
      FROM fine
      GROUP BY n, lo_r, med_r, hi_r
    """))

  // ---------------------------------------------------------------- q382

  /** Mantel–Haenszel pooled odds ratio: does a deep discount (≥ 5%)
    * associate with returns, CONTROLLING for brand? Per-brand 2×2
    * tables pooled by the MH weights — the stratified-association
    * estimator that a crude 2×2 (subject to brand confounding) cannot
    * replace. Exact milli-scaled integer terms; output crude OR vs MH
    * OR side by side.
    *
    * Scale shape: one fact scan → per-brand conditional counts
    * (vocabulary-sized), pooled in a second one-row aggregate. */
  private val q382 = QueryDef(
    "q382_mantel_haenszel_or",
    (spark, dir) => {
      val strata = Tables.lineitem(spark, dir)
        .join(broadcast(Tables.part(spark, dir).select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_brand"),
          (cents(col("l_discount")) >= 5L).as("deep"),
          (col("l_returnflag") === "R").as("ret"))
        .groupBy(col("p_brand"))
        .agg(
          sum(when(col("deep") && col("ret"), 1L).otherwise(0L)).as("a"),
          sum(when(col("deep") && !col("ret"), 1L).otherwise(0L)).as("b"),
          sum(when(!col("deep") && col("ret"), 1L).otherwise(0L)).as("c"),
          sum(when(!col("deep") && !col("ret"), 1L).otherwise(0L)).as("d"))
      strata
        .select(col("a"), col("b"), col("c"), col("d"),
          (col("a") + col("b") + col("c") + col("d")).as("nk"))
        .agg(
          sum(col("a")).as("sa"), sum(col("b")).as("sb"),
          sum(col("c")).as("sc"), sum(col("d")).as("sd"),
          sum(expr("a * d * 1000 div nk")).as("r_m"),
          sum(expr("b * c * 1000 div nk")).as("s_m"))
        .select(col("sa"), col("sb"), col("sc"), col("sd"),
          expr("sa * sd * 1000 div (sb * sc)").as("crude_or_milli"),
          expr("r_m * 1000 div s_m").as("mh_or_milli"))
    },
    Some("""
      WITH strata AS (
        SELECT p_brand,
          CAST(count(*) FILTER (deep AND ret) AS BIGINT) AS a,
          CAST(count(*) FILTER (deep AND NOT ret) AS BIGINT) AS b,
          CAST(count(*) FILTER (NOT deep AND ret) AS BIGINT) AS c,
          CAST(count(*) FILTER (NOT deep AND NOT ret) AS BIGINT) AS d
        FROM (
          SELECT p_brand,
            CAST(floor(l_discount*100 + 0.5) AS BIGINT) >= 5 AS deep,
            l_returnflag = 'R' AS ret
          FROM lineitem JOIN part ON l_partkey = p_partkey)
        GROUP BY 1),
      pooled AS (
        SELECT sum(a) AS sa, sum(b) AS sb, sum(c) AS sc, sum(d) AS sd,
          sum(a * d * 1000 // (a + b + c + d)) AS r_m,
          sum(b * c * 1000 // (a + b + c + d)) AS s_m
        FROM strata)
      SELECT CAST(sa AS BIGINT) AS sa, CAST(sb AS BIGINT) AS sb,
        CAST(sc AS BIGINT) AS sc, CAST(sd AS BIGINT) AS sd,
        CAST(sa * sd * 1000 // (sb * sc) AS BIGINT) AS crude_or_milli,
        CAST(r_m * 1000 // s_m AS BIGINT) AS mh_or_milli
      FROM pooled
    """))

  // ---------------------------------------------------------------- q383

  /** Wald–Wolfowitz runs test on the daily-revenue sign sequence: are
    * above-mean and below-mean days randomly interleaved, or does the
    * series trend/cluster? R runs among n₁ above / n₂ below days vs the
    * exact E[R] and Var[R], z in milli-units — the distribution-free
    * trend alarm for a revenue stream.
    *
    * Scale shape: the day table is calendar-sized regardless of SF (the
    * one global window here is over ~2.4 k days); above/below uses the
    * exact cross-multiply rev·n > total, no mean division. All moments
    * integer; the one square root is a correctly-rounded IEEE op on an
    * exact integer. */
  private val q383 = QueryDef(
    "q383_runs_test_daily_revenue",
    (spark, dir) => {
      val daily = Tables.orders(spark, dir)
        .groupBy(expr("CAST(o_orderdate AS DATE)").as("day"))
        .agg(sum(cents(col("o_totalprice"))).as("rev_c"))
      val tot = daily.agg(sum(col("rev_c")).as("total_c"), count(lit(1)).as("nd"))
      val wd = Window.orderBy(col("day"))
      val signed = daily.crossJoin(broadcast(tot))
        // above the mean ⇔ rev·n_days > total — exact, no division
        .withColumn("s", when(col("rev_c") * col("nd") > col("total_c"), 1L).otherwise(0L))
        .withColumn("p", lag(col("s"), 1).over(wd))
      signed.agg(
          count(lit(1)).as("n"),
          sum(col("s")).as("n1"),
          (count(lit(1)) - sum(col("s"))).as("n2"),
          (sum(when(col("p").isNotNull && col("p") =!= col("s"), 1L).otherwise(0L)) + lit(1L))
            .as("runs"))
        .select(col("n"), col("n1"), col("n2"), col("runs"),
          expr("1000 + 2000 * n1 * n2 div n").as("e_milli"),
          expr("(2 * n1 * n2 * (2 * n1 * n2 - n) * 1000000) div (n * n * (n - 1))").as("v_micro"))
        .select(col("n"), col("n1"), col("n2"), col("runs"), col("e_milli"), col("v_micro"),
          // sign-safe milli z (negative division is truncation-vs-floor
          // territory — keep operands non-negative, q301's pattern)
          expr("""CASE WHEN runs * 1000 >= e_milli
                  THEN (runs * 1000 - e_milli) * 1000
                       div CAST(floor(sqrt(CAST(v_micro AS DOUBLE))) AS BIGINT)
                  ELSE -((e_milli - runs * 1000) * 1000
                       div CAST(floor(sqrt(CAST(v_micro AS DOUBLE))) AS BIGINT)) END""")
            .as("z_milli"))
    },
    Some("""
      WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
          sum(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)) AS rev_c
        FROM orders GROUP BY 1),
      tot AS (SELECT sum(rev_c) AS total_c, CAST(count(*) AS BIGINT) AS nd FROM daily),
      signed AS (
        SELECT CASE WHEN rev_c * nd > total_c THEN 1 ELSE 0 END AS s,
          lag(CASE WHEN rev_c * nd > total_c THEN 1 ELSE 0 END)
            OVER (ORDER BY day) AS p
        FROM daily CROSS JOIN tot),
      m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(s) AS BIGINT) AS n1,
          CAST(count(*) - sum(s) AS BIGINT) AS n2,
          CAST(count(*) FILTER (p IS NOT NULL AND p <> s) + 1 AS BIGINT) AS runs
        FROM signed),
      em AS (
        SELECT n, n1, n2, runs,
          1000 + 2000 * n1 * n2 // n AS e_milli,
          (2 * n1 * n2 * (2 * n1 * n2 - n) * 1000000) // (n * n * (n - 1)) AS v_micro
        FROM m)
      SELECT n, n1, n2, runs, e_milli, v_micro,
        CASE WHEN runs * 1000 >= e_milli
             THEN (runs * 1000 - e_milli) * 1000
                  // CAST(floor(sqrt(CAST(v_micro AS DOUBLE))) AS BIGINT)
             ELSE -((e_milli - runs * 1000) * 1000
                  // CAST(floor(sqrt(CAST(v_micro AS DOUBLE))) AS BIGINT)) END AS z_milli
      FROM em
    """))

  // ---------------------------------------------------------------- q384

  /** Cohort half-life: for each monthly first-order cohort, the first
    * month offset at which active customers fall below HALF the cohort
    * — the one-number decay summary a full retention matrix (q71's
    * day-level complement) buries in 80 columns. −1 marks cohorts that
    * never decay below half inside the observation window.
    *
    * Scale shape: first-order month is one customer-keyed agg; the
    * (cohort, offset) activity grid is bounded by months², not rows;
    * the half-life min() folds the grid per cohort. */
  private val q384 = QueryDef(
    "q384_cohort_halflife",
    (spark, dir) => {
      val om = Tables.orders(spark, dir)
        .select(col("o_custkey"),
          ((year(col("o_orderdate")) - 1995) * 12 + month(col("o_orderdate")) - 1)
            .cast("long").as("m"))
      val first = om.groupBy(col("o_custkey")).agg(min(col("m")).as("cohort_m"))
      val grid = om.join(first, Seq("o_custkey"))
        .groupBy(col("cohort_m"), (col("m") - col("cohort_m")).as("offset"))
        .agg(countDistinct(col("o_custkey")).as("active"))
      val size = grid.filter(col("offset") === 0L)
        .select(col("cohort_m").as("sc"), col("active").as("cohort_size"))
      grid.join(size, col("cohort_m") === col("sc"))
        .groupBy(col("cohort_m"), col("cohort_size"))
        .agg(coalesce(
          min(when(col("offset") > 0L && col("active") * 2L < col("cohort_size"),
            col("offset"))), lit(-1L)).as("halflife_months"))
        .filter(col("cohort_size") >= 20L)
        .orderBy(col("cohort_m"))
    },
    Some("""
      WITH om AS (
        SELECT o_custkey,
          CAST((year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1 AS BIGINT) AS m
        FROM orders),
      first AS (SELECT o_custkey, min(m) AS cohort_m FROM om GROUP BY 1),
      grid AS (
        SELECT cohort_m, m - cohort_m AS off_m,
          CAST(count(DISTINCT o_custkey) AS BIGINT) AS active
        FROM om JOIN first USING (o_custkey)
        GROUP BY 1, 2),
      size AS (SELECT cohort_m AS sc, active AS cohort_size FROM grid WHERE off_m = 0)
      SELECT cohort_m, cohort_size,
        coalesce(min(CASE WHEN off_m > 0 AND active * 2 < cohort_size
                          THEN off_m END), -1) AS halflife_months
      FROM grid JOIN size ON cohort_m = sc
      GROUP BY 1, 2
      HAVING cohort_size >= 20
      ORDER BY cohort_m
    """))

  // ---------------------------------------------------------------- q385

  /** Cochran–Armitage trend test: does the return rate move
    * MONOTONICALLY with the discount level (0–10 cents of discount as
    * ordered scores)? The z² statistic emitted in exact ppm as a pure
    * integer ratio — U² and Var(U) both exceed 2^63 at sf0.1, so the
    * final products run in decimal(38,0) (DuckDB's HUGEINT) and the
    * square root is avoided entirely by reporting z² (χ² with 1 df).
    *
    * Scale shape: one fact scan to 11 level rows, then scalar algebra.
    * trend_sign carries the direction the squared statistic drops. */
  private val q385 = QueryDef(
    "q385_cochran_armitage_trend",
    (spark, dir) => {
      val lv = Tables.lineitem(spark, dir)
        .select(cents(col("l_discount")).as("w"),
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("r"))
        .groupBy(col("w"))
        .agg(count(lit(1)).as("n_i"), sum(col("r")).as("a_i"))
      lv.agg(
          sum(col("n_i")).as("n"), sum(col("a_i")).as("a"),
          sum(col("w") * col("n_i")).as("swn"),
          sum(col("w") * col("a_i")).as("swa"),
          sum(col("w") * col("w") * col("n_i")).as("sw2n"))
        .select(col("n").as("n_total"), col("a").as("n_returned"),
          (col("n") * col("swa") - col("a") * col("swn")).as("u"),
          col("n"), col("a"), col("swn"), col("sw2n"))
        .select(col("n_total"), col("n_returned"),
          expr("CASE WHEN u > 0 THEN 1 WHEN u < 0 THEN -1 ELSE 0 END").as("trend_sign"),
          expr("""CAST(
            (CAST(u AS DECIMAL(38,0)) * CAST(u AS DECIMAL(38,0)) * 1000000) div
            (CAST(a AS DECIMAL(38,0)) * (n - a) *
             (CAST(n AS DECIMAL(38,0)) * sw2n - CAST(swn AS DECIMAL(38,0)) * swn) div n)
            AS BIGINT)""").as("z2_ppm"))
    },
    Some("""
      WITH lv AS (
        SELECT CAST(floor(l_discount*100 + 0.5) AS BIGINT) AS w,
          CAST(count(*) AS BIGINT) AS n_i,
          CAST(count(*) FILTER (l_returnflag = 'R') AS BIGINT) AS a_i
        FROM lineitem GROUP BY 1),
      m AS (
        SELECT sum(n_i) AS n, sum(a_i) AS a,
          sum(w * n_i) AS swn, sum(w * a_i) AS swa,
          sum(w * w * n_i) AS sw2n
        FROM lv),
      u AS (SELECT n, a, swn, sw2n, n * swa - a * swn AS u FROM m)
      SELECT CAST(n AS BIGINT) AS n_total, CAST(a AS BIGINT) AS n_returned,
        CASE WHEN u > 0 THEN 1 WHEN u < 0 THEN -1 ELSE 0 END AS trend_sign,
        CAST((u * u * 1000000) //
             (a * (n - a) * (n * sw2n - swn * swn) // n) AS BIGINT) AS z2_ppm
      FROM u
    """))

  // ---------------------------------------------------------------- q386

  /** Link prediction by neighbor-set Jaccard: the 20 supplier pairs NOT
    * yet co-supplying that share the largest fraction of co-supply
    * neighbors — "who should be trading partners next". Common-neighbor
    * counting goes through a hub cap (wildcard nodes with degree > 64
    * are excluded — q288's rationale: hub paths carry no signal and
    * their Σdeg² explodes), then an anti-join removes existing edges.
    *
    * Scale shape: candidate generation is Σ_{x: deg ≤ 64} deg(x)² —
    * bounded per node by the cap; the anti-join and top-k are standard
    * shuffles; nothing quadratic in the node count. */
  private val q386 = QueryDef(
    "q386_link_prediction_jaccard",
    (spark, dir) => {
      // r13: canonical pairs from the memoized graph.Backbone build
      val und = graft.graph.Backbone.coSupplyCanon(spark, dir)
        .select(col("u").as("a"), col("v").as("b"))
      val adj = und.union(und.select(col("b").as("a"), col("a").as("b")))
      val deg = adj.groupBy(col("a").as("node")).agg(count(lit(1)).as("deg"))
      val small = adj.join(deg.filter(col("deg") <= 64L).select(col("node")),
        col("b") === col("node")).select(col("a"), col("b"))
      // wildcard join through low-degree x: (u,x),(v,x) → candidate (u,v)
      val cn = small.select(col("a").as("u"), col("b").as("x"))
        .join(small.select(col("a").as("v"), col("b").as("x")), Seq("x"))
        .filter(col("u") < col("v"))
        .groupBy(col("u"), col("v")).agg(count(lit(1)).as("cn"))
      cn.join(und, col("u") === col("a") && col("v") === col("b"), "left_anti")
        .join(deg.select(col("node").as("u"), col("deg").as("deg_u")), Seq("u"))
        .join(deg.select(col("node").as("v"), col("deg").as("deg_v")), Seq("v"))
        .select(col("u"), col("v"), col("cn"),
          expr("cn * 1000000 div (deg_u + deg_v - cn)").as("jaccard_ppm"))
        .orderBy(col("jaccard_ppm").desc, col("u"), col("v"))
        .limit(20)
    },
    Some("""
      WITH li AS (
        SELECT l_orderkey AS ok, l_suppkey AS sk FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate < TIMESTAMP '1996-01-01'),
      und AS (
        SELECT DISTINCT x.sk AS a, y.sk AS b
        FROM li x JOIN li y ON x.ok = y.ok AND x.sk < y.sk),
      adj AS (SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
      deg AS (SELECT a AS node, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY 1),
      small AS (
        SELECT adj.a, adj.b FROM adj JOIN deg ON adj.b = deg.node
        WHERE deg.deg <= 64),
      cn AS (
        SELECT s1.a AS u, s2.a AS v, CAST(count(*) AS BIGINT) AS cn
        FROM small s1 JOIN small s2 ON s1.b = s2.b AND s1.a < s2.a
        GROUP BY 1, 2),
      cand AS (
        SELECT u, v, cn FROM cn
        WHERE NOT EXISTS (SELECT 1 FROM und WHERE und.a = u AND und.b = v))
      SELECT u, v, cn,
        cn * 1000000 // (du.deg + dv.deg - cn) AS jaccard_ppm
      FROM cand
      JOIN deg du ON u = du.node
      JOIN deg dv ON v = dv.node
      ORDER BY jaccard_ppm DESC, u, v
      LIMIT 20
    """))

  // ---------------------------------------------------------------- q387

  /** N-gram coverage curve: rank documents by length (the cheap quality
    * proxy), cut into deciles, and measure how many DISTINCT word
    * trigrams each successive decile adds — the diminishing-returns
    * curve that tells a curation pipeline where corpus diversity
    * saturates.
    *
    * Scale shape: cumulative-distinct across ordered groups without any
    * repeated counting — each gram reduces to its FIRST decile (one
    * gram-keyed min agg), the counts fold into 10 rows, and the running
    * sum is a 10-row window. The doc ranking itself is the only global
    * sort, replaceable by a quantile split at scale (q82's binning). */
  private val q387 = QueryDef(
    "q387_gram_coverage_curve",
    (spark, dir) => {
      // r14: (1) the ranking window carries only (doc_id, n_chars) —
      // the former form sorted full TEXT through the single-partition
      // rank window; the doc→decile map (doc-count rows, two narrow
      // longs) broadcast-joins back onto the gram stream (guide §2.3
      // project-before-exchange). (2) trigram identity is internal, so
      // the re-concatenated trigram STRINGS become 8-byte chained-
      // xxhash64 digests from the fused kernel (narrower gram-keyed
      // shuffle, codegen'd scan; a collision would perturb the counts
      // and fail the oracle gate loudly — the q479/q624 precedent).
      val ranked = Tables.documents(spark, dir)
        .select(col("doc_id"), col("n_chars"))
        .withColumn("rn", row_number().over(
          Window.orderBy(col("n_chars").desc, col("doc_id"))).cast("long"))
      val n = ranked.agg(count(lit(1)).as("n_docs"))
      val deciles = ranked.crossJoin(broadcast(n))
        .select(col("doc_id"), expr("(rn - 1) * 10 div n_docs + 1").as("decile"))
      val byDecile = Tables.fanOut(Tables.documents(spark, dir))
        .select(col("doc_id"),
          graft.functions.expressions.token_xxhashes(col("text")).as("hs"))
        .join(broadcast(deciles), Seq("doc_id"))
        .filter(size(col("hs")) >= 3)
        .select(col("decile"),
          explode(graft.functions.expressions.gram_chain_digests(col("hs"), 3))
            .as("gram"))
      val firstSeen = byDecile.groupBy(col("gram")).agg(min(col("decile")).as("d0"))
      val perDecile = firstSeen.groupBy(col("d0").as("decile"))
        .agg(count(lit(1)).as("new_grams"))
      val total = firstSeen.agg(count(lit(1)).as("total_grams"))
      val wCum = Window.orderBy(col("decile"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      perDecile.crossJoin(broadcast(total))
        .withColumn("cum_grams", sum(col("new_grams")).over(wCum))
        .select(col("decile"), col("new_grams"), col("cum_grams"),
          expr("cum_grams * 1000000 div total_grams").as("coverage_ppm"))
        .orderBy(col("decile"))
    },
    Some(s"""
      WITH ranked AS (
        SELECT doc_id, text,
          CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rn,
          CAST(count(*) OVER () AS BIGINT) AS n_docs
        FROM documents),
      toks AS (
        SELECT (rn - 1) * 10 // n_docs + 1 AS decile, $duckTokens AS tk
        FROM ranked),
      grams AS (
        SELECT decile,
          unnest([array_to_string(tk[i:i+2], ' ') for i in range(1, len(tk) - 1)]) AS gram
        FROM toks WHERE len(tk) >= 3),
      first_seen AS (SELECT gram, min(decile) AS d0 FROM grams GROUP BY 1),
      per_decile AS (
        SELECT d0 AS decile, CAST(count(*) AS BIGINT) AS new_grams
        FROM first_seen GROUP BY 1),
      total AS (SELECT CAST(count(*) AS BIGINT) AS total_grams FROM first_seen)
      SELECT decile, new_grams,
        CAST(sum(new_grams) OVER (ORDER BY decile
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_grams,
        CAST(sum(new_grams) OVER (ORDER BY decile
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000
          // total_grams AS BIGINT) AS coverage_ppm
      FROM per_decile CROSS JOIN total
      ORDER BY decile
    """))

  // ---------------------------------------------------------------- q388

  /** EXACT Shapley-value attribution over the 4 non-purchase channels:
    * each user's touched-channel SET defines the coalition, v(S) = the
    * conversion rate of users exposed to exactly S (ppm), and each
    * channel's Shapley value folds the 8 marginal contributions
    * v(S∪c) − v(S) with the exact rational weights s!(k−1−s)!
    * (×k! = 24 to stay integer). The game-theoretically fair
    * attribution — first/last/linear touch (q85/q278/q105) are its
    * heuristic approximations.
    *
    * Scale shape: users fold to 16 coalition rows in one agg; the
    * Shapley fold is a STATIC 32-row literal (channel × subset) table
    * joined twice against those 16 rows. Nothing driver-side, nothing
    * exponential in users — only in the channel count, which is a
    * vocabulary. */
  private val q388 = QueryDef(
    "q388_shapley_attribution",
    (spark, dir) => {
      import spark.implicits._
      val channels = Seq("click", "error", "signup", "view")
      val wgt = Map(0 -> 6L, 1 -> 2L, 2 -> 2L, 3 -> 6L) // s!(3-s)!
      // static (channel, without-key, with-key, weight) fold table
      val folds = for {
        c <- channels
        subset <- channels.filterNot(_ == c).toSet.subsets().toSeq
      } yield (c, subset.toSeq.sorted.mkString(","),
        (subset + c).toSeq.sorted.mkString(","), wgt(subset.size))
      val foldDf = broadcast(folds.toDF("channel", "s_without", "s_with", "w"))
      val perUser = Tables.events(spark, dir)
        .groupBy(col("user_id"))
        .agg(
          concat_ws(",", array_sort(collect_set(
            when(col("event_type") =!= "purchase", col("event_type")))))
            .as("coalition"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
      val v = perUser.groupBy(col("coalition"))
        .agg(count(lit(1)).as("n"), sum(col("conv")).as("k"))
        .select(col("coalition"), expr("k * 1000000 div n").as("v_ppm"))
      foldDf
        .join(v.select(col("coalition").as("s_with"), col("v_ppm").as("v_with")),
          Seq("s_with"), "left")
        .join(v.select(col("coalition").as("s_without"), col("v_ppm").as("v_without")),
          Seq("s_without"), "left")
        .na.fill(0L, Seq("v_with", "v_without"))
        .groupBy(col("channel"))
        .agg(sum(col("w") * (col("v_with") - col("v_without"))).as("phi_ppm_x24"))
        .orderBy(col("channel"))
    },
    Some {
      val channels = Seq("click", "error", "signup", "view")
      val wgt = Map(0 -> 6L, 1 -> 2L, 2 -> 2L, 3 -> 6L)
      val folds = for {
        c <- channels
        subset <- channels.filterNot(_ == c).toSet.subsets().toSeq
      } yield s"('$c', '${subset.toSeq.sorted.mkString(",")}', " +
        s"'${(subset + c).toSeq.sorted.mkString(",")}', ${wgt(subset.size)})"
      s"""
      WITH per_user AS (
        SELECT user_id,
          array_to_string(list_sort(list_distinct(
            list_filter(list(event_type), t -> t <> 'purchase'))), ',') AS coalition,
          max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        FROM events GROUP BY user_id),
      v AS (
        SELECT coalition,
          CAST(sum(conv) AS BIGINT) * 1000000 // CAST(count(*) AS BIGINT) AS v_ppm
        FROM per_user GROUP BY 1),
      folds(channel, s_without, s_with, w) AS (VALUES ${folds.mkString(", ")})
      SELECT channel,
        CAST(sum(w * (coalesce(vw.v_ppm, 0) - coalesce(vo.v_ppm, 0))) AS BIGINT)
          AS phi_ppm_x24
      FROM folds
      LEFT JOIN v vw ON vw.coalition = s_with
      LEFT JOIN v vo ON vo.coalition = s_without
      GROUP BY channel
      ORDER BY channel
      """
    })

  // ---------------------------------------------------------------- q389

  /** MASE-style forecast benchmarking: the day-over-day naive forecast's
    * mean absolute error against the week-over-week seasonal naive's,
    * as an exact ppm ratio — below 1e6 means yesterday predicts today
    * better than last week does (weak weekly seasonality), the
    * denominator every real forecast model must beat.
    *
    * Scale shape: daily totals are calendar-sized; both error series
    * come from lags over ONE ordered window pass; the MAEs are exact
    * integer-cents sums over the common comparable span. */
  private val q389 = QueryDef(
    "q389_mase_forecast_eval",
    (spark, dir) => {
      val daily = Tables.orders(spark, dir)
        .groupBy(expr("CAST(o_orderdate AS DATE)").as("day"))
        .agg(sum(cents(col("o_totalprice"))).as("rev_c"))
      val w = Window.orderBy(col("day"))
      daily
        .withColumn("l1", lag(col("rev_c"), 1).over(w))
        .withColumn("l7", lag(col("rev_c"), 7).over(w))
        .filter(col("l7").isNotNull) // common span: both lags defined
        .agg(
          count(lit(1)).as("n_days"),
          sum(abs(col("rev_c") - col("l1"))).as("ae1_c"),
          sum(abs(col("rev_c") - col("l7"))).as("ae7_c"))
        .select(col("n_days"),
          expr("ae1_c div n_days").as("mae_naive1_c"),
          expr("ae7_c div n_days").as("mae_naive7_c"),
          expr("ae1_c * 1000000 div ae7_c").as("mase_ppm"))
    },
    Some("""
      WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
          sum(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)) AS rev_c
        FROM orders GROUP BY 1),
      lagged AS (
        SELECT rev_c,
          lag(rev_c, 1) OVER (ORDER BY day) AS l1,
          lag(rev_c, 7) OVER (ORDER BY day) AS l7
        FROM daily),
      m AS (
        SELECT CAST(count(*) AS BIGINT) AS n_days,
          sum(abs(rev_c - l1)) AS ae1_c,
          sum(abs(rev_c - l7)) AS ae7_c
        FROM lagged WHERE l7 IS NOT NULL)
      SELECT n_days, CAST(ae1_c // n_days AS BIGINT) AS mae_naive1_c,
        CAST(ae7_c // n_days AS BIGINT) AS mae_naive7_c,
        CAST(ae1_c * 1000000 // ae7_c AS BIGINT) AS mase_ppm
      FROM m
    """))

  override def defs: Seq[QueryDef] =
    Seq(q372, q373, q374, q375, q376, q377, q378, q379, q380,
      q381, q382, q383, q384, q385, q386, q387, q388, q389)
}
