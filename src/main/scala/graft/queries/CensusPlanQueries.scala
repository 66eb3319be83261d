package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-6 batch 6: structure and capacity censuses — k-core graph
  * peeling, capture–recapture population estimation, and Erlang-B
  * trunk sizing. All outputs integers / strings with total ORDER BYs
  * for the oracle gate.
  */
object CensusPlanQueries extends QueryGroup {

  /** Four rounds of node peeling on the 1995 customer–supplier purchase
    * graph, with a census of every round 0..4: `(round, nodes, edges,
    * extra...)`, `extra` aggregated over the round's edge list beside
    * the node and undirected-edge counts. Bipartite node ids are
    * disjoint (2c / 2s+1) so one symmetric directed edge list (u, v)
    * serves both sides; node-peeling preserves symmetry, so undirected
    * edges = rows div 2 exactly. `materialise` stores the round-0 edge
    * list; `keep` maps a round's edges to the nodes (u) that survive
    * it. Every round is one keyed degree aggregate plus two keyed
    * semijoins (no node-sized broadcast), its surviving edges
    * `localCheckpoint(true)`ed so each round's plan stays flat. q558
    * peels at a fixed k-core bar, q691 at the adaptive densest-subgraph
    * bar. */
  private def peelingCensus(spark: SparkSession, dir: String,
                            materialise: DataFrame => DataFrame,
                            keep: DataFrame => DataFrame,
                            extra: Column*): DataFrame = {
    val base = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= "1995-01-01" && col("o_orderdate") < "1996-01-01")
      .select(col("o_orderkey").as("ok"), col("o_custkey").as("c"))
      .join(Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("s")), Seq("ok"))
      .select(col("c"), col("s")).distinct()
    var edges = materialise(base
      .select((col("c") * 2L).as("u"), (col("s") * 2L + 1L).as("v"))
      .union(base.select((col("s") * 2L + 1L).as("u"), (col("c") * 2L).as("v"))))
    def census(r: Int, e: DataFrame): DataFrame =
      e.agg(countDistinct(col("u")).as("nodes"), expr("count(1) div 2").as("edges") +: extra: _*)
        .select(lit(r.toLong).as("round"), col("*"))
    var out = census(0, edges)
    for (r <- 1 to 4) {
      val survivors = keep(edges)
      edges = edges
        .join(survivors, Seq("u"))
        .join(survivors.withColumnRenamed("u", "v"), Seq("v"))
        .select(col("u"), col("v")).localCheckpoint(true)
      out = out.union(census(r, edges))
    }
    out.orderBy(col("round"))
  }

  // ---------------------------------------------------------------- q558

  /** k-core peeling census (k=3) on the customer–supplier purchase
    * graph: repeatedly delete nodes with degree < 3 and report the
    * (nodes, edges) trajectory after each of 4 peeling rounds — the
    * standard onion decomposition that separates the stable trading
    * core from peripheral one-off buyers before running anything
    * expensive (community detection, embeddings) on the graph.
    *
    * Scale shape: q415's edge discipline — one order-year filter
    * reaches the orders scan, the distinct edge list is built once and
    * persisted, and every peeling round is one keyed degree aggregate
    * plus two keyed semijoins (node-hash-partitioned shuffles; no
    * broadcast of node-sized sets, which would not fit at 10⁹
    * customers). Bipartite node ids are disjoint (2c / 2s+1) so one
    * symmetric directed edge list serves both sides; symmetry is
    * preserved by node-peeling, so undirected edges = rows div 2
    * exactly. Four rounds is the audit's fixed budget — the spec
    * asserts the trajectory is monotone and stops early only if a
    * round is already a fixpoint. Each round's surviving edge frame is
    * `localCheckpoint(true)` (q691/q701 discipline): the original
    * 5-deep nested-persist chain made AQE's onUpdatePlan explain-string
    * render combinatorially expensive and was the suite's #1 cost
    * (28 s driver-pass vs ~5 s clean); the checkpoint cuts the lineage
    * so each round's plan is flat.
    *
    * SCALING (round-7 probe, largest testdata = sf0.1): 6.15 s at
    * sf0.01 -> 5.23 s at sf0.1 (10x data, 0.85x time) - wall time is
    * the 4 peeling rounds' scheduling barriers, not data volume, as
    * the dimension-bounded-working-set claim predicts. */
  private val q558 = QueryDef(
    "q558_kcore_peeling",
    (spark, dir) => {
      // (r13 note: a count-based fixpoint shortcut was tried and
      // REVERTED — this graph never reaches a fixpoint within the 4
      // audited rounds at any test SF, so the two extra count barriers
      // per round cost ~65% more wall time and saved nothing.)
      peelingCensus(spark, dir, _.persist(),
        edges => edges.groupBy(col("u")).agg(count(lit(1)).as("d"))
          .filter(col("d") >= 3L).select(col("u")))
    },
    Some("""
      WITH b AS MATERIALIZED (
        SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderdate >= TIMESTAMP '1995-01-01'
          AND o.o_orderdate < TIMESTAMP '1996-01-01'),
      e0 AS MATERIALIZED (SELECT c*2 AS u, s*2+1 AS v FROM b
             UNION ALL SELECT s*2+1, c*2 FROM b),
      k1 AS MATERIALIZED (SELECT u FROM e0 GROUP BY u HAVING count(*) >= 3),
      e1 AS MATERIALIZED (SELECT e.u, e.v FROM e0 e JOIN k1 a ON e.u = a.u
             JOIN k1 c ON e.v = c.u),
      k2 AS MATERIALIZED (SELECT u FROM e1 GROUP BY u HAVING count(*) >= 3),
      e2 AS MATERIALIZED (SELECT e.u, e.v FROM e1 e JOIN k2 a ON e.u = a.u
             JOIN k2 c ON e.v = c.u),
      k3 AS MATERIALIZED (SELECT u FROM e2 GROUP BY u HAVING count(*) >= 3),
      e3 AS MATERIALIZED (SELECT e.u, e.v FROM e2 e JOIN k3 a ON e.u = a.u
             JOIN k3 c ON e.v = c.u),
      k4 AS MATERIALIZED (SELECT u FROM e3 GROUP BY u HAVING count(*) >= 3),
      e4 AS MATERIALIZED (SELECT e.u, e.v FROM e3 e JOIN k4 a ON e.u = a.u
             JOIN k4 c ON e.v = c.u)
      SELECT CAST(0 AS BIGINT) AS round,
        CAST(count(DISTINCT u) AS BIGINT) AS nodes,
        CAST(count(*) // 2 AS BIGINT) AS edges FROM e0
      UNION ALL SELECT 1, CAST(count(DISTINCT u) AS BIGINT),
        CAST(count(*) // 2 AS BIGINT) FROM e1
      UNION ALL SELECT 2, CAST(count(DISTINCT u) AS BIGINT),
        CAST(count(*) // 2 AS BIGINT) FROM e2
      UNION ALL SELECT 3, CAST(count(DISTINCT u) AS BIGINT),
        CAST(count(*) // 2 AS BIGINT) FROM e3
      UNION ALL SELECT 4, CAST(count(DISTINCT u) AS BIGINT),
        CAST(count(*) // 2 AS BIGINT) FROM e4
      ORDER BY round
    """))

  // ---------------------------------------------------------------- q559

  /** Capture–recapture population estimate: treat two event windows as
    * two ecological "surveys" of the user base, count who is seen in
    * each (n1, n2) and in both (m), and estimate the TOTAL population
    * by Lincoln–Petersen (n1·n2/m) and the small-sample Chapman form
    * ((n1+1)(n2+1)/(m+1) − 1) — then score both against the true
    * distinct-user count the full table knows. Run at 3 paired window
    * widths (6 h/6 h, 12 h/12 h, 24 h/24 h from the stream origin):
    * wider windows capture more and the estimate tightens, while
    * heavy-user catchability bias (the same power users land in both
    * surveys, inflating m) shows up as a signed low bias. The audit
    * for "how many users do we actually have" when only sampled
    * observation windows are affordable.
    *
    * Scale shape: one scan folds events to per-user presence flags (6
    * conditional maxes in one keyed aggregate — never a self-join of
    * the two surveys); the window grid unpivots from the ONE-ROW
    * global aggregate via stack, so everything after the user fold is
    * constant-sized. Window origin is the generator's documented
    * stream start (TESTDATA.md: 2024-01). */
  private val q559 = QueryDef(
    "q559_capture_recapture",
    (spark, dir) => {
      import graft.functions.Deterministic.epochS
      val h = (epochS(col("ts")) - 1704067200L) / 3600L
      def flag(lo: Long, hi: Long) =
        max(when(h >= lo && h < hi, 1L).otherwise(0L))
      val flags = Tables.events(spark, dir)
        .groupBy(col("user_id"))
        .agg(flag(0L, 6L).as("s6a"), flag(6L, 12L).as("s6b"),
          flag(0L, 12L).as("s12a"), flag(12L, 24L).as("s12b"),
          flag(0L, 24L).as("s24a"), flag(24L, 48L).as("s24b"))
      flags.agg(
          sum(col("s6a")).as("n1_6"), sum(col("s6b")).as("n2_6"),
          sum(col("s6a") * col("s6b")).as("m_6"),
          sum(col("s12a")).as("n1_12"), sum(col("s12b")).as("n2_12"),
          sum(col("s12a") * col("s12b")).as("m_12"),
          sum(col("s24a")).as("n1_24"), sum(col("s24b")).as("n2_24"),
          sum(col("s24a") * col("s24b")).as("m_24"),
          count(lit(1)).as("true_n"))
        .select(expr("""stack(3,
            CAST(6 AS BIGINT), n1_6, n2_6, m_6,
            CAST(12 AS BIGINT), n1_12, n2_12, m_12,
            CAST(24 AS BIGINT), n1_24, n2_24, m_24) AS (window_h, n1, n2, m)"""),
          col("true_n"))
        .select(col("window_h"), col("n1"), col("n2"), col("m"), col("true_n"),
          expr("n1 * n2 div greatest(m, 1)").as("lp_est"),
          expr("(n1 + 1) * (n2 + 1) div (m + 1) - 1").as("chapman_est"))
        .withColumn("abs_err_ppm",
          expr("abs(chapman_est - true_n) * 1000000 div true_n"))
        .withColumn("bias", expr("""CASE WHEN chapman_est > true_n THEN 1
            WHEN chapman_est < true_n THEN -1 ELSE 0 END""").cast("long"))
        .orderBy(col("window_h"))
    },
    Some("""
      WITH f AS (
        SELECT user_id,
          max(CASE WHEN h >= 0 AND h < 6 THEN 1 ELSE 0 END) AS s6a,
          max(CASE WHEN h >= 6 AND h < 12 THEN 1 ELSE 0 END) AS s6b,
          max(CASE WHEN h >= 0 AND h < 12 THEN 1 ELSE 0 END) AS s12a,
          max(CASE WHEN h >= 12 AND h < 24 THEN 1 ELSE 0 END) AS s12b,
          max(CASE WHEN h >= 0 AND h < 24 THEN 1 ELSE 0 END) AS s24a,
          max(CASE WHEN h >= 24 AND h < 48 THEN 1 ELSE 0 END) AS s24b
        FROM (SELECT user_id,
                (epoch_ms(ts) // 1000 - 1704067200) // 3600 AS h
              FROM events)
        GROUP BY user_id),
      a AS (
        SELECT CAST(sum(s6a) AS BIGINT) AS n1_6, CAST(sum(s6b) AS BIGINT) AS n2_6,
          CAST(sum(s6a * s6b) AS BIGINT) AS m_6,
          CAST(sum(s12a) AS BIGINT) AS n1_12, CAST(sum(s12b) AS BIGINT) AS n2_12,
          CAST(sum(s12a * s12b) AS BIGINT) AS m_12,
          CAST(sum(s24a) AS BIGINT) AS n1_24, CAST(sum(s24b) AS BIGINT) AS n2_24,
          CAST(sum(s24a * s24b) AS BIGINT) AS m_24,
          CAST(count(*) AS BIGINT) AS true_n
        FROM f),
      rows_ AS (
        SELECT CAST(6 AS BIGINT) AS window_h, n1_6 AS n1, n2_6 AS n2,
          m_6 AS m, true_n FROM a
        UNION ALL SELECT 12, n1_12, n2_12, m_12, true_n FROM a
        UNION ALL SELECT 24, n1_24, n2_24, m_24, true_n FROM a)
      SELECT window_h, n1, n2, m, true_n,
        CAST(n1 * n2 // greatest(m, 1) AS BIGINT) AS lp_est,
        CAST((n1 + 1) * (n2 + 1) // (m + 1) - 1 AS BIGINT) AS chapman_est,
        CAST(abs((n1 + 1) * (n2 + 1) // (m + 1) - 1 - true_n) * 1000000
          // true_n AS BIGINT) AS abs_err_ppm,
        CAST(CASE WHEN (n1 + 1) * (n2 + 1) // (m + 1) - 1 > true_n THEN 1
          WHEN (n1 + 1) * (n2 + 1) // (m + 1) - 1 < true_n THEN -1
          ELSE 0 END AS BIGINT) AS bias
      FROM rows_ ORDER BY window_h
    """))

  /** Offered load per hour of day and the exact Erlang-B blocking
    * recursion B(c) = a·B(c−1)/(c + a·B(c−1)) for c = 1..12 servers in
    * integer ppm: `(hod, arrivals, n_days, a_centi, b1..b12)`, a_centi
    * the arrivals × a 10-minute hold in centi-erlangs. Events fold to
    * 24 rows in one aggregate; the recursion is a chain of column
    * expressions on them. q560 reads the blocking, q608 the Erlang-C
    * wait built on it. */
  private[queries] def erlangB(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Deterministic.epochS
    val perHour = Tables.events(spark, dir)
      .select(epochS(col("ts")).as("es"))
      .select(expr("es div 3600 % 24").as("hod"), expr("es div 86400").as("day"))
      .groupBy(col("hod"))
      .agg(count(lit(1)).as("arrivals"), countDistinct(col("day")).as("n_days"))
      .withColumn("a_centi", expr("arrivals * 100 div (n_days * 6)"))
    (1 to 12).foldLeft(perHour) { (df, c) =>
      val prev = if (c == 1) "CAST(1000000 AS BIGINT)" else s"b${c - 1}"
      df.withColumn(s"b$c",
        expr(s"(1000000 * a_centi * $prev) div ($c * 100000000 + a_centi * $prev)"))
    }
  }

  // ---------------------------------------------------------------- q560

  /** Erlang-B trunk sizing: fold the event stream to offered load per
    * hour-of-day (arrivals × a 10-minute hold, in centi-erlangs), run
    * the exact Erlang-B recursion B(c) = a·B(c−1)/(c + a·B(c−1)) for
    * c = 1..12 servers entirely in integer ppm fixed point, and report
    * the blocking probability at 4/8/12 trunks plus the smallest trunk
    * count that meets a 1% blocking SLA — the classical loss-system
    * capacity plan (how many concurrent slots a connection pool /
    * GPU-worker fleet needs per hour of the day), computed from data
    * instead of a peak guess.
    *
    * Scale shape: events fold to 24 hour-of-day rows in one aggregate;
    * the 12-step recursion is a chain of column expressions on those
    * 24 rows (pure codegen, no joins, no windows). Fixed-point safety:
    * the largest intermediate is 10⁶·a_centi·B_ppm ≤ 10¹²·a_centi, so
    * the chain is overflow-free for offered loads up to ~9 × 10⁶
    * centi-erlangs (90 000 erlangs) — far past any per-hour pool this
    * plan would size; floor division is identical in both engines on
    * these nonnegative operands. */
  private val q560 = QueryDef(
    "q560_erlang_blocking_plan",
    (spark, dir) => {
      val df = erlangB(spark, dir)
      val sla = (1 to 12)
        .map(c => s"WHEN b$c <= 10000 THEN $c").mkString(" ")
      df.select(col("hod"), col("n_days"), col("arrivals"), col("a_centi"),
          col("b4").as("b4_ppm"), col("b8").as("b8_ppm"), col("b12").as("b12_ppm"),
          expr(s"CAST(CASE $sla ELSE -1 END AS BIGINT)").as("min_trunks_1pct"))
        .orderBy(col("hod"))
    },
    Some {
      val steps = (1 to 12).map { c =>
        val prev = if (c == 1) "CAST(1000000 AS BIGINT)" else s"b${c - 1}"
        s"""h$c AS (SELECT *, CAST((1000000 * a_centi * $prev)
           // ($c * 100000000 + a_centi * $prev) AS BIGINT) AS b$c FROM h${c - 1})"""
      }.mkString(",\n      ")
      val sla = (1 to 12).map(c => s"WHEN b$c <= 10000 THEN $c").mkString(" ")
      s"""
      WITH h0 AS (
        SELECT hod, CAST(count(*) AS BIGINT) AS arrivals,
          CAST(count(DISTINCT day) AS BIGINT) AS n_days,
          CAST(count(*) * 100 // (count(DISTINCT day) * 6) AS BIGINT) AS a_centi
        FROM (SELECT (epoch_ms(ts) // 1000 // 3600) % 24 AS hod,
                epoch_ms(ts) // 1000 // 86400 AS day
              FROM events)
        GROUP BY hod),
      $steps
      SELECT hod, n_days, arrivals, a_centi,
        b4 AS b4_ppm, b8 AS b8_ppm, b12 AS b12_ppm,
        CAST(CASE $sla ELSE -1 END AS BIGINT) AS min_trunks_1pct
      FROM h12 ORDER BY hod
    """
    })

  // ---------------------------------------------------------------- q691

  /** Densest-subgraph peeling (Bahmani et al.'s MapReduce relaxation of
    * Charikar's greedy): each of 4 rounds deletes every node whose
    * degree is at most the CURRENT average (d·n > 2m keeps a node — the
    * cross-multiplied form needs no division and no divide-by-zero
    * guard), and the census reports the (nodes, edges, avg-degree)
    * trajectory. The round with the highest average degree is a
    * 2-approximate densest subgraph — the densest trading community on
    * the q558 customer–supplier graph, and the onion layer community
    * detection should be seeded from. q558's k-core uses a FIXED
    * degree bar; this one adapts the bar to the surviving graph, which
    * is what makes it a density maximizer rather than a core filter.
    *
    * Scale shape: [[peelingCensus]], as q558 — one keyed degree
    * aggregate plus two keyed semijoins per round and a one-row (n, 2m)
    * broadcast for the adaptive bar; no node-sized broadcasts. Unlike
    * q558, each round's survivor list feeds a SCALAR broadcast, and
    * Spark fires every broadcast future eagerly at action start — with
    * lazy persists, round r's bar would recompute the whole uncached
    * r-deep join lineage concurrently (measured: 26 s at sf0.1). Each
    * round is therefore localCheckpoint'ed (the q415/q374/q402
    * sanctioned pattern): lineage truncates, the bar reads the
    * materialized round, and the query lands at ~3 s. Four rounds is
    * the fixed audit budget.
    *
    * SCALING (round-9 probe): 2.33 s at sf0.01 → 2.65 s at sf0.1 (10×
    * data, exponent ≈0.06 — round-barrier bound, like q558). */
  private val q691 = QueryDef(
    "q691_densest_subgraph_peel",
    (spark, dir) => {
      // (r13 note: a count-based fixpoint shortcut was tried and
      // REVERTED — the adaptive bar keeps peeling at every test SF, so
      // the extra count barriers only added wall time.)
      peelingCensus(spark, dir, _.localCheckpoint(true),
        edges => {
          val bar = edges.agg(countDistinct(col("u")).as("n"),
            count(lit(1)).as("m2"))
          edges.groupBy(col("u")).agg(count(lit(1)).as("d"))
            .crossJoin(broadcast(bar))
            .filter(col("d") * col("n") > col("m2")).select(col("u"))
        },
        expr("count(1) * 1000 div greatest(count(DISTINCT u), 1)").as("avg_deg_milli"))
    },
    Some("""
      WITH b AS MATERIALIZED (
        SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderdate >= TIMESTAMP '1995-01-01'
          AND o.o_orderdate < TIMESTAMP '1996-01-01'),
      e0 AS MATERIALIZED (SELECT c*2 AS u, s*2+1 AS v FROM b
             UNION ALL SELECT s*2+1, c*2 FROM b),
      t0 AS MATERIALIZED (SELECT count(DISTINCT u) AS n, count(*) AS m2 FROM e0),
      k1 AS MATERIALIZED (SELECT u FROM e0 GROUP BY u
             HAVING count(*) * (SELECT n FROM t0) > (SELECT m2 FROM t0)),
      e1 AS MATERIALIZED (SELECT e.u, e.v FROM e0 e JOIN k1 a ON e.u = a.u
             JOIN k1 c ON e.v = c.u),
      t1 AS MATERIALIZED (SELECT count(DISTINCT u) AS n, count(*) AS m2 FROM e1),
      k2 AS MATERIALIZED (SELECT u FROM e1 GROUP BY u
             HAVING count(*) * (SELECT n FROM t1) > (SELECT m2 FROM t1)),
      e2 AS MATERIALIZED (SELECT e.u, e.v FROM e1 e JOIN k2 a ON e.u = a.u
             JOIN k2 c ON e.v = c.u),
      t2 AS MATERIALIZED (SELECT count(DISTINCT u) AS n, count(*) AS m2 FROM e2),
      k3 AS MATERIALIZED (SELECT u FROM e2 GROUP BY u
             HAVING count(*) * (SELECT n FROM t2) > (SELECT m2 FROM t2)),
      e3 AS MATERIALIZED (SELECT e.u, e.v FROM e2 e JOIN k3 a ON e.u = a.u
             JOIN k3 c ON e.v = c.u),
      t3 AS MATERIALIZED (SELECT count(DISTINCT u) AS n, count(*) AS m2 FROM e3),
      k4 AS MATERIALIZED (SELECT u FROM e3 GROUP BY u
             HAVING count(*) * (SELECT n FROM t3) > (SELECT m2 FROM t3)),
      e4 AS MATERIALIZED (SELECT e.u, e.v FROM e3 e JOIN k4 a ON e.u = a.u
             JOIN k4 c ON e.v = c.u),
      rounds AS MATERIALIZED (
        SELECT CAST(0 AS BIGINT) AS round, CAST(count(DISTINCT u) AS BIGINT)
            AS nodes, CAST(count(*) // 2 AS BIGINT) AS edges,
          CAST(count(*) * 1000 // greatest(count(DISTINCT u), 1) AS BIGINT)
            AS avg_deg_milli FROM e0
        UNION ALL SELECT 1, CAST(count(DISTINCT u) AS BIGINT),
          CAST(count(*) // 2 AS BIGINT),
          CAST(count(*) * 1000 // greatest(count(DISTINCT u), 1) AS BIGINT)
          FROM e1
        UNION ALL SELECT 2, CAST(count(DISTINCT u) AS BIGINT),
          CAST(count(*) // 2 AS BIGINT),
          CAST(count(*) * 1000 // greatest(count(DISTINCT u), 1) AS BIGINT)
          FROM e2
        UNION ALL SELECT 3, CAST(count(DISTINCT u) AS BIGINT),
          CAST(count(*) // 2 AS BIGINT),
          CAST(count(*) * 1000 // greatest(count(DISTINCT u), 1) AS BIGINT)
          FROM e3
        UNION ALL SELECT 4, CAST(count(DISTINCT u) AS BIGINT),
          CAST(count(*) // 2 AS BIGINT),
          CAST(count(*) * 1000 // greatest(count(DISTINCT u), 1) AS BIGINT)
          FROM e4)
      SELECT round, nodes, edges, avg_deg_milli FROM rounds ORDER BY round
    """))

  def defs: Seq[QueryDef] = Seq(q558, q559, q560, q691)
}
