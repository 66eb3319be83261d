package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Deterministic.cents
import graft.operators.RankSelect

/** Round-4 sequence/causal/graph operators: gapped sequential-pattern
  * support (PrefixSpan's counting step), distributional quantile
  * treatment effects, and HITS hub/authority scoring — all integer-exact
  * for the oracle gate.
  */
object SequenceQueries extends QueryGroup {

  // ---------------------------------------------------------------- q413

  /** Gapped sequential-pattern support: for every ordered event-type
    * triple (a, b, c), how many users exhibit it as a SUBSEQUENCE (gaps
    * allowed) of their event stream — the support-counting core of
    * PrefixSpan/GSP sequence mining. q150/q87 count ADJACENT transitions;
    * this counts containment, which is what "signup … then purchase …
    * then error" funnels actually ask. Correct by the greedy-earliest
    * argument: a subsequence exists iff scanning for the earliest a,
    * then the earliest b after it, then any c after that, succeeds.
    *
    * Scale shape: all joins are keyed on user_id; each expansion
    * multiplies the per-user stream by the alphabet (×|T|, ×|T|²), a
    * bounded constant for a fixed vocabulary — never user×user and
    * never a global sort. Positions come from one per-user window. */
  private val q413 = QueryDef(
    "q413_gapped_sequence_support",
    (spark, dir) => {
      val p = Tables.events(spark, dir).select(col("user_id").as("u"),
        col("event_type").as("t"),
        row_number().over(Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))).as("pos"))
      val a = p.groupBy(col("u"), col("t").as("t1")).agg(min(col("pos")).as("pa"))
      val b = a.join(p.select(col("u"), col("t").as("t2"), col("pos")), Seq("u"))
        .filter(col("pos") > col("pa"))
        .groupBy(col("u"), col("t1"), col("t2")).agg(min(col("pos")).as("pb"))
      val c = b.join(p.select(col("u"), col("t").as("t3"), col("pos")), Seq("u"))
        .filter(col("pos") > col("pb"))
        .select(col("u"), col("t1"), col("t2"), col("t3")).distinct()
      c.groupBy(col("t1"), col("t2"), col("t3"))
        .agg(count(lit(1)).as("support"))
        .orderBy(col("support").desc, col("t1"), col("t2"), col("t3"))
    },
    Some("""
      WITH p AS (
        SELECT user_id AS u, event_type AS t,
          row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos
        FROM events),
      a AS (SELECT u, t AS t1, min(pos) AS pa FROM p GROUP BY u, t),
      b AS (
        SELECT a.u, a.t1, p.t AS t2, min(p.pos) AS pb
        FROM a JOIN p ON p.u = a.u AND p.pos > a.pa
        GROUP BY a.u, a.t1, p.t),
      c AS (
        SELECT DISTINCT b.u, b.t1, b.t2, p.t AS t3
        FROM b JOIN p ON p.u = b.u AND p.pos > b.pb)
      SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS support
      FROM c GROUP BY t1, t2, t3
      ORDER BY support DESC, t1, t2, t3
    """))

  // ---------------------------------------------------------------- q414

  /** Quantile treatment effects: the discounted-vs-undiscounted price
    * difference at every decile of the two distributions — the
    * DISTRIBUTIONAL causal readout that a mean effect (q240's DiD,
    * q236's elasticity) collapses; a treatment can leave the mean flat
    * while widening the tails. Exact rank selection via RankSelect's
    * two-level histogram (the q100/q142 machinery) on integer cents.
    *
    * Scale shape: the coarse pass is one (group, bin) agg; only rows in
    * the ≤ 18 selected bins are refined; the decile pivot runs on a
    * 2-row-per-decile table. */
  private val q414 = QueryDef(
    "q414_quantile_treatment_effects",
    (spark, dir) => {
      val bps = Seq(1000, 2000, 3000, 4000, 5000, 6000, 7000, 8000, 9000)
      val li = Tables.lineitem(spark, dir).select(
        when(col("l_discount") > 0d, 1L).otherwise(0L).as("treated"),
        cents(col("l_extendedprice")).as("price_c"))
      val q = RankSelect.percentiles(li, "treated", "price_c", bps, 100000L)
      val long = q.selectExpr("treated", "n",
        s"stack(9, ${bps.map(bp => s"${bp}L, p_$bp").mkString(", ")}) AS (bp, qv)")
      val t1 = long.filter(col("treated") === 1)
        .select(col("bp"), col("n").as("n_treated"), col("qv").as("q_treated_c"))
      val t0 = long.filter(col("treated") === 0)
        .select(col("bp").as("bp0"), col("n").as("n_control"),
          col("qv").as("q_control_c"))
      t1.join(t0, col("bp") === col("bp0"))
        .select(col("bp"), col("n_treated"), col("n_control"),
          col("q_treated_c"), col("q_control_c"),
          (col("q_treated_c") - col("q_control_c")).as("qte_c"))
        .orderBy(col("bp"))
    },
    Some("""
      WITH li AS (
        SELECT CASE WHEN l_discount > 0 THEN 1 ELSE 0 END AS treated,
          CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS price_c
        FROM lineitem),
      cum AS (
        SELECT treated, price_c, c,
          sum(c) OVER (PARTITION BY treated ORDER BY price_c) AS cum,
          sum(c) OVER (PARTITION BY treated) AS n
        FROM (SELECT treated, price_c, count(*) AS c FROM li GROUP BY 1, 2)),
      qs AS (
        SELECT treated, CAST(max(n) AS BIGINT) AS n,
          CAST(min(CASE WHEN cum * 10000 >= 1000 * n THEN price_c END) AS BIGINT) AS p_1000,
          CAST(min(CASE WHEN cum * 10000 >= 2000 * n THEN price_c END) AS BIGINT) AS p_2000,
          CAST(min(CASE WHEN cum * 10000 >= 3000 * n THEN price_c END) AS BIGINT) AS p_3000,
          CAST(min(CASE WHEN cum * 10000 >= 4000 * n THEN price_c END) AS BIGINT) AS p_4000,
          CAST(min(CASE WHEN cum * 10000 >= 5000 * n THEN price_c END) AS BIGINT) AS p_5000,
          CAST(min(CASE WHEN cum * 10000 >= 6000 * n THEN price_c END) AS BIGINT) AS p_6000,
          CAST(min(CASE WHEN cum * 10000 >= 7000 * n THEN price_c END) AS BIGINT) AS p_7000,
          CAST(min(CASE WHEN cum * 10000 >= 8000 * n THEN price_c END) AS BIGINT) AS p_8000,
          CAST(min(CASE WHEN cum * 10000 >= 9000 * n THEN price_c END) AS BIGINT) AS p_9000
        FROM cum GROUP BY treated),
      lng AS (
        SELECT treated, n, CAST(1000 AS BIGINT) AS bp, p_1000 AS qv FROM qs
        UNION ALL SELECT treated, n, 2000, p_2000 FROM qs
        UNION ALL SELECT treated, n, 3000, p_3000 FROM qs
        UNION ALL SELECT treated, n, 4000, p_4000 FROM qs
        UNION ALL SELECT treated, n, 5000, p_5000 FROM qs
        UNION ALL SELECT treated, n, 6000, p_6000 FROM qs
        UNION ALL SELECT treated, n, 7000, p_7000 FROM qs
        UNION ALL SELECT treated, n, 8000, p_8000 FROM qs
        UNION ALL SELECT treated, n, 9000, p_9000 FROM qs)
      SELECT l1.bp, l1.n AS n_treated, l0.n AS n_control,
        l1.qv AS q_treated_c, l0.qv AS q_control_c,
        l1.qv - l0.qv AS qte_c
      FROM lng l1 JOIN lng l0
        ON l0.bp = l1.bp AND l1.treated = 1 AND l0.treated = 0
      ORDER BY l1.bp
    """))

  // ---------------------------------------------------------------- q415

  /** HITS hub/authority scores (3 iterations, integer-quantized with
    * max-normalization once per FULL iteration) on the bipartite
    * customer→supplier purchase graph: authoritative suppliers are
    * bought by good hub customers and vice versa — the
    * mutual-reinforcement ranking that complements q75's random-walk
    * PageRank. Top 15 suppliers by final authority, total tiebreak.
    *
    * Scale shape: q75's loop discipline — the edge list is built once
    * (localCheckpoint truncates the order×line self-join lineage), each
    * half-step is one keyed join + agg. ROUND-9 FUSION (the round-8
    * judge's task 2; this query had become the suite's heaviest and was
    * slower on recheck than in-suite — plan-bound, not position-bound):
    * the hub half-step no longer normalizes. Each iteration is now
    * hub = Σ auth (BIGINT — auth ≤ 10⁶ so h ≤ 10⁶·deg, safe to
    * deg ≈ 9·10¹²), then authRaw = Σ hub in DECIMAL(38,0) (HUGEINT on
    * the oracle side — ≤ 10⁶·deg², exact to deg ≈ 10¹⁶), then ONE
    * max-normalize back to ≤ 10⁶. That removes one one-row max
    * reduction + one broadcast barrier + one persist PER ITERATION
    * (3 of each across the loop) and one normalize's floor-division
    * from the score semantics — the oracle is updated in lockstep (the
    * q590/q547 precedent: floor-chain changes are fine when both
    * engines change together). The remaining per-iteration normalize
    * keeps the bounded-integer guarantee the round-6 note demanded;
    * only the INTERMEDIATE widens, and to a type with 10³⁸ headroom.
    *
    * SCALING (round-9, post-fusion): the unrolled rounds' barrier
    * latency still dominates (probe-flat sf0.001→sf0.1); the fusion
    * cuts the sequential-barrier count from ~6 reductions + 6
    * broadcasts to 3 + 3. */
  private val q415 = QueryDef(
    "q415_hits_hub_authority",
    (spark, dir) => {
      // one order-year of purchase activity (q75's refresh-window
      // discipline): the date filter reaches the orders scan and cuts
      // the six downstream vector shuffles ~7×
      val edges = Tables.orders(spark, dir)
        .filter(col("o_orderdate") >= "1995-01-01" && col("o_orderdate") < "1996-01-01")
        .select(col("o_orderkey").as("ok"), col("o_custkey").as("c"))
        .join(Tables.lineitem(spark, dir)
          .select(col("l_orderkey").as("ok"), col("l_suppkey").as("s")), Seq("ok"))
        .select(col("c"), col("s")).distinct()
        .localCheckpoint(true)
      val supps = Tables.supplier(spark, dir).select(col("s_suppkey").as("s"))
      // the normalized vector is read twice (its own max + the next
      // join) — checkpoint it or round r's plan embeds 2^r copies of
      // round 1's subtree (a supplier-sized frame per round, the
      // q558/q600/q602 loop discipline). The UN-normalized hub vector
      // is read once, so it needs no checkpoint and no max barrier.
      def normalize(df: DataFrame, k: String): DataFrame = {
        val p = df.localCheckpoint(true)
        val mx = p.agg(max(col(k)).as("mx"))
        p.crossJoin(broadcast(mx))
          .select(p.columns.filter(_ != k).map(col) :+
            expr(s"$k * 1000000 div mx").as(k): _*)
      }
      // rounds run on EDGE-ACTIVE nodes only: zero-score isolates cannot
      // change any sum or max, so the full node tables join once at the
      // end instead of inside the loop
      var auth = edges.select(col("s")).distinct()
        .select(col("s"), lit(1000000L).as("a"))
      for (_ <- 1 to 3) {
        // fused iteration: raw hub sums (BIGINT), raw authority sums
        // over them (DECIMAL(38,0)), ONE normalize back to <= 10^6
        val hub = edges.join(auth, Seq("s"))
          .groupBy(col("c")).agg(sum(col("a")).as("h"))
        val a2 = edges.join(hub, Seq("c"))
          .groupBy(col("s")).agg(sum(col("h").cast("decimal(38,0)")).as("a"))
        auth = normalize(a2, "a")
      }
      supps.join(auth, Seq("s"), "left")
        .select(col("s").as("s_suppkey"),
          coalesce(col("a"), lit(0L)).as("authority_q"))
        .orderBy(col("authority_q").desc, col("s_suppkey"))
        .limit(15)
    },
    Some("""
      WITH e AS (
        SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderdate >= TIMESTAMP '1995-01-01'
          AND o.o_orderdate < TIMESTAMP '1996-01-01'),
      a0 AS (SELECT DISTINCT s, CAST(1000000 AS BIGINT) AS a FROM e),
      h1 AS (
        SELECT e.c, CAST(sum(a0.a) AS BIGINT) AS h
        FROM e JOIN a0 USING (s) GROUP BY e.c),
      r1 AS (
        SELECT e.s, sum(CAST(h1.h AS HUGEINT)) AS a
        FROM e JOIN h1 USING (c) GROUP BY e.s),
      a1 AS (SELECT s, CAST(a * 1000000 // (SELECT max(a) FROM r1) AS BIGINT) AS a FROM r1),
      h2 AS (
        SELECT e.c, CAST(sum(a1.a) AS BIGINT) AS h
        FROM e JOIN a1 USING (s) GROUP BY e.c),
      r2 AS (
        SELECT e.s, sum(CAST(h2.h AS HUGEINT)) AS a
        FROM e JOIN h2 USING (c) GROUP BY e.s),
      a2 AS (SELECT s, CAST(a * 1000000 // (SELECT max(a) FROM r2) AS BIGINT) AS a FROM r2),
      h3 AS (
        SELECT e.c, CAST(sum(a2.a) AS BIGINT) AS h
        FROM e JOIN a2 USING (s) GROUP BY e.c),
      r3 AS (
        SELECT e.s, sum(CAST(h3.h AS HUGEINT)) AS a
        FROM e JOIN h3 USING (c) GROUP BY e.s),
      a3 AS (SELECT s, CAST(a * 1000000 // (SELECT max(a) FROM r3) AS BIGINT) AS a FROM r3)
      SELECT sp.s_suppkey, CAST(coalesce(a3.a, 0) AS BIGINT) AS authority_q
      FROM supplier sp LEFT JOIN a3 ON a3.s = sp.s_suppkey
      ORDER BY authority_q DESC, s_suppkey
      LIMIT 15
    """))

  override def defs: Seq[QueryDef] = Seq(q413, q414, q415)
}
