package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Deterministic.cents

/** Round-4 OLAP-engineering operators: two-level (SWAG-style) sliding-
  * window max decomposition, Neyman optimal stratified allocation with
  * exact integer square roots, and the greedy cube-materialization
  * chooser — engine techniques expressed as verifiable dataflow,
  * deterministic for the oracle gate.
  */
object OlapPlanQueries extends QueryGroup {

  // ---------------------------------------------------------------- q437

  /** Two-level sliding-max decomposition (the SWAG / sparse-table trick
    * every streaming engine uses for mergeable sliding aggregates):
    * with block size = window size 7, any trailing-7-day window is the
    * suffix-max of the left block from its start day combined with the
    * prefix-max of the right block to its end day (one block only when
    * the window IS the block) — so the sliding max needs just two
    * BLOCK-PARTITIONED cumulative folds and one equi-join on day. The
    * direct ROWS-frame window is computed alongside as the in-engine
    * oracle, monthly: days compared, days equal (all), window max.
    *
    * Scale shape: the decomposition is the point — the direct frame
    * needs a single-ordered window over the whole series, while the
    * SWAG form is block-local (parallelism = #blocks) plus one narrow
    * join; at 100 TB the calendar is small either way, but per-key
    * sliding aggregates inherit the same rewrite. */
  private val q437 = QueryDef(
    "q437_swag_sliding_max",
    (spark, dir) => {
      val daily = Tables.orders(spark, dir)
        .groupBy(expr("CAST(o_orderdate AS DATE)").as("day"))
        .agg(sum(cents(col("o_totalprice"))).as("rev_c"))
      val d0 = daily.agg(min(col("day")).as("d0"), max(col("day")).as("dmax"))
      val frame = d0.select(col("d0"),
        explode(expr("sequence(0L, CAST(datediff(dmax, d0) AS BIGINT))")).as("d"))
      val idx = daily.crossJoin(broadcast(d0))
        .select(datediff(col("day"), col("d0")).cast("long").as("d"), col("rev_c"))
      val dense = frame.join(idx, Seq("d"), "left")
        .select(col("d0"), col("d"), coalesce(col("rev_c"), lit(0L)).as("v"))
        .withColumn("blk", expr("d div 7"))
      val wBlkAsc = Window.partitionBy(col("blk")).orderBy(col("d"))
      val wBlkDesc = Window.partitionBy(col("blk")).orderBy(col("d").desc)
      val folds = dense
        .withColumn("pmax", max(col("v")).over(wBlkAsc))
        .withColumn("smax", max(col("v")).over(wBlkDesc))
      val direct = folds
        .withColumn("direct_max",
          max(col("v")).over(Window.orderBy(col("d")).rowsBetween(-6, 0)))
      val swag = direct.filter(col("d") >= 6L)
        .join(folds.select(col("d").as("ds"), col("smax").as("left_smax"),
          col("blk").as("blk_l")), col("ds") === col("d") - 6L)
        .withColumn("swag_max",
          when(col("blk_l") === col("blk"), col("left_smax"))
            .otherwise(greatest(col("left_smax"), col("pmax"))))
      swag.groupBy(expr("date_format(date_add(d0, CAST(d AS INT)), 'yyyy-MM')")
          .as("month"))
        .agg(count(lit(1)).as("n_days"),
          sum((col("swag_max") === col("direct_max")).cast("long")).as("n_equal"),
          max(col("direct_max")).as("peak7_c"))
        .orderBy(col("month"))
    },
    Some("""
      WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
          sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS rev_c
        FROM orders GROUP BY 1),
      d0 AS (SELECT min(day) AS d0, max(day) AS dmax FROM daily),
      dense AS (
        SELECT g.d, coalesce(dd.rev_c, 0) AS v, g.d // 7 AS blk, d0.d0
        FROM d0, LATERAL (SELECT unnest(range(0, date_diff('day', d0, dmax) + 1))
          AS d) g
        LEFT JOIN (SELECT date_diff('day', d0, day) AS d, rev_c
                   FROM daily CROSS JOIN d0) dd ON g.d = dd.d),
      folds AS (
        SELECT d0, d, v, blk,
          max(v) OVER (PARTITION BY blk ORDER BY d) AS pmax,
          max(v) OVER (PARTITION BY blk ORDER BY d DESC) AS smax,
          max(v) OVER (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
            AS direct_max
        FROM dense),
      swag AS (
        SELECT r.d0, r.d, r.direct_max,
          CASE WHEN l.blk = r.blk THEN l.smax
               ELSE greatest(l.smax, r.pmax) END AS swag_max
        FROM folds r JOIN folds l ON l.d = r.d - 6
        WHERE r.d >= 6)
      SELECT strftime(d0 + to_days(CAST(d AS INTEGER)), '%Y-%m') AS month,
        CAST(count(*) AS BIGINT) AS n_days,
        CAST(sum(CASE WHEN swag_max = direct_max THEN 1 ELSE 0 END) AS BIGINT)
          AS n_equal,
        CAST(max(direct_max) AS BIGINT) AS peak7_c
      FROM swag GROUP BY 1 ORDER BY month
    """))

  // ---------------------------------------------------------------- q438

  /** Neyman optimal stratified-sample allocation: a 1000-row budget is
    * split across brand strata ∝ N_h·S_h (size × standard deviation),
    * against proportional allocation ∝ N_h — the design that minimizes
    * estimator variance for a fixed budget, putting rows where the
    * stratum is BIG and NOISY (q58 takes quotas as given; q347/q349
    * correct after the fact; this plans the draw). Variances are exact
    * integer cents² in decimal(38,0); standard deviations use
    * floor-sqrt with an integer off-by-one correction, so a 1-ulp
    * double disagreement between engines cannot change the result.
    *
    * Scale shape: one fact scan folds to per-stratum (n, Σx, Σx²)
    * map-side partials; everything after is stratum-count-sized with a
    * one-row broadcast total. */
  private val q438 = QueryDef(
    "q438_neyman_allocation",
    (spark, dir) => {
      val st = Tables.lineitem(spark, dir)
        .join(broadcast(Tables.part(spark, dir)
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_brand"), cents(col("l_extendedprice")).as("x"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"),
          sum(col("x").cast("decimal(38,0)")).as("sx"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"))
        .withColumn("var_c2", expr(
          "CAST((n * sxx - sx * sx) div (n * (n - 1)) AS DECIMAL(38,0))"))
        .withColumn("s0", expr("CAST(floor(sqrt(CAST(var_c2 AS DOUBLE))) AS BIGINT)"))
        .withColumn("sd_c", expr(
          """CASE WHEN CAST(s0 + 1 AS DECIMAL(38,0)) * (s0 + 1) <= var_c2 THEN s0 + 1
                  WHEN CAST(s0 AS DECIMAL(38,0)) * s0 > var_c2 THEN s0 - 1
                  ELSE s0 END"""))
        .withColumn("weight", expr("n * sd_c"))
      val tot = st.agg(sum(col("weight")).as("wtot"), sum(col("n")).as("ntot"))
      st.crossJoin(broadcast(tot))
        .select(col("p_brand"), col("n").as("stratum_n"), col("sd_c"),
          expr("CAST(1000 * weight div wtot AS BIGINT)").as("neyman_n"),
          expr("CAST(1000 * n div ntot AS BIGINT)").as("proportional_n"))
        .orderBy(col("p_brand"))
    },
    Some("""
      WITH st AS (
        SELECT p.p_brand, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
            AS HUGEINT) AS sx,
          CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
            * CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)) AS HUGEINT)
            AS sxx
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY p.p_brand),
      v AS (
        SELECT p_brand, n, (n * sxx - sx * sx) // (n * (n - 1)) AS var_c2
        FROM st),
      s AS (
        SELECT p_brand, n, var_c2,
          CAST(floor(sqrt(CAST(var_c2 AS DOUBLE))) AS BIGINT) AS s0
        FROM v),
      sd AS (
        SELECT p_brand, n,
          CASE WHEN CAST(s0 + 1 AS HUGEINT) * (s0 + 1) <= var_c2 THEN s0 + 1
               WHEN CAST(s0 AS HUGEINT) * s0 > var_c2 THEN s0 - 1
               ELSE s0 END AS sd_c
        FROM s),
      w AS (SELECT p_brand, n, sd_c, CAST(n AS HUGEINT) * sd_c AS weight FROM sd),
      tot AS (SELECT sum(weight) AS wtot, sum(n) AS ntot FROM w)
      SELECT p_brand, n AS stratum_n, CAST(sd_c AS BIGINT) AS sd_c,
        CAST(1000 * weight // wtot AS BIGINT) AS neyman_n,
        CAST(1000 * CAST(n AS HUGEINT) // ntot AS BIGINT) AS proportional_n
      FROM w CROSS JOIN tot
      ORDER BY p_brand
    """))

  // ---------------------------------------------------------------- q439

  /** Greedy cube-materialization chooser (Harinarayan–Rajaraman–Ullman):
    * the 8 cuboids of (brand, month, returnflag) are sized in ONE
    * cube() pass, each query cuboid S is answerable from candidate T
    * iff S ⊆ T (bitmask test on grouping_id), every query starts
    * costed at the base cuboid's size, and two greedy rounds pick the
    * cuboid with the largest total benefit Σ_S max(0, cost(S) −
    * size(T)) — the view-selection algorithm behind every OLAP
    * aggregate-navigator (q19/q37/q77 compute cuboids; this decides
    * WHICH to keep).
    *
    * Scale shape: sizing is one Expand+aggregate over the fact; the
    * lattice search runs entirely on the 8-row cuboid table (broadcast
    * non-equi self-joins on the 3-bit mask — bounded by construction). */
  private val q439 = QueryDef(
    "q439_cube_materialize_greedy",
    (spark, dir) => {
      // r13: only the per-gid GROUP COUNTS are consumed, so aggregate the
      // fact to its base (b, m, r) cells FIRST (one map-side-combined
      // pass) and run the 8× cube Expand over the ≤ |brands×months×flags|
      // cell table instead of the full fact — sizes per cuboid are
      // identical (distinct projections of base cells = distinct
      // projections of the fact; guide §2.3 "aggregate before you
      // shuffle", plans/r13/q439_*.txt: Expand input drops from fact
      // rows to base cells).
      val baseCells = Tables.lineitem(spark, dir)
        .join(broadcast(Tables.part(spark, dir)
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_brand").as("b"),
          expr("date_format(l_shipdate, 'yyyy-MM')").as("m"),
          col("l_returnflag").as("r"))
        .groupBy(col("b"), col("m"), col("r")).agg(count(lit(1)).as("nr"))
        .select(col("b"), col("m"), col("r"))
      val cells = baseCells
        .cube(col("b"), col("m"), col("r"))
        .agg(grouping_id().cast("long").as("gid"))
      // r14: the greedy lattice search ran as ~10 tiny broadcast
      // joins/aggregates over an 8-row table — each its own job +
      // broadcast exchange, pure scheduling floor. The lattice is 8
      // rows BY CONSTRUCTION (3 cube bits), so both greedy rounds fold
      // into one expression over the collected lattice array (the
      // q374/q395 bounded-iteration discipline). Benefit arithmetic,
      // subset test (S ⊆ T ⟺ t.gid & (7 − s.gid) = 0), tiebreaks
      // (benefit desc, size, cuboid) and the output rows are identical.
      val sizesRow = cells.groupBy(col("gid"))
        .agg(count(lit(1)).as("size"))
        .withColumn("cuboid", expr(
          """concat(CASE WHEN gid div 4 % 2 = 0 THEN 'b' ELSE '-' END,
                    CASE WHEN gid div 2 % 2 = 0 THEN 'm' ELSE '-' END,
                    CASE WHEN gid % 2 = 0 THEN 'r' ELSE '-' END)"""))
        .agg(sort_array(collect_list(struct(col("gid"), col("cuboid"), col("size"))))
          .as("sz"))
      val pickCmp =
        """(l, r) -> CASE WHEN l.ben > r.ben THEN -1 WHEN l.ben < r.ben THEN 1
                     WHEN l.size < r.size THEN -1 WHEN l.size > r.size THEN 1
                     WHEN l.cuboid < r.cuboid THEN -1 WHEN l.cuboid > r.cuboid THEN 1
                     ELSE 0 END"""
      sizesRow
        .withColumn("base_size", expr("element_at(filter(sz, e -> e.gid = 0), 1).size"))
        // round 1: benefit(t) = |{s : S ⊆ T}| · max(0, base − size(t))
        .withColumn("ben1", expr("""
          transform(sz, t -> named_struct(
            'gid', t.gid, 'cuboid', t.cuboid, 'size', t.size,
            'ben', CAST(size(filter(sz, s -> (t.gid & (7 - s.gid)) = 0)) AS BIGINT)
                   * greatest(base_size - t.size, CAST(0 AS BIGINT))))"""))
        .withColumn("p1s", expr(
          s"element_at(array_sort(filter(ben1, t -> t.gid != 0), $pickCmp), 1)"))
        // round 2: each query S is now costed at min(base, pick1) when
        // pick1 answers it; benefit(t) folds over the lattice
        .withColumn("full", expr("""
          transform(ben1, t -> named_struct(
            'gid', t.gid, 'cuboid', t.cuboid, 'size', t.size, 'benefit1', t.ben,
            'ben', aggregate(sz, CAST(0 AS BIGINT), (acc, s) ->
              acc + (CASE WHEN (t.gid & (7 - s.gid)) = 0 THEN
                greatest((CASE WHEN (p1s.gid & (7 - s.gid)) = 0
                          THEN least(base_size, p1s.size) ELSE base_size END)
                         - t.size, CAST(0 AS BIGINT))
                ELSE CAST(0 AS BIGINT) END))))"""))
        .withColumn("p2gid", expr(
          s"""element_at(array_sort(
                filter(full, t -> t.gid != 0 AND t.gid != p1s.gid), $pickCmp), 1).gid"""))
        .select(explode(col("full")).as("t"), col("p1s"), col("p2gid"))
        .select(col("t.cuboid").as("cuboid"), col("t.gid").as("gid"),
          col("t.size").as("size"), col("t.benefit1").as("benefit1"),
          col("t.ben").as("benefit2"),
          when(col("t.gid") === col("p1s.gid"), 1L)
            .when(col("t.gid") === col("p2gid"), 2L).otherwise(0L).as("picked_round"))
        .orderBy(col("gid"))
    },
    Some("""
      WITH cells AS (
        SELECT grouping_id(b, m, r) AS gid
        FROM (SELECT p.p_brand AS b, strftime(l.l_shipdate, '%Y-%m') AS m,
                l.l_returnflag AS r
              FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey)
        GROUP BY CUBE (b, m, r)),
      sizes AS (
        SELECT CAST(gid AS BIGINT) AS gid, CAST(count(*) AS BIGINT) AS size,
          concat(CASE WHEN gid // 4 % 2 = 0 THEN 'b' ELSE '-' END,
                 CASE WHEN gid // 2 % 2 = 0 THEN 'm' ELSE '-' END,
                 CASE WHEN gid % 2 = 0 THEN 'r' ELSE '-' END) AS cuboid
        FROM cells GROUP BY gid),
      base AS (SELECT size AS base_size FROM sizes WHERE gid = 0),
      ben1 AS (
        SELECT t.gid, t.cuboid, t.size,
          CAST(sum(greatest(b.base_size - t.size, 0)) AS BIGINT) AS benefit1
        FROM sizes t CROSS JOIN base b
        JOIN sizes s ON (t.gid & (7 - s.gid)) = 0
        GROUP BY 1, 2, 3),
      pick1 AS (
        SELECT gid AS p1, size AS p1_size FROM ben1 WHERE gid <> 0
        ORDER BY benefit1 DESC, size, cuboid LIMIT 1),
      costs1 AS (
        SELECT s.gid AS gs,
          CASE WHEN (p.p1 & (7 - s.gid)) = 0
            THEN least(b.base_size, p.p1_size) ELSE b.base_size END AS cost
        FROM sizes s CROSS JOIN base b CROSS JOIN pick1 p),
      ben2 AS (
        SELECT t.gid, CAST(sum(greatest(c.cost - t.size, 0)) AS BIGINT)
          AS benefit2
        FROM sizes t CROSS JOIN pick1 p
        JOIN costs1 c ON (t.gid & (7 - c.gs)) = 0
        GROUP BY 1),
      pick2 AS (
        SELECT b2.gid AS p2 FROM ben2 b2 JOIN sizes s ON b2.gid = s.gid
        CROSS JOIN pick1 p
        WHERE b2.gid <> 0 AND b2.gid <> p.p1
        ORDER BY b2.benefit2 DESC, s.size, s.cuboid LIMIT 1)
      SELECT b1.cuboid, b1.gid, b1.size, b1.benefit1, b2.benefit2,
        CAST(CASE WHEN b1.gid = p1.p1 THEN 1
                  WHEN b1.gid = p2.p2 THEN 2 ELSE 0 END AS BIGINT)
          AS picked_round
      FROM ben1 b1 JOIN ben2 b2 ON b1.gid = b2.gid
      CROSS JOIN pick1 p1 CROSS JOIN pick2 p2
      ORDER BY b1.gid
    """))

  override def defs: Seq[QueryDef] = Seq(q437, q438, q439)
}
