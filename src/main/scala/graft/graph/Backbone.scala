package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** The supplier co-purchase graph builders shared by the graph-analytic
  * query family (q590 LCC, q600 Katz, q601 k-truss, q602 closeness,
  * q631 core-periphery, and — since round 13 — the whole co-supply
  * census family q75/q95/q138/q185/q358/q386/q427/q551/q699/q701).
  * One definition of the load-bearing disciplines:
  *
  *  - the PAIR PROJECTION: per-order supplier pairs for one calendar
  *    year — the refresh-window trick (q427) that keeps the co-purchase
  *    graph time-bounded instead of all-history. Round-13 build shape:
  *    ONE shuffle (groupBy order + collect_set) and a map-side i<j
  *    explode of each order's sorted supplier set, replacing the
  *    incidence-distinct + keyed self-join + pair-distinct chain
  *    (3 corpus-scale exchanges → 1; per-order sets are ≤7 suppliers,
  *    so the explode is bounded — guide §2.3/§2.4);
  *  - the BACKBONE THRESHOLD: the raw co-purchase projection is a
  *    near-clique at any TPC-H scale, so cohesion statistics keep only
  *    the top-quartile co-occurrence weights, with the threshold read
  *    from the weight HISTOGRAM (value-resolution cumulative window,
  *    then one broadcast row) so it self-normalizes across scale
  *    factors — never a corpus-sized rank window.
  *
  * Scale shape: the collect_set shuffle is keyed on the order key
  * (bounded fan per order = suppliers on that order); the weight
  * histogram folds to distinct-weight rows; the threshold is a one-row
  * broadcast. Each oracle splices the matching SQL snippet constants
  * below, so the Spark and DuckDB forms can never drift apart.
  */
object Backbone {

  /** Per-(application, session, dir, flavor) memo of the expensive
    * edge-list builds below. Each build materializes ONCE with
    * `localCheckpoint(eager = true)` (the q558/q691 flat-plan
    * discipline): the checkpoint is lineage-free, so downstream
    * iterative consumers never re-embed the pair explode, and the
    * ~18 graph queries that share a projection pay for the fact-table
    * scan once per Verify/Bench run instead of once each. The key
    * includes the session identity so test suites with their own
    * sessions never read another session's checkpoint blocks; the
    * cached edge lists are supplier-dimension-bounded, so the memo's
    * block-manager footprint is negligible. Round-13: the memo is a
    * self-healing [[graft.CkptMemo]] — an entry whose checkpoint
    * blocks were dropped by an external unpersist sweep is rebuilt
    * instead of failing every later consumer. */
  private val memo = new graft.CkptMemo[DataFrame]()

  private def memoized(spark: SparkSession, dir: String, flavor: String)
      (build: => DataFrame): DataFrame =
    memo.getOrBuild(spark, s"$dir|$flavor")(build)(Seq(_))

  /** Raw (ok, s) order–supplier incidences for one SHIP-date year —
    * NOT deduplicated: every consumer folds through [[pairExplode]],
    * whose collect_set dedups per order without a distinct shuffle. */
  private def shipYearIncidence(spark: SparkSession, dir: String, year: Int): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= s"$year-01-01" && col("l_shipdate") < s"${year + 1}-01-01")
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("s"))

  /** Raw (ok, s) incidences for the 1995 ORDER-date year (the q590
    * base: the window lives on orders, so the lineitem side prunes by
    * the join instead of a date filter). */
  private def orderYearIncidence(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= "1995-01-01" && col("o_orderdate") < "1996-01-01")
      .select(col("o_orderkey").as("ok"))
      .join(Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("s")), Seq("ok"))
      .select(col("ok"), col("s"))

  /** One row per (order, canonical supplier pair): groupBy(ok) +
    * sorted collect_set, then the map-side i<j explode. ONE exchange;
    * the set is per-order-bounded (≤7 lineitems per order in TPC-H at
    * every SF), so the explode is O(1) per order. Replaces the r12
    * incidence-distinct + self-join + filter chain (guide §2.4). */
  private def pairExplode(incidence: DataFrame): DataFrame =
    incidence
      .groupBy(col("ok")).agg(sort_array(collect_set(col("s"))).as("ss"))
      .filter(size(col("ss")) >= 2) // sequence(1, 0) DESCENDS — never let the bound go non-positive
      .select(explode(expr(
        """flatten(transform(sequence(1, size(ss) - 1),
             i -> transform(sequence(i + 1, size(ss)),
               j -> named_struct('u', element_at(ss, i), 'v', element_at(ss, j)))))"""))
        .as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v"))

  /** The weighted co-supply projection for one ship-year: canonical
    * (u < v) supplier pairs with their co-occurrence order count.
    * Memoized and checkpointed — this is the ONE fact-table pass the
    * whole ship-year graph family shares; everything below (canon,
    * sym, backbone, oriented, triangles) is a bounded derivation. */
  def coSupplyWeighted(spark: SparkSession, dir: String, year: Int = 1995): DataFrame =
    memoized(spark, dir, s"coSupplyWeighted$year") {
      pairExplode(shipYearIncidence(spark, dir, year))
        .groupBy(col("u"), col("v")).agg(count(lit(1)).as("w"))
        .localCheckpoint(true)
    }

  /** Distinct canonical (u < v) co-supply pairs for one ship-year —
    * a free projection of [[coSupplyWeighted]]. */
  def coSupplyCanon(spark: SparkSession, dir: String, year: Int = 1995): DataFrame =
    coSupplyWeighted(spark, dir, year).select(col("u"), col("v"))

  /** Top-quartile co-purchase backbone over a weighted (u, v, w)
    * projection: edges whose weight clears the histogram threshold. */
  private def thresholdEdges(weighted: DataFrame): DataFrame = {
    val thr = weighted.groupBy(col("w")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(Window.orderBy(col("w"))
        .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("np", expr("sum(c) OVER ()"))
      .filter(expr("cum * 4 >= 3 * np"))
      .agg(min(col("w")).as("w_thr"))
    weighted.crossJoin(broadcast(thr))
      .filter(col("w") >= col("w_thr"))
      .select(col("u"), col("v"))
  }

  /** The ship-year backbone — the form q601/q631/q685/q687 share.
    * Memoized per (session, dir): the threshold scan runs once over
    * the checkpointed weighted projection, and the edge list is
    * checkpointed itself (flat lineage for iterative consumers). */
  def coPurchase(spark: SparkSession, dir: String): DataFrame =
    memoized(spark, dir, "shipYearBackbone") {
      thresholdEdges(coSupplyWeighted(spark, dir)).localCheckpoint(true)
    }

  /** The order-year backbone — the form q590/q592/q593 share.
    * Memoized per (session, dir). The weighted intermediate is
    * checkpointed only to flatten the threshold scan's lineage; its
    * blocks are dropped as soon as the edge list has materialized
    * (round-14 ADVICE fix: the memo owns only the returned frame, so an
    * undropped intermediate would pin supplier-pair-scale blocks for
    * the rest of the run). */
  def orderYearBackbone(spark: SparkSession, dir: String): DataFrame =
    memoized(spark, dir, "orderYearBackbone") {
      val weighted = pairExplode(orderYearIncidence(spark, dir))
        .groupBy(col("u"), col("v")).agg(count(lit(1)).as("w"))
        .localCheckpoint(true)
      val edges = thresholdEdges(weighted).localCheckpoint(true)
      memo.leafRdds(weighted).foreach(_.unpersist(blocking = false))
      edges
    }

  /** The UNWEIGHTED symmetric co-supply edge list (no backbone
    * threshold) — the q600/q602 walk/BFS base, where near-clique
    * density is the point rather than a nuisance. A cheap mirror of
    * the checkpointed canon (two projections of one LogicalRDD — no
    * second checkpoint needed). */
  def coSupplySym(spark: SparkSession, dir: String, year: Int = 1995): DataFrame = {
    val canon = coSupplyCanon(spark, dir, year)
    canon.select(col("u").as("src"), col("v").as("dst"))
      .union(canon.select(col("v").as("src"), col("u").as("dst")))
  }

  /** Symmetric degrees of a canonical (u < v) edge list: one row per
    * node with its undirected degree. */
  def symDegrees(edges: DataFrame): DataFrame =
    edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      .groupBy(col("u")).agg(count(lit(1)).as("d"))

  /** Degree-oriented edge list (the q95 exact-triangle discipline):
    * re-orient each canonical edge low→high by (degree, id), so
    * out-degree is O(√m) and the wedge join is bounded at O(m^1.5) —
    * an UNORIENTED wedge join enumerates Σ C(deg, 2), which one
    * high-degree hub blows up to O(deg²) rows from a single key.
    * Persisted: every caller joins it against itself. */
  def orientByDegree(edges: DataFrame, deg: DataFrame): DataFrame =
    orient(edges, deg).persist()

  private def orient(edges: DataFrame, deg: DataFrame): DataFrame =
    edges
      .join(deg.select(col("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("u").as("v"), col("d").as("dv")), Seq("v"))
      .select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          col("u")).otherwise(col("v")).as("u"),
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          col("v")).otherwise(col("u")).as("v"))

  /** The degree-oriented ship-year co-supply edge list, memoized and
    * checkpointed — q95 and q551 run their wedge joins off this one
    * build instead of re-deriving pairs + degrees + orientation each. */
  def coSupplyOriented(spark: SparkSession, dir: String): DataFrame =
    memoized(spark, dir, "coSupplyOriented") {
      val canon = coSupplyCanon(spark, dir)
      orient(canon, symDegrees(canon)).localCheckpoint(true)
    }

  /** The ship-year co-supply triangle count (one checkpointed row) —
    * the O(m^1.5) wedge semi-join runs once per run, shared by the
    * q95/q551 census pair. */
  def coSupplyTriangleCount(spark: SparkSession, dir: String): DataFrame =
    memoized(spark, dir, "coSupplyTriangleCount") {
      val oriented = coSupplyOriented(spark, dir)
      oriented
        .join(oriented.select(col("u"), col("v").as("w")), Seq("u"))
        .filter(col("v") =!= col("w"))
        .select(col("v").as("u"), col("w").as("v"))
        .join(oriented, Seq("u", "v"), "left_semi")
        .agg(count(lit(1)).as("n_triangles"))
        .localCheckpoint(true)
    }

  /** Every triangle exactly once as (apex, x, y): matched wedges of the
    * oriented list — the apex is the triangle's (degree, id)-smallest
    * node, so no triangle is double-counted and the output is 3·Δ rows
    * after any endpoint explode. */
  def triangles(oriented: DataFrame): DataFrame =
    oriented.as("e1")
      .join(oriented.as("e2"), col("e1.u") === col("e2.u")
        && col("e1.v") =!= col("e2.v"))
      .select(col("e1.u").as("apex"), col("e1.v").as("x"), col("e2.v").as("y"))
      .join(oriented.select(col("u").as("x"), col("v").as("y")), Seq("x", "y"))
      .select(col("apex"), col("x"), col("y"))

  // ---- oracle SQL snippets (spliced into each query's WITH chain so
  // ---- the DuckDB mirror is defined exactly once) ----

  /** CTE `pairs`: the ship-year pair projection. */
  val pairsShipYearSql: String =
    """pairs AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS ok, l_suppkey AS s FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate < TIMESTAMP '1996-01-01')"""

  /** CTE `pairs`: the order-year pair projection (q590). */
  val pairsOrderYearSql: String =
    """pairs AS MATERIALIZED (
        SELECT DISTINCT o.o_orderkey AS ok, l.l_suppkey AS s
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderdate >= TIMESTAMP '1995-01-01'
          AND o.o_orderdate < TIMESTAMP '1996-01-01')"""

  /** CTEs `sym`, `deg`, `o`, `tri`: symmetric degrees over `edges`,
    * the degree-oriented edge list, and each triangle once as
    * (apex, x, y) — the oracle mirror of [[symDegrees]] /
    * [[orientByDegree]] / [[triangles]]. */
  val orientedTrianglesSql: String =
    """sym AS MATERIALIZED (SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges),
      deg AS MATERIALIZED (SELECT u, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY u),
      o AS MATERIALIZED (
        SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS u,
               CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS v
        FROM edges e JOIN deg du ON du.u = e.u JOIN deg dv ON dv.u = e.v),
      tri AS MATERIALIZED (
        SELECT w.apex, w.x, w.y
        FROM (SELECT e1.u AS apex, e1.v AS x, e2.v AS y
              FROM o e1 JOIN o e2 ON e1.u = e2.u AND e1.v <> e2.v) w
        JOIN o ON o.u = w.x AND o.v = w.y)"""

  /** CTEs `w`, `thr`, `edges`: weighted projection over `pairs`, the
    * top-quartile histogram threshold, and the backbone edge list. */
  val backboneSql: String =
    """w AS MATERIALIZED (
        SELECT a.s AS u, b.s AS v, CAST(count(*) AS BIGINT) AS w
        FROM pairs a JOIN pairs b ON a.ok = b.ok AND a.s < b.s
        GROUP BY 1, 2),
      thr AS (
        SELECT CAST(min(w) AS BIGINT) AS w_thr
        FROM (SELECT w, sum(c) OVER (ORDER BY w ROWS UNBOUNDED PRECEDING)
                AS cum, sum(c) OVER () AS np
              FROM (SELECT w, CAST(count(*) AS BIGINT) AS c FROM w GROUP BY w))
        WHERE cum * 4 >= 3 * np),
      edges AS MATERIALIZED (SELECT u, v FROM w CROSS JOIN thr WHERE w >= w_thr)"""
}
