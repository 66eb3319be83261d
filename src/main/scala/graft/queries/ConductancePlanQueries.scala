package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.graph.Backbone

/** Round-9 batch 7: partition-quality analytics on the co-purchase
  * backbone (the shared graph.Backbone base of q590/q601/q631) — given a
  * community assignment, how good is it? Per-community conductance (the
  * cut-vs-volume readout behind every graph-partitioning decision, from
  * METIS fill factors to shard placement), categorical nation homophily
  * (the mixing-matrix assortativity coefficient — q275 does the DEGREE
  * version, this the LABEL version), and a degree-threshold conductance
  * sweep (the Cheeger-style "is there a good cut at all" probe without
  * an eigensolver). All exact integers; DECIMAL internals for the
  * quadratic mixing terms.
  */
object ConductancePlanQueries extends QueryGroup {

  /** Oracle CTEs shared by the three queries: the ship-year backbone
    * plus supplier-nation labels and symmetric labeled edges. */
  private val labeledSql: String =
    s"""${Backbone.pairsShipYearSql},
      ${Backbone.backboneSql},
      nat AS (SELECT s_suppkey AS u, CAST(s_nationkey AS BIGINT) AS nk
        FROM supplier),
      sym AS (SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges),
      lsym AS (
        SELECT nu.nk AS src_nk, nv.nk AS dst_nk, s.u, s.v
        FROM sym s JOIN nat nu ON nu.u = s.u JOIN nat nv ON nv.u = s.v)"""

  private def labeledSym(spark: org.apache.spark.sql.SparkSession, dir: String) = {
    val edges = Backbone.coPurchase(spark, dir)
    val nat = Tables.supplier(spark, dir)
      .select(col("s_suppkey").as("u"), col("s_nationkey").cast("long").as("nk"))
    val sym = edges.unionAll(edges.select(col("v").as("u"), col("u").as("v")))
    sym
      .join(broadcast(nat), Seq("u"))
      .withColumnRenamed("nk", "src_nk")
      .join(broadcast(nat.select(col("u").as("v"), col("nk").as("dst_nk"))),
        Seq("v"))
  }

  // ---------------------------------------------------------------- q685

  /** Per-nation conductance on the co-purchase backbone: for each
    * nation community, its volume (sum of member degrees), internal
    * edge count, cut size, and φ = cut / min(vol, 2m − vol) in ppm.
    * Low-conductance nations are real modules (shard them together);
    * φ near 1e6 means the nation label does not bind the graph and
    * nation-sharded placement would shuffle almost every edge.
    *
    * Scale shape: Backbone's keyed self-join builds the edges; nation
    * labels broadcast (dimension table); everything else is a
    * nation-keyed fold of the labeled symmetric edge list plus a
    * one-row 2m broadcast.
    *
    * SCALING (round-9 probe): 1.06 s at sf0.01 → 1.26 s at sf0.1 (10×
    * data, exponent ≈0.07 — backbone-build barriers dominate). */
  private val q685 = QueryDef(
    "q685_partition_conductance",
    (spark, dir) => {
      val lsym = labeledSym(spark, dir)
      val m2 = lsym.agg(count(lit(1)).as("m2"))
      lsym.groupBy(col("src_nk").as("nk"))
        .agg(count(lit(1)).as("vol"),
          countDistinct(col("u")).as("n_members"),
          sum(when(col("src_nk") === col("dst_nk"), 1L).otherwise(0L))
            .as("internal2"),
          sum(when(col("src_nk") =!= col("dst_nk"), 1L).otherwise(0L))
            .as("cut"))
        .crossJoin(broadcast(m2))
        .select(col("nk"), col("n_members"), col("vol"),
          expr("internal2 div 2").as("internal_edges"), col("cut"),
          expr("cut * 1000000 div greatest(least(vol, m2 - vol), 1)")
            .as("conductance_ppm"))
        .orderBy(col("nk"))
    },
    Some(s"""
      WITH $labeledSql,
      m2 AS (SELECT CAST(count(*) AS BIGINT) AS m2 FROM lsym)
      SELECT src_nk AS nk,
        CAST(count(DISTINCT u) AS BIGINT) AS n_members,
        CAST(count(*) AS BIGINT) AS vol,
        CAST(sum(CASE WHEN src_nk = dst_nk THEN 1 ELSE 0 END) // 2
          AS BIGINT) AS internal_edges,
        CAST(sum(CASE WHEN src_nk <> dst_nk THEN 1 ELSE 0 END)
          AS BIGINT) AS cut,
        CAST(sum(CASE WHEN src_nk <> dst_nk THEN 1 ELSE 0 END) * 1000000
          // greatest(least(count(*), (SELECT m2 FROM m2) - count(*)), 1)
          AS BIGINT) AS conductance_ppm
      FROM lsym GROUP BY src_nk ORDER BY nk
    """))

  // ---------------------------------------------------------------- q686

  /** Nation homophily (categorical assortativity) of the backbone:
    * over the symmetric labeled edge list, r = (Σᵢeᵢᵢ − Σᵢaᵢ²) /
    * (1 − Σᵢaᵢ²) with everything scaled by 2m — the newman mixing-
    * matrix coefficient for a LABEL (q275 computes the degree version).
    * r > 0: suppliers co-purchase within their nation; r ≈ 0: the
    * nation label carries no graph structure; r < 0: cross-nation
    * disassortativity. One row, signed ppm, exact via a single
    * DECIMAL division.
    *
    * Scale shape: a nation-keyed fold of the labeled symmetric edges
    * (row sums + diagonal), then a one-row DECIMAL combine. */
  private val q686 = QueryDef(
    "q686_nation_homophily",
    (spark, dir) => {
      val lsym = labeledSym(spark, dir)
      val rows = lsym.groupBy(col("src_nk"))
        .agg(count(lit(1)).as("a_i"),
          sum(when(col("src_nk") === col("dst_nk"), 1L).otherwise(0L))
            .as("e_ii"))
      rows.agg(sum(col("a_i")).as("m2"), sum(col("e_ii")).as("diag2"),
          sum(expr("CAST(a_i AS DECIMAL(38,0)) * a_i")).as("sq"))
        .select(col("m2"), expr("diag2 div 2").as("internal_edges"),
          expr("CAST((CAST(diag2 AS DECIMAL(38,0)) * m2 - sq) * 1000000" +
            " div (CAST(m2 AS DECIMAL(38,0)) * m2 - sq) AS BIGINT)")
            .as("homophily_ppm"))
    },
    Some(s"""
      WITH $labeledSql,
      rows_ AS (
        SELECT src_nk, CAST(count(*) AS BIGINT) AS a_i,
          CAST(sum(CASE WHEN src_nk = dst_nk THEN 1 ELSE 0 END) AS BIGINT)
            AS e_ii
        FROM lsym GROUP BY src_nk)
      SELECT CAST(sum(a_i) AS BIGINT) AS m2,
        CAST(sum(e_ii) // 2 AS BIGINT) AS internal_edges,
        CAST((CAST(sum(e_ii) AS HUGEINT) * sum(a_i)
            - sum(CAST(a_i AS HUGEINT) * a_i)) * 1000000
          // (CAST(sum(a_i) AS HUGEINT) * sum(a_i)
            - sum(CAST(a_i AS HUGEINT) * a_i)) AS BIGINT) AS homophily_ppm
      FROM rows_
    """))

  // ---------------------------------------------------------------- q687

  /** Degree-threshold conductance sweep: S_f = the highest-degree
    * nodes covering at least f/10 of the graph (f ∈ 1..5, cutoffs read
    * from the degree histogram — the q663 granular-quantile
    * discipline), each scored by φ(S_f). The sweep's minimum is the
    * Cheeger-style certificate: if even the best degree-ordered prefix
    * cuts badly, no balanced sharding of this graph avoids heavy
    * cross-shard traffic.
    *
    * Scale shape: degrees are a keyed fold; cutoffs come from the
    * degree histogram (value-domain cumulative) crossed with a 5-row
    * grid; per-threshold membership is an edge-to-degree keyed join
    * against the 5-row broadcast grid — ≤ 5× the symmetric edge list
    * crosses the shuffle, and the readout folds to 5 rows.
    *
    * SCALING (round-9 probe): 3.05 s at sf0.01 → 1.72 s at sf0.1 (10×
    * data, FASTER warm) — stage-barrier and backbone-build bound, not
    * data-bound; the suite's AQE/launch floor dominates at these SFs. */
  private val q687 = QueryDef(
    "q687_conductance_sweep",
    (spark, dir) => {
      val spark0 = spark
      import spark0.implicits._
      val edges = Backbone.coPurchase(spark, dir)
      val deg = Backbone.symDegrees(edges)
      val n = deg.agg(count(lit(1)).as("n_nodes"))
      val wd = Window.orderBy(col("d").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val hist = deg.groupBy(col("d")).agg(count(lit(1)).as("cnt"))
        .withColumn("cum_ge", sum(col("cnt")).over(wd))
      val grid = Seq(1L, 2L, 3L, 4L, 5L).toDF("f")
      val cutoffs = hist.crossJoin(broadcast(grid))
        .crossJoin(broadcast(n))
        .filter(col("cum_ge") * 10 >= col("f") * col("n_nodes"))
        .groupBy(col("f")).agg(max(col("d")).as("d_f"))
      val degF = deg.crossJoin(broadcast(cutoffs))
        .withColumn("in_s", (col("d") >= col("d_f")).cast("long"))
      val sets = degF.groupBy(col("f"), col("d_f"))
        .agg(sum(col("in_s")).as("n_s"),
          sum(col("d") * col("in_s")).as("vol"))
      val sym = edges.unionAll(edges.select(col("v").as("u"), col("u").as("v")))
      val cuts = sym
        .join(deg.select(col("u"), col("d").as("du")), Seq("u"))
        .join(deg.select(col("u").as("v"), col("d").as("dv")), Seq("v"))
        .crossJoin(broadcast(cutoffs))
        .groupBy(col("f"))
        .agg(sum(when(col("du") >= col("d_f") && col("dv") < col("d_f"), 1L)
          .otherwise(0L)).as("cut"),
          count(lit(1)).as("m2"))
      sets.join(cuts, Seq("f"))
        .select(col("f"), col("d_f"), col("n_s"), col("vol"), col("cut"),
          expr("cut * 1000000 div greatest(least(vol, m2 - vol), 1)")
            .as("conductance_ppm"))
        .orderBy(col("f"))
    },
    Some(s"""
      WITH ${Backbone.pairsShipYearSql},
      ${Backbone.backboneSql},
      sym AS (SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges),
      deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY u),
      nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg),
      hist AS (
        SELECT d, count(*) AS cnt,
          sum(count(*)) OVER (ORDER BY d DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_ge
        FROM deg GROUP BY d),
      grid(f) AS (VALUES (CAST(1 AS BIGINT)), (CAST(2 AS BIGINT)),
        (CAST(3 AS BIGINT)), (CAST(4 AS BIGINT)), (CAST(5 AS BIGINT))),
      cutoffs AS (
        SELECT f, CAST(max(d) AS BIGINT) AS d_f
        FROM hist CROSS JOIN grid
        WHERE cum_ge * 10 >= f * (SELECT n_nodes FROM nn)
        GROUP BY f),
      sets AS (
        SELECT f, d_f,
          CAST(sum(CASE WHEN d >= d_f THEN 1 ELSE 0 END) AS BIGINT) AS n_s,
          CAST(sum(CASE WHEN d >= d_f THEN d ELSE 0 END) AS BIGINT) AS vol
        FROM deg CROSS JOIN cutoffs GROUP BY f, d_f),
      cuts AS (
        SELECT f,
          CAST(sum(CASE WHEN du.d >= d_f AND dv.d < d_f THEN 1 ELSE 0 END)
            AS BIGINT) AS cut,
          CAST(count(*) AS BIGINT) AS m2
        FROM sym s JOIN deg du ON du.u = s.u JOIN deg dv ON dv.u = s.v
        CROSS JOIN cutoffs GROUP BY f)
      SELECT f, d_f, n_s, vol, cut,
        CAST(cut * 1000000 // greatest(least(vol, m2 - vol), 1) AS BIGINT)
          AS conductance_ppm
      FROM sets JOIN cuts USING (f) ORDER BY f
    """))

  override def defs: Seq[QueryDef] = Seq(q685, q686, q687)
}
