package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-7 batch 11: mesoscale graph structure — core–periphery fit by
  * degree-threshold sweep, and tournament intransitivity (preference-
  * cycle census via the outdegree identity, never enumerating triples).
  * Exact integers with total ORDER BYs for the oracle gate.
  */
object CohesionPlanQueries extends QueryGroup {

  // ---------------------------------------------------------------- q631

  /** Core–periphery fit (discrete Borgatti–Everett): partition the
    * co-purchase backbone's nodes into core/periphery at degree
    * cutoffs read off the degree histogram (P50/P75/P90 — self-
    * normalizing across scale factors), and measure the three block
    * densities. An ideal core–periphery graph has dense core–core,
    * moderate core–periphery, and empty periphery–periphery blocks;
    * the density ordering (and how fast pp-density dies as the cutoff
    * rises) is the fit diagnostic — the structure degree histograms
    * (q138) alone cannot certify, because block densities depend on
    * who connects to whom.
    *
    * Scale shape: backbone + degrees are the q590 working set; cutoffs
    * come from the degree histogram (value-resolution cumulative);
    * block densities are one keyed pass over backbone edges joined to
    * the 2-sided membership map; readout is 3 cutoff rows.
    *
    * SCALING (round-8 probe): 1.23 s at sf0.01 → 1.44 s at sf0.1 (10×
    * data, 1.17× time) — the backbone is supplier-dimension-bounded,
    * so past the pair-projection scan the work is SF-invariant. */
  private val q631 = QueryDef(
    "q631_core_periphery_fit",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val spark0 = spark
      import spark0.implicits._
      val grid = Seq(500L, 750L, 900L).toDF("cut_permille")
      val edges = graft.graph.Backbone.coPurchase(spark, dir)
      val deg = edges.select(col("u")).union(edges.select(col("v").as("u")))
        .groupBy(col("u")).agg(count(lit(1)).as("d"))
      val dcut = deg.groupBy(col("d")).agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(Window.orderBy(col("d"))
          .rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("nn", expr("sum(c) OVER ()"))
        .crossJoin(broadcast(grid))
        .filter(expr("cum * 1000 >= cut_permille * nn"))
        .groupBy(col("cut_permille")).agg(min(col("d")).as("d_cut"))
      val member = deg.crossJoin(broadcast(dcut))
        .select(col("cut_permille"), col("u"), (col("d") >= col("d_cut")).as("core"))
      val nCore = member.groupBy(col("cut_permille"))
        .agg(sum(when(col("core"), 1L).otherwise(0L)).as("nc"),
          sum(when(!col("core"), 1L).otherwise(0L)).as("np"))
      val blocks = edges
        .join(member.select(col("cut_permille"), col("u"), col("core").as("cu")),
          Seq("u"))
        .join(member.select(col("cut_permille").as("cp2"), col("u").as("u2"),
          col("core").as("cv")),
          col("cut_permille") === col("cp2") && col("v") === col("u2"))
        .groupBy(col("cut_permille"))
        .agg(sum(when(col("cu") && col("cv"), 1L).otherwise(0L)).as("e_cc"),
          sum(when(col("cu") =!= col("cv"), 1L).otherwise(0L)).as("e_cp"),
          sum(when(!col("cu") && !col("cv"), 1L).otherwise(0L)).as("e_pp"))
      nCore.join(blocks, Seq("cut_permille"))
        .select(col("cut_permille"), col("nc").as("n_core"), col("np").as("n_periphery"),
          expr("CASE WHEN nc >= 2 THEN e_cc * 2000000 div (nc * (nc - 1)) ELSE 0 END")
            .as("core_density_ppm"),
          expr("CASE WHEN nc * np > 0 THEN e_cp * 1000000 div (nc * np) ELSE 0 END")
            .as("cross_density_ppm"),
          expr("CASE WHEN np >= 2 THEN e_pp * 2000000 div (np * (np - 1)) ELSE 0 END")
            .as("periphery_density_ppm"))
        .orderBy(col("cut_permille"))
    },
    Some(s"""
      WITH grid(cut_permille) AS (VALUES (CAST(500 AS BIGINT)),
        (CAST(750 AS BIGINT)), (CAST(900 AS BIGINT))),
      ${graft.graph.Backbone.pairsShipYearSql},
      ${graft.graph.Backbone.backboneSql},
      deg AS (
        SELECT u, CAST(count(*) AS BIGINT) AS d
        FROM (SELECT u FROM edges UNION ALL SELECT v FROM edges)
        GROUP BY u),
      dcut AS (
        SELECT cut_permille, CAST(min(d) AS BIGINT) AS d_cut
        FROM (SELECT d, sum(c) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
                AS cum, sum(c) OVER () AS nn
              FROM (SELECT d, CAST(count(*) AS BIGINT) AS c FROM deg GROUP BY d))
          CROSS JOIN grid
        WHERE cum * 1000 >= cut_permille * nn
        GROUP BY cut_permille),
      member AS (
        SELECT cut_permille, u, d >= d_cut AS core
        FROM deg CROSS JOIN dcut),
      nc AS (
        SELECT cut_permille,
          CAST(sum(CASE WHEN core THEN 1 ELSE 0 END) AS BIGINT) AS nc,
          CAST(sum(CASE WHEN NOT core THEN 1 ELSE 0 END) AS BIGINT) AS np
        FROM member GROUP BY cut_permille),
      blocks AS (
        SELECT mu.cut_permille,
          CAST(sum(CASE WHEN mu.core AND mv.core THEN 1 ELSE 0 END) AS BIGINT)
            AS e_cc,
          CAST(sum(CASE WHEN mu.core <> mv.core THEN 1 ELSE 0 END) AS BIGINT)
            AS e_cp,
          CAST(sum(CASE WHEN NOT mu.core AND NOT mv.core THEN 1 ELSE 0 END)
            AS BIGINT) AS e_pp
        FROM edges e
        JOIN member mu ON mu.u = e.u
        JOIN member mv ON mv.u = e.v AND mv.cut_permille = mu.cut_permille
        GROUP BY mu.cut_permille)
      SELECT cut_permille, nc AS n_core, np AS n_periphery,
        CAST(CASE WHEN nc >= 2 THEN e_cc * 2000000 // (nc * (nc - 1))
          ELSE 0 END AS BIGINT) AS core_density_ppm,
        CAST(CASE WHEN nc * np > 0 THEN e_cp * 1000000 // (nc * np)
          ELSE 0 END AS BIGINT) AS cross_density_ppm,
        CAST(CASE WHEN np >= 2 THEN e_pp * 2000000 // (np * (np - 1))
          ELSE 0 END AS BIGINT) AS periphery_density_ppm
      FROM nc JOIN blocks USING (cut_permille) ORDER BY cut_permille
    """))

  /** 1995 revenue cents per (brand, ship month), `(brand, m, rev)`: one
    * lineitem scan with the part side broadcast, folded to at most
    * brands × 12 rows. Only the (brand, month) pairs that shipped
    * appear; AgreementPlanQueries zero-fills the grid. */
  private[queries] def brandMonthRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= "1995-01-01" && col("l_shipdate") < "1996-01-01")
      .join(broadcast(Tables.part(spark, dir)
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand").as("brand"),
        expr("CAST(month(CAST(l_shipdate AS DATE)) AS BIGINT)").as("m"),
        graft.functions.Deterministic.cents(col("l_extendedprice")).as("c"))
      .groupBy(col("brand"), col("m")).agg(sum(col("c")).as("rev"))

  // ---------------------------------------------------------------- q632

  /** Tournament intransitivity census: brands form a round-robin
    * tournament — A beats B when A out-revenues B in a majority of
    * months (ties to the lexicographically smaller brand, so the
    * tournament is complete and deterministic) — and the number of
    * CYCLIC triples falls out of the outdegree identity
    * cyc = C(n,3) − Σᵥ C(outdeg(v), 2), never enumerating triples.
    * Zero cycles means monthly revenue induces a true linear brand
    * ranking; a high cycle share means "best brand" is a
    * rock-paper-scissors artifact — the consistency check behind any
    * leaderboard built from pairwise comparisons (q497's Bradley–Terry
    * assumes it away; this measures it).
    *
    * Scale shape: one fact scan folds to (brand, month) cells; the
    * pairwise majority join runs on the brand-month grid (≤ brands² ×
    * months — dimension-bounded); the cycle count is outdegree
    * arithmetic. */
  private val q632 = QueryDef(
    "q632_tournament_cycle_census",
    (spark, dir) => {
      val cells = brandMonthRevenue(spark, dir)
      val duels = cells.as("a")
        .join(cells.as("b").withColumnRenamed("brand", "brand_b")
          .withColumnRenamed("rev", "rev_b"), Seq("m"))
        .filter(col("brand") < col("brand_b"))
        .groupBy(col("brand"), col("brand_b"))
        .agg(sum(when(col("rev") > col("rev_b"), 1L)
          .when(col("rev") < col("rev_b"), -1L).otherwise(0L)).as("net"))
        // winner: majority months; exact ties to the smaller brand name
        .select(col("brand"), col("brand_b"),
          when(col("net") >= 0L, col("brand")).otherwise(col("brand_b"))
            .as("winner"))
      val outdeg = duels.groupBy(col("winner")).agg(count(lit(1)).as("od"))
      val n = cells.select(col("brand")).distinct().agg(count(lit(1)).as("n"))
      // n_duels is counted, not derived: the outdegree identity needs a
      // COMPLETE tournament, and the spec asserts n_duels = C(n,2)
      val sums = outdeg.agg(sum(expr("od * (od - 1) div 2")).as("trans"),
        sum(col("od")).as("n_duels"))
      n.crossJoin(broadcast(sums))
        .select(col("n").as("n_brands"),
          col("n_duels"),
          expr("n * (n - 1) * (n - 2) div 6").as("n_triples"),
          col("trans").as("transitive_triples"),
          expr("n * (n - 1) * (n - 2) div 6 - trans").as("cyclic_triples"),
          expr("(n * (n - 1) * (n - 2) div 6 - trans) * 1000000" +
            " div (n * (n - 1) * (n - 2) div 6)").as("intransitivity_ppm"))
    },
    Some("""
      WITH cells AS (
        SELECT p_brand AS brand,
          CAST(month(CAST(l_shipdate AS DATE)) AS BIGINT) AS m,
          CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS rev
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate < TIMESTAMP '1996-01-01'
        GROUP BY 1, 2),
      duels AS (
        SELECT a.brand, b.brand AS brand_b,
          CASE WHEN sum(CASE WHEN a.rev > b.rev THEN 1
            WHEN a.rev < b.rev THEN -1 ELSE 0 END) >= 0
          THEN a.brand ELSE b.brand END AS winner
        FROM cells a JOIN cells b ON a.m = b.m AND a.brand < b.brand
        GROUP BY a.brand, b.brand),
      od AS (SELECT winner, CAST(count(*) AS BIGINT) AS od
             FROM duels GROUP BY winner),
      n AS (SELECT CAST(count(DISTINCT brand) AS BIGINT) AS n FROM cells),
      s AS (SELECT CAST(sum(od * (od - 1) // 2) AS BIGINT) AS trans,
              CAST(sum(od) AS BIGINT) AS n_duels FROM od)
      SELECT n AS n_brands,
        n_duels,
        CAST(n * (n - 1) * (n - 2) // 6 AS BIGINT) AS n_triples,
        trans AS transitive_triples,
        CAST(n * (n - 1) * (n - 2) // 6 - trans AS BIGINT) AS cyclic_triples,
        CAST((n * (n - 1) * (n - 2) // 6 - trans) * 1000000
          // (n * (n - 1) * (n - 2) // 6) AS BIGINT) AS intransitivity_ppm
      FROM n CROSS JOIN s
    """))

  override def defs: Seq[QueryDef] = Seq(q631, q632)
}
