package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.SqlMacros._

/** Round-6 batch 17: structure under pressure — dominant-resource-fair
  * allocation, bond-percolation robustness, and rich-club structure.
  * All outputs integers / strings with total ORDER BYs for the oracle
  * gate.
  */
object TopologyPlanQueries extends QueryGroup {

  /** q590's supplier co-purchase backbone (top-quartile co-occurrence
    * weights), shared by the percolation and rich-club audits — the
    * memoized graph.Backbone order-year build (one checkpointed
    * materialization per run across q590/q592/q593). */
  private def backbone(spark: SparkSession, dir: String): DataFrame =
    graft.graph.Backbone.orderYearBackbone(spark, dir)

  /** Oracle mirror: the shared order-year pairs + backbone CTE chain
    * (graph.Backbone owns the single definition, so the Spark and
    * DuckDB forms cannot drift). */
  private val backboneSql: String =
    s"""${graft.graph.Backbone.pairsOrderYearSql},
      ${graft.graph.Backbone.backboneSql}"""

  // ---------------------------------------------------------------- q591

  /** Dominant-resource-fair (DRF) allocation plan: treat each document
    * source as a tenant whose unit task (process one document) demands
    * two resources — compute (tokens) and memory (chars) — and compute
    * the exact DRF allocation: every tenant receives the SAME dominant
    * share λ (the max-min fair point), with λ set by the first
    * resource to saturate: λ = 1 / maxᵣ Σᵢ sᵢᵣ/sᵢ^max. Long-token
    * tenants are compute-dominant, long-char tenants memory-dominant,
    * and the table shows who gets how many tasks and which resource
    * binds — the Mesos/YARN fairness math, run on corpus demand
    * statistics instead of cluster folklore.
    *
    * Scale shape: per-tenant demand folds in one keyed aggregate to 20
    * tenant rows; capacities, the saturation denominator, and λ are
    * window arithmetic over those rows (bounded global window,
    * sanctioned); everything in ppb/ppm fixed point. */
  private val q591 = QueryDef(
    "q591_drf_allocation_plan",
    (spark, dir) => {
      import graft.functions.expressions.token_count
      val everything = Window.partitionBy()
      val tenants = Tables.documents(spark, dir)
        .select(col("source"), token_count(col("text")).cast("long").as("t"),
          col("n_chars").as("ch"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("toks"),
          sum(col("ch")).as("chars"))
      tenants
        .withColumn("c_tok", sum(col("toks")).over(everything))
        .withColumn("c_chr", sum(col("chars")).over(everything))
        // per-task resource shares in ppb of cluster capacity
        .withColumn("s_tok_ppb",
          expr("(toks * 1000 div n_docs) * 1000000000 div (c_tok * 1000)"))
        .withColumn("s_chr_ppb",
          expr("(chars * 1000 div n_docs) * 1000000000 div (c_chr * 1000)"))
        .withColumn("smax_ppb", greatest(col("s_tok_ppb"), col("s_chr_ppb")))
        .withColumn("dominant_resource",
          when(col("s_tok_ppb") >= col("s_chr_ppb"), "tokens").otherwise("chars"))
        // saturation denominators: sum over tenants of s_r / s_max
        .withColumn("den_tok",
          sum(expr("s_tok_ppb * 1000000 div smax_ppb")).over(everything))
        .withColumn("den_chr",
          sum(expr("s_chr_ppb * 1000000 div smax_ppb")).over(everything))
        .withColumn("lambda_ppm",
          expr("1000000000000 div greatest(den_tok, den_chr)"))
        .select(col("source"), col("n_docs"), col("dominant_resource"),
          col("smax_ppb"), col("lambda_ppm").as("dom_share_ppm"),
          expr("lambda_ppm * 1000 div smax_ppb").as("tasks_allocated"),
          expr("CASE WHEN den_tok >= den_chr THEN 'tokens' ELSE 'chars' END")
            .as("binding_resource"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH tenants AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(len($duckTokens))
            AS BIGINT) AS toks,
          CAST(sum(n_chars) AS BIGINT) AS chars
        FROM documents GROUP BY source),
      caps AS (
        SELECT *,
          CAST(sum(toks) OVER () AS BIGINT) AS c_tok,
          CAST(sum(chars) OVER () AS BIGINT) AS c_chr
        FROM tenants),
      shares AS (
        SELECT *,
          CAST((toks * 1000 // n_docs) * 1000000000 // (c_tok * 1000)
            AS BIGINT) AS s_tok_ppb,
          CAST((chars * 1000 // n_docs) * 1000000000 // (c_chr * 1000)
            AS BIGINT) AS s_chr_ppb
        FROM caps),
      sm AS (
        SELECT *, greatest(s_tok_ppb, s_chr_ppb) AS smax_ppb,
          CASE WHEN s_tok_ppb >= s_chr_ppb THEN 'tokens' ELSE 'chars' END
            AS dominant_resource
        FROM shares),
      den AS (
        SELECT *,
          CAST(sum(s_tok_ppb * 1000000 // smax_ppb) OVER () AS BIGINT)
            AS den_tok,
          CAST(sum(s_chr_ppb * 1000000 // smax_ppb) OVER () AS BIGINT)
            AS den_chr
        FROM sm)
      SELECT source, n_docs, dominant_resource, smax_ppb,
        CAST(1000000000000 // greatest(den_tok, den_chr) AS BIGINT)
          AS dom_share_ppm,
        CAST((1000000000000 // greatest(den_tok, den_chr)) * 1000
          // smax_ppb AS BIGINT) AS tasks_allocated,
        CASE WHEN den_tok >= den_chr THEN 'tokens' ELSE 'chars' END
          AS binding_resource
      FROM den ORDER BY source
    """))

  // ---------------------------------------------------------------- q592

  /** Bond-percolation robustness audit: keep each backbone edge with
    * hash-deterministic probability 70 / 30 / 10% and measure what
    * survives — nodes retaining an edge, the largest connected
    * component (exact: the q56 iterate-to-fixpoint min-label operator;
    * a fixed round budget undercounted the giant component by 2 nodes
    * at keep=10%, so the spec now proves exactness against driver-side
    * union-find), and the component count. The infrastructure question
    * in graph form: how many link failures until the network stops
    * being one network — and the answer's shape (graceful vs cliff) is
    * the resilience readout.
    *
    * Scale shape: the backbone is supplier-dimension-bounded;
    * Dedup.connectedComponents runs one keyed join + min-aggregate per
    * round with localCheckpoint lineage truncation (the q56 precedent,
    * eager-sanctioned); nothing touches fact-table rows after the
    * backbone fold.
    *
    * SCALING (round-7 probe, largest testdata = sf0.1): 4.57 s at
    * sf0.01 → 6.36 s at sf0.1 (10× data, 1.39× time) — the CC
    * fixpoint's iteration barriers dominate; the percolated backbone
    * is supplier-dimension-bounded. */
  private val q592 = QueryDef(
    "q592_percolation_robustness",
    (spark, dir) => {
      import graft.operators.Sampling
      val edges = backbone(spark, dir)
      val out = Seq(700L, 300L, 100L).map { rate =>
        val kept = edges.filter(
          Sampling.keyHash(expr("u * 1048576 + v"), 2246822519L) * 1000L
            < lit(rate * 4294967296L))
        val comp = graft.dedup.Dedup.connectedComponents(kept, "u", "v")
          .groupBy(col("component")).agg(count(lit(1)).as("sz"))
        comp.agg(sum(col("sz")).as("n_nodes"),
            count(lit(1)).as("n_components"), max(col("sz")).as("largest_cc"))
          .select(lit(rate).as("keep_pml"), col("n_nodes"),
            col("n_components"), col("largest_cc"),
            expr("largest_cc * 1000000 div n_nodes").as("largest_share_ppm"))
      }
      out.reduce(_ union _).orderBy(col("keep_pml").desc)
    },
    Some {
      // exact components per rate: the q56 recursive-CTE reach pattern
      // (transitive closure of min-label flow), closed at the fixpoint
      def perRate(rate: Int): String = {
        val kept = s"k$rate"
        val sym = s"sym$rate"
        s"""$kept AS (
          SELECT u, v FROM edges
          WHERE ((((u * 1048576 + v) % 2147483648) * 2246822519)
            % 4294967296) * 1000 < $rate * 4294967296),
      $sym AS (SELECT u AS src, v AS dst FROM $kept
               UNION SELECT v, u FROM $kept),
      reach$rate AS (
        SELECT src AS v, src AS r FROM $sym
        UNION
        SELECT e.dst AS v, rr.r FROM $sym e JOIN reach$rate rr ON rr.v = e.src),
      c$rate AS (
        SELECT comp, CAST(count(*) AS BIGINT) AS sz
        FROM (SELECT v, min(r) AS comp FROM reach$rate GROUP BY v)
        GROUP BY comp),
      r$rate AS (
        SELECT CAST($rate AS BIGINT) AS keep_pml,
          CAST(sum(sz) AS BIGINT) AS n_nodes,
          CAST(count(*) AS BIGINT) AS n_components,
          CAST(max(sz) AS BIGINT) AS largest_cc,
          CAST(max(sz) * 1000000 // sum(sz) AS BIGINT) AS largest_share_ppm
        FROM c$rate)"""
      }
      s"""
      WITH RECURSIVE $backboneSql,
      ${perRate(700)},
      ${perRate(300)},
      ${perRate(100)}
      SELECT * FROM r700 UNION ALL SELECT * FROM r300
      UNION ALL SELECT * FROM r100
      ORDER BY keep_pml DESC
    """
    })

  // ---------------------------------------------------------------- q593

  /** Rich-club coefficient: do the highest-degree suppliers trade
    * preferentially among THEMSELVES? For the top 10/25/50% of
    * backbone nodes by degree, compare the edge density inside the
    * club to the whole graph's density — a ratio > 1 is the rich-club
    * effect (elite interconnection) that degree distributions alone
    * cannot see, and the structural reason hub-to-hub joins dominate
    * shuffle volume on power-law-ish graphs.
    *
    * Scale shape: degrees fold from the (bounded) backbone; the club
    * cutoff comes from the degree histogram (value-resolution
    * cumulative, sanctioned); membership joins and the within-club
    * edge count stay on the backbone's node/edge tables.
    *
    * SCALING (round-7 probe, largest testdata = sf0.1): 1.91 s at
    * sf0.01 → 2.93 s at sf0.1 (10× data, 1.53× time) — sublinear, as
    * the backbone/degree-histogram working-set claim predicts. */
  private val q593 = QueryDef(
    "q593_rich_club_coefficient",
    (spark, dir) => {
      val spark0 = spark
      import spark0.implicits._
      val grid = Seq(100L, 250L, 500L).toDF("top_pml")
      val edges = backbone(spark, dir)
      val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("d"))
      val cut = deg.groupBy(col("d")).agg(count(lit(1)).as("c"))
        .withColumn("cumd", sum(col("c")).over(Window.orderBy(col("d").desc)
          .rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("nn", expr("sum(c) OVER ()"))
        .crossJoin(broadcast(grid))
        .filter(expr("cumd * 1000 >= top_pml * nn"))
        .groupBy(col("top_pml")).agg(max(col("d")).as("d_cut"))
      val totals = deg.agg(count(lit(1)).as("n_all"))
        .crossJoin(broadcast(edges.agg(count(lit(1)).as("m_all"))))
      val clubEdges = edges
        .join(deg.select(col("u"), col("d").as("du")), Seq("u"))
        .join(deg.select(col("u").as("v"), col("d").as("dv")), Seq("v"))
        .crossJoin(broadcast(cut))
        .filter(col("du") >= col("d_cut") && col("dv") >= col("d_cut"))
        .groupBy(col("top_pml"), col("d_cut"))
        .agg(count(lit(1)).as("m_club"))
      val clubNodes = deg.crossJoin(broadcast(cut))
        .filter(col("d") >= col("d_cut"))
        .groupBy(col("top_pml")).agg(count(lit(1)).as("n_club"))
      clubEdges.join(clubNodes, Seq("top_pml"))
        .crossJoin(broadcast(totals))
        .select(col("top_pml"), col("n_club"), col("m_club"),
          expr("m_club * 2000000 div greatest(n_club * (n_club - 1), 1)")
            .as("club_density_ppm"),
          expr("m_all * 2000000 div greatest(n_all * (n_all - 1), 1)")
            .as("graph_density_ppm"))
        .withColumn("rich_club_ratio_ppm", expr(
          "club_density_ppm * 1000000 div greatest(graph_density_ppm, 1)"))
        .orderBy(col("top_pml"))
    },
    Some(s"""
      WITH $backboneSql,
      sym AS (SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges),
      deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY u),
      grid(top_pml) AS (VALUES (CAST(100 AS BIGINT)), (CAST(250 AS BIGINT)),
        (CAST(500 AS BIGINT))),
      cut AS (
        SELECT top_pml, CAST(max(d) AS BIGINT) AS d_cut
        FROM (SELECT d,
                sum(c) OVER (ORDER BY d DESC ROWS UNBOUNDED PRECEDING) AS cumd,
                sum(c) OVER () AS nn
              FROM (SELECT d, CAST(count(*) AS BIGINT) AS c
                    FROM deg GROUP BY d)) x
        CROSS JOIN grid
        WHERE cumd * 1000 >= top_pml * nn
        GROUP BY top_pml),
      totals AS (
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_all,
          (SELECT CAST(count(*) AS BIGINT) FROM edges) AS m_all),
      ce AS (
        SELECT c.top_pml, c.d_cut, CAST(count(*) AS BIGINT) AS m_club
        FROM edges e
        JOIN deg a ON a.u = e.u
        JOIN deg b ON b.u = e.v
        CROSS JOIN cut c
        WHERE a.d >= c.d_cut AND b.d >= c.d_cut
        GROUP BY 1, 2),
      cn AS (
        SELECT c.top_pml, CAST(count(*) AS BIGINT) AS n_club
        FROM deg d CROSS JOIN cut c
        WHERE d.d >= c.d_cut
        GROUP BY 1)
      SELECT ce.top_pml, cn.n_club, ce.m_club,
        CAST(ce.m_club * 2000000
          // greatest(cn.n_club * (cn.n_club - 1), 1) AS BIGINT)
          AS club_density_ppm,
        CAST(t.m_all * 2000000
          // greatest(t.n_all * (t.n_all - 1), 1) AS BIGINT)
          AS graph_density_ppm,
        CAST((ce.m_club * 2000000
            // greatest(cn.n_club * (cn.n_club - 1), 1)) * 1000000
          // greatest(t.m_all * 2000000
            // greatest(t.n_all * (t.n_all - 1), 1), 1) AS BIGINT)
          AS rich_club_ratio_ppm
      FROM ce JOIN cn USING (top_pml) CROSS JOIN totals t
      ORDER BY ce.top_pml
    """))

  def defs: Seq[QueryDef] = Seq(q591, q592, q593)
}
