package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.SqlMacros._

/** Round-6 batch 11: selection-effect machinery — survey raking (IPF),
  * model-cascade routing, and Berkson collider bias. All outputs
  * integers / strings with total ORDER BYs for the oracle gate.
  */
object SelectionPlanQueries extends QueryGroup {

  // ---------------------------------------------------------------- q573

  /** Survey raking (iterative proportional fitting): a 25% hash sample
    * of customers is reweighted so its (region × market-segment)
    * margins match the full population's — three alternating
    * region/segment adjustment rounds in integer milli weights, the
    * classical post-stratification when only MARGINAL population
    * totals are known (joint cells too sparse to match directly).
    * Reports each cell's final weight and the raw vs weighted vs
    * population shares — the correction every demographically-skewed
    * sample needs before its statistics are quotable.
    *
    * Scale shape: population margins and sample cells each fold in one
    * keyed aggregate to a 25-cell (5 region × 5 segment) table; all
    * six IPF adjustments are WINDOW arithmetic on those 25 rows (one
    * plan reference per round — the join form grows the logical plan
    * 4^rounds); sampling uses HIGH hash bits (low bits alias the key,
    * the q569 trap). Floor-milli weights make every round portable. */
  private val q573 = QueryDef(
    "q573_ipf_raking",
    (spark, dir) => {
      import graft.operators.Sampling
      val cust = Tables.customer(spark, dir)
        .join(Tables.nation(spark, dir)
          .select(col("n_nationkey").as("c_nationkey"), col("n_regionkey")), Seq("c_nationkey"))
        .join(Tables.region(spark, dir)
          .select(col("r_regionkey").as("n_regionkey"), col("r_name").as("region")),
          Seq("n_regionkey"))
        .select(col("region"), col("c_mktsegment").as("segment"),
          Sampling.keyHash(col("c_custkey")).as("h"))
        .select(col("region"), col("segment"),
          (expr("h div 1073741824") === 0L).as("in_sample"))
      val pop = cust.groupBy(col("region"), col("segment"))
        .agg(count(lit(1)).as("n_pop"))
      val samp = cust.filter(col("in_sample"))
        .groupBy(col("region"), col("segment"))
        .agg(count(lit(1)).as("n_samp"))
      // start every cell at weight 1.000; IPF alternates margins.
      // Every round is WINDOW arithmetic over the 25-cell table (one
      // reference to its input, like the oracle) — joining the margin
      // aggregates back instead references the input 4x per round and
      // the LOGICAL plan grows 4^rounds (persist only caches physical
      // results; the analyzer still walks the nested plan — a 6-round
      // join form produced a 2 GB plan string)
      import org.apache.spark.sql.expressions.Window
      val all = Window.partitionBy() // 25 raking cells — bounded
      var cells: DataFrame = pop.join(samp, Seq("region", "segment"))
        .withColumn("w", lit(1000L))
      def adjust(df: DataFrame, margin: String): DataFrame = {
        val m = Window.partitionBy(col(margin))
        df.withColumn("tgt", sum(col("n_pop")).over(m))
          .withColumn("cur", sum(expr("n_samp * w")).over(m))
          .withColumn("p_tot", sum(col("n_pop")).over(all))
          .withColumn("s_tot", sum(col("n_samp")).over(all))
          .withColumn("w", expr(
            "w * (tgt * 1000000 div p_tot) div greatest(cur * 1000000 div (s_tot * 1000), 1)"))
          .select(col("region"), col("segment"), col("n_pop"), col("n_samp"), col("w"))
      }
      for (_ <- 1 to 3) {
        cells = adjust(cells, "region")
        cells = adjust(cells, "segment")
      }
      cells
        .withColumn("p_tot", sum(col("n_pop")).over(all))
        .withColumn("s_raw", sum(col("n_samp")).over(all))
        .withColumn("s_wgt", sum(expr("n_samp * w")).over(all))
        .select(col("region"), col("segment"), col("n_pop"), col("n_samp"),
          col("w").as("w_milli"),
          expr("n_pop * 1000000 div p_tot").as("pop_share_ppm"),
          expr("n_samp * 1000000 div s_raw").as("raw_share_ppm"),
          expr("n_samp * w * 1000000 div s_wgt").as("weighted_share_ppm"))
        .orderBy(col("region"), col("segment"))
    },
    Some("""
      WITH cust AS (
        SELECT r.r_name AS region, c.c_mktsegment AS segment,
          CASE WHEN ((c.c_custkey % 2147483648) * 2654435761) % 4294967296
            // 1073741824 = 0 THEN 1 ELSE 0 END AS in_sample
        FROM customer c
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey),
      pop AS (SELECT region, segment, CAST(count(*) AS BIGINT) AS n_pop
              FROM cust GROUP BY 1, 2),
      samp AS (SELECT region, segment, CAST(count(*) AS BIGINT) AS n_samp
               FROM cust WHERE in_sample = 1 GROUP BY 1, 2),
      w0 AS (SELECT p.region, p.segment, p.n_pop, s.n_samp,
               CAST(1000 AS BIGINT) AS w
             FROM pop p JOIN samp s USING (region, segment)),
      t AS (SELECT CAST(sum(n_pop) AS BIGINT) AS p_tot,
              CAST(sum(n_samp) AS BIGINT) AS s_tot FROM w0),
      w1 AS (
        SELECT region, segment, n_pop, n_samp,
          CAST(w * (tgt * 1000000 // p_tot)
            // greatest(cur * 1000000 // (s_tot * 1000), 1) AS BIGINT) AS w
        FROM (SELECT w0.*, sum(n_pop) OVER (PARTITION BY region) AS tgt,
                sum(n_samp * w) OVER (PARTITION BY region) AS cur
              FROM w0) x CROSS JOIN t),
      w2 AS (
        SELECT region, segment, n_pop, n_samp,
          CAST(w * (tgt * 1000000 // p_tot)
            // greatest(cur * 1000000 // (s_tot * 1000), 1) AS BIGINT) AS w
        FROM (SELECT w1.*, sum(n_pop) OVER (PARTITION BY segment) AS tgt,
                sum(n_samp * w) OVER (PARTITION BY segment) AS cur
              FROM w1) x CROSS JOIN t),
      w3 AS (
        SELECT region, segment, n_pop, n_samp,
          CAST(w * (tgt * 1000000 // p_tot)
            // greatest(cur * 1000000 // (s_tot * 1000), 1) AS BIGINT) AS w
        FROM (SELECT w2.*, sum(n_pop) OVER (PARTITION BY region) AS tgt,
                sum(n_samp * w) OVER (PARTITION BY region) AS cur
              FROM w2) x CROSS JOIN t),
      w4 AS (
        SELECT region, segment, n_pop, n_samp,
          CAST(w * (tgt * 1000000 // p_tot)
            // greatest(cur * 1000000 // (s_tot * 1000), 1) AS BIGINT) AS w
        FROM (SELECT w3.*, sum(n_pop) OVER (PARTITION BY segment) AS tgt,
                sum(n_samp * w) OVER (PARTITION BY segment) AS cur
              FROM w3) x CROSS JOIN t),
      w5 AS (
        SELECT region, segment, n_pop, n_samp,
          CAST(w * (tgt * 1000000 // p_tot)
            // greatest(cur * 1000000 // (s_tot * 1000), 1) AS BIGINT) AS w
        FROM (SELECT w4.*, sum(n_pop) OVER (PARTITION BY region) AS tgt,
                sum(n_samp * w) OVER (PARTITION BY region) AS cur
              FROM w4) x CROSS JOIN t),
      w6 AS (
        SELECT region, segment, n_pop, n_samp,
          CAST(w * (tgt * 1000000 // p_tot)
            // greatest(cur * 1000000 // (s_tot * 1000), 1) AS BIGINT) AS w
        FROM (SELECT w5.*, sum(n_pop) OVER (PARTITION BY segment) AS tgt,
                sum(n_samp * w) OVER (PARTITION BY segment) AS cur
              FROM w5) x CROSS JOIN t),
      fin AS (
        SELECT *,
          (SELECT p_tot FROM t) AS p_tot,
          (SELECT CAST(sum(n_samp) AS BIGINT) FROM w6) AS s_raw,
          (SELECT CAST(sum(n_samp * w) AS BIGINT) FROM w6) AS s_wgt
        FROM w6)
      SELECT region, segment, n_pop, n_samp, w AS w_milli,
        CAST(n_pop * 1000000 // p_tot AS BIGINT) AS pop_share_ppm,
        CAST(n_samp * 1000000 // s_raw AS BIGINT) AS raw_share_ppm,
        CAST(n_samp * w * 1000000 // s_wgt AS BIGINT) AS weighted_share_ppm
      FROM fin ORDER BY region, segment
    """))

  // ---------------------------------------------------------------- q574

  /** Model-cascade routing frontier: a cheap gate (raw n_chars) makes
    * confident keep/drop calls outside a deferral band and only the
    * band goes to the expensive judge (the stopword-density rater —
    * stand-in for an LLM quality scorer). Swept at three band widths,
    * the readout is the cascade's cost (share judged) against its
    * disagreement with judge-everything: false drops (gate killed a
    * doc the judge would keep) and false keeps. The routing economics
    * of every two-tier curation pipeline — how much judge budget buys
    * how much fidelity.
    *
    * Scale shape: one scan computes the gate signal and the judge
    * verdict with codegen'd kernels; the 3-row band grid broadcasts
    * onto the fold and everything lands on (band × verdict) cells. */
  private val q574 = QueryDef(
    "q574_cascade_routing_frontier",
    (spark, dir) => {
      import graft.functions.expressions.{token_count, stopword_hits}
      val allStops = graft.text.TextAnalysis.Stopwords.flatMap(_._2)
      val spark0 = spark
      import spark0.implicits._
      val grid = Seq((200L, 400L), (150L, 500L), (100L, 600L))
        .toDF("lo", "hi")
      val base = Tables.documents(spark, dir)
        .select(col("n_chars"),
          token_count(col("text")).cast("long").as("nt"),
          stopword_hits(col("text"), allStops).cast("long").as("sh"))
        .filter(col("nt") >= 1L)
        .select(col("n_chars"),
          when(col("sh") * 1000L >= col("nt") * 60L, 1L).otherwise(0L)
            .as("judge_keep"))
      base.crossJoin(broadcast(grid))
        .select(col("lo"), col("hi"), col("judge_keep"),
          when(col("n_chars") >= col("lo") && col("n_chars") < col("hi"), 1L)
            .otherwise(0L).as("deferred"),
          when(col("n_chars") >= col("hi"), 1L).otherwise(0L).as("gate_keep"))
        .withColumn("cascade_keep",
          when(col("deferred") === 1L, col("judge_keep")).otherwise(col("gate_keep")))
        .groupBy(col("lo"), col("hi"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("deferred")).as("n_judged"),
          sum(when(col("cascade_keep") === col("judge_keep"), 1L).otherwise(0L))
            .as("n_agree"),
          sum(when(col("cascade_keep") === 0L && col("judge_keep") === 1L, 1L)
            .otherwise(0L)).as("n_false_drop"),
          sum(when(col("cascade_keep") === 1L && col("judge_keep") === 0L, 1L)
            .otherwise(0L)).as("n_false_keep"))
        .select(col("lo"), col("hi"), col("n_docs"),
          expr("n_judged * 1000000 div n_docs").as("judged_share_ppm"),
          expr("n_agree * 1000000 div n_docs").as("agreement_ppm"),
          expr("n_false_drop * 1000000 div n_docs").as("false_drop_ppm"),
          expr("n_false_keep * 1000000 div n_docs").as("false_keep_ppm"))
        .orderBy(col("lo"))
    },
    Some {
      val allStops = graft.text.TextAnalysis.Stopwords
        .flatMap(_._2).map("'" + _ + "'").mkString(",")
      s"""
      WITH base AS (
        SELECT n_chars,
          CASE WHEN CAST(len(list_filter(tk, t -> t IN ($allStops))) AS BIGINT)
            * 1000 >= CAST(len(tk) AS BIGINT) * 60 THEN 1 ELSE 0 END AS judge_keep
        FROM (SELECT n_chars,
                $duckTokens AS tk
              FROM documents)
        WHERE len(tk) >= 1),
      grid(lo, hi) AS (VALUES (CAST(200 AS BIGINT), CAST(400 AS BIGINT)),
        (CAST(150 AS BIGINT), CAST(500 AS BIGINT)),
        (CAST(100 AS BIGINT), CAST(600 AS BIGINT))),
      m AS (
        SELECT lo, hi, judge_keep,
          CASE WHEN n_chars >= lo AND n_chars < hi THEN 1 ELSE 0 END AS deferred,
          CASE WHEN n_chars >= hi THEN 1 ELSE 0 END AS gate_keep
        FROM base CROSS JOIN grid),
      c AS (
        SELECT lo, hi, judge_keep, deferred,
          CASE WHEN deferred = 1 THEN judge_keep ELSE gate_keep END AS cascade_keep
        FROM m),
      g AS (
        SELECT lo, hi, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(deferred) AS BIGINT) AS n_judged,
          CAST(sum(CASE WHEN cascade_keep = judge_keep THEN 1 ELSE 0 END)
            AS BIGINT) AS n_agree,
          CAST(sum(CASE WHEN cascade_keep = 0 AND judge_keep = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_drop,
          CAST(sum(CASE WHEN cascade_keep = 1 AND judge_keep = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_keep
        FROM c GROUP BY 1, 2)
      SELECT lo, hi, n_docs,
        CAST(n_judged * 1000000 // n_docs AS BIGINT) AS judged_share_ppm,
        CAST(n_agree * 1000000 // n_docs AS BIGINT) AS agreement_ppm,
        CAST(n_false_drop * 1000000 // n_docs AS BIGINT) AS false_drop_ppm,
        CAST(n_false_keep * 1000000 // n_docs AS BIGINT) AS false_keep_ppm
      FROM g ORDER BY lo
    """
    })

  // ---------------------------------------------------------------- q575

  /** Berkson (collider) selection audit: admit a document if EITHER
    * the length gate OR the stopword gate passes — the union rule
    * every multi-signal curation funnel uses — and measure the
    * association (lift, in ppm) between the two gate flags in the full
    * corpus vs among admitted documents. Conditioning on the union
    * INDUCES negative dependence between otherwise-unrelated signals
    * (inside the admitted pool, failing one gate implies passing the
    * other), so downstream "length and stopwords trade off" findings
    * on curated data can be pure selection artifact. The two-row table
    * that settles whether a correlation survives outside the funnel.
    *
    * Scale shape: one scan computes both flags (codegen'd kernels);
    * both scopes fold in the same single aggregate (conditional sums);
    * lift comes from ppm SHARES, never count products. */
  private val q575 = QueryDef(
    "q575_berkson_collider_audit",
    (spark, dir) => {
      import graft.functions.expressions.{token_count, stopword_hits}
      val allStops = graft.text.TextAnalysis.Stopwords.flatMap(_._2)
      val flags = Tables.documents(spark, dir)
        .select(col("n_chars"),
          token_count(col("text")).cast("long").as("nt"),
          stopword_hits(col("text"), allStops).cast("long").as("sh"))
        .filter(col("nt") >= 1L)
        .select(
          when(col("n_chars") >= 300L, 1L).otherwise(0L).as("a"),
          when(col("sh") * 1000L >= col("nt") * 60L, 1L).otherwise(0L).as("b"))
        .withColumn("s", greatest(col("a"), col("b")))
      val one = flags.agg(
        count(lit(1)).as("n_all"), sum(col("a")).as("a_all"),
        sum(col("b")).as("b_all"), sum(col("a") * col("b")).as("ab_all"),
        sum(col("s")).as("n_sel"),
        sum(col("s") * col("a")).as("a_sel"),
        sum(col("s") * col("b")).as("b_sel"),
        sum(col("s") * col("a") * col("b")).as("ab_sel"))
      one.select(expr("""stack(2,
          'population', n_all, a_all, b_all, ab_all,
          'admitted', n_sel, a_sel, b_sel, ab_sel)
          AS (scope, n_docs, n_a, n_b, n_ab)"""))
        .select(col("scope"), col("n_docs"),
          expr("n_a * 1000000 div n_docs").as("pa_ppm"),
          expr("n_b * 1000000 div n_docs").as("pb_ppm"),
          expr("n_ab * 1000000 div n_docs").as("pab_ppm"))
        .withColumn("lift_ppm", expr(
          "pab_ppm * 1000000 div greatest(pa_ppm * pb_ppm div 1000000, 1)"))
        .orderBy(col("scope"))
    },
    Some {
      val allStops = graft.text.TextAnalysis.Stopwords
        .flatMap(_._2).map("'" + _ + "'").mkString(",")
      s"""
      WITH f AS (
        SELECT CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS a,
          CASE WHEN CAST(len(list_filter(tk, t -> t IN ($allStops))) AS BIGINT)
            * 1000 >= CAST(len(tk) AS BIGINT) * 60 THEN 1 ELSE 0 END AS b
        FROM (SELECT n_chars,
                $duckTokens AS tk
              FROM documents)
        WHERE len(tk) >= 1),
      g AS (SELECT *, greatest(a, b) AS s FROM f),
      one AS (
        SELECT CAST(count(*) AS BIGINT) AS n_all, CAST(sum(a) AS BIGINT) AS a_all,
          CAST(sum(b) AS BIGINT) AS b_all, CAST(sum(a * b) AS BIGINT) AS ab_all,
          CAST(sum(s) AS BIGINT) AS n_sel, CAST(sum(s * a) AS BIGINT) AS a_sel,
          CAST(sum(s * b) AS BIGINT) AS b_sel,
          CAST(sum(s * a * b) AS BIGINT) AS ab_sel
        FROM g),
      rows_ AS (
        SELECT 'population' AS scope, n_all AS n_docs, a_all AS n_a,
          b_all AS n_b, ab_all AS n_ab FROM one
        UNION ALL SELECT 'admitted', n_sel, a_sel, b_sel, ab_sel FROM one),
      p AS (
        SELECT scope, n_docs,
          CAST(n_a * 1000000 // n_docs AS BIGINT) AS pa_ppm,
          CAST(n_b * 1000000 // n_docs AS BIGINT) AS pb_ppm,
          CAST(n_ab * 1000000 // n_docs AS BIGINT) AS pab_ppm
        FROM rows_)
      SELECT scope, n_docs, pa_ppm, pb_ppm, pab_ppm,
        CAST(pab_ppm * 1000000
          // greatest(pa_ppm * pb_ppm // 1000000, 1) AS BIGINT) AS lift_ppm
      FROM p ORDER BY scope
    """
    })

  def defs: Seq[QueryDef] = Seq(q573, q574, q575)
}
