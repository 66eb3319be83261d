package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-8 batch 7: series symbolization and robust dependence — SAX
  * (PAA segments → quartile alphabet → motif/discord word census), the
  * time-series indexing primitive, and Blomqvist's β (median-quadrant
  * dependence), the log-free, outlier-immune answer to "are these two
  * order metrics related?". Both fold the corpus to calendar- or
  * histogram-bounded frames before any window touches them. Exact
  * integers with total ORDER BYs for the oracle gate.
  */
object SeriesDependencePlanQueries extends QueryGroup {

  // ---------------------------------------------------------------- q662

  /** SAX symbolization of the 1995 daily-revenue series: PAA-compress
    * 365 days into 5-day segment means (whole dollars — cents²-free),
    * assign each segment a 4-letter alphabet symbol by the QUARTILE
    * breakpoints of the segment means, and census the 3-symbol words.
    * The most frequent word is the series' MOTIF (its recurring weekly
    * shape); count-1 words are DISCORDS (anomalous stretches worth an
    * analyst's eyes). This is the symbolization under SAX indexing,
    * word-joinable at scale exactly like q624's shingles.
    *
    * Scale shape: one orders scan folds to ≤ 365 day rows, then ≤ 73
    * segment rows; breakpoints, symbols, and the word lag all run over
    * those CALENDAR frames (the sanctioned q99/q659 class); readout is
    * the ≤ 64-word census. */
  private val q662 = QueryDef(
    "q662_sax_motif_census",
    (spark, dir) => {
      val daily = Tables.orders(spark, dir)
        .filter(col("o_orderdate") >= "1995-01-01" && col("o_orderdate") < "1996-01-01")
        .groupBy(expr("CAST(datediff(o_orderdate, DATE '1995-01-01') AS BIGINT)")
          .as("day"))
        .agg(sum(expr("CAST(floor(o_totalprice) AS BIGINT)")).as("rev"))
      val seg = daily.groupBy(expr("day div 5").as("seg"))
        .agg(expr("sum(rev) div count(1)").as("m"))
      val brk = seg
        .withColumn("rn", row_number().over(Window.orderBy(col("m"), col("seg"))))
        .withColumn("nn", count(lit(1)).over(
          Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .agg(
          min(when(expr("rn * 4 >= nn"), col("m"))).as("b1"),
          min(when(expr("rn * 4 >= 2 * nn"), col("m"))).as("b2"),
          min(when(expr("rn * 4 >= 3 * nn"), col("m"))).as("b3"))
      val sym = seg.crossJoin(broadcast(brk))
        .select(col("seg"),
          when(col("m") < col("b1"), "a")
            .when(col("m") < col("b2"), "b")
            .when(col("m") < col("b3"), "c")
            .otherwise("d").as("s"))
      val words = sym
        .withColumn("w", concat(col("s"),
          lead(col("s"), 1).over(Window.orderBy(col("seg"))),
          lead(col("s"), 2).over(Window.orderBy(col("seg")))))
        .filter(col("w").isNotNull)
      words.groupBy(col("w").as("word"))
        .agg(count(lit(1)).as("n"), min(col("seg")).as("first_seg"))
        .select(col("word"), col("n"), col("first_seg"),
          (col("n") === 1L).as("is_discord"))
        .orderBy(col("n").desc, col("word"))
    },
    Some("""
      WITH daily AS (
        SELECT CAST(datediff('day', DATE '1995-01-01',
            CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
          CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS rev
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate < TIMESTAMP '1996-01-01'
        GROUP BY 1),
      seg AS (
        SELECT day // 5 AS seg, CAST(sum(rev) // count(*) AS BIGINT) AS m
        FROM daily GROUP BY 1),
      ranked AS (
        SELECT m, row_number() OVER (ORDER BY m, seg) AS rn,
          count(*) OVER () AS nn
        FROM seg),
      brk AS (
        SELECT
          CAST(min(CASE WHEN rn * 4 >= nn THEN m END) AS BIGINT) AS b1,
          CAST(min(CASE WHEN rn * 4 >= 2 * nn THEN m END) AS BIGINT) AS b2,
          CAST(min(CASE WHEN rn * 4 >= 3 * nn THEN m END) AS BIGINT) AS b3
        FROM ranked),
      sym AS (
        SELECT seg,
          CASE WHEN m < b1 THEN 'a' WHEN m < b2 THEN 'b'
            WHEN m < b3 THEN 'c' ELSE 'd' END AS s
        FROM seg CROSS JOIN brk),
      words AS (
        SELECT seg, s || lead(s, 1) OVER (ORDER BY seg)
            || lead(s, 2) OVER (ORDER BY seg) AS w
        FROM sym)
      SELECT w AS word, CAST(count(*) AS BIGINT) AS n,
        CAST(min(seg) AS BIGINT) AS first_seg,
        count(*) = 1 AS is_discord
      FROM words WHERE w IS NOT NULL
      GROUP BY w ORDER BY n DESC, word
    """))

  // ---------------------------------------------------------------- q663

  /** Blomqvist's β (median-quadrant dependence) between an order's
    * total price and its lineitem count: split both at their medians
    * and count concordant quadrants (both above / both below) vs
    * discordant; β = (C − D)/(C + D) in ppm. Rank-based, so a single
    * whale order can't move it (Pearson's failure mode), and log-free
    * so it fits the exact-integer oracle contract. Ties at either
    * median are excluded and reported — at $100 price-bin granularity
    * they're a visible fraction, which is itself a data-quality fact.
    *
    * Scale shape: one join-fold to per-order (price-bin, count); the
    * price median is bin-granular over the ≤ ~6k-bin $100 histogram
    * and the count median over the ≤ ~10-bin count histogram (the
    * q64/q636 value-histogram class); quadrant counting is one scan
    * against the broadcast medians; readout is 1 row.
    *
    * SCALING (round-8 probe): 0.32 s at sf0.01 → 0.85 s at sf0.1 (10×
    * data, 2.6× time ≈ exponent 0.42) — the orders⋈lineitem fold is
    * the only corpus-sized stage; the median histograms saturate. */
  private val q663 = QueryDef(
    "q663_blomqvist_beta",
    (spark, dir) => {
      val perOrder = Tables.orders(spark, dir)
        .select(col("o_orderkey").as("ok"),
          expr("CAST(floor(o_totalprice) AS BIGINT) div 100").as("pbin"))
        .join(Tables.lineitem(spark, dir)
          .groupBy(col("l_orderkey").as("ok"))
          .agg(count(lit(1)).as("cnt")), Seq("ok"))
        .persist()
      def medianOf(c: String) = {
        val hist = perOrder.groupBy(col(c).as("v")).agg(count(lit(1)).as("f"))
        hist
          .withColumn("cum", sum(col("f")).over(Window.orderBy(col("v"))
            .rowsBetween(Window.unboundedPreceding, 0)))
          .withColumn("nn", expr("sum(f) OVER ()"))
          .filter(expr("cum * 2 >= nn"))
          .agg(min(col("v")).as(s"med_$c"))
      }
      perOrder.crossJoin(broadcast(medianOf("pbin")))
        .crossJoin(broadcast(medianOf("cnt")))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(when(col("pbin") === col("med_pbin")
            || col("cnt") === col("med_cnt"), 1L).otherwise(0L)).as("n_ties"),
          sum(when(col("pbin") =!= col("med_pbin")
              && col("cnt") =!= col("med_cnt")
              && ((col("pbin") > col("med_pbin")) === (col("cnt") > col("med_cnt"))),
            1L).otherwise(0L)).as("concordant"),
          sum(when(col("pbin") =!= col("med_pbin")
              && col("cnt") =!= col("med_cnt")
              && ((col("pbin") > col("med_pbin")) =!= (col("cnt") > col("med_cnt"))),
            1L).otherwise(0L)).as("discordant"))
        .select(col("n_orders"), col("n_ties"), col("concordant"),
          col("discordant"),
          expr("""(concordant - discordant) * 1000000
              div (concordant + discordant)""").as("beta_ppm"))
    },
    Some("""
      WITH po AS (
        SELECT o.o_orderkey AS ok,
          CAST(floor(o.o_totalprice) AS BIGINT) // 100 AS pbin,
          CAST(count(*) AS BIGINT) AS cnt
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2),
      mp AS (
        SELECT CAST(min(v) AS BIGINT) AS med_pbin FROM (
          SELECT pbin AS v,
            sum(count(*)) OVER (ORDER BY pbin ROWS UNBOUNDED PRECEDING) AS cum,
            sum(count(*)) OVER () AS nn
          FROM po GROUP BY pbin)
        WHERE cum * 2 >= nn),
      mc AS (
        SELECT CAST(min(v) AS BIGINT) AS med_cnt FROM (
          SELECT cnt AS v,
            sum(count(*)) OVER (ORDER BY cnt ROWS UNBOUNDED PRECEDING) AS cum,
            sum(count(*)) OVER () AS nn
          FROM po GROUP BY cnt)
        WHERE cum * 2 >= nn)
      SELECT CAST(count(*) AS BIGINT) AS n_orders,
        CAST(sum(CASE WHEN pbin = med_pbin OR cnt = med_cnt
          THEN 1 ELSE 0 END) AS BIGINT) AS n_ties,
        CAST(sum(CASE WHEN pbin <> med_pbin AND cnt <> med_cnt
            AND ((pbin > med_pbin) = (cnt > med_cnt))
          THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
        CAST(sum(CASE WHEN pbin <> med_pbin AND cnt <> med_cnt
            AND ((pbin > med_pbin) <> (cnt > med_cnt))
          THEN 1 ELSE 0 END) AS BIGINT) AS discordant,
        CAST((sum(CASE WHEN pbin <> med_pbin AND cnt <> med_cnt
            AND ((pbin > med_pbin) = (cnt > med_cnt)) THEN 1 ELSE 0 END)
          - sum(CASE WHEN pbin <> med_pbin AND cnt <> med_cnt
            AND ((pbin > med_pbin) <> (cnt > med_cnt)) THEN 1 ELSE 0 END))
          * 1000000
          // (sum(CASE WHEN pbin <> med_pbin AND cnt <> med_cnt
            THEN 1 ELSE 0 END)) AS BIGINT) AS beta_ppm
      FROM po CROSS JOIN mp CROSS JOIN mc
    """))

  override def defs: Seq[QueryDef] = Seq(q662, q663)
}
