package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.SqlMacros._

/** Round-6 batch 2: policy/layout planners — sorted-neighborhood
  * blocking for entity resolution, SJF-vs-FIFO scheduling flow time,
  * auction reserve-price sweep, syllable-complexity readability census,
  * and the dictionary-encoding break-even advisor. All outputs integers /
  * strings with total ORDER BYs for the oracle gate.
  */
object PolicyPlanQueries extends QueryGroup {

  // ---------------------------------------------------------------- q536

  /** Sorted-neighborhood blocking (Hernández & Stolfo's merge/purge):
    * instead of comparing all C(n,2) customer pairs, sort each nation's
    * customers by name and compare only each record to its next 2
    * neighbors — the candidate-generation step every entity-resolution
    * pipeline runs before expensive matching (q78/q406 SCORE pairs;
    * this decides WHICH pairs exist). Reports the blocking's candidate
    * volume against the full quadratic, and the same-segment "match"
    * rate inside the window as the precision proxy.
    *
    * Scale shape: the sort key is the method's own blocking key — the
    * window is PARTITIONED by nation (production re-shards big nations
    * by a name prefix; the window stays partitioned either way); full
    * pair counts come from the closed form n(n−1)/2, never from pairs. */
  private val q536 = QueryDef(
    "q536_sorted_neighborhood_blocking",
    (spark, dir) => {
      val c = Tables.customer(spark, dir)
        .select(col("c_nationkey").cast("long").as("nation"),
          col("c_custkey"), col("c_name"), col("c_mktsegment"))
      val neigh = c
        .withColumn("seg1", lead(col("c_mktsegment"), 1).over(
          Window.partitionBy(col("nation")).orderBy(col("c_name"), col("c_custkey"))))
        .withColumn("seg2", lead(col("c_mktsegment"), 2).over(
          Window.partitionBy(col("nation")).orderBy(col("c_name"), col("c_custkey"))))
      neigh.groupBy(col("nation"))
        .agg(count(lit(1)).as("n_customers"),
          sum(when(col("seg1").isNotNull, 1L).otherwise(0L)
            + when(col("seg2").isNotNull, 1L).otherwise(0L)).as("candidate_pairs"),
          sum(when(col("seg1") === col("c_mktsegment"), 1L).otherwise(0L)
            + when(col("seg2") === col("c_mktsegment"), 1L).otherwise(0L))
            .as("same_segment_pairs"))
        .select(col("nation"), col("n_customers"), col("candidate_pairs"),
          expr("n_customers * (n_customers - 1) div 2").as("full_pairs"),
          col("same_segment_pairs"),
          expr("CASE WHEN n_customers >= 2 THEN candidate_pairs * 1000000" +
            " div (n_customers * (n_customers - 1) div 2) ELSE 0 END")
            .as("candidate_ppm_of_full"))
        .orderBy(col("nation"))
    },
    Some("""
      WITH n AS (
        SELECT CAST(c_nationkey AS BIGINT) AS nation, c_mktsegment,
          lead(c_mktsegment, 1) OVER (PARTITION BY c_nationkey
            ORDER BY c_name, c_custkey) AS seg1,
          lead(c_mktsegment, 2) OVER (PARTITION BY c_nationkey
            ORDER BY c_name, c_custkey) AS seg2
        FROM customer),
      a AS (
        SELECT nation, CAST(count(*) AS BIGINT) AS n_customers,
          CAST(sum((CASE WHEN seg1 IS NOT NULL THEN 1 ELSE 0 END)
            + (CASE WHEN seg2 IS NOT NULL THEN 1 ELSE 0 END)) AS BIGINT)
            AS candidate_pairs,
          CAST(sum((CASE WHEN seg1 = c_mktsegment THEN 1 ELSE 0 END)
            + (CASE WHEN seg2 = c_mktsegment THEN 1 ELSE 0 END)) AS BIGINT)
            AS same_segment_pairs
        FROM n GROUP BY nation)
      SELECT nation, n_customers, candidate_pairs,
        n_customers * (n_customers - 1) // 2 AS full_pairs,
        same_segment_pairs,
        CAST(CASE WHEN n_customers >= 2 THEN candidate_pairs * 1000000
          // (n_customers * (n_customers - 1) // 2) ELSE 0 END AS BIGINT)
          AS candidate_ppm_of_full
      FROM a ORDER BY nation
    """))

  // ---------------------------------------------------------------- q537

  /** SJF-vs-FIFO flow time: serving jobs (documents, service time = token
    * count) in shortest-job-first order provably minimizes mean flow time
    * over FIFO — priced exactly on this corpus: each job's flow time is
    * the running sum of service up to and including it, summed per
    * policy. q491 prices the PADDING the orders cause; this prices the
    * WAITING. The scheduling-policy number an inference queue tunes.
    *
    * Scale shape: q491's shard discipline — both running sums are
    * partitioned by doc_id%4 (the fleet dial), flow-time totals are
    * shard-additive, no global window. */
  private val q537 = QueryDef(
    "q537_sjf_vs_fifo_flowtime",
    (spark, dir) => {
      val lens = Tables.documents(spark, dir)
        .select(col("doc_id"), (col("doc_id") % 4L).as("shard"),
          graft.functions.expressions.token_count(col("text")).cast("long").as("len"))
        .filter(col("len") >= 1L)
      def policy(tag: String, order: Seq[org.apache.spark.sql.Column]) = lens
        .withColumn("flow", sum(col("len")).over(
          Window.partitionBy(col("shard")).orderBy(order: _*)
            .rowsBetween(Window.unboundedPreceding, 0)))
        .agg(count(lit(1)).as("n_jobs"), sum(col("len")).as("total_service"),
          sum(col("flow")).as("total_flowtime"))
        .select(lit(tag).as("policy"), col("n_jobs"), col("total_service"),
          col("total_flowtime"),
          expr("total_flowtime div n_jobs").as("mean_flowtime"))
      policy("fifo", Seq(col("doc_id")))
        .unionAll(policy("sjf", Seq(col("len"), col("doc_id"))))
        .orderBy(col("policy"))
    },
    Some(s"""
      WITH lens AS (
        SELECT doc_id, doc_id % 4 AS shard,
          CAST(len($duckTokens) AS BIGINT)
            AS len
        FROM documents),
      f AS (SELECT * FROM lens WHERE len >= 1),
      a AS (
        SELECT CAST(sum(flow) AS BIGINT) AS total_flowtime,
          CAST(count(*) AS BIGINT) AS n_jobs,
          CAST(sum(len) AS BIGINT) AS total_service
        FROM (SELECT len, sum(len) OVER (PARTITION BY shard ORDER BY doc_id
                ROWS UNBOUNDED PRECEDING) AS flow FROM f)),
      s AS (
        SELECT CAST(sum(flow) AS BIGINT) AS total_flowtime,
          CAST(count(*) AS BIGINT) AS n_jobs,
          CAST(sum(len) AS BIGINT) AS total_service
        FROM (SELECT len, sum(len) OVER (PARTITION BY shard ORDER BY len, doc_id
                ROWS UNBOUNDED PRECEDING) AS flow FROM f))
      SELECT 'fifo' AS policy, n_jobs, total_service, total_flowtime,
        total_flowtime // n_jobs AS mean_flowtime FROM a
      UNION ALL
      SELECT 'sjf', n_jobs, total_service, total_flowtime,
        total_flowtime // n_jobs FROM s
      ORDER BY policy
    """))

  // ---------------------------------------------------------------- q538

  /** Reserve-price sweep: treating each order day as a second-price
    * auction whose bids are that day's order values (whole dollars),
    * revenue at reserve r is max(second_bid, r) when the top bid clears
    * r and nothing otherwise — swept over r ∈ {0, 1000, 2000, 4000} to
    * locate where a reserve stops lifting revenue and starts killing
    * auctions. The Myerson intuition priced on observed demand.
    *
    * Scale shape: top-2 bids per day via a day-partitioned rank (days
    * bound each partition); the 4-row reserve grid broadcasts onto the
    * calendar-sized (day, top1, top2) table. */
  private val q538 = QueryDef(
    "q538_reserve_price_sweep",
    (spark, dir) => {
      import graft.functions.Deterministic.epochS
      val spark0 = spark
      import spark0.implicits._
      val grid = Seq(0L, 1000L, 2000L, 4000L).toDF("reserve")
      val byDay = Window.partitionBy(col("day"))
        .orderBy(col("bid").desc, col("o_orderkey"))
      val tops = Tables.orders(spark, dir)
        .select((epochS(col("o_orderdate")) / 86400L).cast("long").as("day"),
          expr("CAST(floor(o_totalprice + 0.5) AS BIGINT)").as("bid"),
          col("o_orderkey"))
        .withColumn("rk", row_number().over(byDay))
        .filter(col("rk") <= 2)
        .groupBy(col("day"))
        .agg(max(when(col("rk") === 1, col("bid"))).as("top1"),
          coalesce(max(when(col("rk") === 2, col("bid"))), lit(0L)).as("top2"))
      tops.crossJoin(broadcast(grid))
        .groupBy(col("reserve"))
        .agg(count(lit(1)).as("n_auctions"),
          sum(when(col("top1") >= col("reserve"), 1L).otherwise(0L)).as("cleared"),
          sum(when(col("top1") >= col("reserve"),
            greatest(col("top2"), col("reserve"))).otherwise(0L)).as("revenue"))
        .select(col("reserve"), col("n_auctions"), col("cleared"), col("revenue"),
          expr("cleared * 1000000 div n_auctions").as("cleared_ppm"))
        .orderBy(col("reserve"))
    },
    Some("""
      WITH grid(reserve) AS (VALUES (CAST(0 AS BIGINT)), (CAST(1000 AS BIGINT)),
        (CAST(2000 AS BIGINT)), (CAST(4000 AS BIGINT))),
      bids AS (
        SELECT epoch_ms(o_orderdate) // 1000 // 86400 AS day,
          CAST(floor(o_totalprice + 0.5) AS BIGINT) AS bid, o_orderkey
        FROM orders),
      r AS (
        SELECT day, bid,
          row_number() OVER (PARTITION BY day ORDER BY bid DESC, o_orderkey)
            AS rk
        FROM bids),
      tops AS (
        SELECT day,
          max(CASE WHEN rk = 1 THEN bid END) AS top1,
          coalesce(max(CASE WHEN rk = 2 THEN bid END), 0) AS top2
        FROM r WHERE rk <= 2 GROUP BY day)
      SELECT reserve, CAST(count(*) AS BIGINT) AS n_auctions,
        CAST(sum(CASE WHEN top1 >= reserve THEN 1 ELSE 0 END) AS BIGINT)
          AS cleared,
        CAST(sum(CASE WHEN top1 >= reserve THEN greatest(top2, reserve)
          ELSE 0 END) AS BIGINT) AS revenue,
        CAST(sum(CASE WHEN top1 >= reserve THEN 1 ELSE 0 END) * 1000000
          // count(*) AS BIGINT) AS cleared_ppm
      FROM tops CROSS JOIN grid GROUP BY reserve ORDER BY reserve
    """))

  // ---------------------------------------------------------------- q539

  /** Syllable-complexity census: per source, words, vowel-group syllable
    * proxies, syllables-per-word (milli) and the SMOG-style share of
    * complex words (≥ 3 vowel groups) — the readability fingerprint that
    * separates legal/technical sources from conversational ones without
    * any model. Both engines count vowel groups as
    * len(replace(word, /[aeiou]+/ → 'a')) − len(replace(word, /[aeiou]+/
    * → '')), i.e. one surviving char per group.
    *
    * Scale shape: per-word regexp projections (explode + codegen) folded
    * by one per-source aggregate; no joins, no windows. */
  private val q539 = QueryDef(
    "q539_syllable_complexity_census",
    (spark, dir) => {
      Tables.documents(spark, dir)
        .select(col("source"),
          explode(expr("filter(split(lower(text), ' '), t -> t != '')")).as("w"))
        .select(col("source"),
          (length(regexp_replace(col("w"), "[aeiou]+", "a"))
            - length(regexp_replace(col("w"), "[aeiou]+", ""))).cast("long")
            .as("syl"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_words"), sum(col("syl")).as("n_syllables"),
          sum(when(col("syl") >= 3L, 1L).otherwise(0L)).as("complex_words"))
        .select(col("source"), col("n_words"), col("n_syllables"),
          expr("n_syllables * 1000 div n_words").as("syl_per_word_milli"),
          expr("complex_words * 1000000 div n_words").as("complex_ppm"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH w AS (
        SELECT source,
          unnest(${duckTokensOf("lower(text)")}) AS w
        FROM documents),
      s AS (
        SELECT source,
          CAST(len(regexp_replace(w, '[aeiou]+', 'a', 'g'))
            - len(regexp_replace(w, '[aeiou]+', '', 'g')) AS BIGINT) AS syl
        FROM w)
      SELECT source, CAST(count(*) AS BIGINT) AS n_words,
        CAST(sum(syl) AS BIGINT) AS n_syllables,
        CAST(sum(syl) * 1000 // count(*) AS BIGINT) AS syl_per_word_milli,
        CAST(sum(CASE WHEN syl >= 3 THEN 1 ELSE 0 END) * 1000000 // count(*)
          AS BIGINT) AS complex_ppm
      FROM s GROUP BY source ORDER BY source
    """))

  // ---------------------------------------------------------------- q540

  /** Dictionary-encoding break-even advisor: for each low-cardinality
    * string column, dictionary encoding costs ndv·avg_len bytes of
    * dictionary plus ⌈log₂ ndv⌉ bits per row, against raw = Σ len —
    * the per-column winner and savings that a columnar writer's encoding
    * chooser decides from exactly these statistics (q372 prices RLE runs
    * on a SORTED column; this prices the dictionary on UNSORTED ones).
    *
    * Scale shape: one (ndv, Σlen, rows) aggregate per column — four
    * independent scans folded to four rows, union'd; the bit width is a
    * CASE ladder (integer log₂, both engines identical). */
  private val q540 = QueryDef(
    "q540_dict_encoding_advisor",
    (spark, dir) => {
      def stats(df: org.apache.spark.sql.DataFrame, colName: String,
                label: String) = df
        .select(col(colName).as("v"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("v")).as("ndv"),
          sum(length(col("v"))).cast("long").as("raw_bytes"))
        .select(lit(label).as("column_name"), col("n_rows"), col("ndv"),
          col("raw_bytes"),
          expr("CASE WHEN ndv >= 4096 THEN 13 WHEN ndv >= 2048 THEN 12" +
            " WHEN ndv >= 1024 THEN 11 WHEN ndv >= 512 THEN 10" +
            " WHEN ndv >= 256 THEN 9 WHEN ndv >= 128 THEN 8" +
            " WHEN ndv >= 64 THEN 7 WHEN ndv >= 32 THEN 6" +
            " WHEN ndv >= 16 THEN 5 WHEN ndv >= 8 THEN 4" +
            " WHEN ndv >= 4 THEN 3 WHEN ndv >= 2 THEN 2 ELSE 1 END")
            .as("bits_per_row"),
          expr("raw_bytes div n_rows").as("avg_len"))
        .select(col("column_name"), col("n_rows"), col("ndv"), col("raw_bytes"),
          col("bits_per_row"),
          expr("ndv * (avg_len + 1) + (n_rows * bits_per_row + 7) div 8")
            .as("dict_bytes"))
        .select(col("column_name"), col("n_rows"), col("ndv"), col("raw_bytes"),
          col("dict_bytes"),
          expr("CASE WHEN dict_bytes < raw_bytes THEN 'dict' ELSE 'raw' END")
            .as("winner"),
          expr("greatest(raw_bytes - dict_bytes, 0) * 1000000 div raw_bytes")
            .as("savings_ppm"))
      stats(Tables.customer(spark, dir), "c_mktsegment", "customer.c_mktsegment")
        .unionAll(stats(Tables.lineitem(spark, dir), "l_returnflag",
          "lineitem.l_returnflag"))
        .unionAll(stats(Tables.orders(spark, dir), "o_orderpriority",
          "orders.o_orderpriority"))
        .unionAll(stats(Tables.orders(spark, dir), "o_orderstatus",
          "orders.o_orderstatus"))
        .orderBy(col("column_name"))
    },
    Some {
      def statsSql(table: String, c: String) = s"""
        SELECT '$table.$c' AS column_name, CAST(count(*) AS BIGINT) AS n_rows,
          CAST(count(DISTINCT $c) AS BIGINT) AS ndv,
          CAST(sum(len($c)) AS BIGINT) AS raw_bytes,
          CAST(sum(len($c)) AS BIGINT) // count(*) AS avg_len
        FROM $table"""
      s"""
      WITH s AS (
        ${statsSql("customer", "c_mktsegment")}
        UNION ALL ${statsSql("lineitem", "l_returnflag")}
        UNION ALL ${statsSql("orders", "o_orderpriority")}
        UNION ALL ${statsSql("orders", "o_orderstatus")}),
      b AS (
        SELECT *, CASE WHEN ndv >= 4096 THEN 13 WHEN ndv >= 2048 THEN 12
          WHEN ndv >= 1024 THEN 11 WHEN ndv >= 512 THEN 10
          WHEN ndv >= 256 THEN 9 WHEN ndv >= 128 THEN 8
          WHEN ndv >= 64 THEN 7 WHEN ndv >= 32 THEN 6
          WHEN ndv >= 16 THEN 5 WHEN ndv >= 8 THEN 4
          WHEN ndv >= 4 THEN 3 WHEN ndv >= 2 THEN 2 ELSE 1 END AS bits_per_row
        FROM s),
      d AS (
        SELECT column_name, n_rows, ndv, raw_bytes,
          ndv * (avg_len + 1) + (n_rows * bits_per_row + 7) // 8 AS dict_bytes
        FROM b)
      SELECT column_name, n_rows, ndv, raw_bytes, dict_bytes,
        CASE WHEN dict_bytes < raw_bytes THEN 'dict' ELSE 'raw' END AS winner,
        CAST(greatest(raw_bytes - dict_bytes, 0) * 1000000 // raw_bytes
          AS BIGINT) AS savings_ppm
      FROM d ORDER BY column_name
    """
    })

  def defs: Seq[QueryDef] = Seq(q536, q537, q538, q539, q540)
}
