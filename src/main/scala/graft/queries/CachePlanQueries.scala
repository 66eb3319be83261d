package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Deterministic.epochS
import graft.queries.SqlMacros._

/** Round-8 batch 1: cache-behavior analytics — the measurements behind
  * serving-stack capacity decisions. A prefix-reuse census (the KV /
  * prefix-cache sizing input: how much decode work is shared across
  * requests), a re-reference interval census (the LRU working-set
  * readout), and a TTL staleness audit (read-your-writes freshness vs
  * cache lifetime). All outputs exact integers with total ORDER BYs for
  * the oracle gate.
  */
object CachePlanQueries extends QueryGroup {

  // ---------------------------------------------------------------- q645

  /** Prefix-cache reuse census: for prefix lengths k ∈ {2, 3, 4}
    * tokens, how many documents share their first k tokens with an
    * earlier document? A shared prefix is exactly the work a KV /
    * prefix cache deduplicates (vLLM's automatic prefix caching, SGLang
    * RadixAttention): with perfect retention every repeat of a prefix
    * is a hit, so hit_ppm = (N − distinct_prefixes)/N. The hottest
    * prefix's mass bounds what a single cache entry is worth.
    *
    * Scale shape: one documents scan crossed with a 3-row broadcast
    * grid; the (k, prefix) aggregation is a keyed hash agg (shuffles
    * on the prefix — never a global window); the census folds to 3
    * rows. Prefix strings, not arrays, cross the shuffle (≤ 4 tokens
    * each). */
  private val q645 = QueryDef(
    "q645_prefix_cache_reuse",
    (spark, dir) => {
      val spark0 = spark
      import spark0.implicits._
      val grid = Seq(2L, 3L, 4L).toDF("k")
      val prefixes = Tables.documents(spark, dir)
        .select(col("doc_id"),
          expr("filter(split(text, ' '), t -> t != '')").as("tk"))
        .crossJoin(broadcast(grid))
        .filter(size(col("tk")) >= col("k"))
        .select(col("k"),
          expr("array_join(slice(tk, 1, CAST(k AS INT)), ' ')").as("prefix"))
      val perPrefix = prefixes.groupBy(col("k"), col("prefix"))
        .agg(count(lit(1)).as("n"))
      perPrefix.groupBy(col("k"))
        .agg(sum(col("n")).as("n_docs"),
          count(lit(1)).as("n_prefixes"),
          max(col("n")).as("max_prefix_mass"))
        .select(col("k"), col("n_docs"), col("n_prefixes"),
          expr("(n_docs - n_prefixes) * 1000000 div n_docs").as("hit_ppm"),
          col("max_prefix_mass"))
        .orderBy(col("k"))
    },
    Some(s"""
      WITH grid(k) AS (VALUES (CAST(2 AS BIGINT)), (CAST(3 AS BIGINT)),
        (CAST(4 AS BIGINT))),
      tok AS (
        SELECT doc_id, $duckTokens AS tk
        FROM documents),
      pfx AS (
        SELECT k, array_to_string(list_slice(tk, 1, CAST(k AS INTEGER)), ' ')
          AS prefix
        FROM tok CROSS JOIN grid WHERE len(tk) >= k),
      per AS (
        SELECT k, prefix, CAST(count(*) AS BIGINT) AS n
        FROM pfx GROUP BY k, prefix)
      SELECT k, CAST(sum(n) AS BIGINT) AS n_docs,
        CAST(count(*) AS BIGINT) AS n_prefixes,
        CAST((sum(n) - count(*)) * 1000000 // sum(n) AS BIGINT) AS hit_ppm,
        CAST(max(n) AS BIGINT) AS max_prefix_mass
      FROM per GROUP BY k ORDER BY k
    """))

  // ---------------------------------------------------------------- q646

  /** Re-reference interval census: the distribution of gaps between a
    * user's consecutive events, log₂-bucketed in seconds — the
    * empirical reuse-distance curve that sizes an LRU working set (a
    * cache retaining entries for 2ᵇ seconds serves exactly the gap
    * buckets ≤ b). Computed per user with a lag window — the keyed,
    * bounded-partition window discipline — then folded to ≤ ~25 log
    * buckets.
    *
    * Scale shape: one events scan, one shuffle on user_id (per-user
    * partitions, never corpus-sized), census to log-bucket rows;
    * log₂ via length(bin(gap+1))−1, the libm-safe integer form both
    * engines agree on. */
  private val q646 = QueryDef(
    "q646_reuse_distance_census",
    (spark, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val gaps = Tables.events(spark, dir)
        .filter(col("ts").isNotNull)
        .select(col("user_id"), col("ts"), col("event_id"), epochS(col("ts")).as("t"))
        .withColumn("gap", col("t") - lag(col("t"), 1).over(w))
        .filter(col("gap").isNotNull)
      gaps.groupBy(expr("CAST(length(bin(gap + 1)) - 1 AS BIGINT)").as("log2_gap_s"))
        .agg(count(lit(1)).as("n_gaps"), max(col("gap")).as("max_gap_s"))
        .withColumn("share_ppm",
          expr("n_gaps * 1000000 div sum(n_gaps) OVER ()"))
        .select(col("log2_gap_s"), col("n_gaps"), col("share_ppm"), col("max_gap_s"))
        .orderBy(col("log2_gap_s"))
    },
    Some("""
      WITH g AS (
        SELECT CAST(epoch_us(ts) // 1000000 AS BIGINT)
            - lag(CAST(epoch_us(ts) // 1000000 AS BIGINT))
              OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
        FROM events WHERE ts IS NOT NULL),
      b AS (
        SELECT CAST(length(bin(gap + 1)) - 1 AS BIGINT) AS log2_gap_s,
          CAST(count(*) AS BIGINT) AS n_gaps,
          CAST(max(gap) AS BIGINT) AS max_gap_s
        FROM g WHERE gap IS NOT NULL GROUP BY 1)
      SELECT log2_gap_s, n_gaps,
        CAST(n_gaps * 1000000 // sum(n_gaps) OVER () AS BIGINT) AS share_ppm,
        max_gap_s
      FROM b ORDER BY log2_gap_s
    """))

  // ---------------------------------------------------------------- q647

  /** TTL staleness audit: a cached per-user profile is refreshed on
    * every 'purchase' and read on every 'view'; with a TTL of t
    * seconds, a view whose last preceding purchase is older than t is
    * served STALE. For TTL ∈ {1 h, 6 h, 24 h}: how many reads are
    * stale, and how many are cold (no prior purchase at all — a
    * mandatory miss no TTL fixes)? The freshness-vs-cost trade table a
    * cache owner reads before picking a lifetime.
    *
    * Scale shape: the as-of lookup is one user-keyed running-max
    * window (the q39 LOCF discipline — per-user partitions); the TTL
    * sweep is a 3-row broadcast grid over the view rows; the readout
    * folds to 3 rows. */
  private val q647 = QueryDef(
    "q647_ttl_staleness_audit",
    (spark, dir) => {
      val spark0 = spark
      import spark0.implicits._
      val grid = Seq(3600L, 21600L, 86400L).toDF("ttl_s")
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val views = Tables.events(spark, dir)
        .filter(col("ts").isNotNull)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"), epochS(col("ts")).as("t"))
        .withColumn("last_purchase_t",
          max(when(col("event_type") === "purchase", col("t"))).over(w))
        .filter(col("event_type") === "view")
      views.crossJoin(broadcast(grid))
        .groupBy(col("ttl_s"))
        .agg(
          sum(when(col("last_purchase_t").isNotNull, 1L).otherwise(0L))
            .as("n_warm_reads"),
          sum(when(col("last_purchase_t").isNotNull
              && col("t") - col("last_purchase_t") > col("ttl_s"), 1L)
            .otherwise(0L)).as("n_stale"),
          sum(when(col("last_purchase_t").isNull, 1L).otherwise(0L))
            .as("n_cold"))
        .select(col("ttl_s"), col("n_warm_reads"), col("n_stale"),
          expr("CASE WHEN n_warm_reads > 0 " +
            "THEN n_stale * 1000000 div n_warm_reads ELSE 0 END")
            .as("stale_ppm"),
          col("n_cold"))
        .orderBy(col("ttl_s"))
    },
    Some("""
      WITH grid(ttl_s) AS (VALUES (CAST(3600 AS BIGINT)),
        (CAST(21600 AS BIGINT)), (CAST(86400 AS BIGINT))),
      base AS (
        SELECT user_id, ts, event_id, event_type,
          CAST(epoch_us(ts) // 1000000 AS BIGINT) AS t
        FROM events WHERE ts IS NOT NULL),
      marked AS (
        SELECT *,
          max(CASE WHEN event_type = 'purchase' THEN t END)
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS last_purchase_t
        FROM base),
      v AS (SELECT * FROM marked WHERE event_type = 'view')
      SELECT ttl_s,
        CAST(sum(CASE WHEN last_purchase_t IS NOT NULL THEN 1 ELSE 0 END)
          AS BIGINT) AS n_warm_reads,
        CAST(sum(CASE WHEN last_purchase_t IS NOT NULL
              AND t - last_purchase_t > ttl_s THEN 1 ELSE 0 END)
          AS BIGINT) AS n_stale,
        CAST(CASE WHEN sum(CASE WHEN last_purchase_t IS NOT NULL
                THEN 1 ELSE 0 END) > 0
          THEN sum(CASE WHEN last_purchase_t IS NOT NULL
                AND t - last_purchase_t > ttl_s THEN 1 ELSE 0 END) * 1000000
            // sum(CASE WHEN last_purchase_t IS NOT NULL THEN 1 ELSE 0 END)
          ELSE 0 END AS BIGINT) AS stale_ppm,
        CAST(sum(CASE WHEN last_purchase_t IS NULL THEN 1 ELSE 0 END)
          AS BIGINT) AS n_cold
      FROM v CROSS JOIN grid GROUP BY ttl_s ORDER BY ttl_s
    """))

  override def defs: Seq[QueryDef] = Seq(q645, q646, q647)
}
