package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Deterministic.epochS
import graft.functions.expressions.tokens_native
import graft.queries.SqlMacros._
import graft.similarity.Ivf

/** Round-4 lateness/fidelity operators: per-key watermark laggard
  * census, the tokenize→detokenize round-trip certificate, and the IVF
  * cell-balance audit — stragglers, lossless text plumbing, and index
  * skew, deterministic for the oracle gate.
  */
object LatenessQueries extends QueryGroup {

  // ---------------------------------------------------------------- q464

  /** Watermark laggard census: per user, how far their latest event
    * trails the stream's global maximum event time — the per-key lag
    * distribution (p50/p90/p99/max by exact rank selection) plus the
    * count of keys lagging more than a day. In a keyed streaming job
    * these laggards are what hold back a min-across-keys watermark (or
    * get their state expired): q298 sweeps the allowed-lateness dial,
    * this names the keys that make the dial matter.
    *
    * Scale shape: one events scan folds to per-user max times; the lag
    * histogram (q36's rank-selection shape) is user-count-sized; the
    * global max rides a one-row broadcast. */
  private val q464 = QueryDef(
    "q464_watermark_laggards",
    (spark, dir) => {
      val lastSeen = Tables.events(spark, dir)
        .select(col("user_id"), epochS(col("ts")).as("s"))
        .groupBy(col("user_id")).agg(max(col("s")).as("last_s"))
      val tmax = lastSeen.agg(max(col("last_s")).as("tmax"))
      val lags = lastSeen.crossJoin(broadcast(tmax))
        .select((col("tmax") - col("last_s")).as("lag_s"))
      val hist = lags.groupBy(col("lag_s")).agg(count(lit(1)).as("cnt"))
      hist
        .withColumn("cum", sum(col("cnt")).over(Window.orderBy(col("lag_s"))))
        .withColumn("n", sum(col("cnt")).over())
        .agg(
          max(col("n")).as("n_users"),
          min(when(col("cum") * 100L >= col("n") * 50L, col("lag_s"))).as("p50_lag_s"),
          min(when(col("cum") * 100L >= col("n") * 90L, col("lag_s"))).as("p90_lag_s"),
          min(when(col("cum") * 100L >= col("n") * 99L, col("lag_s"))).as("p99_lag_s"),
          max(col("lag_s")).as("max_lag_s"),
          sum(when(col("lag_s") > 86400L, col("cnt")).otherwise(0L))
            .as("n_over_1d"))
    },
    Some("""
      WITH last_seen AS (
        SELECT user_id, max(epoch_ms(ts) // 1000) AS last_s
        FROM events GROUP BY user_id),
      tm AS (SELECT max(last_s) AS tmax FROM last_seen),
      lags AS (
        SELECT tmax - last_s AS lag_s FROM last_seen CROSS JOIN tm),
      hist AS (SELECT lag_s, count(*) AS cnt FROM lags GROUP BY lag_s),
      cum AS (
        SELECT lag_s, cnt,
          sum(cnt) OVER (ORDER BY lag_s) AS cum,
          sum(cnt) OVER () AS n
        FROM hist)
      SELECT CAST(max(n) AS BIGINT) AS n_users,
        CAST(min(CASE WHEN cum * 100 >= n * 50 THEN lag_s END) AS BIGINT)
          AS p50_lag_s,
        CAST(min(CASE WHEN cum * 100 >= n * 90 THEN lag_s END) AS BIGINT)
          AS p90_lag_s,
        CAST(min(CASE WHEN cum * 100 >= n * 99 THEN lag_s END) AS BIGINT)
          AS p99_lag_s,
        CAST(max(lag_s) AS BIGINT) AS max_lag_s,
        CAST(sum(CASE WHEN lag_s > 86400 THEN cnt ELSE 0 END) AS BIGINT)
          AS n_over_1d
      FROM cum
    """))

  // ---------------------------------------------------------------- q465

  /** Tokenize→detokenize round-trip certificate: joining a document's
    * tokens back with single spaces must reproduce its whitespace-
    * NORMALIZED text exactly (the q46 normal form) — the losslessness
    * contract under every token-level operator in this library (counts,
    * shingles, BPE, packing). Certified per source: docs, exact
    * round-trips, ppm — any loss means a token operator silently sees
    * different text than the storage layer.
    *
    * Scale shape: one scan, two codegen'd string kernels per row, one
    * per-source fold — no joins, no shuffles beyond the fold. */
  private val q465 = QueryDef(
    "q465_tokenize_roundtrip_certificate",
    (spark, dir) => {
      val norm = trim(regexp_replace(col("text"), " +", " "))
      Tables.documents(spark, dir)
        .select(col("source"),
          (array_join(tokens_native(col("text")), " ") === norm)
            .cast("long").as("ok"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("ok")).as("n_exact"))
        .withColumn("roundtrip_ppm", expr("n_exact * 1000000 div n_docs"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH rt AS (
        SELECT source,
          CASE WHEN array_to_string($duckTokens, ' ')
            = trim(regexp_replace(text, ' +', ' ', 'g'))
          THEN 1 ELSE 0 END AS ok
        FROM documents)
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(ok) AS BIGINT) AS n_exact,
        CAST(sum(ok) * 1000000 // count(*) AS BIGINT) AS roundtrip_ppm
      FROM rt GROUP BY source
      ORDER BY source
    """))

  // ---------------------------------------------------------------- q466

  /** IVF cell-balance audit: the k = 8 learned cells (q74's index)
    * sized against the perfectly-balanced mean — per cell the vector
    * count, its ratio-to-mean ×1000, and the largest-cell flag. Probe
    * cost under nprobe = 1 is proportional to the PROBED cell, so the
    * max ratio IS the worst-case latency multiplier; heavy imbalance
    * says re-seed or split cells (q288 caps graph hubs; this audits the
    * ANN index's hubs).
    *
    * Scale shape: the assignment scan folds to k rows; everything
    * after is k-sized with a one-row broadcast total. */
  private val q466 = QueryDef(
    "q466_ivf_cell_balance",
    (spark, dir) => {
      val (assignments, _) =
        Ivf.build(Tables.embeddings(spark, dir), "vec_id", "embedding", k = 8)
      val sizes = assignments.groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_vectors"))
      val tot = sizes.agg(sum(col("n_vectors")).as("total"),
        max(col("n_vectors")).as("biggest"))
      sizes.crossJoin(broadcast(tot))
        .select(col("cluster"), col("n_vectors"),
          expr("n_vectors * 8 * 1000 div total").as("ratio_to_mean_milli"),
          (col("n_vectors") === col("biggest")).cast("long").as("is_largest"))
        .orderBy(col("cluster"))
    },
    Some(s"""
      WITH ${GraphQueries.duckIvfAssigned},
      sizes AS (
        SELECT cluster, CAST(count(*) AS BIGINT) AS n_vectors
        FROM assigned GROUP BY cluster),
      tot AS (
        SELECT CAST(sum(n_vectors) AS BIGINT) AS total,
          CAST(max(n_vectors) AS BIGINT) AS biggest
        FROM sizes)
      SELECT CAST(cluster AS BIGINT) AS cluster, n_vectors,
        n_vectors * 8 * 1000 // total AS ratio_to_mean_milli,
        CAST(CASE WHEN n_vectors = biggest THEN 1 ELSE 0 END AS BIGINT)
          AS is_largest
      FROM sizes CROSS JOIN tot
      ORDER BY cluster
    """))

  override def defs: Seq[QueryDef] = Seq(q464, q465, q466)
}
