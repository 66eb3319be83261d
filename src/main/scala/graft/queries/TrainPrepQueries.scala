package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Deterministic.cents
import graft.queries.SqlMacros._
import graft.text.TextFunctions

/** Round-4 training-data preparation operators: context-window chunking,
  * BPE merge statistics, position-based attribution, and a skyline
  * (pareto-frontier) query.
  *
  * All outputs are integers/strings (money in exact cents) so the DuckDB
  * hash-compare is bit-exact; every query carries a total ORDER BY.
  */
object TrainPrepQueries extends QueryGroup {

  /** Overlapping context-window chunking (RAG / pretraining prep): each
    * document's token stream splits into windows of 32 tokens with
    * stride 24 (8-token overlap).
    *
    * Scale shape: tokenize once (narrow, codegen'd), generate chunk
    * starts with `sequence` and explode — a generator whose output is
    * ~n_tokens/stride rows per doc, never a self-join or a window over
    * the corpus. Chunk extraction is `slice` on the already-split array;
    * the document body is scanned exactly once and nothing shuffles
    * (the final ORDER BY is presentation-only). */
  private val q103 = QueryDef(
    "q103_text_chunking",
    (spark, dir) => {
      Tables.documents(spark, dir)
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("toks"),
          size(col("toks")).cast("long").as("n"))
        .filter(col("n") > 0)
        .select(col("doc_id"), col("toks"), col("n"),
          explode(expr("sequence(0L, n - 1L, 24L)")).as("start"))
        .select(
          col("doc_id"),
          expr("start div 24").as("chunk_idx"),
          col("start"),
          expr("slice(toks, CAST(start + 1 AS INT), 32)").as("chunk"))
        .select(
          col("doc_id"), col("chunk_idx"), col("start"),
          size(col("chunk")).cast("long").as("chunk_len"),
          element_at(col("chunk"), 1).as("first_tok"),
          element_at(col("chunk"), -1).as("last_tok"))
        .orderBy("doc_id", "chunk_idx")
    },
    Some(s"""
      WITH t AS (
        SELECT doc_id,
          $duckTokens AS toks
        FROM documents),
      n AS (
        SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n
        FROM t WHERE len(toks) > 0),
      c AS (
        SELECT doc_id, n, CAST(s.start AS BIGINT) AS start,
          list_slice(toks, CAST(s.start + 1 AS BIGINT),
                     CAST(s.start + 32 AS BIGINT)) AS chunk
        FROM n, LATERAL (SELECT unnest(range(0, n, 24)) AS start) s)
      SELECT doc_id, start // 24 AS chunk_idx, start,
        CAST(len(chunk) AS BIGINT) AS chunk_len,
        chunk[1] AS first_tok,
        chunk[-1] AS last_tok
      FROM c ORDER BY doc_id, chunk_idx
    """))

  /** One BPE merge iteration: corpus-weighted adjacent character-pair
    * counts, top-50. The classic tokenizer-training inner loop.
    *
    * Scale shape: aggregate to the DISTINCT word vocabulary first (the
    * standard BPE trick — pair extraction runs over vocabulary-sized
    * data weighted by word frequency, not over the corpus), then one
    * generator + one hash aggregation. The corpus is scanned once; the
    * only shuffles key on word then pair, both map-side combined. */
  private val q104 = QueryDef(
    "q104_bpe_pair_stats",
    (spark, dir) => {
      Tables.documents(spark, dir)
        .select(explode(TextFunctions.tokens(col("text"))).as("w"))
        .groupBy(col("w"))
        .agg(count(lit(1)).as("wc"))
        .filter(length(col("w")) >= 2)
        .select(col("w"), col("wc"),
          explode(expr("sequence(1, length(w) - 1)")).as("i"))
        .select(expr("substring(w, i, 2)").as("pair"), col("wc"))
        .groupBy(col("pair"))
        .agg(sum(col("wc")).as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(50)
    },
    Some(s"""
      WITH w AS (
        SELECT unnest($duckTokens) AS w
        FROM documents),
      wc AS (SELECT w, count(*) AS wc FROM w GROUP BY w),
      p AS (
        SELECT substring(w, CAST(i.i AS INTEGER), 2) AS pair, wc
        FROM wc, LATERAL (SELECT unnest(range(1, len(w))) AS i) i
        WHERE len(w) >= 2)
      SELECT pair, CAST(sum(wc) AS BIGINT) AS n
      FROM p GROUP BY pair ORDER BY n DESC, pair LIMIT 50
    """))

  /** Position-based (U-shaped) multi-touch attribution: each purchase
    * credits 40% to the user's first view in the preceding hour, 40% to
    * the last, and splits the remaining 20% across middle touches —
    * all in exact integer cents with an explicit remainder column so
    * credit conservation (first+last+mid·n+rem = value) is auditable.
    *
    * Scale shape: [[AuditQueries.viewTouches]], the coarse-hour-bucket
    * equi-join first-touch attribution (q85) runs — purchases meet only
    * views from their own or the previous hour bucket, never a user's
    * full history — then one hash aggregation per purchase. */
  private val q105 = QueryDef(
    "q105_position_attribution",
    (spark, dir) => {
      AuditQueries.viewTouches(spark, dir)
        .groupBy(col("user_id"), col("purchase_id"), col("vc"))
        .agg(
          count(lit(1)).as("n_touch"),
          min(struct(col("v_ts"), col("view_id"))).as("first"),
          max(struct(col("v_ts"), col("view_id"))).as("last"))
        .select(
          col("user_id"), col("purchase_id"), col("vc").as("value_cents"),
          col("n_touch"),
          col("first.view_id").as("first_view_id"),
          col("last.view_id").as("last_view_id"),
          when(col("n_touch") === 1, col("vc"))
            .otherwise(expr("vc * 40 div 100")).as("first_credit"),
          when(col("n_touch") === 1, lit(0L))
            .otherwise(expr("vc * 40 div 100")).as("last_credit"),
          when(col("n_touch") <= 2, lit(0L))
            .otherwise(expr(
              "(vc - 2 * (vc * 40 div 100)) div (n_touch - 2)")).as("mid_each"),
          when(col("n_touch") === 1, lit(0L))
            .when(col("n_touch") === 2, expr("vc - 2 * (vc * 40 div 100)"))
            .otherwise(expr(
              "(vc - 2 * (vc * 40 div 100)) % (n_touch - 2)")).as("mid_rem"))
        .orderBy("user_id", "purchase_id")
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_id, event_type,
          CAST(epoch_ms(ts) // 1000 AS BIGINT) AS ts_s,
          CAST(floor(value*100 + 0.5) AS BIGINT) AS vc
        FROM events),
      p AS (
        SELECT user_id, event_id AS purchase_id, ts_s AS p_ts, vc
        FROM e WHERE event_type = 'purchase'),
      v AS (
        SELECT user_id, event_id AS view_id, ts_s AS v_ts
        FROM e WHERE event_type = 'view'),
      g AS (
        SELECT p.user_id, p.purchase_id, p.vc,
          count(*) OVER w_all AS n_touch,
          first_value(v.view_id) OVER w_ord AS first_view_id,
          last_value(v.view_id) OVER (w_ord ROWS BETWEEN UNBOUNDED
            PRECEDING AND UNBOUNDED FOLLOWING) AS last_view_id
        FROM p JOIN v ON p.user_id = v.user_id
          AND v.v_ts <= p.p_ts AND v.v_ts > p.p_ts - 3600
        WINDOW w_all AS (PARTITION BY p.purchase_id),
               w_ord AS (PARTITION BY p.purchase_id ORDER BY v.v_ts, v.view_id)
        QUALIFY row_number() OVER w_ord = 1)
      SELECT user_id, purchase_id, vc AS value_cents, n_touch,
        first_view_id,
        last_view_id,
        CASE WHEN n_touch = 1 THEN vc ELSE vc * 40 // 100 END AS first_credit,
        CASE WHEN n_touch = 1 THEN 0 ELSE vc * 40 // 100 END AS last_credit,
        CASE WHEN n_touch <= 2 THEN 0
             ELSE (vc - 2 * (vc * 40 // 100)) // (n_touch - 2) END AS mid_each,
        CASE WHEN n_touch = 1 THEN 0
             WHEN n_touch = 2 THEN vc - 2 * (vc * 40 // 100)
             ELSE (vc - 2 * (vc * 40 // 100)) % (n_touch - 2) END AS mid_rem
      FROM g ORDER BY user_id, purchase_id
    """))

  /** Pareto frontier (skyline): part sizes not dominated on the
    * (cheaper, larger) axes — a size is on the frontier iff its best
    * price beats the best price of every strictly larger size.
    *
    * Scale shape: the corpus collapses FIRST to one row per distinct
    * size (hash aggregation with map-side combine — the only pass over
    * the data), and the dominance test is a running-min window over
    * those vocabulary-sized aggregates, not a self-join over parts.
    * The unpartitioned window is sanctioned: it runs on ≤ |distinct
    * sizes| rows (~50), never on the corpus. */
  private val q106 = QueryDef(
    "q106_pareto_frontier",
    (spark, dir) => {
      val bySize = Tables.part(spark, dir)
        .groupBy(col("p_size"))
        .agg(
          min(cents(col("p_retailprice"))).as("best_cents"),
          count(lit(1)).as("n_parts"))
      val wLarger = Window.orderBy(col("p_size").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      bySize
        .withColumn("min_larger", min(col("best_cents")).over(wLarger))
        .filter(col("min_larger").isNull ||
          col("best_cents") < col("min_larger"))
        .select(col("p_size"), col("best_cents"), col("n_parts"))
        .orderBy("p_size")
    },
    Some("""
      WITH a AS (
        SELECT p_size,
          min(CAST(floor(p_retailprice*100 + 0.5) AS BIGINT)) AS best_cents,
          count(*) AS n_parts
        FROM part GROUP BY p_size),
      f AS (
        SELECT *, min(best_cents) OVER (
          ORDER BY p_size DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ml
        FROM a)
      SELECT p_size, best_cents, n_parts
      FROM f WHERE ml IS NULL OR best_cents < ml
      ORDER BY p_size
    """))

  /** Token-budget allocation plan: given a training budget of half the
    * corpus tokens split as an equal per-source quota, how many epochs
    * of each source does its quota demand (ppm: 1 000 000 = one pass),
    * how much can actually be served under a 4-epoch repetition cap
    * (the empirical limit before repeated data degrades an LLM), and
    * the shortfall that must be re-sourced. The planning table behind
    * q70's mixture sampler: q70 executes a feasible plan, this query
    * exposes WHERE the requested mixture is infeasible.
    *
    * Scale shape: one scan → per-source token counts (map-side
    * combined, vocabulary-sized result); the corpus total and source
    * count come back as a broadcast one-row cross join. All planning
    * arithmetic is per-source integer math in decimal(38,0). */
  private val q159 = QueryDef(
    "q159_token_budget_plan",
    (spark, dir) => {
      val bySource = Tables.documents(spark, dir)
        .select(col("source"),
          size(TextFunctions.tokens(col("text"))).cast("long").as("tc"))
        .groupBy(col("source")).agg(sum(col("tc")).as("n_tokens"))
      val tot = bySource.agg(
        sum(col("n_tokens")).as("total_tokens"), count(lit(1)).as("n_sources"))
      bySource.crossJoin(broadcast(tot))
        .withColumn("quota", expr("(total_tokens div 2) div n_sources"))
        .select(col("source"), col("n_tokens"), col("quota"),
          expr("CAST(CAST(quota AS DECIMAL(38,0)) * 1000000 DIV n_tokens AS BIGINT)")
            .as("epochs_ppm"),
          least(col("quota"), col("n_tokens") * 4).as("served"),
          greatest(col("quota") - col("n_tokens") * 4, lit(0L)).as("shortfall"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH s AS (
        SELECT source,
          CAST(sum(len($duckTokens))
            AS BIGINT) AS n_tokens
        FROM documents GROUP BY source),
      tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        CAST(count(*) AS BIGINT) AS n_sources FROM s)
      SELECT source, n_tokens,
        CAST((total_tokens // 2) // n_sources AS BIGINT) AS quota,
        CAST(CAST((total_tokens // 2) // n_sources AS HUGEINT) * 1000000
          // n_tokens AS BIGINT) AS epochs_ppm,
        CAST(least((total_tokens // 2) // n_sources, n_tokens * 4) AS BIGINT)
          AS served,
        CAST(greatest((total_tokens // 2) // n_sources - n_tokens * 4, 0) AS BIGINT)
          AS shortfall
      FROM s CROSS JOIN tot
      ORDER BY source
    """))

  def defs: Seq[QueryDef] = Seq(q103, q104, q105, q106, q159)
}
