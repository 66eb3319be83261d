package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.SqlMacros._

/** Round-9 batch 1: corpus-growth laws — the three readouts that tell a
  * pretraining-data owner how a corpus's vocabulary behaves as it grows,
  * and therefore how tokenizer vocab size, embedding-table memory, and
  * dedup-index cardinality scale with ingestion. Heaps' law (vocabulary
  * vs corpus size), Good–Turing unseen mass (how much probability the
  * next document's tokens carry that the current vocab has never seen),
  * and a fixed-window type-token ratio (lexical diversity with the
  * document-length confound removed — MATTR's trick). All outputs exact
  * integers with total ORDER BYs for the oracle gate.
  */
object CorpusGrowthPlanQueries extends QueryGroup {

  // ---------------------------------------------------------------- q667

  /** Heaps'-law vocabulary growth: at corpus prefixes of 1/8, 1/4, 1/2
    * and all of the documents table (by doc_id ingestion order), how
    * many distinct tokens exist? Heaps' V(n) ≈ K·n^β says the
    * vocabulary-per-million-tokens column should FALL as the corpus
    * grows (β < 1); a flat column means the corpus keeps minting new
    * tokens linearly — a tokenizer-budget and dedup-index red flag.
    *
    * Scale shape: the prefix census never re-scans per prefix — each
    * token contributes its FIRST occurrence (min doc_id, a token-keyed
    * hash agg with map-side partial min), and each prefix then counts
    * first-occurrences under its cutoff via a 4-row broadcast grid.
    * Doc token counts come from size(split(...)) without exploding.
    * The only corpus-sized shuffle is the token→min(doc_id) agg. */
  private val q667 = QueryDef(
    "q667_heaps_vocab_growth",
    (spark, dir) => {
      val spark0 = spark
      import spark0.implicits._
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"),
          expr("CAST(size(filter(split(text, ' '), t -> t != '')) AS BIGINT)")
            .as("n_tok"))
      val nd = docs.agg((max(col("doc_id")) + lit(1L)).as("nd"))
      val grid = Seq(1L, 2L, 4L, 8L).toDF("f8")
      val thr = grid.crossJoin(broadcast(nd))
        .select(col("f8"), expr("nd * f8 div 8").as("cutoff"))
      val base = docs.crossJoin(broadcast(thr))
        .filter(col("doc_id") < col("cutoff"))
        .groupBy(col("f8"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      val firsts = Tables.documents(spark, dir)
        .select(col("doc_id"),
          explode(expr("filter(split(text, ' '), t -> t != '')")).as("tk"))
        .groupBy(col("tk")).agg(min(col("doc_id")).as("first_doc"))
      val vocab = firsts.crossJoin(broadcast(thr))
        .filter(col("first_doc") < col("cutoff"))
        .groupBy(col("f8")).agg(count(lit(1)).as("vocab"))
      base.join(vocab, Seq("f8"))
        .select(col("f8"), col("n_docs"), col("n_tokens"), col("vocab"),
          expr("vocab * 1000000 div n_tokens").as("vocab_per_mtoken"))
        .orderBy(col("f8"))
    },
    Some(s"""
      WITH docs AS (
        SELECT doc_id,
          CAST(len($duckTokens)
            AS BIGINT) AS n_tok
        FROM documents),
      mx AS (SELECT max(doc_id) + 1 AS nd FROM docs),
      grid(f8) AS (VALUES (CAST(1 AS BIGINT)), (CAST(2 AS BIGINT)),
        (CAST(4 AS BIGINT)), (CAST(8 AS BIGINT))),
      thr AS (SELECT f8, nd * f8 // 8 AS cutoff FROM grid CROSS JOIN mx),
      base AS (
        SELECT f8, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(n_tok) AS BIGINT) AS n_tokens
        FROM docs CROSS JOIN thr WHERE doc_id < cutoff GROUP BY f8),
      tok AS (
        SELECT doc_id,
          unnest($duckTokens) AS tk
        FROM documents),
      firsts AS (SELECT tk, min(doc_id) AS first_doc FROM tok GROUP BY tk),
      voc AS (
        SELECT f8, CAST(count(*) AS BIGINT) AS vocab
        FROM firsts CROSS JOIN thr WHERE first_doc < cutoff GROUP BY f8)
      SELECT b.f8 AS f8, n_docs, n_tokens, vocab,
        CAST(vocab * 1000000 // n_tokens AS BIGINT) AS vocab_per_mtoken
      FROM base b JOIN voc v ON b.f8 = v.f8
      ORDER BY b.f8
    """))

  // ---------------------------------------------------------------- q668

  /** Good–Turing unseen-mass estimate per source: the frequency-of-
    * frequencies fold (how many tokens occur exactly once, twice, ...)
    * and the Good–Turing coverage readout — unseen_ppm = f₁/N, the
    * estimated probability mass of tokens the NEXT document will
    * contain that this source has never produced. The companion
    * r₁*_milli = 2·f₂/f₁ (×1000) is the Good–Turing adjusted count for
    * hapaxes — how much a single sighting should be discounted when
    * this source's counts feed a language-model prior. Complements
    * q475 (Chao1 species richness from a SAMPLE): this is coverage of
    * the full table, per source, for smoothing — not a distinct-count
    * estimator.
    *
    * Scale shape: (source, token)-keyed hash agg with map-side partial
    * counts, then a source-keyed fold of the counts — the frequency-of-
    * frequencies table never materializes beyond the source dimension.
    * No token string leaves the first shuffle. */
  private val q668 = QueryDef(
    "q668_good_turing_unseen",
    (spark, dir) => {
      val cnt = Tables.documents(spark, dir)
        .select(col("source"),
          explode(expr("filter(split(text, ' '), t -> t != '')")).as("tk"))
        .groupBy(col("source"), col("tk")).agg(count(lit(1)).as("c"))
      cnt.groupBy(col("source"))
        .agg(sum(col("c")).as("n_tokens"),
          count(lit(1)).as("vocab"),
          sum(when(col("c") === 1L, 1L).otherwise(0L)).as("f1"),
          sum(when(col("c") === 2L, 1L).otherwise(0L)).as("f2"))
        .select(col("source"), col("n_tokens"), col("vocab"), col("f1"),
          col("f2"),
          expr("f1 * 1000000 div n_tokens").as("unseen_ppm"),
          expr("CASE WHEN f1 > 0 THEN 2 * f2 * 1000 div f1 ELSE 0 END")
            .as("r1_star_milli"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH tok AS (
        SELECT source,
          unnest($duckTokens) AS tk
        FROM documents),
      cnt AS (
        SELECT source, tk, CAST(count(*) AS BIGINT) AS c
        FROM tok GROUP BY source, tk),
      fof AS (
        SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
          CAST(count(*) AS BIGINT) AS vocab,
          CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
          CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
        FROM cnt GROUP BY source)
      SELECT source, n_tokens, vocab, f1, f2,
        CAST(f1 * 1000000 // n_tokens AS BIGINT) AS unseen_ppm,
        CAST(CASE WHEN f1 > 0 THEN 2 * f2 * 1000 // f1 ELSE 0 END
          AS BIGINT) AS r1_star_milli
      FROM fof ORDER BY source
    """))

  // ---------------------------------------------------------------- q669

  /** Fixed-window type-token ratio census per source: raw TTR
    * (distinct/total tokens) collapses as documents get longer, so
    * cross-source comparisons confound diversity with length; MATTR's
    * fix is a fixed-size window. Here: distinct tokens in each
    * document's FIRST 50 tokens over min(len, 50), in ppm, folded per
    * source to mean/min/max — the lexical-diversity panel a data-mixing
    * owner reads next to q668's coverage column.
    *
    * Scale shape: per-document scalar work only (slice + array_distinct
    * inside the scan projection — no explode, no window function), then
    * one source-keyed hash agg. Nothing corpus-sized crosses a shuffle
    * except the (source, ttr) pairs. */
  private val q669 = QueryDef(
    "q669_fixed_window_ttr",
    (spark, dir) => {
      val ttr = Tables.documents(spark, dir)
        .select(col("source"),
          expr("filter(split(text, ' '), t -> t != '')").as("tk"))
        .filter(size(col("tk")) >= 1)
        .select(col("source"),
          expr("CAST(size(array_distinct(slice(tk, 1, 50))) AS BIGINT)" +
            " * 1000000 div least(CAST(size(tk) AS BIGINT), 50)").as("ttr_ppm"))
      ttr.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          expr("sum(ttr_ppm) div count(1)").as("mean_ttr_ppm"),
          min(col("ttr_ppm")).as("min_ttr_ppm"),
          max(col("ttr_ppm")).as("max_ttr_ppm"))
        .select(col("source"), col("n_docs"), col("mean_ttr_ppm"),
          col("min_ttr_ppm"), col("max_ttr_ppm"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH t AS (
        SELECT source, $duckTokens AS tk
        FROM documents),
      ttr AS (
        SELECT source,
          CAST(len(list_distinct(list_slice(tk, 1, 50))) AS BIGINT) * 1000000
            // least(CAST(len(tk) AS BIGINT), 50) AS ttr_ppm
        FROM t WHERE len(tk) >= 1)
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(ttr_ppm) // count(*) AS BIGINT) AS mean_ttr_ppm,
        CAST(min(ttr_ppm) AS BIGINT) AS min_ttr_ppm,
        CAST(max(ttr_ppm) AS BIGINT) AS max_ttr_ppm
      FROM ttr GROUP BY source ORDER BY source
    """))

  override def defs: Seq[QueryDef] = Seq(q667, q668, q669)
}
