package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.SqlMacros._

/** Round-9 batch 3: stylometric source profiling — does each ingestion
  * source write like the others? Burrows-Delta-style fingerprint
  * distances over the corpus's own most-frequent words (authorship
  * attribution's workhorse, here repurposed as a source-drift and
  * source-mislabeling screen), a syllable-complexity census (the
  * readability signal feeding difficulty-aware data mixing), and a
  * cross-source bigram novelty audit (how much of a source's phrasing
  * is its own vs shared boilerplate — the content-level complement of
  * q655's document-level dup matrix). All exact integers.
  */
object StylePlanQueries extends QueryGroup {

  // ---------------------------------------------------------------- q673

  /** Function-word fingerprint distance: profile every source by its
    * per-million rate of the corpus's 8 globally most frequent tokens
    * (frequency desc, token asc tie-break — deterministic), then report
    * the pairwise L1 distance between profiles. Burrows' Delta uses
    * z-scores of exactly such high-frequency-word rates; the L1-of-ppm
    * form keeps it integer-exact. Near-zero distance between two
    * sources is a mislabeled-source / shared-pipeline flag.
    *
    * Scale shape: token counts are a (source, token) keyed hash agg;
    * the top-8 word list is a bounded TakeOrdered that then broadcasts;
    * profiles are source-dim × 8 rows; the pair matrix is (source
    * dim)²/2 rows joined through the 8-row word key. Nothing
    * corpus-sized crosses a shuffle after the first agg. */
  private val q673 = QueryDef(
    "q673_stylometric_fingerprint",
    (spark, dir) => {
      val tok = Tables.documents(spark, dir)
        .select(col("source"),
          explode(expr("filter(split(text, ' '), t -> t != '')")).as("tk"))
      val top8 = tok.groupBy(col("tk")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tk")).limit(8)
        .select(col("tk"))
      val totals = tok.groupBy(col("source")).agg(count(lit(1)).as("n_tok"))
      val counts = tok.join(broadcast(top8), Seq("tk"))
        .groupBy(col("source"), col("tk")).agg(count(lit(1)).as("c"))
      val dense = totals.crossJoin(broadcast(top8))
        .join(counts, Seq("source", "tk"), "left")
        .select(col("source"), col("tk"),
          expr("coalesce(c, 0) * 1000000 div n_tok").as("ppm"))
      val a = dense.select(col("source").as("s1"), col("tk"), col("ppm").as("p1"))
      val b = dense.select(col("source").as("s2"), col("tk"), col("ppm").as("p2"))
      a.join(b, Seq("tk")).filter(col("s1") < col("s2"))
        .groupBy(col("s1"), col("s2"))
        .agg(sum(abs(col("p1") - col("p2"))).as("l1_ppm"))
        .select(col("s1"), col("s2"), col("l1_ppm"))
        .orderBy(col("s1"), col("s2"))
    },
    Some(s"""
      WITH tok AS (
        SELECT source,
          unnest($duckTokens) AS tk
        FROM documents),
      top8 AS (
        SELECT tk FROM tok GROUP BY tk
        ORDER BY count(*) DESC, tk LIMIT 8),
      totals AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_tok
        FROM tok GROUP BY source),
      counts AS (
        SELECT source, tk, CAST(count(*) AS BIGINT) AS c
        FROM tok JOIN top8 USING (tk) GROUP BY source, tk),
      dense AS (
        SELECT t.source, g.tk,
          CAST(coalesce(c.c, 0) * 1000000 // t.n_tok AS BIGINT) AS ppm
        FROM totals t CROSS JOIN top8 g
        LEFT JOIN counts c ON c.source = t.source AND c.tk = g.tk)
      SELECT a.source AS s1, b.source AS s2,
        CAST(sum(abs(a.ppm - b.ppm)) AS BIGINT) AS l1_ppm
      FROM dense a JOIN dense b ON a.tk = b.tk AND a.source < b.source
      GROUP BY a.source, b.source ORDER BY s1, s2
    """))

  // ---------------------------------------------------------------- q674

  /** Syllable-complexity census per source: syllables approximated as
    * vowel groups (the classic heuristic — 'pipeline' → i/e/i → 3),
    * folded per source into mean syllables per word (milli), the
    * monosyllabic rate (FORCAST readability's sole input) and the
    * 3⁺-syllable rate (SMOG/Gunning-fog's "complex word" rate). The
    * integer stand-in for a readability score, feeding difficulty-aware
    * mixture weights without a float in sight.
    *
    * Scale shape: explode + one regexp per token inside the scan
    * projection, then a single source-keyed hash agg with map-side
    * partials; only (source, syllable-count) pairs cross the shuffle. */
  private val q674 = QueryDef(
    "q674_syllable_complexity_census",
    (spark, dir) => {
      val words = Tables.documents(spark, dir)
        .select(col("source"),
          explode(expr("filter(split(text, ' '), t -> t != '')")).as("tk"))
        .select(col("source"),
          expr("CAST(size(regexp_extract_all(tk, '[aeiou]+', 0)) AS BIGINT)")
            .as("syl"))
      words.groupBy(col("source"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("syl")).as("n_syllables"),
          sum(when(col("syl") <= 1L, 1L).otherwise(0L)).as("n_mono"),
          sum(when(col("syl") >= 3L, 1L).otherwise(0L)).as("n_poly3"))
        .select(col("source"), col("n_words"), col("n_syllables"),
          expr("n_syllables * 1000 div n_words").as("mean_syll_milli"),
          expr("n_mono * 1000000 div n_words").as("mono_ppm"),
          expr("n_poly3 * 1000000 div n_words").as("poly3_ppm"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH tok AS (
        SELECT source,
          unnest($duckTokens) AS tk
        FROM documents),
      words AS (
        SELECT source,
          CAST(len(regexp_extract_all(tk, '[aeiou]+', 0)) AS BIGINT) AS syl
        FROM tok)
      SELECT source, CAST(count(*) AS BIGINT) AS n_words,
        CAST(sum(syl) AS BIGINT) AS n_syllables,
        CAST(sum(syl) * 1000 // count(*) AS BIGINT) AS mean_syll_milli,
        CAST(sum(CASE WHEN syl <= 1 THEN 1 ELSE 0 END) * 1000000
          // count(*) AS BIGINT) AS mono_ppm,
        CAST(sum(CASE WHEN syl >= 3 THEN 1 ELSE 0 END) * 1000000
          // count(*) AS BIGINT) AS poly3_ppm
      FROM words GROUP BY source ORDER BY source
    """))

  // ---------------------------------------------------------------- q675

  /** Cross-source bigram novelty: per source, how many of its DISTINCT
    * word bigrams occur in no other source? A high exclusive rate means
    * the source contributes genuinely new phrasing to the mix; a low
    * one means it re-treads shared boilerplate — the content-level
    * complement of q655's document-level cross-source dup matrix and
    * q68's decontamination overlap.
    *
    * Scale shape: (source, bigram) pairs dedup in a keyed hash agg
    * (map-side partial distinct); the source-spread per bigram is a
    * second bigram-keyed agg; the readout folds to the source
    * dimension. Bigram STRINGS cross the shuffle once, never the
    * documents. */
  private val q675 = QueryDef(
    "q675_cross_source_bigram_novelty",
    (spark, dir) => {
      val inst = Tables.documents(spark, dir)
        .select(col("source"),
          expr("filter(split(text, ' '), t -> t != '')").as("w"))
        .filter(size(col("w")) >= 2)
        .select(col("source"), explode(expr(
          "transform(sequence(1, size(w)-1)," +
            " i -> concat(element_at(w, i), ' ', element_at(w, i+1)))")).as("b"))
        .distinct()
      val spread = inst.groupBy(col("b")).agg(count(lit(1)).as("ns"))
      inst.join(spread, Seq("b"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_bigrams"),
          sum(when(col("ns") === 1L, 1L).otherwise(0L)).as("n_exclusive"))
        .select(col("source"), col("n_bigrams"), col("n_exclusive"),
          expr("n_exclusive * 1000000 div n_bigrams").as("exclusive_ppm"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH d AS (
        SELECT source, $duckTokens AS w
        FROM documents),
      inst AS (
        SELECT DISTINCT source, w[i] || ' ' || w[i+1] AS b
        FROM d, LATERAL (SELECT unnest(range(1, len(w))) AS i) r
        WHERE len(w) >= 2),
      spread AS (SELECT b, CAST(count(*) AS BIGINT) AS ns FROM inst GROUP BY b)
      SELECT source, CAST(count(*) AS BIGINT) AS n_bigrams,
        CAST(sum(CASE WHEN ns = 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_exclusive,
        CAST(sum(CASE WHEN ns = 1 THEN 1 ELSE 0 END) * 1000000 // count(*)
          AS BIGINT) AS exclusive_ppm
      FROM inst JOIN spread USING (b)
      GROUP BY source ORDER BY source
    """))

  override def defs: Seq[QueryDef] = Seq(q673, q674, q675)
}
