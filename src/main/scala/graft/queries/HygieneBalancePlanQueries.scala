package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Round-9 batch 6: corpus-hygiene and shard-balance analytics — the
  * label-consistency audit inside exact-duplicate clusters (identical
  * text carrying different lang/source labels is measurable label noise,
  * and the cluster majority is the cheapest relabeler), the segregation
  * indices that tell a sharding owner how evenly languages spread across
  * sources (an uneven spread means per-shard mixture weights diverge
  * from the global recipe). All exact integers. (An arrival-order
  * inversion census was drafted and dropped: the events generator
  * assigns event_id in strict per-user AND global timestamp order, so
  * the statistic is identically zero at every SF — verified by direct
  * count at sf0.01; q464 already covers lateness against a fixed
  * watermark.)
  */
object HygieneBalancePlanQueries extends QueryGroup {

  // ---------------------------------------------------------------- q682

  /** Label conflicts inside exact-duplicate clusters: md5-keyed text
    * clusters where members disagree on lang or source. Disagreeing
    * lang labels on identical text are label NOISE (q548 measures the
    * KNN-visible kind; this is the provable kind), and the cluster
    * majority rescues all but (n − majority) members. The one-row
    * census a curation owner reads before trusting per-lang mixture
    * weights.
    *
    * Scale shape: digest-keyed hash aggs only (the q20 exact-dedup
    * class): per-(digest, lang) counts fold into per-digest majority
    * stats; a second digest-keyed distinct-source agg joins on the
    * digest. No text beyond the 32-byte digest crosses a shuffle.
    *
    * SCALING (round-9 probe): 0.35 s at sf0.01 → 0.96 s at sf0.1 (10×
    * data, exponent ≈0.44 — md5-of-text scan bound, embarrassingly
    * parallel). */
  private val q682 = QueryDef(
    "q682_dup_label_conflicts",
    (spark, dir) => {
      val base = Tables.documents(spark, dir)
        .select(md5(col("text")).as("h"), col("lang"), col("source"))
      val perLang = base.groupBy(col("h"), col("lang"))
        .agg(count(lit(1)).as("c"))
      val clusters = perLang.groupBy(col("h"))
        .agg(sum(col("c")).as("n"), count(lit(1)).as("n_langs"),
          max(col("c")).as("max_lang"))
      val srcs = base.groupBy(col("h"))
        .agg(countDistinct(col("source")).as("n_sources"))
      clusters.join(srcs, Seq("h"))
        .agg(sum(col("n")).as("n_docs"),
          count(lit(1)).as("n_clusters"),
          sum(when(col("n") >= 2L, 1L).otherwise(0L)).as("n_multi"),
          sum(when(col("n_langs") >= 2L, 1L).otherwise(0L)).as("n_lang_conflict"),
          sum(when(col("n_sources") >= 2L, 1L).otherwise(0L)).as("n_source_conflict"),
          sum(when(col("n_langs") >= 2L, col("n") - col("max_lang"))
            .otherwise(0L)).as("relabel_docs"))
        .select(col("n_docs"), col("n_clusters"), col("n_multi"),
          col("n_lang_conflict"), col("n_source_conflict"), col("relabel_docs"),
          expr("relabel_docs * 1000000 div n_docs").as("relabel_ppm"))
    },
    Some("""
      WITH base AS (
        SELECT md5(text) AS h, lang, source FROM documents),
      per_lang AS (
        SELECT h, lang, CAST(count(*) AS BIGINT) AS c
        FROM base GROUP BY h, lang),
      clusters AS (
        SELECT h, CAST(sum(c) AS BIGINT) AS n,
          CAST(count(*) AS BIGINT) AS n_langs,
          CAST(max(c) AS BIGINT) AS max_lang
        FROM per_lang GROUP BY h),
      srcs AS (
        SELECT h, CAST(count(DISTINCT source) AS BIGINT) AS n_sources
        FROM base GROUP BY h)
      SELECT CAST(sum(n) AS BIGINT) AS n_docs,
        CAST(count(*) AS BIGINT) AS n_clusters,
        CAST(sum(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_multi,
        CAST(sum(CASE WHEN n_langs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_lang_conflict,
        CAST(sum(CASE WHEN n_sources >= 2 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_source_conflict,
        CAST(sum(CASE WHEN n_langs >= 2 THEN n - max_lang ELSE 0 END)
          AS BIGINT) AS relabel_docs,
        CAST(sum(CASE WHEN n_langs >= 2 THEN n - max_lang ELSE 0 END)
          * 1000000 // sum(n) AS BIGINT) AS relabel_ppm
      FROM clusters JOIN srcs USING (h)
    """))

  // ---------------------------------------------------------------- q683

  /** Language evenness across sources: per language, the Duncan
    * dissimilarity index D (what fraction of this language's documents
    * would have to move to a different source to match the
    * rest-of-corpus distribution — 0 = perfectly even, 1e6 = fully
    * segregated) and the isolation index (the probability a random
    * same-source neighbor of a language-l document is also language l).
    * D is computed as one integer sum over the dense source×lang grid
    * with a SINGLE trailing division — exact; isolation floors once per
    * source term (documented, identical in the oracle).
    *
    * Scale shape: one (source, lang)-keyed corpus fold; everything
    * after runs on the dimension-sized grid (sources × languages),
    * densified by a dim×dim cross join. DECIMAL(38,0) quadratic
    * internals. */
  private val q683 = QueryDef(
    "q683_language_evenness",
    (spark, dir) => {
      val counts = Tables.documents(spark, dir)
        .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("n_sl"))
      val perLang = counts.groupBy(col("lang")).agg(sum(col("n_sl")).as("n_l"))
      val perSrc = counts.groupBy(col("source")).agg(sum(col("n_sl")).as("n_s"))
      val total = counts.agg(sum(col("n_sl")).as("n_tot"))
      val dense = perSrc.crossJoin(broadcast(perLang))
        .join(counts, Seq("source", "lang"), "left")
        .withColumn("n_sl", coalesce(col("n_sl"), lit(0L)))
        .crossJoin(broadcast(total))
      dense.groupBy(col("lang"))
        .agg(max(col("n_l")).as("n_docs_lang"), max(col("n_tot")).as("n_tot"),
          sum(expr("abs(CAST(n_sl AS DECIMAL(38,0)) * (n_tot - n_l)" +
            " - CAST(n_s - n_sl AS DECIMAL(38,0)) * n_l)")).as("d_num"),
          sum(expr("CAST(CAST(n_sl AS DECIMAL(38,0)) * n_sl * 1000000" +
            " div (CAST(n_l AS DECIMAL(38,0)) * n_s) AS BIGINT)"))
            .as("isolation_ppm"))
        .select(col("lang"), col("n_docs_lang"),
          expr("CAST(d_num * 1000000 div (2 * CAST(n_docs_lang AS DECIMAL(38,0))" +
            " * (n_tot - n_docs_lang)) AS BIGINT)").as("d_ppm"),
          col("isolation_ppm"))
        .orderBy(col("lang"))
    },
    Some("""
      WITH counts AS (
        SELECT source, lang, CAST(count(*) AS BIGINT) AS n_sl
        FROM documents GROUP BY source, lang),
      per_lang AS (SELECT lang, CAST(sum(n_sl) AS BIGINT) AS n_l
        FROM counts GROUP BY lang),
      per_src AS (SELECT source, CAST(sum(n_sl) AS BIGINT) AS n_s
        FROM counts GROUP BY source),
      total AS (SELECT CAST(sum(n_sl) AS BIGINT) AS n_tot FROM counts),
      dense AS (
        SELECT s.source, l.lang, l.n_l, s.n_s,
          coalesce(c.n_sl, 0) AS n_sl, (SELECT n_tot FROM total) AS n_tot
        FROM per_src s CROSS JOIN per_lang l
        LEFT JOIN counts c ON c.source = s.source AND c.lang = l.lang)
      SELECT lang, CAST(max(n_l) AS BIGINT) AS n_docs_lang,
        CAST(sum(abs(CAST(n_sl AS HUGEINT) * (n_tot - n_l)
            - CAST(n_s - n_sl AS HUGEINT) * n_l)) * 1000000
          // (2 * CAST(max(n_l) AS HUGEINT) * (max(n_tot) - max(n_l)))
          AS BIGINT) AS d_ppm,
        CAST(sum(CAST(CAST(n_sl AS HUGEINT) * n_sl * 1000000
          // (CAST(n_l AS HUGEINT) * n_s) AS BIGINT)) AS BIGINT)
          AS isolation_ppm
      FROM dense GROUP BY lang ORDER BY lang
    """))

  override def defs: Seq[QueryDef] = Seq(q682, q683)
}
