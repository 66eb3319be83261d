package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.SqlMacros._

/** Round-8 batch 4: dedup POLICY analytics — once duplicates are found
  * (q20/q21/q56 territory), which copy should survive, which sources
  * trade duplicates with which, and how much memorization exposure the
  * duplication mass actually carries. The decisions a corpus curator
  * makes after the dedup run, not during it. All digests are md5(text)
  * / token-prefix strings both engines compute identically; outputs
  * exact integers with total ORDER BYs.
  */
object DedupPolicyPlanQueries extends QueryGroup {

  // ---------------------------------------------------------------- q654

  /** Keep-policy delta census: cluster documents by their first 8
    * tokens (the "same boilerplate head, different tail" near-dup
    * class where survivor choice actually matters — exact-dup clusters
    * have identical texts, so any policy keeps the same bytes) and
    * compare the two standard survivor policies: KEEP-FIRST (min
    * doc_id — stable, reproducible) vs KEEP-LONGEST (max n_chars, tie
    * min doc_id — retains the most content). Reports how many
    * multi-doc clusters the policies disagree on and the exact
    * character cost of choosing stability over content.
    *
    * Scale shape: one scan; the cluster fold is a keyed hash agg on
    * the prefix digest (the q20 discipline); survivor picks are
    * min/max-of-struct aggregates inside the same fold — no windows,
    * no second pass; readout is 1 row. */
  private val q654 = QueryDef(
    "q654_keep_policy_delta",
    (spark, dir) => {
      val clusters = Tables.documents(spark, dir)
        .select(col("doc_id"), col("n_chars"),
          expr("filter(split(text, ' '), t -> t != '')").as("tk"))
        .filter(size(col("tk")) >= 8)
        .select(col("doc_id"), col("n_chars"),
          expr("array_join(slice(tk, 1, 8), ' ')").as("head8"))
        .groupBy(col("head8"))
        .agg(count(lit(1)).as("c"),
          min(struct(col("doc_id"), col("n_chars"))).as("first_pick"),
          max(struct(col("n_chars"), (-col("doc_id")).as("nid"))).as("long_pick"))
        .select(col("c"),
          col("first_pick.doc_id").as("first_id"),
          col("first_pick.n_chars").as("first_chars"),
          (-col("long_pick.nid")).as("long_id"),
          col("long_pick.n_chars").as("long_chars"))
      clusters.agg(
          count(lit(1)).as("n_clusters"),
          sum(when(col("c") >= 2L, 1L).otherwise(0L)).as("n_multi_clusters"),
          sum(when(col("c") >= 2L && col("first_id") =!= col("long_id"), 1L)
            .otherwise(0L)).as("n_policy_differs"),
          sum(col("first_chars")).as("keep_first_chars"),
          sum(col("long_chars")).as("keep_longest_chars"))
        .select(col("n_clusters"), col("n_multi_clusters"),
          col("n_policy_differs"),
          col("keep_first_chars"), col("keep_longest_chars"),
          (col("keep_longest_chars") - col("keep_first_chars"))
            .as("chars_delta"))
    },
    Some(s"""
      WITH tok AS (
        SELECT doc_id, n_chars,
          $duckTokens AS tk
        FROM documents),
      heads AS (
        SELECT doc_id, n_chars,
          array_to_string(list_slice(tk, 1, 8), ' ') AS head8
        FROM tok WHERE len(tk) >= 8),
      cl0 AS (
        SELECT head8, CAST(count(*) AS BIGINT) AS c,
          CAST(min(doc_id) AS BIGINT) AS first_id,
          CAST(arg_min(n_chars, doc_id) AS BIGINT) AS first_chars,
          CAST(max(n_chars) AS BIGINT) AS long_chars
        FROM heads GROUP BY head8),
      cl AS (
        SELECT c0.head8, c0.c, c0.first_id, c0.first_chars, c0.long_chars,
          CAST(min(h.doc_id) AS BIGINT) AS long_id
        FROM cl0 c0 JOIN heads h
          ON h.head8 = c0.head8 AND h.n_chars = c0.long_chars
        GROUP BY 1, 2, 3, 4, 5)
      SELECT CAST(count(*) AS BIGINT) AS n_clusters,
        CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_multi_clusters,
        CAST(sum(CASE WHEN c >= 2 AND first_id <> long_id THEN 1 ELSE 0 END)
          AS BIGINT) AS n_policy_differs,
        CAST(sum(first_chars) AS BIGINT) AS keep_first_chars,
        CAST(sum(long_chars) AS BIGINT) AS keep_longest_chars,
        CAST(sum(long_chars) - sum(first_chars) AS BIGINT) AS chars_delta
      FROM cl
    """))

  // ---------------------------------------------------------------- q655

  /** Cross-source duplication matrix: which source pairs share
    * boilerplate? A head cluster (md5 of the first 4 tokens) spanning
    * sources A and B means the same opening text was ingested through
    * both pipelines — the matrix tells the curator which feeds to
    * dedup against each other FIRST (and, at 100 TB, which pairs can
    * be deduped independently because their cell is zero).
    * Upper-triangle pairs only. (The synthetic corpus has no EXACT
    * cross-source duplicates — verified at round 8 — so the head
    * digest is both the realistic boilerplate detector and the
    * non-degenerate one.)
    *
    * Scale shape: the corpus folds to DISTINCT (digest, source) —
    * digest-keyed, the q20 class; the pair join is per-digest with
    * fan-out bounded by the SOURCE dimension (≤ C(|sources|, 2) pairs
    * per digest — never doc×doc); readout is the bounded source-pair
    * matrix. */
  private val q655 = QueryDef(
    "q655_dup_source_matrix",
    (spark, dir) => {
      val ds = Tables.documents(spark, dir)
        .select(col("source"),
          expr("filter(split(text, ' '), t -> t != '')").as("tk"))
        .filter(size(col("tk")) >= 4)
        .select(md5(expr("array_join(slice(tk, 1, 4), ' ')")).as("digest"),
          col("source"))
        .distinct()
      ds.as("a").join(ds.as("b"),
          col("a.digest") === col("b.digest")
            && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
        .agg(count(lit(1)).as("n_shared_clusters"))
        .orderBy(col("source_a"), col("source_b"))
    },
    Some(s"""
      WITH tok AS (
        SELECT source, $duckTokens AS tk
        FROM documents),
      ds AS (
        SELECT DISTINCT
          md5(array_to_string(list_slice(tk, 1, 4), ' ')) AS digest, source
        FROM tok WHERE len(tk) >= 4)
      SELECT a.source AS source_a, b.source AS source_b,
        CAST(count(*) AS BIGINT) AS n_shared_clusters
      FROM ds a JOIN ds b ON a.digest = b.digest AND a.source < b.source
      GROUP BY 1, 2 ORDER BY 1, 2
    """))

  // ---------------------------------------------------------------- q656

  /** Duplication-exposure census: bucket head clusters (q654's
    * 8-token boilerplate key) by log₂(copies) and report, per bucket,
    * the cluster count, document count, and the REDUNDANT character
    * mass (total chars minus the longest member — what keep-longest
    * dedup would delete). Memorization risk grows with copy count
    * (Carlini et al.: extraction probability rises log-linearly in
    * duplication), so the high buckets are both the cheapest storage
    * win and the largest exposure — this census is the prioritized
    * worklist.
    *
    * Scale shape: one scan folds to per-digest (count, chars) — keyed
    * hash agg; the census folds those to ≤ ~30 log buckets. */
  private val q656 = QueryDef(
    "q656_dup_exposure_census",
    (spark, dir) => {
      val cl = Tables.documents(spark, dir)
        .select(col("n_chars"),
          expr("filter(split(text, ' '), t -> t != '')").as("tk"))
        .filter(size(col("tk")) >= 8)
        .select(md5(expr("array_join(slice(tk, 1, 8), ' ')")).as("digest"),
          col("n_chars"))
        .groupBy(col("digest"))
        .agg(count(lit(1)).as("c"), sum(col("n_chars")).as("sum_chars"),
          max(col("n_chars")).as("max_chars"))
      cl.groupBy(expr("CAST(length(bin(c)) - 1 AS BIGINT)").as("log2_copies"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("c")).as("n_docs"),
          sum(col("sum_chars") - col("max_chars")).as("redundant_chars"),
          max(col("c")).as("max_copies"))
        .orderBy(col("log2_copies"))
    },
    Some(s"""
      WITH tok AS (
        SELECT n_chars, $duckTokens AS tk
        FROM documents),
      cl AS (
        SELECT md5(array_to_string(list_slice(tk, 1, 8), ' ')) AS digest,
          CAST(count(*) AS BIGINT) AS c,
          CAST(sum(n_chars) AS BIGINT) AS sum_chars,
          CAST(max(n_chars) AS BIGINT) AS max_chars
        FROM tok WHERE len(tk) >= 8 GROUP BY 1)
      SELECT CAST(length(bin(c)) - 1 AS BIGINT) AS log2_copies,
        CAST(count(*) AS BIGINT) AS n_clusters,
        CAST(sum(c) AS BIGINT) AS n_docs,
        CAST(sum(sum_chars - max_chars) AS BIGINT) AS redundant_chars,
        CAST(max(c) AS BIGINT) AS max_copies
      FROM cl GROUP BY 1 ORDER BY 1
    """))

  override def defs: Seq[QueryDef] = Seq(q654, q655, q656)
}
