package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.SqlMacros._

/** Round-10 batch 2b: closed-form lexical-repetitiveness statistics over
  * the documents corpus — the size-robust complements of q154's
  * type-token panel (TTR falls with corpus size by construction; Yule's
  * K and Simpson's repeat rate are quadratic in the frequency SPECTRUM
  * and provably size-invariant under the urn model, which is why corpus
  * curation uses them to compare sources of different volumes).
  */
object LexiconPlanQueries extends QueryGroup {

  /** Yule's K per source: K = 10⁴·(Σ m²V_m − N)/N² over the token
    * frequency spectrum (V_m = number of types occurring m times,
    * N = token count) — high K means the source leans on few types
    * (template/boilerplate-prone), low K means broad vocabulary. A
    * corpus-mix dashboard number next to q667's Heaps exponent and
    * q673's stylometric fingerprint. Emitted as k_milli (K×1000), one
    * exact HUGEINT/decimal(38,0) floor both engines share.
    *
    * Scale shape: one explode+groupBy to the (source, token) count
    * table — the row-scale shuffle, map-side combined; the spectrum
    * moments fold per source (Σm², Σm over type rows, far smaller than
    * tokens); readout is sources-sized. Exact while 10⁷·S₂ < 10³⁸
    * (N ≲ 10¹⁵ tokens per source). */
  private val q698 = QueryDef(
    "q698_yules_k",
    (spark, dir) => {
      val tf = Tables.documents(spark, dir)
        .select(col("source"),
          explode(graft.text.TextFunctions.tokens(col("text"))).as("token"))
        .groupBy(col("source"), col("token"))
        .agg(count(lit(1)).as("m"))
      tf.groupBy(col("source"))
        .agg(sum(col("m")).as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum(col("m").cast("decimal(38,0)") * col("m")).as("s2"))
        .select(col("source"), col("n_tokens"), col("n_types"),
          expr("""CAST((s2 - n_tokens) * 10000000 div
              (CAST(n_tokens AS DECIMAL(38,0)) * n_tokens) AS BIGINT)""")
            .as("k_milli"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH tf AS (
        SELECT source, token, CAST(count(*) AS BIGINT) AS m
        FROM (SELECT source,
                unnest($duckTokens)
                  AS token
              FROM documents)
        GROUP BY source, token)
      SELECT source, CAST(sum(m) AS BIGINT) AS n_tokens,
        CAST(count(*) AS BIGINT) AS n_types,
        CAST((sum(CAST(m AS HUGEINT) * m) - sum(m)) * 10000000 //
          (CAST(sum(m) AS HUGEINT) * sum(m)) AS BIGINT) AS k_milli
      FROM tf GROUP BY source ORDER BY source
    """))

  // ---------------------------------------------------------------- q711

  /** TextTiling-lite topic-shift census: slice each document into
    * 32-token blocks, measure lexical cohesion between ADJACENT blocks
    * as squared cosine over term-frequency vectors (squared keeps the
    * arithmetic exact — dot²·10⁶ div (‖b‖²·‖b+1‖²), no sqrt), and call
    * a block boundary a TOPIC SHIFT when cohesion falls below 0.2
    * (cos < 0.45). The per-source shift density separates single-topic
    * sources from scrapbook ones — the structure signal next to
    * q698's repetitiveness and q667's vocabulary growth, and the
    * chunking-boundary prior a RAG splitter wants (q103/q482 split by
    * LENGTH; this says where meaning actually turns).
    *
    * Scale shape: one positional explode+groupBy to (doc, block, term)
    * counts — the row-scale shuffle, map-side combined; cohesion is a
    * (doc, term)-keyed adjacent-block self-join on the tf table; the
    * census folds to sources. Exact: block mass ≤ 32 ⇒ dot ≤ 1024,
    * dot²·10⁶ ≤ 10¹², BIGINT-safe at any SF. */
  private val q711 = QueryDef(
    "q711_texttiling_shift_census",
    (spark, dir) => {
      // r13: the whole block-cohesion computation runs INSIDE the row
      // (per-doc block tf maps + adjacent dot/norm folds in codegen'd
      // HOFs) — the former plan shuffled a corpus-scale (doc, blk, tok)
      // tf table and self-joined it twice just to pair structures the
      // document row already held adjacently. Same tf counts, same
      // dot/norm integers, same pair set (docs under 33 tokens have no
      // adjacent pair and are pruned at the scan). Only the ≤(len/32)
      // cohesion rows per doc ever leave the scan task (guide §2.3/§8;
      // plans/r13/q711_*.txt).
      val bm = expr("""
        transform(sequence(0, (size(tk) - 1) div 32),
          b -> aggregate(slice(tk, b * 32 + 1, 32),
            map_filter(map('', CAST(0 AS BIGINT)), (k, v) -> false),
            (m, t) -> map_concat(map_filter(m, (k, v) -> k != t),
              map(t, coalesce(try_element_at(m, t), CAST(0 AS BIGINT)) + 1))))""")
      val pairs = Tables.fanOut(Tables.documents(spark, dir))
        .select(col("source"),
          graft.text.TextFunctions.tokens(col("text")).as("tk"))
        .filter(size(col("tk")) >= 33)
        .withColumn("bm", bm)
        .select(col("source"), explode(expr("""
          transform(sequence(1, (size(tk) - 1) div 32), b ->
            named_struct(
              'dot', aggregate(map_keys(element_at(bm, CAST(b AS INT))),
                CAST(0 AS BIGINT),
                (acc, t) -> acc + element_at(element_at(bm, CAST(b AS INT)), t) *
                  coalesce(try_element_at(element_at(bm, CAST(b + 1 AS INT)), t),
                           CAST(0 AS BIGINT))),
              'nrm', aggregate(map_values(element_at(bm, CAST(b AS INT))),
                CAST(0 AS BIGINT), (acc, v) -> acc + v * v),
              'nrm2', aggregate(map_values(element_at(bm, CAST(b + 1 AS INT))),
                CAST(0 AS BIGINT), (acc, v) -> acc + v * v)))""")).as("p"))
        .select(col("source"),
          expr("p.dot * p.dot * 1000000 div (p.nrm * p.nrm2)").as("cos2_ppm"))
      pairs.groupBy(col("source"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("cos2_ppm") < 200000, 1L).otherwise(0L))
            .as("n_shifts"))
        .select(col("source"), col("n_pairs"), col("n_shifts"),
          expr("n_shifts * 1000000 div n_pairs").as("shift_ppm"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH tf AS MATERIALIZED (
        SELECT doc_id, source, (i - 1) // 32 AS blk, l[i] AS tok,
          CAST(count(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, source,
                $duckTokens AS l
              FROM documents),
          LATERAL unnest(range(1, len(l) + 1)) AS u(i)
        GROUP BY doc_id, source, blk, tok),
      norms AS MATERIALIZED (
        SELECT doc_id, source, blk, CAST(sum(tf * tf) AS BIGINT) AS nrm
        FROM tf GROUP BY doc_id, source, blk),
      dots AS MATERIALIZED (
        SELECT a.doc_id, a.blk, CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
        FROM (SELECT doc_id, blk, tok, tf FROM tf) a
        JOIN (SELECT doc_id, blk - 1 AS blk, tok, tf FROM tf) b
          ON a.doc_id = b.doc_id AND a.blk = b.blk AND a.tok = b.tok
        GROUP BY a.doc_id, a.blk),
      pairs AS (
        SELECT n1.source,
          coalesce(dot, 0) * coalesce(dot, 0) * 1000000
            // (n1.nrm * n2.nrm) AS cos2_ppm
        FROM norms n1
        JOIN (SELECT doc_id, blk - 1 AS blk, nrm FROM norms) n2
          ON n1.doc_id = n2.doc_id AND n1.blk = n2.blk
        LEFT JOIN dots ON dots.doc_id = n1.doc_id AND dots.blk = n1.blk)
      SELECT source, CAST(count(*) AS BIGINT) AS n_pairs,
        CAST(sum(CASE WHEN cos2_ppm < 200000 THEN 1 ELSE 0 END)
          AS BIGINT) AS n_shifts,
        CAST(sum(CASE WHEN cos2_ppm < 200000 THEN 1 ELSE 0 END) * 1000000
          // count(*) AS BIGINT) AS shift_ppm
      FROM pairs GROUP BY source ORDER BY source
    """))

  def defs: Seq[QueryDef] = Seq(q698, q711)
}
