package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.SqlMacros._
import graft.text.TextFunctions

/** Corpus-refinery operators (round 4): the segment-level cleaning and
  * batching passes a training-data pipeline runs AFTER document-level
  * dedup — intra-document boilerplate removal (C4's line-dedup recipe),
  * LM-based quality scoring against corpus statistics, and
  * padding-minimizing length-bucketed batching.
  */
object SegmentQueries extends QueryGroup {

  /** C4-style corpus-frequency segment dedup ("line dedup" in C4 / see
    * reference `README.md:3` for the corpus framing): split every
    * document into fixed-width word segments, count each segment's
    * document frequency corpus-wide, strike segments that appear in ≥
    * `maxDf` documents (boilerplate: headers, navigation, templates),
    * and reassemble the surviving text in original order.
    *
    * Scale shape: the frequency table is keyed by the segment's md5
    * digest, so the (digest, doc_id) shuffle never moves text twice; the
    * mark join is a plain equi-join on the digest that AQE broadcasts
    * when the digest table is small and shuffles when it is not — both
    * are the right plan at their scale. Reassembly sorts only WITHIN a
    * document (sort_array over that doc's collected segments), never
    * globally. Segment width is 2 words here so the synthetic corpus
    * actually contains repeats; production paragraphs just raise the
    * width — the dataflow is width-independent. */
  private val q92 = QueryDef(
    "q92_segment_dedup",
    (spark, dir) => {
      val width = 2
      val maxDf = 20
      // r13 (guide §8 — decide with small rows, move big rows never):
      // the document KEEPS its segment array in-row; only 16-byte
      // digests leave the scan for the df count, only the (small)
      // dropped-index sets come back, and reassembly filters the in-row
      // array by index. The former plan shuffled the segment TEXT twice
      // (freq-join + per-doc collect_list/sort). Same df rule, same
      // segment order, identical output rows. (plans/r13/q92_*.txt)
      val docsSeg = Tables.fanOut(Tables.documents(spark, dir))
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("w"))
        .filter(size(col("w")) > 0)
        .select(col("doc_id"), expr(
          s"transform(sequence(0, (size(w)-1) div $width)," +
            s" i -> array_join(slice(w, i*$width+1, $width), ' '))").as("sa"))
        .persist() // read twice: the digest explode + the reassembly
      val segd = docsSeg
        .select(col("doc_id"),
          posexplode(expr("transform(sa, s -> md5(s))")).as(Seq("seg_idx", "h")))
      val freq = segd.groupBy(col("h"))
        .agg(countDistinct(col("doc_id")).as("nd"))
      val dropped = segd
        .join(freq.filter(col("nd") >= lit(maxDf)).select(col("h")), Seq("h"))
        .groupBy(col("doc_id")).agg(collect_set(col("seg_idx")).as("drop_idx"))
      docsSeg.join(dropped, Seq("doc_id"), "left")
        .withColumn("di", coalesce(col("drop_idx"), expr("CAST(array() AS ARRAY<INT>)")))
        .select(col("doc_id"),
          expr("array_join(filter(sa, (s, i) -> NOT array_contains(di, i)), ' ')")
            .as("kept_text"),
          expr("size(filter(sa, (s, i) -> NOT array_contains(di, i)))")
            .cast("long").as("n_kept"),
          expr("size(di)").cast("long").as("n_dropped"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH d AS (
        SELECT doc_id, $duckTokens AS w
        FROM documents),
      segs AS (
        SELECT doc_id, CAST(i AS BIGINT) AS seg_idx,
          array_to_string(w[i*2+1 : i*2+2], ' ') AS segment
        FROM d, LATERAL (SELECT unnest(range(0, ((len(w)-1)//2)+1)) AS i) r
        WHERE len(w) > 0),
      freq AS (
        SELECT md5(segment) AS h, count(DISTINCT doc_id) AS nd
        FROM segs GROUP BY 1)
      SELECT s.doc_id,
        coalesce(string_agg(CASE WHEN f.nd < 20 THEN s.segment END, ' '
          ORDER BY s.seg_idx), '') AS kept_text,
        CAST(count(*) FILTER (f.nd < 20) AS BIGINT) AS n_kept,
        CAST(count(*) FILTER (f.nd >= 20) AS BIGINT) AS n_dropped
      FROM segs s JOIN freq f ON md5(s.segment) = f.h
      GROUP BY s.doc_id ORDER BY s.doc_id
    """))

  /** LM-based quality scoring: out-of-vocabulary bigram fraction. The
    * corpus's frequent word bigrams (count ≥ `minCount`) form a cheap
    * "language model vocabulary"; each document is scored by the
    * fraction of its bigrams that fall outside it — high OOV flags
    * gibberish/noise, zero OOV flags templated text. The count-based
    * form is the integer-exact stand-in for perplexity (log-prob sums
    * are engine-divergent in the last ulp; counts are not).
    *
    * Scale shape: the vocabulary is at most |V|² entries — broadcast
    * side of the membership join — while the corpus side is one narrow
    * scan producing (doc_id, bigram) with map-side partial counts; no
    * text beyond the bigrams themselves is shuffled. */
  private val q93 = QueryDef(
    "q93_oov_bigram_quality",
    (spark, dir) => {
      val minCount = 25
      val inst = Tables.documents(spark, dir)
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("w"))
        .filter(size(col("w")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(w)-1)," +
            " i -> concat(element_at(w, i), ' ', element_at(w, i+1)))")).as("b"))
        .persist()
      val common = inst.groupBy(col("b")).agg(count(lit(1)).as("n"))
        .filter(col("n") >= minCount)
        .select(col("b"), lit(1).as("hit"))
      inst
        .join(common, Seq("b"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          count(when(col("hit").isNull, 1)).as("n_oov"))
        .select(col("doc_id"), col("n_bigrams"), col("n_oov"),
          (col("n_oov").cast("double") / col("n_bigrams")).as("oov_frac"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH d AS (
        SELECT doc_id, $duckTokens AS w
        FROM documents),
      inst AS (
        SELECT doc_id, w[i] || ' ' || w[i+1] AS b
        FROM d, LATERAL (SELECT unnest(range(1, len(w))) AS i) r
        WHERE len(w) >= 2),
      common AS (
        SELECT b FROM inst GROUP BY b HAVING count(*) >= 25)
      SELECT i.doc_id,
        CAST(count(*) AS BIGINT) AS n_bigrams,
        CAST(count(*) FILTER (c.b IS NULL) AS BIGINT) AS n_oov,
        CAST(count(*) FILTER (c.b IS NULL) AS DOUBLE) / count(*) AS oov_frac
      FROM inst i LEFT JOIN common c ON i.b = c.b
      GROUP BY i.doc_id ORDER BY i.doc_id
    """))

  /** Padding-minimizing inference batching: bucket documents by token
    * length (width-16 buckets), form fixed-size batches of 8 inside
    * each (bucket, shard) cell in (length, doc_id) order, and report
    * each batch's padding waste — the tokens burned padding shorter
    * members up to the batch max. The complement of `operators.Packing`
    * (which concatenates for training; this groups similar lengths for
    * serving).
    *
    * Scale shape: batching needs LOCAL order, not global — so like
    * Packing, each length bucket is split into deterministic hash
    * shards (`doc_id % nShards`) and the row_number runs within a
    * (bucket, shard) cell. A popular length bucket holding billions of
    * documents never lands on one task; the shard count is the
    * parallelism dial, and padding quality is unaffected because every
    * member of a cell is already within 16 tokens of its batch-mates. */
  private val q94 = QueryDef(
    "q94_length_bucketed_batching",
    (spark, dir) => {
      val d = Tables.documents(spark, dir)
        .select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tok"))
        .withColumn("bucket", expr("n_tok div 16"))
        .withColumn("shard", expr("doc_id % 4"))
      d.withColumn("rn", row_number().over(
          Window.partitionBy(col("bucket"), col("shard"))
            .orderBy(col("n_tok"), col("doc_id"))))
        .withColumn("batch", expr("(rn-1) div 8"))
        .groupBy(col("bucket"), col("shard"), col("batch"))
        .agg(count(lit(1)).as("n_docs"), max(col("n_tok")).as("max_len"),
          sum(col("n_tok")).as("sum_tok"))
        .select(col("bucket"), col("shard"), col("batch"), col("n_docs"),
          col("max_len"),
          (col("max_len") * col("n_docs") - col("sum_tok")).as("pad_waste"))
        .orderBy("bucket", "shard", "batch")
    },
    Some(s"""
      WITH d AS (
        SELECT doc_id,
          CAST(len($duckTokens) AS BIGINT) AS n_tok
        FROM documents),
      b AS (
        SELECT doc_id, n_tok, n_tok // 16 AS bucket, doc_id % 4 AS shard,
          (row_number() OVER (PARTITION BY n_tok // 16, doc_id % 4
             ORDER BY n_tok, doc_id) - 1) // 8 AS batch
        FROM d)
      SELECT bucket, shard, batch, CAST(count(*) AS BIGINT) AS n_docs,
        max(n_tok) AS max_len,
        CAST(max(n_tok)*count(*) - sum(n_tok) AS BIGINT) AS pad_waste
      FROM b GROUP BY bucket, shard, batch ORDER BY bucket, shard, batch
    """))

  /** Ordered string aggregation (the string_agg / group_concat SQL
    * surface): per source, its top-5 longest documents as a
    * comma-joined id list in rank order. Spark has no ordered
    * string_agg, so the deterministic form is collect_list of (rank,
    * id) structs → array_sort (sorts by the leading rank field) →
    * transform → concat_ws — exactly equivalent to DuckDB's
    * `string_agg(... ORDER BY ...)`.
    *
    * Scale shape: the per-source rank window runs on (source, id,
    * n_chars) triples — never text; the top-5 filter bounds the
    * collect_list buffers at 5 structs per group, so the "collect"
    * is vocabulary-sized by construction. */
  private val q179 = QueryDef(
    "q179_source_top_docs_csv",
    (spark, dir) => {
      val ranked = Tables.documents(spark, dir)
        .select(col("source"), col("doc_id"), col("n_chars"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("source"))
            .orderBy(col("n_chars").desc, col("doc_id"))))
        .filter(col("rnk") <= 5)
      ranked.groupBy(col("source"))
        .agg(collect_list(struct(col("rnk"), col("doc_id"))).as("xs"))
        .select(col("source"),
          concat_ws(",",
            transform(array_sort(col("xs")), x =>
              x.getField("doc_id").cast("string"))).as("top_docs"))
        .orderBy(col("source"))
    },
    Some("""
      WITH ranked AS (
        SELECT source, doc_id,
          row_number() OVER (PARTITION BY source
            ORDER BY n_chars DESC, doc_id) AS rnk
        FROM documents)
      SELECT source, string_agg(doc_id, ',' ORDER BY rnk) AS top_docs
      FROM ranked WHERE rnk <= 5
      GROUP BY source ORDER BY source
    """))

  def defs: Seq[QueryDef] = Seq(q92, q93, q94, q179)
}
