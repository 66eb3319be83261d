package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.SqlMacros._

/** Round-12 batch 2: dictionary matching and geometric structure —
  * multi-token blocklist phrase matching (the distributed stand-in for
  * an Aho–Corasick pass over the corpus) and a box-counting dimension
  * estimate over the embedding cloud (does the manifold fill its
  * ambient space, the quantity that decides whether grid/IVF indexes
  * can work). Exact integers, total ORDER BYs.
  */
object MatcherPlanQueries extends QueryGroup {

  // ---------------------------------------------------------------- q746

  /** Blocklist phrase matching: a fixed dictionary of 2–3-token phrases
    * (the compliance/quality blocklist every ingestion pipeline runs)
    * matched EXACTLY against the token stream — per phrase and source,
    * the hit count and distinct matching documents. The n-gram join is
    * the scale-correct Aho–Corasick stand-in: the dictionary broadcasts
    * (build side), the corpus streams through as (gram → phrase) hash
    * probes, and only hits shuffle.
    *
    * Scale shape: one token scan per phrase LENGTH (two here: 2- and
    * 3-grams), each a broadcast semi-ish join against a handful of
    * phrase strings; the census is (phrase, source)-keyed, ≤ |dict| ×
    * |sources| rows. No regex, no per-row dictionary loop. */
  private val q746 = QueryDef(
    "q746_blocklist_phrase_match",
    (spark, dir) => {
      val spark0 = spark
      import spark0.implicits._
      val dict = Seq("hash join", "table scan", "sort merge join",
        "slow query", "fast vector scan").toDF("phrase")
        .withColumn("plen", size(split(col("phrase"), " ")))
      val tk = Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"),
          graft.functions.expressions.tokens_native(col("text")).as("tk"))
      def grams(n: Int) = tk.filter(size(col("tk")) >= n)
        .select(col("doc_id"), col("source"), explode(expr(
          s"transform(sequence(1, size(tk) - ${n - 1}), " +
            s"i -> concat_ws(' ', slice(tk, i, $n)))")).as("g"))
      val hits = Seq(2, 3).map { n =>
        grams(n).join(broadcast(dict.filter(col("plen") === n)),
          col("g") === col("phrase"))
          .select(col("phrase"), col("source"), col("doc_id"))
      }.reduce(_ union _)
      hits.groupBy(col("phrase"), col("source"))
        .agg(count(lit(1)).as("n_hits"),
          countDistinct(col("doc_id")).as("n_docs"))
        .orderBy(col("phrase"), col("source"))
    },
    Some(s"""
      WITH dict(phrase, plen) AS (VALUES
        ('hash join', 2), ('table scan', 2), ('sort merge join', 3),
        ('slow query', 2), ('fast vector scan', 3)),
      tk AS MATERIALIZED (
        SELECT doc_id, source,
          $duckTokens AS tk
        FROM documents),
      g2 AS (
        SELECT doc_id, source,
          array_to_string(tk[CAST(i AS INTEGER):CAST(i + 1 AS INTEGER)], ' ') AS g
        FROM tk, LATERAL (SELECT unnest(range(1, len(tk))) AS i) x
        WHERE len(tk) >= 2),
      g3 AS (
        SELECT doc_id, source,
          array_to_string(tk[CAST(i AS INTEGER):CAST(i + 2 AS INTEGER)], ' ') AS g
        FROM tk, LATERAL (SELECT unnest(range(1, len(tk) - 1)) AS i) x
        WHERE len(tk) >= 3),
      hits AS (
        SELECT d.phrase, g.source, g.doc_id
        FROM g2 g JOIN dict d ON d.plen = 2 AND g.g = d.phrase
        UNION ALL
        SELECT d.phrase, g.source, g.doc_id
        FROM g3 g JOIN dict d ON d.plen = 3 AND g.g = d.phrase)
      SELECT phrase, source, CAST(count(*) AS BIGINT) AS n_hits,
        CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
      FROM hits GROUP BY phrase, source
      ORDER BY phrase, source
    """))

  // ---------------------------------------------------------------- q747

  /** Box-counting dimension of the embedding cloud, per label: occupied
    * grid cells over the first 8 dimensions at two resolutions (cell
    * widths 0.2 and 0.1 — quantizers floor(x·5) and floor(x·10), both
    * exact IEEE on the float→double-widened coordinates, identical in
    * any engine). The refinement ratio N_fine/N_coarse ≈ 2^dim is the
    * box-counting estimate of the data's intrinsic dimension on that
    * scale band: a ratio near 2⁸ means the cloud fills all 8 probed
    * dimensions (grid/IVF partitioning will spread), near 2¹–2² means
    * it concentrates on a low-dimensional manifold (cells will skew).
    * Reported as exact integers: cell counts and ratio in ppm.
    *
    * Scale shape: two distinct-aggregates over the scan, keyed by
    * (label, quantized-cell string) with map-side partials; output is
    * label-sized. No pairwise distances anywhere. */
  private val q747 = QueryDef(
    "q747_box_counting_dimension",
    (spark, dir) => {
      val cells = Tables.embeddings(spark, dir)
        .select(col("label").cast("long").as("label"),
          expr("""concat_ws(',', transform(slice(embedding, 1, 8),
                   x -> CAST(floor(CAST(x AS DOUBLE) * 5) AS BIGINT)))""")
            .as("cell_c"),
          expr("""concat_ws(',', transform(slice(embedding, 1, 8),
                   x -> CAST(floor(CAST(x AS DOUBLE) * 10) AS BIGINT)))""")
            .as("cell_f"))
      cells.groupBy(col("label"))
        .agg(count(lit(1)).as("n_vectors"),
          countDistinct(col("cell_c")).as("n_coarse"),
          countDistinct(col("cell_f")).as("n_fine"))
        .select(col("label"), col("n_vectors"), col("n_coarse"), col("n_fine"),
          expr("n_fine * 1000000 div n_coarse").as("refine_ratio_ppm"))
        .orderBy(col("label"))
    },
    Some("""
      WITH cells AS (
        SELECT CAST(label AS BIGINT) AS label,
          array_to_string(list_transform(embedding[1:8],
            x -> CAST(floor(CAST(x AS DOUBLE) * 5) AS BIGINT)), ',') AS cell_c,
          array_to_string(list_transform(embedding[1:8],
            x -> CAST(floor(CAST(x AS DOUBLE) * 10) AS BIGINT)), ',') AS cell_f
        FROM embeddings)
      SELECT label, CAST(count(*) AS BIGINT) AS n_vectors,
        CAST(count(DISTINCT cell_c) AS BIGINT) AS n_coarse,
        CAST(count(DISTINCT cell_f) AS BIGINT) AS n_fine,
        CAST(count(DISTINCT cell_f) * 1000000 // count(DISTINCT cell_c)
          AS BIGINT) AS refine_ratio_ppm
      FROM cells GROUP BY label ORDER BY label
    """))

  // ---------------------------------------------------------------- q749

  /** Vocabulary prefix-trie fanout census: distinct character prefixes
    * per depth 1..6, terminal words at each depth, and the child/node
    * fanout ratio — the structural readout that sizes an FST/trie term
    * dictionary (high fanout near the root then fast collapse ⇒ prefix
    * compression pays; q502 prices the byte savings, this shows the
    * shape that produces them).
    *
    * Scale shape: the corpus folds to the distinct vocabulary once;
    * the depth explode is ≤ 6 rows per WORD (vocabulary-sized, not
    * corpus-sized); the census is depth-keyed (6 rows) with a self-join
    * for the d+1 fanout. */
  private val q749 = QueryDef(
    "q749_trie_fanout_census",
    (spark, dir) => {
      val vocab = Tables.documents(spark, dir)
        .select(explode(graft.functions.expressions.tokens_native(col("text")))
          .as("w"))
        .distinct()
      val depth = vocab
        .select(col("w"), explode(expr(
          "sequence(1, CAST(least(6, length(w)) AS INT))")).as("d"))
        .select(col("d").cast("long").as("d"),
          expr("substring(w, 1, CAST(d AS INT))").as("p"),
          (length(col("w")) === col("d")).as("terminal"))
      val census = depth.groupBy(col("d"))
        .agg(countDistinct(col("p")).as("n_nodes"),
          sum(when(col("terminal"), 1L).otherwise(0L)).as("n_terminals"))
      census.join(
          census.select((col("d") - 1L).as("d"), col("n_nodes").as("n_child")),
          Seq("d"), "left")
        .select(col("d"), col("n_nodes"), col("n_terminals"),
          coalesce(col("n_child"), lit(0L)).as("n_child"),
          expr("coalesce(n_child, 0) * 1000000 div n_nodes").as("fanout_ppm"))
        .orderBy(col("d"))
    },
    Some("""
      WITH vocab AS MATERIALIZED (
        SELECT DISTINCT w
        FROM (SELECT unnest(str_split(text, ' ')) AS w FROM documents)
        WHERE len(w) > 0),
      depth AS MATERIALIZED (
        SELECT CAST(d AS BIGINT) AS d,
          substring(w, 1, CAST(d AS INTEGER)) AS p,
          len(w) = d AS terminal
        FROM vocab, LATERAL (SELECT unnest(range(1, least(6, len(w)) + 1)) AS d) g),
      census AS MATERIALIZED (
        SELECT d, CAST(count(DISTINCT p) AS BIGINT) AS n_nodes,
          CAST(sum(CASE WHEN terminal THEN 1 ELSE 0 END) AS BIGINT)
            AS n_terminals
        FROM depth GROUP BY d)
      SELECT a.d, a.n_nodes, a.n_terminals,
        coalesce(b.n_nodes, 0) AS n_child,
        CAST(coalesce(b.n_nodes, 0) * 1000000 // a.n_nodes AS BIGINT)
          AS fanout_ppm
      FROM census a LEFT JOIN census b ON b.d = a.d + 1
      ORDER BY a.d
    """))

  override def defs: Seq[QueryDef] = Seq(q746, q747, q749)
}
