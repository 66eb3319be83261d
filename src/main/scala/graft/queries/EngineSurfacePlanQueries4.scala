package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.SqlMacros._

/** Round-11 batch 4: map-typed and set-typed engine surface —
  * `stat.crosstab` contingency tables, the map higher-order family
  * (`map_from_entries` / `transform_values` / `map_zip_with` /
  * `map_filter` — per-entity feature maps are how wide sparse features
  * travel without a 10⁴-column schema), array set algebra
  * (`array_union`/`intersect`/`except` — shard-vocabulary drift), and
  * order-independent XOR checksum folds (`bit_xor` — the only integrity
  * fingerprint that pre-aggregates map-side and needs no sort at
  * 100 TB).
  */
object EngineSurfacePlanQueries4 extends QueryGroup {

  // ---------------------------------------------------------------- q732

  /** Contingency table via `DataFrame.stat.crosstab`: return flag ×
    * line status counts, the API analysts reach for before any χ²
    * (q385/q382 family). Pivoted column names come from data values —
    * the oracle pins the exact pivot layout.
    *
    * Scale shape: crosstab folds to a (flags × statuses) grid in one
    * keyed agg + local pivot — dimension-bounded. */
  private val q732 = QueryDef(
    "q732_crosstab_contingency",
    (spark, dir) => {
      Tables.lineitem(spark, dir)
        .stat.crosstab("l_returnflag", "l_linestatus")
        .orderBy(col("l_returnflag_l_linestatus"))
    },
    Some("""
      SELECT l_returnflag AS l_returnflag_l_linestatus,
        CAST(sum(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
          AS "F",
        CAST(sum(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT)
          AS "O"
      FROM lineitem GROUP BY l_returnflag
      ORDER BY l_returnflag_l_linestatus
    """))

  // ---------------------------------------------------------------- q733

  /** Language-mix drift as a map fold: each source's lang→count map
    * (`map_from_entries`) normalizes to ppm shares
    * (`transform_values`), zips against the global share map
    * (`map_zip_with` over a broadcast one-row map) into per-lang
    * absolute gaps, and `aggregate(map_values(...))` folds the L1
    * drift; `map_filter` counts dominant (≥5%) languages. The map form
    * is the point: per-entity sparse features travel as ONE column
    * through shuffles and joins, not as a 10⁴-column frame, and the
    * HOFs transform them without exploding.
    *
    * Scale shape: one groupBy to (source × lang) counts, one fold to
    * |sources| map rows (maps are |langs|-bounded), a broadcast one-row
    * global. The oracle computes the same integers relationally —
    * if any HOF mishandles a missing key the L1 mass breaks.
    * All-integer: shares in ppm via div, drift in ppm. */
  private val q733 = QueryDef(
    "q733_map_lang_drift",
    (spark, dir) => {
      val counts = Tables.documents(spark, dir)
        .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("c"))
      val perSrc = counts.groupBy(col("source"))
        .agg(map_from_entries(sort_array(collect_list(
          struct(col("lang"), col("c"))))).as("m"),
          sum(col("c")).as("tot"))
        .select(col("source"),
          expr("transform_values(m, (k, v) -> v * 1000000 div tot)").as("sh"),
          size(col("m")).cast("long").as("n_langs"))
      val globalRow = counts.groupBy(col("lang")).agg(sum(col("c")).as("gc"))
        .agg(map_from_entries(sort_array(collect_list(
          struct(col("lang"), col("gc"))))).as("gm"),
          sum(col("gc")).as("gtot"))
        .select(expr("transform_values(gm, (k, v) -> v * 1000000 div gtot)")
          .as("gsh"))
      perSrc.crossJoin(broadcast(globalRow))
        .select(col("source"), col("n_langs"),
          expr("""aggregate(
              map_values(map_zip_with(gsh, sh,
                (k, g, s) -> abs(coalesce(g, 0L) - coalesce(s, 0L)))),
              0L, (a, x) -> a + x)""").as("l1_drift_ppm"),
          expr("CAST(size(map_filter(sh, (k, v) -> v >= 50000)) AS BIGINT)")
            .as("n_dominant"))
        .orderBy(col("source"))
    },
    Some("""
      WITH c AS MATERIALIZED (
        SELECT source, lang, CAST(count(*) AS BIGINT) AS c
        FROM documents GROUP BY source, lang),
      tot AS (SELECT source, sum(c) AS tot FROM c GROUP BY source),
      g AS (SELECT lang, sum(c) AS gc FROM c GROUP BY lang),
      gtot AS (SELECT sum(gc) AS gtot FROM g),
      gsh AS (SELECT lang, gc * 1000000 // gtot AS gs FROM g CROSS JOIN gtot),
      sh AS (
        SELECT t.source, gsh.lang,
          coalesce(c.c, 0) * 1000000 // t.tot AS s, gsh.gs
        FROM tot t CROSS JOIN gsh
        LEFT JOIN c ON c.source = t.source AND c.lang = gsh.lang),
      nl AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_langs
        FROM c GROUP BY source)
      SELECT sh.source, nl.n_langs,
        CAST(sum(abs(gs - s)) AS BIGINT) AS l1_drift_ppm,
        CAST(sum(CASE WHEN s >= 50000 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_dominant
      FROM sh JOIN nl ON nl.source = sh.source
      GROUP BY sh.source, nl.n_langs ORDER BY sh.source
    """))

  // ---------------------------------------------------------------- q734

  /** Shard-vocabulary set algebra: consecutive sources' distinct token
    * sets compared with `array_intersect` / `array_union` /
    * `array_except` — the overlap audit run before merging shards or
    * routing them to different training phases (high Jaccard between
    * shards = redundant coverage; an asymmetric except = one-way
    * novelty). Jaccard in ppm, exact integers.
    *
    * Scale shape: distinct (source, token) is the one corpus-scale
    * fold; vocab arrays are |vocab|-bounded (the word-salad generator's
    * vocabulary, not corpus rows); the pairing is a 20-row self-join on
    * adjacent source indices. At web scale the array form caps at the
    * per-shard vocabulary — sets that outgrow memory move to the
    * MinHash estimate (q21), which is why both live in the catalog. */
  private val q734 = QueryDef(
    "q734_vocab_set_algebra",
    (spark, dir) => {
      val vocab = Tables.documents(spark, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("source"))
        .agg(sort_array(collect_set(col("w"))).as("v"))
        .select(col("source"),
          expr("CAST(substring(source, 4) AS BIGINT)").as("idx"), col("v"))
      val nxt = vocab.select(col("idx").as("idx2"), col("v").as("v2"))
      vocab.join(nxt, col("idx2") === col("idx") + 1L)
        .select(col("source"),
          size(col("v")).cast("long").as("n_a"),
          size(col("v2")).cast("long").as("n_b"),
          size(array_intersect(col("v"), col("v2"))).cast("long").as("n_both"),
          size(array_union(col("v"), col("v2"))).cast("long").as("n_union"),
          size(array_except(col("v"), col("v2"))).cast("long").as("n_only_a"))
        .withColumn("jaccard_ppm",
          expr("n_both * 1000000 div n_union"))
        .orderBy(col("source"))
    },
    Some("""
      WITH v AS MATERIALIZED (
        SELECT source, CAST(source[4:] AS BIGINT) AS idx, w
        FROM (SELECT DISTINCT source, unnest(str_split(text, ' ')) AS w
              FROM documents)
        WHERE len(w) > 0),
      pair AS (
        SELECT a.source, a.idx,
          (SELECT count(*) FROM v x WHERE x.idx = a.idx) AS n_a,
          (SELECT count(*) FROM v x WHERE x.idx = a.idx + 1) AS n_b,
          (SELECT count(*) FROM v x JOIN v y
            ON y.idx = a.idx + 1 AND x.w = y.w WHERE x.idx = a.idx) AS n_both
        FROM (SELECT DISTINCT source, idx FROM v) a
        WHERE EXISTS (SELECT 1 FROM v x WHERE x.idx = a.idx + 1))
      SELECT source, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        CAST(n_both AS BIGINT) AS n_both,
        CAST(n_a + n_b - n_both AS BIGINT) AS n_union,
        CAST(n_a - n_both AS BIGINT) AS n_only_a,
        CAST(n_both * 1000000 // (n_a + n_b - n_both) AS BIGINT)
          AS jaccard_ppm
      FROM pair ORDER BY source
    """))

  // ---------------------------------------------------------------- q735

  /** Order-independent integrity checksums: per source, `bit_xor` folds
    * the polynomial hash of each document into one fingerprint — XOR is
    * commutative and associative, so the fold pre-aggregates map-side,
    * needs no sort, and two systems can compare corpus state without
    * agreeing on row order (the practical "did the copy lose a row"
    * check at 100 TB; a lost OR duplicated doc flips the checksum).
    * `bit_or`/`bit_and` over doc ids give the id-range envelope the
    * same way.
    *
    * Scale shape: one scan, codegen'd poly_hash per row, one
    * map-side-combined fold to 20 rows. */
  private val q735 = QueryDef(
    "q735_xor_integrity_checksum",
    (spark, dir) => {
      Tables.documents(spark, dir)
        .select(col("source"),
          graft.functions.expressions.poly_hash(col("text")).as("h"),
          col("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"),
          expr("bit_xor(h)").as("xor_checksum"),
          expr("bit_or(doc_id)").as("id_or"),
          expr("bit_and(doc_id)").as("id_and"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH h AS MATERIALIZED (
        SELECT source, doc_id,
          ${duckPolyHashOf("text")} AS h
        FROM documents)
      SELECT source, CAST(count(*) AS BIGINT) AS n,
        CAST(bit_xor(h) AS BIGINT) AS xor_checksum,
        CAST(bit_or(doc_id) AS BIGINT) AS id_or,
        CAST(bit_and(doc_id) AS BIGINT) AS id_and
      FROM h GROUP BY source ORDER BY source
    """))

  override def defs: Seq[QueryDef] = Seq(q732, q733, q734, q735)
}
