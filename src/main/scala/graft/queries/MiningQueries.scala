package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Sampling
import graft.queries.SqlMacros._
import graft.text.TextFunctions

/** Round-4 corpus-mining operators: windowed co-occurrence statistics
  * (embedding/tokenizer training signal), range-partition planning for
  * distributed total sorts, and first-occurrence n-gram novelty scoring.
  */
object MiningQueries extends QueryGroup {

  /** Windowed token co-occurrence with exact integer lift — the PMI-style
    * association signal embedding and tokenizer training consumes. Pairs
    * are tokens within 3 positions of each other; lift is scaled to ppm
    * as (n_ab·T·10^6) div (n_a·n_b) in exact 64-bit integers (log-free:
    * libm log rounding differs across engines, integer ratios don't).
    *
    * Scale shape: the pair stream is a NARROW ≤3× expansion of the token
    * stream (position explode + offset explode, no self-join), collapsed
    * map-side before its one keyed shuffle. Unigram counts join back on
    * the token key; the total-pair count is a one-row broadcast. Top-50
    * by support via TakeOrderedAndProject. */
  private val q111 = QueryDef(
    "q111_cooccurrence_lift",
    (spark, dir) => {
      val toks = Tables.documents(spark, dir)
        .select(TextFunctions.tokens(col("text")).as("tk"))
      val pairs = toks
        .select(col("tk"), posexplode(col("tk")).as(Seq("i0", "t")))
        .select(col("tk"), col("t"), col("i0"),
          explode(expr("sequence(1, 3)")).as("d"))
        .filter(col("i0") + col("d") < size(col("tk")))
        .select(col("t").as("x"),
          expr("element_at(tk, CAST(i0 + d + 1 AS INT))").as("y"))
        .select(least(col("x"), col("y")).as("a"),
          greatest(col("x"), col("y")).as("b"))
      val co = pairs.groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_ab"))
      val uni = pairs
        .select(explode(array(col("a"), col("b"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("n"))
      val total = pairs.agg(count(lit(1)).as("t_pairs"))
      co
        .join(uni.select(col("tok").as("a"), col("n").as("n_a")), Seq("a"))
        .join(uni.select(col("tok").as("b"), col("n").as("n_b")), Seq("b"))
        .crossJoin(broadcast(total))
        .filter(col("n_ab") >= 5)
        .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"),
          expr("n_ab * t_pairs * 1000000L div (n_a * n_b)").as("lift_ppm"))
        .orderBy(col("n_ab").desc, col("a"), col("b"))
        .limit(50)
    },
    Some(s"""
      WITH toks AS (
        SELECT $duckTokens AS tk
        FROM documents),
      pr AS (
        SELECT least(tk[i], tk[i + d.d]) AS a, greatest(tk[i], tk[i + d.d]) AS b
        FROM (SELECT tk, CAST(p.i AS INTEGER) AS i
              FROM toks, LATERAL (SELECT unnest(range(1, len(tk) + 1)) AS i) p),
          LATERAL (SELECT unnest(range(1, 4)) AS d) d
        WHERE i + d.d <= len(tk)),
      co AS (SELECT a, b, count(*) AS n_ab FROM pr GROUP BY a, b),
      uni AS (
        SELECT tok, count(*) AS n FROM (
          SELECT unnest([a, b]) AS tok FROM pr) GROUP BY tok),
      t AS (SELECT count(*) AS t_pairs FROM pr)
      SELECT co.a, co.b, co.n_ab, ua.n AS n_a, ub.n AS n_b,
        co.n_ab * t.t_pairs * 1000000 // (ua.n * ub.n) AS lift_ppm
      FROM co
      JOIN uni ua ON co.a = ua.tok
      JOIN uni ub ON co.b = ub.tok
      CROSS JOIN t
      WHERE co.n_ab >= 5
      ORDER BY co.n_ab DESC, co.a, co.b LIMIT 50
    """))

  /** Range-partition planning for a distributed total sort (the 100 TB
    * sort primitive): exact octile boundaries of the sort key over a
    * deterministic 5% key-hash sample, then a full-corpus skew audit
    * counting rows per planned partition.
    *
    * Scale shape: this is exactly how RangePartitioner plans a cluster
    * sort — sample, compute boundaries, broadcast them, bucket the full
    * data in one narrow pass. The sample is a pushed-down hash filter
    * (no rand(): same rows at any parallelism or engine); boundaries are
    * a one-row aggregate broadcast onto the corpus scan; the interpolated
    * octiles are exact IEEE doubles in both engines (integer lo/hi with
    * dyadic fractions). */
  private val q112 = QueryDef(
    "q112_range_partition_plan",
    (spark, dir) => {
      val docs = Tables.documents(spark, dir)
      val sample = docs
        .filter(Sampling.keyHash(col("doc_id")) % 10000L < 500L)
        .select(col("n_chars"))
      val fracs = (1 to 7).map(_ / 8.0)
      val bounds = sample.agg(
        expr(s"percentile(n_chars, array(${fracs.mkString(", ")}))").as("bnds"))
      docs
        .crossJoin(broadcast(bounds))
        .select(expr(
          "CAST(size(filter(bnds, b -> b <= CAST(n_chars AS DOUBLE))) AS BIGINT)")
          .as("bucket"), col("bnds"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min(expr(
            "CASE WHEN bucket < 7 THEN element_at(bnds, CAST(bucket + 1 AS INT)) END"))
            .as("upper_bound"))
        .orderBy("bucket")
    },
    Some("""
      WITH s AS (
        SELECT n_chars FROM documents
        WHERE (((doc_id % 2147483648) * 2654435761) % 4294967296) % 10000 < 500),
      b AS (
        SELECT quantile_cont(n_chars,
          [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS bnds
        FROM s),
      tagged AS (
        SELECT CAST(len(list_filter(b.bnds,
                 x -> x <= CAST(d.n_chars AS DOUBLE))) AS BIGINT) AS bucket,
               b.bnds
        FROM documents d CROSS JOIN b)
      SELECT bucket, count(*) AS n_docs,
        min(CASE WHEN bucket < 7 THEN bnds[CAST(bucket + 1 AS INTEGER)] END)
          AS upper_bound
      FROM tagged GROUP BY bucket ORDER BY bucket
    """))

  /** First-occurrence n-gram novelty: the fraction of each document's
    * distinct 5-gram hashes whose corpus-wide first appearance (minimum
    * doc_id) is that document — the inter-document freshness signal that
    * separates original content from recombined boilerplate (q73 scores
    * repetition WITHIN a doc; this scores repetition ACROSS docs).
    *
    * Scale shape: documents never meet each other — grams shuffle on the
    * gram-hash key (integers, never text), first-owner is one hash
    * aggregation, ownership joins back on the same key, and the verdict
    * is a per-doc aggregate. Everything is equi-keyed; ppm output keeps
    * the ratio integer-exact. */
  private val q114 = QueryDef(
    "q114_ngram_novelty",
    (spark, dir) => {
      // n_novel needs no gram↔owner join: every gram has exactly ONE
      // owner (min doc_id), so a doc's novel-gram count is its row count
      // in the first-owner table — the corpus-sized join of grams back
      // to owners (the sf0.1 bench outlier: ~10M-row shuffle join)
      // collapses to two partial-agged aggregations + a docs-sized join.
      // n_grams never shuffles at all: it's size(shingleSet) on the scan.
      val docs = Tables.documents(spark, dir)
      val novel = docs
        .select(col("doc_id"),
          explode(TextFunctions.shingleSet(col("text"), 5)).as("g"))
        .groupBy(col("g")).agg(min(col("doc_id")).as("doc_id"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_novel"))
      docs
        .select(col("doc_id"),
          size(TextFunctions.shingleSet(col("text"), 5)).cast("long").as("n_grams"))
        .filter(col("n_grams") > 0) // sub-5-char docs have no gram rows
        .join(novel, Seq("doc_id"), "left")
        .na.fill(0L, Seq("n_novel"))
        .select(col("doc_id"), col("n_grams"), col("n_novel"),
          expr("n_novel * 1000000L div n_grams").as("novelty_ppm"))
        .orderBy("doc_id")
    },
    Some("""
      WITH g AS (
        SELECT doc_id, unnest(list_distinct([
          (ord(text[i])*923521 + ord(text[i+1])*29791 + ord(text[i+2])*961
           + ord(text[i+3])*31 + ord(text[i+4])) % 1000000007
          for i in range(1, len(text) - 3)])) AS g
        FROM documents),
      f AS (SELECT g, min(doc_id) AS first_doc FROM g GROUP BY g),
      a AS (
        SELECT g.doc_id, count(*) AS n_grams,
          sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS n_novel
        FROM g JOIN f USING (g) GROUP BY g.doc_id)
      SELECT doc_id, n_grams, CAST(n_novel AS BIGINT) AS n_novel,
        CAST(n_novel * 1000000 // n_grams AS BIGINT) AS novelty_ppm
      FROM a ORDER BY doc_id
    """))

  /** 16-bit Morton (Z-order) interleave of (x, y), as straight-line
    * codegen-friendly long arithmetic — Spark spelling. */
  private def zInterleaveSpark(x: String, y: String): String =
    (0 until 16).flatMap(i => Seq(
      s"shiftleft(shiftright($x, $i) & 1, ${2 * i})",
      s"shiftleft(shiftright($y, $i) & 1, ${2 * i + 1})")).mkString(" + ")

  /** Same interleave, DuckDB spelling (explicit parens: `&` binds looser
    * than `+` there). */
  private def zInterleaveDuck(x: String, y: String): String =
    (0 until 16).flatMap(i => Seq(
      s"((($x >> $i) & 1) << ${2 * i})",
      s"((($y >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")

  /** Z-order (Morton-curve) layout audit — the multi-dimensional
    * clustering primitive behind data-skipping file layouts: interleave
    * the low 16 bits of (l_partkey, l_suppkey) into a 32-bit z-value,
    * then profile the 256 top-byte z-ranges: row count and how many
    * distinct part/supplier keys each range touches. Tight per-range
    * key spans are exactly what makes min/max file statistics prunable
    * on BOTH join keys after a z-sort — the audit quantifies it.
    *
    * Scale shape: the z-value is pure narrow arithmetic (32 shift-mask
    * terms, whole-stage codegen'd — no UDF); the audit is one keyed
    * aggregate over 256 buckets. The same expression is the range-sort
    * key a writer would `repartitionByRange` on at 100 TB. */
  private val q123 = QueryDef(
    "q123_zorder_layout",
    (spark, dir) => {
      Tables.lineitem(spark, dir)
        .select(
          expr(zInterleaveSpark("(l_partkey % 65536)", "(l_suppkey % 65536)")).as("z"),
          col("l_partkey"), col("l_suppkey"))
        .select(expr("z div 16777216").as("z_range"), col("z"),
          col("l_partkey"), col("l_suppkey"))
        .groupBy(col("z_range"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          min(col("z")).as("z_min"), max(col("z")).as("z_max"))
        .orderBy(col("z_range"))
    },
    Some(s"""
      WITH z AS (
        SELECT ${zInterleaveDuck("(l_partkey % 65536)", "(l_suppkey % 65536)")} AS z,
          l_partkey, l_suppkey
        FROM lineitem)
      SELECT z // 16777216 AS z_range, count(*) AS n_rows,
        count(DISTINCT l_partkey) AS n_parts,
        count(DISTINCT l_suppkey) AS n_supps,
        min(z) AS z_min, max(z) AS z_max
      FROM z GROUP BY z_range ORDER BY z_range
    """))

  /** Frequent 3-itemset mining over per-order brand baskets — the
    * A-priori step above q88's pair lift. Baskets are tiny (≤7 lines per
    * order ⇒ ≤35 triples), so 3-combinations are generated by a narrow
    * bounded explode over each basket's SORTED distinct-brand array —
    * never a 3-way self-join of the fact table. Top-20 by support with a
    * total tiebreak.
    *
    * Scale shape: one lineitem⋈part equi-join, one keyed dedup +
    * basket aggregate, a ≤35× bounded expansion, and one
    * map-side-combined count; top-k is TakeOrderedAndProject. */
  private val q129 = QueryDef(
    "q129_basket_triples",
    (spark, dir) => {
      val li = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_partkey"))
      val pt = Tables.part(spark, dir).select(col("p_partkey"), col("p_brand"))
      val baskets = li.join(pt, li("l_partkey") === pt("p_partkey"))
        .select(col("l_orderkey").as("okey"), col("p_brand"))
        .distinct()
        .groupBy(col("okey")).agg(sort_array(collect_set(col("p_brand"))).as("bs"))
        .filter(size(col("bs")) >= 3)
      baskets
        .select(col("bs"), explode(expr("sequence(1, size(bs) - 2)")).as("i"))
        .select(col("bs"), col("i"), explode(expr("sequence(i + 1, size(bs) - 1)")).as("j"))
        .select(col("bs"), col("i"), col("j"), explode(expr("sequence(j + 1, size(bs))")).as("k"))
        .select(expr("element_at(bs, CAST(i AS INT))").as("a"),
          expr("element_at(bs, CAST(j AS INT))").as("b"),
          expr("element_at(bs, CAST(k AS INT))").as("c"))
        .groupBy(col("a"), col("b"), col("c"))
        .agg(count(lit(1)).as("support"))
        .orderBy(col("support").desc, col("a"), col("b"), col("c"))
        .limit(20)
    },
    Some("""
      WITH ob AS (
        SELECT DISTINCT l_orderkey AS okey, p_brand
        FROM lineitem JOIN part ON l_partkey = p_partkey),
      arrs AS (
        SELECT okey, list_sort(list(p_brand)) AS bs
        FROM ob GROUP BY okey),
      f AS (SELECT bs FROM arrs WHERE len(bs) >= 3),
      tr AS (
        SELECT bs[CAST(i.i AS INTEGER)] AS a, bs[CAST(j.j AS INTEGER)] AS b,
          bs[CAST(k.k AS INTEGER)] AS c
        FROM f,
          LATERAL (SELECT unnest(range(1, len(bs) - 1)) AS i) i,
          LATERAL (SELECT unnest(range(i.i + 1, len(bs))) AS j) j,
          LATERAL (SELECT unnest(range(j.j + 1, len(bs) + 1)) AS k) k)
      SELECT a, b, c, count(*) AS support
      FROM tr GROUP BY a, b, c
      ORDER BY support DESC, a, b, c LIMIT 20
    """))

  def defs: Seq[QueryDef] = Seq(q111, q112, q114, q123, q129)
}
