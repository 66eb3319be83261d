package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.SqlMacros._

/** Round-4 linkage/curation operators: exact-substring duplicate-span
  * merging (the token-level dedup step behind "deduplicating training
  * data" pipelines), isotonic (PAV) calibration of a binned rate curve,
  * and Fellegi–Sunter record-linkage field weights — all integer-exact
  * or fixed-op-order for the oracle gate.
  */
object LinkageQueries extends QueryGroup {

  // ---------------------------------------------------------------- q404

  /** Exact-substring duplicate spans: every token 5-gram that appears in
    * ≥ 2 distinct documents marks its occurrences as duplicated text;
    * per document the overlapping 5-token hit windows merge into MAXIMAL
    * spans (the gaps-and-islands step that turns gram hits into
    * removable char ranges), reported as a per-source duplication
    * census — the token-level analogue of q20's whole-doc dedup and the
    * span machinery q182's shingle mass stops short of.
    *
    * Scale shape: gram census (hash agg, map-side partials) and hit
    * re-join shuffle on the same gram key (no pairwise doc join
    * anywhere — and no gram-keyed WINDOW: round-9 replaced the min/max
    * window whose hot-gram partitions were corpus-sized); the island
    * merge is a doc-keyed window; with fixed gram width the
    * running-max-end collapses to a lag(pos) gap test, so nothing wider
    * than one row crosses the window buffer. At 100 TB the gram strings would be
    * 64-bit rolling hashes — same plan, narrower shuffle. */
  private val q404 = QueryDef(
    "q404_duplicate_span_merge",
    (spark, dir) => {
      // r14 (this query's own scale note, now executed): gram identity
      // is internal, so the 5-gram STRINGS (re-concatenated per position
      // by an interpreted transform, then shuffled twice as ~30-byte
      // keys) become 8-byte chained-xxhash64 digests from the fused
      // GramChainDigests kernel — narrower shuffles, codegen'd scan.
      // A digest collision would perturb the census and fail the oracle
      // gate loudly (the q479/q624 precedent). fanOut: the single-row-
      // group corpus parquet otherwise runs the whole gram explode on
      // ONE task (guide §2.5).
      val tk = Tables.fanOut(Tables.documents(spark, dir))
        .select(col("doc_id"), col("source"),
          graft.functions.expressions.token_xxhashes(col("text")).as("tk"))
      val grams = tk.filter(size(col("tk")) >= 5)
        .select(col("doc_id"), posexplode(
          graft.functions.expressions.gram_chain_digests(col("tk"), 5))
          .as(Seq("pos", "gram")))
      // "gram in ≥ 2 distinct docs" ⟺ min(doc) ≠ max(doc) per gram.
      // ROUND-9: hash agg + keyed semi join, NOT a min/max window
      // partitioned by gram — a boilerplate 5-gram (a license footer)
      // puts every occurrence in ONE window-sort partition at corpus
      // scale, while the agg takes map-side partials and the join gets
      // AQE skew splitting (the generator-keyed window gate's class)
      val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val dupGrams = grams.groupBy(col("gram"))
        .agg(min(col("doc_id")).as("d_min"), max(col("doc_id")).as("d_max"))
        .filter(col("d_min") =!= col("d_max"))
        .select(col("gram"))
      val spans = grams.join(dupGrams, Seq("gram"))
        .select(col("doc_id"), col("pos"))
        // hit windows are all width 5 and sorted by pos, so the running
        // max end is just lag(pos)+5: a new island starts on a gap > 4
        .withColumn("new_span",
          when(coalesce(col("pos") - lag(col("pos"), 1).over(wOrd), lit(5)) > 4,
            1L).otherwise(0L))
        .withColumn("span_id", sum(col("new_span"))
          .over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("doc_id"), col("span_id"))
        .agg((max(col("pos")) - min(col("pos")) + lit(5)).cast("long").as("span_len"))
      val perDoc = spans.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"), sum(col("span_len")).as("dup_tokens"))
      tk.select(col("doc_id"), col("source"), size(col("tk")).cast("long").as("n_tok"))
        .join(perDoc, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count(col("dup_tokens")).as("docs_affected"),
          coalesce(sum(col("n_spans")), lit(0L)).as("n_spans"),
          coalesce(sum(col("dup_tokens")), lit(0L)).as("dup_tokens"),
          sum(col("n_tok")).as("tokens"))
        .withColumn("dup_ppm", expr("dup_tokens * 1000000 div tokens"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH tk AS (
        SELECT doc_id, source,
          $duckTokens AS tk
        FROM documents),
      grams AS (
        SELECT doc_id, CAST(i.i - 1 AS BIGINT) AS pos,
          array_to_string(tk[CAST(i.i AS INTEGER):CAST(i.i + 4 AS INTEGER)], ' ')
            AS gram
        FROM tk, LATERAL (SELECT unnest(range(1, len(tk) - 3)) AS i) i
        WHERE len(tk) >= 5),
      dup AS (
        SELECT gram FROM grams GROUP BY gram
        HAVING count(DISTINCT doc_id) >= 2),
      flagged AS (
        SELECT g.doc_id, g.pos,
          CASE WHEN coalesce(
              g.pos - lag(g.pos) OVER (PARTITION BY g.doc_id ORDER BY g.pos),
              5) > 4 THEN 1 ELSE 0 END AS new_span
        FROM grams g JOIN dup USING (gram)),
      sp AS (
        SELECT doc_id, pos,
          sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
        FROM flagged),
      spans AS (
        SELECT doc_id, span_id, max(pos) - min(pos) + 5 AS span_len
        FROM sp GROUP BY doc_id, span_id),
      per_doc AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
          CAST(sum(span_len) AS BIGINT) AS dup_tokens
        FROM spans GROUP BY doc_id)
      SELECT t.source,
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(count(p.doc_id) AS BIGINT) AS docs_affected,
        CAST(coalesce(sum(p.n_spans), 0) AS BIGINT) AS n_spans,
        CAST(coalesce(sum(p.dup_tokens), 0) AS BIGINT) AS dup_tokens,
        CAST(sum(len(t.tk)) AS BIGINT) AS tokens,
        CAST(coalesce(sum(p.dup_tokens), 0) * 1000000
          // sum(len(t.tk)) AS BIGINT) AS dup_ppm
      FROM tk t LEFT JOIN per_doc p USING (doc_id)
      GROUP BY t.source ORDER BY t.source
    """))

  // ---------------------------------------------------------------- q405

  /** Isotonic (PAV) calibration of the return-rate-vs-discount curve:
    * the best non-decreasing fit to the per-discount-bin return rate
    * under squared loss, via the minimax identity
    * ŷ(t) = max_{i≤t} min_{j≥t} rate(i..j) — the calibration step that
    * turns a noisy score→outcome curve into a monotone one (q147
    * measures calibration; this FIXES it). Integer-exact: rates are
    * floor-ppm of exact count ratios, and floor is monotone, so the
    * max-min of floors IS the floor of the max-min.
    *
    * Scale shape: one corpus-wide agg folds 100 TB into ≤ 11 discount
    * bins; everything after (prefix sums, the i≤t≤j triple join) runs
    * on that vocabulary-sized table — the non-equi joins are sanctioned
    * broadcast nested loops over ≤ 11-row sides. */
  private val q405 = QueryDef(
    "q405_isotonic_return_curve",
    (spark, dir) => {
      val bins = Tables.lineitem(spark, dir)
        .groupBy(expr("CAST(floor(l_discount * 100 + 0.5) AS BIGINT)").as("d"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("r"))
      val w = Window.orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val pre = bins
        .withColumn("cn", sum(col("n")).over(w))
        .withColumn("cr", sum(col("r")).over(w))
        .withColumn("pcn", col("cn") - col("n"))
        .withColumn("pcr", col("cr") - col("r"))
      val pairs = pre.select(col("d").as("di"), col("pcn"), col("pcr"))
        .join(pre.select(col("d").as("dj"), col("cn"), col("cr")),
          col("di") <= col("dj"))
        .select(col("di"), col("dj"),
          expr("(cr - pcr) * 1000000 div (cn - pcn)").as("ppm"))
      val mins = pairs
        .join(bins.select(col("d")), col("di") <= col("d") && col("d") <= col("dj"))
        .groupBy(col("d"), col("di")).agg(min(col("ppm")).as("mn"))
      val iso = mins.groupBy(col("d")).agg(max(col("mn")).as("iso_ppm"))
      bins.join(iso, Seq("d"))
        .select(col("d").as("discount_pct"), col("n").as("n_rows"),
          col("r").as("n_returns"), expr("r * 1000000 div n").as("raw_ppm"),
          col("iso_ppm"))
        .orderBy(col("discount_pct"))
    },
    Some("""
      WITH bins AS (
        SELECT CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS d,
          CAST(count(*) AS BIGINT) AS n,
          CAST(count(*) FILTER (l_returnflag = 'R') AS BIGINT) AS r
        FROM lineitem GROUP BY 1),
      pre AS (
        SELECT d, n, r,
          CAST(sum(n) OVER w AS BIGINT) AS cn,
          CAST(sum(r) OVER w AS BIGINT) AS cr,
          CAST(sum(n) OVER w - n AS BIGINT) AS pcn,
          CAST(sum(r) OVER w - r AS BIGINT) AS pcr
        FROM bins
        WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      pairs AS (
        SELECT i.d AS di, j.d AS dj,
          (j.cr - i.pcr) * 1000000 // (j.cn - i.pcn) AS ppm
        FROM pre i JOIN pre j ON i.d <= j.d),
      mins AS (
        SELECT t.d, p.di, min(p.ppm) AS mn
        FROM pairs p JOIN bins t ON p.di <= t.d AND t.d <= p.dj
        GROUP BY t.d, p.di),
      iso AS (SELECT d, CAST(max(mn) AS BIGINT) AS iso_ppm FROM mins GROUP BY d)
      SELECT b.d AS discount_pct, b.n AS n_rows, b.r AS n_returns,
        CAST(b.r * 1000000 // b.n AS BIGINT) AS raw_ppm, iso_ppm
      FROM bins b JOIN iso USING (d) ORDER BY discount_pct
    """))

  // ---------------------------------------------------------------- q406

  /** Fellegi–Sunter record-linkage field weights: for each comparison
    * field (lang, source, length bucket), the m-probability (chance two
    * records of the SAME duplicate family agree — labeled pairs from
    * q391's 8-token-prefix families) and the u-probability (chance two
    * RANDOM records agree — the value-frequency birthday bound), plus
    * the m/u agreement weight that scores candidate links — the
    * classical probabilistic-ER model that turns q78/q296's fuzzy
    * matches into calibrated evidence.
    *
    * Scale shape: no pair is ever materialized — within-family agreeing
    * pairs are Σ c·(c−1) over (family, field, value) counts and random
    * pairs are Σ c·(c−1) over global value counts, so the whole model is
    * two keyed aggs over a 3-way unpivot of one corpus scan; the two
    * scalar denominators come back as one-row broadcasts. */
  private val q406 = QueryDef(
    "q406_fellegi_sunter_weights",
    (spark, dir) => {
      val docs = Tables.documents(spark, dir).select(
        expr("concat_ws(' ', slice(filter(split(text, ' '), t -> length(t) > 0), 1, 8))")
          .as("fam"),
        col("lang"), col("source"),
        expr("CAST(n_chars div 500 AS STRING)").as("len_b"))
      val stacked = docs.selectExpr("fam",
        "stack(3, 'lang', lang, 'source', source, 'len_bucket', len_b) AS (field, value)")
      val mNum = stacked.groupBy(col("field"), col("fam"), col("value"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("field")).agg(sum(expr("c * (c - 1)")).as("m_num"))
      val mDen = docs.groupBy(col("fam")).agg(count(lit(1)).as("s"))
        .agg(sum(expr("s * (s - 1)")).as("m_den"))
      val uNum = stacked.groupBy(col("field"), col("value"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("field")).agg(sum(expr("c * (c - 1)")).as("u_num"))
      val nn = docs.agg(count(lit(1)).as("nn"))
      mNum.join(uNum, Seq("field"))
        .crossJoin(broadcast(mDen)).crossJoin(broadcast(nn))
        .select(col("field"), col("m_num"), col("m_den"), col("u_num"),
          expr("nn * (nn - 1)").as("u_den"),
          (col("m_num").cast("double") / col("m_den")).as("m_prob"),
          (col("u_num").cast("double") / expr("nn * (nn - 1)")).as("u_prob"),
          ((col("m_num").cast("double") / col("m_den")) /
            (col("u_num").cast("double") / expr("nn * (nn - 1)"))).as("weight"))
        .orderBy(col("field"))
    },
    Some(s"""
      WITH d AS (
        SELECT array_to_string(
            $duckTokens[1:8], ' ') AS fam,
          lang, source, CAST(n_chars // 500 AS VARCHAR) AS len_b
        FROM documents),
      st AS (
        SELECT fam, 'lang' AS field, lang AS value FROM d
        UNION ALL SELECT fam, 'source', source FROM d
        UNION ALL SELECT fam, 'len_bucket', len_b FROM d),
      m_num AS (
        SELECT field, CAST(sum(c * (c - 1)) AS BIGINT) AS m_num FROM (
          SELECT field, fam, value, CAST(count(*) AS BIGINT) AS c
          FROM st GROUP BY 1, 2, 3) GROUP BY field),
      m_den AS (
        SELECT CAST(sum(s * (s - 1)) AS BIGINT) AS m_den FROM (
          SELECT CAST(count(*) AS BIGINT) AS s FROM d GROUP BY fam)),
      u_num AS (
        SELECT field, CAST(sum(c * (c - 1)) AS BIGINT) AS u_num FROM (
          SELECT field, value, CAST(count(*) AS BIGINT) AS c
          FROM st GROUP BY 1, 2) GROUP BY field),
      nn AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM d)
      SELECT m.field, m_num, m_den, u_num, nn * (nn - 1) AS u_den,
        CAST(m_num AS DOUBLE) / m_den AS m_prob,
        CAST(u_num AS DOUBLE) / (nn * (nn - 1)) AS u_prob,
        (CAST(m_num AS DOUBLE) / m_den)
          / (CAST(u_num AS DOUBLE) / (nn * (nn - 1))) AS weight
      FROM m_num m JOIN u_num USING (field) CROSS JOIN m_den CROSS JOIN nn
      ORDER BY m.field
    """))

  // ---------------------------------------------------------------- q409

  /** Edit-distance verification of duplicate candidates: every member of
    * an 8-token-prefix family is scored against the family's canonical
    * record (min doc_id) by Levenshtein distance on the first 200 chars,
    * normalized to ppm of the longer truncation — the expensive
    * character-level confirmation pass that runs AFTER cheap blocking,
    * never on raw pairs (q78 ranks fuzzy candidates; this verifies them).
    *
    * Scale shape: star pairing (member ↔ canonical) keeps the pair count
    * LINEAR in family size — no quadratic within-block join — and the
    * 200-char truncation bounds each DP cell at 200×200 regardless of
    * document length; the join key is the family prefix throughout. */
  private val q409 = QueryDef(
    "q409_edit_distance_verify",
    (spark, dir) => {
      val docs = Tables.documents(spark, dir).select(
        expr("concat_ws(' ', slice(filter(split(text, ' '), t -> length(t) > 0), 1, 8))")
          .as("fam"),
        col("doc_id"), substring(col("text"), 1, 200).as("head"))
      val canon = docs.groupBy(col("fam"))
        .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_members"))
        .filter(col("n_members") >= 2)
        .join(docs.select(col("doc_id").as("canonical_id"), col("head").as("c_head")),
          Seq("canonical_id"))
      docs.join(canon, Seq("fam"))
        .filter(col("doc_id") > col("canonical_id"))
        .select(col("canonical_id"), col("doc_id"),
          levenshtein(col("head"), col("c_head")).cast("long").as("lev"),
          greatest(length(col("head")), length(col("c_head")), lit(1))
            .cast("long").as("len_max"))
        .withColumn("norm_ppm", expr("lev * 1000000 div len_max"))
        .withColumn("is_near_dup",
          when(col("norm_ppm") <= 200000L, 1L).otherwise(0L))
        .orderBy(col("canonical_id"), col("doc_id"))
    },
    Some(s"""
      WITH d AS (
        SELECT array_to_string(
            $duckTokens[1:8], ' ') AS fam,
          doc_id, substring(text, 1, 200) AS head
        FROM documents),
      canon AS (
        SELECT fam, min(doc_id) AS canonical_id
        FROM d GROUP BY fam HAVING count(*) >= 2),
      pairs AS (
        SELECT c.canonical_id, m.doc_id, m.head, cd.head AS c_head
        FROM canon c
        JOIN d m ON m.fam = c.fam AND m.doc_id > c.canonical_id
        JOIN d cd ON cd.doc_id = c.canonical_id)
      SELECT canonical_id, doc_id,
        CAST(levenshtein(head, c_head) AS BIGINT) AS lev,
        CAST(greatest(len(head), len(c_head), 1) AS BIGINT) AS len_max,
        CAST(levenshtein(head, c_head) * 1000000
          // greatest(len(head), len(c_head), 1) AS BIGINT) AS norm_ppm,
        CAST(CASE WHEN levenshtein(head, c_head) * 1000000
            // greatest(len(head), len(c_head), 1) <= 200000
          THEN 1 ELSE 0 END AS BIGINT) AS is_near_dup
      FROM pairs
      ORDER BY canonical_id, doc_id
    """))

  override def defs: Seq[QueryDef] = Seq(q404, q405, q406, q409)
}
