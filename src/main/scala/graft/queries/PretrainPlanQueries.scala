package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.SqlMacros._

/** Round-5 pretraining-corpus planning operators: block-level exact
  * dedup (the deletion ledger, not just the audit), iterated BPE merges,
  * the degenerate-generation suffix-loop census, DSIR-style importance
  * selection, prefix-cache savings planning, data-constrained multi-epoch
  * token accounting, and the chunk-overlap sweep. All outputs integers /
  * strings with total ORDER BYs for the oracle gate.
  */
object PretrainPlanQueries extends QueryGroup {

  /** Symbol-boundary-anchored BPE merge (q477/q489): pad the sequence
    * with sentinel spaces and replace the space-delimited pair ' X Y '
    * with ' XY ', so the pair can never match ACROSS symbol boundaries
    * (plain `replace(seq, 'h e', 'he')` would fuse the tail of one
    * symbol with the head of the next, e.g. symbols `th|e` matching
    * merge 'h e'). The replace runs twice because adjacent occurrences
    * share their boundary space — the first pass takes alternating
    * matches, the second the remainder; two passes are always enough
    * since survivors of pass one are separated by merged symbols. The
    * DuckDB oracle applies the identical double replace. */
  private val BoundedMergeExpr: String =
    "trim(replace(replace(concat(' ', seq, ' '), " +
      "concat(' ', merge_pair, ' '), concat(' ', merged, ' ')), " +
      "concat(' ', merge_pair, ' '), concat(' ', merged, ' ')))"

  // ---------------------------------------------------------------- q476

  /** Block-level exact-dedup DELETION ledger (Lee et al.'s "Deduplicating
    * Training Data" applied at fixed granularity): documents split into
    * non-overlapping 8-token blocks; every block instance whose content
    * already occurred earlier in corpus order (doc_id, then block index)
    * is deleted; the ledger reports, per source, how many blocks and
    * characters the pass removes. The REMOVAL complement of q182's
    * shingle-mass audit: q182 says how duplicated a source is, this says
    * what the dedup pass actually deletes and keeps.
    *
    * Scale shape: blocks leave the scan as (md5, len) pairs — 16-byte
    * digests shuffle, never text; one digest-keyed min to elect the
    * survivor, one per-source rollup. Collisionless for practical
    * purposes and identical on both engines (md5 of the same block
    * string). Block index fits 10 bits (docs ≤ ~1k tokens), so the
    * (doc, block) order key packs into one long. */
  private val q476 = QueryDef(
    "q476_block_dedup_ledger",
    (spark, dir) => {
      val blocks = Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"),
          expr("filter(split(text, ' '), t -> t != '')").as("tk"))
        .select(col("doc_id"), col("source"),
          posexplode(expr(
            "transform(sequence(0, CAST((size(tk)-1) DIV 8 AS INT)), " +
              "b -> array_join(slice(tk, b*8 + 1, 8), ' '))")).as(Seq("b", "blk")))
        .filter(col("blk") =!= "")
        .select(col("source"), md5(col("blk")).as("d"),
          length(col("blk")).cast("long").as("blen"),
          (col("doc_id") * 1024L + col("b")).as("ord"))
      val first = blocks.groupBy(col("d")).agg(min(col("ord")).as("keep_ord"))
      blocks.join(first, Seq("d"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_blocks"),
          sum(when(col("ord") =!= col("keep_ord"), 1L).otherwise(0L)).as("n_deleted"),
          sum(when(col("ord") =!= col("keep_ord"), col("blen")).otherwise(0L))
            .as("chars_deleted"),
          sum(col("blen")).as("chars_total"))
        .select(col("source"), col("n_blocks"), col("n_deleted"),
          col("chars_deleted"),
          expr("(chars_total - chars_deleted)").as("chars_kept"),
          expr("n_deleted * 1000000 div n_blocks").as("deleted_ppm"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH tk AS (
        SELECT doc_id, source,
          $duckTokens AS tk
        FROM documents),
      blocks AS (
        SELECT source, md5(blk) AS d, CAST(len(blk) AS BIGINT) AS blen,
          doc_id * 1024 + b AS ord
        FROM (
          SELECT doc_id, source, b,
            array_to_string(list_slice(tk, b*8 + 1, b*8 + 8), ' ') AS blk
          FROM tk, LATERAL (SELECT unnest(range(0, (len(tk)-1) // 8 + 1)) AS b) g)
        WHERE blk <> ''),
      first AS (SELECT d, min(ord) AS keep_ord FROM blocks GROUP BY d)
      SELECT source, CAST(count(*) AS BIGINT) AS n_blocks,
        CAST(sum(CASE WHEN ord <> keep_ord THEN 1 ELSE 0 END) AS BIGINT)
          AS n_deleted,
        CAST(sum(CASE WHEN ord <> keep_ord THEN blen ELSE 0 END) AS BIGINT)
          AS chars_deleted,
        CAST(sum(blen) - sum(CASE WHEN ord <> keep_ord THEN blen ELSE 0 END)
          AS BIGINT) AS chars_kept,
        CAST(sum(CASE WHEN ord <> keep_ord THEN 1 ELSE 0 END) * 1000000
          // count(*) AS BIGINT) AS deleted_ppm
      FROM blocks JOIN first USING (d)
      GROUP BY source
      ORDER BY source
    """))

  // ---------------------------------------------------------------- q477

  /** Three iterated BPE training rounds — argmax pair, merge EVERYWHERE,
    * recount — emitting each round's chosen merge and the total symbol
    * count after it: the compression trajectory a tokenizer trainer
    * reads to decide when merges stop paying. Extends q394 (one merge +
    * next-round candidates) to the actual training loop.
    *
    * Scale shape: every round runs on the word-FREQUENCY table (the
    * vocabulary), not the corpus — one corpus scan feeds round 1; the
    * argmax pair is a one-row broadcast; the vocabulary is persisted per
    * round so round r's plan does not re-embed rounds 1..r−1 (the
    * q415/q427 loop discipline). */
  private val q477 = QueryDef(
    "q477_bpe_merge_rounds",
    (spark, dir) => {
      def pairCounts(df: DataFrame) = df
        .withColumn("a", split(col("seq"), " "))
        .filter(size(col("a")) >= 2)
        .select(col("f"), explode(expr(
          "transform(sequence(1, size(a) - 1), i -> concat(a[i - 1], ' ', a[i]))"))
          .as("pair"))
        .groupBy(col("pair")).agg(sum(col("f")).as("n"))
      var words = Tables.documents(spark, dir)
        .select(explode(graft.functions.expressions.tokens_native(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("f"))
        .withColumn("seq", expr(
          "concat_ws(' ', transform(sequence(1, length(w)), i -> substring(w, i, 1)))"))
        .select(col("f"), col("seq"))
        .localCheckpoint(true)
      var out: DataFrame = null
      for (round <- 1 to 3) {
        val top1 = pairCounts(words)
          .orderBy(col("n").desc, col("pair")).limit(1)
          .select(col("pair").as("merge_pair"), col("n").as("merge_n"),
            regexp_replace(col("pair"), " ", "").as("merged"))
        words = words.crossJoin(broadcast(top1))
          .withColumn("seq", expr(BoundedMergeExpr))
          .select(col("f"), col("seq"))
          .localCheckpoint(true)
        val row = words
          .agg(sum(expr("f * size(split(seq, ' '))")).as("total_symbols_after"))
          .crossJoin(broadcast(top1))
          .select(lit(round.toLong).as("round"), col("merge_pair").as("pair"),
            col("merge_n").as("n"), col("total_symbols_after"))
        out = if (out == null) row else out.unionAll(row)
      }
      out.orderBy(col("round"))
    },
    Some {
      def pairSql(src: String, out: String) = s"""
      $out AS (
        SELECT pair, sum(f) AS n FROM (
          SELECT f, a[i] || ' ' || a[i + 1] AS pair
          FROM (SELECT f, str_split(seq, ' ') AS a FROM $src),
            LATERAL (SELECT unnest(range(1, len(a))) AS i) i
          WHERE len(a) >= 2)
        GROUP BY pair)"""
      def topSql(p: String, t: String) = s"""
      $t AS (
        SELECT pair AS merge_pair, n AS merge_n, replace(pair, ' ', '') AS merged
        FROM $p ORDER BY n DESC, pair LIMIT 1)"""
      def mergeSql(w: String, t: String, out: String) = s"""
      $out AS (
        SELECT f, trim(replace(replace(' ' || seq || ' ',
            ' ' || merge_pair || ' ', ' ' || merged || ' '),
            ' ' || merge_pair || ' ', ' ' || merged || ' ')) AS seq
        FROM $w CROSS JOIN $t)"""
      def statSql(w: String, t: String, round: Int) = s"""
      SELECT CAST($round AS BIGINT) AS round, merge_pair AS pair,
        CAST(merge_n AS BIGINT) AS n,
        (SELECT CAST(sum(f * len(str_split(seq, ' '))) AS BIGINT) FROM $w)
          AS total_symbols_after
      FROM $t"""
      s"""
      WITH w0 AS (
        SELECT CAST(count(*) AS BIGINT) AS f,
          array_to_string([substring(w, CAST(i AS INTEGER), 1)
                           for i in range(1, len(w) + 1)], ' ') AS seq
        FROM (SELECT unnest($duckTokens) AS w
              FROM documents)
        GROUP BY w),
      ${pairSql("w0", "p1")}, ${topSql("p1", "t1")}, ${mergeSql("w0", "t1", "w1")},
      ${pairSql("w1", "p2")}, ${topSql("p2", "t2")}, ${mergeSql("w1", "t2", "w2")},
      ${pairSql("w2", "p3")}, ${topSql("p3", "t3")}, ${mergeSql("w2", "t3", "w3")}
      ${statSql("w1", "t1", 1)}
      UNION ALL ${statSql("w2", "t2", 2)}
      UNION ALL ${statSql("w3", "t3", 3)}
      ORDER BY round
      """
    })

  // ---------------------------------------------------------------- q478

  /** Degenerate-generation suffix-loop census: a document whose LAST p
    * tokens exactly repeat the p tokens before them (p ≤ 3) is flagged
    * with its smallest loop period — the signature of model-written text
    * that fell into a repetition loop, which Gopher-style whole-document
    * duplicate-token fractions (q73) dilute away on long texts. Reported
    * per source: docs at each period and the total looping rate.
    *
    * Scale shape: the period is a codegen'd O(suffix) kernel
    * (GraftHash.suffixLoopPeriod — boundaries scanned from the document
    * END, so cost is independent of document length); only (source,
    * period) pairs shuffle into a ≤ sources × 4 census. HOF parity is
    * asserted in KernelParitySpec; the oracle mirrors the HOF form. */
  private val q478 = QueryDef(
    "q478_suffix_loop_census",
    (spark, dir) => {
      Tables.documents(spark, dir)
        .select(col("source"),
          graft.functions.expressions.suffix_loop_period(col("text"), 3)
            .cast("long").as("p"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("p") === 1L, 1L).otherwise(0L)).as("loop_p1"),
          sum(when(col("p") === 2L, 1L).otherwise(0L)).as("loop_p2"),
          sum(when(col("p") === 3L, 1L).otherwise(0L)).as("loop_p3"))
        .select(col("source"), col("n_docs"), col("loop_p1"), col("loop_p2"),
          col("loop_p3"),
          expr("(loop_p1 + loop_p2 + loop_p3) * 1000000 div n_docs")
            .as("loop_ppm"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH tk AS (
        SELECT source, $duckTokens AS tk
        FROM documents),
      per AS (
        SELECT source,
          CASE
            WHEN len(tk) >= 2 AND list_slice(tk, len(tk), len(tk))
              = list_slice(tk, len(tk)-1, len(tk)-1) THEN 1
            WHEN len(tk) >= 4 AND list_slice(tk, len(tk)-1, len(tk))
              = list_slice(tk, len(tk)-3, len(tk)-2) THEN 2
            WHEN len(tk) >= 6 AND list_slice(tk, len(tk)-2, len(tk))
              = list_slice(tk, len(tk)-5, len(tk)-3) THEN 3
            ELSE 0 END AS p
        FROM tk)
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS loop_p1,
        CAST(sum(CASE WHEN p = 2 THEN 1 ELSE 0 END) AS BIGINT) AS loop_p2,
        CAST(sum(CASE WHEN p = 3 THEN 1 ELSE 0 END) AS BIGINT) AS loop_p3,
        CAST(sum(CASE WHEN p > 0 THEN 1 ELSE 0 END) * 1000000 // count(*)
          AS BIGINT) AS loop_ppm
      FROM per GROUP BY source ORDER BY source
    """))

  // ---------------------------------------------------------------- q479

  /** DSIR-style importance selection (Xie et al., data selection via
    * importance resampling, arithmetic-mean variant): each document is
    * scored by the mean over its bigrams of the target-domain/corpus
    * frequency ratio (target = source 'src0'), and the top quarter of
    * the corpus by score is selected; the readout is how the selection
    * redistributes across sources — the document-level counterpart of
    * q166's token-level source keyness.
    *
    * Scale shape: bigrams ship as 8-byte xxhash64 digests (never
    * text; r13 — the oracle keeps md5, digests are internal); the two
    * frequency tables are vocabulary-sized; the per-doc score is one
    * digest-keyed join + per-doc mean; selection is BIN-granular (the
    * q64/q82 pattern): the quota threshold comes from a cumulative
    * window over the score_milli HISTOGRAM — ≤ sources·1000 bins, since
    * ratio_milli ≤ n_all·1000/n_t — and is broadcast back onto the
    * scored docs. No corpus-sized sort anywhere; the boundary bin is
    * selected whole (exact-to-the-bin, the documented semantics). */
  private val q479 = QueryDef(
    "q479_dsir_selection",
    (spark, dir) => {
      // r13: 8-byte xxhash64 bigram digests instead of 32-hex md5
      // (tokens are space-free, so the two-arg hash keys the same
      // bigram identity; internal only — the q624 collision-odds
      // precedent, the oracle keeps md5) — 4× narrower shuffle keys
      // for the three digest-keyed aggregates/joins below.
      // r14, the two verdict-#1 fixes: (1) the r13 `.persist()` of this
      // stream is REVERTED — the r13 driver measured the persisted form
      // at 3.0–3.3 s vs the 1.9 s pre-persist baseline: at 4 consumers
      // the cache round-trips cost more than re-running the scan kernel
      // (the q64/q82 persist-vs-recompute call; guide §5). (2) The
      // digest itself is the fused BigramXxHashes kernel — bit-identical
      // to transform(sequence(...), i -> xxhash64(tk[i-1], tk[i]))
      // (KernelParitySpec) but one codegen'd byte scan instead of an
      // interpreted split+filter+transform chain, so the 4 recomputes
      // stay cheap.
      val bi = Tables.fanOut(Tables.documents(spark, dir))
        .select(col("doc_id"), col("source"),
          explode(graft.functions.expressions.bigram_xxhashes(col("text"))).as("d"))
      val corpus = bi.groupBy(col("d")).agg(count(lit(1)).as("c_all"))
      val target = bi.filter(col("source") === "src0")
        .groupBy(col("d")).agg(count(lit(1)).as("c_t"))
      // both corpus totals in ONE pass over the cached stream
      val totals = bi.agg(count(lit(1)).as("n_all"),
        sum(when(col("source") === "src0", 1L).otherwise(0L)).as("n_t"))
      // single fused ratio — the staged ppm form floors rare-bigram
      // corpus frequencies to 0 at large n_all and divides by zero;
      // c_t·n_all·1000 ≤ 3·10⁵ · 3·10⁶ · 10³ ≈ 9·10¹⁴, no overflow
      val ratio = corpus.join(target, Seq("d"), "left")
        .crossJoin(broadcast(totals))
        .select(col("d"),
          expr("coalesce(c_t, 0) * n_all * 1000 div (c_all * n_t)")
            .as("ratio_milli"))
      val scored = bi.join(ratio, Seq("d"))
        .groupBy(col("doc_id"), col("source"))
        .agg(expr("sum(ratio_milli) div count(*)").as("score_milli"))
      val hist = scored.groupBy(col("score_milli")).agg(count(lit(1)).as("c"))
      val cum = hist.select(col("score_milli"),
        sum(col("c")).over(Window.orderBy(col("score_milli").desc)
          .rowsBetween(Window.unboundedPreceding, 0)).as("cum"))
      val n = scored.agg(count(lit(1)).as("n_scored"))
      val thr = cum.crossJoin(broadcast(n))
        .filter(col("cum") >= expr("n_scored div 4"))
        .agg(max(col("score_milli")).as("t"))
      val sel = scored.crossJoin(broadcast(thr))
        .withColumn("selected", (col("score_milli") >= col("t")).cast("long"))
      sel.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("selected")).as("n_selected"),
          expr("sum(score_milli) div count(*)").as("avg_score_milli"))
        .select(col("source"), col("n_docs"), col("n_selected"),
          expr("n_selected * 1000000 div n_docs").as("selected_ppm"),
          col("avg_score_milli"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH bi AS (
        SELECT doc_id, source, md5(bg) AS d FROM (
          SELECT doc_id, source, tk[i] || ' ' || tk[i + 1] AS bg
          FROM (SELECT doc_id, source,
                  $duckTokens AS tk
                FROM documents),
            LATERAL (SELECT unnest(range(1, len(tk))) AS i) g
          WHERE len(tk) >= 2)),
      corpus AS (SELECT d, CAST(count(*) AS BIGINT) AS c_all FROM bi GROUP BY d),
      target AS (
        SELECT d, CAST(count(*) AS BIGINT) AS c_t FROM bi
        WHERE source = 'src0' GROUP BY d),
      totals AS (
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM bi) AS n_all,
          (SELECT CAST(count(*) AS BIGINT) FROM bi WHERE source = 'src0') AS n_t),
      ratio AS (
        SELECT d,
          CAST(coalesce(c_t, 0) * n_all * 1000 // (c_all * n_t) AS BIGINT)
            AS ratio_milli
        FROM corpus LEFT JOIN target USING (d) CROSS JOIN totals),
      scored AS (
        SELECT doc_id, source, sum(ratio_milli) // count(*) AS score_milli
        FROM bi JOIN ratio USING (d)
        GROUP BY doc_id, source),
      hist AS (
        SELECT score_milli, CAST(count(*) AS BIGINT) AS c
        FROM scored GROUP BY score_milli),
      cum AS (
        SELECT score_milli, sum(c) OVER (ORDER BY score_milli DESC) AS cum
        FROM hist),
      thr AS (
        SELECT max(score_milli) AS t FROM cum
        WHERE cum >= (SELECT count(*) FROM scored) // 4),
      sel AS (
        SELECT source, score_milli,
          CASE WHEN score_milli >= t THEN 1 ELSE 0 END AS selected
        FROM scored CROSS JOIN thr)
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(selected) AS BIGINT) AS n_selected,
        CAST(sum(selected) * 1000000 // count(*) AS BIGINT) AS selected_ppm,
        CAST(sum(score_milli) // count(*) AS BIGINT) AS avg_score_milli
      FROM sel GROUP BY source ORDER BY source
    """))

  // ---------------------------------------------------------------- q480

  /** Prefix-cache savings planner: documents sharing an identical
    * first-k-token prefix (k ∈ {4, 8, 16}) can reuse one KV-cache entry
    * for it; for each k, the plan reports how many prefix groups of size
    * ≥ 2 exist, the docs they cover, and the total prefix tokens saved
    * ((size − 1)·k per group) against the eligible token mass — the
    * inference-time decision of how much prefix caching is worth on a
    * serving corpus. q177 detects templates for REMOVAL; this prices the
    * cache REUSE of whatever remains.
    *
    * Scale shape: one scan per k is avoided by exploding the 3-value k
    * grid on the scan; prefixes ship as md5 digests; two keyed aggs (by
    * digest, then by k) end in a 3-row plan. */
  private val q480 = QueryDef(
    "q480_prefix_cache_plan",
    (spark, dir) => {
      val pref = Tables.documents(spark, dir)
        .select(expr("filter(split(text, ' '), t -> t != '')").as("tk"))
        .select(explode(expr("array(4, 8, 16)")).as("k"), col("tk"))
        .filter(size(col("tk")) >= col("k"))
        .select(col("k").cast("long").as("k"),
          md5(expr("array_join(slice(tk, 1, k), ' ')")).as("d"),
          size(col("tk")).cast("long").as("n_tok"))
      pref.groupBy(col("k"), col("d"))
        .agg(count(lit(1)).as("m"), sum(col("n_tok")).as("tok"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n_prefixes"),
          sum(when(col("m") >= 2L, 1L).otherwise(0L)).as("n_shared_prefixes"),
          sum(when(col("m") >= 2L, col("m")).otherwise(0L)).as("n_docs_shared"),
          sum(when(col("m") >= 2L, (col("m") - 1L) * col("k")).otherwise(0L))
            .as("saved_tokens"),
          sum(col("tok")).as("eligible_tokens"))
        .select(col("k"), col("n_prefixes"), col("n_shared_prefixes"),
          col("n_docs_shared"), col("saved_tokens"),
          expr("saved_tokens * 1000000 div eligible_tokens").as("saved_ppm"))
        .orderBy(col("k"))
    },
    Some(s"""
      WITH tk AS (
        SELECT $duckTokens AS tk
        FROM documents),
      pref AS (
        SELECT CAST(k AS BIGINT) AS k,
          md5(array_to_string(list_slice(tk, 1, CAST(k AS INTEGER)), ' ')) AS d,
          CAST(len(tk) AS BIGINT) AS n_tok
        FROM tk, LATERAL (SELECT unnest([4, 8, 16]) AS k) g
        WHERE len(tk) >= k),
      grp AS (
        SELECT k, d, CAST(count(*) AS BIGINT) AS m, sum(n_tok) AS tok
        FROM pref GROUP BY k, d)
      SELECT k, CAST(count(*) AS BIGINT) AS n_prefixes,
        CAST(sum(CASE WHEN m >= 2 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_shared_prefixes,
        CAST(sum(CASE WHEN m >= 2 THEN m ELSE 0 END) AS BIGINT) AS n_docs_shared,
        CAST(sum(CASE WHEN m >= 2 THEN (m - 1) * k ELSE 0 END) AS BIGINT)
          AS saved_tokens,
        CAST(sum(CASE WHEN m >= 2 THEN (m - 1) * k ELSE 0 END) * 1000000
          // sum(tok) AS BIGINT) AS saved_ppm
      FROM grp GROUP BY k ORDER BY k
    """))

  // ---------------------------------------------------------------- q481

  /** Data-constrained multi-epoch token accounting (Muennighoff et al.,
    * "Scaling Data-Constrained Language Models"): repeating data decays
    * in value, so with per-epoch utility decaying geometrically
    * (r = 0.55, integer recurrence p₀=1000, pᵢ₊₁ = pᵢ·550÷1000), the
    * EFFECTIVE token count of training e epochs over a source's
    * deduplicated supply is U·(Σᵢ₍₀..e₋₁₎ pᵢ)÷1000. Per source: the
    * unique-token supply after exact-duplicate removal and the effective
    * tokens at 1, 2, and 4 epochs — the planning table for how long
    * repeating each source keeps paying.
    *
    * Scale shape: dedup collapses to content digests (q20's discipline);
    * token counts ride the codegen'd kernel; the epoch arithmetic is a
    * per-source projection of integer constants. */
  private val q481 = QueryDef(
    "q481_epoch_decay_effective_tokens",
    (spark, dir) => {
      // cumulative utility per-mille at r=0.55: 1000, 1550, 1852, 2018
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), md5(col("text")).as("d"),
          graft.functions.expressions.token_count(col("text")).cast("long")
            .as("n_tok"))
      val keep = docs.groupBy(col("d")).agg(min(col("doc_id")).as("keep_id"))
      docs.join(keep.select(col("keep_id").as("doc_id")), Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_unique_docs"), sum(col("n_tok")).as("unique_tokens"))
        .select(col("source"), col("n_unique_docs"), col("unique_tokens"),
          col("unique_tokens").as("eff_epoch1"),
          expr("unique_tokens * 1550 div 1000").as("eff_epoch2"),
          expr("unique_tokens * 2018 div 1000").as("eff_epoch4"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH docs AS (
        SELECT doc_id, source, md5(text) AS d,
          CAST(len($duckTokens) AS BIGINT)
            AS n_tok
        FROM documents),
      keep AS (SELECT d, min(doc_id) AS keep_id FROM docs GROUP BY d)
      SELECT source, CAST(count(*) AS BIGINT) AS n_unique_docs,
        CAST(sum(n_tok) AS BIGINT) AS unique_tokens,
        CAST(sum(n_tok) AS BIGINT) AS eff_epoch1,
        CAST(sum(n_tok) * 1550 // 1000 AS BIGINT) AS eff_epoch2,
        CAST(sum(n_tok) * 2018 // 1000 AS BIGINT) AS eff_epoch4
      FROM docs JOIN keep ON docs.doc_id = keep.keep_id
      GROUP BY source ORDER BY source
    """))

  // ---------------------------------------------------------------- q482

  /** Chunk-overlap sweep: for sliding-window chunking configs
    * (L, S) ∈ {(32,24), (64,48), (128,96)}, the CLOSED-FORM cost of
    * chunking every document — chunks emitted, tokens covered (overlap
    * re-reads included), and the duplication overhead vs the raw corpus:
    * chunks(n) = 1 + ⌈max(0, n−L)/S⌉, covered = (chunks−1)·L +
    * (n − S·(chunks−1)). The PLANNER for q103's materializer: pick the
    * config before exploding 100 TB into windows.
    *
    * Scale shape: pure per-document arithmetic on the codegen'd token
    * count — nothing explodes, nothing shuffles but the 3-row census. */
  private val q482 = QueryDef(
    "q482_chunk_overlap_sweep",
    (spark, dir) => {
      val grid = spark.range(1).select(explode(expr(
        "array(named_struct('l', CAST(32 AS BIGINT), 's', CAST(24 AS BIGINT)), " +
          "named_struct('l', CAST(64 AS BIGINT), 's', CAST(48 AS BIGINT)), " +
          "named_struct('l', CAST(128 AS BIGINT), 's', CAST(96 AS BIGINT)))"))
        .as("cfg"))
        .select(col("cfg.l").as("l"), col("cfg.s").as("s"))
      Tables.documents(spark, dir)
        .select(graft.functions.expressions.token_count(col("text")).cast("long")
          .as("n"))
        .crossJoin(broadcast(grid))
        .withColumn("chunks",
          expr("1 + CASE WHEN n <= l THEN 0 ELSE (n - l + s - 1) div s END"))
        .withColumn("covered",
          expr("CASE WHEN n <= l THEN n ELSE (chunks - 1) * l + (n - s * (chunks - 1)) END"))
        .groupBy(col("l"), col("s"))
        .agg(sum(col("n")).as("total_tokens"),
          sum(col("chunks")).as("n_chunks"),
          sum(col("covered")).as("covered_tokens"))
        .select(col("l"), col("s"), col("total_tokens"), col("n_chunks"),
          col("covered_tokens"),
          expr("(covered_tokens - total_tokens) * 1000000 div total_tokens")
            .as("overhead_ppm"))
        .orderBy(col("l"))
    },
    Some(s"""
      WITH n AS (
        SELECT CAST(len($duckTokens)
          AS BIGINT) AS n
        FROM documents),
      cfg AS (SELECT * FROM (VALUES (CAST(32 AS BIGINT), CAST(24 AS BIGINT)),
        (64, 48), (128, 96)) t(l, s)),
      per AS (
        SELECT n.n, l, s,
          1 + CASE WHEN n <= l THEN 0 ELSE (n - l + s - 1) // s END AS chunks
        FROM n CROSS JOIN cfg),
      cov AS (
        SELECT n, l, s, chunks,
          CASE WHEN n <= l THEN n
            ELSE (chunks - 1) * l + (n - s * (chunks - 1)) END AS covered
        FROM per)
      SELECT l, s, CAST(sum(n) AS BIGINT) AS total_tokens,
        CAST(sum(chunks) AS BIGINT) AS n_chunks,
        CAST(sum(covered) AS BIGINT) AS covered_tokens,
        CAST((sum(covered) - sum(n)) * 1000000 // sum(n) AS BIGINT)
          AS overhead_ppm
      FROM cov GROUP BY l, s ORDER BY l
    """))

  /** Per source, how many word transitions a bigram-argmax draft model
    * predicts: `(source, n_transitions, n_accepted)`. The draft is the
    * most frequent next token per head over the whole corpus;
    * transitions ship as md5 digest pairs (never text), the draft table
    * is vocabulary-sized (one rank per head), and one digest-keyed join
    * scores every transition. q483 prices a 4-token draft with it,
    * q549 sweeps the draft length. */
  private[queries] def draftAcceptance(spark: SparkSession, dir: String): DataFrame = {
    val trans = Tables.documents(spark, dir)
      .select(col("source"), expr("filter(split(text, ' '), t -> t != '')").as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(col("source"), explode(expr(
        "transform(sequence(1, size(tk) - 1), " +
          "i -> named_struct('h', tk[i - 1], 'n', tk[i]))")).as("p"))
      .select(col("source"), md5(col("p.h")).as("h"), md5(col("p.n")).as("n"))
    val draft = trans.groupBy(col("h"), col("n")).agg(count(lit(1)).as("c"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("h")).orderBy(col("c").desc, col("n"))))
      .filter(col("rk") === 1)
      .select(col("h"), col("n").as("n_star"))
    trans.join(draft, Seq("h"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_transitions"),
        sum(when(col("n") === col("n_star"), 1L).otherwise(0L)).as("n_accepted"))
  }

  // ---------------------------------------------------------------- q483

  /** Speculative-decoding acceptance estimate: with a bigram-argmax
    * draft model (most frequent next token per head, corpus-trained),
    * the acceptance rate is the share of real transitions whose next
    * token IS the draft's argmax; expected tokens per verify step with a
    * 4-token draft window follows the geometric chain 1 + a + a² + a³ +
    * a⁴ (integer milli powers). Per source: how predictable its text is
    * and the speculative speedup it would actually see — q79 BUILDS the
    * bigram table, this prices the serving win of drafting with it.
    *
    * Scale shape: transitions ship as md5 digest pairs (never text);
    * the draft table is vocabulary-sized (one rank per head); one
    * digest-keyed join scores every transition; per-source rollup. */
  private val q483 = QueryDef(
    "q483_speculative_acceptance",
    (spark, dir) => {
      draftAcceptance(spark, dir)
        .select(col("source"), col("n_transitions"), col("n_accepted"),
          expr("n_accepted * 1000000 div n_transitions").as("acc_ppm"))
        .select(col("source"), col("n_transitions"), col("n_accepted"), col("acc_ppm"),
          expr("acc_ppm div 1000").as("p1"))
        .select(col("*"), expr("p1 * p1 div 1000").as("p2"))
        .select(col("*"), expr("p2 * p1 div 1000").as("p3"))
        .select(col("source"), col("n_transitions"), col("n_accepted"), col("acc_ppm"),
          expr("1000 + p1 + p2 + p3 + p3 * p1 div 1000")
            .as("tokens_per_step_milli"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH trans AS (
        SELECT source, md5(tk[i]) AS h, md5(tk[i + 1]) AS n
        FROM (SELECT source, $duckTokens AS tk
              FROM documents),
          LATERAL (SELECT unnest(range(1, len(tk))) AS i) g
        WHERE len(tk) >= 2),
      draft AS (
        SELECT h, n AS n_star FROM (
          SELECT h, n, row_number() OVER (PARTITION BY h
            ORDER BY count(*) DESC, n) AS rk
          FROM trans GROUP BY h, n)
        WHERE rk = 1),
      acc AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_transitions,
          CAST(sum(CASE WHEN trans.n = n_star THEN 1 ELSE 0 END) AS BIGINT)
            AS n_accepted
        FROM trans JOIN draft USING (h)
        GROUP BY source),
      p AS (
        SELECT source, n_transitions, n_accepted,
          CAST(n_accepted * 1000000 // n_transitions AS BIGINT) AS acc_ppm,
          CAST(n_accepted * 1000000 // n_transitions // 1000 AS BIGINT) AS p1
        FROM acc),
      pp AS (SELECT *, CAST(p1 * p1 // 1000 AS BIGINT) AS p2 FROM p),
      ppp AS (SELECT *, CAST(p2 * p1 // 1000 AS BIGINT) AS p3 FROM pp)
      SELECT source, n_transitions, n_accepted, acc_ppm,
        CAST(1000 + p1 + p2 + p3 + p3 * p1 // 1000 AS BIGINT)
          AS tokens_per_step_milli
      FROM ppp ORDER BY source
    """))

  // ---------------------------------------------------------------- q484

  /** Maximal-marginal-relevance retrieval: from the top-20 candidates by
    * quantized cosine to the query vector (vec_id 0), greedily select 5
    * results maximizing relevance − max-similarity-to-already-selected
    * (λ = ½, monotone-equivalent to the difference) — the result
    * diversification that keeps near-duplicate passages from filling a
    * RAG context window. q217 caps by a CATEGORY; this diversifies by
    * CONTENT similarity.
    *
    * Scale shape: the only corpus-sized work is the top-20 scan (one
    * codegen'd cosine per row + a global top-k); the 20×20 similarity
    * grid is collected and the 5 greedy rounds run on the driver — a
    * BOUNDED build (≤ 400 longs, the q32/IVF centroid-collect pattern),
    * not a distributed loop. Integer milli scores; ties on vec_id. */
  private val q484 = QueryDef(
    "q484_mmr_diversified_retrieval",
    (spark, dir) => {
      import graft.functions.expressions.quantized_cosine
      val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
      val q = emb.filter(col("vec_id") === 0L)
        .select(col("embedding").as("q_emb"))
      val cand = emb.filter(col("vec_id") =!= 0L)
        .crossJoin(broadcast(q))
        .select(col("vec_id"), col("embedding"),
          quantized_cosine(col("embedding"), col("q_emb")).as("cos"))
        .filter(col("cos").isNotNull) // zero-norm vectors: undefined cosine
        .select(col("vec_id").as("a"), col("embedding").as("ea"),
          expr("CAST(floor(cos * 1000 + 0.5) AS BIGINT)").as("rel"))
        .orderBy(col("rel").desc, col("a")).limit(20)
        .persist()
      val sims = cand.select(col("a"), col("ea"))
        .crossJoin(cand.select(col("a").as("b"), col("ea").as("eb")))
        .filter(col("a") =!= col("b"))
        .select(col("a"), col("b"),
          quantized_cosine(col("ea"), col("eb")).as("cos"))
        .select(col("a"), col("b"),
          expr("CAST(floor(cos * 1000 + 0.5) AS BIGINT)").as("sim"))
      // the candidate set is BOUNDED (20 rows + 380 sims) — the greedy
      // rounds run on the driver over the collected grid (the q32/IVF
      // bounded-broadcast-build pattern) instead of 5 chained tiny-join
      // jobs, which cost ~5 scheduler round-trips for 20 rows of work
      val candRows = cand.select(col("a"), col("rel")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val simMap = sims.collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
      val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
      for (rank <- 1L to 5L) {
        val remaining = candRows.filterNot(c => picked.exists(_._2 == c._1))
        val scoredRound = remaining.map { case (id, rel) =>
          val maxsim =
            if (picked.isEmpty) 0L
            else picked.map(p => simMap.getOrElse((id, p._2), 0L)).max
          (rel - maxsim, id, rel, maxsim)
        }
        val best = scoredRound.minBy { case (score, id, _, _) => (-score, id) }
        picked += ((rank, best._2, best._3, best._4))
      }
      import spark.implicits._
      picked.toSeq.toDF("rank", "vec_id", "rel", "maxsim")
        .select(col("rank"), col("vec_id"), col("rel"), col("maxsim"),
          (col("rel") - col("maxsim")).as("mmr_milli"))
        .orderBy(col("rank"))
    },
    Some {
      def round(i: Int, prev: String) = s"""
      c$i AS (
        SELECT c.a, c.rel,
          (SELECT max(s.sim) FROM sims s
           WHERE s.a = c.a AND s.b IN (SELECT vec_id FROM $prev)) AS maxsim
        FROM cand c WHERE c.a NOT IN (SELECT vec_id FROM $prev)),
      pick$i AS (
        SELECT a AS vec_id, CAST($i AS BIGINT) AS rank, rel, maxsim
        FROM c$i ORDER BY rel - maxsim DESC, a LIMIT 1),
      sel$i AS (SELECT * FROM $prev UNION ALL SELECT * FROM pick$i)"""
      s"""
      WITH v AS (
        SELECT vec_id,
          $duckQuantVec AS qv
        FROM embeddings),
      n AS (
        SELECT vec_id, qv,
          CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS nsq
        FROM v),
      q AS (SELECT qv AS q_qv, nsq AS q_nsq FROM n WHERE vec_id = 0),
      cand AS (
        SELECT vec_id AS a, qv, nsq,
          CAST(floor(
            CAST(CAST(list_sum(list_transform(range(1, len(qv)+1),
              i -> qv[i]*q_qv[i])) AS BIGINT) AS DOUBLE)
            / sqrt(CAST(nsq AS DOUBLE)*CAST(q_nsq AS DOUBLE)) * 1000 + 0.5)
            AS BIGINT) AS rel
        FROM n CROSS JOIN q
        WHERE vec_id <> 0 AND nsq > 0 AND q_nsq > 0
        ORDER BY rel DESC, vec_id LIMIT 20),
      sims AS (
        SELECT x.a, y.a AS b,
          CAST(floor(
            CAST(CAST(list_sum(list_transform(range(1, len(x.qv)+1),
              i -> x.qv[i]*y.qv[i])) AS BIGINT) AS DOUBLE)
            / sqrt(CAST(x.nsq AS DOUBLE)*CAST(y.nsq AS DOUBLE)) * 1000 + 0.5)
            AS BIGINT) AS sim
        FROM cand x JOIN cand y ON x.a <> y.a),
      sel1 AS (
        SELECT a AS vec_id, CAST(1 AS BIGINT) AS rank, rel,
          CAST(0 AS BIGINT) AS maxsim
        FROM cand ORDER BY rel DESC, a LIMIT 1),
      ${round(2, "sel1")},
      ${round(3, "sel2")},
      ${round(4, "sel3")},
      ${round(5, "sel4")}
      SELECT rank, vec_id, rel, maxsim, rel - maxsim AS mmr_milli
      FROM sel5 ORDER BY rank
      """
    })

  // ---------------------------------------------------------------- q485

  /** Fill-in-the-middle split plan: every document with ≥ 3 tokens gets
    * a deterministic hash-derived (prefix, middle, suffix) split (all
    * three non-empty), the transform FIM-pretrained code/text models
    * apply to part of the corpus; the plan reports eligibility and the
    * mean span lengths per source — what the training pipeline needs to
    * size the transformed stream before materializing it.
    *
    * Scale shape: pure per-document arithmetic on the codegen'd token
    * count and the multiplicative hash — nothing explodes; one
    * per-source rollup. */
  private val q485 = QueryDef(
    "q485_fim_split_plan",
    (spark, dir) => {
      val d = Tables.documents(spark, dir)
        .select(col("source"),
          graft.functions.expressions.token_count(col("text")).cast("long").as("n"),
          graft.operators.Sampling.keyHash(col("doc_id")).as("h"))
        .withColumn("a", when(col("n") >= 3L, lit(1L) + col("h") % (col("n") - 2L)))
        .withColumn("b", when(col("n") >= 3L,
          col("a") + 1L + expr("h div 97") % (col("n") - 1L - col("a"))))
      d.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("a").isNotNull, 1L).otherwise(0L)).as("n_eligible"),
          sum(coalesce(col("a"), lit(0L))).as("sum_prefix"),
          sum(coalesce(col("b") - col("a"), lit(0L))).as("sum_middle"),
          sum(coalesce(col("n") - col("b"), lit(0L))).as("sum_suffix"))
        .select(col("source"), col("n_docs"), col("n_eligible"),
          expr("n_eligible * 1000000 div n_docs").as("fim_ppm"),
          expr("CASE WHEN n_eligible = 0 THEN 0 " +
            "ELSE sum_prefix * 1000 div n_eligible END").as("mean_prefix_milli"),
          expr("CASE WHEN n_eligible = 0 THEN 0 " +
            "ELSE sum_middle * 1000 div n_eligible END").as("mean_middle_milli"),
          expr("CASE WHEN n_eligible = 0 THEN 0 " +
            "ELSE sum_suffix * 1000 div n_eligible END").as("mean_suffix_milli"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH d AS (
        SELECT source,
          CAST(len($duckTokens) AS BIGINT)
            AS n,
          CAST(((doc_id % 2147483648) * 2654435761) % 4294967296 AS BIGINT) AS h
        FROM documents),
      ab AS (
        SELECT source, n, h,
          CASE WHEN n >= 3 THEN 1 + h % (n - 2) END AS a
        FROM d),
      ab2 AS (
        SELECT source, n, a,
          CASE WHEN a IS NOT NULL THEN a + 1 + (h // 97) % (n - 1 - a) END AS b
        FROM ab)
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_eligible,
        CAST(sum(CASE WHEN a IS NOT NULL THEN 1 ELSE 0 END) * 1000000
          // count(*) AS BIGINT) AS fim_ppm,
        CAST(CASE WHEN sum(CASE WHEN a IS NOT NULL THEN 1 ELSE 0 END) = 0 THEN 0
          ELSE sum(coalesce(a, 0)) * 1000
            // sum(CASE WHEN a IS NOT NULL THEN 1 ELSE 0 END) END AS BIGINT)
          AS mean_prefix_milli,
        CAST(CASE WHEN sum(CASE WHEN a IS NOT NULL THEN 1 ELSE 0 END) = 0 THEN 0
          ELSE sum(coalesce(b - a, 0)) * 1000
            // sum(CASE WHEN a IS NOT NULL THEN 1 ELSE 0 END) END AS BIGINT)
          AS mean_middle_milli,
        CAST(CASE WHEN sum(CASE WHEN a IS NOT NULL THEN 1 ELSE 0 END) = 0 THEN 0
          ELSE sum(coalesce(n - b, 0)) * 1000
            // sum(CASE WHEN a IS NOT NULL THEN 1 ELSE 0 END) END AS BIGINT)
          AS mean_suffix_milli
      FROM ab2 GROUP BY source ORDER BY source
    """))

  // ---------------------------------------------------------------- q486

  /** Incremental LSH index maintenance: with the standing corpus
    * (doc_id % 10 ≠ 0) already banded into q21's MinHash bucket index, a
    * 10% delta batch arrives; per band, the audit reports the buckets
    * the delta touches, the brand-new buckets it creates, and the
    * candidate (delta × standing) pairs the insert triggers — the
    * maintenance cost that decides between re-banding the lake and
    * probing the standing index (q315's content-digest triage, lifted to
    * NEAR-duplicate signatures).
    *
    * Scale shape: signatures come from the fused codegen'd kernel; the
    * standing side collapses to a (band, bucket → count) index (longs
    * only); the delta probes it with one keyed left join — delta-sized,
    * never corpus × corpus. */
  private val q486 = QueryDef(
    "q486_lsh_delta_maintenance",
    (spark, dir) => {
      import graft.dedup.MinHashLSH
      val cfg = MinHashLSH.Config()
      val docs = Tables.documents(spark, dir)
      def bandBuckets(df: DataFrame) = {
        val buckets = array((0 until cfg.bands).map { b =>
          (0 until cfg.rowsPerBand).foldLeft(lit(0L): Column)((acc, r) =>
            ((acc * lit(1000000007L)) % lit(2147483647L)
              + col("sig").getItem(b * cfg.rowsPerBand + r)) % lit(2147483647L))
        }: _*)
        MinHashLSH.signatures(df, "doc_id", "text", cfg)
          .select(col("doc_id"), posexplode(buckets).as(Seq("band", "bucket")))
          .select(col("doc_id"), col("band").cast("long").as("band"), col("bucket"))
      }
      val standing = bandBuckets(docs.filter(col("doc_id") % 10L =!= 0L))
        .groupBy(col("band"), col("bucket")).agg(count(lit(1)).as("n_standing"))
      val delta = bandBuckets(docs.filter(col("doc_id") % 10L === 0L))
      delta.join(standing, Seq("band", "bucket"), "left")
        .groupBy(col("band"))
        .agg(countDistinct(col("doc_id")).as("delta_docs"),
          countDistinct(col("bucket")).as("buckets_touched"),
          countDistinct(when(col("n_standing").isNull, col("bucket")))
            .as("new_buckets"),
          sum(coalesce(col("n_standing"), lit(0L))).as("cand_pairs"))
        .orderBy(col("band"))
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id, list_transform($duckTokens,
          tok -> ${duckPolyHashOf("tok")}) AS th
        FROM documents),
      shs AS (
        SELECT doc_id, list_distinct([
            ((th[i]*31 + th[i+1])*31 + th[i+2]) % 1000000007
            for i in range(1, len(th)-1)]) AS sh
        FROM toks WHERE len(th) >= 3),
      sigs AS (
        SELECT doc_id, t.j,
          list_min(list_transform(sh, h -> (h*(2*t.j+1) + 7919*t.j) % 1000000007)) AS m
        FROM shs CROSS JOIN (SELECT unnest(range(16)) AS j) t),
      bands AS (
        SELECT doc_id, CAST(j//4 AS BIGINT) AS band,
          list_reduce(list_prepend(0::BIGINT, list(m ORDER BY j)),
            (a,x) -> ((a*1000000007) % 2147483647 + x) % 2147483647) AS bucket
        FROM sigs GROUP BY doc_id, j//4),
      standing AS (
        SELECT band, bucket, CAST(count(*) AS BIGINT) AS n_standing
        FROM bands WHERE doc_id % 10 <> 0 GROUP BY band, bucket),
      delta AS (SELECT * FROM bands WHERE doc_id % 10 = 0)
      SELECT band,
        CAST(count(DISTINCT delta.doc_id) AS BIGINT) AS delta_docs,
        CAST(count(DISTINCT delta.bucket) AS BIGINT) AS buckets_touched,
        CAST(count(DISTINCT CASE WHEN n_standing IS NULL THEN delta.bucket END)
          AS BIGINT) AS new_buckets,
        CAST(sum(coalesce(n_standing, 0)) AS BIGINT) AS cand_pairs
      FROM delta LEFT JOIN standing USING (band, bucket)
      GROUP BY band ORDER BY band
    """))

  // ---------------------------------------------------------------- q487

  /** Packing attention-waste audit: when q69's packed 512-token windows
    * are trained WITHOUT document masking, attention burns FLOPs on
    * cross-document pairs — per window, waste = (T² − Σᵢ lᵢ²)/T² where
    * lᵢ is each document's token span inside the window (straddlers
    * contribute their overlap). Reported per lang: windows, the exact
    * quadratic masses, and the waste rate — the number that decides
    * whether block-diagonal attention masking is worth implementing.
    *
    * Scale shape: q69's discipline — cumulative starts via a window
    * partitioned by (lang, shard), never a global sort; each doc
    * explodes into ⌈len/512⌉+1 overlap rows at most; two integer
    * aggregates end lang-sized. */
  private val q487 = QueryDef(
    "q487_packing_attention_waste",
    (spark, dir) => {
      val w = Window.partitionBy(col("lang"), col("shard"))
        .orderBy(col("doc_id"))
      val spans = Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), (col("doc_id") % 4L).as("shard"),
          graft.functions.expressions.token_count(col("text")).cast("long").as("len"))
        .filter(col("len") >= 1L)
        .withColumn("endp", sum(col("len")).over(w))
        .withColumn("startp", col("endp") - col("len"))
        .select(col("lang"), col("shard"), col("startp"), col("endp"),
          explode(expr(
            "sequence(startp div 512, (endp - 1) div 512)")).as("win"))
        .select(col("lang"), col("shard"), col("win"),
          (least(col("endp"), (col("win") + 1L) * 512L)
            - greatest(col("startp"), col("win") * 512L)).as("l"))
      spans.groupBy(col("lang"), col("shard"), col("win"))
        .agg(sum(col("l")).as("t"), sum(col("l") * col("l")).as("s2"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_windows"),
          sum(col("t") * col("t")).as("sum_t2"),
          sum(col("s2")).as("sum_l2"))
        .select(col("lang"), col("n_windows"), col("sum_t2"), col("sum_l2"),
          expr("(sum_t2 - sum_l2) * 1000000 div sum_t2").as("waste_ppm"))
        .orderBy(col("lang"))
    },
    Some(s"""
      WITH d AS (
        SELECT doc_id, lang, doc_id % 4 AS shard,
          CAST(len($duckTokens) AS BIGINT)
            AS len
        FROM documents),
      pos AS (
        SELECT lang, shard,
          CAST(sum(len) OVER (PARTITION BY lang, shard ORDER BY doc_id
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS endp,
          CAST(sum(len) OVER (PARTITION BY lang, shard ORDER BY doc_id
            ROWS UNBOUNDED PRECEDING) - len AS BIGINT) AS startp
        FROM d WHERE len >= 1),
      spans AS (
        SELECT lang, shard, win,
          least(endp, (win + 1) * 512) - greatest(startp, win * 512) AS l
        FROM pos, LATERAL (SELECT unnest(range(startp // 512, (endp - 1) // 512 + 1))
          AS win) g),
      wins AS (
        SELECT lang, shard, win, sum(l) AS t, sum(l * l) AS s2
        FROM spans GROUP BY lang, shard, win)
      SELECT lang, CAST(count(*) AS BIGINT) AS n_windows,
        CAST(sum(t * t) AS BIGINT) AS sum_t2,
        CAST(sum(s2) AS BIGINT) AS sum_l2,
        CAST((sum(t * t) - sum(s2)) * 1000000 // sum(t * t) AS BIGINT)
          AS waste_ppm
      FROM wins GROUP BY lang ORDER BY lang
    """))

  // ---------------------------------------------------------------- q488

  /** Paged KV-cache fragmentation plan (vLLM's PagedAttention layout):
    * with KV pages of {16, 64, 256} tokens, each sequence wastes
    * pages·page − len tokens of internal fragmentation but costs one
    * page-table entry per page; the sweep reports both sides of the
    * tradeoff corpus-wide — the serving-memory twin of q482's chunking
    * sweep.
    *
    * Scale shape: pure per-document arithmetic on the codegen'd token
    * count, one 3-row census. */
  private val q488 = QueryDef(
    "q488_paged_kv_fragmentation",
    (spark, dir) => {
      val grid = spark.range(1).select(explode(expr(
        "array(CAST(16 AS BIGINT), CAST(64 AS BIGINT), CAST(256 AS BIGINT))"))
        .as("page"))
      Tables.documents(spark, dir)
        .select(graft.functions.expressions.token_count(col("text")).cast("long")
          .as("len"))
        .filter(col("len") >= 1L)
        .crossJoin(broadcast(grid))
        .select(col("page"), col("len"),
          expr("(len + page - 1) div page").as("pages"))
        .groupBy(col("page"))
        .agg(count(lit(1)).as("n_seqs"),
          sum(col("len")).as("total_tokens"),
          sum(col("pages")).as("page_table_entries"),
          sum(col("pages") * col("page") - col("len")).as("frag_tokens"))
        .select(col("page"), col("n_seqs"), col("total_tokens"),
          col("page_table_entries"), col("frag_tokens"),
          expr("frag_tokens * 1000000 div (total_tokens + frag_tokens)")
            .as("frag_ppm"))
        .orderBy(col("page"))
    },
    Some(s"""
      WITH d AS (
        SELECT CAST(len($duckTokens)
          AS BIGINT) AS len
        FROM documents),
      g AS (
        SELECT page, len, (len + page - 1) // page AS pages
        FROM (SELECT len FROM d WHERE len >= 1),
          LATERAL (SELECT unnest([CAST(16 AS BIGINT), 64, 256]) AS page) p)
      SELECT page, CAST(count(*) AS BIGINT) AS n_seqs,
        CAST(sum(len) AS BIGINT) AS total_tokens,
        CAST(sum(pages) AS BIGINT) AS page_table_entries,
        CAST(sum(pages * page - len) AS BIGINT) AS frag_tokens,
        CAST(sum(pages * page - len) * 1000000
          // (sum(len) + sum(pages * page - len)) AS BIGINT) AS frag_ppm
      FROM g GROUP BY page ORDER BY page
    """))

  // ---------------------------------------------------------------- q489

  /** Tokenizer merge TRANSFER eval: the 3 BPE merges learned on the
    * training split (doc_id % 5 ≠ 0) are applied to both splits; per
    * split the readout is symbols before/after and the reduction rate —
    * if holdout reduction falls far below train reduction, the merges
    * memorized the split instead of the language (q477 trains; this is
    * its generalization audit).
    *
    * Scale shape: q477's loop on the train vocabulary only; applying
    * the 3 learned merges to each split's vocabulary is three broadcast
    * replaces. Split tables persist across the learn/apply phases. */
  private val q489 = QueryDef(
    "q489_merge_transfer_eval",
    (spark, dir) => {
      def vocab(df: DataFrame) = df
        .select(explode(graft.functions.expressions.tokens_native(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("f"))
        .withColumn("seq", expr(
          "concat_ws(' ', transform(sequence(1, length(w)), i -> substring(w, i, 1)))"))
        .select(col("f"), col("seq"))
      def pairCounts(df: DataFrame) = df
        .withColumn("a", split(col("seq"), " "))
        .filter(size(col("a")) >= 2)
        .select(col("f"), explode(expr(
          "transform(sequence(1, size(a) - 1), i -> concat(a[i - 1], ' ', a[i]))"))
          .as("pair"))
        .groupBy(col("pair")).agg(sum(col("f")).as("n"))
      val docs = Tables.documents(spark, dir)
      var train = vocab(docs.filter(col("doc_id") % 5L =!= 0L)).localCheckpoint(true)
      var hold = vocab(docs.filter(col("doc_id") % 5L === 0L)).localCheckpoint(true)
      val before = (df: DataFrame) =>
        df.agg(sum(expr("f * size(split(seq, ' '))")).as("v"))
      val trainBefore = before(train)
      val holdBefore = before(hold)
      for (_ <- 1 to 3) {
        val top1 = pairCounts(train)
          .orderBy(col("n").desc, col("pair")).limit(1)
          .select(col("pair").as("merge_pair"),
            regexp_replace(col("pair"), " ", "").as("merged"))
        train = train.crossJoin(broadcast(top1))
          .withColumn("seq", expr(BoundedMergeExpr))
          .select(col("f"), col("seq")).localCheckpoint(true)
        hold = hold.crossJoin(broadcast(top1))
          .withColumn("seq", expr(BoundedMergeExpr))
          .select(col("f"), col("seq")).localCheckpoint(true)
      }
      def row(tag: String, b: DataFrame, after: DataFrame) =
        b.select(col("v").as("symbols_before"))
          .crossJoin(after.select(col("v").as("symbols_after")))
          .select(lit(tag).as("split"), col("symbols_before"), col("symbols_after"),
            expr("(symbols_before - symbols_after) * 1000000 div symbols_before")
              .as("reduction_ppm"))
      row("holdout", holdBefore, before(hold))
        .unionAll(row("train", trainBefore, before(train)))
        .orderBy(col("split"))
    },
    Some {
      def vocabSql(pred: String, out: String) = s"""
      $out AS (
        SELECT CAST(count(*) AS BIGINT) AS f,
          array_to_string([substring(w, CAST(i AS INTEGER), 1)
                           for i in range(1, len(w) + 1)], ' ') AS seq
        FROM (SELECT unnest($duckTokens) AS w
              FROM documents WHERE $pred)
        GROUP BY w)"""
      def pairSql(src: String, out: String) = s"""
      $out AS (
        SELECT pair, sum(f) AS n FROM (
          SELECT f, a[i] || ' ' || a[i + 1] AS pair
          FROM (SELECT f, str_split(seq, ' ') AS a FROM $src),
            LATERAL (SELECT unnest(range(1, len(a))) AS i) i
          WHERE len(a) >= 2)
        GROUP BY pair)"""
      def topSql(p: String, t: String) = s"""
      $t AS (
        SELECT pair AS merge_pair, replace(pair, ' ', '') AS merged
        FROM $p ORDER BY n DESC, pair LIMIT 1)"""
      def mergeSql(w: String, t: String, out: String) = s"""
      $out AS (
        SELECT f, trim(replace(replace(' ' || seq || ' ',
            ' ' || merge_pair || ' ', ' ' || merged || ' '),
            ' ' || merge_pair || ' ', ' ' || merged || ' ')) AS seq
        FROM $w CROSS JOIN $t)"""
      def symSql(w: String) =
        s"(SELECT CAST(sum(f * len(str_split(seq, ' '))) AS BIGINT) FROM $w)"
      s"""
      WITH ${vocabSql("doc_id % 5 <> 0", "tr0")}, ${vocabSql("doc_id % 5 = 0", "ho0")},
      ${pairSql("tr0", "p1")}, ${topSql("p1", "t1")},
      ${mergeSql("tr0", "t1", "tr1")}, ${mergeSql("ho0", "t1", "ho1")},
      ${pairSql("tr1", "p2")}, ${topSql("p2", "t2")},
      ${mergeSql("tr1", "t2", "tr2")}, ${mergeSql("ho1", "t2", "ho2")},
      ${pairSql("tr2", "p3")}, ${topSql("p3", "t3")},
      ${mergeSql("tr2", "t3", "tr3")}, ${mergeSql("ho2", "t3", "ho3")}
      SELECT 'holdout' AS split, ${symSql("ho0")} AS symbols_before,
        ${symSql("ho3")} AS symbols_after,
        (${symSql("ho0")} - ${symSql("ho3")}) * 1000000 // ${symSql("ho0")}
          AS reduction_ppm
      UNION ALL
      SELECT 'train', ${symSql("tr0")}, ${symSql("tr3")},
        (${symSql("tr0")} - ${symSql("tr3")}) * 1000000 // ${symSql("tr0")}
      ORDER BY split
      """
    })

  // ---------------------------------------------------------------- q490

  /** Lexical-entropy junk filter: per document, the floor-log2 entropy
    * proxy Σᵢ cᵢ·(⌊log2 n⌋ − ⌊log2 cᵢ⌋) over its token counts — 0 for a
    * single repeated token, ≈ n·log2(n) for all-distinct text — bucketed
    * into low/mid/high per source: the cheap gibberish/boilerplate
    * filter (the C4-family pipelines gate on exactly this signal class)
    * with pure integer arithmetic where true entropy would need
    * portable logarithms.
    *
    * Scale shape: per-doc token counts are a (doc, token-digest) agg;
    * the bitlength ladder is a codegen'd CASE; output is a per-source
    * 3-bucket census. */
  private val q490 = QueryDef(
    "q490_lexical_entropy_filter",
    (spark, dir) => {
      def bitlen(c: String): String =
        s"CASE WHEN $c >= 1024 THEN 10 WHEN $c >= 512 THEN 9 WHEN $c >= 256 THEN 8 " +
          s"WHEN $c >= 128 THEN 7 WHEN $c >= 64 THEN 6 WHEN $c >= 32 THEN 5 " +
          s"WHEN $c >= 16 THEN 4 WHEN $c >= 8 THEN 3 WHEN $c >= 4 THEN 2 " +
          s"WHEN $c >= 2 THEN 1 ELSE 0 END"
      val counts = Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"),
          explode(expr("filter(split(text, ' '), t -> t != '')")).as("w"))
        .groupBy(col("doc_id"), col("source"), md5(col("w")).as("d"))
        .agg(count(lit(1)).as("c"))
      val perDoc = counts.groupBy(col("doc_id"), col("source"))
        .agg(sum(col("c")).as("n"),
          sum(col("c") * expr(bitlen("c"))).as("sum_cb"))
        .select(col("source"),
          (col("n") * expr(bitlen("n")) - col("sum_cb")).as("h_scaled"),
          col("n"))
        // per-token entropy proxy in milli-bits
        .select(col("source"), expr("h_scaled * 1000 div n").as("h_milli"))
      perDoc.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("h_milli") < 3000L, 1L).otherwise(0L)).as("n_low"),
          sum(when(col("h_milli") >= 3000L && col("h_milli") < 6000L, 1L)
            .otherwise(0L)).as("n_mid"),
          sum(when(col("h_milli") >= 6000L, 1L).otherwise(0L)).as("n_high"))
        .select(col("source"), col("n_docs"), col("n_low"), col("n_mid"),
          col("n_high"),
          expr("n_low * 1000000 div n_docs").as("low_ppm"))
        .orderBy(col("source"))
    },
    Some {
      def bitlen(c: String) =
        s"""CASE WHEN $c >= 1024 THEN 10 WHEN $c >= 512 THEN 9 WHEN $c >= 256 THEN 8
          WHEN $c >= 128 THEN 7 WHEN $c >= 64 THEN 6 WHEN $c >= 32 THEN 5
          WHEN $c >= 16 THEN 4 WHEN $c >= 8 THEN 3 WHEN $c >= 4 THEN 2
          WHEN $c >= 2 THEN 1 ELSE 0 END"""
      s"""
      WITH counts AS (
        SELECT doc_id, source, md5(w) AS d, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT doc_id, source,
                unnest($duckTokens) AS w
              FROM documents)
        GROUP BY doc_id, source, md5(w)),
      per AS (
        SELECT doc_id, source, sum(c) AS n,
          sum(c * (${bitlen("c")})) AS sum_cb
        FROM counts GROUP BY doc_id, source),
      h AS (
        SELECT source,
          CAST((n * (${bitlen("n")}) - sum_cb) * 1000 // n AS BIGINT) AS h_milli
        FROM per)
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN h_milli < 3000 THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
        CAST(sum(CASE WHEN h_milli >= 3000 AND h_milli < 6000 THEN 1 ELSE 0 END)
          AS BIGINT) AS n_mid,
        CAST(sum(CASE WHEN h_milli >= 6000 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
        CAST(sum(CASE WHEN h_milli < 3000 THEN 1 ELSE 0 END) * 1000000
          // count(*) AS BIGINT) AS low_ppm
      FROM h GROUP BY source ORDER BY source
    """
    })

  // ---------------------------------------------------------------- q491

  /** Static-batching padding audit: serving batches of 8 formed in
    * ARRIVAL order (doc_id) pad every member to the batch max; re-forming
    * the same stream in LENGTH-sorted order collapses that padding. Both
    * policies are costed exactly — the savings number that justifies a
    * sorting/bucketing stage in front of a batch-inference fleet (q94
    * BUILDS length buckets; this prices what they buy).
    *
    * Scale shape: q94's sharded form — the serving fleet is modeled as
    * 4 deterministic hash shards (`doc_id % 4`; the shard count is the
    * parallelism dial, ∝ fleet size in production), each shard batches
    * its own arrival stream independently (batches never span shards —
    * exactly how a real router behaves), and the row_number runs WITHIN
    * a shard. Padding sums are shard-additive, so the audit totals are
    * exact; no global single-partition window anywhere. */
  private val q491 = QueryDef(
    "q491_arrival_vs_sorted_batching",
    (spark, dir) => {
      val lens = Tables.documents(spark, dir)
        .select(col("doc_id"),
          graft.functions.expressions.token_count(col("text")).cast("long").as("len"))
        .filter(col("len") >= 1L)
        .withColumn("shard", expr("doc_id % 4"))
      def policy(tag: String, order: Seq[org.apache.spark.sql.Column]) = lens
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("shard")).orderBy(order: _*)).cast("long"))
        .select(col("len"), col("shard"), expr("(rn - 1) div 8").as("batch"))
        .groupBy(col("shard"), col("batch"))
        .agg(count(lit(1)).as("m"), max(col("len")).as("mx"), sum(col("len")).as("s"))
        .agg(count(lit(1)).as("n_batches"),
          sum(col("s")).as("total_tokens"),
          sum(col("m") * col("mx") - col("s")).as("padding_tokens"))
        .select(lit(tag).as("policy"), col("n_batches"), col("total_tokens"),
          col("padding_tokens"),
          expr("padding_tokens * 1000000 div (total_tokens + padding_tokens)")
            .as("padding_ppm"))
      policy("arrival", Seq(col("doc_id")))
        .unionAll(policy("sorted", Seq(col("len"), col("doc_id"))))
        .orderBy(col("policy"))
    },
    Some(s"""
      WITH lens AS (
        SELECT doc_id,
          CAST(len($duckTokens) AS BIGINT)
            AS len
        FROM documents),
      f AS (SELECT * FROM lens WHERE len >= 1),
      a AS (
        SELECT len, doc_id % 4 AS shard,
          (row_number() OVER (PARTITION BY doc_id % 4 ORDER BY doc_id) - 1) // 8
            AS batch
        FROM f),
      s AS (
        SELECT len, doc_id % 4 AS shard,
          (row_number() OVER (PARTITION BY doc_id % 4 ORDER BY len, doc_id) - 1)
            // 8 AS batch
        FROM f),
      pa AS (
        SELECT shard, batch, count(*) AS m, max(len) AS mx, sum(len) AS s
        FROM a GROUP BY shard, batch),
      ps AS (
        SELECT shard, batch, count(*) AS m, max(len) AS mx, sum(len) AS s
        FROM s GROUP BY shard, batch)
      SELECT 'arrival' AS policy, CAST(count(*) AS BIGINT) AS n_batches,
        CAST(sum(s) AS BIGINT) AS total_tokens,
        CAST(sum(m * mx - s) AS BIGINT) AS padding_tokens,
        CAST(sum(m * mx - s) * 1000000 // (sum(s) + sum(m * mx - s)) AS BIGINT)
          AS padding_ppm
      FROM pa
      UNION ALL
      SELECT 'sorted', CAST(count(*) AS BIGINT), CAST(sum(s) AS BIGINT),
        CAST(sum(m * mx - s) AS BIGINT),
        CAST(sum(m * mx - s) * 1000000 // (sum(s) + sum(m * mx - s)) AS BIGINT)
      FROM ps
      ORDER BY policy
    """))

  // ---------------------------------------------------------------- q492

  /** HNSW level-assignment plan: each vector's level is the count of
    * consecutive low set bits of its multiplicative hash (geometric(½),
    * capped at 4 — the hash-derived stand-in for HNSW's −ln(U)·mL draw),
    * and the plan reports nodes per level, nodes at-or-above (the upper
    * search graphs), and link-slot memory at M = 16 — the sizing pass
    * run before building the index that ANN serving actually uses.
    *
    * Scale shape: the level is a pure projection of the hash; two
    * vocabulary-sized aggregates (≤ 5 level rows). */
  private val q492 = QueryDef(
    "q492_hnsw_level_plan",
    (spark, dir) => {
      val lvl = Tables.embeddings(spark, dir)
        .select(graft.operators.Sampling.keyHash(col("vec_id")).as("h"))
        .select(expr(
          "CAST(CASE WHEN h % 2 = 0 THEN 0 WHEN h % 4 = 1 THEN 1 " +
            "WHEN h % 8 = 3 THEN 2 WHEN h % 16 = 7 THEN 3 ELSE 4 END AS BIGINT)")
          .as("level"))
        .groupBy(col("level")).agg(count(lit(1)).as("n_nodes"))
      val wCum = Window.orderBy(col("level").desc)
        .rowsBetween(Window.unboundedPreceding, 0)
      lvl
        .withColumn("n_at_or_above", sum(col("n_nodes")).over(wCum))
        .select(col("level"), col("n_nodes"), col("n_at_or_above"),
          ((col("n_nodes") * (col("level") + 1L)) * 16L).as("link_slots"))
        .orderBy(col("level"))
    },
    Some("""
      WITH lvl AS (
        SELECT CAST(CASE WHEN h % 2 = 0 THEN 0 WHEN h % 4 = 1 THEN 1
            WHEN h % 8 = 3 THEN 2 WHEN h % 16 = 7 THEN 3 ELSE 4 END AS BIGINT)
          AS level
        FROM (SELECT ((vec_id % 2147483648) * 2654435761) % 4294967296 AS h
              FROM embeddings)),
      counts AS (SELECT level, CAST(count(*) AS BIGINT) AS n_nodes
                 FROM lvl GROUP BY level)
      SELECT level, n_nodes,
        CAST(sum(n_nodes) OVER (ORDER BY level DESC
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_at_or_above,
        CAST(n_nodes * (level + 1) * 16 AS BIGINT) AS link_slots
      FROM counts ORDER BY level
    """))

  // ---------------------------------------------------------------- q493

  /** Int8 outlier-channel audit (the LLM.int8 phenomenon): embedding
    * dimensions whose max |quantized value| is far above their mean
    * |value| break symmetric int8 quantization and need a
    * higher-precision path; the audit ranks the 8 worst channels by
    * max-to-mean ratio. q127 profiles moments; this flags the channels
    * a mixed-precision kernel must special-case.
    *
    * Scale shape: explode → per-dim (n, Σ|q|, max|q|) partials — dim
    * -count rows shuffle, not corpus rows; the rank runs on ≤ dim rows. */
  private val q493 = QueryDef(
    "q493_int8_outlier_channels",
    (spark, dir) => {
      Tables.embeddings(spark, dir)
        .select(posexplode(expr(
          "transform(embedding, x -> abs(CAST(floor(CAST(x AS DOUBLE) * 512 + 0.5) AS BIGINT)))"))
          .as(Seq("dim", "q")))
        .groupBy(col("dim").cast("long").as("dim"))
        .agg(count(lit(1)).as("n"), sum(col("q")).as("sum_q"), max(col("q")).as("max_q"))
        .select(col("dim"), col("max_q"),
          expr("sum_q * 1000 div n").as("mean_q_milli"),
          expr("CASE WHEN sum_q = 0 THEN 0 ELSE max_q * 1000 * n div sum_q END")
            .as("ratio_milli"))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("ratio_milli").desc, col("dim"))).cast("long"))
        .filter(col("rk") <= 8L)
        .select(col("rk"), col("dim"), col("max_q"), col("mean_q_milli"),
          col("ratio_milli"),
          (col("ratio_milli") > 6000L).as("is_outlier"))
        .orderBy(col("rk"))
    },
    Some(s"""
      WITH q AS (
        SELECT dim, abs(${duckQuant("x")}) AS q
        FROM (SELECT unnest(embedding) AS x,
                unnest(range(0, len(embedding))) AS dim
              FROM embeddings)),
      per AS (
        SELECT CAST(dim AS BIGINT) AS dim, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(q) AS BIGINT) AS sum_q, CAST(max(q) AS BIGINT) AS max_q
        FROM q GROUP BY dim),
      scored AS (
        SELECT dim, max_q,
          CAST(sum_q * 1000 // n AS BIGINT) AS mean_q_milli,
          CAST(CASE WHEN sum_q = 0 THEN 0
            ELSE max_q * 1000 * n // sum_q END AS BIGINT) AS ratio_milli
        FROM per)
      SELECT CAST(row_number() OVER (ORDER BY ratio_milli DESC, dim) AS BIGINT)
          AS rk,
        dim, max_q, mean_q_milli, ratio_milli, ratio_milli > 6000 AS is_outlier
      FROM scored
      QUALIFY rk <= 8
      ORDER BY rk
    """))

  // ---------------------------------------------------------------- q494

  /** Curation pass@k: with c of a source's n documents clearing the
    * quality bar (n_chars ≥ 300), the chance a random k-sample contains
    * at least one is 1 − C(n−c,k)/C(n,k) — evaluated EXACTLY as the
    * fixed-order integer product Πᵢ (n−c−i)/(n−i) in ppm steps
    * (identical floor sequence in both engines), for k ∈ {1, 5, 10}.
    * The sampling-yield planner: how big a random probe must be before
    * curation sees usable data from each source.
    *
    * Scale shape: one per-source (n, c) aggregate; the product chain is
    * a k-step scalar projection. */
  private val q494 = QueryDef(
    "q494_curation_pass_at_k",
    (spark, dir) => {
      // p_0 = 1e6; p_{i+1} = p_i·max(n−c−i,0) div (n−i), but only while
      // i < n: a source with fewer than k documents samples ALL of them
      // (steps beyond n−1 multiply by 1), so n < k yields exactly
      // 1000000 ppm when c ≥ 1 and 0 ppm when c = 0 — never the NULL
      // that an unguarded (n − i) = 0 divisor produced ('all outputs
      // integers' contract).
      def chain(k: Int): String =
        (0 until k).foldLeft("1000000") { (acc, i) =>
          s"($acc * (CASE WHEN n > $i THEN greatest(n - c - $i, 0) ELSE 1 END)" +
            s" div (CASE WHEN n > $i THEN n - $i ELSE 1 END))"
        }
      val base = Tables.documents(spark, dir)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("n_chars") >= 300L, 1L).otherwise(0L)).as("c"))
      base.select(col("source"), col("n"), col("c"),
          expr(s"1000000 - ${chain(1)}").as("pass_at_1_ppm"),
          expr(s"1000000 - ${chain(5)}").as("pass_at_5_ppm"),
          expr(s"1000000 - ${chain(10)}").as("pass_at_10_ppm"))
        .orderBy(col("source"))
    },
    Some {
      def chain(k: Int): String =
        (0 until k).foldLeft("1000000") { (acc, i) =>
          s"($acc * (CASE WHEN n > $i THEN greatest(n - c - $i, 0) ELSE 1 END)" +
            s" // (CASE WHEN n > $i THEN n - $i ELSE 1 END))"
        }
      s"""
      WITH base AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END) AS BIGINT) AS c
        FROM documents GROUP BY source)
      SELECT source, n, c,
        CAST(1000000 - ${chain(1)} AS BIGINT) AS pass_at_1_ppm,
        CAST(1000000 - ${chain(5)} AS BIGINT) AS pass_at_5_ppm,
        CAST(1000000 - ${chain(10)} AS BIGINT) AS pass_at_10_ppm
      FROM base ORDER BY source
      """
    })

  // ---------------------------------------------------------------- q495

  /** ANN confidence-routing margin census: for a fixed 64-query panel
    * (the hash-smallest vec_ids — the same queries at every scale
    * factor), the gap between the best and second-best cosine decides
    * whether the cheap index's answer can be trusted (wide margin) or
    * the query must fall back to exact search (margin < 0.02) — the
    * cascade-routing statistic serving stacks use to budget the exact
    * tier. Reported as a 10-bucket margin histogram with the fallback
    * flag per bucket.
    *
    * Scale shape: q25/q548's broadcast query-panel pattern with a fixed
    * probe BUDGET (a fraction sample grows candidate pairs
    * quadratically); top-2 per query via the [[graft.functions
    * .TopKPairs]] bounded heap — ≤2 rows per query cross the shuffle,
    * never a corpus-sized window partition — then a ≤ 10-row census. */
  private val q495 = QueryDef(
    "q495_ann_routing_margin",
    (spark, dir) => {
      QuantQueries.panelDots(spark, dir, labeled = false)
        .withColumn("cos_milli", expr(
          "CAST(floor(CAST(dot AS DOUBLE) / sqrt(CAST(nsq AS DOUBLE) * CAST(q_nsq AS DOUBLE)) * 1000 + 0.5) AS BIGINT)"))
        .groupBy(col("q_id"))
        .agg(graft.functions.TopKAggregate.topk_pairs(
          col("cos_milli").cast("double"), col("vec_id"), 2).as("top2"))
        .select(
          expr("CAST(top2[0].score AS BIGINT)").as("c1"),
          expr("CASE WHEN size(top2) > 1 THEN CAST(top2[1].score AS BIGINT) END")
            .as("c2"))
        .filter(col("c2").isNotNull) // need ≥ 2 neighbors for a margin
        .select(least(expr("(c1 - c2) div 10"), lit(9L)).as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n_queries"))
        .select(col("bucket"), col("n_queries"),
          (col("bucket") < 2L).as("is_fallback"))
        .orderBy(col("bucket"))
    },
    Some(s"""
      WITH v AS (
        SELECT vec_id,
          $duckQuantVec AS qv
        FROM embeddings),
      n AS (
        SELECT vec_id, qv,
          CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS nsq
        FROM v),
      nn AS (SELECT * FROM n WHERE nsq > 0),
      q AS (
        SELECT vec_id AS q_id, qv AS q_qv, nsq AS q_nsq FROM nn
        ORDER BY ((vec_id % 2147483648) * 2654435761) % 4294967296, vec_id
        LIMIT 64),
      scored AS (
        SELECT q_id, nn.vec_id,
          CAST(floor(
            CAST(CAST(list_sum(list_transform(range(1, len(qv)+1),
              i -> qv[i]*q_qv[i])) AS BIGINT) AS DOUBLE)
            / sqrt(CAST(nsq AS DOUBLE)*CAST(q_nsq AS DOUBLE)) * 1000 + 0.5)
            AS BIGINT) AS cos_milli
        FROM nn CROSS JOIN q WHERE nn.vec_id <> q_id),
      ranked AS (
        SELECT q_id, cos_milli,
          row_number() OVER (PARTITION BY q_id
            ORDER BY cos_milli DESC, vec_id) AS rk
        FROM scored),
      margins AS (
        SELECT q_id,
          max(CASE WHEN rk = 1 THEN cos_milli END) AS c1,
          max(CASE WHEN rk = 2 THEN cos_milli END) AS c2
        FROM ranked WHERE rk <= 2 GROUP BY q_id),
      buckets AS (
        SELECT least((c1 - c2) // 10, 9) AS bucket
        FROM margins WHERE c2 IS NOT NULL)
      SELECT CAST(bucket AS BIGINT) AS bucket,
        CAST(count(*) AS BIGINT) AS n_queries,
        bucket < 2 AS is_fallback
      FROM buckets GROUP BY bucket ORDER BY bucket
    """))

  // ---------------------------------------------------------------- q496

  /** Filtered-ANN fetch amplification: vector search with a metadata
    * predicate (label ≥ 5) must over-fetch by n_total/n_pass inside each
    * index partition to surface k survivors; per sign-LSH bucket
    * (4 planes → 16 partitions) the audit reports the predicate's local
    * selectivity and the k=10 fetch budget — unreachable buckets
    * (no survivors) flagged with −1. The planning input for pre- vs
    * post-filtering in a vector store.
    *
    * Scale shape: the bucket is a codegen'd projection (q50's kernel);
    * one (bucket)-keyed aggregate; a 16-row plan. */
  private val q496 = QueryDef(
    "q496_filtered_ann_amplification",
    (spark, dir) => {
      Tables.embeddings(spark, dir)
        .select(graft.similarity.Knn.lshBucket(col("embedding"), 4).as("bucket"),
          (col("label") >= 5).cast("long").as("pass"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_total"), sum(col("pass")).as("n_pass"))
        .select(col("bucket").cast("long").as("bucket"), col("n_total"),
          col("n_pass"),
          expr("n_pass * 1000000 div n_total").as("sel_ppm"),
          expr("CASE WHEN n_pass = 0 THEN -1 " +
            "ELSE (10 * n_total + n_pass - 1) div n_pass END").as("fetch_k10"))
        .orderBy(col("bucket"))
    },
    Some(s"""
      WITH q AS (
        SELECT vec_id, label,
          $duckQuantVec AS qv
        FROM embeddings),
      proj AS (
        SELECT vec_id, label, t.p,
          list_sum(list_transform(range(1, len(qv)+1),
            i -> qv[i] * ((t.p*2654435761 + (i-1)*40503) % 2001 - 1000))) AS pr
        FROM q CROSS JOIN (SELECT unnest(range(4)) AS p) t),
      buckets AS (
        SELECT vec_id, max(label) AS label,
          CAST(sum(CASE WHEN pr > 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT)
            AS bucket
        FROM proj GROUP BY vec_id),
      agg AS (
        SELECT bucket, CAST(count(*) AS BIGINT) AS n_total,
          CAST(sum(CASE WHEN label >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
        FROM buckets GROUP BY bucket)
      SELECT bucket, n_total, n_pass,
        CAST(n_pass * 1000000 // n_total AS BIGINT) AS sel_ppm,
        CAST(CASE WHEN n_pass = 0 THEN -1
          ELSE (10 * n_total + n_pass - 1) // n_pass END AS BIGINT) AS fetch_k10
      FROM agg ORDER BY bucket
    """))

  // ---------------------------------------------------------------- q497

  /** Bradley–Terry pairwise-preference ranking (the arena-leaderboard
    * estimator): monthly brand revenue duels (a beats b in a month iff
    * its revenue is strictly higher) feed 3 minorization rounds of the
    * BT update sₐ = Wₐ / Σᵦ nₐᵦ/(sₐ+sᵦ) in exact ppm integer arithmetic
    * (floor-stable in both engines, ε-floored at 1000 so winless
    * entrants never divide by zero). Output: the leaderboard.
    *
    * Scale shape: duels collapse to a brand×brand table (≤ |brands|²
    * rows) scanned once; the 3 unrolled rounds join score vectors of
    * |brands| rows — q374's bounded-iteration discipline. */
  private val q497 = QueryDef(
    "q497_bradley_terry_arena",
    (spark, dir) => {
      import graft.functions.Deterministic.epochS
      val rev = Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_partkey"),
          expr("CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT)").as("cents"))
        .join(Tables.part(spark, dir).select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .join(Tables.orders(spark, dir)
          .select(col("o_orderkey"), epochS(col("o_orderdate")).as("es"))
          .select(col("o_orderkey"), expr("es div 2592000").as("month")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("month"), col("p_brand").as("brand"))
        .agg(sum(col("cents")).as("r"))
      val duels = rev.select(col("month"), col("brand").as("a"), col("r").as("ra"))
        .join(rev.select(col("month"), col("brand").as("b"), col("r").as("rb")),
          Seq("month"))
        .filter(col("a") =!= col("b") && col("ra") =!= col("rb"))
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("ra") > col("rb"), 1L).otherwise(0L)).as("w"))
        .localCheckpoint(true)
      val wins = duels.groupBy(col("a")).agg(sum(col("w")).as("bigw"),
        sum(col("n")).as("games"))
      var s = wins.select(col("a"), lit(1000000L).as("s"))
      for (_ <- 1 to 3) {
        val denom = duels
          .join(s.select(col("a"), col("s").as("sa")), Seq("a"))
          .join(s.select(col("a").as("b"), col("s").as("sb")), Seq("b"))
          .groupBy(col("a"))
          .agg(sum(expr("n * 1000000 div (sa + sb)")).as("d"))
        s = wins.join(denom, Seq("a"))
          .select(col("a"),
            greatest(expr("bigw * 1000000 div d"), lit(1000L)).as("s"))
      }
      wins.join(s, Seq("a"))
        .select(col("a").as("brand"), col("games"), col("bigw").as("wins"),
          col("s").as("score_ppm"))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score_ppm").desc, col("brand"))).cast("long"))
        .orderBy(col("rank"))
    },
    Some {
      def roundSql(prev: String, out: String) = s"""
      d$out AS (
        SELECT duels.a, sum(n * 1000000 // (sa.s + sb.s)) AS d
        FROM duels
        JOIN $prev sa ON sa.a = duels.a
        JOIN $prev sb ON sb.a = duels.b
        GROUP BY duels.a),
      $out AS (
        SELECT wins.a, greatest(wins.bigw * 1000000 // d.d, 1000) AS s
        FROM wins JOIN d$out d ON d.a = wins.a)"""
      s"""
      WITH rev AS (
        SELECT CAST(epoch_ms(o.o_orderdate) // 1000 // 2592000 AS BIGINT) AS month,
          p.p_brand AS brand,
          sum(CAST(floor(l.l_extendedprice*100 + 0.5) AS BIGINT)) AS r
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY month, p.p_brand),
      duels AS (
        SELECT x.brand AS a, y.brand AS b, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CASE WHEN x.r > y.r THEN 1 ELSE 0 END) AS BIGINT) AS w
        FROM rev x JOIN rev y ON x.month = y.month
          AND x.brand <> y.brand AND x.r <> y.r
        GROUP BY x.brand, y.brand),
      wins AS (
        SELECT a, sum(w) AS bigw, sum(n) AS games FROM duels GROUP BY a),
      s0 AS (SELECT a, CAST(1000000 AS BIGINT) AS s FROM wins),
      ${roundSql("s0", "s1")},
      ${roundSql("s1", "s2")},
      ${roundSql("s2", "s3")}
      SELECT a AS brand, CAST(games AS BIGINT) AS games,
        CAST(bigw AS BIGINT) AS wins, CAST(s AS BIGINT) AS score_ppm,
        CAST(row_number() OVER (ORDER BY s DESC, a) AS BIGINT) AS rank
      FROM wins JOIN s3 USING (a)
      ORDER BY rank
      """
    })

  // ---------------------------------------------------------------- q498

  /** TTL-cache reuse-interval census: on the part-key access stream
    * (access time = l_orderkey·8 + l_linenumber — monotone by
    * construction, no global sort), the interval to each key's previous
    * access decides whether a time-windowed cache of horizon T would
    * have hit; the sweep over T ∈ {10⁴, 10⁵, 10⁶} key-space ticks
    * reports exact hit rates — the TTL-cache twin of q462's static
    * top-k sweep (that picks WHAT to pin; this prices HOW LONG entries
    * stay useful).
    *
    * Scale shape: one keyed lag per key partition (parallel, no global
    * window), interval histogram folds to a 3-row sweep. */
  private val q498 = QueryDef(
    "q498_ttl_cache_reuse_intervals",
    (spark, dir) => {
      val acc = Tables.lineitem(spark, dir)
        .select(col("l_partkey").as("k"),
          (col("l_orderkey") * 8L + col("l_linenumber")).as("t"))
      val byKey = Window.partitionBy(col("k")).orderBy(col("t"))
      val iv = acc
        .withColumn("prev", lag(col("t"), 1).over(byKey))
        .select(col("k"), (col("t") - col("prev")).as("interval"))
      val grid = spark.range(1).select(explode(expr(
        "array(CAST(10000 AS BIGINT), CAST(100000 AS BIGINT), CAST(1000000 AS BIGINT))"))
        .as("ttl"))
      iv.crossJoin(broadcast(grid))
        .groupBy(col("ttl"))
        .agg(count(lit(1)).as("n_accesses"),
          sum(when(col("interval").isNull, 1L).otherwise(0L)).as("n_first"),
          sum(when(col("interval").isNotNull && col("interval") <= col("ttl"), 1L)
            .otherwise(0L)).as("n_hits"))
        .select(col("ttl"), col("n_accesses"), col("n_first"), col("n_hits"),
          expr("n_hits * 1000000 div n_accesses").as("hit_ppm"))
        .orderBy(col("ttl"))
    },
    Some("""
      WITH acc AS (
        SELECT l_partkey AS k, l_orderkey * 8 + l_linenumber AS t
        FROM lineitem),
      iv AS (
        SELECT k, t - lag(t, 1) OVER (PARTITION BY k ORDER BY t) AS interval
        FROM acc),
      g AS (
        SELECT iv.*, ttl
        FROM iv, LATERAL (SELECT unnest([CAST(10000 AS BIGINT), 100000, 1000000])
          AS ttl) t)
      SELECT ttl, CAST(count(*) AS BIGINT) AS n_accesses,
        CAST(sum(CASE WHEN interval IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_first,
        CAST(sum(CASE WHEN interval IS NOT NULL AND interval <= ttl
          THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
        CAST(sum(CASE WHEN interval IS NOT NULL AND interval <= ttl
          THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS hit_ppm
      FROM g GROUP BY ttl ORDER BY ttl
    """))

  // ---------------------------------------------------------------- q499

  /** T5 span-corruption sizing plan: corrupting 15% of each document's
    * tokens in mean-length-3 spans replaces each span with one sentinel —
    * input length n − corrupted + spans, target length corrupted +
    * spans + 1. The per-source closed-form totals size the denoising
    * pretraining stream (and its sentinel-token budget) before any
    * transform materializes.
    *
    * Scale shape: pure per-document arithmetic on the codegen'd token
    * count; one per-source rollup. */
  private val q499 = QueryDef(
    "q499_span_corruption_plan",
    (spark, dir) => {
      Tables.documents(spark, dir)
        .select(col("source"),
          graft.functions.expressions.token_count(col("text")).cast("long").as("n"))
        .filter(col("n") >= 7L) // need >= 1 corrupted span
        .withColumn("corrupted", expr("n * 15 div 100"))
        .withColumn("spans", expr("(corrupted + 2) div 3"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n")).as("total_tokens"),
          sum(col("corrupted")).as("corrupted_tokens"),
          sum(col("spans")).as("sentinel_tokens"),
          sum(expr("n - corrupted + spans")).as("input_tokens"),
          sum(expr("corrupted + spans + 1")).as("target_tokens"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH d AS (
        SELECT source,
          CAST(len($duckTokens) AS BIGINT)
            AS n
        FROM documents),
      p AS (
        SELECT source, n, n * 15 // 100 AS corrupted,
          (n * 15 // 100 + 2) // 3 AS spans
        FROM d WHERE n >= 7)
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(n) AS BIGINT) AS total_tokens,
        CAST(sum(corrupted) AS BIGINT) AS corrupted_tokens,
        CAST(sum(spans) AS BIGINT) AS sentinel_tokens,
        CAST(sum(n - corrupted + spans) AS BIGINT) AS input_tokens,
        CAST(sum(corrupted + spans + 1) AS BIGINT) AS target_tokens
      FROM p GROUP BY source ORDER BY source
    """))

  // ---------------------------------------------------------------- q500

  /** Checkpoint-interval planner (Young's approximation): with failure
    * rate measured from the live error-event stream (MTBF = observed
    * span ÷ error count) and checkpoint cost C = 60 s, the optimal
    * interval is √(2·C·MTBF) — computed by exact integer isqrt (floor
    * of the double sqrt, ±1-corrected, q470's discipline) — with the
    * expected overhead C/T + T/(2·MTBF) in ppm. The fault-tolerance
    * sizing every long training run does on the back of an envelope,
    * done from measured data.
    *
    * Scale shape: one filtered scan folds to a single row of scalars. */
  private val q500 = QueryDef(
    "q500_checkpoint_interval_young",
    (spark, dir) => {
      import graft.functions.Deterministic.epochS
      Tables.events(spark, dir)
        .select(epochS(col("ts")).as("ts_s"), col("event_type"))
        .agg(
          sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_errors"),
          (max(col("ts_s")) - min(col("ts_s"))).as("span_s"))
        .filter(col("n_errors") > 0L)
        .withColumn("mtbf_s", expr("span_s div n_errors"))
        .withColumn("tgt", expr("2 * 60 * mtbf_s"))
        .withColumn("s0", expr("CAST(floor(sqrt(CAST(tgt AS DOUBLE))) AS BIGINT)"))
        .withColumn("t_opt_s", expr(
          "CASE WHEN (s0 + 1) * (s0 + 1) <= tgt THEN s0 + 1 " +
            "WHEN s0 * s0 > tgt THEN s0 - 1 ELSE s0 END"))
        .select(col("n_errors"), col("span_s"), col("mtbf_s"), col("t_opt_s"),
          expr("60 * 1000000 div t_opt_s + t_opt_s * 1000000 div (2 * mtbf_s)")
            .as("overhead_ppm"))
    },
    Some("""
      WITH e AS (
        SELECT CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_errors,
          CAST(epoch_ms(max(ts)) // 1000 - epoch_ms(min(ts)) // 1000 AS BIGINT)
            AS span_s
        FROM events),
      m AS (
        SELECT n_errors, span_s, span_s // n_errors AS mtbf_s,
          2 * 60 * (span_s // n_errors) AS tgt
        FROM e WHERE n_errors > 0),
      r AS (
        SELECT *, CAST(floor(sqrt(CAST(tgt AS DOUBLE))) AS BIGINT) AS s0 FROM m),
      t AS (
        SELECT n_errors, span_s, mtbf_s,
          CASE WHEN (s0 + 1) * (s0 + 1) <= tgt THEN s0 + 1
               WHEN s0 * s0 > tgt THEN s0 - 1 ELSE s0 END AS t_opt_s
        FROM r)
      SELECT n_errors, span_s, mtbf_s, t_opt_s,
        CAST(60 * 1000000 // t_opt_s + t_opt_s * 1000000 // (2 * mtbf_s)
          AS BIGINT) AS overhead_ppm
      FROM t
    """))

  // ---------------------------------------------------------------- q501

  /** Semantic-cache hit sweep (the GPTCache decision): with the first
    * 100 vectors as the cached set, a 2% query sample hits the cache
    * when its best cosine to ANY cached entry clears the threshold —
    * swept over {0.90, 0.95, 0.99} to price how aggressively semantic
    * caching can deduplicate inference traffic before answer quality
    * degrades.
    *
    * Scale shape: the cache is a broadcast ≤100-row side; one scan ×
    * |cache| codegen'd cosines for the sample, one max per query, a
    * 3-row sweep. */
  private val q501 = QueryDef(
    "q501_semantic_cache_hit_sweep",
    (spark, dir) => {
      val vecs = Tables.embeddings(spark, dir)
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 512 + 0.5) AS BIGINT))")
            .as("qv"))
        .withColumn("nsq", expr("aggregate(qv, 0L, (a, x) -> a + x * x)"))
        .filter(col("nsq") > 0L)
      val cache = vecs.filter(col("vec_id") < 100L)
        .select(col("vec_id").as("c_id"), col("qv").as("c_qv"), col("nsq").as("c_nsq"))
      val queries = vecs
        .filter(col("vec_id") >= 100L)
        .filter(graft.operators.Sampling.keyHash(col("vec_id")) % 10000L < 200L)
      val best = queries.crossJoin(broadcast(cache))
        .withColumn("dot",
          expr("aggregate(zip_with(qv, c_qv, (a, b) -> a * b), 0L, (a, x) -> a + x)"))
        .withColumn("cos_milli", expr(
          "CAST(floor(CAST(dot AS DOUBLE) / sqrt(CAST(nsq AS DOUBLE) * CAST(c_nsq AS DOUBLE)) * 1000 + 0.5) AS BIGINT)"))
        .groupBy(col("vec_id")).agg(max(col("cos_milli")).as("best_milli"))
      val grid = spark.range(1).select(explode(expr(
        "array(CAST(900 AS BIGINT), CAST(950 AS BIGINT), CAST(990 AS BIGINT))"))
        .as("threshold_milli"))
      best.crossJoin(broadcast(grid))
        .groupBy(col("threshold_milli"))
        .agg(count(lit(1)).as("n_queries"),
          sum(when(col("best_milli") >= col("threshold_milli"), 1L).otherwise(0L))
            .as("n_hits"))
        .select(col("threshold_milli"), col("n_queries"), col("n_hits"),
          expr("n_hits * 1000000 div n_queries").as("hit_ppm"))
        .orderBy(col("threshold_milli"))
    },
    Some(s"""
      WITH v AS (
        SELECT vec_id,
          $duckQuantVec AS qv
        FROM embeddings),
      n AS (
        SELECT vec_id, qv,
          CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS nsq
        FROM v),
      nn AS (SELECT * FROM n WHERE nsq > 0),
      cache AS (SELECT vec_id AS c_id, qv AS c_qv, nsq AS c_nsq FROM nn
                WHERE vec_id < 100),
      queries AS (
        SELECT * FROM nn WHERE vec_id >= 100
          AND ((vec_id % 2147483648) * 2654435761) % 4294967296 % 10000 < 200),
      best AS (
        SELECT vec_id, max(CAST(floor(
            CAST(CAST(list_sum(list_transform(range(1, len(qv)+1),
              i -> qv[i]*c_qv[i])) AS BIGINT) AS DOUBLE)
            / sqrt(CAST(nsq AS DOUBLE)*CAST(c_nsq AS DOUBLE)) * 1000 + 0.5)
            AS BIGINT)) AS best_milli
        FROM queries CROSS JOIN cache
        GROUP BY vec_id)
      SELECT threshold_milli, CAST(count(*) AS BIGINT) AS n_queries,
        CAST(sum(CASE WHEN best_milli >= threshold_milli THEN 1 ELSE 0 END)
          AS BIGINT) AS n_hits,
        CAST(sum(CASE WHEN best_milli >= threshold_milli THEN 1 ELSE 0 END)
          * 1000000 // count(*) AS BIGINT) AS hit_ppm
      FROM best, LATERAL (SELECT unnest([CAST(900 AS BIGINT), 950, 990])
        AS threshold_milli) t
      GROUP BY threshold_milli ORDER BY threshold_milli
    """))

  // ---------------------------------------------------------------- q502

  /** Front-coding dictionary compression plan (the Lucene/FST term-dict
    * layout): in the SORTED vocabulary, each term stores only its suffix
    * after the longest common prefix with its predecessor (LCP capped at
    * 7 so it fits a 3-bit header field). One row: terms, plain vs
    * front-coded bytes (1-byte header per term), savings, mean LCP.
    *
    * Scale shape: vocabulary-sized sort (the dictionary build's
    * inherent cost), one lag, a capped substring-equality ladder (pure
    * codegen), one global fold. */
  private val q502 = QueryDef(
    "q502_front_coding_plan",
    (spark, dir) => {
      def lcpLadder(a: String, b: String): String =
        (7 to 1 by -1).map(k =>
          s"WHEN substring($a, 1, $k) = substring($b, 1, $k) THEN $k")
          .mkString("CASE ", " ", " ELSE 0 END")
      val vocab = Tables.documents(spark, dir)
        .select(explode(graft.functions.expressions.tokens_native(col("text"))).as("w"))
        .distinct()
      val w = Window.orderBy(col("w"))
      vocab
        .withColumn("prev", lag(col("w"), 1).over(w))
        .select(length(col("w")).cast("long").as("len"),
          when(col("prev").isNull, 0L)
            .otherwise(expr(lcpLadder("w", "prev")).cast("long")).as("lcp"))
        .agg(count(lit(1)).as("n_terms"),
          sum(col("len")).as("bytes_plain"),
          (sum(col("len") - col("lcp")) + count(lit(1))).as("bytes_front"),
          expr("sum(lcp) * 1000").as("lcp_sum_milli"))
        .select(col("n_terms"), col("bytes_plain"), col("bytes_front"),
          expr("(bytes_plain - bytes_front) * 1000000 div bytes_plain")
            .as("savings_ppm"),
          expr("lcp_sum_milli div n_terms").as("mean_lcp_milli"))
    },
    Some {
      def lcpLadder(a: String, b: String): String =
        (7 to 1 by -1).map(k =>
          s"WHEN substring($a, 1, $k) = substring($b, 1, $k) THEN $k")
          .mkString("CASE ", " ", " ELSE 0 END")
      s"""
      WITH vocab AS (
        SELECT DISTINCT unnest($duckTokens) AS w
        FROM documents),
      lagged AS (
        SELECT w, lag(w, 1) OVER (ORDER BY w) AS prev FROM vocab),
      coded AS (
        SELECT CAST(len(w) AS BIGINT) AS len,
          CASE WHEN prev IS NULL THEN 0
               ELSE ${lcpLadder("w", "prev")} END AS lcp
        FROM lagged)
      SELECT CAST(count(*) AS BIGINT) AS n_terms,
        CAST(sum(len) AS BIGINT) AS bytes_plain,
        CAST(sum(len - lcp) + count(*) AS BIGINT) AS bytes_front,
        CAST((sum(len) - sum(len - lcp) - count(*)) * 1000000 // sum(len)
          AS BIGINT) AS savings_ppm,
        CAST(sum(lcp) * 1000 // count(*) AS BIGINT) AS mean_lcp_milli
      FROM coded
    """
    })

  // ---------------------------------------------------------------- q503

  /** Clicks-over-expected-clicks position-bias correction: click rate
    * per within-session position (rank by time, capped at 10) gives the
    * position-bias curve; each user-bucket's COEC is actual clicks over
    * the position-expected count — the normalization that separates
    * "good content" from "shown first" (q105 attributes PURCHASE credit;
    * this de-biases CLICK feedback).
    *
    * Scale shape: one per-user rank (parallel partitions), a ≤10-row
    * broadcast bias curve, one bucket rollup. */
  private val q503 = QueryDef(
    "q503_coec_position_bias",
    (spark, dir) => {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val pos = Tables.events(spark, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("p", least(row_number().over(byUser).cast("long"), lit(10L)))
        .select(col("user_id"), col("p"),
          when(col("event_type") === "click", 1L).otherwise(0L).as("clk"))
      val curve = pos.groupBy(col("p"))
        .agg(count(lit(1)).as("n_p"), sum(col("clk")).as("c_p"))
        .select(col("p"), expr("c_p * 1000000 div n_p").as("r_ppm"))
      pos.join(broadcast(curve), Seq("p"))
        .groupBy((col("user_id") % 10L).as("bucket"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("clk")).as("n_clicks"),
          expr("sum(r_ppm) div 1000").as("expected_clicks_milli"))
        .select(col("bucket"), col("n_events"), col("n_clicks"),
          col("expected_clicks_milli"),
          expr("CASE WHEN expected_clicks_milli = 0 THEN 0 " +
            "ELSE n_clicks * 1000000 div expected_clicks_milli END")
            .as("coec_milli"))
        .orderBy(col("bucket"))
    },
    Some("""
      WITH pos AS (
        SELECT user_id,
          least(row_number() OVER (PARTITION BY user_id
            ORDER BY ts, event_id), 10) AS p,
          CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS clk
        FROM events),
      curve AS (
        SELECT p, CAST(sum(clk) * 1000000 // count(*) AS BIGINT) AS r_ppm
        FROM pos GROUP BY p)
      SELECT CAST(user_id % 10 AS BIGINT) AS bucket,
        CAST(count(*) AS BIGINT) AS n_events,
        CAST(sum(clk) AS BIGINT) AS n_clicks,
        CAST(sum(r_ppm) // 1000 AS BIGINT) AS expected_clicks_milli,
        CAST(CASE WHEN sum(r_ppm) // 1000 = 0 THEN 0
          ELSE sum(clk) * 1000000 // (sum(r_ppm) // 1000) END AS BIGINT)
          AS coec_milli
      FROM pos JOIN curve USING (p)
      GROUP BY user_id % 10
      ORDER BY bucket
    """))

  // ---------------------------------------------------------------- q504

  /** Top-k churn monitor: the Jaccard overlap between the first and
    * second half-year's top-32 part keys by revenue — how stable the
    * head of the distribution is across a refresh window, the statistic
    * that decides how often q462's pinned cache or a materialized top-k
    * view must be rebuilt.
    *
    * Scale shape: two date-pruned scans fold to part-sized aggregates;
    * two top-32 ranks; the overlap join touches ≤ 64 rows. */
  private val q504 = QueryDef(
    "q504_topk_churn_monitor",
    (spark, dir) => {
      def top32(lo: String, hi: String) = Tables.lineitem(spark, dir)
        .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
        .groupBy(col("l_partkey"))
        .agg(sum(expr("CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT)")).as("r"))
        .orderBy(col("r").desc, col("l_partkey")).limit(32)
        .select(col("l_partkey"))
      val a = top32("1995-01-01", "1995-07-01")
      val b = top32("1995-07-01", "1996-01-01")
      val inter = a.join(b, Seq("l_partkey")).agg(count(lit(1)).as("n_common"))
      a.agg(count(lit(1)).as("n_h1"))
        .crossJoin(broadcast(b.agg(count(lit(1)).as("n_h2"))))
        .crossJoin(broadcast(inter))
        .select(col("n_h1"), col("n_h2"), col("n_common"),
          expr("n_common * 1000000 div (n_h1 + n_h2 - n_common)")
            .as("jaccard_ppm"),
          expr("(n_h1 - n_common) * 1000000 div n_h1").as("churn_ppm"))
    },
    Some("""
      WITH h1 AS (
        SELECT l_partkey FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate < TIMESTAMP '1995-07-01'
        GROUP BY l_partkey
        ORDER BY sum(CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT)) DESC,
          l_partkey
        LIMIT 32),
      h2 AS (
        SELECT l_partkey FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-07-01'
          AND l_shipdate < TIMESTAMP '1996-01-01'
        GROUP BY l_partkey
        ORDER BY sum(CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT)) DESC,
          l_partkey
        LIMIT 32),
      i AS (SELECT CAST(count(*) AS BIGINT) AS n_common
            FROM h1 JOIN h2 USING (l_partkey))
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM h1) AS n_h1,
        (SELECT CAST(count(*) AS BIGINT) FROM h2) AS n_h2,
        n_common,
        CAST(n_common * 1000000 // ((SELECT count(*) FROM h1)
          + (SELECT count(*) FROM h2) - n_common) AS BIGINT) AS jaccard_ppm,
        CAST(((SELECT count(*) FROM h1) - n_common) * 1000000
          // (SELECT count(*) FROM h1) AS BIGINT) AS churn_ppm
      FROM i
    """))

  // ---------------------------------------------------------------- q505

  /** Learned-index error census (the PGM/RMI primitive): over the sorted
    * order-key column, each 4096-key segment predicts a key's position by
    * linear interpolation between its endpoints; the segment's epsilon is
    * the max |predicted − actual| — exactly the per-segment error bound a
    * learned index stores to replace a B-tree level with arithmetic.
    *
    * Scale shape: the global sort IS the index build (inherent); after
    * ranks, everything is segment-local — endpoint min/max, one
    * interpolation projection, one max per segment. */
  private val q505 = QueryDef(
    "q505_learned_index_epsilon",
    (spark, dir) => {
      val ranked = Tables.orders(spark, dir)
        .select(col("o_orderkey").as("k"))
        .withColumn("rn", row_number().over(Window.orderBy(col("k"))).cast("long"))
        .withColumn("seg", expr("(rn - 1) div 4096"))
      val seg = Window.partitionBy(col("seg"))
      ranked
        .withColumn("k_min", min(col("k")).over(seg))
        .withColumn("k_max", max(col("k")).over(seg))
        .withColumn("rn_min", min(col("rn")).over(seg))
        .withColumn("rn_max", max(col("rn")).over(seg))
        .withColumn("pred", expr(
          "CASE WHEN k_max = k_min THEN rn_min " +
            "ELSE rn_min + (k - k_min) * (rn_max - rn_min) div (k_max - k_min) END"))
        .groupBy(col("seg"))
        .agg(count(lit(1)).as("n_keys"),
          max(abs(col("rn") - col("pred"))).as("eps"))
        .orderBy(col("seg"))
    },
    Some("""
      WITH ranked AS (
        SELECT o_orderkey AS k,
          CAST(row_number() OVER (ORDER BY o_orderkey) AS BIGINT) AS rn
        FROM orders),
      seg AS (
        SELECT k, rn, (rn - 1) // 4096 AS seg FROM ranked),
      ends AS (
        SELECT k, rn, seg,
          min(k) OVER (PARTITION BY seg) AS k_min,
          max(k) OVER (PARTITION BY seg) AS k_max,
          min(rn) OVER (PARTITION BY seg) AS rn_min,
          max(rn) OVER (PARTITION BY seg) AS rn_max
        FROM seg),
      pred AS (
        SELECT seg, rn,
          CASE WHEN k_max = k_min THEN rn_min
            ELSE rn_min + (k - k_min) * (rn_max - rn_min) // (k_max - k_min) END
            AS pred
        FROM ends)
      SELECT seg, CAST(count(*) AS BIGINT) AS n_keys,
        CAST(max(abs(rn - pred)) AS BIGINT) AS eps
      FROM pred GROUP BY seg ORDER BY seg
    """))

  // ---------------------------------------------------------------- q506

  /** b-bit minwise hashing audit (Li & König): storing only the LOWEST
    * BIT of each of the 16 minhash values shrinks signatures 64×, at the
    * cost of chance collisions — corrected by Ĵ = 2·(match rate) − 1.
    * For every LSH candidate pair, the audit reports the full-signature
    * estimate next to the 1-bit corrected estimate and their gap — the
    * measured price of the compressed signature store.
    *
    * Scale shape: q21's banded candidate generation (caps ON); both
    * estimates come from one zip over the two 16-long signatures. */
  private val q506 = QueryDef(
    "q506_bbit_minhash_audit",
    (spark, dir) => {
      import graft.dedup.MinHashLSH
      val cfg = MinHashLSH.Config()
      val sigs = MinHashLSH.signatures(Tables.documents(spark, dir), "doc_id", "text", cfg)
      val buckets = array((0 until cfg.bands).map { b =>
        (0 until cfg.rowsPerBand).foldLeft(lit(0L): Column)((acc, r) =>
          ((acc * lit(1000000007L)) % lit(2147483647L)
            + col("sig").getItem(b * cfg.rowsPerBand + r)) % lit(2147483647L))
      }: _*)
      val banded = sigs
        .select(col("doc_id"), col("sig"), posexplode(buckets).as(Seq("band", "bucket")))
      val hot = banded.groupBy(col("band"), col("bucket")).count()
        .filter(col("count") > 2).select(col("band"), col("bucket"))
      val capped = banded.join(hot, Seq("band", "bucket"), "left_anti")
      val pairs = capped.select(col("band"), col("bucket"), col("doc_id").as("doc_a"),
          col("sig").as("sig_a"))
        .join(capped.select(col("band"), col("bucket"), col("doc_id").as("doc_b"),
          col("sig").as("sig_b")), Seq("band", "bucket"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("sig_a"), col("sig_b"))
        .distinct()
      pairs
        .withColumn("full_matches", expr(
          "aggregate(zip_with(sig_a, sig_b, (a, b) -> CASE WHEN a = b THEN 1L ELSE 0L END), 0L, (s, x) -> s + x)"))
        .withColumn("bit_matches", expr(
          "aggregate(zip_with(sig_a, sig_b, (a, b) -> CASE WHEN a % 2 = b % 2 THEN 1L ELSE 0L END), 0L, (s, x) -> s + x)"))
        .select(col("doc_a"), col("doc_b"),
          expr("full_matches * 1000000 div 16").as("est_full_ppm"),
          expr("greatest(2 * bit_matches * 1000000 div 16 - 1000000, 0)")
            .as("est_1bit_ppm"))
        .withColumn("abs_gap_ppm", abs(col("est_full_ppm") - col("est_1bit_ppm")))
        .orderBy(col("doc_a"), col("doc_b"))
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id, list_transform($duckTokens,
          tok -> ${duckPolyHashOf("tok")}) AS th
        FROM documents),
      shs AS (
        SELECT doc_id, list_distinct([
            ((th[i]*31 + th[i+1])*31 + th[i+2]) % 1000000007
            for i in range(1, len(th)-1)]) AS sh
        FROM toks WHERE len(th) >= 3),
      sigs AS (
        SELECT doc_id, t.j,
          list_min(list_transform(sh, h -> (h*(2*t.j+1) + 7919*t.j) % 1000000007)) AS m
        FROM shs CROSS JOIN (SELECT unnest(range(16)) AS j) t),
      bands AS (
        SELECT doc_id, j//4 AS band,
          list_reduce(list_prepend(0::BIGINT, list(m ORDER BY j)),
            (a,x) -> ((a*1000000007) % 2147483647 + x) % 2147483647) AS bucket
        FROM sigs GROUP BY doc_id, j//4),
      ok AS (
        SELECT band, bucket FROM bands GROUP BY band, bucket HAVING count(*) <= 2),
      bands_ok AS (SELECT b.* FROM bands b JOIN ok USING (band, bucket)),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands_ok a JOIN bands_ok b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
      m AS (
        SELECT doc_a, doc_b,
          CAST(sum(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) AS BIGINT)
            AS full_matches,
          CAST(sum(CASE WHEN sa.m % 2 = sb.m % 2 THEN 1 ELSE 0 END) AS BIGINT)
            AS bit_matches
        FROM cand
        JOIN sigs sa ON sa.doc_id = doc_a
        JOIN sigs sb ON sb.doc_id = doc_b AND sa.j = sb.j
        GROUP BY doc_a, doc_b)
      SELECT doc_a, doc_b,
        CAST(full_matches * 1000000 // 16 AS BIGINT) AS est_full_ppm,
        CAST(greatest(2 * bit_matches * 1000000 // 16 - 1000000, 0) AS BIGINT)
          AS est_1bit_ppm,
        CAST(abs(full_matches * 1000000 // 16
          - greatest(2 * bit_matches * 1000000 // 16 - 1000000, 0)) AS BIGINT)
          AS abs_gap_ppm
      FROM m ORDER BY doc_a, doc_b
    """))

  // ---------------------------------------------------------------- q507

  /** Stratified-sampling variance certificate: with order priority as
    * the stratification key and order value (KILOdollars, so n·Σy² stays
    * in int64 at any tested SF) as the response, proportional-allocation variance
    * Σ Wₕ Sₕ² is certified against the simple-random-sampling variance
    * S² — the reduction_ppm is exactly what stratification buys an
    * estimation pipeline before it commits to the sampling design
    * (q438 allocates; this certifies the win).
    *
    * Scale shape: per-stratum integer moments (n, Σy, Σy²) — 5 partial
    * rows cross the shuffle; the certificate is scalar arithmetic. */
  private val q507 = QueryDef(
    "q507_stratified_variance_certificate",
    (spark, dir) => {
      val strata = Tables.orders(spark, dir)
        .select(col("o_orderpriority").as("h"),
          expr("CAST(floor(o_totalprice / 1000) AS BIGINT)").as("y"))
        .groupBy(col("h"))
        .agg(count(lit(1)).as("n_h"), sum(col("y")).as("s_h"),
          sum(col("y") * col("y")).as("q_h"))
      // scaled within-stratum SS: n_h·q_h − s_h² over n_h → summed, and
      // the pooled total the same way; all int64 under whole dollars
      strata.agg(
          sum(col("n_h")).as("n"), sum(col("s_h")).as("s"), sum(col("q_h")).as("q"),
          sum(expr("(n_h * q_h - s_h * s_h) div n_h")).as("ss_within"))
        .select(col("n"),
          expr("(n * q - s * s) div n").as("ss_total"),
          col("ss_within"))
        .select(col("n"), col("ss_total"), col("ss_within"),
          expr("(ss_total - ss_within) * 1000000 div ss_total")
            .as("reduction_ppm"))
    },
    Some("""
      WITH strata AS (
        SELECT o_orderpriority AS h, CAST(count(*) AS BIGINT) AS n_h,
          sum(CAST(floor(o_totalprice / 1000) AS BIGINT)) AS s_h,
          sum(CAST(floor(o_totalprice / 1000) AS BIGINT)
            * CAST(floor(o_totalprice / 1000) AS BIGINT)) AS q_h
        FROM orders GROUP BY 1),
      tot AS (
        SELECT CAST(sum(n_h) AS BIGINT) AS n, CAST(sum(s_h) AS BIGINT) AS s,
          CAST(sum(q_h) AS BIGINT) AS q,
          CAST(sum((n_h * q_h - s_h * s_h) // n_h) AS BIGINT) AS ss_within
        FROM strata)
      SELECT n, CAST((n * q - s * s) // n AS BIGINT) AS ss_total, ss_within,
        CAST(((n * q - s * s) // n - ss_within) * 1000000
          // ((n * q - s * s) // n) AS BIGINT) AS reduction_ppm
      FROM tot
    """))

  // ---------------------------------------------------------------- q508

  /** Pseudo-relevance-feedback query expansion (RM3-lite): the
    * mid-frequency probe term (df closest to N/10, q416's selection)
    * retrieves its top-10 documents by tf·⌊log2(N/df)⌋ relevance; the
    * expansion model is the tf-mass distribution over those documents'
    * OTHER terms, emitted as the top-5 expansion terms with ppm weights
    * — the first-round relevance-feedback loop of every classic IR
    * stack, run entirely inside the engine.
    *
    * Scale shape: postings aggregate once (vocabulary-sized df table);
    * scoring touches only the probe term's postings; the feedback pass
    * re-joins just 10 doc ids against the postings. */
  private val q508 = QueryDef(
    "q508_prf_query_expansion",
    (spark, dir) => {
      def bitlen(c: String): String =
        s"CASE WHEN $c >= 1024 THEN 10 WHEN $c >= 512 THEN 9 WHEN $c >= 256 THEN 8 " +
          s"WHEN $c >= 128 THEN 7 WHEN $c >= 64 THEN 6 WHEN $c >= 32 THEN 5 " +
          s"WHEN $c >= 16 THEN 4 WHEN $c >= 8 THEN 3 WHEN $c >= 4 THEN 2 " +
          s"WHEN $c >= 2 THEN 1 ELSE 0 END"
      val posts = Tables.documents(spark, dir)
        .select(col("doc_id"),
          explode(graft.functions.expressions.tokens_native(col("text"))).as("term"))
      val df = posts.groupBy(col("term"))
        .agg(countDistinct(col("doc_id")).as("df"))
      val nDocs = Tables.documents(spark, dir).agg(count(lit(1)).as("nn"))
      val probe = df.crossJoin(broadcast(nDocs))
        .orderBy(abs(col("df") * 10 - col("nn")), col("term")).limit(1)
        .select(col("term"), col("df"), col("nn"))
      val top10 = posts.join(broadcast(probe), Seq("term"))
        .groupBy(col("doc_id"), col("df"), col("nn"))
        .agg(count(lit(1)).as("tf"))
        .select(col("doc_id"),
          (col("tf") * expr(bitlen("(nn div df)"))).as("score"))
        .orderBy(col("score").desc, col("doc_id")).limit(10)
        .select(col("doc_id"))
      val fb = posts.join(broadcast(top10), Seq("doc_id"))
        .join(broadcast(probe.select(col("term"))), Seq("term"), "left_anti")
        .groupBy(col("term")).agg(count(lit(1)).as("tf_mass"))
      val total = fb.agg(sum(col("tf_mass")).as("total_mass"))
      fb.crossJoin(broadcast(total))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("tf_mass").desc, col("term"))).cast("long"))
        .filter(col("rank") <= 5L)
        .select(col("rank"), col("term"), col("tf_mass"),
          expr("tf_mass * 1000000 div total_mass").as("weight_ppm"))
        .orderBy(col("rank"))
    },
    Some {
      def bitlen(c: String) =
        s"""CASE WHEN $c >= 1024 THEN 10 WHEN $c >= 512 THEN 9 WHEN $c >= 256 THEN 8
          WHEN $c >= 128 THEN 7 WHEN $c >= 64 THEN 6 WHEN $c >= 32 THEN 5
          WHEN $c >= 16 THEN 4 WHEN $c >= 8 THEN 3 WHEN $c >= 4 THEN 2
          WHEN $c >= 2 THEN 1 ELSE 0 END"""
      s"""
      WITH posts AS (
        SELECT doc_id, unnest($duckTokens)
          AS term
        FROM documents),
      df AS (
        SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        FROM posts GROUP BY term),
      nd AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM documents),
      probe AS (
        SELECT term, df, nn FROM df CROSS JOIN nd
        ORDER BY abs(df * 10 - nn), term LIMIT 1),
      top10 AS (
        SELECT doc_id FROM (
          SELECT p.doc_id,
            CAST(count(*) AS BIGINT) * (${bitlen("(nn // df)")}) AS score
          FROM posts p JOIN probe USING (term)
          GROUP BY p.doc_id, df, nn)
        ORDER BY score DESC, doc_id LIMIT 10),
      fb AS (
        SELECT term, CAST(count(*) AS BIGINT) AS tf_mass
        FROM posts JOIN top10 USING (doc_id)
        WHERE term NOT IN (SELECT term FROM probe)
        GROUP BY term),
      tot AS (SELECT CAST(sum(tf_mass) AS BIGINT) AS total_mass FROM fb)
      SELECT CAST(row_number() OVER (ORDER BY tf_mass DESC, term) AS BIGINT)
          AS rank,
        term, tf_mass,
        CAST(tf_mass * 1000000 // total_mass AS BIGINT) AS weight_ppm
      FROM fb CROSS JOIN tot
      QUALIFY rank <= 5
      ORDER BY rank
    """
    })

  // ---------------------------------------------------------------- q509

  /** Labeling-function diagnostics (the Snorkel triage table): three
    * weak quality heuristics vote +1/0(abstain)/−1 per document —
    * char-length, token-count, and type-token diversity — and each LF's
    * coverage, overlap-with-any-other, and conflict-against-any-other
    * rates are the numbers that decide which heuristics a label model
    * can actually combine.
    *
    * Scale shape: all three votes are one codegen'd projection per doc;
    * the diagnostic is a 3-row rollup of integer flags. */
  private val q509 = QueryDef(
    "q509_labeling_function_diagnostics",
    (spark, dir) => {
      val votes = Tables.documents(spark, dir)
        .select(col("doc_id"), col("n_chars"),
          graft.functions.expressions.token_count(col("text")).cast("long").as("tc"),
          graft.functions.expressions.distinct_token_count(col("text")).cast("long")
            .as("dtc"))
        .select(col("doc_id"),
          expr("CASE WHEN n_chars >= 400 THEN 1 WHEN n_chars < 100 THEN -1 ELSE 0 END")
            .as("lf1"),
          expr("CASE WHEN tc >= 80 THEN 1 WHEN tc < 20 THEN -1 ELSE 0 END")
            .as("lf2"),
          expr("CASE WHEN dtc * 2 >= tc THEN 1 WHEN dtc * 4 < tc THEN -1 ELSE 0 END")
            .as("lf3"))
      def diag(me: String, o1: String, o2: String, tag: String) = votes.agg(
        count(lit(1)).as("n_docs"),
        sum(when(col(me) =!= 0, 1L).otherwise(0L)).as("n_labeled"),
        sum(when(col(me) =!= 0 && (col(o1) =!= 0 || col(o2) =!= 0), 1L)
          .otherwise(0L)).as("n_overlap"),
        sum(when(col(me) =!= 0 &&
          ((col(o1) =!= 0 && col(o1) =!= col(me)) ||
            (col(o2) =!= 0 && col(o2) =!= col(me))), 1L).otherwise(0L))
          .as("n_conflict"))
        .select(lit(tag).as("lf"), col("n_docs"), col("n_labeled"),
          expr("n_labeled * 1000000 div n_docs").as("coverage_ppm"),
          col("n_overlap"),
          expr("n_overlap * 1000000 div n_docs").as("overlap_ppm"),
          col("n_conflict"),
          expr("n_conflict * 1000000 div n_docs").as("conflict_ppm"))
      diag("lf1", "lf2", "lf3", "lf1_chars")
        .unionAll(diag("lf2", "lf1", "lf3", "lf2_tokens"))
        .unionAll(diag("lf3", "lf1", "lf2", "lf3_diversity"))
        .orderBy(col("lf"))
    },
    Some {
      def diag(me: String, o1: String, o2: String, tag: String) = s"""
      SELECT '$tag' AS lf, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN $me <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_labeled,
        CAST(sum(CASE WHEN $me <> 0 THEN 1 ELSE 0 END) * 1000000 // count(*)
          AS BIGINT) AS coverage_ppm,
        CAST(sum(CASE WHEN $me <> 0 AND ($o1 <> 0 OR $o2 <> 0) THEN 1 ELSE 0 END)
          AS BIGINT) AS n_overlap,
        CAST(sum(CASE WHEN $me <> 0 AND ($o1 <> 0 OR $o2 <> 0) THEN 1 ELSE 0 END)
          * 1000000 // count(*) AS BIGINT) AS overlap_ppm,
        CAST(sum(CASE WHEN $me <> 0 AND (($o1 <> 0 AND $o1 <> $me)
          OR ($o2 <> 0 AND $o2 <> $me)) THEN 1 ELSE 0 END) AS BIGINT)
          AS n_conflict,
        CAST(sum(CASE WHEN $me <> 0 AND (($o1 <> 0 AND $o1 <> $me)
          OR ($o2 <> 0 AND $o2 <> $me)) THEN 1 ELSE 0 END) * 1000000 // count(*)
          AS BIGINT) AS conflict_ppm
      FROM votes"""
      s"""
      WITH votes AS (
        SELECT doc_id,
          CASE WHEN n_chars >= 400 THEN 1 WHEN n_chars < 100 THEN -1 ELSE 0 END
            AS lf1,
          CASE WHEN tc >= 80 THEN 1 WHEN tc < 20 THEN -1 ELSE 0 END AS lf2,
          CASE WHEN dtc * 2 >= tc THEN 1 WHEN dtc * 4 < tc THEN -1 ELSE 0 END
            AS lf3
        FROM (
          SELECT doc_id, n_chars,
            CAST(len($duckTokens)
              AS BIGINT) AS tc,
            CAST(len(list_distinct($duckTokens)) AS BIGINT) AS dtc
          FROM documents))
      ${diag("lf1", "lf2", "lf3", "lf1_chars")}
      UNION ALL ${diag("lf2", "lf1", "lf3", "lf2_tokens")}
      UNION ALL ${diag("lf3", "lf1", "lf2", "lf3_diversity")}
      ORDER BY lf
      """
    })

  def defs: Seq[QueryDef] =
    Seq(q476, q477, q478, q479, q480, q481, q482, q483, q484, q485, q486,
      q487, q488, q489, q490, q491, q492, q493, q494, q495, q496, q497,
      q498, q499, q500, q501, q502, q503, q504, q505, q506, q507, q508, q509)
}
