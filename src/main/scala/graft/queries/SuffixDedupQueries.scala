package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.SqlMacros._

/** Round-12 batch 1: variable-length exact-substring dedup — the
  * suffix-array-grade maximal-repeat form of Lee et al.'s
  * "Deduplicating Training Data" (the one north-star dedup family the
  * catalog still approximated: q476 deletes fixed-width 8-token
  * blocks, q404 merges fixed-width 5-gram hit windows; neither names
  * the repeats nor their true extents).
  *
  * The operator is a SORTED K-GRAM EXTENSION, the distributed stand-in
  * for a suffix array's neighbor-LCP scan: the longest duplicated
  * substring starting at position p equals the largest L for which
  * the L-gram at p occurs ≥ 2 times corpus-wide — so instead of
  * sorting suffixes, emit the L-grams for L ∈ [K, M] at CANDIDATE
  * positions only (positions whose base K-gram is duplicated; any
  * longer duplicated gram implies its K-prefix is duplicated, so
  * candidacy loses nothing) and take per-position max over the
  * duplicated lengths. Every step is a hash aggregation or a keyed
  * join, on 8-byte digests or on the document — no suffix sort, no
  * gram-keyed window, no pairwise doc join — which is exactly what
  * survives 100 TB where a monolithic suffix array does not.
  */
object SuffixDedupQueries extends QueryGroup {

  /** Base gram width K: candidacy threshold, = q476's block width so
    * the two passes answer the same "duplicated ≥ 8 tokens" question. */
  private val K = 8

  /** Extension cap M: repeats longer than M report length M (both
    * engines apply the same cap, so the gate is exact; the testdata's
    * template spans exceed it by design — the cap is what bounds the
    * per-position work to M−K+1 digests). */
  private val M = 24

  /** Oracle CTEs shared by the family: tokenized docs, per-source
    * totals, base-gram candidates, extension grams, duplicated-length
    * fold. extbase exists because DuckDB 1.0's binder cannot correlate
    * a LATERAL over columns from BOTH sides of a join (internal binder
    * error); everything multi-referenced is MATERIALIZED (DuckDB 1.0
    * inlines plain CTEs per reference). */
  private val repeatSql: String = s"""
    tk AS MATERIALIZED (
      SELECT doc_id, source,
        $duckTokens AS tk
      FROM documents),
    tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(len(tk)) AS BIGINT) AS tokens FROM tk GROUP BY source),
    pos8 AS MATERIALIZED (
      SELECT doc_id, source, CAST(i AS BIGINT) AS pos,
        md5(array_to_string(tk[CAST(i AS INTEGER):CAST(i + ${K - 1} AS INTEGER)], ' '))
          AS g8
      FROM tk, LATERAL (SELECT unnest(range(1, len(tk) - ${K - 2})) AS i) g
      WHERE len(tk) >= $K),
    dup8 AS (SELECT g8 FROM pos8 GROUP BY g8 HAVING count(*) >= 2),
    extbase AS MATERIALIZED (
      SELECT c.doc_id, c.source, c.pos, t.tk,
        least($M, len(t.tk) - c.pos + 1) AS lmax
      FROM (SELECT p.doc_id, p.source, p.pos
            FROM pos8 p JOIN dup8 USING (g8)) c
      JOIN tk t USING (doc_id)),
    ext AS MATERIALIZED (
      SELECT doc_id, source, pos, CAST(L AS BIGINT) AS l,
        md5(array_to_string(
          tk[CAST(pos AS INTEGER):CAST(pos + L - 1 AS INTEGER)], ' ')) AS dig
      FROM extbase, LATERAL (SELECT unnest(range($K, lmax + 1)) AS L) g),
    dupd AS (SELECT dig FROM ext GROUP BY dig HAVING count(*) >= 2),
    lenp AS MATERIALIZED (
      SELECT doc_id, source, pos, max(l) AS len_p
      FROM ext JOIN dupd USING (dig) GROUP BY doc_id, source, pos),
    maximal AS MATERIALIZED (
      SELECT a.doc_id, a.source, a.pos, a.len_p
      FROM lenp a LEFT JOIN lenp b ON b.doc_id = a.doc_id AND b.pos = a.pos - 1
      WHERE b.pos IS NULL OR a.len_p > b.len_p - 1),
    maxdig AS MATERIALIZED (
      SELECT m.source, m.len_p, e.dig
      FROM maximal m JOIN ext e
        ON e.doc_id = m.doc_id AND e.pos = m.pos AND e.l = m.len_p)"""

  /** Memo of the shared candidate/extension fold per (application,
    * session, dir) — the graph.Backbone discipline: q742/q743/q744/q748/
    * q750 all consume it, so the corpus-scanning part of the fold runs
    * once per session and is `localCheckpoint(true)`-materialized (flat
    * lineage, one row per document), not rebuilt per query. A
    * self-healing [[graft.CkptMemo]]: a cached frame whose checkpoint
    * blocks were dropped is rebuilt, never returned dead. */
  private val memo = new graft.CkptMemo[org.apache.spark.sql.DataFrame]()

  /** The Spark mirror of [[repeatSql]], as (docStats, tot, maxdig) views
    * of the memoized per-document checkpoint:
    *  - docStats (doc_id, source, n_tok, dup_tok): dup_tok is the
    *    document's span-union coverage (the oracle's `cov`);
    *  - tot (source, n_docs, tokens, dup_tokens, repeat_starts,
    *    maximal_occurrences, max_repeat_len): the per-source rollup of
    *    docStats and of `lenp` (repeat starts) and `maximal`;
    *  - maxdig (source, len_p, dig), one row per maximal start. */
  private[graft] def repeatFrames(spark: org.apache.spark.sql.SparkSession, dir: String) = {
    val perDoc = memo.getOrBuild(spark, dir)(buildRepeatTables(spark, dir))(Seq(_))
    val docStats = perDoc.select(col("doc_id"), col("source"), col("n_tok"), col("dup_tok"))
    val tot = perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tokens"),
        sum(col("dup_tok")).as("dup_tokens"),
        sum(size(col("reps"))).as("repeat_starts"),
        sum(size(filter(col("reps"), _("dig").isNotNull))).as("maximal_occurrences"),
        coalesce(max(array_max(col("reps.len_p"))), lit(0L)).as("max_repeat_len"))
    val maxdig = perDoc.select(col("source"), explode(col("reps")).as("r"))
      .filter(col("r.dig").isNotNull)
      .select(col("source"), col("r.len_p").as("len_p"), col("r.dig").as("dig"))
    (docStats, tot, maxdig)
  }

  /** One-time build of the checkpointed per-document fold: (doc_id,
    * source, n_tok, dup_tok, reps), where reps lists the document's
    * repeat starts in position order as (pos, len_p, dig) and dig is set
    * on the left-maximal starts only. One adaptive query and one
    * materialisation. The corpus is read three times. Column pruning gives
    * the token-hash reads, (doc_id, text), and the fold's read, (doc_id,
    * source, text), different schemas, so they cannot share one exchange.
    * The token-hash reads split in two: the joins back to the documents
    * infer a `doc_id IS NOT NULL` filter that reaches the candidate and
    * extension paths' reads but not the reads the two occurrence counts
    * take (they must count the grams of every document, as the oracle
    * does). Every other step reuses one of the three exchanges.
    *
    * The duplicate-detection fold runs on 8-byte chained-xxhash64
    * digests — per token a single xxhash64, per position/length one
    * more chain step on the token hashes (fused GraftHash kernels,
    * bit-identical to their HOF forms: KernelParitySpec). The OUTPUT
    * digest (q743's `dig`) stays md5-of-token-slice, computed for the
    * maximal starts only, so results are bit-identical to the oracle.
    * Gate caveat (the q624 precedent): the engines no longer share a
    * collision-equivalence relation on internal grams — a 64-bit chain
    * collision (odds ~n²/2⁶⁵) would perturb dup8/dupd membership and
    * fail the gate loudly, never silently.
    *
    * Scale shape: the corpus is hash-partitioned by doc_id, so the
    * extension join and the final per-document fold are co-partitioned
    * with it (no further shuffle of text or token hashes); the two
    * duplicate tests are digest-keyed hash aggregates and semi joins;
    * the per-document regroups are doc-keyed aggregates of
    * candidate-bounded rows. */
  private def buildRepeatTables(spark: org.apache.spark.sql.SparkSession,
                                dir: String): org.apache.spark.sql.DataFrame = {
    import graft.functions.expressions.{gram_chain_digests, repeat_extensions,
      token_xxhashes, tokens_native}
    // hash-partitioned by document: the two per-document joins
    // below read their sides in place (shuffled hash joins on co-
    // partitioned inputs — no sort, no further shuffle of text, no
    // broadcast of corpus-sized sets). The partition count is the one
    // the aggregates' exchanges use, and, being explicit, adaptive
    // execution keeps it: the test corpora are one parquet row group,
    // so this is also what fans the per-document kernels out
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
      .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt, col("doc_id"))
    val hs = docs.select(col("doc_id"), token_xxhashes(col("text")).as("hs"))
    // candidate positions: those whose K-gram occurs >= 2 times
    // corpus-wide, grouped per document so the extension join moves one
    // row per document
    val grams = hs.select(col("doc_id"),
      posexplode(gram_chain_digests(col("hs"), K)).as(Seq("p0", "g8")))
    val candByDoc = grams.join(repeated(grams, "g8"), Seq("g8"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list((col("p0") + 1L).cast("long"))).as("ps"))
    // len_p per candidate position: the longest extension gram that
    // occurs >= 2 times, regrouped per document in position order
    // (documents without candidates emit no extensions)
    val ext = hs.join(candByDoc.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        explode(repeat_extensions(col("hs"), col("ps"), K, M)).as("e"))
      .select(col("doc_id"), col("e.pos").as("pos"), col("e.l").as("l"),
        col("e.dig").as("dig"))
    val lenpByDoc = ext.join(repeated(ext, "dig"), Seq("dig"), "left_semi")
      .repartition(col("doc_id"))
      .groupBy(col("doc_id"), col("pos")).agg(max(col("l")).as("l"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("pos"), col("l")))).as("lp"))
    // per document: a start is left-maximal unless position pos−1
    // reaches one token further (the oracle's `maximal`); dup_tok is the
    // union of the spans (the oracle's `cov`)
    docs.join(lenpByDoc.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), tokens_native(col("text")).as("tk"), col("lp"))
      .select(col("doc_id"), col("source"),
        size(col("tk")).cast("long").as("n_tok"),
        coalesce(expr("""aggregate(lp, named_struct('cov', 0L, 'end', 0L),
          (a, e) -> named_struct(
            'cov', a.cov + greatest(0L, e.pos + e.l - 1 - greatest(a.end, e.pos - 1)),
            'end', greatest(a.end, e.pos + e.l - 1)),
          a -> a.cov)"""), lit(0L)).as("dup_tok"),
        expr("""coalesce(transform(lp, (e, i) -> named_struct('pos', e.pos, 'len_p', e.l,
          'dig', CASE WHEN i = 0 OR lp[i - 1].pos <> e.pos - 1 OR e.l > lp[i - 1].l - 1
            THEN md5(concat_ws(' ', slice(tk, CAST(e.pos AS INT), CAST(e.l AS INT)))) END)),
          array())""").as("reps"))
      .localCheckpoint(true)
  }

  /** The values of digest column `key` occurring ≥ 2 times in `df`: a
    * hash aggregate with map-side partials, read back through a keyed
    * semi join — not a window partitioned by the digest, where one
    * boilerplate gram (a license footer) puts every corpus-wide
    * occurrence into one window partition (the LinkageQueries rule;
    * QueriesSmokeSpec's plan gate checks this build's plan for it). */
  private def repeated(df: org.apache.spark.sql.DataFrame, key: String) =
    df.groupBy(col(key)).count().filter(col("count") >= 2L).select(col(key))

  // ---------------------------------------------------------------- q742

  /** Variable-length maximal-repeat census: per source, the positions
    * starting a duplicated substring of ≥ K tokens with its TRUE
    * (capped) extent, the occurrences that are left-maximal within
    * their document (not shadowed by the previous position reaching
    * one token further), the distinct maximal repeat strings, and the
    * union token coverage of all duplicated spans — the recall q476's
    * block alignment forfeits (an unaligned duplicate straddles two
    * blocks and deletes nothing) and the inventory q404's positional
    * coverage cannot name.
    *
    * Scale shape: the memoized fold; K-gram and extension-gram
    * occurrences are counted by digest-keyed hash aggregates; extension
    * grams exist only for candidate positions (≥ 2-occurrence K-grams),
    * ≤ M−K+1 digests each; the duplicated-length fold, left-shadow test
    * and coverage union are per-document (bounded by document length);
    * the census is source-keyed aggregation over the fold's views. */
  private val q742 = QueryDef(
    "q742_maximal_repeat_census",
    (spark, dir) => {
      val (_, tot, maxdig) = repeatFrames(spark, dir)
      val dg = maxdig.groupBy(col("source"))
        .agg(countDistinct(col("dig")).as("distinct_repeats"))
      tot.join(dg, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("tokens"), col("repeat_starts"),
          col("maximal_occurrences"),
          coalesce(col("distinct_repeats"), lit(0L)).as("distinct_repeats"),
          col("dup_tokens"),
          expr("dup_tokens * 1000000 div tokens").as("dup_ppm"),
          col("max_repeat_len"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH $repeatSql,
      cov AS (
        SELECT source,
          greatest(0, (pos + len_p - 1) - greatest(coalesce(
            max(pos + len_p - 1) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0), pos - 1))
            AS covered
        FROM lenp),
      starts AS (
        SELECT source, CAST(count(*) AS BIGINT) AS repeat_starts,
          CAST(max(len_p) AS BIGINT) AS max_repeat_len
        FROM lenp GROUP BY source),
      mx AS (SELECT source, CAST(count(*) AS BIGINT) AS maximal_occurrences
             FROM maximal GROUP BY source),
      dg AS (SELECT source, CAST(count(DISTINCT dig) AS BIGINT) AS distinct_repeats
             FROM maxdig GROUP BY source),
      cv AS (SELECT source, CAST(sum(covered) AS BIGINT) AS dup_tokens
             FROM cov GROUP BY source)
      SELECT t.source, t.n_docs, t.tokens,
        coalesce(s.repeat_starts, 0) AS repeat_starts,
        coalesce(m.maximal_occurrences, 0) AS maximal_occurrences,
        coalesce(d.distinct_repeats, 0) AS distinct_repeats,
        coalesce(c.dup_tokens, 0) AS dup_tokens,
        CAST(coalesce(c.dup_tokens, 0) * 1000000 // t.tokens AS BIGINT) AS dup_ppm,
        coalesce(s.max_repeat_len, 0) AS max_repeat_len
      FROM tot t LEFT JOIN starts s USING (source) LEFT JOIN mx m USING (source)
      LEFT JOIN dg d USING (source) LEFT JOIN cv c USING (source)
      ORDER BY t.source
    """))

  // ---------------------------------------------------------------- q743

  /** Maximal-repeat inventory: the 15 worst repeated substrings
    * corpus-wide, identified by digest (text never leaves the
    * executors), ranked by deletable mass = maximal occurrences ×
    * token length — the "which license footer / boilerplate header is
    * eating the corpus" readout a dedup operator hands the curator
    * before anything is deleted. Occurrences count left-maximal starts
    * only (a start shadowed by a longer repeat belongs to that longer
    * repeat's ledger), aggregated across sources.
    *
    * Scale shape: everything after the shared candidate/extension fold
    * is digest-keyed aggregation; the top-15 is a TakeOrdered over
    * (mass, digest) — a bounded heap per partition, never a global
    * sort. */
  private val q743 = QueryDef(
    "q743_maximal_repeat_inventory",
    (spark, dir) => {
      val (_, _, maxdig) = repeatFrames(spark, dir)
      maxdig.groupBy(col("dig"), col("len_p"))
        .agg(count(lit(1)).as("n_occurrences"),
          countDistinct(col("source")).as("n_sources"))
        .select(col("dig"), col("len_p").as("repeat_len"),
          col("n_occurrences"), col("n_sources"),
          (col("n_occurrences") * col("len_p")).as("deletable_tokens"))
        .orderBy(col("deletable_tokens").desc, col("dig"))
        .limit(15)
    },
    Some(s"""
      WITH $repeatSql
      SELECT dig, CAST(max(len_p) AS BIGINT) AS repeat_len,
        CAST(count(*) AS BIGINT) AS n_occurrences,
        CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        CAST(count(*) * max(len_p) AS BIGINT) AS deletable_tokens
      FROM maxdig GROUP BY dig
      ORDER BY deletable_tokens DESC, dig
      LIMIT 15
    """))

  // ---------------------------------------------------------------- q744

  /** Block-alignment recall audit: q476's fixed 8-token block dedup
    * and the variable-length span coverage, side by side per source —
    * blocks only delete a duplicate that happens to tile block
    * boundaries, so `var_dup_tokens ≥ block_dup_tokens` everywhere and
    * the gap IS the recall the suffix-style pass buys (the
    * SuffixDedupSpec proves strict dominance on a constructed
    * misaligned corpus; this query measures it on real data).
    *
    * Scale shape: the block ledger is q476's digest-grouped min-ord
    * election; the span side is the memoized fold's per-source
    * coverage; both join on the bounded per-source rollup. */
  private val q744 = QueryDef(
    "q744_block_vs_span_recall",
    (spark, dir) => {
      val (_, tot, _) = repeatFrames(spark, dir)
      // the block ledger needs the token arrays themselves — the one
      // q74x consumer that re-tokenizes (its block digests are its own
      // corpus pass by definition)
      val tk = Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"),
          graft.functions.expressions.tokens_native(col("text")).as("tk"))
      // q476's pass, in tokens: non-overlapping K-blocks, survivor =
      // smallest (doc, block) order key per content digest
      val blocks = tk.filter(size(col("tk")) >= 1)
        .select(col("doc_id"), col("source"),
          posexplode(expr(
            s"transform(sequence(0, CAST((size(tk) - 1) DIV $K AS INT)), " +
              s"b -> struct(md5(concat_ws(' ', slice(tk, b * $K + 1, $K))) AS d, " +
              s"CAST(size(slice(tk, b * $K + 1, $K)) AS BIGINT) AS blen))")).as(Seq("b", "e")))
        .select(col("source"), col("e.d").as("d"), col("e.blen").as("blen"),
          (col("doc_id") * 1024L + col("b")).as("ord"))
      val firstB = blocks.groupBy(col("d")).agg(min(col("ord")).as("keep_ord"))
      val blockDel = blocks.join(firstB, Seq("d"))
        .groupBy(col("source"))
        .agg(sum(when(col("ord") =!= col("keep_ord"), col("blen")).otherwise(0L))
          .as("block_dup_tokens"))
      tot.join(blockDel, Seq("source"), "left")
        .select(col("source"), col("tokens"),
          coalesce(col("block_dup_tokens"), lit(0L)).as("block_dup_tokens"),
          col("dup_tokens").as("var_dup_tokens"))
        .withColumn("recall_gain_tokens",
          col("var_dup_tokens") - col("block_dup_tokens"))
        .withColumn("gain_ppm",
          expr("recall_gain_tokens * 1000000 div tokens"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH $repeatSql,
      blocks AS (
        SELECT source,
          md5(array_to_string(
            tk[CAST(b * $K + 1 AS INTEGER):CAST(b * $K + $K AS INTEGER)], ' ')) AS d,
          CAST(len(tk[CAST(b * $K + 1 AS INTEGER):CAST(b * $K + $K AS INTEGER)])
            AS BIGINT) AS blen,
          doc_id * 1024 + b AS ord
        FROM tk, LATERAL (SELECT unnest(range(0, (len(tk) - 1) // $K + 1)) AS b) g
        WHERE len(tk) >= 1),
      firstb AS (SELECT d, min(ord) AS keep_ord FROM blocks GROUP BY d),
      bdel AS (
        SELECT source,
          CAST(sum(CASE WHEN ord <> keep_ord THEN blen ELSE 0 END) AS BIGINT)
            AS block_dup_tokens
        FROM blocks JOIN firstb USING (d) GROUP BY source),
      cov AS (
        SELECT source,
          greatest(0, (pos + len_p - 1) - greatest(coalesce(
            max(pos + len_p - 1) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0), pos - 1))
            AS covered
        FROM lenp),
      cv AS (SELECT source, CAST(sum(covered) AS BIGINT) AS var_dup_tokens
             FROM cov GROUP BY source)
      SELECT t.source, t.tokens,
        coalesce(b.block_dup_tokens, 0) AS block_dup_tokens,
        coalesce(c.var_dup_tokens, 0) AS var_dup_tokens,
        coalesce(c.var_dup_tokens, 0) - coalesce(b.block_dup_tokens, 0)
          AS recall_gain_tokens,
        CAST((coalesce(c.var_dup_tokens, 0) - coalesce(b.block_dup_tokens, 0))
          * 1000000 // t.tokens AS BIGINT) AS gain_ppm
      FROM tot t LEFT JOIN bdel b USING (source) LEFT JOIN cv c USING (source)
      ORDER BY t.source
    """))

  // ---------------------------------------------------------------- q748

  /** Cross-source repeat leakage: which source PAIRS share a maximal
    * repeat — benchmark/eval contamination at substring granularity
    * (q230 sees whole-doc and shingle-set overlap; this names the
    * shared verbatim spans). Per unordered source pair: the distinct
    * shared repeats and their token mass.
    *
    * Scale shape: runs entirely on the memoized maxdig fold (repeat
    * inventory, corpus-bounded by candidacy); the pair join is keyed on
    * the repeat digest, whose per-digest source list is bounded by the
    * source dimension — never a document pair join. */
  private val q748 = QueryDef(
    "q748_repeat_source_leakage",
    (spark, dir) => {
      val (_, _, maxdig) = repeatFrames(spark, dir)
      val bySrc = maxdig.select(col("source"), col("dig"), col("len_p")).distinct()
      bySrc.as("a").join(bySrc.as("b"),
          col("a.dig") === col("b.dig") && col("a.source") < col("b.source"))
        .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
          col("a.dig").as("dig"), col("a.len_p").as("len_p"))
        .distinct()
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("n_shared_repeats"),
          sum(col("len_p")).as("leaked_tokens"),
          max(col("len_p")).as("longest_shared"))
        .orderBy(col("src_a"), col("src_b"))
    },
    Some(s"""
      WITH $repeatSql,
      by_src AS (SELECT DISTINCT source, dig, len_p FROM maxdig),
      pairs AS (
        SELECT DISTINCT a.source AS src_a, b.source AS src_b, a.dig, a.len_p
        FROM by_src a JOIN by_src b
          ON a.dig = b.dig AND a.source < b.source)
      SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_shared_repeats,
        CAST(sum(len_p) AS BIGINT) AS leaked_tokens,
        CAST(max(len_p) AS BIGINT) AS longest_shared
      FROM pairs GROUP BY src_a, src_b
      ORDER BY src_a, src_b
    """))

  // ---------------------------------------------------------------- q750

  /** Dedup impact projection: what the variable-span deletion pass
    * would DO to each source before anyone runs it — tokens before and
    * after deleting every duplicated span, the per-source deletion
    * share, and the documents the pass would gut below a 10-token floor
    * (candidates for whole-doc drop instead of span surgery). The
    * what-if readout a curator reads before committing a dedup run at
    * 100 TB.
    *
    * Scale shape: per-document token counts and span-union coverage
    * come from the memoized fold; everything after is a source-keyed
    * rollup. */
  private val q750 = QueryDef(
    "q750_dedup_impact_projection",
    (spark, dir) => {
      val (docStats, _, _) = repeatFrames(spark, dir)
      docStats.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("tokens_before"),
          sum(col("n_tok") - col("dup_tok")).as("tokens_after"),
          sum(when(col("n_tok") - col("dup_tok") < 10L, 1L).otherwise(0L))
            .as("docs_below_floor"))
        .withColumn("deleted_ppm",
          expr("(tokens_before - tokens_after) * 1000000 div tokens_before"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH $repeatSql,
      doc_cov AS (
        SELECT doc_id, CAST(sum(covered) AS BIGINT) AS cov
        FROM (
          SELECT doc_id,
            greatest(0, (pos + len_p - 1) - greatest(coalesce(
              max(pos + len_p - 1) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0), pos - 1))
              AS covered
          FROM lenp)
        GROUP BY doc_id),
      per_doc AS (
        SELECT t.source, CAST(len(t.tk) AS BIGINT) AS n_tok,
          coalesce(c.cov, 0) AS cov
        FROM tk t LEFT JOIN doc_cov c USING (doc_id))
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(n_tok) AS BIGINT) AS tokens_before,
        CAST(sum(n_tok - cov) AS BIGINT) AS tokens_after,
        CAST(sum(CASE WHEN n_tok - cov < 10 THEN 1 ELSE 0 END) AS BIGINT)
          AS docs_below_floor,
        CAST((sum(n_tok) - sum(n_tok - cov)) * 1000000 // sum(n_tok)
          AS BIGINT) AS deleted_ppm
      FROM per_doc GROUP BY source ORDER BY source
    """))

  override def defs: Seq[QueryDef] = Seq(q742, q743, q744, q748, q750)
}
