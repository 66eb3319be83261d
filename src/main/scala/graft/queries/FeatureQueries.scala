package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Deterministic.{cents, epochS}
import graft.operators.Sampling
import graft.queries.SqlMacros._

/** Round-4 feature-engineering operators: deterministic negative
  * sampling for contrastive training, point-in-time feature snapshots,
  * exact rolling medians, and cross-source quantile normalization.
  */
object FeatureQueries extends QueryGroup {

  /** Deterministic negative sampling (contrastive training prep): each
    * anchor vector draws 4 pseudo-random negatives via a hash ring over
    * the contiguous id space — candidate = h(anchor·4 + slot) mod N —
    * then joins to fetch the negative's label (`same_label` marks
    * collisions a trainer would resample or keep as hard negatives).
    *
    * Scale shape: no rand() (reproducible at any cluster size / engine),
    * no global index build, no random shuffle. The corpus size N is a
    * one-row broadcast aggregate (never a driver collect), candidates
    * are generated by a narrow 4-way explode, and resolution is one
    * equi-join on the corpus' own key. Self-draws (cand = anchor) are
    * dropped deterministically. */
  private val q107 = QueryDef(
    "q107_negative_sampling",
    (spark, dir) => {
      val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("label"))
      val nRow = emb.agg(count(lit(1)).as("n_vec"))
      val negs = emb.withColumnRenamed("vec_id", "neg_id")
        .withColumnRenamed("label", "neg_label")
      emb
        .crossJoin(broadcast(nRow))
        .select(col("vec_id"), col("label").as("anchor_label"), col("n_vec"),
          explode(expr("sequence(0L, 3L)")).as("slot"))
        .withColumn("cand",
          Sampling.keyHash(col("vec_id") * 4 + col("slot")) % col("n_vec"))
        .filter(col("cand") =!= col("vec_id"))
        .join(negs, col("cand") === col("neg_id"))
        .select(col("vec_id"), col("slot"), col("neg_id"), col("neg_label"),
          (col("neg_label") === col("anchor_label")).cast("long").as("same_label"))
        .orderBy("vec_id", "slot")
    },
    Some("""
      WITH n AS (SELECT count(*) AS n_vec FROM embeddings),
      c AS (
        SELECT e.vec_id, e.label AS anchor_label, s.slot,
          ((((e.vec_id * 4 + s.slot) % 2147483648) * 2654435761)
            % 4294967296) % n.n_vec AS cand
        FROM embeddings e CROSS JOIN n,
          LATERAL (SELECT unnest(range(0, 4)) AS slot) s)
      SELECT c.vec_id, CAST(c.slot AS BIGINT) AS slot,
        g.vec_id AS neg_id, g.label AS neg_label,
        CAST(g.label = c.anchor_label AS BIGINT) AS same_label
      FROM c JOIN embeddings g ON c.cand = g.vec_id
      WHERE c.cand <> c.vec_id
      ORDER BY c.vec_id, c.slot
    """))

  /** Point-in-time feature snapshot (feature-store correctness): at each
    * purchase (= label event), the user's features AS OF that instant —
    * last click spend, recency of last view, and count of prior
    * purchases — with no leakage from the future.
    *
    * Scale shape: ONE window pass over events per user computes every
    * feature (last-non-null carries each feature forward, q39's LOCF
    * shape generalized to a feature vector), then a narrow filter keeps
    * label rows. One shuffle on user_id total — not one as-of join per
    * feature table. */
  private val q108 = QueryDef(
    "q108_feature_store_pit",
    (spark, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_s"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(spark, dir)
        .filter(col("ts").isNotNull)
        .select(col("event_id"), col("user_id"), col("event_type"),
          epochS(col("ts")).as("ts_s"), cents(col("value")).as("vc"))
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts_s"),
          last(when(col("event_type") === "click", col("vc")), ignoreNulls = true)
            .over(w).as("last_click_cents"),
          last(when(col("event_type") === "view", col("ts_s")), ignoreNulls = true)
            .over(w).as("last_view_ts"),
          (sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).over(w) - 1L)
            .as("prior_purchases"))
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("label_id"), col("user_id"), col("ts_s"),
          col("last_click_cents"),
          (col("ts_s") - col("last_view_ts")).as("view_recency_s"),
          col("prior_purchases"))
        .orderBy("label_id")
    },
    Some("""
      WITH e AS (
        SELECT event_id, user_id, event_type,
          CAST(epoch_ms(ts) // 1000 AS BIGINT) AS ts_s,
          CAST(floor(value*100 + 0.5) AS BIGINT) AS vc
        FROM events WHERE ts IS NOT NULL),
      f AS (
        SELECT event_id, user_id, event_type, ts_s,
          last_value(CASE WHEN event_type = 'click' THEN vc END IGNORE NULLS)
            OVER w AS last_click_cents,
          last_value(CASE WHEN event_type = 'view' THEN ts_s END IGNORE NULLS)
            OVER w AS last_view_ts,
          sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            OVER w - 1 AS prior_purchases
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      SELECT event_id AS label_id, user_id, ts_s,
        last_click_cents,
        ts_s - last_view_ts AS view_recency_s,
        CAST(prior_purchases AS BIGINT) AS prior_purchases
      FROM f WHERE event_type = 'purchase'
      ORDER BY label_id
    """))

  /** Exact rolling median of spend per user over the trailing 7 events —
    * the robust-baseline feature rolling means can't provide (medians
    * resist the heavy-tail outliers purchase values have).
    *
    * Determinism: median of integer cents — both engines interpolate
    * lo + (hi−lo)·0.5 on integer-valued doubles, exact in IEEE double
    * below 2^52. Scale shape: one shuffle on user_id; the 7-row frame
    * bounds per-row work to a constant. */
  private val q109 = QueryDef(
    "q109_rolling_median",
    (spark, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_s"), col("event_id"))
        .rowsBetween(-6, Window.currentRow)
      Tables.events(spark, dir)
        .filter(col("ts").isNotNull)
        .select(col("event_id"), col("user_id"),
          epochS(col("ts")).as("ts_s"), cents(col("value")).as("vc"))
        .select(col("event_id"), col("user_id"), col("ts_s"),
          expr("percentile(vc, 0.5D)").over(w).as("med7_cents"))
        .orderBy("event_id")
    },
    Some("""
      SELECT event_id, user_id,
        CAST(epoch_ms(ts) // 1000 AS BIGINT) AS ts_s,
        CAST(median(CAST(floor(value*100 + 0.5) AS BIGINT)) OVER (
          PARTITION BY user_id
          ORDER BY CAST(epoch_ms(ts) // 1000 AS BIGINT), event_id
          ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS med7_cents
      FROM events WHERE ts IS NOT NULL
      ORDER BY event_id
    """))

  /** Cross-source quantile normalization: each document's quality proxy
    * (length) maps to its within-source percentile (parts-per-million
    * grid) — the calibration step that makes scores comparable across
    * heterogeneous sources before mixture weighting.
    *
    * Determinism: percent_rank = (rank−1)/(n−1) is ONE double division
    * on integers, identical in both engines; the doc_id tiebreak makes
    * ranks total. Scale shape: one shuffle on source; the window sort
    * is per-source. At 100 TB a source CAN be a large partition — the
    * per-source sort is the inherent cost of exact ranks (approximate
    * alternatives exist as q36/q82). */
  private val q110 = QueryDef(
    "q110_quantile_norm",
    (spark, dir) => {
      val w = Window.partitionBy(col("source"))
        .orderBy(col("n_chars"), col("doc_id"))
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("n_chars"),
          floor(percent_rank().over(w) * lit(1000000d) + lit(0.5d))
            .cast("long").as("pr_ppm"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id, source, n_chars,
        CAST(floor(percent_rank() OVER (
          PARTITION BY source ORDER BY n_chars, doc_id) * 1000000 + 0.5)
          AS BIGINT) AS pr_ppm
      FROM documents ORDER BY doc_id
    """))

  /** Smoothed target (mean) encoding of a categorical feature — p_brand
    * against the binary label "line belongs to a 1-URGENT order" — with
    * additive smoothing toward the global prior (m = 100 pseudo-counts):
    * enc = (pos_b + m·prior) / (n_b + m), emitted in exact ppm as
    * (pos_b·n + m·pos) · 10^6 DIV (n·(n_b + m)) over decimal(38,0).
    * The standard high-cardinality-categorical feature transform for
    * tabular training data.
    *
    * Scale shape: fact-to-fact equi-join (lineitem ⋈ orders) shuffles on
    * the order key; the part dim joins on its own key (broadcast when it
    * fits); per-brand stats are one map-side-combined aggregate and the
    * global prior is a one-row broadcast — never a driver collect. */
  private val q124 = QueryDef(
    "q124_target_encoding",
    (spark, dir) => {
      val li = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_partkey"))
      val ord = Tables.orders(spark, dir).select(col("o_orderkey"),
        when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L).as("y"))
      val pt = Tables.part(spark, dir).select(col("p_partkey"), col("p_brand"))
      val g = li
        .join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(pt, li("l_partkey") === pt("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_b"), sum(col("y")).as("pos_b"))
      val tot = g.agg(sum(col("n_b")).as("n"), sum(col("pos_b")).as("pos"))
      g.crossJoin(broadcast(tot))
        .select(col("p_brand"), col("n_b"), col("pos_b"),
          expr("""CAST((CAST(pos_b AS DECIMAL(38,0)) * n + 100 * pos) * 1000000
                  DIV (CAST(n AS DECIMAL(38,0)) * (n_b + 100)) AS BIGINT)""")
            .as("enc_ppm"))
        .orderBy(col("p_brand"))
    },
    Some("""
      WITH g AS (
        SELECT p_brand, count(*) AS n_b,
          sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS pos_b
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand),
      tot AS (SELECT CAST(sum(n_b) AS BIGINT) AS n, CAST(sum(pos_b) AS BIGINT) AS pos FROM g)
      SELECT p_brand, n_b, CAST(pos_b AS BIGINT) AS pos_b,
        CAST((CAST(pos_b AS HUGEINT) * n + 100 * pos) * 1000000
          // (CAST(n AS HUGEINT) * (n_b + 100)) AS BIGINT) AS enc_ppm
      FROM g CROSS JOIN tot ORDER BY p_brand
    """))

  /** Decision-tree split evaluation: weighted Gini impurity (exact ppm)
    * of three candidate categorical features — order status, order year,
    * 50k-dollar price band — against the urgent-priority label, plus the
    * parent impurity and the resulting gain. The feature-selection table
    * a tabular-ML pipeline computes before training; q124's target
    * encoding consumes the winners.
    *
    * Per branch v: gini = (n_v² − pos_v² − neg_v²)/n_v²; weighted by
    * n_v/N the per-branch term becomes (n_v² − pos_v² − neg_v²)·10⁶ DIV
    * (N·n_v) — each term floors independently in decimal(38,0)/HUGEINT,
    * so the sum is engine- and order-independent (integer addition).
    *
    * Scale shape: ONE labeled scan stacks into (feature, value) pairs
    * (×3 row growth, no shuffle), one grouped count per pair
    * (cardinality = Σ feature vocabularies), a per-feature rollup, and
    * the one-row grand total broadcast back. The corpus never moves. */
  private val q152 = QueryDef(
    "q152_gini_split_quality",
    (spark, dir) => {
      val stacked = Tables.orders(spark, dir)
        .select(
          when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L).as("y"),
          col("o_orderstatus").as("status"),
          expr("CAST(year(CAST(o_orderdate AS DATE)) AS STRING)").as("yr"),
          expr("""CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                  div 5000000 AS STRING)""").as("band"))
        .selectExpr("y",
          "stack(3, 'status', status, 'year', yr, 'band', band) AS (feature, value)")
      val branches = stacked.groupBy(col("feature"), col("value"))
        .agg(count(lit(1)).as("n_v"), sum(col("y")).as("pos_v"))
      val tot = branches.filter(col("feature") === "status")
        .agg(sum(col("n_v")).as("n"), sum(col("pos_v")).as("pos"))
      branches.crossJoin(broadcast(tot))
        .select(col("feature"), col("n_v"), col("n"), col("pos"),
          expr("""CAST((CAST(n_v AS DECIMAL(38,0)) * n_v
                    - CAST(pos_v AS DECIMAL(38,0)) * pos_v
                    - CAST(n_v - pos_v AS DECIMAL(38,0)) * (n_v - pos_v)) * 1000000
                  DIV (CAST(n AS DECIMAL(38,0)) * n_v) AS BIGINT)""").as("term"))
        .groupBy(col("feature"), col("n"), col("pos"))
        .agg(count(lit(1)).as("n_values"), sum(col("term")).as("split_gini_ppm"))
        .select(col("feature"), col("n_values"), col("split_gini_ppm"),
          expr("""CAST((CAST(n AS DECIMAL(38,0)) * n
                    - CAST(pos AS DECIMAL(38,0)) * pos
                    - CAST(n - pos AS DECIMAL(38,0)) * (n - pos)) * 1000000
                  DIV (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)""")
            .as("parent_gini_ppm"))
        .withColumn("gain_ppm", col("parent_gini_ppm") - col("split_gini_ppm"))
        .orderBy(col("feature"))
    },
    Some("""
      WITH o AS (
        SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y,
          o_orderstatus AS status,
          CAST(year(CAST(o_orderdate AS DATE)) AS VARCHAR) AS yr,
          CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) // 5000000
            AS VARCHAR) AS band
        FROM orders),
      stacked AS (
        SELECT 'status' AS feature, status AS value, y FROM o
        UNION ALL SELECT 'year', yr, y FROM o
        UNION ALL SELECT 'band', band, y FROM o),
      branches AS (
        SELECT feature, value, CAST(count(*) AS BIGINT) AS n_v,
          CAST(sum(y) AS BIGINT) AS pos_v
        FROM stacked GROUP BY 1, 2),
      tot AS (SELECT CAST(sum(n_v) AS BIGINT) AS n, CAST(sum(pos_v) AS BIGINT) AS pos
        FROM branches WHERE feature = 'status'),
      terms AS (
        SELECT feature, n, pos,
          CAST((CAST(n_v AS HUGEINT) * n_v - CAST(pos_v AS HUGEINT) * pos_v
             - CAST(n_v - pos_v AS HUGEINT) * (n_v - pos_v)) * 1000000
            // (CAST(n AS HUGEINT) * n_v) AS BIGINT) AS term
        FROM branches CROSS JOIN tot)
      SELECT feature, CAST(count(*) AS BIGINT) AS n_values,
        CAST(sum(term) AS BIGINT) AS split_gini_ppm,
        CAST((CAST(n AS HUGEINT) * n - CAST(pos AS HUGEINT) * pos
           - CAST(n - pos AS HUGEINT) * (n - pos)) * 1000000
          // (CAST(n AS HUGEINT) * n) AS BIGINT) AS parent_gini_ppm,
        CAST((CAST(n AS HUGEINT) * n - CAST(pos AS HUGEINT) * pos
           - CAST(n - pos AS HUGEINT) * (n - pos)) * 1000000
          // (CAST(n AS HUGEINT) * n) AS BIGINT) - CAST(sum(term) AS BIGINT)
          AS gain_ppm
      FROM terms GROUP BY feature, n, pos
      ORDER BY feature
    """))

  /** Embedding-space geometry census: cosine similarity of id-adjacent
    * vector pairs (id i vs i+1 — ids are content-independent, so the
    * pairs are an unbiased linear-cost probe of the pairwise-similarity
    * distribution without the quadratic all-pairs join), bucketed into
    * 16 bins over [−1, 1]. A healthy embedding space concentrates
    * far from ±1; mass near 1.0 signals duplicate vectors, mass near
    * −1 signals degenerate axes — the sanity gate before trusting ANN
    * recall numbers.
    *
    * Scale shape: a self-equi-join on id+1 (shuffle of (id, vec) once
    * per side), narrow codegen cosine, 16-row census. Bin edges are
    * floor((cos+1)·8) on the SAME IEEE double both engines compute —
    * exact. Zero-norm vectors yield null cosine and are dropped. */
  private val q178 = QueryDef(
    "q178_adjacent_cosine_histogram",
    (spark, dir) => {
      val e = Tables.embeddings(spark, dir)
      val a = e.select(col("vec_id").as("id"), col("embedding").as("va"))
      val b = e.select((col("vec_id") - 1).as("id"), col("embedding").as("vb"))
      a.join(b, Seq("id"))
        .select(graft.functions.expressions.quantized_cosine(
          col("va"), col("vb")).as("cos"))
        .filter(col("cos").isNotNull)
        .select(least(floor((col("cos") + 1d) * 8d).cast("long"), lit(15L)).as("bin"))
        .groupBy(col("bin")).agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("bin"))
    },
    Some(s"""
      WITH base AS (
        SELECT vec_id AS id,
          $duckQuantVec AS qv
        FROM embeddings),
      pairs AS (
        SELECT
          CAST(list_sum(list_transform(range(1, 65), i -> a.qv[i]*b.qv[i])) AS DOUBLE)
            / sqrt(CAST(list_sum(list_transform(a.qv, x -> x*x)) AS DOUBLE)
                 * CAST(list_sum(list_transform(b.qv, x -> x*x)) AS DOUBLE)) AS cos
        FROM base a JOIN base b ON b.id = a.id + 1),
      b AS (
        SELECT least(CAST(floor((cos + 1) * 8) AS BIGINT), 15) AS bin
        FROM pairs WHERE cos IS NOT NULL)
      SELECT bin, CAST(count(*) AS BIGINT) AS n_pairs
      FROM b GROUP BY bin ORDER BY bin
    """))

  /** Gradient-boosting pre-binning: the equi-width 16-bin histogram per
    * feature with per-bin label statistics (count, positives, value
    * mass) that tree learners (XGBoost/LightGBM-style) build before any
    * split search — histogram aggregation is THE scale trick that makes
    * GBDT training feasible on billions of rows. Features are exact
    * integers (quantity/price/discount in cents); the label is
    * l_returnflag = 'R'.
    *
    * Scale shape: the classic two-pass histogram build — pass 1 is a
    * 3-row (feature → min/max) range sketch, broadcast back; pass 2
    * bins every row with pure integer arithmetic ((v−lo)·16 div
    * (hi−lo+1), exactly 16 bins since v ≤ hi) and hash-aggregates on
    * (feature, bin) — 48 cells, fully map-side combinable. No sort, no
    * window, nothing wider than 48 rows after the scan. */
  private val q223 = QueryDef(
    "q223_gbdt_prebinning",
    (spark, dir) => {
      val feat = Tables.lineitem(spark, dir).select(
        expr("""stack(3,
                 'discount', CAST(floor(l_discount * 10000 + 0.5) AS BIGINT),
                 'price',    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT),
                 'quantity', CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)
               ) AS (feature, v)"""),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("pos"))
      val ranges = feat.groupBy(col("feature"))
        .agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
      feat.join(broadcast(ranges), Seq("feature"))
        .withColumn("bin", expr("(v - lo) * 16 DIV (hi - lo + 1)"))
        .groupBy(col("feature"), col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"),
          sum(col("v")).as("v_mass"))
        .orderBy(col("feature"), col("bin"))
    },
    Some("""
      WITH feat AS (
        SELECT 'discount' AS feature,
          CAST(floor(l_discount * 10000 + 0.5) AS BIGINT) AS v,
          CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos FROM lineitem
        UNION ALL
        SELECT 'price', CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT),
          CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END FROM lineitem
        UNION ALL
        SELECT 'quantity', CAST(floor(l_quantity * 100 + 0.5) AS BIGINT),
          CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END FROM lineitem),
      ranges AS (
        SELECT feature, min(v) AS lo, max(v) AS hi FROM feat GROUP BY feature)
      SELECT f.feature, (f.v - r.lo) * 16 // (r.hi - r.lo + 1) AS bin,
        CAST(count(*) AS BIGINT) AS n,
        CAST(sum(f.pos) AS BIGINT) AS n_pos,
        CAST(sum(f.v) AS BIGINT) AS v_mass
      FROM feat f JOIN ranges r USING (feature)
      GROUP BY f.feature, bin
      ORDER BY f.feature, bin
    """))

  /** Feature-hashing dimension planner: EXACT collision censuses of the
    * part-name token vocabulary under hash buckets m ∈ {2¹⁰, 2¹⁴, 2¹⁸}
    * — how many distinct features collide at each candidate width, and
    * the collision rate in ppm. The hashing-trick sizing decision from
    * measured collisions rather than the (1−1/m)ⁿ expectation formula
    * (which needs pow and answers the wrong question — THIS vocabulary,
    * not a random one).
    *
    * Scale shape: one distinct-token pass, then per candidate width a
    * (bucket → any) distinct count — all hash aggs over int keys; the
    * 3-row plan unions at the end. */
  private val q237 = QueryDef(
    "q237_feature_hash_plan",
    (spark, dir) => {
      val toks = Tables.part(spark, dir)
        .select(explode(split(col("p_name"), " ")).as("tok"))
        .filter(length(col("tok")) > 0)
        .distinct()
        .select(graft.functions.expressions.poly_hash(col("tok")).as("hv"))
      def census(bits: Int) = {
        val m = 1L << bits
        toks.agg(count(lit(1)).as("n_features"),
            countDistinct(col("hv") % m).as("n_buckets"))
          .select(lit(m).as("m"), col("n_features"),
            (col("n_features") - col("n_buckets")).as("n_collisions"))
          .withColumn("collision_ppm",
            expr("CAST(CAST(n_collisions AS DECIMAL(38,0)) * 1000000 DIV n_features AS BIGINT)"))
      }
      census(10).unionAll(census(14)).unionAll(census(18)).orderBy(col("m"))
    },
    Some(s"""
      WITH t AS (
        SELECT DISTINCT tok FROM (
          SELECT unnest(${duckTokensOf("p_name")}) AS tok
          FROM part)),
      h AS (
        SELECT tok,
          ${duckPolyHashOf("tok")} AS hv
        FROM t)
      SELECT m, n_features, n_collisions,
        CAST(CAST(n_collisions AS HUGEINT) * 1000000 // n_features AS BIGINT)
          AS collision_ppm
      FROM (
        SELECT CAST(1024 AS BIGINT) AS m, CAST(count(*) AS BIGINT) AS n_features,
          CAST(count(*) - count(DISTINCT hv % 1024) AS BIGINT) AS n_collisions
        FROM h
        UNION ALL
        SELECT 16384, CAST(count(*) AS BIGINT),
          CAST(count(*) - count(DISTINCT hv % 16384) AS BIGINT) FROM h
        UNION ALL
        SELECT 262144, CAST(count(*) AS BIGINT),
          CAST(count(*) - count(DISTINCT hv % 262144) AS BIGINT) FROM h)
      ORDER BY m
    """))

  /** Near-constant / near-unique feature audit — the first feature-
    * selection pass: a column whose mode covers ≈ everything carries no
    * signal, one whose distinct count ≈ row count is an id in disguise
    * (a leakage hazard as a feature, a key candidate otherwise). Per
    * candidate: rows, distinct values, the mode's share in ppm, and
    * both flags (mode > 99%, ndv > 95% of rows).
    *
    * Scale shape: one stack-unpivot scan → (feature, value) hash agg →
    * feature-sized rollup; the mode share needs no sort, just max(cnt). */
  private val q253 = QueryDef(
    "q253_near_constant_features",
    (spark, dir) => {
      val feat = Tables.lineitem(spark, dir).select(expr(
        """stack(5,
             'discount_bp', CAST(floor(l_discount * 10000 + 0.5) AS STRING),
             'linestatus',  l_linestatus,
             'quantity',    CAST(floor(l_quantity + 0.5) AS STRING),
             'returnflag',  l_returnflag,
             'tax_bp',      CAST(floor(l_tax * 10000 + 0.5) AS STRING)
           ) AS (feature, v)"""))
      feat.groupBy(col("feature"), col("v")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("feature"))
        .agg(sum(col("cnt")).as("n"), count(lit(1)).as("ndv"),
          max(col("cnt")).as("mode_cnt"))
        .select(col("feature"), col("n"), col("ndv"),
          expr("CAST(CAST(mode_cnt AS DECIMAL(38,0)) * 1000000 DIV n AS BIGINT)")
            .as("mode_ppm"),
          expr("CAST(CASE WHEN CAST(mode_cnt AS DECIMAL(38,0)) * 100 > 99 * n THEN 1 ELSE 0 END AS BIGINT)")
            .as("near_constant"),
          expr("CAST(CASE WHEN CAST(ndv AS DECIMAL(38,0)) * 100 > 95 * n THEN 1 ELSE 0 END AS BIGINT)")
            .as("near_unique"))
        .orderBy(col("feature"))
    },
    Some("""
      WITH feat AS (
        SELECT 'discount_bp' AS feature,
          CAST(CAST(floor(l_discount * 10000 + 0.5) AS BIGINT) AS VARCHAR) AS v FROM lineitem
        UNION ALL SELECT 'linestatus', l_linestatus FROM lineitem
        UNION ALL SELECT 'quantity',
          CAST(CAST(floor(l_quantity + 0.5) AS BIGINT) AS VARCHAR) FROM lineitem
        UNION ALL SELECT 'returnflag', l_returnflag FROM lineitem
        UNION ALL SELECT 'tax_bp',
          CAST(CAST(floor(l_tax * 10000 + 0.5) AS BIGINT) AS VARCHAR) FROM lineitem),
      c AS (
        SELECT feature, v, CAST(count(*) AS BIGINT) AS cnt
        FROM feat GROUP BY feature, v),
      g AS (
        SELECT feature, CAST(sum(cnt) AS BIGINT) AS n,
          CAST(count(*) AS BIGINT) AS ndv, CAST(max(cnt) AS BIGINT) AS mode_cnt
        FROM c GROUP BY feature)
      SELECT feature, n, ndv,
        CAST(CAST(mode_cnt AS HUGEINT) * 1000000 // n AS BIGINT) AS mode_ppm,
        CAST(CASE WHEN CAST(mode_cnt AS HUGEINT) * 100 > 99 * n THEN 1 ELSE 0 END AS BIGINT)
          AS near_constant,
        CAST(CASE WHEN CAST(ndv AS HUGEINT) * 100 > 95 * n THEN 1 ELSE 0 END AS BIGINT)
          AS near_unique
      FROM g ORDER BY feature
    """))

  /** One-hot width planner: for each categorical column, how many dummy
    * columns keep 90/95/99% of the rows? Categories rank by frequency
    * (ties by value — fully deterministic); the plan reads straight off
    * the cumulative census. The encoder-sizing table that decides
    * hash-trick (q237) vs explicit dummies.
    *
    * Scale shape: (column, value) hash agg → a rank window over each
    * column's vocabulary — category-sized, never row-sized. */
  private val q254 = QueryDef(
    "q254_onehot_coverage_plan",
    (spark, dir) => {
      val feat = Tables.part(spark, dir).select(expr(
        "stack(2, 'p_brand', p_brand, 'p_type', p_type) AS (feature, v)"))
        .unionAll(Tables.orders(spark, dir).select(expr(
          "stack(2, 'o_orderpriority', o_orderpriority, 'o_orderstatus', o_orderstatus) AS (feature, v)")))
      val cnt = feat.groupBy(col("feature"), col("v")).agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("feature"))
        .orderBy(col("c").desc, col("v"))
      val all = Window.partitionBy(col("feature"))
      cnt
        .withColumn("cum", sum(col("c")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("rk", row_number().over(w).cast("long"))
        .withColumn("n", sum(col("c")).over(all))
        .groupBy(col("feature"))
        .agg(count(lit(1)).as("n_categories"),
          min(when(col("cum") * 100 >= col("n") * 90, col("rk"))).as("n_for_90"),
          min(when(col("cum") * 100 >= col("n") * 95, col("rk"))).as("n_for_95"),
          min(when(col("cum") * 100 >= col("n") * 99, col("rk"))).as("n_for_99"))
        .orderBy(col("feature"))
    },
    Some("""
      WITH feat AS (
        SELECT 'p_brand' AS feature, p_brand AS v FROM part
        UNION ALL SELECT 'p_type', p_type FROM part
        UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM orders
        UNION ALL SELECT 'o_orderstatus', o_orderstatus FROM orders),
      c AS (
        SELECT feature, v, CAST(count(*) AS BIGINT) AS c
        FROM feat GROUP BY feature, v),
      r AS (
        SELECT feature, c,
          CAST(sum(c) OVER (PARTITION BY feature ORDER BY c DESC, v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
          CAST(row_number() OVER (PARTITION BY feature ORDER BY c DESC, v) AS BIGINT) AS rk,
          CAST(sum(c) OVER (PARTITION BY feature) AS BIGINT) AS n
        FROM c)
      SELECT feature, CAST(count(*) AS BIGINT) AS n_categories,
        min(CASE WHEN cum * 100 >= n * 90 THEN rk END) AS n_for_90,
        min(CASE WHEN cum * 100 >= n * 95 THEN rk END) AS n_for_95,
        min(CASE WHEN cum * 100 >= n * 99 THEN rk END) AS n_for_99
      FROM r GROUP BY feature ORDER BY feature
    """))

  def defs: Seq[QueryDef] = Seq(q107, q108, q109, q110, q124, q152, q178, q223, q237,
    q253, q254)
}
