package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.SqlMacros._

/** Round-4 embedding-compression operator: int8 scalar quantization,
  * the standard memory-shrink for ANN serving (4× smaller than float32,
  * distance-preserving enough for recall@k).
  */
object QuantQueries extends QueryGroup {

  /** The embeddings with the per-dimension affine int8 codebook beside
    * each row: `mns` and `mxs`, the min and max of every dimension over
    * the corpus. The dim-keyed partial aggregate collapses the exploded
    * (dim, value) rows before the shuffle, and the one-row codebook
    * broadcasts back onto the corpus scan. q102 encodes with it, q256
    * measures the round trip. */
  private def withCodebook(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val stats = emb
      .select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("dim"))
      .agg(min(col("v").cast("double")).as("mn"), max(col("v").cast("double")).as("mx"))
      .agg(sort_array(collect_list(struct(col("dim"), col("mn")))).as("amn"),
        sort_array(collect_list(struct(col("dim"), col("mx")))).as("amx"))
      .select(expr("transform(amn, x -> x.mn)").as("mns"),
        expr("transform(amx, x -> x.mx)").as("mxs"))
    emb.crossJoin(broadcast(stats))
  }

  /** Int8 scalar quantization of the embedding corpus: per-dimension
    * [min, max] over the corpus define each dimension's affine code
    * scale; every vector quantizes to codes floor((x−mn)·255/(mx−mn)
    * + 0.5) ∈ [0, 255]. Output: per-vector code summary (sum, extremes,
    * saturation counts) — all integers once quantized, so the result is
    * bit-exact across engines while the per-element math stays the same
    * IEEE double op sequence on both sides.
    *
    * Scale shape: the stats side explodes to (dim, value) but the
    * per-dimension min/max partial-aggregate collapses it to dim-many
    * rows per partition BEFORE the shuffle; the one-row (mins, maxs)
    * arrays then broadcast-cross-join onto the corpus scan (the q64
    * threshold pattern) and quantization runs as a narrow higher-order
    * transform — the corpus is scanned once, never exploded, and no
    * driver collect builds the codebook. Constant dimensions
    * (mx = mn) quantize to 0 rather than dividing by zero. */
  private val q102 = QueryDef(
    "q102_int8_quantization",
    (spark, dir) => {
      withCodebook(spark, dir)
        .select(col("vec_id"), expr("""
          transform(sequence(1, size(embedding)), i ->
            CASE WHEN mxs[i-1] = mns[i-1] THEN 0L
                 ELSE CAST(floor((CAST(element_at(embedding, i) AS DOUBLE) - mns[i-1])
                        * 255.0D / (mxs[i-1] - mns[i-1]) + 0.5D) AS LONG) END)
          """).as("codes"))
        .select(col("vec_id"),
          expr("aggregate(codes, 0L, (a, c) -> a + c)").as("code_sum"),
          expr("array_min(codes)").as("code_min"),
          expr("array_max(codes)").as("code_max"),
          expr("CAST(size(filter(codes, c -> c = 0)) AS LONG)").as("n_lo_sat"),
          expr("CAST(size(filter(codes, c -> c = 255)) AS LONG)").as("n_hi_sat"))
        .orderBy("vec_id")
    },
    Some("""
      WITH ex AS (
        SELECT CAST(d.i AS INTEGER) AS dim, CAST(embedding[d.i] AS DOUBLE) AS v
        FROM embeddings, LATERAL (SELECT unnest(range(1, len(embedding)+1)) AS i) d),
      st AS (SELECT dim, min(v) AS mn, max(v) AS mx FROM ex GROUP BY dim),
      packed AS (
        SELECT list(mn ORDER BY dim) AS mns, list(mx ORDER BY dim) AS mxs FROM st),
      codes AS (
        SELECT e.vec_id,
          list_transform(range(1, len(e.embedding)+1), i ->
            CASE WHEN p.mxs[i] = p.mns[i] THEN 0
                 ELSE CAST(floor((CAST(e.embedding[i] AS DOUBLE) - p.mns[i])
                        * 255.0 / (p.mxs[i] - p.mns[i]) + 0.5) AS BIGINT) END) AS c
        FROM embeddings e CROSS JOIN packed p)
      SELECT vec_id,
        CAST(list_sum(c) AS BIGINT) AS code_sum,
        CAST(list_min(c) AS BIGINT) AS code_min,
        CAST(list_max(c) AS BIGINT) AS code_max,
        CAST(len(list_filter(c, x -> x = 0)) AS BIGINT) AS n_lo_sat,
        CAST(len(list_filter(c, x -> x = 255)) AS BIGINT) AS n_hi_sat
      FROM codes ORDER BY vec_id
    """))

  /** Per-dimension embedding moments — the standardization (whitening
    * diagonal) codebook feature stores keep next to every embedding
    * column: mean and variance per dimension. Elements are quantized to
    * exact micro-units FIRST (one IEEE floor each — bit-identical across
    * engines), so the sums are order-independent integers; variance uses
    * the integer identity (n·Σq² − (Σq)²) DIV n² in decimal(38,0).
    *
    * Scale shape: explode → per-dim partial-agged moments (dim-count
    * rows cross the shuffle, not corpus rows). The resulting ≤dim-sized
    * codebook is what a `transform`-based normalizer broadcasts (q102's
    * apply pattern). */
  private val q127 = QueryDef(
    "q127_embedding_moments",
    (spark, dir) => {
      Tables.embeddings(spark, dir)
        .select(posexplode(col("embedding")).as(Seq("dim", "v")))
        .select(col("dim"),
          expr("CAST(floor(CAST(v AS DOUBLE) * 1000000 + 0.5) AS BIGINT)").as("q"))
        .groupBy(col("dim")).agg(
          count(lit(1)).as("n"),
          sum(col("q")).as("s"),
          sum(expr("CAST(q AS DECIMAL(38,0)) * q")).as("ss"))
        .select(col("dim").cast("long").as("dim"), col("n"),
          expr("s div n").as("mean_micro"),
          expr("""CAST((n * ss - CAST(s AS DECIMAL(38,0)) * s)
                  DIV (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)""").as("var_micro2"))
        .orderBy(col("dim"))
    },
    Some("""
      WITH ex AS (
        SELECT CAST(d.i - 1 AS BIGINT) AS dim,
          CAST(floor(CAST(embedding[d.i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS q
        FROM embeddings, LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) d),
      a AS (
        SELECT dim, count(*) AS n, CAST(sum(q) AS BIGINT) AS s,
          sum(CAST(q AS HUGEINT) * q) AS ss
        FROM ex GROUP BY dim)
      SELECT dim, n, s // n AS mean_micro,
        CAST((n * ss - CAST(s AS HUGEINT) * s)
          // (CAST(n AS HUGEINT) * n) AS BIGINT) AS var_micro2
      FROM a ORDER BY dim
    """))

  /** Embedding-norm outlier detection — the broken-vector QC gate (a
    * misscaled or corrupt embedding shows up as an extreme L2 norm long
    * before it poisons ANN results): flag vectors whose quantized norm²
    * lands at or above the exact bucket-granular P99 of the corpus.
    * Quantization is q102's ·512 grid, so norm² is an exact integer;
    * the P99 threshold is the smallest norm²-bucket whose cumulative
    * count reaches ceil(99n/100) (q82's bin-granular percentile). The
    * histogram key is norm² itself — its value range is bounded by
    * dims·512² ≈ 1.7e7 regardless of corpus size, and unit-normalized
    * embeddings concentrate in a few thousand distinct values, so any
    * coarser bucketing would lump the whole corpus into one bin.
    *
    * Scale shape: norm² is a narrow per-row fold (64 bounded elements);
    * the percentile window runs over the bounded bucket histogram and
    * the threshold broadcasts back onto the corpus — vectors never
    * globally sort. */
  private val q139 = QueryDef(
    "q139_norm_outliers",
    (spark, dir) => {
      val nsqExpr = "aggregate(transform(embedding, x -> " +
        "CAST(floor(CAST(x AS DOUBLE) * 512 + 0.5) AS BIGINT)), 0L, (a, q) -> a + q * q)"
      val vecs = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("label"), expr(nsqExpr).as("nsq"))
        .persist() // histogram + flag pass
      val hist = vecs.select(col("nsq").as("b"))
        .groupBy(col("b")).agg(count(lit(1)).as("c"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("b"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val cum = hist.select(col("b"), sum(col("c")).over(w).as("cum"))
      val tot = hist.agg(sum(col("c")).as("n"))
      val thr = cum.crossJoin(broadcast(tot))
        .filter(expr("cum >= (99 * n + 99) DIV 100"))
        .agg(min(col("b")).as("b99"))
      vecs.crossJoin(broadcast(thr))
        .filter(expr("nsq >= b99"))
        .select(col("vec_id"), col("label").cast("long").as("label"), col("nsq"))
        .orderBy(col("vec_id"))
    },
    Some(s"""
      WITH v AS (
        SELECT vec_id, label,
          CAST(list_sum(list_transform(embedding, x ->
            ${duckQuant("x")}
              * ${duckQuant("x")})) AS BIGINT) AS nsq
        FROM embeddings),
      h AS (SELECT nsq AS b, count(*) AS c FROM v GROUP BY 1),
      cum AS (SELECT b, sum(c) OVER (ORDER BY b) AS cum FROM h),
      tot AS (SELECT count(*) AS n FROM v),
      thr AS (
        SELECT min(b) AS b99 FROM cum CROSS JOIN tot
        WHERE cum >= (99 * n + 99) // 100)
      SELECT vec_id, CAST(label AS BIGINT) AS label, nsq
      FROM v CROSS JOIN thr
      WHERE nsq >= b99
      ORDER BY vec_id
    """))

  /** Reference-distribution calibration — scoring NEW data against a
    * FROZEN reference CDF (how a feature store normalizes today's values
    * against the training-time distribution, and how drift dashboards
    * place this week's traffic on last quarter's curve): each post-1998
    * order price bucket gets the exact ppm share of pre-1998 reference
    * orders at or below it.
    *
    * Scale shape: ONE scan builds both sides' value histograms as
    * conditional counts; the reference CDF is a cumulative window over
    * the value-bounded dollar histogram (never an as-of join of rows
    * against rows); the reference total is a one-row broadcast. */
  private val q147 = QueryDef(
    "q147_reference_calibration",
    (spark, dir) => {
      val hist = Tables.orders(spark, dir)
        .select(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) div 100").as("d"),
          (col("o_orderdate") < "1998-01-01").as("is_ref"))
        .groupBy(col("d")).agg(
          sum(when(col("is_ref"), 1L).otherwise(0L)).as("cr"),
          sum(when(!col("is_ref"), 1L).otherwise(0L)).as("ct"))
        .persist() // cumulative pass + the reference total
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("d"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val cum = hist.select(col("d"), col("ct"), sum(col("cr")).over(w).as("ref_cum"))
      val tot = hist.agg(sum(col("cr")).as("n_ref"))
      cum.filter(col("ct") > 0)
        .crossJoin(broadcast(tot))
        .select(col("d").as("dollars"), col("ct").as("n_new"), col("ref_cum"),
          expr("ref_cum * 1000000L div n_ref").as("ref_pct_ppm"))
        .orderBy(col("dollars"))
    },
    Some("""
      WITH h AS (
        SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) // 100 AS d,
          sum(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01' THEN 1 ELSE 0 END) AS cr,
          sum(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01' THEN 0 ELSE 1 END) AS ct
        FROM orders GROUP BY 1),
      cum AS (
        SELECT d, ct, CAST(sum(cr) OVER (ORDER BY d) AS BIGINT) AS ref_cum FROM h),
      tot AS (SELECT CAST(sum(cr) AS BIGINT) AS n_ref FROM h)
      SELECT d AS dollars, CAST(ct AS BIGINT) AS n_new, ref_cum,
        ref_cum * 1000000 // n_ref AS ref_pct_ppm
      FROM cum CROSS JOIN tot
      WHERE ct > 0
      ORDER BY dollars
    """))

  /** Effective dimensionality of the embedding space per label, as the
    * participation ratio PR = (Σ_d v_d)² / Σ_d v_d² over per-dimension
    * variances — PR ≈ k means "the cluster really lives in k of the 64
    * dimensions". The standard check before dimension truncation
    * (q173) or IVF cell sizing: a source whose PR collapses is
    * anisotropic and will bucket badly. Variances are exact integers
    * over the house 512-step quantization (v_d = n·Σq² − (Σq)², the
    * n²-scaled variance — the PR ratio cancels the scaling), so the
    * result is bit-deterministic.
    *
    * Scale shape: posexplode fans each vector into 64 (label, dim)
    * cells — a narrow generator, then ONE hash agg to labels×64 cells
    * and a second to labels. All squaring runs in decimal(38,0): v_d
    * can reach ~1e13 at test scale and its square 1e26, far past 2^63
    * but inside 38 digits. */
  private val q226 = QueryDef(
    "q226_effective_dim",
    (spark, dir) => {
      Tables.embeddings(spark, dir)
        .select(col("label").cast("long").as("label"),
          posexplode(expr(
            "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 512 + 0.5) AS BIGINT))"))
            .as(Seq("dim", "q")))
        .groupBy(col("label"), col("dim"))
        .agg(count(lit(1)).as("n"), sum(col("q")).as("sx"),
          sum(col("q") * col("q")).as("sxx"))
        .select(col("label"), col("n"),
          expr("CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx")
            .as("v"))
        .groupBy(col("label"))
        .agg(max(col("n")).as("n_vecs"), sum(col("v")).as("s1"),
          sum(expr("v * v")).as("s2"))
        .select(col("label"), col("n_vecs"),
          expr("CAST(CASE WHEN s2 = 0 THEN 0 ELSE s1 * s1 * 1000000 DIV s2 END AS BIGINT)")
            .as("pr_ppm"))
        .orderBy(col("label"))
    },
    Some(s"""
      WITH ex AS (
        SELECT CAST(label AS BIGINT) AS label, CAST(d.i - 1 AS INTEGER) AS dim,
          ${duckQuant("embedding[d.i]")} AS q
        FROM embeddings, LATERAL (SELECT unnest(range(1, len(embedding)+1)) AS i) d),
      cell AS (
        SELECT label, dim, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(q) AS BIGINT) AS sx, CAST(sum(q*q) AS BIGINT) AS sxx
        FROM ex GROUP BY label, dim),
      v AS (
        SELECT label, n, CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS v
        FROM cell),
      s AS (
        SELECT label, max(n) AS n_vecs, sum(v) AS s1, sum(v*v) AS s2
        FROM v GROUP BY label)
      SELECT label, CAST(n_vecs AS BIGINT) AS n_vecs,
        CAST(CASE WHEN s2 = 0 THEN 0 ELSE s1 * s1 * 1000000 // s2 END AS BIGINT)
          AS pr_ppm
      FROM s ORDER BY label
    """))

  /** Every (corpus vector, panel query) pair of the fixed 64-query
    * panel (the hash-smallest vec_ids, the same queries at every scale
    * factor) with the integer dot of their 512-quantized embeddings:
    * (vec_id, qv, nsq, q_id, q_qv, q_nsq, dot), plus `label` and
    * `q_label` when `labeled`. Zero vectors drop out. The panel is a
    * fixed budget broadcast onto one corpus scan, never a pairwise
    * corpus join. The retrieval evaluations (q235 MAP@10, q373 DCG@10,
    * q495 routing margin) each take a bounded top-k per query of it. */
  private[queries] def panelDots(spark: SparkSession, dir: String, labeled: Boolean): DataFrame = {
    val label = if (labeled) Seq(col("label").cast("long").as("label")) else Nil
    val qLabel = if (labeled) Seq(col("label").as("q_label")) else Nil
    val vecs = Tables.embeddings(spark, dir)
      .select(Seq(col("vec_id")) ++ label ++ Seq(
        expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 512 + 0.5) AS BIGINT))")
          .as("qv")): _*)
      .withColumn("nsq", expr("aggregate(qv, 0L, (a, x) -> a + x * x)"))
      .filter(col("nsq") > 0L)
    val queryIds = vecs
      .agg(graft.functions.TopKAggregate.topk_pairs(
        -graft.operators.Sampling.keyHash(col("vec_id")).cast("double"),
        col("vec_id"), 64).as("top"))
      .select(explode(col("top")).as("t"))
      .select(col("t").getField("id").as("q_id"))
    val queries = vecs.join(broadcast(queryIds), col("vec_id") === col("q_id"))
      .select(Seq(col("q_id")) ++ qLabel ++ Seq(col("qv").as("q_qv"), col("nsq").as("q_nsq")): _*)
    vecs.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .withColumn("dot",
        expr("aggregate(zip_with(qv, q_qv, (a, b) -> a * b), 0L, (a, x) -> a + x)"))
  }

  /** Retrieval-quality audit: mean-average-precision@10 of label-match
    * retrieval over a fixed 64-query panel (the hash-smallest vec_ids
    * — the same queries at every scale factor). For each query, the
    * corpus ranks by quantized cosine (q25's kernel arithmetic),
    * relevance = same label, and AP = (Σ_{k rel} P@k) / hits with
    * every P@k an exact integer ppm division — the ranking-metric
    * companion to q170/q173 (recall) and q174 (fusion): recall says
    * how many neighbors survive, MAP says whether they surface at the
    * top.
    *
    * Scale shape: the query panel broadcasts onto ONE corpus scan
    * (q89's pattern — no pairwise corpus join); the panel is a fixed
    * BUDGET, not a fraction (a fraction grows candidate pairs
    * quadratically), and top-10 per query is the [[graft.functions
    * .TopKPairs]] bounded heap — ≤10 rows per query cross the shuffle,
    * never a corpus-sized window partition. Relevance rides in the
    * heap id's low bit (id = vec_id·2 + rel, monotone in vec_id, so
    * ties break exactly like the oracle's row_number), and P@k /
    * AP fold sequentially over the rank-sorted ≤10-entry array. */
  private val q235 = QueryDef(
    "q235_map_at_10",
    (spark, dir) => {
      panelDots(spark, dir, labeled = true)
        .withColumn("cosine", col("dot").cast("double") /
          sqrt(col("nsq").cast("double") * col("q_nsq").cast("double")))
        .withColumn("rel", when(col("label") === col("q_label"), 1L).otherwise(0L))
        .groupBy(col("q_id"), col("q_label"))
        .agg(graft.functions.TopKAggregate.topk_pairs(
          col("cosine"), col("vec_id") * lit(2L) + col("rel"), 10).as("top10"))
        // AP by one sequential fold over the rank-sorted array:
        // k = position, h = cumulative hits, s = Σ_{k rel} P@k (ppm)
        .withColumn("acc", expr(
          """aggregate(top10,
               named_struct('k', 0L, 'h', 0L, 's', 0L),
               (a, e) -> named_struct(
                 'k', a.k + 1L,
                 'h', a.h + e.id % 2,
                 's', a.s + IF(e.id % 2 = 1,
                        (a.h + 1L) * 1000000 DIV (a.k + 1L), 0L)))"""))
        .select(col("q_id"), col("q_label"),
          expr("acc.h").as("hits"),
          expr("CAST(CASE WHEN acc.h = 0 THEN 0 ELSE acc.s DIV acc.h END AS BIGINT)")
            .as("ap_ppm"))
        .orderBy(col("q_id"))
    },
    Some(s"""
      WITH v AS (
        SELECT vec_id, CAST(label AS BIGINT) AS label,
          $duckQuantVec AS qv
        FROM embeddings),
      n AS (
        SELECT vec_id, label, qv,
          CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS nsq
        FROM v),
      nn AS (SELECT * FROM n WHERE nsq > 0),
      q AS (
        SELECT vec_id AS q_id, label AS q_label, qv AS q_qv, nsq AS q_nsq
        FROM nn
        ORDER BY ((vec_id % 2147483648) * 2654435761) % 4294967296, vec_id
        LIMIT 64),
      s AS (
        SELECT q.q_id, q.q_label, nn.vec_id, nn.label,
          CAST(CAST(list_sum(list_transform(range(1, len(nn.qv) + 1),
                 i -> nn.qv[i] * q.q_qv[i])) AS BIGINT) AS DOUBLE)
            / sqrt(CAST(nn.nsq AS DOUBLE) * CAST(q.q_nsq AS DOUBLE)) AS cosine
        FROM nn CROSS JOIN q WHERE nn.vec_id <> q.q_id),
      r AS (
        SELECT q_id, q_label, vec_id, label, cosine,
          CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id)
            AS BIGINT) AS rk
        FROM s QUALIFY rk <= 10),
      h AS (
        SELECT q_id, q_label, rk,
          CASE WHEN label = q_label THEN 1 ELSE 0 END AS rel,
          CAST(sum(CASE WHEN label = q_label THEN 1 ELSE 0 END) OVER (
            PARTITION BY q_id ORDER BY rk
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS hits_k
        FROM r),
      a AS (
        SELECT q_id, q_label, CAST(sum(rel) AS BIGINT) AS hits,
          CAST(sum(CASE WHEN rel = 1 THEN hits_k * 1000000 // rk ELSE 0 END) AS BIGINT)
            AS sum_prec
        FROM h GROUP BY q_id, q_label)
      SELECT q_id, q_label, hits,
        CAST(CASE WHEN hits = 0 THEN 0 ELSE sum_prec // hits END AS BIGINT) AS ap_ppm
      FROM a ORDER BY q_id
    """))

  /** Embedding-pipeline drift check: split each label's vectors into
    * two deterministic hash halves and report the cosine between the
    * halves' centroids. A healthy static corpus scores ≈ 1; a drop
    * flags ingestion drift or a label whose cluster is too diffuse for
    * centroid-based blocking (IVF, SemDedup). Centroid cosine is
    * computed on the per-dimension SUM vectors — cosine is invariant
    * to the positive 1/n scaling, so no fractional centroid ever
    * exists and the integer dot/norms are exact (q25's arithmetic).
    *
    * Scale shape: posexplode to (label, half, dim) cells — labels×2×64
    * rows out of the only corpus-sized shuffle — then a cell-level
    * pivot join and one cosine per label. */
  private val q243 = QueryDef(
    "q243_embedding_half_drift",
    (spark, dir) => {
      val e = Tables.embeddings(spark, dir)
        .select(col("label").cast("long").as("label"),
          (graft.operators.Sampling.keyHash(col("vec_id")) % 2).as("half"),
          posexplode(expr(
            "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 512 + 0.5) AS BIGINT))"))
            .as(Seq("dim", "q")))
      val cells = e.groupBy(col("label"), col("half"), col("dim"))
        .agg(sum(col("q")).as("sx"), count(lit(1)).as("n"))
      val a = cells.filter(col("half") === 0)
        .select(col("label"), col("dim"), col("sx").as("xa"), col("n").as("n_a"))
      val b = cells.filter(col("half") === 1)
        .select(col("label"), col("dim"), col("sx").as("xb"), col("n").as("n_b"))
      a.join(b, Seq("label", "dim"))
        .groupBy(col("label"))
        .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
          sum(col("xa") * col("xb")).as("dot"),
          sum(col("xa") * col("xa")).as("na"),
          sum(col("xb") * col("xb")).as("nb"))
        .select(col("label"), col("n_a"), col("n_b"),
          (col("dot").cast("double") /
            sqrt(col("na").cast("double") * col("nb").cast("double")))
            .as("centroid_cos"))
        .orderBy(col("label"))
    },
    Some(s"""
      WITH ex AS (
        SELECT CAST(label AS BIGINT) AS label,
          ((vec_id % 2147483648) * 2654435761) % 4294967296 % 2 AS half,
          CAST(d.i AS INTEGER) - 1 AS dim,
          ${duckQuant("embedding[d.i]")} AS q
        FROM embeddings, LATERAL (SELECT unnest(range(1, len(embedding)+1)) AS i) d),
      cells AS (
        SELECT label, half, dim, CAST(sum(q) AS BIGINT) AS sx,
          CAST(count(*) AS BIGINT) AS n
        FROM ex GROUP BY label, half, dim),
      j AS (
        SELECT a.label, a.n AS n_a, b.n AS n_b, a.sx AS xa, b.sx AS xb
        FROM cells a JOIN cells b ON a.label = b.label AND a.dim = b.dim
        WHERE a.half = 0 AND b.half = 1)
      SELECT label, CAST(max(n_a) AS BIGINT) AS n_a, CAST(max(n_b) AS BIGINT) AS n_b,
        CAST(CAST(sum(xa * xb) AS BIGINT) AS DOUBLE)
          / sqrt(CAST(sum(xa * xa) AS DOUBLE) * CAST(sum(xb * xb) AS DOUBLE))
          AS centroid_cos
      FROM j GROUP BY label ORDER BY label
    """))

  /** Precision/recall of sign-LSH candidate generation against exact
    * cosine ground truth, within labels: of the pairs sharing an
    * 8-plane bucket (the q50 candidate rule), how many are REAL
    * neighbors (cosine > 0.85), and how many real neighbors does the
    * bucket rule find at all? The missing half of q170's recall story:
    * recall says what survives, precision says what the candidate join
    * wastes — together they price the planes-per-band knob before a
    * 100 TB pairing run.
    *
    * Scale shape: truth needs pairwise cosines, so the universe is
    * label-blocked (the q24 bound) — O(Σ block²), never corpus² — and
    * both the candidate flag and the truth flag come from the same
    * pair scan. Kernels are the codegen'd quantized-cosine and
    * sign-LSH expressions. */
  private val q250 = QueryDef(
    "q250_lsh_pr_eval",
    (spark, dir) => {
      import graft.functions.expressions.{quantized_cosine, sign_lsh_bucket}
      val v = Tables.embeddings(spark, dir)
        .select(col("label").cast("long").as("label"), col("vec_id"),
          col("embedding"), sign_lsh_bucket(col("embedding"), 8).as("bucket"))
        // zero-quantized vectors have undefined cosine (kernel yields
        // NULL); drop them from the pair universe like the oracle does
        .filter(expr("aggregate(transform(embedding," +
          " x -> CAST(floor(CAST(x AS DOUBLE) * 512 + 0.5) AS BIGINT))," +
          " 0L, (a, x) -> a + x * x)") > 0L)
      val a = v.select(col("label"), col("vec_id").as("id_a"),
        col("embedding").as("emb_a"), col("bucket").as("b_a"))
      val b = v.select(col("label"), col("vec_id").as("id_b"),
        col("embedding").as("emb_b"), col("bucket").as("b_b"))
      a.join(b, Seq("label"))
        .filter(col("id_a") < col("id_b"))
        .select(col("label"),
          (quantized_cosine(col("emb_a"), col("emb_b")) > 0.85d).cast("long").as("t"),
          (col("b_a") === col("b_b")).cast("long").as("c"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_pairs"), sum(col("t")).as("n_true"),
          sum(col("c")).as("n_cand"), sum(col("t") * col("c")).as("tp"))
        .select(col("label"), col("n_pairs"), col("n_true"), col("n_cand"), col("tp"),
          expr("CASE WHEN n_cand = 0 THEN NULL ELSE CAST(tp * 1000000 DIV n_cand AS BIGINT) END")
            .as("precision_ppm"),
          expr("CASE WHEN n_true = 0 THEN NULL ELSE CAST(tp * 1000000 DIV n_true AS BIGINT) END")
            .as("recall_ppm"))
        .orderBy(col("label"))
    },
    Some(s"""
      WITH q AS (
        SELECT CAST(label AS BIGINT) AS label, vec_id,
          $duckQuantVec AS qv
        FROM embeddings),
      proj AS (
        SELECT vec_id, t.p,
          list_sum(list_transform(range(1, len(qv)+1),
            i -> qv[i] * ((t.p*2654435761 + (i-1)*40503) % 2001 - 1000))) AS pr
        FROM q CROSS JOIN (SELECT unnest(range(8)) AS p) t),
      bk AS (
        SELECT vec_id, CAST(sum(CASE WHEN pr > 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS bucket
        FROM proj GROUP BY vec_id),
      n AS (
        SELECT q.label, q.vec_id, qv, bucket,
          CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS nsq
        FROM q JOIN bk USING (vec_id)),
      pr AS (
        SELECT a.label,
          CASE WHEN CAST(CAST(list_sum(list_transform(range(1, len(a.qv)+1),
                 i -> a.qv[i] * b.qv[i])) AS BIGINT) AS DOUBLE)
               / sqrt(CAST(a.nsq AS DOUBLE) * CAST(b.nsq AS DOUBLE)) > 0.85
               THEN 1 ELSE 0 END AS t,
          CASE WHEN a.bucket = b.bucket THEN 1 ELSE 0 END AS c
        FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE a.nsq > 0 AND b.nsq > 0),
      g AS (
        SELECT label, CAST(count(*) AS BIGINT) AS n_pairs,
          CAST(sum(t) AS BIGINT) AS n_true, CAST(sum(c) AS BIGINT) AS n_cand,
          CAST(sum(t * c) AS BIGINT) AS tp
        FROM pr GROUP BY label)
      SELECT label, n_pairs, n_true, n_cand, tp,
        CASE WHEN n_cand = 0 THEN NULL ELSE CAST(tp * 1000000 // n_cand AS BIGINT) END
          AS precision_ppm,
        CASE WHEN n_true = 0 THEN NULL ELSE CAST(tp * 1000000 // n_true AS BIGINT) END
          AS recall_ppm
      FROM g ORDER BY label
    """))

  /** Int8 reconstruction-error histogram — closes q102's loop: decode
    * every code back to v̂ = mn + c·(mx−mn)/255 and histogram the error
    * RELATIVE TO THE QUANTIZATION STEP (rel_milli = |v̂−v|·255·1000 /
    * (mx−mn), range [0, 500] — 500 = half a step, the round-trip
    * worst case). A healthy affine quantizer puts all mass ≤ 500; any
    * spill past it means the codebook ranges drifted from the data.
    * Degenerate dimensions (mx = mn) reconstruct exactly and are
    * counted apart.
    *
    * Scale shape: the 64-dim min/max codebook broadcasts back onto one
    * scan ([[withCodebook]], shared with q102); the histogram is a
    * ≤12-cell hash agg. */
  private val q256 = QueryDef(
    "q256_int8_roundtrip_error",
    (spark, dir) => {
      withCodebook(spark, dir)
        .select(posexplode(col("embedding")).as(Seq("d", "v")),
          col("mns"), col("mxs"))
        .select(col("v").cast("double").as("v"),
          expr("mns[d]").as("mn"), expr("mxs[d]").as("mx"))
        .select(
          when(col("mx") === col("mn"), -1L)
            .otherwise(expr(
              """least(CAST(floor(
                   abs(mn + CAST(floor((v - mn) * 255.0D / (mx - mn) + 0.5D) AS DOUBLE)
                       * (mx - mn) / 255.0D - v)
                   * 255.0D * 1000.0D / (mx - mn) + 0.5D) AS BIGINT) DIV 50, 10)"""))
            .as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_elements"))
        .orderBy(col("bucket"))
    },
    Some("""
      WITH ex AS (
        SELECT CAST(d.i AS INTEGER) AS dim, CAST(embedding[d.i] AS DOUBLE) AS v
        FROM embeddings, LATERAL (SELECT unnest(range(1, len(embedding)+1)) AS i) d),
      st AS (SELECT dim, min(v) AS mn, max(v) AS mx FROM ex GROUP BY dim),
      e AS (
        SELECT CASE WHEN s.mx = s.mn THEN -1
          ELSE least(CAST(floor(
            abs(s.mn + CAST(floor((x.v - s.mn) * 255.0 / (s.mx - s.mn) + 0.5) AS DOUBLE)
                * (s.mx - s.mn) / 255.0 - x.v)
            * 255.0 * 1000.0 / (s.mx - s.mn) + 0.5) AS BIGINT) // 50, 10) END AS bucket
        FROM ex x JOIN st s ON x.dim = s.dim)
      SELECT CAST(bucket AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS n_elements
      FROM e GROUP BY bucket ORDER BY bucket
    """))

  /** kNN-graph reciprocity — the hubness diagnostic for embedding
    * spaces: in the directed kNN@5 graph (within label blocks), what
    * fraction of edges point BOTH ways? Low reciprocity means hub
    * vectors sit in everyone's neighbor list while their own lists
    * ignore the crowd — the classic high-dimensional failure that
    * poisons kNN classification and graph-based ANN. Per label:
    * directed edges, mutual edges, reciprocity ppm.
    *
    * Scale shape: the label-blocked pair universe (q24's bound) ranks
    * per source vector — a (label, src)-keyed window over block-sized
    * candidate lists; mutuality is one self-join on the reversed edge
    * key. */
  private val q263 = QueryDef(
    "q263_knn_reciprocity",
    (spark, dir) => {
      import graft.functions.expressions.quantized_cosine
      import org.apache.spark.sql.expressions.Window
      val v = Tables.embeddings(spark, dir)
        .select(col("label").cast("long").as("label"), col("vec_id"),
          col("embedding"))
        .filter(expr("aggregate(transform(embedding," +
          " x -> CAST(floor(CAST(x AS DOUBLE) * 512 + 0.5) AS BIGINT))," +
          " 0L, (a, x) -> a + x * x)") > 0L)
      val a = v.select(col("label"), col("vec_id").as("src"), col("embedding").as("ea"))
      val b = v.select(col("label"), col("vec_id").as("dst"), col("embedding").as("eb"))
      val w = Window.partitionBy(col("label"), col("src"))
        .orderBy(col("cos").desc, col("dst"))
      val edges = a.join(b, Seq("label"))
        .filter(col("src") =!= col("dst"))
        .withColumn("cos", quantized_cosine(col("ea"), col("eb")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("label"), col("src"), col("dst"))
      val mutual = edges
        .join(edges.select(col("label"), col("dst").as("src"), col("src").as("dst")),
          Seq("label", "src", "dst"), "left_semi")
      edges.groupBy(col("label")).agg(count(lit(1)).as("n_edges"))
        .join(mutual.groupBy(col("label")).agg(count(lit(1)).as("n_mutual")),
          Seq("label"))
        .select(col("label"), col("n_edges"), col("n_mutual"),
          expr("CAST(CAST(n_mutual AS DECIMAL(38,0)) * 1000000 DIV n_edges AS BIGINT)")
            .as("reciprocity_ppm"))
        .orderBy(col("label"))
    },
    Some(s"""
      WITH q AS (
        SELECT CAST(label AS BIGINT) AS label, vec_id,
          $duckQuantVec AS qv
        FROM embeddings),
      n AS (
        SELECT label, vec_id, qv,
          CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS nsq
        FROM q),
      nn AS (SELECT * FROM n WHERE nsq > 0),
      s AS (
        SELECT a.label, a.vec_id AS src, b.vec_id AS dst,
          CAST(CAST(list_sum(list_transform(range(1, len(a.qv) + 1),
                 i -> a.qv[i] * b.qv[i])) AS BIGINT) AS DOUBLE)
            / sqrt(CAST(a.nsq AS DOUBLE) * CAST(b.nsq AS DOUBLE)) AS cos
        FROM nn a JOIN nn b ON a.label = b.label AND a.vec_id <> b.vec_id),
      e AS (
        SELECT label, src, dst,
          row_number() OVER (PARTITION BY label, src ORDER BY cos DESC, dst) AS rk
        FROM s QUALIFY rk <= 5),
      m AS (
        SELECT e1.label, CAST(count(*) AS BIGINT) AS n_mutual
        FROM e e1 JOIN e e2
          ON e1.label = e2.label AND e1.src = e2.dst AND e1.dst = e2.src
        GROUP BY e1.label),
      t AS (
        SELECT label, CAST(count(*) AS BIGINT) AS n_edges FROM e GROUP BY label)
      SELECT t.label, t.n_edges, m.n_mutual,
        CAST(CAST(m.n_mutual AS HUGEINT) * 1000000 // t.n_edges AS BIGINT)
          AS reciprocity_ppm
      FROM t JOIN m ON t.label = m.label
      ORDER BY t.label
    """))

  def defs: Seq[QueryDef] = Seq(q102, q127, q139, q147, q226, q235, q243, q250, q256,
    q263)
}
