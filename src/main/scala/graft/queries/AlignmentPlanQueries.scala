package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.SqlMacros._

/** Round-7 batch 9: alignment and dataset-shift analytics — positional
  * shingle diagonal detection (contiguous copied-span evidence), BBSE
  * label-shift estimation (exact 2×2 confusion inversion), acquisition-
  * function agreement for active learning, and a hardness-pruning
  * class-drift sweep. All exact integers with total ORDER BYs for the
  * oracle gate.
  */
object AlignmentPlanQueries extends QueryGroup {

  // ---------------------------------------------------------------- q624

  /** Aligned-span (diagonal) detection: two documents sharing k word
    * 3-grams at the SAME positional offset hold a near-contiguous
    * copied span of ≈ k+2 words — the quote/plagiarism evidence that
    * set-based Jaccard (q23) and containment (q60) cannot localize,
    * because they discard positions. Candidate pairs come only from
    * RARE shingles (document frequency 2..4 — the bucket-cap
    * discipline: a boilerplate 3-gram in 10⁴ docs would emit 10⁸
    * pairs); per pair the best offset's mass is the span proxy, and
    * the census buckets pairs by log₂(mass).
    *
    * Scale shape: the pair join is digest-grouped AND df-capped (≤
    * C(4,2) pairs per rare shingle — linear in corpus, never
    * all-pairs); per-pair offset aggregation is keyed, bounded by the
    * matched-shingle count; the census lands on ≤ ~20 log buckets.
    *
    * SCALING (round-12 probe, solo): 1.31 s at sf0.01 → 2.21 s at
    * sf0.1 (10× data, 1.7× time ≈ exponent 0.23) — the shingle explode
    * grows linearly with the corpus; the df-capped pair set grows
    * slower, so the slope stays well under linear. Round-12 moved the
    * gram digest from md5 to the codegen'd 64-bit xxhash64 (the scale
    * design this scaladoc always named: 8-byte keys shuffle instead of
    * 32-char hex, and the hash itself is ~10× cheaper) — 3.7 → 2.2 s
    * solo at sf0.1; the oracle keeps md5, digests are internal. Gate
    * caveat (r13, ADVICE): the two engines no longer share a
    * collision-equivalence relation on grams — a 64-bit xxhash64
    * collision among corpus 3-grams (odds ~n²/2⁶⁵) would perturb the
    * df-capped rare-gram sets and diverge the census; accepted as
    * negligible at any realistic corpus gram count vs the 10× kernel
    * win, and the gate would fail loudly, not silently. */
  private val q624 = QueryDef(
    "q624_aligned_span_census",
    (spark, dir) => {
      val sh = Tables.documents(spark, dir)
        .select(col("doc_id"),
          expr("filter(split(text, ' '), t -> t != '')").as("tk"))
        .filter(size(col("tk")) >= 3)
        .select(col("doc_id"), explode(expr(
          """transform(sequence(1, size(tk) - 2), i ->
               named_struct('pos', CAST(i AS BIGINT),
                 'g', xxhash64(tk[i - 1], tk[i], tk[i + 1])))"""))
          .as("s"))
        .select(col("doc_id"), col("s.pos").as("pos"), col("s.g").as("g"))
      val rare = sh.groupBy(col("g"))
        .agg(countDistinct(col("doc_id")).as("df"))
        .filter(col("df") >= 2L && col("df") <= 4L)
        .select(col("g"))
      val shr = sh.join(rare, Seq("g"))
      val mass = shr.as("a")
        .join(shr.as("b").withColumnRenamed("doc_id", "doc_b")
          .withColumnRenamed("pos", "pos_b"), Seq("g"))
        .filter(col("doc_id") < col("doc_b"))
        .groupBy(col("doc_id"), col("doc_b"),
          (col("pos") - col("pos_b")).as("off"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"), col("doc_b"))
        .agg(max(col("c")).as("best_mass"))
      mass.groupBy(expr("CAST(length(bin(best_mass)) - 1 AS BIGINT)")
          .as("log2_mass"))
        .agg(count(lit(1)).as("n_pairs"), max(col("best_mass")).as("max_mass"))
        .orderBy(col("log2_mass"))
    },
    Some(s"""
      WITH tok AS (
        SELECT doc_id, $duckTokens AS tk
        FROM documents),
      sh AS (
        SELECT doc_id, CAST(p.i AS BIGINT) AS pos,
          md5(tk[p.i] || ' ' || tk[p.i + 1] || ' ' || tk[p.i + 2]) AS g
        FROM tok, LATERAL (SELECT unnest(range(1, len(tk) - 1)) AS i) p
        WHERE len(tk) >= 3),
      rare AS (
        SELECT g FROM sh GROUP BY g
        HAVING count(DISTINCT doc_id) BETWEEN 2 AND 4),
      shr AS (SELECT sh.* FROM sh JOIN rare USING (g)),
      offs AS (
        SELECT a.doc_id AS da, b.doc_id AS db, a.pos - b.pos AS off,
          CAST(count(*) AS BIGINT) AS c
        FROM shr a JOIN shr b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3),
      mass AS (
        SELECT da, db, CAST(max(c) AS BIGINT) AS best_mass
        FROM offs GROUP BY da, db)
      SELECT CAST(length(bin(best_mass)) - 1 AS BIGINT) AS log2_mass,
        CAST(count(*) AS BIGINT) AS n_pairs,
        CAST(max(best_mass) AS BIGINT) AS max_mass
      FROM mass GROUP BY 1 ORDER BY log2_mass
    """))

  // ---------------------------------------------------------------- q625

  /** Black-box shift estimation (BBSE, Lipton et al.): when test-time
    * label priors drift but P(x|y) holds, the test prior solves
    * C·π = p̂ where C is the classifier's confusion matrix on held-out
    * TRAIN data and p̂ its predicted-label distribution on TEST. With
    * binary coarse labels (label ≥ 5) the inversion is the exact 2×2
    * adjugate — no linear-algebra library, all ppm integers. The test
    * set here is CONSTRUCTED with a known shift (positives hash-halved)
    * so the estimate is auditable against the true prior it must
    * recover; the classifier is the 2-centroid nearest-mean (q598's
    * family) built on the train half only.
    *
    * Scale shape: centroids are per-(class, dim) aggregates (2×64
    * cells) pivoted to one broadcast row; classification is one
    * codegen'd fold per vector; confusion and p̂ are 4-cell and 2-cell
    * aggregates; the inversion is one-row arithmetic. */
  private val q625 = QueryDef(
    "q625_bbse_label_shift",
    (spark, dir) => {
      val base = Tables.embeddings(spark, dir)
        .select(col("vec_id"),
          (col("label").cast("long") >= 5L).cast("long").as("y"),
          expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 512 + 0.5) AS BIGINT))")
            .as("qv"),
          (graft.operators.Sampling.keyHash(col("vec_id")) % 2L).as("half"),
          (graft.operators.Sampling.keyHash(col("vec_id"), 2246822519L) % 10L)
            .as("h2"))
      val train = base.filter(col("half") === 0L)
      // constructed shift: drop half the TEST positives
      val test = base.filter(col("half") === 1L)
        .filter(col("y") === 0L || col("h2") < 5L)
      val cents = train
        .select(col("y"), posexplode(col("qv")).as(Seq("dim", "q")))
        .groupBy(col("y"), col("dim"))
        .agg(expr("sum(q) div count(1)").as("c"))
        .groupBy(col("y"))
        .agg(expr("transform(sort_array(collect_list(named_struct('dim', dim, 'c', c))), s -> s.c)")
          .as("carr"))
      val centRow = cents.agg(
        max(when(col("y") === 0L, col("carr"))).as("c0"),
        max(when(col("y") === 1L, col("carr"))).as("c1"))
      def classify(df: org.apache.spark.sql.DataFrame) = df
        .crossJoin(broadcast(centRow))
        .withColumn("d0", expr(
          "aggregate(zip_with(qv, c0, (a, b) -> (a - b) * (a - b)), 0L, (s, x) -> s + x)"))
        .withColumn("d1", expr(
          "aggregate(zip_with(qv, c1, (a, b) -> (a - b) * (a - b)), 0L, (s, x) -> s + x)"))
        .withColumn("pred", when(col("d1") < col("d0"), 1L).otherwise(0L))
      val conf = classify(train).groupBy(col("y"))
        .agg(count(lit(1)).as("n"), sum(col("pred")).as("n_pred1"))
        .agg(
          max(when(col("y") === 0L, expr("(n - n_pred1) * 1000000 div n"))).as("c00"),
          max(when(col("y") === 0L, expr("n_pred1 * 1000000 div n"))).as("c10"),
          max(when(col("y") === 1L, expr("(n - n_pred1) * 1000000 div n"))).as("c01"),
          max(when(col("y") === 1L, expr("n_pred1 * 1000000 div n"))).as("c11"))
      val phat = classify(test).agg(count(lit(1)).as("n_test"),
        expr("sum(pred) * 1000000 div count(1)").as("p1"),
        expr("sum(y) * 1000000 div count(1)").as("true_prior1_ppm"))
      conf.crossJoin(broadcast(phat))
        .withColumn("p0", lit(1000000L) - col("p1"))
        // π = C⁻¹·p̂ via the 2×2 adjugate, everything in ppm
        .withColumn("det", expr("c00 * c11 - c01 * c10")) // ppm²
        .select(col("n_test"),
          expr("(c11 * p0 - c01 * p1) * 1000000 div det").as("est_prior0_ppm"),
          expr("(c00 * p1 - c10 * p0) * 1000000 div det").as("est_prior1_ppm"),
          col("true_prior1_ppm"),
          expr("det div 1000").as("det_milli"))
        .select(col("n_test"), col("est_prior0_ppm"), col("est_prior1_ppm"),
          col("true_prior1_ppm"),
          abs(col("est_prior1_ppm") - col("true_prior1_ppm")).as("abs_err_ppm"),
          col("det_milli"))
    },
    Some(s"""
      WITH base AS (
        SELECT vec_id,
          CAST(CAST(label AS BIGINT) >= 5 AS BIGINT) AS y,
          $duckQuantVec AS qv,
          (vec_id % 2147483648) * 2654435761 % 4294967296 % 2 AS half,
          (vec_id % 2147483648) * 2246822519 % 4294967296 % 10 AS h2
        FROM embeddings),
      train AS (SELECT * FROM base WHERE half = 0),
      test AS (SELECT * FROM base WHERE half = 1 AND (y = 0 OR h2 < 5)),
      cd AS (
        SELECT y, d.i AS dim, CAST(sum(qv[d.i]) // count(*) AS BIGINT) AS c
        FROM train, LATERAL (SELECT unnest(range(1, len(qv) + 1)) AS i) d
        GROUP BY 1, 2),
      cents AS (
        SELECT y, list(c ORDER BY dim) AS carr FROM cd GROUP BY y),
      cr AS (
        SELECT max(CASE WHEN y = 0 THEN carr END) AS c0,
          max(CASE WHEN y = 1 THEN carr END) AS c1
        FROM cents),
      cls_train AS (
        SELECT t.y,
          CASE WHEN list_sum(list_transform(range(1, len(qv) + 1),
                 i -> (qv[i] - c1[i]) * (qv[i] - c1[i])))
             < list_sum(list_transform(range(1, len(qv) + 1),
                 i -> (qv[i] - c0[i]) * (qv[i] - c0[i])))
          THEN 1 ELSE 0 END AS pred
        FROM train t CROSS JOIN cr),
      conf AS (
        SELECT
          max(CASE WHEN y = 0 THEN (n - n1) * 1000000 // n END) AS c00,
          max(CASE WHEN y = 0 THEN n1 * 1000000 // n END) AS c10,
          max(CASE WHEN y = 1 THEN (n - n1) * 1000000 // n END) AS c01,
          max(CASE WHEN y = 1 THEN n1 * 1000000 // n END) AS c11
        FROM (SELECT y, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(pred) AS BIGINT) AS n1
              FROM cls_train GROUP BY y)),
      cls_test AS (
        SELECT t.y,
          CASE WHEN list_sum(list_transform(range(1, len(qv) + 1),
                 i -> (qv[i] - c1[i]) * (qv[i] - c1[i])))
             < list_sum(list_transform(range(1, len(qv) + 1),
                 i -> (qv[i] - c0[i]) * (qv[i] - c0[i])))
          THEN 1 ELSE 0 END AS pred
        FROM test t CROSS JOIN cr),
      ph AS (
        SELECT CAST(count(*) AS BIGINT) AS n_test,
          CAST(sum(pred) * 1000000 // count(*) AS BIGINT) AS p1,
          CAST(sum(y) * 1000000 // count(*) AS BIGINT) AS true_prior1_ppm
        FROM cls_test),
      sol AS (
        SELECT n_test, p1, 1000000 - p1 AS p0, true_prior1_ppm,
          CAST(c00 AS HUGEINT) * c11 - CAST(c01 AS HUGEINT) * c10 AS det,
          c00, c01, c10, c11
        FROM conf CROSS JOIN ph)
      SELECT n_test,
        CAST((CAST(c11 AS HUGEINT) * p0 - CAST(c01 AS HUGEINT) * p1) * 1000000
          // det AS BIGINT) AS est_prior0_ppm,
        CAST((CAST(c00 AS HUGEINT) * p1 - CAST(c10 AS HUGEINT) * p0) * 1000000
          // det AS BIGINT) AS est_prior1_ppm,
        true_prior1_ppm,
        CAST(abs((CAST(c00 AS HUGEINT) * p1 - CAST(c10 AS HUGEINT) * p0)
          * 1000000 // det - true_prior1_ppm) AS BIGINT) AS abs_err_ppm,
        CAST(det // 1000 AS BIGINT) AS det_milli
      FROM sol
    """))

  /** The 512-quantized embeddings `base(vec_id, label, qv)` and each
    * label's integer centroid `(label, carr)`, carr the per-dimension
    * mean (sum div count) in dimension order: a (label, dim) aggregate
    * folded to one row per label. q626 scores margins against every
    * centroid, q627 distances to the own one. */
  private def labelCentroids(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 512 + 0.5) AS BIGINT))")
          .as("qv"))
    val cents = base
      .select(col("label"), posexplode(col("qv")).as(Seq("dim", "q")))
      .groupBy(col("label"), col("dim"))
      .agg(expr("sum(q) div count(1)").as("c"))
      .groupBy(col("label"))
      .agg(expr("transform(sort_array(collect_list(named_struct('dim', dim, 'c', c))), s -> s.c)")
        .as("carr"))
    (base, cents)
  }

  // ---------------------------------------------------------------- q626

  /** Active-learning acquisition agreement: the two classical
    * uncertainty scores — MARGIN (d₂ − d₁ between the two nearest
    * label centroids, small = ambiguous) and LEAST-CONFIDENCE (d₁ to
    * the nearest centroid, large = unfamiliar) — often select very
    * different batches: margin hunts boundary points, LC hunts
    * outliers. The audit takes each function's top-50 acquisition set
    * via bounded heaps and reports the overlap and each set's label
    * diversity — the "are my acquisition functions redundant" check
    * run before paying for labels.
    *
    * Scale shape: centroids are (label, dim) aggregates pivoted to one
    * broadcast row; d₁/d₂ come from one sorted-distances fold per
    * vector; both top-50s are [[graft.functions.TopKPairs]] bounded
    * heaps (≤50 rows cross the shuffle); the overlap is array
    * arithmetic on one row. */
  private val q626 = QueryDef(
    "q626_acquisition_overlap",
    (spark, dir) => {
      val (base, labelCents) = labelCentroids(spark, dir)
      val cents = labelCents
        .agg(expr("sort_array(collect_list(named_struct('label', label, 'carr', carr)))")
          .as("cents"))
      val scored = base.crossJoin(broadcast(cents))
        .withColumn("ds", expr(
          """array_sort(transform(cents, ct ->
               aggregate(zip_with(qv, ct.carr, (a, b) -> (a - b) * (a - b)),
                 0L, (s, x) -> s + x)))"""))
        .select(col("vec_id"), col("label"),
          expr("ds[0]").as("d1"), expr("ds[1] - ds[0]").as("margin"))
      val tops = scored.agg(
        graft.functions.TopKAggregate.topk_pairs(
          -col("margin").cast("double"), col("vec_id"), 50).as("top_margin"),
        graft.functions.TopKAggregate.topk_pairs(
          col("d1").cast("double"), col("vec_id"), 50).as("top_lc"))
        .select(expr("transform(top_margin, e -> e.id)").as("ids_m"),
          expr("transform(top_lc, e -> e.id)").as("ids_l"))
      val overlap = tops.select(col("ids_m"), col("ids_l"),
        expr("CAST(size(array_intersect(ids_m, ids_l)) AS BIGINT)").as("n_overlap"))
      val lbl = base.select(col("vec_id"), col("label"))
      val picked = overlap
        .select(explode(expr(
          """array(named_struct('acq', 'margin', 'ids', ids_m, 'n_overlap', n_overlap),
                   named_struct('acq', 'least_confidence', 'ids', ids_l, 'n_overlap', n_overlap))"""))
          .as("s"))
        .select(col("s.acq").as("acq"), explode(col("s.ids")).as("vec_id"),
          col("s.n_overlap").as("n_overlap"))
      // the ≤100-row picked set broadcasts onto the label lookup — never
      // the other way around
      broadcast(picked).join(lbl, Seq("vec_id"))
        .groupBy(col("acq"))
        .agg(count(lit(1)).as("k"), max(col("n_overlap")).as("n_overlap"),
          countDistinct(col("label")).as("n_labels"))
        .select(col("acq"), col("k"), col("n_overlap"),
          expr("n_overlap * 1000000 div k").as("overlap_ppm"), col("n_labels"))
        .orderBy(col("acq"))
    },
    Some(s"""
      WITH base AS (
        SELECT vec_id, CAST(label AS BIGINT) AS label,
          $duckQuantVec AS qv
        FROM embeddings),
      cd AS (
        SELECT label, d.i AS dim, CAST(sum(qv[d.i]) // count(*) AS BIGINT) AS c
        FROM base, LATERAL (SELECT unnest(range(1, len(qv) + 1)) AS i) d
        GROUP BY 1, 2),
      cents AS (SELECT label, list(c ORDER BY dim) AS carr FROM cd GROUP BY label),
      scored AS (
        SELECT b.vec_id, b.label, ds[1] AS d1, ds[2] - ds[1] AS margin
        FROM (
          SELECT b.vec_id, b.label,
            list_sort(list_transform(
              (SELECT list(carr ORDER BY label) FROM cents), ct ->
                CAST(list_sum(list_transform(range(1, len(b.qv) + 1),
                  i -> (b.qv[i] - ct[i]) * (b.qv[i] - ct[i]))) AS BIGINT))) AS ds
          FROM base b) b),
      tm AS (
        SELECT vec_id FROM scored
        ORDER BY margin, vec_id LIMIT 50),
      tl AS (
        SELECT vec_id FROM scored
        ORDER BY d1 DESC, vec_id LIMIT 50),
      ov AS (
        SELECT CAST(count(*) AS BIGINT) AS n_overlap
        FROM tm JOIN tl USING (vec_id)),
      g AS (
        SELECT 'margin' AS acq, CAST(count(*) AS BIGINT) AS k,
          CAST(count(DISTINCT label) AS BIGINT) AS n_labels
        FROM tm JOIN base USING (vec_id)
        UNION ALL
        SELECT 'least_confidence', CAST(count(*) AS BIGINT),
          CAST(count(DISTINCT label) AS BIGINT)
        FROM tl JOIN base USING (vec_id))
      SELECT acq, k, n_overlap,
        CAST(n_overlap * 1000000 // k AS BIGINT) AS overlap_ppm, n_labels
      FROM g CROSS JOIN ov ORDER BY acq
    """))

  // ---------------------------------------------------------------- q627

  /** Hardness-pruning class-drift sweep: pruning "easy" examples by a
    * hardness proxy (distance to own label centroid — the EL2N/
    * forgetting-score stand-in computable without a model) silently
    * reshapes the CLASS distribution, because classes differ in
    * spread. Per keep-budget ∈ {50%, 70%, 90%} (keeping the HARDEST,
    * as the pruning literature prescribes at these rates): per-class
    * retention and the total-variation distance between the retained
    * and original label distributions — the imbalance bill a naive
    * global threshold quietly runs up.
    *
    * Scale shape: own-centroid distance is a broadcast 10-row join +
    * codegen'd fold; the global threshold comes from the quantized
    * distance histogram (value-resolution cumulative, the q64 class);
    * the readout is 3 budget rows. */
  private val q627 = QueryDef(
    "q627_pruning_class_drift",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val spark0 = spark
      import spark0.implicits._
      val grid = Seq(500L, 700L, 900L).toDF("keep_permille")
      val (base, cents) = labelCentroids(spark, dir)
      val dist = base.join(broadcast(cents), Seq("label"))
        .select(col("vec_id"), col("label"),
          expr("aggregate(zip_with(qv, carr, (a, b) -> (a - b) * (a - b)), 0L, (s, x) -> s + x)")
            .as("d"))
        .persist()
      val hist = dist.groupBy(col("d")).agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(Window.orderBy(col("d"))
          .rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("n", expr("sum(c) OVER ()"))
      // keep the HARDEST p‰: drop everything below the (1−p) quantile
      val thr = hist.crossJoin(broadcast(grid))
        .filter(expr("cum * 1000 >= (1000 - keep_permille) * n"))
        .groupBy(col("keep_permille")).agg(min(col("d")).as("d_thr"))
      val orig = dist.groupBy(col("label")).agg(count(lit(1)).as("n_l"))
        .crossJoin(broadcast(dist.agg(count(lit(1)).as("n"))))
      val kept = dist.crossJoin(broadcast(thr))
        .filter(col("d") > col("d_thr"))
        .groupBy(col("keep_permille"), col("label")).agg(count(lit(1)).as("k_l"))
      val cellTv = orig.join(kept, Seq("label"))
        .withColumn("k", sum(col("k_l")).over(
          Window.partitionBy(col("keep_permille"))))
        .select(col("keep_permille"), col("label"),
          expr("abs(k_l * 1000000 div k - n_l * 1000000 div n)").as("tv_cell"),
          expr("k_l * 1000000 div n_l").as("retention_ppm"), col("k"))
      cellTv.groupBy(col("keep_permille"))
        .agg(max(col("k")).as("n_kept"),
          expr("sum(tv_cell) div 2").as("tv_ppm"),
          min(col("retention_ppm")).as("min_class_retention_ppm"),
          max(col("retention_ppm")).as("max_class_retention_ppm"))
        .orderBy(col("keep_permille"))
    },
    Some(s"""
      WITH grid(keep_permille) AS (VALUES (CAST(500 AS BIGINT)),
        (CAST(700 AS BIGINT)), (CAST(900 AS BIGINT))),
      base AS (
        SELECT vec_id, CAST(label AS BIGINT) AS label,
          $duckQuantVec AS qv
        FROM embeddings),
      cd AS (
        SELECT label, d.i AS dim, CAST(sum(qv[d.i]) // count(*) AS BIGINT) AS c
        FROM base, LATERAL (SELECT unnest(range(1, len(qv) + 1)) AS i) d
        GROUP BY 1, 2),
      cents AS (SELECT label, list(c ORDER BY dim) AS carr FROM cd GROUP BY label),
      dist AS (
        SELECT b.vec_id, b.label,
          CAST(list_sum(list_transform(range(1, len(b.qv) + 1),
            i -> (b.qv[i] - ct.carr[i]) * (b.qv[i] - ct.carr[i]))) AS BIGINT)
            AS d
        FROM base b JOIN cents ct USING (label)),
      hist AS (
        SELECT d, sum(c) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS cum,
          sum(c) OVER () AS n
        FROM (SELECT d, CAST(count(*) AS BIGINT) AS c FROM dist GROUP BY d)),
      thr AS (
        SELECT keep_permille, CAST(min(d) AS BIGINT) AS d_thr
        FROM hist CROSS JOIN grid
        WHERE cum * 1000 >= (1000 - keep_permille) * n
        GROUP BY keep_permille),
      orig AS (
        SELECT label, CAST(count(*) AS BIGINT) AS n_l,
          CAST((SELECT count(*) FROM dist) AS BIGINT) AS n
        FROM dist GROUP BY label),
      kept AS (
        SELECT keep_permille, label, CAST(count(*) AS BIGINT) AS k_l
        FROM dist CROSS JOIN thr
        WHERE d > d_thr GROUP BY 1, 2),
      cells AS (
        SELECT k.keep_permille, k.label,
          CAST(sum(k.k_l) OVER (PARTITION BY k.keep_permille) AS BIGINT) AS k,
          k.k_l, o.n_l, o.n
        FROM kept k JOIN orig o USING (label))
      SELECT keep_permille, CAST(max(k) AS BIGINT) AS n_kept,
        CAST(sum(abs(k_l * 1000000 // k - n_l * 1000000 // n)) // 2 AS BIGINT)
          AS tv_ppm,
        CAST(min(k_l * 1000000 // n_l) AS BIGINT) AS min_class_retention_ppm,
        CAST(max(k_l * 1000000 // n_l) AS BIGINT) AS max_class_retention_ppm
      FROM cells GROUP BY keep_permille ORDER BY keep_permille
    """))

  override def defs: Seq[QueryDef] = Seq(q624, q625, q626, q627)
}
