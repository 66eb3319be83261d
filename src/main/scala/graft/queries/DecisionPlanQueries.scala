package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.SqlMacros._

/** Round-6 batch 19: decision machinery — cost-sensitive threshold
  * choice, nearest-centroid classification, and the geometric
  * differential-privacy mechanism. All outputs integers / strings with
  * total ORDER BYs for the oracle gate.
  */
object DecisionPlanQueries extends QueryGroup {

  // ---------------------------------------------------------------- q597

  /** Cost-sensitive threshold chooser: sweep the length-gate threshold
    * over the document corpus against the stopword-judge "truth"
    * (q574's pair) and, for three cost regimes — balanced, false drops
    * 5× dearer, false keeps 5× dearer — report each regime's
    * loss-minimizing threshold and its confusion mix. ROC curves
    * (q407) show every trade-off at once; operations needs the ONE
    * threshold a given cost matrix implies, and the table shows how
    * hard it moves: pricier false drops push the gate down, pricier
    * false keeps push it up. The missing step between "we have a
    * classifier" and "we set the cutoff".
    *
    * Scale shape: one scan folds (n_chars-bucket × truth) cells (the
    * running variable has bounded resolution); every candidate
    * threshold's confusion counts come from cumulative windows over
    * those cells (value-resolution-bounded, sanctioned); the 3-regime
    * argmin is a grid-sized struct-min. */
  private val q597 = QueryDef(
    "q597_cost_threshold_chooser",
    (spark, dir) => {
      import graft.functions.expressions.{token_count, stopword_hits}
      import org.apache.spark.sql.expressions.Window
      val allStops = graft.text.TextAnalysis.Stopwords.flatMap(_._2)
      val spark0 = spark
      import spark0.implicits._
      val grid = Seq(("balanced", 1L, 1L), ("fn_heavy", 5L, 1L),
        ("fp_heavy", 1L, 5L)).toDF("regime", "c_false_drop", "c_false_keep")
      val cells = Tables.documents(spark, dir)
        .select(col("n_chars"),
          token_count(col("text")).cast("long").as("nt"),
          stopword_hits(col("text"), allStops).cast("long").as("sh"))
        .filter(col("nt") >= 1L)
        .select((col("n_chars") - col("n_chars") % 25L).as("thr"),
          when(col("sh") * 1000L >= col("nt") * 60L, 1L).otherwise(0L)
            .as("keep_truth"))
        .groupBy(col("thr"))
        .agg(count(lit(1)).as("n"), sum(col("keep_truth")).as("pos"))
      // keeping docs with n_chars >= t: cumulative from the top
      val byThr = Window.orderBy(col("thr").desc)
        .rowsBetween(Window.unboundedPreceding, 0)
      val conf = cells
        .withColumn("kept_pos", sum(col("pos")).over(byThr))
        .withColumn("kept_all", sum(col("n")).over(byThr))
        .withColumn("tot_pos", expr("sum(pos) OVER ()"))
        .withColumn("tot_all", expr("sum(n) OVER ()"))
        .select(col("thr"),
          expr("tot_pos - kept_pos").as("false_drops"),
          expr("kept_all - kept_pos").as("false_keeps"))
      conf.crossJoin(broadcast(grid))
        .select(col("regime"), col("c_false_drop"), col("c_false_keep"),
          col("thr"), col("false_drops"), col("false_keeps"),
          expr("c_false_drop * false_drops + c_false_keep * false_keeps")
            .as("loss"))
        .groupBy(col("regime"), col("c_false_drop"), col("c_false_keep"))
        .agg(min(struct(col("loss"), col("thr"), col("false_drops"),
          col("false_keeps"))).as("best"))
        .select(col("regime"), col("c_false_drop"), col("c_false_keep"),
          col("best.thr").as("best_threshold_chars"),
          col("best.loss").as("min_loss"),
          col("best.false_drops").as("false_drops"),
          col("best.false_keeps").as("false_keeps"))
        .orderBy(col("regime"))
    },
    Some {
      val allStops = graft.text.TextAnalysis.Stopwords
        .flatMap(_._2).map("'" + _ + "'").mkString(",")
      s"""
      WITH base AS (
        SELECT n_chars - n_chars % 25 AS thr,
          CASE WHEN CAST(len(list_filter(tk, t -> t IN ($allStops)))
            AS BIGINT) * 1000 >= CAST(len(tk) AS BIGINT) * 60
            THEN 1 ELSE 0 END AS keep_truth
        FROM (SELECT n_chars, $duckTokens AS tk
              FROM documents)
        WHERE len(tk) >= 1),
      cells AS (
        SELECT thr, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(keep_truth) AS BIGINT) AS pos
        FROM base GROUP BY thr),
      conf AS (
        SELECT thr,
          CAST(sum(pos) OVER () - sum(pos) OVER (ORDER BY thr DESC
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS false_drops,
          CAST(sum(n) OVER (ORDER BY thr DESC ROWS UNBOUNDED PRECEDING)
            - sum(pos) OVER (ORDER BY thr DESC ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS false_keeps
        FROM cells),
      grid(regime, c_false_drop, c_false_keep) AS (VALUES
        ('balanced', CAST(1 AS BIGINT), CAST(1 AS BIGINT)),
        ('fn_heavy', 5, 1), ('fp_heavy', 1, 5)),
      loss AS (
        SELECT regime, c_false_drop, c_false_keep, thr, false_drops,
          false_keeps,
          c_false_drop * false_drops + c_false_keep * false_keeps AS loss
        FROM conf CROSS JOIN grid),
      best AS (
        SELECT *, row_number() OVER (PARTITION BY regime
          ORDER BY loss, thr, false_drops, false_keeps) AS rk
        FROM loss)
      SELECT regime, c_false_drop, c_false_keep,
        thr AS best_threshold_chars, loss AS min_loss,
        false_drops, false_keeps
      FROM best WHERE rk = 1 ORDER BY regime
    """
    })

  // ---------------------------------------------------------------- q598

  /** Nearest-centroid classifier with a confusion census: learn one
    * centroid per label from a hash-split training half of the
    * embeddings (quantized integer means per dimension), classify the
    * held-out half by maximum integer dot product, and report the
    * per-label precision/recall plus overall accuracy. The simplest
    * embedding classifier there is — and therefore the honest baseline
    * every fancier model must beat, produced by two aggregates and one
    * broadcast join.
    *
    * Scale shape: centroids fold in one keyed aggregate to 10×64
    * integers and broadcast; classification is an in-row argmax over
    * the 10 centroid rows after a label-grid broadcast join (the dot
    * is the fused codegen'd long_dot kernel, promoted round 8);
    * the confusion census is one (true, predicted) fold. */
  private val q598 = QueryDef(
    "q598_nearest_centroid_confusion",
    (spark, dir) => {
      import graft.operators.Sampling
      val qv = "transform(embedding, x -> CAST(floor(x * 512 + 0.5) AS BIGINT))"
      val base = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("label").cast("long").as("label"),
          expr(qv).as("v"),
          (Sampling.keyHash(col("vec_id")) >= 2147483648L).cast("long")
            .as("is_test"))
      val centroids = base.filter(col("is_test") === 0L)
        .select(col("label"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy(col("label"), col("dim"))
        .agg(expr("sum(x) div count(1)").as("m"))
        .groupBy(col("label"))
        .agg(expr("transform(array_sort(collect_list(struct(dim, m))), s -> s.m)")
          .as("cv"))
        .select(col("label").as("clabel"), col("cv"))
      val scored = base.filter(col("is_test") === 1L)
        .join(broadcast(centroids))
        .select(col("vec_id"), col("label"), col("clabel"),
          graft.functions.expressions.long_dot(col("v"), col("cv")).as("dot"))
        .groupBy(col("vec_id"), col("label"))
        .agg(max(struct(col("dot"), (-col("clabel")).as("neg"),
          col("clabel"))).as("best"))
        .select(col("label"), col("best.clabel").as("pred"))
        .persist()
      val perLabel = scored.groupBy(col("label")).agg(
        count(lit(1)).as("n_true"),
        sum(when(col("pred") === col("label"), 1L).otherwise(0L)).as("n_hit"))
      val perPred = scored.groupBy(col("pred")).agg(count(lit(1)).as("n_pred"))
      perLabel.join(perPred, col("label") === col("pred"), "left")
        .select(col("label"), col("n_true"),
          coalesce(col("n_pred"), lit(0L)).as("n_pred"), col("n_hit"),
          expr("n_hit * 1000000 div n_true").as("recall_ppm"),
          expr("n_hit * 1000000 div greatest(n_pred, 1)").as("precision_ppm"))
        .orderBy(col("label"))
    },
    Some(s"""
      WITH base AS (
        SELECT vec_id, CAST(label AS BIGINT) AS label,
          $duckQuantVec
            AS v,
          CASE WHEN ((vec_id % 2147483648) * 2654435761) % 4294967296
            >= 2147483648 THEN 1 ELSE 0 END AS is_test
        FROM embeddings),
      cent AS (
        SELECT label AS clabel, list(m ORDER BY dim) AS cv
        FROM (
          SELECT label, dim, CAST(sum(x) // count(*) AS BIGINT) AS m
          FROM (SELECT label, unnest(v) AS x,
                  generate_subscripts(v, 1) AS dim
                FROM base WHERE is_test = 0)
          GROUP BY label, dim)
        GROUP BY label),
      scored AS (
        SELECT b.vec_id, b.label, c.clabel,
          CAST(list_sum(list_transform(range(1, 65), t ->
            b.v[CAST(t AS INTEGER)] * c.cv[CAST(t AS INTEGER)]))
            AS BIGINT) AS dot
        FROM base b CROSS JOIN cent c WHERE b.is_test = 1),
      pred AS (
        SELECT label, clabel AS pred
        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                ORDER BY dot DESC, clabel) AS rk
              FROM scored)
        WHERE rk = 1),
      pl AS (
        SELECT label, CAST(count(*) AS BIGINT) AS n_true,
          CAST(sum(CASE WHEN pred = label THEN 1 ELSE 0 END) AS BIGINT)
            AS n_hit
        FROM pred GROUP BY label),
      pp AS (SELECT pred, CAST(count(*) AS BIGINT) AS n_pred
             FROM pred GROUP BY pred)
      SELECT pl.label, pl.n_true,
        CAST(coalesce(pp.n_pred, 0) AS BIGINT) AS n_pred, pl.n_hit,
        CAST(pl.n_hit * 1000000 // pl.n_true AS BIGINT) AS recall_ppm,
        CAST(pl.n_hit * 1000000 // greatest(coalesce(pp.n_pred, 0), 1)
          AS BIGINT) AS precision_ppm
      FROM pl LEFT JOIN pp ON pp.pred = pl.label
      ORDER BY pl.label
    """))

  // ---------------------------------------------------------------- q599

  /** Geometric-mechanism differential-privacy utility audit: publish
    * per-month order counts under the discrete Laplace (two-sided
    * geometric) mechanism with α = 1/2 and 1/4 (ε = ln 2, ln 4) —
    * noise drawn EXACTLY by inverse-CDF on hash bits via bit-length
    * (geometric(1−α) magnitudes are floor(−log_{1/α} u), computable
    * with no libm) — and price the privacy: mean/max absolute count
    * error per ε. The ε-utility curve every DP release negotiates,
    * with noise that is deterministic, integer, and replayable in any
    * engine.
    *
    * Scale shape: counts fold to ~80 month cells; noise is per-cell
    * bit arithmetic; the readout aggregates the cell grid. */
  private val q599 = QueryDef(
    "q599_dp_geometric_utility",
    (spark, dir) => {
      import graft.operators.Sampling
      val spark0 = spark
      import spark0.implicits._
      // alpha_den = 2 -> alpha 1/2 (eps ln2); 4 -> alpha 1/4 (eps ln4)
      val grid = Seq(2L, 4L).toDF("alpha_den")
      val cells = Tables.orders(spark, dir)
        .groupBy((year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
          .cast("long").as("ym"))
        .agg(count(lit(1)).as("true_n"))
        .withColumn("h", Sampling.keyHash(col("ym"), 2246822519L))
        // u in [1, 2^20]: bit-length gives floor(log2 u) exactly
        .withColumn("u", expr("h div 4096 + 1"))
        .withColumn("sgn", expr("CASE WHEN h % 2 = 0 THEN 1 ELSE -1 END"))
      cells.crossJoin(broadcast(grid))
        // magnitude = floor(-log_{1/alpha}(u / 2^20)) = floor((20 - bitlen(u)) / log2(1/alpha))
        .withColumn("mag", expr(
          "greatest(20 - length(bin(u)), 0) div CASE WHEN alpha_den = 2 THEN 1 ELSE 2 END"))
        .withColumn("noisy_n", expr("greatest(true_n + sgn * mag, 0)"))
        .groupBy(col("alpha_den"))
        .agg(count(lit(1)).as("n_groups"),
          sum(expr("abs(noisy_n - true_n)")).as("total_abs_err"),
          max(expr("abs(noisy_n - true_n)")).as("max_abs_err"),
          expr("sum(abs(noisy_n - true_n) * 1000000 div true_n) div count(1)")
            .as("mean_rel_err_ppm"))
        .orderBy(col("alpha_den"))
    },
    Some("""
      WITH cells AS (
        SELECT year(o_orderdate) * 100 + month(o_orderdate) AS ym,
          CAST(count(*) AS BIGINT) AS true_n
        FROM orders GROUP BY 1),
      h AS (
        SELECT ym, true_n,
          ((ym % 2147483648) * 2246822519) % 4294967296 AS hv
        FROM cells),
      noise AS (
        SELECT ym, true_n, hv // 4096 + 1 AS u,
          CASE WHEN hv % 2 = 0 THEN 1 ELSE -1 END AS sgn
        FROM h),
      grid(alpha_den) AS (VALUES (CAST(2 AS BIGINT)), (CAST(4 AS BIGINT))),
      noisy AS (
        SELECT alpha_den, ym, true_n,
          greatest(true_n + sgn * (greatest(20 - length(bin(u)), 0)
            // CASE WHEN alpha_den = 2 THEN 1 ELSE 2 END), 0) AS noisy_n
        FROM noise CROSS JOIN grid)
      SELECT alpha_den, CAST(count(*) AS BIGINT) AS n_groups,
        CAST(sum(abs(noisy_n - true_n)) AS BIGINT) AS total_abs_err,
        CAST(max(abs(noisy_n - true_n)) AS BIGINT) AS max_abs_err,
        CAST(sum(abs(noisy_n - true_n) * 1000000 // true_n) // count(*)
          AS BIGINT) AS mean_rel_err_ppm
      FROM noisy GROUP BY alpha_den ORDER BY alpha_den
    """))

  def defs: Seq[QueryDef] = Seq(q597, q598, q599)
}
