package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.SqlMacros._

/** Round-7 batch 3: training-batch planning — critical batch size from
  * the gradient-noise-scale identity, fp16 loss-scale range audit, and
  * an inverse-sqrt learning-rate schedule plan over the measured corpus.
  * All exact integers (micro-quantization + decimal(38,0) guards +
  * ±1-corrected isqrt) with total ORDER BYs for the oracle gate.
  */
object BatchPlanQueries extends QueryGroup {

  /** Exact integer sqrt both engines agree on (FidelityPlanQueries
    * precedent): floor(libm sqrt) is within ±1 for v < 2⁵², one CASE
    * fix-up makes it exact. */
  // ---------------------------------------------------------------- q605

  /** Critical batch size by the gradient-noise-scale identity
    * (McCandlish et al.): B_crit ≈ tr(Σ)/‖G‖², the batch size at which
    * gradient noise stops paying for parallelism. With per-example
    * "gradients" proxied by the embedding vectors, both terms reduce to
    * per-dimension sums: tr(Σ) = Σ_d (n·Σq² − (Σq)²)/n² and ‖G‖² =
    * Σ_d (Σq)²/n² — the n² cancels, so B_crit = (n·ΣΣq² − Σ(Σq)²) /
    * Σ(Σq)² exactly, in milli. Per label (task) and pooled: a label
    * whose B_crit is tiny is signal-dense (small batches suffice);
    * a huge B_crit says its gradients are noise-dominated.
    *
    * Scale shape: one posexplode → per-(label, dim) partial-aggregated
    * moments (labels×64 rows cross the shuffle, the q127 discipline);
    * the ratio is label-grid arithmetic in decimal(38,0) (micro² sums
    * pass 2⁶³ at ~10⁶ rows/label). */
  private val q605 = QueryDef(
    "q605_critical_batch_size",
    (spark, dir) => {
      val cells = Tables.embeddings(spark, dir)
        .select(col("label").cast("long").as("label"),
          posexplode(expr(
            "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))"))
            .as(Seq("dim", "q")))
        .groupBy(col("label"), col("dim"))
        .agg(count(lit(1)).as("n"), sum(col("q")).as("s"),
          sum(expr("CAST(q AS DECIMAL(38,0)) * q")).as("ss"))
      val byLabel = cells.groupBy(col("label"))
        .agg(max(col("n")).as("n_vectors"),
          sum(col("ss")).as("sss"),
          sum(expr("CAST(s AS DECIMAL(38,0)) * s")).as("ss2"))
        .select(col("label"), col("n_vectors"),
          expr("""CAST((n_vectors * sss - ss2) * 1000 DIV ss2 AS BIGINT)""")
            .as("b_crit_milli"))
      val pooled = cells.groupBy(col("dim"))
        .agg(sum(col("n")).as("n"), sum(col("s")).as("s"), sum(col("ss")).as("ss"))
        .agg(max(col("n")).as("n_vectors"), sum(col("ss")).as("sss"),
          sum(expr("CAST(s AS DECIMAL(38,0)) * s")).as("ss2"))
        .select(lit(-1L).as("label"), col("n_vectors"),
          expr("""CAST((n_vectors * sss - ss2) * 1000 DIV ss2 AS BIGINT)""")
            .as("b_crit_milli"))
      byLabel.unionByName(pooled).orderBy(col("label"))
    },
    Some("""
      WITH ex AS (
        SELECT CAST(label AS BIGINT) AS label, d.i AS dim,
          CAST(floor(CAST(embedding[d.i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS q
        FROM embeddings,
          LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) d),
      cells AS (
        SELECT label, dim, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(q) AS BIGINT) AS s, sum(CAST(q AS HUGEINT) * q) AS ss
        FROM ex GROUP BY 1, 2),
      byl AS (
        SELECT label, CAST(max(n) AS BIGINT) AS n_vectors,
          CAST((max(n) * sum(ss) - sum(CAST(s AS HUGEINT) * s)) * 1000
            // sum(CAST(s AS HUGEINT) * s) AS BIGINT) AS b_crit_milli
        FROM cells GROUP BY label),
      pool AS (
        SELECT CAST(-1 AS BIGINT) AS label,
          CAST(max(n) AS BIGINT) AS n_vectors,
          CAST((max(n) * sum(ss) - sum(CAST(s AS HUGEINT) * s)) * 1000
            // sum(CAST(s AS HUGEINT) * s) AS BIGINT) AS b_crit_milli
        FROM (SELECT dim, CAST(sum(n) AS BIGINT) AS n,
                CAST(sum(s) AS BIGINT) AS s, sum(ss) AS ss
              FROM cells GROUP BY dim))
      SELECT label, n_vectors, b_crit_milli FROM byl
      UNION ALL SELECT label, n_vectors, b_crit_milli FROM pool
      ORDER BY label
    """))

  // ---------------------------------------------------------------- q606

  /** fp16 loss-scale range audit: for scale S ∈ {2¹⁰, 2¹², 2¹⁴, 2¹⁶},
    * a value x overflows half precision iff |x|·S > 65504 (fp16 max)
    * and flushes to zero iff |x|·S < 2⁻¹⁴ (smallest normal). With x in
    * exact micro units q both tests are integer: overflow ⇔
    * |q|·S > 65504·10⁶; underflow ⇔ |q|·S·2¹⁴ < 10⁶. The chooser the
    * mixed-precision recipe needs: the largest S with zero overflows
    * (dynamic loss scaling's steady state) against each S's flushed
    * mass.
    *
    * Scale shape: one corpus scan per nothing — the 4-row scale grid
    * broadcasts onto per-vector HOF folds; the readout is 4 rows of
    * counts. */
  private val q606 = QueryDef(
    "q606_loss_scale_range_audit",
    (spark, dir) => {
      val spark0 = spark
      import spark0.implicits._
      val grid = Seq(1024L, 4096L, 16384L, 65536L).toDF("scale")
      Tables.embeddings(spark, dir)
        .select(col("vec_id"), expr(
          "transform(embedding, x -> abs(CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)))")
          .as("aq"))
        .crossJoin(broadcast(grid))
        .select(col("scale"),
          expr("CAST(size(filter(aq, q -> q * scale > 65504000000)) AS BIGINT)")
            .as("n_over"),
          expr("CAST(size(filter(aq, q -> q * scale * 16384 < 1000000)) AS BIGINT)")
            .as("n_under"),
          expr("CAST(size(aq) AS BIGINT)").as("n_vals"))
        .groupBy(col("scale"))
        .agg(sum(col("n_over")).as("values_overflow"),
          sum(col("n_under")).as("values_underflow"),
          sum(when(col("n_over") > 0L, 1L).otherwise(0L)).as("vectors_overflow"),
          sum(col("n_vals")).as("n_values"))
        .select(col("scale"), col("values_overflow"), col("vectors_overflow"),
          expr("values_underflow * 1000000 div n_values").as("underflow_ppm"),
          (col("values_overflow") === 0L).as("is_safe"))
        .orderBy(col("scale"))
    },
    Some("""
      WITH grid(scale) AS (VALUES (CAST(1024 AS BIGINT)), (CAST(4096 AS BIGINT)),
        (CAST(16384 AS BIGINT)), (CAST(65536 AS BIGINT))),
      v AS (
        SELECT vec_id,
          list_transform(embedding, x ->
            abs(CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))) AS aq
        FROM embeddings),
      per AS (
        SELECT scale,
          CAST(len(list_filter(aq, q -> q * scale > 65504000000)) AS BIGINT)
            AS n_over,
          CAST(len(list_filter(aq, q -> q * scale * 16384 < 1000000)) AS BIGINT)
            AS n_under,
          CAST(len(aq) AS BIGINT) AS n_vals
        FROM v CROSS JOIN grid)
      SELECT scale, CAST(sum(n_over) AS BIGINT) AS values_overflow,
        CAST(sum(CASE WHEN n_over > 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS vectors_overflow,
        CAST(sum(n_under) * 1000000 // sum(n_vals) AS BIGINT) AS underflow_ppm,
        sum(n_over) = 0 AS is_safe
      FROM per GROUP BY scale ORDER BY scale
    """))

  // ---------------------------------------------------------------- q607

  /** Inverse-sqrt learning-rate schedule plan over the measured corpus:
    * steps = ceil(corpus tokens / 2¹⁸ tokens-per-step), warmup W =
    * max(1, steps div 100); lr(s) = lr_base·s/W for s ≤ W, then
    * lr_base·√(W/s) — in exact milli via the ±1-corrected isqrt:
    * √(W/s)·1000 = isqrt(10⁶·W div s). Evaluated at the schedule's
    * decile checkpoints (s = k·steps div 10) — the planning table a
    * training run pins before step 0, derived from data actually
    * counted rather than assumed.
    *
    * Scale shape: token counting is the q28 whitespace fold (one
    * corpus scan → one-row total); the schedule itself is an 11-row
    * grid exploded from that one-row broadcast. */
  private val q607 = QueryDef(
    "q607_inverse_sqrt_lr_plan",
    (spark, dir) => {
      val toks = Tables.documents(spark, dir)
        .select(expr("size(filter(split(text, ' '), t -> t != ''))").as("nt"))
        .agg(sum(col("nt")).as("total_tokens"))
        .select(col("total_tokens"),
          expr("(total_tokens + 262143) div 262144").as("steps"))
        .select(col("total_tokens"), col("steps"),
          expr("greatest(1L, steps div 100)").as("warmup"))
      toks.select(col("total_tokens"), col("steps"), col("warmup"),
          explode(expr("sequence(0L, 10L)")).as("decile"))
        .select(col("total_tokens"), col("steps"), col("warmup"), col("decile"),
          expr("greatest(1L, decile * steps div 10)").as("s"))
        .select(col("decile"), col("s").as("step"), col("total_tokens"),
          col("steps"), col("warmup"),
          expr(s"""CASE WHEN s <= warmup THEN 1000 * s div warmup
                   ELSE ${SqlMacros.isqrt("1000000 * warmup div s")} END""")
            .as("lr_milli"))
        .orderBy(col("decile"))
    },
    Some(s"""
      WITH t AS (
        SELECT CAST(sum(len($duckTokens)) AS BIGINT) AS total_tokens
        FROM documents),
      p AS (
        SELECT total_tokens,
          (total_tokens + 262143) // 262144 AS steps,
          greatest(1, (total_tokens + 262143) // 262144 // 100) AS warmup
        FROM t),
      g AS (
        SELECT p.*, d.decile,
          greatest(1, d.decile * p.steps // 10) AS s
        FROM p, LATERAL (SELECT unnest(range(0, 11)) AS decile) d)
      SELECT CAST(decile AS BIGINT) AS decile, CAST(s AS BIGINT) AS step,
        total_tokens, CAST(steps AS BIGINT) AS steps,
        CAST(warmup AS BIGINT) AS warmup,
        CAST(CASE WHEN s <= warmup THEN 1000 * s // warmup
             ELSE ${SqlMacros.isqrt("1000000 * warmup // s")} END AS BIGINT)
          AS lr_milli
      FROM g ORDER BY decile
    """))

  override def defs: Seq[QueryDef] = Seq(q605, q606, q607)
}
