package graft

/** AQE regime independence (round-9): query RESULTS must be
  * bit-identical with adaptive execution on and off. The round-9 timing
  * A/B (three full 665-query sf0.01 passes — see Bench's scaladoc) found
  * the regimes within cross-JVM noise, so AQE stays on unconditionally;
  * this spec keeps the results independent of the planner regime, so
  * that any future on/off timing comparison stays a valid experiment.
  */
class AdaptivePolicySpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("results are regime-independent: AQE off == AQE on, shuffle-heavy sample") {
    // one keyed-agg query, one join query, one window query, one
    // iterative-loop query — the shapes where a planner regime could
    // plausibly leak into results if anything were order-sensitive
    val sample = Seq("q10_tpch_q1_pricing_summary", "q11_star_join_broadcast",
      "q17_analytic_windows", "q415_hits_hub_authority")
    def run(name: String): Seq[String] =
      SparkEntry.queries(name)(spark, sfDir).collect().map(_.toString).toSeq
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    val withAqe = sample.map(n => n -> run(n))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val withoutAqe = sample.map(n => n -> run(n))
    spark.conf.set("spark.sql.adaptive.enabled", "true") // restore for other suites
    assert(withAqe === withoutAqe)
  }
}
