package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.Bench.Timing

/** Bench's output contract, without Spark: the one-line JSON it prints
  * to stdout and the BENCH_LOCAL.json text. The expected strings were
  * produced by Bench's formatting code before it moved into `render`, on
  * this same input, so the bytes are pinned, not just the shape.
  */
class BenchRenderSpec extends AnyFunSuite {

  private val primary = Seq(
    "q12_tpch_q3_shipping_priority" -> Timing(0.4321, 48L),
    "q34_csv_roundtrip" -> Timing(1.0005, 52L),
    "q300_bridge_edges" -> Timing(0.0125, 50L, failed = true),
    "q745_recursive_inventory_sim" -> Timing(9.87654, 49L),
    "q558_kcore_decomposition" -> Timing(14.2, 48L))
  private val secondary = Seq(
    "q12_tpch_q3_shipping_priority" -> Timing(0.2104, 48L),
    "q34_csv_roundtrip" -> Timing(0.3336, 48L),
    "q300_bridge_edges" -> Timing(0.0111, 48L, failed = true),
    "q745_recursive_inventory_sim" -> Timing(2.4449, 48L),
    "q558_kcore_decomposition" -> Timing(1.99951, 48L))
  // q745's re-run is slower than its primary (raises adjusted), q558's faster
  private val recheck = Seq("q745_recursive_inventory_sim" -> 12.3456, "q558_kcore_decomposition" -> 4.7)

  private val (line, detail) = Bench.render("/data/sf0.1", "/data/sf0.01", primary, secondary, recheck)

  test("stdout line: short names, secondary total, errors and recheck before the totals") {
    assert(line ===
      """{"metric":"total","unit":"sec","queries":{"q12_tpch":0.432,"q34_csv":1.001,"q300":0.013,"q745":9.877,"q558":14.200},""" +
      """"sf":"/data/sf0.1","total_sf001":5.000,"errors":["q300"],"recheck":{"q745":12.346,"q558":4.700},""" +
      """"value":25.522,"adjusted":18.491}""")
  }

  test("detail: full names in errors and recheck, store peak, both passes") {
    assert(detail ===
      """{"primary_sf":"/data/sf0.1","primary_total":25.522,"adjusted_total":18.491,"store_peak_mb":52,""" +
      """"errors":["q300_bridge_edges"],"primary":{"q12_tpch":0.432,"q34_csv":1.001,"q300":0.013,"q745":9.877,"q558":14.200},""" +
      """"secondary_sf":"/data/sf0.01","secondary_total":5.000,""" +
      """"secondary":{"q12_tpch":0.210,"q34_csv":0.334,"q300":0.011,"q745":2.445,"q558":2.000},""" +
      """"recheck":{"q745_recursive_inventory_sim":12.346,"q558_kcore_decomposition":4.700}}""")
  }

  test("a recheck slower than its primary raises adjusted above the raw total") {
    val slower = Bench.render("/data/sf0.1", "/data/sf0.01", primary, secondary,
      Seq("q745_recursive_inventory_sim" -> 12.3456))._1
    assert(slower ===
      """{"metric":"total","unit":"sec","queries":{"q12_tpch":0.432,"q34_csv":1.001,"q300":0.013,"q745":9.877,"q558":14.200},""" +
      """"sf":"/data/sf0.1","total_sf001":5.000,"errors":["q300"],"recheck":{"q745":12.346},""" +
      """"value":25.522,"adjusted":27.991}""")
  }

  test("no secondary pass: no total_sf001 key; no errors or recheck: neither key") {
    val (l, d) = Bench.render("/data/sf0.01", "/data/sf0.01",
      secondary.map { case (n, t) => n -> t.copy(failed = false) }, Seq.empty, Seq.empty)
    assert(l ===
      """{"metric":"total","unit":"sec","queries":{"q12_tpch":0.210,"q34_csv":0.334,"q300":0.011,"q745":2.445,"q558":2.000},""" +
      """"sf":"/data/sf0.01","value":5.000,"adjusted":5.000}""")
    assert(d ===
      """{"primary_sf":"/data/sf0.01","primary_total":5.000,"adjusted_total":5.000,"store_peak_mb":48,"errors":[],""" +
      """"primary":{"q12_tpch":0.210,"q34_csv":0.334,"q300":0.011,"q745":2.445,"q558":2.000},""" +
      """"secondary_sf":"/data/sf0.01","secondary_total":0.000,"secondary":{},"recheck":{}}""")
  }

  test("the line ends with the totals, so a head-clipped capture still yields them") {
    assert(""".*,"value":[0-9]+\.[0-9]{3},"adjusted":[0-9]+\.[0-9]{3}\}$""".r.matches(line))
  }
}
