package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One benchmark run in one JVM: set up graft, run one workload for a
  * fixed time, run its untimed output checks, and write a result file
  * (`<out>/result.json`) that `run.py` turns into the one-line report.
  *
  * Arguments (all `--key value`):
  *   workload  catalog | stream-orders
  *   seed      seeds the stream generator (run.py orders the catalog sample with it)
  *   seconds   length of the timed phase
  *   trace     0 = end-to-end metrics, 1 = per-layer metrics from spans/counters
  *   data      table directory the timed phase reads
  *   queries   file with the drawn query names, one per line, in run order
  *   passes    number of timed passes over them
  *   check-data  table directory of the catalog warm-up pass, whose outputs are checked
  *   out       directory for outputs, check files, trace and result
  *   launch-ms epoch ms at which run.py launched this JVM
  *   cores     local[N] parallelism
  */
object Main {
  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
    def lines(k: String): Seq[String] =
      Files.readAllLines(Paths.get(apply(k))).asScala.map(_.trim).filter(_.nonEmpty).toSeq
  }

  /** What a workload hands back: metric name -> value, plus counts. */
  final case class Outcome(metrics: Seq[(String, Double)], attempted: Long, failed: Long,
                           checked: Long, wrong: Long, notes: Seq[String])

  def main(argv: Array[String]): Unit = {
    val args = Args(argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    val trace = args("trace") == "1"
    val t0 = System.nanoTime()
    val spark = GraftSession.local(args.int("cores"))
    val sessionMs = (System.nanoTime() - t0) / 1e6
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val outcome =
      try args("workload") match {
        case "stream-orders" => StreamBench.run(spark, args, tracer, sessionMs)
        case "catalog" => CatalogBench.run(spark, args, tracer, sessionMs)
        case w => sys.error(s"unknown workload $w")
      } finally {
        tracer.foreach(_.writeSpans(s"${args("out")}/trace.jsonl"))
      }
    val json = new StringBuilder("{")
    json ++= s""""attempted":${outcome.attempted},"failed":${outcome.failed},"""
    json ++= s""""checked":${outcome.checked},"wrong":${outcome.wrong},"""
    json ++= outcome.notes.map(Json.str).mkString("\"notes\":[", ",", "],")
    json ++= outcome.metrics.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
      .mkString("\"metrics\":{", ",", "}}")
    Files.writeString(Paths.get(s"${args("out")}/result.json"), json.toString)
    spark.stop()
  }

  // ---- JVM readings shared by the workloads ----

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Total stop-the-world time from the HotSpot runtime MBean (needs
    * `--add-exports java.management/sun.management=ALL-UNNAMED`, and perf
    * data, which `-XX:-UsePerfData` turns off); -1 if the bean is
    * unreachable or has no perf data. */
  private val safepointRead: Option[() => Long] =
    try {
      val bean = Class.forName("sun.management.ManagementFactoryHelper")
        .getMethod("getHotspotRuntimeMBean").invoke(null)
      val m = Class.forName("sun.management.HotspotRuntimeMBean").getMethod("getTotalSafepointTime")
      m.invoke(bean)
      Some(() => m.invoke(bean).asInstanceOf[Long])
    } catch { case _: Throwable => None }
  def safepointMs: Long = safepointRead.map(_.apply()).getOrElse(-1L)

  def loadedClasses: Double = ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount.toDouble

  def codeCacheMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getName.startsWith("CodeHeap")).map(_.getUsage.getUsed).sum / 1048576.0

  /** Heap in use after full collections, in MB: the least of three
    * readings, each after a collection and a pause in which Spark's
    * cleaner can release what the previous collection made unreachable. */
  def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 3).map { _ =>
      System.gc(); Thread.sleep(200)
      (rt.totalMemory - rt.freeMemory) / 1048576.0
    }.min
  }

  /** Seconds from the JVM launch (stamped by run.py) to now. */
  def sinceLaunchS(args: Args): Double = (System.currentTimeMillis() - args("launch-ms").toLong) / 1000.0
}

/** Quantiles by the Harrell-Davis estimator: a Beta-weighted mean of all
  * order statistics. With a few dozen samples of very different sizes a
  * nearest-rank quantile jumps whenever two samples swap ranks; this one
  * moves smoothly, and for large samples it equals the sample quantile. */
object Stats {
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      val beta = new org.apache.commons.math3.distribution.BetaDistribution(
        p / 100.0 * (n + 1), (1 - p / 100.0) * (n + 1))
      var prev = 0.0
      s.indices.map { i =>
        val cdf = beta.cumulativeProbability((i + 1).toDouble / n)
        val w = cdf - prev
        prev = cdf
        w * s(i)
      }.sum
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}

/** Every per-layer metric, in report order. A traced run prints all of
  * them; a layer that does not run on a workload reads 0. */
object Layers {
  val names: Seq[String] = Seq(
    "session.create_ms", "catalog.init_ms", "warmup.ms", "jvm.loaded_classes",
    "queries.build_ms", "queries.build_jobs",
    "planning.analysis_ms", "planning.optimization_ms", "planning.physical_ms",
    "sched.jobs", "sched.stages", "sched.tasks", "sched.idle_ms",
    "task.cpu_ms", "task.run_ms", "task.gc_ms", "task.busy_share",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.spill_bytes", "shuffle.fetch_wait_ms", "shuffle.skew",
    "scan.bytes", "scan.records",
    "memo.builds", "memo.resident_mb",
    "jvm.gc_ms", "jvm.safepoint_ms", "jvm.code_cache_mb",
    "stream.latest_offset_ms", "stream.get_batch_ms", "stream.backlog_rows", "gen.late_ms",
    "stream.query_planning_ms", "stream.add_batch_ms", "stream.trigger_ms", "stream.busy_share",
    "stream.wal_commit_ms", "stream.commit_offsets_ms",
    "state.commit_ms", "state.rows_total", "state.memory_bytes", "state.rows_dropped_late",
    "sink.files", "sink.bytes",
    "stream.alert_latency_p99_s", "stream.agg_emit_lag_p50_s", "stream.agg_emit_lag_p90_s",
    "self.build_ms", "self.execute_ms", "self.job_ms", "self.stage_ms", "self.trigger_ms",
    "trace.overhead_share", "trace.callback_ms")

  def fill(values: Seq[(String, Double)]): Seq[(String, Double)] = {
    val unknown = values.map(_._1).filterNot(names.contains)
    require(unknown.isEmpty, s"unknown per-layer metrics: ${unknown.mkString(", ")}")
    val m = values.toMap
    names.map(n => n -> m.getOrElse(n, 0.0))
  }
}
