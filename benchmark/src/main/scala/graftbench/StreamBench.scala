package graftbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types._

import graft.operators.Ecommerce
import graft.streaming.Pipelines

/** The `stream-orders` workload: the reference fan-out, open loop.
  *
  * A feeder thread adds generated order payloads to in-memory sources
  * once a second at a fixed rate, whether or not graft keeps up. Each of
  * the two queries reads its own source holding the same events, as two
  * consumers of one topic would. `Ecommerce.parseOrders` feeds both: the
  * windowed aggregation into a parquet sink on a 10 s trigger and the
  * fraud alerts into a parquet sink on a 5 s trigger. Processing-time
  * triggers fire on a fixed clock grid, so the feeder starts where its
  * first block lands just before an aggregation trigger: every run sees
  * the same trigger phases. The first `SettleBlocks` blocks settle the
  * new queries; the metrics cover the batches of the `--seconds` blocks
  * after them. Both queries then drain what was released, stop, and the
  * untimed check compares the sinks with a batch recomputation over all
  * the events.
  */
object StreamBench {
  /** Input rate (orders/s), held for the whole timed phase: the reference's
    * Kafka intake cap (`maxOffsetsPerTrigger` 1000) spread over its 5 s
    * alert trigger, the most its alert query accepts without a backlog. */
  val Rate = 200
  /** Event-time seconds per second of the creation clock. With the
    * reference's 1-minute windows and 30 s watermark, event time at wall
    * speed closes no window within a run; at 30x a 20 s run spans 10
    * minutes of event time, so each aggregation batch emits windows. The
    * alert path does not read event time. */
  val Speed = 30
  val TickMs = 1000
  /** Events per source block: block b holds events [b * PerTick, (b + 1) * PerTick). */
  val PerTick: Long = Rate * TickMs / 1000
  /** Blocks fed before the measured ones. The first batches of a new query
    * pay one-off costs (state store and sink set-up, first plans), up to
    * seconds at this rate; block 11 is the first that both trigger grids
    * take in a batch holding measured blocks only (alerts: blocks 11-15,
    * aggregation: blocks 11-20). */
  val SettleBlocks = 11

  private type Source = MemoryStream[(String, Timestamp)]

  /** Adds block k, the events created in tick k, when tick k ends. */
  private final class Feeder(gen: OrderGen, inputs: Seq[Source], ticks: Int) extends Thread("order-feeder") {
    setDaemon(true)
    val lateMs = ArrayBuffer[Double]()
    @volatile var generated = 0L
    override def run(): Unit =
      for (k <- 0L until ticks) {
        val due = gen.startMs + (k + 1) * TickMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        lateMs += math.max(0L, System.currentTimeMillis() - due).toDouble
        val rows = (k * PerTick until (k + 1) * PerTick).map(i => (gen.payload(i), new Timestamp(gen.createdMs(i))))
        inputs.foreach(_.addData(rows))
        generated = (k + 1) * PerTick
      }
  }

  /** The reference fan-out; `triggers` are the (aggregation, alert) intervals. */
  private def topology(spark: SparkSession, inputs: Seq[Source], dir: String,
                       triggers: (String, String) = ("10 seconds", "5 seconds")): (StreamingQuery, StreamingQuery) = {
    val Seq(aggOrders, alertOrders) = inputs.map(i => Ecommerce.parseOrders(i.toDF().toDF("value", "timestamp")))
    val agg = Pipelines.parquetSink(Pipelines.windowedAggregationStream(aggOrders),
      s"$dir/agg", s"$dir/cp-agg", triggers._1).queryName("agg").start()
    val alerts = Pipelines.parquetSink(Pipelines.fraudAlertStream(alertOrders),
      s"$dir/alerts", s"$dir/cp-alerts", triggers._2).queryName("alerts").start()
    (agg, alerts)
  }

  private def sources(spark: SparkSession): Seq[Source] = {
    import spark.implicits._
    Seq.fill(2)(MemoryStream[(String, Timestamp)](spark))
  }

  /** Parsed orders of blocks [0, last], with each order's block index. */
  private def orders(spark: SparkSession, gen: OrderGen, last: Int): DataFrame = {
    import spark.implicits._
    val rows = spark.range(0L, (last + 1) * PerTick).as[Long].map(i => (gen.payload(i), new Timestamp(gen.createdMs(i))))
    Ecommerce.parseOrders(rows.toDF("value", "timestamp"))
      .withColumn("blk", expr(s"cast(substring_index(order_id, '-', -1) as long) div $PerTick"))
  }

  private def offset(s: String): Int = if (s == null || s.trim.isEmpty) -1 else s.trim.toInt

  /** Sink file name -> batch id, and batch id -> commit time (epoch ms), from the file sink's log. */
  private def sinkLog(dir: String): (Map[String, Long], Map[Long, Long]) = {
    val logDir = new File(s"$dir/_spark_metadata")
    val files = Option(logDir.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.matches("\\d+(\\.compact)?"))
    val path = "\"path\":\"([^\"]+)\"".r
    val byFile = files.toSeq.flatMap { f =>
      val b = f.getName.stripSuffix(".compact").toLong
      path.findAllMatchIn(Files.readString(f.toPath)).map(m => new File(m.group(1)).getName -> b)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).min }
    (byFile, files.map(f => f.getName.stripSuffix(".compact").toLong -> f.lastModified()).toMap)
  }

  private def withBatch(spark: SparkSession, dir: String): (DataFrame, Map[Long, Long]) = {
    val (byFile, commit) = sinkLog(dir)
    val m = typedLit(byFile)
    val df = spark.read.parquet(dir)
      .withColumn("batch", element_at(m, regexp_extract(input_file_name(), "[^/]+$", 0)))
    (df, commit)
  }

  private val alertSchema = StructType(Seq(
    StructField("order_id", StringType), StructField("user_id", StringType),
    StructField("product_name", StringType), StructField("total_amount", DoubleType),
    StructField("location", StringType), StructField("event_timestamp", TimestampType),
    StructField("alert_type", StringType)))

  private def cents(c: String) = round(col(c) * 100).cast("long").as(c)

  private def line(rows: Seq[Row]): Seq[String] = rows.map(_.mkString("|"))

  /** Rows in one multiset and not the other, as (missing, extra, expected
    * count); the differing rows are written to `file`. */
  private def compare(expected: Seq[String], actual: Seq[String], file: String): (Long, Long, Long) = {
    def counts(xs: Seq[String]) = xs.groupMapReduce(identity)(_ => 1)(_ + _)
    val (e, a) = (counts(expected), counts(actual))
    def surplus(x: Map[String, Int], y: Map[String, Int]) =
      x.toSeq.flatMap { case (k, n) => Seq.fill(math.max(0, n - y.getOrElse(k, 0)))(k) }
    val (missing, extra) = (surplus(e, a), surplus(a, e))
    if (missing.nonEmpty || extra.nonEmpty)
      Files.write(Paths.get(file), (missing.take(100).map("- " + _) ++ extra.take(100).map("+ " + _)).asJava)
    (missing.size.toLong, extra.size.toLong, expected.size.toLong)
  }

  private def progresses(q: StreamingQuery): Seq[StreamingQueryProgress] = q.recentProgress.toSeq

  /** Wait until `q` has committed a batch ending at `lastBlock`; a failure description otherwise. */
  private def awaitConsumed(q: StreamingQuery, lastBlock: Int, timeoutMs: Long): Option[String] = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def done = q.recentProgress.exists(p => offset(p.sources.head.endOffset) >= lastBlock)
    while (!done && q.isActive && System.currentTimeMillis() < deadline) Thread.sleep(20)
    q.exception.map(e => s"query ${q.name} died: ${e.getMessage}")
      .orElse(if (done) None else Some(s"query ${q.name} did not consume block $lastBlock in ${timeoutMs / 1000} s"))
  }

  private def phase(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  def run(spark: SparkSession, args: Main.Args, tracer: Option[Tracer], sessionMs: Double): Main.Outcome = {
    val seed = args("seed").toLong
    val out = args("out")

    // warm-up: the topology, untriggered, over a few blocks
    val tw = System.nanoTime()
    tracer.foreach(_.pause())
    val warmGen = new OrderGen(seed + 1, Rate, Speed, System.currentTimeMillis())
    val warmIn = sources(spark)
    val (wa, wb) = topology(spark, warmIn, s"$out/warm", ("0 seconds", "0 seconds"))
    for (b <- 0 until 2) {
      warmIn.foreach(_.addData((b * 8000L until (b + 1) * 8000L).map(i => (warmGen.payload(i), new Timestamp(warmGen.createdMs(i))))))
      wa.processAllAvailable(); wb.processAllAvailable()
    }
    wa.stop(); wb.stop()
    val warmMs = (System.nanoTime() - tw) / 1e6
    val loadedClasses = Main.loadedClasses
    tracer.foreach(_.resume())
    val setupS = Main.sinceLaunchS(args)

    // ---- timed phase ----
    val seconds = args.int("seconds")
    val inputs = sources(spark)
    val dir = s"$out/stream"
    val gc0 = Main.gcMs
    val sp0 = Main.safepointMs
    // the work the measured input costs, in task CPU time per batch: the
    // two queries' triggers interleave on the same cores, so their wall
    // times mostly measure each other
    val stageBatch = new ConcurrentHashMap[Int, (String, Long)]()
    val batchCpuNs = new ConcurrentHashMap[(String, Long), LongAdder]()
    val cpuCounter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        for (p <- Option(e.properties); q <- Option(p.getProperty("sql.streaming.queryId"));
             b <- Option(p.getProperty("streaming.sql.batchId")))
          e.stageIds.foreach(stageBatch.put(_, (q, b.toLong)))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        for (m <- Option(e.taskMetrics); k <- Option(stageBatch.get(e.stageId)))
          batchCpuNs.computeIfAbsent(k, _ => new LongAdder).add(m.executorCpuTime)
    }
    spark.sparkContext.addSparkListener(cpuCounter)
    val (aggQ, alertQ) = topology(spark, inputs, dir)
    // the first block lands 0.2 s before an aggregation trigger, so the
    // batch boundaries fall on the same blocks in every run
    val earliest = System.currentTimeMillis() + 500
    val gen = new OrderGen(seed, Rate, Speed, earliest + Math.floorMod(9800 - TickMs - earliest, 10000L))
    val feeder = new Feeder(gen, inputs, SettleBlocks + seconds * 1000 / TickMs)
    val measuredFrom = SettleBlocks * PerTick
    feeder.start()
    feeder.join()
    // every generated order reaches both sinks before the queries stop
    val failures = ArrayBuffer[String]()
    val lastBlock = (feeder.generated / PerTick - 1).toInt
    for (q <- Seq(alertQ, aggQ)) awaitConsumed(q, lastBlock, 30000L).foreach(failures += _)
    val timedS = (System.currentTimeMillis() - gen.startMs) / 1000.0
    val waitS = (gen.startMs - earliest + 500) / 1000.0
    aggQ.stop(); alertQ.stop()
    BenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(cpuCounter)
    tracer.foreach(_.drain())
    val gcMs = Main.gcMs - gc0
    val safepointMs = math.max(0L, Main.safepointMs - sp0)
    val heapMb = Main.retainedHeapMb()
    tracer.foreach(_.pause())

    val checkStart = System.nanoTime()
    val aggP = progresses(aggQ)
    val alertP = progresses(alertQ)
    val all = aggP ++ alertP
    // the measured batches: those holding measured blocks only
    def measured(p: StreamingQueryProgress) = p.numInputRows > 0 && offset(p.sources.head.startOffset) + 1 >= SettleBlocks
    val data = all.filter(measured)
    val cpuS = data.map(p => Option(batchCpuNs.get((p.id.toString, p.batchId))).map(_.sum).getOrElse(0L)).sum / 1e9

    // ---- untimed check, and the latencies read from the sinks ----
    val (alertDf, alertCommit) = withBatch(spark, s"$dir/alerts")
    val alerts = alertDf.select(from_json(col("value"), alertSchema).as("a"), col("batch")).select("a.*", "batch")
    val alertCols = Seq(col("order_id"), col("user_id"), col("product_name"),
      cents("total_amount"), col("location"), col("event_timestamp"), col("alert_type"))
    val alertRows = alerts.select(col("batch") +: alertCols: _*).collect().toSeq
    val latencies = alertRows.filter(r => gen.indexOf(r.getString(1)) >= measuredFrom).flatMap { r =>
      alertCommit.get(r.getLong(0)).map(c => (c - gen.createdMs(gen.indexOf(r.getString(1)))) / 1000.0)
    }
    val lastAlertBlock = alertP.map(p => offset(p.sources.head.endOffset)).maxOption.getOrElse(-1)
    val alertCheck = compare(
      if (lastAlertBlock < 0) Nil
      else line(Ecommerce.fraudAlerts(orders(spark, gen, lastAlertBlock)).select(alertCols: _*).collect().toSeq),
      line(alertRows.map(r => Row.fromSeq(r.toSeq.tail))), s"$out/mismatch-alerts.txt")

    // the aggregation: each batch drops the events at or behind the
    // previous batch's watermark and emits the windows that end at or
    // before its own; the last batch's watermark bounds what was emitted
    val (aggDf, aggCommit) = withBatch(spark, s"$dir/agg")
    val wmOf = aggP.flatMap(p => Option(p.eventTime.get("watermark"))
      .map(w => p.batchId -> java.time.Instant.parse(w).toEpochMilli)).toMap
    val lateWm = aggP.filter(_.numInputRows > 0).flatMap { p =>
      (offset(p.sources.head.startOffset) + 1 to offset(p.sources.head.endOffset))
        .map(b => b.toLong -> wmOf.getOrElse(p.batchId - 1, 0L))
    }.toMap
    val finalWm = aggP.map(_.batchId).maxOption.flatMap(wmOf.get).getOrElse(0L)
    val aggCols = Seq(col("window_start"), col("window_end"), col("category"),
      col("location"), col("order_count"), cents("total_revenue"),
      // an average can sit on a half cent, where summation order decides
      // the rounding; it is compared through the total it implies
      round(col("avg_order_value") * col("order_count") * 100).cast("long").as("avg_total"),
      cents("max_order_value"), cents("min_order_value"), col("unique_customers"))
    val aggRows = aggDf.select(col("batch") +: aggCols: _*).collect().toSeq
    // windows that close on measured event time
    val lags = aggRows.map(r => (r, gen.wallAt(r.getTimestamp(2).getTime + 30000L)))
      .filter(_._2 >= gen.createdMs(measuredFrom)).flatMap { case (r, due) =>
        aggCommit.get(r.getLong(0)).map(c => (c - due) / 1000.0)
      }
    val aggCheck = compare(
      if (lateWm.isEmpty) Nil
      else line(Ecommerce.windowedAggregations(
        orders(spark, gen, lateWm.keys.max.toInt)
          .filter(unix_millis(col("event_timestamp")) > element_at(typedLit(lateWm), col("blk"))))
        .filter(unix_millis(col("window_end")) <= finalWm).select(aggCols: _*).collect().toSeq),
      line(aggRows.map(r => Row.fromSeq(r.toSeq.tail))), s"$out/mismatch-windows.txt")
    val (alertMissing, alertExtra, alertN) = alertCheck
    val (aggMissing, aggExtra, aggN) = aggCheck
    val checkS = (System.nanoTime() - checkStart) / 1e9

    val checked = alertN + alertExtra + aggN + aggExtra
    val wrong = alertMissing + alertExtra + aggMissing + aggExtra
    val mismatch =
      if (wrong == 0) Nil
      else Seq(s"sink check: alerts missing=$alertMissing extra=$alertExtra of $alertN; " +
        s"windows missing=$aggMissing extra=$aggExtra of $aggN (rows in mismatch-*.txt)")

    val triggers = all.size
    val endToEnd = Seq(
      "setup_s" -> setupS,
      "latency_p50_s" -> Stats.median(latencies),
      "latency_p90_s" -> Stats.pct(latencies, 90),
      "suite_s" -> cpuS,
      "ok_share" -> (1.0 - failures.size.toDouble / math.max(1, triggers)),
      "correct_share" -> (1.0 - wrong.toDouble / math.max(1L, checked)),
      "retained_heap_mb" -> heapMb)
    val notes = failures.toSeq ++ mismatch ++ Seq(
      f"${feeder.generated} orders at $Rate/s; timed phase ${timedS}%.1f s after a ${waitS}%.1f s wait " +
        f"for the trigger grid; ${aggP.size} aggregation and ${alertP.size} alert triggers, ${data.size} measured " +
        f"(blocks $SettleBlocks on); check ${checkS}%.1f s",
      s"latency samples (alerts): ${latencies.size}; emit-lag samples (window rows): ${lags.size}; " +
        s"checked rows: $checked",
      "task CPU ms per measured batch: " + data.map { p =>
        f"${p.name} ${p.batchId}: ${Option(batchCpuNs.get((p.id.toString, p.batchId))).map(_.sum).getOrElse(0L) / 1e6}%.0f"
      }.mkString(", "))

    val layers = tracer.map { t =>
      val c = t.snapshot()
      val nd = math.max(1, data.size).toDouble
      // the tracer's counters cover every trigger of the timed phase
      val ndAll = math.max(1, all.count(_.numInputRows > 0)).toDouble
      def meanPhase(k: String) = data.map(phase(_, k)).sum / nd
      val measuredAgg = aggP.filter(measured)
      val state = measuredAgg.flatMap(_.stateOperators.toSeq)
      val lastState = aggP.lastOption.toSeq.flatMap(_.stateOperators.toSeq)
      val sinkFiles = Seq("agg", "alerts").flatMap { s =>
        Option(new File(s"$dir/$s").listFiles()).getOrElse(Array.empty[File]).filter(_.getName.endsWith(".parquet"))
      }
      // rows released to the sources but not yet consumed when each trigger committed
      val backlog = Seq(aggP, alertP).flatMap { ps =>
        ps.map { p =>
          val done = java.time.Instant.parse(p.timestamp).toEpochMilli + phase(p, "triggerExecution").toLong
          val released = math.min(feeder.generated, math.max(0L, (done - gen.startMs) / TickMs) * PerTick)
          math.max(0L, released - (offset(p.sources.head.endOffset) + 1) * PerTick).toDouble
        }
      }
      Seq(
        "session.create_ms" -> sessionMs,
        "warmup.ms" -> warmMs,
        "jvm.loaded_classes" -> loadedClasses,
        "sched.jobs" -> c.getOrElse("sched.jobs", 0L).toDouble,
        "sched.stages" -> c.getOrElse("sched.stages", 0L).toDouble,
        "sched.tasks" -> c.getOrElse("sched.tasks", 0L).toDouble,
        "task.cpu_ms" -> c.getOrElse("task.cpu_ns", 0L) / 1e6 / ndAll,
        "task.run_ms" -> c.getOrElse("task.run_ms", 0L) / ndAll,
        "task.gc_ms" -> c.getOrElse("task.gc_ms", 0L) / ndAll,
        "task.busy_share" -> c.getOrElse("task.run_ms", 0L) / (timedS * 1000 * args.int("cores")),
        "shuffle.write_bytes" -> c.getOrElse("shuffle.write_bytes", 0L).toDouble,
        "shuffle.read_bytes" -> c.getOrElse("shuffle.read_bytes", 0L).toDouble,
        "shuffle.spill_bytes" -> c.getOrElse("shuffle.spill_bytes", 0L).toDouble,
        "shuffle.fetch_wait_ms" -> c.getOrElse("shuffle.fetch_wait_ms", 0L) / ndAll,
        "shuffle.skew" -> Stats.median(t.skewSamples),
        "jvm.gc_ms" -> gcMs.toDouble,
        "jvm.safepoint_ms" -> safepointMs.toDouble,
        "jvm.code_cache_mb" -> Main.codeCacheMb,
        "stream.latest_offset_ms" -> meanPhase("latestOffset"),
        "stream.get_batch_ms" -> meanPhase("getBatch"),
        "stream.backlog_rows" -> Stats.mean(backlog),
        "gen.late_ms" -> Stats.pct(feeder.lateMs.toSeq, 99),
        "stream.query_planning_ms" -> meanPhase("queryPlanning"),
        "stream.add_batch_ms" -> meanPhase("addBatch"),
        "stream.trigger_ms" -> meanPhase("triggerExecution"),
        "stream.busy_share" -> Seq(aggP, alertP).map(_.map(phase(_, "triggerExecution")).sum / 1000 / timedS).max,
        "stream.wal_commit_ms" -> meanPhase("walCommit"),
        "stream.commit_offsets_ms" -> meanPhase("commitOffsets"),
        "state.commit_ms" -> state.map(_.commitTimeMs.toDouble).sum / math.max(1, measuredAgg.size),
        "state.rows_total" -> lastState.map(_.numRowsTotal.toDouble).sum,
        "state.memory_bytes" -> lastState.map(_.memoryUsedBytes.toDouble).sum,
        "state.rows_dropped_late" -> state.map(_.numRowsDroppedByWatermark.toDouble).sum,
        "sink.files" -> sinkFiles.size.toDouble,
        "sink.bytes" -> sinkFiles.map(_.length.toDouble).sum,
        "stream.alert_latency_p99_s" -> Stats.pct(latencies, 99),
        "stream.agg_emit_lag_p50_s" -> Stats.median(lags),
        "stream.agg_emit_lag_p90_s" -> Stats.pct(lags, 90),
        "self.trigger_ms" -> data.map { p =>
          phase(p, "triggerExecution") - Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
            "addBatch", "commitOffsets").map(phase(p, _)).sum
        }.sum / nd,
        "trace.overhead_share" -> t.overheadMs / (timedS * 1000),
        "trace.callback_ms" -> t.overheadMs / math.max(1, triggers))
    }
    all.foreach { p =>
      tracer.foreach { t =>
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val root = Tracer.Span(t.nextId(), 0L, "trigger", start, start + phase(p, "triggerExecution"),
          Map("query" -> p.name, "batch" -> p.batchId.toString, "rows" -> p.numInputRows.toString))
        t.record(root)
        var at = start
        for (k <- Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")) {
          t.record(Tracer.Span(t.nextId(), root.id, s"trigger.$k", at, at + phase(p, k)))
          at += phase(p, k)
        }
      }
    }
    Files.writeString(Paths.get(s"$out/progress.json"), all.map(_.json).mkString("[\n", ",\n", "\n]\n"))
    Main.Outcome(layers.map(Layers.fill).getOrElse(endToEnd), triggers, failures.size,
      checked, wrong, notes)
  }
}
