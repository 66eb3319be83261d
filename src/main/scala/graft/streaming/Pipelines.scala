package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamReader, DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

import graft.operators.Ecommerce

/** Native Structured Streaming rebuild of the reference application
  * (`ecommerce_streaming.py`): sources, the two pipeline branches
  * (windowed aggregation, fraud alerts), sinks, and the 3-sink fan-out
  * `main()` topology.
  *
  * All transforms are the shared batch/streaming operators in
  * graft.operators.Ecommerce — streaming here only adds sources,
  * watermarks, sinks and triggers. Like the reference (which defines the
  * Kafka path but runs on the rate source, ecommerce_streaming.py:170-186),
  * the executable path uses the rate source; the Kafka builders carry the
  * reference's exact options and light up when the
  * spark-sql-kafka-0-10 package is on the classpath.
  */
object Pipelines {

  // ---- sources (SURVEY.md §2.1) ----

  /** S1 — Kafka source with the reference's options
    * (ecommerce_streaming.py:38-52): latest offsets, 1000-records/trigger
    * intake cap (the back-pressure knob at scale), client keepalives.
    * The configured reader is exposed separately from `.load()` so the
    * option plumbing is assertable without a broker or connector jar
    * (KafkaPlumbingSpec) — `.load()` is the only step that needs the
    * spark-sql-kafka package on the classpath. */
  def kafkaOrderReader(spark: SparkSession, bootstrapServers: String,
                       topic: String = "ecommerce-orders",
                       maxOffsetsPerTrigger: Long = 1000L): DataStreamReader =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topic)
      .option("startingOffsets", "latest")
      .option("maxOffsetsPerTrigger", maxOffsetsPerTrigger)
      .option("kafka.request.timeout.ms", "60000")
      .option("kafka.session.timeout.ms", "60000")

  /** S2 — rate source + deterministic order synthesis
    * (ecommerce_streaming.py:171-184): the executable path. */
  def sampleOrderStream(spark: SparkSession, rowsPerSecond: Int = 10): DataFrame =
    Ecommerce.synthesizeOrders(
      spark.readStream.format("rate").option("rowsPerSecond", rowsPerSecond).load())

  // ---- pipeline branches ----

  /** Watermarked sliding-window aggregation branch (W1+W2+A1-A6). */
  def windowedAggregationStream(orders: DataFrame,
                                watermark: String = "30 seconds"): DataFrame =
    Ecommerce.windowedAggregations(
      orders.withWatermark("event_timestamp", watermark))
      .withColumn("processing_timestamp", current_timestamp())

  /** Fraud-alert branch (F2+C1), re-encoded for a Kafka sink (P9). */
  def fraudAlertStream(orders: DataFrame): DataFrame =
    Ecommerce.toJsonValue(Ecommerce.fraudAlerts(orders))

  // ---- sinks (SURVEY.md §2.10) ----

  /** K1 — parquet append sink, 10 s trigger (ecommerce_streaming.py:109-117). */
  def parquetSink(df: DataFrame, path: String, checkpoint: String,
                  trigger: String = "10 seconds"): DataStreamWriter[Row] =
    df.writeStream.format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(trigger))

  /** K2 — Kafka alert sink, 5 s trigger (ecommerce_streaming.py:119-133). */
  def kafkaSink(df: DataFrame, bootstrapServers: String, topic: String,
                checkpoint: String, trigger: String = "5 seconds"): DataStreamWriter[Row] =
    df.writeStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(trigger))

  /** Stream-stream inner/outer join: orders matched to payments arriving
    * within `matchWindow` after the order. Both sides carry watermarks
    * and the join condition bounds event time on both ends, so Spark can
    * evict join state — without the time bound, stream-stream join state
    * grows forever (the 100 TB streaming failure mode). Outer rows (an
    * order with no payment) emit with nulls only once the watermark
    * passes the match window — i.e. once a payment can no longer arrive.
    */
  def ordersWithPayments(orders: DataFrame, payments: DataFrame,
                         watermark: String = "30 seconds",
                         matchWindow: String = "10 minutes",
                         joinType: String = "inner"): DataFrame =
    orders.withWatermark("event_timestamp", watermark)
      .join(
        payments.withWatermark("pay_timestamp", watermark),
        expr(s"""
          order_id = pay_order_id AND
          pay_timestamp >= event_timestamp AND
          pay_timestamp <= event_timestamp + INTERVAL $matchWindow
        """),
        joinType)

  /** Stream-static enrichment join: every micro-batch of the stream
    * joins a STATIC dimension on `key`. The static side is re-planned
    * per micro-batch (so a refreshed dimension snapshot is picked up on
    * the next trigger) and explicitly broadcast — reference-data
    * enrichment must never shuffle the stream. Unlike stream-stream
    * joins this holds NO join state: unmatched stream rows emit
    * immediately with nulls (left join), so it composes with any
    * downstream watermarked aggregation. */
  def enrichedStream(stream: DataFrame, dim: DataFrame,
                     key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key), "left")

  /** foreachBatch sink: each micro-batch handed to arbitrary batch logic
    * (upserts, multi-table writes, dedup-merge) with exactly-once
    * batchIds — the production escape hatch when no built-in sink fits. */
  def foreachBatchSink(df: DataFrame, checkpoint: String,
                       trigger: String = "5 seconds")(
                       f: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    df.writeStream
      .foreachBatch(f)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(trigger))

  /** K3 — console monitoring sink, 30 s trigger (ecommerce_streaming.py:135-142). */
  def consoleSink(df: DataFrame, trigger: String = "30 seconds"): DataStreamWriter[Row] =
    df.writeStream.format("console")
      .option("truncate", "false")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(trigger))

  /** K4 — the reference `main()` fan-out: one parsed stream feeding
    * parquet + console (aggregation branch) and a third query for alerts
    * (ecommerce_streaming.py:189-218). Each sink is its own
    * StreamingQuery with its own checkpoint/state, exactly like the
    * reference. Returns the running queries; caller awaits/stops. */
  def runReferenceTopology(spark: SparkSession, outDir: String,
                           rowsPerSecond: Int = 10): Seq[StreamingQuery] = {
    val orders = sampleOrderStream(spark, rowsPerSecond)
    val aggs = windowedAggregationStream(orders)
    val alerts = fraudAlertStream(orders)
    Seq(
      parquetSink(aggs, s"$outDir/windowed-aggregations", s"$outDir/cp-agg").start(),
      // alerts go to parquet here (no broker in this environment); swap
      // for kafkaSink(...) on a real deployment
      parquetSink(alerts, s"$outDir/alerts", s"$outDir/cp-alerts", "5 seconds").start(),
      consoleSink(aggs).start())
  }
}
