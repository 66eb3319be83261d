package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard configuration.
  *
  * Mirrors the reference app's session confs (`ecommerce_streaming.py:8-19`:
  * AQE on, coalesce partitions, Kryo, streaming metrics) re-expressed for
  * Spark 4.x, plus the confs this repo's data requires (UTC session time
  * zone for oracle parity, nanos-as-long so the `events` table's
  * nanosecond parquet timestamps are readable).
  *
  * Scale note: `shuffle.partitions` should track cluster parallelism, not
  * the 200 default — callers pass the core count (local[N]) or leave AQE's
  * coalescing to trim it on a real cluster.
  */
object GraftSession {

  /** Apply graft's standard SQL confs to an existing session (e.g. one
    * a caller built and handed to `Tables`). Each call re-applies them,
    * so it also restores a conf an operator re-pinned (the state store
    * provider `Stateful.runningTotals` sets). */
  def configure(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // events.parquet stores TIMESTAMP(NANOS); Spark has no nanos timestamp
    // type, so read as long and convert (Tables.events).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The reference ran Spark 3.3 defaults (ANSI off): lenient casts,
    // null-on-malformed to_timestamp (SURVEY.md §1.2 schema-drift
    // semantics). Spark 4 flips ANSI on; flip it back for parity.
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    // Deterministic parquet output for the DuckDB oracle compare.
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    // Reference pins the HDFS-backed state store provider and streaming
    // metrics (`ecommerce_streaming.py:13-18`); pin them here so every
    // entry point (Verify/Bench/tests) runs the reference confs, not just
    // `local()`. Both are SQL confs, picked up at streaming-query start.
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    spark.conf.set("spark.sql.streaming.metricsEnabled", "true")
    spark
  }

  /** The one session builder: Bench, Verify, Explain, the tests and the
    * benchmark harness all start here. `cores` defaults to
    * `SPARK_GRAFT_CPUS`, else every available core. */
  def local(cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      // generated-class cache sized for the whole catalog (static conf, so
      // it must be set at session build): the 100-entry default evicts
      // continuously, and round 9 measured 10000 evicting at ~690 queries
      // x 5-20 codegen stages — late-suite rechecks ran slower than their
      // in-suite primaries (q590 11.8 s vs 7.6 s). 40000 holds 2x the
      // worst case.
      .config("spark.sql.codegen.cache.maxEntries", "40000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Spark warns "No Partition Defined for Window operation" each time a
    // partition-less window executes: thousands of lines per catalog run,
    // burying the mains' own output. The plan-hygiene gate
    // (QueriesSmokeSpec.boundedGlobalWindows) is the check on those
    // windows. Only this logger, and only in sessions built here: a
    // log4j2.properties in the jar would override every user's config.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec", org.apache.logging.log4j.Level.ERROR)
    configure(spark)
  }
}
