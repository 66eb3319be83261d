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

  // Tables.table calls configure on every loader hit (so ad-hoc sessions
  // are always correctly configured), which is thousands of calls per
  // bench pass; each conf.set walks SQLConf validation, so short-circuit
  // per session object. Keyed on the session itself through weak
  // references — identityHashCode is NOT unique and is reused after GC,
  // so a long-lived process creating many sessions (tests, notebooks)
  // could silently skip configuring a fresh session that collides with
  // a dead one's hash, leaving ANSI on / nanosAsLong off and changing
  // query semantics. SparkSession does not override equals, so a
  // WeakHashMap compares keys by reference, which is exactly the
  // per-instance memo needed; dead sessions un-memo themselves.
  private val configured: java.util.Set[SparkSession] =
    java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(
        new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))

  /** Apply graft's standard SQL confs to an existing session (e.g. one
    * a caller built and handed to `Tables`). Safe to call repeatedly —
    * applies once per session instance. */
  def configure(spark: SparkSession): SparkSession = {
    if (!configured.add(spark)) return spark
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
    configure(spark)
  }
}
