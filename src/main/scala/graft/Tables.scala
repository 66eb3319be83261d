package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All loaders take the scale-factor directory so the same query code runs
  * at any SF. Reads are plain `spark.read.parquet` — column pruning and
  * predicate pushdown happen in the caller's plan and reach the scan.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // One relation per (session, path): repeated `spark.read.parquet` calls
  // each fire a footer/listing job at CONSTRUCTION time, so 230+ query
  // builders over 10 tables would pay ~2 driver jobs apiece before any
  // action runs. Caching the DataFrame (plans are immutable) makes every
  // builder after the first a pure plan-graph construction — asserted by
  // the laziness gate in QueriesSmokeSpec. The outer map is keyed by
  // session IDENTITY (SparkSession does not override equals, and
  // identityHashCode keys reused after GC must not serve one session
  // another session's DataFrames). GC-based eviction is impossible
  // here BY CONSTRUCTION: the cached DataFrames strongly reference
  // their SparkSession (Dataset.sparkSession), so a weak key would be
  // pinned by its own value — the value→key cycle the WeakHashMap
  // javadoc warns about. Eviction is therefore explicit: automatic at
  // application end (the listener below) or on demand via
  // [[invalidate]]. A session discarded mid-application without
  // invalidate keeps its ~10 table plans pinned until the application
  // ends — bounded, but callers cycling many sessions should call the
  // hook.
  private final class Entry(
      val tables: java.util.concurrent.ConcurrentHashMap[String, DataFrame],
      val listener: org.apache.spark.scheduler.SparkListener)

  private val cache = new java.util.IdentityHashMap[SparkSession, Entry]()

  /** Drop a session's cached relations AND the listener registered for
    * it — the listener's closure strongly captures the session, so
    * leaving it on the SparkContext would pin a session per invalidate
    * call for callers cycling many sessions over one long-lived
    * context. Called automatically when the session's SparkContext
    * ends; call it directly when discarding a session mid-application. */
  def invalidate(spark: SparkSession): Unit = {
    val entry = cache.synchronized { cache.remove(spark) }
    if (entry != null)
      // the bus tolerates removal during its own dispatch (the
      // application-end path arrives FROM this listener); a stopped
      // context just no-ops
      try spark.sparkContext.removeSparkListener(entry.listener)
      catch { case _: IllegalStateException => () }
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val perSession = cache.synchronized {
      var e = cache.get(spark)
      if (e == null) {
        GraftSession.configure(spark)
        val listener = new org.apache.spark.scheduler.SparkListener {
          override def onApplicationEnd(
              end: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
            invalidate(spark)
        }
        e = new Entry(
          new java.util.concurrent.ConcurrentHashMap[String, DataFrame](), listener)
        cache.put(spark, e)
        spark.sparkContext.addSparkListener(listener)
      }
      e
    }
    perSession.tables.computeIfAbsent(s"$dir/$name.parquet", spark.read.parquet(_))
  }

  /** `events` with its TIMESTAMP(NANOS) column converted to a proper
    * microsecond TimestampType column (floor division, matching how
    * nanos-unaware readers like DuckDB truncate).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = table(spark, dir, "events")
    // With nanosAsLong=true the ts column arrives as LongType nanoseconds.
    raw.schema("ts").dataType.typeName match {
      // integer division: Column./ is double division, which at 2^60-ns
      // magnitudes rounds by up to ~128 ns and can floor to the wrong µs
      case "long" => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _      => raw // already a timestamp (future-proofing)
    }
  }

  def region(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** Fan CPU-heavy per-row kernel work out across the session's cores
    * when the scan under-splits (r13, guide §2.5 "unsplittable input:
    * repartition immediately after the read"): every test-corpus table
    * is ONE parquet row group, so a scan is one split — and one task —
    * regardless of split confs, which serializes expensive text/hash
    * kernels on a 32-core host. The round-robin pays one tiny shuffle
    * of the input rows. At production scale the scan already carries at
    * least the cluster's parallelism and this is a no-op — the check is
    * on the actual scan partition count, not a constant. */
  def fanOut(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }
}
