package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: every registered query at the given SF, one JSON
  * line to stdout plus the per-query detail in BENCH_LOCAL.json.
  *
  *  - Queries are materialized through the `noop` sink so the full plan
  *    (all projected columns, all operators) executes; `.count()` would
  *    let Catalyst prune the computed columns away and under-report.
  *  - Per-query cleanup (unpersist, clearCache, gated gc) so query N never
  *    pays for query N-1's working set. Each query's stderr line carries
  *    the heap, block-manager storage, GC, safepoint, job, stage and task
  *    readings that show whether the suite stays steady-state.
  *  - Recheck: any query slower than max(2 s, 4× the pass median) is
  *    re-run alone after a cleanup that also drops the shared memos, so
  *    the re-run re-pays its builds. `adjusted` replaces each rechecked
  *    reading with its re-run time (in both directions); the primary
  *    `value` stays the raw suite total.
  *  - Two scale points: the primary SF (env) plus a full timed pass at
  *    sf0.01, so each query's scaling slope is on record.
  *
  * Floor decomposition (round 8, a warm plan-vs-execute split over an
  * 80-query sample): planning (analyze+optimize+physical) is
  * 0.052 s/query; execution is 0.217 s/query at sf0.01 and 0.234 s/query
  * at sf0.001, identical within noise, so the execution term is
  * scheduling, not data. Of it, ~0.046 s/query is AQE's one re-plan
  * barrier per exchange (0.171 s/query with adaptive off); the residual
  * ~0.12 is job+stage launch at local[32]. AQE stays on unconditionally:
  * three full sf0.01 passes put adaptive on (214.2 s) within cross-JVM
  * noise of off (243.2 s, 216.7 s), since coalescing small shuffles
  * repays the re-plan barrier, and the barrier is what buys skew-join
  * handling at scale.
  */
object Bench {
  // Heap in use after the last forced GC. A full System.gc() costs
  // 0.1-0.5 s on a large heap, and an unconditional one per query was the
  // dominant term of a ~0.6 s/query fixed floor at sf0.01. Collecting only
  // when the heap grew since the last collection keeps query N from paying
  // for query N-1's garbage whenever there is some, and costs nothing
  // when there isn't.
  private var heapAfterGc = 0L
  private def usedHeap: Long =
    Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory

  private def cleanup(spark: SparkSession): Unit = {
    val persisted = spark.sparkContext.getPersistentRDDs
    // Spare ONLY the checkpointed RDDs a live memo entry owns: the
    // cross-query memos (graph.Backbone, dedup.MinHashLSH,
    // SuffixDedupQueries) lose their blocks irrecoverably when unpersisted,
    // and every later consumer would fail with
    // CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND. Each query's own
    // localCheckpoint(true) frames are per-query state and must not pin
    // block-manager memory for the rest of the suite.
    if (persisted.nonEmpty) {
      val owned = CkptMemo.liveRddIds
      persisted.values
        .filter(r => !r.isCheckpointed || !owned.contains(r.id))
        .foreach(_.unpersist(blocking = false))
    }
    // ALWAYS drop the SQL cache: a lazily-cached table registered by
    // query N but never materialized has no persistent RDD yet, and
    // would otherwise materialize inside query N+1's timing. The
    // builders that still leave a cache entry are the `Cached` entries
    // of QueriesSmokeSpec's sanction table, each with the measured
    // reason its persist stays. clearCache on an empty cache is a
    // no-op-cheap map clear — only System.gc() was the fixed-floor cost
    // worth gating.
    spark.catalog.clearCache()
    if (usedHeap - heapAfterGc > (2L << 30)) {
      System.gc() // don't charge query N for query N-1's garbage
      heapAfterGc = usedHeap
    }
  }

  // ---- JVM accounting ----

  private def gcStats: (Long, Long) = {
    import scala.jdk.CollectionConverters._
    val beans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionTime).sum, beans.map(_.getCollectionCount).sum)
  }

  /** Total stop-the-world time (ms) from the HotSpot runtime MBean —
    * superset of GC pauses (code-cache sweeps, deopt storms, thread
    * dumps all stop the world without being "GC"). Needs the
    * --add-exports in build.sbt; −1 when unreachable so the record
    * says "unknown", never silently 0. */
  private val safepointRead: Option[() => Long] =
    try {
      val helper = Class.forName("sun.management.ManagementFactoryHelper")
      val bean = helper.getMethod("getHotspotRuntimeMBean").invoke(null)
      // the impl class (sun.management.HotspotRuntime) is
      // package-private, so the call must go through the PUBLIC
      // HotspotRuntimeMBean interface
      val m = Class.forName("sun.management.HotspotRuntimeMBean")
        .getMethod("getTotalSafepointTime")
      val probe = m.invoke(bean).asInstanceOf[Long] // fail here, not per query
      require(probe >= 0)
      Some(() => m.invoke(bean).asInstanceOf[Long])
    } catch { case _: Throwable => None }
  private def safepointMs: Long = safepointRead.map(_.apply()).getOrElse(-1L)

  // ---- Spark-side accounting (one listener for the whole run) ----

  private object tracker extends SparkListener {
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val taskMs = new AtomicLong(0L)
    override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      taskMs.addAndGet(sc.stageInfo.taskMetrics.executorRunTime)
    }
  }

  /** What the report keeps of one query's run: its wall time, the
    * block-manager storage left after the cleanup before it, and whether
    * it threw. The other readings go to stderr only. */
  private[graft] final case class Timing(dt: Double, storeMb: Long, failed: Boolean = false)

  /** Shuffle partitions sized to the pass's data volume: the primary SF
    * uses the full core count; smaller SFs scale down proportionally
    * (min 4) so every pass runs at the SAME rows-per-partition density
    * (~15-19k at these SFs) instead of paying 32 task launches per
    * exchange to shuffle 60k rows. This is the partition policy a real
    * deployment applies per dataset — partitions track data, not the
    * cluster's max — and it applies to the whole pass, so in-pass
    * numbers stay comparable. */
  private def partitionsFor(sfDir: String, cpus: Int): Int = {
    val sf = "sf([0-9.]+)".r.findFirstMatchIn(sfDir)
      .map(_.group(1).toDouble).getOrElse(0.1)
    math.max(4, math.min(cpus, math.ceil(cpus * sf / 0.1).toInt))
  }

  /** One timed pass over `selected` at `sfDir`, with per-query cleanup
    * and JVM + scheduler readings on stderr. */
  private def runPass(spark: SparkSession, selected: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)],
                      sfDir: String, tag: String): Seq[(String, Timing)] = {
    val parts = partitionsFor(sfDir, spark.sparkContext.defaultParallelism)
    spark.conf.set("spark.sql.shuffle.partitions", parts)
    System.err.println(s"[bench:$tag] shuffle.partitions=$parts for $sfDir")
    selected.map { case (name, fn) =>
      cleanup(spark)
      val heapMb = usedHeap / 1048576
      val storageMb = spark.sparkContext.getExecutorMemoryStatus.values
        .map { case (max, rem) => max - rem }.sum / 1048576
      val (gc0, gcN0) = gcStats
      val sp0 = safepointMs
      val jobs0 = tracker.jobs.get(); val stages0 = tracker.stages.get()
      val taskMs0 = tracker.taskMs.get()
      val t0 = System.nanoTime()
      // A query that throws must never masquerade as a fast run: the
      // failure is recorded in the timing and surfaced in the output
      // JSON's "errors" list.
      val failed =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); false }
        catch { case e: Throwable =>
          System.err.println(s"[bench:$tag] $name FAILED: ${e.getMessage}"); true }
      val dt = (System.nanoTime() - t0) / 1e9
      val (gc1, gcN1) = gcStats
      val sp1 = safepointMs
      val spMs = if (sp0 >= 0 && sp1 >= 0) sp1 - sp0 else -1L
      System.err.println(
        f"[bench:$tag] $name%-32s $dt%8.3f s  heap=${heapMb}%5d MB " +
          f"store=${storageMb}%5d MB gc=${gc1 - gc0}%4d ms/${gcN1 - gcN0}%2d " +
          f"sp=${spMs}%4d ms jobs=${tracker.jobs.get() - jobs0}%3d " +
          f"stages=${tracker.stages.get() - stages0}%3d task=${tracker.taskMs.get() - taskMs0}%5d ms")
      name -> Timing(dt, storageMb, failed)
    }
  }

  /** The stdout line and the BENCH_LOCAL.json text for one run. The
    * stdout line is read from a capture of the last ~2000 chars of
    * output, so it stays small: qNN-prefix keys (full names are on stderr
    * and in the detail's `errors`/`recheck`) and millisecond precision.
    * Truncation hardening: the queries map must stay on the line, so the
    * small load-bearing fields (errors, recheck, totals) follow it, and a
    * head-clipped capture still ends with `...,"value":N,"adjusted":N}`. */
  private[graft] def render(sfDir: String, secondaryDir: String,
                            primary: Seq[(String, Timing)], secondary: Seq[(String, Timing)],
                            recheck: Seq[(String, Double)]): (String, String) = {
    def shortName(n: String): String = {
      val parts = n.split("_")
      if (parts.length > 1 && parts(1).length <= 4) parts.take(2).mkString("_")
      else parts.head
    }
    def qmap(rs: Seq[(String, Double)], key: String => String): String =
      rs.map { case (k, v) => f""""${key(k)}":$v%.3f""" }.mkString("{", ",", "}")
    def names(ns: Seq[String]): String = ns.map(n => s""""$n"""").mkString("[", ",", "]")
    val dts = primary.map { case (n, t) => n -> t.dt }
    val total = dts.map(_._2).sum
    val recheckMap = recheck.toMap
    val adjusted = dts.map { case (n, dt) => recheckMap.getOrElse(n, dt) }.sum
    val secTotal = secondary.map(_._2.dt).sum
    val errors = primary.filter(_._2.failed).map(_._1)
    val storePeak = (0L +: primary.map(_._2.storeMb)).max
    val secPart = if (secondary.isEmpty) "" else f""","total_sf001":$secTotal%.3f"""
    val errPart = if (errors.isEmpty) "" else s""","errors":${names(errors.map(shortName))}"""
    val recheckPart = if (recheck.isEmpty) "" else s""","recheck":${qmap(recheck, shortName)}"""
    val line =
      f"""{"metric":"total","unit":"sec","queries":${qmap(dts, shortName)},"sf":"$sfDir"$secPart$errPart$recheckPart,"value":$total%.3f,"adjusted":$adjusted%.3f}"""
    val detail =
      f"""{"primary_sf":"$sfDir","primary_total":$total%.3f,"adjusted_total":$adjusted%.3f,""" +
        s""""store_peak_mb":$storePeak,"errors":${names(errors)},"primary":${qmap(dts, shortName)},""" +
        f""""secondary_sf":"$secondaryDir","secondary_total":$secTotal%.3f,""" +
        s""""secondary":${qmap(secondary.map { case (n, t) => n -> t.dt }, shortName)},""" +
        s""""recheck":${qmap(recheck, identity)}}"""
    (line, detail)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional args: bench only the named queries (dev loop)
    val selected = SparkEntry.select(args.toSeq)
    val spark = GraftSession.local()
    spark.sparkContext.addSparkListener(tracker)
    // JVM/codegen warm-up: run EVERY query once at the smallest SF so the
    // timed numbers measure steady-state execution, not each query's
    // first-use class loading and janino compile (measured at 1-4 s per
    // cold query vs ~0.3 s warm — pure one-time driver cost that
    // amortizes to zero in any long-lived deployment).
    spark.conf.set("spark.sql.shuffle.partitions",
      partitionsFor("/root/testdata/sf0.001", spark.sparkContext.defaultParallelism))
    selected.foreach { case (_, fn) =>
      try fn(spark, "/root/testdata/sf0.001").write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    // secondary scale point (skipped when it IS the primary)
    val secondaryDir = "/root/testdata/sf0.01"
    val secondary =
      if (sfDir == secondaryDir) Seq.empty
      else runPass(spark, selected, secondaryDir, "sf0.01")
    val results = runPass(spark, selected, sfDir, "primary")
    // self-check: re-run outliers after a full cleanup; a large
    // in-suite/re-run gap means the suite number was contaminated
    val times = results.map(_._2.dt).sorted
    val median = if (times.isEmpty) 0.0 else times(times.length / 2)
    val threshold = math.max(2.0, 4.0 * median)
    val recheck = results.filter(_._2.dt > threshold).map { case (name, suite) =>
      // An isolated re-run must re-pay any shared memo build it uses —
      // otherwise the first memo consumer's build-inclusive in-suite
      // time would be REPLACED by a warm-memo recheck and the build
      // would silently vanish from adjusted_total.
      CkptMemo.invalidateAll()
      val Seq((_, re)) = runPass(spark, selected.filter(_._1 == name), sfDir, "recheck")
      if (suite.dt > 3.0 * re.dt)
        System.err.println(f"[bench] WARNING: $name in-suite ${suite.dt}%.2f s vs re-run ${re.dt}%.2f s " +
          "— suite number contaminated by cross-query state")
      name -> re.dt
    }
    val (line, detail) = render(sfDir, secondaryDir, results, secondary, recheck)
    // only FULL passes may overwrite the committed record, never a
    // dev-loop partial run (named-query args)
    if (args.isEmpty)
      try java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH_LOCAL.json"), detail + "\n")
      catch { case e: Throwable => System.err.println(s"[bench] BENCH_LOCAL.json write failed: ${e.getMessage}") }
    println(line)
    spark.stop()
  }
}
