package graftbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and counters for the traced run, recorded in memory from the
  * benchmark's own timers and Spark's public listeners, written out once
  * at the end.
  *
  * A span is (id, parent, name, start, end); spans of one query or one
  * trigger share the root's id through their parent links. Jobs find
  * their parent through a local property set around each call into
  * graft, stages through their job, planning phases through the query
  * that is running when the QueryExecutionListener fires (the traced run
  * drains the listener bus after every query, so that attribution is
  * exact). Counters are summed at the same boundaries.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val counters = new ConcurrentHashMap[String, LongAdder]()
  private val jobSpan = new ConcurrentHashMap[Int, (Long, Long, Long)]() // job -> (span, parent, start)
  private val stageJob = new ConcurrentHashMap[Int, Long]()              // stage -> job span
  private val stageReads = new ConcurrentHashMap[(Int, Int), ConcurrentLinkedQueue[Long]]()
  private val skews = new ConcurrentLinkedQueue[Double]()
  /** Root span the listener-side events are attributed to. */
  @volatile var current: Long = 0L
  /** Executed-plan hash of each finished query execution, by root span. */
  val planHashes = new ConcurrentHashMap[Long, String]()
  /** Wall time spent inside this tracer's callbacks and drains. */
  private val ownNs = new LongAdder
  /** Name of each span opened by [[span]], so jobs can be counted by layer. */
  private val kind = new ConcurrentHashMap[Long, String]()

  private def timed[T](f: => T): T = {
    val t = System.nanoTime()
    try f finally ownNs.add(System.nanoTime() - t)
  }

  def nextId(): Long = ids.incrementAndGet()
  def add(name: String, v: Long): Unit = counters.computeIfAbsent(name, _ => new LongAdder).add(v)
  def snapshot(): Map[String, Long] = counters.asScala.map { case (k, v) => k -> v.sum }.toMap
  def record(s: Span): Unit = spans.add(s)
  def overheadMs: Double = ownNs.sum / 1e6
  def skewSamples: Seq[Double] = skews.asScala.toSeq

  /** Run `body` as span `name` under `parent`, with jobs it starts
    * attributed to the new span. Returns the result and the span. */
  def span[T](name: String, parent: Long)(body: => T): (T, Span) = {
    val id = nextId()
    kind.put(id, name)
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, id.toString)
    val start = nowMs()
    try {
      val r = body
      val s = Span(id, parent, name, start, nowMs())
      record(s)
      (r, s)
    } finally sc.setLocalProperty(SpanProp, prev)
  }

  /** Wait until every posted listener event has been handled. */
  def drain(): Unit = timed(BenchBus.drain(sc))

  private object sparkListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toLong).getOrElse(current)
      val id = nextId()
      jobSpan.put(e.jobId, (id, parent, e.time))
      e.stageIds.foreach(s => stageJob.put(s, id))
      add("sched.jobs", 1)
      if (kind.get(parent) == "build") add("queries.build_jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      Option(jobSpan.remove(e.jobId)).foreach { case (id, parent, start) =>
        record(Span(id, parent, "job", start.toDouble, e.time.toDouble))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      val si = e.stageInfo
      add("sched.stages", 1)
      for (s <- si.submissionTime; c <- si.completionTime)
        record(Span(nextId(), Option(stageJob.get(si.stageId)).getOrElse(current), "stage",
          s.toDouble, c.toDouble))
      Option(stageReads.remove((si.stageId, si.attemptNumber()))).foreach { q =>
        val reads = q.asScala.toSeq.sorted
        skews.add(reads.last.toDouble / math.max(1L, reads(reads.length / 2)))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      add("sched.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("task.run_ms", m.executorRunTime)
        add("task.cpu_ns", m.executorCpuTime)
        add("task.gc_ms", m.jvmGCTime)
        add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
        add("shuffle.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        add("scan.bytes", m.inputMetrics.bytesRead)
        add("scan.records", m.inputMetrics.recordsRead)
        if (m.shuffleReadMetrics.totalBytesRead > 0)
          stageReads.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new ConcurrentLinkedQueue[Long]())
            .add(m.shuffleReadMetrics.totalBytesRead)
      }
    }
  }

  private object qeListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = timed {
      val parent = current
      // the phases of the statement that ran; analysis of the query's own
      // DataFrame happened eagerly inside the build span
      for ((phase, key) <- Seq("analysis" -> "planning.analysis_ms",
                               "optimization" -> "planning.optimization_ms",
                               "planning" -> "planning.physical_ms");
           p <- qe.tracker.phases.get(phase)) {
        add(key, p.durationMs)
        record(Span(nextId(), parent, s"plan.$phase", p.startTimeMs.toDouble, p.endTimeMs.toDouble))
      }
      planHashes.put(parent, planHash(qe.executedPlan.treeString))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Streaming progress events, in arrival order (trigger spans are made
    * from them by the stream workload, which knows the run's queries). */
  val progress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()
  private object streamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      timed(progress.add(e))
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Attach the listeners; [[pause]] detaches them for an untraced stretch. */
  def resume(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }
  def pause(): Unit = {
    drain()
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }
  resume()

  /** Self time per span name: each span's duration minus the part of
    * its interval its children cover, summed by name (ms). */
  def selfTimes(): Map[String, Double] = {
    val all = spans.asScala.toSeq
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map(s => s.dur - covered(s.start, s.end, kids.getOrElse(s.id, Nil))).sum
    }
  }

  /** Per root span: its duration minus the time some descendant stage ran (ms). */
  def idleMs(root: Span): Double = {
    val all = spans.asScala.toSeq
    val kids = all.groupBy(_.parent)
    def stages(id: Long): Seq[Span] =
      kids.getOrElse(id, Nil).flatMap(k => if (k.name == "stage") Seq(k) else stages(k.id))
    root.dur - covered(root.start, root.end, stages(root.id))
  }

  def writeSpans(path: String): Unit = {
    val lines = spans.asScala.toSeq.sortBy(_.start).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""start_ms":${Json.num(s.start)},"end_ms":${Json.num(s.end)}""" +
        s.attrs.map { case (k, v) => s",${Json.str(k)}:${Json.str(v)}" }.mkString + "}"
    }
    Files.write(Paths.get(path), lines.asJava)
  }
}

object Tracer {
  val SpanProp = "graftbench.span"

  final case class Span(id: Long, parent: Long, name: String, start: Double, end: Double,
                        attrs: Map[String, String] = Map.empty) {
    def dur: Double = end - start
  }

  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble
  /** Epoch milliseconds with sub-millisecond resolution. */
  def nowMs(): Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  /** Length of the union of `spans` clipped to [start, end]. */
  def covered(start: Double, end: Double, spans: Seq[Span]): Double = {
    val iv = spans.map(s => (math.max(start, s.start), math.min(end, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total, curA, curB = 0.0
    var open = false
    for ((a, b) <- iv) {
      if (!open || a > curB) { if (open) total += curB - curA; curA = a; curB = b; open = true }
      else curB = math.max(curB, b)
    }
    if (open) total += curB - curA
    total
  }

  /** Hash of an executed plan with run-specific ids and paths removed. */
  def planHash(tree: String): String = {
    val norm = tree
      .replaceAll("#\\d+L?", "#")
      .replaceAll("plan_id=\\d+", "plan_id=")
      .replaceAll("(QueryStage|ExistingRDD|Scan) \\d+", "$1 ")
      .replaceAll("file:[^,\\]\\s]+", "file:")
    val md = java.security.MessageDigest.getInstance("SHA-256").digest(norm.getBytes("UTF-8"))
    md.take(6).map("%02x".format(_)).mkString
  }
}
