package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Cross-query memo of eagerly `localCheckpoint(true)`-materialized builds
  * (graph.Backbone, dedup.MinHashLSH, queries.SuffixDedupQueries), keyed per
  * (application, session, build key) so independent sessions never read
  * each other's checkpoint blocks.
  *
  * SELF-HEALING (round-13): a locally-checkpointed RDD whose blocks have
  * been dropped — e.g. by a blanket `unpersist` sweep from someone else's
  * cleanup — fails permanently with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND; a
  * memo that kept handing out such a frame would poison every later
  * consumer. So a cache hit is validated first: every checkpointed RDD
  * backing the cached value must still be persisted (unpersist resets the
  * RDD's storage level to NONE). A dead entry is evicted and rebuilt
  * instead of returned. Validation is plan-tree inspection only — no job
  * runs.
  *
  * LOCKING (round-14, ADVICE-high fix): builds run OUTSIDE the map —
  * Backbone nests memoized builds (coSupplyTriangleCount →
  * coSupplyOriented → coSupplyWeighted), and a nested
  * `computeIfAbsent` that lands in the bin holding the outer call's
  * ReservationNode throws IllegalStateException("Recursive update") on
  * JDK 9+. `get` → build outside → `putIfAbsent`; a rare concurrent
  * duplicate build is harmless (entries are idempotent checkpoints) and
  * the loser's blocks are unpersisted immediately.
  *
  * OWNERSHIP (round-14): each entry records the RDD ids of its
  * checkpointed leaves. [[CkptMemo.liveRddIds]] exposes the union across
  * all memo instances so Bench.cleanup can unpersist every checkpointed
  * RDD that is NOT a live memo entry (per-query internal checkpoints
  * must not outlive their query), and [[CkptMemo.invalidateAll]] drops
  * every entry (unpersisting its blocks) so an isolated re-run re-pays
  * the build instead of silently hitting a warm memo.
  */
final class CkptMemo[V] {
  private final case class Entry(v: V, rdds: Seq[RDD[_]])
  private val map = new ConcurrentHashMap[String, Entry]()
  CkptMemo.instances.add(this)

  private[graft] def leafRdds(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.logical.collectLeaves().collect { case l: LogicalRDD => l.rdd }

  private def alive(e: Entry): Boolean =
    e.rdds.forall(_.getStorageLevel != StorageLevel.NONE)

  /** The memoized value for `key`, rebuilding if absent or if any of its
    * checkpointed frames (per `frames`) has lost its blocks. */
  def getOrBuild(spark: SparkSession, key: String)(build: => V)(frames: V => Seq[DataFrame]): V = {
    val k = s"${spark.sparkContext.applicationId}|${System.identityHashCode(spark)}|$key"
    val cached = map.get(k)
    if (cached != null && alive(cached)) cached.v
    else {
      if (cached != null) map.remove(k, cached)
      val v = build // outside the map: nested getOrBuild is safe here
      val e = Entry(v, frames(v).flatMap(leafRdds))
      val prev = map.putIfAbsent(k, e)
      if (prev == null) v
      else { // lost a benign race: drop the duplicate's blocks, use the winner
        e.rdds.foreach(_.unpersist(blocking = false))
        prev.v
      }
    }
  }

  private[graft] def ownedIds: Set[Int] = {
    import scala.jdk.CollectionConverters._
    map.values.asScala.flatMap(_.rdds.map(_.id)).toSet
  }

  private[graft] def invalidate(): Unit = {
    import scala.jdk.CollectionConverters._
    map.values.asScala.foreach(_.rdds.foreach(_.unpersist(blocking = false)))
    map.clear()
  }
}

object CkptMemo {
  private val instances = ConcurrentHashMap.newKeySet[CkptMemo[_]]()

  /** RDD ids of every live memo entry across all memo instances — the
    * checkpointed RDDs a benchmark cleanup must NOT sweep. */
  def liveRddIds: Set[Int] = {
    import scala.jdk.CollectionConverters._
    instances.asScala.flatMap(_.ownedIds).toSet
  }

  /** Drop every memo entry and unpersist its checkpoint blocks. Used by
    * Bench's recheck path so an isolated re-run re-pays the shared build
    * instead of reporting a warm-memo time as the query's cost. */
  def invalidateAll(): Unit = {
    import scala.jdk.CollectionConverters._
    instances.asScala.foreach(_.invalidate())
  }
}
