package graft.functions

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.storage.StorageLevel

/** The one owner of persisted intermediates. Every `persist`,
  * `localCheckpoint` and `checkpoint` in the operator, query and streaming
  * layers goes through a scope, and the scope alone decides when each is
  * freed:
  *
  *  1. On any exit, return or throw, it frees every intermediate it
  *     registered except the returned frame; a throw frees that frame too.
  *     It frees by the handle it registered (the cache-manager entry, or
  *     the RDD behind a checkpoint), never by plan match: freeing one
  *     generation cannot evict a sibling whose plan canonicalizes the
  *     same, and a returned projection over a cached frame is no longer a
  *     frame nobody can free.
  *  2. When intermediates are still live at exit, the returned frame is
  *     cached (MEMORY_AND_DISK) and materialized first, so nothing it reads
  *     is freed under it. An eager operator that runs inside an enclosing
  *     scope passes its result to that scope; a top-level caller owns one
  *     `unpersist()` on it.
  *  3. A scope with nothing live to free returns its frame untouched: no
  *     persist, no extra job.
  *
  * Scopes nest per thread. A callback Spark runs on another thread (a
  * streaming `foreachBatch`) joins its scope with [[enter]].
  */
final class CacheScope private (parent: Option[CacheScope]) {
  import CacheScope._

  private val live = mutable.ArrayBuffer.empty[Handle]

  /** Cache `df` (lazily, MEMORY_AND_DISK) until this scope frees it. A
    * plan some other owner already caches stays that owner's. */
  def cache(df: DataFrame): DataFrame = {
    if (PlanBridge.cacheEntry(df).isEmpty) {
      df.persist(StorageLevel.MEMORY_AND_DISK)
      PlanBridge.cacheEntry(df).foreach(e => live += new Cached(df, e))
    }
    df
  }

  /** [[cache]] `df` and fill it now (one job). A returned frame filled
    * this way is not filled again on exit. */
  def materialize(df: DataFrame): DataFrame = {
    cache(df)
    PlanBridge.fill(df)
    holding(df).foreach(_.filled = true)
    df
  }

  /** Eagerly truncate `df`'s lineage: a reliable checkpoint when the
    * session has a checkpoint directory (files on stable storage, which
    * survive executor loss), else a local one whose executor-held blocks
    * this scope frees. */
  def checkpoint(df: DataFrame): DataFrame = {
    val cp =
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager = true)
      else df.localCheckpoint(eager = true)
    live += new Checkpoint(cp, PlanBridge.checkpointRdd(cp))
    cp
  }

  /** Free `df` now (a superseded generation, a barrier no later step
    * reads). A frame this scope does not hold is left alone. */
  def free(df: DataFrame, blocking: Boolean = true): Unit =
    holding(df).foreach { h => live -= h; h.release(blocking) }

  /** `rounds` generations of `step` from `init`. Each generation is
    * flattened and materialized before its predecessor is freed, so plan
    * size and live cache stay constant in the round count. Returns the
    * last generation, materialized. */
  def iterate(init: DataFrame, rounds: Int)(step: DataFrame => DataFrame): DataFrame =
    (1 to rounds).foldLeft(materialize(init)) { (cur, _) =>
      val next = materialize(PlanBridge.flattenPlan(step(cur)))
      free(cur, blocking = false)
      next
    }

  /** Run `body` on the current thread with this scope as the enclosing
    * one: eager operators it calls register their results here. */
  def enter[A](body: => A): A = {
    val saved = current.get
    current.set(Some(this))
    try body finally current.set(saved)
  }

  /** The handles holding `df`: the one registered for this very frame,
    * else the cache entry serving its plan. */
  private def holding(df: DataFrame): Seq[Handle] =
    live.filter(_.frame eq df).toSeq match {
      case Seq() =>
        val entry = PlanBridge.cacheEntry(df)
        live.collect { case h: Cached if entry.exists(_ eq h.entry) => h }.toSeq
      case byFrame => byFrame
    }

  private def releaseAll(): Unit = {
    val hs = live.toList
    live.clear()
    // one failed release must neither stop the others nor mask the body's
    // own exception
    hs.foreach(h => try h.release(blocking = true) catch { case _: Throwable => () })
  }

  /** Rules 1-3 on a normal exit; `result` is the returned frame, if any.
    * Handles leave `live` only once nothing can throw, so a failed
    * materialization still frees everything. */
  private def close(result: Option[DataFrame]): Unit = {
    live.filterInPlace(_.isLive)
    result.foreach { df =>
      val held = holding(df)
      if (live.size > held.size && !held.exists(_.filled))
        materialize(df) // fill the result's cache before freeing what it reads
    }
    val handedOn = result.map(holding).getOrElse(Nil)
    live --= handedOn
    releaseAll()
    parent.foreach(_.live ++= handedOn) // at top level the caller owns one unpersist()
  }
}

object CacheScope {

  /** One registered intermediate; compared by identity. `filled`: the
    * scope has already materialized it. */
  private sealed abstract class Handle(val frame: DataFrame) {
    var filled = false
    def isLive: Boolean
    def release(blocking: Boolean): Unit
  }
  private final class Cached(frame: DataFrame, val entry: LogicalPlan) extends Handle(frame) {
    def isLive: Boolean = PlanBridge.isCached(frame, entry)
    def release(blocking: Boolean): Unit = PlanBridge.uncache(frame, entry, blocking)
  }
  private final class Checkpoint(frame: DataFrame, rdd: RDD[_]) extends Handle(frame) {
    def isLive: Boolean = rdd.getStorageLevel != StorageLevel.NONE
    def release(blocking: Boolean): Unit = rdd.unpersist(blocking)
  }

  private val current = new ThreadLocal[Option[CacheScope]] {
    override def initialValue(): Option[CacheScope] = None
  }

  /** An eager operator or query body whose result is a frame (rules 1-3). */
  def apply(body: CacheScope => DataFrame): DataFrame = withFrame(body)(identity)

  /** As [[apply]], for a body returning a frame together with other values
    * (a report, centroids); `frame` picks the returned frame out. */
  def withFrame[A](body: CacheScope => A)(frame: A => DataFrame): A =
    scoped(body)(a => Some(frame(a)))

  /** A body whose result holds no frame: everything it cached is freed on
    * exit. */
  def run[A](body: CacheScope => A): A = scoped(body)(_ => None)

  /** A bounded fixed-point loop over `input`: [[apply]] run in a child of
    * `input`'s session with AQE off. `body` gets the scope and `input`
    * rebound into the child; its result is rebound to the caller's
    * session, so downstream plans get the caller's conf back and its cache
    * handle passes to the enclosing scope as for any eager operator. The
    * caller's session conf is never written.
    *
    * Why AQE is off: a loop re-executes the same tiny plan shape every
    * round over flattened, materialized generations, so runtime
    * re-planning adds no information, but AQE re-plans each generation and
    * runs every query stage as its own job. Measured at local[32] sf0.1:
    * pageRank spent 3.3 s of a 7.5 s wall in driver gaps across 85 jobs
    * (about 10 per iteration); without AQE it is about 3 per iteration.
    * Static planning still sees exact sizes for broadcast decisions, since
    * every generation is an in-memory relation. */
  def loop(input: DataFrame)(body: (CacheScope, DataFrame) => DataFrame): DataFrame = {
    val caller = input.sparkSession
    PlanBridge.withChildSession(caller, "spark.sql.adaptive.enabled" -> "false") { child =>
      PlanBridge.rebind(apply(s => body(s, PlanBridge.rebind(input, child))), caller)
    }
  }

  private def scoped[A](body: CacheScope => A)(result: A => Option[DataFrame]): A = {
    val s = new CacheScope(current.get)
    try {
      val a = s.enter(body(s))
      s.close(result(a))
      a
    } catch {
      case t: Throwable => s.releaseAll(); throw t
    }
  }
}
