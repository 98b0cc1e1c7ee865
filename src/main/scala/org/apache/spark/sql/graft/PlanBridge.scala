package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.SparkListenerInterface
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.internal.SessionState
import org.apache.spark.sql.streaming.StreamingQuery

/** Bridge to `internalCreateDataFrame` (package `org.apache.spark.sql`
  * visibility): rebuilds a DataFrame over the physical rows of an existing
  * one, so the new frame's LOGICAL plan is a flat `LogicalRDD` instead of
  * the full upstream tree.
  *
  * Why this exists: an iteratively-built DataFrame (label propagation,
  * Lloyd iterations) has a logical plan that roughly DOUBLES per round —
  * the analyzer, cache-lookup canonicalization, and AQE re-planning walk
  * that whole tree on EVERY downstream action, which can cost tens of
  * driver seconds per action while the actual stages take milliseconds.
  * This is the same truncation `Dataset.checkpoint` performs, but over an
  * in-memory persisted plan instead of checkpoint files, so the normal
  * persist/unpersist cache contract keeps working.
  */
object PlanBridge {
  /** New DataFrame with identical rows/schema and a flat logical plan. The
    * result is LAZY and unpersisted; its lineage re-executes `df`'s
    * physical plan (hitting `df`'s cache while that is live).
    *
    * Rows are copied out of the physical iterator (as `Dataset.checkpoint`
    * does) because `execute()` may yield REUSED UnsafeRow buffers: without
    * the copy, a caller persisting or localCheckpointing the underlying RDD
    * would store aliased buffers and read corrupted rows. */
  def flattenPlan(df: DataFrame): DataFrame = {
    val sess = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    sess.internalCreateDataFrame(
      df.queryExecution.toRdd.map(_.copy()).setName("graft_flattened_plan"),
      df.schema)
  }

  /** Planned parallelism of a bare scan pipeline, WITHOUT executing any
    * upstream stage.
    *
    * Returns Some(partition count) when `df`'s prepared physical plan is
    * exchange-free — a scan pipeline, possibly under projections, filters
    * or unions — in which case building the plan's RDD only enumerates the
    * planned input splits (no job runs: adaptive execution materializes
    * query STAGES, and stages exist only at exchanges). Returns None when
    * the plan contains an exchange, explicit (repartition) or implicit (the
    * shuffles EnsureRequirements adds under aggregates, joins, sorts and
    * windows): there the downstream parallelism is governed by shuffle
    * partitions / AQE anyway, and building the RDD would finalize the
    * adaptive plan and EXECUTE every upstream shuffle stage as a throwaway
    * job. The probe reads the prepared plan (`executedPlan`, or the
    * adaptive plan's initial plan, which already carries the exchanges);
    * the planner's `sparkPlan` predates EnsureRequirements and shows only
    * explicit repartitions. */
  def scanParallelism(df: DataFrame): Option[Int] = {
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val hasExchange = plan.find {
      case _: org.apache.spark.sql.execution.exchange.Exchange => true
      case _ => false
    }.isDefined
    if (hasExchange) None
    else Some(df.queryExecution.toRdd.getNumPartitions)
  }

  private def classic(df: DataFrame) =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]

  /** Run `body` against a child of `spark` whose conf differs by
    * `overrides`; the caller's own conf is never written, so its other
    * threads keep planning with it meanwhile. The child is a clone, not a
    * `newSession()`: it keeps the caller's runtime conf (ANSI mode, time
    * zone), and the temp views and functions the caller had when it was
    * cloned. It shares the caller's cache manager, so a frame cached from
    * one session is served to the other. Frames cross between the two
    * through [[rebind]].
    *
    * The child is reused while the caller and its conf stay the same, and
    * cloned again when either changes. A fresh session is not free: its
    * jobs run under their own executor class loader, so every generated
    * class is compiled again (measured: 5 compilations, about 120 ms, for
    * a two-stage aggregate), and its first stream builds the child's own
    * query manager, whose listener bus then stays on the shared listener
    * bus for the child's life. The per-query buses of its streams do not
    * stay: [[dropStreamListenerBus]] removes each when its query ends. */
  def withChildSession[A](spark: SparkSession, overrides: (String, String)*)(
      body: SparkSession => A): A = {
    val child = childOf(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], overrides)
    child.withActive(body(child))
  }

  /** Per override set: the caller, its conf when cloned, and the child. */
  private val children = scala.collection.mutable.Map.empty[Seq[(String, String)],
    (SparkSession, Map[String, String], org.apache.spark.sql.classic.SparkSession)]

  private def childOf(spark: org.apache.spark.sql.classic.SparkSession,
                      overrides: Seq[(String, String)]) = children.synchronized {
    val conf = spark.sessionState.conf.getAllConfs
    children.get(overrides) match {
      case Some((caller, seen, child)) if (caller eq spark) && seen == conf => child
      case _ =>
        val child = spark.cloneSession()
        overrides.foreach { case (k, v) => child.conf.set(k, v) }
        children(overrides) = (spark, conf, child)
        child
    }
  }

  /** Remove the listener bus of ended query `q`'s own session clone
    * (`sparkSessionForStream`) from the shared listener bus. A stateful
    * operator builds that clone's query manager, whose bus Spark never
    * removes; stateless queries build none, and this is then a no-op. Only
    * this query's bus goes, found by identity and never by diffing the bus
    * list (which could take a concurrent run's bus or the caller's). Reads
    * without forcing either lazy value, and never waits. */
  def dropStreamListenerBus(q: StreamingQuery): Unit = {
    val forStream = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.sparkSessionForStream
    Option(QueryManagerField.get(forStream.sessionState)).foreach { manager =>
      forStream.sparkContext.listenerBus.removeListener(
        ManagerBusField.get(manager).asInstanceOf[SparkListenerInterface])
    }
  }

  /** The storage of the lazy `SessionState.streamingQueryManager`, and
    * `classic.StreamingQueryManager`'s private bus. */
  private lazy val QueryManagerField = field(classOf[SessionState], "streamingQueryManager")
  private lazy val ManagerBusField =
    field(classOf[org.apache.spark.sql.classic.StreamingQueryManager], "listenerBus")
  private def field(cls: Class[_], name: String) = {
    val f = cls.getDeclaredField(name); f.setAccessible(true); f
  }

  /** `df`'s plan as a frame of `session`: planned and run with that
    * session's conf. */
  def rebind(df: DataFrame, session: SparkSession): DataFrame =
    if (df.sparkSession eq session) df
    else org.apache.spark.sql.classic.Dataset.ofRows(
      session.asInstanceOf[org.apache.spark.sql.classic.SparkSession], classic(df).logicalPlan)

  /** The key of the cache-manager entry serving `df`'s plan, if any: the
    * entry's own plan object, which survives the cache manager rebuilding
    * the entry. It is the handle [[graft.functions.CacheScope]] registers
    * and later frees by. */
  def cacheEntry(df: DataFrame): Option[LogicalPlan] = {
    val ds = classic(df)
    ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds).map(_.plan)
  }

  /** Fill `df`'s cache entry now by running the entry's own batch RDD:
    * one job beyond the shuffle stages the cached plan itself needs. A
    * `count()` would plan an aggregate over the cache, whose exchange makes
    * adaptive execution run the cache as a separate stage, then the
    * partial-count shuffle, then the final job. */
  def fill(df: DataFrame): Unit = {
    val ds = classic(df)
    ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds)
      .foreach(_.cachedRepresentation.cacheBuilder.cachedColumnBuffers.count())
  }

  /** Whether the entry keyed by `entry` still serves its plan. */
  def isCached(df: DataFrame, entry: LogicalPlan): Boolean = {
    val sess = classic(df).sparkSession
    sess.sharedState.cacheManager.lookupCachedData(sess, entry).exists(_.plan eq entry)
  }

  /** Drop exactly the entry keyed by `entry`: a no-op once it is freed, or
    * when another owner's entry serves the plan now. */
  def uncache(df: DataFrame, entry: LogicalPlan, blocking: Boolean): Unit =
    if (isCached(df, entry)) {
      val sess = classic(df).sparkSession
      sess.sharedState.cacheManager.uncacheQuery(sess, entry, cascade = false, blocking)
    }

  /** The RDD behind a checkpointed frame (the LogicalRDD `Dataset.checkpoint`
    * and `localCheckpoint` build over their copy of the rows); its blocks are
    * what a local checkpoint keeps alive. */
  def checkpointRdd(df: DataFrame): RDD[_] = df.queryExecution.analyzed match {
    case l: LogicalRDD => l.rdd
    case other => throw new IllegalArgumentException(
      s"not a checkpointed frame: ${other.nodeName}")
  }
}
