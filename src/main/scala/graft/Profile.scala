package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** One Spark job's counters, summed over the stages that ran for it. */
final case class JobCounters(id: Int, startMs: Long, endMs: Long,
                             stages: Int = 0, tasks: Int = 0, cpuNs: Long = 0L,
                             shuffleReadBytes: Long = 0L,
                             shuffleWriteBytes: Long = 0L,
                             spillBytes: Long = 0L)

/** What one body of work cost: its wall time, the Spark jobs it ran, and
  * the persisted RDDs it left behind. Jobs, stages, tasks, executor CPU
  * and shuffle bytes are counts that machine contention barely moves, so
  * they tell "the plan changed" from "the same work ran slower". */
final case class Profile(wallNs: Long, startMs: Long, endMs: Long,
                         jobs: Seq[JobCounters], leakedRdds: Int) {
  def stages: Int = jobs.map(_.stages).sum
  def tasks: Int = jobs.map(_.tasks).sum
  def cpuNs: Long = jobs.map(_.cpuNs).sum
  def shuffleReadBytes: Long = jobs.map(_.shuffleReadBytes).sum
  def shuffleWriteBytes: Long = jobs.map(_.shuffleWriteBytes).sum
  def spillBytes: Long = jobs.map(_.spillBytes).sum

  /** Wall time no job covers: planning before the first job, driver work
    * between jobs and after the last one. */
  def uncoveredMs: Long = {
    var covered = 0L
    var cursor = startMs
    jobs.map(j => (math.max(j.startMs, startMs), math.min(math.max(j.endMs, j.startMs), endMs)))
      .sortBy(_._1).foreach { case (s, e) =>
        covered += math.max(0L, e - math.max(s, cursor))
        cursor = math.max(cursor, e)
      }
    math.max(0L, endMs - startMs - covered)
  }
}

object Profile {
  private val TagKey = "graft.profile"

  /** Run `body` and count what it cost. The body's jobs are told apart by
    * a Spark local property, which every thread the body starts inherits:
    * a stream's micro-batch jobs count (a streaming query sets its own job
    * group, so a job-group filter would miss them), while jobs of threads
    * started before the body do not. A sentinel job drains the listener
    * bus, which delivers events in order. Profiles do not nest. */
  def run(spark: SparkSession)(body: => Unit): Profile = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val listener = new Listener(tag)
    val before = sc.getPersistentRDDs.keySet
    sc.addSparkListener(listener)
    try {
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      sc.setLocalProperty(TagKey, tag)
      try body finally sc.setLocalProperty(TagKey, null)
      val wallNs = System.nanoTime() - t0
      val endMs = System.currentTimeMillis()
      val leaked = (sc.getPersistentRDDs.keySet -- before).size
      sc.setLocalProperty(TagKey, tag + "-end")
      try sc.parallelize(Seq(0), 1).count() finally sc.setLocalProperty(TagKey, null)
      Profile(wallNs, startMs, endMs, listener.awaitJobs(), leaked)
    } finally sc.removeSparkListener(listener)
  }

  private final class Listener(tag: String) extends SparkListener {
    private val jobs = mutable.LinkedHashMap.empty[Int, JobCounters]
    private val stageJob = mutable.HashMap.empty[Int, Int]
    private var drained = false

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).map(_.getProperty(TagKey)).orNull match {
        case `tag` =>
          jobs(e.jobId) = JobCounters(e.jobId, e.time, e.time)
          e.stageIds.foreach(stageJob(_) = e.jobId)
        case t if t == tag + "-end" => drained = true; notifyAll()
        case _ =>
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val m = si.taskMetrics
      for (id <- stageJob.get(si.stageId); j <- jobs.get(id) if m != null)
        jobs(id) = j.copy(stages = j.stages + 1, tasks = j.tasks + si.numTasks,
          cpuNs = j.cpuNs + m.executorCpuTime,
          shuffleReadBytes = j.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
          shuffleWriteBytes = j.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
          spillBytes = j.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled)
    }

    def awaitJobs(): Seq[JobCounters] = synchronized {
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!drained && System.nanoTime() < deadline) wait(100)
      if (!drained) throw new IllegalStateException("the listener never saw the sentinel job")
      jobs.values.toSeq
    }
  }
}
