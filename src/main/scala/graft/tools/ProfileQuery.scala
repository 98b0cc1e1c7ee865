package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

import graft.{Bench, GraftSession}

/** Per-job decomposition of a declared query's wall time —
  * distinguishes executor work from driver gaps (planning, persist
  * bookkeeping, barriers) so optimization targets the real cost. Each job
  * line also sums its completed stages' executor CPU, shuffle read/write
  * and spill, so a drifted bench number can be adjudicated: "the plan
  * changed" (different jobs, stages, shuffle bytes) versus "the same work
  * ran slower" (same counts, more wall).
  *
  * Usage: SPARK_GRAFT_SF_DIR=<sfDir> sbt "runMain graft.tools.ProfileQuery <q1,q2,...>"
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()

    case class Job(id: Int, var start: Long = 0L, var end: Long = 0L,
                   var stages: Int = 0, var tasks: Int = 0,
                   var taskTimeMs: Long = 0L, var cpuNs: Long = 0L,
                   var shufReadB: Long = 0L, var shufWriteB: Long = 0L,
                   var spillB: Long = 0L)
    val jobs = mutable.LinkedHashMap[Int, Job]()
    val stageToJob = mutable.HashMap[Int, Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        val j = Job(e.jobId, start = e.time)
        j.stages = e.stageIds.size
        e.stageIds.foreach(sid => stageToJob(sid) = e.jobId)
        jobs(e.jobId) = j
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(e.jobId).foreach(_.end = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = jobs.synchronized {
        val si = e.stageInfo
        val m = si.taskMetrics
        stageToJob.get(si.stageId).foreach { jid =>
          jobs.get(jid).foreach { j =>
            j.tasks += si.numTasks
            j.taskTimeMs += (for {
              s <- si.submissionTime; c <- si.completionTime
            } yield c - s).getOrElse(0L)
            j.cpuNs += m.executorCpuTime
            j.shufReadB += m.shuffleReadMetrics.totalBytesRead
            j.shufWriteB += m.shuffleWriteMetrics.bytesWritten
            j.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
    })

    def run(n: String, dir: String): Unit =
      graft.SparkEntry.queries(n)(spark, dir)
        .write.format("noop").mode("overwrite").save()
    def mb(b: Long): Double = b / 1e6

    names.foreach { n =>
      try run(n, "/root/testdata/sf0.001") catch { case _: Throwable => () }
      Bench.sweep(spark)
      jobs.synchronized { jobs.clear(); stageToJob.clear() }
      val t0 = System.nanoTime()
      run(n, sfDir)
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(200) // let trailing listener events drain
      jobs.synchronized {
        val js = jobs.values.toSeq.sortBy(_.start)
        val jobWall = js.map(j => math.max(0L, j.end - j.start)).sum / 1e3
        // driver gap: time not covered by any job (sequential approximation)
        var covered = 0L
        var cursor = 0L
        js.foreach { j =>
          val s = j.start; val e = math.max(j.end, j.start)
          if (cursor == 0L) cursor = s
          covered += math.max(0L, e - math.max(s, cursor))
          cursor = math.max(cursor, e)
        }
        val span = if (js.nonEmpty) (js.last.end - js.head.start) / 1e3 else 0.0
        println(f"== $n%s wall=$wall%.2fs jobs=${js.size}%d jobWallSum=$jobWall%.2fs jobSpan=$span%.2fs uncovered=${span - covered / 1e3}%.2fs " +
          f"cpu=${js.map(_.cpuNs).sum / 1e9}%.2fs shufRead=${mb(js.map(_.shufReadB).sum)}%.1fMB " +
          f"shufWrite=${mb(js.map(_.shufWriteB).sum)}%.1fMB spill=${mb(js.map(_.spillB).sum)}%.1fMB")
        js.foreach { j =>
          println(f"   job ${j.id}%4d ${(j.end - j.start) / 1e3}%6.2fs stages=${j.stages}%3d tasks=${j.tasks}%5d stageTime=${j.taskTimeMs / 1e3}%6.2fs " +
            f"cpu=${j.cpuNs / 1e9}%6.2fs shufRead=${mb(j.shufReadB)}%8.1fMB shufWrite=${mb(j.shufWriteB)}%8.1fMB spill=${mb(j.spillB)}%6.1fMB")
        }
      }
      Bench.sweep(spark)
    }
    spark.stop()
  }
}
