package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Ops come from the benchmark, jobs and stages from
  * the Spark listener; every span of a run carries the run id and points
  * at the span that caused it (a job's parent is its op, a stage's parent
  * is its job). Times are epoch milliseconds. */
final case class Span(id: String, parent: String, kind: String, name: String,
                      layer: String, startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

object Spans {
  /** Total length of the union of intervals, in ms. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total, curS, curE = 0.0
    var open = false
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (!open) { curS = s; curE = e; open = true }
      else if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total
  }

  /** Self time per layer, in seconds: a span's duration minus the part of
    * its interval its children cover (children clipped to the parent).
    * Leaf spans keep their whole duration. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupMapReduce(_.layer) { s =>
      val covered = unionMs(children.getOrElse(s.id, Nil).map { c =>
        (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs))
      })
      (s.durMs - covered) / 1000.0
    }(_ + _)
  }
}

/** Executor-side totals of one stage. */
final case class StageStats(tasks: Int, cpuNs: Long, runMs: Long,
                            gcMs: Long, shuffleReadB: Long, shuffleWriteB: Long,
                            spillB: Long, maxTaskMs: Long, medianTaskMs: Long)

/** Attribution of one job to graft's code: the module and object of the
  * innermost graft frame of its call site, if any. */
final case class JobInfo(id: Int, op: String, startMs: Long, var endMs: Long,
                         module: Option[String], obj: Option[String],
                         stageIds: Seq[Int])

/** The listeners a traced run registers: a SparkListener for jobs, stages
  * and tasks, and a QueryExecutionListener for planning phases. Untraced
  * runs register neither. */
final class Tracer(spark: SparkSession) {
  val jobs = mutable.LinkedHashMap.empty[Int, JobInfo]
  val stageEnds = mutable.Map.empty[Int, (Long, Long)] // stage -> (submit, complete)
  val stageStats = mutable.Map.empty[Int, StageStats]
  /** stage -> the job it ran under. */
  val stageOwner = mutable.Map.empty[Int, Int]
  private val running = mutable.Set.empty[Int]
  private val executions = mutable.Map.empty[Long, (Option[String], Option[String])]
  private val taskTimes = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  /** (phase start epoch ms, planning ms) per finished query execution. */
  val planning = mutable.ArrayBuffer.empty[(Long, Double)]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.OpProperty))).getOrElse("")
      val result = e.stageInfos.maxByOption(_.stageId)
      // AQE submits query-stage jobs from a pool thread whose stack holds
      // no user frame; those take the call site of their SQL execution
      val own = result.map(s => Tracer.attribute(s.details)).getOrElse((None, None))
      val execution = Option(e.properties)
        .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
        .flatMap(id => executions.get(id.toLong))
      val (module, obj) = if (own._1.isEmpty) execution.getOrElse(own) else own
      jobs(e.jobId) = JobInfo(e.jobId, op, e.time, e.time, module, obj, e.stageIds)
      running += e.jobId
    }
    // a stage runs once, under the earliest running job that lists it;
    // later jobs list it too but skip it
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val sid = e.stageInfo.stageId
      if (!stageOwner.contains(sid))
        jobs.values.find(j => running(j.id) && j.stageIds.contains(sid))
          .foreach(j => stageOwner(sid) = j.id)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized {
        executions(s.executionId) = Tracer.attribute(s.details)
      }
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
      running -= e.jobId
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (e.taskInfo != null)
        taskTimes.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val tm = si.taskMetrics
      val times = taskTimes.remove(si.stageId).map(_.sorted).getOrElse(mutable.ArrayBuffer.empty[Long])
      val (mx, med) = if (times.isEmpty) (0L, 0L) else (times.last, times(times.size / 2))
      stageEnds(si.stageId) = (si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L))
      if (tm != null)
        stageStats(si.stageId) = StageStats(si.numTasks,
          tm.executorCpuTime, tm.executorRunTime, tm.jvmGCTime,
          tm.shuffleReadMetrics.totalBytesRead, tm.shuffleWriteMetrics.bytesWritten,
          tm.memoryBytesSpilled + tm.diskBytesSpilled, mx, med)
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val phases = qe.tracker.phases
      val ms = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs.toDouble).sum
      val start = phases.values.map(_.startTimeMs).minOption.getOrElse(0L)
      planning += ((start, ms))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Deliver every queued event, then detach. */
  def stop(): Unit = {
    Tracer.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}

object Tracer {
  /** Local property naming the op that started a job. */
  val OpProperty = "perfbench.op"

  /** Map a stage's long call site to (module, object) of its innermost
    * frame outside Spark: `graft.functions.Dedup$.x(Dedup.scala:9)` gives
    * (functions, Dedup). A job the benchmark's own code started gives
    * nothing; it belongs to the op's own layer. */
  def attribute(details: String): (Option[String], Option[String]) = {
    val frames = Option(details).getOrElse("").split("\n").map(_.trim)
    frames.find(f => f.startsWith("graft.") || f.startsWith("perfbench.")) match {
      case Some(f) if f.startsWith("graft.") =>
        val cls = f.takeWhile(_ != '(').split('.').dropRight(1)
        val pkg = cls.dropRight(1)
        val obj = cls.lastOption.map(_.takeWhile(_ != '$')).filter(_.nonEmpty)
        (Some(moduleOf(pkg.drop(1).headOption.getOrElse(""))), obj)
      case _ => (None, None)
    }
  }

  /** graft's packages grouped into the benchmark's layers. */
  def moduleOf(pkg: String): String = pkg match {
    case "parse"                       => "parse"
    case "model" | "units" | "origin"  => "model"
    case "io" | "load"                 => "io"
    case "sources"                     => "sources"
    case "operators"                   => "operators"
    case "functions"                   => "functions"
    case "streaming"                   => "streaming"
    case _                             => "queries"
  }

  /** Wait until the listener bus has delivered every posted event. */
  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchBridge.waitForListeners(sc)
}

/** Turns a traced run's spans into per-layer metrics, each per traced
  * cycle, and writes the spans out. */
object Layers {
  def compute(rec: Recorder, tr: Tracer, outDir: java.nio.file.Path,
              workload: String, seed: Long): Map[String, Double] = {
    val ops = rec.samples.filter(_.traced).toSeq
    val n = math.max(1, ops.map(_.cycle).distinct.size).toDouble
    val opIds = ops.map(_.id).toSet
    def opOf(j: JobInfo): Option[String] =
      if (opIds(j.op)) Some(j.op)
      else ops.find(o => o.startMs <= j.startMs && j.startMs <= o.endMs).map(_.id)
    val opById = ops.map(o => o.id -> o).toMap
    val jobs = tr.jobs.values.toSeq.flatMap(j => opOf(j).map(o => (j, opById(o))))
    val stagesOf = stagesByJob(jobs.map(_._1), tr.stageOwner).map { case (j, ids) =>
      j -> ids.flatMap(s => tr.stageStats.get(s).map(s -> _)) }
    val allStages = stagesOf.values.flatten.map(_._2).toSeq

    val runId = s"$workload-$seed-${rec.hashCode.toHexString}"
    val spans = ops.map(o => Span(o.id, runId, "op", o.name, o.layer,
      o.startMs.toDouble, o.endMs.toDouble)) ++
      jobs.map { case (j, o) => Span(s"job-${j.id}", o.id, "job",
        j.obj.getOrElse(""), j.module.getOrElse(o.layer), j.startMs.toDouble, j.endMs.toDouble) } ++
      jobs.flatMap { case (j, _) => stagesOf(j.id).flatMap { case (sid, _) =>
        tr.stageEnds.get(sid).map { case (s, e) =>
          Span(s"stage-$sid", s"job-${j.id}", "stage", s"stage $sid", "stages",
            s.toDouble, e.toDouble) } } }
    writeSpans(outDir.resolve(s"spans-$workload-$seed.jsonl"), runId, spans)

    val m = scala.collection.mutable.Map.empty[String, Double]
    m("stages.jobs") = jobs.size / n
    m("stages.stages") = allStages.size / n
    m("stages.tasks") = allStages.map(_.tasks).sum / n
    m("stages.executor_cpu_s") = allStages.map(_.cpuNs).sum / 1e9 / n
    m("stages.executor_run_s") = allStages.map(_.runMs).sum / 1e3 / n
    m("stages.gc_s") = allStages.map(_.gcMs).sum / 1e3 / n
    m("stages.shuffle_read_mb") = allStages.map(_.shuffleReadB).sum / 1e6 / n
    m("stages.shuffle_write_mb") = allStages.map(_.shuffleWriteB).sum / 1e6 / n
    m("stages.spill_mb") = allStages.map(_.spillB).sum / 1e6 / n
    val multi = allStages.filter(s => s.tasks >= 2 && s.medianTaskMs > 0)
    m("stages.task_skew") =
      if (multi.isEmpty) 1.0
      else multi.map(_.maxTaskMs).sum.toDouble / multi.map(_.medianTaskMs).sum

    jobs.filter(_._1.module.contains("functions")).groupBy { case (j, _) =>
      j.obj.filter(Metrics.functionObjects.contains).getOrElse("other")
    }.foreach { case (obj, js) =>
      val st = js.flatMap { case (j, _) => stagesOf(j.id).map(_._2) }
      m(s"functions.$obj.jobs") = js.size / n
      m(s"functions.$obj.cpu_s") = st.map(_.cpuNs).sum / 1e9 / n
      m(s"functions.$obj.shuffle_mb") = st.map(_.shuffleWriteB).sum / 1e6 / n
    }

    val jobsByOp = jobs.groupBy(_._2.id)
    m("driver.uncovered_s") = ops.map { o =>
      o.seconds - Spans.unionMs(jobsByOp.getOrElse(o.id, Nil).map { case (j, _) =>
        (math.max(j.startMs, o.startMs).toDouble, math.min(j.endMs, o.endMs).toDouble) }) / 1e3
    }.sum / n
    m("driver.planning_s") = tr.planning.filter { case (t, _) =>
      ops.exists(o => o.startMs <= t && t <= o.endMs) }.map(_._2).sum / 1e3 / n
    val statsOps = ops.filter(_.name == "stats_count")
    m("sources.stats_count_jobs") =
      statsOps.map(o => jobsByOp.getOrElse(o.id, Nil).size).sum.toDouble / math.max(1, statsOps.size)
    Spans.selfTimes(spans).foreach { case (layer, s) => m(s"self.${layer}_s") = s / n }
    m.toMap
  }

  /** Each stage id goes to exactly one job: the job it ran under, else the
    * first job that lists it. With AQE a query's final job lists the
    * shuffle stages its map-stage jobs already ran, as skipped stages with
    * the same ids; counting them there too would count their work twice. */
  def stagesByJob(jobs: Seq[JobInfo], ranUnder: collection.Map[Int, Int]): Map[Int, Seq[Int]] = {
    val seen = scala.collection.mutable.Set.empty[Int]
    jobs.map(j => j.id -> j.stageIds.filter(s => ranUnder.get(s).forall(_ == j.id) && seen.add(s))).toMap
  }

  private def writeSpans(path: java.nio.file.Path, runId: String, spans: Seq[Span]): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val lines = spans.map(s => s"{\"run\": ${q(runId)}, \"id\": ${q(s.id)}, " +
      s"\"parent\": ${q(s.parent)}, \"kind\": ${q(s.kind)}, \"name\": ${q(s.name)}, " +
      s"\"layer\": ${q(s.layer)}, \"start_ms\": ${s.startMs}, \"end_ms\": ${s.endMs}}")
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
