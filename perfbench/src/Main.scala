package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** One timed call into a layer. `probe` ops exist only to split a layer's
  * time out in traced runs; they never count toward the cycle time. */
final case class OpSample(cycle: Int, traced: Boolean, id: String, name: String,
                          layer: String, probe: Boolean, startMs: Long, endMs: Long,
                          seconds: Double, cpuS: Double, var ok: Boolean, leaked: Int)

/** Times ops, runs their correctness checks, counts failures and leaked
  * cached RDDs, and tags every Spark job an op starts with the op's id. */
final class Recorder(spark: SparkSession) {
  var cycle: Int = -1
  var traced: Boolean = false
  val samples = mutable.ArrayBuffer.empty[OpSample]
  val counters = mutable.Map.empty[(Int, String), Double]
  private var seq = 0

  private val osBean =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNow(): Double = osBean.getProcessCpuTime / 1e9

  /** Run `body` as op `name` of `layer`. Returns None when it threw. The
    * frames `owned` returns belong to the caller; they are not leaks, and
    * the benchmark frees them. Leaks are counted before the sweep that
    * frees them. */
  def op[T](name: String, layer: String, probe: Boolean = false)(body: => T)
           (owned: T => Seq[DataFrame] = (_: T) => Nil): Option[T] = {
    seq += 1
    val id = s"op-$seq"
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    sc.setLocalProperty(Tracer.OpProperty, id)
    val cpu0 = cpuNow()
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val result = try Right(body) catch { case e: Throwable => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    val wall1 = System.currentTimeMillis()
    val cpu = cpuNow() - cpu0
    sc.setLocalProperty(Tracer.OpProperty, null)
    val ownedFrames = result.toOption.map(owned).getOrElse(Nil)
    val fresh = sc.getPersistentRDDs.keySet -- before
    val ownedCached = ownedFrames.count(_.storageLevel != StorageLevel.NONE)
    val leaked = math.max(0, fresh.size - ownedCached)
    if (leaked > 0) System.err.println(s"[perfbench] op $name left $leaked cached RDDs")
    ownedFrames.foreach(_.unpersist(true))
    sweep()
    result.left.foreach { e =>
      System.err.println(s"[perfbench] op $name failed: $e")
      e.printStackTrace()
    }
    samples += OpSample(cycle, traced, id, name, layer, probe, wall0, wall1, secs, cpu,
      result.isRight, leaked)
    result.toOption
  }

  /** A correctness check on the last op named `name`: false or throwing
    * marks it failed, so its time is never reported. */
  def check(name: String, what: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable =>
      System.err.println(s"[perfbench] check '$what' threw: $e"); false
    }
    if (!ok) {
      System.err.println(s"[perfbench] check failed in cycle $cycle: $name: $what")
      samples.findLast(s => s.cycle == cycle && s.name == name).foreach(_.ok = false)
    }
  }

  def count(name: String, v: Double): Unit = counters((cycle, name)) = v

  def seconds(name: String): Option[Double] =
    samples.findLast(s => s.cycle == cycle && s.name == name).map(_.seconds)

  /** Free every cached intermediate an op left behind, so the next op
    * starts from the same state whatever the last one leaked. */
  def sweep(): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    org.apache.spark.sql.graft.StreamingHygiene.stopStateStores()
  }
}

/** A workload: inputs made from the seed, and one cycle of timed ops. */
trait Workload {
  /** Make the seeded inputs under `dir`. Called more than once; the last
    * call's inputs are used. */
  def prepare(dir: Path): Unit
  /** One cycle: the workload's ops, each checked. Its figures and layer
    * counters are recorded through `rec.count`. */
  def cycle(rec: Recorder): Unit
}

object Metrics {
  val nameRe = "[A-Za-z0-9_.-]+".r

  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "cycle_s" -> "s", "process_cpu_s" -> "s")

  val functionObjects = Seq("Dedup", "Graph", "other")
  val layers = Seq("parse", "model", "io", "sources", "operators", "functions",
    "queries", "streaming", "stages")

  val perLayer: Seq[(String, String)] = Seq(
    "parse_mb_s" -> "MB/s", "split_scan_mb_s" -> "MB/s", "write_mb_s" -> "MB/s",
    "dataset_cycle_s" -> "s", "hotset_s" -> "s",
    "failed_share" -> "ratio", "trace.overhead_s" -> "s",
    "parse.s" -> "s", "parse.rows" -> "count", "parse.blocks" -> "count",
    "parse.fixes" -> "count",
    "model.bundle_s" -> "s", "model.materialize_s" -> "s",
    "sources.plan_s" -> "s", "sources.partitions" -> "count", "sources.scan_s" -> "s",
    "sources.pruned_read_s" -> "s", "sources.stats_count_jobs" -> "count",
    "sources.stats_count_s" -> "s",
    "io.write_s" -> "s", "io.write_bytes" -> "bytes", "io.dataset_write_s" -> "s",
    "io.backfill_s" -> "s",
    "operators.compact_s" -> "s", "operators.compact_files_before" -> "count",
    "operators.compact_files_after" -> "count") ++
    functionObjects.flatMap(o => Seq(s"functions.$o.jobs" -> "count",
      s"functions.$o.cpu_s" -> "s", s"functions.$o.shuffle_mb" -> "MB")) ++
    QueryHotset.queries.map(q => s"queries.${q}_s" -> "s") ++
    Seq("stages.jobs" -> "count", "stages.stages" -> "count", "stages.tasks" -> "count",
      "stages.executor_cpu_s" -> "s", "stages.executor_run_s" -> "s", "stages.gc_s" -> "s",
      "stages.shuffle_read_mb" -> "MB", "stages.shuffle_write_mb" -> "MB",
      "stages.spill_mb" -> "MB", "stages.task_skew" -> "ratio",
      "driver.uncovered_s" -> "s", "driver.planning_s" -> "s",
      "hygiene.leaked_rdds" -> "count", "machine.calibration_s" -> "s") ++
    layers.map(l => s"self.${l}_s" -> "s")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def json(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
}

object Main {
  val workloads = Seq("startable_io", "query_hotset")

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        runDir: Path, dataDir: Path, outDir: Path)

  def main(args: Array[String]): Unit = {
    val kv = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    kv.get("mode") match {
      case Some("selftest") => sys.exit(SelfTest.run(kv.get("benchmark-json")))
      case Some("dump-oracle") => QueryHotset.dumpOracle(Paths.get(kv("out")))
      case _ =>
        val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
          kv.getOrElse("trace", "0") == "1", Paths.get(kv("run-dir")),
          Paths.get(kv("data-dir")), Paths.get(kv("out-dir")))
        sys.exit(run(o))
    }
  }

  def session(runDir: Path): SparkSession = {
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.maxPlanStringLength", "1048576")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", runDir.resolve("local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.streaming.checkpointLocation", runDir.resolve("checkpoint").toString)
    spark
  }

  /** Fixed CPU work on one driver thread; its time labels how contended
    * the machine was during the run. Reported, never gated on. */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var acc = 1L
    var i = 0L
    while (i < 300000000L) { acc = acc * 6364136223846793005L + 1442695040888963407L; i += 1 }
    if (acc == 42L) println("")
    (System.nanoTime() - t0) / 1e9
  }

  def run(o: Opts): Int = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    Files.createDirectories(o.runDir)
    Files.createDirectories(o.outDir)
    val spark = session(o.runDir)
    try {
      val wl: Workload = o.workload match {
        case "startable_io"  => new StartableIo(spark, o.seed, o.trace)
        case "query_hotset"  => new QueryHotset(spark, o.seed, o.dataDir)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
      val prepS = (0 until 3).map { _ =>
        val t0 = System.nanoTime()
        wl.prepare(o.runDir.resolve("inputs"))
        (System.nanoTime() - t0) / 1e9
      }
      val rec = new Recorder(spark)
      def runCycle(c: Int): Double = {
        rec.cycle = c
        val t0 = System.nanoTime()
        wl.cycle(rec)
        val wall = (System.nanoTime() - t0) / 1e9
        // each cycle starts from a collected heap, and the context cleaner
        // drops the last cycle's shuffle files
        System.gc()
        val ops = rec.samples.filter(_.cycle == c)
        System.err.println(f"[perfbench] cycle $c: wall $wall%.2f s, ops " +
          ops.map(o => f"${o.name}=${o.seconds}%.2f").mkString(" "))
        wall
      }
      // two warm-up cycles: after one, JIT and codegen still speed up the
      // next cycles by 10-30%
      val warmS = Seq(-2, -1).map(runCycle)
      val setupS = sessionS + Metrics.median(prepS) + warmS.sum
      System.err.println(f"[perfbench] setup: session $sessionS%.2f s, inputs " +
        prepS.map(p => f"$p%.2f").mkString("/") + " s, warm-up cycles " +
        warmS.map(w => f"$w%.2f").mkString("/") + " s")

      // timed loop: closed, one op at a time; a traced run spends its
      // first half untraced so the tracing overhead is measured in-run
      val untracedBudget = if (o.trace) o.seconds / 2 else o.seconds
      val loop0 = System.nanoTime()
      def elapsed = (System.nanoTime() - loop0) / 1e9
      var c = 0
      while (c == 0 || elapsed < untracedBudget) { runCycle(c); c += 1 }
      val tracer = if (o.trace) Some(new Tracer(spark)) else None
      tracer.foreach { tr =>
        tr.start()
        rec.traced = true
        val mid = elapsed
        while (rec.samples.forall(s => !s.traced) || elapsed - mid < o.seconds - untracedBudget) {
          runCycle(c); c += 1
        }
        tr.stop()
      }

      val timed = rec.samples.filter(_.cycle >= 0)
      val attempted = rec.samples.size
      val failed = rec.samples.count(!_.ok)
      val okCycles = timed.groupBy(_.cycle).filter(_._2.forall(_.ok))
      // a cycle's figure is the sum over its ops of each op's median over
      // the timed cycles, so one op's slow outlier does not move it
      def perCycle(traced: Boolean)(f: OpSample => Double): Double =
        okCycles.values.flatten.filter(s => s.traced == traced && !s.probe).toSeq
          .groupBy(_.name).values.map(ss => Metrics.median(ss.map(f))).sum
      val cycleS = perCycle(traced = false)(_.seconds)
      val cpuS = perCycle(traced = false)(_.cpuS)

      val metrics: Seq[(String, String, Double)] =
        if (!o.trace)
          Seq(("setup_s", "s", setupS), ("cycle_s", "s", cycleS), ("process_cpu_s", "s", cpuS))
        else {
          val cyclesOk = okCycles.keySet
          def counter(n: String) = Metrics.median(cyclesOk.toSeq.flatMap(k => rec.counters.get((k, n))))
          val tracedS = perCycle(traced = true)(_.seconds)
          val layer = Layers.compute(rec, tracer.get, o.outDir, o.workload, o.seed)
          val values = mutable.LinkedHashMap.empty[String, Double]
          Metrics.perLayer.foreach { case (n, _) => values(n) = counter(n) }
          values ++= layer
          values("failed_share") = failed.toDouble / attempted
          values("trace.overhead_s") = tracedS - cycleS
          values("hygiene.leaked_rdds") = Metrics.median(okCycles.values.toSeq.map(_.map(_.leaked).sum.toDouble))
          values("machine.calibration_s") = calibrate()
          Metrics.perLayer.map { case (n, u) => (n, u, values.getOrElse(n, 0.0)) }
        }
      val ms = metrics.map { case (n, u, v) =>
        s"\"$n\": {\"value\": ${Metrics.json(v)}, \"unit\": \"$u\"}" }.mkString(", ")
      val correct = failed == 0 && okCycles.nonEmpty
      println(s"{\"correct\": $correct, \"attempted\": $attempted, \"failed\": $failed, " +
        s"\"metrics\": {$ms}}")
      0
    } finally spark.stop()
  }
}
