package perfbench

import java.io.StringWriter
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.io.JsonValue
import graft.io.JsonValue._

/** Tests of the benchmark's own code: generator determinism, span
  * arithmetic, stage-to-job attribution, call-site attribution and metric
  * names. Exit code 0 when every test passes. */
object SelfTest {
  private var failures = 0

  private def test(name: String)(body: => Boolean): Unit = {
    val ok = try body catch { case e: Throwable => e.printStackTrace(); false }
    println(s"${if (ok) "PASS" else "FAIL"} $name")
    if (!ok) failures += 1
  }

  private def big(seed: Long): String = {
    val w = new StringWriter()
    Gen.bigTable(seed, 20000, w)
    w.toString
  }

  def run(benchmarkJson: Option[String]): Int = {
    test("bundle generator: same seed, same bytes; other seed, other bytes") {
      val a = Gen.bundle(7, 300)
      a.text == Gen.bundle(7, 300).text && a.text != Gen.bundle(8, 300).text &&
        a.tables == Gen.bundle(7, 300).tables
    }
    test("single-table generator: same seed, same bytes; other seed, other bytes") {
      big(7) == big(7) && big(7) != big(8)
    }

    test("span self time: parent minus the union of its clipped children") {
      val spans = Seq(
        Span("op", "run", "op", "read", "io", 0, 100),
        Span("j1", "op", "job", "", "functions", 10, 30),
        Span("j2", "op", "job", "", "queries", 20, 50),
        Span("j3", "op", "job", "", "queries", 90, 130),
        Span("s1", "j1", "stage", "", "stages", 12, 18),
        Span("s2", "j1", "stage", "", "stages", 15, 25))
      val self = Spans.selfTimes(spans)
      def near(a: Double, b: Double) = math.abs(a - b) < 1e-12
      // op 100 - union(10..50, 90..100) = 50; j1 20 - 13 = 7;
      // j2 30; j3 40; stages 6 + 10 = 16
      near(self("io"), 0.050) && near(self("functions"), 0.007) &&
        near(self("queries"), 0.070) && near(self("stages"), 0.016) &&
        Spans.unionMs(Nil) == 0.0 && Spans.unionMs(Seq((0.0, 1.0), (2.0, 3.0))) == 2.0
    }

    test("a stage two jobs list is counted once, under the job it ran in") {
      def job(id: Int, start: Long, end: Long, stages: Int*) =
        JobInfo(id, "op-1", start, end, Some("functions"), Some("Dedup"), stages)
      // job 0 is an AQE map-stage job that runs stages 1 and 2; job 1 is
      // the final job, which lists them again as skipped and runs stage 3
      val tr = new Tracer(null)
      tr.jobs(0) = job(0, 10, 40, 1, 2)
      tr.jobs(1) = job(1, 50, 90, 1, 2, 3)
      tr.stageOwner ++= Seq(1 -> 0, 2 -> 0, 3 -> 1)
      for (s <- 1 to 3) {
        tr.stageStats(s) = StageStats(2, s * 1000000000L, 100, 0, 0, s * 1000000L, 0, 60, 40)
        tr.stageEnds(s) = (10L * s + 5, 10L * s + 10)
      }
      val rec = new Recorder(null)
      rec.samples += OpSample(0, true, "op-1", "q", "queries", false, 0, 100, 0.1, 0.0, true, 0)
      val out = Files.createTempDirectory("perfbench-selftest")
      val m = Layers.compute(rec, tr, out, "w", 1)
      val spanIds = Files.readAllLines(out.resolve("spans-w-1.jsonl")).asScala.toSeq
        .map(l => "\"id\": \"([^\"]+)\"".r.findFirstMatchIn(l).get.group(1))
      Files.walk(out).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      Layers.stagesByJob(tr.jobs.values.toSeq, Map.empty) == Map(0 -> Seq(1, 2), 1 -> Seq(3)) &&
        Layers.stagesByJob(tr.jobs.values.toSeq, tr.stageOwner) == Map(0 -> Seq(1, 2), 1 -> Seq(3)) &&
        m("stages.stages") == 3 && m("stages.tasks") == 6 &&
        m("stages.executor_cpu_s") == 6.0 && m("functions.Dedup.cpu_s") == 6.0 &&
        m("functions.Dedup.shuffle_mb") == 6.0 && math.abs(m("self.stages_s") - 0.015) < 1e-12 &&
        spanIds.distinct.size == spanIds.size && spanIds.size == 6
    }

    test("call-site attribution: innermost non-Spark frame") {
      val graft = "org.apache.spark.rdd.RDD.count(RDD.scala:1)\n" +
        "graft.functions.Dedup$.connectedComponents(Dedup.scala:9)\n" +
        "perfbench.Main$.run(Main.scala:1)"
      val bench = "perfbench.StartableIo.cycle(StartableIo.scala:3)\n" +
        "graft.functions.Dedup$.x(Dedup.scala:9)"
      Tracer.attribute(graft) == (Some("functions"), Some("Dedup")) &&
        Tracer.attribute(bench) == (None, None) &&
        Tracer.attribute("graft.io.CsvWriter$.$anonfun$write$1(Csv.scala:2)") ==
          (Some("io"), Some("CsvWriter"))
    }

    test("every metric name matches [A-Za-z0-9_.-]+ and is used once") {
      val names = (Metrics.endToEnd ++ Metrics.perLayer).map(_._1)
      names.forall(n => Metrics.nameRe.matches(n)) && names.distinct.size == names.size
    }

    benchmarkJson.foreach { p =>
      test("BENCHMARK.json lists the metrics the benchmark prints") {
        JsonValue.parse(new String(Files.readAllBytes(Paths.get(p)), "UTF-8")) match {
          case JsonObject(f) =>
            def names(k: String) = f(k) match {
              case JsonArray(v) => v.collect { case JsonObject(m) => m("name") }
                .collect { case JsonString(s) => s }
            }
            names("end_to_end") == Metrics.endToEnd.map(_._1) &&
              names("per_layer") == Metrics.perLayer.map(_._1) &&
              names("workloads") == Main.workloads
        }
      }
    }

    println(if (failures == 0) "all self-tests passed" else s"$failures self-test(s) failed")
    if (failures == 0) 0 else 1
  }
}
