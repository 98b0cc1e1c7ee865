package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStreams

/** The one profiling listener: what [[Profile.run]] counts and which jobs
  * it attributes to the body. */
class ProfileSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def noop(df: org.apache.spark.sql.Dataset[_]): Unit =
    df.write.format("noop").mode("overwrite").save()

  test("a groupBy reports shuffle bytes and executor CPU; a narrow scan " +
    "reports no shuffle; time before the first job counts as uncovered") {
    val grouped = Profile.run(spark) {
      noop(spark.range(0, 20000, 1, 4).groupBy(col("id") % 7).count())
    }
    assert(grouped.jobs.nonEmpty && grouped.stages >= 2, grouped.toString)
    assert(grouped.shuffleWriteBytes > 0 && grouped.shuffleReadBytes > 0, grouped.toString)
    assert(grouped.cpuNs > 0 && grouped.tasks > 0, grouped.toString)
    val narrow = Profile.run(spark) {
      Thread.sleep(300)
      noop(spark.range(0, 20000, 1, 4).filter(col("id") % 7 === 0))
    }
    assert(narrow.jobs.size == 1, narrow.toString)
    assert(narrow.shuffleReadBytes == 0 && narrow.shuffleWriteBytes == 0, narrow.toString)
    assert(narrow.uncoveredMs >= 300 &&
      narrow.uncoveredMs <= narrow.endMs - narrow.startMs, narrow.toString)
  }

  test("a runToBatch body counts its stream's micro-batch jobs, which run " +
    "on the stream's thread under the stream's own job group") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-profile-stream").toString
    try {
      (0L until 30L).map(_ % 3).toDF("k").write.mode("overwrite").json(dir)
      val counts = spark.readStream.schema("k LONG").json(dir).groupBy("k").count()
      var out: org.apache.spark.sql.DataFrame = null
      // the body's own thread runs no job: every job counted is the
      // micro-batch's stateful aggregate, which shuffles
      val p = Profile.run(spark) { out = EventStreams.runToBatch(spark, counts) }
      assert(p.jobs.nonEmpty && p.shuffleWriteBytes > 0, p.toString)
      assert(out.count() == 3)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("jobs of a thread started before the probe are not counted") {
    val go = new java.util.concurrent.CountDownLatch(1)
    val worker = new Thread(() => {
      go.await()
      (1 to 3).foreach(_ => spark.range(10).count())
    })
    worker.start()
    val p = Profile.run(spark) {
      go.countDown()
      worker.join()
      spark.sparkContext.parallelize(1 to 4, 2).count()
    }
    assert(p.jobs.size == 1, p.toString)
  }

  test("a frame persisted and filled but not freed is one leaked RDD; " +
    "unpersisted, none") {
    val kept = spark.range(100).selectExpr("id * 2 AS x")
    val leaked = Profile.run(spark) { kept.persist(); kept.count() }
    try assert(leaked.leakedRdds == 1, leaked.toString)
    finally kept.unpersist(blocking = true)
    val freed = Profile.run(spark) {
      val df = spark.range(100).selectExpr("id * 3 AS x")
      df.persist(); df.count(); df.unpersist()
    }
    assert(freed.leakedRdds == 0, freed.toString)
  }
}
