package graft

import java.nio.file.Files
import java.util.concurrent.{Callable, ConcurrentHashMap, CountDownLatch, Executors, TimeUnit}

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{PlanBridge, StreamBuses}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{ConcurrentWriteException, CsvWriter}
import graft.model.StarTable
import graft.operators.Merge
import graft.streaming.EventStreams

/** `StreamRun` frees what a stream holds when it ends: the lease its
  * caller passed, and the listener bus Spark leaves on the shared listener
  * bus for a stateful query's own session clone. Every stream below is
  * stateful (a dedup or an aggregate), so a leaked bus would show. */
class StreamRunSpec extends AnyFunSuite {
  import StreamRunSpec._

  private lazy val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("day", StringType), StructField("score", DoubleType)))
  private val units = Map("day" -> "text")

  /** A one-file parquet source of (day, score) rows. */
  private def sourceDir(tag: String): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory(s"graft_run_$tag").resolve("src").toString
    Seq(("d1", 1.0), ("d2", 2.0), ("d1", 3.0)).toDF("day", "score")
      .coalesce(1).write.parquet(dir)
    dir
  }

  private def feed(dir: String): DataFrame = spark.readStream.schema(schema).parquet(dir)

  /** One warm-up `run` (it may build a session's own query manager once),
    * then `n` more: the count of streaming buses must not move. */
  private def assertFlat(what: String, n: Int = 3)(run: => Unit): Unit = {
    run
    val before = StreamBuses.count(spark)
    (1 to n).foreach(_ => run)
    val after = StreamBuses.count(spark)
    assert(after == before, s"$what: $n runs took the streaming buses $before -> $after")
  }

  private def initialSnapshot: DataFrame = {
    import spark.implicits._
    Seq(("d0", 0.0)).toDF("day", "score")
  }

  test("runToBatch over a stateful query leaves the listener bus count flat") {
    val dir = sourceDir("batch")
    assertFlat("runToBatch") {
      assert(EventStreams.runToBatch(spark, feed(dir).groupBy("day").count()).count() == 2)
    }
  }

  test("streamingUpsert and streamingAggMaintain leave the listener bus count flat") {
    import spark.implicits._
    val dir = sourceDir("fold")
    assertFlat("streamingUpsert") {
      EventStreams.streamingUpsert(spark, feed(dir).dropDuplicates("day"),
        initialSnapshot, Seq("day")).unpersist()
    }
    val opDir = Files.createTempDirectory("graft_run_ops").resolve("src").toString
    Seq(("a", 1.0, "I"), ("b", 2.0, "I")).toDF("g", "x", "op")
      .coalesce(1).write.parquet(opDir)
    val base = Merge.buildAggregate(Seq((1L, "a", 2.5)).toDF("id", "g", "x"),
      Seq("g"), Seq("x"))
    val changes = StructType(Seq(StructField("g", StringType),
      StructField("x", DoubleType), StructField("op", StringType)))
    assertFlat("streamingAggMaintain") {
      EventStreams.streamingAggMaintain(spark,
        spark.readStream.schema(changes).parquet(opDir).dropDuplicates(),
        base, Seq("g"), Seq("x")).unpersist()
    }
    base.unpersist()
  }

  Seq(false, true).foreach { coexist =>
    test(s"a stopped sink stream (coexist = $coexist) leaves the listener bus count flat") {
      val dir = sourceDir(s"sink_$coexist")
      assertFlat(s"streamPartitionedDataset(coexist = $coexist)") {
        val base = Files.createTempDirectory("graft_run_sink")
        val q = CsvWriter.streamPartitionedDataset(
          StarTable.fromDataFrame(feed(dir).dropDuplicates("day", "score"), "sdocs",
            units = units),
          base.resolve("out").toString, Seq("day"), base.resolve("ckpt").toString,
          coexist = coexist)
        try q.processAllAvailable() finally q.stop()
      }
    }
  }

  test("two bounded stateful runs on two threads finish, leave the count " +
    "flat, and keep the caller's own bus delivering") {
    val dir = sourceDir("threads")
    def run(): Long = EventStreams.runToBatch(spark, feed(dir).groupBy("day").count()).count()
    run() // warm-up: builds the reused child's own query manager
    // registered before the concurrent runs: removing the caller's bus (a
    // bus found by diffing, say) would silence it for the third run
    val upserts = ConcurrentHashMap.newKeySet[java.util.UUID]()
    val upsertEnded = new CountDownLatch(1)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        if (e.name != null && e.name.startsWith("graft_upsert_")) upserts.add(e.runId)
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (upserts.contains(e.runId)) upsertEnded.countDown()
    }
    spark.streams.addListener(listener)
    try {
      val before = StreamBuses.count(spark)
      val pool = Executors.newFixedThreadPool(2)
      try {
        val runs = (1 to 2).map(_ => pool.submit(new Callable[Long] { def call(): Long = run() }))
        assert(runs.map(_.get(120, TimeUnit.SECONDS)) == Seq(2L, 2L))
      } finally pool.shutdown()
      assert(StreamBuses.count(spark) == before)
      EventStreams.streamingUpsert(spark, feed(dir).dropDuplicates("day"),
        initialSnapshot, Seq("day")).unpersist()
      assert(upsertEnded.await(60, TimeUnit.SECONDS),
        "the caller's listener never heard the third run terminate")
    } finally spark.streams.removeListener(listener)
  }

  Seq(false, true).foreach { coexist =>
    test(s"a sink stream whose first batch fails frees its lease without " +
      s"stop() (coexist = $coexist)") {
      val dir = sourceDir(s"fail_$coexist")
      val base = Files.createTempDirectory("graft_run_fail")
      val out = base.resolve("out").toString
      val q = CsvWriter.streamPartitionedDataset(
        StarTable.fromDataFrame(feed(dir).withColumn("score", failScore(col("score"))),
          "sdocs", units = units),
        out, Seq("day"), base.resolve("ckpt").toString, coexist = coexist)
      try {
        // a full overwrite needs the root lease: it is refused until the
        // dead stream's lease is freed by the backstop
        val batch = StarTable.fromDataFrame(spark.read.schema(schema).parquet(dir),
          "sdocs", units = units)
        val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
        var written = false
        while (!written) {
          try {
            CsvWriter.writePartitionedDataset(batch, out, Seq("day"))
            written = true
          } catch {
            case _: ConcurrentWriteException if System.nanoTime() < deadline =>
              Thread.sleep(50)
          }
        }
        assert(!q.isActive && q.exception.isDefined)
        assert(spark.read.format("startable").load(out).count() == 3)
      } finally q.stop()
    }
  }

  test("PlanBridge.dropStreamListenerBus removes exactly the bus a stateful " +
    "query's session clone leaves (pins the Spark fields it reads)") {
    val dir = sourceDir("pin")
    spark.streams.active // the caller's own manager exists before counting
    def ran(df: DataFrame): StreamingQuery = {
      val q = df.writeStream
        .foreachBatch { (b: Dataset[Row], _: Long) => b.collect(); () }
        .option("checkpointLocation",
          Files.createTempDirectory("graft_run_pin_ckpt").toString)
        .start()
      try q.processAllAvailable() finally q.stop()
      q
    }
    val before = StreamBuses.count(spark)
    val stateless = ran(feed(dir).filter(col("score") > 0))
    assert(StreamBuses.count(spark) == before)
    PlanBridge.dropStreamListenerBus(stateless) // no manager was built: a no-op
    assert(StreamBuses.count(spark) == before)
    val stateful = ran(feed(dir).dropDuplicates("day"))
    assert(StreamBuses.count(spark) == before + 1,
      "a stateful query no longer leaves its session clone's bus behind: " +
        "dropStreamListenerBus has nothing left to remove")
    PlanBridge.dropStreamListenerBus(stateful)
    assert(StreamBuses.count(spark) == before)
  }
}

object StreamRunSpec {
  // in the companion, so the UDF closure captures no suite instance
  val failScore = udf((x: Double) =>
    if (x >= 0) throw new IllegalStateException("injected batch failure") else x)
}
