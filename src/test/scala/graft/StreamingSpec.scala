package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Multimodal
import graft.queries.Tables
import graft.streaming.EventStreams

/** Streaming/batch parity + multimodal plumbing. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sfDir = "/root/testdata/sf0.001"

  def batchEvents = Tables.df(spark, sfDir, "events")

  test("streamed hourly rollup equals batch computation") {
    val streamed = EventStreams.runToBatch(spark,
      EventStreams.hourlyRollup(EventStreams.readStream(spark, sfDir)))
    val batch = EventStreams.hourlyRollup(batchEvents)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("runToBatch leaves no memory-sink view in the caller's catalog") {
    def streamViews = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_stream_")).toSet
    val before = streamViews
    val streamed = EventStreams.runToBatch(spark,
      EventStreams.hourlyRollup(EventStreams.readStream(spark, sfDir)))
    assert(streamViews == before, "runToBatch registered a view in the caller's catalog")
    val batch = EventStreams.hourlyRollup(batchEvents)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streamed session windows cover all events exactly once") {
    val sessions = EventStreams.runToBatch(spark,
      EventStreams.sessionWindows(EventStreams.readStream(spark, sfDir)))
    val totalEvents = sessions.agg(sum("n_events")).head().getLong(0)
    assert(totalEvents == batchEvents.count())
    // session windows per user are disjoint: session count >= 1 per active user
    val users = sessions.select("user_id").distinct().count()
    assert(users == batchEvents.select("user_id").distinct().count())
  }

  test("streamed watermarked dedup equals batch distinct") {
    val streamed = EventStreams.runToBatch(spark,
      EventStreams.dedupedEvents(EventStreams.readStream(spark, sfDir)),
      org.apache.spark.sql.streaming.OutputMode.Append())
    val batch = EventStreams.dedupedEvents(batchEvents)
    assert(streamed.count() == batch.count())
    val sKeys = streamed.select("user_id", "event_type", "minute")
    val bKeys = batch.select("user_id", "event_type", "minute")
    assert(sKeys.exceptAll(bKeys).isEmpty && bKeys.exceptAll(sKeys).isEmpty)
  }

  test("stream-stream interval join matches the batch range join") {
    def split(df: org.apache.spark.sql.DataFrame) =
      (df.filter(col("event_type") === "purchase"),
        df.filter(col("event_type") === "error"))
    val (sp, se) = split(EventStreams.readStream(spark, sfDir))
    val streamed = EventStreams.runToBatch(spark,
      EventStreams.purchaseErrorJoin(sp, se),
      org.apache.spark.sql.streaming.OutputMode.Append())
    val (bp, be) = split(batchEvents)
    val batch = EventStreams.purchaseErrorJoin(bp, be)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("file sink + checkpoint: restart resumes exactly-once (no dup, no loss)") {
    // The recovery contract that matters in production: a streaming job
    // writing parquet with a checkpoint can be killed and restarted and the
    // sink still holds each input row exactly once.
    val base = java.nio.file.Files.createTempDirectory("graft_eo")
    val srcDir = base.resolve("src"); java.nio.file.Files.createDirectory(srcDir)
    val outDir = base.resolve("out").toString
    val ckpt = base.resolve("ckpt").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType)))
    def writeBatch(name: String, ids: Range): Unit = {
      import spark.implicits._
      ids.map(_.toLong).toDF("id").coalesce(1)
        .write.mode("overwrite").parquet(srcDir.resolve(name).toString)
    }
    def startQuery() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir.toString + "/*")
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .start()

    writeBatch("b1", 0 until 100)
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop() // "crash" after the first batch is committed
    writeBatch("b2", 100 until 250)
    val q2 = startQuery() // restart from the checkpoint
    q2.processAllAvailable()
    q2.stop()
    val out = spark.read.parquet(outDir).select("id")
      .collect().map(_.getLong(0)).sorted
    assert(out.length == 250, s"expected 250 rows exactly once, got ${out.length}")
    assert(out.toSeq == (0L until 250L))
  }

  test("flatMapGroupsWithState running stats reach batch totals") {
    val out = EventStreams.runToBatch(spark,
      EventStreams.runningUserStats(spark, EventStreams.readStream(spark, sfDir)),
      org.apache.spark.sql.streaming.OutputMode.Append())
    // last snapshot per user must equal the batch per-user aggregate
    val lastPerUser = out.groupBy("user_id").agg(max("n_events").as("n_events"))
    val batch = batchEvents.groupBy("user_id").agg(count(lit(1)).as("n_events"))
    assert(lastPerUser.exceptAll(batch).isEmpty)
  }

  test("streaming priority sample equals the batch operator across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val rows = (0L until 80L).map(i =>
      (i, if (i % 2 == 0) "en" else "de", (i % 11) * 7 + 3))
    val df = rows.toDF("doc_id", "lang", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("prisample").toString
    df.repartition(3).write.mode("overwrite").parquet(dir) // 3 files = 3 batches
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("lang", StringType), StructField("n_chars", LongType)))
    val emitted = EventStreams.runToBatch(spark,
      EventStreams.streamingPrioritySample(spark,
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir),
        k = 5),
      org.apache.spark.sql.streaming.OutputMode.Append())
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
    val streamed = emitted.withColumn("__m", max(col("version")).over(w))
      .filter(col("version") === col("__m"))
      .select("lang", "doc_id", "weight", "w_hat")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = graft.functions.Mixing
      .prioritySampleByGroup(df, "lang", "doc_id", "n_chars", k = 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(emitted.select("version").distinct().count() > 1,
      "expected multiple micro-batches")
    assert(streamed == batch, s"stream/batch divergence:\n$streamed\nvs\n$batch")
  }

  test("streaming HLL registers equal the batch sketch across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val rows = (0L until 90L).map(i => (i, s"tok_${i % 37}"))
    val df = rows.toDF("id", "v")
    val dir = java.nio.file.Files.createTempDirectory("hllstream").toString
    df.repartition(3).write.mode("overwrite").parquet(dir) // 3 files = 3 batches
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", StringType)))
    val streamedRegs = EventStreams.runToBatch(spark,
      graft.functions.Sketches.hllRegisters(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir)
          .withColumn("g", lit("all")),
        Seq("g"), "v", b = 5))
      .orderBy("__bucket").collect().toSeq
    val batchRegs = graft.functions.Sketches.hllRegisters(
        df.withColumn("g", lit("all")), Seq("g"), "v", b = 5)
      .orderBy("__bucket").collect().toSeq
    assert(streamedRegs == batchRegs)
  }

  test("streamingUpsert folds change feeds into the snapshot, last feed wins") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val sc = spark.sparkContext
    val cachedBefore = sc.getPersistentRDDs.keySet
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", StringType), StructField("del", BooleanType)))
    def feedDir(rows: Seq[(Long, String, Boolean)]): String = {
      val dir = java.nio.file.Files.createTempDirectory("upsertfeed").toString
      rows.toDF("id", "v", "del").coalesce(1).write.mode("overwrite").parquet(dir)
      dir
    }
    val initial = Seq((1L, "a"), (2L, "b")).toDF("id", "v")

    val snap1 = EventStreams.streamingUpsert(spark,
      spark.readStream.schema(schema).parquet(
        feedDir(Seq((1L, "a2", false), (3L, "c", false)))),
      initial, Seq("id"), Some("del"))
    assert(snap1.collect().map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(1L -> "a2", 2L -> "b", 3L -> "c"))

    // second feed updates 3, tombstones 2 — applied on top of snap1
    val snap2 = EventStreams.streamingUpsert(spark,
      spark.readStream.schema(schema).parquet(
        feedDir(Seq((3L, "c2", false), (2L, "b", true)))),
      snap1, Seq("id"), Some("del"))
    assert(snap2.collect().map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(1L -> "a2", 3L -> "c2"))

    snap1.unpersist(); snap2.unpersist()
    val leaked = sc.getPersistentRDDs.keySet -- cachedBefore
    assert(leaked.isEmpty, s"leaked cached RDDs: $leaked")
  }

  test("streamingAggMaintain over chained feeds equals one batch " +
    "maintainAggregate over the whole feed") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    import graft.operators.Merge
    val sc = spark.sparkContext
    val cachedBefore = sc.getPersistentRDDs.keySet
    val schema = StructType(Seq(StructField("g", StringType),
      StructField("x", DoubleType), StructField("op", StringType)))
    def feedDir(rows: Seq[(String, Double, String)]): String = {
      val dir = java.nio.file.Files.createTempDirectory("aggfeed").toString
      rows.toDF("g", "x", "op").coalesce(1).write.mode("overwrite").parquet(dir)
      dir
    }
    val facts = Seq((1L, "a", 2.5), (2L, "a", 1.0), (3L, "b", 4.0))
      .toDF("id", "g", "x")
    val base = Merge.buildAggregate(facts, Seq("g"), Seq("x"))
    val feed = Seq(("a", 2.5, "D"), ("b", 0.5, "I"), ("c", 9.0, "I"),
      ("b", 4.0, "D"), ("b", 0.5, "D"))
    // streamed in two chained generations (forces >1 foreachBatch call)
    val v1 = EventStreams.streamingAggMaintain(spark,
      spark.readStream.schema(schema).parquet(feedDir(feed.take(3))),
      base, Seq("g"), Seq("x"))
    val v2 = EventStreams.streamingAggMaintain(spark,
      spark.readStream.schema(schema).parquet(feedDir(feed.drop(3))),
      v1, Seq("g"), Seq("x"))
    val batch = Merge.maintainAggregate(base,
      feed.toDF("g", "x", "op"), Seq("g"), Seq("x"))
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1),
        r.getDecimal(2).stripTrailingZeros)).toSet
    assert(snap(v2) == snap(batch))
    // group b reached zero rows and dropped
    assert(!snap(v2).exists(_._1 == "b"))
    v1.unpersist(); v2.unpersist(); batch.unpersist(); base.unpersist()
    val leaked = sc.getPersistentRDDs.keySet -- cachedBefore
    assert(leaked.isEmpty, s"leaked cached RDDs: $leaked")
  }

  test("multimodal: payload bytes real, stub meta deterministic, batch shape") {
    val docs = Tables.df(spark, sfDir, "documents")
      .withColumn("payload", Multimodal.payloadFromText(col("text")))
    val withMeta = Multimodal.withMediaMeta(docs, "payload")
    val r = withMeta.select(col("n_chars"), col("media_meta.bytes"),
      col("media_meta.width"), col("media_meta.format")).collect()
    r.foreach { row =>
      assert(row.getLong(1) >= row.getLong(0)) // bytes >= chars (multi-byte)
      assert(row.getInt(2) >= 1 && row.getInt(2) <= 1920)
      assert(Seq("png", "jpeg", "webp").contains(row.getString(3)))
    }
    // deterministic across runs
    val again = Multimodal.withMediaMeta(docs, "payload")
      .select(col("media_meta.width")).collect().map(_.getInt(0)).toSeq
    assert(again == withMeta.select(col("media_meta.width")).collect().map(_.getInt(0)).toSeq)

    val feats = Multimodal.extractFeaturesStub(spark, docs.select("doc_id", "payload"),
      "payload", "doc_id", batchSize = 7)
    assert(feats.count() == docs.count())
    assert(feats.head().getSeq[Float](1).size == 8)

    val frames = docs.select(Multimodal.frameSampleStub(col("payload"), 4).as("f"))
    assert(frames.head().getSeq[Array[Byte]](0).size == 4)
  }
}
