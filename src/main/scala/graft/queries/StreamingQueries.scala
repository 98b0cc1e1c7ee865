package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Multimodal
import graft.streaming.EventStreams

/** Streaming + multimodal operator coverage. Streaming queries execute the
  * events file source INCREMENTALLY through Structured Streaming (memory
  * sink, run to completion) and must produce the same result as the batch
  * oracle — the batch/stream parity check.
  */
object StreamingQueries {

  private def sqlDsum(x: String) = s"CAST(sum(CAST($x AS DECIMAL(18,2))) AS DOUBLE)"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Watermarked tumbling-window rollup, executed as a stream.
    "q_stream_hourly" -> ((s, dir) =>
      EventStreams.runToBatch(s,
        EventStreams.hourlyRollup(EventStreams.readStream(s, dir)))),

    // Gap-based session windows executed as a stream; per-user counts
    // aggregated in batch over the session rows.
    "q_stream_sessions" -> ((s, dir) =>
      EventStreams.runToBatch(s,
        EventStreams.sessionWindows(EventStreams.readStream(s, dir)))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("n_events")).as("n_events"))),

    // Stream-STATIC join: documents stream in and are decontaminated
    // against a static benchmark-gram table on arrival; same oracle as the
    // batch q_decontaminate shape.
    "q_stream_decontaminate" -> ((s, dir) => {
      val static = Tables.star(s, dir, "documents").df
      val benchGrams = static.filter(col("doc_id") < 10)
        .select(explode(graft.functions.Decontamination
          .ngramHashes(col("text"), 4)).as("g"))
        .distinct()
      val stream = EventStreams.readDocumentsStream(s, dir)
        .filter(col("doc_id") >= 10)
      EventStreams.runToBatch(s,
        EventStreams.streamingContamination(stream, benchGrams, n = 4))
    }),

    // Streaming incremental near-dedup: every arriving document (ids
    // shifted +300000 so the "new batch" is disjoint) is checked against
    // the static corpus's LSH band buckets and text-verified — each doc
    // must rediscover its own batch twin (plus any natural duplicates),
    // which the oracle enumerates with a text self-join. Exercises the
    // stream-static bucket join + verify + pair-collapse aggregate.
    "q_stream_neardedup" -> ((s, dir) => {
      val ref = Tables.star(s, dir, "documents").df
      val refBuckets = EventStreams.referenceBandBuckets(ref, "doc_id", "text")
      val stream = EventStreams.readDocumentsStream(s, dir)
        .select((col("doc_id") + 300000).as("doc_id"), col("text"))
      EventStreams.runToBatch(s,
        EventStreams.streamingNearDup(stream, refBuckets))
    }),

    // Streaming heavy hitters: the Misra-Gries sketch aggregates
    // INCREMENTALLY over arriving documents (bounded O(capacity) state in
    // the store — the point of a mergeable sketch). At capacity ≥
    // vocabulary the sketch is exact and merge-order-independent, so the
    // streamed top-20 equals the batch q_token_topk bit for bit and
    // shares its oracle.
    "q_stream_topk" -> ((s, dir) => {
      val streamed = EventStreams.runToBatch(s,
        EventStreams.readDocumentsStream(s, dir)
          .select(explode(graft.functions.Text.tokens(col("text"))).as("tok"))
          .agg(graft.functions.expressions.HeavyHitters
            .approxTopK(col("tok"), 64).as("hh")))
      streamed
        .select(explode(col("hh")).as(Seq("token", "min_count")))
        .orderBy(col("min_count").desc, col("token").asc)
        .limit(20)
    }),

    // Streaming HyperLogLog: the register table is ONE max-aggregate, and
    // max is idempotent + mergeable, so the identical plan folds
    // INCREMENTALLY in the state store (≤ m rows per group) and the
    // streamed registers equal the batch sketch under any micro-batching.
    // Finalization (exact harmonic sum + estimate chain) and the exact
    // comparison run batch-side on the register table — shares
    // q_hll_distinct's oracle verbatim.
    "q_stream_hll" -> ((s, dir) => {
      import graft.functions.{Sketches, Text}
      val regs = EventStreams.runToBatch(s,
        Sketches.hllRegisters(
          EventStreams.readDocumentsStream(s, dir)
            .select(col("lang"), explode(Text.tokens(col("text"))).as("token")),
          Seq("lang"), "token", b = 9))
      val hll = Sketches.hllFinalize(regs, Seq("lang"), b = 9)
      val exact = Tables.star(s, dir, "documents").df
        .select(col("lang"), explode(Text.tokens(col("text"))).as("token"))
        .groupBy(col("lang"))
        .agg(countDistinct(col("token")).as("exact_distinct"))
      hll.join(exact, Seq("lang"))
        .select(col("lang"), col("m"), col("n_zero"), col("harmonic_num"),
          col("est_distinct"), col("exact_distinct"),
          round(col("est_distinct") / col("exact_distinct").cast(DoubleType)
            - 1.0, 4).as("rel_err"))
    }),

    // Streaming model serving: documents arrive on a stream and are
    // classified against a Naive Bayes model trained batch-side on the
    // static corpus (pivoted counts stream-static-joined, one stateful
    // aggregate, argmax as projection). Decimal sums are order-independent
    // so the streamed scores equal the batch classifier bit for bit —
    // shares q_nb_classify's oracle verbatim.
    "q_stream_classify" -> ((s, dir) => {
      val static = Tables.star(s, dir, "documents").df
      EventStreams.runToBatch(s,
        EventStreams.streamingNaiveBayes(
          EventStreams.readDocumentsStream(s, dir), static,
          "doc_id", "text", "lang"))
    }),

    // Streamed anomaly alerting: hourly counts aggregate INCREMENTALLY
    // (watermarked tumbling windows — q_stream_hourly's stateful shape),
    // then deviations beyond 2 sample standard deviations from the
    // static per-type baseline are flagged batch-side. Shares
    // q_event_anomaly's oracle: the streamed counts must reproduce the
    // batch hourly table exactly for the z-scores to hash-match.
    // Streamed blocklist screening: the Aho-Corasick DFA is a pure
    // projection, so it runs unchanged over the document stream in
    // Append mode — per-row results must equal the batch screen verbatim
    // (shares q_doc_blocklist's oracle).
    "q_stream_blocklist" -> ((s, dir) =>
      EventStreams.runToBatch(s,
        graft.functions.Text.blocklistScreen(
          EventStreams.readDocumentsStream(s, dir), "doc_id", "text",
          PipelineQueries.blocklistTerms),
        org.apache.spark.sql.streaming.OutputMode.Append())),

    // Streamed CUSUM: hourly counts aggregate INCREMENTALLY (watermarked
    // tumbling windows); the closed-form CUSUM (running sum minus running
    // min over the metadata-sized hourly table) applies batch-side, so
    // the streamed detector must reproduce the batch q_event_cusum
    // verbatim — they share the oracle.
    "q_stream_cusum" -> ((s, dir) => {
      // flattened: the memory-sink view cannot self-join its own aggregate
      // (conflicting attribute resolution); a LogicalRDD can
      val hourly = org.apache.spark.sql.graft.PlanBridge.flattenPlan(
        EventStreams.runToBatch(s,
          EventStreams.readStream(s, dir)
            .withWatermark("ts", "1 hour")
            .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
            .agg(count(lit(1)).as("n")))
          .select(col("event_type"), col("w.start").as("h"), col("n")))
      val drift = hourly.groupBy(col("event_type"))
        .agg(expr("sum(n) div count(1)").cast(LongType).as("k"))
      val byType = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("h"))
      val prefix = byType.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      hourly.join(broadcast(drift), Seq("event_type"))
        .withColumn("__cum", sum(col("n") - col("k")).over(byType))
        .withColumn("__mn",
          least(coalesce(min(col("__cum")).over(prefix), lit(0L)), lit(0L)))
        .select(col("event_type"), col("h"), col("n"),
          (col("__cum") - col("__mn")).as("cusum"),
          ((col("__cum") - col("__mn")) >= greatest(col("k") * 5, lit(5L)))
            .as("alarm"))
    }),

    "q_stream_anomaly" -> ((s, dir) => {
      val hourly = Tables.df(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("n"))
      val stats = hourly.groupBy(col("event_type"))
        .agg(count(lit(1)).as("hh"), sum(col("n")).as("s1"),
          sum(col("n") * col("n")).as("s2"))
      val streamed = EventStreams.runToBatch(s,
        EventStreams.readStream(s, dir)
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
          .agg(count(lit(1)).as("n")))
        .select(col("event_type"), col("w.start").as("h"), col("n"))
      val z = round(
        (col("n").cast(DoubleType) - col("s1").cast(DoubleType) / col("hh")) /
          sqrt((col("s2").cast(DoubleType) -
            col("s1").cast(DoubleType) * col("s1") / col("hh")) /
            (col("hh") - 1)), 4)
      streamed.join(broadcast(stats), Seq("event_type"))
        .select(col("event_type"), col("h"), col("n"), z.as("z"))
        .filter(abs(col("z")) > 2.0)
    }),

    // Stream-stream interval join run incrementally (purchases joined to
    // same-user errors within the prior 30 min; watermark-bounded state).
    "q_stream_join" -> ((s, dir) => {
      val src = EventStreams.readStream(s, dir)
      EventStreams.runToBatch(s,
        EventStreams.purchaseErrorJoin(
          src.filter(col("event_type") === "purchase"),
          src.filter(col("event_type") === "error")),
        org.apache.spark.sql.streaming.OutputMode.Append())
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"))
    }),

    // Streaming per-group priority sample: O(k) state per language
    // (min-k of priorities is associative, so the result is independent
    // of micro-batching and equals the batch operator bit for bit,
    // estimator included). Shares q_weighted_sample_grouped's oracle
    // semantics - the streaming/batch parity proof for bounded-state
    // sampling.
    "q_stream_sample" -> ((s, dir) => {
      val emitted = EventStreams.runToBatch(s,
        EventStreams.streamingPrioritySample(s,
          EventStreams.readDocumentsStream(s, dir), k = 10),
        org.apache.spark.sql.streaming.OutputMode.Append())
      // last emission per group via a window over the (metadata-sized)
      // emitted table — a self-join of the memory sink would conflict on
      // attribute ids
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
      emitted.withColumn("__maxv", max(col("version")).over(w))
        .filter(col("version") === col("__maxv"))
        .select(col("lang"), col("doc_id"), col("weight"), col("w_hat"))
    }),

    // Continuous SCD-1 maintenance: the documents stream is mapped to a
    // deterministic change feed (updates / inserts / tombstones — the
    // q_merge_upsert construction with an ' s2' marker and +20M insert
    // ids) and folded into the static snapshot per micro-batch via
    // foreachBatch + Merge.upsert. Each key appears once in the feed, so
    // the final snapshot is independent of micro-batching and shares the
    // batch-merge oracle shape.
    "q_stream_upsert" -> ((s, dir) => {
      val d = Tables.star(s, dir, "documents").df
      val sm = col("doc_id") % 100
      val newText = concat(lit("new doc "), col("doc_id").cast("string"))
      val changes = EventStreams.readDocumentsStream(s, dir)
        .filter(sm < 10 || sm.between(50, 52) || sm.between(90, 94))
        .select(
          when(sm.between(50, 52), col("doc_id") + 20000000L)
            .otherwise(col("doc_id")).as("doc_id"),
          when(sm < 10, concat(col("text"), lit(" s2")))
            .when(sm.between(50, 52), newText)
            .otherwise(col("text")).as("text"),
          col("lang"), col("source"),
          when(sm < 10, col("n_chars") + 3)
            .when(sm.between(50, 52), length(newText).cast(LongType))
            .otherwise(col("n_chars")).as("n_chars"),
          sm.between(90, 94).as("del"))
      EventStreams.streamingUpsert(s, changes, d, Seq("doc_id"), Some("del"))
        .select(col("doc_id"), col("n_chars"), md5(col("text")).as("fp"))
    }),

    // Streaming incremental VIEW maintenance: a CDC feed (deletes of the
    // doc_id%7==0 slice + planted 'xx'-language inserts) folds into the
    // (count, sum) aggregate per micro-batch. Deltas are associative, so
    // the final view is micro-batch independent and the oracle simply
    // re-aggregates the post-change corpus from scratch.
    "q_stream_incr_agg" -> ((s, dir) => {
      val d = Tables.star(s, dir, "documents").df
      val base = graft.operators.Merge.buildAggregate(
        d, Seq("lang", "source"), Seq("n_chars"))
      val sm = col("doc_id") % 7
      val changes = EventStreams.readDocumentsStream(s, dir)
        .filter(sm === 0 || sm === 3)
        .select(
          when(sm === 3, lit("xx")).otherwise(col("lang")).as("lang"),
          col("source"),
          when(sm === 3, col("n_chars") + 10).otherwise(col("n_chars"))
            .as("n_chars"),
          when(sm === 0, lit("D")).otherwise(lit("I")).as("op"))
      EventStreams.streamingAggMaintain(s, changes, base,
        Seq("lang", "source"), Seq("n_chars"))
        .select(col("lang"), col("source"), col("n"),
          round(col("n_chars_sum").cast(DoubleType), 2).as("chars_sum"))
    }),

    // Watermarked streaming dedup (bounded state), run incrementally in
    // Append mode; survivors aggregated in batch for the parity oracle.
    "q_stream_dedup" -> ((s, dir) =>
      EventStreams.runToBatch(s,
        EventStreams.dedupedEvents(EventStreams.readStream(s, dir)),
        org.apache.spark.sql.streaming.OutputMode.Append())
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"))),

    // Multimodal: binary payload + real byte-length metadata (decode STUB
    // provides format/dims — excluded here so the oracle is exact).
    "q_multimodal_bytes" -> ((s, dir) => {
      val docs = Tables.star(s, dir, "documents").df
      val withPayload = docs.withColumn("payload",
        Multimodal.payloadFromText(col("text")))
      Multimodal.withMediaMeta(withPayload, "payload")
        .select(col("doc_id"), col("media_meta.bytes").as("n_bytes"))
    }),

    // Multimodal frame sampling: the byte-slicing arithmetic is exact, so
    // the explode-downstream plumbing gets a real oracle (the demux itself
    // stays a documented stub).
    "q_multimodal_frames" -> ((s, dir) => {
      val docs = Tables.star(s, dir, "documents").df
        .withColumn("payload", Multimodal.payloadFromText(col("text")))
      docs.select(col("doc_id"),
          explode(Multimodal.frameSampleStub(col("payload"), 4)).as("frame"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_frames"),
          sum(length(col("frame"))).cast(LongType).as("frame_bytes"))
    }),

    // Multimodal feature-extraction plumbing: the stubbed "model" is
    // MD5-derived arithmetic (see Multimodal.extractFeaturesStub), so the
    // mapPartitions batch pipeline gets a full hash-matched oracle. The
    // feature vector is projected to scalar columns f0..f7 so the
    // driver-side pandas normalizer can sort rows (an Array column is
    // unhashable there); the array itself stays internal.
    "q_multimodal_features" -> ((s, dir) => {
      val docs = Tables.star(s, dir, "documents").df
        .withColumn("payload", Multimodal.payloadFromText(col("text")))
        .select("doc_id", "payload")
      val feats = Multimodal.extractFeaturesStub(s, docs, "payload", "doc_id")
      feats.select(
        col("doc_id") +:
          (0 until 8).map(i =>
            element_at(col("features"), i + 1).cast(DoubleType).as(s"f$i")): _*)
    }),

    // REAL image bytes end-to-end: every document becomes a genuine 24-bit
    // BMP of a deterministic test pattern (hand-rolled encoder — valid
    // header, bottom-up padded BGR rows), which javax.imageio then decodes
    // back to pixels. The checked columns — sniffed format, decoded
    // dimensions, and the per-pixel BT.601 luma sum — can only be produced
    // by an actual decode, while the deterministic pattern lets the DuckDB
    // oracle predict them arithmetically. This is the production decode
    // path (the MD5 stub remains only where no codec exists: audio/video).
    "q_multimodal_decode" -> ((s, dir) => {
      val docs = Tables.star(s, dir, "documents").df.select(col("doc_id"))
      Multimodal.decodeImages(
        Multimodal.synthesizeBmp(docs, "doc_id"), "doc_id", "payload")
    }),

    // REAL perceptual hash over the same genuine BMPs: javax.imageio
    // decode → BT.601 luma → 32×32 nearest-neighbor → separable 2-D
    // DCT-II → median-thresholded low-frequency block → 64-bit pHash.
    // Rows-only at the gate (a SQL engine cannot mirror the float DCT);
    // exactness/invariance pinned in MultimodalSpec, decode correctness by
    // the oracle-matched q_multimodal_decode over identical payloads.
    "q_multimodal_phash_real" -> ((s, dir) => {
      val docs = Tables.star(s, dir, "documents").df.select(col("doc_id"))
      Multimodal.phash64(
        Multimodal.synthesizeBmp(docs, "doc_id"), "doc_id", "payload")
    }),

    // REAL audio bytes end-to-end — the second real modality, mirroring
    // q_multimodal_decode's pattern: every document becomes a genuine
    // RIFF/WAVE 16-bit PCM clip of a deterministic sample pattern,
    // javax.sound.sampled parses the container and decodes the samples,
    // and each 20 ms window emits integer energy/peak features. The
    // checked sample_rate/n_samples come from the DECODED format, and the
    // window features only match if the header offset, byte order, and
    // signedness are all right — while the pattern lets DuckDB predict
    // every value arithmetically.
    "q_multimodal_audio" -> ((s, dir) => {
      val docs = Tables.star(s, dir, "documents").df.select(col("doc_id"))
      Multimodal.decodeAudioWindows(
        Multimodal.synthesizeWav(docs, "doc_id"), "doc_id", "payload")
    }),

    // The streaming READ leg of the dataset lifecycle under the gate: the
    // stream-ingested dataset (see q_stream_startable) is consumed back
    // through spark.readStream.format("startable") — incremental file
    // discovery in admission-controlled micro-batches (maxFilesPerTrigger)
    // feeding a streaming aggregation (order-independent decimal sums).
    // The oracle recomputes the aggregate from the ORIGINAL parquet:
    // parquet → stream-write → slices → stream-read → aggregate must be
    // lossless end to end.
    "q_stream_dataset_read" -> ((s, dir) => {
      val ds = streamedStartableDatasetFor(s, dir)
      EventStreams.runToBatch(s,
        s.readStream.format("startable")
          .option("maxFilesPerTrigger", "4").load(ds)
          .groupBy(col("event_type"))
          .agg(sum(col("value").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_value"),
            count(lit(1)).as("n"),
            max(col("ts")).as("last_ts")))
    }),

    // The streaming WRITE leg of the dataset lifecycle under the gate:
    // events stream through streamPartitionedDataset in ≥ 2 REAL
    // micro-batches (4 staged source files, maxFilesPerTrigger = 1; the
    // builder REQUIRES ≥ 2 data-carrying batches), land exactly-once in
    // event_type=<v>/ slices via the file sink's commit log, and are read
    // back through format("startable") with a partition-PRUNING predicate
    // (only the purchase slice's files are opened). The oracle is the same
    // aggregate over the ORIGINAL parquet: a row lost or duplicated by the
    // micro-batching, a value bent by the render→path→parse round trip, or
    // a slice mis-pruned all break the hash.
    "q_stream_startable" -> ((s, dir) => {
      val ds = streamedStartableDatasetFor(s, dir)
      s.read.format("startable").load(ds)
        .filter(col("event_type") === "purchase")
        .groupBy((col("user_id").cast(LongType) % 7).as("bucket"))
        .agg(sum(col("value").cast(DecimalType(18, 2)))
          .cast(DoubleType).as("sum_value"),
          count(lit(1)).as("n"),
          max(col("ts")).as("last_ts"))
    }),

    // The STEADY-STATE 100 TB shape under the gate (round 14): a
    // COEXISTING stream (shared slice-scoped lease, coexist = true)
    // ingests the non-view events in real micro-batches while — with the
    // stream STILL LIVE — a disjoint backfill REPLACES the seeded (wrong-
    // valued) view slice and a slice-scoped compaction rewrites it, then
    // one more batch streams in. The readback aggregates the whole
    // dataset; the oracle recomputes over the original parquet. A row
    // lost to the lease coexistence (stream vs backfill vs compaction), a
    // batch duplicated by the deterministic-name install, or a stale
    // seeded value surviving the mid-stream backfill all break the hash.
    "q_stream_coexist" -> ((s, dir) => {
      val ds = coexistStreamedDatasetFor(s, dir)
      s.read.format("startable").load(ds)
        .groupBy(col("event_type"))
        .agg(sum(col("value").cast(DecimalType(18, 2)))
          .cast(DoubleType).as("sum_value"),
          count(lit(1)).as("n"),
          max(col("ts")).as("last_ts"))
        .orderBy(col("event_type"))
    })
  )

  /** Build-once-per-dataset streaming-ingested StarTable dataset: the
    * events table staged as 4 parquet files, streamed file-by-file
    * (maxFilesPerTrigger = 1 → 4 micro-batches) through
    * [[graft.io.CsvWriter.streamPartitionedDataset]] into
    * event_type-partitioned slices. The `_`-prefixed completion marker is
    * written AFTER the stream drains (the sidecar itself is written
    * upfront by design, so it cannot be the success marker here), and is
    * ignored by the connector's listing. */
  private def streamedStartableDatasetFor(s: SparkSession, dir: String): String = {
    val base = java.nio.file.Paths.get(Tables.memoDir("qss", dir, "qss1"))
    val out = base.resolve("ds").toString
    val marker = base.resolve("ds").resolve("_graft_stream_done")
    if (java.nio.file.Files.exists(marker)) return out
    // (re)build from scratch — a marker-less directory is an aborted build
    Tables.deleteTree(base.toFile)
    val staging = base.resolve("staging").toString
    val ckpt = base.resolve("ckpt").toString
    Tables.df(s, dir, "events")
      .select(col("event_type"), col("user_id"), col("value"), col("ts"))
      .repartition(4)
      .write.mode("overwrite").parquet(staging)
    val stream = s.readStream
      .schema(StructType(Seq(
        StructField("event_type", StringType),
        StructField("user_id", LongType),
        StructField("value", DoubleType),
        StructField("ts", TimestampType))))
      .option("maxFilesPerTrigger", 1)
      .parquet(staging)
    val t = graft.model.StarTable.fromDataFrame(stream, "events_stream",
      units = Map("event_type" -> "text", "ts" -> "datetime"))
    val q = graft.io.CsvWriter.streamPartitionedDataset(
      t, out, Seq("event_type"), ckpt)
    try q.processAllAvailable() finally q.stop()
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    require(dataBatches >= 2,
      s"q_stream_startable: expected >= 2 data-carrying micro-batches, " +
        s"got $dataBatches — the staging layout no longer forces real " +
        "incremental ingestion")
    java.nio.file.Files.createFile(marker)
    out
  }

  /** Build-once COEXISTING-stream dataset (q_stream_coexist): seed the
    * `view` slice with WRONG values (+1e6), stream the non-view events
    * through `coexist = true` in real micro-batches, and — while the
    * stream is LIVE — backfill the view slice with the CORRECT rows
    * (disjoint shared lease) and compact it slice-scoped, then stream one
    * more batch. The final dataset must equal the plain events aggregate:
    * the seeded wrong values survive only if the mid-stream backfill was
    * refused or lost. */
  private def coexistStreamedDatasetFor(s: SparkSession, dir: String): String = {
    val base = java.nio.file.Paths.get(Tables.memoDir("qsc", dir, "qsc1"))
    val out = base.resolve("ds").toString
    val marker = base.resolve("ds").resolve("_graft_coexist_done")
    if (java.nio.file.Files.exists(marker)) return out
    Tables.deleteTree(base.toFile)
    val staging = base.resolve("staging").toString
    val late = base.resolve("late").toString
    val ckpt = base.resolve("ckpt").toString
    val ev = Tables.df(s, dir, "events")
      .select(col("event_type"), col("user_id"), col("value"), col("ts"))
    val name = "events_coexist"
    val units = Map("event_type" -> "text", "ts" -> "datetime")
    // seed: the view slice with PROVABLY WRONG values — the mid-stream
    // backfill must replace every one of them
    graft.io.CsvWriter.writePartitionedDataset(
      graft.model.StarTable.fromDataFrame(
        ev.filter(col("event_type") === "view")
          .withColumn("value", col("value") + lit(1e6)),
        name, units = units),
      out, Seq("event_type"))
    // stream source: the non-view events in 3 files + 1 late file
    val nonView = ev.filter(col("event_type") =!= "view")
    nonView.filter(col("user_id") % 3 =!= lit(0)).repartition(3)
      .write.mode("overwrite").parquet(staging)
    nonView.filter(col("user_id") % 3 === lit(0)).coalesce(1)
      .write.mode("overwrite").parquet(late)
    val schema = StructType(Seq(
      StructField("event_type", StringType),
      StructField("user_id", LongType),
      StructField("value", DoubleType),
      StructField("ts", TimestampType)))
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(base.resolve("src").toString + "/*")
    // the source reads a glob of subdirs so the late file can arrive as a
    // genuinely new batch after the mid-stream maintenance
    java.nio.file.Files.createDirectories(base.resolve("src"))
    def move(from: String, subdir: String): Unit = {
      val dst = base.resolve("src").resolve(subdir)
      java.nio.file.Files.move(java.nio.file.Paths.get(from), dst)
    }
    move(staging, "b1")
    val q = graft.io.CsvWriter.streamPartitionedDataset(
      graft.model.StarTable.fromDataFrame(stream, name, units = units),
      out, Seq("event_type"), ckpt, coexist = true)
    try {
      q.processAllAvailable()
      // STREAM LIVE: replace the wrong-valued view slice (disjoint shared
      // lease coexists with the stream's) and compact it slice-scoped
      graft.io.CsvWriter.writePartitionedDataset(
        graft.model.StarTable.fromDataFrame(
          ev.filter(col("event_type") === "view"), name, units = units),
        out, Seq("event_type"), overwriteSlices = true)
      val rep = graft.operators.Maintenance.compactStarDataset(
        s, out, onlySlices = Set(Seq("view")))
      require(rep.filesBefore >= 1,
        "q_stream_coexist: the view-slice compaction found nothing — the " +
          "mid-stream backfill did not land")
      // one more real batch AFTER the maintenance
      move(late, "b2")
      q.processAllAvailable()
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      require(dataBatches >= 2,
        s"q_stream_coexist: expected >= 2 data-carrying micro-batches, " +
          s"got $dataBatches")
    } finally q.stop()
    java.nio.file.Files.createFile(marker)
    out
  }

  val oracleSql: Map[String, String] = Map(
    // bit-for-bit batch parity with the batch classifier's oracle
    "q_stream_classify" -> ModelQueries.oracleSql("q_nb_classify"),

    // streamed hourly counts + batch CUSUM ≡ the batch detector
    "q_stream_cusum" -> AnalyticQueries.oracleSql("q_event_cusum"),

    // pure projection ⇒ the stream must equal the batch screen verbatim
    "q_stream_blocklist" -> PipelineQueries.oracleSql("q_doc_blocklist"),

    // exact-regime sketch: batch parity with q_token_topk's oracle
    "q_stream_topk" -> PipelineQueries.oracleSql("q_token_topk"),

    // streamed registers must equal the batch sketch bit for bit
    "q_stream_hll" -> SketchQueries.oracleSql("q_hll_distinct"),

    "q_stream_anomaly" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |stats AS (
        |  SELECT event_type, count(*) AS hh, sum(n) AS s1, sum(n * n) AS s2
        |  FROM hourly GROUP BY 1),
        |scored AS (
        |  SELECT h.event_type, CAST(h.h AS TIMESTAMP) AS h,
        |    CAST(h.n AS BIGINT) AS n,
        |    round((CAST(h.n AS DOUBLE) - CAST(s.s1 AS DOUBLE) / s.hh) /
        |      sqrt((CAST(s.s2 AS DOUBLE) -
        |        CAST(s.s1 AS DOUBLE) * s.s1 / s.hh) / (s.hh - 1)), 4) AS z
        |  FROM hourly h JOIN stats s USING (event_type))
        |SELECT event_type, h, n, z FROM scored WHERE abs(z) > 2.0""".stripMargin,

    "q_stream_sample" ->
      """WITH p AS (
        |  SELECT lang, doc_id, n_chars,
        |    (CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 12)
        |       AS BIGINT) + 1) / CAST(n_chars AS DOUBLE) AS pri
        |  FROM documents WHERE n_chars > 0),
        |r AS (SELECT *, row_number() OVER (PARTITION BY lang
        |        ORDER BY pri, doc_id) AS rn FROM p),
        |tau AS (SELECT lang, coalesce(max(CASE WHEN rn = 11 THEN 1.0 / pri END),
        |          0.0) AS tau FROM r GROUP BY lang)
        |SELECT r.lang, r.doc_id, r.n_chars AS weight,
        |  round(greatest(CAST(r.n_chars AS DOUBLE), t.tau), 4) AS w_hat
        |FROM r JOIN tau t USING (lang) WHERE r.rn <= 10""".stripMargin,

    "q_stream_incr_agg" ->
      """WITH survivors AS (
        |  SELECT lang, source, n_chars FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT 'xx', source, n_chars + 10 FROM documents
        |  WHERE doc_id % 7 = 3)
        |SELECT lang, source, CAST(count(*) AS BIGINT) AS n,
        |  round(CAST(sum(CAST(n_chars AS DECIMAL(28,2))) AS DOUBLE), 2)
        |    AS chars_sum
        |FROM survivors GROUP BY 1, 2""".stripMargin,

    "q_stream_upsert" ->
      """WITH changes AS (
        |  SELECT doc_id, text || ' s2' AS text, n_chars + 3 AS n_chars,
        |         FALSE AS del
        |  FROM documents WHERE doc_id % 100 < 10
        |  UNION ALL
        |  SELECT doc_id + 20000000, 'new doc ' || CAST(doc_id AS VARCHAR),
        |         CAST(length('new doc ' || CAST(doc_id AS VARCHAR)) AS BIGINT),
        |         FALSE
        |  FROM documents WHERE doc_id % 100 BETWEEN 50 AND 52
        |  UNION ALL
        |  SELECT doc_id, text, n_chars, TRUE
        |  FROM documents WHERE doc_id % 100 BETWEEN 90 AND 94),
        |merged AS (
        |  SELECT d.doc_id, d.text, d.n_chars
        |  FROM documents d LEFT JOIN changes c ON d.doc_id = c.doc_id
        |  WHERE c.doc_id IS NULL
        |  UNION ALL
        |  SELECT doc_id, text, n_chars FROM changes WHERE NOT del)
        |SELECT doc_id, n_chars, md5(text) AS fp FROM merged""".stripMargin,

    "q_stream_hourly" ->
      s"""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
         |  count(*) AS n, ${sqlDsum("value")} AS sum_value
         |FROM events GROUP BY 1, 2""".stripMargin,

    // batch-parity over the streaming-ingested StarTable dataset: the
    // original parquet is the truth the micro-batched render→slice→parse
    // round trip must reproduce exactly
    // parquet → stream-write → slices → stream-READ → aggregate, against
    // DuckDB recomputing from the original parquet
    "q_stream_dataset_read" ->
      s"""SELECT event_type, ${sqlDsum("value")} AS sum_value,
         |  count(*) AS n, CAST(max(ts) AS TIMESTAMP) AS last_ts
         |FROM events GROUP BY 1""".stripMargin,

    "q_stream_startable" ->
      s"""SELECT CAST(user_id AS BIGINT) % 7 AS bucket,
         |  ${sqlDsum("value")} AS sum_value, count(*) AS n,
         |  CAST(max(ts) AS TIMESTAMP) AS last_ts
         |FROM events WHERE event_type = 'purchase'
         |GROUP BY 1""".stripMargin,

    // the coexisting-stream lifecycle must land the WHOLE events table:
    // streamed non-view slices + the mid-stream backfilled view slice
    "q_stream_coexist" ->
      s"""SELECT event_type, ${sqlDsum("value")} AS sum_value,
         |  count(*) AS n, CAST(max(ts) AS TIMESTAMP) AS last_ts
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // session_window semantics: a new session starts when the gap is >= 30min
    "q_stream_sessions" ->
      """SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions,
        |  count(*) AS n_events
        |FROM (
        |  SELECT user_id,
        |    CASE WHEN prev_us IS NULL
        |      OR epoch_us(ts) - prev_us >= 1800 * 1000000 THEN 1 ELSE 0 END AS new_session
        |  FROM (
        |    SELECT user_id, ts,
        |      lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |        ORDER BY ts ASC, event_id ASC) AS prev_us
        |    FROM events
        |  )
        |) GROUP BY user_id""".stripMargin,

    "q_multimodal_bytes" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |FROM documents""".stripMargin,

    "q_stream_decontaminate" ->
      """WITH docs AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |              FROM documents),
        |grams AS (
        |  SELECT doc_id, array_to_string(toks[i:i+3], ' ') AS g
        |  FROM docs, unnest(range(1, greatest(len(toks) - 4, 0) + 2)) AS t(i)
        |),
        |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id < 10)
        |SELECT g.doc_id, CAST(count(DISTINCT g.g) AS BIGINT) AS n_shared
        |FROM grams g JOIN bench b ON g.g = b.g
        |WHERE g.doc_id >= 10 GROUP BY g.doc_id""".stripMargin,

    "q_stream_neardedup" ->
      """SELECT CAST(a.doc_id + 300000 AS BIGINT) AS idNew,
        |  CAST(b.doc_id AS BIGINT) AS idRef
        |FROM documents a JOIN documents b ON a.text = b.text""".stripMargin,

    "q_multimodal_frames" ->
      """SELECT doc_id, CAST(4 AS BIGINT) AS n_frames,
        |  CAST(4 * (octet_length(encode(text)) // 4) AS BIGINT) AS frame_bytes
        |FROM documents""".stripMargin,

    // Mirrors the REAL decode arithmetically: the engine draws gray value
    // (id·31 + x·7 + y·13) mod 256 at pixel (x,y) of a w×h BMP
    // (w = 8 + id%9 ≤ 16, h = 8 + id%7 ≤ 14), and BT.601 luma of an equal
    //-RGB gray IS that gray, so the decoded luma sum is a pure integer
    // formula. A wrong header, row order, padding, or channel mapping on
    // the engine side breaks the hash. The mod mirrors the engine's
    // NON-NEGATIVE normalization (((e % 256) + 256) % 256): DuckDB's bare
    // `%` takes the dividend's sign, so a negative doc_id would otherwise
    // diverge silently from patternGray's +256 wrap.
    "q_multimodal_decode" ->
      """WITH d AS (
        |  SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
        |  FROM documents),
        |xs AS (SELECT unnest(generate_series(0, 15)) AS x),
        |ys AS (SELECT unnest(generate_series(0, 13)) AS y)
        |SELECT d.doc_id, 'bmp' AS format,
        |  CAST(d.w AS INT) AS width, CAST(d.h AS INT) AS height,
        |  CAST(sum((((d.doc_id * 31 + xs.x * 7 + ys.y * 13) % 256) + 256) % 256)
        |    AS BIGINT) AS gray_sum
        |FROM d, xs, ys
        |WHERE xs.x < d.w AND ys.y < d.h
        |GROUP BY d.doc_id, d.w, d.h""".stripMargin,

    // Mirrors the REAL audio decode arithmetically: the engine synthesizes
    // sample s(id,i) = ((id·31 + i·7) mod 65536) − 32768 (non-negative
    // mod), n = 160·(5 + id mod 3) samples at 8 kHz, and decodes them back
    // through javax.sound.sampled; window w's energy is Σ s² and peak is
    // max |s| over samples [160w, 160w+160). DuckDB reproduces the exact
    // integers from the formula.
    "q_multimodal_audio" ->
      """WITH d AS (
        |  SELECT doc_id, 160 * (5 + (((doc_id % 3) + 3) % 3)) AS n
        |  FROM documents),
        |i AS (SELECT unnest(generate_series(0, 1119)) AS i),
        |s AS (
        |  SELECT d.doc_id, d.n, i.i,
        |    ((((d.doc_id * 31 + i.i * 7) % 65536) + 65536) % 65536) - 32768
        |      AS v
        |  FROM d, i WHERE i.i < d.n)
        |SELECT doc_id, CAST(8000 AS INT) AS sample_rate,
        |  CAST(n AS BIGINT) AS n_samples,
        |  CAST(i // 160 AS INT) AS window_idx,
        |  CAST(sum(v * v) AS BIGINT) AS energy,
        |  CAST(max(abs(v)) AS INT) AS peak_abs
        |FROM s GROUP BY doc_id, n, i // 160""".stripMargin,

    // Mirrors the MD5-derived stub arithmetic exactly: h = first 16 bits of
    // md5(utf8 bytes); f_i = float32 of ((h*(i+1)) % 65536)/65535 - 0.5,
    // widened back to double — identical IEEE ops in both engines.
    "q_multimodal_features" -> {
      val fCols = (0 until 8).map(i =>
        s"CAST(CAST(((h * ${i + 1}) % 65536) / 65535.0 - 0.5 AS REAL) AS DOUBLE) AS f$i")
        .mkString(",\n  ")
      s"""SELECT doc_id,
         |  $fCols
         |FROM (SELECT doc_id,
         |        CAST('0x' || substring(md5(text), 1, 4) AS INTEGER) AS h
         |      FROM documents)""".stripMargin
    },

    "q_stream_join" ->
      """SELECT p.user_id, count(*) AS n_pairs
        |FROM (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'purchase') p
        |JOIN (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'error') e
        |  ON p.user_id = e.user_id
        | AND e.ts >= p.ts - INTERVAL 30 MINUTE
        | AND e.ts <= p.ts
        |GROUP BY p.user_id""".stripMargin,

    "q_stream_dedup" ->
      """SELECT event_type, count(*) AS n FROM (
        |  SELECT DISTINCT user_id, event_type, date_trunc('minute', ts) AS m
        |  FROM events
        |) GROUP BY event_type""".stripMargin
  )
}
