package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.functions.CacheScope

/** Structured Streaming surface over the `events` table.
  *
  * The reference has no event-time streaming (SURVEY §2.7) — this is the
  * engine's native extension: watermarked windowed aggregation, gap-based
  * session windows, and custom state via flatMapGroupsWithState. Each
  * transform is defined on a DataFrame so the SAME code runs in batch mode
  * (for the DuckDB oracle) and under readStream (for incremental execution);
  * parity between the two is the streaming correctness test.
  */
object EventStreams {

  /** The events schema (nanos read as long, converted like the batch path). */
  def rawSchema(tsType: org.apache.spark.sql.types.DataType): StructType =
    StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", tsType), // int64 nanos or TIMESTAMP_NTZ µs
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))

  /** Open the events parquet as a stream (file-source incremental read).
    * File streams need a declared schema, and testdata generations differ
    * on ts (int64 nanos vs TIMESTAMP_NTZ µs) — probe the batch reader's
    * inferred type once, then normalize exactly like Tables.df. */
  def readStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tsType = spark.read
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .schema("ts").dataType
    // file-stream sources take a directory; select just the events file
    val s = spark.readStream.schema(rawSchema(tsType))
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    tsType match {
      case LongType => s.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => s.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  /** Hourly tumbling-window counts with a 1-hour watermark. In batch mode
    * window() degenerates to the same grouping — oracle-comparable. */
  def hourlyRollup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))
      .select(col("w.start").as("hour"), col("event_type"), col("n"), col("sum_value"))

  /** Gap-based sessionization: one row per (user, session). session_window
    * merges events closer than the gap; a new session starts when the gap is
    * ≥ 30 min. */
  def sessionWindows(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))

  /** Watermarked streaming deduplication: one surviving event per
    * (user, event_type, minute) — dropDuplicates keeps per-key state only
    * until the watermark passes, so state is bounded by the lateness
    * horizon, not the stream length. Same code runs in batch for the
    * parity oracle. */
  def dedupedEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .withColumn("minute", date_trunc("minute", col("ts")))
      .dropDuplicates("user_id", "event_type", "minute")

  /** Stream-stream interval join: each purchase joined to the SAME USER's
    * error events from the preceding `windowMinutes` — the watermark bounds
    * both join-state buffers, so state is O(lateness × rate), not O(stream).
    * Inner equi-join + event-time interval condition is exactly the shape
    * Structured Streaming can run incrementally; identical code runs in
    * batch for the parity oracle. */
  def purchaseErrorJoin(purchases: DataFrame, errors: DataFrame,
                        windowMinutes: Int = 30): DataFrame = {
    val p = purchases.select(col("event_id").as("p_id"), col("user_id"),
      col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val e = errors.select(col("event_id").as("e_id"),
      col("user_id").as("e_user"), col("ts").as("e_ts"))
      .withWatermark("e_ts", "1 hour")
    p.join(e,
      col("user_id") === col("e_user") &&
        col("e_ts") >= col("p_ts") - expr(s"INTERVAL $windowMinutes MINUTES") &&
        col("e_ts") <= col("p_ts"))
      .select(col("p_id"), col("user_id"), col("p_ts"), col("e_id"), col("e_ts"))
  }

  /** The documents table as a file-source stream (for streaming-ingest
    * pipeline stages: filtering, decontamination, scoring on arrival). */
  def readDocumentsStream(spark: SparkSession, dir: String): DataFrame = {
    val docsSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("lang", StringType),
      StructField("source", StringType),
      StructField("n_chars", LongType),
      StructField("text", StringType)))
    spark.readStream.schema(docsSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
  }

  /** Stream-STATIC join: incoming documents checked against a static
    * benchmark-gram set on arrival — streaming decontamination. The static
    * side is a plain DataFrame (broadcast by Catalyst when small); no
    * watermark needed because the static side never changes. Emits
    * (doc_id, n_shared) for contaminated documents only. */
  def streamingContamination(docs: DataFrame, benchmarkGrams: DataFrame,
                             n: Int = 4): DataFrame =
    docs.select(col("doc_id"),
        // per-doc distinct BEFORE the explode (array_distinct on the window
        // hashes) — a streaming dropDuplicates here would add a second
        // stateful operator for state that is local to one row anyway
        explode(array_distinct(
          graft.functions.Decontamination.ngramHashes(col("text"), n))).as("g"))
      .join(benchmarkGrams, "g") // stream-static inner join
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))

  /** Streaming Naive Bayes classification — model SERVING over a stream:
    * the model (per-(label, token) counts, class totals, priors) is
    * trained batch-side on `staticDocs` once, pivoted to one row per
    * token, and every arriving document is scored against it via a
    * stream-static join. The per-class label sums fold into ONE stateful
    * aggregate (k decimal sums per doc — the labels are plan constants),
    * and the argmax is a pure projection, so the whole pipeline has a
    * single stateful operator and no watermark requirement.
    *
    * Arithmetic is exactly [[graft.functions.NaiveBayes.trainAndPredict]]'s
    * (add-one smoothing, rounded-ln DECIMAL sums, priors rounded under the
    * same HALF_UP rule, ties toward the HIGHER label) — decimal sums are
    * order-independent, so streaming micro-batching cannot change a score
    * and the streamed result equals the batch classifier bit for bit. */
  def streamingNaiveBayes(docs: DataFrame, staticDocs: DataFrame,
                          idCol: String, textCol: String, labelCol: String,
                          logScale: Int = 6): DataFrame = {
    import graft.functions.Text
    val base = staticDocs.select(col(idCol).as("__id"),
      col(labelCol).as("__true"), col(textCol).as("__text"))
    val cnt = base.select(col("__true").as("label"),
        explode(Text.tokens(col("__text"))).as("token"))
      .groupBy(col("label"), col("token")).agg(count(lit(1)).as("__c"))
    val labels = base.select(col("__true")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    val vocab = cnt.select(col("token")).distinct().count()
    val totalDocs = base.count()
    val ncM = cnt.groupBy(col("label")).agg(sum(col("__c")).as("nc"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val ndM = base.groupBy(col("__true")).agg(count(lit(1)).as("nd"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def prior(l: String): java.math.BigDecimal =
      BigDecimal(math.log(ndM(l).toDouble / totalDocs.toDouble))
        .setScale(logScale, scala.math.BigDecimal.RoundingMode.HALF_UP)
        .underlying()
    // one static row per token: the per-label counts pivoted wide
    val wide = cnt.groupBy(col("token")).pivot("label", labels)
      .agg(first(col("__c")))
      .toDF("token" +: labels.indices.map(i => s"__c$i"): _*)

    val decT = s"decimal(28,$logScale)"
    val lpCols = labels.indices.map { i =>
      round(log((coalesce(col(s"__c$i"), lit(0L)) + lit(1L)).cast("double") /
        lit((ncM(labels(i)) + vocab).toDouble)), logScale)
        .cast(decT).as(s"__lp$i")
    }
    val sums = docs.select(col(idCol), col(labelCol),
        explode(Text.tokens(col(textCol))).as("token"))
      .join(wide, Seq("token"), "left") // stream-static
      .select(Seq(col(idCol), col(labelCol)) ++ lpCols: _*)
      .groupBy(col(idCol), col(labelCol)) // the single stateful operator
      .agg(sum(col("__lp0")).as("__s0"),
        labels.indices.drop(1).map(i => sum(col(s"__lp$i")).as(s"__s$i")): _*)
    val scores = labels.indices.map(i =>
      (col(s"__s$i") + lit(prior(labels(i))).cast(decT)).as(s"__sc$i"))
    val scored = sums.select(Seq(col(idCol), col(labelCol)) ++ scores: _*)
    // >= so a later (higher, labels are sorted asc) label wins ties —
    // the batch classifier's max(struct(score, label)) semantics
    val best = labels.indices.drop(1).foldLeft(
      struct(col("__sc0").as("sc"), lit(labels(0)).as("lb"))) { (acc, i) =>
      when(col(s"__sc$i") >= acc.getField("sc"),
        struct(col(s"__sc$i").as("sc"), lit(labels(i)).as("lb"))).otherwise(acc)
    }
    scored.select(col(idCol), col(labelCol), best.getField("lb").as("pred"),
        round(best.getField("sc").cast("double"), 4).as("score"))
      .withColumn("ok", col("pred") === col(labelCol))
  }

  /** Static reference side for streaming near-dedup: the corpus's minhash
    * LSH band buckets, carrying the reference id and text (the verify
    * payload; at 100 TB carry the signature and verify in a later stage
    * instead). Build once, reuse across micro-batches. */
  def referenceBandBuckets(ref: DataFrame, idCol: String, textCol: String,
                           shingleSize: Int = 2, numHashes: Int = 32,
                           bands: Int = 8, seed: Int = 42): DataFrame = {
    val rowsPerBand = numHashes / bands
    ref.select(col(idCol).as("idRef"), col(textCol).as("__tr"),
        graft.functions.expressions.MinHashExpression
          .minhashTokens(graft.functions.Text.tokens(col(textCol)),
            shingleSize, numHashes, seed.toLong).as("__sigR"))
      .select(col("idRef"), col("__tr"),
        posexplode(graft.functions.expressions.MinHashExpression
          .bandHashes(col("__sigR"), bands, rowsPerBand)).as(Seq("band", "bucket")))
  }

  /** Stream-STATIC near-duplicate detection: each arriving document
    * computes its minhash band keys (one codegen'd projection) and joins
    * the static reference bucket table; bucket-collision candidates are
    * verified by exact text equality, and a pair found in several bands
    * collapses in the aggregate. The incremental-ingest dedup shape — new
    * data checked against the standing corpus on arrival, state bounded by
    * the output (pair set), never the stream. Emits (idNew, idRef). */
  def streamingNearDup(docs: DataFrame, refBuckets: DataFrame,
                       shingleSize: Int = 2, numHashes: Int = 32,
                       bands: Int = 8, seed: Int = 42): DataFrame = {
    val rowsPerBand = numHashes / bands
    docs.select(col("doc_id").as("idNew"), col("text").as("__tn"),
        graft.functions.expressions.MinHashExpression
          .minhashTokens(graft.functions.Text.tokens(col("text")),
            shingleSize, numHashes, seed.toLong).as("__sigN"))
      .select(col("idNew"), col("__tn"),
        posexplode(graft.functions.expressions.MinHashExpression
          .bandHashes(col("__sigN"), bands, rowsPerBand)).as(Seq("band", "bucket")))
      .join(refBuckets, Seq("band", "bucket")) // stream-static inner join
      .filter(col("__tn") === col("__tr"))    // exact verify on the candidate
      .groupBy(col("idNew"), col("idRef"))
      .agg(count(lit(1)).as("__bands")) // collapse multi-band hits
      .select(col("idNew"), col("idRef"))
  }

  /** Sessions per user (count of session windows). */
  def sessionCounts(events: DataFrame): DataFrame =
    sessionWindows(events)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("n_events"))

  /** Continuous SCD-1 maintenance: run a change-feed stream to completion,
    * folding every micro-batch into a snapshot via
    * [[graft.operators.Merge.upsert]] (foreachBatch — the standard
    * Structured Streaming pattern for maintaining an upsert-able
    * materialized table on a sink without native merge). Within a batch,
    * keys must be unique (the Merge contract); across batches, later
    * micro-batches win — so when each key appears at most once in the
    * whole feed, the final snapshot is INDEPENDENT of how the source was
    * micro-batched. Each generation is plan-flattened and materialized
    * before its predecessor is freed (constant plan size and live cache
    * over an unbounded stream — the iterative-operator hygiene contract).
    * Returns the final snapshot; eager, under the [[CacheScope]] rules. */
  def streamingUpsert(spark: SparkSession, changes: DataFrame,
                      initial: DataFrame, keyCols: Seq[String],
                      deleteCol: Option[String] = None): DataFrame = CacheScope { s =>
    var snapshot = s.materialize(org.apache.spark.sql.graft.PlanBridge
      .flattenPlan(initial.select(initial.columns.map(col): _*)))
    StreamRun.toCompletion(changes.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val merged = s.materialize(org.apache.spark.sql.graft.PlanBridge.flattenPlan(
            graft.operators.Merge.upsert(snapshot, batch, keyCols, deleteCol)))
        s.free(snapshot, blocking = false)
        snapshot = merged
      }, "graft_upsert_")
    snapshot
  }

  /** Streaming incremental VIEW maintenance: fold a CDC change stream
    * into a [[graft.operators.Merge.buildAggregate]] view, one signed
    * delta merge per micro-batch — the always-fresh dashboard/feature
    * aggregate over an unbounded feed, never rescanning the facts.
    * Because count/decimal-sum deltas are associative and commutative,
    * the final view is INDEPENDENT of how the feed was micro-batched and
    * equals the batch [[graft.operators.Merge.maintainAggregate]] over
    * the whole feed bit for bit. Generation hygiene as
    * [[streamingUpsert]]: flatten + materialize, then free the
    * predecessor. Returns the final view; eager, under the [[CacheScope]]
    * rules. */
  def streamingAggMaintain(spark: SparkSession, changes: DataFrame,
                           initial: DataFrame, keyCols: Seq[String],
                           valueCols: Seq[String],
                           opCol: String = "op"): DataFrame = CacheScope { s =>
    var view = s.materialize(org.apache.spark.sql.graft.PlanBridge
      .flattenPlan(initial.select(initial.columns.map(col): _*)))
    StreamRun.toCompletion(changes.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        // the batch runs on the stream's thread: enter the scope so the
        // eager maintainAggregate hands its result here; flatten +
        // materialize the generation, then free the inner frame and the
        // predecessor generation
        s.enter {
          val inner = graft.operators.Merge.maintainAggregate(
            view, batch, keyCols, valueCols, opCol)
          val merged = s.materialize(
            org.apache.spark.sql.graft.PlanBridge.flattenPlan(inner))
          s.free(inner, blocking = false)
          s.free(view, blocking = false)
          view = merged
        }
      }, "graft_aggmaint_")
    view
  }

  /** Run a streaming DataFrame to completion against its (static) file
    * source and return the result as a batch DataFrame of `spark`, via the
    * memory sink; `Complete` mode by default so aggregates fold over all
    * input.
    *
    * The stream runs in a child of `spark` with 8 shuffle partitions, and
    * `spark`'s own conf is never written. The shuffle-partition count fixes
    * the stateful operators' STATE STORE COUNT at first start, and that
    * count dominates micro-batch latency when state is small (measured:
    * the interval join runs 5.3 s with 32 stores and 1.9 s with 4;
    * per-store open/commit/maintenance is the floor, not data). The memory
    * sink's view is registered in the child's catalog and dropped before
    * returning: the returned frame alone holds the rows. */
  def runToBatch(spark: SparkSession, streamed: DataFrame,
                 mode: OutputMode = OutputMode.Complete()): DataFrame =
    PlanBridge.withChildSession(spark, "spark.sql.shuffle.partitions" -> "8") { child =>
      val name = StreamRun.toCompletion(PlanBridge.rebind(streamed, child).writeStream
        .format("memory").outputMode(mode), "graft_stream_")
      val out = PlanBridge.rebind(child.table(name), spark)
      child.catalog.dropTempView(name) // `out` holds the sink's rows itself
      out
    }

  // ---------------------------------------------------------------- custom state

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double)
  case class UserRunningState(nEvents: Long, totalValue: Double, lastTs: Long)
  case class UserSnapshot(user_id: Long, n_events: Long, total_value: Double)

  case class PriDoc(doc_id: Long, lang: String, n_chars: Long)
  case class PriItem(pri: Double, id: Long, w: Long)
  case class PriState(items: List[PriItem], gen: Long)
  case class PriEmit(lang: String, doc_id: Long, weight: Long, w_hat: Double,
                     version: Long)

  /** Streaming per-group priority sample (Duffield-Lund-Thorup over an
    * unbounded stream): state per group is the k+1 SMALLEST priorities
    * seen so far — min-k is associative and commutative, so the final
    * state is a pure function of the set of rows, independent of
    * micro-batching, arrival order, and restarts, and must equal
    * [[graft.functions.Mixing.prioritySampleByGroup]] on the same rows
    * BIT FOR BIT (estimator included: τ_g = 1/p_{k+1} from the same
    * state). O(k) state per group — the streaming-native version of the
    * bounded-state sampling contract. Emits the current sample each
    * batch with a monotone `version`; the caller keeps each group's last
    * version (one tiny aggregate). */
  def streamingPrioritySample(spark: SparkSession, docs: DataFrame,
                              k: Int): DataFrame = {
    import spark.implicits._
    val ds = docs.selectExpr("doc_id", "lang", "n_chars").as[PriDoc]
    ds.groupByKey(_.lang)
      .flatMapGroupsWithState[PriState, PriEmit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (lang, rows, state: GroupState[PriState]) =>
          var items = state.getOption.map(_.items).getOrElse(Nil)
          rows.foreach { d =>
            if (d.n_chars > 0) {
              // identical arithmetic to the batch operator: 48-bit md5
              // prefix + 1 over IEEE double division
              val hex = java.security.MessageDigest.getInstance("MD5")
                .digest(d.doc_id.toString.getBytes("UTF-8"))
                .take(6).map("%02x".format(_)).mkString
              val pri = (java.lang.Long.parseLong(hex, 16) + 1).toDouble / d.n_chars
              items = (PriItem(pri, d.doc_id, d.n_chars) :: items)
                .sortBy(it => (it.pri, it.id)).take(k + 1)
            }
          }
          val version = state.getOption.map(_.gen).getOrElse(0L) + 1L
          state.update(PriState(items, version))
          val tau = if (items.length > k) 1.0 / items(k).pri else 0.0
          items.take(k).iterator.map { it =>
            PriEmit(lang, it.id, it.w,
              BigDecimal(math.max(it.w.toDouble, tau))
                .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
              version)
          }
      }.toDF()
  }

  /** Custom per-user running state via flatMapGroupsWithState — the
    * KeyValueGroupedDataset stateful-processing extension point
    * (mapGroupsWithState family). Emits a snapshot per user per batch. */
  def runningUserStats(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    val ds = events.selectExpr("event_id", "ts", "user_id", "event_type", "value").as[Event]
    val updated = ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[UserRunningState, UserSnapshot](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (uid, rows, state: GroupState[UserRunningState]) =>
          val prev = state.getOption.getOrElse(UserRunningState(0L, 0.0, Long.MinValue))
          var n = prev.nEvents; var tot = prev.totalValue; var last = prev.lastTs
          rows.foreach { e =>
            n += 1; tot += e.value; last = math.max(last, e.ts.getTime)
          }
          state.update(UserRunningState(n, tot, last))
          Iterator(UserSnapshot(uid, n, tot))
      }
    updated.toDF()
  }
}
