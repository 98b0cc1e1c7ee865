package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{CsvWriter, DatasetSidecar}
import graft.model.StarTable
import graft.sources.StarTableSource

/** Round-12 dataset schema evolution (VERDICT r11 item 3): appending a
  * batch with NEW data columns to an existing dataset. The sidecar's
  * schema union is the commit point; pre-evolution slices' short rows
  * read null-padded; the new columns are recorded as lateColumns so
  * statistics pruning and metadata aggregates keep working (a missing
  * per-slice stat on a late column provably means all-null). */
class EvolveSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** 3-slice dataset over (grp, v); returns root. */
  private def base(tag: String, sharded: Boolean = false): String = {
    val out = Files.createTempDirectory(s"graft_ev_$tag").toString + "/ds"
    val df = spark.range(300).select(
      concat(lit("g"), (col("id") % 3).cast("string")).as("grp"),
      col("id").cast("double").as("v"))
    CsvWriter.writePartitionedDataset(
      StarTable.fromDataFrame(df, "ev"), out, partitionBy = Seq("grp"),
      numFiles = 3, shardStats = if (sharded) Some(true) else None)
    out
  }

  /** Evolve slice g1: same rows, plus w = v * 10. */
  private def evolveG1(out: String): Unit = {
    val df = spark.range(300).select(
      concat(lit("g"), (col("id") % 3).cast("string")).as("grp"),
      col("id").cast("double").as("v"),
      (col("id").cast("double") * 10.0).as("w"))
      .filter(col("grp") === "g1")
    CsvWriter.writePartitionedDataset(
      StarTable.fromDataFrame(df, "ev"), out, partitionBy = Seq("grp"),
      numFiles = 2, overwriteSlices = true, evolveSchema = true)
  }

  test("evolution appends a column: union schema on read, pre-evolution " +
    "slices null-padded, lateColumns recorded, commit advanced") {
    val out = base("basic")
    val c0 = StarTableSource.readDatasetMeta(Seq(out)).get.commit
    evolveG1(out)
    val m = StarTableSource.readDatasetMeta(Seq(out)).get
    assert(m.cols === Seq("v", "w") && m.lateCols === Seq("w"))
    assert(m.commit > c0)
    val back = spark.read.format("startable").load(out)
    assert(back.columns.toSet === Set("grp", "v", "w"))
    val agg = back.groupBy("grp")
      .agg(count(lit(1)).as("n"), count(col("w")).as("nw"),
        sum(col("w")).as("sw"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), Option(r.get(3)).map(_.toString)))
      .toMap
    assert(agg("g0") === ((100L, 0L, None)), "pre-evolution slice must null-pad")
    assert(agg("g2")._2 === 0L)
    assert(agg("g1")._1 === 100L && agg("g1")._2 === 100L)
    // w = v*10 for ids ≡ 1 mod 3: sum = 10 * (1 + 4 + ... + 298)
    val expected = (1 until 300 by 3).map(_ * 10.0).sum
    assert(agg("g1")._3.contains(expected.toString))
  }

  test("metadata aggregates keep working across an evolution: min/max over " +
    "the late column folds pre-evolution slices as all-null (inline and " +
    "sharded layouts)") {
    for (sharded <- Seq(false, true)) {
      val out = base(s"meta_$sharded", sharded)
      evolveG1(out)
      val agged = spark.read.format("startable").load(out)
        .agg(min(col("w")).as("mn"), max(col("w")).as("mx"),
          count(lit(1)).as("n"))
      assert(agged.queryExecution.executedPlan.toString
          .contains("StarMetaAggScan"),
        s"metadata aggregate must engage over the evolved column (sharded=$sharded)")
      val r = agged.collect().head
      assert(r.getDouble(0) === 10.0 && r.getDouble(1) === 2980.0 &&
        r.getLong(2) === 300L, r.toString)
    }
  }

  test("IsNotNull on the late column prunes pre-evolution slices from the " +
    "scan (their missing stat provably means all-null)") {
    val out = base("prune")
    evolveG1(out)
    val before = StarTableSource.filesSkippedByStats.sum()
    val n = spark.read.format("startable").load(out)
      .filter(col("w").isNotNull).count()
    assert(n === 100L)
    assert(StarTableSource.filesSkippedByStats.sum() > before,
      "pre-evolution slices were scanned instead of stats-pruned")
  }

  test("a missing stat on a NON-late column stays conservative: no skip, " +
    "metadata aggregate falls back") {
    import org.apache.spark.sql.sources.IsNotNull
    // direct kernel check: same missing stat, only lateCols differs
    val stats = Map("v" -> DatasetSidecar.ColStats("1.0", "2.0", 0L))
    val parse = Map[String, Any => Any]("v" -> identity, "w" -> identity)
    assert(StarTableSource.statsContradict(IsNotNull("w"), 10L, stats, parse,
      lateCols = Set("w")), "late column: all-null is provable, skip")
    assert(!StarTableSource.statsContradict(IsNotNull("w"), 10L, stats, parse),
      "non-late column: a missing stat must never skip")
  }

  test("evolution refusals: reordered prefix, missing overwriteSlices, no " +
    "new columns, and a non-evolve backfill with extra columns points at " +
    "evolveSchema") {
    val out = base("refuse")
    val evolved = spark.range(9).select(
      lit("g1").as("grp"), col("id").cast("double").as("w"),
      col("id").cast("double").as("v"))
    val e1 = intercept[IllegalArgumentException] {
      CsvWriter.writePartitionedDataset(
        StarTable.fromDataFrame(evolved, "ev"), out, Seq("grp"),
        overwriteSlices = true, evolveSchema = true)
    }
    assert(e1.getMessage.contains("exact prefix"), e1.getMessage)
    val ok = spark.range(9).select(lit("g1").as("grp"),
      col("id").cast("double").as("v"), col("id").cast("double").as("w"))
    val e2 = intercept[IllegalArgumentException] {
      CsvWriter.writePartitionedDataset(
        StarTable.fromDataFrame(ok, "ev"), out, Seq("grp"),
        evolveSchema = true)
    }
    assert(e2.getMessage.contains("overwriteSlices"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      CsvWriter.writePartitionedDataset(
        StarTable.fromDataFrame(ok, "ev"), out, Seq("grp"),
        overwriteSlices = true)
    }
    assert(e3.getMessage.contains("evolveSchema = true"), e3.getMessage)
    evolveG1(out)
    val same = spark.range(9).select(lit("g1").as("grp"),
      col("id").cast("double").as("v"), col("id").cast("double").as("w"))
    val e4 = intercept[IllegalArgumentException] {
      CsvWriter.writePartitionedDataset(
        StarTable.fromDataFrame(same, "ev"), out, Seq("grp"),
        overwriteSlices = true, evolveSchema = true)
    }
    assert(e4.getMessage.contains("no new columns"), e4.getMessage)
  }

  test("a crash between the stats strip and the data write leaves an " +
    "evolve RETRYABLE: the union schema publishes only at the final flip") {
    val out = base("retry")
    final class Kill extends RuntimeException("evolve drill kill")
    val prev = CsvWriter.faultHook
    CsvWriter.faultHook = p => if (p == "backfill:pre-data") throw new Kill
    try intercept[Kill] { evolveG1(out) }
    finally CsvWriter.faultHook = prev
    // the sidecar still carries the OLD schema (strip preserved it), so
    // readers see the old columns and the IDENTICAL retry is accepted —
    // an early union publish would refuse it with "no new columns"
    val mid = StarTableSource.readDatasetMeta(Seq(out)).get
    assert(mid.cols === Seq("v") && mid.lateCols.isEmpty,
      s"union schema leaked before the data landed: $mid")
    evolveG1(out) // at-least-once retry
    val m = StarTableSource.readDatasetMeta(Seq(out)).get
    assert(m.cols === Seq("v", "w") && m.lateCols === Seq("w"))
    assert(spark.read.format("startable").load(out)
      .filter(col("w").isNotNull).count() === 100L)
  }

  test("a second evolution accumulates lateColumns; slices see exactly " +
    "the columns that existed when they were last written") {
    val out = base("twice")
    evolveG1(out)
    // second evolution: add u on slice g2 (which has neither w nor u yet)
    val df2 = spark.range(300).select(
      concat(lit("g"), (col("id") % 3).cast("string")).as("grp"),
      col("id").cast("double").as("v"),
      (col("id").cast("double") * 10.0).as("w"),
      (col("id").cast("double") + 0.5).as("u"))
      .filter(col("grp") === "g2")
    CsvWriter.writePartitionedDataset(
      StarTable.fromDataFrame(df2, "ev"), out, Seq("grp"),
      overwriteSlices = true, evolveSchema = true)
    val m = StarTableSource.readDatasetMeta(Seq(out)).get
    assert(m.cols === Seq("v", "w", "u") && m.lateCols === Seq("w", "u"))
    val agg = spark.read.format("startable").load(out).groupBy("grp")
      .agg(count(col("w")).as("nw"), count(col("u")).as("nu"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // g0: original write (neither); g1: first evolution (w only);
    // g2: second evolution (both — its backfill wrote the union schema)
    assert(agg("g0") === ((0L, 0L)) && agg("g1") === ((100L, 0L)) &&
      agg("g2") === ((100L, 100L)), agg.toString)
    // metadata min/max over BOTH late columns still engages
    val agged = spark.read.format("startable").load(out)
      .agg(max(col("w")).as("mw"), max(col("u")).as("mu"),
        count(lit(1)).as("n"))
    assert(agged.queryExecution.executedPlan.toString
      .contains("StarMetaAggScan"))
    val r = agged.collect().head
    // max w = 2990 (g2's id 299, written by the SECOND evolution's union
    // backfill), max u = 299.5 (g2 only)
    assert(r.getDouble(0) === 2990.0 && r.getDouble(1) === 299.5 &&
      r.getLong(2) === 300L, r.toString)
  }

  test("a STREAMED dataset evolves across a stop/restart: the resumed " +
    "stream carries the new column, old slices read null-padded, and the " +
    "sidecar keeps lateColumns") {
    import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
    val basePath = Files.createTempDirectory("graft_ev_stream")
    val staging1 = basePath.resolve("staging1").toString
    val out = basePath.resolve("ds").toString
    // leg 1: stream (grp, v) — the pre-evolution schema
    spark.range(40).select(
      when(col("id") % 2 === 0, "a").otherwise("b").as("grp"),
      col("id").cast(DoubleType).as("v"))
      .repartition(2).write.parquet(staging1)
    val s1 = spark.readStream.schema(StructType(Seq(
        StructField("grp", StringType), StructField("v", DoubleType))))
      .parquet(staging1)
    val q1 = CsvWriter.streamPartitionedDataset(
      StarTable.fromDataFrame(s1, "evs", units = Map("grp" -> "text")),
      out, Seq("grp"), basePath.resolve("ckpt1").toString)
    try q1.processAllAvailable() finally q1.stop()
    // evolve: backfill slice c with the appended column w (the lease is
    // free — stop() released it synchronously)
    val evolved = spark.range(10).select(lit("c").as("grp"),
      col("id").cast(DoubleType).as("v"),
      (col("id").cast(DoubleType) * 2.0).as("w"))
    CsvWriter.writePartitionedDataset(
      StarTable.fromDataFrame(evolved, "evs"), out, Seq("grp"),
      overwriteSlices = true, evolveSchema = true)
    // leg 2: the resumed stream must now carry the union schema — the
    // old shape is refused (it would silently fork the dataset schema)
    val sOld = spark.readStream.schema(StructType(Seq(
        StructField("grp", StringType), StructField("v", DoubleType))))
      .parquet(staging1)
    intercept[IllegalArgumentException] {
      CsvWriter.streamPartitionedDataset(
        StarTable.fromDataFrame(sOld, "evs", units = Map("grp" -> "text")),
        out, Seq("grp"), basePath.resolve("ckpt_bad").toString)
    }
    // the resumed stream REUSES its checkpoint AND its staging dir (the
    // real resume shape): the sink's _spark_metadata batch ids are
    // dataset-global, so a fresh checkpoint would replay batch ids the
    // manifest already holds and the sink would skip them, and the file
    // source's offsets are path-bound. New files in the same staging
    // carry the new column; committed leg-1 files are never re-read.
    spark.range(40, 60).select(
      when(col("id") % 2 === 0, "a").otherwise("b").as("grp"),
      col("id").cast(DoubleType).as("v"),
      (col("id").cast(DoubleType) * 2.0).as("w"))
      .repartition(2).write.mode("append").parquet(staging1)
    val s2 = spark.readStream.schema(StructType(Seq(
        StructField("grp", StringType), StructField("v", DoubleType),
        StructField("w", DoubleType))))
      .parquet(staging1)
    val q2 = CsvWriter.streamPartitionedDataset(
      StarTable.fromDataFrame(s2, "evs", units = Map("grp" -> "text")),
      out, Seq("grp"), basePath.resolve("ckpt1").toString)
    try q2.processAllAvailable() finally q2.stop()
    val m = StarTableSource.readDatasetMeta(Seq(out)).get
    assert(m.cols === Seq("v", "w") && m.lateCols === Seq("w"))
    val agg = spark.read.format("startable").load(out)
      .agg(count(lit(1)).as("n"), count(col("w")).as("nw"))
      .collect().head
    // 40 leg-1 rows (w null-padded) + 10 evolved + 20 leg-2 rows with w
    assert(agg.getLong(0) === 70L && agg.getLong(1) === 30L, agg.toString)
  }

  test("METADATA-ONLY evolution (round 13): the sidecar alone evolves — " +
    "old slices null-pad, the next PLAIN backfill carries the column, " +
    "stats pruning and metadata aggregates stay engaged") {
    for (sharded <- Seq(false, true)) {
      val out = base(s"metaonly_$sharded", sharded)
      val c0 = StarTableSource.readDatasetMeta(Seq(out)).get.commit
      CsvWriter.evolveDatasetSchema(spark, out, Seq("w" -> "-"))
      val m = StarTableSource.readDatasetMeta(Seq(out)).get
      assert(m.cols === Seq("v", "w") && m.units.last === "-" &&
        m.lateCols === Seq("w") && m.commit > c0, m.toString)
      val back = spark.read.format("startable").load(out)
      assert(back.columns.toSet === Set("grp", "v", "w"))
      // every slice predates the column: all rows read, w all-null
      val r0 = back.agg(count(lit(1)).as("n"), count(col("w")).as("nw"))
        .collect().head
      assert(r0.getLong(0) === 300L && r0.getLong(1) === 0L)
      // IsNotNull(w) prunes EVERY slice (missing late-col stat = all-null)
      val before = StarTableSource.filesSkippedByStats.sum()
      assert(back.filter(col("w").isNotNull).count() === 0L)
      assert(StarTableSource.filesSkippedByStats.sum() > before,
        s"pre-evolution slices must be stats-pruned (sharded=$sharded)")
      // the next PLAIN backfill (no evolveSchema flag) carries the column
      val upd = spark.range(10).select(lit("g0").as("grp"),
        col("id").cast("double").as("v"),
        (col("id").cast("double") * 5.0).as("w"))
      CsvWriter.writePartitionedDataset(
        StarTable.fromDataFrame(upd, "ev"), out, Seq("grp"),
        overwriteSlices = true)
      val agged = spark.read.format("startable").load(out)
        .agg(max(col("w")).as("mw"), count(lit(1)).as("n"))
      assert(agged.queryExecution.executedPlan.toString
        .contains("StarMetaAggScan"),
        s"metadata aggregate must engage after a metadata-only evolve (sharded=$sharded)")
      val r = agged.collect().head
      assert(r.getDouble(0) === 45.0 && r.getLong(1) === 210L, r.toString)
    }
    // refusals: clashing name, empty list, not a dataset
    val out2 = base("metaonly_refuse")
    val e1 = intercept[IllegalArgumentException] {
      CsvWriter.evolveDatasetSchema(spark, out2, Seq("v" -> "-"))
    }
    assert(e1.getMessage.contains("already exist"), e1.getMessage)
    intercept[IllegalArgumentException] {
      CsvWriter.evolveDatasetSchema(spark, out2, Nil)
    }
    intercept[IllegalArgumentException] {
      CsvWriter.evolveDatasetSchema(spark,
        Files.createTempDirectory("graft_ev_notads").toString, Seq("w" -> "-"))
    }
  }

  test("lateColumns survive later backfills and maintenance passes") {
    val out = base("carry")
    evolveG1(out)
    // ordinary backfill with the union schema
    val upd = spark.range(10).select(lit("g0").as("grp"),
      col("id").cast("double").as("v"),
      (col("id").cast("double") * 5.0).as("w"))
    CsvWriter.writePartitionedDataset(
      StarTable.fromDataFrame(upd, "ev"), out, Seq("grp"),
      overwriteSlices = true)
    assert(StarTableSource.readDatasetMeta(Seq(out)).get.lateCols === Seq("w"))
    graft.operators.Maintenance.clusterStarDataset(spark, out, Seq("v"),
      targetBytes = 16 * 1024)
    assert(StarTableSource.readDatasetMeta(Seq(out)).get.lateCols === Seq("w"))
    // g2 remains pre-evolution: the metadata aggregate still engages
    val agged = spark.read.format("startable").load(out)
      .agg(max(col("w")).as("mx"), count(lit(1)).as("n"))
    assert(agged.queryExecution.executedPlan.toString
      .contains("StarMetaAggScan"))
    val r = agged.collect().head
    assert(r.getDouble(0) === 2980.0 && r.getLong(1) === 210L, r.toString)
  }
}
