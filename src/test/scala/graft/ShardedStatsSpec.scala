package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Sharded statistics layout: per-leaf `_startable_slice.json` shards
  * instead of inline root-sidecar entries — planning loads only the
  * shards of slices a query touches (cost scales with slices TOUCHED,
  * not dataset size), shards are written distributed (no cardinality
  * cap), and dynamic partition overwrite deletes a slice's stats with
  * its bytes (no stats-strip crash protocol). */
class ShardedStatsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def src = graft.sources.StarTableSource
  private def sidecar = graft.io.DatasetSidecar

  private def mkTable(n: Int = 3000, slices: Int = 3): graft.model.StarTable =
    graft.model.StarTable.fromDataFrame(
      (0 until n).map(i => (s"g${i % slices}", i.toDouble, s"tag$i"))
        .toDF("grp", "x", "tag"),
      "sharded", units = Map("grp" -> "text", "tag" -> "text"))

  private def shardPath(out: String, leaf: String) =
    new java.io.File(s"$out/$leaf/${graft.io.DatasetSidecar.SliceShardFile}")

  private def readBack(out: String): Set[(String, Double, String)] =
    spark.read.format("startable").load(out)
      .select("grp", "x", "tag").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getString(2))).toSet

  test("forced sharded write: shards per leaf, no inline stats, " +
    "read-back identical, slice skipping and metadata aggregates engage") {
    val t = mkTable()
    val outS = Files.createTempDirectory("graft_shard").toString
    val outI = Files.createTempDirectory("graft_inline").toString
    graft.io.CsvWriter.writePartitionedDataset(t, outS, Seq("grp"),
      shardStats = Some(true))
    graft.io.CsvWriter.writePartitionedDataset(t, outI, Seq("grp"))

    val meta = src.readDatasetMeta(Seq(outS)).get
    assert(meta.statsSharded && meta.sliceStats.isEmpty && meta.fileStats.isEmpty)
    (0 until 3).foreach(i => assert(shardPath(outS, s"grp=g$i").isFile,
      s"missing shard for grp=g$i"))
    assert(readBack(outS) == readBack(outI))

    // the shard's slice entry must equal the inline layout's entry
    val inline = src.readDatasetMeta(Seq(outI)).get
    val shards = src.readSliceShards(
      (0 until 3).map(i => (s"$outS/grp=g$i", Seq(s"g$i"))))
    assert(shards.size == 3)
    inline.sliceStats.foreach { s =>
      val sh = shards(s.partition).slice
      assert(sh.rows == s.rows, s"rows for ${s.partition}")
      s.stats.foreach { case (c, cs) =>
        assert(sh.stats(c) == cs, s"stats for ${s.partition}/$c")
      }
    }

    // data-column predicate contradicted by one slice's range: that
    // slice's files skip unopened, and only the PRUNED leaves' shards load
    src.resetPushdownCounters()
    val n = spark.read.format("startable").load(outS)
      .filter(col("grp") === "g0" && col("x") > 1.0e9).count()
    assert(n == 0)
    assert(src.filesSkippedByStats.sum() > 0,
      "sharded slice stats skipped nothing")

    // metadata-only aggregates answer from the shards
    val agged = spark.read.format("startable").load(outS)
      .agg(count(lit(1)).as("n"), min(col("x")).as("mn"),
        max(col("x")).as("mx"))
    assert(agged.queryExecution.executedPlan.toString
      .contains("StarMetaAggScan"), "metadata aggregate did not engage")
    val r = agged.collect().head
    assert(r.getLong(0) == 3000 && r.getDouble(1) == 0.0 &&
      r.getDouble(2) == 2999.0)
  }

  test("partition-pruned probe loads only the touched slices' shards") {
    val t = mkTable(n = 4000, slices = 8)
    val out = Files.createTempDirectory("graft_shard_prune").toString
    graft.io.CsvWriter.writePartitionedDataset(t, out, Seq("grp"),
      shardStats = Some(true))
    src.invalidateShardCache(out) // cold cache: count real shard reads
    val before = src.shardsRead.sum()
    val agged = spark.read.format("startable").load(out)
      .filter(col("grp") === "g3")
      .agg(count(lit(1)).as("n"))
    assert(agged.queryExecution.executedPlan.toString
      .contains("StarMetaAggScan"))
    assert(agged.collect().head.getLong(0) == 500)
    val read = src.shardsRead.sum() - before
    assert(read == 1, s"a 1-slice probe read $read shards (dataset has 8)")
  }

  test("backfill follows the sharded layout: rewritten slice's shard is " +
    "fresh, untouched shards intact; forced layout drift refuses") {
    val t = mkTable()
    val out = Files.createTempDirectory("graft_shard_bf").toString
    graft.io.CsvWriter.writePartitionedDataset(t, out, Seq("grp"),
      shardStats = Some(true))
    val untouched = shardPath(out, "grp=g1")
    val untouchedBytes = Files.readAllBytes(untouched.toPath).toSeq

    val patch = graft.model.StarTable.fromDataFrame(
      Seq(("g0", 7777.0, "fresh")).toDF("grp", "x", "tag"),
      "sharded", units = Map("grp" -> "text", "tag" -> "text"))
    graft.io.CsvWriter.writePartitionedDataset(patch, out, Seq("grp"),
      overwriteSlices = true)
    assert(Files.readAllBytes(untouched.toPath).toSeq == untouchedBytes,
      "backfill disturbed an untouched slice's shard")
    val shards = src.readSliceShards(Seq((s"$out/grp=g0", Seq("g0"))))
    assert(shards(Seq("g0")).slice.rows == 1,
      "rewritten slice's shard was not refreshed")
    assert(readBack(out).count(_._1 == "g0") == 1)

    val drift = intercept[IllegalArgumentException] {
      graft.io.CsvWriter.writePartitionedDataset(patch, out, Seq("grp"),
        overwriteSlices = true, shardStats = Some(false))
    }
    assert(drift.getMessage.contains("layout drift"))
  }

  test("crash between data and shards: shardless slice is read (never " +
    "skipped), metadata aggregate falls back, rerun repairs") {
    val t = mkTable()
    val out = Files.createTempDirectory("graft_shard_crash").toString
    graft.io.CsvWriter.writePartitionedDataset(t, out, Seq("grp"),
      shardStats = Some(true))
    val patch = graft.model.StarTable.fromDataFrame(
      Seq(("g0", -1.0, "crashrow")).toDF("grp", "x", "tag"),
      "sharded", units = Map("grp" -> "text", "tag" -> "text"))
    graft.io.CsvWriter.faultHook =
      p => if (p == "backfill:pre-sidecar") throw new RuntimeException("boom")
    try intercept[RuntimeException] {
      graft.io.CsvWriter.writePartitionedDataset(patch, out, Seq("grp"),
        overwriteSlices = true)
    } finally graft.io.CsvWriter.faultHook = _ => ()
    src.invalidateShardCache(out)
    // the rewritten leaf has data but no shard: reads stay correct, a
    // range probe cannot skip it, the metadata count refuses (falls back)
    assert(!shardPath(out, "grp=g0").exists(),
      "crash drill expected a shardless rewritten slice")
    assert(readBack(out).contains(("g0", -1.0, "crashrow")))
    val agged = spark.read.format("startable").load(out)
      .agg(count(lit(1)).as("n"))
    assert(!agged.queryExecution.executedPlan.toString
      .contains("StarMetaAggScan"),
      "metadata aggregate served despite a missing shard")
    assert(agged.collect().head.getLong(0) ==
      spark.read.format("startable").load(out).count())
    // rerun the backfill: the shard returns, the metadata path re-engages
    graft.io.CsvWriter.writePartitionedDataset(patch, out, Seq("grp"),
      overwriteSlices = true)
    assert(shardPath(out, "grp=g0").isFile)
    val again = spark.read.format("startable").load(out)
      .agg(count(lit(1)).as("n"))
    assert(again.queryExecution.executedPlan.toString
      .contains("StarMetaAggScan"))
  }

  test("a fresh default-layout write past MaxStatSlices auto-upgrades to " +
    "sharded instead of degrading to no stats") {
    graft.io.CsvWriter.withMaxStatSlices(4) {
      val t = mkTable(n = 600, slices = 6)
      val out = Files.createTempDirectory("graft_shard_auto").toString
      graft.io.CsvWriter.writePartitionedDataset(t, out, Seq("grp"))
      val meta = src.readDatasetMeta(Seq(out)).get
      assert(meta.statsSharded, "cap did not auto-upgrade to sharded")
      assert(shardPath(out, "grp=g5").isFile)
      val agged = spark.read.format("startable").load(out)
        .agg(count(lit(1)).as("n"))
      assert(agged.queryExecution.executedPlan.toString
        .contains("StarMetaAggScan"))
      assert(agged.collect().head.getLong(0) == 600)
    }
  }

  test("compaction carries slice stats across the swap and drops stale " +
    "per-file entries; clustering regenerates them") {
    val t = mkTable()
    val out = Files.createTempDirectory("graft_shard_maint").toString
    graft.io.CsvWriter.writePartitionedDataset(t, out, Seq("grp"),
      numFiles = 6, filesPerSlice = 3, shardStats = Some(true))
    val pre = src.readSliceShards(Seq((s"$out/grp=g0", Seq("g0"))))(Seq("g0"))
    assert(pre.files.nonEmpty, "salted write should record per-file entries")

    graft.operators.Maintenance.compactStarDataset(spark, out,
      targetBytes = 1L << 30)
    val post = src.readSliceShards(Seq((s"$out/grp=g0", Seq("g0"))))(Seq("g0"))
    assert(post.slice == pre.slice, "compaction bent the slice entry")
    assert(post.files.isEmpty, "compaction kept stale per-file entries")
    val agged = spark.read.format("startable").load(out)
      .agg(count(lit(1)).as("n"), max(col("x")).as("mx"))
    assert(agged.queryExecution.executedPlan.toString
      .contains("StarMetaAggScan"))
    assert(agged.collect().head.getLong(0) == 3000)

    val rep = graft.operators.Maintenance.clusterStarDataset(
      spark, out, Seq("x"), targetBytes = 10000)
    assert(rep.fileStatsWritten > rep.slices,
      s"clustering wrote no per-file entries: $rep")
    val clustered = src.readSliceShards(
      Seq((s"$out/grp=g0", Seq("g0"))))(Seq("g0"))
    assert(clustered.files.size > 1)
    assert(clustered.slice.rows == pre.slice.rows)
    // file-tier skipping from the shard's per-file entries
    src.resetPushdownCounters()
    val got = spark.read.format("startable").load(out)
      .filter(col("x") >= 99.0 && col("x") < 111.0)
      .select("tag").collect().map(_.getString(0)).toSet
    assert(got == (99 until 111).map(i => s"tag$i").toSet)
    assert(src.filesSkippedByStats.sum() > 0,
      "clustered per-file shard stats skipped nothing")
  }

  test("shardDatasetStats migrates an inline dataset in place") {
    val t = mkTable()
    val out = Files.createTempDirectory("graft_shard_migrate").toString
    graft.io.CsvWriter.writePartitionedDataset(t, out, Seq("grp"))
    val inline = src.readDatasetMeta(Seq(out)).get
    assert(!inline.statsSharded && inline.sliceStats.nonEmpty)
    val before = readBack(out)

    val nShards = graft.operators.Maintenance.shardDatasetStats(spark, out)
    assert(nShards == 3)
    val meta = src.readDatasetMeta(Seq(out)).get
    assert(meta.statsSharded && meta.sliceStats.isEmpty && meta.fileStats.isEmpty)
    assert(readBack(out) == before)
    val shards = src.readSliceShards(
      (0 until 3).map(i => (s"$out/grp=g$i", Seq(s"g$i"))))
    inline.sliceStats.foreach(s =>
      assert(shards(s.partition).slice == s, s"migrated entry ${s.partition}"))
    val agged = spark.read.format("startable").load(out)
      .agg(count(lit(1)).as("n"))
    assert(agged.queryExecution.executedPlan.toString
      .contains("StarMetaAggScan"))
    assert(agged.collect().head.getLong(0) == 3000)
    // one-way: migrating twice refuses
    val twice = intercept[IllegalArgumentException] {
      graft.operators.Maintenance.shardDatasetStats(spark, out)
    }
    assert(twice.getMessage.contains("already sharded"))
  }

  test("listing-level directory pruning: subtrees contradicted by a " +
    "partition filter are never walked; Or stays conservative") {
    val rows = (0 until 1200).map(i => (s"d${i % 4}", s"g${i % 3}", i.toDouble))
    val t = graft.model.StarTable.fromDataFrame(
      rows.toDF("day", "grp", "x"), "pruned",
      units = Map("day" -> "text", "grp" -> "text"))
    val out = Files.createTempDirectory("graft_dirprune").toString
    graft.io.CsvWriter.writePartitionedDataset(t, out, Seq("day", "grp"))

    src.resetPushdownCounters()
    assert(spark.read.format("startable").load(out)
      .filter(col("day") === "d1").count() == 300)
    assert(src.dirsPruned.sum() >= 3,
      s"walk listed contradicted day= subtrees (pruned ${src.dirsPruned.sum()})")

    // Or across columns: at the day tier the grp branch is unknown →
    // every day is kept; at the grp tier both sides are known and the
    // non-matching leaves prune. The verdict stays exactly Spark's.
    src.resetPushdownCounters()
    assert(spark.read.format("startable").load(out)
      .filter(col("day") === "d1" || col("grp") === "g2").count() == 600)
    assert(src.dirsPruned.sum() >= 6,
      s"grp-tier pruning under Or missed (pruned ${src.dirsPruned.sum()})")
  }

  test("sharded backfill constructs the rewritten leaf paths directly: " +
    "escaped and null partition values round-trip") {
    val rows = Seq(("a b%c", 1.0, "x"), (null, 2.0, "y"), ("plain", 3.0, "z"))
    val t = graft.model.StarTable.fromDataFrame(
      rows.toDF("grp", "x", "tag"), "sharded",
      units = Map("grp" -> "text", "tag" -> "text"))
    val out = Files.createTempDirectory("graft_shard_esc").toString
    graft.io.CsvWriter.writePartitionedDataset(t, out, Seq("grp"),
      shardStats = Some(true))
    val patch = graft.model.StarTable.fromDataFrame(
      Seq(("a b%c", 10.0, "x2"), (null, 20.0, "y2")).toDF("grp", "x", "tag"),
      "sharded", units = Map("grp" -> "text", "tag" -> "text"))
    graft.io.CsvWriter.writePartitionedDataset(patch, out, Seq("grp"),
      overwriteSlices = true)
    // both rewritten slices' shards must be fresh (the targeted leaf-path
    // construction found them despite %-escaping / the default partition)
    val listing = src.listPartitionedFiles(Seq(out), Seq("grp"))
    val leaves = listing.map(f =>
      (new org.apache.hadoop.fs.Path(f._1).getParent.toString, f._3)).distinct
    val shards = src.readSliceShards(leaves)
    assert(shards.size == 3, s"expected 3 shards, got ${shards.keySet}")
    assert(shards(Seq("a b%c")).slice.rows == 1 &&
      shards(Seq("a b%c")).slice.stats("x").min == "10.0")
    assert(shards(Seq[String](null)).slice.rows == 1 &&
      shards(Seq[String](null)).slice.stats("x").min == "20.0")
    val agged = spark.read.format("startable").load(out)
      .agg(count(lit(1)).as("n"), max(col("x")).as("mx"))
    assert(agged.queryExecution.executedPlan.toString
      .contains("StarMetaAggScan"))
    val r = agged.collect().head
    assert(r.getLong(0) == 3 && r.getDouble(1) == 20.0)
  }

  test("streaming into a sharded dataset deletes the stale shards, and a " +
    "later migration cannot re-activate them") {
    val t = mkTable(n = 300, slices = 3)
    val out = Files.createTempDirectory("graft_shard_stream").toString
    graft.io.CsvWriter.writePartitionedDataset(t, out, Seq("grp"),
      shardStats = Some(true))
    assert(shardPath(out, "grp=g0").isFile)

    val base = Files.createTempDirectory("graft_shard_stream_src")
    val ckpt = base.resolve("ckpt").toString
    val srcDir = base.resolve("src"); Files.createDirectory(srcDir)
    Seq(("g0", 9999.0, "streamed")).toDF("grp", "x", "tag").coalesce(1)
      .write.mode("overwrite").parquet(srcDir.resolve("b1").toString)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("grp",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("x",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("tag",
        org.apache.spark.sql.types.StringType)))
    val st = graft.model.StarTable.fromDataFrame(
      spark.readStream.schema(schema).parquet(srcDir.toString + "/*"),
      "sharded", units = Map("grp" -> "text", "tag" -> "text"))
    val q = graft.io.CsvWriter.streamPartitionedDataset(
      st, out, Seq("grp"), ckpt)
    try q.processAllAvailable() finally q.stop()

    // the appended row falls outside every recorded bound: the shards are
    // gone and the root says inline (stale stats cannot serve)
    (0 until 3).foreach(i => assert(!shardPath(out, s"grp=g$i").exists(),
      s"stale shard survived the stream for grp=g$i"))
    val meta = src.readDatasetMeta(Seq(out)).get
    assert(!meta.statsSharded && meta.sliceStats.isEmpty)
    // a migration now has nothing to shard — and must NOT resurrect
    // anything: the metadata aggregate stays off and the scan counts the
    // streamed row
    graft.operators.Maintenance.shardDatasetStats(spark, out)
    val agged = spark.read.format("startable").load(out)
      .agg(count(lit(1)).as("n"))
    assert(!agged.queryExecution.executedPlan.toString
      .contains("StarMetaAggScan"))
    assert(agged.collect().head.getLong(0) == 301)
  }

  test("shardDatasetStats deletes a leftover shard on a leaf it writes " +
    "no entry for") {
    val t = mkTable()
    val out = Files.createTempDirectory("graft_shard_stale").toString
    graft.io.CsvWriter.writePartitionedDataset(t, out, Seq("grp"))
    // strip g0's inline entry via a stats-less backfill, then plant a
    // bogus leftover shard there (an earlier sharded life of the tree)
    val patch = graft.model.StarTable.fromDataFrame(
      Seq(("g0", 7.0, "p")).toDF("grp", "x", "tag"), "sharded",
      units = Map("grp" -> "text", "tag" -> "text"))
    graft.io.CsvWriter.writePartitionedDataset(patch, out, Seq("grp"),
      overwriteSlices = true, collectStats = false)
    val bogus = sidecar.encodeShard(sidecar.SliceShard(
      sidecar.SliceStats(Seq("g0"), 99999L,
        Map("x" -> sidecar.ColStats("0.0", "1.0", 0L),
          "tag" -> sidecar.ColStats("a", "b", 0L))), Nil))
    Files.write(shardPath(out, "grp=g0").toPath, bogus.getBytes("UTF-8"))
    graft.operators.Maintenance.shardDatasetStats(spark, out)
    assert(!shardPath(out, "grp=g0").exists(),
      "migration kept a shard for a leaf it wrote no entry for")
    // g0 has no stats (conservative): the metadata aggregate refuses and
    // the scan count is right
    val agged = spark.read.format("startable").load(out)
      .agg(count(lit(1)).as("n"))
    assert(!agged.queryExecution.executedPlan.toString
      .contains("StarMetaAggScan"))
    assert(agged.collect().head.getLong(0) ==
      2000 + 1) // g1/g2 slices + the backfilled single row
  }

  test("a corrupt shard fails loudly; a partition-mismatched shard fails " +
    "loudly; vacuum removes stale shard tmp files") {
    val t = mkTable()
    val out = Files.createTempDirectory("graft_shard_loud").toString
    graft.io.CsvWriter.writePartitionedDataset(t, out, Seq("grp"),
      shardStats = Some(true))
    src.invalidateShardCache(out)
    val g0 = shardPath(out, "grp=g0").toPath
    val orig = Files.readAllBytes(g0)
    // corrupt THROUGH the Hadoop FS so the local-FS checksum follows the
    // new bytes — the spec drills the JSON parser's loudness, not the CRC's
    def hWrite(bytes: Array[Byte]): Unit = {
      val p = new org.apache.hadoop.fs.Path(g0.toString)
      val fs = p.getFileSystem(src.activeHadoopConf())
      val os = fs.create(p, true)
      try os.write(bytes) finally os.close()
      src.invalidateShardCache(out)
    }
    hWrite("{\"partition\"".getBytes("UTF-8"))
    val loud = intercept[IllegalArgumentException] {
      src.readSliceShards(Seq((s"$out/grp=g0", Seq("g0"))))
    }
    assert(loud.getMessage.contains("unreadable stat shard"))
    hWrite(orig)
    val mismatched = intercept[IllegalArgumentException] {
      src.readSliceShards(Seq((s"$out/grp=g0", Seq("gX"))))
    }
    assert(mismatched.getMessage.contains("unreadable stat shard"))

    // stale shard tmp (an executor crash mid stage-and-rename): vacuum
    // deletes it once it is older than the concurrent-writer age gate
    val tmp = new java.io.File(s"$out/grp=g1/." +
      graft.io.DatasetSidecar.SliceShardFile + ".tmp")
    Files.write(tmp.toPath, "half".getBytes("UTF-8"))
    val rep = graft.operators.Maintenance.vacuumStarDataset(spark, out,
      tmpMinAgeMs = 0L)
    assert(rep.removedTmpFiles == 1 && !tmp.exists())
  }
}
