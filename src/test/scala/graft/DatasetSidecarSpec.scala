package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.DatasetSidecar._

/** The dataset statistics codec: every document kind encodes to the bytes
  * [[DatasetFormatSpec]] pins on disk, decodes back to the value it
  * encoded, and refuses shapes its encoders never write. Also the
  * per-file statistics kernel's cell semantics. */
class DatasetSidecarSpec extends AnyFunSuite {
  import DatasetFormatSpec._
  private lazy val spark = TestSpark.spark

  private def stats(x: (String, String), tag: (String, String),
                    nNulls: Long): Map[String, ColStats] =
    Map("x" -> ColStats(x._1, x._2, 0L), "tag" -> ColStats(tag._1, tag._2, 0L),
      "n" -> ColStats(null, null, nNulls))

  private val sliceA = SliceStats(Seq("a"), 3L, stats("0.5" -> "2.5", "bar" -> "foo", 3L))
  private val sliceNull = SliceStats(Seq(null), 1L, stats("3.0" -> "3.0", "qux" -> "qux", 1L))
  private val fileA0 = FileStats(Seq("a"), "part-00000.txt", 2L,
    stats("0.5" -> "1.5", "bar" -> "foo", 2L))
  private val fileA1 = FileStats(Seq("a"), "part-00001.txt", 1L,
    stats("2.5" -> "2.5", "baz" -> "baz", 1L))
  private val planted = DatasetMeta("fmt", Set("b", "all"), Seq("x", "tag", "n"),
    Seq("m", "text", "text"), Seq("grp"), Seq("text"), ";",
    sliceStats = Seq(sliceA, sliceNull), fileStats = Seq(fileA0, fileA1),
    commit = 7L, lateCols = Seq("n"))

  test("sidecar: inline and sharded documents encode to the pinned bytes " +
    "and decode back") {
    assert(encodeSidecar(planted) == PlantedInline)
    assert(decodeSidecar(PlantedInline) == planted)
    val evolved = planted.copy(cols = planted.cols :+ "w",
      units = planted.units :+ "text", commit = 8L, lateCols = Seq("n", "w"))
    assert(encodeSidecar(evolved) == EvolvedInline)
    assert(decodeSidecar(EvolvedInline) == evolved)
    val sharded = planted.copy(sliceStats = Nil, fileStats = Nil,
      statsSharded = true, commit = 8L)
    assert(encodeSidecar(sharded) == ShardedRoot)
    assert(decodeSidecar(ShardedRoot) == sharded)
    // the oldest shape: schema keys only (no sep, stats, commit)
    val bare = """{"name":"t","destinations":[],"columns":["v"],""" +
      """"units":["-"],"partitionBy":["p"],"partitionUnits":["text"]}"""
    assert(decodeSidecar(bare) ==
      DatasetMeta("t", Set.empty, Seq("v"), Seq("-"), Seq("p"), Seq("text")))
  }

  test("shard: the with-files and plain shapes encode to the pinned bytes " +
    "and decode back, file entries taking the shard's partition") {
    val withFiles = SliceShard(sliceA, Seq(fileA0, fileA1))
    assert(encodeShard(withFiles) == ShardWithFiles)
    assert(decodeShard(ShardWithFiles) == withFiles)
    val plain = SliceShard(sliceNull, Nil)
    assert(encodeShard(plain) == ShardPlain)
    assert(decodeShard(ShardPlain) == plain)
    assert(encodeShard(withFiles.copy(files = Nil)) == ShardStripped)
  }

  test("intent: stripFiles differing from strip encodes to the pinned bytes " +
    "and round-trips; the old shape without stripFiles reads strip") {
    val file = FileStats(Seq("a"), "part-7.txt", 3L,
      stats("0.5" -> "2.5", "bar" -> "foo", 3L))
    val clustered = MergeIntent("tok-1", Set.empty, Set(Seq("a")), Nil, Seq(file))
    assert(encodeIntent(clustered) ==
      ClusterIntent.replace("$TOKEN", "tok-1").replace("$FILE", "part-7.txt"))
    assert(decodeIntent(encodeIntent(clustered)) == clustered)
    val backfill = MergeIntent("tok-2", Set(Seq("a"), Seq(null)),
      Set(Seq("a"), Seq(null)), Seq(sliceA, sliceNull), Seq(fileA0, fileA1))
    assert(decodeIntent(encodeIntent(backfill)) == backfill)
    val old = decodeIntent("""{"holder":"tok-3","strip":[["a"],[null]],""" +
      """"sliceStats":[],"fileStats":[]}""")
    assert(old.strip == Set(Seq("a"), Seq(null)) && old.stripFiles == old.strip)
  }

  test("decoders refuse shapes the encoders never write") {
    val bad = Seq(
      () => decodeIntent("""{"holder":"t","strip":[["c"],"c"]}"""),
      () => decodeIntent("""{"holder":"t","strip":[["c",7]]}"""),
      () => decodeIntent("""{"strip":[]}"""),
      () => decodeShard("""{"partition":["a"],"rows":1,"stats":{"x":5}}"""),
      () => decodeShard("""{"partition":["a"],"rows":1"""),
      () => decodeSidecar("""{"name":"t","columns":["v"]}"""))
    bad.foreach(f => intercept[Exception](f()))
  }

  test("a metadata file whose checksum no longer matches is refused with " +
    "its path and fix: the dataset sidecar and _ann_index.json") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_sidecar_crc")
    val ds = root.resolve("ds").toString
    graft.io.CsvWriter.writePartitionedDataset(graft.model.StarTable.fromDataFrame(
      spark.range(6).select((col("id") % 2).as("grp"), col("id").as("v")), "crc"),
      ds, partitionBy = Seq("grp"))
    val idx = root.resolve("idx")
    graft.functions.AnnIndex.write(Seq((1L, Seq(1f, 0f))).toDF("vec_id", "embedding"),
      "embedding", "vec_id", idx.toString,
      graft.functions.AnnIndex.AnnSpec(graft.functions.AnnIndex.AnnSpec.Flat))
    // rewritten through java.nio, so the Hadoop `.crc` beside it goes stale
    def damage(file: java.nio.file.Path): Unit =
      Files.write(file, (" " + new String(Files.readAllBytes(file), "UTF-8")).getBytes("UTF-8"))
    val sidecar = java.nio.file.Paths.get(ds, DatasetMetaFile)
    damage(sidecar)
    val dsMsg = intercept[IllegalArgumentException](
      graft.sources.StarTableSource.readDatasetMeta(Seq(ds))).getMessage
    assert(dsMsg.contains(sidecar.toString) && dsMsg.contains("ChecksumException") &&
      dsMsg.contains("repair or remove it"), dsMsg)
    damage(idx.resolve("_ann_index.json"))
    val annMsg = intercept[IllegalArgumentException](graft.functions.AnnIndex.probe(
      spark, idx.toString, Seq(1f, 0f), k = 1, nprobe = 1)).getMessage
    assert(annMsg.contains(idx.resolve("_ann_index.json").toString) &&
      annMsg.contains("ChecksumException") && annMsg.contains("rebuild it"), annMsg)
  }

  test("per-file kernel: a naRep cell of a numeric column profiles as a " +
    "null, and clustering on that column runs") {
    val dir = Files.createTempDirectory("graft_sidecar_kernel")
    val f = dir.resolve("part-0.txt")
    Files.write(f, "1.5;a\n-;b\n".getBytes("UTF-8"))
    val rows = fileStatsFrame(spark, Seq(f.toString), ";", Seq("m", "text"))
      .collect()
    assert(rows.length == 1)
    val fs = fileStatsOf(rows.head, Seq("p"), Seq("x", "t"), Seq("m", "text"))
    assert(fs == FileStats(Seq("p"), "part-0.txt", 2L,
      Map("x" -> ColStats("1.5", "1.5", 1L), "t" -> ColStats("a", "b", 0L))))

    import spark.implicits._
    val out = Files.createTempDirectory("graft_sidecar_cluster").toString
    val t = graft.model.StarTable.fromDataFrame(
      (0 until 40).map(i => ("g", if (i % 5 == 0) None else Some(i.toDouble)))
        .toDF("grp", "x"), "nulls", units = Map("grp" -> "text"))
    graft.io.CsvWriter.writePartitionedDataset(t, out, Seq("grp"))
    graft.operators.Maintenance.clusterStarDataset(spark, out, Seq("x"))
    val back = spark.read.format("startable").load(out)
    assert(back.filter(col("x").isNull).count() == 8)
    assert(back.filter(col("x") > 30.0).count() == 8)
  }
}
