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
