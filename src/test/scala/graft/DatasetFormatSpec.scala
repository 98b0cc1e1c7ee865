package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.io.CsvWriter
import graft.operators.Maintenance
import graft.sources.StarTableSource

/** Pins the exact on-disk bytes of the dataset statistics documents — the
  * root sidecar (inline and sharded), the per-leaf slice shards (with and
  * without per-file entries) and a staged merge intent — as the writer
  * paths produce them. Every document is produced through a public or
  * long-standing writer entry point (schema evolution, stats sharding,
  * compaction, slice-scoped clustering) from a hand-planted dataset, so
  * the pins hold for any implementation of the format, not one encoder.
  * The codec-level round trips live in [[DatasetSidecarSpec]]. */
class DatasetFormatSpec extends AnyFunSuite {
  import DatasetFormatSpec._
  private lazy val spark = TestSpark.spark

  private def read(p: Path): String =
    new String(Files.readAllBytes(p), "UTF-8")

  /** Write through the Hadoop FS so the local checksum follows the bytes. */
  private def write(p: Path, s: String): Unit = {
    val hp = new org.apache.hadoop.fs.Path(p.toString)
    val fs = hp.getFileSystem(StarTableSource.activeHadoopConf())
    val os = fs.create(hp, true)
    try os.write(s.getBytes("UTF-8")) finally os.close()
  }

  /** Slice `a` holds two files of pre-evolution (two-cell) rows; the
    * default partition holds one file. The planted sidecar is
    * [[PlantedInline]]. */
  private def plant(tag: String): String = {
    val out = Files.createTempDirectory(s"graft_format_$tag").resolve("ds")
    Files.createDirectories(out.resolve("grp=a"))
    Files.createDirectories(out.resolve("grp=__HIVE_DEFAULT_PARTITION__"))
    write(out.resolve("grp=a/part-00000.txt"), "1.5;foo\n0.5;bar\n")
    write(out.resolve("grp=a/part-00001.txt"), "2.5;baz\n")
    write(out.resolve("grp=__HIVE_DEFAULT_PARTITION__/part-00000.txt"),
      "3.0;qux\n")
    write(out.resolve("_startable_dataset.json"), PlantedInline)
    StarTableSource.invalidateMetaCache(out.toString)
    StarTableSource.invalidateShardCache(out.toString)
    out.toString
  }

  test("the inline sidecar decodes the planted document and re-encodes " +
    "it byte-exactly (slice and file stats, null partition, null " +
    "min/max, lateColumns)") {
    val out = plant("inline")
    val m = StarTableSource.readDatasetMeta(Seq(out)).get
    assert(m.commit == 7L && m.lateCols == Seq("n") && !m.statsSharded)
    assert(m.sliceStats.map(s => (s.partition, s.rows)) ==
      Seq((Seq("a"), 3L), (Seq(null), 1L)))
    assert(m.sliceStats(1).stats("n").min == null &&
      m.sliceStats(1).stats("n").max == null &&
      m.sliceStats(1).stats("n").nulls == 1L)
    assert(m.fileStats.map(f => (f.partition, f.file, f.rows)) ==
      Seq((Seq("a"), "part-00000.txt", 2L), (Seq("a"), "part-00001.txt", 1L)))
    // a metadata-only evolution re-encodes every entry verbatim
    CsvWriter.evolveDatasetSchema(spark, out, Seq("w" -> "text"))
    assert(read(Paths.get(out, "_startable_dataset.json")) == EvolvedInline)
  }

  test("sharding writes the sharded sidecar and both shard shapes " +
    "byte-exactly; compaction strips a shard's file entries byte-exactly") {
    val out = plant("sharded")
    assert(Maintenance.shardDatasetStats(spark, out) == 2L)
    assert(read(Paths.get(out, "_startable_dataset.json")) == ShardedRoot)
    assert(read(Paths.get(out, "grp=a", "_startable_slice.json")) ==
      ShardWithFiles)
    assert(read(Paths.get(out, "grp=__HIVE_DEFAULT_PARTITION__",
      "_startable_slice.json")) == ShardPlain)
    Maintenance.compactStarDataset(spark, out)
    assert(read(Paths.get(out, "grp=a", "_startable_slice.json")) ==
      ShardStripped)
    assert(read(Paths.get(out, "grp=__HIVE_DEFAULT_PARTITION__",
      "_startable_slice.json")) == ShardPlain)
  }

  test("a slice-scoped clustering stages a merge intent whose stripFiles " +
    "differs from strip, byte-exactly") {
    val out = plant("intent")
    // die after the drain's install, before it deletes the intent: the
    // staged document stays on disk to be read back
    val prev = CsvWriter.faultHook
    CsvWriter.faultHook = p =>
      if (p == "drain:pre-delete") throw new RuntimeException("stop at drain")
    try intercept[RuntimeException] {
      Maintenance.clusterStarDataset(spark, out, Seq("x"),
        onlySlices = Set(Seq("a")))
    } finally CsvWriter.faultHook = prev
    val intents = Files.list(Paths.get(out)).toArray.toSeq
      .map(_.asInstanceOf[Path].getFileName.toString)
      .filter(_.startsWith("_startable_pending."))
    assert(intents.size == 1, intents.toString)
    // `_startable_pending.<holder token>.<8 hex>.json`
    val token = intents.head.stripPrefix("_startable_pending.")
      .stripSuffix(".json").dropRight(9)
    val files = Files.list(Paths.get(out, "grp=a")).toArray.toSeq
      .map(_.asInstanceOf[Path].getFileName.toString)
      .filterNot(n => n.startsWith("_") || n.startsWith("."))
    assert(files.size == 1, files.toString)
    assert(read(Paths.get(out, intents.head)) ==
      ClusterIntent.replace("$TOKEN", token).replace("$FILE", files.head))
  }
}

object DatasetFormatSpec {
  val PlantedInline: String =
    """{"name":"fmt","destinations":["all","b"],"columns":["x","tag","n"],""" +
      """"units":["m","text","text"],"partitionBy":["grp"],""" +
      """"partitionUnits":["text"],"sep":";","commit":7,""" +
      """"lateColumns":["n"],"sliceStats":[{"partition":["a"],"rows":3,""" +
      """"stats":{"n":{"min":null,"max":null,"nulls":3},""" +
      """"tag":{"min":"bar","max":"foo","nulls":0},""" +
      """"x":{"min":"0.5","max":"2.5","nulls":0}}},""" +
      """{"partition":[null],"rows":1,""" +
      """"stats":{"n":{"min":null,"max":null,"nulls":1},""" +
      """"tag":{"min":"qux","max":"qux","nulls":0},""" +
      """"x":{"min":"3.0","max":"3.0","nulls":0}}}],""" +
      """"fileStats":[{"partition":["a"],"file":"part-00000.txt","rows":2,""" +
      """"stats":{"n":{"min":null,"max":null,"nulls":2},""" +
      """"tag":{"min":"bar","max":"foo","nulls":0},""" +
      """"x":{"min":"0.5","max":"1.5","nulls":0}}},""" +
      """{"partition":["a"],"file":"part-00001.txt","rows":1,""" +
      """"stats":{"n":{"min":null,"max":null,"nulls":1},""" +
      """"tag":{"min":"baz","max":"baz","nulls":0},""" +
      """"x":{"min":"2.5","max":"2.5","nulls":0}}}]}"""
  val EvolvedInline: String =
    """{"name":"fmt","destinations":["all","b"],""" +
      """"columns":["x","tag","n","w"],"units":["m","text","text","text"],""" +
      """"partitionBy":["grp"],"partitionUnits":["text"],"sep":";",""" +
      """"commit":8,"lateColumns":["n","w"],""" +
      """"sliceStats":[{"partition":["a"],"rows":3,""" +
      """"stats":{"n":{"min":null,"max":null,"nulls":3},""" +
      """"tag":{"min":"bar","max":"foo","nulls":0},""" +
      """"x":{"min":"0.5","max":"2.5","nulls":0}}},""" +
      """{"partition":[null],"rows":1,""" +
      """"stats":{"n":{"min":null,"max":null,"nulls":1},""" +
      """"tag":{"min":"qux","max":"qux","nulls":0},""" +
      """"x":{"min":"3.0","max":"3.0","nulls":0}}}],""" +
      """"fileStats":[{"partition":["a"],"file":"part-00000.txt","rows":2,""" +
      """"stats":{"n":{"min":null,"max":null,"nulls":2},""" +
      """"tag":{"min":"bar","max":"foo","nulls":0},""" +
      """"x":{"min":"0.5","max":"1.5","nulls":0}}},""" +
      """{"partition":["a"],"file":"part-00001.txt","rows":1,""" +
      """"stats":{"n":{"min":null,"max":null,"nulls":1},""" +
      """"tag":{"min":"baz","max":"baz","nulls":0},""" +
      """"x":{"min":"2.5","max":"2.5","nulls":0}}}]}"""
  val ShardedRoot: String =
    """{"name":"fmt","destinations":["all","b"],"columns":["x","tag","n"],""" +
      """"units":["m","text","text"],"partitionBy":["grp"],""" +
      """"partitionUnits":["text"],"sep":";","commit":8,""" +
      """"statsSharded":true,"lateColumns":["n"]}"""
  val ShardWithFiles: String =
    """{"partition":["a"],"rows":3,""" +
      """"stats":{"n":{"min":null,"max":null,"nulls":3},""" +
      """"tag":{"min":"bar","max":"foo","nulls":0},""" +
      """"x":{"min":"0.5","max":"2.5","nulls":0}},""" +
      """"files":[{"file":"part-00000.txt","rows":2,""" +
      """"stats":{"n":{"min":null,"max":null,"nulls":2},""" +
      """"tag":{"min":"bar","max":"foo","nulls":0},""" +
      """"x":{"min":"0.5","max":"1.5","nulls":0}}},""" +
      """{"file":"part-00001.txt","rows":1,""" +
      """"stats":{"n":{"min":null,"max":null,"nulls":1},""" +
      """"tag":{"min":"baz","max":"baz","nulls":0},""" +
      """"x":{"min":"2.5","max":"2.5","nulls":0}}}]}"""
  val ShardPlain: String =
    """{"partition":[null],"rows":1,""" +
      """"stats":{"n":{"min":null,"max":null,"nulls":1},""" +
      """"tag":{"min":"qux","max":"qux","nulls":0},""" +
      """"x":{"min":"3.0","max":"3.0","nulls":0}}}"""
  val ShardStripped: String =
    """{"partition":["a"],"rows":3,""" +
      """"stats":{"n":{"min":null,"max":null,"nulls":3},""" +
      """"tag":{"min":"bar","max":"foo","nulls":0},""" +
      """"x":{"min":"0.5","max":"2.5","nulls":0}}}"""
  val ClusterIntent: String =
    """{"holder":"$TOKEN","strip":[],"stripFiles":[["a"]],"sliceStats":[],""" +
      """"fileStats":[{"partition":["a"],"file":"$FILE","rows":3,""" +
      """"stats":{"n":{"min":null,"max":null,"nulls":3},""" +
      """"tag":{"min":"bar","max":"foo","nulls":0},""" +
      """"x":{"min":"0.5","max":"2.5","nulls":0}}}]}"""
}
