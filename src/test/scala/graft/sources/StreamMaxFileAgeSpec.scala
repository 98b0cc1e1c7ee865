package graft.sources

import java.nio.file.attribute.FileTime
import java.nio.file.{Files, Path}

import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.scalatest.funsuite.AnyFunSuite

/** `maxFileAgeMs` bounds the streaming source's fundamental seen-files set
  * the way Spark's FileStreamSource does: files age relative to the newest
  * admitted file, too-old discoveries are treated as seen (never ingested),
  * purged entries can never re-emit (the rediscovered path is older than
  * the threshold), and a restart re-bounds the map immediately. */
class StreamMaxFileAgeSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark
  import spark.implicits._

  private val HourMs = 3600L * 1000

  private def writeSlice(out: String, grp: String, x: Double): Unit = {
    val exists = Files.exists(
      java.nio.file.Paths.get(out, graft.io.DatasetSidecar.DatasetMetaFile))
    graft.io.CsvWriter.writePartitionedDataset(
      graft.model.StarTable.fromDataFrame(
        Seq((grp, x)).toDF("grp", "x"), "aged", units = Map("grp" -> "text")),
      out, Seq("grp"), overwriteSlices = exists)
  }

  private def setSliceMtime(out: String, grp: String, ts: Long): Unit = {
    val dir = java.nio.file.Paths.get(out, s"grp=$grp")
    Files.list(dir).forEach { p: Path =>
      Files.setLastModifiedTime(p, FileTime.fromMillis(ts))
    }
  }

  test("maxFileAge: the seen map stays bounded to one age window, too-old " +
    "files never ingest, and a restart holds both properties") {
    val base = Files.createTempDirectory("graft_age")
    val out = base.resolve("ds").toString
    val ckpt = base.resolve("ckpt").toString
    val now = System.currentTimeMillis()

    // batch 1 inventory: two old slices + one fresh slice. The FIRST batch
    // admits everything (no reference timestamp yet — Spark semantics),
    // then the newest admitted file sets the aging reference.
    writeSlice(out, "old1", 1.0); setSliceMtime(out, "old1", now - 3 * HourMs)
    writeSlice(out, "old2", 2.0); setSliceMtime(out, "old2", now - 3 * HourMs)
    writeSlice(out, "new1", 3.0); setSliceMtime(out, "new1", now)

    val meta = StarTableSource.readDatasetMeta(Seq(out)).get
    val confS = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("grp",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("x",
        org.apache.spark.sql.types.DoubleType)))
    def mk() = new StarTableMicroBatchStream(Seq(out), meta, ckpt,
      sep = ";", failFast = false, fullSchema = schema, required = schema,
      pushed = Array.empty, maxSplitBytes = 128L * 1024 * 1024,
      maxFilesPerTrigger = None, confS = confS,
      maxFileAgeMs = Some(HourMs))

    val s = mk()
    val off1 = s.latestOffset(s.initialOffset(), ReadLimit.allAvailable())
    assert(off1.json() == "1")
    assert(s.planInputPartitions(s.deserializeOffset("0"), off1).length == 3,
      "first batch must admit everything (no aging reference yet)")
    // purge after the batch: the two old slices fall out of the window
    assert(s.seenCountForTest == 1,
      s"seen map must hold only the age window, got ${s.seenCountForTest}")

    // a file OLDER than the window arriving later is treated as seen —
    // never ingested — while in-window files flow normally
    writeSlice(out, "late_old", 4.0)
    setSliceMtime(out, "late_old", now - 2 * HourMs)
    writeSlice(out, "new2", 5.0); setSliceMtime(out, "new2", now)
    val off2 = s.latestOffset(off1, ReadLimit.allAvailable())
    assert(off2.json() == "2")
    val batch2 = s.planInputPartitions(off1, off2)
    assert(batch2.length == 1,
      s"too-old late arrival must be skipped, got ${batch2.length} files")
    assert(s.seenCountForTest == 2, // new1 + new2
      s"seen map grew beyond the window: ${s.seenCountForTest}")

    // restart: recover + immediate purge — bounded map, no duplicates
    // (the purged old slices are rediscovered but age-skipped)
    val r = mk()
    assert(r.seenCountForTest == 2,
      s"restart must re-bound the seen map, got ${r.seenCountForTest}")
    val off3 = r.latestOffset(r.deserializeOffset("2"), ReadLimit.allAvailable())
    assert(off3.json() == "2",
      "restart re-admitted previously-seen or too-old files")

    // exactly-once sanity: the logged batches replay byte-identically
    assert(r.planInputPartitions(r.deserializeOffset("0"),
      r.deserializeOffset("2")).length == 4)

    // without maxFileAge the same checkpoint holds every path (the
    // unbounded default is unchanged)
    val ub = new StarTableMicroBatchStream(Seq(out), meta, ckpt,
      sep = ";", failFast = false, fullSchema = schema, required = schema,
      pushed = Array.empty, maxSplitBytes = 128L * 1024 * 1024,
      maxFilesPerTrigger = None, confS = confS)
    assert(ub.seenCountForTest == 4)
    // ...and the unbounded reader INGESTS the too-old slice the aged
    // reader skipped (the semantic difference, visible end to end)
    val off4 = ub.latestOffset(ub.deserializeOffset("2"), ReadLimit.allAvailable())
    assert(off4.json() == "3")
    assert(ub.planInputPartitions(ub.deserializeOffset("2"), off4).length == 1)
  }
}
