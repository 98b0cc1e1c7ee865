package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{CsvWriter, DatasetLock, DatasetSidecar}
import graft.model.StarTable

/** The batched-flip drain's crash windows (round 14): a drain that dies
  * AFTER its read-merge-install but BEFORE deleting the applied intent
  * files leaves every intent on disk — the retrying holder's next drain
  * REAPPLIES them, and the result must be byte-identical to the clean
  * run (reapplication idempotence: each intent's adds are covered by
  * its strip sets). Also: an ORPHANED intent (holder lease gone) is
  * deleted unapplied at the next drain, and a LIVE holder's intent that
  * does not decode refuses the drain loudly. */
class BatchedFlipCrashSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def mkDataset(tag: String): String = {
    val out = java.nio.file.Files
      .createTempDirectory(s"graft_flipcrash_$tag").toString + "/ds"
    val df = spark.range(300).select(
      (when(col("id") % 3 === 0, "a")
        .when(col("id") % 3 === 1, "b").otherwise("c")).as("grp"),
      col("id").cast("double").as("v"))
    CsvWriter.writePartitionedDataset(
      StarTable.fromDataFrame(df, s"fc_$tag"), out, partitionBy = Seq("grp"))
    out
  }

  private def backfill(out: String, tag: String, grp: String): Unit = {
    val upd = spark.range(40).select(lit(grp).as("grp"),
      (col("id").cast("double") + 50000.0).as("v"))
    CsvWriter.writePartitionedDataset(
      StarTable.fromDataFrame(upd, s"fc_$tag"), out,
      partitionBy = Seq("grp"), overwriteSlices = true)
  }

  test("a writer crashing mid-drain (install landed, intents undeleted) " +
    "leaves a state an identical RERUN completes idempotently") {
    val out = mkDataset("retry")
    val before = graft.sources.StarTableSource.readDatasetMeta(Seq(out)).get
    // attempt 1 dies at the drain's delete step: its merge is INSTALLED
    // but its intent file survives on disk (exactly a kill -9 there)
    val prev = CsvWriter.faultHook
    CsvWriter.faultHook = p =>
      if (p == "drain:pre-delete")
        throw new RuntimeException("kill -9 mid-drain")
    val e = try intercept[RuntimeException] { backfill(out, "retry", "a") }
    finally CsvWriter.faultHook = prev
    assert(e.getMessage.contains("mid-drain"))
    val fs = new org.apache.hadoop.fs.Path(out).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(out))
      .exists(_.getPath.getName.startsWith(DatasetSidecar.PendingMergePrefix)),
      "the crash must leave the applied-but-undeleted intent behind")
    // the at-least-once scheduler reruns the identical backfill: it
    // re-strips/re-adds the same entries (idempotent) and its drain
    // deletes attempt 1's leftover as an ORPHAN (that lease is released)
    backfill(out, "retry", "a")
    graft.sources.StarTableSource.invalidateMetaCache(out)
    val after = graft.sources.StarTableSource.readDatasetMeta(Seq(out)).get
    assert(after.sliceStats.map(s => s.partition.head -> s.rows).toMap ===
      Map("a" -> 40L, "b" -> 100L, "c" -> 100L))
    assert(after.commit > before.commit)
    val back = spark.read.format("startable").load(out)
    assert(back.filter(col("grp") === "a").count() === 40)
    assert(back.count() === 240)
    assert(!fs.listStatus(new org.apache.hadoop.fs.Path(out))
      .exists(_.getPath.getName.startsWith(DatasetSidecar.PendingMergePrefix)))
    assert(DatasetLock.listLocks(out).isEmpty)
  }

  test("an orphaned intent (holder lease dead) is deleted UNAPPLIED by " +
    "the next drain — a crashed writer's stale merge cannot resurrect") {
    val out = mkDataset("orphan")
    // forge an orphan: a staged intent whose holder token has no live
    // lease, claiming to ADD stats for slice c with absurd values
    val fs = new org.apache.hadoop.fs.Path(out).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val bogus = """{"holder":"dead-token","strip":[["c"]],"stripFiles":[["c"]],""" +
      """"sliceStats":[{"partition":["c"],"rows":999999,""" +
      """"stats":{"v":{"min":"0","max":"1","nulls":0}}}],"fileStats":[]}"""
    val op = new org.apache.hadoop.fs.Path(out,
      DatasetSidecar.PendingMergePrefix + "dead-token.deadbeef.json")
    val os = fs.create(op, true)
    try os.write(bogus.getBytes("UTF-8")) finally os.close()
    // a real backfill of slice a triggers a drain
    backfill(out, "orphan", "a")
    graft.sources.StarTableSource.invalidateMetaCache(out)
    val after = graft.sources.StarTableSource.readDatasetMeta(Seq(out)).get
    // slice c's TRUE entry survives (100 rows, not the orphan's 999999)
    assert(after.sliceStats.map(s => s.partition.head -> s.rows).toMap ===
      Map("a" -> 40L, "b" -> 100L, "c" -> 100L),
      after.sliceStats.map(s => s.partition -> s.rows).toString)
    assert(!fs.exists(op), "the orphaned intent must be deleted")
  }

  test("a LIVE holder's undecodable intent fails the drain loudly, naming " +
    "the file — truncated JSON and a malformed strip tuple alike") {
    val out = mkDataset("corrupt")
    val before = graft.sources.StarTableSource.readDatasetMeta(Seq(out)).get
    val fs = new org.apache.hadoop.fs.Path(out).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // a live sibling holder on slice c whose staged intent is damaged
    val holder = DatasetLock.acquireShared(out, "backfill", Set(Seq("c")))
    val tok = holder.info.token
    val op = new org.apache.hadoop.fs.Path(out,
      DatasetSidecar.PendingMergePrefix + tok + ".c0ffee00.json")
    try {
      for (bad <- Seq(
             s"""{"holder":"$tok","strip":[["c"]""",
             s"""{"holder":"$tok","strip":[["c"],"c"],"stripFiles":[["c"]],""" +
               """"sliceStats":[],"fileStats":[]}""")) {
        val os = fs.create(op, true)
        try os.write(bad.getBytes("UTF-8")) finally os.close()
        val e = intercept[IllegalArgumentException] {
          backfill(out, "corrupt", "a")
        }
        assert(e.getMessage.contains(op.getName) &&
          e.getMessage.contains("repair or remove it"), e.getMessage)
        assert(fs.exists(op), "the damaged intent must stay for repair")
      }
    } finally holder.release()
    // nothing was applied: the refused backfills stopped before their data
    graft.sources.StarTableSource.invalidateMetaCache(out)
    val after = graft.sources.StarTableSource.readDatasetMeta(Seq(out)).get
    assert(after.sliceStats.map(s => s.partition.head -> s.rows).toMap ===
      before.sliceStats.map(s => s.partition.head -> s.rows).toMap)
    assert(spark.read.format("startable").load(out).count() === 300)
  }
}
