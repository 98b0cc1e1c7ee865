package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{CsvWriter, DatasetSidecar}
import graft.model.StarTable

/** Concurrent fan-out gate: disjoint-slice concurrent backfills must beat
  * the serialized shape by a conservative floor AND produce byte-
  * identical results — so a regression in the shared-lease / batched-
  * flip path (e.g. an accidental re-serialization on the root lock) is
  * caught mechanically.
  *
  * Contention-immunity: the ratio compares the concurrent pass against
  * its OWN serial baseline measured in the same window on the same data,
  * never wall-clock absolutes — a loaded CI machine slows both sides. */
class ConcurrencyFanoutSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val Slices = 4
  private val RowsPerSlice = 250000L

  private def mkBase(tag: String): String = {
    val out = java.nio.file.Files
      .createTempDirectory(s"graft_fanout_$tag").toString + "/ds"
    val df = spark.range(Slices.toLong * RowsPerSlice).select(
      concat(lit("d"), (col("id") % Slices).cast("string")).as("day"),
      col("id").cast("double").as("v"),
      (col("id") % 97).cast("double").as("w"))
    CsvWriter.writePartitionedDataset(
      StarTable.fromDataFrame(df, "ingest"), out,
      partitionBy = Seq("day"), numFiles = Slices * 2)
    out
  }

  private def backfill(out: String, slice: Int): Unit = {
    val upd = spark.range(RowsPerSlice).select(
      lit(s"d$slice").as("day"),
      (col("id").cast("double") + 1e9).as("v"),
      (col("id") % 89).cast("double").as("w"))
    CsvWriter.writePartitionedDataset(
      StarTable.fromDataFrame(upd, "ingest"), out,
      partitionBy = Seq("day"), numFiles = 2, overwriteSlices = true)
  }

  private def checksum(out: String): (Long, String) = {
    val df = spark.read.format("startable").load(out)
    val r = df.agg(count(lit(1)), sum(col("v").cast("decimal(28,2)")),
      sum(col("w").cast("decimal(28,2)"))).head()
    (r.getLong(0), s"${r.get(1)}|${r.get(2)}")
  }

  /** One full measured round: returns the speedup after asserting every
    * correctness invariant (checksums, stat entries, commit chain, no
    * leaked leases or staged intents). */
  private def measuredRound(tag: String): Double = {
    val serialOut = mkBase(s"serial_$tag")
    val t0 = System.nanoTime()
    (0 until Slices).foreach(i => backfill(serialOut, i))
    val serialS = (System.nanoTime() - t0) / 1e9

    val concOut = mkBase(s"conc_$tag")
    val errs = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val threads = (0 until Slices).map(i => new Thread(() =>
      try backfill(concOut, i)
      catch { case t: Throwable => errs.compareAndSet(null, t) }))
    val t1 = System.nanoTime()
    threads.foreach(_.start())
    threads.foreach(_.join(180000))
    val concS = (System.nanoTime() - t1) / 1e9
    val err = errs.get()
    if (err != null) throw err

    assert(checksum(serialOut) === checksum(concOut))
    graft.sources.StarTableSource.invalidateMetaCache(serialOut)
    graft.sources.StarTableSource.invalidateMetaCache(concOut)
    val mSerial = graft.sources.StarTableSource.readDatasetMeta(Seq(serialOut)).get
    val mConc = graft.sources.StarTableSource.readDatasetMeta(Seq(concOut)).get
    assert(mConc.sliceStats.map(s => s.partition -> s.rows).toMap ===
      mSerial.sliceStats.map(s => s.partition -> s.rows).toMap)
    // serial = 1 initial + 2 flips per backfill; concurrent must stay
    // linear and may only be SHORTER (batched drains) — longer means the
    // batching regressed to per-holder flips plus retries
    assert(mSerial.commit === 1L + 2L * Slices)
    assert(mConc.commit > 1L && mConc.commit <= mSerial.commit,
      s"commit chain: serial ${mSerial.commit}, concurrent ${mConc.commit}")
    // no leases leaked, no pending merge intents left behind
    assert(graft.io.DatasetLock.listLocks(concOut).isEmpty)
    val fs = new org.apache.hadoop.fs.Path(concOut).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.listStatus(new org.apache.hadoop.fs.Path(concOut))
      .exists(_.getPath.getName.startsWith(DatasetSidecar.PendingMergePrefix)))
    val speedup = serialS / concS
    info(f"serial $serialS%.2f s, concurrent $concS%.2f s, speedup $speedup%.2f x")
    speedup
  }

  test(s"$Slices disjoint concurrent backfills beat serial by >= 1.8x " +
    "with byte-identical checksums and a shorter, linear commit chain") {
    // one retry absorbs a noisy window (GC, sibling-suite cleanup): a
    // REAL regression — writers re-serialized on one lock — reads ~1.0x
    // in every window, so it fails both rounds
    val first = measuredRound("r1")
    val speedup = if (first >= 1.8) first else measuredRound("r2")
    assert(speedup >= 1.8,
      f"concurrent disjoint backfills only $speedup%.2f x over serial " +
        "in two independent rounds — shared-lease fan-out regressed")
  }
}
