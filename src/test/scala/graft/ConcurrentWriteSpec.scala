package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{ConcurrentWriteException, CsvWriter, DatasetLock}
import graft.model.StarTable
import graft.operators.Maintenance

/** Round-12 concurrent-writer safety (VERDICT r11 item 1): two writers on
  * one dataset root — stream ingest vs compaction, backfill vs compaction,
  * two compactions, vacuum vs anything — must DETECT each other and refuse
  * loudly instead of interleaving stage-and-rename commits (silent lost
  * rows / vacuumed live staging). Two layers under test: the
  * [[DatasetLock]] lease (up-front refusal) and the sidecar commit
  * counter's compare-and-swap at the root flip (catches lock bypassers). */
class ConcurrentWriteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Fresh 2-slice dataset; returns its root. */
  private def freshDataset(tag: String, rows: Int = 400): String = {
    val out = Files.createTempDirectory(s"graft_cw_$tag").toString + "/ds"
    val df = spark.range(rows).select(
      (when(col("id") % 2 === 0, "a").otherwise("b")).as("grp"),
      col("id").cast("double").as("v"))
    CsvWriter.writePartitionedDataset(
      StarTable.fromDataFrame(df, s"cw_$tag"), out,
      partitionBy = Seq("grp"), numFiles = 2)
    out
  }

  private def totalRows(out: String): Long =
    spark.read.format("startable").load(out).count()

  /** Run `op` on another thread with compaction parked at its staged
    * fault point; calls `whileParked` from THIS thread, then releases. */
  private def withParkedCompaction[A](out: String)(whileParked: => A): A = {
    val staged = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    Maintenance.faultHook = p =>
      if (p == "compact:staged") { staged.countDown(); release.await() }
    val errs = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val compactor = new Thread(() =>
      try { Maintenance.compactStarDataset(spark, out, 64 * 1024): Unit }
      catch { case t: Throwable => errs.set(t) })
    compactor.start()
    try {
      assert(staged.await(120, TimeUnit.SECONDS),
        "compaction never reached its staged fault point")
      whileParked
    } finally {
      release.countDown()
      compactor.join(120000)
      Maintenance.faultHook = _ => ()
      val t = errs.get()
      if (t != null) throw t
    }
  }

  test("a backfill racing an in-flight compaction refuses loudly; no rows " +
    "are lost on either side") {
    val out = freshDataset("race_backfill")
    val before = totalRows(out)
    val upd = spark.range(50).select(lit("a").as("grp"),
      (col("id").cast("double") + 10000.0).as("v"))
    val e = withParkedCompaction(out) {
      intercept[ConcurrentWriteException] {
        CsvWriter.writePartitionedDataset(
          StarTable.fromDataFrame(upd, "cw_race_backfill"), out,
          partitionBy = Seq("grp"), overwriteSlices = true)
      }
    }
    assert(e.getMessage.contains("locked") &&
      e.getMessage.contains("compact") &&
      e.getMessage.contains("break_dataset_lock"),
      s"refusal must name the holder and the repair: ${e.getMessage}")
    // the compaction completed untouched: every original row survives
    assert(totalRows(out) === before)
    // and the lease is free again: the same backfill now succeeds
    CsvWriter.writePartitionedDataset(
      StarTable.fromDataFrame(upd, "cw_race_backfill"), out,
      partitionBy = Seq("grp"), overwriteSlices = true)
    assert(totalRows(out) === before / 2 + 50) // slice a replaced, b intact
  }

  test("a second compaction (and a vacuum, and a stats migration) refuse " +
    "while the first compaction holds the lease") {
    val out = freshDataset("race_compact")
    withParkedCompaction(out) {
      intercept[ConcurrentWriteException] {
        Maintenance.compactStarDataset(spark, out, 64 * 1024)
      }
      intercept[ConcurrentWriteException] {
        Maintenance.vacuumStarDataset(spark, out)
      }
      intercept[ConcurrentWriteException] {
        Maintenance.shardDatasetStats(spark, out)
      }
      intercept[ConcurrentWriteException] {
        Maintenance.dropPartitions(spark, out, "grp", Seq("a"))
      }
    }
    // after release everything is maintainable again
    assert(Maintenance.vacuumStarDataset(spark, out).restoredLeaves === 0)
  }

  test("a live stream ingest holds the lease for its lifetime: compaction " +
    "refuses mid-stream, succeeds after stop(), and no row is lost") {
    val base = Files.createTempDirectory("graft_cw_stream")
    val staging = base.resolve("staging").toString
    val out = base.resolve("ds").toString
    spark.range(120).select(
      when(col("id") % 2 === 0, "x").otherwise("y").as("grp"),
      col("id").cast("double").as("v"))
      .repartition(2).write.parquet(staging)
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("grp",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.DoubleType))))
      .option("maxFilesPerTrigger", 1).parquet(staging)
    val q = CsvWriter.streamPartitionedDataset(
      StarTable.fromDataFrame(stream, "cw_stream"), out, Seq("grp"),
      base.resolve("ckpt").toString)
    try {
      q.processAllAvailable()
      val e = intercept[ConcurrentWriteException] {
        Maintenance.compactStarDataset(spark, out, 64 * 1024)
      }
      assert(e.getMessage.contains("stream-ingest"),
        s"refusal must name the live stream: ${e.getMessage}")
    } finally q.stop()
    // stop() released the lease SYNCHRONOUSLY — no polling needed
    Maintenance.compactStarDataset(spark, out, 64 * 1024)
    assert(totalRows(out) === 120)
  }

  test("a crashed writer's stale lease refuses with the repair named; " +
    "breakDatasetLock clears it") {
    val out = freshDataset("stale")
    // simulate a process kill: acquire, stop the heartbeat, never release
    // (the default 10-min TTL keeps the lease live for this test's window;
    // expiry takeover has its own spec in LeaseLivenessSpec)
    DatasetLock.acquire(out, "backfill").abandon()
    val e = intercept[ConcurrentWriteException] {
      Maintenance.compactStarDataset(spark, out, 64 * 1024)
    }
    assert(e.getMessage.contains("backfill") &&
      e.getMessage.contains("break_dataset_lock"))
    assert(Maintenance.breakDatasetLock(spark, out))
    assert(!Maintenance.breakDatasetLock(spark, out), "double break: no lock")
    Maintenance.compactStarDataset(spark, out, 64 * 1024)
    assert(totalRows(out) === 400)
  }

  test("a lock-bypassing sibling's sidecar install mid-protocol is refused " +
    "(write-authority gate at the bypasser's own write)") {
    val out = freshDataset("cas")
    val upd = spark.range(25).select(lit("a").as("grp"),
      (col("id").cast("double") + 50000.0).as("v"))
    // rogue sibling: at the backfill's pre-sidecar window, rewrite the
    // sidecar DIRECTLY (bypassing the lease the backfill holds). Round 12
    // caught this at the VICTIM's next flip via the commit CAS; since
    // round 13 the bypasser's own install refuses up front (the root is
    // leased and the rogue presents no token) — earlier and stronger.
    val hook: String => Unit = p =>
      if (p == "backfill:pre-sidecar") {
        val m = graft.sources.StarTableSource.readDatasetMeta(Seq(out)).get
        CsvWriter.installSidecar(out, m, expectCommit = Some(m.commit),
          lockToken = None)
      }
    val prevHook = interceptHookSwap(hook)
    val e =
      try intercept[ConcurrentWriteException] {
        CsvWriter.writePartitionedDataset(
          StarTable.fromDataFrame(upd, "cw_cas"), out,
          partitionBy = Seq("grp"), overwriteSlices = true)
      } finally interceptHookSwap(prevHook)
    assert(e.getMessage.contains("without the writer lease") ||
      e.getMessage.contains("bypassing install") ||
      e.getMessage.contains("commit moved"), e.getMessage)
    // the refused flip left a CONSERVATIVE sidecar (the rogue's stats were
    // stripped of slice a by the backfill's pre-data strip): reads stay
    // correct — slice a holds the new rows, slice b the old
    assert(totalRows(out) === 200 + 25)
  }

  test("a FULL overwrite of an existing dataset stages and swaps: a crash " +
    "mid-protocol leaves the old dataset intact and readable, and the " +
    "writer lease is never deleted out from under the holder") {
    val out = freshDataset("swap")
    val before = spark.read.format("startable").load(out)
      .agg(sum(col("v"))).collect().head.get(0).toString
    val repl = spark.range(10).select(lit("z").as("grp"),
      col("id").cast("double").as("v"))
    // crash AFTER the staged data write, BEFORE the staged sidecar: the
    // pre-swap static overwrite used to delete the live dataset (and its
    // lock) up front — a crash here left a sidecar-less husk
    final class Kill extends RuntimeException("overwrite drill kill")
    val prev = CsvWriter.faultHook
    CsvWriter.faultHook = p => if (p == "backfill:pre-sidecar") throw new Kill
    try intercept[Kill] {
      CsvWriter.writePartitionedDataset(
        StarTable.fromDataFrame(repl, "cw_swap"), out, Seq("grp"))
    } finally CsvWriter.faultHook = prev
    assert(spark.read.format("startable").load(out)
      .agg(sum(col("v"))).collect().head.get(0).toString === before,
      "the old dataset must survive a crashed full overwrite untouched")
    // the crashed attempt's lease released (exception path) and its
    // staging is an inert hidden sibling vacuum cleans
    val rep = Maintenance.vacuumStarDataset(spark, out)
    assert(rep.removedDirs >= 1, s"staging leftover not cleaned: $rep")
    // the clean re-run replaces the dataset wholesale via the swap
    CsvWriter.writePartitionedDataset(
      StarTable.fromDataFrame(repl, "cw_swap"), out, Seq("grp"))
    assert(totalRows(out) === 10L)
    assert(graft.sources.StarTableSource.readDatasetMeta(Seq(out))
      .get.name === "cw_swap")
  }

  test("spark.graft.lock.awaitMs turns refusal into bounded serialized " +
    "wait: a backfill queued behind a compaction completes after release") {
    val out = freshDataset("await")
    val upd = spark.range(7).select(lit("b").as("grp"),
      (col("id").cast("double") + 90000.0).as("v"))
    spark.conf.set("spark.graft.lock.awaitMs", "60000")
    try {
      val staged = new CountDownLatch(1)
      val release = new CountDownLatch(1)
      Maintenance.faultHook = p =>
        if (p == "compact:staged") { staged.countDown(); release.await() }
      val compactor = new Thread(() =>
        try Maintenance.compactStarDataset(spark, out, 64 * 1024): Unit
        finally ())
      compactor.start()
      assert(staged.await(120, TimeUnit.SECONDS))
      // release the compaction shortly AFTER the backfill starts waiting
      new Thread(() => { Thread.sleep(2000); release.countDown() }).start()
      // with the await conf this BLOCKS until the lease frees, then runs
      CsvWriter.writePartitionedDataset(
        StarTable.fromDataFrame(upd, "cw_await"), out, Seq("grp"),
        overwriteSlices = true)
      compactor.join(120000)
      Maintenance.faultHook = _ => ()
      assert(totalRows(out) === 200 + 7)
    } finally {
      spark.conf.unset("spark.graft.lock.awaitMs")
      Maintenance.faultHook = _ => ()
    }
  }

  test("every sidecar install bumps the commit counter monotonically") {
    val out = freshDataset("counter")
    val c1 = graft.sources.StarTableSource.readDatasetMeta(Seq(out)).get.commit
    assert(c1 >= 1L, s"fresh dataset must start the counter, got $c1")
    val upd = spark.range(10).select(lit("b").as("grp"),
      col("id").cast("double").as("v"))
    CsvWriter.writePartitionedDataset(
      StarTable.fromDataFrame(upd, "cw_counter"), out,
      partitionBy = Seq("grp"), overwriteSlices = true)
    val c2 = graft.sources.StarTableSource.readDatasetMeta(Seq(out)).get.commit
    assert(c2 > c1, s"backfill must advance the counter: $c1 -> $c2")
  }

  private def interceptHookSwap(h: String => Unit): String => Unit = {
    val prev = CsvWriter.faultHook
    CsvWriter.faultHook = h
    prev
  }
}
