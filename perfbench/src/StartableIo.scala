package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.io.{CsvReader, CsvWriter}
import graft.model.{StarTable, TableBundle}
import graft.operators.Maintenance
import graft.parse.{BlockType, ParseFixer, ParsedTable}

/** The paper's own surface: parse a multi-block bundle, write it back,
  * scan one large table through the DSv2 connector's byte-range splits,
  * and run a partitioned dataset through write, backfill, compaction, a
  * pruned read and a statistics-answered count. Writes sit beside reads,
  * so a read-path gain that costs the writer shows. */
final class StartableIo(spark: SparkSession, seed: Long, probes: Boolean) extends Workload {
  val BundleRows = 20000
  val BigBytes: Long = 24L << 20
  val SplitBytes: Long = 4L << 20

  private var inputs: Path = _
  private var bundle: Gen.Bundle = _
  private var big: Gen.BigTruth = _
  private var cycleNo = 0

  private def bundlePath = inputs.resolve("bundle.csv")
  private def bigPath = inputs.resolve("big.csv")
  private def mb(bytes: Long) = bytes / 1e6

  def prepare(dir: Path): Unit = {
    inputs = dir
    Files.createDirectories(dir)
    bundle = Gen.bundle(seed, BundleRows)
    Files.write(bundlePath, bundle.bytes)
    val w = Files.newBufferedWriter(bigPath)
    try big = Gen.bigTable(seed, BigBytes, w) finally w.close()
  }

  private def rowsHash(rows: Iterable[Row]): Long = rows.iterator.map(r => Gen.rowHash(r.toSeq)).sum

  /** Names, destinations, units, row counts and value hashes equal the
    * generator's truth. */
  private def sameAsTruth(got: Seq[Gen.TableTruth]): Boolean = {
    val ok = got == bundle.tables
    if (!ok) System.err.println(s"[perfbench] tables differ:\n got ${got.mkString("\n     ")}" +
      s"\nwant ${bundle.tables.mkString("\n     ")}")
    ok
  }

  private def truthOf(t: StarTable): Gen.TableTruth = {
    val rows = t.df.collect()
    Gen.TableTruth(t.name, t.destinations, t.columnNames, t.units, rows.length, rowsHash(rows))
  }

  private def truthOf(p: ParsedTable): Gen.TableTruth =
    Gen.TableTruth(p.name, p.destinations, p.columnNames, p.units, p.numRows,
      p.rows.iterator.map(Gen.rowHash).sum)

  private def materialize(t: StarTable): Unit =
    t.df.write.format("noop").mode("overwrite").save()

  def cycle(rec: Recorder): Unit = {
    cycleNo += 1
    val work = Files.createDirectories(inputs.resolveSibling(s"work-$cycleNo"))
    val bundleBytes = Files.size(bundlePath)

    // parse: CsvReader.readBundle plus materializing every table
    val parsed = rec.op("read_bundle", "io") {
      val b = CsvReader.readBundle(spark, bundlePath)
      b.tables.foreach(materialize)
      b
    }()
    parsed.foreach { b =>
      rec.count("parse_mb_s", mb(bundleBytes) / rec.seconds("read_bundle").get)
      rec.check("read_bundle", "tables equal the generated truth")(
        sameAsTruth(b.tables.map(truthOf)))
      // one table per cycle, in turn, starting at a seeded table
      val t = b.tables(java.lang.Math.floorMod(seed + cycleNo, b.tables.size.toLong).toInt)
      rec.check("read_bundle", s"DSv2 read of ${t.name} equals the driver read") {
        val viaSource = spark.read.format("startable").option("table", t.name)
          .load(bundlePath.toString)
        viaSource.columns.toSeq == t.columnNames &&
          rowsHash(viaSource.collect()) == rowsHash(t.df.collect())
      }
    }

    if (probes) layerProbes(rec)

    // write the parsed bundle back
    parsed.foreach { b =>
      val out = work.resolve("written.csv")
      rec.op("write_bundle", "io")(CsvWriter.write(b.tables, out))()
      val bytes = Files.size(out)
      rec.seconds("write_bundle").foreach { s =>
        rec.count("write_mb_s", mb(bytes) / s)
        rec.count("io.write_s", s)
        rec.count("io.write_bytes", bytes.toDouble)
      }
      rec.check("write_bundle", "round-tripped tables equal the generated truth")(
        sameAsTruth(CsvReader.read(out).collect {
          case (BlockType.Table, p: ParsedTable) => truthOf(p)
        }.toSeq))
    }

    // single-table byte-range split scan through the connector; the scan
    // feeds an aggregate over every column, which is also its check. The
    // aggregate is planned once: its plan, with the scan's input
    // partitions, is timed, then that same plan runs.
    var planS, scanS = 0.0
    var parts = 0
    val scanned = rec.op("split_scan", "sources") {
      val t0 = System.nanoTime()
      val agg = fingerprintQuery(spark.read.format("startable").option("assumeSingleTable", "true")
        .option("maxSplitBytes", SplitBytes.toString).load(bigPath.toString))
      parts = StartableIo.scanPartitions(agg.queryExecution.executedPlan)
      val t1 = System.nanoTime()
      val fp = fingerprintOf(agg.collect().head)
      planS = (t1 - t0) / 1e9
      scanS = (System.nanoTime() - t1) / 1e9
      fp
    }()
    rec.seconds("split_scan").foreach { s =>
      rec.count("split_scan_mb_s", mb(Files.size(bigPath)) / s)
      rec.count("sources.plan_s", planS)
      rec.count("sources.scan_s", scanS)
      rec.count("sources.partitions", parts)
    }
    rec.check("split_scan", "split scan fingerprint equals the generated truth")(
      scanned.contains(big))

    parsed.foreach(b => datasetCycle(rec, b("t_measure"), work.resolve("dataset").toString))
    deleteTree(work)
  }

  /** Layer probes of a traced run: the block parse alone (no DataFrame),
    * then `TableBundle.fromBlocks` on the pre-parsed blocks, then
    * materializing its tables. They split `read_bundle` into layers and
    * never count toward the cycle time. */
  private def layerProbes(rec: Recorder): Unit = {
    val fixer = new StartableIo.CountingFixer
    val blocks = rec.op("parse_blocks", "parse", probe = true) {
      CsvReader.read(bundlePath, fixer = fixer).toVector
    }()
    blocks.foreach { bs =>
      val tables = bs.collect { case (BlockType.Table, p: ParsedTable) => p }
      rec.count("parse.s", rec.seconds("parse_blocks").get)
      rec.count("parse.rows", tables.map(_.numRows).sum.toDouble)
      rec.count("parse.blocks", bs.count(_._1 != BlockType.Blank).toDouble)
      rec.count("parse.fixes", fixer.total.toDouble)
      val nBlocks = bs.count(_._1 != BlockType.Blank)
      rec.check("parse_blocks", s"$nBlocks blocks and ${fixer.total} fixes equal the " +
        s"generated ${bundle.blocks} and ${bundle.fixes}")(
        nBlocks == bundle.blocks && fixer.total == bundle.fixes)
      val built = rec.op("bundle_from_blocks", "model", probe = true) {
        TableBundle.fromBlocks(spark, bs.iterator)
      }()
      rec.seconds("bundle_from_blocks").foreach(s => rec.count("model.bundle_s", s))
      built.foreach { b =>
        rec.op("materialize_tables", "model", probe = true)(b.tables.foreach(materialize))()
        rec.seconds("materialize_tables").foreach(s => rec.count("model.materialize_s", s))
      }
    }
  }

  private def datasetCycle(rec: Recorder, t: StarTable, ds: String): Unit = {
    val slice = "g1"
    val backfill = t.copy(df = t.df.filter(col("grp") === slice)
      .withColumn("temp", col("temp") + 1.0))
    val expectRows = t.df.count()
    val expectSlice = rowsHash(backfill.df.collect())
    val names = Seq("dataset_write", "backfill", "compact", "pruned_read", "stats_count")

    rec.op("dataset_write", "io")(
      CsvWriter.writePartitionedDataset(t, ds, Seq("grp"), filesPerSlice = 3))()
    rec.op("backfill", "io")(
      CsvWriter.writePartitionedDataset(backfill, ds, Seq("grp"), overwriteSlices = true))()
    val report = rec.op("compact", "operators")(
      Maintenance.compactStarDataset(spark, ds, targetBytes = 64L << 20))()
    report.foreach { r =>
      rec.count("operators.compact_files_before", r.filesBefore.toDouble)
      rec.count("operators.compact_files_after", r.filesAfter.toDouble)
      rec.check("compact", "compaction keeps the bytes and merges files")(
        r.bytesBefore == r.bytesAfter && r.filesAfter < r.filesBefore)
    }
    val pruned = rec.op("pruned_read", "sources") {
      val df = spark.read.format("startable").load(ds).filter(col("grp") === slice)
        .select(t.columnNames.map(col): _*)
      df.collect()
    }()
    rec.check("pruned_read", "pruned read equals the backfilled slice")(
      pruned.exists(rows => rowsHash(rows) == expectSlice))
    val counted = rec.op("stats_count", "sources")(spark.read.format("startable").load(ds).count())()
    rec.check("stats_count", "statistics-answered count equals the row count")(
      counted.contains(expectRows))

    val secs = names.map(rec.seconds)
    if (secs.forall(_.isDefined)) {
      rec.count("dataset_cycle_s", secs.flatten.sum)
      Seq("io.dataset_write_s", "io.backfill_s", "operators.compact_s",
        "sources.pruned_read_s", "sources.stats_count_s").zip(secs.flatten)
        .foreach { case (n, s) => rec.count(n, s) }
    }
  }

  /** The generator's aggregate fingerprint as a Spark query. */
  private def fingerprintQuery(df: DataFrame): DataFrame = df.agg(
    count(lit(1)),
    coalesce(sum(col("id").cast("long")), lit(0L)),
    coalesce(sum(round(col("x") * 100).cast("long")), lit(0L)),
    count(when(col("x").isNull, 1)),
    count(when(col("flag"), 1)),
    coalesce(sum(length(col("label")).cast("long")), lit(0L)),
    coalesce(sum(unix_seconds(col("at"))), lit(0L)),
    count(when(col("at").isNull, 1)))

  /** The fingerprint in that query's one result row. */
  private def fingerprintOf(r: Row): Gen.BigTruth =
    Gen.BigTruth(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
      r.getLong(5), r.getLong(6), r.getLong(7))

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
}

object StartableIo {
  /** Input partitions of the first DSv2 scan in a physical plan. Planning
    * them is part of planning the scan; the plan keeps them for its run. */
  def scanPartitions(plan: SparkPlan): Int = {
    val root = plan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    root.collectFirst { case b: BatchScanExec => b.inputPartitions.size }.getOrElse(0)
  }

  /** The block parser resets its fixer per block; this one keeps the
    * run's total. */
  final class CountingFixer extends ParseFixer {
    private var earlier = 0
    override def resetFixes(): Unit = { earlier += fixes; super.resetFixes() }
    def total: Int = earlier + fixes
  }
}
