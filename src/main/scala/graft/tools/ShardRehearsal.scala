package graft.tools

import org.apache.spark.sql.functions._

import graft.io.DatasetSidecar

/** Round-11 rehearsal: sharded dataset statistics at ≥100k slices.
  * Claims under test (VERDICT r10 item 2):
  *  - planning cost of a partition-filtered probe is bounded by slices
  *    TOUCHED, not dataset size — the probe loads one shard (counter
  *    asserted) and the listing walk prunes the contradicted subtrees;
  *  - the MaxStatSlices cliff is gone: a 100k-slice dataset keeps full
  *    per-slice statistics (metadata aggregates still engage), where the
  *    inline layout would have degraded to none;
  *  - even the worst case — an UNFILTERED metadata aggregate folding
  *    every slice's shard — stays a bounded metadata operation (parallel
  *    shard fetch), never a data scan.
  *
  * The bulk of the layout is synthesized directly (leaf dirs + data files
  * + shard JSON through the same DatasetSidecar.encodeShard the writer uses) —
  * the write path itself is spec-covered; what this rehearses is READ
  * PLANNING at a scale the local text sink would take an hour to produce.
  *
  *   sbt "runMain graft.tools.ShardRehearsal [slices]"  (default 100000)
  */
object ShardRehearsal {
  def main(args: Array[String]): Unit = {
    val slices = args.headOption.map(_.toInt).getOrElse(100000)
    val spark = graft.GraftSession.local()
    import spark.implicits._
    val src = graft.sources.StarTableSource

    def t[A](label: String)(f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[shard] $label%-58s $s%8.2f s")
      (r, s)
    }

    // seed: a REAL sharded write fixes the root sidecar, schema and
    // rendering conventions; the synthesized leaves then follow its shape
    val out = java.nio.file.Files.createTempDirectory("graft_shard_rh").toString
    val seed = graft.model.StarTable.fromDataFrame(
      (0 until 4).flatMap(d => (0 until 5).map(i =>
        (f"d$d%06d", (d * 5 + i).toDouble, s"tag${d}_$i")))
        .toDF("day", "x", "tag"),
      "shardrh", units = Map("day" -> "text", "tag" -> "text"))
    graft.io.CsvWriter.writePartitionedDataset(seed, out, Seq("day"),
      shardStats = Some(true))

    val (_, synthS) = t(s"synthesize ${slices - 4} leaves (data + shard each)") {
      (4 until slices).foreach { d =>
        val day = f"d$d%06d"
        val dir = java.nio.file.Paths.get(out, s"day=$day")
        java.nio.file.Files.createDirectory(dir)
        val lo = d * 5.0; val hi = lo + 4.0
        val lines = (0 until 5).map(i => s"${lo + i};tag${d}_$i")
          .mkString("", "\n", "\n")
        java.nio.file.Files.write(dir.resolve("part-00000"),
          lines.getBytes("UTF-8"))
        val shard = DatasetSidecar.encodeShard(DatasetSidecar.SliceShard(
          DatasetSidecar.SliceStats(Seq(day), 5L, Map(
            "x" -> DatasetSidecar.ColStats(s"$lo", s"$hi", 0L),
            "tag" -> DatasetSidecar.ColStats(s"tag${d}_0", s"tag${d}_4", 0L))),
          Nil))
        java.nio.file.Files.write(
          dir.resolve(DatasetSidecar.SliceShardFile),
          shard.getBytes("UTF-8"))
      }
    }

    def planCount(filterDay: Option[String]): (Long, Long, Long, Double) = {
      src.resetPushdownCounters()
      val base = spark.read.format("startable").load(out)
      val q = filterDay.map(d => base.filter(col("day") === d)).getOrElse(base)
        .agg(count(lit(1)).as("n"))
      val label = filterDay.map(d => s"COUNT(*) WHERE day=$d").getOrElse(
        s"COUNT(*) unfiltered ($slices slices)")
      val (n, secs) = t(label) {
        require(q.queryExecution.executedPlan.toString
          .contains("StarMetaAggScan"),
          s"$label fell back to a data scan")
        q.collect().head.getLong(0)
      }
      (n, src.shardsRead.sum(), src.dirsPruned.sum(), secs)
    }

    // warm the JVM/plan pipeline once on the filtered probe shape
    planCount(Some("d000002"))
    val (n1, shards1, pruned1, secs1) = planCount(Some(f"d${slices / 2}%06d"))
    require(n1 == 5 && shards1 <= 1,
      s"1-slice probe: n=$n1, read $shards1 shards — not bounded by touched")
    println(s"[shard] 1-slice probe: $shards1 shard read, " +
      s"$pruned1 directories pruned mid-walk")

    src.invalidateShardCache(out)
    val (n2, shards2, _, secs2) = planCount(None)
    require(n2 == slices * 5L,
      s"unfiltered metadata count wrong: $n2 != ${slices * 5L}")
    println(s"[shard] full fold: $shards2 shards read (cold cache)")

    // data-column predicate under a partition filter: the scan plans from
    // ONE leaf's shard and skips it when the range contradicts
    src.resetPushdownCounters()
    val probeDay = f"d${slices / 4}%06d"
    val (k, secs3) = t(s"scan day=$probeDay AND x > 1e12 (stats-skipped)") {
      spark.read.format("startable").load(out)
        .filter(col("day") === probeDay && col("x") > 1.0e12).count()
    }
    require(k == 0 && src.shardsRead.sum() <= 1,
      s"filtered scan read ${src.shardsRead.sum()} shards")
    require(src.filesSkippedByStats.sum() > 0, "slice stats skipped nothing")

    println(f"""{"rehearsal":"shard","slices":$slices,"synth_s":$synthS%.2f,""" +
      f""""probe_1slice_s":$secs1%.3f,"probe_1slice_shards":$shards1,""" +
      f""""dirs_pruned":$pruned1,"full_fold_s":$secs2%.2f,""" +
      f""""full_fold_shards":$shards2,"skip_scan_s":$secs3%.3f}""")
    spark.stop()
  }
}
