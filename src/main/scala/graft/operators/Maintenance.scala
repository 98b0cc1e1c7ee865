package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.io.DatasetSidecar
import graft.io.DatasetSidecar.{FileStats, SliceShard}

/** Table-maintenance operators. The small-file problem is the silent
  * killer of long-lived ingest pipelines: a streaming or per-batch writer
  * leaves thousands of KB-sized parquet files per partition, and every
  * downstream scan pays one open/footer-parse/seek per file — at 100 TB
  * that is millions of NameNode/S3 requests and task-scheduling overhead
  * dwarfing the actual I/O. Compaction bin-packs them back to
  * target-sized files.
  */
object Maintenance {

  /** Test-only fault injection for crash-consistency drills: called after
    * a leaf's staging write, before the directory swap; a drill installs a
    * throwing hook to simulate a process kill at that point. */
  private[graft] var faultHook: String => Unit = _ => ()

  /** (files, bytes) before → after. */
  final case class CompactionReport(filesBefore: Long, bytesBefore: Long,
                                    filesAfter: Long, bytesAfter: Long)

  /** Bounded-concurrency map preserving input order — the per-slice job
    * runner for compact/cluster. A 10k-slice dataset maintained strictly
    * serially pays 10k × (job schedule + listing + two renames) of pure
    * driver/FS floor on an otherwise idle cluster; running `parallelism`
    * leaf jobs concurrently overlaps that floor with executor work while
    * each leaf keeps its own staging-and-swap crash discipline (leaves are
    * independent directories — no shared mutable files). Spark job
    * submission is thread-safe by design (the scheduler interleaves
    * concurrent jobs' tasks).
    *
    * Failure discipline: EVERY future is awaited before the first failure
    * is rethrown (cause unwrapped) — never `shutdownNow()`, whose
    * interrupts could abort a SIBLING leaf between swapLeaf's two renames
    * and leave its data only in the hidden trash sibling (invisible to
    * listings: silent slice loss). A leaf that fails leaves only ITS OWN
    * staging/trash leftovers, which are inert and rerun-repairable — the
    * same crash states as the serial loop. */
  private def parMapLeaves[A, B](items: Seq[A], parallelism: Int)(f: A => B): Seq[B] =
    if (items.sizeIs <= 1 || parallelism <= 1) items.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(parallelism, items.size))
      try {
        val futs = items.map { a =>
          pool.submit(new java.util.concurrent.Callable[B] { def call(): B = f(a) })
        }
        // drain ALL leaves first; only then surface the first failure
        val results = futs.map { fut =>
          try Right(fut.get())
          catch {
            case e: java.util.concurrent.ExecutionException => Left(e.getCause)
            case e: InterruptedException                     => Left(e)
          }
        }
        results.collectFirst { case Left(t) => t }.foreach(throw _)
        results.collect { case Right(b) => b }
      } finally {
        pool.shutdown() // graceful: no interrupts mid-swap
        // and WAIT for it: if the awaiting thread itself was interrupted
        // (fut.get -> InterruptedException above), that leaf's task is
        // still RUNNING — returning now would let the caller immediately
        // rerun compact/cluster and race a mid-flight staging-and-swap on
        // the same leaf. Await uninterruptibly, re-asserting the flag.
        var interrupted = false
        var terminated = false
        while (!terminated)
          try terminated = pool.awaitTermination(
            1, java.util.concurrent.TimeUnit.DAYS)
          catch { case _: InterruptedException => interrupted = true }
        if (interrupted) Thread.currentThread().interrupt()
      }
    }

  /** Concurrent leaf jobs for dataset maintenance (compact/cluster).
    * Override via spark.graft.maintenance.parallelism; the default 8 keeps
    * the driver's concurrent-job bookkeeping small while hiding the
    * per-leaf scheduling floor. */
  private def maintenanceParallelism(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.maintenance.parallelism")
      .map(_.toInt).getOrElse(8)

  /** Rewrite the parquet directory at `path` as ~`targetBytes`-sized
    * files: the file count becomes ceil(input bytes / targetBytes)
    * (parquet re-encoding changes exact sizes — the PLANNED sizes use the
    * observed input bytes, the standard OPTIMIZE heuristic). Pass
    * `sortCols` to restore (or establish) an intra-file sort while
    * rewriting — compaction is the natural moment to cluster, and a plain
    * coalesce would destroy an existing layout (see [[ZOrder]]).
    *
    * The rewrite stages into a sibling `<path>__compacting` directory and
    * swaps via two renames — crash-safe up to the final swap window (the
    * staging dir is abandoned on failure, the original untouched); this
    * is directory-level maintenance, not a transaction log. Readers
    * concurrent with the swap will fail-and-retry, as with any
    * non-transactional table format.
    *
    * Hive-partitioned directories (the [[writePartitioned]] layout) are
    * compacted leaf-by-leaf, preserving the partition structure;
    * `sortCols` must name columns stored IN the files (a partition
    * column lives in the directory name and fails loudly per leaf).
    *
    * Scale shape: one distributed read + one shuffle (range-partition
    * when sorting, round-robin otherwise) + one write — no driver-side
    * data movement; the file LISTING is the only driver work. */
  def compact(spark: SparkSession, path: String,
              targetBytes: Long = 128L * 1024 * 1024,
              sortCols: Seq[String] = Nil,
              format: String = "parquet"): CompactionReport =
    // Writer lease on PLAIN trees too (round 13): the lost-leaf race the
    // dataset lease closed in round 12 — a second compaction/retention
    // sweep interleaving with a leaf's two-rename swap — applies
    // identically to parquet/Z-order/bucketed directories. The lock file
    // is an advisory `_`-named sibling every data listing (Spark's
    // included) ignores; no sidecar is needed for an advisory lease.
    graft.io.DatasetLock.withLockHandle(path, "compact",
      spark.sparkContext.hadoopConfiguration,
      graft.io.DatasetLock.awaitMsFromConf(spark),
      graft.io.DatasetLock.ttlMsFromConf(spark)) { h =>
      compactLocked(spark, path, targetBytes, sortCols, format, Some(h))
    }

  /** [[compact]] body, callable by holders that already took the root
    * lease ([[compactStarDataset]] — the lock is not reentrant). `lock`
    * fences each leaf swap: a pass whose lease was lost mid-run (TTL
    * takeover after a long stall) stops before its next destructive
    * step. */
  private[operators] def compactLocked(spark: SparkSession, path: String,
              targetBytes: Long,
              sortCols: Seq[String],
              format: String,
              lock: Option[graft.io.DatasetLock.Handle] = None,
              onlyLeaves: Option[Seq[Path]] = None): CompactionReport = {
    require(targetBytes > 0, s"compact: targetBytes must be positive")
    require(format == "parquet" || format == "text",
      s"compact: unsupported format '$format' (parquet or text)")
    require(format == "parquet" || sortCols.isEmpty,
      "compact: sortCols requires the parquet format (text rows are opaque)")
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def visible(d: Path) = fs.listStatus(d).toSeq
      .filterNot(st => st.getPath.getName.startsWith("_")
        || st.getPath.getName.startsWith("."))
    def dataFiles(d: Path) = visible(d).filter(_.isFile)

    // Hive-partitioned layouts (the shape writePartitioned produces) keep
    // data in nested `col=value` directories: a non-recursive listing sees
    // zero files, and a root-level rewrite would FLATTEN the partition
    // structure while reporting 0 bytes before. Compact each LEAF
    // directory in place instead — the partition layout (and the fact
    // that partition values live in dir names, not in the files) is
    // preserved by construction, and each leaf keeps the same
    // staging-and-swap crash-safety as the flat case.
    def leaves(d: Path): Seq[Path] = {
      val dirs = visible(d).filter(_.isDirectory)
      if (dirs.isEmpty) Seq(d)
      else {
        // MIXED layouts (data files alongside partition dirs) must refuse
        // loudly: treating the dir as pure-hive would silently skip the
        // root-level files forever, and compacting it with the
        // directory-swap would destroy (or absorb — partition discovery
        // recurses) the nested partition dirs. Such a layout is a writer
        // bug; surface it instead of guessing.
        require(dataFiles(d).isEmpty,
          s"compact: $d holds data files AND subdirectories — a mixed " +
            "flat/partitioned layout. Repair the table (move the stray " +
            "files into a partition or remove the dirs) before compacting.")
        dirs.flatMap(st => leaves(st.getPath))
      }
    }

    def compactDir(p: Path): CompactionReport = {
      val before = dataFiles(p)
      val bytesBefore = before.map(_.getLen).sum
      if (before.isEmpty)
        return CompactionReport(0L, 0L, 0L, 0L)
      // A crashed coexisting stream's batches ABOVE its recorded
      // high-water mark are IN-DOUBT: a restart will replay them by
      // deleting its own batch files by name and re-installing. Absorbing
      // those files into a compacted file now would make the replay's
      // delete miss them — the re-install would then DUPLICATE the rows.
      // Skip the leaf (compaction is best-effort maintenance; the next
      // pass after the stream resumes or is vacuumed picks it up).
      if (format == "text" && graft.io.CsvWriter.hasInDoubtStreamFiles(
          fs, root, before.map(_.getPath.getName)))
        return CompactionReport(0L, 0L, 0L, 0L)
      val nOut = math.max(1L, (bytesBefore + targetBytes - 1) / targetBytes).toInt

      // DOT-prefixed staging/trash: for a partition leaf these siblings
      // live INSIDE the table root, where a bare name would be parsed as
      // a partition value by Spark's discovery (day=a__compacting →
      // partition 'a__compacting' — silent row duplication after a crash
      // mid-swap). Hidden names are ignored by Spark/Hadoop listings AND
      // by this method's own visible() filter, so a crash leftover is
      // inert rather than data-corrupting.
      val staging = new Path(p.getParent, "." + p.getName + "__compacting")
      if (fs.exists(staging)) fs.delete(staging, true)
      val df = spark.read.format(format).load(p.toString)
      val shaped =
        if (sortCols.nonEmpty)
          df.repartitionByRange(nOut, sortCols.map(col): _*)
            .sortWithinPartitions(sortCols.map(col): _*)
        else df.repartition(nOut)
      shaped.write.format(format).save(staging.toString)
      // sharded-stats layout: the leaf's stat shard must SURVIVE the swap
      // (slice-level bounds are invariant under a bit-identical rewrite)
      // or compaction would silently strip a huge dataset's entire
      // statistics tier. Per-FILE entries are dropped — the compacted
      // basenames are new (stale entries would merely be inert, stripping
      // is hygiene). Installed into STAGING before the swap, so stats and
      // data change owners atomically-as-one.
      val shardSrc = new Path(p, DatasetSidecar.SliceShardFile)
      if (fs.exists(shardSrc)) {
        // same loud refusal as the read path's shard parse: a corrupt or
        // truncated shard names the file and the repair
        val shard = DatasetSidecar.read(fs, shardSrc, "compact", "stat shard")(
          DatasetSidecar.decodeShard)
        graft.io.CsvWriter.atomicInstallJson(fs,
          spark.sparkContext.hadoopConfiguration,
          new Path(staging, DatasetSidecar.SliceShardFile),
          DatasetSidecar.encodeShard(shard.copy(files = Nil)))
      }
      faultHook(s"compact:staged")
      lock.foreach(_.checkHeld("compact")) // fencing: no swap on a lost lease
      swapLeaf(fs, "compact", p, staging)

      val after = dataFiles(p)
      CompactionReport(before.size.toLong, bytesBefore,
        after.size.toLong, after.map(_.getLen).sum)
    }

    val targets = onlyLeaves.getOrElse(leaves(root)).filter(fs.exists)
    parMapLeaves(targets, maintenanceParallelism(spark))(compactDir)
      .foldLeft(CompactionReport(0, 0, 0, 0)) {
        (a, b) => CompactionReport(a.filesBefore + b.filesBefore,
          a.bytesBefore + b.bytesBefore, a.filesAfter + b.filesAfter,
          a.bytesAfter + b.bytesAfter)
      }
  }

  /** Compact a hive-partitioned StarTable dataset (the
    * [[graft.io.CsvWriter.writePartitionedDataset]] layout) in place:
    * each `col=value` leaf's small text part files are rewritten as
    * ~`targetBytes`-sized files with the same staging-and-swap crash
    * safety as the parquet path. Rows are opaque rendered lines — no
    * parse, no re-render, bit-identical content — and the directory
    * sidecar (schema, partition columns) is untouched, so connector
    * reads before and after return the same table. Streaming appends and
    * per-slice incremental writes leave many small files; this is the
    * maintenance pass that keeps a long-lived dataset scan-efficient. */
  def compactStarDataset(spark: SparkSession, path: String,
                         targetBytes: Long = 128L * 1024 * 1024,
                         onlySlices: Set[Seq[String]] = Set.empty): CompactionReport = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new Path(root, DatasetSidecar.DatasetMetaFile)),
      s"compactStarDataset: $path has no ${DatasetSidecar.DatasetMetaFile} " +
        "sidecar — not a StarTable dataset (for parquet tables use compact)")
    if (onlySlices.isEmpty)
      // writer lease: a live stream ingest / backfill / vacuum on this root
      // refuses us (and vice versa) instead of interleaving leaf swaps with
      // its commits — rows committed into a leaf between our listing and
      // our swap would otherwise be silently dropped
      graft.io.DatasetLock.withLockHandle(path, "compact",
        spark.sparkContext.hadoopConfiguration,
        graft.io.DatasetLock.awaitMsFromConf(spark),
        graft.io.DatasetLock.ttlMsFromConf(spark)) { h =>
        val report = compactLocked(spark, path, targetBytes, Nil, "text", Some(h))
        // sharded layout: compaction re-installed each leaf's shard (files
        // stripped) — drop any cached parses of the OLD shards
        graft.sources.StarTableSource.invalidateShardCache(path)
        report
      }
    else {
      // SLICE-SCOPED compaction: a SHARED lease on exactly `onlySlices`
      // (raw rendered partition VALUES in partition-column order, null =
      // default partition) — the nightly-maintenance shape that coexists
      // with a live coexisting stream ingest and with disjoint backfills.
      // Overlapping the stream's touched slices (or a backfill's) refuses
      // like any shared-lease conflict. The root sidecar is untouched
      // (slice stats are value-invariant under a bit-identical rewrite;
      // per-file entries in the inline layout become inert — stale
      // basenames) so no flip is needed: scoped compactions of distinct
      // slices are fully concurrent.
      val meta = graft.sources.StarTableSource.readDatasetMeta(Seq(path))
        .getOrElse(throw new IllegalArgumentException(
          s"compactStarDataset: unreadable sidecar at $path"))
      val bad = onlySlices.filter(_.size != meta.partCols.size)
      require(bad.isEmpty,
        s"compactStarDataset: slice tuple(s) ${bad.mkString(", ")} do not " +
          s"match the dataset's partitioning (${meta.partCols.mkString(", ")})")
      graft.io.DatasetLock.withSharedLock(path, "compact", onlySlices,
        spark.sparkContext.hadoopConfiguration,
        graft.io.DatasetLock.awaitMsFromConf(spark),
        graft.io.DatasetLock.ttlMsFromConf(spark)) { h =>
        val leaves = onlySlices.toSeq.map(raw =>
          graft.io.CsvWriter.sliceLeafPath(root, meta.partCols, raw))
        val report = compactLocked(spark, path, targetBytes, Nil, "text",
          Some(h), onlyLeaves = Some(leaves))
        graft.sources.StarTableSource.invalidateShardCache(path)
        report
      }
    }
  }

  /** Install `staging` over `leaf` with the two-rename swap discipline
    * shared by compaction and clustering: move the live leaf to a hidden
    * trash sibling, rename staging in, restore on a failed install —
    * crash-safe up to the window between the two renames (a leftover
    * hidden trash/staging dir is inert to all listings). */
  private[graft] def swapLeaf(fs: org.apache.hadoop.fs.FileSystem, op: String,
                              leaf: Path, staging: Path): Unit = {
    val trash = new Path(leaf.getParent, "." + leaf.getName + "__old")
    if (fs.exists(trash)) fs.delete(trash, true)
    if (!fs.rename(leaf, trash))
      throw new java.io.IOException(s"$op: could not move $leaf aside")
    if (!fs.rename(staging, leaf)) {
      // surface a concurrent collision explicitly: if the live leaf
      // REAPPEARED between the two renames (a racing vacuum restored the
      // trash sibling — its lease should have refused it, unless forced),
      // a blind restore-rename would silently move the trash INTO the
      // restored dir on some stores; name the collision instead
      if (fs.exists(leaf))
        throw new graft.io.ConcurrentWriteException(
          s"$op: $leaf reappeared mid-swap (a concurrent writer restored " +
            s"or recreated it) — staging left at $staging, trash at " +
            s"$trash; resolve the collision and re-run")
      fs.rename(trash, leaf) // restore
      throw new java.io.IOException(s"$op: could not install $staging")
    }
    fs.delete(trash, true)
  }

  final case class ClusterReport(slices: Long, filesBefore: Long,
                                 filesAfter: Long, bytesBefore: Long,
                                 bytesAfter: Long, fileStatsWritten: Long)

  /** Cluster a hive-partitioned StarTable dataset WITHIN each slice by
    * `sortCols` and record PER-FILE column statistics — the full parquet
    * analog: partition pruning (directories) → slice statistics (sidecar)
    * → file statistics (this pass) all skip unopened IO, so a range query
    * on a clustered column reads ~1/files of even the matching slice.
    *
    * Mechanics per slice: lines are re-sorted as OPAQUE strings keyed by
    * the PARSED sort cells (split + per-unit typing — no re-render, every
    * byte of every line survives verbatim), range-partitioned into
    * ~`targetBytes` files, written to a hidden staging sibling, profiled
    * per file (min/max/null per column with the reader's parse semantics:
    * stats are computed FROM the rendered cells, so display-format
    * rounding and NaN/naRep conventions are automatically honored), and
    * swapped in with the compact staging-and-swap discipline. The sidecar
    * is rewritten LAST: slice statistics are value-invariant under
    * reordering and survive as-is; old per-file entries are keyed by
    * basenames that no longer exist after the swap, so every crash window
    * leaves metadata that is at worst conservative.
    *
    * Scale shape: per slice one distributed read + one range shuffle +
    * one write + one stats aggregate; driver work is listings and the
    * (capped) stats collect. */
  def clusterStarDataset(spark: SparkSession, path: String,
                         sortCols: Seq[String],
                         targetBytes: Long = 128L * 1024 * 1024,
                         onlySlices: Set[Seq[String]] = Set.empty): ClusterReport = {
    require(targetBytes > 0, "clusterStarDataset: targetBytes must be positive")
    require(graft.sources.StarTableSource.readDatasetMeta(Seq(path)).isDefined,
      s"clusterStarDataset: $path has no " +
        s"${DatasetSidecar.DatasetMetaFile} sidecar — not a StarTable " +
        "dataset")
    if (onlySlices.isEmpty)
      // writer lease (see compactStarDataset); the meta is re-read UNDER the
      // lock so the commit this pass CAS-flips against is the locked state
      graft.io.DatasetLock.withLockHandle(path, "cluster",
        spark.sparkContext.hadoopConfiguration,
        graft.io.DatasetLock.awaitMsFromConf(spark),
        graft.io.DatasetLock.ttlMsFromConf(spark)) { h =>
        clusterStarDatasetLocked(spark, path, sortCols, targetBytes, Some(h))
      }
    else
      // SLICE-SCOPED clustering: a SHARED lease on exactly `onlySlices`
      // (raw rendered partition values) — nightly file-tier maintenance of
      // old slices that coexists with a live coexisting stream and with
      // disjoint backfills. The root sidecar's file entries for these
      // slices go through a flip-serialized batched merge; slice entries
      // are reorder-invariant and untouched.
      graft.io.DatasetLock.withSharedLock(path, "cluster", onlySlices,
        spark.sparkContext.hadoopConfiguration,
        graft.io.DatasetLock.awaitMsFromConf(spark),
        graft.io.DatasetLock.ttlMsFromConf(spark)) { h =>
        clusterStarDatasetLocked(spark, path, sortCols, targetBytes, Some(h),
          onlySlices = Some(onlySlices))
      }
  }

  private def clusterStarDatasetLocked(spark: SparkSession, path: String,
                                       sortCols: Seq[String],
                                       targetBytes: Long,
                                       lock: Option[graft.io.DatasetLock.Handle],
                                       onlySlices: Option[Set[Seq[String]]] = None): ClusterReport = {
    val lockToken: Option[String] = lock.map(_.info.token)
    import org.apache.spark.sql.functions._
    val meta = graft.sources.StarTableSource.readDatasetMeta(Seq(path))
      .getOrElse(throw new IllegalArgumentException(
        s"clusterStarDataset: $path has no " +
          s"${DatasetSidecar.DatasetMetaFile} sidecar — not a StarTable " +
          "dataset"))
    val missing = sortCols.filterNot(meta.cols.contains)
    require(sortCols.nonEmpty && missing.isEmpty,
      s"clusterStarDataset: sort column(s) ${missing.mkString(", ")} not " +
        s"among the dataset's data columns (${meta.cols.mkString(", ")}); " +
        "partition columns are already directory-clustered")
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(path).getFileSystem(conf)
    val qsep = java.util.regex.Pattern.quote(meta.sep)

    // slice inventory: files grouped by leaf directory. A SCOPED pass
    // constructs its leaves directly — touched-proportional cost, and no
    // root walk to race a disjoint sibling's commit window
    val files = onlySlices match {
      case Some(parts) => parts.toSeq.flatMap { raw =>
        DatasetSidecar.sliceFiles(fs, graft.io.CsvWriter.sliceLeafPath(
          new Path(path), meta.partCols, raw))
          .map(st => (st.getPath.toString, st.getLen, raw))
      }
      case None => graft.sources.StarTableSource.listPartitionedFiles(
        Seq(path), meta.partCols, conf).map(f => (f._1, f._2, f._3))
    }
    val byLeaf: Seq[((String, Seq[String]), Seq[(String, Long)])] =
      files.groupBy(f => (new Path(f._1).getParent.toString, f._3))
        .map { case ((dir, raw), fsOfDir) =>
          ((dir, raw), fsOfDir.map(x => (x._1, x._2)))
        }.toSeq.sortBy(_._1._1)

    // cap coordination across concurrent leaf jobs: a running entry count
    // flips `capped` the moment the total crosses MaxStatSlices, so leaves
    // STARTING after that skip their stats aggregate entirely and the
    // driver never accumulates more than cap + in-flight entries
    val statCount = new java.util.concurrent.atomic.AtomicLong(0L)
    val capped = new java.util.concurrent.atomic.AtomicBoolean(false)

    final case class LeafResult(filesBefore: Long, bytesBefore: Long,
                                filesAfter: Long, bytesAfter: Long,
                                stats: Seq[FileStats])

    def clusterLeaf(dir: String, raw: Seq[String],
                    slice: Seq[(String, Long)]): LeafResult = {
      val leaf = new Path(dir)
      // same in-doubt guard as compaction: never absorb a crashed
      // coexisting stream's uncommitted batch files into rewritten ones
      // (the replay after restart would re-install them — duplicates)
      if (graft.io.CsvWriter.hasInDoubtStreamFiles(fs, new Path(path),
          slice.map(f => new Path(f._1).getName)))
        return LeafResult(0L, 0L, 0L, 0L, Nil)
      val bytes = slice.map(_._2).sum
      val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
      val staging = new Path(leaf.getParent, "." + leaf.getName + "__clustering")
      if (fs.exists(staging)) fs.delete(staging, true)

      val lines = spark.read.text(dir)
      val cells = split(col("value"), qsep, -1)
      // sort on the parse-faithful typed cells, the semantics the per-file
      // stats kernel profiles with
      val keys = sortCols.map(meta.cols.indexOf(_)).map(i =>
        graft.io.CsvWriter.parsedCellExpr(cells, i, meta.units(i)))
      lines
        .repartitionByRange(nOut, keys: _*)
        .sortWithinPartitions(keys: _*)
        .select(col("value"))
        .write.text(staging.toString)

      // per-file statistics over the staged output (reader-faithful cell
      // semantics; one distributed aggregate per slice) — skipped entirely
      // once the cardinality cap is blown (the files still cluster; only
      // the metadata degrades). The SHARDED layout has no cap: each
      // leaf's entries land in its own shard, nothing accumulates.
      val leafStats: Seq[FileStats] =
        if (!meta.statsSharded && capped.get()) Nil
        else DatasetSidecar.fileStatsFrame(spark, Seq(staging.toString),
          meta.sep, meta.units).collect().toSeq
          .map(r => DatasetSidecar.fileStatsOf(r, raw, meta.cols, meta.units))
      // sharded layout: the leaf's shard is REGENERATED from the fresh
      // per-file profile (slice entry = fold of the file entries — the
      // rows are the same rows, reordered) and installed into STAGING
      // before the swap, so data and stats change owners as one; a crash
      // before the swap leaves the live leaf (and its live shard) intact
      if (meta.statsSharded && leafStats.nonEmpty)
        graft.io.CsvWriter.atomicInstallJson(fs, conf,
          new Path(staging, DatasetSidecar.SliceShardFile),
          DatasetSidecar.encodeShard(SliceShard(
            graft.sources.StarTableSource.foldFileEntries(
              raw, leafStats, meta.cols, meta.units),
            if (leafStats.size > 1) leafStats else Nil)))
      faultHook("cluster:staged")
      lock.foreach(_.checkHeld("clusterStarDataset")) // fencing
      swapLeaf(fs, "clusterStarDataset", leaf, staging)

      if (!meta.statsSharded &&
          statCount.addAndGet(leafStats.size.toLong) > graft.io.CsvWriter.MaxStatSlices)
        capped.set(true)
      val after = DatasetSidecar.sliceFiles(fs, leaf)
      LeafResult(slice.size.toLong, bytes, after.length.toLong,
        after.map(_.getLen).sum, leafStats)
    }

    val results = parMapLeaves(byLeaf, maintenanceParallelism(spark)) {
      case ((dir, raw), slice) => clusterLeaf(dir, raw, slice)
    }
    val filesBefore = results.map(_.filesBefore).sum
    val bytesBefore = results.map(_.bytesBefore).sum
    val filesAfter = results.map(_.filesAfter).sum
    val bytesAfter = results.map(_.bytesAfter).sum
    if (meta.statsSharded) {
      // sharded layout: every leaf's shard was regenerated in place; the
      // root sidecar (schema + statsSharded marker) is already correct
      graft.sources.StarTableSource.invalidateShardCache(path)
      ClusterReport(byLeaf.size.toLong, filesBefore, filesAfter, bytesBefore,
        bytesAfter, results.map(_.stats.size.toLong).sum)
    } else {
      val statsCapped = capped.get()
      val allFileStats = if (statsCapped) Nil else results.flatMap(_.stats)

      // sidecar LAST: slice stats are reorder-invariant (kept verbatim);
      // file entries replace wholesale (every slice was rewritten); above
      // the cardinality cap they degrade to none (conservative reads)
      val keptFileStats: Seq[FileStats] =
        if (statsCapped) {
          System.err.println("[graft] WARN clusterStarDataset: more than " +
            s"${graft.io.CsvWriter.MaxStatSlices} files — skipping per-file " +
            "statistics (reads stay correct, file skipping disabled)")
          Nil
        } else allFileStats
      onlySlices match {
        case Some(parts) =>
          // shared lease: replace ONLY this pass's slices' file entries
          // through the batched flip merge — sibling writers' entries
          // (and every slice entry) survive verbatim
          graft.io.CsvWriter.applySidecarMergeBatched(path, lock.get,
            Set.empty, Nil, keptFileStats, stripFilesOverride = Some(parts))
        case None =>
          graft.io.CsvWriter.installSidecar(path,
            meta.copy(fileStats = keptFileStats),
            expectCommit = Some(meta.commit), lockToken = lockToken)
      }
      ClusterReport(byLeaf.size.toLong, filesBefore, filesAfter, bytesBefore,
        bytesAfter, keptFileStats.size.toLong)
    }
  }

  /** Migrate an INLINE-stats StarTable dataset to the SHARDED layout:
    * every root-sidecar slice entry (plus its per-file entries) moves into
    * a [[DatasetSidecar.SliceShardFile]] shard inside its leaf
    * directory, then the root sidecar is rewritten with `statsSharded` and
    * no inline entries. Run this when a dataset's slice count has grown
    * past what one sidecar parse should cost — planning afterwards loads
    * only the shards of slices a query actually touches.
    *
    * Crash discipline: shards are installed FIRST (ignored while the root
    * still says inline — inert), the root flip is the single atomic
    * commit point (stage-and-rename), and entries for unlisted slices
    * (dropPartitions leftovers) are dropped, matching the reader's
    * listing-is-authority rule. Returns the number of shards written. */
  def shardDatasetStats(spark: SparkSession, path: String): Long = {
    require(graft.sources.StarTableSource.readDatasetMeta(Seq(path)).isDefined,
      s"shardDatasetStats: $path has no " +
        s"${DatasetSidecar.DatasetMetaFile} sidecar — not a StarTable " +
        "dataset")
    graft.io.DatasetLock.withLockHandle(path, "shard-stats",
      spark.sparkContext.hadoopConfiguration,
      graft.io.DatasetLock.awaitMsFromConf(spark),
      graft.io.DatasetLock.ttlMsFromConf(spark)) { h =>
      shardDatasetStatsLocked(spark, path, Some(h.info.token))
    }
  }

  private def shardDatasetStatsLocked(spark: SparkSession, path: String,
                                      lockToken: Option[String]): Long = {
    val meta = graft.sources.StarTableSource.readDatasetMeta(Seq(path))
      .getOrElse(throw new IllegalArgumentException(
        s"shardDatasetStats: $path has no " +
          s"${DatasetSidecar.DatasetMetaFile} sidecar — not a StarTable " +
          "dataset"))
    require(!meta.statsSharded,
      s"shardDatasetStats: dataset at $path is already sharded")
    val conf = spark.sessionState.newHadoopConf()
    val listing = graft.sources.StarTableSource.listPartitionedFiles(
      Seq(path), meta.partCols, conf)
    val leafByRaw: Map[Seq[String], String] = listing
      .groupBy(_._3).map { case (raw, fsOf) =>
        (raw: Seq[String]) ->
          new Path(fsOf.head._1).getParent.toString
      }
    val filesByRaw: Map[Seq[String], Seq[FileStats]] =
      meta.fileStats.groupBy(s => s.partition: Seq[String])
    val targets = meta.sliceStats.flatMap(s =>
      leafByRaw.get(s.partition).map(dir => (dir, s)))
    val fs = new Path(path).getFileSystem(conf)
    parMapLeaves(targets, maintenanceParallelism(spark)) { case (dir, s) =>
      graft.io.CsvWriter.atomicInstallJson(fs, conf,
        new Path(dir, DatasetSidecar.SliceShardFile),
        DatasetSidecar.encodeShard(SliceShard(s,
          filesByRaw.getOrElse(s.partition, Nil))))
    }
    // leaves this migration writes NO shard for (no inline entry — e.g. a
    // stats-less backfill) must not keep a LEFTOVER shard from an earlier
    // sharded life of the tree: the root flip below would re-activate it
    // with bounds that describe bytes long gone. Delete before the flip —
    // every pre-flip crash state stays inline-rooted and inert.
    val written = targets.map(_._1).toSet
    parMapLeaves(leafByRaw.values.filterNot(written).toSeq,
        maintenanceParallelism(spark)) { dir =>
      val sp = new Path(dir, DatasetSidecar.SliceShardFile)
      if (fs.exists(sp)) fs.delete(sp, false)
    }
    graft.io.CsvWriter.installSidecar(path,
      meta.copy(sliceStats = Nil, fileStats = Nil, statsSharded = true),
      expectCommit = Some(meta.commit), lockToken = lockToken)
    graft.sources.StarTableSource.invalidateShardCache(path)
    targets.size.toLong
  }

  final case class VacuumReport(restoredLeaves: Long, removedDirs: Long,
                                removedBytes: Long, removedTmpFiles: Long)

  /** Clean the crash leftovers of the staging-and-swap protocols (hidden
    * `.<leaf>__old` / `__compacting` / `__clustering` /
    * `__overwriting` siblings and stale
    * `.*.tmp` sidecar files) from a dataset or partitioned-table tree.
    * Leftovers are INERT (every listing skips dot-names), so vacuuming is
    * about storage, not correctness — with one crucial exception this
    * method repairs rather than deletes: a crash BETWEEN swapLeaf's two
    * renames leaves the trash sibling holding the ONLY copy of a leaf
    * (live dir absent). Such a trash dir is RESTORED (renamed back), never
    * deleted; staging siblings are always deletable (data never moves out
    * of a leaf except through the trash rename). Ordering per leaf:
    * restore-if-orphaned first, then delete what remains. The FLAT
    * (non-partitioned) layout's swap stages its siblings beside the ROOT
    * itself — handled before the inner walk, including restoring an
    * orphaned root. Tmp FILES are deleted only when older than
    * `tmpMinAgeMs` (default 1 h): a younger `.tmp` may be a CONCURRENT
    * writer's in-flight stage-and-rename, whose commit rename would fail.
    * Do not run while a compact/cluster/backfill job is in flight on the
    * same tree. */
  def vacuumStarDataset(spark: SparkSession, path: String,
                        tmpMinAgeMs: Long = 3600000L): VacuumReport = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val Suffixes = Seq("__old", "__compacting", "__clustering", "__overwriting")
    var restored = 0L; var removedDirs = 0L; var removedBytes = 0L
    var removedTmp = 0L
    val now = System.currentTimeMillis()

    // Pre-lease work is ONLY the orphaned-root restore: a missing root
    // cannot hold a lock file, and the orphan state is by construction a
    // crashed (therefore lease-less) writer's. Every DELETION — including
    // the root-level staging/trash siblings — waits for the lease below:
    // a live flat-layout compaction's fully-staged `.root__compacting`
    // deleted pre-lease would strand its swap with no staging to install
    // (the exact silent-damage race the lease exists to refuse).
    {
      val trashRoot = new Path(root.getParent, "." + root.getName + "__old")
      if (!fs.exists(root) && fs.exists(trashRoot)) {
        // a LIVE full overwrite passes through this exact transient state
        // mid-swap (root renamed to trash, staging about to be installed):
        // restoring the trash now would make the overwriter's commit
        // rename fail confusingly. A FRESH `.<root>__overwriting` staging
        // sibling marks that window — refuse loudly and let the overwrite
        // finish (a CRASHED overwrite's staging ages past tmpMinAgeMs,
        // after which the restore proceeds).
        val staging = new Path(root.getParent,
          "." + root.getName + "__overwriting")
        val stagingFresh =
          try fs.exists(staging) &&
            now - fs.getFileStatus(staging).getModificationTime < tmpMinAgeMs
          catch { case _: java.io.FileNotFoundException => false }
        if (stagingFresh) throw new graft.io.ConcurrentWriteException(
          s"vacuumStarDataset: $path is mid-swap of a full overwrite " +
            s"(fresh staging sibling $staging beside the trash) — a " +
            "concurrent writer is committing; retry after it finishes " +
            s"(or after the staging is older than ${tmpMinAgeMs / 1000} s " +
            "if it crashed)")
        if (!fs.rename(trashRoot, root))
          throw new java.io.IOException(
            s"vacuumStarDataset: could not restore $root from $trashRoot")
        restored += 1
      }
    }
    require(fs.exists(root),
      s"vacuumStarDataset: $path does not exist (and no restorable " +
        s".${root.getName}__old sibling was found)")

    // Writer lease for every deletion: vacuum racing a live compaction/
    // clustering would delete the staging directory the sibling is about
    // to install (the doc's "do not run while a job is in flight" now
    // REFUSES mechanically instead of relying on the operator).
    graft.io.DatasetLock.withLock(path, "vacuum",
      spark.sparkContext.hadoopConfiguration,
      graft.io.DatasetLock.awaitMsFromConf(spark),
      graft.io.DatasetLock.ttlMsFromConf(spark)) {

    // flat-layout swap leftovers beside the ROOT itself (outside the walk
    // below); the root exists here, so any remaining trash sibling is a
    // completed swap's leftover — deletable
    Suffixes.foreach { suffix =>
      val sib = new Path(root.getParent, "." + root.getName + suffix)
      if (fs.exists(sib)) {
        removedBytes +=
          (try fs.getContentSummary(sib).getLength
           catch { case _: java.io.IOException => 0L })
        fs.delete(sib, true)
        removedDirs += 1
      }
    }

    def sizeOf(p: Path): Long =
      try fs.getContentSummary(p).getLength catch { case _: java.io.IOException => 0L }

    def visit(dir: Path): Unit = {
      val entries = try fs.listStatus(dir).toSeq
      catch { case _: java.io.FileNotFoundException => return }
      entries.foreach { st =>
        val n = st.getPath.getName
        if (st.isDirectory && n.startsWith(".__stream_")) {
          // a coexisting stream's batch staging that never finished its
          // install — the replay after restart re-stages from scratch,
          // and the exclusive vacuum lease guarantees no stream is live
          removedBytes += sizeOf(st.getPath)
          fs.delete(st.getPath, true)
          removedDirs += 1
        } else if (st.isFile &&
            n.startsWith(DatasetSidecar.PendingMergePrefix)) {
          // a staged sidecar-merge intent whose holder died before any
          // drain ran — under the exclusive vacuum lease every shared
          // lease is gone, so all pendings are orphans (drains would
          // drop them unapplied anyway; see DatasetLock.liveSharedTokens)
          fs.delete(st.getPath, false)
          removedTmp += 1
        } else if (st.isDirectory && n.startsWith(".") &&
            Suffixes.exists(n.endsWith)) {
          val suffix = Suffixes.find(n.endsWith).get
          val live = new Path(dir, n.stripPrefix(".").stripSuffix(suffix))
          if (suffix == "__old" && !fs.exists(live)) {
            // the trash holds the only copy: the crash hit between the two
            // renames — restore, don't delete
            if (!fs.rename(st.getPath, live))
              throw new java.io.IOException(
                s"vacuumStarDataset: could not restore $live from ${st.getPath}")
            restored += 1
          } else {
            removedBytes += sizeOf(st.getPath)
            fs.delete(st.getPath, true)
            removedDirs += 1
          }
        } else if (st.isFile && n.startsWith(".") && n.endsWith(".tmp") &&
                   now - st.getModificationTime >= tmpMinAgeMs) {
          // age-gated: a YOUNG .tmp may be a concurrent writer's in-flight
          // stage-and-rename — deleting it would fail that writer mid-commit
          fs.delete(st.getPath, false)
          removedTmp += 1
        } else if (st.isDirectory && !n.startsWith(".") && !n.startsWith("_")) {
          visit(st.getPath)
        }
      }
    }
    visit(root)
    VacuumReport(restored, removedDirs, removedBytes, removedTmp)
    }
  }

  /** Forcibly clear a dataset's writer lease — operator intervention after
    * a CRASHED writer (a process kill leaves `_startable_lock.json`
    * behind; exceptions release it). Returns true when a lock was removed.
    * Never call while the holder might still be alive: the lease is the
    * only thing stopping two writers from interleaving. */
  def breakDatasetLock(spark: SparkSession, path: String): Boolean =
    graft.io.DatasetLock.breakLock(path,
      spark.sparkContext.hadoopConfiguration)

  /** Write `df` hive-partitioned by `partitionCols` with DYNAMIC overwrite:
    * only the partitions present in `df` are replaced; all others survive
    * untouched. The incremental-backfill write shape — re-running one
    * day/source never clobbers its siblings (static overwrite mode, the
    * Spark default, would drop the whole table first). */
  def writePartitioned(df: DataFrame, path: String,
                       partitionCols: Seq[String]): Unit = {
    require(partitionCols.nonEmpty, "writePartitioned: no partition columns")
    // per-write option, not a session-conf flip: concurrent writers
    // restoring a session global race each other (a restore mid-sibling
    // flips the sibling's overwrite to STATIC — a silent full wipe)
    df.write.option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*).mode("overwrite").parquet(path)
  }

  /** Drop whole partition directories by value — retention/TTL deletes
    * and right-to-be-forgotten sweeps at METADATA cost: no file is read
    * or rewritten, matching directories are removed. Returns the number
    * of partitions dropped. Values are rendered exactly as the writer
    * escapes them (Hive partition-path encoding). */
  def dropPartitions(spark: SparkSession, path: String, partitionCol: String,
                     values: Seq[String]): Long = {
    require(values.nonEmpty, "dropPartitions: no values")
    def drop(): Long = {
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val escaped = values.map(v =>
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .escapePathName(v))
      var dropped = 0L
      escaped.foreach { v =>
        val dir = new Path(p, s"$partitionCol=$v")
        if (fs.exists(dir)) { fs.delete(dir, true); dropped += 1 }
      }
      dropped
    }
    // Writer lease on EVERY tree (round 13 extends it beyond StarTable
    // datasets): a retention sweep deleting a leaf a live compaction is
    // mid-swap on would strand its staging as the only copy — the race is
    // layout-independent, and the advisory `_`-named lock file needs no
    // sidecar.
    graft.io.DatasetLock.withLock(path, "drop-partitions",
      spark.sparkContext.hadoopConfiguration,
      graft.io.DatasetLock.awaitMsFromConf(spark),
      graft.io.DatasetLock.ttlMsFromConf(spark))(drop())
  }
}
