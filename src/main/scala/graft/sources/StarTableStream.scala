package graft.sources

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** Streaming READ of a hive-partitioned StarTable dataset — the source
  * leg completing [[graft.io.CsvWriter.streamPartitionedDataset]]'s sink
  * leg: `spark.readStream.format("startable").load(dir)` discovers files
  * as they appear and emits each exactly once across restarts.
  *
  * Discovery: when the directory carries a `_spark_metadata` sink
  * manifest (it was written by Spark's streaming file sink), ONLY
  * manifest-committed files are discovered — the sink writes part files
  * IN PLACE at their final path, so a raw listing could freeze a
  * mid-write file at partial length (permanent silent row loss) or admit
  * an orphan from a failed task (duplicates). This is exactly the
  * contract of Spark's own FileStreamSource over sink output; files a
  * BATCH writer adds beside the manifest are invisible to streaming
  * readers, as with the built-in source. Without a manifest (the
  * batch-written layout, whose files become visible by atomic rename),
  * discovery is the recursive listing.
  *
  * Progress is a monotone batch counter over a DURABLE per-batch file log
  * under the query checkpoint (`<ckpt>/graft-files/<batchId>`, staged and
  * renamed): each trigger diffs discovery against every file already
  * logged and logs the new ones as the next batch, so a restart replays
  * exactly the logged batches and never re-reads a file. A missing or
  * unreadable log entry fails LOUDLY (re-emitting would be silent
  * duplication). Spark applies query filters post-scan (DSv2 streaming
  * has no operator pushdown). `maxFilesPerTrigger` caps a micro-batch;
  * `Trigger.AvailableNow` snapshots the available set at start and drains
  * it in capped batches.
  *
  * Log compaction (the FileStreamSource discipline): every
  * `logCompactInterval` batches (default 10) the per-batch deltas are
  * folded into one `<batch>.compact` snapshot whose entries keep their
  * original batch id, and covered deltas + older compacts are deleted.
  * Restart recovery reads ONE compact plus the delta tail — O(interval)
  * log files no matter how many batches the query has lived — where the
  * round-9 layout re-read every per-batch file ever written. A gap in the
  * tail still fails loudly (re-emitting logged files would be silent
  * duplication).
  *
  * `maxFileAgeMs` (reader option, off by default) bounds the fundamental
  * seen-files set the way Spark's FileStreamSource does: files age
  * relative to the NEWEST admitted file's modification time, a discovered
  * file older than `newest - maxFileAgeMs` is treated as already seen
  * (never ingested), and seen entries below that threshold are purged —
  * a years-lived stream over a high-churn dataset then holds only one
  * age-window of paths in memory instead of every path ever. Exactly-once
  * is unaffected for files inside the window; files arriving OLDER than
  * the window are skipped by design (same contract and caveat as Spark's
  * `maxFileAge`). The durable log still records every ingested file.
  *
  * Dataset MUTATION under a live reader is forbidden — not just
  * `compactStarDataset`: `writePartitionedDataset(overwriteSlices = true)`
  * on an already-logged slice and `clusterStarDataset` carry the same
  * hazard (a logged-but-unread file vanishes → task failure; its
  * replacement files rediscover as brand-new rows → duplicates). A logged
  * file that has vanished at read time names this likely cause in the
  * task error. Stream into NEW slices (or stop the reader, maintain,
  * restart) instead. */
private[sources] class StarTableMicroBatchStream(
    roots: Seq[String], meta: graft.io.DatasetSidecar.DatasetMeta,
    checkpointLocation: String,
    sep: String, failFast: Boolean,
    fullSchema: StructType, required: StructType,
    pushed: Array[Filter], maxSplitBytes: Long,
    maxFilesPerTrigger: Option[Int],
    confS: org.apache.spark.util.SerializableConfiguration,
    logCompactInterval: Int = 10,
    maxFileAgeMs: Option[Long] = None)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  private case class BatchOffset(batch: Long) extends Offset {
    override def json(): String = batch.toString
  }

  private val logDir = new org.apache.hadoop.fs.Path(checkpointLocation, "graft-files")
  private def fs = logDir.getFileSystem(confS.value)

  // ------------------------------------------------------------- file log
  /** One logged file: path, length, raw partition values, modification
    * time (ms; 0 for pre-round-11 log entries, which therefore age out
    * immediately once `maxFileAge` is enabled — safe: an aged-out path
    * rediscovered on disk still carries its old mtime and is skipped by
    * the age check, never re-emitted). */
  private type Entry = (String, Long, Seq[String], Long)

  /** Per-batch entries for batches at or above the last COMMITTED offset:
    * planInputPartitions only ever replans ranges above the engine's last
    * commit, so [[commit]] evicts older entries — the map stays bounded by
    * the uncommitted tail, not the stream's age. (Compaction folds re-read
    * evicted batches from the previous compact + on-disk deltas.)
    * `seenPaths` still holds every discovered path — the discovery-dedup
    * floor any file source fundamentally carries. */
  private val perBatch = scala.collection.mutable.LongMap.empty[Vector[Entry]]

  /** Batch id of the newest committed compact snapshot (0 = none). */
  private var compactBase = 0L

  private def entryJson(e: Entry, batch: Option[Long]): graft.io.JsonValue.JsonObject = {
    import graft.io.JsonValue._
    JsonObject(scala.collection.immutable.ListMap(
      "path" -> JsonString(e._1), "len" -> JsonNumber(e._2.toDouble),
      "part" -> JsonArray(e._3.toVector.map(v =>
        if (v == null) JsonNull else JsonString(v))),
      "ts" -> JsonNumber(e._4.toDouble)) ++
      batch.map(b => "batch" -> (JsonNumber(b.toDouble): graft.io.JsonValue)))
  }

  private def parseEntry(v: graft.io.JsonValue): (Entry, Option[Long]) = {
    import graft.io.JsonValue._
    val o = v.asInstanceOf[JsonObject]
    ((o.fields("path").asInstanceOf[JsonString].value,
      o.fields("len").asInstanceOf[JsonNumber].value.toLong,
      o.fields("part").asInstanceOf[JsonArray].values.map {
        case JsonString(s) => s
        case _             => null
      },
      // optional: a pre-round-11 log has no ts (see the Entry scaladoc)
      o.fields.get("ts").collect { case JsonNumber(t) => t.toLong }
        .getOrElse(0L)),
      o.fields.get("batch").collect { case JsonNumber(b) => b.toLong })
  }

  private def commitFile(name: String, body: String): Unit = {
    fs.mkdirs(logDir)
    val tmp = new org.apache.hadoop.fs.Path(logDir, s".$name.tmp")
    val os = fs.create(tmp, true)
    try os.write(body.getBytes("UTF-8")) finally os.close()
    val dst = new org.apache.hadoop.fs.Path(logDir, name)
    if (!fs.rename(tmp, dst) && !fs.exists(dst))
      throw new java.io.IOException(s"startable stream: could not commit $dst")
  }

  private def writeLog(batch: Long, entries: Seq[Entry]): Unit = {
    import graft.io.JsonValue._
    commitFile(batch.toString,
      graft.io.JsonValue.write(JsonArray(entries.toVector.map(entryJson(_, None)))))
    perBatch(batch) = entries.toVector
    if (logCompactInterval > 0 && batch % logCompactInterval == 0)
      compactLog(batch)
  }

  /** Memo of the newest parsed compact, keyed by its base batch id and held
    * softly: a post-restart replan spanning several folded batches would
    * otherwise re-open and re-parse the WHOLE compact once per batch —
    * O(interval) full-compact reads that grow with logCompactInterval on
    * object stores. A SoftReference keeps the bounded-memory contract
    * honest (the compact holds every entry ever logged): the GC reclaims
    * it under pressure and the next hit re-reads from disk. */
  private var compactMemo
      : (Long, java.lang.ref.SoftReference[Seq[(Long, Vector[Entry])]]) = null

  private def compactGrouped(base: Long): Seq[(Long, Vector[Entry])] = {
    val hit =
      if (compactMemo != null && compactMemo._1 == base) compactMemo._2.get()
      else null
    if (hit != null) hit
    else {
      val parsed = readCompactGrouped(base)
      compactMemo = (base, new java.lang.ref.SoftReference(parsed))
      parsed
    }
  }

  /** Entries of an on-disk compact snapshot, grouped by their batch id. */
  private def readCompactGrouped(base: Long): Seq[(Long, Vector[Entry])] = {
    import graft.io.JsonValue._
    val p = new org.apache.hadoop.fs.Path(logDir, s"$base.compact")
    val in = fs.open(p)
    val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    graft.io.JsonValue.parse(txt).asInstanceOf[JsonArray].values
      .map(parseEntry).map { case (e, b) =>
        (b.getOrElse(throw new IllegalStateException(
          s"startable stream: compact entry without batch id in $p")), e)
      }.groupBy(_._1).view.mapValues(_.map(_._2).toVector)
      .toSeq.sortBy(_._1)
  }

  /** Fold every batch ≤ `upTo` into `<upTo>.compact` (entries keep their
    * batch id so any offset range replans exactly), then delete the covered
    * deltas and older compacts — best-effort: a crash between commit and
    * cleanup only leaves extra files, which recovery ignores in favor of
    * the newest compact. Sources batches ≤ the previous compact from THAT
    * compact on disk (they may be evicted from memory), the tail from
    * perBatch/deltas. */
  private def compactLog(upTo: Long): Unit = {
    import graft.io.JsonValue._
    val folded = (if (compactBase > 0) compactGrouped(compactBase) else Nil) ++
      ((compactBase + 1) to upTo).map(b => b -> readLog(b, cache = false).toVector)
    commitFile(s"$upTo.compact", graft.io.JsonValue.write(JsonArray(
      folded.flatMap { case (b, es) => es.map(entryJson(_, Some(b))) }.toVector)))
    compactBase = upTo
    // the fold IS the new compact's grouped content — seed the memo
    compactMemo = (upTo, new java.lang.ref.SoftReference(folded))
    val stale = try {
      fs.listStatus(logDir).toSeq.map(_.getPath.getName).filter { n =>
        (n.forall(_.isDigit) && n.toLong <= upTo) ||
          (n.endsWith(".compact") && n.stripSuffix(".compact").forall(_.isDigit) &&
            n.stripSuffix(".compact").toLong < upTo)
      }
    } catch { case _: java.io.IOException => Nil }
    stale.foreach(n =>
      try fs.delete(new org.apache.hadoop.fs.Path(logDir, n), false)
      catch { case _: java.io.IOException => () })
  }

  /** Entries of one batch: memory, then the on-disk delta, then (for a
    * batch already folded away) the compact snapshot. `cache = false`
    * keeps bulk readers (the compaction fold) from re-growing the map
    * with committed batches that nothing will replan. */
  private def readLog(batch: Long, cache: Boolean = true): Seq[Entry] =
    perBatch.getOrElse(batch, {
      import graft.io.JsonValue._
      val p = new org.apache.hadoop.fs.Path(logDir, batch.toString)
      val es: Vector[Entry] =
        try {
          val in = fs.open(p)
          val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
          graft.io.JsonValue.parse(txt).asInstanceOf[JsonArray]
            .values.map(parseEntry(_)._1).toVector
        } catch {
          case e: java.io.IOException =>
            // the delta may have been folded into a compact (post-restart
            // replay of an old batch); only a batch in NEITHER place means
            // a damaged checkpoint: re-emitting its files would be SILENT
            // duplication — refuse
            if (batch <= compactBase)
              compactGrouped(compactBase).collectFirst {
                case (b, bs) if b == batch => bs
              }.getOrElse(
                // every logged batch holds >= 1 entry (writeLog fires only
                // when fresh.nonEmpty), so a folded batch ABSENT from the
                // compact can only be a damaged/truncated compact — emitting
                // zero rows for it would be SILENT data loss on replay
                throw new IllegalStateException(
                  s"startable stream: batch $batch is missing from compact " +
                    s"snapshot $compactBase.compact — the checkpoint is " +
                    "damaged; restore it or start a fresh checkpoint", e))
            else throw new IllegalStateException(
              s"startable stream: missing/unreadable file-log entry $p — " +
                "the checkpoint is damaged; restore it or start a fresh " +
                "checkpoint", e)
        }
      if (cache) perBatch(batch) = es
      es
    })

  /** Recover (lastBatch, seen paths) from an existing log — restart path.
    * Reads the newest `.compact` snapshot plus the delta tail above it:
    * O(logCompactInterval) files regardless of stream age. Every delta in
    * (compactBatch, lastBatch] must be readable (gaps fail loudly in
    * [[readLog]]); only a wholly absent log dir means a fresh query. */
  private def recover(): (Long, scala.collection.mutable.HashMap[String, Long]) = {
    import graft.io.JsonValue._
    val seen = scala.collection.mutable.HashMap.empty[String, Long]
    val names: Seq[String] =
      try fs.listStatus(logDir).toSeq.map(_.getPath.getName)
        .filter(!_.startsWith("."))
      catch { case _: java.io.FileNotFoundException => Nil }
    val compactIds = names.filter(_.endsWith(".compact"))
      .map(_.stripSuffix(".compact")).filter(_.forall(_.isDigit)).map(_.toLong)
    val deltaIds = names.filter(n => n.forall(_.isDigit) && n.nonEmpty).map(_.toLong)
    compactBase = compactIds.maxOption.getOrElse(0L)
    val last = (compactIds ++ deltaIds).maxOption.getOrElse(0L)
    // seen-paths come from the full history, but perBatch retains ONLY the
    // delta tail: batches in the compact are committed (compaction runs at
    // write time, deltas are deleted only once folded), so nothing replans
    // them from memory — readLog falls back to the compact on disk if the
    // engine ever does. An idle restarted stream thus holds O(interval)
    // batch entries, not O(stream age) (the round-10 bounded-memory claim,
    // which the first cut broke by materializing the whole compact here).
    if (compactBase > 0)
      compactGrouped(compactBase)
        .foreach { case (_, es) => es.foreach(e => seen(e._1) = e._4) }
    ((compactBase + 1) to last).foreach(b =>
      readLog(b).foreach(e => seen(e._1) = e._4))
    (last, seen)
  }

  private var (lastBatch, seenPaths) = recover()

  /** Newest file modification time ever admitted — the `maxFileAge` aging
    * reference (files age relative to the NEWEST data, not the wall clock,
    * exactly Spark's FileStreamSource discipline). */
  private var latestFileTs: Long =
    if (seenPaths.isEmpty) 0L else seenPaths.values.max

  /** Oldest admissible modification time: a discovered file strictly below
    * it is treated as seen (skipped) whether or not it is in the map — the
    * invariant that makes purging the map SAFE (a purged path rediscovered
    * on disk still carries its old mtime and lands below the threshold, so
    * it is never re-emitted). Long.MinValue (admit everything, purge
    * nothing) when `maxFileAge` is off. */
  private def ageThreshold: Long =
    maxFileAgeMs.map(latestFileTs - _).getOrElse(Long.MinValue)

  /** Drop seen entries older than the age threshold; the seen map then
    * stays bounded by the files that appeared within one `maxFileAge`
    * window instead of growing with every file the stream ever saw. */
  private def purgeSeen(): Unit =
    maxFileAgeMs.foreach { _ =>
      val th = ageThreshold
      seenPaths.filterInPlace((_, ts) => ts >= th)
    }
  purgeSeen() // a restart re-bounds immediately, not at the first trigger

  // ----------------------------------------------------------- discovery
  /** Current file inventory: manifest-committed files when the directory
    * is streaming-sink output, else the recursive listing. */
  private def discover(): Seq[Entry] =
    StarTableStreamUtil.sinkManifestFiles(roots.head, confS.value) match {
      case Some(files) =>
        files.map { case (p, len, ts) =>
          (p, len, StarTableStreamUtil.partitionValuesFromPath(
            p, meta.partCols, roots.head), ts)
        }
      case None =>
        StarTableSource.listPartitionedFilesWithTimes(
          roots, meta.partCols, confS.value)
    }

  /** Files discovered but not yet logged; under `maxFileAge`, a file older
    * than the threshold is treated as seen (never ingested) — the contract
    * that keeps the purged seen map sound. */
  private def freshFiles(): Seq[Entry] = {
    val th = ageThreshold
    discover().filter(f => !seenPaths.contains(f._1) && f._4 >= th)
  }

  // Trigger.AvailableNow: the available set is SNAPSHOTTED at run start
  // and drained in capped batches; files appearing later wait for the
  // next run (the process-everything-then-stop contract).
  private var availableNowQueue: scala.collection.mutable.Queue[Entry] = null
  override def prepareForTriggerAvailableNow(): Unit = {
    availableNowQueue = scala.collection.mutable.Queue(freshFiles(): _*)
  }

  // --------------------------------------------------------- offset calls
  override def initialOffset(): Offset = BatchOffset(0L)

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(n => ReadLimit.maxFiles(n))
      .getOrElse(ReadLimit.allAvailable())

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead of this")

  override def reportLatestOffset(): Offset = BatchOffset(lastBatch)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val cap: Int = limit match {
      case m: org.apache.spark.sql.connector.read.streaming.ReadMaxFiles =>
        m.maxFiles()
      case _ => Int.MaxValue
    }
    val fresh: Seq[Entry] =
      if (availableNowQueue != null) {
        val take = math.min(cap, availableNowQueue.size)
        (0 until take).map(_ => availableNowQueue.dequeue())
      } else freshFiles().take(cap)
    if (fresh.nonEmpty) {
      lastBatch += 1
      writeLog(lastBatch, fresh)
      fresh.foreach { f =>
        seenPaths(f._1) = f._4
        if (f._4 > latestFileTs) latestFileTs = f._4
      }
      purgeSeen()
    }
    BatchOffset(lastBatch)
  }

  override def deserializeOffset(json: String): Offset =
    BatchOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[BatchOffset].batch
    val e = end.asInstanceOf[BatchOffset].batch
    ((s + 1) to e).flatMap(b => readLog(b)).flatMap { case (path, len, raw, _) =>
      val spec = meta.partCols.lazyZip(meta.partUnits).lazyZip(raw)
        .map((c, u, r) => (c, u, r))
      val eff = math.max(maxSplitBytes, math.ceil(len.toDouble / 10000).toLong)
      val n = math.max(1, math.ceil(len.toDouble / eff).toInt)
      (0 until n).map(k => StarFileSplitPartition(path,
        k * eff, math.min((k + 1L) * eff, len), 0L,
        meta.cols, meta.units, spec): InputPartition)
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new StarTableReaderFactory(None, sep, failFast, fullSchema, required,
      pushed, limit = None, confS = confS)

  /** Test-only: current seen-map size (the maxFileAge bounded-memory
    * claim is asserted against it). */
  private[sources] def seenCountForTest: Int = seenPaths.size

  /** The log is the durable state; committed batches are never replanned,
    * so their in-memory entries evict here — the map stays sized to the
    * uncommitted tail for a months-lived stream. (A post-restart replay of
    * the last uncommitted batch reads the compact/delta from disk via
    * recover/readLog.) */
  override def commit(end: Offset): Unit = {
    val e = end.asInstanceOf[BatchOffset].batch
    perBatch.keys.filter(_ <= e).toList.foreach(perBatch.remove)
  }
  override def stop(): Unit = ()
}

private[graft] object StarTableStreamUtil {

  /** Committed (path, size, modificationTime) entries from a streaming
    * file sink's `_spark_metadata` manifest, or None when the directory
    * carries no manifest. Reads the latest `.compact` file plus every
    * later delta — the FileStreamSinkLog layout: a `v1` header line, then
    * one JSON `SinkFileStatus` per line; only `action = "add"` entries
    * count. SinkFileStatus carries the writer-recorded modificationTime
    * (0 if absent), so maxFileAge works without re-statting files. */
  def sinkManifestFiles(root: String,
                        conf: org.apache.hadoop.conf.Configuration)
      : Option[Seq[(String, Long, Long)]] = {
    val dir = new org.apache.hadoop.fs.Path(root, "_spark_metadata")
    val fs = dir.getFileSystem(conf)
    val entries = try {
      fs.listStatus(dir).toSeq.map(_.getPath.getName)
        .filter(n => !n.startsWith(".") && !n.endsWith(".crc"))
    } catch { case _: java.io.FileNotFoundException => return None }
    if (entries.isEmpty) return Some(Nil)
    def batchOf(n: String): Long = n.stripSuffix(".compact").toLong
    val compacts = entries.filter(_.endsWith(".compact"))
    val base: Option[String] =
      if (compacts.isEmpty) None else Some(compacts.maxBy(batchOf))
    val baseBatch = base.map(batchOf).getOrElse(-1L)
    val toRead = base.toSeq ++
      entries.filterNot(_.endsWith(".compact"))
        .filter(n => n.forall(_.isDigit) && n.toLong > baseBatch)
        .sortBy(_.toLong)
    import graft.io.JsonValue._
    val files = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long)]
    toRead.foreach { name =>
      val in = fs.open(new org.apache.hadoop.fs.Path(dir, name))
      val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      txt.split('\n').iterator.map(_.trim).filter(_.startsWith("{")).foreach { line =>
        val o = graft.io.JsonValue.parse(line).asInstanceOf[JsonObject]
        val p = o.fields("path").asInstanceOf[JsonString].value
        val size = o.fields.get("size")
          .collect { case JsonNumber(v) => v.toLong }.getOrElse(0L)
        val mtime = o.fields.get("modificationTime")
          .collect { case JsonNumber(v) => v.toLong }.getOrElse(0L)
        val action = o.fields.get("action")
          .collect { case JsonString(s) => s }.getOrElse("add")
        if (action == "add") files(p) = (size, mtime) else files.remove(p)
      }
    }
    // manifest paths are absolute URIs (file:/...); normalize to plain
    // paths consistent with the listing convention
    Some(files.toSeq.map { case (p, (s, t)) =>
      (new org.apache.hadoop.fs.Path(new java.net.URI(p)).toString, s, t)
    })
  }

  /** Raw partition values for `partCols`, parsed from a file path's
    * `col=value` segments below `root` (unescaped; default-partition
    * marker → null). Missing columns fail loudly — a silently null-padded
    * slice would corrupt joins (same contract as the listing).
    *
    * The climb stops at `root` itself, not merely at the first '='-less
    * ancestor: a dataset ROOTED under a directory whose own name contains
    * '=' (e.g. `/runs/run=5/dataset`... or the root being `.../run=5`)
    * must not contribute a bogus `run -> 5` pair that could shadow a
    * same-named partition column. */
  def partitionValuesFromPath(path: String,
                              partCols: Seq[String],
                              root: String = null): Seq[String] = {
    val rel = new org.apache.hadoop.fs.Path(path)
    // scheme-insensitive root comparison: manifest paths arrive as
    // qualified URIs (file:/x/y) while the root option is often a bare
    // path — compare the URI path component. A RELATIVE root spelling
    // can't equal the absolute ancestor paths, so it matches by component
    // suffix instead ("data/run=5" stops the climb at ".../data/run=5");
    // safe because the climb only ever visits '='-bearing ancestors, and
    // a spurious deeper suffix match would still sit above every real
    // partition segment of a file listed UNDER that root.
    val rootPath = Option(root)
      .map(r => new org.apache.hadoop.fs.Path(r).toUri.getPath)
    def isRoot(p: org.apache.hadoop.fs.Path): Boolean = rootPath.exists { r =>
      val pp = p.toUri.getPath
      pp == r || (!r.startsWith("/") && pp.endsWith("/" + r))
    }
    var spec = Map.empty[String, String]
    var p = rel.getParent
    // partition segments are exactly the `col=value` dirs under the root;
    // the climb stops at the root (or, rootless, the first '='-less dir)
    while (p != null && !isRoot(p) && p.getName.indexOf('=') > 0) {
      val n = p.getName
      val eq = n.indexOf('=')
      val k = StarTableSource.unescapePathName(n.substring(0, eq))
      val v0 = StarTableSource.unescapePathName(n.substring(eq + 1))
      spec += k -> (if (v0 == "__HIVE_DEFAULT_PARTITION__") null else v0)
      p = p.getParent
    }
    val missing = partCols.filterNot(spec.contains)
    require(missing.isEmpty,
      s"startable stream: file $path lacks partition value(s) for " +
        s"${missing.mkString(", ")} in its path")
    partCols.map(spec(_))
  }
}
