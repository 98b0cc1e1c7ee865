package graft.io

import java.io.Writer
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.DatasetSidecar.{ColStats, DatasetMeta, DatasetMetaFile,
  FileStats, MergeIntent, PendingMergePrefix, SliceShard, SliceShardFile,
  SliceStats}
import graft.model._
import graft.origin._
import graft.parse._

/** StarTable CSV reading (reference: pdtable/io/csv.py:21-117 read_csv).
  *
  * The block segmentation + metadata extraction runs driver-side (it is a
  * cheap, single-pass, early-abort scan — reference blocks.py:3-5); table
  * payloads materialize as DataFrames via createDataFrame, after which all
  * relational work is distributed. For single files larger than driver
  * memory, see [[CsvReader.readHugeTable]] which segments distributively.
  */
object CsvReader {
  val DefaultSep = ";"

  /** Lines → cell rows → block stream. Trailing empty cells are kept,
    * matching Python's str.split (reference: csv.py:114-115). */
  def parseLines(
      lines: Iterator[String],
      sep: String = DefaultSep,
      locationSheet: LocationSheet = NullLocationFile().makeLocationSheet(),
      filter: Option[Blocks.BlockFilter] = None,
      fixer: ParseFixer = new ParseFixer(),
      issueTracker: InputIssueTracker = new NullInputIssueTracker(),
      to: String = "pdtable"
  ): Iterator[(BlockType, Block)] = {
    // manual separator scan: String.split with a Pattern.quote'd separator
    // never takes Java's single-char fast path, so a regex Matcher would
    // run per LINE on the hottest ingest loop; ArraySeq keeps the block
    // parser's by-index cell access O(1)
    val cellRows: Iterator[Seq[Any]] = {
      val scanner = new graft.sources.CellScanner(sep)
      lines.map { l0 =>
        val l = l0.stripLineEnd
        scanner.scan(l)
        val arr = new Array[Any](scanner.cellCount)
        var i = 0
        while (i < arr.length) { arr(i) = scanner.cell(l, i); i += 1 }
        scala.collection.immutable.ArraySeq.unsafeWrapArray(arr)
      }
    }
    Blocks.parseBlocks(cellRows, locationSheet, Blocks.handlersFor(to), filter,
      fixer, issueTracker)
  }

  /** Read a StarTable CSV file as a block stream. `to` picks the table
    * parse target: "pdtable" (default), "jsondata", or "cellgrid"
    * (reference: csv.py:21-117 read_csv's `to`, blocks.py:346-360). */
  def read(
      path: Path,
      sep: String = DefaultSep,
      filter: Option[Blocks.BlockFilter] = None,
      fixer: ParseFixer = new ParseFixer(),
      issueTracker: InputIssueTracker = new NullInputIssueTracker(),
      loadItem: Option[LoadItem] = None,
      to: String = "pdtable"
  ): Iterator[(BlockType, Block)] = {
    val item = loadItem.getOrElse(LoadItem(path.toString, None))
    val sheet = FilesystemLocationFile(path, item).makeLocationSheet()
    val lines = Files.readAllLines(path).iterator()
    parseLines(new Iterator[String] {
      def hasNext = lines.hasNext; def next() = lines.next()
    }, sep, sheet, filter, fixer, issueTracker, to)
  }

  /** Read from an in-memory string (stream input analog,
    * reference: csv.py:96-109). */
  def readString(
      content: String,
      sep: String = DefaultSep,
      origin: String = "<stream>",
      filter: Option[Blocks.BlockFilter] = None,
      fixer: ParseFixer = new ParseFixer(),
      issueTracker: InputIssueTracker = new NullInputIssueTracker(),
      to: String = "pdtable"
  ): Iterator[(BlockType, Block)] =
    parseLines(content.linesIterator, sep,
      NullLocationFile(origin).makeLocationSheet(), filter, fixer, issueTracker, to)

  /** Read a file straight into a TableBundle, with optional bulk unit
    * normalization applied per table at read time
    * (reference: pdtable/utils.py:14-62 read_bundle_from_csv +
    * normalized_table_generator). `convertUnitsTo` maps a table name to its
    * unit targets (None = leave the table as-is). */
  def readBundle(spark: SparkSession, path: Path, sep: String = DefaultSep,
                 filter: Option[Blocks.BlockFilter] = None,
                 convertUnitsTo: String => Option[graft.model.UnitTargets] = _ => None,
                 converter: graft.units.UnitConverter = graft.units.Units.defaultConverter
                ): TableBundle = {
    val bundle = TableBundle.fromBlocks(spark, read(path, sep, filter))
    TableBundle.fromTables(bundle.tables.map { t =>
      convertUnitsTo(t.name) match {
        case Some(targets) => t.convertUnits(targets, converter)
        case None          => t
      }
    })
  }

  def readBundleFromString(spark: SparkSession, content: String,
                           sep: String = DefaultSep): TableBundle =
    TableBundle.fromBlocks(spark, readString(content, sep))

  /** Scale path for a single huge StarTable file (SURVEY §7.4): a distributed
    * `spark.read.text` scan finds block-marker line numbers, the driver keeps
    * only the tiny block index (name, header, line range), and each table's
    * data rows are parsed distributively with vectorized casts — the driver
    * never holds table payloads. Requires the table of interest to be
    * identified by name.
    */
  def readHugeTable(spark: SparkSession, path: String, tableName: String,
                    sep: String = DefaultSep): Option[StarTable] = {
    import spark.implicits._
    val quoted = java.util.regex.Pattern.quote(sep)
    // 1. Distributed marker scan: line number + first cell of marker lines.
    val lines = spark.read.textFile(path)
      .select(monotonically_increasing_id().as("lineno"), col("value"))
    val markers = lines
      .filter(col("value").startsWith("**") || trim(col("value")) === "")
      .collect() // tiny: one row per block boundary / blank line
      .map(r => (r.getLong(0), r.getString(1)))
    val starts = markers.filter(_._2.startsWith("**"))
    val startIdx = starts.indexWhere { case (_, v) =>
      val n = v.split(quoted, -1).head.drop(2)
      n == tableName || n == tableName + "*"
    }
    if (startIdx < 0) return None
    val (startLine, markerCell) = starts(startIdx)
    val blanksAfter = markers.filter { case (ln, v) => ln > startLine && v.trim.isEmpty }
    val endLine = blanksAfter.map(_._1).minOption.getOrElse(Long.MaxValue)

    // 2. Driver parses only the 4 header lines. NOTE: monotonically
    // increasing ids are monotonic with file order but NOT contiguous
    // (they jump at partition boundaries), so the header is "first 4
    // ordered lines after the marker", never startLine+k arithmetic.
    val headerRows = lines
      .filter(col("lineno") >= startLine && col("lineno") < endLine)
      .orderBy("lineno").limit(4).collect()
    val header = headerRows.map(_.getString(1))
    val headerEnd = headerRows.last.getLong(0)
    val transposed = markerCell.split(quoted, -1).head.endsWith("*")
    require(!transposed, "readHugeTable supports row-major tables")
    val destinations = header(1).split(quoted, -1).head.trim.split(" ").toSet
    val columnNames = Blocks.parseColumnNames(header(2).split(quoted, -1).toSeq)
    val units = header(3).split(quoted, -1).take(columnNames.size).map(_.trim).toSeq

    // 3. Distributed parse of the data rows: split + per-unit vectorized cast.
    val dataLines = lines.filter(col("lineno") > headerEnd && col("lineno") < endLine)
    val cellsCol = split(col("value"), quoted)
    val parsedCols = columnNames.zipWithIndex.map { case (cname, i) =>
      val cell = trim(cellsCol.getItem(i))
      val missing = cell === "-" || lower(cell) === "nan" || cell === ""
      val parsed = units(i) match {
        case "text"     => cellsCol.getItem(i)
        case "onoff"    =>
          when(lower(cell).isin("1", "true"), lit(true))
            .when(lower(cell).isin("0", "false"), lit(false))
        case "datetime" => when(missing, lit(null)).otherwise(to_timestamp(cell))
        case _          => when(missing, lit(null)).otherwise(cell.cast(DoubleType))
      }
      parsed.as(cname)
    }
    val df = dataLines.select(parsedCols: _*)
    val item = LoadItem(path, None)
    val origin = TableOrigin.leaf(
      FilesystemLocationFile(Paths.get(path), item).makeLocationSheet()
        .makeLocationBlock(startLine.toInt))
    val cm = columnNames.zip(units).map { case (n, u) => n -> ColumnMetadata(u) }
    Some(StarTable(df,
      TableMetadata(tableName, destinations, origin),
      scala.collection.immutable.ListMap(cm: _*)))
  }
}

/** StarTable CSV writing (reference: pdtable/io/csv.py:120-207 write_csv +
  * pdtable/io/_represent.py:8-54 value representation).
  */
object CsvWriter {
  val DefaultSep = ";"
  val DefaultNaRep = "-"

  private val tsNoFrac = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  /** Python-str()-compatible rendering of a timestamp: str(datetime) keeps
    * the full 6-digit microsecond fraction whenever it is nonzero, so a
    * written fractional timestamp re-parses losslessly. */
  def formatTimestamp(t: Timestamp): String = {
    val ldt = t.toLocalDateTime
    if (ldt.getNano == 0) ldt.format(tsNoFrac)
    else ldt.format(tsNoFrac) + f".${ldt.getNano / 1000}%06d"
  }

  private def isNa(v: Any): Boolean = v match {
    case null                 => true
    case d: Double if d.isNaN => true
    case f: Float if f.isNaN  => true
    case _                    => false
  }

  /** Represent one value per its unit (reference: _represent.py:8-54):
    * NaN-likes in non-text columns → naRep; onoff → 0/1; text → str with
    * first-column empty-string sealed as "-"; datetime → python-style str.
    */
  def represent(v: Any, unit: String, colIndex: Int, naRep: String): Any = {
    if (unit != "text" && isNa(v)) naRep
    else unit match {
      case "onoff" =>
        v match {
          case true | 1  => 1
          case false | 0 => 0
          case other     => other
        }
      case "text" =>
        val s = if (v == null) "" else v.toString
        if (s.isEmpty && colIndex == 0) "-" else s
      case "datetime" =>
        v match {
          case t: Timestamp => formatTimestamp(t)
          case other        => other
        }
      case _ => v
    }
  }

  private def stringify(v: Any, format: Option[ColumnFormat]): String = v match {
    case s: String => s
    case d: Double =>
      format.map(_.format(d)).getOrElse {
        if (d == d.floor && !d.isInfinite && math.abs(d) < 1e16) {
          if (d == 0.0 && 1.0 / d < 0) "-0.0" else s"${d.toLong}.0"
        } else d.toString
      }
    case other => format.map(_.format(other)).getOrElse(other.toString)
  }

  /** Render one table as a StarTable CSV string
    * (reference: csv.py:159-207 _table_to_csv). Collects to the driver:
    * exact format fidelity (transposed layout, sealing, format specifiers)
    * requires row-level control. For big tables use [[writeDistributed]].
    */
  def tableToCsvString(t: StarTable, sep: String = DefaultSep,
                       naRep: String = DefaultNaRep): String = {
    val units = t.units
    val formats = t.columnNames.map(c => t.colMeta(c).displayFormat)
    val rows = t.df.collect()
    val sb = new StringBuilder

    if (t.meta.transposed) {
      sb.append(s"**${t.name}*$sep\n")
      sb.append(t.destinations.mkString(" ")).append('\n')
      t.columnNames.zipWithIndex.foreach { case (cname, ci) =>
        val vals = rows.map { r =>
          stringify(represent(r.get(ci), units(ci), ci, naRep), formats(ci))
        }
        sb.append(cname).append(sep).append(units(ci)).append(sep)
          .append(vals.mkString(sep)).append('\n')
      }
      sb.append('\n')
    } else {
      sb.append(s"**${t.name}$sep\n")
      sb.append(t.destinations.mkString(" ")).append('\n')
      sb.append(t.columnNames.mkString(sep)).append('\n')
      sb.append(units.mkString(sep)).append('\n')
      rows.foreach { r =>
        val cells = t.columnNames.indices.map { ci =>
          stringify(represent(r.get(ci), units(ci), ci, naRep), formats(ci))
        }
        sb.append(cells.mkString(sep)).append('\n')
      }
      sb.append('\n')
    }
    sb.toString
  }

  /** Write tables to a file (reference: csv.py:120-157 write_csv). */
  def write(tables: Seq[StarTable], path: Path, sep: String = DefaultSep,
            naRep: String = DefaultNaRep): Unit = {
    val w = Files.newBufferedWriter(path)
    try writeTo(tables, w, sep, naRep)
    finally w.close()
  }

  def writeTo(tables: Seq[StarTable], w: Writer, sep: String = DefaultSep,
              naRep: String = DefaultNaRep): Unit =
    tables.foreach(t => w.write(tableToCsvString(t, sep, naRep)))

  /** Scale path: data rows are formatted by codegen'd Spark expressions and
    * written by the distributed text sink; only the 4-line header is written
    * driver-side. Output is a directory of part files whose concatenation
    * (header + parts) is a valid StarTable CSV.
    */
  def writeDistributed(t: StarTable, outDir: String, sep: String = DefaultSep,
                       naRep: String = DefaultNaRep): Unit = {
    val lines = rowLines(t, sep, naRep)
    lines.write.mode("overwrite").text(outDir)
    val header = s"**${t.name}$sep\n" + t.destinations.mkString(" ") + "\n" +
      t.columnNames.mkString(sep) + "\n" + t.units.mkString(sep) + "\n"
    Files.writeString(Paths.get(outDir, "_header.txt"), header)
  }

  private def distributedCells(t: StarTable, naRep: String): Seq[Column] =
    t.columnNames.zipWithIndex.map { case (c, ci) => renderCell(t, c, ci, naRep) }

  /** One column's codegen'd cell rendering; `ci == 0` applies the
    * first-column empty-string sealing. */
  private def renderCell(t: StarTable, c: String, ci: Int, naRep: String): Column = {
      val u = t.unit(c)
      u match {
        case "onoff" =>
          // A null onoff is MISSING, not false: keep null through the
          // true/false branches so the coalesce applies naRep.
          coalesce(
            when(col(c).isNull, lit(null).cast(StringType))
              .when(col(c), lit("1")).otherwise(lit("0")),
            lit(naRep))
        case "datetime" =>
          // Match CsvWriter.formatTimestamp: no fraction when zero, full
          // 6-digit microsecond fraction otherwise.
          coalesce(
            when(pmod(unix_micros(col(c)), lit(1000000L)) === 0,
              date_format(col(c), "yyyy-MM-dd HH:mm:ss"))
              .otherwise(date_format(col(c), "yyyy-MM-dd HH:mm:ss.SSSSSS")),
            lit(naRep))
        case "text" =>
          // Null text renders as "" (not naRep) like the driver-side writer;
          // the first column seals empty strings as "-".
          val s = coalesce(col(c).cast(StringType), lit(""))
          if (ci == 0) when(s === "", lit("-")).otherwise(s) else s
        case _ =>
          val base = t.colMeta(c).displayFormat match {
            case Some(f) => format_string(toJavaFormat(f.specifier), col(c))
            case None    =>
              // match Python float repr for integral doubles: "1.0" not
              // "1". The |x| < 1e16 guard mirrors the driver-side
              // stringify AND keeps the Long cast inside the short-circuit
              // — under ANSI, casting Infinity or >Long.MaxValue doubles
              // would otherwise throw CAST_OVERFLOW at write time
              when(abs(col(c)) < 1e16 &&
                col(c) === col(c).cast(LongType).cast(DoubleType),
                concat(col(c).cast(LongType).cast(StringType), lit(".0")))
                .otherwise(col(c).cast(StringType))
          }
          coalesce(base.cast(StringType), lit(naRep))
      }
  }

  /** Scale path #2 — a StarTable DATASET directory: every partition writes
    * one COMPLETE StarTable CSV (its own 4-line header + its rows), so the
    * output is a directory of self-describing files the `startable` DSv2
    * connector scans with one input partition per file — the parquet-style
    * parallel layout, written and read with zero driver-side data IO (the
    * header is 4 constant strings each task prepends). An empty partition
    * yields a valid header-only file (0 rows). `numFiles > 0` repartitions
    * first (one shuffle, when output file count must be controlled);
    * `numFiles = 0` keeps the upstream partitioning — narrow, no shuffle. */
  def writeDataset(t: StarTable, outDir: String, sep: String = DefaultSep,
                   naRep: String = DefaultNaRep, numFiles: Int = 0): Unit = {
    val spark = t.df.sparkSession
    import spark.implicits._
    val header = Seq(
      s"**${t.name}$sep", t.destinations.mkString(" "),
      t.columnNames.mkString(sep), t.units.mkString(sep))
    val rows = rowLines(t, sep, naRep)
    val parts = if (numFiles > 0) rows.repartition(numFiles) else rows
    parts.as[String]
      .mapPartitions(it => header.iterator ++ it)
      .write.mode("overwrite").text(outDir)
  }

  /** Scale path #3 — a HIVE-PARTITIONED StarTable dataset: rows land in
    * `col=value/part-*.txt` subdirectories via Spark's dynamic-partitioned
    * text sink (one distributed write, zero driver data IO), so the
    * `startable` connector can PRUNE whole directories from pushed filters
    * on the partition columns — the classic 100 TB scan optimization
    * (only the selected slices are ever opened, let alone parsed).
    *
    * Layout follows the parquet-dataset convention: data files are
    * header-less rows of the NON-partition columns (the partition value
    * lives in the path, exactly once), and the dataset is self-describing
    * at the DIRECTORY level through `_startable_dataset.json` (table name,
    * destinations, column names/units, partition columns/units) — written
    * LAST, after the sink's `_SUCCESS`, so its presence marks a complete
    * dataset (the `_params.json` crash-consistency discipline).
    *
    * `numFiles > 0` bounds the task count with a shuffle ON the partition
    * columns, so each task writes few distinct slices (Spark opens one
    * file per slice per task — an unshuffled skewed upstream would
    * otherwise fan out files quadratically).
    *
    * `overwriteSlices = true` is the INCREMENTAL-BACKFILL mode: only the
    * partition slices present in `t` are replaced (dynamic partition
    * overwrite); every other slice survives untouched — re-running one
    * day/source never clobbers its siblings, where the default static
    * overwrite drops the whole dataset first. Backfill requires an
    * EXISTING dataset whose sidecar schema matches `t` exactly (a drifted
    * backfill would silently fork the dataset's schema — refused).
    *
    * `collectFileStats` controls the per-FILE statistics read-back over
    * multi-file slices (see [[computeWrittenFileStats]] for the cost
    * shape). Default (None): collected only under a SHUFFLED write
    * (numFiles > 0), where multi-file slices exist only by explicit
    * salting and the read-back is bounded to those slices — under the
    * unshuffled default (numFiles = 0) every upstream task writes a file
    * per slice it holds, so the read-back would silently re-scan close to
    * the WHOLE just-written dataset on every ingest. `Some(true)` forces
    * the read-back regardless of write shape (an ingest whose upstream is
    * already range-ordered gets file-tier skipping straight from the
    * write); `Some(false)` always skips it. Slice-level statistics are
    * unaffected; file-tier skipping otherwise arrives with the next
    * clusterStarDataset pass.
    *
    * `filesPerSlice > 1` SALTS the `numFiles` shuffle within each slice:
    * plain repartition-on-partition-columns routes ALL of a slice's rows
    * to one task, so a 90%-one-slice skew serializes the write; a salt of
    * k spreads each slice over up to k tasks (k× write parallelism for
    * the hot slice) at the cost of at most k files per slice — bounded,
    * unlike an unshuffled write's task-count × slice-count fan-out.
    *
    * `shardStats` picks the statistics LAYOUT: `Some(false)`/default keeps
    * every slice's stats inline in the root sidecar (one parse serves the
    * whole dataset — right for datasets whose slice count a single JSON
    * comfortably holds); `Some(true)` writes one `_startable_slice.json`
    * SHARD inside each leaf directory instead — planning then loads only
    * the shards of slices that survive partition pruning (cost scales
    * with slices TOUCHED, not dataset size), shards are written
    * DISTRIBUTED (no driver collect — no cardinality cap), and dynamic
    * partition overwrite / dropPartitions delete a slice's stats with its
    * bytes, so the backfill crash window needs no stats-strip protocol at
    * all (a crash between data and shard writes leaves shardless slices:
    * read, never skipped). `None` (default) = inline, EXCEPT: a backfill
    * always follows the existing dataset's layout (a layout fork is
    * refused when forced), and a fresh write whose slice count exceeds
    * [[MaxStatSlices]] auto-upgrades to sharded instead of degrading to
    * no stats at all.
    *
    * `evolveSchema = true` (requires `overwriteSlices`) APPENDS data
    * columns to an existing dataset's schema: the incoming table must
    * carry the dataset's current data columns as a PREFIX (same names,
    * units, order — reorder with select) plus the new columns after them,
    * and identical partition columns. The sidecar's schema union is the
    * single commit point: data lands first (old readers parse the old
    * prefix of the longer rows and ignore the extra cells), then the root
    * flip publishes the union schema — from which point pre-evolution
    * slices' SHORT rows read null-padded on the new columns. The new
    * columns are recorded as `lateColumns`, so statistics pruning and
    * metadata aggregates keep working across the evolution (a slice entry
    * that predates the column provably means all-null — see
    * [[DatasetSidecar.DatasetMeta.lateCols]]). Stats for
    * the new columns start at this append. */
  def writePartitionedDataset(t: StarTable, outDir: String,
                              partitionBy: Seq[String],
                              sep: String = DefaultSep,
                              naRep: String = DefaultNaRep,
                              numFiles: Int = 0,
                              overwriteSlices: Boolean = false,
                              collectStats: Boolean = true,
                              filesPerSlice: Int = 1,
                              collectFileStats: Option[Boolean] = None,
                              shardStats: Option[Boolean] = None,
                              evolveSchema: Boolean = false): Unit = {
    require(!evolveSchema || overwriteSlices,
      "writePartitionedDataset: evolveSchema is a backfill mode — pass " +
        "overwriteSlices = true (a full overwrite needs no evolution: it " +
        "replaces the schema wholesale)")
    // Writer lease (round 12, slice-scoped since round 13): any write over
    // an EXISTING dataset takes a DatasetLock so it cannot interleave with
    // a concurrent compaction/clustering/vacuum/stream ingest (silent
    // lost-commit windows otherwise). A full overwrite or a schema
    // evolution is EXCLUSIVE (it touches the whole root / the schema); a
    // plain backfill takes a SHARED lease scoped to exactly the slices it
    // rewrites, so the daily parallel-ingest shape — independent
    // partitions landing concurrently — fans out instead of serializing
    // on one root lock (overlapping backfills still refuse each other).
    // A write to a fresh root has no sibling to race; it starts the lease
    // discipline with its first sidecar.
    val spark = t.df.sparkSession
    val awaitMs = DatasetLock.awaitMsFromConf(spark)
    val ttlMs = DatasetLock.ttlMsFromConf(spark)
    def impl(lock: Option[DatasetLock.Handle],
             parts: Option[Set[Seq[String]]]): Unit =
      writePartitionedDatasetImpl(t, outDir, partitionBy, sep, naRep,
        numFiles, overwriteSlices, collectStats, filesPerSlice,
        collectFileStats, shardStats, evolveSchema, lock, parts)
    if (graft.sources.StarTableSource.readDatasetMeta(Seq(outDir)).isEmpty)
      impl(None, None)
    else if (!overwriteSlices)
      DatasetLock.withLockHandle(outDir, "overwrite",
        awaitMs = awaitMs, ttlMs = ttlMs)(h => impl(Some(h), None))
    else {
      // PIN the backfill input for the protocol's lifetime: the slice set
      // is computed up front (for the lease), the stats aggregate and the
      // data write then RE-EXECUTE the plan — for a non-deterministic or
      // concurrently-changing source those executions could diverge, and
      // the dynamic overwrite would rewrite partitions the lease never
      // recorded (escaping mutual exclusion, leaving stale sidecar
      // entries describing replaced bytes). Caching makes the three
      // passes read ONE materialization (and saves two recomputes of an
      // expensive input); the residual is executor loss evicting cached
      // blocks mid-protocol, which recomputes — the strip-first sidecar
      // discipline keeps even that window conservative.
      val pin = t.df.storageLevel == org.apache.spark.storage.StorageLevel.NONE
      if (pin) t.df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        if (evolveSchema)
          DatasetLock.withLockHandle(outDir, "backfill-evolve",
            awaitMs = awaitMs, ttlMs = ttlMs)(h => impl(Some(h), None))
        else if (partitionBy.isEmpty || !partitionBy.forall(t.columnNames.contains))
          // malformed arguments: let the impl raise its precise requires
          // (they fire before any data or lock is touched)
          impl(None, None)
        else touchedSlices(t, partitionBy, naRep) match {
          case Some(parts) if parts.nonEmpty && parts.size <= MaxSharedLockSlices =>
            DatasetLock.withSharedLock(outDir, "backfill", parts,
              awaitMs = awaitMs, ttlMs = ttlMs)(h => impl(Some(h), Some(parts)))
          case Some(parts) if parts.nonEmpty =>
            // WIDE backfill (r13 stretch): the lease carries a Bloom
            // digest of the touched set — disjoint explicit siblings
            // (and the stream's slices) still coexist via refuse-on-
            // maybe membership tests; the write protocol itself keeps
            // the exact set
            DatasetLock.withSharedLock(outDir, "backfill", Set.empty,
              awaitMs = awaitMs, ttlMs = ttlMs,
              digest = Some(graft.io.DatasetLock.SliceDigest.build(parts)))(
              h => impl(Some(h), Some(parts)))
          case Some(_) => // empty input: nothing to rewrite, but the sidecar
            // protocol still runs (commit bump) — exclusive keeps it simple
            DatasetLock.withLockHandle(outDir, "backfill",
              awaitMs = awaitMs, ttlMs = ttlMs)(h => impl(Some(h), Some(Set.empty)))
          case None => // slice set too large to record in a lease — exclusive
            DatasetLock.withLockHandle(outDir, "backfill",
              awaitMs = awaitMs, ttlMs = ttlMs)(h => impl(Some(h), None))
        }
      } finally if (pin) t.df.unpersist(false)
    }
  }

  /** A shared backfill lease records the exact slice set it rewrites; a
    * lock file is a poor home for an unbounded list, so beyond this many
    * touched slices the lease records a Bloom DIGEST of the set instead
    * (refuse-on-maybe — see [[DatasetLock.SliceDigest]]), and beyond
    * [[MaxDigestLockSlices]] the backfill falls back to the exclusive
    * root lease outright. */
  private[graft] val MaxSharedLockSlices = 1000

  /** Digest-lease ceiling: the driver collects the distinct slice tuples
    * once for the lease + stat-strip protocol; 100k tuples is a few MB of
    * driver memory and covers any sane wide backfill (beyond it the write
    * is effectively a full rewrite — exclusive is the honest lease). */
  private[graft] val MaxDigestLockSlices = 100000

  /** The distinct rendered partition-path tuples of `t` — the slice set a
    * backfill rewrites, computed UP FRONT for the shared lease (and passed
    * down so the write protocol does not recompute it). None when the
    * count exceeds [[MaxSharedLockSlices]]. */
  private def touchedSlices(t: StarTable, partitionBy: Seq[String],
                            naRep: String): Option[Set[Seq[String]]] = {
    val keys = partitionPathCols(t, partitionBy, naRep,
      "writePartitionedDataset")
    val rows = t.df.select(keys: _*).distinct()
      .limit(MaxDigestLockSlices + 1).collect()
    if (rows.length > MaxDigestLockSlices) None
    else Some(rows.map(r => partitionBy.indices.map(i =>
      if (r.isNullAt(i)) null else r.getString(i)): Seq[String]).toSet)
  }

  private def writePartitionedDatasetImpl(t: StarTable, outDir: String,
                              partitionBy: Seq[String],
                              sep: String,
                              naRep: String,
                              numFiles: Int,
                              overwriteSlices: Boolean,
                              collectStats: Boolean,
                              filesPerSlice: Int,
                              collectFileStats: Option[Boolean],
                              shardStats: Option[Boolean],
                              evolveSchema: Boolean = false,
                              lock: Option[DatasetLock.Handle] = None,
                              precomputedParts: Option[Set[Seq[String]]] = None): Unit = {
    // a SHARED (slice-scoped) lease means siblings may be flipping the
    // root sidecar concurrently: every sidecar mutation below then goes
    // through the flip lock as a read-merge-install instead of the
    // exclusive path's strict observed-commit CAS
    val sharedLease = lock.exists(h =>
      h.info.slices.nonEmpty || h.info.digest.isDefined)
    val lockToken: Option[String] = lock.map(_.info.token)
    require(filesPerSlice >= 1,
      s"writePartitionedDataset: filesPerSlice must be >= 1, got $filesPerSlice")
    require(partitionBy.nonEmpty,
      "writePartitionedDataset: partitionBy must be non-empty (use writeDataset)")
    val missing = partitionBy.filterNot(t.columnNames.contains)
    require(missing.isEmpty,
      s"writePartitionedDataset: partition column(s) ${missing.mkString(", ")} " +
        s"not in table '${t.name}' (${t.columnNames.mkString(", ")})")
    validatePartitionNames("writePartitionedDataset", partitionBy)
    val dataCols = t.columnNames.filterNot(partitionBy.contains)
    require(dataCols.nonEmpty,
      "writePartitionedDataset: at least one non-partition column required")
    val existingMeta =
      if (overwriteSlices) {
        val existing = graft.sources.StarTableSource.readDatasetMeta(Seq(outDir))
          .getOrElse(throw new IllegalArgumentException(
            s"writePartitionedDataset: overwriteSlices requires an existing " +
              s"dataset at $outDir (no $DatasetMetaFile sidecar found)"))
        if (evolveSchema) {
          // evolution contract: current data columns as an exact PREFIX
          // (old files' short rows null-pad the appended tail on read —
          // any other shape would mis-align cells), ≥1 genuinely new
          // column, identical partitioning
          val n = existing.cols.size
          require(dataCols.size > n,
            s"writePartitionedDataset: evolveSchema with no new columns — " +
              s"dataset at $outDir already holds ${existing.cols.mkString(", ")}" +
              " (a retry of an already-committed evolution should rerun " +
              "as a plain backfill: evolveSchema = false)")
          require(dataCols.take(n) == existing.cols &&
              dataCols.take(n).map(t.unit) == existing.units,
            s"writePartitionedDataset: evolveSchema requires the existing " +
              s"data columns (${existing.cols.zip(existing.units).mkString(", ")}) " +
              s"as an exact prefix of the incoming ones " +
              s"(${dataCols.zip(dataCols.map(t.unit)).mkString(", ")}); " +
              "reorder with select")
          require(t.name == existing.name &&
              partitionBy == existing.partCols &&
              partitionBy.map(t.unit) == existing.partUnits,
            s"writePartitionedDataset: evolveSchema cannot change the " +
              s"table name or partitioning — dataset at $outDir holds " +
              s"(${existing.name}, ${existing.partCols.mkString(", ")})")
        } else {
          val incoming = (t.name, dataCols, dataCols.map(t.unit),
            partitionBy, partitionBy.map(t.unit))
          val current = (existing.name, existing.cols, existing.units,
            existing.partCols, existing.partUnits)
          require(incoming == current,
            s"writePartitionedDataset: backfill schema drift — dataset at " +
              s"$outDir holds $current, incoming table is $incoming" +
              (if (dataCols.size > existing.cols.size &&
                   dataCols.take(existing.cols.size) == existing.cols)
                 " (appending new columns requires evolveSchema = true)"
               else ""))
        }
        // a backfill with a different separator would mix two line formats
        // in one dataset — every old slice would misparse under the new
        // sidecar sep (or vice versa); refuse before touching anything
        require(sep == existing.sep,
          s"writePartitionedDataset: backfill separator drift — dataset at " +
            s"$outDir was written with sep '${existing.sep}', got '$sep'")
        Some(existing)
      } else None
    // Per-slice column min/max/null statistics — the parquet-footer analog
    // the connector consults to skip whole slices whose value range
    // contradicts a pushed NON-partition predicate. One extra distributed
    // aggregate over the input (map-side partial combine; the shuffled
    // volume is slices × columns partials, not data). Computed BEFORE the
    // data write so the backfill crash-window protocol below can strip the
    // rewritten slices' entries first.
    // Stats-layout resolution: a backfill FOLLOWS the existing dataset's
    // layout (mixing inline root entries with per-leaf shards would leave
    // two authorities for one slice's stats — refused when forced apart);
    // a fresh write honors shardStats, defaulting to inline.
    existingMeta.foreach { m =>
      require(shardStats.forall(_ == m.statsSharded),
        s"writePartitionedDataset: stats-layout drift — dataset at $outDir " +
          s"is ${if (m.statsSharded) "sharded" else "inline"}, " +
          s"shardStats=${shardStats.get} would fork it; omit shardStats " +
          "on backfills (the layout is inherited)")
    }
    val shardedPre: Boolean =
      existingMeta.map(_.statsSharded).orElse(shardStats).getOrElse(false)
    // evolution-appended columns, carried through every later sidecar
    // rewrite (the read path's missing-stat-means-all-null license)
    val lateCols: Seq[String] = existingMeta match {
      case Some(m) if evolveSchema =>
        (m.lateCols ++ dataCols.drop(m.cols.size)).distinct
      case Some(m) => m.lateCols
      case None    => Nil
    }
    // capped = true when the slice cardinality exceeded MaxStatSlices:
    // inline statistics would degrade to "none" — a FRESH default-layout
    // write auto-upgrades to the sharded layout instead (shards have no
    // cardinality cap: they are written distributed, one per leaf)
    val (fresh: Seq[SliceStats], capped: Boolean) =
      if (!collectStats || shardedPre) (Nil, false)
      else computeSliceStats(t, dataCols, partitionBy, naRep,
        warnOnCap = !(existingMeta.isEmpty && shardStats.isEmpty)) match {
        case Some(s) => (s, false)
        case None    => (Nil, true)
      }
    // NOTE the cap-blown auto-upgrade pays the inline stats aggregate and
    // discards it before the shard pass re-aggregates from the written
    // files — a double full pass on exactly the largest fresh writes.
    // Accepted: a cardinality pre-probe would tax EVERY inline write with
    // an extra pass to spare the rare capped one; a write KNOWN to be
    // huge should pass shardStats = Some(true) and skip both.
    val sharded: Boolean = shardedPre ||
      (capped && existingMeta.isEmpty && shardStats.isEmpty)
    // which slice entries the incoming data replaces (for stat stripping
    // inline; for the shard read-back restriction sharded) — reuses the
    // slice set the shared lease already computed when available
    val rewrittenParts: Set[Seq[String]] = precomputedParts.getOrElse {
      if (sharded) {
        if (!overwriteSlices) Set.empty
        else {
          val keys = partitionPathCols(t, partitionBy, naRep,
            "writePartitionedDataset")
          t.df.select(keys: _*).distinct().collect().map(r =>
            partitionBy.indices.map(i =>
              if (r.isNullAt(i)) null else r.getString(i)): Seq[String]).toSet
        }
      }
      else if (capped) Set.empty
      else if (collectStats) fresh.map(_.partition).toSet
      else if (existingMeta.exists(_.sliceStats.nonEmpty)) {
        // stats disabled but stale entries exist: identify the rewritten
        // slices with a distinct over the rendered partition values
        val keys = partitionPathCols(t, partitionBy, naRep,
          "writePartitionedDataset")
        t.df.select(keys: _*).distinct().collect().map(r =>
          partitionBy.indices.map(i =>
            if (r.isNullAt(i)) null else r.getString(i)): Seq[String]).toSet
      } else Set.empty
    }
    // Backfill crash-window discipline: strip the rewritten slices' stats
    // from the sidecar BEFORE the data overwrite (ALL of them when the
    // incoming slice count is capped — unknown rewrite set must not leave
    // stale ranges). A crash at any point then leaves a sidecar that is at
    // worst CONSERVATIVE (no stats → slice is read, never skipped) — stale
    // ranges never describe new bytes. The full (non-incremental)
    // overwrite needs none of this: the sink drops the directory including
    // the sidecar, and a crash mid-write leaves a sidecar-less directory
    // the reader refuses loudly.
    // CAS bookkeeping: the commit this writer last observed (or wrote);
    // every install below expects exactly it, so a lock-bypassing sibling
    // that commits mid-protocol turns this writer's next flip into a loud
    // ConcurrentWriteException instead of a silent revert.
    var lastCommit: Option[Long] = existingMeta.map(_.commit)
    if (sharedLease) {
      // shared lease: the strip is a staged merge intent, applied by a
      // BATCHED drain under the flip lock against the THEN-CURRENT
      // sidecar — a disjoint sibling may have flipped since this writer's
      // meta read, and its entries must survive our strip (slice sets are
      // disjoint by the lease contract, so filtering OUR partitions never
      // touches theirs). Blocks until applied: data must not land while
      // stale stats still describe the slices.
      if (existingMeta.isDefined && rewrittenParts.nonEmpty)
        applySidecarMergeBatched(outDir, lock.get, rewrittenParts, Nil, Nil)
    } else existingMeta.foreach { m =>
      val stripped =
        if (capped) Nil
        else m.sliceStats.filterNot(s => rewrittenParts.contains(s.partition))
      val strippedFiles =
        if (capped) Nil
        else m.fileStats.filterNot(s => rewrittenParts.contains(s.partition))
      if (stripped.size != m.sliceStats.size ||
          strippedFiles.size != m.fileStats.size) {
        // the strip rewrite keeps the CURRENT schema verbatim (for an
        // evolve backfill that means the OLD columns): the union schema
        // is published only by the FINAL flip after the data landed, so
        // a crash between strip and data leaves a sidecar an identical
        // retry accepts — publishing the union early would make the
        // retry refuse with "no new columns" and wedge at-least-once
        // schedulers
        installSidecar(outDir,
          m.copy(sliceStats = stripped, fileStats = strippedFiles),
          expectCommit = Some(m.commit), lockToken = lockToken)
        lastCommit = Some(lastCommit.getOrElse(0L) + 1L)
      }
    }
    faultHook("backfill:pre-data")
    // A FULL overwrite of an EXISTING dataset stages into a hidden sibling
    // and swaps at the end, for two reasons both discovered the hard way:
    // (a) the static sink's delete-then-write would wipe the directory
    // INCLUDING the writer lease taken above — a second writer arriving
    // mid-job would see no dataset, skip/retake the lease, and interleave
    // part files into the same partition dirs; (b) a crash mid-write used
    // to leave a sidecar-less husk where a complete dataset stood. With
    // the swap, readers and the lease see the OLD dataset untouched until
    // the two-rename commit; crash leftovers are inert hidden siblings
    // vacuumStarDataset cleans.
    val replaceExisting = !overwriteSlices &&
      graft.sources.StarTableSource.readDatasetMeta(Seq(outDir)).isDefined
    // the swapped-in dataset's commit counter continues ABOVE the old
    // root's — a reset to 1 would open an ABA window for the CAS second
    // defense (a lock-bypassing writer that began at commit 1 of the
    // pre-overwrite dataset would pass the check) and break cross-
    // overwrite monotonicity
    val overwriteSeedCommit: Long =
      if (!replaceExisting) 1L
      else graft.sources.StarTableSource.readDatasetMeta(Seq(outDir))
        .map(_.commit + 1L).getOrElse(1L)
    val rootPath = new org.apache.hadoop.fs.Path(outDir)
    val dataDir: String =
      if (!replaceExisting) outDir
      else new org.apache.hadoop.fs.Path(rootPath.getParent,
        "." + rootPath.getName + "__overwriting").toString
    if (replaceExisting) {
      val fs = rootPath.getFileSystem(
        graft.sources.StarTableSource.activeHadoopConf())
      val staging = new org.apache.hadoop.fs.Path(dataDir)
      if (fs.exists(staging)) fs.delete(staging, true)
    }
    val out = textLines(t, partitionBy, dataCols, sep, naRep, "writePartitionedDataset")
    val shaped =
      if (numFiles <= 0) out
      else if (filesPerSlice <= 1) out.repartition(numFiles,
        partitionBy.map(org.apache.spark.sql.functions.col): _*)
      else {
        // deterministic row salt: rows of one slice spread over up to
        // filesPerSlice shuffle targets (hot-slice skew no longer
        // serializes onto one task), each target writing one file per
        // slice it holds
        val salt = pmod(xxhash64(col("value")), lit(filesPerSlice))
        out.repartition(numFiles,
          partitionBy.map(org.apache.spark.sql.functions.col) :+ salt: _*)
      }
    if (overwriteSlices)
      // dynamic overwrite as a PER-WRITE option, never a session-conf
      // flip: two concurrent shared backfills restoring a session global
      // would race (one restore would flip the other's still-running
      // write back to STATIC overwrite — a silent full wipe); the option
      // is scoped to this write alone. Concurrent dynamic overwrites are
      // job-isolated on disk too: each stages under its own
      // .spark-staging-<jobId> and commits only its own partition dirs.
      shaped.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partitionBy: _*).text(outDir)
    else
      shaped.write.mode("overwrite").partitionBy(partitionBy: _*).text(dataDir)
    faultHook("backfill:pre-sidecar")
    if (sharded) {
      // Sharded layout: one distributed read-back pass computes per-FILE
      // stats for the just-written slices (the backfill restricts to the
      // rewritten set — untouched slices keep their shards verbatim), the
      // shards are written from EXECUTORS (no driver collect, no
      // cardinality cap), and the root sidecar — carrying only the schema
      // and the statsSharded marker — is installed LAST, so a fresh
      // dataset is never visible half-built. Crash between data and
      // shards: shardless slices are read, never skipped (conservative).
      if (collectStats)
        writeSliceShards(t.df.sparkSession, dataDir, dataCols,
          dataCols.map(t.unit), partitionBy, sep,
          onlySlices = if (overwriteSlices) Some(rewrittenParts) else None,
          recordFileEntries = collectFileStats.getOrElse(true))
      if (sharedLease)
        // sharded layout's root sidecar carries only schema + marker; a
        // pure commit-bump intent keeps the chain linear across disjoint
        // siblings, and one drain covers every sibling that finished
        applySidecarMergeBatched(outDir, lock.get, Set.empty, Nil, Nil)
      else
        installSidecar(dataDir, tableMeta(t, dataCols, partitionBy, sep)
          .copy(statsSharded = true, lateCols = lateCols),
          // the full (static) overwrite stages a fresh sidecar; a
          // backfill's sidecar survives at the observed commit
          expectCommit = if (overwriteSlices) lastCommit else None,
          lockToken = lockToken, seedCommit = overwriteSeedCommit)
      graft.sources.StarTableSource.invalidateShardCache(outDir)
    } else {
      val stats: Seq[SliceStats] =
        if (capped) Nil
        else existingMeta match {
          case Some(m) if overwriteSlices =>
            m.sliceStats.filterNot(s => rewrittenParts.contains(s.partition)) ++ fresh
          case _ => fresh
        }
      // per-FILE stats: survivors from untouched slices (a rewritten slice's
      // files have fresh names, so stale entries would be inert anyway —
      // stripping is hygiene) PLUS fresh entries for just-written MULTI-file
      // slices (filesPerSlice salting / unshuffled writes), so file-tier
      // skipping works from write time, not only after clusterStarDataset
      val survivors: Seq[FileStats] =
        if (capped) Nil
        else existingMeta.map(
          _.fileStats.filterNot(s => rewrittenParts.contains(s.partition)))
          .getOrElse(Nil)
      val written: Seq[FileStats] =
        if (capped || !collectStats || !collectFileStats.getOrElse(numFiles > 0)) Nil
        else computeWrittenFileStats(t.df.sparkSession, dataDir, dataCols,
          dataCols.map(t.unit), partitionBy, sep,
          onlySlices = if (overwriteSlices) Some(rewrittenParts) else None)
      // sidecar LAST: readers refuse a dataset without it
      if (sharedLease)
        // staged merge, batch-drained under the flip lock: OUR slices'
        // entries replaced with the fresh aggregates, every sibling's
        // entry (including ones committed while our data was writing)
        // carried verbatim — and N siblings finishing together cost ~1
        // flip, not N
        applySidecarMergeBatched(outDir, lock.get, rewrittenParts,
          fresh, written)
      else
        installSidecar(dataDir, tableMeta(t, dataCols, partitionBy, sep)
          .copy(sliceStats = stats, fileStats = survivors ++ written,
            lateCols = lateCols),
          expectCommit = if (overwriteSlices) lastCommit else None,
          lockToken = lockToken, seedCommit = overwriteSeedCommit)
    }
    if (replaceExisting) {
      // two-rename commit: old root to hidden trash, staging in, trash
      // deleted (the old lease file dies with the trash — our handle's
      // release is then a token-checked no-op)
      val fs = rootPath.getFileSystem(
        graft.sources.StarTableSource.activeHadoopConf())
      graft.operators.Maintenance.swapLeaf(fs, "writePartitionedDataset",
        rootPath, new org.apache.hadoop.fs.Path(dataDir))
      graft.sources.StarTableSource.invalidateMetaCache(outDir)
      graft.sources.StarTableSource.invalidateShardCache(outDir)
    }
  }

  /** Distributed shard write for the sharded-stats layout: ONE read-back
    * aggregate over the target slices' just-written files (grouped by
    * file — reader-faithful cell semantics via [[parsedCellExpr]], the
    * same kernel the clustering pass profiles with), grouped per LEAF on
    * the executors, folded file→slice there (min of mins / max of maxs /
    * null-count and row sums — exact for every unit's ordering: numbers
    * are typed Doubles, datetimes fixed-width rendered strings, text the
    * rendered strings themselves), and installed as one
    * [[SliceShardFile]] per leaf with the stage-and-rename discipline.
    * Nothing is collected to the driver; per-FILE entries are recorded
    * only for multi-file slices (a single-file slice is fully described
    * by its slice entry), and only when `recordFileEntries` — callers
    * passing collectFileStats = Some(false) get slice-tier entries only,
    * the same contract as the inline branch (the read-back aggregate
    * still runs either way: the SLICE entry is folded from it). */
  private def writeSliceShards(spark: SparkSession, outDir: String,
                               dataCols: Seq[String], units: Seq[String],
                               partitionBy: Seq[String], sep: String,
                               onlySlices: Option[Set[Seq[String]]],
                               recordFileEntries: Boolean = true): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val files: Seq[String] = onlySlices match {
      case Some(parts) =>
        // backfill: construct the rewritten leaves DIRECTLY — a 1-slice
        // backfill must not pay an O(dataset) walk on the layout built
        // for touched-proportional cost. Path escaping matches the file
        // sink's (ExternalCatalogUtils; null → the default-partition
        // marker), the same parity dropPartitions relies on.
        val root = new org.apache.hadoop.fs.Path(outDir)
        val fs = root.getFileSystem(conf)
        parts.toSeq.flatMap(raw => DatasetSidecar.sliceFiles(fs,
          sliceLeafPath(root, partitionBy, raw))).map(_.getPath.toString)
      case None => graft.sources.StarTableSource.listPartitionedFiles(
        Seq(outDir), partitionBy, conf).map(_._1)
    }
    if (files.isEmpty) return
    val perFile = DatasetSidecar.fileStatsFrame(spark, files, sep, units)
    val confS = new org.apache.spark.util.SerializableConfiguration(conf)
    val colsL = dataCols.toList
    val unitsL = units.toList
    val partsL = partitionBy.toList
    val rootL = outDir
    val recordFileEntriesL = recordFileEntries
    perFile.rdd
      .map(r => (DatasetSidecar.fileOf(r).getParent.toString, r))
      .groupByKey() // one group per leaf: slices ≪ rows, groups are file counts
      .foreachPartition { it: Iterator[(String, Iterable[org.apache.spark.sql.Row])] =>
        val hconf = confS.value
        it.foreach { case (leafDir, fileRows) =>
          val leaf = new org.apache.hadoop.fs.Path(leafDir)
          val raw = graft.sources.StarTableStreamUtil.partitionValuesFromPath(
            new org.apache.hadoop.fs.Path(leaf, "x").toString, partsL, rootL)
          val fileEntries = fileRows.toSeq
            .map(r => DatasetSidecar.fileStatsOf(r, raw, colsL, unitsL))
            .sortBy(_.file)
          // fold file→slice: the file entries are already RENDERED —
          // re-fold on the rendered values through the same ordering the
          // reader uses (parse + cmp), so the slice bound equals the
          // bound over all rows exactly
          val slice = graft.sources.StarTableSource.foldFileEntries(
            raw, fileEntries, colsL, unitsL)
          graft.io.CsvWriter.atomicInstallJson(
            leaf.getFileSystem(hconf), hconf,
            new org.apache.hadoop.fs.Path(leaf, SliceShardFile),
            DatasetSidecar.encodeShard(SliceShard(slice,
              if (recordFileEntriesL && fileEntries.size > 1) fileEntries
              else Nil)))
        }
      }
  }

  /** The `col=value` leaf directory of a slice tuple (raw rendered
    * partition VALUES in partition-column order, null = the default
    * partition). Path escaping matches the file sink's
    * (ExternalCatalogUtils) — the parity dropPartitions relies on. */
  private[graft] def sliceLeafPath(root: org.apache.hadoop.fs.Path,
                                   partitionBy: Seq[String],
                                   raw: Seq[String]): org.apache.hadoop.fs.Path =
    partitionBy.zip(raw).foldLeft(root) { case (p, (c, v)) =>
      new org.apache.hadoop.fs.Path(p, c + "=" +
        (if (v == null) "__HIVE_DEFAULT_PARTITION__"
         else org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
           .escapePathName(v)))
    }

  /** Test-only fault injection for crash-consistency drills: called at
    * named points of multi-step write protocols; a drill installs a
    * throwing hook to simulate a process kill between steps. */
  private[graft] var faultHook: String => Unit = _ => ()

  /** Reject partition column names the hive-layout listing cannot round
    * trip: `_`/`.`-prefixed directories are invisible to the connector's
    * (and Spark's) listing convention. */
  private def validatePartitionNames(op: String, partitionBy: Seq[String]): Unit = {
    val hidden = partitionBy.filter(n =>
      n.startsWith("_") || n.startsWith("."))
    require(hidden.isEmpty,
      s"$op: partition column(s) ${hidden.mkString(", ")} start with '_' " +
        "or '.' — their directories would be skipped by hidden-file " +
        "listing conventions; rename the column")
  }

  /** `t` as text-sink rows: its partition path columns, then each row's
    * rendered line as `value`. */
  private def textLines(t: StarTable, partitionBy: Seq[String], dataCols: Seq[String],
                        sep: String, naRep: String, op: String): DataFrame =
    t.df.select(partitionPathCols(t, partitionBy, naRep, op) :+
      concat_ws(sep, distributedCells(t.select(dataCols: _*), naRep): _*).as("value"): _*)

  /** Partition columns as STRING path values, rendered with the same
    * representation rules as data cells so a read-back parses them
    * identically (floats shortest-repr, onoff 0/1). Nulls stay null (NOT
    * naRep) so the sink routes them to the default partition and a
    * read-back restores null. Empty-string values are REJECTED at render
    * time (codegen'd guard, no extra pass): Spark's file sink routes ""
    * to the default partition too, which would silently read back as
    * null — an asymmetric lossy round trip. */
  private def partitionPathCols(t: StarTable, partitionBy: Seq[String],
                                naRep: String, op: String): Seq[Column] = {
    partitionBy.map { n =>
      // ci = 1: path values are not first-column cells — NO empty-string
      // sealing (an empty text partition value is rejected below instead)
      val r = renderCell(t, n, 1, naRep)
      when(col(n).isNotNull,
        when(r === "", raise_error(lit(
          s"$op: empty-string partition value in column '$n' — the file " +
            "sink would route it to the default partition and it would " +
            "read back as null; filter or replace empty values first"))
          .cast(StringType))
          .otherwise(r)).as(n)
    }
  }

  /** Per-slice column statistics for the sidecar: group by the RENDERED
    * partition values (exactly the strings that become path values, so the
    * reader's path-listing keys match), then typed min/max/null-count per
    * data column with the reader's null semantics (NaN counts as null and
    * is excluded from min/max; text is aggregated on its RENDERED string —
    * the text parser is identity, so sealed/empty-string rewrites are
    * reflected). min/max are stored RENDERED and re-parsed by the reader
    * through the same unit parsers as data cells. */
  private def computeSliceStats(t: StarTable, dataCols: Seq[String],
                                partitionBy: Seq[String], naRep: String,
                                warnOnCap: Boolean = true)
      : Option[Seq[SliceStats]] = {
    val keyCols = partitionPathCols(t, partitionBy, naRep,
      "writePartitionedDataset")
    // rendered cells in DATASET column order — first-column sealing applies
    // to dataCols.head exactly as the written value column does
    val renderedByCol: Map[String, Column] =
      dataCols.zip(distributedCells(t.select(dataCols: _*), naRep)).toMap
    val aggs: Seq[Column] = dataCols.flatMap { c =>
      val u = t.unit(c)
      val v: Column =
        if (u == "text") renderedByCol(c)
        else if (u == "datetime")
          // aggregate the RENDERED string, not the typed value: cells
          // render through date_format under the SESSION timezone while a
          // driver-side Timestamp render uses the JVM zone — when the two
          // differ, typed bounds would be shifted against reader-parsed
          // cells and slices wrongly skipped. The fixed-width zero-padded
          // format makes string min/max chronological, and the stored
          // bound is byte-identical to the cell the reader parses. Nulls
          // stay null (the rendered expression would coalesce to naRep).
          when(col(c).isNotNull, renderedByCol(c))
        else if (u == "onoff")
          // the reader's onoff parse NEVER yields null: a null/naRep cell
          // goes through the fixer to FALSE — bounds must cover that, and
          // nulls must be 0, or IsNotNull/EqualTo(false) would skip slices
          // whose rows all match
          coalesce(col(c), lit(false))
        else if (t.colMeta(c).displayFormat.isDefined)
          // a display format ROUNDS the written cell ("%.0f": 8.6 → "9"),
          // so bounds must cover the reader-parsed values (9.0), not the
          // raw ones (8.6) — otherwise a filter between the two silently
          // skips matching rows. Round-trip through the rendered string;
          // naRep ("-") casts to null, covering null and NaN.
          renderedByCol(c).cast(DoubleType)
        else if (t.df.schema(c).dataType == DoubleType ||
                 t.df.schema(c).dataType == FloatType)
          // NaN AND infinities count as null: both render to cells the
          // reader nulls ("-" via naRep; "Infinity" fails the lowercased
          // parse and fixes to null)
          when(!isnan(col(c)) &&
            !col(c).isin(Double.PositiveInfinity, Double.NegativeInfinity),
            col(c))
        else col(c)
      Seq(min(v).as(s"__min_$c"), max(v).as(s"__max_$c"),
        count(when(v.isNull, 1)).as(s"__nulls_$c"))
    } :+ count(lit(1)).as("__rows")
    // Cap the sidecar's stats cardinality: the collected aggregate and the
    // JSON sidecar are slices × columns — fine for any sane layout, but a
    // pathological partitioning (millions of slices) must degrade to
    // "no stats" (conservative reads), not a driver OOM. The limit is
    // pushed into the aggregate, so the capped case never collects more
    // than MaxStatSlices + 1 rows.
    val rows = t.df.groupBy(keyCols: _*).agg(aggs.head, aggs.tail: _*)
      .limit(MaxStatSlices + 1).collect()
    if (rows.length > MaxStatSlices) {
      if (warnOnCap)
        System.err.println(s"[graft] WARN writePartitionedDataset: more than " +
          s"$MaxStatSlices slices — skipping slice statistics (reads stay " +
          "correct, data skipping disabled for this dataset)")
      return None
    }
    Some(rows.toSeq.map { r =>
      val part = partitionBy.indices.map(i =>
        if (r.isNullAt(i)) null else r.getString(i))
      val base = partitionBy.size
      val stats = dataCols.zipWithIndex.map { case (c, ci) =>
        val mn = r.get(base + ci * 3)
        val mx = r.get(base + ci * 3 + 1)
        val nulls = r.getLong(base + ci * 3 + 2)
        c -> ColStats(renderStat(mn), renderStat(mx), nulls)
      }.toMap
      SliceStats(part, r.getLong(base + dataCols.size * 3), stats)
    })
  }

  /** Reader-faithful typed expression over data column `i` of a
    * rendered-cells array — mirrors the reader's unit parsers (null where
    * the reader yields null; datetime stays a string, whose fixed-width
    * rendering orders chronologically; the onoff parse never yields null —
    * any non-true cell goes through the fixer to FALSE; Spark's cast
    * accepts "Infinity" but the reader's lowercased parse does not, so
    * NaN/infinities are null like the slice-tier stats). Shared by the
    * clustering pass and the write-time per-file statistics. */
  private[graft] def parsedCellExpr(cells: Column, i: Int, unit: String): Column = {
    // try_element_at, not element_at: a SHORT row (pre-evolution slice of
    // an evolved dataset) must null-pad the appended columns exactly like
    // the reader does — ANSI element_at would throw INVALID_ARRAY_INDEX
    // the moment a stats/clustering pass touches such a slice
    val e = try_element_at(cells, lit(i + 1))
    unit match {
      case "text"     => e
      case "datetime" => when(e.rlike("^[0-9]"), e)
      case "onoff"    =>
        // a PRESENT onoff cell never parses to null (the fixer yields
        // FALSE), but an ABSENT cell (short row) reads as null — keep
        // that null or IsNull pruning on a late onoff column would
        // wrongly skip pre-evolution slices
        when(e.isNull, lit(null))
          .otherwise(when(lower(e).isin("1", "true"), 1).otherwise(0))
      case _          =>
        // try_cast: a naRep or malformed cell reads as null (the fixer's
        // verdict), where an ANSI cast would fail the whole pass
        val d = e.try_cast(DoubleType)
        when(!isnan(d) &&
          !d.isin(Double.PositiveInfinity, Double.NegativeInfinity), d)
    }
  }

  /** Per-FILE statistics computed by reading back the MULTI-file slices of
    * a just-written dataset (single-file slices are fully described by
    * their slice entry — only files that could be individually skipped are
    * profiled). One distributed aggregate grouped by input file; the
    * read-back volume is exactly the multi-file slices: ZERO under a
    * shuffled write with `filesPerSlice = 1` (numFiles > 0), at most
    * (k−1)/k extra under salting, but close to the WHOLE dataset under the
    * unshuffled default (numFiles = 0), where every upstream task writes a
    * file per slice it holds — pass `collectFileStats = false` on ingest
    * paths where a later clusterStarDataset pass will produce better
    * (range-clustered) file stats anyway. Returns entries sorted by
    * (partition, basename) for a deterministic sidecar. */
  private def computeWrittenFileStats(spark: SparkSession, outDir: String,
                                      dataCols: Seq[String], units: Seq[String],
                                      partitionBy: Seq[String], sep: String,
                                      onlySlices: Option[Set[Seq[String]]])
      : Seq[FileStats] = {
    val conf = spark.sessionState.newHadoopConf()
    // backfill: construct the rewritten leaves DIRECTLY — touched-
    // proportional cost (a 1-slice backfill must not pay an O(dataset)
    // walk), and immune to a DISJOINT sibling's dynamic-overwrite commit
    // window (its leaf is briefly absent mid-replace; a root walk racing
    // it threw FileNotFoundException — caught by the 16-writer fan-out
    // rehearsal)
    val bySlice: Map[Seq[String], Seq[String]] = onlySlices match {
      case Some(parts) =>
        val root = new org.apache.hadoop.fs.Path(outDir)
        val fs = root.getFileSystem(conf)
        parts.toSeq.map(raw => raw -> DatasetSidecar.sliceFiles(fs,
          sliceLeafPath(root, partitionBy, raw)).map(_.getPath.toString)).toMap
      case None => graft.sources.StarTableSource.listPartitionedFiles(
          Seq(outDir), partitionBy, conf)
        .groupBy(_._3).view.mapValues(_.map(_._1)).toMap
    }
    val targets = bySlice.filter { case (_, fsOf) => fsOf.sizeIs > 1 }
    val targetFiles = targets.values.flatten.toSeq.sorted
    if (targetFiles.isEmpty) return Nil
    if (targetFiles.size > MaxStatSlices) {
      System.err.println(s"[graft] WARN writePartitionedDataset: more than " +
        s"$MaxStatSlices multi-file-slice files — skipping per-file " +
        "statistics (reads stay correct, file skipping disabled)")
      return Nil
    }
    DatasetSidecar.fileStatsFrame(spark, targetFiles, sep, units).collect()
      .toSeq.map { r =>
        val raw = graft.sources.StarTableStreamUtil.partitionValuesFromPath(
          DatasetSidecar.fileOf(r).toString, partitionBy, outDir)
        DatasetSidecar.fileStatsOf(r, raw, dataCols, units)
      }.sortBy(s => (s.partition.map(v => if (v == null) "" else v).mkString("\u0000"),
        s.file))
  }

  /** Render one collected stat value exactly as a data cell of its unit
    * would be (so the reader's re-parse yields the cell's value). */
  private[graft] def renderStat(v: Any): String = v match {
    case null                  => null
    case s: String             => s // text stats are already rendered
    case b: Boolean            => if (b) "1" else "0"
    case ts: Timestamp         => formatTimestamp(ts)
    case l: java.time.LocalDateTime => formatTimestamp(Timestamp.valueOf(l))
    case other                 => stringify(other, None)
  }

  /** Install `meta` as `outDir`'s root sidecar — every sidecar write goes
    * through here. `meta.commit` is ignored: the install stamps the next
    * commit. `expectCommit` is the flip's compare-and-swap token: None =
    * the caller expects NO sidecar on disk (fresh dataset); Some(c) = the
    * caller read commit `c` when its multi-step protocol began and refuses
    * to flip if another writer moved it. `lockToken` is the exclusive or
    * flip token the caller holds (see
    * [[DatasetLock.verifyWriteAuthority]]). `seedCommit` keeps the
    * counter monotonic ACROSS a full overwrite's root swap (the staged
    * sidecar continues above the replaced root's commit instead of
    * resetting to 1 — closing the CAS ABA window). */
  private[graft] def installSidecar(outDir: String, meta: DatasetMeta,
                                    expectCommit: Option[Long],
                                    lockToken: Option[String],
                                    seedCommit: Long = 1L): Unit = {
    // Lease-ownership gate (first defense, round 13): when the root is
    // under ANY live lease, the installer must present the current
    // exclusive token or the current flip token — a tokenless install
    // against a leased root is a lock bypass, refused at the bypasser's
    // own write instead of (only) at the victim's next flip.
    DatasetLock.verifyWriteAuthority(outDir, lockToken)
    // CAS at the flip: the second defense behind the DatasetLock lease —
    // a writer that bypassed the lease (legacy code, a force-broken lock)
    // is caught here, before its install can revert a sibling's commit.
    val current: Option[Long] =
      graft.sources.StarTableSource.readDatasetMeta(Seq(outDir)).map(_.commit)
    if (expectCommit != current) throw new ConcurrentWriteException(
      s"dataset at $outDir: sidecar commit moved — this writer began at " +
        s"commit ${expectCommit.map(_.toString).getOrElse("<none>")} but the " +
        s"root now holds ${current.map(_.toString).getOrElse("<none>")}: a " +
        "concurrent writer committed in between; rerun this operation " +
        "against the current state")
    val newCommit: Long = math.max(seedCommit, expectCommit.getOrElse(0L) + 1L)
    val conf = graft.sources.StarTableSource.activeHadoopConf()
    val metaPath = new org.apache.hadoop.fs.Path(outDir, DatasetMetaFile)
    val fs = metaPath.getFileSystem(conf)
    atomicInstallJson(fs, conf, metaPath,
      DatasetSidecar.encodeSidecar(meta.copy(commit = newCommit)))
    // the reader memoizes parsed sidecars by (path, len, mtime) — a
    // same-length rewrite inside the FS's mtime resolution would otherwise
    // serve the OLD stats from cache and could wrongly skip files
    graft.sources.StarTableSource.invalidateMetaCache(outDir)
  }

  /** The schema half of a sidecar written from table `t`: name,
    * destinations, data and partition columns with their units, `sep`. */
  private def tableMeta(t: StarTable, dataCols: Seq[String],
                        partitionBy: Seq[String], sep: String): DatasetMeta =
    DatasetMeta(t.name, t.destinations, dataCols, dataCols.map(t.unit),
      partitionBy, partitionBy.map(t.unit), sep)

  /** The THEN-CURRENT sidecar, re-read past the cache, for a
    * read-merge-install under the flip lock. */
  private def currentMeta(outDir: String): DatasetMeta = {
    graft.sources.StarTableSource.invalidateMetaCache(outDir)
    graft.sources.StarTableSource.readDatasetMeta(Seq(outDir))
      .getOrElse(throw new ConcurrentWriteException(
        s"dataset at $outDir: sidecar vanished during a shared backfill " +
          "— a concurrent full overwrite or delete raced this writer"))
  }

  /** METADATA-ONLY schema evolution: append `newCols` (name, unit) pairs
    * to an existing dataset's schema by rewriting the SIDECAR alone — no
    * slice is backfilled. Every existing slice's short rows read
    * null-padded on the new columns from the commit on; the columns are
    * recorded as `lateColumns`, so statistics pruning and metadata
    * aggregates keep engaging (a slice entry with no stat for a late
    * column provably means all-null), and the NEXT plain backfill simply
    * carries the new columns (its incoming schema now matches the
    * dataset's). This is the "add the column only for future appends"
    * shape; [[writePartitionedDataset]]'s `evolveSchema = true` remains
    * the evolve-with-data variant. Exclusive lease: a schema flip must
    * not interleave with any writer. */
  def evolveDatasetSchema(spark: SparkSession, outDir: String,
                          newCols: Seq[(String, String)]): Unit = {
    require(newCols.nonEmpty, "evolveDatasetSchema: no columns to append")
    val names = newCols.map(_._1)
    require(names.distinct == names,
      s"evolveDatasetSchema: duplicate new column names ${names.mkString(", ")}")
    DatasetLock.withLockHandle(outDir, "evolve-schema",
      awaitMs = DatasetLock.awaitMsFromConf(spark),
      ttlMs = DatasetLock.ttlMsFromConf(spark)) { h =>
      graft.sources.StarTableSource.invalidateMetaCache(outDir)
      val cur = graft.sources.StarTableSource.readDatasetMeta(Seq(outDir))
        .getOrElse(throw new IllegalArgumentException(
          s"evolveDatasetSchema: $outDir has no $DatasetMetaFile sidecar — " +
            "not a StarTable dataset"))
      val clash = names.filter(n =>
        cur.cols.contains(n) || cur.partCols.contains(n))
      require(clash.isEmpty,
        s"evolveDatasetSchema: column(s) ${clash.mkString(", ")} already " +
          s"exist in the dataset at $outDir (${cur.cols.mkString(", ")}; " +
          s"partitioned by ${cur.partCols.mkString(", ")})")
      installSidecar(outDir, cur.copy(cols = cur.cols ++ names,
        units = cur.units ++ newCols.map(_._2),
        lateCols = (cur.lateCols ++ names).distinct),
        expectCommit = Some(cur.commit), lockToken = Some(h.info.token))
    }
    graft.sources.StarTableSource.invalidateMetaCache(outDir)
  }

  /** Stage a merge intent ([[DatasetSidecar.MergeIntent]], written as
    * [[PendingMergePrefix]]`<leaseToken>.<n>.json` beside the sidecar)
    * and wait until SOME drain (ours or a sibling's) applies it — the
    * shared-lease sidecar mutation. Round 13 measured the ceiling of
    * per-holder serialized flips — 6.15× at 8 concurrent backfills but
    * only 2.50× at 16, every holder's read-merge-install queueing on one
    * mutex. Batched flips lift it: a holder STAGES its merge as an intent
    * file, and whichever holder wins the flip lock DRAINS every staged
    * intent into ONE read-merge-install — 16 finished writers cost ~1-2
    * flips instead of 16. A holder returns only after its intent is
    * applied (the file is deleted by the drain), so lease release still
    * implies visible stats — ordering with successors is unchanged.
    * Reapplication is idempotent (strip ⊇ the added entries' partitions —
    * a crash between a drain's install and its deletes merely re-strips
    * and re-adds the same entries), and a drain applies an intent ONLY
    * while its holder's lease is live: an orphan (crashed holder) is
    * deleted unapplied, which is conservative — its holder provably never
    * wrote data after the un-applied stage (holders block right here
    * until applied). */
  private[graft] def applySidecarMergeBatched(outDir: String,
      handle: DatasetLock.Handle,
      stripSlices: Set[Seq[String]],
      addSlices: Seq[SliceStats],
      addFiles: Seq[FileStats],
      stripFilesOverride: Option[Set[Seq[String]]] = None): Unit = {
    // slice and file entries strip independently: a backfill replaces
    // both for its partitions; slice-scoped CLUSTERING keeps the (reorder-
    // invariant) slice entries and replaces only the file tier
    val stripFiles = stripFilesOverride.getOrElse(stripSlices)
    require(addSlices.forall(s => stripSlices.contains(s.partition)) &&
        addFiles.forall(f => stripFiles.contains(f.partition)),
      "applySidecarMergeBatched: added entries must be covered by their " +
        "strip sets (reapplication idempotence)")
    val conf = graft.sources.StarTableSource.activeHadoopConf()
    val root = new org.apache.hadoop.fs.Path(outDir)
    val fs = root.getFileSystem(conf)
    val myPath = new org.apache.hadoop.fs.Path(root,
      PendingMergePrefix + handle.info.token + "." +
        java.util.UUID.randomUUID().toString.take(8) + ".json")
    atomicInstallJson(fs, conf, myPath, DatasetSidecar.encodeIntent(
      MergeIntent(handle.info.token, stripSlices, stripFiles, addSlices,
        addFiles)))
    val rnd = java.util.concurrent.ThreadLocalRandom.current()
    // disappearance means APPLIED only while the lease is provably live:
    // a sibling's drain deletes an EXPIRED holder's intent UNAPPLIED, and
    // the two states look identical on disk. The heartbeat marks a lost
    // lease within ttl/4 of waking from a fatal stall; the explicit
    // expiry re-check below closes the remaining gap (modulo the
    // documented cross-host clock residual all TTL leases share).
    def appliedOrLost(): Boolean =
      if (fs.exists(myPath)) false
      else if (!handle.lost &&
          !handle.info.expired(System.currentTimeMillis())) true
      else throw new ConcurrentWriteException(
        s"dataset at $outDir: this writer's staged sidecar merge " +
          "disappeared while its lease was expired — a sibling's drain " +
          "dropped it as an orphan; the merge was NOT applied, aborting")
    while (true) {
      // a zombie must not spin here forever — and must not treat its own
      // intent's disappearance as success once the lease is lost (an
      // orphan-delete looks identical)
      handle.checkHeld("sidecar-merge")
      if (appliedOrLost()) {
        graft.sources.StarTableSource.invalidateMetaCache(outDir)
        return
      }
      DatasetLock.tryFlipLock(outDir, conf, waitMs = 1000L) { token =>
        drainPendingMerges(outDir, token, fs, conf)
      } match {
        case Some(_) if appliedOrLost() =>
          graft.sources.StarTableSource.invalidateMetaCache(outDir)
          return
        case _ => Thread.sleep(25L + rnd.nextInt(50))
      }
    }
  }

  /** Under the flip lock: apply EVERY staged live-holder intent in one
    * read-merge-install, then delete the applied (and any orphaned)
    * intent files. Must be called with the flip token. */
  private def drainPendingMerges(outDir: String, flipToken: String,
      fs: org.apache.hadoop.fs.FileSystem,
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    val root = new org.apache.hadoop.fs.Path(outDir)
    val pendings =
      try fs.listStatus(root).toSeq.map(_.getPath)
        .filter(_.getName.startsWith(PendingMergePrefix))
      catch { case _: java.io.FileNotFoundException => Nil }
    if (pendings.isEmpty) return
    val liveTokens = DatasetLock.liveSharedTokens(outDir, conf)
    val (liveFiles, orphanFiles) = pendings.partition { p =>
      val rest = p.getName.stripPrefix(PendingMergePrefix)
      liveTokens.exists(t => rest.startsWith(t + "."))
    }
    // a live holder's intent that does not decode fails the drain LOUDLY,
    // file named, like a damaged sidecar or shard: dropping it would
    // lose that holder's merge while it waits for it to land
    val intents = liveFiles.map(p => DatasetSidecar.read(fs, p,
      "sidecar merge", "merge intent")(DatasetSidecar.decodeIntent))
    if (intents.nonEmpty) {
      val cur = currentMeta(outDir)
      val allStrip: Set[Seq[String]] = intents.flatMap(_.strip).toSet
      val allStripFiles: Set[Seq[String]] = intents.flatMap(_.stripFiles).toSet
      installSidecar(outDir, cur.copy(
        sliceStats = cur.sliceStats.filterNot(s => allStrip.contains(s.partition)) ++
          intents.flatMap(_.addSlices),
        fileStats = cur.fileStats.filterNot(s => allStripFiles.contains(s.partition)) ++
          intents.flatMap(_.addFiles)),
        expectCommit = Some(cur.commit), lockToken = Some(flipToken))
    }
    // crash window drilled by BatchedFlipCrashSpec: a drain dying HERE
    // (install landed, deletes pending) leaves every intent on disk —
    // the next drain REAPPLIES them, which is idempotent because each
    // intent's added entries are covered by its strip sets
    faultHook("drain:pre-delete")
    (liveFiles ++ orphanFiles).foreach { p =>
      try fs.delete(p, false) catch { case _: java.io.IOException => () }
    }
  }

  /** Stage-and-rename install of a small JSON metadata file: an in-place
    * create(overwrite) killed mid-stream would leave a TRUNCATED file the
    * reader refuses loudly, bricking an intact dataset. Write the JSON
    * fully to a hidden `.name.tmp` sibling, then rename over the target
    * (FileContext rename-OVERWRITE — the checkpointing primitive — with a
    * delete+rename fallback whose worst crash state is "file absent": a
    * conservative/loud, rerun-repairable state, never a half-file).
    * Shared by the root sidecar and the per-leaf stat shards; safe to call
    * from executors (pure Hadoop FS API). */
  private[graft] def atomicInstallJson(fs: org.apache.hadoop.fs.FileSystem,
                                       conf: org.apache.hadoop.conf.Configuration,
                                       target: org.apache.hadoop.fs.Path,
                                       json: String): Unit = {
    val tmpPath = new org.apache.hadoop.fs.Path(target.getParent,
      "." + target.getName + ".tmp")
    val os = fs.create(tmpPath, true)
    try os.write(json.getBytes("UTF-8"))
    finally os.close()
    try {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        target.toUri, conf)
      fc.rename(tmpPath, target,
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      case _: UnsupportedOperationException | _: java.io.IOException =>
        if (fs.exists(target)) fs.delete(target, false)
        if (!fs.rename(tmpPath, target))
          throw new java.io.IOException(
            s"atomicInstallJson: could not install $target")
    }
  }

  /** INLINE slice-statistics cardinality cap (see [[computeSliceStats]];
    * the sharded layout has none — shards are written distributed).
    * Mutable only through [[withMaxStatSlices]] (test seam). */
  @volatile private[this] var maxStatSlicesVar = 100000
  private[graft] def MaxStatSlices: Int = maxStatSlicesVar

  /** Test-scoped cap override, restored under `finally` — specs drill the
    * auto-upgrade path without leaving a global altered when an assertion
    * throws mid-test (suites run serially in the forked JVM, so the
    * temporary global is visible only to the overriding test). */
  private[graft] def withMaxStatSlices[A](n: Int)(f: => A): A = {
    val prev = maxStatSlicesVar
    maxStatSlicesVar = n
    try f finally maxStatSlicesVar = prev
  }

  /** Streaming ingestion into a hive-partitioned StarTable dataset — the
    * micro-batch analog of [[writePartitionedDataset]]. `t` wraps a
    * STREAMING DataFrame; rows render through the same (pure, codegen'd)
    * representation expressions and land in `col=value` slices via
    * Spark's exactly-once file sink (checkpoint + `_spark_metadata`
    * commit log — a restart resumes without duplicates or loss; both
    * hidden names are ignored by the connector's listing).
    *
    * Unlike the batch path, an append-forever dataset has no single
    * "complete" moment, so the sidecar is written BEFORE the query
    * starts: its job here is only to carry the schema; per-batch
    * visibility is the sink's commit log. Micro-batches leave small
    * files — run [[graft.operators.Maintenance.compactStarDataset]]
    * periodically (the sink tolerates compaction because the connector,
    * not the sink's log, is the read path). Returns the started query;
    * the caller owns its lifecycle. */
  def streamPartitionedDataset(t: StarTable, outDir: String,
                               partitionBy: Seq[String], checkpoint: String,
                               sep: String = DefaultSep,
                               naRep: String = DefaultNaRep,
                               coexist: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(t.df.isStreaming,
      "streamPartitionedDataset: t must wrap a streaming DataFrame " +
        "(use writePartitionedDataset for batch)")
    require(partitionBy.nonEmpty, "streamPartitionedDataset: no partition columns")
    val missing = partitionBy.filterNot(t.columnNames.contains)
    require(missing.isEmpty,
      s"streamPartitionedDataset: partition column(s) ${missing.mkString(", ")} " +
        s"not in table '${t.name}'")
    validatePartitionNames("streamPartitionedDataset", partitionBy)
    val dataCols = t.columnNames.filterNot(partitionBy.contains)
    require(dataCols.nonEmpty,
      "streamPartitionedDataset: at least one non-partition column required")
    if (coexist)
      return streamCoexist(t, outDir, partitionBy, checkpoint, sep, naRep,
        dataCols)
    // Writer lease for the STREAM's whole lifetime: a compaction racing a
    // live ingest would swap leaves out from under the sink's in-flight
    // batch (rows committed into the old leaf between the compactor's
    // listing and its swap are silently lost) — the single worst
    // concurrent-writer window on a dataset. Held until the query
    // terminates: released synchronously by the returned handle's stop(),
    // and by a listener backstop when the query dies on its own. The
    // lease heartbeat keeps it live for the stream's whole run; awaitMs
    // applies here as everywhere (a stream start queued behind a short
    // compaction waits it out instead of refusing).
    val lock = DatasetLock.acquire(outDir, "stream-ingest",
      awaitMs = DatasetLock.awaitMsFromConf(t.df.sparkSession),
      ttlMs = DatasetLock.ttlMsFromConf(t.df.sparkSession))
    try {
    val existing = graft.sources.StarTableSource.readDatasetMeta(Seq(outDir))
    existing.foreach { m =>
      requireStreamShape(m, t, dataCols, partitionBy, sep, outDir)
      // Appended rows invalidate every slice's recorded bounds. The INLINE
      // layout's entries are dropped by the sidecar rewrite below; a
      // SHARDED dataset's entries live in per-leaf shard FILES, which must
      // be deleted too — the rewrite flips statsSharded off (stale shards
      // become inert), but a later shardDatasetStats migration would
      // re-activate them with bounds that exclude the streamed rows
      // (undercounted metadata aggregates, wrongly skipped slices).
      if (m.statsSharded) {
        val conf = graft.sources.StarTableSource.activeHadoopConf()
        val fs = new org.apache.hadoop.fs.Path(outDir).getFileSystem(conf)
        graft.sources.StarTableSource
          .listPartitionedFiles(Seq(outDir), m.partCols, conf)
          .map(f => new org.apache.hadoop.fs.Path(f._1).getParent)
          .distinct
          .foreach { leaf =>
            val sp = new org.apache.hadoop.fs.Path(leaf, SliceShardFile)
            if (fs.exists(sp)) fs.delete(sp, false)
          }
        graft.sources.StarTableSource.invalidateShardCache(outDir)
      }
    }
    // no sliceStats: an append-forever stream has no final value ranges,
    // and any PRE-EXISTING entries are dropped — appended rows would fall
    // outside stale ranges; readers fall back to partition-level pruning
    installSidecar(outDir, tableMeta(t, dataCols, partitionBy, sep)
      .copy(lateCols = existing.map(_.lateCols).getOrElse(Nil)),
      expectCommit = existing.map(_.commit), lockToken = Some(lock.info.token))
    graft.streaming.StreamRun.start(
      textLines(t, partitionBy, dataCols, sep, naRep, "streamPartitionedDataset")
      .writeStream.format("text")
      .partitionBy(partitionBy: _*)
      .option("path", outDir), checkpoint, onEnd = () => lock.release())
    } catch {
      case e: Throwable => lock.release(); throw e
    }
  }

  /** COEXISTING streaming ingest (`coexist = true`): the steady-state
    * 100 TB shape is one forever-stream + daily disjoint backfills +
    * nightly maintenance of old slices, and the exclusive-lease mode
    * cannot express it — the stream's root lease excludes every other
    * writer for its whole lifetime. This mode holds a SHARED slice-scoped
    * lease instead, seeded with the [[DatasetLock.streamIntentSlice]]
    * marker and GROWN (never shrunk) by the slices each micro-batch
    * actually touches, BEFORE that batch's data lands — so:
    *
    *  - a backfill of slices the stream never touched proceeds
    *    concurrently (disjoint shared leases);
    *  - slice-scoped maintenance of pre-stream slices
    *    ([[graft.operators.Maintenance.compactStarDataset]] with
    *    `onlySlices`) proceeds concurrently;
    *  - a backfill or compaction OVERLAPPING the stream's touched slices
    *    refuses (or queues) exactly like any shared-lease conflict, and a
    *    batch about to touch a slice a sibling holds waits the sibling
    *    out (up to [[StreamExtendAwaitMs]]);
    *  - full-root operations (vacuum, schema evolution, full overwrite,
    *    root compaction) still refuse while the stream lives — they are
    *    exclusive by nature.
    *
    * Unlike the exclusive mode, pre-existing slice statistics are KEPT:
    * they are stripped per slice at the stream's FIRST TOUCH of that
    * slice (appended rows may fall outside recorded ranges), through the
    * same flip-serialized sidecar merge as any shared commit. Slices the
    * stream never touches keep their stats — at 100 TB that preserves
    * pruning over the entire history instead of nuking it at stream
    * start.
    *
    * Exactly-once: micro-batches commit through `foreachBatch` with an
    * idempotent install — the batch stages into a hidden dir, moves into
    * the live leaves under DETERMINISTIC names
    * (`part-s<streamKey>-b<batchId>-<i>`), and records the batch id in a
    * `_startable_stream.<key>.json` high-water mark (atomic install). A
    * replay after a crash first deletes any files of its own batch id,
    * then re-installs byte-identical content — duplicates cannot survive
    * a restart that reuses the checkpoint (the streamKey derives from the
    * checkpoint path, so resume keeps the same file-name space). The
    * residual window matches the exclusive mode's: a crash AFTER some
    * moves with NO restart leaves that batch partially visible until the
    * stream resumes. */
  private def streamCoexist(t: StarTable, outDir: String,
                            partitionBy: Seq[String], checkpoint: String,
                            sep: String, naRep: String,
                            dataCols: Seq[String])
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = t.df.sparkSession
    val conf = graft.sources.StarTableSource.activeHadoopConf()
    val rootPath = new org.apache.hadoop.fs.Path(outDir)
    val fs = rootPath.getFileSystem(conf)
    // stable across restarts: resume reuses the checkpoint, hence the
    // same commit file, part-file name space, and lease sentinel
    val streamKey = java.security.MessageDigest.getInstance("MD5")
      .digest(new org.apache.hadoop.fs.Path(checkpoint).toString
        .getBytes("UTF-8"))
      .take(6).map(b => f"$b%02x").mkString
    val lock = DatasetLock.acquireShared(outDir, "stream-ingest",
      Set(DatasetLock.streamIntentSlice(streamKey)),
      awaitMs = DatasetLock.awaitMsFromConf(spark),
      ttlMs = DatasetLock.ttlMsFromConf(spark))
    try {
      graft.sources.StarTableSource.invalidateMetaCache(outDir)
      graft.sources.StarTableSource.readDatasetMeta(Seq(outDir)) match {
        case Some(m) =>
          requireStreamShape(m, t, dataCols, partitionBy, sep, outDir)
        case None =>
          // fresh dataset: publish the schema sidecar before the first
          // batch; the write-authority gate sees our live shared lease,
          // so the install serializes through the flip lock like any
          // shared-holder commit
          DatasetLock.withFlipLock(outDir) { token =>
            installSidecar(outDir, tableMeta(t, dataCols, partitionBy, sep),
              expectCommit = None, lockToken = Some(token))
          }
      }
      val commitPath = new org.apache.hadoop.fs.Path(rootPath,
        s"_startable_stream.$streamKey.json")
      val committedAtStart: Long = readStreamHighWater(fs, commitPath)
      val lastCommitted = new java.util.concurrent.atomic.AtomicLong(committedAtStart)
      graft.streaming.StreamRun.start(t.df.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                         batchId: Long) =>
          if (batchId > lastCommitted.get()) {
            commitStreamBatch(t.copy(df = batch), outDir, partitionBy, sep,
              naRep, dataCols, lock, streamKey, batchId, conf, commitPath)
            lastCommitted.set(batchId)
          }
        }, checkpoint, onEnd = () => lock.release())
    } catch {
      case e: Throwable => lock.release(); throw e
    }
  }

  /** Streaming into an existing dataset must not silently fork its schema
    * or line format. */
  private def requireStreamShape(m: DatasetMeta,
                                 t: StarTable, dataCols: Seq[String],
                                 partitionBy: Seq[String], sep: String,
                                 outDir: String): Unit = {
    val incoming = (t.name, dataCols, dataCols.map(t.unit),
      partitionBy, partitionBy.map(t.unit), sep)
    val current = (m.name, m.cols, m.units, m.partCols, m.partUnits, m.sep)
    require(incoming == current,
      s"streamPartitionedDataset: dataset at $outDir holds $current, " +
        s"incoming stream is $incoming")
  }

  /** How long a coexisting stream's batch waits for a sibling holding a
    * slice it is about to touch. */
  private val StreamExtendAwaitMs = 60000L

  /** A coexisting stream's batch files above its recorded high-water mark
    * are IN-DOUBT — a restart replays them (delete-by-name + re-install),
    * so a maintenance pass must not absorb them into rewritten files (the
    * replay's delete would miss and the re-install would duplicate).
    * True when any of `names` belongs to an uncommitted stream batch. */
  private[graft] def hasInDoubtStreamFiles(fs: org.apache.hadoop.fs.FileSystem,
                                           root: org.apache.hadoop.fs.Path,
                                           names: Seq[String]): Boolean = {
    val re = "part-s([0-9a-f]+)-b([0-9]+)-.*".r
    names.flatMap {
      case re(k, b) => Some(k -> b.toLong)
      case _        => None
    }.groupBy(_._1).exists { case (k, ids) =>
      val hw = readStreamHighWater(fs,
        new org.apache.hadoop.fs.Path(root, s"_startable_stream.$k.json"))
      ids.exists(_._2 > hw)
    }
  }

  /** The last committed batch id of a coexisting stream (-1 = none). */
  private[graft] def readStreamHighWater(fs: org.apache.hadoop.fs.FileSystem,
                                  commitPath: org.apache.hadoop.fs.Path): Long =
    if (!fs.exists(commitPath)) -1L
    else {
      val in = fs.open(commitPath)
      val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      JsonValue.parse(txt) match {
        case o: JsonValue.JsonObject => o.fields.get("lastBatchId") match {
          case Some(JsonValue.JsonNumber(v)) => v.toLong
          case _ => -1L
        }
        case _ => -1L
      }
    }

  /** One micro-batch of a coexisting stream: extend the lease with the
    * batch's newly-touched slices, strip those slices' now-stale
    * statistics, stage + idempotently install the data, record the batch
    * high-water mark. See [[streamCoexist]] for the crash windows. */
  private def commitStreamBatch(bt: StarTable, outDir: String,
                                partitionBy: Seq[String], sep: String,
                                naRep: String, dataCols: Seq[String],
                                lock: DatasetLock.Handle, streamKey: String,
                                batchId: Long,
                                conf: org.apache.hadoop.conf.Configuration,
                                commitPath: org.apache.hadoop.fs.Path): Unit = {
    val rootPath = new org.apache.hadoop.fs.Path(outDir)
    val fs = rootPath.getFileSystem(conf)
    // the batch's touched slices (bounded: a lease records an explicit
    // set; a single micro-batch above the cap is pathological partitioning)
    val keys = partitionPathCols(bt, partitionBy, naRep,
      "streamPartitionedDataset")
    val rows = bt.df.select(keys: _*).distinct()
      .limit(MaxSharedLockSlices + 1).collect()
    require(rows.length <= MaxSharedLockSlices,
      s"streamPartitionedDataset: batch $batchId touches more than " +
        s"$MaxSharedLockSlices distinct slices — repartition the stream " +
        "by coarser keys or batch less data")
    val parts: Set[Seq[String]] = rows.map(r => partitionBy.indices.map(i =>
      if (r.isNullAt(i)) null else r.getString(i)): Seq[String]).toSet
    if (parts.nonEmpty) {
      // grow the lease BEFORE writing — from here, overlapping backfills
      // and slice-scoped maintenance refuse (or queue behind) these slices
      val newParts = parts.filterNot(lock.info.slices.contains)
      if (newParts.nonEmpty) {
        lock.extendSlices(newParts, awaitMs = StreamExtendAwaitMs)
        // first touch invalidates the slice's recorded statistics:
        // appended rows may fall outside the recorded ranges. Strip is
        // conservative — no stats means the slice is read, never skipped.
        stripSliceStats(outDir, newParts, partitionBy, fs, conf)
      }
      faultHook("stream:pre-data")
      // idempotent install: stage, then move under deterministic names
      val staging = new org.apache.hadoop.fs.Path(rootPath,
        s".__stream_${streamKey}_b$batchId")
      if (fs.exists(staging)) fs.delete(staging, true)
      textLines(bt, partitionBy, dataCols, sep, naRep, "streamPartitionedDataset")
        .write.mode("overwrite")
        .partitionBy(partitionBy: _*).text(staging.toString)
      val prefix = s"part-s$streamKey-b$batchId-"
      // replay hygiene first: remove every file of a previous attempt of
      // THIS batch (the replayed offsets carry the same data, so the
      // touched-slice set is identical — deleting by prefix across it
      // covers every file the dead attempt could have installed)
      parts.foreach { raw =>
        val target = sliceLeafPath(rootPath, partitionBy, raw)
        try fs.listStatus(target).toSeq
          .filter(st => st.isFile && st.getPath.getName.startsWith(prefix))
          .foreach(st => fs.delete(st.getPath, false))
        catch { case _: java.io.FileNotFoundException => () }
      }
      faultHook("stream:pre-install")
      def stagedLeaves(d: org.apache.hadoop.fs.Path, rel: Seq[String])
          : Seq[(org.apache.hadoop.fs.Path, Seq[String])] = {
        val entries = fs.listStatus(d).toSeq.filterNot(st =>
          st.getPath.getName.startsWith("_") ||
            st.getPath.getName.startsWith("."))
        val dirs = entries.filter(_.isDirectory)
        if (dirs.isEmpty) Seq((d, rel))
        else dirs.flatMap(st => stagedLeaves(st.getPath, rel :+ st.getPath.getName))
      }
      stagedLeaves(staging, Nil).filter(_._2.nonEmpty).foreach { case (d, rel) =>
        val target = rel.foldLeft(rootPath)(
          (p, seg) => new org.apache.hadoop.fs.Path(p, seg))
        fs.mkdirs(target)
        val files = DatasetSidecar.sliceFiles(fs, d).map(_.getPath)
          .sortBy(_.getName)
        files.zipWithIndex.foreach { case (f, i) =>
          val dst = new org.apache.hadoop.fs.Path(target, f"$prefix$i%05d.txt")
          if (!fs.rename(f, dst)) throw new java.io.IOException(
            s"streamPartitionedDataset: could not install $f as $dst")
        }
      }
      fs.delete(staging, true)
    }
    faultHook("stream:pre-commit")
    atomicInstallJson(fs, conf, commitPath, JsonValue.write(
      JsonValue.JsonObject(scala.collection.immutable.ListMap(
        "lastBatchId" -> JsonValue.JsonNumber(batchId.toDouble)))))
  }

  /** Strip the recorded statistics of `parts` — inline sidecar entries
    * through a flip-serialized read-merge, sharded layouts by deleting
    * the touched leaves' shard files (a missing shard reads
    * conservatively). */
  private def stripSliceStats(outDir: String, parts: Set[Seq[String]],
                              partitionBy: Seq[String],
                              fs: org.apache.hadoop.fs.FileSystem,
                              conf: org.apache.hadoop.conf.Configuration): Unit = {
    graft.sources.StarTableSource.invalidateMetaCache(outDir)
    graft.sources.StarTableSource.readDatasetMeta(Seq(outDir)).foreach { m =>
      if (m.statsSharded) {
        val rootPath = new org.apache.hadoop.fs.Path(outDir)
        parts.foreach { raw =>
          val sp = new org.apache.hadoop.fs.Path(
            sliceLeafPath(rootPath, partitionBy, raw), SliceShardFile)
          if (fs.exists(sp)) fs.delete(sp, false)
        }
        graft.sources.StarTableSource.invalidateShardCache(outDir)
      }
      if (m.sliceStats.exists(s => parts.contains(s.partition)) ||
          m.fileStats.exists(s => parts.contains(s.partition)))
        // read-merge-install under the flip lock: re-read the THEN-CURRENT
        // sidecar and drop only OUR slices' entries (disjointness is the
        // shared-lease contract); flips serialize on the flip lock, so the
        // CAS can only trip on a lock bypasser racing the install itself
        DatasetLock.withFlipLock(outDir) { flipToken =>
          val cur = currentMeta(outDir)
          val s2 = cur.sliceStats.filterNot(s => parts.contains(s.partition))
          val f2 = cur.fileStats.filterNot(s => parts.contains(s.partition))
          if (s2.size != cur.sliceStats.size || f2.size != cur.fileStats.size)
            installSidecar(outDir, cur.copy(sliceStats = s2, fileStats = f2),
              expectCommit = Some(cur.commit), lockToken = Some(flipToken))
        }
    }
  }

  /** The codegen'd data-row rendering shared by [[writeDistributed]] and
    * [[writeDataset]]: one string column per output line, bit-faithful to
    * the driver-side writer's representation rules. */
  private def rowLines(t: StarTable, sep: String, naRep: String): DataFrame = {
    val cols = distributedCells(t, naRep)
    t.df.select(concat_ws(sep, cols: _*).as("value"))
  }

  /** Merge a [[writeDistributed]] output directory into one StarTable CSV
    * file: header first, then the part files streamed in name order (which
    * is partition order). Driver-side IO but STREAMED — constant memory, so
    * it merges outputs far larger than the driver heap; uses the Hadoop FS
    * API so the directory can live on any supported filesystem. */
  def mergeDistributed(outDir: String, targetFile: String): Unit = {
    val conf = graft.sources.StarTableSource.activeHadoopConf()
    val dir = new org.apache.hadoop.fs.Path(outDir)
    val fs = dir.getFileSystem(conf)
    val target = new org.apache.hadoop.fs.Path(targetFile)
    val out = fs.create(target, true)
    try {
      val header = fs.open(new org.apache.hadoop.fs.Path(outDir, "_header.txt"))
      try org.apache.hadoop.io.IOUtils.copyBytes(header, out, 65536, false)
      finally header.close()
      val parts = fs.listStatus(dir).toSeq
        .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
        .sortBy(_.getPath.getName)
      parts.foreach { p =>
        val in = fs.open(p.getPath)
        try org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, false)
        finally in.close()
        // text parts end without a trailing newline only when empty; the
        // text sink terminates every record, so no separator is needed
      }
    } finally out.close()
  }

  private def toJavaFormat(spec: String): String = "%" + spec
}
