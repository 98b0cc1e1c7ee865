package graft.io

import scala.collection.immutable.ListMap

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import JsonValue._

/** The on-disk format of a partitioned StarTable dataset's metadata tier,
  * owned in one place. Three JSON documents:
  *
  *  - [[DatasetMetaFile]], the root sidecar: schema, separator, commit
  *    counter and (inline layout) every slice's and file's statistics;
  *  - [[SliceShardFile]], one per leaf in the sharded layout: that slice's
  *    statistics and, for multi-file slices, its per-file entries;
  *  - `[[PendingMergePrefix]]<lease token>.<n>.json`, a shared-lease
  *    writer's staged merge intent, drained into the root sidecar under
  *    the flip lock.
  *
  * Each document has one encoder and one decoder here; the writers, the
  * reader and the maintenance passes go through them. The per-file
  * statistics kernel ([[fileStatsFrame]] + [[fileStatsOf]]) and the
  * leaf listing ([[sliceFiles]]) live here too, so every producer of
  * file entries computes them the same way. Encoders emit a fixed key
  * order (column stats sorted by column, destinations sorted, optional
  * keys omitted when empty): the bytes are part of the format. */
private[graft] object DatasetSidecar {

  val DatasetMetaFile = "_startable_dataset.json"

  /** Per-leaf statistics shard (sharded-stats layout): lives INSIDE each
    * `col=value` leaf directory, so it is (a) invisible to every data
    * listing (`_` prefix), (b) lazily loadable — planning reads only the
    * shards of slices that SURVIVED partition pruning, and (c) deleted
    * together with its slice by dynamic partition overwrite and
    * dropPartitions — stale stats cannot outlive the bytes they describe. */
  val SliceShardFile = "_startable_slice.json"

  /** Staged sidecar-merge intents: `_startable_pending.<leaseToken>.<n>
    * .json` files beside the sidecar (see
    * [[CsvWriter.applySidecarMergeBatched]]). */
  val PendingMergePrefix = "_startable_pending."

  /** Directory-level schema of a hive-partitioned StarTable dataset
    * (written by [[CsvWriter.writePartitionedDataset]]).
    *
    * `sep` is the separator the dataset was WRITTEN with — the reader's
    * default, so a non-default-sep dataset is still self-describing (a
    * reader option still wins). `sliceStats`: optional per-slice column
    * min/max/null statistics for data skipping (see [[SliceStats]]);
    * empty when the writer didn't record them (e.g. streaming
    * ingestion). `fileStats`: optional per-file entries (see
    * [[FileStats]]).
    *
    * `statsSharded`: the dataset's statistics live in per-leaf
    * [[SliceShardFile]] shards instead of inline here — `sliceStats`/
    * `fileStats` stay empty and readers load only the shards of slices
    * that survive partition pruning (see
    * [[graft.sources.StarTableSource.readSliceShards]]).
    *
    * `commit`: monotone counter bumped by every sidecar install — the
    * compare-and-swap token of the root flip (a mutating operation that
    * began at commit C refuses its own flip when the on-disk counter has
    * moved past C: another writer committed in between). 0 on
    * pre-round-12 sidecars.
    *
    * `lateCols`: data columns APPENDED by schema evolution after the
    * dataset was created (writePartitionedDataset's evolveSchema). Slices
    * written before an evolution hold SHORT rows the reader null-pads, and
    * their stats entries/shards lack the late columns — for exactly these
    * columns a missing per-slice stat provably means "every row null in
    * this slice" (all writer paths record stats for every data column
    * known at their write time), so pruning and metadata aggregates may
    * substitute ColStats(null, null, rows) instead of degrading to a
    * conservative scan forever after an evolution. A missing stat on a
    * NON-late column keeps the conservative treatment. */
  final case class DatasetMeta(name: String, destinations: Set[String],
                               cols: Seq[String], units: Seq[String],
                               partCols: Seq[String], partUnits: Seq[String],
                               sep: String = ";",
                               sliceStats: Seq[SliceStats] = Nil,
                               fileStats: Seq[FileStats] = Nil,
                               statsSharded: Boolean = false,
                               commit: Long = 0L,
                               lateCols: Seq[String] = Nil)

  /** Per-slice column statistics: `partition` aligns with
    * [[DatasetMeta.partCols]] (raw rendered values, null for the default
    * partition); `rows` is the slice's row count; per column: rendered
    * min/max (null when every value is null/NaN) and the null count
    * (NaN counts as null — that is how the reader surfaces NaN cells). */
  final case class SliceStats(partition: Seq[String], rows: Long,
                              stats: Map[String, ColStats])
  final case class ColStats(min: String, max: String, nulls: Long)

  /** Per-FILE column statistics (written by
    * [[graft.operators.Maintenance.clusterStarDataset]], which controls
    * file assignment, and by writes with multi-file slices): keyed by
    * (partition values, file BASENAME) — path roots/schemes don't enter
    * the key, and a rewritten slice's fresh basenames make stale entries
    * inert (conservative) rather than wrong. Same value semantics as
    * [[SliceStats]]. */
  final case class FileStats(partition: Seq[String], file: String, rows: Long,
                             stats: Map[String, ColStats])

  /** One leaf's statistics, the content of its [[SliceShardFile]]: the
    * slice entry plus per-file entries (empty for single-file slices —
    * the slice entry fully describes them). */
  final case class SliceShard(slice: SliceStats, files: Seq[FileStats])

  /** A staged sidecar merge: drop the slice entries of `strip` and the
    * file entries of `stripFiles`, then add `addSlices`/`addFiles` (each
    * covered by its strip set, so reapplication is idempotent). Applied
    * only while the `holder` lease is live. */
  final case class MergeIntent(holder: String,
                               strip: Set[Seq[String]],
                               stripFiles: Set[Seq[String]],
                               addSlices: Seq[SliceStats],
                               addFiles: Seq[FileStats])

  // ---- encoders ----------------------------------------------------------

  private def optStr(s: String): JsonValue =
    if (s == null) JsonNull else JsonString(s)

  private def strings(xs: Iterable[String]): JsonValue =
    JsonArray(xs.toVector.map(JsonString(_)))

  private def obj(fields: (String, JsonValue)*): JsonObject =
    JsonObject(ListMap(fields: _*))

  private def colStatsJson(stats: Map[String, ColStats]): JsonValue =
    obj(stats.toSeq.sortBy(_._1).map { case (c, cs) =>
      c -> (obj("min" -> optStr(cs.min), "max" -> optStr(cs.max),
        "nulls" -> JsonNumber(cs.nulls.toDouble)): JsonValue)
    }: _*)

  private def partitionJson(p: Seq[String]): JsonValue =
    JsonArray(p.toVector.map(optStr))

  private def sliceJson(s: SliceStats): JsonValue =
    obj("partition" -> partitionJson(s.partition),
      "rows" -> JsonNumber(s.rows.toDouble), "stats" -> colStatsJson(s.stats))

  /** A file entry; the shard form omits the partition (the shard's own). */
  private def fileJson(f: FileStats, withPartition: Boolean): JsonValue =
    obj((if (withPartition) Seq("partition" -> partitionJson(f.partition))
         else Nil) ++ Seq("file" -> JsonString(f.file),
      "rows" -> JsonNumber(f.rows.toDouble), "stats" -> colStatsJson(f.stats)): _*)

  def encodeSidecar(m: DatasetMeta): String =
    JsonValue.write(obj(Seq(
      "name" -> JsonString(m.name),
      "destinations" -> strings(m.destinations.toSeq.sorted),
      "columns" -> strings(m.cols),
      "units" -> strings(m.units),
      "partitionBy" -> strings(m.partCols),
      "partitionUnits" -> strings(m.partUnits),
      "sep" -> JsonString(m.sep),
      // stored as a JSON double on purpose (the sidecar's only number
      // type): exact to 2^53 commits — do NOT "fix" into a string, the
      // reader parses JsonNumber
      "commit" -> JsonNumber(m.commit.toDouble)) ++
      (if (!m.statsSharded) Nil else Seq("statsSharded" -> JsonBool(true))) ++
      (if (m.lateCols.isEmpty) Nil else Seq("lateColumns" -> strings(m.lateCols))) ++
      (if (m.sliceStats.isEmpty) Nil
       else Seq("sliceStats" -> JsonArray(m.sliceStats.toVector.map(sliceJson)))) ++
      (if (m.fileStats.isEmpty) Nil
       else Seq("fileStats" -> JsonArray(m.fileStats.toVector.map(fileJson(_, true))))): _*))

  def encodeShard(s: SliceShard): String =
    JsonValue.write(obj(Seq(
      "partition" -> partitionJson(s.slice.partition),
      "rows" -> JsonNumber(s.slice.rows.toDouble),
      "stats" -> colStatsJson(s.slice.stats)) ++
      (if (s.files.isEmpty) Nil
       else Seq("files" -> JsonArray(s.files.toVector.map(fileJson(_, false))))): _*))

  def encodeIntent(i: MergeIntent): String = {
    def tuples(ts: Set[Seq[String]]): JsonValue = JsonArray(ts.toVector
      .sortBy(_.map(v => if (v == null) "" else v).mkString("\u0000"))
      .map(partitionJson))
    JsonValue.write(obj(
      "holder" -> JsonString(i.holder),
      "strip" -> tuples(i.strip),
      "stripFiles" -> tuples(i.stripFiles),
      "sliceStats" -> JsonArray(i.addSlices.toVector.map(sliceJson)),
      "fileStats" -> JsonArray(i.addFiles.toVector.map(fileJson(_, true)))))
  }

  // ---- decoders ----------------------------------------------------------
  // Strict on shape: a decoder throws on anything the encoders cannot
  // have written, and [[read]] turns that into the loud, file-naming
  // refusal. Keys the format added over time are optional (an old
  // sidecar has no sep, stats or commit; an old intent has no stripFiles
  // and strips its files with `strip`).

  private def fail(what: String, v: JsonValue): Nothing =
    throw new IllegalArgumentException(s"$what expected, got $v")

  private[graft] def objOf(v: JsonValue): ListMap[String, JsonValue] = v match {
    case JsonObject(fs) => fs
    case other          => fail("object", other)
  }

  private[graft] def arrayOf(v: JsonValue): Vector[JsonValue] = v match {
    case JsonArray(vs) => vs
    case other         => fail("array", other)
  }

  private[graft] def stringOf(v: JsonValue): String = v match {
    case JsonString(s) => s
    case other         => fail("string", other)
  }

  private[graft] def longOf(v: JsonValue): Long = v match {
    case JsonNumber(n) => n.toLong
    case other         => fail("number", other)
  }

  private[graft] def doubleOf(v: JsonValue): Double = v match {
    case JsonNumber(n) => n
    case other         => fail("number", other)
  }

  private def nullableStringOf(v: JsonValue): String = v match {
    case JsonNull => null
    case other    => stringOf(other)
  }

  private def partitionOf(v: JsonValue): Seq[String] =
    arrayOf(v).map(nullableStringOf)

  private def colStatsOf(v: JsonValue): Map[String, ColStats] =
    objOf(v).map {
      case (c, cs: JsonObject) =>
        c -> ColStats(nullableStringOf(cs.fields("min")),
          nullableStringOf(cs.fields("max")), longOf(cs.fields("nulls")))
      case (c, other) => throw new IllegalArgumentException(
        s"column stats for '$c' is not an object: $other")
    }.toMap

  private def sliceOf(v: JsonValue): SliceStats = {
    val o = objOf(v)
    SliceStats(partitionOf(o("partition")), longOf(o("rows")),
      colStatsOf(o("stats")))
  }

  /** A file entry; the shard form takes its partition from the shard. */
  private def fileEntryOf(v: JsonValue, partition: Option[Seq[String]]): FileStats = {
    val o = objOf(v)
    FileStats(partition.getOrElse(partitionOf(o("partition"))),
      stringOf(o("file")), longOf(o("rows")), colStatsOf(o("stats")))
  }

  /** An optional array-valued key (absent or not an array reads empty). */
  private def entries(o: ListMap[String, JsonValue], k: String): List[JsonValue] =
    o.get(k) match {
      case Some(JsonArray(vs)) => vs.toList
      case _                   => Nil
    }

  def decodeSidecar(txt: String): DatasetMeta = {
    val o = objOf(JsonValue.parse(txt))
    def strs(k: String): Seq[String] = arrayOf(o(k)).map(stringOf)
    DatasetMeta(stringOf(o("name")), strs("destinations").toSet,
      strs("columns"), strs("units"), strs("partitionBy"), strs("partitionUnits"),
      sep = o.get("sep").collect { case JsonString(s) => s }.getOrElse(";"),
      sliceStats = entries(o, "sliceStats").map(sliceOf),
      fileStats = entries(o, "fileStats").map(fileEntryOf(_, None)),
      statsSharded = o.get("statsSharded").collect { case JsonBool(b) => b }
        .getOrElse(false),
      commit = o.get("commit").collect { case JsonNumber(n) => n.toLong }
        .getOrElse(0L),
      lateCols = entries(o, "lateColumns").map(stringOf))
  }

  def decodeShard(txt: String): SliceShard = {
    val o = objOf(JsonValue.parse(txt))
    val slice = sliceOf(JsonObject(o))
    SliceShard(slice, entries(o, "files").map(fileEntryOf(_, Some(slice.partition))))
  }

  def decodeIntent(txt: String): MergeIntent = {
    val o = objOf(JsonValue.parse(txt))
    def tuples(k: String): Set[Seq[String]] = arrayOf(o(k)).map(partitionOf).toSet
    val strip = tuples("strip")
    MergeIntent(stringOf(o("holder")), strip,
      if (o.contains("stripFiles")) tuples("stripFiles") else strip,
      entries(o, "sliceStats").map(sliceOf),
      entries(o, "fileStats").map(fileEntryOf(_, None)))
  }

  /** Read and decode one metadata document. A document that does not
    * decode fails LOUDLY with the file named — silently ignoring damaged
    * metadata would misread data or hide a writer bug behind slower
    * reads. `decode` may validate further under the same guard (the
    * shard reader's partition-vs-path integrity check); `fix` tells the
    * reader what to do about a refused file. A read error (a checksum
    * that no longer matches) is refused the same way; a missing file
    * propagates as is, since lock-free readers race the writers that
    * replace these files. */
  def read[A](fs: FileSystem, path: Path, op: String, what: String,
              fix: String = "repair or remove it")(decode: String => A): A =
    try {
      val in = fs.open(path)
      decode(try new String(in.readAllBytes(), "UTF-8") finally in.close())
    } catch {
      case e: java.io.FileNotFoundException => throw e
      case e: Exception =>
        throw new IllegalArgumentException(
          s"$op: unreadable $what $path (${e.getClass.getSimpleName}: " +
            s"${e.getMessage}); $fix", e)
    }

  // ---- per-file statistics kernel ----------------------------------------

  /** One row per input file of `paths` (header-less dataset lines split on
    * `sep`): the file (`__f`), then per data column `i` its min, max and
    * null count under the reader's cell semantics
    * ([[CsvWriter.parsedCellExpr]]), then the row count (`__rows`). One
    * distributed aggregate grouped by input file. */
  def fileStatsFrame(spark: SparkSession, paths: Seq[String], sep: String,
                     units: Seq[String]): DataFrame = {
    val cells = split(col("value"), java.util.regex.Pattern.quote(sep), -1)
      .as("__cs")
    val aggs = units.indices.flatMap { i =>
      val v = CsvWriter.parsedCellExpr(col("__cs"), i, units(i))
      Seq(min(v).as(s"__min_$i"), max(v).as(s"__max_$i"),
        count(when(v.isNull, 1)).as(s"__nulls_$i"))
    } :+ count(lit(1)).as("__rows")
    spark.read.text(paths: _*)
      .select(input_file_name().as("__f"), cells)
      .groupBy(col("__f")).agg(aggs.head, aggs.tail: _*)
  }

  /** The file of a [[fileStatsFrame]] row. `input_file_name` yields a
    * qualified URI; normalize it like the listings do. */
  def fileOf(r: Row): Path =
    try new Path(new java.net.URI(r.getString(0)))
    catch { case _: Exception => new Path(r.getString(0)) }

  /** A [[fileStatsFrame]] row as the [[FileStats]] of partition `raw`, its
    * bounds rendered exactly as the file's cells are. Pure and
    * executor-safe. */
  def fileStatsOf(r: Row, raw: Seq[String], cols: Seq[String],
                  units: Seq[String]): FileStats =
    FileStats(raw, fileOf(r).getName, r.getLong(1 + cols.size * 3),
      cols.indices.map { i =>
        cols(i) -> ColStats(CsvWriter.renderStat(r.get(1 + i * 3)),
          CsvWriter.renderStat(r.get(2 + i * 3)), r.getLong(3 + i * 3))
      }.toMap)

  /** The visible data files of one slice leaf directory (hidden `_`/`.`
    * names skipped; none when the leaf does not exist). */
  def sliceFiles(fs: FileSystem, leaf: Path): Seq[FileStatus] =
    try fs.listStatus(leaf).toSeq.filter(s => s.isFile &&
      !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
    catch { case _: java.io.FileNotFoundException => Nil }
}
