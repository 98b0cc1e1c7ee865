package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.io.DatasetSidecar
import graft.io.DatasetSidecar.{ColStats, DatasetMeta, FileStats, SliceShard, SliceStats}
import graft.model.{StarTable, UnitIndicator}
import graft.parse.{BlockType, Blocks, ParsedTable}

/** DataSource V2 connector for StarTable block-CSV files:
  *
  * {{{
  *   spark.read.format("startable")
  *     .option("table", "places_to_go")   // block name; default: first table
  *     .option("sep", ";")
  *     .load("/data/inputs")              // a file, or a directory of StarTable files
  * }}}
  *
  * Spark-native integration points, mirroring what the built-in file
  * sources do:
  *  - schema inference parses ONE table header driver-side (early block
  *    filter: non-matching tables cost a top-left-cell peek), with units in
  *    `StructField.metadata` (key `startable.unit`);
  *  - one `InputPartition` per file — a directory of StarTable inputs
  *    parses fully in parallel across executors;
  *  - column pruning is pushed into the parse: unprojected columns skip
  *    their per-cell type coercion entirely (`SupportsPushDownRequiredColumns`).
  *
  * Paths are resolved through the Hadoop FileSystem API so the same code
  * reads local, HDFS, or object-store URIs on a cluster.
  */
class StarTableSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "startable"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val tableName = Option(options.get("table"))
    val sep = Option(options.get("sep")).getOrElse(";")
    // Hive-partitioned dataset root? Schema comes from the directory-level
    // sidecar: data columns first, partition columns last (Spark file-source
    // convention).
    StarTableSource.readDatasetMeta(StarTableSource.paths(options)) match {
      case Some(m) =>
        tableName.foreach(n => require(n == m.name,
          s"startable source: partitioned dataset holds table '${m.name}', not '$n'"))
        return StructType(
          (m.cols ++ m.partCols).zip(m.units ++ m.partUnits).map { case (n, u) =>
            StructField(n, UnitIndicator.sparkType(u), nullable = true,
              metadata = new MetadataBuilder()
                .putString(StarTable.UnitMetaKey, u).build())
          })
      case None => ()
    }
    val files = StarTableSource.resolveFiles(StarTableSource.paths(options))
    require(files.nonEmpty, "startable source: no input files found")
    // Header-only streaming scan first: inference reads O(header) bytes of
    // the file — it must never pull a 100 GB table into the driver (the
    // old whole-file read also hard-failed past 2 GB on the array limit).
    // Layouts it can't settle (transposed, truncated) fall back to the
    // full block parse, itself streaming.
    val header = StarTableSource.parseTableHeader(files.head, tableName, sep)
      .orElse(StarTableSource.parseNamedTable(files.head, tableName, sep)
        .map(p => (p.columnNames, p.units)))
    header match {
      case Some((cols, units)) =>
        StructType(cols.zip(units).map { case (n, u) =>
          StructField(n, UnitIndicator.sparkType(u), nullable = true,
            metadata = new MetadataBuilder()
              .putString(StarTable.UnitMetaKey, u).build())
        })
      case None =>
        throw new IllegalArgumentException(
          s"startable source: table ${tableName.getOrElse("<first>")} not found in ${files.head}")
    }
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new StarTableTable(schema, properties.asScala.toMap)
}

private[sources] class StarTableTable(schema: StructType, props: Map[String, String])
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = props.getOrElse("table", "<first>")
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // catalog-registered tables (CREATE TABLE ... USING startable) deliver
    // path/sep/table through the TABLE properties, not the per-scan
    // options — merge them (scan options win) so the SQL DDL surface scans
    // exactly like the reader API. Keys normalize to lower case on BOTH
    // sides: the catalog preserves the user's option-key case, and a raw
    // mixed-case merge would leave two survivors for one logical key.
    val merged = new java.util.HashMap[String, String]()
    props.foreach { case (k, v) =>
      merged.put(k.toLowerCase(java.util.Locale.ROOT), v)
    }
    options.entrySet().forEach(e =>
      merged.put(e.getKey.toLowerCase(java.util.Locale.ROOT), e.getValue))
    new StarTableScanBuilder(schema, new CaseInsensitiveStringMap(merged))
  }
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new StarTableWriteBuilder(info, props)
}

private[sources] class StarTableScanBuilder(fullSchema: StructType,
                                            options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {
  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var limit: Option[Int] = None
  private var pushedAgg: Option[(StructType, Seq[Array[Any]])] = None

  /** COUNT(*) / MIN(col) / MAX(col) served from sidecar slice statistics —
    * metadata-only: these aggregates over a 100 TB dataset answer from the
    * listing + sidecar without opening a data file (the parquet
    * footer-aggregate analog). Conditions, all load-bearing:
    *  - grouping, if any, is over PARTITION columns only (each group is
    *    then a union of whole slices — SELECT lang, count(*) ... GROUP BY
    *    lang over 100 TB is a listing + sidecar read), and every aggregate
    *    expression is a CountStar or a Min/Max over a single column (Spark
    *    only offers aggregate pushdown when every filter was fully
    *    consumed; data-column filters always stay residual, so their
    *    plans never reach here — PARTITION-only exact filters are
    *    consumed by pushFilters and prune the listing this aggregate
    *    folds over, so "COUNT(*) WHERE day = X" is also metadata-only);
    *  - the roots are ONE partitioned dataset whose sidecar carries slice
    *    statistics, EVERY LISTED slice has a stats entry, and every
    *    Min/Max bound re-parses cleanly — a stripped entry (crash-window
    *    protocol, stats-less backfill), a stats-less dataset (streamed,
    *    capped, collectStats=false), or an unparsable bound falls back to
    *    the scanning plan. Entries for UNLISTED slices (dropPartitions)
    *    are ignored: the listing is the authority on what exists.
    * Bound semantics are reader-faithful by construction: slice min/max
    * were computed with the reader's null rules (NaN/Infinity/naRep →
    * null, excluded — exactly SQL MIN/MAX's null treatment) and re-parse
    * through the same unit parsers as data cells, so the metadata answer
    * equals the scanning answer cell for cell. An all-null column yields
    * null, like the scan. Complete pushdown: every group's row is its
    * final answer, so Spark plans no aggregate (and no shuffle) over the
    * scan. Spark asks [[supportCompletePushDown]] before
    * [[pushAggregation]], so the fold runs once and both answer from it;
    * an aggregate that does not fold is refused by both, and the
    * scanning plan runs. */
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    foldOnce(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean = {
    pushedAgg = foldOnce(agg)
    pushedAgg.isDefined
  }

  private var folded: Option[(Aggregation, Option[(StructType, Seq[Array[Any]])])] = None

  private def foldOnce(agg: Aggregation): Option[(StructType, Seq[Array[Any]])] =
    folded match {
      case Some((a, rows)) if a eq agg => rows
      case _ =>
        val rows = fold(agg)
        folded = Some((agg, rows))
        rows
    }

  /** The aggregate's rows from slice statistics, or None to scan. */
  private def fold(agg: Aggregation): Option[(StructType, Seq[Array[Any]])] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    // pushed PARTITION filters do not block the metadata path: pushFilters
    // consumed them completely (no residual), so Spark still offers the
    // aggregate, and the listing below is pruned by exactly the filters
    // the scanning plan would prune by — "COUNT(*) WHERE day = X" answers
    // from the pruned listing + sidecar. Data-column filters always stay
    // residual, so their plans never reach here.
    if (limit.isDefined) return None
    if (agg.aggregateExpressions.isEmpty) return None
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case r: org.apache.spark.sql.connector.expressions.NamedReference
        if r.fieldNames.length == 1 => Some(r.fieldNames.head)
      case _ => None
    }
    // SHAPE checks first — they are pure and the listing below is not
    // (minutes on a 100k-slice object store): an unservable aggregate
    // (sum/avg, expression-valued min) must refuse before any IO, or the
    // fallback scan pays the listing TWICE
    {
      import org.apache.spark.sql.connector.expressions.aggregate.{CountStar => CS, Max => Mx, Min => Mn}
      val shapesOk = agg.aggregateExpressions.forall {
        case _: CS => true
        case m: Mn => colOf(m.column).isDefined
        case m: Mx => colOf(m.column).isDefined
        case _     => false
      } && agg.groupByExpressions.forall(colOf(_).isDefined)
      if (!shapesOk) return None
    }
    val conf = StarTableSource.activeHadoopConf()
    val roots = StarTableSource.paths(options)
    StarTableSource.readDatasetMeta(roots, conf)
      .filter(m => m.sliceStats.nonEmpty || m.statsSharded)
      .flatMap { m =>
        // GROUP BY is servable only over PARTITION columns: each group is
        // then a union of whole slices and every aggregate below folds
        // within its group's slice entries (SELECT lang, count(*) ... GROUP
        // BY lang over 100 TB = a listing + sidecar read)
        val groupCols: Seq[String] =
          agg.groupByExpressions.toSeq.map(colOf).map {
            case Some(c) if m.partCols.contains(c) => c
            case _ => return None
          }
        // defensive: only filters pushFilters could have CONSUMED may be
        // honored here (partition-exact); anything else falls back — a
        // residual filter reaching this point would otherwise be applied
        // twice or, worse, not at all
        if (!pushed.forall(f => f.references.forall(m.partCols.contains) &&
            StarTableSource.exactFilter(f))) return None
        val listed0 = StarTableSource.listPartitionedFiles(roots, m.partCols,
          conf,
          partPrune =
            if (pushed.isEmpty) None else Some((m.partUnits, pushed.toSeq)))
        val listed = StarTableSource.prunePartitionListing(
          listed0, m.partCols, m.partUnits, pushed.toSeq)
        StarTableSource.filesPruned.add(listed0.size - listed.size)
        val parts = listed.map(_._3).distinct
        // sharded layout: the byPart map loads from exactly the PRUNED
        // listing's shards — "COUNT(*) WHERE day = X" over a 100k-slice
        // dataset reads the shards of day X only
        val byPart: Map[Seq[String], SliceStats] =
          if (m.statsSharded)
            StarTableSource.readSliceShards(
              listed.map(f =>
                (new org.apache.hadoop.fs.Path(f._1).getParent.toString,
                  f._3)).distinct,
              conf).map { case (raw, sh) => raw -> sh.slice }
          else m.sliceStats.map(s => s.partition -> s).toMap
        // empty listing → fall back: it holds no group, so the fold would
        // emit no row where a COUNT of an empty table is one row of 0 —
        // the ordinary scan over zero files gets that right
        if (parts.isEmpty || !parts.forall(byPart.contains)) None
        else {
          val fixer = new graft.parse.ParseFixer()
          /** Fold one bound over one GROUP's slices: null bounds (all-null
            * slices, default-partition values) are skipped like SQL MIN/MAX
            * skips nulls; any unparsable bound aborts the pushdown. A
            * PARTITION column's bounds come from the group's listed
            * partition values themselves — every listed slice holds ≥1 row
            * of its value. Some(None) = servable, value null. */
          def bound(c: String, isMin: Boolean,
                    gParts: Seq[Seq[String]]): Option[Option[Any]] = {
            val i = m.cols.indexOf(c)
            val pi = m.partCols.indexOf(c)
            if (i < 0 && pi < 0) return None // unknown column: fall back
            val unit = if (i >= 0) m.units(i) else m.partUnits(pi)
            val p = graft.parse.ColumnParsers.cellParser(unit, fixer)
            val raw: Seq[String] =
              if (pi >= 0) gParts.map(_(pi)).distinct
              else {
                val perSlice = gParts.map(byPart).map(_.stats.get(c).map(cs =>
                  if (isMin) cs.min else cs.max))
                // a slice entry missing the stat: for a LATE column
                // (schema evolution) that provably means all-null in the
                // slice — it contributes no bound, exactly like a recorded
                // all-null slice; any other missing stat falls back
                if (perSlice.exists(_.isEmpty) && !m.lateCols.contains(c))
                  return None
                perSlice.flatten
              }
            val vals = scala.collection.mutable.ArrayBuffer.empty[Any]
            raw.foreach { s =>
              if (s != null) {
                val v = try p(s) catch { case _: Exception => return None }
                if (v == null) return None // bound didn't survive re-parse
                vals += v
              }
            }
            if (vals.isEmpty) Some(None)
            else Some(Some(vals.reduce { (a, b) =>
              StarTableSource.cmp(a, b) match {
                case Some(x) => if ((x <= 0) == isMin) a else b
                case None    => return None // mixed/unorderable: fall back
              }
            }))
          }
          // output schema: group columns first (Spark's pushed-aggregate
          // contract), then one field per aggregate expression
          val groupIdx = groupCols.map(m.partCols.indexOf)
          val groupFields = groupCols.map(c =>
            StructField(s"grp_$c", fullSchema(c).dataType))
          val aggFields: Seq[Option[StructField]] =
            agg.aggregateExpressions.toSeq.map {
              case _: CountStar =>
                Some(StructField("count_star", LongType, nullable = false))
              case mn: Min => colOf(mn.column).map(c =>
                StructField(s"min_$c", fullSchema(c).dataType))
              case mx: Max => colOf(mx.column).map(c =>
                StructField(s"max_$c", fullSchema(c).dataType))
              case _ => None
            }
          if (aggFields.exists(_.isEmpty)) None
          else {
            // one output row per group (the whole dataset = one group when
            // no GROUP BY was pushed); deterministic group order
            val groups: Seq[(Seq[String], Seq[Seq[String]])] =
              parts.groupBy(p => groupIdx.map(p(_))).toSeq
                .sortBy(_._1.map(v => if (v == null) "\u0000" else v)
                  .mkString(""))
            val rows: Seq[Option[Array[Any]]] = groups.map { case (key, gp) =>
              val keyVals: Seq[Option[Any]] =
                key.zip(groupIdx).map { case (rawV, gi) =>
                  if (rawV == null) Some(null)
                  else {
                    val p = graft.parse.ColumnParsers.cellParser(
                      m.partUnits(gi), fixer)
                    val v = try p(rawV) catch { case _: Exception => null }
                    if (v == null) None // unparsable key: fall back
                    else Some(StarTableSource.toCatalyst(v))
                  }
                }
              val aggVals: Seq[Option[Any]] =
                agg.aggregateExpressions.toSeq.map {
                  case _: CountStar =>
                    Some(gp.map(byPart).map(_.rows).sum: Any)
                  case mn: Min => colOf(mn.column).flatMap(c =>
                    bound(c, isMin = true, gp).map(v =>
                      StarTableSource.toCatalyst(v.orNull)))
                  case mx: Max => colOf(mx.column).flatMap(c =>
                    bound(c, isMin = false, gp).map(v =>
                      StarTableSource.toCatalyst(v.orNull)))
                  case _ => None
                }
              if ((keyVals ++ aggVals).exists(_.isEmpty)) None
              else Some((keyVals ++ aggVals).map(_.get).toArray)
            }
            if (rows.exists(_.isEmpty)) None
            else Some((StructType(groupFields ++ aggFields.flatten),
              rows.flatten))
          }
        }
      }
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Limit pushdown INTO the parse: each reader stops consuming its input
    * after `limit` rows, so `.limit(n)` over a huge StarTable file parses
    * ~n rows per partition instead of the whole file. Spark only offers
    * the limit when no residual filter sits between it and the scan
    * (data-column filters always remain residual, so their plans never
    * push a limit here; consumed partition filters are slice-exact —
    * every row a kept file yields satisfies them — so a limit above them
    * caps only satisfying rows), and `isPartiallyPushed` stays true (the
    * default): Spark
    * re-applies the global limit, the scan cap is purely a work bound. */
  override def pushLimit(l: Int): Boolean = {
    limit = Some(l)
    true
  }

  /** Predicate pushdown INTO the parse — the connector-layer analog of the
    * reference's early block filter. Supported predicates (comparisons on
    * text/number/onoff columns) are evaluated on parsed cell values before
    * any row materialization, and a block whose header is CONTRADICTED by a
    * pushed null-rejecting predicate (the filtered column isn't in the
    * block at all) is skipped without touching its rows. ALL filters are
    * also returned as residual: Spark re-evaluates them post-scan, so the
    * parse-level evaluation is a pruning fast path, never the correctness
    * authority (same contract as parquet row-group skipping). */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(StarTableSource.supportedFilter(fullSchema))
    // Partition-only filters on a DATASET read are consumed COMPLETELY
    // (not returned as residual): partition pruning evaluates them on the
    // slice's parsed partition value — constant for every row of the slice
    // — so a kept slice satisfies the filter row-for-row and a dropped
    // slice holds no satisfying row. Only [[StarTableSource.exactFilter]]
    // shapes qualify (evalFilter verdict == Spark's verdict, exactly).
    // The payoff is plan-shaped: with no residual Filter between the
    // Aggregate and the scan, Spark OFFERS aggregate pushdown, so
    // "COUNT(*) WHERE day = '2026-08-15'" — the most common probe on a
    // partitioned dataset — becomes a metadata read (pushAggregation
    // below). Everything else stays residual (stats-based skipping is
    // best-effort, Spark re-checks).
    val partCols = StarTableSource.readDatasetMeta(
        StarTableSource.paths(options), StarTableSource.activeHadoopConf())
      .map(_.partCols.toSet).getOrElse(Set.empty[String])
    val consumed = pushed.filter(f => partCols.nonEmpty &&
      f.references.forall(partCols.contains) &&
      StarTableSource.exactFilter(f)).toSet
    filters.filterNot(consumed.contains)
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = {
    // option validation stays AHEAD of the metadata-count fast path: a bad
    // reader option must refuse identically whether or not the aggregate
    // pushed (the user asked for something malformed either way)
    val maxSplitBytes = Option(options.get("maxSplitBytes")).map(_.toLong)
      .getOrElse(128L * 1024 * 1024)
    require(maxSplitBytes > 0,
      s"startable source: maxSplitBytes must be positive, got $maxSplitBytes")
    pushedAgg.foreach { case (schema, rows) =>
      return new StarMetaAggScan(schema, rows)
    }
    // the session's Hadoop configuration, serialized once at planning time
    // so executor-side readers see the same credentials/FS settings
    val confS = new org.apache.spark.util.SerializableConfiguration(
      StarTableSource.activeHadoopConf())
    val roots = StarTableSource.paths(options)
    val dataset = StarTableSource.readDatasetMeta(roots, confS.value)
    new StarTableScan(
      if (dataset.isDefined) roots
      else StarTableSource.resolveFiles(roots, confS.value),
      Option(options.get("table")),
      // a dataset is self-describing: its sidecar records the separator it
      // was written with; an explicit reader option still wins
      Option(options.get("sep")).orElse(dataset.map(_.sep)).getOrElse(";"),
      Option(options.get("failFast")).exists(_.toBoolean),
      Option(options.get("assumeSingleTable")).exists(_.toBoolean),
      maxSplitBytes,
      fullSchema, required, pushed, limit, dataset, confS,
      columnarEnabled =
        Option(options.get("columnar")).forall(_.toBoolean),
      maxFilesPerTrigger =
        Option(options.get("maxFilesPerTrigger")).map { s =>
          val n = s.toInt
          require(n > 0,
            s"startable source: maxFilesPerTrigger must be positive, got $n" +
              " (0 would stall the stream forever)")
          n
        },
      logCompactInterval =
        Option(options.get("logCompactInterval")).map { s =>
          val n = s.toInt
          require(n > 0,
            s"startable source: logCompactInterval must be positive, got $n")
          n
        }.getOrElse(10),
      maxFileAgeMs =
        Option(options.get("maxFileAgeMs")).map { s =>
          val n = s.toLong
          require(n > 0,
            s"startable source: maxFileAgeMs must be positive, got $n")
          n
        })
  }
}

/** Metadata-only aggregate scan (COUNT(*)/MIN/MAX, optionally grouped by
  * partition columns, from slice statistics): one partition emitting each
  * group's final row (see [[StarTableScanBuilder.pushAggregation]]).
  * Values arrive already in Catalyst internal form. */
private[sources] class StarMetaAggScan(schema: StructType, rows: Seq[Array[Any]])
    extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"StarMetaAggScan(${schema.fieldNames.mkString(", ")} from slice statistics)"
  override def planInputPartitions(): Array[InputPartition] =
    Array(StarMetaAggPartition(rows))
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private val it = p.asInstanceOf[StarMetaAggPartition].rows.iterator
          private var cur: Array[Any] = _
          override def next(): Boolean =
            if (it.hasNext) { cur = it.next(); true } else false
          override def get(): InternalRow = new GenericInternalRow(cur)
          override def close(): Unit = ()
        }
    }
}

private[sources] case class StarMetaAggPartition(rows: Seq[Array[Any]])
    extends InputPartition

private[sources] class StarTableScan(files: Seq[String], tableName: Option[String],
                                     sep: String, failFast: Boolean,
                                     assumeSingleTable: Boolean,
                                     maxSplitBytes: Long,
                                     fullSchema: StructType, required: StructType,
                                     pushed: Array[Filter], limit: Option[Int],
                                     dataset: Option[DatasetMeta] = None,
                                     confS: org.apache.spark.util.SerializableConfiguration =
                                       new org.apache.spark.util.SerializableConfiguration(
                                         new org.apache.hadoop.conf.Configuration()),
                                     columnarEnabled: Boolean = true,
                                     maxFilesPerTrigger: Option[Int] = None,
                                     logCompactInterval: Int = 10,
                                     maxFileAgeMs: Option[Long] = None)
    extends Scan with Batch with SupportsReportStatistics {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Streaming read (micro-batch file discovery) — partitioned datasets
    * only: the sidecar supplies the schema upfront and the streaming sink
    * commits immutable files, the two properties incremental discovery
    * needs. Plain files/directories refuse loudly. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    val m = dataset.getOrElse(throw new UnsupportedOperationException(
      "startable source: streaming reads require a partitioned dataset " +
        "directory (the _startable_dataset.json layout); plain StarTable " +
        "files have no incremental-discovery contract"))
    new StarTableMicroBatchStream(files, m, checkpointLocation, sep, failFast,
      fullSchema, required, pushed, maxSplitBytes, maxFilesPerTrigger, confS,
      logCompactInterval, maxFileAgeMs)
  }

  /** Partitioned-dataset file inventory: (path, length, raw partition
    * values aligned with meta.partCols), AFTER partition pruning — pushed
    * filters whose references are all partition columns are evaluated
    * against the path-parsed values and non-matching files are never
    * opened (the hive-partition analog of parquet partition pruning). */
  private lazy val prunedDatasetFiles: Seq[(String, Long, Seq[String])] =
    dataset match {
      case None => Nil
      case Some(m) =>
        val partFilters = pushed.filter(_.references.forall(m.partCols.contains))
        // partition filters prune at TWO tiers: inside the walk itself
        // (contradicted directories are never listed — a filtered probe's
        // listing cost is the matching subtree) and, as the authority,
        // over the listed files below
        val all = StarTableSource.listPartitionedFiles(files, m.partCols,
          confS.value,
          partPrune =
            if (partFilters.isEmpty) None
            else Some((m.partUnits, partFilters.toSeq)))
        val afterPart = if (partFilters.isEmpty) all
        else {
          val kept = StarTableSource.prunePartitionListing(
            all, m.partCols, m.partUnits, partFilters.toSeq)
          StarTableSource.filesPruned.add(all.size - kept.size)
          kept
        }
        // Slice-level DATA skipping from sidecar statistics — the
        // parquet-footer analog: a pushed predicate on a NON-partition
        // column whose per-slice min/max range it contradicts skips every
        // file of that slice unopened. Conservative by construction: a
        // slice without a stats entry (e.g. streaming-appended) is read,
        // a type-mismatched comparison is read, and Spark re-applies all
        // pushed filters as residuals either way.
        val contentFilters =
          pushed.filterNot(_.references.forall(m.partCols.contains))
        if (contentFilters.isEmpty ||
            (m.sliceStats.isEmpty && m.fileStats.isEmpty && !m.statsSharded))
          afterPart
        else {
          // sharded layout: load only the shards of slices that SURVIVED
          // partition pruning — skipping metadata IO scales with slices
          // touched, not dataset size (a missing shard means "no stats":
          // the slice is read, never skipped)
          val shards: Map[Seq[String], SliceShard] =
            if (!m.statsSharded) Map.empty
            else StarTableSource.readSliceShards(
              afterPart.map(f =>
                (new org.apache.hadoop.fs.Path(f._1).getParent.toString,
                  f._3)).distinct,
              confS.value)
          val statsByPart: Map[Seq[String], SliceStats] =
            if (m.statsSharded)
              shards.map { case (raw, sh) => raw.toList -> sh.slice }
            else m.sliceStats.map(s => s.partition.toList -> s).toMap
          // per-FILE stats (clusterStarDataset output): finer than the
          // slice — within a clustered slice, a range predicate keeps
          // only the files whose sorted key range intersects it
          val statsByFile: Map[(Seq[String], String), FileStats] =
            if (m.statsSharded)
              shards.flatMap { case (raw, sh) =>
                sh.files.map(fe => (raw.toList: Seq[String], fe.file) -> fe)
              }
            else m.fileStats.map(s => (s.partition.toList, s.file) -> s).toMap
          val fixer = new graft.parse.ParseFixer()
          val parseByCol: Map[String, Any => Any] =
            m.cols.zip(m.units).map { case (c, u) =>
              c -> graft.parse.ColumnParsers.cellParser(u, fixer)
            }.toMap
          val late = m.lateCols.toSet
          val kept = afterPart.filter { case (path, _, raw) =>
            val sliceOk = statsByPart.get(raw.toList) match {
              case Some(st) => !contentFilters.exists(f =>
                StarTableSource.sliceContradicts(f, st, parseByCol, late))
              case None => true
            }
            sliceOk && {
              val base = new org.apache.hadoop.fs.Path(path).getName
              statsByFile.get((raw.toList, base)) match {
                case Some(fst) => !contentFilters.exists(f =>
                  StarTableSource.statsContradict(f, fst.rows, fst.stats,
                    parseByCol, late))
                case None => true
              }
            }
          }
          StarTableSource.filesPruned.add(afterPart.size - kept.size)
          StarTableSource.filesSkippedByStats.add(afterPart.size - kept.size)
          kept
        }
    }

  /** Size statistics from file lengths (the same proxy the built-in text
    * sources use). Without this a DSv2 scan reports defaultSizeInBytes
    * (effectively infinite), so a small StarTable dimension table could
    * NEVER be auto-broadcast — every join against it would shuffle the
    * fact side. Text bytes upper-bound the projected row width, so a
    * too-big estimate can only suppress a broadcast, never OOM one. For a
    * partitioned dataset the estimate reflects the PRUNED file set, so a
    * slice-selecting join sees the slice's size, not the dataset's. */
  override def estimateStatistics(): Statistics = new Statistics {
    private val bytes: Long =
      if (dataset.isDefined) prunedDatasetFiles.map(_._2).sum
      else {
        val conf = confS.value
        files.map { f =>
          val p = new org.apache.hadoop.fs.Path(f)
          try p.getFileSystem(conf).getFileStatus(p).getLen
          catch { case _: java.io.IOException => 0L }
        }.sum
      }
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(math.max(bytes, 1L))
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.empty()
  }

  /** One partition per file — except that with `assumeSingleTable=true`
    * (the caller's explicit contract that each file holds exactly ONE
    * row-major table whose header opens the file — the mergeDistributed /
    * DSv2-write output shape) a file whose data region exceeds
    * `maxSplitBytes` is planned as MULTIPLE byte-range partitions, the
    * Hadoop line-split convention: a 100 GB merged StarTable file parses
    * across the cluster instead of serializing onto one task. Files whose
    * head can't be split safely (transposed marker, wrong table name,
    * oversized header) fall back to the whole-file reader. */
  override def planInputPartitions(): Array[InputPartition] = planned

  private lazy val planned: Array[InputPartition] = dataset match {
    case Some(m) =>
      // header-less data files under k=v directories: every file is
      // line-splittable from byte 0, so large slices also byte-range
      // split; partition values ride the partition spec and are appended
      // as constants by the reader
      prunedDatasetFiles.flatMap { case (path, len, raw) =>
        val spec = m.partCols.lazyZip(m.partUnits).lazyZip(raw)
          .map((c, u, r) => (c, u, r))
        // same per-file split-count cap as planSplits: a tiny
        // maxSplitBytes must not plan millions of partitions per slice
        val eff = math.max(maxSplitBytes,
          math.ceil(len.toDouble / 10000).toLong)
        val n = math.max(1, math.ceil(len.toDouble / eff).toInt)
        (0 until n).map(k => StarFileSplitPartition(path,
          k * eff, math.min((k + 1L) * eff, len), 0L,
          m.cols, m.units, spec): InputPartition)
      }.toArray
    case None =>
      files.flatMap { f =>
        if (!assumeSingleTable) Seq(StarFilePartition(f): InputPartition)
        else StarTableSource.planSplits(f, tableName, sep, maxSplitBytes,
            confS.value)
          .getOrElse(Seq(StarFilePartition(f)))
      }.toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new StarTableReaderFactory(tableName, sep, failFast, fullSchema, required,
      pushed, limit, confS,
      // Columnar (vectorized) reads only when EVERY planned partition is a
      // split partition (Spark requires scan-wide uniformity): always true
      // for partitioned datasets, and true for assumeSingleTable files
      // whose every member byte-range split (a plain directory mixing
      // whole-file readers falls back). Pushed limits use the row-reader
      // cap.
      columnar = limit.isEmpty && columnarEnabled &&
        required.fields.forall(f =>
          StarColumnarSplitReader.supportedType(f.dataType)) &&
        planned.nonEmpty &&
        planned.forall(_.isInstanceOf[StarFileSplitPartition]))
  // surface the pushdown in explain() so plans are auditable, mirroring the
  // built-in file sources' "PushedFilters: [...]" line
  override def description(): String =
    s"startable table=${tableName.orElse(dataset.map(_.name)).getOrElse("<first>")} " +
      s"ReadSchema: ${required.catalogString}, " +
      s"PushedFilters: [${pushed.mkString(", ")}]" +
      limit.map(l => s", PushedLimit: $l").getOrElse("") +
      dataset.map(m => s", PartitionFilters: [${pushed
        .filter(_.references.forall(m.partCols.contains)).mkString(", ")}]")
        .getOrElse("")
}

private[sources] case class StarFilePartition(path: String) extends InputPartition

/** One byte range of a single-table file's data region. The header's
  * column names/units ride along so every reader types its cells without
  * re-reading the head. Ownership follows the Hadoop line-split
  * convention: a reader with start > dataStart discards its first
  * (possibly partial) line, then emits lines whose start offset is ≤ end;
  * the next reader's discard picks up exactly where this one stopped —
  * every line parsed exactly once regardless of where boundaries fall.
  *
  * `partitionSpec`: hive-partition constants riding the split — (column,
  * unit, raw path value or null) per partition column; empty for plain
  * single-table splits. */
private[sources] case class StarFileSplitPartition(
    path: String, start: Long, end: Long, dataStart: Long,
    columnNames: Seq[String], units: Seq[String],
    partitionSpec: Seq[(String, String, String)] = Nil) extends InputPartition

private[sources] class StarTableReaderFactory(tableName: Option[String], sep: String,
                                              failFast: Boolean,
                                              fullSchema: StructType, required: StructType,
                                              pushed: Array[Filter],
                                              limit: Option[Int] = None,
                                              confS: org.apache.spark.util.SerializableConfiguration =
                                                new org.apache.spark.util.SerializableConfiguration(
                                                  new org.apache.hadoop.conf.Configuration()),
                                              columnar: Boolean = false)
    extends PartitionReaderFactory {
  override def supportColumnarReads(partition: InputPartition): Boolean =
    columnar && partition.isInstanceOf[StarFileSplitPartition]

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    partition match {
      case sp: StarFileSplitPartition =>
        new StarColumnarSplitReader(sp, sep, failFast, required, pushed,
          confS.value)
      case other => throw new IllegalStateException(
        s"columnar read requested for non-split partition $other")
    }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case sp: StarFileSplitPartition =>
        StarTableSource.capped(limit,
          new StarSplitReader(sp, sep, failFast, fullSchema, required, pushed,
            confS.value))
      case fp: StarFilePartition =>
        StarTableSource.capped(limit, createWholeFileReader(fp.path))
    }

  private def createWholeFileReader(path: String): PartitionReader[InternalRow] = {
    new PartitionReader[InternalRow] {
      private val rows: Iterator[InternalRow] =
        StarTableSource.parseNamedTable(path, tableName, sep, failFast,
            confS.value) match {
          case None => Iterator.empty
          case Some(p) =>
            // Per-file schema-drift validation against the inferred (or
            // user-supplied) schema: a drifted file is an ERROR under
            // failFast (task failure naming file and difference) and a
            // WARNING under permissive reads — where the by-name lookup
            // below null-pads missing columns and drops extras, the
            // documented permissive reshaping. Silent reshaping was the
            // round-2 behavior; drift is now always surfaced.
            StarTableSource.validateSchema(path, p, fullSchema, failFast)
            if (StarTableSource.blockContradicted(pushed, p.columnNames)) {
              // a pushed null-rejecting predicate references a column this
              // block doesn't declare — no row can satisfy it; skip the
              // whole block without iterating rows
              StarTableSource.blocksSkipped.increment()
              Iterator.empty
            } else {
              // column pruning pushed into the parse: look up only required
              // columns; everything else skipped entirely. Needed columns
              // are copied to arrays ONCE — cell access in the row loop
              // must be O(1), not O(row) (a linked-list column would make
              // this loop quadratic in the file's row count).
              val idx = required.fields.map(f => p.columnNames.indexOf(f.name))
              val fIdx: Map[String, Int] =
                pushed.flatMap(_.references).distinct
                  .map(c => c -> p.columnNames.indexOf(c)).toMap
              val colArr = new Array[Array[Any]](p.columnNames.size)
              (idx ++ fIdx.values).filter(_ >= 0).distinct
                .foreach(i => colArr(i) = p.columns(i).toArray)
              (0 until p.numRows).iterator.flatMap { r =>
                // missing column or NaN cell reads as null — the same view
                // toCatalyst gives Spark, so the parse-level verdict can
                // only be FALSE where Spark's would be (rows kept here are
                // re-checked by the residual filters)
                def getv(n: String): Any = fIdx(n) match {
                  case -1 => null
                  case i => colArr(i)(r) match {
                    case d: java.lang.Double if d.isNaN => null
                    case v => v
                  }
                }
                if (!pushed.forall(f => StarTableSource.evalFilter(f, getv))) {
                  StarTableSource.rowsFiltered.increment()
                  None
                } else {
                  val out = new Array[Any](idx.length)
                  var c = 0
                  while (c < idx.length) {
                    out(c) = if (idx(c) < 0) null
                    else StarTableSource.toCatalyst(colArr(idx(c))(r))
                    c += 1
                  }
                  Some(new GenericInternalRow(out))
                }
              }
            }
        }
      private var current: InternalRow = _
      override def next(): Boolean = {
        if (rows.hasNext) { current = rows.next(); true } else false
      }
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}

/** Byte-range reader over one split of a single-table file's data region:
  * seek, align to a line start (Hadoop convention — discard the first
  * line unless this split begins the data region), then stream lines,
  * coercing only the REQUIRED columns through the same per-unit parsers
  * the block parser uses and evaluating pushed filters on the parsed
  * cells before materialization. Stops at the range end, EOF, a blank
  * line, or a `**` marker (content past the first block is not table
  * data under the assumeSingleTable contract). Constant memory: one
  * buffered byte stream, one line at a time.
  *
  * This base is the byte-range scan kernel the row and columnar split
  * readers share: seek + first-line-discard (Hadoop line-split ownership),
  * buffered line reads with CRLF normalization, per-unit cell parsers
  * resolved once, hive-partition constants, pushed-filter evaluation on
  * the parsed slots, and terminator handling. Subclasses only decide how
  * a passing row MATERIALIZES (InternalRow vs column vectors), so the two
  * paths cannot drift.
  *
  * Hot-loop contract: [[nextRow]] advances to the next row that passes
  * every pushed filter, leaving its cells in [[parsed]] (slot order =
  * [[projSlot]] indices); per row it does one separator scan, one parse
  * per NEEDED cell (projection ∪ filter refs — no per-cell Seq, no
  * per-cell unit dispatch, no double-parse), and nothing else. */
private[sources] abstract class StarSplitScanBase(sp: StarFileSplitPartition,
                                                  sep: String, failFast: Boolean,
                                                  required: StructType,
                                                  pushed: Array[Filter],
                                                  conf: org.apache.hadoop.conf.Configuration) {
  private val scanner = new CellScanner(sep)
  private val hp = new org.apache.hadoop.fs.Path(sp.path)
  protected val in = hp.getFileSystem(conf).open(hp)
  protected val fixer = new graft.parse.ParseFixer()
  if (failFast) { fixer.stopOnErrors = true; fixer.verbose = false }

  // per-required-column index into the file's columns, and per-filter-ref
  // index — the same by-name pruning/pushdown contract as the whole-file
  // reader (missing columns null-pad; extras never parsed)
  private val idx: Array[Int] =
    required.fields.map(f => sp.columnNames.indexOf(f.name))
  private val fRefs: Array[(String, Int)] =
    pushed.flatMap(_.references).distinct
      .map(c => c -> sp.columnNames.indexOf(c))
  private val contradicted =
    StarTableSource.blockContradicted(pushed,
      sp.columnNames ++ sp.partitionSpec.map(_._1))

  // Hive-partition constants: parsed from the path value ONCE per split
  // (same per-unit coercion as data cells), as JVM values; subclasses
  // convert for their materialization.
  protected val partVal: Map[String, Any] =
    sp.partitionSpec.map { case (c, u, raw) =>
      c -> (if (raw == null) null
            else graft.parse.ColumnParsers.cellParser(u, fixer)(raw))
    }.toMap

  private val neededIdx: Array[Int] =
    (idx ++ fRefs.map(_._2)).filter(_ >= 0).distinct.sorted
  private val slotOf: Map[Int, Int] = neededIdx.zipWithIndex.toMap
  private val parsers: Array[Any => Any] =
    neededIdx.map(i => graft.parse.ColumnParsers.cellParser(sp.units(i), fixer))
  private val refSlot: Array[(String, Int)] =
    fRefs.map { case (c, i) => c -> (if (i < 0) -1 else slotOf(i)) }
  /** Per required field: slot in [[parsed]], or -1 (null-pad / partition
    * constant). */
  protected val projSlot: Array[Int] =
    idx.map(i => if (i < 0) -1 else slotOf(i))
  /** Cells of the current passing row, slot-indexed (see [[projSlot]]). */
  protected val parsed = new Array[Any](neededIdx.length)

  private val buf = new Array[Byte](65536)
  private var bufLen = 0
  private var bufPos = 0

  private var pos: Long = {
    val s = math.max(sp.start, sp.dataStart)
    in.seek(s); s
  }
  if (contradicted && sp.start == sp.dataStart)
    StarTableSource.blocksSkipped.increment()
  protected var done = contradicted
  // a split that does not begin the data region discards its first
  // (possibly partial) line — the previous split owns it
  if (!done && sp.start > sp.dataStart) skipLine()

  private def fill(): Boolean = {
    if (bufPos < bufLen) return true
    bufLen = in.read(buf); bufPos = 0
    bufLen > 0
  }

  /** Read one line's bytes (excluding the newline); null at EOF. */
  private def readLine(): String = {
    if (!fill()) return null
    val out = new java.io.ByteArrayOutputStream(128)
    var nl = false
    while (!nl && fill()) {
      val limit = bufLen
      val start = bufPos
      var i = start
      while (i < limit && buf(i) != '\n') i += 1
      out.write(buf, start, i - start)
      pos += i - start
      if (i < limit) { nl = true; bufPos = i + 1; pos += 1 }
      else bufPos = limit
    }
    // CRLF: the whole-file path (linesIterator) strips the \r; mirror it
    // so split reads stay value-identical on CRLF files
    val n = out.size()
    val bytes = out.toByteArray
    val len = if (n > 0 && bytes(n - 1) == '\r') n - 1 else n
    new String(bytes, 0, len, java.nio.charset.StandardCharsets.UTF_8)
  }

  private def skipLine(): Unit = {
    var consumed = false
    while (!consumed && fill()) {
      val limit = bufLen
      val start = bufPos
      var i = start
      while (i < limit && buf(i) != '\n') i += 1
      pos += i - start
      if (i < limit) { consumed = true; bufPos = i + 1; pos += 1 }
      else bufPos = limit
    }
    if (!consumed) done = true // EOF inside the partial line
  }

  /** Advance to the next row that passes every pushed filter; its cells
    * are left in [[parsed]]. False at the range end, EOF, or a block
    * terminator (blank line / `**` marker — under assumeSingleTable
    * anything past them is not table data). */
  protected final def nextRow(): Boolean = {
    if (done) return false
    while (true) {
      val lineStart = pos
      if (lineStart > sp.end) { done = true; return false }
      val line = readLine()
      if (line == null) { done = true; return false }
      StarTableSource.linesParsed.increment()
      if (line.trim.isEmpty || line.startsWith("**")) { done = true; return false }
      scanner.scan(line)
      var s = 0
      while (s < neededIdx.length) {
        val cell = scanner.cell(line, neededIdx(s))
        parsed(s) = if (cell == null) null else parsers(s)(cell)
        s += 1
      }
      val passes = pushed.isEmpty || {
        def ref(c: String): Any = {
          var k = 0
          while (k < refSlot.length) {
            if (refSlot(k)._1 == c)
              return if (refSlot(k)._2 >= 0) parsed(refSlot(k)._2)
              else partVal.getOrElse(c, null)
            k += 1
          }
          null
        }
        !pushed.exists(f => !StarTableSource.evalFilter(f, ref))
      }
      if (passes) return true
      else StarTableSource.rowsFiltered.increment()
    }
    false
  }
}

private[sources] class StarSplitReader(sp: StarFileSplitPartition, sep: String,
                                       failFast: Boolean,
                                       fullSchema: StructType,
                                       required: StructType,
                                       pushed: Array[Filter],
                                       conf: org.apache.hadoop.conf.Configuration =
                                         new org.apache.hadoop.conf.Configuration())
    extends StarSplitScanBase(sp, sep, failFast, required, pushed, conf)
    with PartitionReader[InternalRow] {
  // per-required-field partition constant (Catalyst), or a "not a
  // partition column" sentinel
  private val NotPart = new Object
  private val partConst: Array[Any] = required.fields.map { f =>
    if (partVal.contains(f.name)) StarTableSource.toCatalyst(partVal(f.name))
    else NotPart
  }
  private var current: InternalRow = _

  override def next(): Boolean = {
    if (!nextRow()) return false
    val out = new Array[Any](projSlot.length)
    var c = 0
    while (c < projSlot.length) {
      out(c) =
        if (projSlot(c) >= 0) StarTableSource.toCatalyst(parsed(projSlot(c)))
        else if (partConst(c).asInstanceOf[AnyRef] ne NotPart) partConst(c)
        else null
      c += 1
    }
    current = new GenericInternalRow(out)
    true
  }
  override def get(): InternalRow = current
  override def close(): Unit = in.close()
}

/** Vectorized sibling of [[StarSplitReader]] for partitioned-dataset
  * splits: the same byte-range line scan and per-unit cell parse, but rows
  * land directly in on-heap column vectors emitted as [[ColumnarBatch]]es
  * of up to 4096 rows — no per-row `GenericInternalRow`, no per-cell
  * boxing into an `Array[Any]`, and the downstream plan starts from
  * Spark's vectorized `ColumnarToRow` (the parquet reader's shape).
  * Pushed filters still evaluate per row during the parse; partition
  * constants are materialized into their vectors once per batch via the
  * constant fast path. */
private[sources] class StarColumnarSplitReader(sp: StarFileSplitPartition,
                                               sep: String, failFast: Boolean,
                                               required: StructType,
                                               pushed: Array[Filter],
                                               conf: org.apache.hadoop.conf.Configuration)
    extends StarSplitScanBase(sp, sep, failFast, required, pushed, conf)
    with PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector

  private val Capacity = 4096
  // per-projected-field partition constant (JVM value), or NotPart
  private val NotPart = new Object
  private val partConst: Array[Any] = required.fields.map { f =>
    if (partVal.contains(f.name)) partVal(f.name) else NotPart
  }

  private val vectors: Array[OnHeapColumnVector] =
    OnHeapColumnVector.allocateColumns(Capacity, required)
  private val batch =
    new org.apache.spark.sql.vectorized.ColumnarBatch(
      vectors.asInstanceOf[Array[org.apache.spark.sql.vectorized.ColumnVector]])

  private def putValue(c: Int, rowId: Int, v: Any): Unit = v match {
    case null => vectors(c).putNull(rowId)
    case s: String =>
      val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      vectors(c).putByteArray(rowId, b, 0, b.length): Unit
    case d: java.lang.Double =>
      if (d.isNaN) vectors(c).putNull(rowId) else vectors(c).putDouble(rowId, d)
    case b: java.lang.Boolean => vectors(c).putBoolean(rowId, b)
    case t: java.sql.Timestamp =>
      vectors(c).putLong(rowId, DateTimeUtils.fromJavaTimestamp(t))
    case other => throw new IllegalStateException(
      s"unsupported columnar cell value: $other (${other.getClass})")
  }

  override def next(): Boolean = {
    if (done) return false
    var n = 0
    var c = 0
    while (c < vectors.length) { vectors(c).reset(); c += 1 }
    while (n < Capacity && nextRow()) {
      var p = 0
      while (p < projSlot.length) {
        if (projSlot(p) >= 0) putValue(p, n, parsed(projSlot(p)))
        else if (partConst(p).asInstanceOf[AnyRef] ne NotPart)
          putValue(p, n, partConst(p))
        else vectors(p).putNull(n)
        p += 1
      }
      n += 1
    }
    if (n > 0) StarTableSource.batchesProduced.increment()
    batch.setNumRows(n)
    n > 0
  }

  override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = batch
  override def close(): Unit = {
    batch.close()
    in.close()
  }
}

private[sources] object StarColumnarSplitReader {
  /** Cell types the vectorized path writes (every type a dataset unit can
    * produce; anything else falls back to the row reader scan-wide). */
  def supportedType(dt: DataType): Boolean = dt match {
    case StringType | DoubleType | BooleanType | TimestampType => true
    case _ => false
  }
}

/** Shared hot-loop cell scanner for the split readers: records cell
  * [start, end) offsets with a plain `indexOf` walk — `String.split` with
  * a `Pattern.quote`d separator never takes Java's single-char fast path,
  * so every line would otherwise pay a full regex `Matcher` plus one
  * String per UNUSED cell. Callers substring only the projected/filtered
  * cells. Buffers grow geometrically and are reused across lines. */
private[graft] final class CellScanner(sep: String) {
  require(sep.nonEmpty,
    "startable: separator must be non-empty (indexOf(\"\") would never advance)")
  private var starts = new Array[Int](64)
  private var ends = new Array[Int](64)
  private var n = 0
  def cellCount: Int = n
  /** Cell `i`'s text of `line`, or null when the line has fewer cells. */
  def cell(line: String, i: Int): String =
    if (i >= n) null else line.substring(starts(i), ends(i))
  def scan(line: String): Unit = {
    n = 0
    var from = 0
    val sl = sep.length
    var more = true
    while (more) {
      if (n == starts.length) {
        starts = java.util.Arrays.copyOf(starts, n * 2)
        ends = java.util.Arrays.copyOf(ends, n * 2)
      }
      val i = line.indexOf(sep, from)
      starts(n) = from
      ends(n) = if (i < 0) line.length else i
      n += 1
      if (i < 0) more = false else from = i + sl
    }
  }
}

private[graft] object StarTableSource {

  /** Catalog-facing factory: the DSv2 table for the given reader options
    * (path / table / sep), schema inferred from the dataset sidecar or
    * file header exactly as `spark.read.format("startable")` would — the
    * [[graft.GraftCatalog]] TableCatalog's loadTable hook (the sidecar
    * stays the single source of truth for a named table's schema and
    * units). */
  def tableFor(props: Map[String, String])
      : org.apache.spark.sql.connector.catalog.Table = {
    val jmap = new java.util.HashMap[String, String]()
    props.foreach { case (k, v) => jmap.put(k, v) }
    val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(jmap)
    val schema = new StarTableSource().inferSchema(opts)
    new StarTableTable(schema, props)
  }

  /** The active session's Hadoop configuration (driver side), else a fresh
    * default (plain library use without a session). Threading this instead
    * of `new Configuration()` makes object-store credentials and custom
    * filesystem settings configured on the SparkSession visible to every
    * connector path; executor-side readers receive the same configuration
    * serialized through their factory. */
  def activeHadoopConf(): org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  /** Pushdown observability (and spec hooks): blocks skipped whole by a
    * contradicted header, and rows dropped by parse-level predicate
    * evaluation. Per-JVM LongAdders — exact in local mode; per-executor
    * counts on a cluster (visible in executor logs/metrics). */
  val blocksSkipped = new java.util.concurrent.atomic.LongAdder
  val rowsFiltered = new java.util.concurrent.atomic.LongAdder
  val linesParsed = new java.util.concurrent.atomic.LongAdder
  val filesPruned = new java.util.concurrent.atomic.LongAdder
  /** Subset of [[filesPruned]] skipped by per-slice min/max statistics (a
    * non-partition-column predicate), as opposed to partition pruning. */
  val filesSkippedByStats = new java.util.concurrent.atomic.LongAdder
  /** Vectorized batches emitted by [[StarColumnarSplitReader]]. */
  val batchesProduced = new java.util.concurrent.atomic.LongAdder
  def resetPushdownCounters(): Unit = {
    blocksSkipped.reset(); rowsFiltered.reset(); linesParsed.reset()
    filesPruned.reset(); filesSkippedByStats.reset(); batchesProduced.reset()
    shardsRead.reset(); dirsPruned.reset()
  }

  /** Parsed-sidecar memo keyed by (path, length, modTime): inference and
    * every scan build re-read the sidecar, and a stats-bearing sidecar
    * near the cardinality cap is tens of MB of JSON — parse it once per
    * VERSION of the file, not once per planning step. Invalidation is the
    * file's (len, mtime); bounded by eviction at 64 entries. */
  private val metaCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), DatasetMeta]()

  /** Drop every cached parse of `outDir`'s sidecar. The (len, mtime) key
    * cannot distinguish a same-length rewrite within the filesystem's
    * mtime resolution (coarse on some stores), so the WRITER invalidates
    * explicitly after each sidecar install — the in-JVM analog of the
    * crash-window stats stripping: a stale cached entry could serve old
    * min/max ranges and wrongly skip files that hold matching new rows. */
  private[graft] def invalidateMetaCache(
      outDir: String,
      conf: org.apache.hadoop.conf.Configuration = activeHadoopConf()): Unit = {
    // keys are FS-QUALIFIED (see readDatasetMeta): a reader that loaded
    // the dataset under a different spelling (qualified URI, relative
    // path, trailing slash) must hit the same key, or the invalidation
    // misses exactly the stale entry it exists to remove
    val p = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(outDir),
      DatasetSidecar.DatasetMetaFile)
    val qualified = p.getFileSystem(conf).makeQualified(p).toString
    val it = metaCache.keySet().iterator()
    while (it.hasNext) if (it.next()._1 == qualified) it.remove()
  }

  /** The sidecar, if the (single) root is a partitioned-dataset directory.
    * The sidecar is written LAST by the writer, so its presence marks a
    * COMPLETE dataset; a crash mid-write leaves a directory this reader
    * refuses to treat as a dataset (and the plain-directory path then
    * rejects the header-less part files loudly). */
  def readDatasetMeta(roots: Seq[String],
                      conf: org.apache.hadoop.conf.Configuration = activeHadoopConf())
      : Option[DatasetMeta] = {
    if (roots.size != 1) return None
    val root = new org.apache.hadoop.fs.Path(roots.head)
    val fs = root.getFileSystem(conf)
    val metaPath = new org.apache.hadoop.fs.Path(root, DatasetSidecar.DatasetMetaFile)
    val st = try {
      if (!fs.getFileStatus(root).isDirectory) return None
      fs.getFileStatus(metaPath)
    } catch { case _: java.io.FileNotFoundException => return None }
    // FS-qualified key so every spelling of the same dataset root (bare
    // path, file: URI, relative, trailing slash) shares one cache entry —
    // and so the writer's explicit invalidation can find it
    val key = (fs.makeQualified(metaPath).toString, st.getLen,
      st.getModificationTime)
    val hit = metaCache.get(key)
    if (hit != null) return Some(hit)
    // a corrupt sidecar must fail LOUDLY with the file named — falling
    // back to the plain-directory path would misread header-less data
    // files (or list nothing) and look like silent data loss
    val meta = DatasetSidecar.read(fs, metaPath, "startable source",
      "dataset sidecar")(DatasetSidecar.decodeSidecar)
    if (metaCache.size > 64) metaCache.clear()
    metaCache.put(key, meta)
    Some(meta)
  }

  /** Parsed-shard memo keyed by (qualified path, length, modTime) — the
    * same discipline as [[metaCache]], bounded by wholesale eviction.
    * Shards are ~1 KB each; the bound keeps a hot working set of pruned
    * probes cached without letting a full-dataset sweep pin 100k entries. */
  private val shardCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), SliceShard]()
  private val ShardCacheMax = 16384

  /** Shard files opened+parsed (cache misses) — observability for specs
    * and the scale rehearsal: a partition-pruned probe must read only the
    * TOUCHED slices' shards, never the dataset's. */
  val shardsRead = new java.util.concurrent.atomic.LongAdder

  /** Partition directories skipped mid-walk by listing-level pruning
    * (their subtrees were never listed) — observability for specs and the
    * scale rehearsal. */
  val dirsPruned = new java.util.concurrent.atomic.LongAdder

  /** Drop every cached shard parse under `outDir` — the writer-side
    * invalidation after a sharded write, mirroring [[invalidateMetaCache]]
    * (the (len, mtime) key cannot distinguish a same-length rewrite inside
    * the filesystem's mtime resolution). */
  private[graft] def invalidateShardCache(
      outDir: String,
      conf: org.apache.hadoop.conf.Configuration = activeHadoopConf()): Unit = {
    val p = new org.apache.hadoop.fs.Path(outDir)
    val prefix = p.getFileSystem(conf).makeQualified(p).toString
    val it = shardCache.keySet().iterator()
    while (it.hasNext) {
      val k = it.next()._1
      if (k == prefix || k.startsWith(prefix + "/")) it.remove()
    }
  }

  /** Load the stat shards of `leaves` — (leaf directory, raw partition
    * values) pairs, typically the slices that SURVIVED partition pruning —
    * returning raw-values → shard for every leaf whose shard exists.
    * A missing shard is simply absent (conservative: the caller reads the
    * slice / refuses a metadata answer); a CORRUPT shard, or one whose
    * recorded partition values disagree with its directory path, fails
    * loudly (silently ignoring damaged statistics would hide a real
    * writer/escaping bug behind slightly slower reads). Waves of
    * `parallelism`+ shards are fetched on a bounded pool — the same
    * object-store round-trip hiding as the parallel listing. */
  def readSliceShards(leaves: Seq[(String, Seq[String])],
                      conf: org.apache.hadoop.conf.Configuration = activeHadoopConf(),
                      parallelism: Int = 16)
      : Map[Seq[String], SliceShard] = {
    if (leaves.isEmpty) return Map.empty
    def loadOne(leafDir: String, raw: Seq[String]): Option[(Seq[String], SliceShard)] = {
      val shardPath = new org.apache.hadoop.fs.Path(leafDir,
        DatasetSidecar.SliceShardFile)
      val fs = shardPath.getFileSystem(conf)
      val st = try fs.getFileStatus(shardPath)
      catch { case _: java.io.FileNotFoundException => return None }
      val key = (fs.makeQualified(shardPath).toString, st.getLen,
        st.getModificationTime)
      val hit = shardCache.get(key)
      if (hit != null) {
        // cache hits keep the cold path's shard-vs-directory integrity
        // check (cheap Seq equality): a misplaced-but-cached shard must
        // refuse exactly like a cold read of it would
        require(hit.slice.partition == raw,
          s"shard records partition " +
            s"${hit.slice.partition.mkString("[", ",", "]")} but its " +
            s"directory path parses to ${raw.mkString("[", ",", "]")} — " +
            "path-escaping drift or a misplaced shard")
        return Some(raw -> hit)
      }
      shardsRead.increment()
      val shard = DatasetSidecar.read(fs, shardPath, "startable source",
          "stat shard") { txt =>
        val sh = DatasetSidecar.decodeShard(txt)
        require(sh.slice.partition == raw,
          s"shard records partition " +
            s"${sh.slice.partition.mkString("[", ",", "]")} but its " +
            s"directory path parses to ${raw.mkString("[", ",", "]")} — " +
            "path-escaping drift or a misplaced shard")
        sh
      }
      if (shardCache.size > ShardCacheMax) shardCache.clear()
      shardCache.put(key, shard)
      Some(raw -> shard)
    }
    val loaded: Seq[Option[(Seq[String], SliceShard)]] =
      if (leaves.sizeIs >= parallelism && parallelism > 1) {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(parallelism)
        try {
          val futs = leaves.map { case (dir, raw) =>
            pool.submit(new java.util.concurrent.Callable[
              Option[(Seq[String], SliceShard)]] {
              def call() = loadOne(dir, raw)
            })
          }
          futs.map { f =>
            try f.get()
            catch {
              case e: java.util.concurrent.ExecutionException => throw e.getCause
            }
          }
        } finally pool.shutdownNow()
      } else leaves.map { case (dir, raw) => loadOne(dir, raw) }
    loaded.flatten.toMap
  }

  /** Fold per-FILE stat entries into their slice's entry: min of mins /
    * max of maxs compared through the reader's parse (exact for every
    * unit's ordering — numbers numeric, datetimes fixed-width strings,
    * text UTF-8 byte order), null counts and row counts summed. A file
    * whose bound is null (all-null column) is skipped, like SQL MIN/MAX
    * skips nulls. Pure and executor-safe — the sharded write's per-leaf
    * fold and the clustering pass's shard regeneration share it. */
  private[graft] def foldFileEntries(raw: Seq[String], files: Seq[FileStats],
                                     cols: Seq[String], units: Seq[String])
      : SliceStats = {
    val fixer = new graft.parse.ParseFixer()
    val stats = cols.zipWithIndex.map { case (c, i) =>
      val p = graft.parse.ColumnParsers.cellParser(units(i), fixer)
      def fold(isMin: Boolean): String = {
        val rendered = files.flatMap(fe =>
          Option(if (isMin) fe.stats(c).min else fe.stats(c).max))
        if (rendered.isEmpty) null
        else rendered.reduce { (a, b) =>
          val r = cmp(p(a), p(b)).getOrElse(a.compareTo(b))
          if ((r <= 0) == isMin) a else b
        }
      }
      c -> ColStats(fold(isMin = true), fold(isMin = false),
        files.map(_.stats(c).nulls).sum)
    }.toMap
    SliceStats(raw, files.map(_.rows).sum, stats)
  }

  /** Recursively list a partitioned dataset's data files as
    * (path, length, raw partition values aligned with `partCols`).
    * Directory names follow the hive `col=value` convention with Spark's
    * %XX path escaping; the default-partition marker reads back as null.
    * Files under directories that don't supply ALL partition columns are
    * refused loudly (a silently null-padded slice would corrupt joins).
    *
    * The walk proceeds breadth-first in WAVES, and any wave holding
    * `parallelListingThreshold`+ directories is listed on a bounded thread
    * pool (Spark's InMemoryFileIndex discipline): a strictly serial
    * `listStatus`-per-directory walk over a 100k-slice dataset on an
    * object store is minutes of pure round-trip latency the pool hides.
    * One task per directory, no nested blocking (the next wave is built
    * AFTER the pool drains), so a fixed pool cannot deadlock. Output
    * order is the DFS name-sorted order of the serial walk (path-component
    * sort below) — callers pin plans and batch composition to it. */
  def listPartitionedFiles(roots: Seq[String], partCols: Seq[String],
                           conf: org.apache.hadoop.conf.Configuration = activeHadoopConf(),
                           listingParallelism: Int = 16,
                           parallelListingThreshold: Int = 8,
                           partPrune: Option[(Seq[String], Seq[Filter])] = None)
      : Seq[(String, Long, Seq[String])] =
    listPartitionedFilesWithTimes(roots, partCols, conf, listingParallelism,
      parallelListingThreshold, partPrune).map(f => (f._1, f._2, f._3))

  /** Directory-level pruning verdict during the listing walk: `false` only
    * when some filter is DEFINITELY unsatisfiable given the partition
    * values known so far (the walk may not have descended to every
    * partition column yet). Atoms referencing only known columns evaluate
    * exactly ([[evalFilter]] — the same verdict the post-listing prune
    * would reach); anything touching an unknown column stays `true`, so a
    * kept subtree is never wrong, only a skipped one matters — and a
    * skipped one provably holds no matching slice. `Not` stays
    * conservative (kept): three-valued logic makes NOT(unknown-ish) wrong
    * to conclude from a boolean evaluator. */
  private def dirMayMatch(f: Filter, known: Map[String, Any],
                          knownCols: Set[String]): Boolean = f match {
    case And(l, r) => dirMayMatch(l, known, knownCols) &&
      dirMayMatch(r, known, knownCols)
    case Or(l, r)  => dirMayMatch(l, known, knownCols) ||
      dirMayMatch(r, known, knownCols)
    case Not(_)    => true
    case atom      =>
      if (!atom.references.forall(knownCols.contains)) true
      else evalFilter(atom, known.getOrElse(_, null))
  }

  /** [[listPartitionedFiles]] plus each file's modification time (last
    * element) — the streaming source's `maxFileAge` aging needs it, and the
    * walk already holds the FileStatus, so it is free. Same walk, same
    * pinned order. */
  /** `partPrune = Some((partUnits, filters))`: prune partition DIRECTORIES
    * during the walk itself — a subtree whose already-known partition
    * values definitely contradict a filter is never descended into, so a
    * filtered probe's listing cost is the MATCHING subtree, not the
    * dataset ("COUNT(*) WHERE day = X" over a 100k-slice store lists one
    * day's directories). Conservative by construction (see
    * [[dirMayMatch]]); callers still apply [[prunePartitionListing]] as
    * the authority. Streaming discovery passes None: it must see every
    * file. */
  def listPartitionedFilesWithTimes(roots: Seq[String], partCols: Seq[String],
                           conf: org.apache.hadoop.conf.Configuration = activeHadoopConf(),
                           listingParallelism: Int = 16,
                           parallelListingThreshold: Int = 8,
                           partPrune: Option[(Seq[String], Seq[Filter])] = None)
      : Seq[(String, Long, Seq[String], Long)] = {
    val pruner: Option[Map[String, String] => Boolean] = partPrune.collect {
      case (partUnits, filters) if filters.nonEmpty =>
        val parsers: Map[String, Any => Any] =
          partCols.zip(partUnits).map { case (c, u) =>
            c -> graft.parse.ColumnParsers.cellParser(
              u, new graft.parse.ParseFixer())
          }.toMap
        (spec: Map[String, String]) => {
          val known: Map[String, Any] = spec.map { case (c, raw) =>
            c -> (if (raw == null) null
                  else parsers.get(c).map(_(raw)).getOrElse(raw: Any))
          }
          filters.forall(f => dirMayMatch(f, known, known.keySet))
        }
    }
    roots.flatMap { r =>
      val root = new org.apache.hadoop.fs.Path(r)
      val fs = root.getFileSystem(conf)
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Seq[String], Long)]
      var wave: Seq[(org.apache.hadoop.fs.Path, Map[String, String])] =
        Seq((root, Map.empty))
      while (wave.nonEmpty) {
        val listed: Seq[((org.apache.hadoop.fs.Path, Map[String, String]),
          Seq[org.apache.hadoop.fs.FileStatus])] =
          if (wave.sizeIs >= parallelListingThreshold && listingParallelism > 1) {
            val pool = java.util.concurrent.Executors.newFixedThreadPool(
              math.min(listingParallelism, wave.size))
            try {
              val futs = wave.map { w =>
                w -> pool.submit(new java.util.concurrent.Callable[
                  Seq[org.apache.hadoop.fs.FileStatus]] {
                  def call() = fs.listStatus(w._1).toSeq
                })
              }
              futs.map { case (w, f) =>
                try w -> f.get()
                catch {
                  case e: java.util.concurrent.ExecutionException =>
                    e.getCause match {
                      // a dir listed in the parent wave can legitimately
                      // vanish before its own listing: a concurrent
                      // writer's dynamic-overwrite commit or a partition
                      // drop replaces/removes leaves non-atomically, and
                      // readers are lock-free by design — treat as empty
                      // (the state before that writer's commit)
                      case _: java.io.FileNotFoundException =>
                        w -> Seq.empty[org.apache.hadoop.fs.FileStatus]
                      case c => throw c
                    }
                }
              }
            } finally pool.shutdownNow()
          } else wave.map(w => w -> (
            try fs.listStatus(w._1).toSeq
            catch { case _: java.io.FileNotFoundException =>
              Seq.empty[org.apache.hadoop.fs.FileStatus] }))

        val next = Seq.newBuilder[(org.apache.hadoop.fs.Path, Map[String, String])]
        listed.foreach { case ((_, spec), entries) =>
          entries.foreach { s =>
            val n = s.getPath.getName
            if (n.startsWith("_") || n.startsWith(".")) ()
            else if (s.isDirectory) {
              val eq = n.indexOf('=')
              if (eq <= 0) () // not a partition dir: ignore (staging etc.)
              else {
                val k = unescapePathName(n.substring(0, eq))
                val v0 = unescapePathName(n.substring(eq + 1))
                val v = if (v0 == "__HIVE_DEFAULT_PARTITION__") null else v0
                val sub = spec + (k -> v)
                // directory-level pruning: a subtree whose known values
                // definitely contradict a pushed partition filter is
                // never listed (see pruner above)
                if (pruner.forall(_(sub))) next += ((s.getPath, sub))
                else dirsPruned.increment()
              }
            } else {
              val missing = partCols.filterNot(spec.contains)
              require(missing.isEmpty,
                s"startable source: data file ${s.getPath} lacks partition " +
                  s"value(s) for ${missing.mkString(", ")} in its path")
              out += ((s.getPath.toString, s.getLen, partCols.map(spec(_)),
                s.getModificationTime))
            }
          }
        }
        wave = next.result()
      }
      // DFS name-sorted order, reconstructed: lexicographic over path
      // COMPONENTS (a flat string sort would order "a-b/x" before "a/z")
      out.sortBy(f => f._1.split('/').toSeq)(
        scala.math.Ordering.Implicits.seqOrdering[Seq, String]).toSeq
    }
  }

  /** Inverse of Spark's file-sink path escaping (%XX for characters that
    * are unsafe in directory names). */
  def unescapePathName(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      // %XX with two hex digits; anything else passes through verbatim
      if (c == '%' && i + 2 < s.length &&
          Character.digit(s.charAt(i + 1), 16) >= 0 &&
          Character.digit(s.charAt(i + 2), 16) >= 0) {
        sb.append(((Character.digit(s.charAt(i + 1), 16) << 4) |
          Character.digit(s.charAt(i + 2), 16)).toChar)
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Filters the parse can evaluate: comparisons/IN/null-tests on columns
    * parsed as String, Double, Boolean or Timestamp, plus their And/Or/Not
    * compositions. Timestamp literals arrive as java.sql.Timestamp or (with
    * the java8 datetime API) java.time.Instant; both compare exactly
    * against the parsed java.sql.Timestamp cells. Any OTHER type mismatch
    * makes [[cmp]] return None → the row is KEPT and Spark's residual
    * filter decides — a wrong verdict here can only be over-keeping. */
  def supportedFilter(schema: StructType)(f: Filter): Boolean = {
    def colOk(n: String): Boolean = schema.fields.find(_.name == n).exists(fd =>
      fd.dataType == StringType || fd.dataType == DoubleType ||
        fd.dataType == BooleanType || fd.dataType == TimestampType)
    f match {
      case EqualTo(a, _)            => colOk(a)
      case GreaterThan(a, _)        => colOk(a)
      case GreaterThanOrEqual(a, _) => colOk(a)
      case LessThan(a, _)           => colOk(a)
      case LessThanOrEqual(a, _)    => colOk(a)
      case In(a, _)                 => colOk(a)
      case IsNull(a)                => schema.fieldNames.contains(a)
      case IsNotNull(a)             => schema.fieldNames.contains(a)
      case And(l, r)                => supportedFilter(schema)(l) && supportedFilter(schema)(r)
      case Or(l, r)                 => supportedFilter(schema)(l) && supportedFilter(schema)(r)
      case Not(c)                   => supportedFilter(schema)(c)
      case _                        => false
    }
  }

  /** Filters whose [[evalFilter]] verdict EXACTLY matches Spark's own
    * evaluation (not merely conservatively): positive atoms and their
    * And/Or compositions. For these, false and SQL null collapse to the
    * same "row not emitted" outcome, so a partition-level verdict can be
    * the correctness AUTHORITY (the filter consumed completely, no Spark
    * residual). `Not` is excluded — boolean evalFilter turns NOT(null)
    * into true where Spark's three-valued logic drops the row — as is any
    * atom evalFilter would wave through as "unsupported: defer to Spark"
    * (there is no Spark to defer to once the filter is consumed). */
  def exactFilter(f: Filter): Boolean = f match {
    case EqualTo(_, _) | GreaterThan(_, _) | GreaterThanOrEqual(_, _) |
         LessThan(_, _) | LessThanOrEqual(_, _) | In(_, _) |
         IsNull(_) | IsNotNull(_) => true
    case And(l, r)                => exactFilter(l) && exactFilter(r)
    case Or(l, r)                 => exactFilter(l) && exactFilter(r)
    case _                        => false
  }

  /** Partition-prune a dataset listing: keep the files whose path-parsed
    * partition values satisfy every filter, judged on the same unit-parsed
    * values the reader would inject into rows (one shared evaluator for
    * the scan, the streaming source, and the metadata-aggregate path —
    * their prune verdicts must never diverge). */
  def prunePartitionListing(listing: Seq[(String, Long, Seq[String])],
                            partCols: Seq[String], partUnits: Seq[String],
                            filters: Seq[Filter])
      : Seq[(String, Long, Seq[String])] =
    if (filters.isEmpty) listing
    else {
      val parsers = partUnits.map(u =>
        graft.parse.ColumnParsers.cellParser(u, new graft.parse.ParseFixer()))
      listing.filter { case (_, _, raw) =>
        val vals: Map[String, Any] = partCols.lazyZip(raw).lazyZip(parsers)
          .map((c, r, p) => c -> (if (r == null) null else p(r))).toMap
        filters.forall(f => evalFilter(f, vals.getOrElse(_, null)))
      }
    }

  private[graft] def cmp(x: Any, v: Any): Option[Int] = (x, v) match {
    case (null, _) | (_, null)    => None
    case (a: Number, b: Number)   => Some(java.lang.Double.compare(a.doubleValue, b.doubleValue))
    // Spark orders strings by UTF-8 BYTES (UTF8String), not UTF-16 code
    // units: for supplementary characters vs U+E000..U+FFFF the two orders
    // DISAGREE, and a pushed </> verdict stricter than Spark's would drop
    // rows the residual filter can never restore. Compare exactly as Spark
    // does.
    case (a: String, b: String)   =>
      Some(UTF8String.fromString(a).compareTo(UTF8String.fromString(b)))
    case (a: java.lang.Boolean, b: java.lang.Boolean) => Some(a.compareTo(b))
    case (a: java.sql.Timestamp, b: java.sql.Timestamp) => Some(a.compareTo(b))
    case (a: java.sql.Timestamp, b: java.time.Instant) =>
      Some(a.toInstant.compareTo(b))
    case _                        => None
  }

  /** Three-valued-logic-safe evaluation on parsed cell values: a null (or
    * type-mismatched) comparison yields false, matching what Spark's
    * residual evaluation would decide for the same row. */
  def evalFilter(f: Filter, get: String => Any): Boolean = f match {
    case EqualTo(a, v)            => cmp(get(a), v).contains(0)
    case GreaterThan(a, v)        => cmp(get(a), v).exists(_ > 0)
    case GreaterThanOrEqual(a, v) => cmp(get(a), v).exists(_ >= 0)
    case LessThan(a, v)           => cmp(get(a), v).exists(_ < 0)
    case LessThanOrEqual(a, v)    => cmp(get(a), v).exists(_ <= 0)
    case In(a, vs)                => vs.exists(v => cmp(get(a), v).contains(0))
    case IsNull(a)                => get(a) == null
    case IsNotNull(a)             => get(a) != null
    case And(l, r)                => evalFilter(l, get) && evalFilter(r, get)
    case Or(l, r)                 => evalFilter(l, get) || evalFilter(r, get)
    case Not(c)                   => !evalFilter(c, get)
    case _                        => true // unsupported: defer to Spark
  }

  /** True when `f` PROVABLY holds for no row of a slice, judged from its
    * per-column min/max/null statistics — the row-group-skipping predicate
    * of parquet readers, at slice granularity. Conservative three-valued
    * logic: any missing statistic, unparsable bound, or type mismatch
    * yields false (read the slice); Not is never used to skip (its operand
    * holding somewhere in [min,max] says nothing about every row). min/max
    * arrive RENDERED (cell representation) and are re-parsed through the
    * same unit parsers as data cells, so the comparison sees exactly the
    * values the reader would produce. */
  def sliceContradicts(f: Filter, st: SliceStats,
                       parse: Map[String, Any => Any],
                       lateCols: Set[String] = Set.empty): Boolean =
    statsContradict(f, st.rows, st.stats, parse, lateCols)

  /** Core of [[sliceContradicts]], shared with per-FILE statistics.
    * `lateCols` are schema-evolution columns ([[DatasetMeta.lateCols]]):
    * a stats entry that predates the evolution lacks them, and for
    * exactly those columns the missing stat provably means all-null
    * (short rows null-pad), so it is treated as ColStats(null, null,
    * rows) — IsNotNull(late) skips pre-evolution slices entirely; any
    * OTHER missing stat stays conservative (read, never skip). */
  def statsContradict(f: Filter, rows: Long, stats: Map[String, ColStats],
                      parse: Map[String, Any => Any],
                      lateCols: Set[String] = Set.empty): Boolean = {
    def statOf(a: String): Option[ColStats] =
      stats.get(a).orElse(
        if (lateCols.contains(a) && stats.nonEmpty)
          Some(ColStats(null, null, rows))
        else None)
    def bounds(a: String): Option[(Any, Any)] =
      for {
        cs <- statOf(a)
        p <- parse.get(a)
        if cs.min != null && cs.max != null
        mn <- scala.util.Try(p(cs.min)).toOption
        mx <- scala.util.Try(p(cs.max)).toOption
        if mn != null && mx != null
      } yield (mn, mx)
    // every value in the slice/file is null/NaN → no comparison can hold
    def allNull(a: String): Boolean =
      statOf(a).exists(cs => cs.min == null && cs.max == null &&
        cs.nulls == rows)
    def outOfRange(a: String, v: Any): Boolean =
      bounds(a).exists { case (mn, mx) =>
        cmp(mn, v).exists(_ > 0) || cmp(mx, v).exists(_ < 0)
      }
    f match {
      case EqualTo(a, v)            => allNull(a) || outOfRange(a, v)
      case GreaterThan(a, v)        =>
        allNull(a) || bounds(a).exists { case (_, mx) => cmp(mx, v).exists(_ <= 0) }
      case GreaterThanOrEqual(a, v) =>
        allNull(a) || bounds(a).exists { case (_, mx) => cmp(mx, v).exists(_ < 0) }
      case LessThan(a, v)           =>
        allNull(a) || bounds(a).exists { case (mn, _) => cmp(mn, v).exists(_ >= 0) }
      case LessThanOrEqual(a, v)    =>
        allNull(a) || bounds(a).exists { case (mn, _) => cmp(mn, v).exists(_ > 0) }
      case In(a, vs)                =>
        allNull(a) || (vs.nonEmpty && vs.forall(v => outOfRange(a, v)))
      case IsNotNull(a)             =>
        statOf(a).exists(_.nulls == rows)
      case IsNull(a)                => statOf(a).exists(_.nulls == 0L)
      case And(l, r)                =>
        statsContradict(l, rows, stats, parse, lateCols) ||
          statsContradict(r, rows, stats, parse, lateCols)
      case Or(l, r)                 =>
        statsContradict(l, rows, stats, parse, lateCols) &&
          statsContradict(r, rows, stats, parse, lateCols)
      case _                        => false
    }
  }

  /** Columns that must be non-null for `f` to possibly hold (Or keeps only
    * refs required on BOTH branches; Not/IsNull reject nothing). */
  private def nullRejectingRefs(f: Filter): Set[String] = f match {
    case EqualTo(a, _)            => Set(a)
    case GreaterThan(a, _)        => Set(a)
    case GreaterThanOrEqual(a, _) => Set(a)
    case LessThan(a, _)           => Set(a)
    case LessThanOrEqual(a, _)    => Set(a)
    case In(a, _)                 => Set(a)
    case IsNotNull(a)             => Set(a)
    case And(l, r)                => nullRejectingRefs(l) ++ nullRejectingRefs(r)
    case Or(l, r)                 => nullRejectingRefs(l).intersect(nullRejectingRefs(r))
    case _                        => Set.empty
  }

  /** True when some pushed conjunct can never hold in a block lacking one
    * of its required columns — the whole block is skippable unread. */
  def blockContradicted(pushed: Array[Filter], blockCols: Seq[String]): Boolean =
    pushed.exists(f => nullRejectingRefs(f).exists(c => !blockCols.contains(c)))

  def paths(options: CaseInsensitiveStringMap): Seq[String] = {
    val multi = Option(options.get("paths")).map { js =>
      // Spark encodes multiple load() paths as a JSON array string
      graft.io.JsonValue.parse(js).asInstanceOf[graft.io.JsonValue.JsonArray]
        .values.map(_.asInstanceOf[graft.io.JsonValue.JsonString].value)
    }.getOrElse(Nil)
    val single = Option(options.get("path")).toSeq
    (multi ++ single).distinct
  }

  /** Wrap a reader with a pushed-limit row cap. For the streaming split
    * reader the cap stops INPUT consumption (a .limit(n) over a huge
    * single-table file reads ~n lines per split); the whole-file reader
    * parses its block eagerly, so there the cap bounds only the rows
    * handed to Spark. Spark re-applies the global limit either way
    * (isPartiallyPushed). */
  def capped(limit: Option[Int],
             inner: PartitionReader[InternalRow]): PartitionReader[InternalRow] =
    limit match {
      case None => inner
      case Some(l) => new PartitionReader[InternalRow] {
        private var emitted = 0
        override def next(): Boolean =
          emitted < l && inner.next() && { emitted += 1; true }
        override def get(): InternalRow = inner.get()
        override def close(): Unit = inner.close()
      }
    }

  /** Plan byte-range splits for one single-table file: parse the 4-line
    * header from the file head driver-side (column names, units, data
    * start offset), refuse anything un-splittable (transposed layout,
    * wrong table name, header not newline-complete within 64 KB), and cut
    * the data region into `maxSplitBytes` ranges. Returns None for
    * fallback to the whole-file reader; a file small enough for one range
    * also falls back (the proven path, with issue tracking). */
  def planSplits(path: String, tableName: Option[String], sep: String,
                 maxSplitBytes: Long,
                 conf: org.apache.hadoop.conf.Configuration = activeHadoopConf())
      : Option[Seq[InputPartition]] = {
    require(maxSplitBytes > 0,
      s"startable source: maxSplitBytes must be positive, got $maxSplitBytes")
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(conf)
    val size = fs.getFileStatus(hp).getLen
    if (size - 0 <= maxSplitBytes) return None
    val headLen = math.min(size, 65536L).toInt
    val head = new Array[Byte](headLen)
    val in = fs.open(hp)
    try in.readFully(0, head, 0, headLen) finally in.close()
    // locate the first 4 newline-terminated lines IN BYTES (UTF-8 safe:
    // no multi-byte sequence contains 0x0A)
    val nls = new Array[Int](4)
    var found = 0; var i = 0
    while (found < 4 && i < headLen) {
      if (head(i) == '\n') { nls(found) = i; found += 1 }
      i += 1
    }
    if (found < 4) return None
    val lines = (0 until 4).map { k =>
      val s = if (k == 0) 0 else nls(k - 1) + 1
      new String(head, s, nls(k) - s,
        java.nio.charset.StandardCharsets.UTF_8).stripSuffix("\r")
    }
    val sepQuoted = java.util.regex.Pattern.quote(sep)
    val marker = lines(0)
    if (!marker.startsWith("**")) return None
    val name = marker.split(sepQuoted, -1).head.drop(2)
    if (name.endsWith("*")) return None // transposed: not row-splittable
    if (tableName.exists(_ != name)) return None
    val cols = graft.parse.Blocks.parseColumnNames(
      lines(2).split(sepQuoted, -1).toSeq)
    val units = lines(3).split(sepQuoted, -1).toSeq.map(_.trim).take(cols.size)
    if (cols.isEmpty || units.size != cols.size) return None
    val dataStart = nls(3) + 1L
    // assumeSingleTable guard: only the split reader that SEES a block
    // terminator stops — a later split whose range begins past it would
    // parse trailing non-table content as data rows. Best-effort
    // detection: scan the 64 KB head past the header and the 64 KB tail
    // for a second block marker or a blank line followed by more content,
    // and fall back to the (block-accurate) whole-file reader when found.
    // A multi-block file whose extra blocks hide entirely in the middle
    // region of a large file violates the caller's assumeSingleTable
    // contract and yields undefined rows — pass the real layout (no
    // option) to get the block parser.
    if (regionViolatesSingleTable(head, dataStart.toInt, headLen,
        skipPartialFirst = false))
      return None
    if (size > headLen) {
      val tailStart = math.max(dataStart, size - 65536L)
      val tailLen = (size - tailStart).toInt
      val tail = new Array[Byte](tailLen)
      val in2 = fs.open(hp)
      try in2.readFully(tailStart, tail, 0, tailLen) finally in2.close()
      if (regionViolatesSingleTable(tail, 0, tailLen,
          skipPartialFirst = tailStart > dataStart))
        return None
    }
    // cap the per-file task count: a pathological maxSplitBytes must not
    // plan a million partitions (Spark's openCostInBytes spirit)
    val eff = math.max(maxSplitBytes,
      math.ceil((size - dataStart).toDouble / 10000).toLong)
    val n = math.ceil((size - dataStart).toDouble / eff).toInt
    Some((0 until n).map { k =>
      StarFileSplitPartition(path,
        dataStart + k * eff,
        math.min(dataStart + (k + 1L) * eff, size),
        dataStart, cols, units): InputPartition
    })
  }

  /** Best-effort single-table violation scan over a byte region: true when
    * the region holds a second block marker (a line starting `**`) or a
    * blank line followed by a non-blank line (content past the block
    * terminator). Newline-delimited; a trailing CR is tolerated; with
    * `skipPartialFirst` the (possibly cut) first line is not judged. */
  private def regionViolatesSingleTable(bytes: Array[Byte], from: Int, until: Int,
                                        skipPartialFirst: Boolean): Boolean = {
    var i = from
    if (skipPartialFirst) {
      while (i < until && bytes(i) != '\n') i += 1
      i += 1
    }
    var blankSeen = false
    while (i < until) {
      var j = i
      while (j < until && bytes(j) != '\n') j += 1
      var len = j - i
      if (len > 0 && bytes(i + len - 1) == '\r') len -= 1
      val blank = len == 0
      if (!blank && blankSeen) return true
      if (len >= 2 && bytes(i) == '*' && bytes(i + 1) == '*') return true
      if (blank) blankSeen = true
      i = j + 1
    }
    false
  }

  /** Expand directories into their .csv members via the Hadoop FS API. */
  def resolveFiles(roots: Seq[String],
                   conf: org.apache.hadoop.conf.Configuration = activeHadoopConf())
      : Seq[String] = {
    roots.flatMap { r =>
      val p = new org.apache.hadoop.fs.Path(r)
      val fs = p.getFileSystem(conf)
      if (fs.getFileStatus(p).isDirectory)
        // Spark file-source listing convention: every visible file counts;
        // `_*` (markers like _SUCCESS/_header.txt) and `.*` (hidden/staging)
        // are skipped. This is what lets a Csv.writeDataset output directory
        // (self-describing part-*.txt files) be read back directly.
        fs.listStatus(p).toSeq
          .filter { s =>
            val n = s.getPath.getName
            s.isFile && !n.startsWith("_") && !n.startsWith(".")
          }
          .map(_.getPath.toString)
          .sorted
      else Seq(r)
    }
  }

  /** Parse one file for the named table (or the first table); the early
    * block filter peeks only the top-left cell of non-matching blocks.
    * `failFast` arms the fixer's stop-on-errors so malformed cells raise on
    * the EXECUTOR (visible as a task failure) instead of being auto-fixed —
    * the permissive/failfast split of Spark's built-in file sources. */
  def parseNamedTable(path: String, tableName: Option[String], sep: String,
                      failFast: Boolean = false,
                      conf: org.apache.hadoop.conf.Configuration = activeHadoopConf())
      : Option[ParsedTable] = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(conf)
    // STREAM lines into the (lazy) block state machine — never readAllBytes:
    // a single byte array hard-fails past 2 GB, and collectFirst means a
    // file whose matching table ends early never reads its tail at all.
    // Peak memory is one parsed block's cells, not the file.
    val reader = new java.io.BufferedReader(
      new java.io.InputStreamReader(fs.open(hp),
        java.nio.charset.StandardCharsets.UTF_8), 1 << 16)
    try {
      val lines = Iterator.continually(reader.readLine()).takeWhile(_ != null)
      // the early block filter sees the RAW marker name — for a transposed
      // table that includes the trailing `*` (reference parity,
      // blocks.py:310) — but the connector's `table` option names the
      // LOGICAL table, so accept both spellings
      val filter: Option[Blocks.BlockFilter] = tableName.map(n =>
        (bt: BlockType, name: String) =>
          bt != BlockType.Table || name == n || name == n + "*")
      val fixer = new graft.parse.ParseFixer()
      if (failFast) { fixer.stopOnErrors = true; fixer.verbose = false }
      val tracker: graft.origin.InputIssueTracker =
        if (failFast) new graft.origin.NullInputIssueTracker()
        else new graft.origin.AccumulatingInputIssueTracker()
      graft.io.CsvReader.parseLines(lines, sep,
        graft.origin.NullLocationFile(path).makeLocationSheet(),
        filter = filter, fixer = fixer, issueTracker = tracker)
        .collectFirst { case (BlockType.Table, p: ParsedTable) => p }
    } finally reader.close()
  }

  /** Stream ONLY the 4-line header of the named (or first) table: column
    * names + units from O(header) bytes, for schema inference over files
    * of ANY size. Handles the row-major layout (marker, destinations,
    * names, units); anything else — transposed marker, truncated block,
    * unit/name count mismatch — returns None and the caller falls back to
    * the full (streaming) block parse. Marker recognition mirrors the
    * block state machine: `**name` starts a table, `***` is a directive,
    * `****` is not a marker. */
  def parseTableHeader(path: String, tableName: Option[String], sep: String,
                       conf: org.apache.hadoop.conf.Configuration = activeHadoopConf())
      : Option[(Seq[String], Seq[String])] = {
    val sepQ = java.util.regex.Pattern.quote(sep)
    val hp = new org.apache.hadoop.fs.Path(path)
    val reader = new java.io.BufferedReader(
      new java.io.InputStreamReader(hp.getFileSystem(conf).open(hp),
        java.nio.charset.StandardCharsets.UTF_8), 1 << 16)
    try {
      var line = reader.readLine()
      while (line != null) {
        val first = line.split(sepQ, -1).head
        if (first.startsWith("**") && !first.startsWith("***")) {
          val name = first.drop(2)
          if (name.endsWith("*")) return None // transposed: full parse
          if (tableName.forall(_ == name)) {
            if (reader.readLine() == null) return None // no destinations
            val colsLine = reader.readLine()
            val unitLine = reader.readLine()
            if (colsLine == null || unitLine == null) return None
            // same duplicate-name fixup the full parse applies, so the
            // inferred schema is identical on either path
            val cols = graft.parse.Blocks.fixDuplicateColumnNames(
              graft.parse.Blocks.parseColumnNames(
                colsLine.split(sepQ, -1).toSeq),
              new graft.parse.ParseFixer())
            val units = unitLine.split(sepQ, -1).toSeq
              .map(_.trim).take(cols.size)
            return if (cols.nonEmpty && units.size == cols.size)
              Some((cols, units))
            else None
          }
        }
        line = reader.readLine()
      }
      None
    } finally reader.close()
  }

  /** Compare a parsed file's declared block schema (column names + units)
    * with the scan schema. failFast → raise on the executor; permissive →
    * warn on stderr (executor log) and let the by-name null-padding read
    * proceed. */
  def validateSchema(path: String, p: ParsedTable,
                     expected: StructType, failFast: Boolean): Unit = {
    val fileCols = p.columnNames
    val expCols = expected.fields.map(_.name).toSeq
    val missing = expCols.filterNot(fileCols.contains)
    val extra = fileCols.filterNot(expCols.contains)
    val unitByName = fileCols.zip(p.units).toMap
    val unitDrift = expected.fields.toSeq.flatMap { f =>
      for {
        fileUnit <- unitByName.get(f.name)
        expUnit = if (f.metadata.contains(StarTable.UnitMetaKey))
          f.metadata.getString(StarTable.UnitMetaKey) else fileUnit
        if fileUnit != expUnit
      } yield s"${f.name}: '$fileUnit' != '$expUnit'"
    }
    if (missing.nonEmpty || extra.nonEmpty || unitDrift.nonEmpty) {
      val msg = s"startable source: schema drift in $path — " +
        Seq(
          if (missing.nonEmpty) Some(s"missing columns ${missing.mkString(", ")}") else None,
          if (extra.nonEmpty) Some(s"extra columns ${extra.mkString(", ")}") else None,
          if (unitDrift.nonEmpty) Some(s"unit mismatch [${unitDrift.mkString("; ")}]") else None
        ).flatten.mkString("; ")
      if (failFast) throw new IllegalStateException(msg)
      else System.err.println(s"[graft] WARN $msg (permissive read: " +
        "missing columns null-padded, extra columns dropped)")
    }
  }

  def toCatalyst(v: Any): Any = v match {
    case null                   => null
    case s: String              => UTF8String.fromString(s)
    case t: java.sql.Timestamp  => DateTimeUtils.fromJavaTimestamp(t)
    case d: Double if d.isNaN   => null
    case other                  => other
  }
}

// ============================ write path ==============================

/** DSv2 write support: `df.write.format("startable").mode(...)save(path)`.
  *
  * Semantics: the DataFrame becomes ONE table block in ONE StarTable CSV
  * (path ending in .csv = the file itself; otherwise `<path>/<table>.csv`).
  * `mode("overwrite")` replaces the target; without it an existing target
  * REFUSES loudly (appending rows into an existing block-structured file
  * has no well-defined layout). Options: `table` (block name, default
  * `dataframe`), `sep`, `naRep`, `destinations` (space-separated).
  *
  * Scale shape: each task streams its partition to its own part file
  * through the Hadoop FS API (any supported filesystem, constant memory);
  * the driver's commit concatenates header + parts in partition order —
  * the [[graft.io.CsvWriter.mergeDistributed]] shape at the connector
  * layer. Value representation matches CsvWriter (`-` sealing, onoff 0/1,
  * python-style float repr, µs-precision datetimes), so connector output
  * round-trips through the reader and the driver-side writer's goldens.
  */
private[sources] class StarTableWriteBuilder(
    info: org.apache.spark.sql.connector.write.LogicalWriteInfo,
    props: Map[String, String] = Map.empty)
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {
  private var doTruncate = false
  override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
    doTruncate = true; this
  }
  override def build(): org.apache.spark.sql.connector.write.Write = {
    // catalog tables deliver path/table/sep via TABLE properties; write
    // options win (same merge as the read side, case-insensitive on both)
    val propsCI: Map[String, String] =
      props.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
    def opt(k: String): Option[String] =
      Option(info.options.get(k)).orElse(propsCI.get(k))
    val path = opt("path").getOrElse(
      throw new IllegalArgumentException("startable write: no path given"))
    new StarTableWrite(info.schema(), path,
      opt("table").getOrElse("dataframe"),
      opt("sep").getOrElse(";"),
      opt("naRep").getOrElse("-"),
      opt("destinations").getOrElse("all"),
      doTruncate)
  }
}

private[sources] class StarTableWrite(schema: StructType, path: String,
                                      table: String, sep: String, naRep: String,
                                      destinations: String, truncate: Boolean)
    extends org.apache.spark.sql.connector.write.Write
    with org.apache.spark.sql.connector.write.BatchWrite {
  import org.apache.spark.sql.connector.write._

  private val targetFile =
    if (path.endsWith(".csv")) path else s"$path/$table.csv"
  private val partsDir = s"$targetFile._parts"

  private val units: Seq[String] = schema.fields.toSeq.map { f =>
    f.dataType match {
      case _: ArrayType | _: MapType | _: StructType | BinaryType =>
        throw new IllegalArgumentException(
          s"startable write: column ${f.name} has non-scalar type " +
            s"${f.dataType.simpleString} — StarTable cells are scalars")
      case _ =>
        if (f.metadata.contains(StarTable.UnitMetaKey))
          f.metadata.getString(StarTable.UnitMetaKey)
        else UnitIndicator.unitFromType(f.dataType)
    }
  }

  override def toBatch: org.apache.spark.sql.connector.write.BatchWrite = {
    val fs = StarTableWriteUtil.fs(targetFile)
    val tgt = new org.apache.hadoop.fs.Path(targetFile)
    if (fs.exists(tgt) && !truncate)
      throw new IllegalArgumentException(
        s"startable write: $targetFile exists — appending rows to an " +
          "existing StarTable file is not supported; use mode(\"overwrite\")")
    fs.delete(new org.apache.hadoop.fs.Path(partsDir), true)
    fs.mkdirs(new org.apache.hadoop.fs.Path(partsDir))
    this
  }

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new StarTableWriterFactory(schema, units, sep, naRep, partsDir,
      new org.apache.spark.util.SerializableConfiguration(
        StarTableSource.activeHadoopConf()))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fs = StarTableWriteUtil.fs(targetFile)
    val out = fs.create(new org.apache.hadoop.fs.Path(targetFile), true)
    try {
      val header = new StringBuilder
      header.append(s"**$table$sep\n").append(destinations).append('\n')
        .append(schema.fieldNames.mkString(sep)).append('\n')
        .append(units.mkString(sep)).append('\n')
      out.write(header.toString.getBytes("UTF-8"))
      messages.collect { case m: StarTablePartMessage => m }
        .sortBy(_.partitionId)
        .foreach { m =>
          val p = new org.apache.hadoop.fs.Path(m.path)
          if (fs.exists(p)) {
            val in = fs.open(p)
            try org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, false)
            finally in.close()
          }
        }
      out.write("\n".getBytes("UTF-8"))
    } finally out.close()
    fs.delete(new org.apache.hadoop.fs.Path(partsDir), true)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = StarTableWriteUtil.fs(targetFile)
    fs.delete(new org.apache.hadoop.fs.Path(partsDir), true)
  }
}

private[sources] case class StarTablePartMessage(partitionId: Int, path: String)
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

private[sources] class StarTableWriterFactory(schema: StructType,
                                              units: Seq[String], sep: String,
                                              naRep: String, partsDir: String,
                                              confS: org.apache.spark.util.SerializableConfiguration)
    extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new StarTablePartWriter(schema, units, sep, naRep,
      f"$partsDir/part-$partitionId%05d-$taskId", partitionId, confS.value)
}

private[sources] class StarTablePartWriter(schema: StructType, units: Seq[String],
                                           sep: String, naRep: String,
                                           partPath: String, partitionId: Int,
                                           conf: org.apache.hadoop.conf.Configuration)
    extends org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
  private val fs = StarTableWriteUtil.fs(partPath, conf)
  private val out = fs.create(new org.apache.hadoop.fs.Path(partPath), true)
  private val tsNoFrac =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  private def cell(row: InternalRow, i: Int): String = {
    val u = units(i)
    if (row.isNullAt(i)) {
      if (u == UnitIndicator.Text) { if (i == 0) naRep else "" } else naRep
    } else u match {
      case UnitIndicator.OnOff => if (row.getBoolean(i)) "1" else "0"
      case UnitIndicator.Datetime =>
        val us = row.getLong(i)
        val ldt = java.time.LocalDateTime.ofEpochSecond(
          Math.floorDiv(us, 1000000L),
          (Math.floorMod(us, 1000000L) * 1000L).toInt,
          java.time.ZoneOffset.UTC)
        if (ldt.getNano == 0) ldt.format(tsNoFrac)
        else ldt.format(tsNoFrac) + f".${ldt.getNano / 1000}%06d"
      case UnitIndicator.Text =>
        val s = row.getUTF8String(i).toString
        if (s.isEmpty && i == 0) naRep else s
      case _ => schema(i).dataType match {
        case DoubleType =>
          val d = row.getDouble(i)
          if (d.isNaN) naRep
          else if (d == d.floor && !d.isInfinite && math.abs(d) < 1e16) {
            if (d == 0.0 && 1.0 / d < 0) "-0.0" else s"${d.toLong}.0"
          } else d.toString
        case FloatType    => row.getFloat(i).toString
        case LongType     => row.getLong(i).toString
        case IntegerType  => row.getInt(i).toString
        case ShortType    => row.getShort(i).toString
        case ByteType     => row.getByte(i).toString
        case _: DecimalType =>
          row.get(i, schema(i).dataType).toString
        case DateType =>
          DateTimeUtils.daysToLocalDate(row.getInt(i)).toString
        case other => row.get(i, other).toString
      }
    }
  }

  override def write(row: InternalRow): Unit = {
    val line = schema.indices.map(cell(row, _)).mkString(sep) + "\n"
    out.write(line.getBytes("UTF-8"))
  }

  override def commit(): org.apache.spark.sql.connector.write.WriterCommitMessage = {
    out.close()
    StarTablePartMessage(partitionId, partPath)
  }

  override def abort(): Unit = {
    try out.close() catch { case _: Throwable => () }
    fs.delete(new org.apache.hadoop.fs.Path(partPath), false)
  }

  override def close(): Unit = ()
}

private[sources] object StarTableWriteUtil {
  def fs(path: String,
         conf: org.apache.hadoop.conf.Configuration =
           StarTableSource.activeHadoopConf()): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
}
