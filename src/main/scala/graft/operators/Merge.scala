package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.CacheScope

/** SCD-1 upsert: apply a change batch to a snapshot by key — the
  * incremental-maintenance primitive for a continuously-updated corpus
  * (re-crawled documents replace their old rows, new documents insert,
  * tombstones delete) without rewriting the 100 TB snapshot logic in every
  * pipeline.
  *
  * Semantics (keyed by `keyCols`):
  *   - snapshot rows whose key appears in `changes` are REPLACED by the
  *     change row (or dropped when the change is a tombstone);
  *   - change rows with unmatched keys are INSERTED (unless tombstoned);
  *   - rows with NULL in any key column never match (SQL join semantics) —
  *     they survive on the snapshot side and insert from the change side.
  *
  * `changes` must carry at most one row per key; pass
  * `requireUniqueKeys = true` to enforce that with a loud raise (one extra
  * aggregate over the change batch — cheap, it's the small side).
  *
  * Scale shape: the snapshot is touched by ONE left-anti join against the
  * distinct change keys — broadcast by default (a change batch is normally
  * orders of magnitude smaller than the snapshot, so the 100 TB side never
  * shuffles); pass `broadcastChanges = false` for rare snapshot-sized
  * batches and AQE plans the shuffle join. The union is a no-shuffle
  * concatenation.
  */
object Merge {

  def upsert(snapshot: DataFrame, changes: DataFrame, keyCols: Seq[String],
             deleteCol: Option[String] = None,
             broadcastChanges: Boolean = true,
             requireUniqueKeys: Boolean = false): DataFrame = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    val dataCols = snapshot.columns.toSeq
    deleteCol.foreach { d =>
      require(!dataCols.contains(d),
        s"deleteCol '$d' must not be a snapshot column")
    }
    if (requireUniqueKeys) {
      val dups = changes.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("__n")).filter(col("__n") > 1).count()
      require(dups == 0,
        s"changes carry $dups duplicate key(s) — merge would be ambiguous")
    }
    val keys = changes.select(keyCols.map(col): _*).distinct()
    val kept = snapshot.join(
      if (broadcastChanges) broadcast(keys) else keys,
      keyCols, "left_anti")
    val live = deleteCol match {
      case Some(d) => changes.filter(!coalesce(col(d), lit(false)))
      case None => changes
    }
    kept.unionByName(live.select(dataCols.map(col): _*))
  }

  /** SCD-2 (type-2 slowly-changing-dimension) upsert: apply a change batch
    * to a VERSIONED history table, closing superseded versions instead of
    * overwriting them — the corpus-lineage primitive ("what did this
    * document say when the model was trained?") that [[upsert]]'s
    * replace-in-place semantics cannot answer.
    *
    * `history` carries the data columns plus `validFromCol`/`validToCol`
    * (any orderable type — timestamp, date, or a batch sequence number;
    * `validToCol` NULL marks the current version). For each change row at
    * `batchTime`, keyed by `keyCols`:
    *   - matched current version, any tracked column differs (null-safely)
    *     → the current version is CLOSED (`validTo := batchTime`) and the
    *       change row inserts as the new current version;
    *   - matched and all tracked columns identical → NO-OP (no empty
    *     versions — re-crawling an unchanged page must not grow history);
    *   - unmatched key → plain insert (first version);
    *   - tombstone (`deleteCol` true) → current version closed, nothing
    *     inserted; tombstones for unknown keys are ignored;
    *   - already-closed rows pass through untouched, always.
    *
    * Scale shape: the history side is touched ONLY by broadcast hash joins
    * against the (small) change batch — it is scanned, never shuffled.
    * New-key detection reuses the same broadcast join: the matched-key set
    * (≤ |changes| rows) is re-derived and broadcast back against the
    * batch, instead of anti-joining the batch against a 100 TB key
    * projection (which would shuffle the snapshot's key column). Pass
    * `broadcastChanges = false` for snapshot-sized batches and AQE plans
    * shuffle joins throughout.
    *
    * Deterministic by construction: `batchTime` is caller-supplied (never
    * wall-clock) and change detection is an exact null-safe column
    * comparison.
    */
  def scd2Upsert(history: DataFrame, changes: DataFrame, keyCols: Seq[String],
                 batchTime: org.apache.spark.sql.Column,
                 validFromCol: String = "valid_from",
                 validToCol: String = "valid_to",
                 deleteCol: Option[String] = None,
                 broadcastChanges: Boolean = true,
                 requireUniqueKeys: Boolean = true): DataFrame = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    val histCols = history.columns.toSeq
    require(histCols.contains(validFromCol) && histCols.contains(validToCol),
      s"history must carry '$validFromCol' and '$validToCol' columns")
    val dataCols = histCols.filterNot(c => c == validFromCol || c == validToCol)
    require(keyCols.forall(dataCols.contains), s"keyCols must be history columns")
    val tracked = dataCols.filterNot(keyCols.contains)
    deleteCol.foreach { d =>
      require(!histCols.contains(d), s"deleteCol '$d' must not be a history column")
    }
    if (requireUniqueKeys) {
      val dups = changes.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("__n")).filter(col("__n") > 1).count()
      require(dups == 0,
        s"changes carry $dups duplicate key(s) — versioning would be ambiguous")
    }

    val del = deleteCol.map(d => coalesce(col(d), lit(false))).getOrElse(lit(false))
    val ch = changes.select(
      keyCols.map(col) ++ tracked.map(c => col(c).as(s"__ch_$c")) ++
        Seq(del.as("__del"), lit(true).as("__m")): _*)
    val chSide = if (broadcastChanges) broadcast(ch) else ch

    val closed = history.filter(col(validToCol).isNotNull)
    val current = history.filter(col(validToCol).isNull)
    val j = current.join(chSide, keyCols, "left")
    val differs = tracked.map(c => !(col(c) <=> col(s"__ch_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    val closeNow = coalesce(col("__m"), lit(false)) && (col("__del") || differs)

    val outCols = (dataCols :+ validFromCol :+ validToCol).map(col)
    val kept = j.filter(!closeNow).select(outCols: _*)
    val closedNow = j.filter(closeNow)
      .select((dataCols.map(col) :+ col(validFromCol) :+
        batchTime.cast(history.schema(validToCol).dataType).as(validToCol)): _*)
    val newVersions = j.filter(closeNow && !col("__del"))
      .select(keyCols.map(col) ++ tracked.map(c => col(s"__ch_$c").as(c)): _*)

    // New-key inserts: matched keys re-derived through the SAME broadcast
    // join (≤ |changes| rows survive the filter), then broadcast back —
    // the history key column is never shuffled.
    val matchedKeys = current.join(chSide, keyCols, "left_semi")
      .select(keyCols.map(col): _*)
    val firstVersions = ch.filter(!col("__del"))
      .join(if (broadcastChanges) broadcast(matchedKeys) else matchedKeys,
        keyCols, "left_anti")
      .select(keyCols.map(col) ++ tracked.map(c => col(s"__ch_$c").as(c)): _*)

    val inserts = newVersions.unionByName(firstVersions)
      .withColumn(validFromCol,
        batchTime.cast(history.schema(validFromCol).dataType))
      .withColumn(validToCol,
        lit(null).cast(history.schema(validToCol).dataType))
      .select(outCols: _*)

    closed.select(outCols: _*).unionByName(kept).unionByName(closedNow)
      .unionByName(inserts)
  }

  /** Build the aggregate a change feed will maintain: one row per key
    * group with an exact row count and exact DECIMAL(28,2) sums of
    * `valueCols` (named `<v>_sum`). Count + sum form a SELF-MAINTAINABLE
    * view: inserts AND deletes apply as signed deltas without touching
    * the fact table (avg/ratio views derive from them at read time;
    * min/max would need the facts back on delete and are out of scope). */
  def buildAggregate(facts: DataFrame, keyCols: Seq[String],
                     valueCols: Seq[String]): DataFrame =
    facts.groupBy(keyCols.map(col): _*).agg(
      count(lit(1)).as("n"),
      valueCols.map(v =>
        sum(col(v).cast("decimal(28,2)")).as(s"${v}_sum")): _*)

  /** Incremental view maintenance: apply a change batch to an aggregate
    * built by [[buildAggregate]] WITHOUT rescanning the facts — the
    * difference between re-aggregating 100 TB and one key-partitioned
    * merge of a (groups × changes)-sized delta.
    *
    * `changes` carries the changed fact ROWS (keyCols + valueCols) plus
    * `opCol`: "I" inserts, "D" deletes (a CDC delete carries the old
    * row, so its values subtract exactly). The change batch aggregates
    * to signed per-group deltas first (map-side combinable — the shuffle
    * carries groups, not changes), then a full-outer join by key updates
    * counts/sums; groups whose count reaches zero DROP (their decimal
    * sums are exactly zero by construction — the reason the sums are
    * decimal, not float).
    *
    * A delete of a row the aggregate never saw would drive a count
    * negative — that is corrupt input, and it REFUSES loudly (one count
    * action over the merged frame) rather than persisting a poisoned
    * view. */
  def maintainAggregate(agg: DataFrame, changes: DataFrame,
                        keyCols: Seq[String], valueCols: Seq[String],
                        opCol: String = "op"): DataFrame = CacheScope { s =>
    val sgn = when(col(opCol) === "D", lit(-1L))
      .when(col(opCol) === "I", lit(1L))
    val delta = changes
      .withColumn("__sgn", coalesce(sgn, raise_error(
        concat(lit(s"maintainAggregate: $opCol must be 'I' or 'D', got '"),
          col(opCol), lit("'")))))
      .groupBy(keyCols.map(col): _*)
      .agg(sum(col("__sgn")).as("__dn"),
        valueCols.map(v => sum(col(v).cast("decimal(28,2)") * col("__sgn"))
          .as(s"__d_${v}_sum")): _*)
    val merged = agg.join(delta, keyCols, "full_outer")
      .select(keyCols.map(col) ++ Seq(
        (coalesce(col("n"), lit(0L)) + coalesce(col("__dn"), lit(0L))).as("n")) ++
        valueCols.map { v =>
          (coalesce(col(s"${v}_sum"), lit(0).cast("decimal(28,2)")) +
            coalesce(col(s"__d_${v}_sum"), lit(0).cast("decimal(28,2)")))
            .cast("decimal(28,2)").as(s"${v}_sum")
        }: _*)
    // one internal barrier: the merge join runs ONCE for both the
    // corruption check and the result
    val barrier = s.cache(merged)
    val negatives = barrier.filter(col("n") < 0).count()
    if (negatives > 0L)
      throw new IllegalArgumentException(
        s"maintainAggregate: $negatives group(s) would reach a NEGATIVE row " +
          "count — the change batch deletes rows the aggregate never saw. " +
          "Refusing to produce a corrupt view.")
    barrier.filter(col("n") > 0)
  }

  /** Snapshot diff — derive the change feed BETWEEN two table versions:
    * the inverse of [[upsert]], and the producer side of
    * [[maintainAggregate]]/[[scd2Upsert]] when no upstream CDC exists
    * (nightly re-crawls, vendor drops, backfills).
    *
    * Emits one row per changed key with `op` ∈ {I, D, U}: inserts carry
    * the after-image, deletes the before-image, updates the after-image
    * (update detection is NULL-SAFE over `compareCols` — null→value and
    * value→null both count as changes). Unchanged keys produce nothing.
    *
    * Scale shape: ONE key-partitioned full-outer join of the two
    * snapshots — both sides are snapshot-sized by assumption, so neither
    * broadcasts; write both versions bucketed by key
    * ([[graft.operators.Bucketing]]) and the join plans with zero
    * exchanges. Keys must be unique per snapshot (standard snapshot
    * semantics; duplicate keys make "the" before/after image undefined). */
  def snapshotDiff(before: DataFrame, after: DataFrame, keyCols: Seq[String],
                   compareCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "snapshotDiff: no key columns")
    require(compareCols.nonEmpty, "snapshotDiff: no compare columns")
    val b = before.select(
      keyCols.map(col) ++ compareCols.map(c => col(c).as(s"__b_$c"))
        :+ lit(1).as("__b_present"): _*)
    val a = after.select(
      keyCols.map(col) ++ compareCols.map(c => col(c).as(s"__a_$c"))
        :+ lit(1).as("__a_present"): _*)
    val joined = b.join(a, keyCols, "full_outer")
    val changed = compareCols
      .map(c => !(col(s"__b_$c") <=> col(s"__a_$c"))).reduce(_ || _)
    val op = when(col("__b_present").isNull, lit("I"))
      .when(col("__a_present").isNull, lit("D"))
      .when(changed, lit("U"))
    val outVals = compareCols.map(c =>
      when(col("__a_present").isNull, col(s"__b_$c"))
        .otherwise(col(s"__a_$c")).as(c))
    joined.withColumn("op", op)
      .filter(col("op").isNotNull)
      .select(keyCols.map(col) ++ outVals :+ col("op"): _*)
  }
}
