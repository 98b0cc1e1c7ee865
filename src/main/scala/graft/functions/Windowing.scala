package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed per-group ranking — the scale-correct replacement for
  * `row_number() OVER (PARTITION BY g ORDER BY o)`.
  *
  * Spark's window operator clusters each partition key onto ONE task: a
  * 100 TB corpus with 30 languages becomes 30 giant sort tasks (and one
  * straggler per skewed language). Here the data is RANGE-partitioned on
  * (group, order) instead — a huge group spans as many partitions as its
  * size requires, every task is bounded by `maxPartitionBytes`-scale slices
  * — and the global per-group rank is reassembled from metadata:
  *
  *   1. `repartitionByRange` + `sortWithinPartitions` on (group ++ order)
  *      — the ONE data shuffle;
  *   2. `monotonically_increasing_id()` over the sorted partitions gives a
  *      per-partition-contiguous id, so a row's LOCAL rank inside its
  *      (group, partition) slice is `mid − min(mid of the slice) + 1` —
  *      no window over the data at all;
  *   3. per-(group, partition) `(min(mid), count)` is a metadata-sized
  *      aggregate (groups × partitions rows); the exclusive prefix of the
  *      counts in partition order (a window over that TINY table) is each
  *      slice's global offset, broadcast back.
  *
  * Determinism: boundaries come from `RangePartitioner`'s seeded sampler
  * and the within-partition sort uses the full (group ++ order) key, so
  * when that key is a TOTAL order (append a unique id as the last order
  * column) the assigned ranks equal the sequential `row_number` under the
  * same ordering — engine-, partitioning- and cluster-size-independent.
  *
  * Reference semantics: pandas `groupby().rank()` / `ngroup`-style
  * enumeration (pdtable delegates ranking to pandas; see
  * pdtable/frame.py — single-process there, range-reassembled here).
  */
object Windowing {

  /** Per-group `row_number` (1-based) under (orderCols) within each
    * groupCols group, as a new `outCol` column appended to `df`'s columns.
    * `orderCols` must include a tie-breaking unique key for a fully
    * deterministic result. */
  def globalRowNumber(df: DataFrame, groupCols: Seq[String],
                      orderCols: Seq[String], outCol: String = "rn",
                      numPartitions: Int = 0): DataFrame =
    withRankAndCount(df, groupCols, orderCols, numPartitions,
      _.withColumnRenamed("__rn", outCol).drop("__gn"))

  /** Distributed LAG: `lag_<c>` columns carrying each row's `offset`-back
    * predecessor values under (groupCols, orderCols) — SQL
    * `LAG(c, offset) OVER (PARTITION BY g ORDER BY o)` without one task
    * per group: the rank comes from the range-partitioned
    * [[globalRowNumber]] pass and predecessors attach via ONE
    * (group, rank−offset) equi-join, so a skewed group spans many bounded
    * tasks instead of serializing through a single window task. First
    * `offset` rows of each group get nulls, as in SQL. Eager, under the
    * [[CacheScope]] rules. */
  def globalLag(df: DataFrame, groupCols: Seq[String], orderCols: Seq[String],
                lagCols: Seq[String], offset: Int = 1,
                numPartitions: Int = 0): DataFrame = CacheScope { _ =>
    require(offset >= 1, s"globalLag: offset must be >= 1, got $offset")
    require(lagCols.nonEmpty, "globalLag: no lag columns")
    val ranked = withRankAndCount(df, groupCols, orderCols, numPartitions)
      .drop("__gn")
    val prev = ranked.select(
      groupCols.map(col) ++ Seq((col("__rn") + offset).as("__rn")) ++
        lagCols.map(c => col(c).as(s"lag_$c")): _*)
    // both join legs read the SAME cached rank barrier
    ranked.join(prev, groupCols :+ "__rn", "left")
      .drop("__rn")
  }

  /** 2-D Pareto frontier (skyline), both dimensions MAXIMIZED: rows not
    * dominated by any other row (x' ≥ x ∧ y' ≥ y with one strict) — the
    * quality-vs-quantity selection rule (e.g. keep documents on the
    * quality/length frontier instead of a single weighted score).
    *
    * Exact, duplicate-friendly (identical (x, y) rows never dominate each
    * other and all survive), integer/decimal inputs → engine-independent.
    * Scale shape: collapse to the DISTINCT-x best-y table first (rows
    * below their x's best y are dominated by it), run the suffix-max
    * window over THAT vocabulary-sized table (the CUSUM/hourly-table
    * class — data rows never enter a window), and join the surviving x
    * values back. One x-keyed shuffle + one x-keyed join. */
  def paretoFront2D(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val best = df.groupBy(col(xCol))
      .agg(max(col(yCol)).as("__besty"))
    // max best-y among strictly larger x: window over distinct x only
    val suf = Window.orderBy(col(xCol).desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontierX = best
      .withColumn("__suf", max(col("__besty")).over(suf))
      // dominated iff some x' > x reaches y' >= besty
      .filter(col("__suf").isNull || col("__suf") < col("__besty"))
      .select(col(xCol), col("__besty"))
    df.join(frontierX, Seq(xCol))
      .filter(col(yCol) === col("__besty"))
      .drop("__besty")
  }

  /** Rank AND group size from the same single-shuffle pass — for
    * position-from-the-end formulations (EWMA lags, tail slicing) that
    * would otherwise pay a second count aggregate + join. */
  def globalRowNumberAndCount(df: DataFrame, groupCols: Seq[String],
                              orderCols: Seq[String], rnCol: String = "rn",
                              cntCol: String = "gn",
                              numPartitions: Int = 0): DataFrame =
    withRankAndCount(df, groupCols, orderCols, numPartitions,
      _.withColumnRenamed("__rn", rnCol).withColumnRenamed("__gn", cntCol))

  /** Per-group ntile(k): bucket 1..k by rank order, first (n mod k)
    * buckets one row larger — exactly SQL NTILE over
    * (PARTITION BY groupCols ORDER BY orderCols), reassembled from the
    * same one-shuffle rank. */
  def globalNtile(df: DataFrame, groupCols: Seq[String],
                  orderCols: Seq[String], k: Int, outCol: String = "bucket",
                  numPartitions: Int = 0): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val base = intDiv(col("__gn"), lit(k))
    val rem = col("__gn") % k
    val cut = rem * (base + 1)
    // First `rem` buckets have base+1 rows; when n < k, base = 0 and every
    // row lands in its own bucket (cut = n) — the `otherwise` branch, with
    // its division by base = 0, is never taken.
    val bucket = when(col("__rn") <= cut, intDiv(col("__rn") - 1, base + 1))
      .otherwise(rem + intDiv(col("__rn") - cut - 1, base))
    withRankAndCount(df, groupCols, orderCols, numPartitions,
      _.withColumn(outCol, (bucket + 1).cast("int")).drop("__rn", "__gn"))
  }

  /** Exact per-group quantiles by the nearest-rank definition: for each
    * probability p (in percent, to stay integer-exact), the value at rank
    * ⌈p·n/100⌉ under (orderCols) — exact order statistics at any group
    * size over the same one-shuffle rank, where `percentile_approx`
    * trades accuracy and a per-group window serializes the group. Returns
    * one row per (group, pct): groupCols ++ (pct, rank, plus all of df's
    * columns at that rank). */
  def globalQuantiles(df: DataFrame, groupCols: Seq[String],
                      orderCols: Seq[String], pcts: Seq[Int],
                      numPartitions: Int = 0): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 100),
      s"pcts must be 1..100, got $pcts")
    // rank = ceil(p*n/100) = (p*n + 99) div 100, exact in integers
    val pctCol = explode(array(pcts.map(p => lit(p)): _*)).as("pct")
    withRankAndCount(df, groupCols, orderCols, numPartitions,
      _.select(col("*"), pctCol)
        .filter(col("__rn") === intDiv(col("pct") * col("__gn") + 99, lit(100)))
        .withColumnRenamed("__rn", "rank")
        .drop("__gn"))
  }

  /** Full SQL rank family — RANK (ties share the first row number),
    * DENSE_RANK, PERCENT_RANK = (rank−1)/(n−1), CUME_DIST = rows≤value/n —
    * with the same no-data-window scale shape: row numbers from the
    * one-shuffle range rank (tie-broken by `tieCols`), tie semantics
    * reassembled from a per-(group, value) aggregate (min row number +
    * count — vocabulary-sized, value-keyed, never broadcast), dense ranks
    * by ranking that distinct-value table itself. The two dist columns are
    * single IEEE divisions of exact integers — bit-identical in any
    * engine, no rounding needed.
    *
    * Matches `rank()/dense_rank()/percent_rank()/cume_dist() OVER
    * (PARTITION BY groupCols ORDER BY valueCols)` exactly (ties on the
    * VALUE columns; `tieCols` only pins the underlying row order). */
  def globalRankDist(df: DataFrame, groupCols: Seq[String],
                     valueCols: Seq[String], tieCols: Seq[String],
                     numPartitions: Int = 0): DataFrame = CacheScope { _ =>
    // the rank frame is consumed TWICE (value stats + final join)
    val ranked = withRankAndCount(df, groupCols, valueCols ++ tieCols,
      numPartitions)
    val vg = groupCols ++ valueCols
    val vstats = ranked.groupBy(vg.map(col): _*)
      .agg(min(col("__rn")).as("rank"), count(lit(1)).as("__vc"))
    val dense = globalRowNumber(vstats, groupCols, valueCols, "dense_rank")
    ranked.join(dense, vg)
      .withColumn("percent_rank",
        when(col("__gn") > 1,
          (col("rank") - 1).cast("double") / (col("__gn") - 1).cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("cume_dist",
        (col("rank") + col("__vc") - 1).cast("double") / col("__gn").cast("double"))
      .drop("__rn", "__gn", "__vc")
  }

  /** Integer division on non-negative longs — exact past 2^53, where
    * Spark's `/` (double division) starts rounding. Exposed for sibling
    * operators ([[Mixing.matchDistribution]]). */
  private[functions] def intDivPublic(a: Column, b: Column): Column =
    intDiv(a, b)

  private def intDiv(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(org.apache.spark.sql.catalyst.expressions.IntegralDivide(
      ColumnBridge.expression(a.cast("long")),
      ColumnBridge.expression(b.cast("long")))).cast("long")
  }

  /** Shared core: df + `__rn` (per-group rank) + `__gn` (group size).
    *
    * The stamped frame (`__pid`/`__mid`) is PERSISTED before use: it is
    * consumed twice (slice stats, rank assembly), and
    * `monotonically_increasing_id`/`spark_partition_id` are
    * execution-dependent — without the barrier the two consumers can
    * re-execute the range exchange with DIFFERENT sampled boundaries
    * (exchange reuse is not guaranteed, e.g. under an AQE-replanned
    * upstream join) and the assembled ranks silently corrupt. The result
    * is eager, under the [[CacheScope]] rules; at scale the cache is
    * output-sized and spills via MEMORY_AND_DISK, the price of a
    * deterministic distributed rank. `finish` shapes the result. */
  private def withRankAndCount(df: DataFrame, groupCols: Seq[String],
                               orderCols: Seq[String],
                               numPartitions: Int,
                               finish: DataFrame => DataFrame = identity)
      : DataFrame = CacheScope { s =>
    require(groupCols.nonEmpty && orderCols.nonEmpty,
      "groupCols and orderCols must be non-empty")
    val spark = df.sparkSession
    val parts =
      if (numPartitions > 0) numPartitions
      else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val keys: Seq[Column] = (groupCols ++ orderCols).map(col)
    val ranged = s.cache(df.repartitionByRange(parts, keys: _*)
      .sortWithinPartitions(keys: _*)
      .withColumn("__pid", spark_partition_id())
      .withColumn("__mid", monotonically_increasing_id()))
    // Metadata-sized slice stats; the offset window runs over
    // groups × partitions rows, never the data.
    val gCols = groupCols.map(col)
    val slices = ranged.groupBy(gCols :+ col("__pid"): _*)
      .agg(min(col("__mid")).as("__mmin"), count(lit(1)).as("__c"))
    val wOff = Window.partitionBy(gCols: _*).orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wTot = Window.partitionBy(gCols: _*)
    val offsets = slices
      .withColumn("__off", coalesce(sum(col("__c")).over(wOff), lit(0L)))
      .withColumn("__gn", sum(col("__c")).over(wTot))
      .drop("__c")
    val out = ranged.join(broadcast(offsets), groupCols :+ "__pid")
      .withColumn("__rn", col("__mid") - col("__mmin") + 1 + col("__off"))
      .drop("__pid", "__mid", "__mmin", "__off")
    finish(out)
  }
}
