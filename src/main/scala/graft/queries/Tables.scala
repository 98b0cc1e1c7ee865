package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.StarTable

/** Testdata table access: every query goes through the StarTable wrapper so
  * the correctness gate exercises the engine's own surface, with units per
  * FIXTURES.md §8 (numerics '-', strings 'text', timestamps 'datetime' —
  * inferred by StarTable.fromDataFrame).
  */
object Tables {
  def df(spark: SparkSession, dir: String, name: String): DataFrame = {
    val raw = {
      // Some testdata generations write events.ts as TIMESTAMP(NANOS),
      // which the Spark reader rejects by default; the legacy conf reads
      // those as raw int64 nanos (harmless for µs-typed generations).
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      spark.read.parquet(s"$dir/$name.parquet")
    }
    if (name == "events") {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
      // Normalize ts to a session-TZ timestamp whatever the generation:
      // int64 nanos → µs instants (integer division — nanos exceed
      // double's 2^53 mantissa); TIMESTAMP_NTZ (µs, isAdjustedToUTC =
      // false) → the same instants under the UTC session timezone.
      raw.schema("ts").dataType match {
        case LongType =>
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampNTZType =>
          raw.withColumn("ts", col("ts").cast(TimestampType))
        case _ => raw
      }
    } else raw
  }

  def star(spark: SparkSession, dir: String, name: String): StarTable =
    StarTable.fromDataFrame(df(spark, dir, name), name)

  /** Key of a query's build-once fixture: the first 12 hex digits of
    * MD5("<dir>|<variant>"). Bumping the variant forces a rebuild. */
  def memoKey(dir: String, variant: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s"$dir|$variant".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)

  /** Directory of a query's build-once fixture, `graft_<prefix>_<key>`
    * under java.io.tmpdir: one build per dataset per host, shared by every
    * session (Verify, Bench, the specs) that runs the query. */
  def memoDir(prefix: String, dir: String, variant: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_${prefix}_${memoKey(dir, variant)}"

  /** Recursive delete: a fixture's rebuild path clears an aborted build. */
  def deleteTree(f: java.io.File): Unit = {
    val cs = f.listFiles(); if (cs != null) cs.foreach(deleteTree)
    f.delete(): Unit
  }

  /** DuckDB mirror of `UnigramLm.pinnedMean` — the boundary-free rounded
    * mean of an exact DECIMAL sum, as one SQL scalar expression. The
    * scaled numerator sum·10^S is built in HUGEINT (int128) via the exact
    * decomposition  TRUNC(s)·10^S + (s − TRUNC(s))·10^S  — DuckDB's
    * TRUNC keeps DECIMAL(38,0) and the fractional product's value is
    * < 10^S, so both casts to HUGEINT are exact and the old BIGINT
    * formulation's ~9.2·10^(18−S) overflow cliff is gone (an out-of-range
    * value now errors loudly in DuckDB instead of silently diverging from
    * a NULLing Spark cast; the engine side is exact to |sum| < 10^(30−S)).
    * Half-away-from-zero integral division (`//` on HUGEINT truncates
    * toward zero like Spark's decimal `div`; both CASE branches keep
    * operands non-negative so floor ≡ truncate), result cast to BIGINT
    * (small by construction — no HUGEINT reaches the output schema), then
    * one exact small-int/10^out double division. Never forms the IEEE
    * quotient whose `round()` the two engines disagree on at
    * `outScale`-decimal boundaries. */
  /** DuckDB mirror of `PinnedMath.pinnedRatio` — the boundary-free rounded
    * ratio of two integer expressions (HUGEINT arithmetic, `//` truncates
    * toward zero like Spark's decimal `div`; both CASE branches keep
    * operands non-negative so floor ≡ truncate; result cast to BIGINT so
    * no HUGEINT reaches the output schema). A count ratio is often EXACTLY
    * representable in binary and can land exactly on a k-decimal half
    * boundary where the two engines' round() disagree — this never forms
    * the IEEE quotient at all. */
  def pinnedRatioSql(numSql: String, denSql: String, outScale: Int): String = {
    val twoTenK = "2" + "0" * outScale
    val n = s"CAST(($numSql) AS HUGEINT)"
    val d = s"CAST(($denSql) AS HUGEINT)"
    s"(CAST(CASE WHEN $n >= 0 THEN ($n * $twoTenK + $d) // (2 * $d) " +
      s"ELSE -((-($n) * $twoTenK + $d) // (2 * $d)) END AS BIGINT) / " +
      s"${"1" + "0" * outScale}.0)"
  }

  def pinnedMeanSql(sumSql: String, nSql: String,
                    sumScale: Int, outScale: Int,
                    negate: Boolean = false): String = {
    require(sumScale - outScale >= 1, "pinnedMeanSql: sumScale <= outScale")
    val tenS    = "1" + "0" * sumScale
    val denMul  = "1" + "0" * (sumScale - outScale)
    val halfMul = "5" + "0" * (sumScale - outScale - 1)
    val sgn = if (negate) "-" else ""
    val s0  = s"($sgn($sumSql))"
    val num = s"(CAST(TRUNC($s0) AS HUGEINT) * CAST($tenS AS HUGEINT) + " +
      s"CAST(($s0 - TRUNC($s0)) * $tenS AS HUGEINT))"
    val den  = s"(CAST($nSql AS HUGEINT) * CAST($denMul AS HUGEINT))"
    val half = s"(CAST($nSql AS HUGEINT) * CAST($halfMul AS HUGEINT))"
    s"(CAST(CASE WHEN $num >= 0 THEN ($num + $half) // $den " +
      s"ELSE -((-($num) + $half) // $den) END AS BIGINT) / ${"1" + "0" * outScale}.0)"
  }
}
