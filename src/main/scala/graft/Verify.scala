package graft

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

import graft.io.JsonValue
import graft.io.JsonValue.{JsonObject, JsonString}

/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json and rows_only.json, for the DuckDB oracle compare.
  *
  * Usage: Verify <sfDir> <outDir> [q1,q2,…]. The optional third argument
  * narrows the dump — parquet and both JSON files — to the named queries,
  * so dev/check_oracle.py checks just the queries under work; the full
  * correctness gate passes exactly two arguments. */
object Verify {

  /** `entries` as one JSON object of strings at `path`. */
  def writeJson(path: String, entries: Map[String, String]): Unit =
    Files.writeString(Paths.get(path), JsonValue.write(JsonObject(
      ListMap.from(entries.map { case (k, v) => k -> JsonString(v) }))))

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] = args.drop(2).headOption
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def keep(name: String): Boolean = only.forall(_.contains(name))
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => keep(name) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        try df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        finally df.unpersist()
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    writeJson(s"$outDir/oracle_sql.json",
      SparkEntry.oracleSql.filter { case (k, _) => keep(k) })
    // By-design rows-only queries, with reasons — so the gate's no_oracle
    // rows are explained rather than unexplained gaps.
    writeJson(s"$outDir/rows_only.json",
      SparkEntry.rowsOnlyReasons.filter { case (k, _) => keep(k) })
    spark.stop()
  }
}
