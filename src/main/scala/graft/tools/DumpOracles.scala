package graft.tools

/** Dump EVERY oracle SQL statement (no Spark, no query execution) as
  * `<outDir>/oracle_sql.json`, so `dev/preflight_types.py` can LIMIT-0
  * type-check the full oracle contract in seconds. Catches the
  * HUGEINT-widening class of driver-gate hash failures (r05:
  * q_pagerank/q_ppr/q_weighted_pagerank/q_hits) before the driver does. */
object DumpOracles {
  def main(args: Array[String]): Unit = {
    val outDir = if (args.nonEmpty) args(0) else "/tmp/oracle_dump"
    new java.io.File(outDir).mkdirs()
    graft.Verify.writeJson(s"$outDir/oracle_sql.json", graft.SparkEntry.oracleSql)
    println(s"[dump-oracles] ${graft.SparkEntry.oracleSql.size} oracles -> $outDir/oracle_sql.json")
  }
}
