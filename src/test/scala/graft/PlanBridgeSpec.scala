package graft

import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Spread

/** `PlanBridge.flattenPlan` must copy rows out of the physical iterator
  * (as `Dataset.checkpoint` does): `execute()` may yield REUSED UnsafeRow
  * buffers, and a caller persisting or localCheckpointing the flattened RDD
  * would otherwise store one aliased buffer per partition. */
class PlanBridgeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("flattenPlan yields independent row buffers (checkpoint-grade copy)") {
    // whole-stage codegen writes every output row into a single reused
    // UnsafeRowWriter buffer — exactly the aliasing hazard under test
    val df = spark.range(0, 64).select((col("id") * 2).as("x")).coalesce(1)
    val flat = org.apache.spark.sql.graft.PlanBridge.flattenPlan(df)
    val rdd = flat.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd }.head
    // materializing the raw InternalRows (what persist would store): all 64
    // must be distinct values, not one buffer holding the last row
    val vals = rdd.collect().map(_.getLong(0)).toSet
    assert(vals == (0L until 64L).map(_ * 2).toSet,
      s"aliased row buffers: got ${vals.size} distinct of 64")
    // and the flattened frame still evaluates correctly end-to-end
    assert(flat.agg(sum("x")).head().getLong(0) == (0L until 64L).map(_ * 2).sum)
  }

  test("Spread over a groupBy input plans without running a job and adds no exchange") {
    // the aggregate's shuffle is implicit (EnsureRequirements adds it), so
    // only the prepared plan shows it
    val agg = spark.range(0, 1000).groupBy((col("id") % 7).as("k")).count()
    var spread: org.apache.spark.sql.DataFrame = null
    assert(TestSpark.jobsDuring { spread = Spread(agg) } == 0)
    assert(spread eq agg, "a post-exchange input must pass through untouched")
  }

  test("Spread still repartitions a bare one-file scan, without running a job") {
    val dir = java.nio.file.Files.createTempDirectory("spread_scan").toString
    spark.range(0, 1000).coalesce(1).write.mode("overwrite").parquet(dir)
    val scan = spark.read.parquet(dir)
    var spread: org.apache.spark.sql.DataFrame = null
    assert(TestSpark.jobsDuring { spread = Spread(scan) } == 0)
    assert(spread.queryExecution.analyzed.collect { case r: Repartition => r }.nonEmpty,
      "a one-task scan must gain the round-robin repartition")
    assert(spread.count() == 1000)
  }
}
