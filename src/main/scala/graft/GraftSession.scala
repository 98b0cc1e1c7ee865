package graft

import org.apache.spark.sql.SparkSession

/** The one place a local graft session is built. Bench, Verify, Demo, the
  * test session and the dev tools all take this config, so the config that
  * is benchmarked is the config that is oracle-checked and spec-tested.
  */
object GraftSession {

  /** AQE coalescing floor. Coalescing is BYTE-based: with parallelismFirst
    * (the default) it still floors partitions at minPartitionSize (Spark's
    * default 1 MB), so a compute-dense stage above a small shuffle (pair
    * joins over int8 codes, per-token aggregates — kilobytes of keys,
    * quadratic or hash-heavy work) collapses to ONE task and serializes on
    * one core (measured: q_knn_graph's pair-join stage ran 1.48 s on 1 task
    * at local[32]).
    *
    * TESTDATA-SHAPED: the win exists only because the testdata's parquet
    * files are one row group each and its shuffles are kilobytes. At
    * production sizes every shuffle partition is far above any floor and
    * the advisory size governs; PlanSpec shows the floor is a no-op there
    * (same post-coalesce partition count as with Spark's default). */
  val MinPartitionSize = "64k"

  /** Local cores: SPARK_GRAFT_CPUS, default 4. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.trim.toInt)

  /** The local session on `cores` cores (one shuffle partition per core),
    * UTC session time zone, UI off, log level WARN. */
  def local(cores: Int = GraftSession.cores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        MinPartitionSize)
      // Bound AQE's per-update plan-string render: a deep iterative plan
      // otherwise costs plan-sized DRIVER time per plan-change event
      // (onUpdatePlan → explainString), single-threaded. 1 MB keeps any
      // conceivable diagnostic value; the default is effectively unbounded.
      .config("spark.sql.maxPlanStringLength", "1048576")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
