package graft.functions

import org.apache.spark.sql.DataFrame

/** Parallelism floor for compute-heavy fused map stages above narrow scans.
  *
  * A single parquet file with one row group yields a ONE-TASK scan stage,
  * and whole-stage codegen fuses everything up to the first exchange into
  * that task — so the expensive per-row work (JSON parsing, tokenization,
  * signature hashing, quantization) serializes on one core no matter how
  * many the session has (measured: the events→edges parse+partial-distinct
  * stage ran 1.24 s on ONE task at local[32] while 31 cores idled; guide
  * §2.5 "input skew: one huge unsplittable file — repartition immediately
  * after the read").
  *
  * `Spread(df)` inserts one round-robin exchange of the RAW rows before the
  * heavy work, but ONLY when the input's scan parallelism is below half the
  * session's default parallelism — at production scale a table arrives in
  * hundreds of splits and this is a provable no-op (no exchange added), so
  * the plan shape is scale-adaptive rather than tuned to either end. The
  * exchange moves rows the following stage was about to shuffle anyway
  * (post-aggregate/join exchanges still apply); its cost is one extra pass
  * of the narrow input, its win is every core working the fused map.
  */
object Spread {
  def apply(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // Planned scan parallelism WITHOUT executing anything: for a bare scan
    // pipeline this is the file-split count; for an input that already
    // passes through an exchange (join/aggregate/repartition upstream) it
    // is None — parallelism there is governed by shuffle partitions / AQE.
    org.apache.spark.sql.graft.PlanBridge.scanParallelism(df) match {
      case Some(parts) if parts * 2 <= target =>
        // Round-robin repartition to the session's default parallelism.
        // Spark sorts each input partition before a round-robin exchange
        // (spark.sql.execution.sortBeforeRepartition) so a retried task
        // reproduces its row-to-partition assignment; that sort runs on
        // the few input tasks this exchange exists to relieve.
        df.repartition(target)
      case _ => df
    }
  }
}
