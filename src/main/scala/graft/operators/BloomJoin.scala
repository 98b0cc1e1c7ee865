package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.CacheScope

/** Bloom-prefiltered semi/anti joins — the cross-size join shape: probe a
  * 100 TB fact table against a GB-scale key set WITHOUT shuffling the
  * misses. A bloom filter over the build side's distinct keys ships as a
  * LITERAL into the probe scan (Catalyst's `BloomFilterMightContain`, the
  * runtime-filter machinery evaluated map-side), so rows that cannot match
  * die in the scan stage; only the tiny might-match fraction reaches the
  * exact join that removes bloom false positives.
  *
  * Results are BIT-IDENTICAL to the plain joins: a bloom has no false
  * negatives, so the semi join loses nothing, and the anti join keeps
  * bloom-negative rows immediately (they are PROVABLY absent from the
  * build side) while exact-checking only the bloom-positive sliver.
  * Same machinery as [[graft.functions.Decontamination.sharedNgramCountsBloom]],
  * generalized to any key join.
  */
object BloomJoin {

  private def mightContain(s: CacheScope, build: DataFrame, buildKey: String,
                           probeKey: Column, expectedKeys: Long,
                           fpp: Double): (Column, DataFrame) = {
    import org.apache.spark.sql.graft.ColumnBridge
    val keys = s.cache(build.select(col(buildKey).as("__bk"))
      .filter(col("__bk").isNotNull).distinct())
    val bloom = keys.stat.bloomFilter("__bk", expectedKeys, fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    val mc = ColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal
          .create(bytes, org.apache.spark.sql.types.BinaryType),
        ColumnBridge.expression(probeKey)))
    (mc, keys)
  }

  /** `probe LEFT SEMI JOIN build ON probe(probeKey) = build(buildKey)`,
    * bloom-prefiltered map-side. Eager, under the [[CacheScope]] rules. */
  def bloomSemiJoin(probe: DataFrame, build: DataFrame, probeKey: String,
                    buildKey: String, expectedKeys: Long = 1000000L,
                    fpp: Double = 0.01): DataFrame = CacheScope { s =>
    val (mc, keys) = mightContain(s, build, buildKey, col(probeKey),
      expectedKeys, fpp)
    probe.filter(col(probeKey).isNotNull).filter(mc)
      .join(keys, probe(probeKey) === keys("__bk"), "left_semi")
  }

  /** `probe LEFT ANTI JOIN build ...`, bloom-accelerated: bloom-negative
    * rows keep WITHOUT any join (no false negatives ⇒ provably absent);
    * only the bloom-positive sliver exact-anti-joins. Null probe keys
    * keep, matching SQL anti-join semantics. Eager, under the
    * [[CacheScope]] rules. */
  def bloomAntiJoin(probe: DataFrame, build: DataFrame, probeKey: String,
                    buildKey: String, expectedKeys: Long = 1000000L,
                    fpp: Double = 0.01): DataFrame = CacheScope { s =>
    val (mc, keys) = mightContain(s, build, buildKey, col(probeKey),
      expectedKeys, fpp)
    val definiteMiss = probe.filter(col(probeKey).isNull || !mc)
    val checked = probe.filter(col(probeKey).isNotNull).filter(mc)
      .join(keys, probe(probeKey) === keys("__bk"), "left_anti")
    definiteMiss.unionByName(checked)
  }
}
