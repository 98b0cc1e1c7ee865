package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{AnnIndex, Similarity}
import graft.functions.AnnIndex.AnnSpec

/** Multi-probe LSH index: partition-pruned + row-group-pruned probes,
  * pinned recall for the shipped q_ann_lsh configuration (8 planes ×
  * 2 tables, nprobe 24), and exact-copy retrieval. Complements the
  * FunctionsSpec pins on single-bucket (nprobe = 1) probes.
  *
  * Honest scale note (measured, see SURVEY §perf): these synthetic
  * embeddings are near-random — LSH's worst case — so recall 0.5+ needs
  * ~19% of bucket space probed, and the probe's advantage over a
  * memory-bandwidth brute-force scan only materializes when scan I/O is
  * the bottleneck (cold/remote multi-TB storage). On clustered real-world
  * embeddings the same index probes far fewer buckets for the same recall.
  */
class LshIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val TABLES = 2
  private val NPROBE = 24

  private lazy val emb01 = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
  private lazy val dir01 = {
    val d = java.nio.file.Files.createTempDirectory("graft_lsh_spec").toString + "/idx"
    AnnIndex.write(emb01, "embedding", "vec_id", d,
      AnnSpec(AnnSpec.Lsh(planes = 8, tables = TABLES)))
    d
  }

  test("probe plan partition-prunes on ann_list and pushes the bucket filter") {
    val q = emb01.filter(col("vec_id") === 1).select("embedding").head().getSeq[Float](0)
    val probed = AnnIndex.probe(spark, dir01, q, k = 10, nprobe = NPROBE)
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("ann_list"),
      s"no partition pruning on ann_list:\n$plan")
    assert(plan.contains("PushedFilters: [") && plan.contains("In(bucket"),
      s"fine bucket filter not pushed to parquet:\n$plan")
  }

  test("query-directed multi-probe recall@10 >= 0.5 at the shipped config (pinned)") {
    // Everything is seeded → the measured recall is a fixed number; this is
    // the quality pin for the q_ann_lsh parameters (measured 0.60 on the
    // sf0.1 corpus at tuning time).
    val probes = Seq(1L, 7L, 42L)
    val recalls = probes.map { pid =>
      val q = emb01.filter(col("vec_id") === pid).select("embedding").head().getSeq[Float](0)
      val rest = emb01.filter(col("vec_id") =!= pid)
      val exact = Similarity.bruteForceTopK(rest, "embedding", "vec_id", q, 10)
        .collect().map(_.getLong(0)).toSet
      // probe the full index (contains pid) and drop the query itself
      val got = AnnIndex.probe(spark, dir01, q, k = 11, nprobe = NPROBE)
        .collect().map(_.getLong(0)).filter(_ != pid).take(10).toSet
      got.intersect(exact).size / 10.0
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.5, s"mean recall@10 degraded to $mean (per-probe: $recalls)")
  }

  test("an exact copy of the query vector is always retrieved as top hit") {
    // identical vectors share every bucket in every table — the exact bucket
    // (flip set of size 0, cost 0) is always probed
    val q = emb01.filter(col("vec_id") === 123).select("embedding").head().getSeq[Float](0)
    val top = AnnIndex.probe(spark, dir01, q, k = 3, nprobe = NPROBE).collect()
    assert(top.head.getLong(0) == 123L && math.abs(top.head.getDouble(1) - 1.0) < 1e-9)
  }

  test("probed candidate fraction is bounded (selectivity, not a rescan)") {
    val q = emb01.filter(col("vec_id") === 7).select("embedding").head().getSeq[Float](0)
    val total = emb01.count()
    val probedRows = AnnIndex.probe(spark, dir01, q, k = Int.MaxValue, nprobe = NPROBE).count()
    // 2 tables × 24/256 of bucket space ≈ 19% of ids in expectation; allow
    // slack for bucket-size variance but fail on anything scan-like
    assert(probedRows < total * 0.35,
      s"probe touched $probedRows of $total vectors — not selective")
  }
}
