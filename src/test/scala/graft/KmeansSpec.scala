package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Similarity

/** Lloyd's k-means: convergence, determinism, and assignment sanity. */
class KmeansSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  def emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("inertia is non-increasing across iterations (Lloyd's guarantee)") {
    val (_, _, inertias) = Similarity.kmeans(emb, "embedding", "vec_id",
      k = 4, iters = 4)
    assert(inertias.size == 4)
    inertias.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a + 1e-6, s"inertia increased: $inertias")
    }
  }

  test("clustering is deterministic across runs and covers all vectors") {
    def sizes() = {
      val (assign, _, _) = Similarity.kmeans(emb, "embedding", "vec_id",
        k = 4, iters = 3)
      assign.groupBy("cluster").count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    }
    val a = sizes(); val b = sizes()
    assert(a == b)
    assert(a.values.sum == emb.count())
    assert(a.keySet.subsetOf((0 until 4).toSet))
  }

  test("separated synthetic clusters are recovered exactly") {
    import spark.implicits._
    // two tight clusters far apart in 4-d
    val rows = (0 until 20).map { i =>
      val base = if (i % 2 == 0) Array(10f, 0f, 0f, 0f) else Array(-10f, 0f, 0f, 0f)
      (i.toLong, base.zipWithIndex.map { case (v, j) => v + (i % 3) * 0.01f * (j + 1) }.toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val (assign, _, _) = Similarity.kmeans(df, "embedding", "vec_id",
      k = 2, iters = 3)
    val byCluster = assign.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val even = (0 until 20 by 2).map(i => byCluster(i.toLong)).toSet
    val odd = (1 until 20 by 2).map(i => byCluster(i.toLong)).toSet
    assert(even.size == 1 && odd.size == 1 && even != odd)
  }

  test("k-means++ recovers planted clusters in ONE iteration and stops early") {
    import spark.implicits._
    val rows = (0 until 20).map { i =>
      val base = if (i % 2 == 0) Array(10f, 0f, 0f, 0f) else Array(-10f, 0f, 0f, 0f)
      (i.toLong, base.zipWithIndex.map { case (v, j) => v + (i % 3) * 0.01f * (j + 1) }.toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    // farthest-point init seeds one center per planted cluster, so recovery
    // needs a single Lloyd round; with iters=8 the early stop must kick in
    // (inertia trace shorter than the cap and flat at the tail)
    val (assign, _, inertias) = Similarity.kmeans(df, "embedding", "vec_id",
      k = 2, iters = 8)
    val byCluster = assign.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val even = (0 until 20 by 2).map(i => byCluster(i.toLong)).toSet
    val odd = (1 until 20 by 2).map(i => byCluster(i.toLong)).toSet
    assert(even.size == 1 && odd.size == 1 && even != odd)
    assert(inertias.size < 8, s"early stop never fired: ${inertias.size} iterations")
    assert(inertias.size <= 3, s"k-means++ should converge in <=3 rounds, took ${inertias.size}")
  }

  test("returned assignments are consistent with returned centroids") {
    val (assign, centroids, _) = Similarity.kmeans(emb, "embedding", "vec_id",
      k = 4, iters = 2) // deliberately truncated: not converged
    def d2(x: Seq[Float], c: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < x.size) { val d = x(i) - c(i); s += d * d; i += 1 }
      s
    }
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assign.collect().foreach { r =>
      val x = vecs(r.getLong(0)); val assigned = r.getInt(1)
      val best = centroids.indices.minBy(i => (d2(x, centroids(i)), i))
      assert(assigned == best,
        s"vec ${r.getLong(0)} labeled $assigned but nearest centroid is $best")
    }
  }
}
