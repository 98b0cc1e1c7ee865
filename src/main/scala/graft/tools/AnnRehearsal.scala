package graft.tools

import org.apache.spark.sql.DataFrame

import graft.functions.{AnnIndex, Similarity}
import graft.functions.AnnIndex.AnnSpec

/** Round-12 ANN recall/latency rehearsal (VERDICT r11 item 7): the index
  * family (brute / trained-IVF / PQ / IVF-PQ / int8) covers the
  * recall-vs-cost space, but until now with no MEASURED curve at a
  * realistic corpus size. This main generates a deterministic clustered
  * corpus (default 500k × 64d: 1024 ground-truth clusters, unit-norm
  * center + noise — the shape IVF coarse quantizers exist for), builds
  * each index once, and reports recall@10 against brute-force ground
  * truth plus median probe latency for a query stream. The resulting
  * table goes into SURVEY.md and guides the defaults.
  *
  * Usage: runMain graft.tools.AnnRehearsal [nVectors] */
object AnnRehearsal {

  private def mix64(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Deterministic clustered unit vector for `id`: center(cluster) +
    * 0.6·noise, normalized — noisy enough that a query's true top-10 can
    * straddle coarse-list boundaries (an easier corpus saturates every
    * variant at recall 1.0 and measures nothing). Executor-side, no
    * driver data. */
  private def vecFor(id: Long, dim: Int, clusters: Int): Array[Float] = {
    val c = id % clusters
    val v = new Array[Float](dim)
    var i = 0
    var n2 = 0.0
    while (i < dim) {
      val center = (mix64(c * 1000003L + i).toDouble / Long.MaxValue)
      val noise = (mix64(id * 31L + i * 7L).toDouble / Long.MaxValue)
      val x = center + 0.6 * noise
      v(i) = x.toFloat
      n2 += x * x
      i += 1
    }
    val inv = (1.0 / math.sqrt(math.max(n2, 1e-12))).toFloat
    i = 0
    while (i < dim) { v(i) *= inv; i += 1 }
    v
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(500000L)
    val dim = 64
    val clusters = 1024
    val spark = graft.GraftSession.local()
    import spark.implicits._

    val corpusPath = s"/tmp/graft_ann_corpus_v2_${n}/vectors.parquet"
    if (!java.nio.file.Files.exists(
        java.nio.file.Paths.get(corpusPath, "_SUCCESS")))
      spark.range(n).repartition(32).as[Long]
        .map(id => (id, vecFor(id, dim, clusters).toSeq))
        .toDF("vec_id", "embedding")
        .write.mode("overwrite").parquet(corpusPath)
    val emb = spark.read.parquet(corpusPath)

    // query stream: 16 perturbed corpus vectors (never identical to any
    // stored vector, always near their home cluster)
    val queries: Seq[Seq[Float]] = (0 until 16).map { q =>
      val base = vecFor(q * 31337L % n, dim, clusters)
      base.indices.map(i =>
        (base(i) + 0.05 * (mix64(q * 77L + i).toDouble / Long.MaxValue)).toFloat)
    }

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

    // ground truth + brute-force latency
    val (truth: Map[Int, Set[Long]], bruteLat: Seq[Double]) = {
      val pairs = queries.zipWithIndex.map { case (qv, qi) =>
        val (ids, dt) = timed(
          Similarity.bruteForceTopK(emb, "embedding", "vec_id", qv, 10)
            .collect().map(_.getLong(0)).toSet)
        ((qi, ids), dt)
      }
      (pairs.map(_._1).toMap, pairs.map(_._2))
    }
    println(f"[ann] corpus n=$n dim=$dim | brute-force: recall 1.000 by " +
      f"definition, probe median ${median(bruteLat) * 1000}%.0f ms")

    def report(name: String, buildS: Double,
               probe: Seq[Float] => DataFrame): Unit = {
      val runs = queries.zipWithIndex.map { case (qv, qi) =>
        val (ids, dt) = timed(probe(qv).collect().map(_.getLong(0)).toSet)
        (truth(qi).intersect(ids).size / 10.0, dt)
      }
      val recall = runs.map(_._1).sum / runs.size
      println(f"[ann] $name%-22s build ${buildS}%7.1f s  " +
        f"recall@10 ${recall}%.3f  probe median ${median(runs.map(_._2)) * 1000}%6.0f ms")
    }

    // one build per index, memoized on its metadata file (written last)
    def build(name: String, spec: AnnSpec): (String, Double) = {
      val path = s"/tmp/graft_ann_${name}_v3_$n"
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(path, AnnIndex.MetaFile)))
        (path, 0.0)
      else (path, timed(AnnIndex.write(emb, "embedding", "vec_id", path, spec))._2)
    }

    // trained IVF at several nprobe settings
    val (ivfPath, ivfBuild) = build("ivf", AnnSpec(AnnSpec.KMeans(nlist = 256, iters = 4)))
    for (nprobe <- Seq(1, 4, 16, 64))
      report(s"ivf256 nprobe=$nprobe", if (nprobe == 1) ivfBuild else 0.0,
        qv => AnnIndex.probe(spark, ivfPath, qv, 10, nprobe))

    // PQ (full-corpus ADC scan over m ints/vector), raw and re-ranked:
    // the top 200 ADC candidates rescored by exact cosine over the floats
    for (kq <- Seq(16, 64)) {
      val (pqPath, pqBuild) = build(s"pq_k$kq",
        AnnSpec(AnnSpec.Flat, AnnSpec.Pq(m = 8, k = kq, iters = 4)))
      report(s"pq m=8 k=$kq (ADC)", pqBuild,
        qv => AnnIndex.probe(spark, pqPath, qv, 10, 1))
      report(s"pq m=8 k=$kq +rerank200", 0.0,
        qv => AnnIndex.probe(spark, pqPath, qv, 10, 1, Some(emb)))
    }

    // IVF-PQ composition (pruned lists × int codes)
    val (ivfpqPath, ivfpqBuild) = build("ivfpq",
      AnnSpec(AnnSpec.KMeans(nlist = 256, iters = 4), AnnSpec.Pq(m = 8, k = 16, iters = 4)))
    for (nprobe <- Seq(4, 16))
      report(s"ivfpq256 m=8 nprobe=$nprobe", if (nprobe == 4) ivfpqBuild else 0.0,
        qv => AnnIndex.probe(spark, ivfpqPath, qv, 10, nprobe))
    report("ivfpq256 nprobe=16 +rerank200", 0.0,
      qv => AnnIndex.probe(spark, ivfpqPath, qv, 10, 16, Some(emb)))

    // int8 full scan (4x smaller bytes, exact-integer ranking)
    val int8Path = s"/tmp/graft_ann_int8_v2_$n/codes.parquet"
    val (_, int8Build) =
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(int8Path, "_SUCCESS")))
        ((), 0.0)
      else timed(Similarity.quantizeInt8(emb, "embedding", "vec_id")
        .write.mode("overwrite").parquet(int8Path))
    val codes = spark.read.parquet(int8Path)
    report("int8 full scan", int8Build, { qv =>
      val sMax = qv.map(x => math.abs(x.toDouble)).max
      val qCodes = qv.map(x =>
        if (sMax > 0) math.floor(x.toDouble / sMax * 127 + 0.5).toInt else 0)
      Similarity.int8CosineTopK(codes, "vec_id", qCodes, 10)
    })

    spark.stop()
  }
}
