package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Vector similarity over an embedding column (Array[Float]).
  *
  * Baseline: brute-force cosine top-k — a single codegen'd scan, no shuffle
  * except the final top-k (TakeOrderedAndProject). The persisted scale
  * path (LSH, anchor and k-means lists × raw or PQ codes) is
  * [[AnnIndex]]; this object holds the blocked pair operators, k-means,
  * the PQ codebook trainer and the exact-arithmetic scorers.
  */
object Similarity {

  /** Dot product of two float-array columns (promoted to double).
    * Codegen'd single-pass loop — see expressions.VectorExpressions for why
    * a zip_with/aggregate formulation is ~100× slower (interpreted HOFs). */
  def dot(a: Column, b: Column): Column =
    graft.functions.expressions.VectorExpressions.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0 when either vector has zero norm. Fused one-pass
    * codegen'd expression. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.expressions.VectorExpressions.cosine(a, b)

  private[functions] def vecLit(v: Seq[Float]): Column =
    array(v.map(x => lit(x)): _*)

  /** Brute-force cosine top-k against a literal query vector.
    * Plan shape: scan → project(cosine) → TakeOrderedAndProject — one pass,
    * no shuffle of the embedding column. Ties broken by id for determinism. */
  def bruteForceTopK(df: DataFrame, embCol: String, idCol: String,
                     query: Seq[Float], k: Int): DataFrame =
    df.select(col(idCol), cosine(col(embCol), vecLit(query)).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)

  /** Symmetric int8 quantization of an embedding column: per-vector scale
    * s = max |v_i|, code_i = floor(v_i/s·127 + 0.5) ∈ [−127, 127] — 4× less
    * storage and memory bandwidth than float32, and (unlike floats) int8
    * dot products are EXACT integers, so downstream similarity is
    * engine-independent by construction. Scales cancel in cosine, so
    * [[int8CosineTopK]] needs no dequantization. One narrow pass
    * (posexplode + per-id partial aggregate, one row per vector through
    * Zero-shuffle: scale and codes are array transforms in one projection
    * (a write-path pass — the interpreted higher-order functions cost no
    * exchange; the read path scans the 4×-smaller codes). Zero vectors
    * quantize to all-zero codes. */
  def quantizeInt8(df: DataFrame, embCol: String, idCol: String): DataFrame = {
    val s = array_max(transform(col(embCol), x => abs(x.cast("double"))))
    df.select(col(idCol), s.as("qscale"),
      transform(col(embCol), x =>
        when(s > 0, floor(x.cast("double") / s * 127 + 0.5).cast("int"))
          .otherwise(lit(0))).as("codes"))
  }

  /** Exact-integer cosine top-k over [[quantizeInt8]] codes against a
    * literal query-code vector: dot and norms are integer sums (bit-exact
    * in any engine), the final cosine two sqrt's and a division away.
    * Same scan shape as [[exactCosineScores]]. */
  def int8CosineTopK(codesDf: DataFrame, idCol: String, queryCodes: Seq[Int],
                     topK: Int, outScale: Int = 6): DataFrame = {
    require(queryCodes.nonEmpty && topK > 0, "bad query/topK")
    val qn2 = queryCodes.map(c => c.toLong * c).sum
    val qArr = array(queryCodes.map(c => lit(c.toLong)): _*)
    val agg = codesDf
      .select(col(idCol), posexplode(col("codes")).as(Seq("__p", "__c")))
      .select(col(idCol), col("__c").cast("long").as("__c"),
        element_at(qArr, col("__p") + 1).as("__q"))
      .groupBy(col(idCol))
      .agg(sum(col("__c") * col("__q")).as("__dot"),
        sum(col("__c") * col("__c")).as("__n2"))
    val den = sqrt(col("__n2").cast("double")) * lit(math.sqrt(qn2.toDouble))
    agg.select(col(idCol),
        when(den > 0, round(col("__dot").cast("double") / den, outScale))
          .otherwise(lit(0.0)).as("cosine_q"))
      .orderBy(col("cosine_q").desc, col(idCol).asc)
      .limit(topK)
  }

  /** Blocked k-nearest-neighbor graph over int8-quantized codes — the
    * construction pass behind graph-based ANN (NSW/HNSW neighborhoods),
    * kNN-classification, and neighborhood-based dedup. Every vector gets
    * its `k` nearest same-block neighbors by quantized cosine.
    *
    * `groupCol` is the BLOCKING key: the pair join runs within blocks
    * only, so block sizing is the scale contract (use k-means clusters,
    * LSH buckets, or a domain key; the guard REFUSES blocks above
    * `maxGroupSize` — the within-block join is quadratic in block size,
    * the [[semanticDedupRemoved]] rule).
    *
    * Engine-independence: codes are int8 quantized ([[quantizeInt8]]'s
    * arithmetic) carried as integer-valued DOUBLES, so the fused codegen
    * dot products and norms are EXACT (every intermediate < 2^53) in any
    * engine and any summation order; the cosine is one IEEE
    * division/sqrt chain rounded to `outScale` BEFORE ranking, and ties
    * break by neighbor id. The per-vector top-k is the bounded-state
    * TopKPairs aggregate — O(k) per vector with map-side combine, so the
    * shuffle after the pair join carries ≤ k candidates per (vector,
    * partition) instead of every scored pair (a rank formulation would
    * also re-execute the pair join for range-boundary sampling).
    * Returns (idCol, neighbor_id, cosine, rank). */
  def knnWithinGroups(df: DataFrame, groupCol: String, embCol: String,
                      idCol: String, k: Int, maxGroupSize: Int = 20000,
                      outScale: Int = 6): DataFrame = CacheScope { scope =>
    require(k >= 1, s"k must be >= 1, got $k")
    // Spread + persist: the interpreted quantize transform is the heavy
    // map pass and THREE consumers read it (the block-size guard and both
    // self-join legs) — uncached it re-ran per consumer, fused into a
    // one-task single-file scan (measured 1.2 s + 1.5 s single-task
    // stages at bench shape).
    val s = array_max(transform(col("__emb"), x => abs(x.cast("double"))))
    val codes = scope.cache(graft.functions.Spread(
        df.select(col(groupCol).as("__grp"), col(idCol).as("__id"),
          col(embCol).as("__emb")))
      .select(col("__grp"), col("__id"),
        transform(col("__emb"), x =>
          when(s > 0, floor(x.cast("double") / s * 127 + 0.5))
            .otherwise(lit(0.0))).as("__codes"))
      .withColumn("__n2", dot(col("__codes"), col("__codes"))))
    val largest = codes.groupBy(col("__grp")).agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).head().getLong(0)
    require(largest <= maxGroupSize,
      s"knnWithinGroups: largest block holds $largest vectors (> " +
        s"maxGroupSize=$maxGroupSize) — the within-block join is quadratic " +
        "in that block. Use a finer blocking key (k-means clusters, LSH " +
        "buckets) or raise maxGroupSize explicitly.")
    val a = codes.select(col("__grp"), col("__id").as("__ida"),
      col("__codes").as("__ca"), col("__n2").as("__n2a"))
    val b = codes.select(col("__grp"), col("__id").as("__idb"),
      col("__codes").as("__cb"), col("__n2").as("__n2b"))
    val den = sqrt(col("__n2a")) * sqrt(col("__n2b"))
    val cos = when(den > 0,
      round(dot(col("__ca"), col("__cb")) / den, outScale)).otherwise(lit(0.0))
    a.join(b, Seq("__grp"))
      .filter(col("__ida") =!= col("__idb"))
      .select(col("__ida"), col("__idb"), cos.as("cosine"))
      .groupBy(col("__ida"))
      .agg(expressions.TopKByKey.topK(col("cosine"), col("__idb"), k)
        .as("__top"))
      .select(col("__ida"), posexplode(col("__top")).as(Seq("__r", "__e")))
      .select(col("__ida").as(idCol), col("__e.id").as("neighbor_id"),
        col("__e.score").as("cosine"), (col("__r") + 1).cast("long").as("rank"))
  }

  /** Mutual nearest neighbors: pairs whose top-1 same-block neighbors are
    * EACH OTHER — the high-precision matching rule behind bilingual
    * lexicon induction (Artetxe et al. 2018), cross-corpus record
    * matching, and dataset alignment (one-sided nearest neighbors are
    * hub-polluted; mutuality filters the hubs out for free). Built on
    * [[knnWithinGroups]]' int8-exact cosine ranking, so the pair set is
    * engine-independent; the mutuality check is one (id, neighbor)-keyed
    * self-join over top-1 rows — output-proportional, never quadratic.
    * Returns (id_a, id_b, cosine) with id_a < id_b. */
  def mutualNearestNeighbors(df: DataFrame, groupCol: String, embCol: String,
                             idCol: String,
                             maxGroupSize: Int = 20000): DataFrame = CacheScope { _ =>
    val knn = knnWithinGroups(df, groupCol, embCol, idCol, k = 1,
      maxGroupSize)
    val top = knn
      .filter(col("rank") === 1)
      .select(col(idCol).as("__v"), col("neighbor_id").as("__n"),
        col("cosine"))
    val rev = top.select(col("__n").as("__v"), col("__v").as("__n"))
    top.join(rev, Seq("__v", "__n"))
      .filter(col("__v") < col("__n"))
      .select(col("__v").as("id_a"), col("__n").as("id_b"), col("cosine"))
  }

  /** Contrastive hard-pair mining (Schroff et al. 2015 FaceNet §3.2;
    * Robinson et al. 2021 hard negatives): per anchor, the HARDEST
    * NEGATIVE (highest-cosine row with a DIFFERENT label — the
    * most-confusable impostor) and the HARDEST POSITIVE (lowest-cosine
    * row with the SAME label — the most-spread true match) among its
    * block. The pair-mining pass behind training embedding models with
    * triplet/InfoNCE losses on corpus-scale data.
    *
    * Blocking contract identical to [[knnWithinGroups]]: candidate pairs
    * come from `blockCol` blocks (an LSH bucket / coarse-quantizer list /
    * shard key), so pair volume is Σ block², never corpus² — the
    * `maxBlockSize` guard refuses quadratic blocks loudly. Cosines use
    * the same int8-exact integer arithmetic (every term < 2^53), so both
    * extremes are engine-independent; ties break deterministically
    * (negatives: higher id; positives: lower id) via lexicographic
    * struct extremes — ONE aggregate pass over the pair stream, no
    * window, no rank re-execution. Anchors whose block lacks a same- or
    * different-label row are dropped (no pair to mine). Returns
    * (idCol, labelCol, neg_id, neg_cos, pos_id, pos_cos). */
  def hardPairs(df: DataFrame, blockCol: String, labelCol: String,
                embCol: String, idCol: String,
                maxBlockSize: Int = 20000, outScale: Int = 6): DataFrame = CacheScope { scope =>
    // Spread + persist: same contract as [[knnWithinGroups]] — the
    // quantize transform feeds the guard and both join legs.
    val s = array_max(transform(col("__emb"), x => abs(x.cast("double"))))
    val codes = scope.cache(graft.functions.Spread(
        df.select(col(blockCol).as("__blk"), col(labelCol).as("__lab"),
          col(idCol).as("__id"), col(embCol).as("__emb")))
      .select(col("__blk"), col("__lab"), col("__id"),
        transform(col("__emb"), x =>
          when(s > 0, floor(x.cast("double") / s * 127 + 0.5))
            .otherwise(lit(0.0))).as("__codes"))
      .withColumn("__n2", dot(col("__codes"), col("__codes"))))
    // max(n) over an EMPTY input is NULL — getLong would NPE (the
    // ZOrder.stats failure class); an empty corpus has no blocks to bound.
    val largestRow = codes.groupBy(col("__blk")).agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).head()
    val largest = if (largestRow.isNullAt(0)) 0L else largestRow.getLong(0)
    require(largest <= maxBlockSize,
      s"hardPairs: largest block holds $largest vectors (> " +
        s"maxBlockSize=$maxBlockSize) — the within-block join is quadratic " +
        "in that block. Use a finer blocking key or raise maxBlockSize " +
        "explicitly.")
    val a = codes.select(col("__blk"), col("__id").as("__ida"),
      col("__lab").as("__laba"), col("__codes").as("__ca"),
      col("__n2").as("__n2a"))
    val b = codes.select(col("__blk"), col("__id").as("__idb"),
      col("__lab").as("__labb"), col("__codes").as("__cb"),
      col("__n2").as("__n2b"))
    val den = sqrt(col("__n2a")) * sqrt(col("__n2b"))
    val cos = when(den > 0,
      round(dot(col("__ca"), col("__cb")) / den, outScale)).otherwise(lit(0.0))
    a.join(b, Seq("__blk"))
      .filter(col("__ida") =!= col("__idb"))
      .select(col("__ida"), col("__laba"), col("__labb"), col("__idb"),
        cos.as("__cos"))
      .groupBy(col("__ida"), col("__laba"))
      .agg(
        max(when(col("__laba") =!= col("__labb"),
          struct(col("__cos"), col("__idb")))).as("__neg"),
        min(when(col("__laba") === col("__labb"),
          struct(col("__cos"), col("__idb")))).as("__pos"))
      .filter(col("__neg").isNotNull && col("__pos").isNotNull)
      .select(col("__ida").as(idCol), col("__laba").as(labelCol),
        col("__neg.__idb").as("neg_id"), col("__neg.__cos").as("neg_cos"),
        col("__pos.__idb").as("pos_id"), col("__pos.__cos").as("pos_cos"))
  }

  /** Engine-exact cosine scores against a literal query vector: per-element
    * double products (IEEE-exact everywhere) are rounded to `prodScale`
    * decimals and summed as DECIMAL — order-independent, so the dot product
    * and squared norms are IDENTICAL in any engine computing the same
    * formula, and the final cosine (one division, one sqrt, one product —
    * all correctly-rounded IEEE ops) is bit-identical too. This is the
    * [[graft.functions.UnigramLm]] determinism scheme applied to vector
    * math: use it when a REAL-corpus dense ranking must hash-match a SQL
    * oracle (bruteForceTopK's codegen'd cosine is the fast path; its
    * summation order is engine-internal).
    *
    * Scale shape: posexplode fans each row to `dim` product rows but the
    * per-id aggregate partial-combines map-side, so the shuffle carries one
    * row per document. The query norm is computed by the same decimal rule
    * driver-side. Returns (id, cosine) for every row (no top-k). */
  def exactCosineScores(df: DataFrame, embCol: String, idCol: String,
                        query: Seq[Float], prodScale: Int = 9,
                        outScale: Int = 4): DataFrame = {
    require(query.nonEmpty, "empty query vector")
    val dec = s"decimal(38,$prodScale)"
    // driver-side query norm² under the identical rounding rule
    val qn2 = query.map { x =>
      java.math.BigDecimal.valueOf(x.toDouble * x.toDouble)
        .setScale(prodScale, java.math.RoundingMode.HALF_UP)
    }.reduce(_ add _)
    val qnorm = math.sqrt(qn2.doubleValue)
    val qArr = array(query.map(x => lit(x.toDouble)): _*)
    val exploded = df.select(col(idCol), posexplode(col(embCol)).as(Seq("__p", "__v")))
      .select(col(idCol),
        round(col("__v").cast("double") *
          element_at(qArr, col("__p") + 1), prodScale).cast(dec).as("__d"),
        round(col("__v").cast("double") * col("__v").cast("double"), prodScale)
          .cast(dec).as("__n2"))
    val agg = exploded.groupBy(col(idCol))
      .agg(sum(col("__d")).as("__dot"), sum(col("__n2")).as("__norm2"))
    val den = lit(qnorm) * sqrt(col("__norm2").cast("double"))
    agg.select(col(idCol),
      when(den > 0, round(col("__dot").cast("double") / den, outScale))
        .otherwise(lit(0.0)).as("cosine"))
  }

  /** Coarse assignment of every vector to the nearest (by cosine) of
    * `nlist` fixed pseudo-random anchor directions: the
    * [[AnnIndex.AnnSpec.Anchors]] partitioner's lists, as (id, embedding,
    * `ivf_list`). */
  def ivfAssign(df: DataFrame, embCol: String, idCol: String,
                nlist: Int, dim: Int): DataFrame =
    df.select(col(idCol), col(embCol),
      AnnIndex.nearestAnchor(col(embCol), AnnIndex.anchors(nlist, dim)).as("ivf_list"))

  /** Nearest-centroid (partial dist² d = −2x·c + |c|², index c) struct
    * against a CONSTANT centroid matrix — the fused
    * [[expressions.NearestCentroid]] codegen expression, whose plan and
    * generated-source size are independent of k and dim (the previous
    * k × dim literal-node formulation stalled the DRIVER for seconds per
    * Lloyd iteration compiling the plan, a cost that grows with k — fatal
    * at real IVF scale where k is in the thousands). Bit-identical
    * arithmetic to the literal form; ties toward the lower index. Shared
    * by the Lloyd iterations and by consumers that need a final
    * nearest-centroid pass without re-joining the assignment frame
    * (e.g. [[semanticDedupRemoved]]). */
  private def distStruct(v: Column, cs: Array[Array[Double]]): Column =
    graft.functions.expressions.VectorExpressions.nearestCentroid(v, cs)

  /** Nearest-centroid index column (ties toward the lower cluster index). */
  private[functions] def nearestCentroid(v: Column, cs: Array[Array[Double]]): Column =
    distStruct(v, cs).getField("c")

  /** Distributed Lloyd's k-means over the embedding column — the clustering
    * primitive behind real IVF training and corpus topic bucketing.
    *
    * Scale shape per iteration: one narrow pass assigns each vector to its
    * nearest centroid (codegen'd dot products against literal centroids,
    * dist² = |x|² − 2x·c + |c|²), then the centroid update is a posexplode
    * → groupBy(cluster, dim) partial-aggregated sum — the shuffle carries
    * k×dim partial sums per partition, never vectors. Only the k×dim
    * centroid table ever reaches the driver.
    *
    * Determinism: centroid sums use DECIMAL(28,10) (float-sum order
    * independence), init is deterministic farthest-point k-means++ (max-D²
    * variant: the D²-sampling of classic k-means++ replaced by the argmax
    * with ties toward the lower id — removes the random draw while keeping
    * the spread-out-seeding property that makes k-means++ converge fast),
    * distance ties break toward the lower cluster index — same clustering
    * on every run and any partitioning.
    *
    * `iters` is a CAP: Lloyd iterations stop early once the centroid table
    * is unchanged (decimal-exact sums make exact equality meaningful), and
    * the returned assignments come from a FINAL pass against the returned
    * centroids — the (assignments, centroids) pair is internally
    * consistent.
    *
    * Returns (assignments (id, cluster), final centroids, per-iteration
    * decimal-exact inertia). */
  def kmeans(df: DataFrame, embCol: String, idCol: String,
             k: Int, dim: Int, iters: Int = 5,
             trackInertia: Boolean = true,
             init: String = "kmeans++"): (DataFrame, Array[Array[Double]], Seq[Double]) =
    CacheScope.withFrame { scope =>
      import org.apache.spark.sql.types.DecimalType

      def distStructK(cs: Array[Array[Double]]): Column = distStruct(col(embCol), cs)

      // ---- init: deterministic farthest-point k-means++ (or first-k by id)
      var centroids: Array[Array[Double]] = init match {
        case "first" =>
          df.orderBy(col(idCol)).limit(k).select(col(embCol)).collect()
            .map(_.getSeq[Float](0).toArray.map(_.toDouble))
        case _ =>
          // Farthest-point selection over a deterministic hash-sample: ONE
          // Spark job collects ~sampleSize candidate vectors (smallest md5
          // buckets — partitioning-independent), then the k sequential argmax
          // rounds run driver-side on the sample. k driver-side loops over a
          // bounded sample instead of k cluster-wide jobs — the k-means||
          // observation (Bahmani et al. 2012) that init needs a good sketch,
          // not the full corpus, per round.
          val sampleSize = math.max(k * 64, 1024)
          val sample = df
            .select(col(idCol), col(embCol),
              conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
                .cast("long").as("__b"))
            .orderBy(col("__b").asc, col(idCol).asc)
            .limit(sampleSize)
            .select(col(idCol), col(embCol))
            .collect()
            .map(r => (r.getLong(0), r.getSeq[Float](1).toArray.map(_.toDouble)))
            .sortBy(_._1)
          def d2(a: Array[Double], b: Array[Double]): Double = {
            var s = 0.0; var i = 0
            while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
            s
          }
          val picked = scala.collection.mutable.ArrayBuffer(sample.head._2)
          val minD = sample.map(v => d2(v._2, picked.head)).toArray
          while (picked.size < k) {
            var best = 0
            var i = 1
            while (i < sample.length) { if (minD(i) > minD(best)) best = i; i += 1 }
            picked += sample(best)._2
            i = 0
            while (i < sample.length) {
              val d = d2(sample(i)._2, picked.last)
              if (d < minD(i)) minD(i) = d
              i += 1
            }
          }
          picked.toArray
      }
      require(centroids.length == k, s"need at least $k vectors, got ${centroids.length}")

      val inertias = scala.collection.mutable.ArrayBuffer.empty[Double]
      var converged = false
      var iter = 0
      while (iter < iters && !converged) {
        val best = distStructK(centroids)
        val assigned = df.select(col(idCol), col(embCol),
          best.getField("c").as("cluster"),
          (best.getField("d") + dot(col(embCol), col(embCol))).as("dist2"))
        // one materialization per iteration serves both the centroid sums
        // and the inertia aggregate
        val cached = scope.cache(assigned)
        // decimal-exact centroid sums: k×dim rows after the partial agg
        val sums = cached
          .select(col("cluster"), posexplode(col(embCol)).as(Seq("pos", "v")))
          .groupBy(col("cluster"), col("pos"))
          .agg(sum(col("v").cast(DecimalType(28, 10))).as("s"), count(lit(1)).as("n"))
          .collect()
        val next = centroids.map(_.clone())
        sums.foreach { r =>
          val cl = r.getInt(0); val pos = r.getInt(1)
          next(cl)(pos) = r.getDecimal(2).doubleValue() / r.getLong(3)
        }
        if (trackInertia)
          inertias += cached
            .agg(sum(col("dist2").cast(DecimalType(28, 10)))).head().getDecimal(0).doubleValue()
        scope.free(cached, blocking = false)
        // early stop: unchanged centroids ⇒ assignments are a fixed point
        converged = next.zip(centroids).forall { case (a, b) => a.sameElements(b) }
        centroids = next
        iter += 1
      }
      // final assignment pass against the RETURNED centroids — without it a
      // point may sit nearer a different returned centroid than its label
      val bestFinal = distStructK(centroids)
      val finalAssign = df.select(col(idCol), bestFinal.getField("c").as("cluster"))
      (finalAssign, centroids, inertias.toSeq)
    }(_._1)

  /** All-pairs near-duplicate search over embeddings via LSH bucket join:
    * pairs sharing a bucket in any table of the [[AnnIndex]] LSH
    * partitioner, verified by exact cosine ≥ threshold. The
    * embedding-cosine near-dup operator. */
  def cosineNearDupPairs(df: DataFrame, embCol: String, idCol: String,
                         threshold: Double, dim: Int,
                         numPlanes: Int = 10, tables: Int = 3): DataFrame = {
    val bucketed = df.select(col(idCol).as("id"), col(embCol).as("emb"),
        explode(AnnIndex.lshBuckets(col(embCol),
          AnnIndex.lshPlanes(numPlanes, tables, dim))).as("bk"))
      .select(col("id"), col("emb"), col("bk.tbl"), col("bk.bucket"))
    val a = bucketed.select(col("tbl"), col("bucket"), col("id").as("idA"), col("emb").as("embA"))
    val b = bucketed.select(col("tbl"), col("bucket"), col("id").as("idB"), col("emb").as("embB"))
    a.join(b, Seq("tbl", "bucket"))
      .filter(col("idA") < col("idB"))
      .select(col("idA"), col("idB"), cosine(col("embA"), col("embB")).as("cosine"))
      .filter(col("cosine") >= threshold)
      .distinct()
  }

  /** Product-quantization codebooks (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search"): the `dim`-dimensional
    * space is split into `m` subspaces of dim/m, and each subspace gets
    * its own `k`-centroid k-means codebook. A vector is then stored as m
    * small codes instead of dim floats — at (dim=64, m=8, k=16) that is
    * 8 half-byte codes vs 256 bytes, a 32-64× compression that turns a
    * 100 TB float embedding store into a few TB of codes scannable at
    * memory bandwidth.
    *
    * Training runs m independent [[kmeans]] passes over sliced subvectors
    * — each pass shuffles only k×(dim/m) decimal partial sums, and all of
    * kmeans' determinism guarantees (farthest-point init, decimal sums,
    * tie-breaks) carry over, so codebooks are engine- and
    * partitioning-independent. Returns codebooks(j)(c) = centroid c of
    * subspace j. */
  def trainPqCodebooks(df: DataFrame, embCol: String, idCol: String,
                       dim: Int, m: Int = 8, k: Int = 16,
                       iters: Int = 5): Array[Array[Array[Double]]] = {
    require(m > 0 && dim % m == 0, s"dim=$dim must be divisible by m=$m")
    val dsub = dim / m
    (0 until m).toArray.map { j =>
      val sub = df.select(col(idCol),
        slice(col(embCol), j * dsub + 1, dsub).as("__sub"))
      val (_, centroids, _) =
        kmeans(sub, "__sub", idCol, k, dsub, iters, trackInertia = false)
      centroids
    }
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication by clustering embeddings with k-means and removing,
    * WITHIN each cluster, every vector whose cosine to a lower-id cluster
    * member reaches `threshold`. Keep-lowest-id is the deterministic form
    * of the paper's keep-one-per-duplicate-group rule (the paper keeps the
    * member farthest from the centroid; which member survives is a policy
    * choice — the duplicate GROUPS are the algorithm's output, and min-id
    * makes the result partitioning- and engine-independent).
    *
    * Returns the REMOVED rows as (removed_id, kept_id) where kept_id is
    * the lowest-id near-duplicate witness — deterministic, so a planted
    * oracle can enumerate both columns.
    *
    * Scale shape: the k-means pass shuffles k×dim decimal partial sums per
    * partition (never vectors — see [[kmeans]]); cluster assignment for
    * the pair stage is recomputed as a NARROW codegen pass against the
    * literal centroids (no join of the assignment frame back to the
    * vectors); the pair join is keyed by cluster id, so cluster size
    * bounds the quadratic term. `k` must therefore scale with the corpus —
    * SemDeDup at 100 TB uses n/k ≈ 1e4..1e5 — and a cheap pre-count
    * REFUSES clusters above `maxClusterSize` loudly (the semantic analog
    * of ngramJaccardPairs' band guard: raising k is the fix, silent
    * quadratic blow-up is not acceptable). Within-cluster pairing can be
    * composed with [[cosineNearDupPairs]]' LSH sub-bucketing when clusters
    * must stay large. */
  def semanticDedupRemoved(df: DataFrame, embCol: String, idCol: String,
                           k: Int, dim: Int, threshold: Double,
                           iters: Int = 5,
                           maxClusterSize: Int = 20000): DataFrame = {
    val (_, centroids, _) =
      kmeans(df, embCol, idCol, k, dim, iters, trackInertia = false)
    val clustered = df.select(col(idCol).as("id"), col(embCol).as("emb"),
      nearestCentroid(col(embCol), centroids).as("cluster"))
    val largest = clustered.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n")).agg(max(col("n"))).head().getLong(0)
    require(largest <= maxClusterSize,
      s"semanticDedupRemoved: largest cluster holds $largest vectors " +
        s"(> maxClusterSize=$maxClusterSize) — the within-cluster pair join " +
        "would be quadratic in that cluster. Raise k (SemDeDup sizes k so " +
        "clusters stay ~1e4-1e5) or pre-split with cosineNearDupPairs' " +
        "LSH buckets.")
    val a = clustered.select(col("cluster"), col("id").as("idA"), col("emb").as("embA"))
    val b = clustered.select(col("cluster"), col("id").as("idB"), col("emb").as("embB"))
    a.join(b, Seq("cluster"))
      .filter(col("idA") < col("idB"))
      .filter(cosine(col("embA"), col("embB")) >= threshold)
      .groupBy(col("idB").as("removed_id"))
      .agg(min(col("idA")).as("kept_id"))
  }
}
