package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Vector similarity search over an embedding column (Array[Float]).
  *
  * Baseline: brute-force cosine top-k — a single codegen'd scan, no shuffle
  * except the final top-k (TakeOrderedAndProject). Scale path: hyperplane-LSH
  * bucketing (deterministic seeded projections) so the scan touches only
  * matching buckets, plus an IVF-style coarse quantizer over seeded anchor
  * points.
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

  private def vecLit(v: Seq[Float]): Column =
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

  /** Deterministic pseudo-random hyperplanes: component j of plane p is
    * derived from xxhash64(seed, p, j) mapped to [-1, 1]. Computed driver-side
    * once (tiny), shipped as literals. */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Float]] =
    (0 until numPlanes).map { p =>
      (0 until dim).map { j =>
        // splitmix64-style scramble of (seed, p, j) — public-domain mixing
        var z = seed + p.toLong * 0x9E3779B97F4A7C15L + j.toLong * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        z = z ^ (z >>> 31)
        (z.toDouble / Long.MaxValue.toDouble).toFloat
      }
    }

  /** LSH bucket id for a vector: sign bits against `planes` packed into a
    * long. Same-bucket vectors are likely neighbors (random hyperplane LSH
    * approximates angular distance). */
  def lshBucket(emb: Column, planes: Seq[Seq[Float]]): Column =
    planes.zipWithIndex.map { case (plane, i) =>
      when(dot(emb, vecLit(plane)) >= 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** LSH-bucketed ANN: restrict the cosine scan to vectors whose bucket
    * matches the query's in at least one of `tables` independent hash tables
    * (multi-probe via multiple tables, the standard recall lever). At scale,
    * bucket ids can be a partition/bucketing key so matching buckets are a
    * partition-pruned read instead of a full scan. */
  def lshTopK(df: DataFrame, embCol: String, idCol: String,
              query: Seq[Float], k: Int,
              numPlanes: Int = 12, tables: Int = 4, seed: Long = 42L): DataFrame = {
    val dim = query.size
    val allPlanes = (0 until tables).map(t => hyperplanes(numPlanes, dim, seed + t * 1000L))
    def bucketOf(v: Seq[Float], planes: Seq[Seq[Float]]): Long =
      planes.zipWithIndex.map { case (plane, i) =>
        val d = plane.zip(v).map { case (a, b) => a.toDouble * b.toDouble }.sum
        if (d >= 0) 1L << i else 0L
      }.foldLeft(0L)(_ | _)
    val queryBuckets = allPlanes.map(p => bucketOf(query, p))
    val cond = allPlanes.zip(queryBuckets).map { case (planes, qb) =>
      lshBucket(col(embCol), planes) === lit(qb)
    }.reduce(_ || _)
    df.filter(cond)
      .select(col(idCol), cosine(col(embCol), vecLit(query)).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  /** Persist a multi-probe hyperplane-LSH index: every vector is bucketed in
    * `tables` independent hash tables, so probes become a pruned read — at
    * query time NO per-row hashing happens at all (the round-2 filter-based
    * lshTopK evaluated tables×planes dot products per row, which at dim 64
    * costs more than the cosine it was meant to avoid; bucketing must be
    * paid at WRITE time, once, to be a win).
    *
    * Layout is LAYERED, the standard lakehouse index shape: directories are
    * (tbl, bucket >> coarse-shift) — a bounded count, so file listing stays
    * cheap at any scale — and rows inside each directory are sorted by the
    * full bucket, so the probe's `bucket IN (…)` predicate prunes at the
    * parquet row-group level via min/max stats. One dir per (tbl, bucket)
    * would make PARTITION DISCOVERY the bottleneck (measured: ~770 dirs
    * cost 1.8 s to list per probe at toy scale; at 100 TB a 2^numPlanes
    * directory fanout per table is a metastore killer). */
  def writeLshIndex(df: DataFrame, embCol: String, idCol: String, path: String,
                    dim: Int, numPlanes: Int = 8, tables: Int = 3,
                    coarseBits: Int = 4, seed: Long = 42L,
                    rowGroupBytes: Long = 4L * 1024 * 1024): Unit = {
    val shift = math.max(numPlanes - coarseBits, 0)
    val tb = (0 until tables).map { t =>
      val planes = hyperplanes(numPlanes, dim, seed + t * 1000L)
      struct(lit(t).as("tbl"), lshBucket(col(embCol), planes).as("bucket"))
    }
    df.select(col(idCol), col(embCol), explode(array(tb: _*)).as("bk"))
      .select(col(idCol), col(embCol), col("bk.tbl").as("tbl"),
        col("bk.bucket").as("bucket"),
        shiftright(col("bk.bucket"), shift).as("bcoarse"))
      .repartition(col("tbl"), col("bcoarse"))
      .sortWithinPartitions(col("bucket")) // row-group clustering on fine bits
      // Small row groups on purpose: an ANN index is read in tiny selective
      // slices, so fine-grained min/max skipping on the sorted bucket column
      // is worth the extra footer metadata (a scan-optimized 128 MB row
      // group would make the pushed `bucket IN (…)` filter useless — the
      // whole dir would be read whenever one of its buckets is probed).
      .write.mode("overwrite")
      .option("parquet.block.size", rowGroupBytes)
      .partitionBy("tbl", "bcoarse").parquet(path)
  }

  /** Query-directed multi-probe over a [[writeLshIndex]] index (Lv et al.
    * 2007, "Multi-Probe LSH"): per table, rank candidate buckets by the sum
    * of |margin| of the flipped hyperplanes — a near neighbor most likely
    * disagrees on exactly the planes the query is closest to — and read the
    * `nprobe` cheapest buckets (flip sets of size ≤ 3). All ranking happens
    * driver-side on the tiny plane set; the scan reads only the coarse
    * partitions covering the probed buckets (PartitionFilters), prunes row
    * groups on the fine bucket bits (PushedFilters on the sorted bucket
    * column), and computes ONE cosine per candidate row. Candidates found
    * in several tables are deduplicated before the top-k. */
  def probeLshIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                    query: Seq[Float], k: Int,
                    dim: Int, numPlanes: Int = 8, tables: Int = 3,
                    nprobe: Int = 16, coarseBits: Int = 4,
                    seed: Long = 42L,
                    embCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val shift = math.max(numPlanes - coarseBits, 0)
    val perTable: Seq[(Int, Seq[Long], Seq[Long])] = (0 until tables).map { t =>
      val planes = hyperplanes(numPlanes, dim, seed + t * 1000L)
      val margins = planes.map(p =>
        p.zip(query).map { case (a, b) => a.toDouble * b.toDouble }.sum)
      val exact = margins.zipWithIndex.foldLeft(0L) { case (acc, (m, i)) =>
        if (m >= 0) acc | (1L << i) else acc
      }
      // perturbation sets: flip ≤3 planes, cost = sum of flipped |margins|
      val flipSets = (0 to math.min(3, numPlanes)).flatMap(sz =>
        (0 until numPlanes).combinations(sz).map(_.toSeq))
      val buckets = flipSets
        .map(s => (s.map(j => math.abs(margins(j))).sum,
          s.foldLeft(exact)((b, j) => b ^ (1L << j))))
        .sortBy(_._1)
        .take(nprobe)
        .map(_._2)
      (t, buckets.map(_ >> shift).distinct, buckets)
    }
    val probeCond = perTable.map { case (t, coarse, buckets) =>
      col("tbl") === t && col("bcoarse").isInCollection(coarse) &&
        col("bucket").isInCollection(buckets)
    }.reduce(_ || _)
    // Targeted partition-directory read (same rationale as
    // [[readIvfLists]]): list only the probed (tbl, bcoarse) directories
    // instead of running full partition discovery over the whole index on
    // every probe — planning cost ∝ probed buckets, not index width.
    val src = readIndexDirs(spark, path, perTable.flatMap {
      case (t, coarse, _) => coarse.map(c => s"tbl=$t/bcoarse=$c")
    })
    // Project to (id, cosine) BEFORE deduplicating across tables: the
    // groupBy partial-aggregates map-side, so the shuffle carries 16-byte
    // rows for near-distinct candidates — deduplicating first would shuffle
    // the embeddings themselves (~20× wider). max() of identical values is
    // deterministic.
    src
      .filter(probeCond)
      .select(col(idCol), cosine(col(embCol), vecLit(query)).as("__cos"))
      .groupBy(col(idCol))
      .agg(max(col("__cos")).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  /** IVF-style coarse index: assign every vector to its nearest of `nlist`
    * deterministic anchor directions; a query probes only the `nprobe`
    * closest anchors' lists. Returns the assignment DataFrame — at scale,
    * write it partitioned by `ivf_list` so probes prune partitions. */
  def ivfAssign(df: DataFrame, embCol: String, idCol: String,
                nlist: Int, dim: Int, seed: Long = 7L): DataFrame = {
    val anchors = hyperplanes(nlist, dim, seed)
    val sims = anchors.zipWithIndex.map { case (a, i) =>
      struct(cosine(col(embCol), vecLit(a)).as("sim"), lit(i).as("list"))
    }
    df.select(col(idCol), col(embCol),
      array_max(array(sims: _*)).getField("list").as("ivf_list"))
  }

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
  private def distStruct(embCol: String, cs: Array[Array[Double]]): Column =
    graft.functions.expressions.VectorExpressions.nearestCentroid(col(embCol), cs)

  /** Nearest-centroid index column (ties toward the lower cluster index). */
  private def nearestCentroid(embCol: String, cs: Array[Array[Double]]): Column =
    distStruct(embCol, cs).getField("c")

  def kmeans(df: DataFrame, embCol: String, idCol: String,
             k: Int, dim: Int, iters: Int = 5,
             trackInertia: Boolean = true,
             init: String = "kmeans++"): (DataFrame, Array[Array[Double]], Seq[Double]) =
    CacheScope.withFrame { scope =>
      import org.apache.spark.sql.types.DecimalType

      def distStructK(cs: Array[Array[Double]]): Column = distStruct(embCol, cs)

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

  /** Persist an IVF index: vectors written partitioned by their coarse list,
    * so a probe reads only `nprobe` partitions of a 100 TB index instead of
    * scanning it (directory-level partition pruning — verified by PlanSpec's
    * PartitionFilters assertion). */
  /** Read ONLY the selected `ivf_list=` partition directories of an IVF
    * index. `spark.read.parquet(root).filter(list in ...)` would run full
    * partition DISCOVERY over all nlist directories on every probe —
    * measured 4× slower than a brute-force scan at 500k vectors / 256
    * lists, pure listing cost. Targeted paths with basePath keep planning
    * cost ∝ nprobe, not nlist (at 100 TB: a handful of object-store
    * listings instead of thousands). Empty lists (no vectors assigned at
    * build time) have no directory and are skipped. */
  private def readIvfLists(spark: org.apache.spark.sql.SparkSession,
                           root: String, lists: Seq[Int]): DataFrame =
    readIndexDirs(spark, root, lists.map(l => s"ivf_list=$l"))

  /** Core of the targeted read, shared with the LSH probe (whose
    * partition layout is `tbl=<t>/bcoarse=<c>`). */
  private def readIndexDirs(spark: org.apache.spark.sql.SparkSession,
                            root: String, subdirs: Seq[String]): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(conf)
    val dirs = subdirs.map(d => new org.apache.hadoop.fs.Path(rootPath, d))
      .filter(fs.exists).map(_.toString)
    if (dirs.isEmpty)
      // every probed partition is empty (degenerate tiny index): the
      // full-read fallback is correct and only pays on that shape
      spark.read.parquet(root).filter(org.apache.spark.sql.functions.lit(false))
    else spark.read.option("basePath", root).parquet(dirs: _*)
  }

  def writeIvfIndex(df: DataFrame, embCol: String, idCol: String, path: String,
                    nlist: Int, dim: Int, seed: Long = 7L): Unit =
    ivfAssign(df, embCol, idCol, nlist, dim, seed)
      .write.mode("overwrite").partitionBy("ivf_list").parquet(path)

  /** Probe the persisted IVF index: rank anchors against the query
    * driver-side (tiny), read only the nprobe best lists, cosine top-k. */
  def probeIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                    query: Seq[Float], k: Int, nprobe: Int,
                    nlist: Int, seed: Long = 7L,
                    embCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val dim = query.size
    val anchors = hyperplanes(nlist, dim, seed)
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var dotV = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.size) {
        dotV += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
        i += 1
      }
      if (na == 0 || nb == 0) 0.0 else dotV / (math.sqrt(na) * math.sqrt(nb))
    }
    val probeLists = anchors.zipWithIndex
      .sortBy { case (a, _) => -cos(a, query) }
      .take(nprobe).map(_._2)
    readIvfLists(spark, path, probeLists)
      .select(col(idCol),
        cosine(col(embCol), vecLit(query)).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  /** Trained IVF: k-means centroids as the coarse quantizer (the real FAISS
    * IVF recipe — random hyperplane anchors are the train-free fallback).
    * Returns the centroid table to keep for probing. */
  def trainIvfCentroids(df: DataFrame, embCol: String, idCol: String,
                        nlist: Int, dim: Int, iters: Int = 5): Array[Array[Double]] =
    kmeans(df, embCol, idCol, nlist, dim, iters, trackInertia = false)._2

  /** Assign vectors to their nearest trained centroid (squared-euclidean,
    * codegen'd dot products, ties to the lower list id). */
  def ivfAssignCentroids(df: DataFrame, embCol: String, idCol: String,
                         centroids: Array[Array[Double]]): DataFrame =
    df.select(col(idCol), col(embCol),
      nearestCentroid(embCol, centroids).as("ivf_list"))

  /** Persist a TRAINED IVF index (k-means coarse lists), partitioned by
    * list for partition-pruned probes; centroids ride along as a sidecar. */
  def writeTrainedIvfIndex(df: DataFrame, embCol: String, idCol: String,
                           path: String, nlist: Int, dim: Int,
                           iters: Int = 5): Array[Array[Double]] = {
    val centroids = trainIvfCentroids(df, embCol, idCol, nlist, dim, iters)
    ivfAssignCentroids(df, embCol, idCol, centroids)
      .write.mode("overwrite").partitionBy("ivf_list").parquet(path)
    writeIvfCentroids(df.sparkSession, path, centroids)
    centroids
  }

  /** A trained IVF index's centroid sidecar, through the index path's own
    * file system (a `file://`, HDFS or S3 index keeps it with its lists). */
  private def writeIvfCentroids(spark: org.apache.spark.sql.SparkSession,
                                path: String, centroids: Array[Array[Double]]): Unit = {
    val json = graft.io.JsonValue.JsonArray(centroids.toVector.map(c =>
      graft.io.JsonValue.JsonArray(c.toVector.map(graft.io.JsonValue.JsonNumber(_)))))
    val p = new org.apache.hadoop.fs.Path(path, IvfCentroidsFile)
    val out = p.getFileSystem(spark.sessionState.newHadoopConf()).create(p, true)
    try out.write(graft.io.JsonValue.write(json).getBytes("UTF-8")) finally out.close()
  }

  private def readIvfCentroids(spark: org.apache.spark.sql.SparkSession,
                               path: String): Array[Array[Double]] = {
    val p = new org.apache.hadoop.fs.Path(path, IvfCentroidsFile)
    val in = p.getFileSystem(spark.sessionState.newHadoopConf()).open(p)
    val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    graft.io.JsonValue.parse(txt)
      .asInstanceOf[graft.io.JsonValue.JsonArray].values
      .map(_.asInstanceOf[graft.io.JsonValue.JsonArray].values
        .map(_.asInstanceOf[graft.io.JsonValue.JsonNumber].value).toArray)
      .toArray
  }

  private val IvfCentroidsFile = "_ivf_centroids.json"

  /** The ids of the `nprobe` centroids nearest `query` (squared euclidean,
    * ties to the lower id), ranked driver-side. */
  private def nearestLists(centroids: Array[Array[Double]], query: Seq[Float],
                           nprobe: Int): Seq[Int] = {
    def d2(c: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < query.size) {
        val d = query(i) - c(i); s += d * d; i += 1
      }
      s
    }
    centroids.indices.sortBy(i => (d2(centroids(i)), i)).take(nprobe)
  }

  /** The `_SUCCESS` marker of a memoized index build. */
  private def markBuilt(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path, "_SUCCESS")
    p.getFileSystem(spark.sessionState.newHadoopConf()).create(p, true).close()
  }

  /** Incremental maintenance of a [[writeTrainedIvfIndex]] index: assign a
    * NEW batch of vectors against the EXISTING centroids (read from the
    * sidecar — no retraining, no touching the resident lists) and append
    * its partitions. The daily-ingest shape: a 100 TB index absorbs a
    * multi-GB batch by writing only the batch's own rows into the affected
    * list partitions; probes see old + new immediately. Quantization
    * quality decays as the corpus drifts from the training distribution —
    * that's FAISS-standard too; retrain on schedule, append in between. */
  def appendToTrainedIvfIndex(df: DataFrame, embCol: String, idCol: String,
                              path: String): Unit = {
    ivfAssignCentroids(df, embCol, idCol, readIvfCentroids(df.sparkSession, path))
      .write.mode("append").partitionBy("ivf_list").parquet(path)
  }

  /** Probe a trained IVF index: rank centroids driver-side (k×dim floats),
    * read only the nprobe best lists via partition pruning, cosine top-k. */
  def probeTrainedIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                           query: Seq[Float], k: Int, nprobe: Int,
                           embCol: String = "embedding",
                           idCol: String = "vec_id"): DataFrame = {
    val probeLists = nearestLists(readIvfCentroids(spark, path), query, nprobe)
    readIvfLists(spark, path, probeLists)
      .select(col(idCol), cosine(col(embCol), vecLit(query)).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  /** All-pairs near-duplicate search over embeddings via LSH bucket join:
    * pairs sharing a bucket in any table, verified by exact cosine ≥
    * threshold. The embedding-cosine near-dup operator. */
  def cosineNearDupPairs(df: DataFrame, embCol: String, idCol: String,
                         threshold: Double, dim: Int,
                         numPlanes: Int = 10, tables: Int = 3,
                         seed: Long = 42L): DataFrame = {
    val tablesBuckets = (0 until tables).map { t =>
      val planes = hyperplanes(numPlanes, dim, seed + t * 1000L)
      struct(lit(t).as("tbl"), lshBucket(col(embCol), planes).as("bucket"))
    }
    val bucketed = df.select(col(idCol).as("id"), col(embCol).as("emb"),
        explode(array(tablesBuckets: _*)).as("bk"))
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

  /** Encode vectors to PQ codes: per subspace, the index of the nearest
    * codebook centroid — one narrow codegen'd pass, no shuffle, no joins.
    * Returns (id, codes array<int> of length m). */
  def pqEncode(df: DataFrame, embCol: String, idCol: String,
               codebooks: Array[Array[Array[Double]]], dim: Int,
               keepCols: Seq[String] = Nil): DataFrame = {
    val m = codebooks.length
    val dsub = dim / m
    val codeCols = (0 until m).map { j =>
      // nearestCentroid over the sliced subvector against subspace j's book
      val subCol = s"__sub$j"
      (subCol, slice(col(embCol), j * dsub + 1, dsub))
    }
    val base = df.select(col(idCol) +: col(embCol) +: keepCols.map(col): _*)
    val withSubs = codeCols.foldLeft(base) {
      case (acc, (name, c)) => acc.withColumn(name, c)
    }
    withSubs.select(col(idCol) +:
      array((0 until m).map(j =>
        nearestCentroid(s"__sub$j", codebooks(j))): _*).as("codes") +:
      keepCols.map(col): _*)
  }

  /** Persist a PQ index: the tiny codebook table plus the codes table
    * (the scan target — m ints per vector instead of dim floats). */
  def writePqIndex(df: DataFrame, embCol: String, idCol: String, path: String,
                   dim: Int, m: Int = 8, k: Int = 16, iters: Int = 5): Unit = {
    val books = trainPqCodebooks(df, embCol, idCol, dim, m, k, iters)
    val spark = df.sparkSession
    writeCodebooks(spark, books, path)
    pqEncode(df, embCol, idCol, books, dim)
      .write.mode("overwrite").parquet(s"$path/codes")
    markBuilt(spark, path)
  }

  /** The codebook table of a PQ index: one (subspace, code, vector) row
    * per centroid, in one file. */
  private def writeCodebooks(spark: org.apache.spark.sql.SparkSession,
                             books: Array[Array[Array[Double]]], path: String): Unit = {
    import scala.jdk.CollectionConverters._
    val bookRows = (for {
      j <- books.indices; c <- books(j).indices
    } yield org.apache.spark.sql.Row(j, c, books(j)(c).toSeq)).asJava
    spark.createDataFrame(bookRows,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("j", org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("c", org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("vec",
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType)))))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
  }

  /** Asymmetric-distance (ADC) probe over a [[writePqIndex]] index: the
    * query stays a full float vector; per subspace a k-entry lookup table
    * of inner products and centroid norms is computed DRIVER-side and
    * shipped as literals, so scoring a stored vector is m array lookups +
    * m−1 adds — no per-row vector math at all. The approximate cosine is
    *   Σ_j <q_j, c_{j,code_j}>  /  (|q| · √(Σ_j |c_{j,code_j}|²))
    * (the reconstruction x̂'s exact cosine to q). Ties break by id.
    *
    * Scale shape: one codegen'd scan of the codes table (m ints/row,
    * 32-64× less I/O than the float vectors) + a TakeOrderedAndProject —
    * the re-rank-on-full-vectors refinement composes downstream by
    * joining the top candidates back to the float table by id. */
  def probePqIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                   query: Seq[Float], topK: Int,
                   idCol: String = "vec_id"): DataFrame = {
    val adc = adcCosine(readCodebooks(spark, path), query)
    spark.read.parquet(s"$path/codes")
      .select(col(idCol), adc.as("adc_cosine"))
      .orderBy(col("adc_cosine").desc, col(idCol).asc)
      .limit(topK)
  }

  /** Composed PQ probe + exact re-rank — the ONE-CALL form of the pattern
    * the ANN rehearsal proved necessary: raw ADC ranking is a byte-
    * reduction stage, not a ranking (recall@10 was 0.188 on the 500k×64d
    * rehearsal corpus); feeding its top `topK × rerankFactor` candidates
    * into an exact cosine over the original float vectors recovers 0.86+
    * recall at m=8 k=64 with rerank@200 (the measured defaults:
    * rerankFactor = 20 × topK 10 = 200 candidates).
    *
    * Scale shape: the ADC scan reads m ints/vector (32-64× less IO than
    * floats); the candidate ids — a few hundred — are collected (the
    * centroid-table class of justified driver collect) and pushed into the
    * float table's scan as an `id IN (...)` predicate, so the re-rank
    * reads only the candidate rows' row groups (parquet id-stats pruning),
    * never a full float scan. Output matches [[bruteForceTopK]]'s shape
    * (id, cosine) so the two compose and compare directly. */
  def probePqIndexReranked(spark: org.apache.spark.sql.SparkSession,
                           path: String, vectors: DataFrame, embCol: String,
                           query: Seq[Float], topK: Int,
                           rerankFactor: Int = 20,
                           idCol: String = "vec_id"): DataFrame = {
    require(rerankFactor >= 1, s"rerankFactor must be >= 1, got $rerankFactor")
    val candidateIds = probePqIndex(spark, path, query, topK * rerankFactor,
      idCol).select(col(idCol)).collect().map(_.get(0)).toSeq
    rerankExact(vectors, embCol, idCol, candidateIds, query, topK)
  }

  /** [[probePqIndexReranked]] for the IVF-PQ index: coarse-list pruning ×
    * PQ compression on the candidate scan, exact cosine on the rerank.
    * Rehearsal-measured default: nprobe=16, rerank@200 → 0.756 recall@10
    * (raise nprobe before rerankFactor when recall is short — missed
    * candidates are usually in unprobed lists, not mis-ranked). */
  def probeIvfPqIndexReranked(spark: org.apache.spark.sql.SparkSession,
                              path: String, vectors: DataFrame, embCol: String,
                              query: Seq[Float], topK: Int, nprobe: Int,
                              rerankFactor: Int = 20,
                              idCol: String = "vec_id"): DataFrame = {
    require(rerankFactor >= 1, s"rerankFactor must be >= 1, got $rerankFactor")
    val candidateIds = probeIvfPqIndex(spark, path, query,
      topK * rerankFactor, nprobe, idCol).select(col(idCol))
      .collect().map(_.get(0)).toSeq
    rerankExact(vectors, embCol, idCol, candidateIds, query, topK)
  }

  /** Exact-cosine re-rank of a bounded candidate id set against the float
    * vectors: the ids ride as an IN predicate into the vector scan
    * (pushed to parquet — candidate row groups only), then one codegen'd
    * cosine + TakeOrderedAndProject. */
  private def rerankExact(vectors: DataFrame, embCol: String, idCol: String,
                          candidateIds: Seq[Any], query: Seq[Float],
                          topK: Int): DataFrame = {
    require(candidateIds.nonEmpty,
      "rerankExact: empty candidate set (is the index empty?)")
    vectors.filter(col(idCol).isin(candidateIds: _*))
      .select(col(idCol), cosine(col(embCol), vecLit(query)).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(topK)
  }

  private def readCodebooks(spark: org.apache.spark.sql.SparkSession,
                            path: String): Map[(Int, Int), Array[Double]] =
    spark.read.parquet(s"$path/codebooks")
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2).toArray))
      .toMap

  /** The ADC scoring column over a `codes` column: driver-computed
    * inner-product and norm lookup tables shipped as literals — m array
    * lookups + adds per row, zero per-row vector math. */
  private def adcCosine(books: Map[(Int, Int), Array[Double]],
                        query: Seq[Float]): Column = {
    val m = books.keys.map(_._1).max + 1
    val k = books.keys.map(_._2).max + 1
    val dsub = books((0, 0)).length
    val q = query.map(_.toDouble).toArray
    val qnorm = math.sqrt(q.map(x => x * x).sum)
    val ipTab = Array.tabulate(m, k) { (j, c) =>
      val cent = books((j, c))
      (0 until dsub).map(t => q(j * dsub + t) * cent(t)).sum
    }
    val n2Tab = Array.tabulate(m, k) { (j, c) =>
      books((j, c)).map(x => x * x).sum
    }
    def lut(tab: Array[Array[Double]]): Seq[Column] =
      (0 until m).map(j =>
        element_at(array(tab(j).map(lit(_)): _*),
          element_at(col("codes"), j + 1) + 1))
    val ip = lut(ipTab).reduce(_ + _)
    val n2 = lut(n2Tab).reduce(_ + _)
    val den = lit(qnorm) * sqrt(n2)
    when(den > 0, ip / den).otherwise(lit(0.0))
  }

  /** Composed IVF-PQ index (the FAISS IVFPQ shape, non-residual variant):
    * coarse k-means lists give PARTITION PRUNING, product-quantization
    * codes give a 32-64× COMPRESSED scan — a probe touches nprobe/nlist of
    * the corpus at m ints per vector, the two savings multiplying. Codes
    * are partitioned by coarse list; both centroid sets ride as sidecars.
    * All training determinism (farthest-point init, decimal sums,
    * tie-breaks) is inherited from [[kmeans]]. */
  def writeIvfPqIndex(df: DataFrame, embCol: String, idCol: String,
                      path: String, nlist: Int, dim: Int, m: Int = 8,
                      k: Int = 16, iters: Int = 5): Unit = {
    val spark = df.sparkSession
    val coarse = trainIvfCentroids(df, embCol, idCol, nlist, dim, iters)
    val books = trainPqCodebooks(df, embCol, idCol, dim, m, k, iters)
    writeCodebooks(spark, books, path)
    val assigned = ivfAssignCentroids(df, embCol, idCol, coarse)
      .withColumnRenamed("ivf_list", "__ivf_list")
    pqEncode(assigned, embCol, idCol, books, dim,
        keepCols = Seq("__ivf_list"))
      .withColumnRenamed("__ivf_list", "ivf_list")
      .write.mode("overwrite").partitionBy("ivf_list").parquet(s"$path/codes")
    writeIvfCentroids(spark, path, coarse)
    markBuilt(spark, path)
  }

  /** Probe a [[writeIvfPqIndex]] index: rank coarse centroids driver-side,
    * read ONLY the nprobe best list partitions (pruned scan), ADC-score
    * the m-int codes, top-k. */
  def probeIvfPqIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                      query: Seq[Float], topK: Int, nprobe: Int,
                      idCol: String = "vec_id"): DataFrame = {
    val probeLists = nearestLists(readIvfCentroids(spark, path), query, nprobe)
    val adc = adcCosine(readCodebooks(spark, path), query)
    readIvfLists(spark, s"$path/codes", probeLists)
      .select(col(idCol), adc.as("adc_cosine"))
      .orderBy(col("adc_cosine").desc, col(idCol).asc)
      .limit(topK)
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
      nearestCentroid(embCol, centroids).as("cluster"))
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
