package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-mixture operators: deterministic per-group downsampling to hit a
  * target source mix — the "mixture weights" step of assembling a training
  * corpus from heterogeneous sources (web, code, books …).
  *
  * Scale shape: group sizes are one tiny aggregate (broadcast back); the
  * keep/drop decision is a pure per-row hash comparison — no shuffle of the
  * data, no sampling state, reproducible across engines, runs, partitioning
  * and cluster sizes (seeded `sample()` is none of those).
  */
object Mixing {

  /** Deterministic bucket in [0, 10000) from the md5 of a key column —
    * integer-exact in any engine (5 hex digits → mod; the ~5% modulo bias
    * is identical everywhere and irrelevant for rate thresholding). */
  def hashBucket10k(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 5), 16, 10).cast("long") % 10000

  /** Downsample every group to ~`targetPerGroup` rows: keep a row iff
    * bucket(key) · n_group < target · 10000 (pure integer arithmetic — the
    * exact same predicate is expressible in SQL for the oracle). Groups at
    * or under the target keep everything; larger groups keep a deterministic
    * ~target-sized hash slice. */
  def rebalanceGroups(df: DataFrame, keyCol: String, groupCol: String,
                      targetPerGroup: Long): DataFrame = {
    val counts = df.groupBy(col(groupCol)).agg(count(lit(1)).as("__n"))
    df.join(broadcast(counts), Seq(groupCol))
      .filter(hashBucket10k(col(keyCol)) * col("__n") <
        lit(targetPerGroup) * lit(10000L))
      .drop("__n")
  }

  /** Downsample every group to a TOKEN budget rather than a row count —
    * mixture weights for pre-training are token weights, and sources with
    * very different document lengths make row-count targets the wrong
    * knob. Keeps, per group, the documents whose EXCLUSIVE cumulative
    * token count in deterministic hash order stays under
    * `tokenBudgetPerGroup` (so each group's kept mass is the budget plus
    * at most one straddling document, and the kept set is a reproducible
    * function of content — no sampling state).
    *
    * Scale shape: the same two-level prefix scan as sequence packing,
    * keyed by (group, leading hash byte): per-(group, bucket) subtotals
    * are one narrow aggregate (n_groups × 256 rows to the driver), the
    * driver prefixes each group's 256 buckets, and the within-bucket
    * cumsum is a window over one hash bucket — no per-group
    * single-partition window, so a 10 TB source group cannot serialize
    * onto one task. Returns the kept rows of `df` unchanged. */
  def rebalanceTokenBudget(df: DataFrame, keyCol: String, groupCol: String,
                           tokenCount: Column,
                           tokenBudgetPerGroup: Long): DataFrame = {
    require(tokenBudgetPerGroup > 0,
      s"tokenBudgetPerGroup must be positive, got $tokenBudgetPerGroup")
    val h = md5(col(keyCol).cast("string"))
    val d = df
      .withColumn("__n", tokenCount.cast("long"))
      .withColumn("__h", h)
      .withColumn("__b", conv(substring(col("__h"), 1, 2), 16, 10).cast("int"))
    // level 1: per-(group, bucket) totals; driver prefix within each group
    // (hash-hex order == bucket numeric order, so (bucket, hash) is the
    // global per-group order)
    val totals = d.groupBy(col(groupCol), col("__b"))
      .agg(sum(col("__n")).as("__t"))
      .collect()
      .map(r => ((r.get(0), r.getInt(1)), r.getLong(2)))
      .toSeq
    val offsets = totals.groupBy(_._1._1).flatMap { case (_, rows) =>
      var acc = 0L
      rows.sortBy(_._1._2).map { case ((g, b), t) =>
        val excl = acc; acc += t; (g, b, excl)
      }
    }.toSeq
    val spark = df.sparkSession
    val offsetDf = broadcast(spark.createDataFrame(
      spark.sparkContext.parallelize(offsets.map {
        case (g, b, o) => org.apache.spark.sql.Row(g, b, o) }, 1),
      org.apache.spark.sql.types.StructType(Seq(
        d.schema(groupCol),
        org.apache.spark.sql.types.StructField("__b", org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("__offset", org.apache.spark.sql.types.LongType)))))
    // level 2: within-bucket exclusive cumsum + bucket offset
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol), col("__b")).orderBy(col("__h"), col(keyCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    d.join(offsetDf, Seq(groupCol, "__b"))
      .withColumn("__start",
        coalesce(sum(col("__n")).over(w), lit(0L)) + col("__offset"))
      .filter(col("__start") < tokenBudgetPerGroup)
      .drop("__n", "__h", "__b", "__offset", "__start")
  }

  /** Exact integer square root (driver-side; group-count scale). */
  private def isqrt(x: BigInt): BigInt = {
    if (x < 2) x
    else {
      var a = BigInt(math.sqrt(x.doubleValue).toLong)
      while (a * a > x) a -= 1
      while ((a + 1) * (a + 1) <= x) a += 1
      a
    }
  }

  /** Temperature-smoothed source mixing (the multilingual pre-training
    * standard: mBERT exponential smoothing, XLM-R / Conneau et al. 2020,
    * Arivazhagan et al. 2019 temperature sampling): sample group g with
    * probability q_g ∝ p_g^(1/τ) instead of its natural share p_g, so
    * head sources shrink and tail sources survive. Keeps a deterministic
    * hash slice of each group sized so the total is ~`totalBudget` rows
    * split across groups ∝ n_g^(1/τ).
    *
    * Determinism: per-group keep thresholds are computed on the DRIVER in
    * exact BigInt arithmetic — for the default τ = 2 the smoothing is an
    * exact integer square root (scaled by 10^5), so the thresholds, and
    * therefore the kept set, are bit-reproducible in any engine (the
    * oracle recomputes them in SQL; floor(sqrt(n·10^10)) over doubles is
    * exact for n ≤ ~10^5 — the gap to the next perfect square, ~1/(2√),
    * dwarfs the double ulp there). Other temperatures go through libm pow
    * on the driver: still deterministic for THIS engine (the thresholds
    * are literals in the plan), but not guaranteed to match an
    * independent engine's pow in the last ulp.
    *
    * Scale shape: group counts are one tiny aggregate; the keep decision
    * is a broadcast threshold join + per-row hash compare — the corpus
    * never shuffles. */
  def temperatureRebalance(df: DataFrame, keyCol: String, groupCol: String,
                           totalBudget: Long,
                           temperature: Double = 2.0): DataFrame = {
    require(totalBudget > 0, s"totalBudget must be positive, got $totalBudget")
    require(temperature >= 1.0,
      s"temperature must be >= 1 (1 = natural mix), got $temperature")
    val counts = df.groupBy(col(groupCol)).agg(count(lit(1)).as("__n")).collect()
    val scaled = counts.toSeq.map { r =>
      val n = r.getLong(1)
      val s =
        if (temperature == 2.0) isqrt(BigInt(n) * BigInt(10).pow(10))
        else BigInt(math.round(math.pow(n.toDouble, 1.0 / temperature) * 1e5))
      (r.get(0), n, s)
    }
    val sTot = scaled.map(_._3).sum
    val rows = scaled.map { case (g, n, s) =>
      val thr = (BigInt(totalBudget) * s * 10000 / (sTot * BigInt(n))).toLong
      org.apache.spark.sql.Row(g, thr)
    }
    val spark = df.sparkSession
    val thrDf = broadcast(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      org.apache.spark.sql.types.StructType(Seq(
        df.schema(groupCol),
        org.apache.spark.sql.types.StructField("__thr",
          org.apache.spark.sql.types.LongType)))))
    df.join(thrDf, Seq(groupCol))
      .filter(hashBucket10k(col(keyCol)) < col("__thr"))
      .drop("__thr")
  }

  /** Deterministic stratified sample with EXACT per-group quotas: the
    * `nPerGroup` rows of each group that sort first by (48-bit md5 prefix
    * of the id, id) — an unbiased, seedless sample that is reproducible
    * across engines, partitionings and cluster sizes (the eval-set /
    * holdout construction primitive; `df.sample()` is none of those, and
    * per-group `row_number()` windows sort every row of every group).
    *
    * Scale shape: the TopKPairs bounded aggregate keeps O(k) state per
    * group with map-side combine — each partition ships at most
    * `nPerGroup` candidates per group through the shuffle, so a skewed
    * 10 TB group costs the same shuffle volume as a tiny one. The 48-bit
    * hash prefix is exact in the aggregate's double score (no precision
    * ties beyond the md5 itself; residual ties break by id). */
  def stratifiedSample(df: DataFrame, groupCol: String, idCol: String,
                       nPerGroup: Int): DataFrame = {
    require(nPerGroup > 0, s"nPerGroup must be positive, got $nPerGroup")
    val h48 = conv(substring(md5(col(idCol).cast("string")), 1, 12), 16, 10)
      .cast("double")
    df.select(col(groupCol), col(idCol), (-h48).as("__score"))
      .groupBy(col(groupCol))
      .agg(graft.functions.expressions.TopKByKey
        .topK(col("__score"), col(idCol), nPerGroup).as("__top"))
      .select(col(groupCol), explode(col("__top")).as("__t"))
      .select(col(groupCol), col("__t.id").as(idCol))
  }

  /** Priority sampling (Duffield, Lund & Thorup 2007, "Priority sampling
    * for estimation of arbitrary subset sums"): a weight-sensitive sample
    * of exactly `k` rows with an UNBIASED per-row weight estimator — the
    * principled way to downsample a corpus while keeping subset-sum
    * statistics (token mass per source, bytes per language …) estimable
    * from the sample alone.
    *
    * Each row draws u from its id's 48-bit md5 prefix (u = h+1, an exact
    * integer in [1, 2^48]) and gets priority p = u / w; the sample is the
    * k smallest priorities and the estimator is ŵ = max(w, τ) with
    * τ = 1/p_{k+1} (rows heavier than τ are kept with their true weight,
    * lighter ones inflate to τ — expectation-exact by the DLT theorem).
    * Seedless and engine-independent: IEEE double division is correctly
    * rounded everywhere, so priorities — and the sample — are identical
    * in any engine computing the same formula (no libm involved).
    *
    * Scale shape: one bounded-state TopKPairs global aggregate (each
    * partition ships ≤ k+1 candidates; a full ORDER BY would sort the
    * corpus), then the k sampled ids broadcast back against `df` to
    * recover the rows. Rows with non-positive weight are excluded (DLT
    * requires w > 0). Returns (id, weight, w_hat). */
  def prioritySample(df: DataFrame, idCol: String, weightCol: String,
                     k: Int, outScale: Int = 4): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val h48 = conv(substring(md5(col(idCol).cast("string")), 1, 12), 16, 10)
      .cast("long")
    val pri = (h48 + 1).cast("double") / col(weightCol).cast("double")
    val top = df.filter(col(weightCol) > 0)
      .select(col(idCol), pri.as("__pri"))
      .groupBy()
      .agg(graft.functions.expressions.TopKByKey
        .topK(-col("__pri"), col(idCol), k + 1).as("__top"))
      .select(posexplode(col("__top")).as(Seq("__pos", "__t")))
      .select(col("__pos"), (-col("__t.score")).as("__pri"),
        col("__t.id").as(idCol))
    // τ = 1/p_{k+1}; absent when the population has ≤ k rows (then every
    // row is sampled and ŵ = w exactly — greatest(w, 0) below).
    val tau = top.filter(col("__pos") === k)
      .select((lit(1.0) / col("__pri")).as("__tau"))
    val sample = top.filter(col("__pos") < k).select(col(idCol))
    df.join(broadcast(sample), Seq(idCol))
      .crossJoin(broadcast(tau.groupBy()
        .agg(coalesce(max(col("__tau")), lit(0.0)).as("__tau"))))
      .select(col(idCol), col(weightCol).as("weight"),
        round(greatest(col(weightCol).cast("double"), col("__tau")), outScale)
          .as("w_hat"))
  }

  /** Per-group [[prioritySample]]: an independent DLT sample of `k` rows
    * per group with the group-wise unbiased ŵ = max(w, τ_g) estimator —
    * per-source weighted eval sets in one pass. Same bounded-state
    * TopKPairs shape, now grouped: each partition ships ≤ k+1 candidates
    * PER GROUP, so a skewed 10 TB source costs the same shuffle volume as
    * a tiny one. τ_g comes from each group's own (k+1)-th priority; a
    * group with ≤ k rows keeps everything at its true weight. Weights are
    * rebuilt by joining the sampled ids back (broadcast), so the heavy
    * side never re-shuffles. Returns (group, id, weight, w_hat). */
  def prioritySampleByGroup(df: DataFrame, groupCol: String, idCol: String,
                            weightCol: String, k: Int,
                            outScale: Int = 4): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val h48 = conv(substring(md5(col(idCol).cast("string")), 1, 12), 16, 10)
      .cast("long")
    val pri = (h48 + 1).cast("double") / col(weightCol).cast("double")
    val top = df.filter(col(weightCol) > 0)
      .select(col(groupCol), col(idCol), pri.as("__pri"))
      .groupBy(col(groupCol))
      .agg(graft.functions.expressions.TopKByKey
        .topK(-col("__pri"), col(idCol), k + 1).as("__top"))
      .select(col(groupCol), posexplode(col("__top")).as(Seq("__pos", "__t")))
      .select(col(groupCol), col("__pos"), (-col("__t.score")).as("__pri"),
        col("__t.id").as(idCol))
    val tau = top.filter(col("__pos") === k)
      .select(col(groupCol), (lit(1.0) / col("__pri")).as("__tau"))
    val sample = top.filter(col("__pos") < k).select(col(groupCol), col(idCol))
    df.join(broadcast(sample), Seq(groupCol, idCol))
      .join(broadcast(tau), Seq(groupCol), "left")
      .select(col(groupCol), col(idCol), col(weightCol).as("weight"),
        round(greatest(col(weightCol).cast("double"),
          coalesce(col("__tau"), lit(0.0))), outScale).as("w_hat"))
  }

  /** Deterministic distribution matching: subsample each bucket so the
    * OUTPUT follows the target share ratios EXACTLY, keeping the maximum
    * total the data allows. With share s_b and bucket size n_b, the
    * per-unit-share scale is M = min_b ⌊n_b / s_b⌋ and bucket b keeps its
    * first s_b·M rows in md5 order — so kept counts are exactly
    * proportional to shares (the length/domain/language histogram
    * matching step when a corpus must mirror a reference mix). Rows whose
    * share is ≤ 0 are dropped (not in the target).
    *
    * All integer arithmetic; the kept set is a pure function of content.
    * Scale shape: bucket sizes are one tiny aggregate; M is a broadcast
    * 1-row frame (never collected); ranking is the distributed
    * global-rank pass. Returns the kept rows plus (bucket_rank). Eager,
    * under the [[CacheScope]] rules. */
  def matchDistribution(df: DataFrame, idCol: String, bucketCol: String,
                        share: Column): DataFrame = CacheScope { _ =>
    // share must be CONSTANT per bucket: a within-bucket disagreement
    // splits the (bucket, __s) group, corrupting the global scale M and
    // every per-bucket quota SILENTLY. Probe the distinct pairs (bounded
    // by the bucket count), the interleaveSources validation pattern —
    // on the RAW share expression, BEFORE the long cast and the __s > 0
    // filter: a bucket mixing share=2 with share=0 rows, or fractional
    // shares 2.4 vs 2.9 that both cast to 2, is a genuine disagreement
    // the post-cast probe would wave through.
    val multi = df.select(share.as("__sraw"), col(bucketCol))
      .distinct()
      .groupBy(col(bucketCol)).agg(count(lit(1)).as("__k"))
      .filter(col("__k") > 1).limit(1).collect()
    require(multi.isEmpty,
      s"matchDistribution: share must be constant per bucket; bucket " +
        s"'${if (multi.nonEmpty) multi.head.get(0) else ""}' carries " +
        "multiple distinct share values")
    val d = df.withColumn("__s", share.cast("long"))
      .filter(col("__s") > 0)
      .withColumn("__h", md5(col(idCol).cast("string")))
    val m = d.groupBy(col(bucketCol), col("__s"))
      .agg(count(lit(1)).as("__n"))
      .agg(min(graft.functions.Windowing.intDivPublic(col("__n"), col("__s")))
        .as("__m"))
    val ranked = graft.functions.Windowing.globalRowNumber(d,
      Seq(bucketCol), Seq("__h", idCol), outCol = "bucket_rank")
    ranked.crossJoin(broadcast(m))
      .filter(col("bucket_rank") <= col("__s") * col("__m"))
      .drop("__s", "__h", "__m")
  }

  /** Deterministic weighted source interleave — the EPOCH SCHEDULE for a
    * mixed training corpus: produce a single global reading order in
    * which source `s` appears with frequency ∝ its weight, smoothly
    * (round-robin-with-weights, not blocks: the w=3 source appears ~3×
    * between consecutive appearances of a w=1 source). The low-discrepancy
    * interleave key is the classic  (2p − 1) / (2w)  sequence (p = the
    * row's 1-based position within its source, ordered by md5(id) — a
    * deterministic shuffle): merging all sources by that key yields the
    * schedule. Every step is a pure function of content — reproducible
    * across runs, partitioning, engines.
    *
    * Scale shape: two [[Windowing.globalRowNumber]] passes (range
    * partition + metadata offsets — no single-partition window anywhere),
    * one narrow projection between them. The interleave key is ONE IEEE
    * division compared identically in any engine, ties broken by
    * (source, id). `weight` must be a strictly-positive integer column
    * derived from the source (plan-stable). Returns df's columns plus
    * (src_pos, epoch_pos). Eager, under the [[CacheScope]] rules. */
  def interleaveSources(df: DataFrame, idCol: String, srcCol: String,
                        weight: Column): DataFrame = CacheScope { _ =>
    val d = df.withColumn("__w", weight.cast("long"))
    // refuse non-positive weights loudly: w = 0 would send a source's
    // whole stream to the epoch tail ((2p−1)/0 = ∞) and w < 0 would
    // reverse it — both silently. Probe the distinct sources (bounded),
    // not the corpus.
    val bad = d.select(col(srcCol), col("__w")).distinct()
      .filter(col("__w").isNull || col("__w") <= 0).limit(1).collect()
    require(bad.isEmpty,
      s"interleaveSources: weight must be a strictly-positive integer; " +
        s"source '${if (bad.nonEmpty) bad.head.get(0) else ""}' has " +
        s"weight ${if (bad.nonEmpty) bad.head.get(1) else ""}")
    val withPos = graft.functions.Windowing.globalRowNumber(
      d.withColumn("__h", md5(col(idCol).cast("string"))),
      Seq(srcCol), Seq("__h", idCol), outCol = "src_pos")
    val keyed = withPos
      .withColumn("__key",
        (lit(2.0) * col("src_pos") - lit(1.0)) / (lit(2.0) * col("__w")))
      .withColumn("__g", lit("all"))
    val ranked = graft.functions.Windowing.globalRowNumber(keyed,
      Seq("__g"), Seq("__key", srcCol, idCol), outCol = "epoch_pos")
    ranked.drop("__w", "__h", "__key", "__g")
  }

  /** DSIR-style Gumbel top-k importance resampling (Xie et al. 2023,
    * arXiv:2302.03169 §3; Vieira 2014 "Gumbel-max trick"): draw `k`
    * documents WITHOUT replacement with probability ∝ exp(weight /
    * `temperature`) by ranking on  key = weight/T + g(id)  and keeping
    * the top k, where g = −ln(−ln(u)) is standard Gumbel noise. The
    * uniform u is DETERMINISTIC — (md5₄₈(id) + 0.5) / 2⁴⁸ — so the
    * sample is a pure function of content: reproducible across runs,
    * partitioning, cluster size, and engines (the md5-uniform is the
    * same trick as [[prioritySample]]'s DLT priorities; DSIR's paper
    * uses fresh Gumbel draws — a seeded-hash Gumbel is the
    * deterministic-pipeline equivalent).
    *
    * The key is one short IEEE chain rounded to `keyScale` decimals
    * (ties broken by id ascending), so the selected set is
    * engine-independent and DuckDB-mirrorable. Scale shape: one
    * TakeOrdered top-k — O(k) state per partition, no global sort, no
    * shuffle of the data. Returns (idCol, weight, gumbel_key). */
  def gumbelTopK(df: DataFrame, idCol: String, weightCol: String, k: Int,
                 temperature: Double = 1.0, keyScale: Int = 6): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(temperature > 0, s"temperature must be positive, got $temperature")
    val h48 = conv(substring(md5(col(idCol).cast("string")), 1, 12), 16, 10)
      .cast("double")
    val u = (h48 + lit(0.5)) / lit(281474976710656.0) // 2^48 — u ∈ (0,1)
    val g = -log(-log(u))
    val key = round(col(weightCol).cast("double") / lit(temperature) + g,
      keyScale)
    df.select(col(idCol), col(weightCol).cast("double").as("weight"),
        key.as("gumbel_key"))
      .orderBy(col("gumbel_key").desc, col(idCol).asc)
      .limit(k)
  }

  /** Per-group kept/total report for a rebalanced frame — the mixture
    * audit a pipeline logs after resampling. */
  def mixReport(df: DataFrame, rebalanced: DataFrame,
                groupCol: String): DataFrame = {
    val before = df.groupBy(col(groupCol)).agg(count(lit(1)).as("n_before"))
    val after = rebalanced.groupBy(col(groupCol)).agg(count(lit(1)).as("n_after"))
    before.join(after, Seq(groupCol), "left")
      .select(col(groupCol), col("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"))
  }
}
