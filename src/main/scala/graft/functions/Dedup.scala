package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanBridge

/** Deduplication operators for 100 TB-scale corpora.
  *
  * Strategy notes (scale-first):
  *  - Exact dedup is a hash-groupBy: one shuffle on the content hash, never
  *    on the content itself (hash first so the shuffle keys are 8-byte longs).
  *  - Near-dup methods (MinHash-LSH, SimHash, embedding-LSH) all follow the
  *    same shape: cheap per-row signature (narrow, codegen'd) → explode to
  *    (bucket, id) → self-join on bucket → verify candidate pairs with the
  *    exact metric. Only candidate pairs (tiny vs n²) are verified.
  *  - All signatures use seeded xxhash64: deterministic across runs and
  *    executors, no fitted model state.
  */
object Dedup {

  /** Exact dedup, keep-first-by-id: one row per distinct value of `keyCols`,
    * the survivor being the row with the minimum `idCol`. Deterministic
    * (unlike dropDuplicates, whose survivor is arbitrary) — at scale the
    * survivor must not depend on partitioning. */
  def exactDedup(df: DataFrame, keyCols: Seq[String], idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Exact dedup on a content hash — for wide content columns, shuffle the
    * 64-bit hash, not the content. Returns surviving ids. */
  def exactDedupIds(df: DataFrame, contentCol: String, idCol: String): DataFrame =
    df.select(xxhash64(col(contentCol)).as("__h"), col(idCol))
      .groupBy("__h").agg(min(idCol).as(idCol))
      .select(idCol)

  /** MinHash signature: for each of `numHashes` hash functions, the minimum
    * hash over the document's shingles. Array column of longs.
    *
    * The expensive string hash runs ONCE per shingle; the k-hash family is
    * derived by linear perturbation (h*a_k + b_k, a_k odd) of that base hash
    * — the standard universal-hash construction. This matters under
    * Catalyst's CollapseProject: a per-seed string hash would be inlined and
    * recomputed numHashes times per use site.
    *
    * NOTE: pass a *materialized column* (e.g. from a persisted projection)
    * as `baseHashes` when the signature feeds a self-join, or the base-hash
    * expression still inlines into every consumer.
    */
  def minhashFromHashes(baseHashes: Column, numHashes: Int, seed: Int = 42): Column =
    graft.functions.expressions.MinHashExpression
      .minhashArray(baseHashes, numHashes, seed.toLong)

  /** Base hashes of a shingle array (one xxhash64 per shingle). */
  def shingleHashes(shingles: Column, seed: Int = 42): Column =
    transform(shingles, s => xxhash64(s, lit(seed)))

  /** Convenience single-expression signature (fine for one-shot use; for
    * self-joins use the two-step materialized path in minhashCandidates). */
  def minhashSignature(shingles: Column, numHashes: Int, seed: Int = 42): Column =
    minhashFromHashes(shingleHashes(shingles, seed), numHashes, seed)

  /** LSH band keys from a minhash signature: `bands` buckets, each folding
    * `rowsPerBand = numHashes/bands` signature slots in one fused codegen
    * pass (band index = array position; posexplode downstream). */
  def lshBandKeys(signature: Column, bands: Int, rowsPerBand: Int): Column =
    graft.functions.expressions.MinHashExpression
      .bandHashes(signature, bands, rowsPerBand)

  /** 128-bit surrogate key of a minhash signature — two INDEPENDENTLY
    * seeded xxhash64 passes (the salt folds BEFORE the array: xxhash64
    * chains arguments left-to-right from a fixed seed, so hashing the
    * salt second would make h2 a pure function of h1). Joins and
    * band-bucket shuffles move these 16 bytes instead of the
    * 8·numHashes-byte signature arrays; every consumer recomputes the
    * jaccard estimate from the REAL arrays after joining them back, so a
    * 2⁻¹²⁸ collision can only add a correctly-scored candidate pair.
    * xxhash64 is a fixed algorithm (Spark's bucketing contract), so keys
    * persisted in the on-disk minhash index stay stable across versions. */
  private[graft] def sigKey128(sigCol: Column): Column = struct(
    xxhash64(sigCol).as("h1"),
    xxhash64(lit(0x517CC1B727220A95L), sigCol).as("h2"))

  /** MinHash+LSH candidate pairs: documents sharing ≥1 LSH band bucket.
    * Returns (idA, idB, jaccardEstimate) with idA < idB, where
    * jaccardEstimate is the fraction of matching minhash slots.
    *
    * Scale: the self-join is on (band, bucket) — high-cardinality keys, so
    * the shuffle is fine-grained; skewed buckets (boilerplate docs) can be
    * capped upstream by filtering bucket sizes.
    *
    * Eager, under the [[CacheScope]] rules.
    */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        shingleSize: Int = 3, numHashes: Int = 64,
                        bands: Int = 16, seed: Int = 42,
                        maxBucketSize: Int = 0): DataFrame = CacheScope { s =>
    require(bands > 0 && numHashes % bands == 0,
      s"numHashes ($numHashes) must be a positive multiple of bands ($bands) " +
        "— a partial trailing band would silently weaken the LSH guarantee")
    val rowsPerBand = numHashes / bands
    // Fully-fused signature: tokens → k minima in one codegen'd expression
    // (no shingle strings, one hash per token). The persist is a barrier
    // against CollapseProject inlining the pipeline into both self-join
    // legs; cached signatures are ~8·numHashes bytes/doc — ~0.3% of corpus
    // size at 100 TB.
    // Spread first: the fused tokenize+minhash projection is the corpus
    // pass, and a single-file scan otherwise runs it on one task
    val sig = s.cache(Spread(df.select(col(idCol).as("id"), col(textCol).as("__t")))
      .select(col("id"),
        graft.functions.expressions.MinHashExpression
          .minhashTokens(Text.tokens(col("__t")), shingleSize, numHashes, seed.toLong)
          .as("sig")))
    // Everything downstream moves 128-BIT SURROGATE KEYS, not the
    // 8·numHashes-byte signature arrays: at 500k docs the band explosion
    // is bands × distinct-sigs rows, and carrying ~520-byte signatures
    // through the self-join + pair-distinct made that one stage sort and
    // spill GBs (measured 8.5 → 200 s for 10× the docs — the only
    // superlinear stage in the curation capstone). A 64-bit surrogate
    // would birthday-collide at billions of signatures; 128 bits never
    // will, and even a collision here is BENIGN by construction: the
    // jaccard estimate below is recomputed from the REAL signature
    // arrays, and same-key id pairs are emitted by the dedicated
    // same-key path — so a collision can only surface an extra
    // correctly-scored candidate, never lose a pair or forge a score.
    // salt FIRST: xxhash64 folds arguments left-to-right from the fixed
    // seed, so xxhash64(sig, salt) would be a pure function of
    // xxhash64(sig) (same 64 bits twice); xxhash64(salt, sig) perturbs
    // the chain BEFORE the array and yields an independent second hash
    def key128(sigCol: Column): Column = sigKey128(sigCol)
    val sigK = s.cache(sig.select(col("id"), key128(col("sig")).as("k"), col("sig")))
    // (1) SAME-key pairs — identical signatures (the boilerplate mass):
    // output-proportional id pairs within each key group, est computed
    // from the true signatures (identical arrays → exactly 1.0). This
    // replaces the old band-diagonal (s,s) trick, which pushed bands ×
    // distinct-sigs self-rows through the pair-distinct for nothing.
    val pp = sigK.select(col("k"), col("id").as("__ia"), col("sig").as("sigA"))
    val qq = sigK.select(col("k"), col("id").as("__ib"), col("sig").as("sigB"))
    val samePairs = pp.join(qq, Seq("k"))
      .filter(col("__ia") < col("__ib"))
      .select(col("__ia").as("idA"), col("__ib").as("idB"),
        (graft.functions.expressions.MinHashExpression
          .signatureAgreement(col("sigA"), col("sigB"))
          .cast("double") / lit(numHashes)).as("jaccard_est"))
    // (2) CROSS-key pairs via banded LSH over DISTINCT signatures: on a
    // boilerplate-heavy corpus (10% identical docs) the largest (band,
    // bucket) group would otherwise scale with corpus size — after the
    // collapse it scales with *distinct* signatures, and the identical-doc
    // pairs come back from the output-proportional expansion joins below.
    val distinctSig = s.cache(sig.select(col("sig")).distinct()
      .select(key128(col("sig")).as("k"), col("sig")))
    val bucketed0 = distinctSig.select(col("k"),
        posexplode(lshBandKeys(col("sig"), bands, rowsPerBand)).as(Seq("band", "bucket")))
    // Optional hard cap on residual oversized buckets (true hash-degenerate
    // groups of distinct signatures). Dropping a bucket only loses a pair
    // if it shares NO other band — a documented recall/cost tradeoff; the
    // default (0) keeps exact banded-LSH recall and lets AQE split skew.
    val bucketed = if (maxBucketSize > 0) {
      val sizes = bucketed0.groupBy("band", "bucket").agg(count(lit(1)).as("__n"))
      bucketed0.join(sizes.filter(col("__n") <= maxBucketSize), Seq("band", "bucket"))
        .drop("__n")
    } else bucketed0
    val a = bucketed.select(col("band"), col("bucket"), col("k").as("kA"))
    val b = bucketed.select(col("band"), col("bucket"), col("k").as("kB"))
    // strict < (struct ordering is field-wise, deterministic): same-key
    // pairs already came from path (1), so the diagonal never exists
    val keyPairs = a.join(b, Seq("band", "bucket"))
      .filter(col("kA") < col("kB"))
      .select(col("kA"), col("kB"))
      .distinct()
    // recover the true signatures (distinctSig: one narrow row per
    // distinct signature) to compute the REAL agreement, then expand
    // key pair → doc pairs over the 16-byte keys
    val sa = distinctSig.select(col("k").as("kA"), col("sig").as("sigA"))
    val sb = distinctSig.select(col("k").as("kB"), col("sig").as("sigB"))
    val sigPairs = keyPairs.join(sa, "kA").join(sb, "kB")
      .withColumn("jaccard_est",
        graft.functions.expressions.MinHashExpression
          .signatureAgreement(col("sigA"), col("sigB"))
          .cast("double") / lit(numHashes))
      .select(col("kA"), col("kB"), col("jaccard_est"))
    val ia = sigK.select(col("id").as("__ia"), col("k").as("kA"))
    val ib = sigK.select(col("id").as("__ib"), col("k").as("kB"))
    val crossPairs = sigPairs.join(ia, "kA").join(ib, "kB")
      .select(least(col("__ia"), col("__ib")).as("idA"),
        greatest(col("__ia"), col("__ib")).as("idB"),
        col("jaccard_est"))
    crossPairs.unionAll(samePairs)
  }

  /** SimHash-64 of a token array: bit i of the result is the sign of the sum
    * over tokens of (bit i of xxhash64(token) ? +1 : -1). Near-identical
    * documents land within small Hamming distance. Pure expressions:
    * aggregate over tokens with a 64-slot count vector. */
  def simhash64(tokens: Column, seed: Int = 42): Column = {
    // Hash every token once, THEN aggregate over the hash array — the
    // aggregate lambda references its bound variable (cheap), whereas
    // hashing inside the 64-element array builder would recompute the
    // string hash 64 times per token after expression inlining.
    // lit(seed.toLong): the long literal makes the xxhash64 chain identical
    // to the fused SimHashOfTokens expression (hashLong, not hashInt)
    val hashes = transform(tokens, t => xxhash64(t, lit(seed.toLong)))
    val counts = aggregate(
      hashes,
      array_repeat(lit(0L), 64),
      (acc, h) =>
        array((0 until 64).map { i =>
          element_at(acc, i + 1) +
            when(shiftright(h, i).bitwiseAND(1) === 1, 1L).otherwise(-1L)
        }: _*))
    (0 until 64).map { i =>
      when(element_at(counts, i + 1) > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash signatures as a narrow per-row projection: the fused codegen
    * [[graft.functions.expressions.SimHashOfTokens]] turns the token array
    * into the 64-bit signature in one pass — no explode, no aggregate, no
    * shuffle (an earlier explode → groupBy(id) 64-sum formulation spent
    * ~4 s at sf0.1 on the generate + 65-column hash aggregate alone).
    * Produces the same signatures as the interpreted [[simhash64]].
    * Returns (id, sig). */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        seed: Int = 42): DataFrame =
    df.select(col(idCol).as("id"),
      graft.functions.expressions.SimHashExpression
        .simhashTokens(Text.tokens(col(textCol)), seed.toLong).as("sig"))

  /** XOR masks of `width`-bit words with popcount ≤ maxPop, in popcount
    * order (identity mask first). C(width, ≤maxPop) masks. */
  def xorMasks(width: Int, maxPop: Int): Seq[Long] = {
    def exactly(p: Int, start: Int): Seq[Long] =
      if (p == 0) Seq(0L)
      else (start to width - p).flatMap(i => exactly(p - 1, i + 1).map(_ | (1L << i)))
    (0 to maxPop).flatMap(p => exactly(p, 0))
  }

  /** SimHash near-dup candidates within Hamming radius `maxHamming`, with
    * exact recall. Blocking is multi-index hashing (Norouzi et al., "Fast
    * Search in Hamming Space with Multi-Index Hashing"): the 64-bit
    * signature splits into B blocks (B adapts to the radius, see
    * [[simhashCandidatesFromSigs]]); by pigeonhole any pair within distance
    * r agrees within q = ⌊r/B⌋ on some block, so the probe side expands
    * each block key by the C(width, ≤q) XOR masks of popcount ≤ q and joins
    * EXACTLY on (block, key).
    *
    * Versus (r+1)-way exact pigeonhole this keeps join keys at 12-16 bits
    * for any radius — at r = 8 the old scheme's ~7-bit keys put ~1/128 of
    * the corpus in one bucket (quadratic); here the per-block collision
    * rate stays ≈ 0.2%.
    *
    * Signatures are also collapsed to DISTINCT values before the join —
    * identical-signature groups (boilerplate) contribute one blocking row
    * each and their doc pairs come back from output-proportional expansion.
    */
  def simhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        maxHamming: Int = 3, seed: Int = 42): DataFrame = CacheScope { s =>
    // persist: barrier against recomputing the signature in both join legs.
    // simhashCandidatesFromSigs materializes its result, so the barrier is
    // freed before returning
    val sigs = s.cache(simhashSignatures(df, idCol, textCol, seed))
    val result = simhashCandidatesFromSigs(sigs, maxHamming)
    s.free(sigs)
    result
  }

  /** Blocking + verify + expansion over precomputed (id, sig) rows; see
    * [[simhashCandidates]]. Exposed for reuse and for candidate-volume
    * testing. Eager, under the [[CacheScope]] rules; the caller-supplied
    * `sigs` frame is left untouched.
    *
    * The block count adapts to the radius: more, narrower blocks let the
    * per-block neighbor budget q = ⌊r/B⌋ stay at 1 instead of 2+, which
    * shrinks the probe-side mask explosion ~8× (e.g. r=8: 5×~C(13,≤1)=69
    * probe structs vs 4×C(16,≤2)=548) at a comparable per-block collision
    * rate. */
  def simhashCandidatesFromSigs(sigs: DataFrame, maxHamming: Int): DataFrame = CacheScope { s =>
    require(maxHamming >= 0 && maxHamming < 16,
      s"maxHamming must be in [0, 16), got $maxHamming")
    val nBlocks =
      if (maxHamming <= 3) 4        // q=0: exact 16-bit blocks
      else if (maxHamming <= 9) 5   // q=1: ~13-bit blocks, ≤14 masks each
      else if (maxHamming <= 13) 7  // q=1: ~9-bit blocks
      else 8                        // q=1: 8-bit blocks
    val q = maxHamming / nBlocks
    val bounds = (0 to nBlocks).map(b => b * 64 / nBlocks)
    def blockWidth(b: Int): Int = bounds(b + 1) - bounds(b)
    def blockMask(b: Int): Long =
      if (blockWidth(b) == 64) -1L else (1L << blockWidth(b)) - 1
    def blockKey(sig: Column, b: Int): Column =
      shiftright(sig, bounds(b)).bitwiseAND(lit(blockMask(b)))
    val distinctSigs = s.cache(sigs.select(col("sig")).distinct())
    val build = distinctSigs.select(col("sig").as("sigB"),
        explode(array((0 until nBlocks).map(b =>
          struct(lit(b).as("blk"), blockKey(col("sig"), b).as("key"))): _*)).as("bk"))
      .select(col("sigB"), col("bk.blk").as("blk"), col("bk.key").as("key"))
    // One struct per (block, XOR mask of popcount ≤ q) — ~70 total at any
    // supported radius, fused into a single explode.
    val probeStructs = (0 until nBlocks).flatMap { b =>
      xorMasks(blockWidth(b), q).map(m =>
        struct(lit(b).as("blk"), blockKey(col("sig"), b).bitwiseXOR(lit(m)).as("key")))
    }
    val probe = distinctSigs.select(col("sig").as("sigA"),
        explode(array(probeStructs: _*)).as("bk"))
      .select(col("sigA"), col("bk.blk").as("blk"), col("bk.key").as("key"))
    // Dedup WITHOUT a distinct shuffle: a pair can match in several blocks,
    // so keep only its LEFTMOST matching block — every earlier block must
    // disagree by more than q. Combined with the sigA <= sigB direction
    // filter (which keeps the (s,s) self-pair for identical-sig expansion)
    // and the one-mask-per-(pair, block) join key, each sig pair survives
    // exactly once; the join output is filtered narrowly, never shuffled.
    val xorSig = col("sigA").bitwiseXOR(col("sigB"))
    def blockHamming(b: Int): Column =
      bit_count(shiftright(xorSig, bounds(b)).bitwiseAND(lit(blockMask(b))))
    val leftmost = (0 until nBlocks - 1)
      .map(bp => col("blk") <= bp || blockHamming(bp) > q)
      .reduce(_ && _)
    val sigPairs = probe.join(build, Seq("blk", "key"))
      .filter(col("sigA") <= col("sigB"))
      .filter(leftmost)
      .filter(hamming64(col("sigA"), col("sigB")) <= maxHamming)
      .select(col("sigA"), col("sigB"))
    val a = sigs.select(col("id").as("__ia"), col("sig").as("sigA"))
    val b = sigs.select(col("id").as("__ib"), col("sig").as("sigB"))
    sigPairs.join(a, "sigA").join(b, "sigB")
      .filter(col("sigA") =!= col("sigB") || col("__ia") < col("__ib"))
      .select(least(col("__ia"), col("__ib")).as("idA"),
        greatest(col("__ia"), col("__ib")).as("idB"),
        hamming64(col("sigA"), col("sigB")).as("hamming"))
  }

  /** Distributed connected components over a candidate-pair edge list by
    * iterative min-label propagation: each node repeatedly adopts the
    * smallest id reachable in one hop, converging in O(diameter) rounds.
    * Duplicate clusters have tiny diameters (near-dup graphs are dense
    * cliques), so a handful of joins suffices at any corpus size — the
    * driver never materializes the graph.
    *
    * Input: (idA, idB) pairs. Output: (id, component) with component = the
    * minimum id in each connected component.
    *
    * Eager, a [[CacheScope.loop]]: it runs in a child of the caller's
    * session with AQE off, inherits the caller's shuffle-partition count,
    * and frees the edge cache, superseded generations and checkpoint
    * blocks.
    *
    * Fault tolerance: lineage is truncated every 3 rounds with
    * localCheckpoint, whose blocks live in executor storage — an executor
    * loss during the computation kills the job (documented Spark
    * localCheckpoint semantics). For long multi-hour runs on a real
    * cluster, set `sc.setCheckpointDir(...)` first: the operator then uses
    * RELIABLE checkpoints (stable storage), which survive executor loss.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 10): DataFrame =
    CacheScope.loop(pairs) { (s, pairs) =>
      // Flatten the EDGE plan before iterating, symmetric to the output
      // flattening below: `pairs` usually arrives as a filter over a dedup
      // operator's (cached but tree-shaped) candidate pipeline, and the
      // iteration embeds the edge plan in every generation's plan — twice
      // per round via the union legs. The driver then pays plan-sized costs
      // PER ACTION (analysis, canonicalization, and AQE's onUpdatePlan
      // explainString render, which fires per plan update event): measured
      // 42 → 725 s on the SAME 8k-edge graph at rehearsal 10× depending
      // only on the size of the upstream candidate tree. A flat LogicalRDD
      // edge table makes iteration cost independent of how the edges were
      // produced — on a 1000-executor cluster the alternative is minutes of
      // single-threaded driver stall per action. Lineage contract: losing a
      // cached partition re-executes the raw edge plan (uncached upstream),
      // correct and merely slower — same as the output flattening.
      val edgesRaw = pairs.select(col("idA").as("src"), col("idB").as("dst"))
        .union(pairs.select(col("idB").as("src"), col("idA").as("dst")))
        .distinct()
      val edges = s.cache(PlanBridge.flattenPlan(edgesRaw))
      var labels = s.cache(edges.select(col("src").as("id"))
        .distinct()
        .withColumn("component", col("id")))
      // Resource hygiene for deep iteration at scale: exactly one cached
      // label generation is live in steady state (the superseded one is
      // freed as soon as its successor is materialized), the convergence
      // test rides the SAME action that materializes the new labels (one
      // aggregate, no extra join+count pass), and an eager checkpoint every
      // 3 rounds truncates the otherwise quadratically-deepening lineage.
      var prevGen: Option[DataFrame] = Some(labels)
      var lastCheckpoint: Option[DataFrame] = None
      var converged = false
      var iter = 0
      while (!converged && iter < maxIter) {
        // neighbor labels: for each edge (src,dst), dst's current component
        val nbr = edges
          .join(labels.select(col("id").as("dst"), col("component").as("nbr_component")),
            Seq("dst"))
          .groupBy(col("src").as("id"))
          .agg(min(col("nbr_component")).as("min_nbr"))
        val updated = s.cache(labels.join(nbr, Seq("id"), "left")
          .select(col("id"), col("component").as("__old"),
            least(col("component"), coalesce(col("min_nbr"), col("component")))
              .as("component")))
        // one action: materializes `updated` AND computes the convergence test
        val changed = updated
          .agg(count(when(col("component") =!= col("__old"), lit(1))).as("n"))
          .head().getLong(0)
        prevGen.foreach(s.free(_, blocking = false))
        if ((iter + 1) % 3 == 0) {
          // Truncate lineage. Ordering matters for recoverability: the
          // SUPERSEDED checkpoint is freed only after the new one is fully
          // materialized (the checkpoint is eager), so no live generation
          // ever lineage-depends on freed data.
          labels = s.checkpoint(updated.select("id", "component"))
          s.free(updated, blocking = false)
          lastCheckpoint.foreach(s.free(_, blocking = false))
          lastCheckpoint = Some(labels)
          prevGen = None
        } else {
          labels = updated.select("id", "component")
          prevGen = Some(updated)
        }
        converged = changed == 0
        iter += 1
      }
      // No silent caps: labels from a truncated propagation are NOT final
      // components — make the condition visible instead of returning quietly.
      if (!converged)
        System.err.println(s"[graft] connectedComponents: NOT converged after " +
          s"$maxIter iterations — labels are an upper approximation; raise maxIter " +
          "(near-dup cliques normally converge in 2-3 rounds)")
      // Materialize the final labels, then free the edge cache.
      val out0 = s.materialize(labels.select("id", "component"))
      s.free(edges)
      // PLAN truncation, not just RDD-lineage truncation: the label plan
      // after k un-checkpointed rounds is a ~2^k join tree over the full edge
      // pipeline, and every CONSUMER action re-analyzes/canonicalizes it —
      // measured ~30-40 DRIVER seconds per downstream action in the curation
      // pipeline while stages took milliseconds. Rebuild the result over the
      // materialized rows (flat LogicalRDD) and cache that; the scope frees
      // the tree-shaped cache and the last generation. Lineage stays correct:
      // losing a cached partition re-executes the (uncached) upstream plan.
      s.materialize(PlanBridge.flattenPlan(out0))
    }

  /** End-to-end near-duplicate removal: find MinHash-LSH candidates above
    * `threshold`, cluster them, and return the input minus every
    * non-canonical duplicate (the minimum id of each cluster survives —
    * deterministic, partition-independent).
    *
    * Eager, under the [[CacheScope]] rules: the result is cached, and
    * every intermediate (signatures, candidate pairs, component labels,
    * the loser-id filter) is freed. Compose the pieces yourself to keep
    * the result lazy. */
  def dedupNearDuplicates(df: DataFrame, idCol: String, textCol: String,
                          threshold: Double = 0.8,
                          shingleSize: Int = 3, numHashes: Int = 64,
                          bands: Int = 16, seed: Int = 42): DataFrame = CacheScope { s =>
    val cands = minhashCandidates(df, idCol, textCol, shingleSize, numHashes, bands, seed)
    val comps = connectedComponents(
      cands.filter(col("jaccard_est") >= threshold)
        .select(col("idA"), col("idB")))
    s.free(cands) // comps is materialized (eager)
    val losers = s.materialize(
      comps.filter(col("id") =!= col("component")).select(col("id").as(idCol)))
    s.free(comps)
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Cross-corpus MinHash-LSH: near-dup candidates between a NEW batch and
    * an existing REFERENCE corpus — the incremental-ingest shape (dedup the
    * day's crawl against the 100 TB corpus without an all-corpus
    * self-join). Both sides collapse to DISTINCT signatures before the
    * bipartite band join (boilerplate skew control, as in
    * [[minhashCandidates]]); only candidate signature pairs expand back to
    * (newId, refId, jaccardEstimate). Eager, under the [[CacheScope]]
    * rules. */
  def minhashCandidatesAgainst(newDf: DataFrame, refDf: DataFrame,
                               idCol: String, textCol: String,
                               shingleSize: Int = 3, numHashes: Int = 64,
                               bands: Int = 16, seed: Int = 42): DataFrame = CacheScope { s =>
    require(bands > 0 && numHashes % bands == 0,
      s"numHashes ($numHashes) must be a positive multiple of bands ($bands)")
    val rowsPerBand = numHashes / bands
    def sigOf(df: DataFrame) = s.cache(df
      .select(col(idCol).as("id"),
        graft.functions.expressions.MinHashExpression
          .minhashTokens(Text.tokens(col(textCol)), shingleSize, numHashes, seed.toLong)
          .as("sig")))
    val sigN = sigOf(newDf)
    val sigR = sigOf(refDf)
    // Same 128-bit surrogate-key discipline as [[minhashCandidates]]: the
    // REFERENCE side's band explosion is bands × its distinct signatures
    // — at corpus scale, moving ~520-byte signature arrays through the
    // bipartite join and pair-distinct is the dominant shuffle weight.
    // Collision-benign for the same reason: the agreement is recomputed
    // from the real signatures after the join-back, and a key collision
    // (2⁻¹²⁸) can only add a correctly-scored candidate pair.
    def key128(sigCol: Column): Column = sigKey128(sigCol)
    def distinctK(sig: DataFrame) = sig.select(col("sig")).distinct()
      .select(key128(col("sig")).as("k"), col("sig"))
    def bucketed(dk: DataFrame, as: String) = dk
      .select(col("k").as(as),
        posexplode(lshBandKeys(col("sig"), bands, rowsPerBand)).as(Seq("band", "bucket")))
    val dkN = s.cache(distinctK(sigN))
    val dkR = s.cache(distinctK(sigR))
    val keyPairs = bucketed(dkN, "kN").join(bucketed(dkR, "kR"), Seq("band", "bucket"))
      .select(col("kN"), col("kR"))
      .distinct()
    val sigPairs = keyPairs
      .join(dkN.select(col("k").as("kN"), col("sig").as("sigN")), "kN")
      .join(dkR.select(col("k").as("kR"), col("sig").as("sigR")), "kR")
      .withColumn("jaccard_est",
        graft.functions.expressions.MinHashExpression
          .signatureAgreement(col("sigN"), col("sigR"))
          .cast("double") / lit(numHashes))
      .select(col("kN"), col("kR"), col("jaccard_est"))
    val in = sigN.select(col("id").as("idNew"), key128(col("sig")).as("kN"))
    val ir = sigR.select(col("id").as("idRef"), key128(col("sig")).as("kR"))
    sigPairs.join(in, "kN").join(ir, "kR")
      .select(col("idNew"), col("idRef"), col("jaccard_est"))
  }

  /** Quality-aware near-dedup: like [[dedupNearDuplicates]], but each
    * near-dup cluster keeps its BEST member by `scoreCol` (ties to the
    * smaller id) instead of the minimum id — the production rule when
    * documents carry a quality signal: survivors should be the cleanest
    * copy, not the first-crawled one. Same candidate → component
    * machinery; the winner is one argmax aggregate over cluster members
    * (max(struct(score, -id)) — no window), and non-winners anti-join
    * away. Returns the kept rows of `df` unchanged. */
  def dedupNearDuplicatesBy(df: DataFrame, idCol: String, textCol: String,
                            scoreCol: String, threshold: Double = 0.8,
                            shingleSize: Int = 3, numHashes: Int = 64,
                            bands: Int = 16, seed: Int = 42): DataFrame = CacheScope { s =>
    val cands = minhashCandidates(df, idCol, textCol, shingleSize, numHashes,
      bands, seed)
    val kept = keepBestByComponent(df, idCol, scoreCol,
      cands.filter(col("jaccard_est") >= threshold)
        .select(col("idA"), col("idB")))
    s.free(cands)
    kept
  }

  /** The keep-best core of [[dedupNearDuplicatesBy]], reusable with ANY
    * duplicate-pair frame (idA, idB) — LSH candidates, text-verified
    * pairs, fuzzy-join output: cluster the pairs, keep each cluster's
    * argmax by `scoreCol` (ties to the smaller id; one struct-max
    * aggregate, no window), anti-join the rest away. Docs in no pair
    * pass through untouched. Eager, under the [[CacheScope]] rules. */
  def keepBestByComponent(df: DataFrame, idCol: String, scoreCol: String,
                          pairs: DataFrame): DataFrame = CacheScope { s =>
    val comps = connectedComponents(pairs)
    val scored = comps.join(
      df.select(col(idCol).as("id"), col(scoreCol).as("__sc")), Seq("id"))
    val winners = scored.groupBy(col("component"))
      .agg(max(struct(col("__sc"), (-col("id")).as("__nid"))).as("__w"))
      .select((-col("__w.__nid")).as("id"))
    val losers = s.materialize(
      comps.join(winners.withColumn("__win", lit(true)), Seq("id"), "left")
        .filter(col("__win").isNull)
        .select(col("id").as(idCol)))
    s.free(comps)
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Persist a REUSABLE MinHash-LSH index of `df` at `path` — the
    * operational form of [[minhashCandidatesAgainst]]: a 100 TB corpus is
    * shingled and signed ONCE, and every daily batch thereafter probes
    * the stored index instead of re-reading the corpus. Layout:
    *
    *   <path>/sigs/    (id, sig)             — one row per document
    *   <path>/bands/   (band, bucket, k)     — DISTINCT signatures only
    *                   (boilerplate skew control) keyed by their 128-bit
    *                   [[sigKey128]] surrogate (layout 2 — a probe's band
    *                   join reads ~24 B per row instead of 8·numHashes),
    *                   hive-partitioned by band, bucket-sorted within files
    *   <path>/_params.json                   — lsh parameters + layout
    *
    * Pre-layout-2 indexes (bands/ carrying the `sig` array) stay
    * probe-compatible through the legacy branch of
    * [[minhashCandidatesAgainstIndex]].
    * The params file makes a mismatched probe REFUSE loudly instead of
    * silently returning near-zero recall (a different seed/shingle size
    * produces disjoint signatures). Index size ≈ (bands+1) · 8·numHashes
    * bytes per doc — ~0.5% of corpus size at the defaults. */
  def writeMinhashIndex(df: DataFrame, idCol: String, textCol: String,
                        path: String, shingleSize: Int = 3,
                        numHashes: Int = 64, bands: Int = 16,
                        seed: Int = 42): Unit = CacheScope.run { s =>
    require(bands > 0 && numHashes % bands == 0,
      s"numHashes ($numHashes) must be a positive multiple of bands ($bands)")
    val rowsPerBand = numHashes / bands
    // REBUILD safety: retract the success marker BEFORE touching sigs/ or
    // bands/ — a crash mid-rebuild must leave the index refusing probes,
    // not a stale _params.json presiding over mixed old/new data (the
    // silent-low-recall failure the marker exists to prevent).
    val paramsPath = new org.apache.hadoop.fs.Path(path, "_params.json")
    val pfs = paramsPath
      .getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    if (pfs.exists(paramsPath)) pfs.delete(paramsPath, false)
    val sig = s.cache(df.select(col(idCol).as("id"),
      graft.functions.expressions.MinHashExpression
        .minhashTokens(Text.tokens(col(textCol)), shingleSize, numHashes,
          seed.toLong).as("sig")))
    sig.write.mode("overwrite").parquet(s"$path/sigs")
    // bands carry the 128-bit surrogate KEY, not the signature array
    // (layout 2): a probe's band join reads ~24 bytes per (band, sig)
    // instead of ~8·numHashes — at corpus scale the bands table was the
    // dominant probe IO. The true arrays stay in sigs/ (read once per
    // probe for the candidate agreement + id expansion).
    sig.select(col("sig")).distinct()
      .select(sigKey128(col("sig")).as("k"),
        posexplode(lshBandKeys(col("sig"), bands, rowsPerBand))
          .as(Seq("band", "bucket")))
      .repartition(col("band"))
      .sortWithinPartitions(col("bucket"))
      .write.partitionBy("band").mode("overwrite").parquet(s"$path/bands")
    s.free(sig)
    val p = new org.apache.hadoop.fs.Path(path, "_params.json")
    val fs = p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    out.write(
      s"""{"shingleSize":$shingleSize,"numHashes":$numHashes,"bands":$bands,"seed":$seed,"layout":2}"""
        .getBytes("UTF-8"))
    out.close()
  }

  /** Near-dup candidates of a NEW batch against a [[writeMinhashIndex]]
    * index: the batch is signed with the INDEX's stored parameters
    * (mismatch is impossible by construction), batch signatures band-join
    * the stored distinct-signature band table, and only candidate
    * signature pairs expand to (idNew, idRef, jaccard_est). The corpus
    * itself is never read — index probes cost batch-side work plus a
    * band-keyed join against the (distinct-signature × bands) table.
    * Eager, under the [[CacheScope]] rules. */
  def minhashCandidatesAgainstIndex(newDf: DataFrame, path: String,
                                    idCol: String, textCol: String): DataFrame = CacheScope { s =>
    val spark = newDf.sparkSession
    val p = new org.apache.hadoop.fs.Path(path, "_params.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p),
      s"minhashCandidatesAgainstIndex: no _params.json under $path — not a " +
        "writeMinhashIndex layout")
    val txt = {
      val in = fs.open(p)
      val s = scala.io.Source.fromInputStream(in, "UTF-8").mkString
      in.close(); s
    }
    def param(name: String): Int =
      s""""$name":(-?\\d+)""".r.findFirstMatchIn(txt)
        .getOrElse(throw new IllegalArgumentException(
          s"minhashCandidatesAgainstIndex: _params.json lacks $name"))
        .group(1).toInt
    val (shingleSize, numHashes, bands, seed) =
      (param("shingleSize"), param("numHashes"), param("bands"), param("seed"))
    // layout 2 (current writer): bands/ holds 128-bit signature keys, not
    // the arrays — a probe's band join moves 16-byte keys and the true
    // arrays are joined back from sigs/ only for the candidate pairs'
    // agreement. A pre-layout-2 index (bands/ carries `sig`) probes
    // through the legacy path unchanged.
    val layout = """"layout":(-?\d+)""".r.findFirstMatchIn(txt)
      .map(_.group(1).toInt).getOrElse(1)
    val rowsPerBand = numHashes / bands
    val sigN = s.cache(newDf.select(col(idCol).as("id"),
      graft.functions.expressions.MinHashExpression
        .minhashTokens(Text.tokens(col(textCol)), shingleSize, numHashes,
          seed.toLong).as("sig")))
    if (layout >= 2) {
      val dkN = s.cache(sigN.select(col("sig")).distinct()
        .select(sigKey128(col("sig")).as("kN"), col("sig").as("sigN")))
      val bandedN = dkN.select(col("kN"),
        posexplode(lshBandKeys(col("sigN"), bands, rowsPerBand))
          .as(Seq("band", "bucket")))
      val bandedR = spark.read.parquet(s"$path/bands")
        .select(col("band"), col("bucket"), col("k").as("kR"))
      val keyPairs = bandedN.join(bandedR, Seq("band", "bucket"))
        .select(col("kN"), col("kR"))
        .distinct()
      val refSigs = spark.read.parquet(s"$path/sigs")
        .select(col("id").as("idRef"), sigKey128(col("sig")).as("kR"),
          col("sig").as("sigR"))
      val in2 = sigN.select(col("id").as("idNew"), sigKey128(col("sig")).as("kN"))
      keyPairs
        .join(dkN.select(col("kN"), col("sigN")), "kN")
        .join(refSigs, "kR")
        .withColumn("jaccard_est",
          graft.functions.expressions.MinHashExpression
            .signatureAgreement(col("sigN"), col("sigR"))
            .cast("double") / lit(numHashes))
        .join(in2, "kN")
        .select(col("idNew"), col("idRef"), col("jaccard_est"))
    } else {
      val bandedN = sigN.select(col("sig")).distinct()
        .select(col("sig").as("sigN"),
          posexplode(lshBandKeys(col("sig"), bands, rowsPerBand))
            .as(Seq("band", "bucket")))
      val bandedR = spark.read.parquet(s"$path/bands")
        .select(col("band"), col("bucket"), col("sig").as("sigR"))
      val sigPairs = bandedN.join(bandedR, Seq("band", "bucket"))
        .select(col("sigN"), col("sigR"))
        .distinct()
        .withColumn("jaccard_est",
          graft.functions.expressions.MinHashExpression
            .signatureAgreement(col("sigN"), col("sigR"))
            .cast("double") / lit(numHashes))
      val in2 = sigN.select(col("id").as("idNew"), col("sig").as("sigN"))
      val ir = spark.read.parquet(s"$path/sigs")
        .select(col("id").as("idRef"), col("sig").as("sigR"))
      sigPairs.join(in2, "sigN").join(ir, "sigR")
        .select(col("idNew"), col("idRef"), col("jaccard_est"))
    }
  }

  /** Winnowing fingerprints (Schleimer et al. 2003, the MOSS scheme): the
    * distinct selected k-gram hashes of each document — ~2/(window+1) of
    * all gram hashes, with the guarantee that any cross-document substring
    * match of ≥ window+shingleSize−1 tokens shares a fingerprint. The
    * robust exact-substring dedup primitive: store fingerprints, not
    * grams. Returns (id, fps array<long>). */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         shingleSize: Int = 6, window: Int = 8,
                         seed: Int = 42): DataFrame =
    df.select(col(idCol).as("id"),
      array_distinct(graft.functions.expressions.MinHashExpression
        .winnowMinHashes(
          graft.functions.expressions.MinHashExpression
            .ngramWindowHashes(Text.tokens(col(textCol)), shingleSize, seed.toLong),
          window)).as("fps"))

  /** Candidate pairs sharing ≥ `minShared` winnow fingerprints — documents
    * containing a common run of ≥ window+shingleSize−1 tokens are
    * GUARANTEED to pair (the winnowing property), at fingerprint-join cost
    * instead of all-grams cost. Returns (idA, idB, n_shared). Eager,
    * under the [[CacheScope]] rules, like the other candidate generators.
    *
    * `maxDocFreq` guards the fingerprint self-join against corpus-wide
    * boilerplate: the join is QUADRATIC per fingerprint group, so one
    * license header shared by 1M documents would emit ~5·10¹¹ pairs from a
    * single fingerprint — AQE skew-split spreads that work but cannot
    * shrink the output. Fingerprints whose document frequency exceeds the
    * cap are dropped before the join (standard MOSS practice): a dropped
    * ubiquitous fingerprint loses nothing — documents sharing it still pair
    * via their other fingerprints, or it IS corpus boilerplate. The drop is
    * LOUD (count reported on stderr, never silent); note that dropped
    * fingerprints also don't count toward `n_shared`, so pairs held
    * together ONLY by boilerplate fall below high `minShared` thresholds —
    * exactly the pairs a dedup pass should not act on. Pass 0 to disable
    * (exact behavior, unbounded skew). */
  def winnowCandidates(df: DataFrame, idCol: String, textCol: String,
                       shingleSize: Int = 6, window: Int = 8,
                       minShared: Int = 1, seed: Int = 42,
                       maxDocFreq: Int = 1000): DataFrame = CacheScope { s =>
    val fps = s.cache(
      winnowFingerprints(df, idCol, textCol, shingleSize, window, seed))
    val ex = fps.select(col("id"), explode(col("fps")).as("fp"))
    val exKept = if (maxDocFreq > 0) {
      // fps are distinct per document (array_distinct upstream), so the
      // count per fp IS its document frequency. The df table is one row per
      // distinct fingerprint — the same small shape the join shuffles anyway.
      val dfreq = s.cache(ex.groupBy("fp").agg(count(lit(1)).as("__df")))
      val nDropped = dfreq.filter(col("__df") > maxDocFreq).count()
      if (nDropped > 0)
        System.err.println(s"[graft] winnowCandidates: dropping $nDropped " +
          s"fingerprint(s) with document frequency > $maxDocFreq before the " +
          "pair join (corpus boilerplate; co-occurring documents still pair " +
          "via their other fingerprints). Raise maxDocFreq or pass 0 to keep them.")
      ex.join(dfreq.filter(col("__df") <= maxDocFreq), Seq("fp")).drop("__df")
    } else ex
    val a = exKept.select(col("fp"), col("id").as("idA"))
    val b = exKept.select(col("fp"), col("id").as("idB"))
    a.join(b, Seq("fp"))
      .filter(col("idA") < col("idB"))
      .groupBy(col("idA"), col("idB"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** POSITIONAL winnow fingerprints: one row per selected fingerprint with
    * its token offset — (id, fp, pos). Same selection as
    * [[winnowFingerprints]] (so the ≥ window+shingleSize−1 detection
    * guarantee holds), but keeping WHERE each fingerprint sits enables
    * matched-span reconstruction instead of set-level candidate pairs.
    * Repeated in-document fingerprints keep every position. */
  def winnowFingerprintsPositional(df: DataFrame, idCol: String, textCol: String,
                                   shingleSize: Int = 6, window: Int = 8,
                                   seed: Int = 42): DataFrame = {
    val ex = graft.functions.expressions.MinHashExpression
    val hashes = ex.ngramWindowHashes(Text.tokens(col(textCol)), shingleSize, seed.toLong)
    // __h stays a carried column through the Generate so the hash array is
    // computed once per document, not re-inlined into the per-row lookup
    df.select(col(idCol).as("id"), hashes.as("__h"))
      .select(col("id"), col("__h"),
        explode(ex.winnowMinPositions(col("__h"), window)).as("pos"))
      .select(col("id"),
        element_at(col("__h"), col("pos") + 1).as("fp"), col("pos"))
  }

  /** MOSS-style matched-SPAN reconstruction between document pairs: shared
    * positional fingerprints are grouped by their alignment offset
    * (posA − posB) — fingerprints of one contiguous common run agree on the
    * offset — and consecutive matches within `maxGap` tokens merge into one
    * span. Returns (idA, idB, startA, endA, startB, endB, n_fps) with
    * end = last matched gram start + shingleSize − 1 (inclusive token
    * offsets).
    *
    * Guarantee inherited from winnowing: a common run of ≥
    * window+shingleSize−1 tokens yields ≥ 1 shared fingerprint, and every
    * window of the run yields one, so a long shared run reconstructs as a
    * span covering it to within ~window tokens at each edge.
    *
    * Scale shape: the fp join is the same output-proportional shape as
    * [[winnowCandidates]] (including the `maxDocFreq` boilerplate cap);
    * span merging is a per-(pair, offset) window function — no driver
    * logic, no all-pairs work.
    *
    * Cost contract (measured over the 1×/10×/100× rehearsal replicas of
    * sf0.1): wall time tracks the OUTPUT span count, not the
    * corpus size — 16.5k spans in 3.6 s (per-action floor), 1.46M in
    * 4.1 s, 41.3M in 33.9 s (0.8 µs/span; per-span cost FALLS with
    * scale). The rehearsal's steep 100× point is the corpus construction,
    * not an operator pathology: every replica shares each base document's
    * body, so matched spans grow ∝ replicas² — a corpus whose duplication
    * structure is quadratic demands quadratic output from ANY correct
    * span reporter. On corpora with bounded duplication the output (and
    * so the cost) is linear; `maxDocFreq` keeps boilerplate fingerprints
    * from manufacturing a quadratic blowup silently. */
  def winnowMatchedSpans(df: DataFrame, idCol: String, textCol: String,
                         shingleSize: Int = 6, window: Int = 8,
                         minShared: Int = 1, seed: Int = 42,
                         maxDocFreq: Int = 1000,
                         maxGap: Int = 0): DataFrame = CacheScope { s =>
    val gap = if (maxGap > 0) maxGap else window + shingleSize
    val fps = s.cache(
      winnowFingerprintsPositional(df, idCol, textCol, shingleSize, window, seed))
    val kept = if (maxDocFreq > 0) {
      val dfreq = s.cache(fps.groupBy("fp")
        .agg(countDistinct(col("id")).as("__df")))
      // same LOUD-drop contract as [[winnowCandidates]]: a span suppressed
      // by the boilerplate cap must never vanish silently
      val nDropped = dfreq.filter(col("__df") > maxDocFreq).count()
      if (nDropped > 0)
        System.err.println(s"[graft] winnowMatchedSpans: dropping $nDropped " +
          s"fingerprint(s) with document frequency > $maxDocFreq before the " +
          "span join (corpus boilerplate; spans held together only by these " +
          "fingerprints are suppressed). Raise maxDocFreq or pass 0 to keep them.")
      fps.join(dfreq.filter(col("__df") <= maxDocFreq), Seq("fp")).drop("__df")
    } else fps
    val a = kept.select(col("fp"), col("id").as("idA"), col("pos").as("posA"))
    val b = kept.select(col("fp"), col("id").as("idB"), col("pos").as("posB"))
    val matches = a.join(b, Seq("fp"))
      .filter(col("idA") < col("idB"))
      .withColumn("off", col("posA") - col("posB"))
    // sessionize per (pair, offset): a new span starts where the position
    // jump exceeds the gap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("idA"), col("idB"), col("off")).orderBy(col("posA"))
    matches
      .withColumn("__newSpan",
        when(col("posA") - lag(col("posA"), 1).over(w) > gap, 1)
          .otherwise(lit(0)))
      .withColumn("__span", sum(col("__newSpan")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col("idA"), col("idB"), col("off"), col("__span"))
      .agg(min(col("posA")).as("startA"),
        (max(col("posA")) + lit(shingleSize - 1)).as("endA"),
        min(col("posB")).as("startB"),
        (max(col("posB")) + lit(shingleSize - 1)).as("endB"),
        count(lit(1)).as("n_fps"))
      .filter(col("n_fps") >= minShared)
      .select("idA", "idB", "startA", "endA", "startB", "endB", "n_fps")
  }

  /** N-gram Jaccard near-dup pairs within LSH-free small candidate sets:
    * exact pairwise Jaccard over char n-grams, pre-blocked by length band
    * (docs with very different lengths can't be near-dups). For corpora
    * where a full MinHash pass isn't warranted.
    *
    * GUARDED small-corpus fallback: within a length band this is ALL-PAIRS
    * — a band of size m joins m² rows carrying full gram arrays, which at
    * corpus scale is a near-cartesian shuffle no optimizer can save. The
    * method therefore REFUSES (loud error, one cheap length-only pre-pass)
    * when any band's population exceeds `maxBandSize`, directing the caller
    * to [[minhashCandidates]] — the sub-quadratic operator for that scale.
    * Raising the cap is a deliberate, visible act, never a silent default. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, threshold: Double = 0.8,
                        lengthBandPct: Double = 0.2,
                        maxBandSize: Int = 5000): DataFrame = {
    if (maxBandSize > 0) {
      // Pre-pass on (len) only — no gram materialization, one narrow scan.
      // The join explodes each A-side doc across {band-1, band, band+1},
      // so the quantity that actually bounds the all-pairs work is the
      // ADJACENT-TRIPLE population m[b-1]+m[b]+m[b+1], not a single band's
      // count — two adjacent bands each just under a per-band cap would
      // otherwise triple the intended m² ceiling. Band counts are few
      // (log-scale over document length), so the triple max is driver-side.
      val counts = df
        .select(floor(log(1.0 + lengthBandPct,
          length(col(textCol)).cast("double"))).as("band"))
        .groupBy("band").agg(count(lit(1)).as("m"))
        .collect().collect { case r if !r.isNullAt(0) => r.getLong(0) -> r.getLong(1) }
        .toMap
      val worstM =
        if (counts.isEmpty) 0L
        else counts.keys.map(b =>
          counts.getOrElse(b - 1, 0L) + counts(b) + counts.getOrElse(b + 1, 0L)).max
      require(worstM <= maxBandSize,
        s"ngramJaccardPairs: an adjacent length-band window holds $worstM " +
          s"documents (> maxBandSize=$maxBandSize); the banded join is " +
          "all-pairs across adjacent bands (~m² gram-array comparisons) and " +
          "does not scale. Use Dedup.minhashCandidates for corpora of this " +
          "size, or raise maxBandSize explicitly if the quadratic cost is " +
          "intended.")
    }
    val grams = df.select(col(idCol).as("id"), col(textCol).as("t"),
      Text.charNgrams(col(textCol), n).as("g"), length(col(textCol)).as("len"))
    val withBand = grams.withColumn("band",
      floor(log(1.0 + lengthBandPct, col("len").cast("double"))).cast("long"))
    // The idA<idB filter below fixes which doc plays each role, so the A
    // side must cover BOTH adjacent bands ({band-1, band, band+1}) — an
    // asymmetric {band, band+1} explode would miss pairs whose smaller-id
    // doc sits in the higher length band. distinct() dedups double joins.
    val bandsExpanded = withBand.select(col("id"), col("g"), col("len"),
      explode(array(col("band") - 1, col("band"), col("band") + 1)).as("jband"))
    val a = bandsExpanded.select(col("jband"), col("id").as("idA"), col("g").as("gA"))
    val b = withBand.select(col("band").as("jband"), col("id").as("idB"), col("g").as("gB"))
    a.join(b, Seq("jband"))
      .filter(col("idA") < col("idB"))
      .select(col("idA"), col("idB"), Text.jaccard(col("gA"), col("gB")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .distinct()
  }
}
