package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.CacheScope

/** Approximate string self-join: all pairs within Levenshtein distance 1,
  * without the quadratic cross product — entity/near-key resolution over
  * name-like columns (typo'd identifiers, OCR'd labels, URL slugs).
  *
  * Blocking is the FastSS / SymSpell deletion neighborhood: each string
  * maps to {s} ∪ {s with one char deleted}. Two strings at distance ≤ 1
  * ALWAYS share a key (substitution at i → both i-deletions equal;
  * insertion/deletion → the shorter string is a deletion of the longer;
  * equality → s itself), so the block join is COMPLETE — the final
  * `levenshtein ≤ 1` filter only removes false candidates (distance-2
  * strings can share a deletion), never misses a pair.
  *
  * Scale shape: len+1 keys per string — shuffle volume is O(total chars),
  * vs O(n²) for the cross join the naive formulation needs; candidate
  * verification is one codegen'd levenshtein per shared-key pair. Keys
  * whose bucket exceeds `maxBucketSize` (mass-produced template names
  * would quadratically explode a bucket) are REFUSED loudly rather than
  * silently dropped or silently quadratic.
  */
object FuzzyJoin {

  /** One-deletion neighborhood keys of `s` (including `s` itself). */
  private[operators] def deletionKeys(s: Column): Column =
    array_union(
      array(s),
      transform(sequence(lit(1), length(s)), i =>
        concat(s.substr(lit(1), i - 1), s.substr(i + 1, lit(Int.MaxValue)))))

  /** All (idA, idB, distance) pairs with idA < idB and
    * levenshtein(strA, strB) ≤ 1.
    *
    * Shuffle shape: deletion keys are HASHED to 8 bytes (xxhash64) before
    * the shuffle, so blocking moves longs, not near-full-length substrings
    * (a 64-char name otherwise ships 65 × 63-char keys). A hash collision
    * can only ADD a candidate pair — the exact levenshtein verify removes
    * it — never drop one: two distance-≤1 strings share a real deletion
    * key, which hashes equal. Candidates are generated bucket-locally
    * (one groupBy into per-key arrays, pairs enumerated narrow) instead of
    * a two-sided self-join, so each input string crosses the wire once. */
  def editDistance1Pairs(df: DataFrame, idCol: String, strCol: String,
                         maxBucketSize: Long = 10000L): DataFrame = CacheScope { scope =>
    // Spread + persist: the deletion-neighborhood explode (len+1 hashed
    // keys per string) is the operator's heavy map pass, and BOTH the
    // hot-bucket guard and the blocking aggregate consume it — uncached
    // it ran twice (measured 1.55 s + 2.31 s at bench shape on a 3-task
    // scan while 29 cores idled). The guard still aggregates COUNTS
    // first, so a degenerate corpus refuses before any oversized
    // collect_list buffer is built.
    val keyed = scope.cache(graft.functions
      .Spread(df.select(col(idCol).as("__id"), col(strCol).as("__s")))
      .filter(col("__s").isNotNull)
      .select(col("__id"), col("__s"),
        explode(deletionKeys(col("__s"))).as("__kraw"))
      .select(col("__id"), col("__s"), xxhash64(col("__kraw")).as("__k")))
    val hot = keyed.groupBy(col("__k")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxBucketSize)
      .limit(1).collect()
    require(hot.isEmpty,
      s"editDistance1Pairs: a deletion-key bucket holds ${hot.headOption
        .map(_.getLong(1)).getOrElse(0L)} strings, exceeding " +
        s"maxBucketSize=$maxBucketSize — template-generated strings would " +
        "make the block join quadratic; pre-segment the input or raise " +
        "the cap explicitly")
    val buckets = keyed.groupBy(col("__k"))
      .agg(collect_list(struct(col("__id"), col("__s"))).as("xs"))
      .filter(size(col("xs")) >= 2)
    buckets
      .select(posexplode(col("xs")).as(Seq("__i", "ra")), col("xs"))
      .select(col("ra"),
        explode(expr("slice(xs, __i + 2, size(xs))")).as("rb"))
      .select(
        least(col("ra.__id"), col("rb.__id")).as("id_a"),
        greatest(col("ra.__id"), col("rb.__id")).as("id_b"),
        when(col("ra.__id") <= col("rb.__id"), col("ra.__s"))
          .otherwise(col("rb.__s")).as("s_a"),
        when(col("ra.__id") <= col("rb.__id"), col("rb.__s"))
          .otherwise(col("ra.__s")).as("s_b"))
      .filter(col("id_a") < col("id_b"))
      .distinct()
      .filter(levenshtein(col("s_a"), col("s_b")) <= 1)
      .select(col("id_a"), col("id_b"),
        levenshtein(col("s_a"), col("s_b")).as("dist"))
  }

  /** Blocked Jaro-Winkler similarity self-join — the classic entity-
    * resolution verify stage: all within-block pairs scored by the
    * codegen'd [[graft.functions.expressions.JaroWinkler]] kernel, kept at
    * `threshold` (compared on the 6-dp-rounded score so the cut itself is
    * engine-independent).
    *
    * `blockCols` is the standard ER recall/cost contract: within a block
    * this is ALL-PAIRS (JW has no lossless sub-quadratic blocking — unlike
    * edit distance's deletion neighborhood), so block population is capped
    * by `maxBlockSize` with a LOUD refusal, the ngramJaccardPairs pattern.
    * Typical blocks: phonetic key, sort-key prefix, length band. */
  def jaroWinklerWithin(df: DataFrame, idCol: String, strCol: String,
                        blockCols: Seq[Column], threshold: Double,
                        maxBlockSize: Long = 5000L): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"jaroWinklerWithin: threshold must be in (0,1], got $threshold")
    val blocked = df
      .select(col(idCol).as("__id") +: col(strCol).as("__s") +:
        blockCols.zipWithIndex.map { case (c, i) => c.as(s"__b$i") }: _*)
      .filter(col("__s").isNotNull)
    val bKeys = blockCols.indices.map(i => col(s"__b$i"))
    val hot = blocked.groupBy(bKeys: _*).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxBlockSize)
      .limit(1).collect()
    require(hot.isEmpty,
      s"jaroWinklerWithin: a block holds ${hot.headOption.map(_.getLong(blockCols.size))
        .getOrElse(0L)} strings (> maxBlockSize=$maxBlockSize) — within-block " +
        "work is quadratic; refine blockCols or raise the cap explicitly")
    val a = blocked.select(bKeys :+ col("__id").as("id_a") :+ col("__s").as("s_a"): _*)
    val b = blocked.select(bKeys :+ col("__id").as("id_b") :+ col("__s").as("s_b"): _*)
    val jw = graft.functions.expressions.JaroWinkler
      .jaroWinkler(col("s_a"), col("s_b"))
    a.join(b, blockCols.indices.map(i => s"__b$i"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("jw", round(jw, 6))
      .filter(col("jw") >= threshold)
      .select(col("id_a"), col("id_b"), col("jw"))
  }
}
