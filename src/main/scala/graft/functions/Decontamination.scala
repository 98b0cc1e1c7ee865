package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Benchmark decontamination for training corpora: flag training documents
  * that share word n-grams with an evaluation/benchmark set — the standard
  * "13-gram overlap" contamination check (public method: GPT-3 appendix C /
  * The Pile; n is configurable).
  *
  * Scale design: benchmark n-grams collapse to DISTINCT 64-bit hashes (a
  * benchmark is tiny next to a 100 TB corpus, so Catalyst broadcasts it);
  * the corpus side streams (doc_id, gramHash) pairs out of a narrow
  * explode — the join shuffles/broadcasts 8-byte hashes, never gram text.
  * Output is per-contaminated-doc, proportional to the contamination.
  */
object Decontamination {

  /** n-gram window identities of a text column as an array of 64-bit
    * hashes — one fused codegen pass (tokenize → per-token hash → window
    * fold), no window strings and no interpreted HOFs. Token sequences
    * biject with their joined grams, so distinct-hash counts equal
    * distinct-gram counts modulo 64-bit collisions. Short docs = one
    * window, mirroring Text.shingles. */
  def ngramHashes(text: Column, n: Int): Column =
    graft.functions.expressions.MinHashExpression
      .ngramWindowHashes(Text.tokens(text), n)

  /** (doc_id, n_shared) for every corpus document sharing at least one
    * word n-gram with `benchmark`; n_shared counts distinct shared grams. */
  def sharedNgramCounts(corpus: DataFrame, benchmark: DataFrame,
                        idCol: String, textCol: String, n: Int = 8): DataFrame = {
    val benchGrams = benchmark
      .select(explode(ngramHashes(col(textCol), n)).as("g"))
      .distinct()
    val corpusGrams = corpus
      .select(col(idCol), explode(ngramHashes(col(textCol), n)).as("g"))
      .distinct() // per-doc distinct grams so the count is "distinct shared"
    corpusGrams.join(benchGrams, "g")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** [[sharedNgramCounts]] with a BLOOM-FILTER PREFILTER on the corpus side
    * — the shape for decontaminating against a LARGE benchmark/eval corpus
    * (cross-corpus overlap checks, multi-GB held-out sets) where even the
    * distinct benchmark gram hashes are too many to broadcast-join against
    * every corpus gram comfortably.
    *
    * Two phases, EXACT result: (1) a bloom filter built over the distinct
    * benchmark gram hashes is shipped as a literal and evaluated map-side
    * on every corpus gram — no shuffle, no join; the overwhelmingly clean
    * gram mass dies in the scan stage at `fpp` false-positive cost; (2) the
    * tiny survivor set exact-joins the benchmark hashes, which removes the
    * bloom's false positives. No false negatives exist, so the output is
    * BIT-IDENTICAL to [[sharedNgramCounts]] — the bloom only moves work,
    * never changes the answer (same DuckDB oracle).
    *
    * `expectedGrams` sizes the filter (pass ≥ the benchmark's distinct gram
    * count; ~1.2 MB per million entries at fpp=0.01). Eager, under the
    * [[CacheScope]] rules. */
  def sharedNgramCountsBloom(corpus: DataFrame, benchmark: DataFrame,
                             idCol: String, textCol: String, n: Int = 8,
                             expectedGrams: Long = 1000000L,
                             fpp: Double = 0.01): DataFrame = CacheScope { s =>
    import org.apache.spark.sql.graft.ColumnBridge
    val benchGrams = s.cache(benchmark
      .select(explode(ngramHashes(col(textCol), n)).as("g"))
      .distinct())
    val bloom = benchGrams.stat.bloomFilter("g", expectedGrams, fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    val mightContain = ColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal
          .create(bytes, org.apache.spark.sql.types.BinaryType),
        ColumnBridge.expression(col("g"))))
    val corpusGrams = corpus
      .select(col(idCol), explode(ngramHashes(col(textCol), n)).as("g"))
      .filter(mightContain) // map-side: clean grams never reach the distinct
      .distinct()
    corpusGrams.join(benchGrams, "g") // exact verify kills bloom FPs
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Training split minus contaminated docs (≥ `minShared` shared n-grams). */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    idCol: String, textCol: String, n: Int = 8,
                    minShared: Long = 1L): DataFrame = {
    val bad = sharedNgramCounts(corpus, benchmark, idCol, textCol, n)
      .filter(col("n_shared") >= minShared)
      .select(col(idCol))
    corpus.join(bad, Seq(idCol), "left_anti")
  }

  /** SPAN-LEVEL decontamination surgery: instead of dropping every
    * contaminated document ([[decontaminate]] — which at a 13-gram match
    * rate of a few percent throws away whole documents for one quoted
    * sentence), cut ONLY the tokens covered by some benchmark-matching
    * n-gram window and reassemble the rest in order. The "minimal
    * removal" variant of benchmark decontamination: training mass is
    * preserved, the verbatim leak is not.
    *
    * Mechanics (all exact integer/string ops — engine-mirrorable):
    * positional corpus windows (start = 0-based token index) join the
    * distinct benchmark gram hashes gram-keyed; each matched start
    * covers token positions [start, start+n); kept = token positions
    * anti-joined against the covered set; the document is rebuilt by
    * sorting kept (position, token) pairs per doc. Documents shorter
    * than `n` tokens form ONE whole-doc window (the [[ngramHashes]]
    * short-doc rule), so a fully-quoted short doc scrubs to empty.
    *
    * Scale shape: both joins are keyed (gram hash; then (id, position))
    * — never broadcast (a benchmark's gram table can be huge), never
    * quadratic; the covered set is contamination-volume × n, not
    * corpus-sized; reassembly is one per-doc aggregate, the
    * dedupCdcChunks pattern. Returns (idCol, n_tokens, n_removed,
    * text_clean) for EVERY corpus document (clean docs pass through with
    * n_removed = 0). */
  def scrubContaminatedSpans(corpus: DataFrame, benchmark: DataFrame,
                             idCol: String, textCol: String,
                             n: Int = 8): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val benchGrams = benchmark
      .select(explode(ngramHashes(col(textCol), n)).as("g"))
      .distinct()
    val posGrams = corpus
      .select(col(idCol), posexplode(ngramHashes(col(textCol), n))
        .as(Seq("start", "g")))
    val starts = posGrams.join(benchGrams, "g")
      .select(col(idCol), col("start"))
    val covered = starts
      .select(col(idCol),
        explode(sequence(col("start"), col("start") + lit(n - 1))).as("p"))
      .distinct()
    val toks = corpus
      .select(col(idCol), posexplode(Text.tokens(col(textCol)))
        .as(Seq("p", "tok")))
    val rebuilt = toks.join(covered, Seq(idCol, "p"), "left_anti")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("p"), col("tok")))),
          x => x.getField("tok")), " ").as("__clean"))
    corpus
      .select(col(idCol),
        size(Text.tokens(col(textCol))).cast("long").as("n_tokens"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        (col("n_tokens") - coalesce(col("__kept"), lit(0L))).as("n_removed"),
        coalesce(col("__clean"), lit("")).as("text_clean"))
  }

  /** Cross-corpus n-gram NOVELTY: for each document of `df`, the
    * fraction of its distinct n-grams NEVER seen in `reference` — the
    * inverse of contamination, used to sample for novel content (or to
    * price a crawl delta against the standing corpus). Exact integers:
    * novelty = 1 − seen/total over distinct gram hashes, one gram-keyed
    * join, counts map-side combined. Returns (idCol, n_grams, n_novel,
    * novelty rounded to 6). */
  def crossGramNovelty(df: DataFrame, reference: DataFrame,
                       idCol: String, textCol: String,
                       n: Int = 8): DataFrame = {
    val docGrams = df
      .select(col(idCol),
        explode(array_distinct(ngramHashes(col(textCol), n))).as("g"))
    val refGrams = reference
      .select(explode(ngramHashes(col(textCol), n)).as("g"))
      .distinct()
    val seen = docGrams.join(refGrams, "g")
      .groupBy(col(idCol)).agg(count(lit(1)).as("__seen"))
    docGrams.groupBy(col(idCol)).agg(count(lit(1)).as("n_grams"))
      .join(seen, Seq(idCol), "left")
      .select(col(idCol), col("n_grams"),
        (col("n_grams") - coalesce(col("__seen"), lit(0L))).as("n_novel"),
        PinnedMath.pinnedRatio(
          col("n_grams") - coalesce(col("__seen"), lit(0L)),
          col("n_grams"), 6).as("novelty"))
  }

  /** Cross-SOURCE contamination matrix: for every pair of groups
    * (crawl sources, domains, datasets), the number of distinct n-grams
    * they share and the overlap coefficient shared/min(|A|, |B|) — the
    * corpus-governance view of who syndicates whom (a high-overlap pair
    * double-counts content and distorts mixture weights). One
    * gram-keyed self-join of the distinct (group, gram) table: a gram
    * held by k groups emits k² pairs — bounded by groups², never by
    * corpus size. Returns (src_a < src_b, n_shared, overlap). */
  def sourceOverlapMatrix(df: DataFrame, groupCol: String, textCol: String,
                          n: Int = 8): DataFrame = CacheScope { s =>
    val sg = s.cache(df.select(col(groupCol).as("__s"),
        explode(ngramHashes(col(textCol), n)).as("g"))
      .distinct())
    val sizes = sg.groupBy(col("__s")).agg(count(lit(1)).as("__n"))
    val a = sg.select(col("__s").as("src_a"), col("g"))
    val b = sg.select(col("__s").as("src_b"), col("g"))
    val shared = a.join(b, "g")
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(broadcast(sizes.select(col("__s").as("src_a"),
        col("__n").as("__na"))), Seq("src_a"))
      .join(broadcast(sizes.select(col("__s").as("src_b"),
        col("__n").as("__nb"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_shared"),
        PinnedMath.pinnedRatio(col("n_shared"),
          least(col("__na"), col("__nb")), 6).as("overlap"))
  }

  /** Intra-document repetition: 1 − distinct/total tokens (0 for empty
    * docs) — high values mark degenerate "aaaa…" spam. */
  def dupTokenRatio(text: Column): Column = {
    val toks = Text.tokens(text)
    val total = size(toks)
    when(total === 0, lit(0.0)).otherwise(
      lit(1.0) - size(array_distinct(toks)).cast("double") / total.cast("double"))
  }

  /** Repeated-span statistics across the corpus — the signal behind
    * exact-substring dedup ("Deduplicating Training Data Makes Language
    * Models Better", Lee et al. 2021): for every document, how many of its
    * word n-gram windows also occur in at least `minDocs − 1` OTHER
    * documents, and what fraction of the document that covers
    * (`n_repeated` counts DISTINCT repeated windows, `n_windows` counts all
    * window positions — so rep_ratio slightly understates for documents
    * that repeat their own grams).
    *
    * Scale shape: per-doc distinct window hashes (8 bytes) → document
    * frequency per hash (map-side combined) → hash join back. Nothing
    * wider than (id, hash) ever shuffles. Returns
    * (id, n_windows, n_repeated, rep_ratio). */
  def repeatedNgramStats(df: DataFrame, idCol: String, textCol: String,
                         n: Int = 8, minDocs: Int = 2): DataFrame = {
    // Single pass, single consumer chain, zero persists: tokenize+hash ONCE,
    // carry n_windows alongside the exploded per-doc-distinct gram hashes,
    // compute each gram's document frequency with a window over the hash
    // (count over the whole partition — one shuffle on the 8-byte hash),
    // then aggregate back per document (second shuffle, (id, n_windows)
    // grouping keys). Versus the former two-projection formulation this
    // removes a full tokenize+hash pass, a distinct shuffle, a join, and the
    // operator-lifetime cache the caller could never free.
    // explode_outer keeps zero-window docs (g null) so every input id
    // survives to the output, mirroring the left join it replaces.
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("g"))
    df.select(col(idCol), ngramHashes(col(textCol), n).as("__hs"))
      .select(col(idCol), size(col("__hs")).cast("long").as("n_windows"),
        explode_outer(array_distinct(col("__hs"))).as("g"))
      .withColumn("__df", count(col("g")).over(w))
      .groupBy(col(idCol), col("n_windows"))
      .agg(count(when(col("g").isNotNull && col("__df") >= minDocs, lit(1)))
        .as("n_repeated"))
      .select(col(idCol), col("n_windows"), col("n_repeated"),
        when(col("n_windows") === 0, lit(0.0)).otherwise(
          PinnedMath.pinnedRatio(col("n_repeated"), col("n_windows"), 6))
          .as("rep_ratio"))
  }

  /** Deterministic content-hash split assignment: bucket 0..99 derived from
    * the md5 of a key column. Unlike seeded `sample()`, the split is a pure
    * function of the data — reproducible across engines, runs, partitionings
    * and cluster sizes, which is what train/validation/test carving of a
    * 100 TB corpus actually requires (md5 because every engine computes the
    * same bytes; the cost is off the hot path). */
  def hashBucket(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 4), 16, 10).cast("long") % 100

  /** The rows whose hash bucket falls in [lo, hi) — e.g. (0,90) train,
    * (90,95) validation, (95,100) test; the three calls partition the
    * corpus exactly. */
  def hashSplit(df: DataFrame, keyCol: String, lo: Int, hi: Int): DataFrame =
    df.filter(hashBucket(col(keyCol)) >= lo && hashBucket(col(keyCol)) < hi)
}
