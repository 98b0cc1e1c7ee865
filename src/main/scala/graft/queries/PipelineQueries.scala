package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{AnnIndex, Decontamination, Dedup, Packing, Retrieval, Similarity, Text, UnigramLm, Windowing}
import graft.functions.AnnIndex.AnnSpec
import Tables.star

/** The LLM-training-data-pipeline operator coverage (BASELINE.json north
  * star): dedup, text analysis, similarity search over the `documents` and
  * `embeddings` tables. SQL-expressible operators carry an exact DuckDB
  * oracle; signature-based ones (minhash/simhash/LSH — engine-specific hash
  * functions) are declared without oracle and validated by their own
  * ScalaTest specs plus the driver's rows-only check.
  */
object PipelineQueries {

  val enStop: Seq[String] = Seq("the", "a")

  /** q_doc_blocklist term list: overlapping patterns, a phrase, a miss. */
  val blocklistTerms: Seq[String] =
    Seq("spark", "park", "scan", "can", "fast merge", "order", "tablet", "low")

  /** Deterministic sentence-ified corpus view for the C4/readability
    * queries: the raw corpus has no punctuation, so both engines build the
    * same structured input — a '.' after every 12th token, plus
    * brace/lorem/javascript markers planted by doc_id residue. */
  private def sentenced: org.apache.spark.sql.Column = {
    val s1 = regexp_replace(col("text"), "((?:\\S+\\s+){11}\\S+)\\s+", "$1. ")
    val s2 = when(col("doc_id") % 13 === 0, concat(s1, lit(" { footer }")))
      .otherwise(s1)
    val s3 = when(col("doc_id") % 17 === 0, concat(s2, lit(" Lorem ipsum dolor")))
      .otherwise(s2)
    when(col("doc_id") % 19 === 0, concat(s3, lit(" enable javascript to continue")))
      .otherwise(s3)
  }

  /** DuckDB mirror of [[sentenced]] as a CTE over `documents`. */
  private val sentencedSql: String =
    """sview AS (
      |  SELECT doc_id, CASE WHEN doc_id % 19 = 0 THEN s3 || ' enable javascript to continue' ELSE s3 END AS t
      |  FROM (
      |    SELECT doc_id, CASE WHEN doc_id % 17 = 0 THEN s2 || ' Lorem ipsum dolor' ELSE s2 END AS s3
      |    FROM (
      |      SELECT doc_id, CASE WHEN doc_id % 13 = 0 THEN s1 || ' { footer }' ELSE s1 END AS s2
      |      FROM (
      |        SELECT doc_id,
      |          regexp_replace(text, '((?:\S+\s+){11}\S+)\s+', '\1. ', 'g') AS s1
      |        FROM documents))))""".stripMargin

  /** Build-once-per-dataset keyed store under the JVM temp dir, keyed by
    * the source directory and a variant marker (testdata is immutable
    * within a run). The parquet `_SUCCESS` marker gates the rebuild, so
    * Verify and Bench share one build per dataset per host. */
  private def keyedStoreFor(s: SparkSession, dir: String): String = {
    val path = Tables.memoDir("keyed", dir, "keyed64")
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path, "_SUCCESS")))
      graft.operators.KeyedStore.write(
        Tables.df(s, dir, "documents").select("doc_id", "lang", "n_chars"),
        path, "doc_id", buckets = 64)
    path
  }

  /** Planted ANN neighbors with EXACTLY-known cosines to the probe e1 =
    * (1, 0, …, 0): vector j is a·e1 + b·e_{d_j} with (a, b, c) a Pythagorean
    * triple, so cosine(e1, v) = a / √(a²+b²) = a/c — every intermediate
    * (dot = a, norm² = c², √(c²) = c) is EXACT in IEEE double, making the
    * value engine-independent by construction, not by float-error luck. The
    * ten cosines descend 1.0 → 0.849, all far above the corpus's max
    * cosine-to-e1 (~0.39 at every SF), so the top-10 is exactly the planted
    * set; distinct perturbation dims keep the LSH bucket patterns of the
    * planted set diverse (all ten verified reachable by the nprobe=24
    * query-directed probe — deterministic, seeded planes). */
  private[queries] val annTriples: Seq[(Int, Int, Int, Int)] = Seq(
    (1, 0, 1, 1), (60, 11, 61, 1), (40, 9, 41, 2), (63, 16, 65, 3),
    (24, 7, 25, 4), (35, 12, 37, 5), (12, 5, 13, 6), (15, 8, 17, 7),
    (56, 33, 65, 8), (45, 28, 53, 9))

  private val e1Probe: Seq[Float] = 1f +: Seq.fill(63)(0f)

  private def plantedAnn(s: SparkSession): DataFrame = {
    import s.implicits._
    annTriples.zipWithIndex.map { case ((a, b, _, d), j) =>
      val v = new Array[Float](64); v(0) = a.toFloat; v(d) = b.toFloat
      (100000L + j, v.toSeq)
    }.toDF("vec_id", "embedding")
  }

  /** Shared oracle for the two planted-ANN queries: the top-10 is the
    * planted set with cosines derived by the SAME exact division a/c. */
  private val annOracle: String =
    """SELECT CAST(j + 100000 AS BIGINT) AS vec_id,
      |  round(CAST(a AS DOUBLE) / c, 4) AS cosine
      |FROM (VALUES (0, 1, 1), (1, 60, 61), (2, 40, 41), (3, 63, 65),
      |      (4, 24, 25), (5, 35, 37), (6, 12, 13), (7, 15, 17),
      |      (8, 56, 65), (9, 45, 53)) t(j, a, c)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // --- text analysis -----------------------------------------------------
    "q_doc_tokens" -> ((s, dir) =>
      star(s, dir, "documents").df
        .select(col("doc_id"),
          Text.tokenCount(col("text")).cast(LongType).as("n_tokens"),
          Text.tokenCountBpeIsh(col("text")).cast(LongType).as("n_tokens_bpe"),
          Text.charCount(col("text")).cast(LongType).as("n_chars_m"),
          Text.stopwordCount(col("text"), enStop).as("n_stop"))),

    "q_doc_quality" -> ((s, dir) => {
      // checked columns as pinned integer ratios over the same integral
      // ingredients the Text helpers use (the unrounded helper quotients
      // still drive threshold compares elsewhere — identical IEEE ops in
      // both engines — but a ROUNDED small-int ratio needs PinnedMath)
      val nTok = Text.tokenCount(col("text"))
      val nonWs = length(regexp_replace(col("text"), "\\s+", ""))
      val nChars = length(col("text"))
      val nDigits = nChars - length(regexp_replace(col("text"), "[0-9]", ""))
      star(s, dir, "documents").df
        .select(col("doc_id"),
          when(nTok === 0, lit(0.0)).otherwise(
            graft.functions.PinnedMath.pinnedRatio(nonWs, nTok, 6)).as("avg_word_len"),
          when(nTok === 0, lit(0.0)).otherwise(
            graft.functions.PinnedMath.pinnedRatio(Text.stopwordCount(col("text"), enStop), nTok, 6))
            .as("stop_ratio"),
          when(nChars === 0, lit(0.0)).otherwise(
            graft.functions.PinnedMath.pinnedRatio(nDigits, nChars, 6)).as("digit_ratio"))
    }),

    // Content-defined chunking (LBFS-style): boundaries from the md5 of
    // the trailing 16-char window (1/64 cut probability → ~64-char
    // chunks), so edits re-chunk only their neighborhood — the storage
    // dedup primitive. Pure per-row array math, zero shuffle; oracle
    // repeats the windowed-hash cuts with DuckDB list comprehensions.
    "q_doc_cdc" -> ((s, dir) =>
      graft.functions.Packing.chunkContentDefined(
        star(s, dir, "documents").df, "doc_id", "text")),

    // Shannon character entropy per doc (bits) — the compressibility
    // quality signal; rounded-after-log decimal-summed terms, one IEEE
    // division at the end. ≤|alphabet| rows per doc reach the shuffle.
    "q_doc_entropy" -> ((s, dir) =>
      Text.charEntropyScores(star(s, dir, "documents").df, "doc_id", "text")),

    // Corpus-wide CDC chunk dedup: the storage/transfer-dedup headline
    // metric (total vs unique chunk bytes). Rides q_doc_cdc's chunker;
    // identical fp ⇒ identical content ⇒ identical length, so the
    // per-fingerprint group carries (count, one length) — the shuffle is
    // fingerprint-sized, never corpus-sized. Ratio is one IEEE division
    // of exact Long sums.
    "q_cdc_dedup" -> ((s, dir) => {
      val perFp = graft.functions.Packing
        .chunkContentDefined(star(s, dir, "documents").df, "doc_id", "text")
        .groupBy(col("fp"))
        .agg(count(lit(1)).as("__n"),
          max(col("cend") - col("cstart") + 1).as("__len"))
      perFp.agg(
        sum(col("__n")).cast(LongType).as("n_chunks"),
        count(lit(1)).cast(LongType).as("n_unique"),
        (sum(col("__n")) - count(lit(1))).cast(LongType).as("n_dup"),
        sum(col("__n") * col("__len")).cast(LongType).as("bytes_total"),
        sum(col("__len")).cast(LongType).as("bytes_unique"),
        graft.functions.PinnedMath.pinnedRatio(sum(col("__n") * col("__len")),
          sum(col("__len")), 4).as("dedup_ratio"))
    }),

    // Cross-document repeated-span removal at CDC-chunk granularity (the
    // Lee et al. 2021 exact-substring-dedup shape): every chunk occurrence
    // after its global first (lowest (doc_id, chunk_idx)) is deleted and
    // docs are reassembled from surviving chunks. Planted full copies
    // guarantee shared spans; organic cross-doc chunk collisions dedup too.
    "q_cdc_span_dedup" -> ((s, dir) => {
      val docs = star(s, dir, "documents").df.select(col("doc_id"), col("text"))
      val planted = docs.filter(col("doc_id") < 5)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"))
      graft.functions.Packing.dedupCdcChunks(
        docs.unionByName(planted), "doc_id", "text")
    }),

    // Top-50 collocations by PMI (Church & Hanks 1990) with min-count 3:
    // exact integer counts, one parenthesized IEEE product/quotient chain,
    // single rounded ln; (pmi desc, bigram asc) total order.
    "q_collocations" -> ((s, dir) =>
      Text.pmiCollocations(star(s, dir, "documents").df, "text",
        minCount = 3, topK = 50)),

    // Per-doc bigram novelty: fraction of the doc's distinct bigrams first
    // seen (min doc_id) in this doc — the near-template detector.
    "q_gram_novelty" -> ((s, dir) =>
      Text.gramNovelty(star(s, dir, "documents").df, "doc_id", "text")),

    // Per-language keyness (Dunning G²): top-5 tokens over-represented in
    // each language vs the rest — exact counts, rounded-ln decimal terms,
    // distributed rank.
    "q_keyness" -> ((s, dir) =>
      Text.keynessTopTerms(star(s, dir, "documents").df, "lang", "text",
        topK = 5, minCount = 5)),

    // Zipf power-law fit over the top-100 token frequencies: ln-ln least
    // squares from exact decimal sufficient statistics; slope ≈ −1 for
    // natural text.
    "q_zipf" -> ((s, dir) =>
      Text.zipfFit(star(s, dir, "documents").df, "text", topRanks = 100)),

    // BPE tokenizer training (Sennrich et al. 2016): 8 merge rounds over
    // the word-frequency table (one corpus pass, then vocabulary-sized
    // iteration); winners by the exact (count desc, left asc, right asc)
    // order. Oracle unrolls the same 8 rounds in MATERIALIZED SQL CTEs.
    "q_bpe_merges" -> ((s, dir) =>
      graft.functions.Bpe.trainMerges(star(s, dir, "documents").df, "text",
        numMerges = 8)),

    // Train-then-tokenize end to end: the 8 trained merges applied
    // greedily to every document (chained literal replaces, zero
    // shuffle); per-doc BPE token counts vs the whitespace baseline.
    // The oracle re-derives the merges in SQL and applies the same
    // replace chain.
    "q_bpe_tokenize" -> ((s, dir) => {
      val docs = star(s, dir, "documents").df
      val merges = graft.functions.Bpe.trainMerges(docs, "text", numMerges = 8)
        .orderBy(col("step"))
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
      docs.select(col("doc_id"),
        size(graft.functions.Bpe.applyMerges(col("text"), merges))
          .cast(LongType).as("n_bpe"),
        Text.tokenCount(col("text")).cast(LongType).as("n_words"))
    }),

    // Leakage-free split assignment: a near-dup CLUSTER crosses train/test
    // only if splits are assigned per document — assigning by the cluster
    // representative (the component minimum) keeps every near-dup family
    // in one split (the Lee et al. 2021 contamination finding). Planted
    // construction as q_dedup_minhash: verified identical-text edges make
    // the components engine-independent (text groups), so the oracle can
    // reproduce representative AND split exactly.
    "q_cluster_split" -> ((s, dir) => {
      val docs = star(s, dir, "documents").df.select(col("doc_id"), col("text"))
      val planted = docs.filter(col("doc_id") < 5)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"))
      val corpus = docs.unionByName(planted)
      val pairs = Dedup.minhashCandidates(corpus, "doc_id", "text",
          shingleSize = 2, numHashes = 32, bands = 8)
        .filter(col("jaccard_est") === 1.0)
        .join(corpus.select(col("doc_id").as("idA"), col("text").as("__ta")), "idA")
        .join(corpus.select(col("doc_id").as("idB"), col("text").as("__tb")), "idB")
        .filter(col("__ta") === col("__tb"))
        .select("idA", "idB")
      Dedup.connectedComponents(pairs)
        .withColumn("__b", graft.functions.Decontamination.hashBucket(col("component")))
        .select(col("id").as("doc_id"), col("component").as("cluster_rep"),
          when(col("__b") < 90, "train")
            .when(col("__b") < 95, "validation")
            .otherwise("test").as("split"))
    }),

    // Quality-aware near-dedup: each near-dup cluster keeps its BEST
    // member by a quality score (ties to the smaller id) instead of the
    // minimum id — survivors are the cleanest copy, not the
    // first-crawled. Planted copies + text-verified edges make the
    // clusters engine-independent, so winner selection is hash-checked.
    "q_dedup_keep_best" -> ((s, dir) => {
      val docs = star(s, dir, "documents").df.select(col("doc_id"), col("text"))
      val planted = docs.filter(col("doc_id") < 5)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"))
      val corpus = docs.unionByName(planted)
        .withColumn("quality", col("doc_id") % 7)
      val pairs = Dedup.minhashCandidates(corpus, "doc_id", "text",
          shingleSize = 2, numHashes = 32, bands = 8)
        .filter(col("jaccard_est") === 1.0)
        .join(corpus.select(col("doc_id").as("idA"), col("text").as("__ta")), "idA")
        .join(corpus.select(col("doc_id").as("idB"), col("text").as("__tb")), "idB")
        .filter(col("__ta") === col("__tb"))
        .select("idA", "idB")
      Dedup.keepBestByComponent(corpus, "doc_id", "quality", pairs)
        .select(col("doc_id"), col("quality"))
    }),

    // Domain/topic tagging by keyword lexicon scoring — the cheap,
    // trainable-classifier-free corpus domain mix signal. Exact integer
    // token-membership counts, arg-max with a fixed priority order on
    // ties; zero shuffle (narrow per-row arithmetic).
    "q_doc_topic" -> ((s, dir) => {
      val toks = Text.tokens(col("text"))
      def score(lex: Seq[String]) =
        size(filter(toks, t => t.isInCollection(lex))).cast(LongType)
      val sPerf = score(Seq("fast", "slow", "big", "small"))
      val sRel = score(Seq("query", "join", "filter", "group", "sort", "agg",
        "window", "order"))
      val sStor = score(Seq("table", "row", "column", "scan", "hash", "merge",
        "batch", "key", "value", "data", "part"))
      val sStream = score(Seq("stream", "spark", "line", "vector", "customer"))
      star(s, dir, "documents").df
        .select(col("doc_id"), sPerf.as("score_perf"), sRel.as("score_rel"),
          sStor.as("score_storage"), sStream.as("score_stream"))
        .withColumn("topic",
          when(col("score_perf") >= col("score_rel") &&
            col("score_perf") >= col("score_storage") &&
            col("score_perf") >= col("score_stream"), "perf")
            .when(col("score_rel") >= col("score_storage") &&
              col("score_rel") >= col("score_stream"), "relational")
            .when(col("score_storage") >= col("score_stream"), "storage")
            .otherwise("streaming"))
    }),

    // Quantized-exact covariance of the leading embedding block: quantize
    // q = floor(1000·e + 0.5) (IEEE-only, engine-independent), then every
    // (i ≤ j) pair's (n, Σqᵢ, Σqⱼ, Σqᵢqⱼ) is exact integer arithmetic and
    // cov = (n·Σqᵢqⱼ − ΣqᵢΣqⱼ)/(n²·10⁶) is ONE IEEE division. The explode
    // collapses in the map-side partial aggregate: the shuffle carries
    // #partitions·d² partial sums, never rows — the one-pass covariance/
    // Gram building block for PCA at any corpus size.
    "q_emb_covariance" -> ((s, dir) => {
      val d = 16
      val q = transform(slice(col("embedding"), 1, d),
        e => floor(e.cast(DoubleType) * 1000 + lit(0.5)).cast(LongType))
      val pairs = flatten(transform(sequence(lit(0), lit(d - 1)), i =>
        transform(sequence(i, lit(d - 1)), j =>
          struct(i.as("i"), j.as("j"),
            element_at(col("__q"), i + 1).as("qi"),
            element_at(col("__q"), j + 1).as("qj")))))
      Tables.df(s, dir, "embeddings")
        .select(q.as("__q"))
        .select(explode(pairs).as("pr"))
        .groupBy(col("pr.i").as("i"), col("pr.j").as("j"))
        .agg(count(lit(1)).as("n"),
          sum(col("pr.qi").cast(DecimalType(38, 0))).as("sqi"),
          sum(col("pr.qj").cast(DecimalType(38, 0))).as("sqj"),
          sum((col("pr.qi") * col("pr.qj")).cast(DecimalType(38, 0))).as("spp"))
        .select(col("i"), col("j"),
          graft.functions.PinnedMath.pinnedRatio(col("n") * col("spp") - col("sqi") * col("sqj"),
            col("n") * col("n") * lit(1000000L), 8).as("cov"))
    }),

    "q_doc_langdist" -> ((s, dir) =>
      star(s, dir, "documents")
        .groupByAgg(Seq("lang"), Seq(
          count(lit(1)).as("n"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars")))
        .df
        .withColumn("sum_chars", col("sum_chars").cast(LongType))),

    // language-ID heuristic vs the dataset's own lang label. The arg-max
    // over per-language stopword hits (ties break toward the earlier
    // profile) is reproduced exactly in the DuckDB oracle via a
    // priority-encoded CASE chain over list_filter counts.
    "q_doc_langid" -> ((s, dir) =>
      star(s, dir, "documents").df
        .select(col("doc_id"), col("lang"),
          Text.langId(col("text")).as("lang_pred"))),

    // PII scrub: identical regex in both engines (no lookaround) → exact oracle
    "q_doc_redact" -> ((s, dir) =>
      star(s, dir, "documents").df
        .select(col("doc_id"),
          Text.redactPii(concat(col("text"),
            lit(" contact: a.b@example.com or 192.168.0.1"))).as("redacted"))),

    // Dataset card: the one-row corpus summary a release ships with —
    // size, token mass, language/source spread, duplication, quality
    // floor share. Every number is an exact count or a rounded division;
    // ONE pass over the corpus plus a hash-collapse for the dup rate.
    "q_dataset_card" -> ((s, dir) => {
      val docs = star(s, dir, "documents").df
      val toks = size(split(trim(col("text")), "\\s+")).cast(LongType)
      val base = docs.agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars"),
        sum(toks).as("n_tokens"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"),
        sum(when(col("n_chars") < 100, 1L).otherwise(0L)).as("n_short"))
      // count(DISTINCT) isolated from the other aggregates: mixing them
      // makes Expand copy the corpus once per aggregate family
      val langs = docs.select(col("lang")).distinct()
        .agg(count(lit(1)).as("n_langs"))
      val dups = docs.select(md5(col("text")).as("h"))
        .groupBy(col("h")).agg(count(lit(1)).as("c"))
        .agg(sum(col("c") - 1).as("n_dups"))
      base.crossJoin(broadcast(langs)).crossJoin(broadcast(dups))
        .select(col("n_docs"), col("n_chars"), col("n_tokens"),
          col("n_langs"),
          graft.functions.PinnedMath.pinnedRatio(col("n_en"), col("n_docs"), 6).as("pct_en"),
          graft.functions.PinnedMath.pinnedRatio(col("n_short"), col("n_docs"), 6).as("pct_short"),
          graft.functions.PinnedMath.pinnedRatio(col("n_dups"), col("n_docs"), 6).as("dup_rate"))
    }),

    // Blocklist screening — one Aho-Corasick DFA pass per document
    // instead of |terms| contains() scans. The term list exercises
    // overlapping patterns ("scan"/"can", "spark"/"park"), a phrase, and
    // a never-matching term; the oracle is the per-term contains() filter
    // over the same fixed list.
    "q_doc_blocklist" -> ((s, dir) =>
      Text.blocklistScreen(star(s, dir, "documents").df, "doc_id", "text",
        PipelineQueries.blocklistTerms)),

    // Token heavy hitters via the Misra-Gries TypedImperativeAggregate.
    // Capacity 64 exceeds the corpus vocabulary (31 distinct tokens,
    // spec-asserted), so the buffer never decrements, counts are EXACT, and
    // the top-20 with a deterministic tie-break is oracle-checkable — the
    // sketch's graceful degradation (exact under capacity, bounded error
    // over) demonstrated at its exact end.
    "q_token_topk" -> ((s, dir) => {
      val toks = star(s, dir, "documents").df
        .select(explode(Text.tokens(col("text"))).as("tok"))
      toks.agg(graft.functions.expressions.HeavyHitters
          .approxTopK(col("tok"), 64).as("hh"))
        .select(explode(col("hh")).as(Seq("token", "min_count")))
        .orderBy(col("min_count").desc, col("token").asc)
        .limit(20)
    }),

    // Canonical normalization (lower/strip-punct/collapse-ws) + fingerprint
    // of the normalized form — the dedup-pipeline preprocessing stage.
    "q_doc_normalize" -> ((s, dir) =>
      star(s, dir, "documents").df
        .select(col("doc_id"),
          Text.normalizeText(col("text")).as("norm"),
          md5(Text.normalizeText(col("text"))).as("norm_fp"))),

    // One-row corpus summary; the exact-distinct lives in its own pass
    // joined on a dummy key (mixing count(DISTINCT) into the main aggregate
    // would Expand-copy the table per aggregate family).
    "q_corpus_stats" -> ((s, dir) => {
      val docs = star(s, dir, "documents").df
      val base = docs.agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast(LongType).as("sum_chars"),
        sum(Text.tokenCount(col("text")).cast(LongType)).as("sum_tokens"))
      val langs = docs.select(col("lang")).distinct()
        .agg(count(lit(1)).as("n_langs"))
      base.withColumn("__k", lit(1))
        .join(langs.withColumn("__k", lit(1)), "__k")
        .drop("__k")
    }),

    // Benchmark decontamination: training docs sharing word 4-grams with
    // the "benchmark" split (doc_id < 10). Shared-gram counts are exact —
    // the oracle rebuilds the same windows with DuckDB list slicing.
    "q_decontaminate" -> ((s, dir) => {
      val docs = star(s, dir, "documents").df
      Decontamination.sharedNgramCounts(
        docs.filter(col("doc_id") >= 10), docs.filter(col("doc_id") < 10),
        "doc_id", "text", n = 4)
    }),

    // Bloom-prefiltered decontamination: SAME answer as q_decontaminate (the
    // bloom is a map-side prefilter whose false positives are removed by the
    // exact verify join — no false negatives exist), so it shares the oracle.
    // This is the cross-corpus scale path: clean gram mass dies in the scan
    // stage instead of reaching the shuffle.
    "q_decontaminate_bloom" -> ((s, dir) => {
      val docs = star(s, dir, "documents").df
      Decontamination.sharedNgramCountsBloom(
        docs.filter(col("doc_id") >= 10), docs.filter(col("doc_id") < 10),
        "doc_id", "text", n = 4, expectedGrams = 100000L)
    }),

    // Cross-source contamination matrix: distinct shared 4-grams and
    // overlap coefficient for every source pair — the who-syndicates-
    // whom governance view; one gram-keyed self-join, bounded by
    // sources², never corpus².
    "q_source_gram_overlap" -> ((s, dir) =>
      Decontamination.sourceOverlapMatrix(star(s, dir, "documents").df,
        "source", "text", n = 4)
        .filter(col("n_shared") >= 5)),

    // KWIC concordance for the corpus token 'table': every occurrence
    // with ±3-token context — zero-shuffle projection, output ∝ term
    // frequency, both context slices hash-checked.
    "q_concordance" -> ((s, dir) =>
      Text.concordance(star(s, dir, "documents").df
          .filter(col("doc_id") < 100),
        "doc_id", "text", term = "table", window = 3)),

    // Cross-corpus gram novelty: fraction of each new-batch doc's
    // distinct 4-grams never seen in the standing corpus (docs >= 10) —
    // the inverse-contamination sampling signal.
    "q_gram_novelty_cross" -> ((s, dir) => {
      val docs = star(s, dir, "documents").df
      Decontamination.crossGramNovelty(
        docs.filter(col("doc_id") < 10), docs.filter(col("doc_id") >= 10),
        "doc_id", "text", n = 4)
    }),

    // Per-source boilerplate template detection with PLANTED headers:
    // three sources get a scraper-style stamped prefix; the LCP-of-group
    // = LCP(min, max) trick must recover exactly those headers (and
    // length-0 prefixes everywhere else).
    "q_template_prefix" -> ((s, dir) => {
      val docs = star(s, dir, "documents").df
      val planted = docs.withColumn("text",
        when(col("source").isin("src0", "src1", "src2"),
          concat(lit("hdr "), col("source"), lit(" begin "), col("text")))
          .otherwise(col("text")))
      Text.templatePrefix(planted, "source", "text")
    }),

    // Deterministic distribution matching: subsample per-language buckets
    // so the kept corpus follows the target share ratio exactly (en:3,
    // others:1), maximally — exact integer quotas, md5-order survivors.
    "q_match_distribution" -> ((s, dir) => {
      val docs = star(s, dir, "documents").df
      graft.functions.Mixing.matchDistribution(docs, "doc_id", "lang",
        when(col("lang") === "en", 3).otherwise(1))
        .groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
    }),

    // Deterministic weighted epoch schedule: merge all sources by the
    // low-discrepancy (2p-1)/(2w) interleave key so each source appears
    // with frequency ∝ weight, smoothly — every position a pure function
    // of content, distributed via two global-rank passes (no
    // single-partition window).
    "q_source_interleave" -> ((s, dir) => {
      val docs = star(s, dir, "documents").df.select(col("doc_id"), col("source"))
      graft.functions.Mixing.interleaveSources(docs, "doc_id", "source",
        length(col("source")) % 3 + 1)
        .select(col("doc_id"), col("source"), col("src_pos"), col("epoch_pos"))
    }),

    // Span-level decontamination surgery: cut ONLY the benchmark-matching
    // 4-gram windows out of each training doc and reassemble the rest —
    // minimal removal instead of whole-doc drops. Every corpus doc comes
    // back with before/removed counts and the rebuilt text, all exact
    // string/integer ops the oracle mirrors with positional list slicing.
    "q_decontaminate_scrub" -> ((s, dir) => {
      val docs = star(s, dir, "documents").df
      Decontamination.scrubContaminatedSpans(
        docs.filter(col("doc_id") >= 10), docs.filter(col("doc_id") < 10),
        "doc_id", "text", n = 4)
    }),

    // Deterministic content-hash train/validation/test split (90/5/5):
    // a pure function of doc_id, identical across engines and runs.
    "q_doc_split" -> ((s, dir) =>
      star(s, dir, "documents").df
        .select(col("doc_id"),
          Decontamination.hashBucket(col("doc_id")).as("bucket"))
        .withColumn("split",
          when(col("bucket") < 90, "train")
            .when(col("bucket") < 95, "validation")
            .otherwise("test"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"))),

    // Repeated-span statistics (exact-substring dedup signal): distinct
    // 4-gram windows occurring in >= 2 docs, per document.
    "q_repeated_spans" -> ((s, dir) =>
      Decontamination.repeatedNgramStats(
        star(s, dir, "documents").df, "doc_id", "text", n = 4, minDocs = 2)),

    // Intra-document repetition: duplicate-token mass per doc.
    "q_doc_repetition" -> ((s, dir) => {
      val nTok = Text.tokenCount(col("text")).cast(LongType)
      val nDis = size(array_distinct(Text.tokens(col("text")))).cast(LongType)
      star(s, dir, "documents").df.select(
        col("doc_id"),
        nTok.as("n_tokens"),
        nDis.as("n_distinct"),
        when(nTok === 0, lit(0.0)).otherwise(
          graft.functions.PinnedMath.pinnedRatio(nTok - nDis, nTok, 6)).as("dup_ratio"))
    }),

    // Grouped top-k via the bounded-heap aggregate (map-side combine, O(k)
    // state per group) — the scale-correct form of "top N docs per language
    // by quality"; exact oracle via a window in DuckDB.
    "q_top_docs_per_lang" -> ((s, dir) => {
      val docs = star(s, dir, "documents").df
      val score = round(
        least(length(col("text")).cast(DoubleType) / lit(500.0), lit(1.0)) * lit(0.5) +
          least(Text.stopwordRatio(col("text"), enStop) * lit(5.0), lit(1.0)) * lit(0.5),
        6)
      docs.select(col("lang"), col("doc_id"), score.as("score"))
        .groupBy(col("lang"))
        .agg(graft.functions.expressions.TopKByKey
          .topK(col("score"), col("doc_id"), 3).as("top"))
        .select(col("lang"), explode(col("top")).as("t"))
        .select(col("lang"), col("t.id").as("doc_id"), col("t.score").as("score"))
    }),

    // Gopher-style quality rules (Rae et al. 2021 App. A): every rule a
    // codegen'd regex/arithmetic expression, thresholds chosen so the
    // corpus splits (median 56 words vs minWords=50). passes as INT for
    // engine-neutral hashing.
    "q_doc_gopher" -> ((s, dir) => {
      val nTok = Text.tokenCount(col("text"))
      val nonWs = length(regexp_replace(col("text"), "\\s+", ""))
      star(s, dir, "documents").df
        .select(col("doc_id"), col("text"),
          Text.gopherRules(col("text"), enStop).as("g"))
        .select(col("doc_id"),
          col("g.n_words").as("n_words"),
          when(nTok === 0, lit(0.0)).otherwise(
            graft.functions.PinnedMath.pinnedRatio(nonWs, nTok, 6)).as("mean_word_len"),
          when(nTok === 0, lit(1.0)).otherwise(
            graft.functions.PinnedMath.pinnedRatio(Text.symbolCount(col("text")), nTok, 6)).as("symbol_ratio"),
          when(nTok === 0, lit(0.0)).otherwise(
            graft.functions.PinnedMath.pinnedRatio(Text.alphaWordCount(col("text")), nTok, 6)).as("alpha_frac"),
          col("g.n_stop").as("n_stop"),
          col("g.passes").cast(IntegerType).as("passes"))
    }),

    // C4 heuristic filters (Raffel et al. 2020 §2.2). The corpus has no
    // punctuation, so the checked input is a DETERMINISTIC sentence-ified
    // construction both engines build identically (the planted-construction
    // pattern): a '.' after every 12th token, plus brace / lorem-ipsum /
    // javascript markers planted by doc_id residue — the filters then
    // split the corpus meaningfully and every flag is hash-checked.
    "q_doc_c4" -> ((s, dir) => {
      val docs = star(s, dir, "documents").df
      docs.select(col("doc_id"), sentenced.as("t"))
        .select(col("doc_id"), graft.functions.Text.c4Flags(col("t")).as("c"))
        .select(col("doc_id"),
          col("c.n_sentences").as("n_sentences"),
          col("c.has_brace").cast(IntegerType).as("has_brace"),
          col("c.has_lorem").cast(IntegerType).as("has_lorem"),
          col("c.has_js").cast(IntegerType).as("has_js"),
          col("c.passes").cast(IntegerType).as("passes"))
    }),

    // Flesch reading-ease / FK grade over the same sentence-ified
    // construction: three exact counts (words, sentence-punctuation runs,
    // vowel-group syllables) and one rounded IEEE chain per score — the
    // cheap readability signal used in quality mixes.
    "q_doc_readability" -> ((s, dir) => {
      val docs = star(s, dir, "documents").df
      docs.select(col("doc_id"), sentenced.as("t"))
        .select(col("doc_id"), graft.functions.Text.fleschScores(col("t")).as("f"))
        .select(col("doc_id"), col("f.n_words").as("n_words"),
          col("f.n_sentences").as("n_sentences"),
          col("f.n_syllables").as("n_syllables"),
          col("f.fre").as("fre"), col("f.fk_grade").as("fk_grade"))
    }),

    // URL canonicalization for web-corpus dedup keys: synthetic URLs built
    // from doc attributes (the corpus has no URL column), normalized by the
    // shared lookaround-free regex chain — oracle applies the identical
    // transformation.
    "q_url_canonical" -> ((s, dir) => {
      val docs = star(s, dir, "documents").df
      val url = concat(lit("HTTPS://"), upper(col("source")),
        lit(".Example.COM:443/docs/"), col("doc_id"),
        lit("/page?utm_source=feed&id="), col("doc_id"),
        lit("&utm_campaign=x&ref=tw#sec-2"))
      docs.select(col("doc_id"), url.as("url"),
        Text.canonicalizeUrl(url).as("canonical"))
    }),

    // Deterministic source-mix rebalancing: downsample every source to
    // ~15 docs via pure integer hash arithmetic (no sampling state; exact
    // same predicate in the oracle). Output is the mixture audit report.
    "q_source_rebalance" -> ((s, dir) => {
      val docs = star(s, dir, "documents").df
      val kept = graft.functions.Mixing.rebalanceGroups(docs, "doc_id", "source",
        targetPerGroup = 15)
      graft.functions.Mixing.mixReport(docs, kept, "source")
        .withColumn("n_before", col("n_before").cast(LongType))
        .withColumn("n_after", col("n_after").cast(LongType))
    }),

    // Token-budget source mixing: mixture weights for pre-training are
    // TOKEN weights, so each source keeps the docs whose cumulative token
    // count in deterministic hash order stays under a 3000-token budget.
    // Two-level prefix scan per (source, hash byte) — no per-group
    // single-partition window. Output is the kept-mass audit per source.
    "q_source_token_budget" -> ((s, dir) => {
      val docs = star(s, dir, "documents").df
      graft.functions.Mixing.rebalanceTokenBudget(docs, "doc_id", "source",
          Text.tokenCount(col("text")), tokenBudgetPerGroup = 3000L)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(Text.tokenCount(col("text")).cast(LongType)).as("n_tokens"))
    }),

    // TF-IDF keyword extraction: each document's top-3 characteristic
    // terms — rounded-after-log idf (the BM25 scheme), exact DECIMAL
    // scores, (score desc, token asc) total order, ranked through the
    // distributed globalRowNumber (no per-doc sort task). Oracle mirrors
    // the formula with a DuckDB window.
    "q_tfidf_terms" -> ((s, dir) =>
      graft.functions.Retrieval.tfidfTopTerms(
        star(s, dir, "documents").df, "doc_id", "text", topK = 3)),

    // Temperature-smoothed language mixing (τ = 2): a ~250-doc corpus
    // whose language shares go as sqrt(n_lang) — heads shrink, tails
    // survive. Thresholds are exact integer sqrt arithmetic, so the kept
    // set (and this audit) is engine-independent; the corpus never
    // shuffles. Oracle recomputes the thresholds in SQL.
    "q_temperature_mix" -> ((s, dir) => {
      val docs = star(s, dir, "documents").df
      graft.functions.Mixing.temperatureRebalance(docs, "doc_id", "lang",
          totalBudget = 250)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
    }),

    // Deterministic stratified sample: 10 docs per language in md5-prefix
    // order — exact quotas, seedless, partitioning-independent. Bounded
    // O(k)-state TopKPairs aggregate (map-side combine), not a per-group
    // row_number window; the oracle reproduces the order with one.
    "q_stratified_sample" -> ((s, dir) =>
      graft.functions.Mixing.stratifiedSample(
        star(s, dir, "documents").df, "lang", "doc_id", nPerGroup = 10)),

    // Hybrid retrieval: BM25 (terms spark/vector/join) and dense cosine
    // (query = doc 42's embedding) each rank their top-20, fused by
    // reciprocal-rank fusion. The dense side uses the engine-exact
    // decimal-sum cosine so BOTH rankings — and therefore the fused
    // top-10 — hash-match the DuckDB oracle end to end.
    "q_hybrid_search" -> ((s, dir) => {
      val docs = star(s, dir, "documents").df
      val emb = star(s, dir, "embeddings").df
      val qv = emb.filter(col("vec_id") === 42)
        .select(col("embedding")).head().getSeq[Float](0)
      val lex = Retrieval.rankByScore(
        Retrieval.bm25TopK(docs, "doc_id", "text",
          terms = Seq("spark", "vector", "join"), topK = 20),
        "doc_id", "score", topK = 20)
      val dense = Retrieval.rankByScore(
        Similarity.exactCosineScores(emb, "embedding", "vec_id", qv)
          .withColumnRenamed("vec_id", "doc_id"),
        "doc_id", "cosine", topK = 20)
      Retrieval.rrfFuse(Seq(lex, dense), "doc_id", topK = 10)
    }),

    // SCD-1 corpus upsert: a deterministic change batch (re-crawled text
    // for doc_id%100<10, fresh inserts for 50..52 under +10M ids,
    // tombstones for 90..94) merged into the documents snapshot with ONE
    // broadcast anti-join - the snapshot never shuffles. Oracle repeats
    // the batch construction and merge in SQL.
    "q_merge_upsert" -> ((s, dir) => {
      val d = star(s, dir, "documents").df
      val m = col("doc_id") % 100
      val newText = concat(lit("new doc "), col("doc_id").cast("string"))
      val updates = d.filter(m < 10).select(col("doc_id"),
        concat(col("text"), lit(" v2")).as("text"), col("lang"),
        col("source"), (col("n_chars") + 3).as("n_chars"),
        lit(false).as("del"))
      val inserts = d.filter(m.between(50, 52)).select(
        (col("doc_id") + 10000000L).as("doc_id"), newText.as("text"),
        col("lang"), col("source"),
        length(newText).cast("long").as("n_chars"), lit(false).as("del"))
      val deletes = d.filter(m.between(90, 94)).withColumn("del", lit(true))
      graft.operators.Merge.upsert(d,
          updates.unionByName(inserts).unionByName(deletes),
          Seq("doc_id"), deleteCol = Some("del"), requireUniqueKeys = true)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          md5(col("text")).as("fp"))
    }),

    // SCD-2 versioned corpus upsert: same change batch as q_merge_upsert
    // plus NO-OP updates (%100 in 10-14, identical rows — must not grow
    // history) against a history with pre-closed v0 versions for %100 in
    // 95-99 (must pass through untouched). Superseded versions close at
    // the batch time instead of vanishing; the history side is only ever
    // touched by broadcast joins. Oracle repeats the versioning in SQL.
    "q_merge_scd2" -> ((s, dir) => {
      val d = star(s, dir, "documents").df
      val m = col("doc_id") % 100
      val t0 = lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))
      val hist = d
        .withColumn("valid_from", t0)
        .withColumn("valid_to", lit(null).cast("timestamp"))
        .unionByName(d.filter(m.between(95, 99))
          .withColumn("text", concat(col("text"), lit(" v0")))
          .withColumn("valid_from",
            lit(java.sql.Timestamp.valueOf("2025-01-01 00:00:00")))
          .withColumn("valid_to", t0))
      val newText = concat(lit("new doc "), col("doc_id").cast("string"))
      val updates = d.filter(m < 10).select(col("doc_id"),
        concat(col("text"), lit(" v2")).as("text"), col("lang"),
        col("source"), (col("n_chars") + 3).as("n_chars"),
        lit(false).as("del"))
      val noops = d.filter(m.between(10, 14))
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"), lit(false).as("del"))
      val inserts = d.filter(m.between(50, 52)).select(
        (col("doc_id") + 10000000L).as("doc_id"), newText.as("text"),
        col("lang"), col("source"),
        length(newText).cast("long").as("n_chars"), lit(false).as("del"))
      val deletes = d.filter(m.between(90, 94)).withColumn("del", lit(true))
        .select("doc_id", "text", "lang", "source", "n_chars", "del")
      graft.operators.Merge.scd2Upsert(hist,
          updates.unionByName(noops).unionByName(inserts).unionByName(deletes),
          Seq("doc_id"),
          batchTime = lit(java.sql.Timestamp.valueOf("2026-06-01 00:00:00")),
          deleteCol = Some("del"))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          md5(col("text")).as("fp"), col("valid_from"), col("valid_to"))
    }),

    // Per-source priority sampling: an independent 10-doc DLT sample per
    // lang with group-wise tau estimators - per-source weighted eval sets
    // in one bounded-state pass (<= k+1 candidates per group per
    // partition through the shuffle).
    "q_weighted_sample_grouped" -> ((s, dir) =>
      graft.functions.Mixing.prioritySampleByGroup(
        star(s, dir, "documents").df, "lang", "doc_id", "n_chars", k = 10)),

    // Priority sampling (Duffield-Lund-Thorup): 50 docs weighted by
    // n_chars, with the unbiased max(w, tau) estimator. Priorities are
    // exact-integer hashes over IEEE double division, so the sample AND
    // the estimator are engine-independent; the oracle repeats the
    // formula with a DuckDB window.
    "q_weighted_sample" -> ((s, dir) =>
      graft.functions.Mixing.prioritySample(
        star(s, dir, "documents").df, "doc_id", "n_chars", k = 50)),

    // --- sequence preparation ----------------------------------------------
    // GPT-style concat-and-slice sequence packing: documents laid end-to-end
    // in doc_id order, the token stream cut every 2048 tokens; output is the
    // per-sequence doc/token report. The global prefix sum is a two-level
    // scan (bucket subtotals + within-bucket window — no single-partition
    // window anywhere); bucketWidth=100 forces the multi-bucket path even at
    // sf0.01. Pure integer arithmetic — the oracle repeats it with a DuckDB
    // window.
    "q_doc_pack" -> ((s, dir) =>
      Packing.packedStats(star(s, dir, "documents").df, "doc_id",
        Text.tokenCount(col("text")), capacity = 2048, bucketWidth = 100)),

    // Token-window chunking (RAG/context preparation): 40-token windows
    // every 30 tokens, one row per (doc, window) with the chunk fingerprint
    // (md5 keeps the verified payload narrow). Per-row arithmetic only — no
    // shuffle, no join.
    "q_doc_chunks" -> ((s, dir) =>
      Packing.chunkTokens(star(s, dir, "documents").df, "doc_id", "text",
        window = 40, stride = 30)
        .select(col("doc_id"), col("chunk_idx"), col("start_tok"), col("n_tok"),
          Text.fingerprintMd5(col("chunk_text")).as("chunk_fp"))),

    // Unigram-LM scoring (the CCNet perplexity quality signal, unigram
    // core): self-trained token frequencies, mean −log p(token) per doc.
    // Token log-probs are rounded then summed as DECIMAL — order- and
    // engine-independent, so the score hash-matches the oracle.
    "q_doc_perplexity" -> ((s, dir) => {
      val docs = star(s, dir, "documents").df
      UnigramLm.score(docs, docs, "doc_id", "text")
    }),

    // Exact per-group median without a per-group sort task: the lower
    // median is just the row at rank (n+1) div 2 under the distributed
    // globalRowNumber - exact order statistics at any group size (where
    // percentile_approx trades accuracy and a naive window serializes
    // each group).
    "q_group_median" -> ((s, dir) => {
      val docs = star(s, dir, "documents").df
      val ranked = Windowing.globalRowNumber(
        docs.select(col("lang"), col("n_chars"), col("doc_id")),
        Seq("lang"), Seq("n_chars", "doc_id"), "rn")
      val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      ranked.join(broadcast(counts), Seq("lang"))
        .filter(expr("rn = (n_docs + 1) div 2"))
        .select(col("lang"), col("n_docs"), col("n_chars").as("median_chars"))
    }),

    // Exact per-language quartiles (nearest-rank) of document length -
    // the same one-shuffle distributed rank serving three probabilities
    // at once; exact where percentile_approx is approximate.
    "q_group_quantiles" -> ((s, dir) =>
      Windowing.globalQuantiles(
        star(s, dir, "documents").df.select(col("lang"), col("n_chars"),
          col("doc_id")),
        Seq("lang"), Seq("n_chars", "doc_id"), pcts = Seq(25, 50, 75))
        .select(col("lang"), col("pct"), col("n_chars").as("value"))),

    // The full SQL rank family (RANK / DENSE_RANK / PERCENT_RANK /
    // CUME_DIST) per market segment WITHOUT a data-side window: row
    // numbers from the one-shuffle range rank, tie semantics reassembled
    // from a per-(segment, value) aggregate, the dist columns single IEEE
    // divisions of exact integers — a skewed segment spans many bounded
    // tasks instead of one giant sort.
    "q_percent_rank" -> ((s, dir) =>
      Windowing.globalRankDist(
        star(s, dir, "customer").df.select(col("c_mktsegment"),
          col("c_acctbal"), col("c_custkey")),
        Seq("c_mktsegment"), Seq("c_acctbal"), Seq("c_custkey"))
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
          col("rank"), col("dense_rank"), col("percent_rank"),
          col("cume_dist"))),

    // Winsorization at exact nearest-rank percentiles: clip per-language
    // document lengths into [p10, p90] — the outlier-robust normalization
    // step before length-based quality scoring. The limits come from the
    // same one-shuffle distributed rank as q_group_quantiles (exact at any
    // group size, integer arithmetic only), broadcast back as k rows; the
    // clip itself is a zero-shuffle projection.
    "q_winsorize" -> ((s, dir) => {
      val docs = star(s, dir, "documents").df
      val qs = Windowing.globalQuantiles(
        docs.select(col("lang"), col("n_chars"), col("doc_id")),
        Seq("lang"), Seq("n_chars", "doc_id"), pcts = Seq(10, 90))
      val lims = qs.groupBy(col("lang")).agg(
        min(when(col("pct") === 10, col("n_chars"))).as("p10"),
        min(when(col("pct") === 90, col("n_chars"))).as("p90"))
      docs.select(col("doc_id"), col("lang"), col("n_chars"))
        .join(broadcast(lims), Seq("lang"))
        .select(col("doc_id"), col("lang"), col("n_chars"), col("p10"),
          col("p90"),
          greatest(least(col("n_chars"), col("p90")), col("p10")).as("clipped"))
    }),

    // Bigram LM with stupid backoff (Brants et al. 2007): transition-level
    // fluency scoring - word salad that fools the unigram model has
    // improbable bigrams. Same decimal determinism scheme, so the score
    // hash-matches the oracle.
    "q_doc_bigram_ppl" -> ((s, dir) => {
      val docs = star(s, dir, "documents").df
      UnigramLm.scoreBigram(docs, docs, "doc_id", "text")
    }),

    // Trigram LM with the full stupid-backoff chain (trigram -> bigram ->
    // unigram) - one order above q_doc_bigram_ppl, same determinism.
    "q_doc_trigram_ppl" -> ((s, dir) => {
      val docs = star(s, dir, "documents").df
      UnigramLm.scoreTrigram(docs, docs, "doc_id", "text")
    }),

    // CCNet-style perplexity bucketing (Wenzek et al. 2020): per language,
    // split the corpus into head/middle/tail terciles of the unigram
    // cross-entropy — the selection step that keeps "head" for training.
    // The rank is the distributed one-shuffle globalNtile, never a
    // per-language window task; (xent, doc_id) is a total order so the
    // bucket assignment is engine-independent and NTILE-exact.
    "q_doc_ppl_buckets" -> ((s, dir) => {
      val docs = star(s, dir, "documents").df
      val scored = UnigramLm.score(docs, docs, "doc_id", "text")
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      Windowing.globalNtile(scored, Seq("lang"), Seq("xent", "doc_id"), 3)
        .select(col("doc_id"), col("lang"), col("xent"), col("bucket"))
    }),

    // --- fingerprinting ----------------------------------------------------
    "q_doc_fingerprint" -> ((s, dir) =>
      star(s, dir, "documents").df
        .select(col("doc_id"), Text.fingerprintMd5(col("text")).as("fp"))),

    // --- dedup -------------------------------------------------------------
    // Exact dedup keep-first: survivor ids per (lang, source) group.
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exactDedup(star(s, dir, "documents").df, Seq("lang", "source"), "doc_id")
        .select(col("doc_id"), col("lang"), col("source"))),

    // Exact content dedup via md5-hash groupBy (shuffle the hash, not text).
    "q_dedup_content" -> ((s, dir) =>
      star(s, dir, "documents").df
        .groupBy(md5(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
        .select(col("doc_id"), col("n_copies"))),

    // MinHash-LSH with PLANTED exact duplicates (docs 0-4 copied to
    // doc_id+100000): the LSH pipeline must surface every planted pair with
    // signature agreement 1.0, and the output is restricted to pairs whose
    // TEXT is verified identical — an engine-independent set the oracle
    // enumerates with a self-join (planted pairs plus the corpus's natural
    // exact duplicates). A missed bucket join, broken signature, or bad
    // expansion breaks the hash match.
    "q_dedup_minhash" -> ((s, dir) => {
      val docs = star(s, dir, "documents").df.select(col("doc_id"), col("text"))
      val planted = docs.filter(col("doc_id") < 5)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"))
      val cands = Dedup.minhashCandidates(docs.unionByName(planted),
        "doc_id", "text", shingleSize = 2, numHashes = 32, bands = 8)
        .filter(col("jaccard_est") === 1.0)
      val t = docs.unionByName(planted)
      cands
        .join(t.select(col("doc_id").as("idA"), col("text").as("__ta")), "idA")
        .join(t.select(col("doc_id").as("idB"), col("text").as("__tb")), "idB")
        .filter(col("__ta") === col("__tb"))
        .select(col("idA"), col("idB"))
    }),

    // Raw MinHash-LSH near-dup candidates (no oracle: engine-specific
    // hashes; validated by FunctionsSpec exactness + the planted query).
    "q_dedup_minhash_cands" -> ((s, dir) =>
      Dedup.minhashCandidates(star(s, dir, "documents").df, "doc_id", "text",
        shingleSize = 2, numHashes = 32, bands = 8)
        .filter(col("jaccard_est") >= 0.5)),

    // SimHash with PLANTED exact duplicates, same construction as minhash:
    // hamming-0 pairs with verified-identical text are engine-independent.
    "q_dedup_simhash" -> ((s, dir) => {
      val docs = star(s, dir, "documents").df.select(col("doc_id"), col("text"))
      val planted = docs.filter(col("doc_id") < 5)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"))
      val cands = Dedup.simhashCandidates(docs.unionByName(planted),
        "doc_id", "text", maxHamming = 8)
        .filter(col("hamming") === 0)
      val t = docs.unionByName(planted)
      cands
        .join(t.select(col("doc_id").as("idA"), col("text").as("__ta")), "idA")
        .join(t.select(col("doc_id").as("idB"), col("text").as("__tb")), "idB")
        .filter(col("__ta") === col("__tb"))
        .select(col("idA"), col("idB"))
    }),

    // Incremental ingest dedup: a "new batch" (docs 0-9 plus planted copies
    // of reference docs 10-14 under shifted ids) deduplicated AGAINST the
    // existing corpus (docs >= 10) via the bipartite MinHash-LSH band join —
    // no all-corpus self-join. Output restricted to text-verified identical
    // (new, ref) pairs, which a DuckDB cross join enumerates exactly.
    "q_dedup_incremental" -> ((s, dir) => {
      val docs = star(s, dir, "documents").df.select(col("doc_id"), col("text"))
      val ref = docs.filter(col("doc_id") >= 10)
      val newBatch = docs.filter(col("doc_id") < 10).unionByName(
        docs.filter(col("doc_id").between(10, 14))
          .select((col("doc_id") + 200000).as("doc_id"), col("text")))
      val cands = Dedup.minhashCandidatesAgainst(newBatch, ref, "doc_id", "text",
        shingleSize = 2, numHashes = 32, bands = 8)
        .filter(col("jaccard_est") === 1.0)
      cands
        .join(newBatch.select(col("doc_id").as("idNew"), col("text").as("__tn")), "idNew")
        .join(ref.select(col("doc_id").as("idRef"), col("text").as("__tr")), "idRef")
        .filter(col("__tn") === col("__tr"))
        .select(col("idNew"), col("idRef"))
    }),

    // Incremental dedup against a PERSISTED MinHash index: the reference
    // corpus is signed and banded once on disk (writeMinhashIndex,
    // memoized); the daily batch probes the stored band table — the
    // corpus itself is never re-read. Same planted construction and
    // text-verified output as q_dedup_incremental, so a stale index, a
    // params mismatch, or a broken band probe breaks the hash.
    "q_dedup_index" -> ((s, dir) => {
      val docs = star(s, dir, "documents").df.select(col("doc_id"), col("text"))
      val ref = docs.filter(col("doc_id") >= 10)
      val newBatch = docs.filter(col("doc_id") < 10).unionByName(
        docs.filter(col("doc_id").between(10, 14))
          .select((col("doc_id") + 200000).as("doc_id"), col("text")))
      val cands = Dedup.minhashCandidatesAgainstIndex(newBatch,
        minhashIndexFor(s, dir), "doc_id", "text")
        .filter(col("jaccard_est") === 1.0)
      cands
        .join(newBatch.select(col("doc_id").as("idNew"), col("text").as("__tn")), "idNew")
        .join(ref.select(col("doc_id").as("idRef"), col("text").as("__tr")), "idRef")
        .filter(col("__tn") === col("__tr"))
        .select(col("idNew"), col("idRef"))
    }),

    // Winnowing fingerprint dedup (MOSS scheme) with PLANTED exact copies:
    // identical documents have identical fingerprint sets, so every planted
    // pair (and natural exact duplicate) is guaranteed to pair; the output
    // is the text-verified identical pairs — the same engine-independent
    // oracle as the minhash/simhash planted queries, driven through the
    // winnow-select → explode → fingerprint-join pipeline instead.
    "q_dedup_winnow" -> ((s, dir) => {
      val docs = star(s, dir, "documents").df.select(col("doc_id"), col("text"))
      val planted = docs.filter(col("doc_id") < 5)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"))
      val cands = Dedup.winnowCandidates(docs.unionByName(planted),
        "doc_id", "text", shingleSize = 6, window = 8, minShared = 1)
      val t = docs.unionByName(planted)
      cands
        .join(t.select(col("doc_id").as("idA"), col("text").as("__ta")), "idA")
        .join(t.select(col("doc_id").as("idB"), col("text").as("__tb")), "idB")
        .filter(col("__ta") === col("__tb"))
        .select(col("idA"), col("idB"))
    }),

    // Raw SimHash near-dup candidates (no oracle: engine-specific hashes).
    // radius 8 via multi-index blocking: 5 radius-adaptive blocks, probe
    // side expanded by ≤14 XOR masks per block — join keys stay 12-16 bits
    // at ANY radius, and identical signatures collapse before the
    // self-join (see Dedup.simhashCandidatesFromSigs).
    "q_dedup_simhash_cands" -> ((s, dir) =>
      Dedup.simhashCandidates(star(s, dir, "documents").df, "doc_id", "text",
        maxHamming = 8)),

    // N-gram Jaccard similarity of adjacent doc pairs — deterministic
    // integer set ops, exact oracle via duckdb list functions.
    "q_ngram_jaccard" -> ((s, dir) => {
      val d = star(s, dir, "documents").df
        .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      val a = d.select((col("doc_id")).as("id_a"), col("toks").as("toks_a"))
      val b = d.select((col("doc_id")).as("id_b"), col("toks").as("toks_b"))
      // |A∩B| / |A∪B| as ONE pinned integer ratio (a small-int ratio can
      // land exactly on a 6-decimal half boundary; see PinnedMath)
      val inter = size(array_intersect(array_distinct(col("toks_a")),
        array_distinct(col("toks_b"))))
      val uni = size(array_distinct(concat(col("toks_a"), col("toks_b"))))
      a.join(b, col("id_b") === col("id_a") + 1)
        .select(col("id_a"), col("id_b"),
          when(uni === 0, lit(0.0)).otherwise(
            graft.functions.PinnedMath.pinnedRatio(inter, uni, 6)).as("jaccard"))
    }),

    // Exact thresholded Jaccard self-join via AllPairs/PPJoin prefix +
    // positional filtering — the precise counterpart to the MinHash
    // candidates: no false negatives, exact similarities, and the
    // inverted index holds only each doc's ~(1−t)·n RAREST tokens.
    // Oracle is the full quadratic DuckDB token self-join; the engine
    // must reproduce its answer exactly while never materializing it.
    "q_setsim_join" -> ((s, dir) => {
      val d = star(s, dir, "documents").df
        .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      graft.operators.SetSimilarityJoin
        .jaccardPairs(d, "doc_id", "toks", threshold = 0.95)
    }),

    // Exact set-CONTAINMENT join at t = 0.98 — the quote/excerpt detector
    // Jaccard misses (a short quote inside a long page): directed pairs
    // where ≥ 98% of A's distinct tokens appear in B. Planted excerpts =
    // the first half of 20 docs' tokens as new docs (containment 1.0 in
    // their sources). The probe side explodes only each doc's rarest
    // prefix; the build side is the full inverted index; the oracle is
    // the full quadratic directed token join.
    "q_containment" -> ((s, dir) => {
      // one language slice = the blocking key (containment across
      // languages is meaningless anyway); the synthetic corpus's
      // vocabulary does not scale with doc count, so unblocked
      // containment output grows quadratically — the operator's
      // maxJoinRows guard would refuse the full corpus at sf0.1
      val base = star(s, dir, "documents").df
        .filter(col("lang") === "en").select(col("doc_id"), col("text"))
      val planted = base.filter(col("doc_id") < 100)
        .select((col("doc_id") + 800000L).as("doc_id"),
          expr("array_join(slice(split(trim(text), '\\\\s+'), 1, " +
            "greatest(size(split(trim(text), '\\\\s+')) div 2, 1)), ' ')")
            .as("text"))
      val d = base.unionByName(planted)
        .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      graft.operators.SetSimilarityJoin
        .containmentPairs(d, "doc_id", "toks", threshold = 0.98)
    }),

    // --- similarity search -------------------------------------------------
    // Brute-force cosine top-10 over the corpus plus ten PLANTED neighbors
    // at exactly-known Pythagorean cosines (see [[annTriples]]): the scan
    // must rank the planted set above every corpus vector (max corpus
    // cosine-to-e1 ≈ 0.39 vs planted min 0.849) and report their exact
    // cosines — engine-independent, hash-matched oracle.
    "q_ann_bruteforce" -> ((s, dir) => {
      val emb = star(s, dir, "embeddings").df.select("vec_id", "embedding")
      Similarity.bruteForceTopK(emb.unionByName(plantedAnn(s)),
        "embedding", "vec_id", e1Probe, 10)
        .withColumn("cosine", round(col("cosine"), 4))
    }),

    // LSH-indexed ANN for the same planted probe (the scale path). The
    // bucket-partitioned index is built ONCE per dataset (memoized on disk)
    // and every probe is a partition-pruned read + one cosine per candidate
    // — zero per-row hashing at query time. Against the planted oracle this
    // also pins RECALL: all ten planted neighbors sit within reach of the
    // nprobe=24 query-directed probe in both tables (deterministic planes),
    // so a probing/pruning regression that drops any of them — letting a
    // corpus vector into the top-10 — breaks the hash match. Declared in
    // SparkEntry.indexedQueries: the bench measures steady-state probe
    // latency, the standard ANN-index metric.
    "q_ann_lsh" -> ((s, dir) => {
      val emb = star(s, dir, "embeddings").df.select("vec_id", "embedding")
      val path = annIndexFor(s, dir, "lsh", "p8t2|plant10",
        emb.unionByName(plantedAnn(s)), AnnSpec(AnnSpec.Lsh(planes = 8, tables = 2)))
      AnnIndex.probe(s, path, e1Probe, 10, nprobe = 24)
        .withColumn("cosine", round(col("cosine"), 4))
    }),

    // Point lookups from the hash-bucketed keyed store: 5 ids read only
    // their bucket partitions (PartitionFilters-pruned, key-sorted row
    // groups). Build is memoized and declared in indexedQueries — the
    // bench measures steady-state lookup latency.
    "q_point_lookup" -> ((s, dir) => {
      val path = keyedStoreFor(s, dir)
      graft.operators.KeyedStore.lookup(s, path, "doc_id",
        Seq(3L, 57L, 120L, 333L, 444L), buckets = 64)
    }),

    // Embedding stats per label: deterministic min/max of a vector slot.
    "q_emb_stats" -> ((s, dir) =>
      star(s, dir, "embeddings").df
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          round(min(col("embedding").getItem(0).cast(DoubleType)), 6).as("min_d0"),
          round(max(col("embedding").getItem(0).cast(DoubleType)), 6).as("max_d0"))),

    // Embedding-cosine near-dup: plant exact copies of 5 vectors (shifted
    // ids), run the LSH-bucketed near-dup search; only the planted pairs
    // clear the threshold (corpus max cross-cosine is ~0.48) — so the
    // output is oracle-exact after rounding.
    "q_dedup_embedding" -> ((s, dir) => {
      val emb = star(s, dir, "embeddings").df.select("vec_id", "embedding")
      val planted = emb.filter(col("vec_id") < 5)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
      Similarity.cosineNearDupPairs(emb.unionByName(planted),
          "embedding", "vec_id", threshold = 0.85, dim = 64)
        .select(col("idA"), col("idB"), round(col("cosine"), 6).as("cosine"))
    }),

    // Distributed Lloyd's k-means with PLANTED cluster recovery: group g
    // (g = 0..7) is 10+g copies of base vector g with a tiny deterministic
    // dim-0 perturbation (≤ 0.016 in-group diameter vs ≥ 1.19 between-base
    // distance at every SF), so farthest-point init must seed one centroid
    // per group and Lloyd must recover the partition exactly. Cluster LABELS
    // are engine-specific, so the output is the size multiset (distinct by
    // construction: 10..17) — a full hash-matched oracle for the clustering
    // machinery end to end.
    "q_emb_kmeans" -> ((s, dir) => {
      val (assign, _, _) = Similarity.kmeans(plantedClusters(s, dir),
        "embedding", "vec_id", k = 8, iters = 5, trackInertia = false)
      assign.groupBy(col("cluster")).agg(count(lit(1)).as("n")).select(col("n"))
    }),

    // Corpus-scale k-means workload (no oracle: iterative float arithmetic
    // on real vectors; determinism + convergence asserted in KmeansSpec,
    // planted recovery oracle-checked by q_emb_kmeans above). Kept as the
    // bench's full-corpus clustering measurement.
    "q_emb_kmeans_corpus" -> ((s, dir) => {
      val emb = star(s, dir, "embeddings").df
      val (assign, _, _) = Similarity.kmeans(emb, "embedding", "vec_id",
        k = 8, iters = 3, trackInertia = false)
      assign.groupBy(col("cluster")).agg(count(lit(1)).as("n"))
    }),

    // IVF coarse assignment counts (no oracle: seeded anchors are ours).
    "q_emb_ivf" -> ((s, dir) =>
      Similarity.ivfAssign(star(s, dir, "embeddings").df, "embedding", "vec_id",
        nlist = 8, dim = 64)
        .groupBy(col("ivf_list"))
        .agg(count(lit(1)).as("n"))),

    // Trained-IVF PROBE with a planted oracle: the index is trained (k-means)
    // on the 8 planted well-separated groups, so the coarse lists ARE the
    // groups; probing base vector 3 with nprobe=1 must read exactly group 3's
    // partition and return its 13 members — an engine-independent answer that
    // pins centroid training, list assignment, partition-pruned probing, and
    // top-k ranking end to end (a pruning regression that reads the wrong
    // list, or a training regression that splits a group, breaks the hash).
    "q_emb_ivf_probe" -> ((s, dir) => {
      val path = ivfIndexFor(s, dir)
      val probe = star(s, dir, "embeddings").df.filter(col("vec_id") === 3)
        .select(col("embedding")).head().getSeq[Float](0)
      AnnIndex.probe(s, path, probe, k = 13, nprobe = 1)
        .select(col("vec_id"))
    }),

    // Product-quantization ADC probe with the planted oracle: codebooks
    // train per-subspace k-means on the 8 planted families, so each
    // family's subvectors collapse to one centroid per subspace and all
    // members of family 3 encode to IDENTICAL codes whose ADC cosine to
    // base vector 3 strictly dominates every other family (between-base
    // distance ≥ 1.19). Top-13 with id tie-break = exactly family 3 — an
    // engine-independent answer pinning codebook training, encoding, the
    // driver-side lookup tables, and ADC ranking end to end. The probe
    // scans m ints per vector, never floats (the 32-64× compressed-ANN
    // path); build is memoized and declared in indexedQueries.
    "q_emb_pq_probe" -> ((s, dir) => {
      val path = pqIndexFor(s, dir)
      val probe = star(s, dir, "embeddings").df.filter(col("vec_id") === 3)
        .select(col("embedding")).head().getSeq[Float](0)
      AnnIndex.probe(s, path, probe, k = 13, nprobe = 1)
        .select(col("vec_id"))
    }),

    // Composed PQ probe + EXACT re-rank (round 13, the rehearsal-derived
    // one-call operator): the ADC probe's top-(13×20) candidate ids are
    // pushed into the float-vector scan as an IN predicate and re-scored
    // with exact cosine — the ranking now comes from float math, pinning
    // candidate collection, predicate pushdown, exact re-scoring, and the
    // tie-break end to end. Family 3's 13 members are the only vectors
    // with cosine ≈ 1 to base 3 (cross-family ≤ ~0.48), so the exact
    // top-13 is again exactly family 3 — engine-independent.
    "q_emb_pq_rerank" -> ((s, dir) => {
      val path = pqIndexFor(s, dir)
      val probe = star(s, dir, "embeddings").df.filter(col("vec_id") === 3)
        .select(col("embedding")).head().getSeq[Float](0)
      AnnIndex.probe(s, path, probe, k = 13, nprobe = 1,
          rerankVectors = Some(plantedClusters(s, dir)))
        .select(col("vec_id"))
    }),

    // Composed IVF-PQ probe (the FAISS IVFPQ shape): coarse lists prune
    // the scan to nprobe partitions AND the pruned scan reads m-int PQ
    // codes instead of float vectors — the two savings multiply; at 100 TB
    // this is the difference between scanning the corpus and scanning a
    // few GB of codes from a few lists. Planted oracle: lists recover the
    // 8 planted families and family 3's identical codes dominate the ADC
    // ranking, so nprobe=1/top-13 returns exactly family 3 — pinning
    // coarse training, list assignment, partition pruning, encoding, LUT
    // scoring, and ranking end to end.
    "q_emb_ivfpq_probe" -> ((s, dir) => {
      val path = ivfpqIndexFor(s, dir)
      val probe = star(s, dir, "embeddings").df.filter(col("vec_id") === 3)
        .select(col("embedding")).head().getSeq[Float](0)
      AnnIndex.probe(s, path, probe, k = 13, nprobe = 1)
        .select(col("vec_id"))
    }),

    // int8-quantized similarity: vectors stored as 4x-smaller integer
    // codes; dot products and norms are EXACT integers, so the whole
    // ranking is engine-independent by construction (no float-luck).
    // Query = doc 42's codes, computed driver-side with the identical
    // floor(v/s*127+0.5) formula.
    "q_emb_int8" -> ((s, dir) => {
      val emb = star(s, dir, "embeddings").df
      val qv = emb.filter(col("vec_id") === 42)
        .select(col("embedding")).head().getSeq[Float](0)
      val sMax = qv.map(x => math.abs(x.toDouble)).max
      val qCodes = qv.map(x =>
        if (sMax > 0) math.floor(x.toDouble / sMax * 127 + 0.5).toInt else 0)
      Similarity.int8CosineTopK(
        Similarity.quantizeInt8(emb, "embedding", "vec_id"),
        "vec_id", qCodes, topK = 10)
    }),

    // SemDeDup (cluster-then-dedup) with the planted-cluster oracle: the 8
    // planted families (corpus base vector g + its 10+g near-copies at
    // +100000 ids) are each a ≤0.017-diameter ball, so every family lands
    // in ONE k-means cluster whatever the corpus clustering does, every
    // family member pairs with the others at cosine ≈ 1 ≥ 0.9, and the
    // corpus's max cross-cosine (~0.48) keeps real vectors out — the
    // removed set is exactly the planted ids with kept witness g, both
    // columns engine-independent. k=32 keeps real clusters small (the
    // within-cluster join is quadratic in cluster size — the guard
    // refuses larger ones).
    "q_semantic_dedup" -> ((s, dir) => {
      val emb = star(s, dir, "embeddings").df.select("vec_id", "embedding")
      val planted = plantedClusters(s, dir)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      Similarity.semanticDedupRemoved(emb.unionByName(planted),
        "embedding", "vec_id", k = 32, threshold = 0.9, iters = 3)
    }),

    // BM25 lexical retrieval: top-20 documents for a 3-term query. The
    // idf and per-(doc, term) contributions are rounded then decimal-
    // summed (the UnigramLm determinism scheme), so the full ranking
    // hash-matches the DuckDB oracle.
    "q_bm25_search" -> ((s, dir) =>
      Retrieval.bm25TopK(star(s, dir, "documents").df, "doc_id", "text",
        terms = Seq("spark", "vector", "join"), topK = 20)),

    // Retrieval eval harness: precision@10 / MRR / nDCG@20 of the BM25
    // top-20 against a deterministic binary relevance set (docs whose
    // token list contains ALL three query terms). The 1/log2 gain weights
    // are rounded then decimal-summed and each metric is one rounded IEEE
    // division, so the metric row hash-matches the SQL mirror.
    "q_retrieval_eval" -> ((s, dir) => {
      val docs = star(s, dir, "documents").df
      val terms = Seq("spark", "vector", "join")
      val ranked = Retrieval.rankByScore(
        Retrieval.bm25TopK(docs, "doc_id", "text", terms, topK = 20),
        "doc_id", "score", topK = 20)
      val toks = split(trim(col("text")), "\\s+")
      val rel = docs.filter(
        terms.map(t => array_contains(toks, t)).reduce(_ && _))
        .select(col("doc_id"))
      Retrieval.evalRanking(ranked, rel, "doc_id", "rank",
        kPrecision = 10, kNdcg = 20)
    }),

    // Pseudo-relevance-feedback retrieval (Rocchio-style query expansion):
    // BM25 top-10 for the seed terms → the 3 highest-total-tf non-seed
    // tokens of those docs join the query → BM25 top-20 re-ranking. The
    // driver holds only the expansion terms (k strings — the PRF control
    // flow); every stage is the decimal-exact BM25 machinery, so the
    // FINAL ranking after expansion hash-matches the two-stage SQL
    // mirror, expansion selection included.
    "q_prf_search" -> ((s, dir) => {
      val docs = star(s, dir, "documents").df
      val seeds = Seq("spark", "vector", "join")
      val top1 = Retrieval.bm25TopK(docs, "doc_id", "text", seeds, topK = 10)
        .select("doc_id")
      val expansion = docs.join(top1, Seq("doc_id"))
        .select(explode(Text.tokens(col("text"))).as("token"))
        .filter(!col("token").isInCollection(seeds))
        .groupBy(col("token")).agg(count(lit(1)).as("tf"))
        .orderBy(col("tf").desc, col("token").asc).limit(3)
        .collect().map(_.getString(0)).toSeq
      Retrieval.bm25TopK(docs, "doc_id", "text", seeds ++ expansion, topK = 20)
    }),

    // DSIR importance weights: every document scored by its mean per-token
    // log-likelihood ratio under the English-documents distribution vs the
    // whole corpus — the data-selection signal for importance resampling.
    "q_doc_dsir" -> ((s, dir) => {
      val docs = star(s, dir, "documents").df
      UnigramLm.importanceWeights(docs, docs.filter(col("lang") === "en"),
        docs, "doc_id", "text")
    }),

    // DSIR end-to-end: the importance weights fed through deterministic
    // Gumbel top-k resampling (sample ∝ exp(weight/T) without
    // replacement, md5-seeded noise) — the full data-selection loop from
    // Xie et al. 2023, engine-mirrorable because the Gumbel uniform is a
    // pure function of doc_id.
    "q_dsir_resample" -> ((s, dir) => {
      val docs = star(s, dir, "documents").df
      val w = UnigramLm.importanceWeights(docs,
        docs.filter(col("lang") === "en"), docs, "doc_id", "text")
      graft.functions.Mixing.gumbelTopK(w, "doc_id", "logratio",
        k = 100, temperature = 0.5)
    }),

    // PII redaction with PLANTED addresses: docs 0-19 get a synthetic
    // email + IPv4 appended (same construction in the oracle), then the
    // corpus is scrubbed with RE2-∩-Java-safe patterns. Counts AND the
    // full scrubbed text are hash-checked — a missed match, an
    // over-greedy class, or a dialect divergence breaks the row hash.
    "q_pii_scrub" -> ((s, dir) => {
      val docs = star(s, dir, "documents").df
      val planted = docs.withColumn("text",
        when(col("doc_id") < 20,
          concat(col("text"), lit(" reach user"),
            col("doc_id").cast("string"), lit("@example.com or 10.0."),
            (col("doc_id") % 256).cast("string"), lit("."),
            (col("doc_id") % 100).cast("string"), lit(" now")))
          .otherwise(col("text")))
      Text.regexRedact(planted, "doc_id", "text", Seq(
        ("email", "[a-z0-9._]+@[a-z0-9.]+\\.[a-z]{2,}", "[EMAIL]"),
        ("ip", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "[IP]")))
    })
  )

  /** 8 planted well-separated clusters from the first 8 corpus vectors:
    * group g = 10+g perturbed copies of base vector g (dim-0 shift ≤ 0.016
    * vs ≥ 1.19 between-base distance) — deterministic cluster recovery for
    * the k-means and trained-IVF oracles. */
  private def plantedClusters(s: SparkSession, dir: String): DataFrame =
    star(s, dir, "embeddings").df
      .filter(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding"),
        explode(sequence(lit(0L), col("vec_id") + 9)).as("copy"))
      .select((col("vec_id") * 1000 + col("copy")).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === 0, x + col("copy").cast(FloatType) * lit(0.001f))
            .otherwise(x)).as("embedding"))

  /** Build-once-per-dataset MinHash-LSH index over the reference corpus
    * (docs >= 10), memoized on disk; `_params.json` is written LAST by
    * writeMinhashIndex, so it doubles as the success marker. */
  private def minhashIndexFor(s: SparkSession, dir: String): String = {
    val path = Tables.memoDir("mhidx", dir, "mhidx")
    if (!java.nio.file.Files.exists(
        java.nio.file.Paths.get(path, "_params.json")))
      Dedup.writeMinhashIndex(
        star(s, dir, "documents").df.filter(col("doc_id") >= 10)
          .select(col("doc_id"), col("text")),
        "doc_id", "text", path, shingleSize = 2, numHashes = 32, bands = 8)
    path
  }

  /** Build-once-per-dataset ANN index of `rows` under the JVM temp dir,
    * keyed by the source directory and a variant (testdata is immutable
    * within a run), so Verify and Bench share one build per dataset per
    * host. `_ann_index.json` is written LAST by AnnIndex.write, so it
    * gates the rebuild: a build that stopped midway is rebuilt, never
    * probed. */
  private def annIndexFor(s: SparkSession, dir: String, prefix: String,
                          variant: String, rows: => DataFrame,
                          spec: AnnSpec): String = {
    val path = Tables.memoDir(prefix, dir, s"$variant|ann")
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path, AnnIndex.MetaFile)))
      AnnIndex.write(rows, "embedding", "vec_id", path, spec)
    path
  }

  /** Trained IVF index (k-means lists, raw vectors) over the planted
    * clusters. */
  private[graft] def ivfIndexFor(s: SparkSession, dir: String): String =
    annIndexFor(s, dir, "ivf", "ivfplant8", plantedClusters(s, dir),
      AnnSpec(AnnSpec.KMeans(nlist = 8)))

  /** PQ index (no lists) over the planted clusters. */
  private def pqIndexFor(s: SparkSession, dir: String): String =
    annIndexFor(s, dir, "pq", "pqplant8", plantedClusters(s, dir),
      AnnSpec(AnnSpec.Flat, AnnSpec.Pq(m = 8, k = 16, iters = 3)))

  /** IVF-PQ index (k-means lists × PQ codes) over the planted clusters. */
  private def ivfpqIndexFor(s: SparkSession, dir: String): String =
    annIndexFor(s, dir, "ivfpq", "ivfpqplant8", plantedClusters(s, dir),
      AnnSpec(AnnSpec.KMeans(nlist = 8, iters = 3), AnnSpec.Pq(m = 8, k = 16, iters = 3)))

  /** CDC chunk derivation shared by q_doc_cdc and q_cdc_dedup: cut where
    * the trailing 16-char window's polynomial hash (left fold
    * (acc·257 + codepoint) mod 1048573) ≡ 0 (mod 64) — the exact mirror
    * of Packing.chunkContentDefined. */
  /** Programmatically unrolled BPE training mirror: k rounds of weighted
    * pair counts + (cnt desc, l asc, r asc) argmax + literal-replace merge
    * application over the word-frequency table — the exact image of
    * Bpe.trainMerges. CTEs are MATERIALIZED (the HITS lesson: DuckDB's
    * default inlining re-evaluates each generation per consumer, which is
    * exponential in rounds). */
  private def bpeTrainCtes(k: Int): String = {
    val b = new StringBuilder
    b ++= """WITH v0 AS MATERIALIZED (
      |  SELECT ' ' || array_to_string(string_split(w, ''), ' ') || ' </w> '
      |      AS seq, freq
      |  FROM (SELECT w, count(*) AS freq FROM (
      |    SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
      |    FROM documents) GROUP BY w))""".stripMargin
    for (r <- 1 to k) {
      b ++= s""",
      |p$r AS MATERIALIZED (
      |  SELECT t[i] AS l, t[i + 1] AS r, sum(freq) AS cnt
      |  FROM (SELECT string_split(trim(seq), ' ') AS t, freq FROM v${r - 1}),
      |       unnest(range(1, len(t))) AS u(i)
      |  GROUP BY 1, 2),
      |b$r AS MATERIALIZED (
      |  SELECT l, r, cnt FROM p$r ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
      |v$r AS MATERIALIZED (
      |  SELECT replace(seq,
      |      ' ' || (SELECT l FROM b$r) || ' ' || (SELECT r FROM b$r) || ' ',
      |      ' ' || (SELECT l FROM b$r) || (SELECT r FROM b$r) || ' ') AS seq,
      |    freq
      |  FROM v${r - 1})""".stripMargin
    }
    b.toString
  }

  private def bpeMergesOracle(k: Int): String =
    bpeTrainCtes(k) + (1 to k).map(r =>
      s"SELECT $r AS step, l AS left_sym, r AS right_sym, l || r AS merged, " +
        s"CAST(cnt AS BIGINT) AS pair_count FROM b$r")
      .mkString("\n", "\nUNION ALL\n", "")

  /** Train (unrolled CTEs) then tokenize: the k trained merges applied to
    * every document as the same nested literal-replace chain. */
  private def bpeTokenizeOracle(k: Int): String = {
    // NOTE: no stripMargin around interpolated fragments — embedded lines
    // beginning with '||' would lose their operator to margin stripping.
    val seq0 =
      "' ' || array_to_string(list_transform(" +
        "list_filter(string_split_regex(trim(text), '\\s+'), w -> w <> ''), " +
        "w -> array_to_string(string_split(w, ''), ' ')), ' </w> ') || ' </w> '"
    val applied = (1 to k).foldLeft(seq0) { (acc, r) =>
      s"replace($acc,\n  " +
        s"' ' || (SELECT l FROM b$r) || ' ' || (SELECT r FROM b$r) || ' ',\n  " +
        s"' ' || (SELECT l FROM b$r) || (SELECT r FROM b$r) || ' ')"
    }
    bpeTrainCtes(k) +
      "\nSELECT doc_id,\n" +
      s"  CAST(len(string_split(trim($applied), ' ')) AS BIGINT) AS n_bpe,\n" +
      "  CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_words\n" +
      "FROM documents"
  }

  private val cdcChunkCtes: String = cdcChunkCtesFrom("documents")

  /** Same CTE chain over an arbitrary source relation (q_cdc_span_dedup
    * runs it over a planted-copy corpus). */
  private def cdcChunkCtesFrom(src: String): String =
    s"""base AS (
      |  SELECT doc_id, text, length(text) AS n,
      |    [ascii(c) FOR c IN string_split(text, '')] AS codes
      |  FROM $src),
      |cuts AS (
      |  SELECT doc_id, text, n,
      |    CASE WHEN n >= 16 THEN
      |      [i FOR i IN range(16, n + 1)
      |       IF i < n AND list_reduce(list_prepend(0, codes[i - 15 : i]),
      |                      (acc, x) -> (acc * 257 + x) % 1048573) % 64 = 0]
      |    ELSE [] END AS cs
      |  FROM base),
      |bounds AS (
      |  SELECT doc_id, text, list_concat(list_concat([0], cs), [n]) AS b
      |  FROM cuts),
      |cdc_chunks AS (
      |  SELECT doc_id, j AS chunk_idx,
      |    b[j] + 1 AS cstart, b[j + 1] AS cend,
      |    substring(text, b[j] + 1, b[j + 1] - b[j]) AS ctxt,
      |    md5(substring(text, b[j] + 1, b[j + 1] - b[j])) AS fp
      |  FROM bounds, unnest(range(1, len(b))) AS t(j))""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q_doc_tokens" ->
      """SELECT doc_id,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |  CAST(list_sum(list_transform(string_split_regex(trim(text), '\s+'),
        |    t -> CAST(ceil(length(t) / 4.0) AS BIGINT))) AS BIGINT) AS n_tokens_bpe,
        |  CAST(length(text) AS BIGINT) AS n_chars_m,
        |  CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |    t -> t IN ('the', 'a'))) AS BIGINT) AS n_stop
        |FROM documents""".stripMargin,

    "q_doc_langid" ->
      """SELECT doc_id, lang, CASE WHEN h_en >= h_es AND h_en >= h_de AND h_en >= h_fr AND h_en >= h_zh THEN 'en' WHEN h_es >= h_de AND h_es >= h_fr AND h_es >= h_zh THEN 'es' WHEN h_de >= h_fr AND h_de >= h_zh THEN 'de' WHEN h_fr >= h_zh THEN 'fr' ELSE 'zh' END AS lang_pred
        |FROM (
        |  SELECT doc_id, lang,
        |    len(list_filter(toks, t -> t IN ('the', 'a', 'and', 'of', 'to', 'in', 'is', 'that', 'it', 'for'))) AS h_en,
        |    len(list_filter(toks, t -> t IN ('el', 'la', 'de', 'que', 'y', 'en', 'un', 'los', 'se', 'del'))) AS h_es,
        |    len(list_filter(toks, t -> t IN ('der', 'die', 'und', 'das', 'ist', 'von', 'mit', 'den', 'ein', 'zu'))) AS h_de,
        |    len(list_filter(toks, t -> t IN ('le', 'la', 'de', 'et', 'les', 'des', 'un', 'une', 'du', 'est'))) AS h_fr,
        |    len(list_filter(toks, t -> t IN ('的', '是', '了', '在', '和', '有', '我', '不', '这', '他'))) AS h_zh
        |  FROM (SELECT doc_id, lang, string_split_regex(trim(text), '\\s+') AS toks
        |        FROM documents)
        |)""".stripMargin,

    "q_doc_quality" ->
      """SELECT doc_id,
        |  CASE WHEN len(toks) = 0 THEN 0.0
        |    ELSE PINNED_AWL
        |    END AS avg_word_len,
        |  CASE WHEN len(toks) = 0 THEN 0.0
        |    ELSE PINNED_STOPR
        |    END AS stop_ratio,
        |  CASE WHEN length(text) = 0 THEN 0.0
        |    ELSE PINNED_DIGR END AS digit_ratio
        |FROM (SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS toks
        |      FROM documents)""".stripMargin
        .replace("PINNED_AWL", Tables.pinnedRatioSql(
          "list_sum(list_transform(toks, t -> length(t)))", "len(toks)", 6))
        .replace("PINNED_STOPR", Tables.pinnedRatioSql(
          "len(list_filter(toks, t -> t IN ('the', 'a')))", "len(toks)", 6))
        .replace("PINNED_DIGR", Tables.pinnedRatioSql(
          "length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))",
          "length(text)", 6)),

    "q_doc_langdist" ->
      """SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents GROUP BY lang""".stripMargin,

    "q_doc_fingerprint" ->
      "SELECT doc_id, md5(text) AS fp FROM documents",

    "q_doc_gopher" ->
      """SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_words,
        |  CASE WHEN len(toks) = 0 THEN 0.0
        |    ELSE PINNED_GMWL
        |    END AS mean_word_len,
        |  CASE WHEN len(toks) = 0 THEN 1.0
        |    ELSE PINNED_GSYM
        |    END AS symbol_ratio,
        |  CASE WHEN len(toks) = 0 THEN 0.0
        |    ELSE PINNED_GALP
        |    END AS alpha_frac,
        |  CAST(len(list_filter(toks, t -> t IN ('the', 'a'))) AS BIGINT) AS n_stop,
        |  CAST(CASE WHEN len(toks) BETWEEN 50 AND 100000
        |    AND (CASE WHEN len(toks) = 0 THEN 0.0
        |         ELSE CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks) END)
        |        BETWEEN 3.0 AND 10.0
        |    AND (CASE WHEN len(toks) = 0 THEN 1.0
        |         ELSE CAST(len(regexp_extract_all(text, '#|\.\.\.|…')) AS DOUBLE) / len(toks) END) < 0.1
        |    AND (CASE WHEN len(toks) = 0 THEN 0.0
        |         ELSE CAST(len(regexp_extract_all(text, '(?m)^\s*(?:[-*•‣▪])')) AS DOUBLE)
        |           / len(string_split(text, chr(10))) END) < 0.9
        |    AND (CASE WHEN len(toks) = 0 THEN 0.0
        |         ELSE CAST(len(regexp_extract_all(text, '(?m)(?:\.\.\.|…)\s*$')) AS DOUBLE)
        |           / len(string_split(text, chr(10))) END) < 0.3
        |    AND (CASE WHEN len(toks) = 0 THEN 0.0
        |         ELSE CAST(len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE) / len(toks) END) >= 0.8
        |    AND len(list_filter(toks, t -> t IN ('the', 'a'))) >= 2
        |    THEN 1 ELSE 0 END AS INT) AS passes
        |FROM (SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS toks
        |      FROM documents)""".stripMargin
        .replace("PINNED_GMWL", Tables.pinnedRatioSql(
          "list_sum(list_transform(toks, t -> length(t)))", "len(toks)", 6))
        .replace("PINNED_GSYM", Tables.pinnedRatioSql(
          "len(regexp_extract_all(text, '#|\\.\\.\\.|…'))", "len(toks)", 6))
        .replace("PINNED_GALP", Tables.pinnedRatioSql(
          "len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]')))",
          "len(toks)", 6)),

    "q_doc_c4" -> {
      s"""WITH $sentencedSql
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t, '[.!?]')) AS BIGINT) AS n_sentences,
         |  CAST(CASE WHEN contains(t, '{') THEN 1 ELSE 0 END AS INT) AS has_brace,
         |  CAST(CASE WHEN contains(lower(t), 'lorem ipsum') THEN 1 ELSE 0 END AS INT) AS has_lorem,
         |  CAST(CASE WHEN contains(lower(t), 'javascript') THEN 1 ELSE 0 END AS INT) AS has_js,
         |  CAST(CASE WHEN NOT contains(t, '{')
         |    AND NOT contains(lower(t), 'lorem ipsum')
         |    AND NOT contains(lower(t), 'javascript')
         |    AND len(regexp_extract_all(t, '[.!?]')) >= 3
         |    THEN 1 ELSE 0 END AS INT) AS passes
         |FROM sview""".stripMargin
    },

    "q_doc_readability" -> {
      s"""WITH $sentencedSql,
         |cnt AS (
         |  SELECT doc_id,
         |    CAST(len(string_split_regex(trim(t), '\\s+')) AS DOUBLE) AS w,
         |    CAST(len(regexp_extract_all(t, '[.!?]+')) AS DOUBLE) AS sr,
         |    CAST(len(regexp_extract_all(t, '[AEIOUYaeiouy]+')) AS DOUBLE) AS syl
         |  FROM sview)
         |SELECT doc_id, CAST(w AS BIGINT) AS n_words,
         |  CAST(sr AS BIGINT) AS n_sentences, CAST(syl AS BIGINT) AS n_syllables,
         |  CAST(floor((206.835 - 1.015 * (w / greatest(sr, 1.0))
         |    - 84.6 * (syl / greatest(w, 1.0))) * 10000.0 + 0.5) AS DOUBLE)
         |    / 10000.0 AS fre,
         |  CAST(floor((0.39 * (w / greatest(sr, 1.0)) + 11.8 * (syl / greatest(w, 1.0))
         |    - 15.59) * 10000.0 + 0.5) AS DOUBLE) / 10000.0 AS fk_grade
         |FROM cnt""".stripMargin
    },

    "q_url_canonical" ->
      """WITH u0 AS (
        |  SELECT doc_id,
        |    'HTTPS://' || upper(source) || '.Example.COM:443/docs/' || doc_id ||
        |    '/page?utm_source=feed&id=' || doc_id || '&utm_campaign=x&ref=tw#sec-2' AS url
        |  FROM documents),
        |c1 AS (SELECT doc_id, url,
        |  lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*')) ||
        |    substring(url, length(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*')) + 1) AS s
        |  FROM u0),
        |c2 AS (SELECT doc_id, url, regexp_replace(s, '#.*$', '', 'g') AS s FROM c1),
        |c3 AS (SELECT doc_id, url,
        |  regexp_replace(s, '(utm_[A-Za-z0-9]+|fbclid|gclid|msclkid|ref)=[^&#]*', '', 'g') AS s
        |  FROM c2),
        |c4 AS (SELECT doc_id, url,
        |  regexp_replace(regexp_replace(regexp_replace(s, '&+', '&', 'g'),
        |    '\?&', '?', 'g'), '[?&]+$', '', 'g') AS s FROM c3),
        |c5 AS (SELECT doc_id, url,
        |  regexp_replace(s, '^([a-z]+://[^/?#:]*):(?:80|443)([/?]|$)', '\1\2', 'g') AS s
        |  FROM c4)
        |SELECT doc_id, url, regexp_replace(s, '/$', '', 'g') AS canonical FROM c5""".stripMargin,

    "q_source_rebalance" ->
      """WITH counts AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
        |kept AS (
        |  SELECT d.source FROM documents d JOIN counts c USING (source)
        |  WHERE (CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 5) AS BIGINT)
        |         % 10000) * c.n < 15 * 10000
        |)
        |SELECT c.source, CAST(c.n AS BIGINT) AS n_before,
        |  CAST(coalesce(k.n_after, 0) AS BIGINT) AS n_after
        |FROM counts c
        |LEFT JOIN (SELECT source, count(*) AS n_after FROM kept GROUP BY source) k
        |  USING (source)""".stripMargin,

    "q_doc_cdc" ->
      s"""WITH $cdcChunkCtes
        |SELECT doc_id, chunk_idx, cstart, cend, fp FROM cdc_chunks""".stripMargin,

    "q_cdc_dedup" ->
      s"""WITH $cdcChunkCtes,
        |per AS (SELECT fp, count(*) AS cnt, max(cend - cstart + 1) AS len
        |        FROM cdc_chunks GROUP BY fp)
        |SELECT CAST(sum(cnt) AS BIGINT) AS n_chunks,
        |  CAST(count(*) AS BIGINT) AS n_unique,
        |  CAST(sum(cnt) - count(*) AS BIGINT) AS n_dup,
        |  CAST(sum(cnt * len) AS BIGINT) AS bytes_total,
        |  CAST(sum(len) AS BIGINT) AS bytes_unique,
        |  ${Tables.pinnedRatioSql("sum(cnt * len)", "sum(len)", 4)}
        |    AS dedup_ratio
        |FROM per""".stripMargin,

    "q_cdc_span_dedup" ->
      s"""WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 5),
        |${cdcChunkCtesFrom("corpus")},
        |marked AS (
        |  SELECT doc_id, chunk_idx, cstart, cend, ctxt,
        |    row_number() OVER (PARTITION BY fp ORDER BY doc_id, chunk_idx) = 1
        |      AS keep
        |  FROM cdc_chunks)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  coalesce(string_agg(ctxt, '' ORDER BY chunk_idx)
        |    FILTER (WHERE keep), '') AS clean_text,
        |  CAST(count(*) FILTER (WHERE keep) AS BIGINT) AS n_kept,
        |  CAST(count(*) FILTER (WHERE NOT keep) AS BIGINT) AS n_removed,
        |  CAST(coalesce(sum(cend - cstart + 1) FILTER (WHERE NOT keep), 0)
        |    AS BIGINT) AS chars_removed
        |FROM marked GROUP BY doc_id""".stripMargin,

    "q_collocations" ->
      """WITH toks AS (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
        |  FROM documents),
        |uni AS (SELECT w, count(*) AS c FROM toks GROUP BY w),
        |tot1 AS (SELECT sum(c) AS n1 FROM uni),
        |bi AS (
        |  SELECT t[i] AS w1, t[i + 1] AS w2
        |  FROM (SELECT string_split_regex(trim(text), '\s+') AS t
        |        FROM documents),
        |       unnest(range(1, len(t))) AS u(i)
        |  WHERE len(t) >= 2),
        |bic AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY w1, w2),
        |tot2 AS (SELECT sum(c12) AS n2 FROM bic)
        |SELECT w1 || ' ' || w2 AS bigram, CAST(c12 AS BIGINT) AS c12,
        |  round(ln(CAST(c12 AS DOUBLE) * CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE)
        |    / (CAST(c1.c AS DOUBLE) * CAST(c2.c AS DOUBLE)
        |       * CAST(n2 AS DOUBLE))), 6) AS pmi
        |FROM bic
        |JOIN uni c1 ON bic.w1 = c1.w
        |JOIN uni c2 ON bic.w2 = c2.w
        |CROSS JOIN tot1 CROSS JOIN tot2
        |WHERE c12 >= 3
        |ORDER BY pmi DESC, bigram ASC
        |LIMIT 50""".stripMargin,

    "q_gram_novelty" ->
      """WITH grams AS (
        |  SELECT doc_id,
        |    unnest(list_distinct([t[i] || ' ' || t[i + 1]
        |                          FOR i IN range(1, len(t))])) AS g
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |        FROM documents)
        |  WHERE len(t) >= 2),
        |fs AS (SELECT g, min(doc_id) AS first_id FROM grams GROUP BY g)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(count(*) FILTER (WHERE first_id = doc_id) AS BIGINT) AS n_novel,
        |  PINNED_NOVELTY AS novelty
        |FROM grams JOIN fs USING (g)
        |GROUP BY doc_id""".stripMargin
        .replace("PINNED_NOVELTY", Tables.pinnedRatioSql(
          "count(*) FILTER (WHERE first_id = doc_id)", "count(*)", 6)),

    "q_bpe_merges" -> bpeMergesOracle(8),

    "q_bpe_tokenize" -> bpeTokenizeOracle(8),

    "q_keyness" ->
      """WITH tok AS (
        |  SELECT lang AS grp,
        |    unnest(string_split_regex(trim(text), '\s+')) AS token
        |  FROM documents),
        |ag AS (SELECT grp, token, count(*) AS cnt FROM tok GROUP BY 1, 2),
        |ctt AS (SELECT token, sum(cnt) AS ct FROM ag GROUP BY 1),
        |g1 AS (SELECT grp, sum(cnt) AS n1 FROM ag GROUP BY 1),
        |tot AS (SELECT sum(cnt) AS nn FROM ag),
        |j AS (
        |  SELECT grp, token, cnt, ct, n1, nn,
        |    ct - cnt AS b, nn - n1 AS n2
        |  FROM ag JOIN ctt USING (token) JOIN g1 USING (grp) CROSS JOIN tot
        |  WHERE cnt >= 5
        |    AND CAST(cnt AS HUGEINT) * nn > CAST(n1 AS HUGEINT) * ct),
        |sc AS (
        |  SELECT grp, token, cnt,
        |    CAST((cnt * CAST(round(ln(CAST(cnt AS DOUBLE) * CAST(nn AS DOUBLE)
        |            / (CAST(n1 AS DOUBLE) * CAST(ct AS DOUBLE))), 6)
        |          AS DECIMAL(18,6))
        |      + CASE WHEN b = 0 THEN CAST(0 AS DECIMAL(28,6))
        |        ELSE b * CAST(round(ln(CAST(b AS DOUBLE) * CAST(nn AS DOUBLE)
        |            / (CAST(n2 AS DOUBLE) * CAST(ct AS DOUBLE))), 6)
        |          AS DECIMAL(18,6)) END) * 2 AS DECIMAL(28,6)) AS keyness
        |  FROM j),
        |r AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY grp ORDER BY keyness DESC, token ASC) AS rank
        |  FROM sc)
        |SELECT grp AS lang, token, CAST(cnt AS BIGINT) AS cnt,
        |  CAST(keyness AS DOUBLE) AS keyness, rank
        |FROM r WHERE rank <= 5""".stripMargin,

    "q_zipf" ->
      """WITH tok AS (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
        |  FROM documents),
        |c AS (SELECT token, count(*) AS c FROM tok GROUP BY 1),
        |r AS (SELECT token, c,
        |        row_number() OVER (ORDER BY c DESC, token ASC) AS rank
        |      FROM c),
        |xy AS (
        |  SELECT CAST(round(ln(CAST(rank AS DOUBLE)), 6) AS DECIMAL(18,6)) AS x,
        |         CAST(round(ln(CAST(c AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y
        |  FROM r WHERE rank <= 100),
        |s AS (
        |  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(CAST(x * x AS DECIMAL(38,12))) AS sxx,
        |    sum(CAST(x * y AS DECIMAL(38,12))) AS sxy
        |  FROM xy)
        |SELECT CAST(n AS BIGINT) AS n_terms,
        |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope,
        |  round((CAST(sy AS DOUBLE)
        |      - round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |        / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
        |        * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6) AS intercept
        |FROM s""".stripMargin,

    "q_cluster_split" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 5),
        |grp AS (
        |  SELECT doc_id,
        |    min(doc_id) OVER (PARTITION BY text) AS rep,
        |    count(*) OVER (PARTITION BY text) AS sz
        |  FROM all_docs)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(rep AS BIGINT) AS cluster_rep,
        |  CASE WHEN b < 90 THEN 'train'
        |       WHEN b < 95 THEN 'validation'
        |       ELSE 'test' END AS split
        |FROM (SELECT doc_id, rep,
        |        CAST('0x' || substring(md5(CAST(rep AS VARCHAR)), 1, 4) AS INTEGER)
        |          % 100 AS b
        |      FROM grp WHERE sz > 1)""".stripMargin,

    "q_doc_topic" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id,
        |    len(list_filter(toks, t -> t IN ('fast','slow','big','small')))
        |      AS s_perf,
        |    len(list_filter(toks, t -> t IN ('query','join','filter','group',
        |      'sort','agg','window','order'))) AS s_rel,
        |    len(list_filter(toks, t -> t IN ('table','row','column','scan',
        |      'hash','merge','batch','key','value','data','part'))) AS s_stor,
        |    len(list_filter(toks, t -> t IN ('stream','spark','line','vector',
        |      'customer'))) AS s_stream
        |  FROM tok)
        |SELECT doc_id, CAST(s_perf AS BIGINT) AS score_perf,
        |  CAST(s_rel AS BIGINT) AS score_rel,
        |  CAST(s_stor AS BIGINT) AS score_storage,
        |  CAST(s_stream AS BIGINT) AS score_stream,
        |  CASE WHEN s_perf >= s_rel AND s_perf >= s_stor AND s_perf >= s_stream
        |         THEN 'perf'
        |       WHEN s_rel >= s_stor AND s_rel >= s_stream THEN 'relational'
        |       WHEN s_stor >= s_stream THEN 'storage'
        |       ELSE 'streaming' END AS topic
        |FROM sc""".stripMargin,

    "q_emb_covariance" ->
      """WITH q AS (
        |  SELECT [CAST(floor(CAST(e AS DOUBLE) * 1000 + 0.5) AS BIGINT)
        |          FOR e IN embedding[1:16]] AS qv
        |  FROM embeddings),
        |pr AS (
        |  SELECT ti.i AS i, tj.j AS j, qv[ti.i + 1] AS qi, qv[tj.j + 1] AS qj
        |  FROM q, range(0, 16) ti(i), range(0, 16) tj(j)
        |  WHERE tj.j >= ti.i),
        |g AS (
        |  SELECT i, j, count(*) AS n, sum(qi) AS sqi, sum(qj) AS sqj,
        |    sum(qi * qj) AS spp
        |  FROM pr GROUP BY i, j)
        |SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
        |  PINNED_COV AS cov
        |FROM g""".stripMargin
        .replace("PINNED_COV", Tables.pinnedRatioSql(
          "n * spp - sqi * sqj", "n * n * 1000000", 8)),

    "q_doc_entropy" ->
      """WITH c AS (
        |  SELECT doc_id, length(text) AS n,
        |    unnest(string_split(text, '')) AS ch
        |  FROM documents WHERE length(text) > 0),
        |g AS (SELECT doc_id, n, ch, count(*) AS c FROM c GROUP BY 1, 2, 3),
        |t AS (
        |  SELECT doc_id, n,
        |    CAST(c * CAST(round(log2(CAST(n AS DOUBLE) / c), 6) AS DECIMAL(18,6))
        |         AS DECIMAL(28,6)) AS term
        |  FROM g)
        |SELECT doc_id, PINNED_MEAN_ENTROPY AS entropy
        |FROM t GROUP BY doc_id, n""".stripMargin
        .replace("PINNED_MEAN_ENTROPY",
          Tables.pinnedMeanSql("sum(term)", "n", 6, 4)),

    "q_tfidf_terms" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(text), '\s+')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfx AS (SELECT token, count(*) AS dfreq FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |sc AS (
        |  SELECT doc_id, token,
        |    CAST(tf * CAST(round(ln(CAST((SELECT n FROM n) AS DOUBLE) / dfreq), 6)
        |         AS DECIMAL(18,6)) AS DECIMAL(28,6)) AS score
        |  FROM tf JOIN dfx USING (token)),
        |r AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY score DESC, token ASC) AS rank
        |  FROM sc)
        |SELECT doc_id, token, CAST(score AS DOUBLE) AS score, rank
        |FROM r WHERE rank <= 3""".stripMargin,

    "q_temperature_mix" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |s AS (SELECT lang, n,
        |        CAST(floor(sqrt(CAST(n AS DOUBLE) * 10000000000)) AS HUGEINT) AS sl
        |      FROM c),
        |t AS (SELECT lang, n, sl, sum(sl) OVER () AS stot FROM s),
        |thr AS (SELECT lang,
        |          CAST((CAST(250 AS HUGEINT) * sl * 10000)
        |               // (stot * CAST(n AS HUGEINT)) AS BIGINT) AS thr
        |        FROM t),
        |kept AS (
        |  SELECT d.lang FROM documents d JOIN thr USING (lang)
        |  WHERE (CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 5) AS BIGINT)
        |         % 10000) < thr)
        |SELECT lang, count(*) AS n_kept FROM kept GROUP BY lang""".stripMargin,

    "q_doc_redact" ->
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(text || ' contact: a.b@example.com or 192.168.0.1',
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
        |    '\+?[0-9][0-9()\-\s]{7,}[0-9]', '<PHONE>', 'g') AS redacted
        |FROM documents""".stripMargin,

    "q_dataset_card" ->
      """WITH base AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS n_chars,
        |    CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
        |      AS n_tokens,
        |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |    CAST(coalesce(sum(CASE WHEN lang = 'en' THEN 1 END), 0) AS BIGINT)
        |      AS n_en,
        |    CAST(coalesce(sum(CASE WHEN n_chars < 100 THEN 1 END), 0) AS BIGINT)
        |      AS n_short
        |  FROM documents),
        |dups AS (
        |  SELECT CAST(sum(c - 1) AS BIGINT) AS n_dups FROM (
        |    SELECT md5(text) AS h, count(*) AS c FROM documents GROUP BY 1))
        |SELECT n_docs, n_chars, n_tokens, n_langs,
        |  PCT_EN AS pct_en,
        |  PCT_SHORT AS pct_short,
        |  DUP_RATE AS dup_rate
        |FROM base, dups""".stripMargin
        .replace("PCT_EN", Tables.pinnedRatioSql("n_en", "n_docs", 6))
        .replace("PCT_SHORT", Tables.pinnedRatioSql("n_short", "n_docs", 6))
        .replace("DUP_RATE", Tables.pinnedRatioSql("n_dups", "n_docs", 6)),

    "q_doc_blocklist" -> {
      val termsSql =
        blocklistTerms.map(t => s"'${t.replace("'", "''")}'").mkString(", ")
      s"""SELECT doc_id,
         |  CAST(len(hits) AS BIGINT) AS n_terms_hit,
         |  coalesce(array_to_string(hits, ','), '') AS terms_hit,
         |  len(hits) > 0 AS flagged
         |FROM (
         |  SELECT doc_id,
         |    list_filter([$termsSql], t -> contains(text, t)) AS hits
         |  FROM documents)""".stripMargin
    },

    "q_dedup_exact" ->
      """SELECT doc_id, lang, source FROM (
        |  SELECT doc_id, lang, source,
        |    row_number() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn
        |  FROM documents
        |) WHERE rn = 1""".stripMargin,

    "q_dedup_content" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin,

    "q_ngram_jaccard" ->
      """SELECT id_a, id_b,
        |  CASE WHEN len(list_distinct(list_concat(ta, tb))) = 0 THEN 0.0
        |    ELSE PINNED_NJ END AS jaccard
        |FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    string_split_regex(trim(a.text), '\s+') AS ta,
        |    string_split_regex(trim(b.text), '\s+') AS tb
        |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |)""".stripMargin
        .replace("PINNED_NJ", Tables.pinnedRatioSql(
          "len(list_intersect(list_distinct(ta), list_distinct(tb)))",
          "len(list_distinct(list_concat(ta, tb)))", 6)),

    // The quadratic reference formulation the prefix-filtered engine must
    // match exactly: overlap from the full token self-join, jac as the
    // same single IEEE division, same >= 0.9 double comparison.
    "q_containment" ->
      """WITH en AS (SELECT doc_id, text FROM documents WHERE lang = 'en'),
        |d2 AS MATERIALIZED (
        |  SELECT doc_id, text FROM en
        |  UNION ALL
        |  SELECT doc_id + 800000,
        |    array_to_string(list_slice(string_split_regex(trim(text), '\s+'),
        |      1, greatest(len(string_split_regex(trim(text), '\s+')) // 2, 1)),
        |      ' ')
        |  FROM en WHERE doc_id < 100),
        |t AS MATERIALIZED (
        |  SELECT DISTINCT doc_id, token FROM (
        |    SELECT doc_id,
        |      unnest(string_split_regex(trim(text), '\s+')) AS token
        |    FROM d2)),
        |sz AS (SELECT doc_id, count(*) AS n FROM t GROUP BY 1),
        |ov AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS overlap
        |  FROM t a JOIN t b ON a.token = b.token AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2)
        |SELECT ov.id_a, ov.id_b, CAST(ov.overlap AS INTEGER) AS overlap,
        |  CAST(ov.overlap AS DOUBLE) / sa.n AS containment
        |FROM ov JOIN sz sa ON sa.doc_id = ov.id_a
        |WHERE CAST(ov.overlap AS DOUBLE) / sa.n >= 0.98""".stripMargin,

    "q_setsim_join" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(list_distinct(string_split_regex(trim(text), '\s+'))) AS token
        |  FROM documents
        |), sizes AS (
        |  SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id
        |), ov AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS overlap
        |  FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT id_a, id_b, overlap,
        |  CAST(overlap AS DOUBLE) / (sa.n + sb.n - overlap) AS jac
        |FROM ov
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |WHERE CAST(overlap AS DOUBLE) / (sa.n + sb.n - overlap) >= 0.95""".stripMargin,

    "q_dedup_embedding" ->
      """SELECT vec_id AS idA, CAST(vec_id + 100000 AS BIGINT) AS idB, CAST(1.0 AS DOUBLE) AS cosine
        |FROM embeddings WHERE vec_id < 5""".stripMargin,

    // Every identical-text pair — the planted copies AND any natural exact
    // duplicates in the corpus (sf0.1 has 8) — must be surfaced by the LSH
    // pipeline: identical text → identical signature → every pair of the
    // group shares all buckets and expands.
    "q_dedup_minhash" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 5
        |)
        |SELECT CAST(a.doc_id AS BIGINT) AS idA, CAST(b.doc_id AS BIGINT) AS idB
        |FROM all_docs a JOIN all_docs b
        |  ON a.text = b.text AND a.doc_id < b.doc_id""".stripMargin,

    "q_dedup_incremental" ->
      """WITH newd AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 10
        |  UNION ALL
        |  SELECT doc_id + 200000 AS doc_id, text FROM documents
        |  WHERE doc_id BETWEEN 10 AND 14),
        |refd AS (SELECT doc_id, text FROM documents WHERE doc_id >= 10)
        |SELECT CAST(n.doc_id AS BIGINT) AS idNew, CAST(r.doc_id AS BIGINT) AS idRef
        |FROM newd n JOIN refd r ON n.text = r.text""".stripMargin,

    "q_dedup_keep_best" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text FROM documents
        |  WHERE doc_id < 5),
        |q AS (SELECT doc_id, text, doc_id % 7 AS quality FROM all_docs),
        |g AS (
        |  SELECT doc_id, quality,
        |    row_number() OVER (PARTITION BY text
        |      ORDER BY quality DESC, doc_id ASC) AS rn,
        |    count(*) OVER (PARTITION BY text) AS n
        |  FROM q)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(quality AS BIGINT) AS quality
        |FROM g WHERE n = 1 OR rn = 1""".stripMargin,

    "q_source_gram_overlap" ->
      """WITH docs AS (SELECT source, string_split_regex(trim(text), '\s+') AS toks
        |              FROM documents),
        |grams AS (
        |  SELECT DISTINCT source, array_to_string(toks[i:i+3], ' ') AS g
        |  FROM docs, unnest(range(1, greatest(len(toks) - 4, 0) + 2)) AS t(i)),
        |sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n
        |          FROM grams GROUP BY 1),
        |sh AS (
        |  SELECT a.source AS src_a, b.source AS src_b,
        |    CAST(count(*) AS BIGINT) AS n_shared
        |  FROM grams a JOIN grams b ON a.g = b.g AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT sh.src_a, sh.src_b, sh.n_shared,
        |  PINNED_OVL AS overlap
        |FROM sh JOIN sizes sa ON sh.src_a = sa.source
        |JOIN sizes sb ON sh.src_b = sb.source
        |WHERE sh.n_shared >= 5""".stripMargin
        .replace("PINNED_OVL", Tables.pinnedRatioSql(
          "sh.n_shared", "least(sa.n, sb.n)", 6)),

    "q_concordance" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents WHERE doc_id < 100),
        |p AS (
        |  SELECT doc_id, toks, i - 1 AS pos
        |  FROM t, unnest(range(1, len(toks) + 1)) AS u(i)
        |  WHERE toks[i] = 'table')
        |SELECT doc_id, CAST(pos AS BIGINT) AS pos,
        |  coalesce(array_to_string(toks[greatest(pos - 3, 0) + 1 : pos],
        |    ' '), '') AS left_ctx,
        |  coalesce(array_to_string(toks[pos + 2 : pos + 4], ' '), '')
        |    AS right_ctx
        |FROM p""".stripMargin,

    "q_gram_novelty_cross" ->
      """WITH docs AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |              FROM documents),
        |grams AS (
        |  SELECT doc_id, array_to_string(toks[i:i+3], ' ') AS g
        |  FROM docs, unnest(range(1, greatest(len(toks) - 4, 0) + 2)) AS t(i)),
        |newg AS (SELECT DISTINCT doc_id, g FROM grams WHERE doc_id < 10),
        |refg AS (SELECT DISTINCT g FROM grams WHERE doc_id >= 10),
        |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
        |        FROM newg GROUP BY 1),
        |sn AS (SELECT n.doc_id, CAST(count(*) AS BIGINT) AS seen
        |       FROM newg n JOIN refg r ON n.g = r.g GROUP BY 1)
        |SELECT t.doc_id, t.n_grams,
        |  CAST(t.n_grams - coalesce(s.seen, 0) AS BIGINT) AS n_novel,
        |  PINNED_XNOV AS novelty
        |FROM tot t LEFT JOIN sn s ON t.doc_id = s.doc_id""".stripMargin
        .replace("PINNED_XNOV", Tables.pinnedRatioSql(
          "t.n_grams - coalesce(s.seen, 0)", "t.n_grams", 6)),

    "q_template_prefix" ->
      """WITH planted AS (
        |  SELECT doc_id, source,
        |    CASE WHEN source IN ('src0', 'src1', 'src2')
        |      THEN 'hdr ' || source || ' begin ' || text ELSE text END AS text
        |  FROM documents),
        |t AS (SELECT source, string_split_regex(trim(text), '\s+') AS toks
        |      FROM planted),
        |a AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    min(toks) AS mn, max(toks) AS mx
        |  FROM t GROUP BY source),
        |l AS (
        |  SELECT source, n_docs, mn,
        |    coalesce((SELECT min(i)
        |              FROM unnest(range(1, least(len(mn), len(mx)) + 1)) AS u(i)
        |              WHERE mn[i] IS DISTINCT FROM mx[i]),
        |             least(len(mn), len(mx)) + 1) - 1 AS lcp
        |  FROM a)
        |SELECT source, n_docs, CAST(lcp AS BIGINT) AS lcp_len,
        |  coalesce(array_to_string(mn[1:lcp], ' '), '') AS template_prefix
        |FROM l""".stripMargin,

    "q_match_distribution" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN lang = 'en' THEN 3 ELSE 1 END AS s,
        |    md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |c AS (SELECT lang, s, count(*) AS n FROM d GROUP BY 1, 2),
        |m AS (SELECT min(n // s) AS m FROM c),
        |r AS (
        |  SELECT doc_id, lang, s,
        |    row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn
        |  FROM d)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_kept
        |FROM r, m WHERE rn <= s * m
        |GROUP BY lang""".stripMargin,

    "q_source_interleave" ->
      """WITH d AS (
        |  SELECT doc_id, source, length(source) % 3 + 1 AS w,
        |    md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, source, w,
        |    row_number() OVER (PARTITION BY source ORDER BY h, doc_id)
        |      AS src_pos
        |  FROM d)
        |SELECT doc_id, source, CAST(src_pos AS BIGINT) AS src_pos,
        |  CAST(row_number() OVER (ORDER BY
        |    (2.0 * src_pos - 1.0) / (2.0 * w), source, doc_id) AS BIGINT)
        |    AS epoch_pos
        |FROM p""".stripMargin,

    // identical enumeration: the index path must give the same verified
    // pairs as the direct bipartite join
    "q_dedup_index" ->
      """WITH newd AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 10
        |  UNION ALL
        |  SELECT doc_id + 200000 AS doc_id, text FROM documents
        |  WHERE doc_id BETWEEN 10 AND 14),
        |refd AS (SELECT doc_id, text FROM documents WHERE doc_id >= 10)
        |SELECT CAST(n.doc_id AS BIGINT) AS idNew, CAST(r.doc_id AS BIGINT) AS idRef
        |FROM newd n JOIN refd r ON n.text = r.text""".stripMargin,

    "q_dedup_winnow" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 5
        |)
        |SELECT CAST(a.doc_id AS BIGINT) AS idA, CAST(b.doc_id AS BIGINT) AS idB
        |FROM all_docs a JOIN all_docs b
        |  ON a.text = b.text AND a.doc_id < b.doc_id""".stripMargin,

    "q_dedup_simhash" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 5
        |)
        |SELECT CAST(a.doc_id AS BIGINT) AS idA, CAST(b.doc_id AS BIGINT) AS idB
        |FROM all_docs a JOIN all_docs b
        |  ON a.text = b.text AND a.doc_id < b.doc_id""".stripMargin,

    // Planted-ANN top-10: exact Pythagorean cosines (see annTriples) — both
    // engines compute the identical double a/c before rounding.
    "q_ann_bruteforce" -> annOracle,
    "q_ann_lsh" -> annOracle,

    // the planted IVF probe returns exactly group 3's 13 member ids
    // (vec_id 3000..3012) — see the query comment for why this is fully
    // determined
    "q_emb_ivf_probe" ->
      "SELECT CAST(3000 + i AS BIGINT) AS vec_id FROM range(13) t(i)",

    // PQ ADC probe recovers the same planted family (see the query note).
    "q_emb_pq_probe" ->
      "SELECT CAST(3000 + i AS BIGINT) AS vec_id FROM range(13) t(i)",

    // PQ + exact re-rank: the same family, ranked by exact float cosine.
    "q_emb_pq_rerank" ->
      "SELECT CAST(3000 + i AS BIGINT) AS vec_id FROM range(13) t(i)",

    // IVF-PQ probe: same planted family through pruning + ADC composed.
    "q_emb_ivfpq_probe" ->
      "SELECT CAST(3000 + i AS BIGINT) AS vec_id FROM range(13) t(i)",

    // Planted k-means recovery: the size multiset 10..17 (labels are
    // engine-specific; sizes are fully determined by the construction).
    "q_emb_kmeans" ->
      "SELECT CAST(range AS BIGINT) AS n FROM range(10, 18)",

    "q_point_lookup" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id IN (3, 57, 120, 333, 444)""".stripMargin,

    "q_emb_stats" ->
      """SELECT label, count(*) AS n,
        |  round(min(CAST(embedding[1] AS DOUBLE)), 6) AS min_d0,
        |  round(max(CAST(embedding[1] AS DOUBLE)), 6) AS max_d0
        |FROM embeddings GROUP BY label""".stripMargin,

    "q_doc_normalize" ->
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[[:punct:]]', '', 'g'),
        |    '\s+', ' ', 'g')) AS norm,
        |  md5(trim(regexp_replace(regexp_replace(lower(text), '[[:punct:]]', '', 'g'),
        |    '\s+', ' ', 'g'))) AS norm_fp
        |FROM documents""".stripMargin,

    "q_corpus_stats" ->
      """SELECT d.n_docs, d.sum_chars, d.sum_tokens, l.n_langs
        |FROM (SELECT count(*) AS n_docs,
        |        CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |        CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
        |          AS sum_tokens
        |      FROM documents) d
        |CROSS JOIN (SELECT count(DISTINCT lang) AS n_langs FROM documents) l""".stripMargin,

    "q_decontaminate" ->
      """WITH docs AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |              FROM documents),
        |grams AS (
        |  SELECT doc_id, array_to_string(toks[i:i+3], ' ') AS g
        |  FROM docs, unnest(range(1, greatest(len(toks) - 4, 0) + 2)) AS t(i)
        |),
        |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id < 10)
        |SELECT g.doc_id, CAST(count(DISTINCT g.g) AS BIGINT) AS n_shared
        |FROM grams g JOIN bench b ON g.g = b.g
        |WHERE g.doc_id >= 10 GROUP BY g.doc_id""".stripMargin,

    "q_decontaminate_bloom" ->
      """WITH docs AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |              FROM documents),
        |grams AS (
        |  SELECT doc_id, array_to_string(toks[i:i+3], ' ') AS g
        |  FROM docs, unnest(range(1, greatest(len(toks) - 4, 0) + 2)) AS t(i)
        |),
        |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id < 10)
        |SELECT g.doc_id, CAST(count(DISTINCT g.g) AS BIGINT) AS n_shared
        |FROM grams g JOIN bench b ON g.g = b.g
        |WHERE g.doc_id >= 10 GROUP BY g.doc_id""".stripMargin,

    "q_decontaminate_scrub" ->
      """WITH docs AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |              FROM documents),
        |bench AS (
        |  SELECT DISTINCT array_to_string(toks[i:i+3], ' ') AS g
        |  FROM docs, unnest(range(1, greatest(len(toks) - 4, 0) + 2)) AS t(i)
        |  WHERE doc_id < 10),
        |cpos AS (
        |  SELECT doc_id, i - 1 AS start, array_to_string(toks[i:i+3], ' ') AS g
        |  FROM docs, unnest(range(1, greatest(len(toks) - 4, 0) + 2)) AS t(i)
        |  WHERE doc_id >= 10),
        |starts AS (
        |  SELECT DISTINCT c.doc_id, c.start FROM cpos c JOIN bench b ON c.g = b.g),
        |covered AS (
        |  SELECT DISTINCT doc_id, start + o AS p
        |  FROM starts, unnest(range(4)) AS t(o)),
        |tpos AS (
        |  SELECT doc_id, i - 1 AS p, toks[i] AS tok
        |  FROM docs, unnest(range(1, len(toks) + 1)) AS t(i)
        |  WHERE doc_id >= 10),
        |kept AS (
        |  SELECT t.doc_id, t.p, t.tok FROM tpos t
        |  LEFT JOIN covered c ON t.doc_id = c.doc_id AND t.p = c.p
        |  WHERE c.doc_id IS NULL),
        |agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_n,
        |    string_agg(tok, ' ' ORDER BY p) AS clean
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, CAST(len(d.toks) AS BIGINT) AS n_tokens,
        |  CAST(len(d.toks) - coalesce(a.kept_n, 0) AS BIGINT) AS n_removed,
        |  coalesce(a.clean, '') AS text_clean
        |FROM docs d LEFT JOIN agg a USING (doc_id)
        |WHERE d.doc_id >= 10""".stripMargin,

    "q_top_docs_per_lang" ->
      """SELECT lang, doc_id, score FROM (
        |  SELECT lang, doc_id, score,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY score DESC, doc_id ASC) AS rn
        |  FROM (
        |    SELECT lang, doc_id,
        |      round(least(length(text) / 500.0, 1.0) * 0.5 +
        |        least(CASE WHEN len(toks) = 0 THEN 0.0
        |          ELSE CAST(len(list_filter(toks, t -> t IN ('the', 'a'))) AS DOUBLE)
        |            / len(toks) END * 5.0, 1.0) * 0.5, 6) AS score
        |    FROM (SELECT lang, doc_id, text,
        |            string_split_regex(trim(text), '\s+') AS toks
        |          FROM documents)
        |  )
        |) WHERE rn <= 3""".stripMargin,

    "q_source_token_budget" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n,
        |    md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |c AS (
        |  SELECT *, CAST(coalesce(sum(n) OVER (PARTITION BY source
        |    ORDER BY h, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s
        |  FROM t)
        |SELECT source, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens
        |FROM c WHERE s < 3000 GROUP BY source""".stripMargin,

    "q_doc_pack" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n,
        |    CAST(coalesce(sum(n) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s
        |  FROM t)
        |SELECT CAST(s // 2048 AS BIGINT) AS seq_id,
        |  count(*) AS n_docs,
        |  CAST(sum(n) AS BIGINT) AS n_tokens
        |FROM c GROUP BY 1""".stripMargin,

    "q_doc_chunks" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, toks,
        |    unnest(generate_series(0, greatest(len(toks) - 1, 0), 30)) AS s
        |  FROM t)
        |SELECT doc_id,
        |  CAST(s // 30 AS INT) AS chunk_idx,
        |  CAST(s AS INT) AS start_tok,
        |  CAST(least(40, len(toks) - s) AS INT) AS n_tok,
        |  md5(array_to_string(toks[s + 1 : s + 40], ' ')) AS chunk_fp
        |FROM c""".stripMargin,

    "q_doc_perplexity" ->
      s"""WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
        |  FROM documents),
        |freq AS (
        |  SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY token),
        |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM freq)
        |SELECT t.doc_id,
        |  count(*) AS n_tokens,
        |  ${Tables.pinnedMeanSql(
             "sum(CAST(round(ln(CAST(f.cnt AS DOUBLE) / tot.total), 6) AS DECIMAL(28,6)))",
             "count(*)", 6, 4, negate = true)} AS xent
        |FROM tok t JOIN freq f USING (token), tot
        |GROUP BY t.doc_id""".stripMargin,

    "q_group_quantiles" ->
      """WITH r AS (
        |  SELECT lang, n_chars,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents),
        |p AS (SELECT unnest([25, 50, 75]) AS pct)
        |SELECT r.lang, CAST(p.pct AS INTEGER) AS pct, r.n_chars AS value
        |FROM r, p WHERE r.rn = (p.pct * r.n + 99) // 100""".stripMargin,

    "q_winsorize" ->
      """WITH r AS (
        |  SELECT lang, n_chars,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents),
        |lim AS (
        |  SELECT lang,
        |    min(CASE WHEN rn = (10 * n + 99) // 100 THEN n_chars END) AS p10,
        |    min(CASE WHEN rn = (90 * n + 99) // 100 THEN n_chars END) AS p90
        |  FROM r GROUP BY lang)
        |SELECT d.doc_id, d.lang, d.n_chars, l.p10, l.p90,
        |  greatest(least(d.n_chars, l.p90), l.p10) AS clipped
        |FROM documents d JOIN lim l USING (lang)""".stripMargin,

    "q_group_median" ->
      """WITH r AS (
        |  SELECT lang, n_chars,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n_docs
        |  FROM documents)
        |SELECT lang, n_docs, n_chars AS median_chars
        |FROM r WHERE rn = (n_docs + 1) // 2""".stripMargin,

    "q_percent_rank" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal,
        |  CAST(rank() OVER w AS BIGINT) AS rank,
        |  CAST(dense_rank() OVER w AS BIGINT) AS dense_rank,
        |  percent_rank() OVER w AS percent_rank,
        |  cume_dist() OVER w AS cume_dist
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal ASC)""".stripMargin,

    "q_doc_bigram_ppl" ->
      """WITH tokc AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, unnest(toks) AS w, generate_subscripts(toks, 1) AS p
        |  FROM tokc),
        |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM pos GROUP BY w),
        |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS total FROM uni),
        |bg AS (
        |  SELECT a.doc_id, a.w AS w1, b.w AS w2
        |  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1),
        |bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2
        |       FROM bg GROUP BY w1, w2),
        |contrib AS (
        |  SELECT p.doc_id,
        |    round(ln(CAST(u.c AS DOUBLE) / t.total), 6) AS lp
        |  FROM pos p JOIN uni u ON p.w = u.w, tot t
        |  WHERE p.p = 1
        |  UNION ALL
        |  SELECT g.doc_id,
        |    round(ln(CASE WHEN b.c2 IS NOT NULL
        |                  THEN CAST(b.c2 AS DOUBLE) / u1.c
        |                  ELSE 0.4 * u2.c / t.total END), 6) AS lp
        |  FROM bg g
        |    LEFT JOIN bc b ON g.w1 = b.w1 AND g.w2 = b.w2
        |    JOIN uni u1 ON g.w1 = u1.w
        |    JOIN uni u2 ON g.w2 = u2.w, tot t)
        |SELECT doc_id, count(*) AS n_tokens,
        |  PINNED_MEAN_XENT2 AS xent2
        |FROM contrib GROUP BY doc_id""".stripMargin
        .replace("PINNED_MEAN_XENT2", Tables.pinnedMeanSql(
          "sum(CAST(lp AS DECIMAL(28,6)))", "count(*)", 6, 4, negate = true)),

    "q_doc_trigram_ppl" ->
      """WITH tokc AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, unnest(toks) AS w, generate_subscripts(toks, 1) AS p
        |  FROM tokc),
        |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM pos GROUP BY w),
        |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS total FROM uni),
        |bg AS (
        |  SELECT a.doc_id, a.p, a.w AS w1, b.w AS w2
        |  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1),
        |bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2
        |       FROM bg GROUP BY w1, w2),
        |tg AS (
        |  SELECT a.doc_id, a.p, a.w AS w1, b.w AS w2, c.w AS w3
        |  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
        |    JOIN pos c ON a.doc_id = c.doc_id AND c.p = a.p + 2),
        |tcnt AS (SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS c3
        |         FROM tg GROUP BY w1, w2, w3),
        |contrib AS (
        |  SELECT p.doc_id,
        |    round(ln(coalesce(CAST(u.c AS DOUBLE), 0.5) / t.total), 6) AS lp
        |  FROM pos p LEFT JOIN uni u ON p.w = u.w, tot t WHERE p.p = 1
        |  UNION ALL
        |  SELECT g.doc_id,
        |    round(ln(CASE WHEN b.c2 IS NOT NULL
        |                  THEN CAST(b.c2 AS DOUBLE) / u1.c
        |                  ELSE 0.4 * (coalesce(CAST(u2.c AS DOUBLE), 0.5) / t.total)
        |             END), 6) AS lp
        |  FROM bg g
        |    LEFT JOIN bc b ON g.w1 = b.w1 AND g.w2 = b.w2
        |    LEFT JOIN uni u1 ON g.w1 = u1.w
        |    LEFT JOIN uni u2 ON g.w2 = u2.w, tot t
        |  WHERE g.p = 1
        |  UNION ALL
        |  SELECT s.doc_id,
        |    round(ln(CASE WHEN tc.c3 IS NOT NULL
        |                  THEN CAST(tc.c3 AS DOUBLE) / bctx.c2
        |                  ELSE 0.4 * (CASE WHEN bn.c2 IS NOT NULL
        |                                   THEN CAST(bn.c2 AS DOUBLE) / um.c
        |                                   ELSE 0.4 * (coalesce(CAST(u3.c AS DOUBLE), 0.5)
        |                                               / t.total) END)
        |             END), 6) AS lp
        |  FROM tg s
        |    LEFT JOIN tcnt tc ON s.w1 = tc.w1 AND s.w2 = tc.w2 AND s.w3 = tc.w3
        |    LEFT JOIN bc bctx ON s.w1 = bctx.w1 AND s.w2 = bctx.w2
        |    LEFT JOIN bc bn ON s.w2 = bn.w1 AND s.w3 = bn.w2
        |    LEFT JOIN uni um ON s.w2 = um.w
        |    LEFT JOIN uni u3 ON s.w3 = u3.w, tot t)
        |SELECT doc_id, count(*) AS n_tokens,
        |  PINNED_MEAN_XENT3 AS xent3
        |FROM contrib GROUP BY doc_id""".stripMargin
        .replace("PINNED_MEAN_XENT3", Tables.pinnedMeanSql(
          "sum(CAST(lp AS DECIMAL(28,6)))", "count(*)", 6, 4, negate = true)),

    "q_doc_ppl_buckets" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
        |  FROM documents),
        |freq AS (
        |  SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY token),
        |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM freq),
        |scored AS (
        |  SELECT t.doc_id,
        |    PINNED_MEAN_XENT AS xent
        |  FROM tok t JOIN freq f USING (token), tot
        |  GROUP BY t.doc_id)
        |SELECT s.doc_id, d.lang, s.xent,
        |  CAST(ntile(3) OVER (PARTITION BY d.lang ORDER BY s.xent, s.doc_id)
        |    AS INTEGER) AS bucket
        |FROM scored s JOIN documents d USING (doc_id)""".stripMargin
        .replace("PINNED_MEAN_XENT", Tables.pinnedMeanSql(
          "sum(CAST(round(ln(CAST(f.cnt AS DOUBLE) / tot.total), 6) AS DECIMAL(28,6)))",
          "count(*)", 6, 4, negate = true)),

    "q_doc_split" ->
      """SELECT CASE WHEN b < 90 THEN 'train'
        |            WHEN b < 95 THEN 'validation'
        |            ELSE 'test' END AS split,
        |  count(*) AS n
        |FROM (SELECT CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)
        |        AS INTEGER) % 100 AS b
        |      FROM documents)
        |GROUP BY 1""".stripMargin,

    "q_repeated_spans" ->
      """WITH docs AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |              FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, array_to_string(toks[i:i+3], ' ') AS g
        |  FROM docs, unnest(range(1, greatest(len(toks) - 4, 0) + 2)) AS t(i)
        |),
        |rep AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
        |per_doc AS (
        |  SELECT gr.doc_id, count(*) AS n_repeated
        |  FROM grams gr JOIN rep USING (g) GROUP BY gr.doc_id
        |)
        |SELECT d.doc_id,
        |  CAST(greatest(len(d.toks) - 4, 0) + 1 AS BIGINT) AS n_windows,
        |  CAST(coalesce(p.n_repeated, 0) AS BIGINT) AS n_repeated,
        |  PINNED_REPR AS rep_ratio
        |FROM docs d LEFT JOIN per_doc p ON d.doc_id = p.doc_id""".stripMargin
        .replace("PINNED_REPR", Tables.pinnedRatioSql(
          "coalesce(p.n_repeated, 0)",
          "greatest(len(d.toks) - 4, 0) + 1", 6)),

    "q_doc_repetition" ->
      """SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
        |  CASE WHEN len(toks) = 0 THEN 0.0
        |    ELSE PINNED_DUPR
        |    END AS dup_ratio
        |FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |      FROM documents)""".stripMargin
        .replace("PINNED_DUPR", Tables.pinnedRatioSql(
          "len(toks) - len(list_distinct(toks))", "len(toks)", 6)),

    "q_token_topk" ->
      """SELECT tok AS token, CAST(cnt AS BIGINT) AS min_count FROM (
        |  SELECT tok, count(*) AS cnt
        |  FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
        |        FROM documents)
        |  GROUP BY tok)
        |ORDER BY min_count DESC, token ASC LIMIT 20""".stripMargin,

    // Stratified sample mirror: per-lang row_number over the same 48-bit
    // md5-prefix order (ascending hash = descending negated score).
    "q_stratified_sample" ->
      """SELECT lang, doc_id FROM (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 12)
        |                 AS BIGINT) ASC, doc_id ASC) AS rn
        |  FROM documents)
        |WHERE rn <= 10""".stripMargin,

    "q_emb_int8" ->
      """WITH ex AS (
        |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
        |    generate_subscripts(embedding, 1) AS p
        |  FROM embeddings),
        |mx AS (SELECT vec_id, max(abs(v)) AS s FROM ex GROUP BY vec_id),
        |codes AS (
        |  SELECT e.vec_id, e.p,
        |    CASE WHEN m.s > 0
        |         THEN CAST(floor(e.v / m.s * 127 + 0.5) AS BIGINT)
        |         ELSE 0 END AS c
        |  FROM ex e JOIN mx m USING (vec_id)),
        |q AS (SELECT p, c FROM codes WHERE vec_id = 42),
        |dots AS (
        |  SELECT codes.vec_id, sum(codes.c * q.c) AS dot,
        |         sum(codes.c * codes.c) AS n2
        |  FROM codes JOIN q ON codes.p = q.p
        |  GROUP BY codes.vec_id),
        |qn AS (SELECT sum(c * c) AS qn2 FROM q)
        |SELECT d.vec_id,
        |  CASE WHEN d.n2 > 0 AND qn.qn2 > 0
        |       THEN round(CAST(d.dot AS DOUBLE) /
        |              (sqrt(CAST(d.n2 AS DOUBLE)) * sqrt(CAST(qn.qn2 AS DOUBLE))), 6)
        |       ELSE 0.0 END AS cosine_q
        |FROM dots d, qn
        |ORDER BY cosine_q DESC, vec_id LIMIT 10""".stripMargin,

    "q_hybrid_search" ->
      """WITH lens AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS dl
        |  FROM documents),
        |stats AS (
        |  SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
        |  FROM lens),
        |post AS (
        |  SELECT doc_id, token, count(*) AS tf, max(dl) AS dl
        |  FROM (SELECT doc_id, dl,
        |          unnest(string_split_regex(trim(text), '\s+')) AS token
        |        FROM (SELECT d.doc_id, d.text, l.dl
        |              FROM documents d JOIN lens l USING (doc_id)))
        |  WHERE token IN ('spark', 'vector', 'join')
        |  GROUP BY doc_id, token),
        |idf AS (
        |  SELECT token,
        |    round(ln((CAST(s.n AS DOUBLE) - dfreq + 0.5) / (dfreq + 0.5) + 1.0), 6) AS idf
        |  FROM (SELECT token, count(*) AS dfreq FROM post GROUP BY token), stats s),
        |bm AS (
        |  SELECT p.doc_id,
        |    round(CAST(sum(CAST(round(
        |        i.idf * (p.tf * (1.2 + 1.0)) /
        |          (p.tf + 1.2 * ((1.0 - 0.75) + (0.75 * p.dl) / s.avgdl)),
        |        6) AS DECIMAL(28,6))) AS DOUBLE), 4) AS score
        |  FROM post p JOIN idf i USING (token), stats s
        |  GROUP BY p.doc_id
        |  ORDER BY score DESC, doc_id ASC
        |  LIMIT 20),
        |bmr AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r
        |  FROM bm),
        |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 42),
        |prod AS (
        |  SELECT e.vec_id, unnest(e.embedding) AS v, unnest(q.qe) AS qv
        |  FROM embeddings e, q),
        |dot AS (
        |  SELECT vec_id,
        |    sum(CAST(round(CAST(v AS DOUBLE) * CAST(qv AS DOUBLE), 9)
        |        AS DECIMAL(38,9))) AS d,
        |    sum(CAST(round(CAST(v AS DOUBLE) * CAST(v AS DOUBLE), 9)
        |        AS DECIMAL(38,9))) AS n2
        |  FROM prod GROUP BY vec_id),
        |qn AS (
        |  SELECT sqrt(CAST(sum(CAST(round(CAST(qv AS DOUBLE) * CAST(qv AS DOUBLE), 9)
        |      AS DECIMAL(38,9))) AS DOUBLE)) AS qnorm
        |  FROM (SELECT unnest(qe) AS qv FROM q)),
        |cosr AS (
        |  SELECT vec_id AS doc_id,
        |    CASE WHEN qn.qnorm * sqrt(CAST(n2 AS DOUBLE)) > 0
        |         THEN round(CAST(d AS DOUBLE) / (qn.qnorm * sqrt(CAST(n2 AS DOUBLE))), 4)
        |         ELSE 0.0 END AS cos
        |  FROM dot, qn),
        |dtop AS (SELECT doc_id, cos FROM cosr ORDER BY cos DESC, doc_id LIMIT 20),
        |dr AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS r
        |  FROM dtop),
        |u AS (
        |  SELECT doc_id, CAST(round(1.0 / (60 + r), 12) AS DECIMAL(28,12)) AS c
        |  FROM bmr
        |  UNION ALL
        |  SELECT doc_id, CAST(round(1.0 / (60 + r), 12) AS DECIMAL(28,12)) AS c
        |  FROM dr),
        |f AS (SELECT doc_id, sum(c) AS s, count(*) AS n_lists FROM u GROUP BY doc_id)
        |SELECT doc_id, round(CAST(s AS DOUBLE), 6) AS rrf, n_lists
        |FROM f ORDER BY s DESC, doc_id LIMIT 10""".stripMargin,

    "q_merge_upsert" ->
      """WITH changes AS (
        |  SELECT doc_id, text || ' v2' AS text, lang, source,
        |         n_chars + 3 AS n_chars, FALSE AS del
        |  FROM documents WHERE doc_id % 100 < 10
        |  UNION ALL
        |  SELECT doc_id + 10000000, 'new doc ' || CAST(doc_id AS VARCHAR),
        |         lang, source,
        |         CAST(length('new doc ' || CAST(doc_id AS VARCHAR)) AS BIGINT),
        |         FALSE
        |  FROM documents WHERE doc_id % 100 BETWEEN 50 AND 52
        |  UNION ALL
        |  SELECT doc_id, text, lang, source, n_chars, TRUE
        |  FROM documents WHERE doc_id % 100 BETWEEN 90 AND 94),
        |merged AS (
        |  SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
        |  FROM documents d LEFT JOIN changes c ON d.doc_id = c.doc_id
        |  WHERE c.doc_id IS NULL
        |  UNION ALL
        |  SELECT doc_id, text, lang, source, n_chars FROM changes
        |  WHERE NOT del)
        |SELECT doc_id, lang, source, n_chars, md5(text) AS fp
        |FROM merged""".stripMargin,

    "q_merge_scd2" ->
      """WITH hist AS (
        |  SELECT doc_id, text, lang, source, n_chars,
        |         TIMESTAMP '2026-01-01 00:00:00' AS valid_from,
        |         CAST(NULL AS TIMESTAMP) AS valid_to
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, text || ' v0', lang, source, n_chars,
        |         TIMESTAMP '2025-01-01 00:00:00',
        |         TIMESTAMP '2026-01-01 00:00:00'
        |  FROM documents WHERE doc_id % 100 BETWEEN 95 AND 99),
        |changes AS (
        |  SELECT doc_id, text || ' v2' AS text, lang, source,
        |         n_chars + 3 AS n_chars, FALSE AS del
        |  FROM documents WHERE doc_id % 100 < 10
        |  UNION ALL
        |  SELECT doc_id, text, lang, source, n_chars, FALSE
        |  FROM documents WHERE doc_id % 100 BETWEEN 10 AND 14
        |  UNION ALL
        |  SELECT doc_id + 10000000, 'new doc ' || CAST(doc_id AS VARCHAR),
        |         lang, source,
        |         CAST(length('new doc ' || CAST(doc_id AS VARCHAR)) AS BIGINT),
        |         FALSE
        |  FROM documents WHERE doc_id % 100 BETWEEN 50 AND 52
        |  UNION ALL
        |  SELECT doc_id, text, lang, source, n_chars, TRUE
        |  FROM documents WHERE doc_id % 100 BETWEEN 90 AND 94),
        |cur AS (SELECT * FROM hist WHERE valid_to IS NULL),
        |j AS (
        |  SELECT c.doc_id, c.text, c.lang, c.source, c.n_chars,
        |         c.valid_from, c.valid_to,
        |         ch.doc_id IS NOT NULL AS m, coalesce(ch.del, FALSE) AS del,
        |         ch.text AS ch_text, ch.lang AS ch_lang,
        |         ch.source AS ch_source, ch.n_chars AS ch_n,
        |         (c.text IS DISTINCT FROM ch.text
        |          OR c.lang IS DISTINCT FROM ch.lang
        |          OR c.source IS DISTINCT FROM ch.source
        |          OR c.n_chars IS DISTINCT FROM ch.n_chars) AS differs
        |  FROM cur c LEFT JOIN changes ch ON c.doc_id = ch.doc_id),
        |merged AS (
        |  SELECT doc_id, text, lang, source, n_chars, valid_from, valid_to
        |  FROM hist WHERE valid_to IS NOT NULL
        |  UNION ALL
        |  SELECT doc_id, text, lang, source, n_chars, valid_from, valid_to
        |  FROM j WHERE NOT (m AND (del OR differs))
        |  UNION ALL
        |  SELECT doc_id, text, lang, source, n_chars, valid_from,
        |         TIMESTAMP '2026-06-01 00:00:00'
        |  FROM j WHERE m AND (del OR differs)
        |  UNION ALL
        |  SELECT doc_id, ch_text, ch_lang, ch_source, ch_n,
        |         TIMESTAMP '2026-06-01 00:00:00', CAST(NULL AS TIMESTAMP)
        |  FROM j WHERE m AND NOT del AND differs
        |  UNION ALL
        |  SELECT ch.doc_id, ch.text, ch.lang, ch.source, ch.n_chars,
        |         TIMESTAMP '2026-06-01 00:00:00', CAST(NULL AS TIMESTAMP)
        |  FROM changes ch
        |  WHERE NOT ch.del
        |    AND ch.doc_id NOT IN (SELECT doc_id FROM cur))
        |SELECT doc_id, lang, source, n_chars, md5(text) AS fp,
        |       valid_from, valid_to
        |FROM merged""".stripMargin,

    "q_weighted_sample_grouped" ->
      """WITH p AS (
        |  SELECT lang, doc_id, n_chars,
        |    (CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 12)
        |       AS BIGINT) + 1) / CAST(n_chars AS DOUBLE) AS pri
        |  FROM documents WHERE n_chars > 0),
        |r AS (SELECT *, row_number() OVER (PARTITION BY lang
        |        ORDER BY pri, doc_id) AS rn FROM p),
        |tau AS (SELECT lang, coalesce(max(CASE WHEN rn = 11 THEN 1.0 / pri END),
        |          0.0) AS tau FROM r GROUP BY lang)
        |SELECT r.lang, r.doc_id, r.n_chars AS weight,
        |  round(greatest(CAST(r.n_chars AS DOUBLE), t.tau), 4) AS w_hat
        |FROM r JOIN tau t USING (lang) WHERE r.rn <= 10""".stripMargin,

    "q_weighted_sample" ->
      """WITH p AS (
        |  SELECT doc_id, n_chars,
        |    (CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 12)
        |       AS BIGINT) + 1) / CAST(n_chars AS DOUBLE) AS pri
        |  FROM documents WHERE n_chars > 0),
        |r AS (SELECT *, row_number() OVER (ORDER BY pri, doc_id) AS rn FROM p),
        |tau AS (SELECT coalesce(max(CASE WHEN rn = 51 THEN 1.0 / pri END), 0.0)
        |          AS tau FROM r)
        |SELECT r.doc_id, r.n_chars AS weight,
        |  round(greatest(CAST(r.n_chars AS DOUBLE), tau.tau), 4) AS w_hat
        |FROM r, tau WHERE r.rn <= 50""".stripMargin,

    // Planted SemDeDup families: removed = every planted copy
    // (100000 + g*1000 + c for c in 0..g+9), kept witness = corpus base g.
    "q_semantic_dedup" ->
      """SELECT CAST(100000 + vec_id * 1000 + s AS BIGINT) AS removed_id,
        |  CAST(vec_id AS BIGINT) AS kept_id
        |FROM (SELECT vec_id, unnest(generate_series(0, vec_id + 9)) AS s
        |      FROM embeddings WHERE vec_id < 8)""".stripMargin,

    // BM25 mirror: identical expression association everywhere a double is
    // produced (idf's ln argument, the k1+1 product, the length
    // normalization), idf and contributions rounded to 6 decimals, decimal
    // per-doc sums.
    "q_prf_search" ->
      """WITH lens AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS dl
        |  FROM documents),
        |stats AS (
        |  SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
        |  FROM lens),
        |toks AS MATERIALIZED (
        |  SELECT doc_id, dl,
        |    unnest(string_split_regex(trim(text), '\s+')) AS token
        |  FROM (SELECT d.doc_id, d.text, l.dl
        |        FROM documents d JOIN lens l USING (doc_id))),
        |post1 AS (
        |  SELECT doc_id, token, count(*) AS tf, max(dl) AS dl
        |  FROM toks WHERE token IN ('spark', 'vector', 'join')
        |  GROUP BY doc_id, token),
        |idf1 AS (
        |  SELECT token,
        |    round(ln((CAST(s.n AS DOUBLE) - dfreq + 0.5) / (dfreq + 0.5) + 1.0), 6) AS idf
        |  FROM (SELECT token, count(*) AS dfreq FROM post1 GROUP BY token), stats s),
        |top1 AS (
        |  SELECT p.doc_id,
        |    round(CAST(sum(CAST(round(
        |        i.idf * (p.tf * (1.2 + 1.0)) /
        |          (p.tf + 1.2 * ((1.0 - 0.75) + (0.75 * p.dl) / s.avgdl)),
        |        6) AS DECIMAL(28,6))) AS DOUBLE), 4) AS score
        |  FROM post1 p JOIN idf1 i USING (token), stats s
        |  GROUP BY p.doc_id
        |  ORDER BY score DESC, doc_id ASC
        |  LIMIT 10),
        |exptok AS (
        |  SELECT token FROM (
        |    SELECT t.token, count(*) AS tf,
        |      row_number() OVER (ORDER BY count(*) DESC, t.token ASC) AS rn
        |    FROM toks t JOIN top1 USING (doc_id)
        |    WHERE t.token NOT IN ('spark', 'vector', 'join')
        |    GROUP BY t.token)
        |  WHERE rn <= 3),
        |terms AS (
        |  SELECT unnest(['spark', 'vector', 'join']) AS token
        |  UNION ALL SELECT token FROM exptok),
        |post2 AS (
        |  SELECT doc_id, token, count(*) AS tf, max(dl) AS dl
        |  FROM toks WHERE token IN (SELECT token FROM terms)
        |  GROUP BY doc_id, token),
        |idf2 AS (
        |  SELECT token,
        |    round(ln((CAST(s.n AS DOUBLE) - dfreq + 0.5) / (dfreq + 0.5) + 1.0), 6) AS idf
        |  FROM (SELECT token, count(*) AS dfreq FROM post2 GROUP BY token), stats s)
        |SELECT p.doc_id,
        |  count(*) AS n_terms,
        |  round(CAST(sum(CAST(round(
        |      i.idf * (p.tf * (1.2 + 1.0)) /
        |        (p.tf + 1.2 * ((1.0 - 0.75) + (0.75 * p.dl) / s.avgdl)),
        |      6) AS DECIMAL(28,6))) AS DOUBLE), 4) AS score
        |FROM post2 p JOIN idf2 i USING (token), stats s
        |GROUP BY p.doc_id
        |ORDER BY score DESC, doc_id ASC
        |LIMIT 20""".stripMargin,

    "q_bm25_search" ->
      """WITH lens AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS dl
        |  FROM documents),
        |stats AS (
        |  SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
        |  FROM lens),
        |post AS (
        |  SELECT doc_id, token, count(*) AS tf, max(dl) AS dl
        |  FROM (SELECT doc_id, dl,
        |          unnest(string_split_regex(trim(text), '\s+')) AS token
        |        FROM (SELECT d.doc_id, d.text, l.dl
        |              FROM documents d JOIN lens l USING (doc_id)))
        |  WHERE token IN ('spark', 'vector', 'join')
        |  GROUP BY doc_id, token),
        |idf AS (
        |  SELECT token,
        |    round(ln((CAST(s.n AS DOUBLE) - dfreq + 0.5) / (dfreq + 0.5) + 1.0), 6) AS idf
        |  FROM (SELECT token, count(*) AS dfreq FROM post GROUP BY token), stats s)
        |SELECT p.doc_id,
        |  count(*) AS n_terms,
        |  round(CAST(sum(CAST(round(
        |      i.idf * (p.tf * (1.2 + 1.0)) /
        |        (p.tf + 1.2 * ((1.0 - 0.75) + (0.75 * p.dl) / s.avgdl)),
        |      6) AS DECIMAL(28,6))) AS DOUBLE), 4) AS score
        |FROM post p JOIN idf i USING (token), stats s
        |GROUP BY p.doc_id
        |ORDER BY score DESC, doc_id ASC
        |LIMIT 20""".stripMargin,

    "q_retrieval_eval" ->
      """WITH lens AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS dl
        |  FROM documents),
        |stats AS (
        |  SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
        |  FROM lens),
        |post AS (
        |  SELECT doc_id, token, count(*) AS tf, max(dl) AS dl
        |  FROM (SELECT doc_id, dl,
        |          unnest(string_split_regex(trim(text), '\s+')) AS token
        |        FROM (SELECT d.doc_id, d.text, l.dl
        |              FROM documents d JOIN lens l USING (doc_id)))
        |  WHERE token IN ('spark', 'vector', 'join')
        |  GROUP BY doc_id, token),
        |idf AS (
        |  SELECT token,
        |    round(ln((CAST(s.n AS DOUBLE) - dfreq + 0.5) / (dfreq + 0.5) + 1.0), 6) AS idf
        |  FROM (SELECT token, count(*) AS dfreq FROM post GROUP BY token), stats s),
        |scored AS (
        |  SELECT p.doc_id,
        |    round(CAST(sum(CAST(round(
        |        i.idf * (p.tf * (1.2 + 1.0)) /
        |          (p.tf + 1.2 * ((1.0 - 0.75) + (0.75 * p.dl) / s.avgdl)),
        |        6) AS DECIMAL(28,6))) AS DOUBLE), 4) AS score
        |  FROM post p JOIN idf i USING (token), stats s
        |  GROUP BY p.doc_id
        |  ORDER BY score DESC, doc_id ASC
        |  LIMIT 20),
        |ranked AS (
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rnk
        |  FROM scored),
        |rel AS (
        |  SELECT doc_id FROM documents
        |  WHERE list_contains(string_split_regex(trim(text), '\s+'), 'spark')
        |    AND list_contains(string_split_regex(trim(text), '\s+'), 'vector')
        |    AND list_contains(string_split_regex(trim(text), '\s+'), 'join')),
        |relc AS (SELECT CAST(count(*) AS BIGINT) AS r FROM rel),
        |hits AS (
        |  SELECT rnk FROM ranked JOIN rel USING (doc_id) WHERE rnk <= 20),
        |hagg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_hits,
        |    CAST(coalesce(sum(CASE WHEN rnk <= 10 THEN 1 END), 0) AS BIGINT) AS hp,
        |    min(rnk) AS minr,
        |    sum(CAST(round(1.0 / log2(CAST(rnk AS DOUBLE) + 1.0), 12)
        |        AS DECIMAL(28,12))) AS dcg
        |  FROM hits),
        |icnt AS (
        |  SELECT unnest(generate_series(1, 20)) AS i),
        |iagg AS (
        |  SELECT sum(CAST(round(1.0 / log2(CAST(i AS DOUBLE) + 1.0), 12)
        |        AS DECIMAL(28,12))) AS idcg
        |  FROM icnt, relc WHERE i <= relc.r)
        |SELECT CAST(20 AS BIGINT) AS n_ranked, relc.r AS n_relevant,
        |  hagg.n_hits,
        |  round(CAST(hagg.hp AS DOUBLE) / 10.0, 6) AS precision_at_k,
        |  coalesce(round(1.0 / CAST(hagg.minr AS DOUBLE), 6), 0.0) AS mrr,
        |  coalesce(round(CAST(hagg.dcg AS DOUBLE) /
        |    CAST(iagg.idcg AS DOUBLE), 6), 0.0) AS ndcg
        |FROM relc, hagg, iagg""".stripMargin,

    // DSIR mirror: two unigram frequency tables (target = lang 'en', raw =
    // all), per-token log-ratio rounded then decimal-summed, OOV tokens as
    // 0.5 pseudo-occurrences over the FULL totals. Rounds per-token at 12
    // decimals (not 6): a 1-ulp ln() drift between the driver's libm and
    // the JVM flips a 6-decimal rounding, while at 12 decimals a one-step
    // disagreement moves the decimal sum by ~1e-12/occurrence — invisible
    // to the final 4-decimal round.
    "q_doc_dsir" ->
      (dsirScoredCte + "\nSELECT doc_id, n_tokens, logratio FROM scored"),

    // End-to-end DSIR: the same scored CTE fed through the deterministic
    // Gumbel top-k — u = (md5_48(doc_id)+0.5)/2^48, g = -ln(-ln(u)),
    // key = weight/T + g rounded to 6, top-100 by (key DESC, doc_id ASC).
    "q_dsir_resample" ->
      (dsirScoredCte + """,
        |keyed AS (
        |  SELECT doc_id, CAST(logratio AS DOUBLE) AS weight,
        |    round(CAST(logratio AS DOUBLE) / 0.5 + (- ln(- ln(
        |      (CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 12)
        |         AS BIGINT) + 0.5) / 281474976710656.0))), 6) AS gumbel_key
        |  FROM scored),
        |rk AS (
        |  SELECT doc_id, weight, gumbel_key,
        |    row_number() OVER (ORDER BY gumbel_key DESC, doc_id ASC) AS rn
        |  FROM keyed)
        |SELECT doc_id, weight, gumbel_key FROM rk WHERE rn <= 100""".stripMargin),

    "q_pii_scrub" ->
      """WITH planted AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id < 20 THEN text || ' reach user'
        |      || CAST(doc_id AS VARCHAR) || '@example.com or 10.0.'
        |      || CAST(doc_id % 256 AS VARCHAR) || '.'
        |      || CAST(doc_id % 100 AS VARCHAR) || ' now'
        |    ELSE text END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '[a-z0-9._]+@[a-z0-9.]+\.[a-z]{2,}')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(text,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip,
        |  regexp_replace(regexp_replace(text,
        |      '[a-z0-9._]+@[a-z0-9.]+\.[a-z]{2,}', '[EMAIL]', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g')
        |    AS text_scrubbed
        |FROM planted""".stripMargin
  )

  /** Shared DSIR scoring CTE chain (ends in `scored(doc_id, n_tokens,
    * logratio)`), used by both the weights oracle and the resampling
    * oracle. */
  private def dsirScoredCte: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
      |  FROM documents),
      |tt AS (
      |  SELECT token, CAST(count(*) AS BIGINT) AS cnt
      |  FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
      |        FROM documents WHERE lang = 'en')
      |  GROUP BY token),
      |tr AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY token),
      |st AS (SELECT CAST(sum(cnt) AS DOUBLE) AS tot FROM tt),
      |sr AS (SELECT CAST(sum(cnt) AS DOUBLE) AS tot FROM tr),
      |scored AS MATERIALIZED (
      |  SELECT t.doc_id,
      |    count(*) AS n_tokens,
      |    PINNED_MEAN_LOGRATIO AS logratio
      |  FROM tok t LEFT JOIN tt USING (token) LEFT JOIN tr USING (token), st, sr
      |  GROUP BY t.doc_id)""".stripMargin
      .replace("PINNED_MEAN_LOGRATIO", Tables.pinnedMeanSql(
        "sum(CAST(round(ln(coalesce(CAST(tt.cnt AS DOUBLE), 0.5) / st.tot) " +
          "- ln(coalesce(CAST(tr.cnt AS DOUBLE), 0.5) / sr.tot), 12) " +
          "AS DECIMAL(28,12)))",
        "count(*)", 12, 4))
}
