package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.functions.{CacheScope, NaiveBayes, Similarity, Text, UnigramLm}
import Tables.star

/** Trained-model operators over the documents corpus: classifiers and
  * language models fitted distributively (training is counting — exact
  * integer sufficient statistics) and applied with the decimal-sum
  * determinism scheme, so fit + predict are oracle-checkable end to end.
  */
object ModelQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Multinomial Naive Bayes: self-trained language classifier — fit on
    // (lang, text), predict lang for every document. Training is one
    // exact-integer count shuffle; add-one smoothing; argmax as
    // max(struct(score, label)) — a plain aggregate, ties to the higher
    // label. The oracle mirrors fit AND predict, so count tables,
    // smoothing, prior, decimal scoring, and the argmax are all
    // hash-checked.
    "q_nb_classify" -> ((s, dir) =>
      NaiveBayes.trainAndPredict(
        star(s, dir, "documents").df,
        idCol = "doc_id", textCol = "text", labelCol = "lang")),

    // Classifier calibration curve: the NB predictions bucketed into
    // score quintiles with per-bucket accuracy — does confidence track
    // correctness? Buckets come from the distributed NTILE over the
    // (score, doc_id) total order (decimal-exact scores make the cut
    // points engine-independent); accuracy is one rounded division.
    "q_calibration" -> ((s, dir) => {
      val pred = NaiveBayes.trainAndPredict(
        star(s, dir, "documents").df,
        idCol = "doc_id", textCol = "text", labelCol = "lang")
        .withColumn("__g", lit("all"))
      val bucketed = graft.functions.Windowing.globalNtile(pred,
        Seq("__g"), Seq("score", "doc_id"), k = 5, numPartitions = 8)
      bucketed.groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          round(min(col("score")), 4).as("min_score"),
          round(max(col("score")), 4).as("max_score"),
          graft.functions.PinnedMath.pinnedRatio(sum(when(col("ok"), 1L).otherwise(0L)),
            count(lit(1)), 6).as("accuracy"))
    }),

    // Interpolated Kneser-Ney bigram cross-entropy, self-trained — the
    // reference count-based LM smoothing (absolute discounting + the
    // continuation distribution), one rung above q_doc_bigram_ppl's
    // stupid backoff. The oracle mirrors the pair/context/fan-out/fan-in
    // count tables and the exact discount-interpolation chain.
    "q_doc_kn_ppl" -> ((s, dir) => {
      val docs = star(s, dir, "documents").df
      UnigramLm.scoreKneserNey(docs, docs, "doc_id", "text")
    }),

    // GloVe-style windowed co-occurrence: top-40 directed token pairs
    // within a 4-token window, 1/d distance weights in exact scaled-Long
    // arithmetic. The oracle recomputes the X_ij accumulation via a
    // position self-join (the naive quadratic form the operator avoids).
    "q_cooccur" -> ((s, dir) =>
      Text.cooccurrenceTopK(star(s, dir, "documents").df, "text",
        window = 4, topK = 40)),

    // Blocked kNN graph: each embedding's top-3 same-label neighbors by
    // int8-quantized cosine — the neighborhood-construction pass behind
    // graph ANN and kNN classification. Codes/dots/norms are exact
    // integer arithmetic in the double domain (every value < 2^53), the
    // cosine is one IEEE chain rounded before ranking, so the full graph
    // hash-matches the quadratic DuckDB mirror.
    "q_knn_graph" -> ((s, dir) =>
      Similarity.knnWithinGroups(star(s, dir, "embeddings").df,
        groupCol = "label", embCol = "embedding", idCol = "vec_id", k = 3)),

    // Mutual nearest neighbors within each label block: pairs whose top-1
    // neighbors are each other — the hub-resistant high-precision
    // matching rule. Exact int8 cosine ranking makes the pair set
    // engine-independent; the oracle filters the quadratic mirror to
    // rank-1 rows and keeps the symmetric ones.
    "q_mutual_nn" -> ((s, dir) =>
      Similarity.mutualNearestNeighbors(star(s, dir, "embeddings").df,
        groupCol = "label", embCol = "embedding", idCol = "vec_id")),

    // Contrastive hard-pair mining: per anchor, the most-confusable
    // different-label vector (hardest negative) and most-spread
    // same-label vector (hardest positive) within its hash block — the
    // triplet/InfoNCE pair-construction pass. Int8-exact cosines +
    // lexicographic struct extremes make both picks engine-independent;
    // the oracle is the quadratic within-block mirror.
    "q_hard_negatives" -> ((s, dir) =>
      Similarity.hardPairs(star(s, dir, "embeddings").df
          .withColumn("blk", pmod(col("vec_id"), lit(16L))),
        blockCol = "blk", labelCol = "label", embCol = "embedding",
        idCol = "vec_id")),

    // Per-label embedding outliers: top-3 vectors farthest from their
    // label's centroid — the mislabeled-candidate / cluster-purity
    // detector. The trick making this hash-checkable on REAL vectors:
    // over int8 codes, n²·d²(x, S/n) = n²·Σx² − 2n·(x·S) + Σ S² is an
    // EXACT integer (every term < 2^53 in the double domain), so the
    // ranking needs no floating-point tolerance at all. Per-label sum
    // vectors are a (labels × dim)-sized broadcast; per-vector work is
    // two fused codegen dot products; ranking on the distributed rank.
    "q_emb_outliers" -> ((s, dir) => CacheScope { scope =>
      val emb = star(s, dir, "embeddings").df
      val sc = array_max(transform(col("embedding"),
        x => abs(x.cast("double"))))
      // Spread + persist: the interpreted quantize transform feeds THREE
      // consumers (sum vectors, counts, the scoring join) and otherwise
      // re-runs per consumer inside a one-task single-file scan
      // (measured 2.7 s + 1.1 s single-task stages at bench shape)
      val codes = scope.cache(graft.functions.Spread(
          emb.select(col("label"), col("vec_id"), col("embedding")))
        .select(col("label"), col("vec_id"),
          transform(col("embedding"), x =>
            when(sc > 0, floor(x.cast("double") / sc * 127 + 0.5))
              .otherwise(lit(0.0))).as("codes")))
      val svecs = codes
        .select(col("label"), posexplode(col("codes")).as(Seq("pos", "v")))
        .groupBy(col("label"), col("pos")).agg(sum(col("v")).as("sv"))
        .groupBy(col("label"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("sv")))),
          x => x.getField("sv")).as("svec"))
      val counts = codes.groupBy(col("label")).agg(count(lit(1)).as("n"))
      val score = (col("n") * col("n") *
          Similarity.dot(col("codes"), col("codes"))
        - lit(2.0) * col("n") * Similarity.dot(col("codes"), col("svec"))
        + Similarity.dot(col("svec"), col("svec"))).as("d2n2")
      codes
        .join(broadcast(svecs), Seq("label"))
        .join(broadcast(counts), Seq("label"))
        .select(col("label"), col("vec_id"), score)
        // bounded-state top-3 per label (score desc, id asc) — O(k)/group
        // with map-side combine, no rank re-execution
        .groupBy(col("label"))
        .agg(graft.functions.expressions.TopKByKey
          .topK(col("d2n2"), col("vec_id"), 3).as("__top"))
        .select(col("label"), posexplode(col("__top")).as(Seq("__r", "__e")))
        .select(col("label"), col("__e.id").as("vec_id"),
          col("__e.score").as("d2n2"),
          (col("__r") + 1).cast("long").as("rank"))
    }),

    // Rendezvous (highest-random-weight) sharding: every document's
    // stable shard is argmax over shards of md5(doc_id:shard) — the
    // distributed-writer primitive whose reshard-to-k+1 moves only ~1/(k+1)
    // of keys (each key moves only if the NEW shard's hash wins). The
    // moved flag makes that property part of the checked output. Pure
    // per-row hashing, zero shuffle.
    "q_doc_shards" -> ((s, dir) => {
      def hrw(k: Int): org.apache.spark.sql.Column =
        array_max(array((0 until k).map(sh =>
          struct(conv(substring(md5(
            concat(col("doc_id").cast("string"), lit(":"), lit(sh))), 1, 12),
            16, 10).cast("long").as("h"), lit(sh).as("s"))): _*))
          .getField("s")
      star(s, dir, "documents").df
        .select(col("doc_id"), hrw(8).as("shard"), hrw(9).as("shard9"))
        .withColumn("moved", col("shard") =!= col("shard9"))
    }),

    // Train/val drift: smoothed unigram KL divergence between the
    // deterministic hash splits — the distribution-shift / leakage
    // diagnostic run after any split. Count tables are vocabulary-sized
    // and full-outer-joined token-keyed; each token's contribution
    // p·ln(p/q) is one IEEE chain rounded then DECIMAL-summed, so the
    // single-number divergence hash-matches.
    "q_split_drift" -> ((s, dir) => CacheScope { scope =>
      val docs = star(s, dir, "documents").df
      val bucket = graft.functions.Decontamination.hashBucket(col("doc_id"))
      def counts(lo: Int, hi: Int) = docs
        .filter(bucket >= lo && bucket < hi)
        .select(explode(Text.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("c"))
      val p = counts(0, 80).withColumnRenamed("c", "cp")
      val q = counts(80, 100).withColumnRenamed("c", "cq")
      val joined = scope.cache(p.join(q, Seq("token"), "full_outer")
        .select(col("token"), coalesce(col("cp"), lit(0L)).as("cp"),
          coalesce(col("cq"), lit(0L)).as("cq")))
      val tot = joined.agg(sum(col("cp")), sum(col("cq")), count(lit(1))).head()
      val (np, nq, v) = (tot.getLong(0), tot.getLong(1), tot.getLong(2))
      val pProb = (col("cp").cast(DoubleType) + 0.5) / (np + 0.5 * v)
      val qProb = (col("cq").cast(DoubleType) + 0.5) / (nq + 0.5 * v)
      val term = round(pProb * log(pProb / qProb), 9)
        .cast(org.apache.spark.sql.types.DecimalType(28, 9))
      joined
        .agg(sum(term).as("__kl"), count(lit(1)).as("n_vocab"))
        .select(lit(np).as("n_train_tokens"), lit(nq).as("n_val_tokens"),
          col("n_vocab"), round(col("__kl").cast(DoubleType), 6).as("kl"))
    }),

    // Token burstiness (Church & Gale 1995): variance-to-mean ratio of a
    // token's per-document counts over the documents that CONTAIN it —
    // content words are bursty (VMR ≫ 1), function words Poisson-like.
    // Sufficient statistics (df, Σk, Σk²) are exact integers off the one
    // (token, doc) count table; the VMR is one IEEE chain rounded before
    // ranking; min-df floor first; distributed rank for the top-20.
    "q_token_burstiness" -> ((s, dir) => {
      val tf = star(s, dir, "documents").df
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("token"))
        .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("k"))
      // (s2/df − (s1/df)²)/(s1/df) = (s2·df − s1²)/(df·s1): ONE pinned
      // integer ratio instead of a four-division IEEE chain
      val vmr = graft.functions.PinnedMath.pinnedRatio(
        col("s2") * col("df") - col("s1") * col("s1"),
        col("df") * col("s1"), 6)
      val stats = tf.groupBy(col("token"))
        .agg(count(lit(1)).as("df"), sum(col("k")).as("s1"),
          sum(col("k") * col("k")).as("s2"))
        .filter(col("df") >= 20)
        .select(col("token"), col("df"), col("s1"), vmr.as("vmr"))
        .withColumn("__g", lit(0))
        .withColumn("__neg", -col("vmr"))
      graft.functions.Windowing.globalRowNumber(stats, Seq("__g"),
          Seq("__neg", "token"), "rank")
        .filter(col("rank") <= 20)
        .select(col("token"), col("df"), col("s1"), col("vmr"), col("rank"))
    }),

    // Language-ID confusion matrix: the n-gram/stopword classifier's
    // predictions crossed with the labeled truth, plus per-truth row
    // fractions — the eval harness for any cheap classifier in the
    // pipeline. Composes the oracled q_doc_langid output; tiny k×k
    // aggregate downstream.
    "q_langid_confusion" -> ((s, dir) => {
      val pred = PipelineQueries.queries("q_doc_langid")(s, dir)
      val conf = pred.groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))
      val tot = conf.groupBy(col("lang")).agg(sum(col("n")).as("tot"))
      conf.join(broadcast(tot), Seq("lang"))
        .select(col("lang"), col("lang_pred"), col("n"),
          graft.functions.PinnedMath.pinnedRatio(col("n"), col("tot"), 6).as("frac"))
    }),

    // Perceptual-hash near-dup detection for media payloads (stub): the
    // locality-preserving pHash stub (slice codepoint-sums — in-place
    // edits touch only their slices; a real deployment computes DCT lows
    // with the same 64-bit contract) feeds the EXISTING multi-index
    // Hamming blocking (simhashCandidatesFromSigs) at radius 8. Planted
    // near-copies overwrite the last 10 chars in place (same length →
    // same slice boundaries → ≤ 2 slices differ). The oracle is the full
    // quadratic Hamming join the blocking must reproduce exactly.
    "q_multimodal_phash" -> ((s, dir) => {
      val docs = star(s, dir, "documents").df
        .select(col("doc_id"), col("text"))
        .filter(length(col("text")) > 0)
      val planted = docs
        .filter(col("doc_id") < 40 && length(col("text")) >= 40)
        .select((col("doc_id") + 700000L).as("doc_id"),
          concat(expr("substring(text, 1, length(text) - 10)"),
            lit("x" * 10)).as("text"))
      val sigs = docs.unionByName(planted)
        .select(col("doc_id").as("id"),
          graft.functions.expressions.TextExpressions
            .pHashStub(col("text"), 15).as("sig"))
      graft.functions.Dedup.simhashCandidatesFromSigs(sigs, maxHamming = 8)
    }),

    // Per-source duplication report: exact-duplicate rate and byte
    // overhead per source — the first diagnostic run on any new crawl
    // slice. Shuffles carry (source, md5) hashes, never text; one rounded
    // division per source.
    "q_dedup_rate" -> ((s, dir) => {
      val docs = star(s, dir, "documents").df
      val perFp = docs
        .groupBy(col("source"), md5(col("text")).as("fp"))
        .agg(count(lit(1)).as("k"), min(length(col("text"))).as("len"))
      perFp.groupBy(col("source"))
        .agg(sum(col("k")).as("n_docs"),
          count(lit(1)).as("n_distinct"),
          sum((col("k") - 1) * col("len")).as("dup_chars"))
        .select(col("source"), col("n_docs"), col("n_distinct"),
          graft.functions.PinnedMath.pinnedRatio(col("n_docs") - col("n_distinct"),
            col("n_docs"), 6).as("dup_rate"),
          col("dup_chars"))
    }),

    // Source vocabulary-overlap matrix: pairwise shared-distinct-token
    // counts + vocabulary Jaccard between corpus sources — the cheap
    // domain-similarity diagnostic before mixing decisions. The self-join
    // is token-keyed with per-token group size bounded by the source
    // count (never all-pairs of docs); per-source sizes broadcast back;
    // one rounded IEEE division per pair.
    "q_source_overlap" -> ((s, dir) => {
      val vocab = star(s, dir, "documents").df
        .select(col("source"), explode(Text.tokens(col("text"))).as("token"))
        .distinct()
      val sizes = vocab.groupBy(col("source"))
        .agg(count(lit(1)).as("nv"))
      val shared = vocab
        .join(vocab.select(col("source").as("source_b"), col("token")),
          Seq("token"))
        .filter(col("source") < col("source_b"))
        .groupBy(col("source"), col("source_b"))
        .agg(count(lit(1)).as("shared"))
      shared
        .join(broadcast(sizes), Seq("source"))
        .join(broadcast(sizes.select(col("source").as("source_b"),
          col("nv").as("nv_b"))), Seq("source_b"))
        .select(col("source").as("source_a"), col("source_b"),
          col("nv").as("nv_a"), col("nv_b"), col("shared"),
          graft.functions.PinnedMath.pinnedRatio(col("shared"),
            col("nv") + col("nv_b") - col("shared"), 6).as("jaccard"))
    })
  )

  /** NB fit+predict mirror — shared by q_nb_classify, q_stream_classify
    * (via StreamingQueries) and the calibration oracle. */
  private[queries] val nbOracle: String =
      """WITH tok AS MATERIALIZED (
        |  SELECT doc_id, lang,
        |    unnest(string_split_regex(trim(text), '\s+')) AS token
        |  FROM documents),
        |cnt AS MATERIALIZED (
        |  SELECT lang AS label, token, count(*) AS c
        |  FROM tok GROUP BY 1, 2),
        |nc AS (SELECT label, sum(c) AS nc FROM cnt GROUP BY 1),
        |v AS (SELECT count(DISTINCT token) AS v FROM cnt),
        |nd AS (SELECT lang AS label, count(*) AS nd FROM documents GROUP BY 1),
        |tot AS (SELECT count(*) AS td FROM documents),
        |scored AS (
        |  SELECT t.doc_id, t.lang, n.label,
        |    sum(CAST(round(ln(CAST(coalesce(c.c, 0) + 1 AS DOUBLE) /
        |          CAST(n.nc + (SELECT v FROM v) AS DOUBLE)), 6)
        |        AS DECIMAL(28,6)))
        |      + CAST(round(ln(CAST(d.nd AS DOUBLE) /
        |          CAST((SELECT td FROM tot) AS DOUBLE)), 6) AS DECIMAL(28,6))
        |      AS score
        |  FROM tok t
        |  CROSS JOIN nc n
        |  JOIN nd d ON d.label = n.label
        |  LEFT JOIN cnt c ON c.token = t.token AND c.label = n.label
        |  GROUP BY t.doc_id, t.lang, n.label, d.nd),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, label DESC) AS rn
        |  FROM scored)
        |SELECT doc_id, lang, label AS pred,
        |  round(CAST(score AS DOUBLE), 4) AS score, lang = label AS ok
        |FROM ranked WHERE rn = 1""".stripMargin

  val oracleSql: Map[String, String] = Map(

    "q_nb_classify" -> nbOracle,

    "q_calibration" ->
      s"""WITH b AS (
         |  SELECT *, CAST(ntile(5) OVER (ORDER BY score, doc_id) AS INTEGER)
         |    AS bucket
         |  FROM ($nbOracle) nb)
         |SELECT bucket, CAST(count(*) AS BIGINT) AS n,
         |  round(min(score), 4) AS min_score,
         |  round(max(score), 4) AS max_score,
         |  ${Tables.pinnedRatioSql(
              "coalesce(sum(CASE WHEN ok THEN 1 END), 0)", "count(*)", 6)}
         |    AS accuracy
         |FROM b GROUP BY bucket""".stripMargin,

    "q_doc_kn_ppl" ->
      """WITH tokc AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, unnest(toks) AS w, generate_subscripts(toks, 1) AS p
        |  FROM tokc),
        |bg AS MATERIALIZED (
        |  SELECT a.doc_id, a.w AS w1, b.w AS w2
        |  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1),
        |bc AS MATERIALIZED (
        |  SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
        |ctx AS (SELECT w1, sum(c2) AS c1, count(*) AS n1f FROM bc GROUP BY 1),
        |cont AS (SELECT w2, count(*) AS ncont FROM bc GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS DOUBLE) AS tt FROM bc),
        |docbg AS (
        |  SELECT doc_id, w1, w2, count(*) AS k FROM bg GROUP BY 1, 2, 3),
        |contrib AS (
        |  SELECT d.doc_id, d.k,
        |    round(ln((greatest(CAST(coalesce(b.c2, 0) AS DOUBLE) - 0.75, 0.0) +
        |        0.75 * CAST(x.n1f AS DOUBLE) *
        |          (coalesce(CAST(n.ncont AS DOUBLE), 0.5) / t.tt)) /
        |      CAST(x.c1 AS DOUBLE)), 6) AS lp
        |  FROM docbg d
        |  LEFT JOIN bc b ON b.w1 = d.w1 AND b.w2 = d.w2
        |  JOIN ctx x ON x.w1 = d.w1
        |  LEFT JOIN cont n ON n.w2 = d.w2, t)
        |SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
        |  PINNED_MEAN_KN AS kn_xent
        |FROM contrib GROUP BY doc_id""".stripMargin
        .replace("PINNED_MEAN_KN", Tables.pinnedMeanSql(
          "sum(CAST(lp AS DECIMAL(28,6)) * k)", "CAST(sum(k) AS BIGINT)",
          6, 4, negate = true)),

    "q_cooccur" ->
      """WITH tokc AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, unnest(toks) AS w, generate_subscripts(toks, 1) AS p
        |  FROM tokc),
        |pairs AS (
        |  SELECT a.w AS w1, b.w AS w2, 1000000 // (b.p - a.p) AS wt
        |  FROM pos a JOIN pos b
        |    ON a.doc_id = b.doc_id AND b.p - a.p BETWEEN 1 AND 4),
        |agg AS (
        |  SELECT w1, w2, CAST(sum(wt) AS BIGINT) AS wsum,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM pairs GROUP BY 1, 2),
        |ranked AS (
        |  SELECT *, row_number() OVER (ORDER BY wsum DESC, w1 ASC, w2 ASC)
        |    AS rank FROM agg)
        |SELECT w1, w2, wsum, n, rank FROM ranked WHERE rank <= 40""".stripMargin,

    "q_langid_confusion" -> {
      s"""WITH pred AS (
         |${PipelineQueries.oracleSql("q_doc_langid")}),
         |conf AS (
         |  SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n
         |  FROM pred GROUP BY 1, 2),
         |tot AS (SELECT lang, CAST(sum(n) AS BIGINT) AS tot
         |        FROM conf GROUP BY 1)
         |SELECT c.lang, c.lang_pred, c.n,
         |  ${Tables.pinnedRatioSql("c.n", "t.tot", 6)} AS frac
         |FROM conf c JOIN tot t ON t.lang = c.lang""".stripMargin
    },

    "q_split_drift" ->
      """WITH tok AS MATERIALIZED (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
        |    1, 4) AS BIGINT) % 100 AS bucket
        |  FROM documents),
        |p AS (SELECT token, count(*) AS cp FROM tok JOIN b USING (doc_id)
        |      WHERE bucket >= 0 AND bucket < 80 GROUP BY 1),
        |q AS (SELECT token, count(*) AS cq FROM tok JOIN b USING (doc_id)
        |      WHERE bucket >= 80 AND bucket < 100 GROUP BY 1),
        |j AS (
        |  SELECT coalesce(p.token, q.token) AS token,
        |    coalesce(cp, 0) AS cp, coalesce(cq, 0) AS cq
        |  FROM p FULL OUTER JOIN q ON p.token = q.token),
        |tot AS (SELECT CAST(sum(cp) AS BIGINT) AS np,
        |  CAST(sum(cq) AS BIGINT) AS nq, count(*) AS v FROM j)
        |SELECT np AS n_train_tokens, nq AS n_val_tokens, v AS n_vocab,
        |  round(CAST(sum(CAST(round(
        |    ((CAST(cp AS DOUBLE) + 0.5) / (np + 0.5 * v)) *
        |      ln(((CAST(cp AS DOUBLE) + 0.5) / (np + 0.5 * v)) /
        |         ((CAST(cq AS DOUBLE) + 0.5) / (nq + 0.5 * v))), 9)
        |    AS DECIMAL(28,9))) AS DOUBLE), 6) AS kl
        |FROM j, tot GROUP BY np, nq, v""".stripMargin,

    "q_token_burstiness" ->
      """WITH tf AS (
        |  SELECT doc_id, token, count(*) AS k FROM (
        |    SELECT doc_id,
        |      unnest(string_split_regex(trim(text), '\s+')) AS token
        |    FROM documents)
        |  GROUP BY 1, 2),
        |stats AS (
        |  SELECT token, CAST(count(*) AS BIGINT) AS df,
        |    CAST(sum(k) AS BIGINT) AS s1, CAST(sum(k * k) AS BIGINT) AS s2
        |  FROM tf GROUP BY 1),
        |scored AS (
        |  SELECT token, df, s1,
        |    PINNED_VMR AS vmr
        |  FROM stats WHERE df >= 20),
        |ranked AS (
        |  SELECT *, row_number() OVER (ORDER BY vmr DESC, token ASC) AS rank
        |  FROM scored)
        |SELECT token, df, s1, vmr, rank FROM ranked WHERE rank <= 20""".stripMargin
        .replace("PINNED_VMR", Tables.pinnedRatioSql(
          "s2 * df - s1 * s1", "df * s1", 6)),

    "q_emb_outliers" ->
      """WITH base AS (
        |  SELECT vec_id, label, embedding,
        |    list_max(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE)))) AS s
        |  FROM embeddings),
        |codes AS MATERIALIZED (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x -> CASE WHEN s > 0
        |      THEN floor(CAST(x AS DOUBLE) / s * 127 + 0.5)
        |      ELSE 0.0 END) AS codes
        |  FROM base),
        |pos AS (
        |  SELECT label, unnest(codes) AS v, generate_subscripts(codes, 1) AS p
        |  FROM codes),
        |sums AS (SELECT label, p, sum(v) AS sv FROM pos GROUP BY 1, 2),
        |svecs AS (SELECT label, list(sv ORDER BY p) AS svec FROM sums GROUP BY 1),
        |counts AS (SELECT label, count(*) AS n FROM codes GROUP BY 1),
        |scored AS (
        |  SELECT c.label, c.vec_id,
        |    t.n * t.n * list_dot_product(c.codes, c.codes)
        |      - 2.0 * t.n * list_dot_product(c.codes, s.svec)
        |      + list_dot_product(s.svec, s.svec) AS d2n2
        |  FROM codes c JOIN svecs s ON s.label = c.label
        |    JOIN counts t ON t.label = c.label),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY label
        |    ORDER BY d2n2 DESC, vec_id ASC) AS rank
        |  FROM scored)
        |SELECT label, vec_id, d2n2, rank FROM ranked WHERE rank <= 3""".stripMargin,

    "q_doc_shards" ->
      """WITH sh8 AS (SELECT unnest(range(8)) AS sh),
        |sh9 AS (SELECT unnest(range(9)) AS sh),
        |h8 AS (
        |  SELECT d.doc_id, s.sh,
        |    CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR) || ':' ||
        |      CAST(s.sh AS VARCHAR)), 1, 12) AS BIGINT) AS h
        |  FROM documents d CROSS JOIN sh8 s),
        |r8 AS (SELECT doc_id, sh, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY h DESC, sh DESC) AS rn FROM h8),
        |h9 AS (
        |  SELECT d.doc_id, s.sh,
        |    CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR) || ':' ||
        |      CAST(s.sh AS VARCHAR)), 1, 12) AS BIGINT) AS h
        |  FROM documents d CROSS JOIN sh9 s),
        |r9 AS (SELECT doc_id, sh, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY h DESC, sh DESC) AS rn FROM h9)
        |SELECT a.doc_id, CAST(a.sh AS INTEGER) AS shard,
        |  CAST(b.sh AS INTEGER) AS shard9, a.sh <> b.sh AS moved
        |FROM (SELECT doc_id, sh FROM r8 WHERE rn = 1) a
        |JOIN (SELECT doc_id, sh FROM r9 WHERE rn = 1) b USING (doc_id)""".stripMargin,

    "q_knn_graph" ->
      """WITH base AS (
        |  SELECT vec_id, label, embedding,
        |    list_max(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE)))) AS s
        |  FROM embeddings),
        |codes AS MATERIALIZED (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x -> CASE WHEN s > 0
        |      THEN floor(CAST(x AS DOUBLE) / s * 127 + 0.5)
        |      ELSE 0.0 END) AS codes
        |  FROM base),
        |withn AS MATERIALIZED (
        |  SELECT vec_id, label, codes,
        |    list_dot_product(codes, codes) AS n2
        |  FROM codes),
        |scored AS (
        |  SELECT a.vec_id AS ida, b.vec_id AS idb,
        |    CASE WHEN sqrt(a.n2) * sqrt(b.n2) > 0
        |      THEN round(list_dot_product(a.codes, b.codes) /
        |        (sqrt(a.n2) * sqrt(b.n2)), 6)
        |      ELSE 0.0 END AS cosine
        |  FROM withn a JOIN withn b
        |    ON a.label = b.label AND a.vec_id <> b.vec_id),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY ida
        |    ORDER BY cosine DESC, idb ASC) AS rank
        |  FROM scored)
        |SELECT ida AS vec_id, idb AS neighbor_id, cosine, rank
        |FROM ranked WHERE rank <= 3""".stripMargin,

    "q_hard_negatives" ->
      """WITH base AS (
        |  SELECT vec_id, label, embedding,
        |    list_max(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE)))) AS s
        |  FROM embeddings),
        |codes AS MATERIALIZED (
        |  SELECT vec_id, label, vec_id % 16 AS blk,
        |    list_transform(embedding, x -> CASE WHEN s > 0
        |      THEN floor(CAST(x AS DOUBLE) / s * 127 + 0.5)
        |      ELSE 0.0 END) AS codes
        |  FROM base),
        |withn AS MATERIALIZED (
        |  SELECT vec_id, label, blk, codes,
        |    list_dot_product(codes, codes) AS n2
        |  FROM codes),
        |pairs AS MATERIALIZED (
        |  SELECT a.vec_id AS ida, a.label AS laba, b.label AS labb,
        |    b.vec_id AS idb,
        |    CASE WHEN sqrt(a.n2) * sqrt(b.n2) > 0
        |      THEN round(list_dot_product(a.codes, b.codes) /
        |        (sqrt(a.n2) * sqrt(b.n2)), 6)
        |      ELSE 0.0 END AS cos
        |  FROM withn a JOIN withn b
        |    ON a.blk = b.blk AND a.vec_id <> b.vec_id),
        |neg AS (
        |  SELECT ida, laba, idb, cos, row_number() OVER (PARTITION BY ida
        |    ORDER BY cos DESC, idb DESC) AS rn
        |  FROM pairs WHERE laba <> labb),
        |pos AS (
        |  SELECT ida, idb, cos, row_number() OVER (PARTITION BY ida
        |    ORDER BY cos ASC, idb ASC) AS rn
        |  FROM pairs WHERE laba = labb)
        |SELECT n.ida AS vec_id, n.laba AS label, n.idb AS neg_id,
        |  n.cos AS neg_cos, p.idb AS pos_id, p.cos AS pos_cos
        |FROM (SELECT * FROM neg WHERE rn = 1) n
        |JOIN (SELECT * FROM pos WHERE rn = 1) p ON n.ida = p.ida""".stripMargin,

    "q_mutual_nn" ->
      """WITH base AS (
        |  SELECT vec_id, label, embedding,
        |    list_max(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE)))) AS s
        |  FROM embeddings),
        |codes AS MATERIALIZED (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x -> CASE WHEN s > 0
        |      THEN floor(CAST(x AS DOUBLE) / s * 127 + 0.5)
        |      ELSE 0.0 END) AS codes
        |  FROM base),
        |withn AS MATERIALIZED (
        |  SELECT vec_id, label, codes,
        |    list_dot_product(codes, codes) AS n2
        |  FROM codes),
        |scored AS (
        |  SELECT a.vec_id AS ida, b.vec_id AS idb,
        |    CASE WHEN sqrt(a.n2) * sqrt(b.n2) > 0
        |      THEN round(list_dot_product(a.codes, b.codes) /
        |        (sqrt(a.n2) * sqrt(b.n2)), 6)
        |      ELSE 0.0 END AS cosine
        |  FROM withn a JOIN withn b
        |    ON a.label = b.label AND a.vec_id <> b.vec_id),
        |top1 AS (
        |  SELECT ida, idb, cosine FROM (
        |    SELECT *, row_number() OVER (PARTITION BY ida
        |      ORDER BY cosine DESC, idb ASC) AS rank
        |    FROM scored) WHERE rank = 1)
        |SELECT a.ida AS id_a, a.idb AS id_b, a.cosine
        |FROM top1 a JOIN top1 b ON a.ida = b.idb AND a.idb = b.ida
        |WHERE a.ida < a.idb""".stripMargin,

    "q_multimodal_phash" ->
      """WITH d2 AS MATERIALIZED (
        |  SELECT doc_id, text FROM documents WHERE length(text) > 0
        |  UNION ALL
        |  SELECT doc_id + 700000,
        |    substring(text, 1, length(text) - 10) || repeat('x', 10)
        |  FROM documents WHERE doc_id < 40 AND length(text) >= 40),
        |lens AS (SELECT doc_id, text, length(text) AS n FROM d2 WHERE length(text) > 0),
        |pos AS (
        |  SELECT doc_id, n, text, unnest(generate_series(1, n)) AS p
        |  FROM lens),
        |cps AS (
        |  SELECT doc_id, CAST(((p - 1) * 15) // n AS INTEGER) AS sl,
        |    unicode(substring(text, CAST(p AS INTEGER), 1)) AS cp
        |  FROM pos),
        |sums AS (SELECT doc_id, sl, sum(cp) AS s FROM cps GROUP BY 1, 2),
        |hashes AS MATERIALIZED (
        |  SELECT doc_id, CAST(sum((s % 16) *
        |    (CAST(1 AS BIGINT) << CAST(4 * sl AS INTEGER))) AS BIGINT) AS h
        |  FROM sums GROUP BY 1)
        |SELECT a.doc_id AS idA, b.doc_id AS idB,
        |  CAST(bit_count(xor(a.h, b.h)) AS INTEGER) AS hamming
        |FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.h, b.h)) <= 8""".stripMargin,

    "q_dedup_rate" ->
      """WITH perfp AS (
        |  SELECT source, md5(text) AS fp, count(*) AS k,
        |    min(length(text)) AS len
        |  FROM documents GROUP BY 1, 2)
        |SELECT source, CAST(sum(k) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  PINNED_DUP_RATE AS dup_rate,
        |  CAST(sum((k - 1) * len) AS BIGINT) AS dup_chars
        |FROM perfp GROUP BY source""".stripMargin
        .replace("PINNED_DUP_RATE", Tables.pinnedRatioSql(
          "sum(k) - count(*)", "sum(k)", 6)),

    "q_source_overlap" ->
      """WITH v AS (
        |  SELECT DISTINCT source, token FROM (
        |    SELECT source,
        |      unnest(string_split_regex(trim(text), '\s+')) AS token
        |    FROM documents)),
        |sz AS (SELECT source, count(*) AS nv FROM v GROUP BY 1),
        |sh AS (
        |  SELECT a.source AS source_a, b.source AS source_b, count(*) AS shared
        |  FROM v a JOIN v b ON a.token = b.token AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT sh.source_a, sh.source_b, x.nv AS nv_a, y.nv AS nv_b,
        |  CAST(sh.shared AS BIGINT) AS shared,
        |  PINNED_SO_JACCARD AS jaccard
        |FROM sh JOIN sz x ON x.source = sh.source_a
        |  JOIN sz y ON y.source = sh.source_b""".stripMargin
        .replace("PINNED_SO_JACCARD", Tables.pinnedRatioSql(
          "sh.shared", "x.nv + y.nv - sh.shared", 6))
  )
}
