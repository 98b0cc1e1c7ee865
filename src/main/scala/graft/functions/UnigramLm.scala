package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Unigram language-model scoring — the CCNet-style perplexity quality
  * signal, reduced to its scalable core: train token frequencies on a
  * (reference or self) corpus, then score each document by its mean
  * negative log-probability under that unigram distribution. Documents full
  * of rare/garbage tokens score high (bad), fluent in-distribution text
  * scores low — the standard cheap proxy where a full KenLM is unavailable,
  * and the same two-stage shape (train counts → broadcast → score) a
  * higher-order model would use.
  *
  * Determinism contract (DuckDB-oracle-checkable): each token's
  * log-probability is rounded to `logScale` decimals and summed EXACTLY as
  * DECIMAL(28,`logScale`) — the per-document sum is order-independent, so
  * the score is partitioning- and engine-independent (log() ulp noise sits
  * ~9 orders of magnitude below the rounding grid).
  *
  * Scale shape: counting shuffles each distinct (token) once — inherent to
  * frequency training; scoring first collapses the exploded corpus to
  * distinct (doc, token) counts (map-side combinable), then joins THAT to
  * the frequency table on the token string — the rounded per-token log is
  * a constant per token, so count × constant in exact DECIMAL is
  * bit-identical to per-occurrence summing. With `maxVocab` set, the vocabulary is capped
  * to the most frequent tokens (count desc, token asc — deterministic) and
  * BROADCAST, making the scoring pass shuffle-free; uncapped, the join is a
  * plain equi-join AQE is free to re-plan. Out-of-vocabulary tokens score
  * as `oovCount` pseudo-occurrences (default 0.5 — Jeffreys-style), so the
  * cap only coarsens tail probabilities, never drops tokens.
  */
object UnigramLm {

  /** Engine-pinned rounded mean of an exact DECIMAL sum — the boundary-free
    * replacement for `round(sum.cast(double) / n, outScale)`. The IEEE
    * shape is NOT cross-engine deterministic: the decimal→double cast plus
    * division can land exactly on an `outScale`-decimal boundary, and
    * Spark (BigDecimal HALF_UP on the shortest decimal rendering) and
    * DuckDB/libm (scaled `nearbyint`) then round the SAME double to
    * DIFFERENT values — the q_doc_dsir round-5/6 driver-gate failure.
    *
    * This helper never forms the IEEE quotient, and it never leaves exact
    * DECIMAL until the answer is a small integer. The mean is ONE integral
    * division rounded half-away-from-zero (matching BigDecimal HALF_UP):
    *
    *   mean·10^out = (|sum·10^S| + n·10^(S−out)/2) div (n·10^(S−out)), signed
    *
    * computed without ever materializing sum·10^S as a machine integer:
    * Spark's `div` on DECIMAL operands is BigDecimal
    * `divideToIntegralValue` (exact, truncating toward zero — verified:
    * 0.999999999999 div 1 = 0, no intermediate rounding), so the identity
    * (NUM + H) div D = (NUM·10^−S + H·10^−S) div (D·10^−S) lets the sum
    * stay a DECIMAL(30,S) and the half/denominator be n × small exact
    * decimal literals (5·10^−(out+1) and 10^−out). Addition precision is
    * max(30−S, 20) + S + 1 ≤ 38, so adjustPrecisionScale never fires.
    *
    * Overflow bound: exact while |sum| < 10^(30−S) — at S=12 that is
    * 10^18, i.e. a single document would need ~2·10^16 tokens (a ~100 PB
    * document) to reach it. The previous formulation cast sum·10^S to
    * BIGINT, a ~9.2·10^(18−S) cliff (≈9.2e6 at S=12 — reachable by a very
    * long document) where Spark's non-ANSI cast silently NULLed while
    * DuckDB errored. Both engines now share the 10^(30−S) bound, and the
    * DuckDB mirror (`Tables.pinnedMeanSql`, HUGEINT arithmetic) errors
    * loudly rather than silently diverging if it is ever exceeded.
    *
    * Both `div` (Spark DECIMAL) and `//` (DuckDB HUGEINT) truncate toward
    * zero, and both CASE branches keep the operands non-negative, so
    * floor ≡ truncate and the engines agree bit-for-bit. The final
    * `/10^out` maps a small integer through one exact IEEE double
    * division — deterministic everywhere. */
  private[graft] def pinnedMean(sumName: String, nName: String,
                                sumScale: Int, outScale: Int,
                                negate: Boolean = false): Column = {
    require(sumScale - outScale >= 1,
      s"pinnedMean: sumScale $sumScale must exceed outScale $outScale")
    val halfLit = "0." + "0" * outScale + "5"       // 5·10^-(out+1)
    val denLit  = "0." + "0" * (outScale - 1) + "1" // 10^-out
    val sgn = if (negate) "-" else ""
    val num  = s"CAST($sgn`$sumName` AS DECIMAL(30,$sumScale))"
    val half = s"(CAST(`$nName` AS DECIMAL(19,0)) * " +
      s"CAST($halfLit AS DECIMAL(${outScale + 1},${outScale + 1})))"
    val den  = s"(CAST(`$nName` AS DECIMAL(19,0)) * " +
      s"CAST($denLit AS DECIMAL($outScale,$outScale)))"
    expr(s"CASE WHEN $num >= 0 THEN ($num + $half) div $den " +
         s"ELSE -((-($num) + $half) div $den) END") /
      lit(math.pow(10.0, outScale))
  }

  /** Token frequency table (token, cnt) of `df`'s whitespace tokens,
    * capped to `maxVocab` most-frequent when positive. */
  def tokenFrequencies(df: DataFrame, textCol: String,
                       maxVocab: Int = 0): DataFrame = {
    val freq = df.select(explode(Text.tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    if (maxVocab > 0)
      freq.orderBy(col("cnt").desc, col("token").asc).limit(maxVocab)
    else freq
  }

  /** Score every document of `df` against frequencies trained on
    * `reference` (pass `df` itself for self-scoring). Returns
    * (id, n_tokens, xent) where xent = mean −log p(token) rounded to
    * `outScale` decimals; lower is more fluent. `total` is always the FULL
    * reference token count, so in-vocab probabilities are true MLE
    * frequencies regardless of the vocabulary cap and OOV tokens get
    * `oovCount`/total. Eager, under the [[CacheScope]] rules. */
  def score(df: DataFrame, reference: DataFrame,
            idCol: String, textCol: String,
            maxVocab: Int = 0, oovCount: Double = 0.5,
            logScale: Int = 6, outScale: Int = 4): DataFrame = CacheScope { s =>
    val freq = s.cache(tokenFrequencies(reference, textCol))
    val total = freq.agg(sum(col("cnt"))).head().getLong(0)
    require(total > 0, "unigram training corpus has no tokens")
    val freqSide =
      if (maxVocab > 0)
        broadcast(freq.orderBy(col("cnt").desc, col("token").asc).limit(maxVocab))
      else freq

    // Distinct-(doc, token) grain: the rounded per-token log is a constant
    // per token, so sum-over-occurrences ≡ occurrence-count × constant in
    // exact DECIMAL — bit-identical scores from far fewer join rows.
    val toks = df.select(col(idCol).as("id"),
        explode(Text.tokens(col(textCol))).as("token"))
      .groupBy(col("id"), col("token")).agg(count(lit(1)).as("__n"))
    val logp = round(
      log(coalesce(col("cnt").cast("double"), lit(oovCount)) / lit(total.toDouble)),
      logScale).cast(s"decimal(28,$logScale)")
    // __n is cast DECIMAL(9,0) so the product precision is 28+9+1 = 38 —
    // exactly Spark's decimal budget. Anything wider (e.g. (20,0)) trips
    // adjustPrecisionScale, which TRUNCATES the product's scale toward 6
    // and silently breaks the rounding contract at logScale > 6. 1e9
    // occurrences of one token in one document is far beyond any real doc.
    toks.join(freqSide, Seq("token"), "left")
      .select(col("id"), col("__n"),
        (logp * col("__n").cast("decimal(9,0)")).as("__lp"))
      .groupBy("id")
      .agg(sum(col("__n")).as("n_tokens"), sum(col("__lp")).as("__sum"))
      .select(col("id").as(idCol), col("n_tokens"),
        pinnedMean("__sum", "n_tokens", logScale, outScale, negate = true)
          .as("xent"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, arXiv:2302.03169 —
    * "Data Selection for Language Models via Importance Resampling",
    * reduced to the unigram feature space): score every document of `df`
    * by its mean per-token log-likelihood RATIO under a TARGET
    * distribution (the domain you want more of — e.g. a curated or
    * in-domain corpus) vs a RAW distribution (the corpus you're selecting
    * from):
    *
    *   w(d) = (1/|d|) Σ_t [ log p_target(t) − log p_raw(t) ]
    *
    * Positive means the document looks more target-like than
    * raw-average; selection keeps the top weights (deterministically —
    * DSIR's Gumbel resampling step is a sampling refinement over the same
    * weights). Returns (id, n_tokens, logratio).
    *
    * Determinism + scale contract identical to [[score]]: both frequency
    * tables train in one shuffle each, per-token log-ratios are rounded to
    * `logScale` decimals and summed exactly as DECIMAL(28,`logScale`)
    * (`logScale` defaults to 12, not 6: a 1-ulp `ln` drift between libm
    * implementations can flip a 6-decimal rounding outright, while at 12
    * decimals a one-step disagreement perturbs the decimal sum by ~1e-12
    * per occurrence — far below the final `outScale` rounding grain),
    * OOV tokens score as `oovCount` pseudo-occurrences over the FULL
    * distribution totals, `maxVocab` caps + broadcasts both vocabularies
    * (making the scoring pass shuffle-free on the frequency side), and the
    * operator is eager, under the [[CacheScope]] rules. */
  def importanceWeights(df: DataFrame, target: DataFrame, raw: DataFrame,
                        idCol: String, textCol: String,
                        maxVocab: Int = 0, oovCount: Double = 0.5,
                        logScale: Int = 12, outScale: Int = 4): DataFrame = CacheScope { s =>
    val ft = s.cache(tokenFrequencies(target, textCol))
    val fr = s.cache(tokenFrequencies(raw, textCol))
    val totT = ft.agg(sum(col("cnt"))).head().getLong(0)
    val totR = fr.agg(sum(col("cnt"))).head().getLong(0)
    require(totT > 0, "importanceWeights: target corpus has no tokens")
    require(totR > 0, "importanceWeights: raw corpus has no tokens")
    def side(f: DataFrame, as: String): DataFrame = {
      val capped =
        if (maxVocab > 0)
          broadcast(f.orderBy(col("cnt").desc, col("token").asc).limit(maxVocab))
        else f
      capped.withColumnRenamed("cnt", as)
    }
    // Distinct-(doc, token) grain, as in [[score]]: rounded ratio × exact
    // occurrence count in DECIMAL ≡ per-occurrence summing, bit-identical.
    val toks = df.select(col(idCol).as("id"),
        explode(Text.tokens(col(textCol))).as("token"))
      .groupBy(col("id"), col("token")).agg(count(lit(1)).as("__n"))
    val ratio = round(
      log(coalesce(col("cnt_t").cast("double"), lit(oovCount)) / lit(totT.toDouble)) -
        log(coalesce(col("cnt_r").cast("double"), lit(oovCount)) / lit(totR.toDouble)),
      logScale).cast(s"decimal(28,$logScale)")
    toks
      .join(side(ft, "cnt_t"), Seq("token"), "left")
      .join(side(fr, "cnt_r"), Seq("token"), "left")
      // DECIMAL(9,0): keeps product precision at 38 — see [[score]]; at
      // the 12-decimal default a (20,0) cast would truncate scale to 6.
      .select(col("id"), col("__n"),
        (ratio * col("__n").cast("decimal(9,0)")).as("__lr"))
      .groupBy("id")
      .agg(sum(col("__n")).as("n_tokens"), sum(col("__lr")).as("__sum"))
      .select(col("id").as(idCol), col("n_tokens"),
        pinnedMean("__sum", "n_tokens", logScale, outScale).as("logratio"))
  }

  /** Bigram LM scoring with stupid backoff (Brants et al. 2007, "Large
    * Language Models in Machine Translation") — one order up from [[score]]
    * and a materially sharper fluency signal (word-salad documents look
    * fine to a unigram model but have improbable transitions):
    *
    *   s(w_1)          = c(w_1) / total                      (first token)
    *   s(w_i | w_{i-1}) = c(w_{i-1} w_i) / c(w_{i-1})        (bigram seen)
    *                     = α · c(w_i) / total                 (backoff)
    *
    * xent2 = mean −log s over all n positions; α = 0.4 (the paper's
    * constant — scores, not probabilities, by design). Bigrams come from
    * [[Text.bigrams]] — a narrow array transform, never a per-position
    * self-join of the token table.
    *
    * Determinism contract identical to [[score]]: per-position logs are
    * rounded to `logScale` decimals and summed as DECIMAL, so the result
    * is order/partitioning/engine-independent. Scale shape: bigram
    * counting shuffles distinct (w1, w2) pairs once — that table grows
    * with corpus diversity, not corpus size, and stays far below the
    * token stream (the 2007 paper served 300 GB of n-grams; here it is a
    * shuffle, there it was the whole serving system). Scoring is three
    * equi-joins AQE is free to re-plan. Eager, under the [[CacheScope]]
    * rules. */
  def scoreBigram(df: DataFrame, reference: DataFrame,
                  idCol: String, textCol: String, alpha: Double = 0.4,
                  oovCount: Double = 0.5,
                  logScale: Int = 6, outScale: Int = 4): DataFrame = CacheScope { s =>
    val uni = s.cache(tokenFrequencies(reference, textCol))
    val total = uni.agg(sum(col("cnt"))).head().getLong(0)
    require(total > 0, "bigram training corpus has no tokens")
    val bc = s.cache(reference
      .select(explode(Text.bigrams(col(textCol))).as("__b"))
      .groupBy(col("__b.w1").as("w1"), col("__b.w2").as("w2"))
      .agg(count(lit(1)).as("c2")))

    // OOV tokens score as `oovCount` pseudo-occurrences over the full
    // total, exactly like [[score]] — left joins, never dropped positions.
    val firsts = df.select(col(idCol).as("id"),
        element_at(Text.tokens(col(textCol)), 1).as("token"))
      .join(uni, Seq("token"), "left")
      .select(col("id"),
        round(log(coalesce(col("cnt").cast("double"), lit(oovCount)) /
          lit(total.toDouble)), logScale)
          .cast(s"decimal(28,$logScale)").as("__lp"),
        lit(1L).as("__k"))
    // Join-volume hygiene: collapse to DISTINCT per-doc bigrams first
    // (repeated transitions multiply the rounded log by an exact integer
    // — same decimal sum), and resolve the seen-branch denominator from
    // a c1-annotated count table so the pair stream is joined twice, not
    // three times; the unigram join only serves the backoff branch.
    val bcAnn = bc.join(uni.select(col("token").as("w1"), col("cnt").as("c1")),
      Seq("w1"))
    val pairs = df.select(col(idCol).as("id"),
        explode(Text.bigrams(col(textCol))).as("__b"))
      .groupBy(col("id"), col("__b.w1").as("w1"), col("__b.w2").as("w2"))
      .agg(count(lit(1)).as("__k"))
      .join(bcAnn, Seq("w1", "w2"), "left")
      .join(uni.select(col("token").as("w2"), col("cnt").as("cw2")),
        Seq("w2"), "left")
      .select(col("id"),
        round(log(when(col("c2").isNotNull,
            col("c2").cast("double") / col("c1"))
          .otherwise(lit(alpha) *
            coalesce(col("cw2").cast("double"), lit(oovCount)) /
            lit(total.toDouble))),
          logScale).cast(s"decimal(28,$logScale)").as("__lp"),
        col("__k"))

    firsts.unionByName(pairs)
      .groupBy(col("id"))
      .agg(sum(col("__k")).as("n_tokens"),
        sum(col("__lp") * col("__k")).as("__sum"))
      .select(col("id").as(idCol), col("n_tokens"),
        pinnedMean("__sum", "n_tokens", logScale, outScale, negate = true)
          .as("xent2"))
  }

  /** Trigram LM with the FULL stupid-backoff chain (the shape Brants et
    * al. served at 5-gram order):
    *
    *   s(w_i | w_{i-2} w_{i-1}) = c3/c2(ctx)                       (trigram seen)
    *                             = α · c2(w_{i-1} w_i)/c1(w_{i-1})  (else, bigram seen)
    *                             = α² · c(w_i)/total                (else)
    *
    * with the unigram first position and the bigram chain for position 2.
    * Everything else — decimal determinism, OOV pseudo-counts,
    * distinct-gram collapse, eager barrier hygiene — is [[scoreBigram]]'s
    * contract one order up; the trigram count table again grows with
    * corpus diversity, not size. (An annotate-the-count-tables join
    * reduction was tried and REJECTED by measurement: the trigram count
    * table is itself corpus-sized, so pre-joining it costs more than the
    * extra stream joins it saves.) Returns (id, n_tokens, xent3). */
  def scoreTrigram(df: DataFrame, reference: DataFrame,
                   idCol: String, textCol: String, alpha: Double = 0.4,
                   oovCount: Double = 0.5,
                   logScale: Int = 6, outScale: Int = 4): DataFrame = CacheScope { s =>
    val uni = s.cache(tokenFrequencies(reference, textCol))
    val total = uni.agg(sum(col("cnt"))).head().getLong(0)
    require(total > 0, "trigram training corpus has no tokens")
    val bc = s.cache(reference
      .select(explode(Text.bigrams(col(textCol))).as("__b"))
      .groupBy(col("__b.w1").as("w1"), col("__b.w2").as("w2"))
      .agg(count(lit(1)).as("c2")))
    val tc = s.cache(reference
      .select(explode(Text.trigrams(col(textCol))).as("__t"))
      .groupBy(col("__t.w1").as("w1"), col("__t.w2").as("w2"),
        col("__t.w3").as("w3"))
      .agg(count(lit(1)).as("c3")))

    def uniP(cnt: Column): Column =
      coalesce(cnt.cast("double"), lit(oovCount)) / lit(total.toDouble)
    def dec(c: Column): Column =
      round(log(c), logScale).cast(s"decimal(28,$logScale)")

    val toks = Text.tokens(col(textCol))
    val firsts = df.select(col(idCol).as("id"),
        element_at(toks, 1).as("token"))
      .join(uni, Seq("token"), "left")
      .select(col("id"), dec(uniP(col("cnt"))).as("__lp"), lit(1L).as("__k"))
    // position 2: the bigram chain over (tok1, tok2)
    val seconds = df.filter(size(toks) >= 2)
      .select(col(idCol).as("id"), element_at(toks, 1).as("w1"),
        element_at(toks, 2).as("w2"))
      .join(bc, Seq("w1", "w2"), "left")
      .join(uni.select(col("token").as("w1"), col("cnt").as("c1")),
        Seq("w1"), "left")
      .join(uni.select(col("token").as("w2"), col("cnt").as("cw2")),
        Seq("w2"), "left")
      .select(col("id"),
        dec(when(col("c2").isNotNull, col("c2").cast("double") / col("c1"))
          .otherwise(lit(alpha) * uniP(col("cw2")))).as("__lp"),
        lit(1L).as("__k"))
    // positions >= 3: the full chain, distinct-collapsed per doc
    val triples = df.select(col(idCol).as("id"),
        explode(Text.trigrams(col(textCol))).as("__t"))
      .groupBy(col("id"), col("__t.w1").as("w1"), col("__t.w2").as("w2"),
        col("__t.w3").as("w3"))
      .agg(count(lit(1)).as("__k"))
      .join(tc, Seq("w1", "w2", "w3"), "left")
      .join(bc.select(col("w1"), col("w2"), col("c2").as("c2ctx")),
        Seq("w1", "w2"), "left")
      .join(bc.select(col("w1").as("w2"), col("w2").as("w3"),
        col("c2").as("c2nxt")), Seq("w2", "w3"), "left")
      .join(uni.select(col("token").as("w2"), col("cnt").as("c1mid")),
        Seq("w2"), "left")
      .join(uni.select(col("token").as("w3"), col("cnt").as("cw3")),
        Seq("w3"), "left")
      .select(col("id"),
        dec(when(col("c3").isNotNull,
            col("c3").cast("double") / col("c2ctx"))
          .otherwise(lit(alpha) *
            when(col("c2nxt").isNotNull,
              col("c2nxt").cast("double") / col("c1mid"))
              .otherwise(lit(alpha) * uniP(col("cw3"))))).as("__lp"),
        col("__k"))

    firsts.unionByName(seconds).unionByName(triples)
      .groupBy(col("id"))
      .agg(sum(col("__k")).as("n_tokens"),
        sum(col("__lp") * col("__k")).as("__sum"))
      .select(col("id").as(idCol), col("n_tokens"),
        pinnedMean("__sum", "n_tokens", logScale, outScale, negate = true)
          .as("xent3"))
  }

  /** Interpolated Kneser-Ney bigram cross-entropy (Kneser & Ney 1995;
    * Chen & Goodman 1999's interpolated form) — the reference smoothing
    * for count-based LMs, scoring how predictable each document's word
    * TRANSITIONS are. Unlike stupid backoff this is a true probability
    * model: absolute discounting redistributes mass to a CONTINUATION
    * distribution (how many distinct contexts a word follows — why
    * "Francisco" scores low despite high frequency):
    *
    *   P(w2|w1) = (max(c(w1w2) − D, 0) + D · N1+(w1·) · Pcont(w2)) / c(w1·)
    *   Pcont(w2) = N1+(·w2) / |distinct bigram types|
    *
    * with D = 0.75 (exact in binary). Out-of-model fallbacks (cross-corpus
    * scoring only — self-scoring always finds its counts): an unseen pair
    * under a seen context keeps the discounted-interpolation form with
    * c(w1w2) = 0; an unseen CONTEXT backs off to Pcont(w2) alone; a word
    * never seen as a continuation takes `oovCount` pseudo-types.
    *
    * Only transitions are scored (n_bigrams = tokens − 1; sub-2-token
    * docs are absent from the output). Determinism contract identical to
    * [[score]]: one rounded ln per distinct (doc, pair), multiplied by the
    * exact repeat count, DECIMAL-summed. Scale shape: all statistics
    * (pair counts, context totals, fan-out, continuation fan-in, type
    * count) derive from the ONE pair-count table, which grows with corpus
    * diversity, not size; scoring joins are token/pair-keyed, never
    * broadcast. Eager, under the [[CacheScope]] rules. Returns (id,
    * n_bigrams, kn_xent). */
  def scoreKneserNey(df: DataFrame, reference: DataFrame,
                     idCol: String, textCol: String, discount: Double = 0.75,
                     oovCount: Double = 0.5,
                     logScale: Int = 6, outScale: Int = 4): DataFrame = CacheScope { s =>
    val bc = s.cache(reference
      .select(explode(Text.bigrams(col(textCol))).as("__b"))
      .groupBy(col("__b.w1").as("w1"), col("__b.w2").as("w2"))
      .agg(count(lit(1)).as("c2")))
    val tTypes = bc.count()
    require(tTypes > 0, "kneser-ney training corpus has no bigrams")
    val ctx = bc.groupBy(col("w1"))
      .agg(sum(col("c2")).as("c1"), count(lit(1)).as("n1f"))
    val cont = bc.groupBy(col("w2")).agg(count(lit(1)).as("ncont"))

    val pc = coalesce(col("ncont").cast("double"), lit(oovCount)) /
      lit(tTypes.toDouble)
    val pSeen = (greatest(
        coalesce(col("c2"), lit(0L)).cast("double") - lit(discount), lit(0.0)) +
      lit(discount) * col("n1f").cast("double") * pc) / col("c1").cast("double")
    val lp = round(log(when(col("c1").isNotNull, pSeen).otherwise(pc)), logScale)
      .cast(s"decimal(28,$logScale)")

    df.select(col(idCol).as("id"),
        explode(Text.bigrams(col(textCol))).as("__b"))
      .groupBy(col("id"), col("__b.w1").as("w1"), col("__b.w2").as("w2"))
      .agg(count(lit(1)).as("__k"))
      .join(bc, Seq("w1", "w2"), "left")
      .join(ctx, Seq("w1"), "left")
      .join(cont, Seq("w2"), "left")
      .select(col("id"), lp.as("__lp"), col("__k"))
      .groupBy(col("id"))
      .agg(sum(col("__k")).as("n_bigrams"),
        sum(col("__lp") * col("__k")).as("__sum"))
      .select(col("id").as(idCol), col("n_bigrams"),
        pinnedMean("__sum", "n_bigrams", logScale, outScale, negate = true)
          .as("kn_xent"))
  }
}
