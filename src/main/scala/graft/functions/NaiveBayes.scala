package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multinomial Naive Bayes text classification — the classic lightweight
  * document router (language/domain/quality tagging) that fastText-style
  * linear classifiers descend from (McCallum & Nigam 1998, "A Comparison
  * of Event Models for Naive Bayes Text Classification"). Training IS
  * counting, so the whole fit is one shuffle of exact integers, and
  * scoring is a log-linear scan — the rare classifier that is practical
  * to train from scratch on a 100 TB corpus.
  *
  * Model (add-one / Laplace smoothing):
  *
  *   score(d, c) = ln P(c) + Σ_{t ∈ d} ln ((count(t, c) + 1) / (N_c + V))
  *
  * with N_c the token mass of class c and V the corpus vocabulary size.
  * Prediction is argmax_c score(d, c), ties broken by label DESCENDING
  * (the max-of-struct order, so the argmax is a plain aggregate).
  *
  * Determinism contract (the UnigramLm scheme): every ln is rounded to
  * `logScale` decimals then summed exactly as DECIMAL(28,`logScale`), so
  * the per-(doc, class) scores — and therefore the argmax under the
  * (score, label) lexicographic max — are partitioning/order/engine
  * independent. The argmax is max(struct(score, label)) — one more
  * hash-aggregate pass, no window, no rank, no re-execution of the
  * scoring join.
  *
  * Scale shape: the count table is vocabulary × classes (grows with
  * diversity, not corpus size) and stays token-keyed in every join — a
  * 100 TB vocabulary is not driver-sized, so it is never broadcast. The
  * tiny per-class stats (k rows) ARE broadcast. The corpus is tokenized
  * ONCE into per-document token counts (one shuffle with map-side
  * combine); the class count table derives from that, and scoring runs
  * at distinct-(doc, token) grain — each rounded per-token log is
  * multiplied by its exact occurrence count (Σ over occurrences of a
  * rounded constant ≡ count × constant, so the decimal sum is
  * bit-identical to per-occurrence iteration). The scoring shuffle
  * carries (doc, class) decimal partial sums, never token rows.
  */
object NaiveBayes {

  /** Train on `df`'s (`labelCol`, `textCol`) pairs and classify every row,
    * returning (idCol, labelCol, pred, score, ok) — the true label, the
    * predicted label, the winning rounded log-score, and the match flag.
    * Eager, under the [[CacheScope]] rules. */
  def trainAndPredict(df: DataFrame, idCol: String, textCol: String,
                      labelCol: String, logScale: Int = 6): DataFrame = CacheScope { s =>
    // Spread: the tokenize pass below is the corpus pass; a single-file
    // scan otherwise fuses it into one task
    val base = Spread(df.select(col(idCol).as("__id"),
      col(labelCol).as("__true"), col(textCol).as("__text")))

    // ONE tokenize pass → per-document token counts. Persisted because
    // both training (class count table) and scoring consume it; the old
    // shape tokenized the corpus twice and scored one row per token
    // OCCURRENCE instead of per distinct (doc, token).
    val dtf = s.cache(base.select(col("__id"), col("__true"),
        explode(Text.tokens(col("__text"))).as("token"))
      .groupBy(col("__id"), col("__true"), col("token"))
      .agg(count(lit(1)).as("__n")))

    // Training: (class, token) occurrence counts — exact integers,
    // derived from the doc-level counts with map-side combine.
    val cnt = s.cache(dtf.groupBy(col("__true").as("label"), col("token"))
      .agg(sum(col("__n")).as("__c")))
    val vocab = cnt.select(col("token")).distinct().count()
    val totalDocs = base.count()
    require(vocab > 0, "naive bayes training corpus has no tokens")

    // Per-class stats: token mass + document count → k broadcastable rows.
    val labelStats = base.groupBy(col("__true").as("label"))
      .agg(count(lit(1)).as("__ndocs"))
      .join(cnt.groupBy(col("label")).agg(sum(col("__c")).as("__nc")),
        Seq("label"))

    def dec(c: Column): Column = c.cast(DecimalType(28, logScale))

    // Scoring: every distinct (doc, token) × every class (classes
    // broadcast), token-keyed left join to the count table; add-one
    // smoothing doubles as the out-of-vocabulary-in-class path. The
    // rounded per-token log is multiplied by the exact occurrence count
    // in DECIMAL — bit-identical to summing it once per occurrence.
    val lp = round(
      log((coalesce(col("__c"), lit(0L)) + lit(1L)).cast(DoubleType) /
        (col("__nc") + lit(vocab)).cast(DoubleType)), logScale)
    val prior = round(
      log(col("__ndocs").cast(DoubleType) / totalDocs.toDouble), logScale)
    val scored = dtf
      .crossJoin(broadcast(labelStats))
      .join(cnt, Seq("token", "label"), "left")
      .select(col("__id"), col("__true"), col("label"), col("__ndocs"),
        // DECIMAL(9,0): product precision 28+9+1 = 38 fits Spark's budget
        // exactly; a wider cast would trip adjustPrecisionScale and
        // truncate the product scale toward 6 at logScale > 6.
        (dec(lp) * col("__n").cast(DecimalType(9, 0))).as("__lp"))
      .groupBy(col("__id"), col("__true"), col("label"), col("__ndocs"))
      .agg(sum(col("__lp")).as("__s"))
      .select(col("__id"), col("__true"), col("label"),
        (col("__s") + dec(prior)).as("__score"))

    // Argmax as max(struct(score, label)) — lexicographic max picks the
    // best score, ties the highest label. Single aggregate pass.
    scored
      .groupBy(col("__id"), col("__true"))
      .agg(max(struct(col("__score"), col("label"))).as("__b"))
      .select(col("__id").as(idCol), col("__true").as(labelCol),
        col("__b.label").as("pred"),
        round(col("__b.__score").cast(DoubleType), 4).as("score"),
        (col("__b.label") === col("__true")).as("ok"))
  }
}
