package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer training (Sennrich, Haddow & Birch 2016,
  * arXiv:1508.07909) — the subword-vocabulary construction step of every
  * modern LLM data pipeline, expressed Spark-first.
  *
  * The classic algorithm iterates over the corpus; the scale-correct
  * distributed form iterates over the WORD FREQUENCY TABLE instead: one
  * corpus pass collapses 100 TB of text into a vocabulary-sized
  * (word, freq) table (vocabulary grows with diversity, not corpus size),
  * and every merge round then counts weighted symbol pairs over that small
  * table only — the corpus is never touched again.
  *
  * Words are represented as space-joined symbol sequences with a `</w>`
  * end-of-word marker (the paper's construction, so suffix merges like
  * `t</w>` stay distinct from interior `t`); applying a merge (x, y) is a
  * literal string replace of ` x y ` with ` xy ` — non-overlapping
  * left-to-right in both Spark and DuckDB, which IS greedy BPE pair
  * application, making the whole training run engine-mirrorable.
  *
  * Determinism: pair counts are exact integer sums of word frequencies;
  * each round's winner is the (count desc, left asc, right asc) total
  * order; everything downstream is literal string surgery.
  *
  * Scale shape: one shuffle for the word histogram, then `numMerges`
  * rounds of a vocabulary-sized pair aggregate (map-side combinable) +
  * one LIMIT 1 action each; the vocab table is cached eagerly and freed
  * when training returns or fails. Round r's job replays r narrow replaces over the
  * cached vocab — O(k²·|vocab|) character work total, the standard
  * trade against k checkpoint materializations.
  */
object Bpe {

  /** ` l o w </w> ` — the spaced symbol-sequence form of a word. */
  private def charSeq(word: Column): Column =
    concat(lit(" "),
      array_join(filter(split(word, ""), c => c =!= ""), " "),
      lit(" </w> "))

  /** Adjacent (left, right) symbol pairs of a spaced sequence. */
  private def symPairs(seq: Column): Column = {
    val toks = split(trim(seq), " ")
    val m = size(toks)
    when(m < 2, array().cast("array<struct<l:string,r:string>>"))
      .otherwise(zip_with(slice(toks, lit(1), m - 1), slice(toks, lit(2), m - 1),
        (a, b) => struct(a.as("l"), b.as("r"))))
  }

  /** Train `numMerges` BPE merges over the corpus; returns the merge
    * table (step, left_sym, right_sym, merged, pair_count) in training
    * order — metadata-sized, built from one LIMIT-1 action per round. */
  def trainMerges(df: DataFrame, textCol: String, numMerges: Int): DataFrame =
    // the merge table is a local relation: nothing cached outlives the call
    CacheScope.run { s =>
      require(numMerges >= 1 && numMerges <= 64,
        s"numMerges must be in [1, 64], got $numMerges")
      // Spread: the corpus tokenize feeding the word histogram is the one
      // corpus-sized pass and otherwise fuses into a one-task single-file
      // scan at bench shape. Materialized before iterating.
      val vocab = s.materialize(Spread(df.select(col(textCol)))
        .select(explode(Text.tokens(col(textCol))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("freq"))
        .select(charSeq(col("w")).as("seq"), col("freq")))
      // merge rounds iterate a fixed tiny plan over the cached vocab: a
      // loop in a child session with AQE off, whose re-planning would add
      // only driver latency here
      CacheScope.loop(vocab.select(col("seq"), col("freq"))) { (_, vocab) =>
        import vocab.sparkSession.implicits._
        var cur = vocab
        val merges = (1 to numMerges).map { step =>
          val best = cur.select(col("freq"), explode(symPairs(col("seq"))).as("p"))
            .groupBy(col("p.l").as("l"), col("p.r").as("r"))
            .agg(sum(col("freq")).as("cnt"))
            .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
            .limit(1).collect()
          require(best.nonEmpty, s"BPE round $step: no pairs left to merge")
          val (l, r, cnt) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
          cur = cur.withColumn("seq",
            replace(col("seq"), lit(s" $l $r "), lit(s" $l$r ")))
          (step, l, r, l + r, cnt)
        }
        merges.toDF("step", "left_sym", "right_sym", "merged", "pair_count")
      }
    }

  /** Tokenize with a trained merge list (in training order): per word,
    * apply each merge as the same literal replace, then split — a chain
    * of |merges| narrow codegen'd string ops per row, zero shuffle.
    * Returns the BPE symbol array for `textCol` (markers included). */
  def applyMerges(text: Column, merges: Seq[(String, String)]): Column = {
    val seq0 = concat(lit(" "),
      array_join(transform(filter(split(trim(text), "\\s+"), w => w =!= ""),
        w => array_join(filter(split(w, ""), c => c =!= ""), " ")), " </w> "),
      lit(" </w> "))
    val folded = merges.foldLeft(seq0) { case (acc, (l, r)) =>
      replace(acc, lit(s" $l $r "), lit(s" $l$r "))
    }
    filter(split(trim(folded), " "), s => s =!= "")
  }
}
