package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{AnnIndex, Decontamination, Dedup, Similarity, Text}
import graft.functions.AnnIndex.AnnSpec

/** Semantics of the LLM-pipeline operators on small known inputs. */
class FunctionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("pinnedMean: half-away-from-zero at exact boundaries, both signs") {
    // Sums chosen so sum/n lands EXACTLY on a 4-decimal half boundary —
    // the case where round(sum.cast(double)/n, 4) diverges across engines
    // (the q_doc_dsir r5/r6 driver failure). The integer scheme must give
    // BigDecimal-HALF_UP answers regardless of the doubles involved.
    val rows = Seq(
      (BigDecimal("7.000050000000"), 1L, 7.0001),          // +boundary → up
      (BigDecimal("-7.000050000000"), 1L, -7.0001),        // −boundary → away
      (BigDecimal("2.254850000000"), 1L, 2.2549),          // shortest-repr trap
      (BigDecimal("4.509700000000"), 2L, 2.2549),          // n > 1 boundary
      (BigDecimal("1.234567890123"), 3L, 0.4115),          // generic value
      (BigDecimal("0.000000000000"), 5L, 0.0))
    val df = rows.map { case (s, n, _) => (s, n) }.toDF("__sum", "n_tokens")
      .select(col("__sum").cast("decimal(28,12)").as("__sum"), col("n_tokens"))
    val got = df.select(graft.functions.UnigramLm
        .pinnedMean("__sum", "n_tokens", 12, 4).as("m"))
      .collect().map(_.getDouble(0))
    rows.map(_._3).zip(got).foreach { case (want, g) => assert(g == want) }
    // negate flag mirrors the -sum/n shape of the xent scorers
    val neg = df.limit(1).select(graft.functions.UnigramLm
      .pinnedMean("__sum", "n_tokens", 12, 4, negate = true).as("m"))
      .collect()(0).getDouble(0)
    assert(neg == -7.0001)
  }

  test("pinnedMean survives sums past the old scaled-BIGINT cliff") {
    // The r7 formulation cast sum·10^12 to BIGINT, overflowing (silent
    // NULL under Spark's non-ANSI cast) at |sum| > ~9.2e6 — reachable by
    // a very long document. The decimal-div formulation is exact to
    // |sum| < 10^18; values just past the old cliff must come back exact,
    // boundary rounding included, not NULL.
    val rows = Seq(
      (BigDecimal("9300000.000050000000"), 1L, 9300000.0001),
      (BigDecimal("-9300000.000050000000"), 1L, -9300000.0001),
      (BigDecimal("123456789012.345650000000"), 1L, 123456789012.3457),
      (BigDecimal("18600000.000100000000"), 2L, 9300000.0001))
    val df = rows.map { case (s, n, _) => (s, n) }.toDF("__sum", "n_tokens")
      .select(col("__sum").cast("decimal(28,12)").as("__sum"), col("n_tokens"))
    val got = df.select(graft.functions.UnigramLm
        .pinnedMean("__sum", "n_tokens", 12, 4).as("m"))
      .collect()
    got.foreach(r => assert(!r.isNullAt(0), "overflow NULL leaked"))
    rows.map(_._3).zip(got.map(_.getDouble(0))).foreach {
      case (want, g) => assert(g == want, s"want $want got $g")
    }
  }

  test("pinnedRatio: exact HALF_UP at binary-representable boundaries") {
    import graft.functions.PinnedMath
    // 1/128 = 0.0078125 EXACTLY — on the 6-decimal half boundary, where
    // round(cast(1 as double)/128, 6) differs across engines (HALF_UP
    // 0.007813 vs ties-to-even 0.007812). pinnedRatio must give HALF_UP
    // deterministically, plus signed half-away and exact non-boundary
    // values.
    val rows = Seq(
      (1L, 128L, 0.007813),
      (-1L, 128L, -0.007813),
      (3L, 8L, 0.375),
      (1L, 3L, 0.333333),
      (2L, 3L, 0.666667),
      (7L, 7L, 1.0))
    val df = rows.map { case (a, b, _) => (a, b) }.toDF("a", "b")
    val got = df.select(col("a"), col("b"),
        PinnedMath.pinnedRatio(col("a"), col("b"), 6).as("r"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    rows.foreach { case (a, b, want) =>
      assert(got((a, b)) == want, s"$a/$b: want $want got ${got((a, b))}")
    }
    // den = 0 is LOUD under the session's ANSI mode (DuckDB's `// 0`
    // errors identically — no silent engine/oracle divergence); callers
    // with a legitimate zero denominator guard with when().
    val e = intercept[Exception] {
      Seq((5L, 0L)).toDF("a", "b")
        .select(PinnedMath.pinnedRatio(col("a"), col("b"), 6)).collect()
    }
    assert(e.getMessage != null)
  }

  test("tokenCount / charCount / avgWordLength") {
    val df = Seq("the cat sat", "", "a  b").toDF("t")
    val r = df.select(
      Text.tokenCount(col("t")).as("n"),
      Text.avgWordLength(col("t")).as("awl")).collect()
    assert(r(0).getInt(0) == 3)
    assert(r(2).getInt(0) == 2) // multi-space splits once
    assert(r(0).getDouble(1) == 3.0)
  }

  test("stopwordRatio and qualityScore bounds") {
    val df = Seq("the a the a", "xyzzy qwerty").toDF("t")
    val r = df.select(
      Text.stopwordRatio(col("t"), Seq("the", "a")).as("sr"),
      Text.qualityScore(col("t")).as("q")).collect()
    assert(r(0).getDouble(0) == 1.0)
    assert(r(1).getDouble(0) == 0.0)
    r.foreach(row => assert(row.getDouble(1) >= 0.0 && row.getDouble(1) <= 1.0))
  }

  test("langId picks the profile with most stopword hits") {
    val df = Seq(
      "the cat is on the mat and it is warm",
      "el gato en la casa y el perro",
      "der Hund und die Katze ist da",
      "le chat et le chien est la").toDF("t")
    val langs = df.select(Text.langId(col("t"))).collect().map(_.getString(0))
    assert(langs.toSeq == Seq("en", "es", "de", "fr"))
  }

  test("shingles and jaccard") {
    val df = Seq(("a b c d", "b c d e")).toDF("x", "y")
    val sh = df.select(Text.shingles(col("x"), 2)).head().getSeq[String](0)
    assert(sh == Seq("a b", "b c", "c d"))
    val j = df.select(Text.jaccard(
      Text.tokens(col("x")), Text.tokens(col("y")))).head().getDouble(0)
    assert(j == 3.0 / 5.0)
  }

  test("ngramJaccardPairs finds adjacent-band pairs regardless of id order") {
    // Cyclic texts → identical 3-gram sets (jaccard 1.0) but lengths in
    // ADJACENT length bands. The smaller id carries the LONGER text, which
    // the old asymmetric {band, band+1} A-side explode silently missed.
    val long = "0123456789" * 10           // 100 chars
    val short = "0123456789" * 8 ++ "01234" // 85 chars, one band below
    val df = Seq((1L, long), (2L, short), (3L, "completely different text zz"))
      .toDF("id", "t")
    val pairs = Dedup.ngramJaccardPairs(df, "id", "t", n = 3, threshold = 0.9)
      .select("idA", "idB").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == Set((1L, 2L)))
  }

  test("ngramJaccardPairs refuses an oversized length band, pointing at minhash") {
    // 12 same-length docs land in ONE band: the within-band join would be
    // all-pairs. The guard must fire from the cheap length-only pre-pass.
    val docs = (1L to 12L).map(i => (i, f"document number $i%02d with text"))
      .toDF("id", "t")
    val e = intercept[IllegalArgumentException] {
      Dedup.ngramJaccardPairs(docs, "id", "t", maxBandSize = 10)
    }
    assert(e.getMessage.contains("minhashCandidates"), e.getMessage)
    assert(e.getMessage.contains("12"), e.getMessage)
    // explicitly raising the cap (or disabling) is the documented escape
    assert(Dedup.ngramJaccardPairs(docs, "id", "t", threshold = 0.1,
      maxBandSize = 0).count() > 0)
  }

  test("ngramJaccardPairs guard bounds adjacent-band windows, not single bands") {
    // The join explodes each A-side doc across {band-1, band, band+1}, so
    // two ADJACENT bands each under a per-band cap still produce ~3× the
    // intended m² work. 6 docs at 100 chars (band 25) + 6 at 85 chars
    // (band 24): each band alone is 6 ≤ 10, the adjacent window is 12 > 10
    // — the guard must fire on the windowed sum.
    val long = "0123456789" * 10            // 100 chars
    val short = "0123456789" * 8 ++ "01234" // 85 chars, one band below
    val docs = ((1L to 6L).map(i => (i, long)) ++
      (7L to 12L).map(i => (i, short))).toDF("id", "t")
    val e = intercept[IllegalArgumentException] {
      Dedup.ngramJaccardPairs(docs, "id", "t", maxBandSize = 10)
    }
    assert(e.getMessage.contains("12") && e.getMessage.contains("adjacent"),
      e.getMessage)
  }

  test("exactDedup keeps min id per key, deterministically") {
    val df = Seq((3L, "k1"), (1L, "k1"), (2L, "k2")).toDF("id", "k")
    val out = Dedup.exactDedup(df, Seq("k"), "id").orderBy("id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L))
  }

  test("minhash: identical docs agree on all slots; disjoint docs on few") {
    val df = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8"),
      (2L, "w1 w2 w3 w4 w5 w6 w7 w8"),
      (3L, "z1 z2 z3 z4 z5 z6 z7 z8")).toDF("id", "text")
    val cands = Dedup.minhashCandidates(df, "id", "text",
      shingleSize = 2, numHashes = 16, bands = 4).collect()
    val pair12 = cands.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(pair12.isDefined && pair12.get.getDouble(2) == 1.0)
    assert(!cands.exists(r => r.getLong(1) == 3L && r.getDouble(2) > 0.5))
  }

  test("simhash: identical → hamming 0; near-identical → small; different → large") {
    val df = Seq(
      "spark catalyst tungsten shuffle partition broadcast join agg",
      "spark catalyst tungsten shuffle partition broadcast join filter",
      "completely unrelated words about cooking pasta tomatoes basil").toDF("text")
    val sigs = df.select(Dedup.simhash64(Text.tokens(col("text")))).collect().map(_.getLong(0))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(0), sigs(0)) == 0)
    assert(ham(sigs(0), sigs(1)) < ham(sigs(0), sigs(2)))
  }

  test("fused SimHashOfTokens matches the interpreted HOF simhash64") {
    val df = Seq(
      "spark catalyst tungsten shuffle partition broadcast join agg",
      "the quick brown fox jumps over the lazy dog",
      "", "one").toDF("text")
    val rows = df.select(
      Dedup.simhash64(graft.functions.Text.tokens(col("text"))).as("hof"),
      graft.functions.expressions.SimHashExpression
        .simhashTokens(graft.functions.Text.tokens(col("text")), 42L).as("fused"))
      .collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("cosine similarity: orthogonal 0, identical 1") {
    val df = Seq(
      (Array(1f, 0f), Array(1f, 0f)),
      (Array(1f, 0f), Array(0f, 1f)),
      (Array(1f, 1f), Array(1f, 1f))).toDF("a", "b")
    val r = df.select(Similarity.cosine(col("a"), col("b"))).collect().map(_.getDouble(0))
    assert(math.abs(r(0) - 1.0) < 1e-12)
    assert(r(1) == 0.0)
    assert(math.abs(r(2) - 1.0) < 1e-12)
  }

  test("bruteForceTopK finds the nearest vector first") {
    val df = Seq(
      (1L, Array(1f, 0f, 0f)),
      (2L, Array(0.9f, 0.1f, 0f)),
      (3L, Array(0f, 1f, 0f)),
      (4L, Array(0f, 0f, 1f))).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(df, "embedding", "vec_id", Seq(1f, 0f, 0f), 2)
      .collect()
    assert(top.map(_.getLong(0)).toSeq == Seq(1L, 2L))
  }

  test("LSH ANN recall@10 on the real embeddings is quantified (deterministic)") {
    // Everything is seeded, so the measured recall is a fixed number — this
    // pins the quality of the default LSH parameters against drift.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val probes = Seq(1L, 7L, 42L)
    val recalls = probes.map { pid =>
      val q = emb.filter(col("vec_id") === pid).select("embedding").head().getSeq[Float](0)
      val rest = emb.filter(col("vec_id") =!= pid)
      val exact = Similarity.bruteForceTopK(rest, "embedding", "vec_id", q, 10)
        .collect().map(_.getLong(0)).toSet
      // nprobe = 1 reads exactly the query's bucket in each table
      val dir = java.nio.file.Files.createTempDirectory("lsh_recall").toString
      AnnIndex.write(rest, "embedding", "vec_id", dir,
        AnnSpec(AnnSpec.Lsh(planes = 4, tables = 8)))
      val lsh = AnnIndex.probe(spark, dir, q, 10, nprobe = 1)
        .collect().map(_.getLong(0)).toSet
      lsh.intersect(exact).size / 10.0
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.5, s"mean recall@10 degraded to $mean (per-probe: $recalls)")
  }

  test("LSH top-k recalls exact nearest on clustered data") {
    val vecs = (0 until 20).map(i => (i.toLong,
      if (i < 10) Array(1f + i * 0.01f, 0.1f * i, 0f)
      else Array(0f, 0.1f * i, 1f + i * 0.01f)))
    val df = vecs.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("lsh_clustered").toString
    AnnIndex.write(df, "embedding", "vec_id", dir,
      AnnSpec(AnnSpec.Lsh(planes = 3, tables = 6)))
    val res = AnnIndex.probe(spark, dir, Seq(1f, 0.05f, 0f), 3, nprobe = 1)
    val got = res.collect().map(_.getLong(0)).toSet
    assert(got.nonEmpty && got.subsetOf((0L until 10L).toSet))
  }

  test("cosineNearDupPairs finds planted duplicates") {
    val base = Array.tabulate(8)(i => math.sin(i + 1).toFloat)
    val dup = base.clone()
    val other = Array.tabulate(8)(i => math.cos(3 * i + 2).toFloat)
    val df = Seq((1L, base), (2L, dup), (3L, other)).toDF("vec_id", "embedding")
    val pairs = Similarity.cosineNearDupPairs(df, "embedding", "vec_id",
      threshold = 0.99, dim = 8).collect()
    assert(pairs.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L))
    assert(!pairs.exists(r => r.getLong(1) == 3L))
  }

  test("decontamination flags docs sharing benchmark n-grams, spares clean docs") {
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "intro text then the quick brown fox appears here"), // shares "the quick brown fox"
      (2L, "completely unrelated content about databases and shuffles"),
      (3L, "the quick brown fox jumps over the lazy dog verbatim copy")
    ).toDF("doc_id", "text")
    val hits = Decontamination.sharedNgramCounts(corpus, bench, "doc_id", "text", n = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits.contains(1L) && hits(1L) == 1L)
    assert(!hits.contains(2L))
    assert(hits(3L) == 6L) // all 6 windows of the copied 9-token sentence
    val clean = Decontamination.decontaminate(corpus, bench, "doc_id", "text", n = 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(clean == Set(2L))
  }

  test("scrubContaminatedSpans cuts exactly the matched windows, passes " +
    "clean docs through, scrubs fully-quoted short docs to empty") {
    val bench = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "tiny doc")).toDF("doc_id", "text") // 2 tokens < n=4: whole-doc window
    val corpus = Seq(
      (1L, "intro text then the quick brown fox appears here"),
      (2L, "completely unrelated content about databases and shuffles"),
      (3L, "prefix the quick brown fox jumps over suffix words"),
      (4L, "tiny doc")).toDF("doc_id", "text")
    val got = Decontamination.scrubContaminatedSpans(corpus, bench,
        "doc_id", "text", n = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // doc 1: one matched window "the quick brown fox" at positions 3-6
    assert(got(1L) == (9L, 4L, "intro text then appears here"))
    // doc 2: clean — untouched
    assert(got(2L) ==
      (7L, 0L, "completely unrelated content about databases and shuffles"))
    // doc 3: windows starting at 1,2,3 all match (the 6-token quoted run
    // "the quick brown fox jumps over" = 3 overlapping benchmark windows)
    // covering positions 1..6 -> prefix + the last two tokens survive
    assert(got(3L) == (9L, 6L, "prefix suffix words"))
    // doc 4: the whole 2-token doc IS a benchmark short-window — empty
    assert(got(4L) == (2L, 2L, ""))

    // partitioning independence
    val again = Decontamination.scrubContaminatedSpans(
        corpus.repartition(7), bench.repartition(3), "doc_id", "text", n = 4)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(again == got.map { case (k, v) => k -> v._3 })
  }

  test("sourceOverlapMatrix: hand-computed shared grams and overlap " +
    "coefficient; disjoint sources absent; hygiene") {
    val df = Seq(
      (1L, "sA", "the quick brown fox jumps over the lazy dog"),
      (2L, "sB", "the quick brown fox sat still all day long"),
      (3L, "sC", "totally different words without any reuse here")
    ).toDF("doc_id", "src", "text")
    spark.sharedState.cacheManager.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = Decontamination.sourceOverlapMatrix(df, "src", "text", n = 4)
    val byName = out.collect().map(r => (
      r.getAs[String]("src_a"), r.getAs[String]("src_b"),
      r.getAs[Long]("n_shared"), r.getAs[Double]("overlap"))).toSet
    // sA: 6 distinct 4-grams, sB: 6; shared = only "the quick brown fox"
    assert(byName == Set(("sA", "sB", 1L, BigDecimal(1.0 / 6)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)), byName)
    out.unpersist(blocking = true)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "sourceOverlapMatrix leaked its gram barrier")
  }

  test("bloom-prefiltered decontamination is bit-identical to the exact path") {
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val corpus = (1L to 200L).map { i =>
      if (i % 50 == 0) (i, s"noise $i then the quick brown fox jumps over it")
      else (i, s"clean document $i about item${i} and topic${i * 7} only")
    }.toDF("doc_id", "text")
    val exact = Decontamination.sharedNgramCounts(corpus, bench, "doc_id", "text", n = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.sharedState.cacheManager.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val bloomed = Decontamination.sharedNgramCountsBloom(corpus, bench,
      "doc_id", "text", n = 4, expectedGrams = 10000L)
    val got = bloomed.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == exact, s"bloom path diverged: $got vs $exact")
    // the prefilter is visible in the plan and sits before any join
    val plan = bloomed.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), s"bloom prefilter not in plan:\n$plan")
    // EAGER hygiene: only the result's own cache is live
    bloomed.unpersist(blocking = true)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "sharedNgramCountsBloom leaked its benchmark-gram barrier")
  }

  test("repeatedNgramStats flags cross-document spans, not unique text") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),   // shares 4-gram run with 2
      (2L, "intro alpha beta gamma delta closing"),
      (3L, "entirely unique words nowhere else found")
    ).toDF("doc_id", "text")
    val r = Decontamination.repeatedNgramStats(df, "doc_id", "text", n = 4)
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    // doc1: windows of 6 tokens = 3; "alpha beta gamma delta" shared → 1 repeated
    assert(r(1L) == ((3L, 1L)))
    assert(r(2L) == ((3L, 1L)))
    assert(r(3L)._2 == 0L)
  }

  test("hashSplit partitions the corpus exactly and reproducibly") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val train = Decontamination.hashSplit(df, "doc_id", 0, 90)
    val valid = Decontamination.hashSplit(df, "doc_id", 90, 95)
    val test = Decontamination.hashSplit(df, "doc_id", 95, 100)
    assert(train.count() + valid.count() + test.count() == df.count())
    assert(train.join(valid, "doc_id").count() == 0)
    // reproducible: same rows on a different partitioning
    val train2 = Decontamination.hashSplit(df.repartition(13), "doc_id", 0, 90)
    assert(train.select("doc_id").exceptAll(train2.select("doc_id")).isEmpty)
  }

  test("dupTokenRatio: 0 for all-distinct, rises with repetition") {
    val df = Seq("a b c d", "a a a a", "a b a b", "").toDF("t")
    val r = df.select(Decontamination.dupTokenRatio(col("t"))).collect().map(_.getDouble(0))
    assert(r(0) == 0.0)
    assert(r(1) == 0.75)
    assert(r(2) == 0.5)
  }

  test("fingerprints are stable and distinct") {
    val df = Seq("doc one", "doc two", "doc one").toDF("t")
    val fps = df.select(Text.fingerprint64(col("t"))).collect().map(_.getLong(0))
    assert(fps(0) == fps(2) && fps(0) != fps(1))
  }

  test("charEntropyScores: hand-computed, degenerate and empty docs") {
    val docs = Seq(
      (1L, "aaaa"),   // one symbol → H = 0
      (2L, "abab"),   // two equiprobable → H = 1 bit
      (3L, "abcd"),   // four equiprobable → H = 2 bits
      (4L, "aab"),    // 2/3·log2(3/2) + 1/3·log2(3) ≈ 0.9183
      (5L, ""))       // empty → dropped
      .toDF("doc_id", "text")
    val got = Text.charEntropyScores(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L))
    assert(got(1L) == 0.0 && got(2L) == 1.0 && got(3L) == 2.0)
    // sequential mirror of the rounded-decimal arithmetic
    val terms = Seq(2L -> 1.5, 1L -> 3.0).map { case (c, r) =>
      BigDecimal(c) * BigDecimal(math.round(
        (math.log(r) / math.log(2)) * 1e6)) / BigDecimal(1000000)
    }
    val expected4 = (terms.sum / 3).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(4L) == expected4, s"got ${got(4L)} expected $expected4")
  }

  test("c4Flags: markers and sentence floor") {
    val docs = Seq(
      (1L, "Good text. It has three. Yes it does."),
      (2L, "code here { x } more. Done. Third."),       // brace
      (3L, "Lorem Ipsum dolor sit. Two more. Here."),   // lorem (case-insens)
      (4L, "please enable JavaScript now. Ok. Fine."),  // js
      (5L, "no punctuation at all"))                    // too few sentences
      .toDF("doc_id", "text")
    val got = docs.select(col("doc_id"), Text.c4Flags(col("text")).as("c"))
      .select(col("doc_id"), col("c.passes"), col("c.n_sentences"))
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), r.getLong(2)))).toMap
    assert(got(1L) == ((true, 3L)))
    assert(got(2L)._1 == false && got(3L)._1 == false && got(4L)._1 == false)
    assert(got(5L) == ((false, 0L)))
  }

  test("fleschScores: hand-computed counts and chain") {
    // 6 words, 2 sentences, syllable groups: "the(1) cat(1) sat(1) here(2:
    // e..e? 'here' → e,e → 2 groups) on(1) it(1)" — compute via the same
    // regex semantics: vowel GROUPS.
    val df = Seq((1L, "the cat sat here. on it.")).toDF("doc_id", "text")
    val r = df.select(Text.fleschScores(col("text")).as("f")).select(
      col("f.n_words"), col("f.n_sentences"), col("f.n_syllables"),
      col("f.fre")).head()
    val (w, s, syl) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(w == 6 && s == 2)
    // "the"→e(1), "cat"→a(1), "sat"→a(1), "here."→e,e(2), "on"→o(1), "it."→i(1)
    assert(syl == 7, s"syllables $syl")
    val raw = 206.835 - 1.015 * (w.toDouble / s) - 84.6 * (syl.toDouble / w)
    val expected = math.floor(raw * 10000.0 + 0.5) / 10000.0
    assert(r.getDouble(3) == expected)
  }
}
