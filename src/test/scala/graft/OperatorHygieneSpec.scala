package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Bpe, Curation, Decontamination, Dedup, Graph, Mixing, NaiveBayes,
  Similarity, UnigramLm, Windowing}

/** Operator cache hygiene: operators with internal persist barriers must not
  * strand storage blocks in a long-lived session (the 100 TB deployment
  * model — round-2 bench showed leaked persists inflating unrelated queries
  * 10-14×). Contract: after an operator returns, the ONLY persisted thing is
  * its own (documented, eager) result; one `unpersist()` on the returned
  * frame leaves `sc.getPersistentRDDs` exactly as it was.
  */
class OperatorHygieneSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs: DataFrame = {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    (0 until 60).map { i =>
      val text = if (i % 3 == 0) base else s"$base doc $i variant ${i * 7} text"
      (i.toLong, text)
    }.toDF("doc_id", "text")
  }

  /** Runs `op`, materializes + frees its result, and asserts zero net growth
    * of persisted RDDs (cache-manager entries AND checkpoint-backed blocks —
    * getPersistentRDDs sees both, so a localCheckpoint leak cannot hide). */
  private def assertHygienic(label: String)(op: => DataFrame): Unit = {
    spark.sharedState.cacheManager.clearCache()
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = op
    out.write.format("noop").mode("overwrite").save() // a real consumer action
    val during = sc.getPersistentRDDs.keySet -- before
    out.unpersist(blocking = true)
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"$label leaked persisted RDDs $leaked (live during use: $during)")
  }

  test("repeatedNgramStats persists nothing at all") {
    val sc = spark.sparkContext
    spark.sharedState.cacheManager.clearCache()
    val before = sc.getPersistentRDDs.keySet
    Decontamination.repeatedNgramStats(docs, "doc_id", "text", n = 3)
      .write.format("noop").mode("overwrite").save()
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
      "repeatedNgramStats should be persist-free (single-consumer chain)")
  }

  test("minhashCandidates frees its signature barriers") {
    assertHygienic("minhashCandidates") {
      Dedup.minhashCandidates(docs, "doc_id", "text",
        shingleSize = 2, numHashes = 16, bands = 4)
    }
  }

  test("simhashCandidates frees signature + distinct-signature barriers") {
    assertHygienic("simhashCandidates") {
      Dedup.simhashCandidates(docs, "doc_id", "text", maxHamming = 4)
    }
  }

  test("simhashCandidatesFromSigs leaves the caller's sigs frame alone") {
    spark.sharedState.cacheManager.clearCache()
    val sigs = Seq((1L, 0L), (2L, 1L), (3L, 255L), (4L, 0L))
      .toDF("id", "sig")
      .persist()
    sigs.count()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = Dedup.simhashCandidatesFromSigs(sigs, maxHamming = 2)
    out.collect()
    out.unpersist(blocking = true)
    // net growth zero AND the caller's cache must still be alive
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.keySet.intersect(before) == before,
      "caller-owned sigs cache was freed by the operator")
    sigs.unpersist(blocking = true)
  }

  test("connectedComponents frees edges, generations and checkpoint blocks") {
    // long chain → multiple iterations AND at least one localCheckpoint round
    val chain = (0 until 25).map(i => (i.toLong, i.toLong + 1)).toDF("idA", "idB")
    assertHygienic("connectedComponents") {
      Dedup.connectedComponents(chain, maxIter = 30)
    }
  }

  test("dedupNearDuplicates strands nothing after clearCache") {
    // contract: only the (eager) result stays cached, and it is freeable by
    // the cache manager — no zombie blocks beyond its reach
    val sc = spark.sparkContext
    spark.sharedState.cacheManager.clearCache()
    val before = sc.getPersistentRDDs.keySet
    Dedup.dedupNearDuplicates(docs, "doc_id", "text", threshold = 0.9,
        shingleSize = 2, numHashes = 16, bands = 4)
      .write.format("noop").mode("overwrite").save()
    spark.sharedState.cacheManager.clearCache()
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"zombie RDDs beyond the cache manager: $leaked")
  }

  test("minhashCandidatesAgainst frees both corpus signature barriers") {
    assertHygienic("minhashCandidatesAgainst") {
      val newBatch = docs.filter(col("doc_id") < 20)
      val ref = docs.filter(col("doc_id") >= 20)
      Dedup.minhashCandidatesAgainst(newBatch, ref, "doc_id", "text",
        shingleSize = 2, numHashes = 16, bands = 4)
    }
  }

  test("winnowCandidates frees its fingerprint barrier") {
    assertHygienic("winnowCandidates") {
      Dedup.winnowCandidates(docs, "doc_id", "text",
        shingleSize = 3, window = 3)
    }
  }

  test("scoreBigram frees its unigram + bigram count barriers") {
    assertHygienic("scoreBigram") {
      graft.functions.UnigramLm.scoreBigram(docs, docs, "doc_id", "text")
    }
  }

  test("pageRank frees edges, degree, node and generation barriers") {
    assertHygienic("pageRank") {
      graft.functions.Graph.pageRank(
        docs.select(col("doc_id").as("src"), (col("doc_id") % 7).as("dst")),
        "src", "dst", iterations = 3)
    }
  }

  test("streamingUpsert frees every superseded snapshot generation") {
    assertHygienic("streamingUpsert") {
      val dir = java.nio.file.Files.createTempDirectory("hyg_upsert").toString
      docs.limit(5).withColumn("del", lit(false))
        .write.mode("overwrite").parquet(dir)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("del",
          org.apache.spark.sql.types.BooleanType)))
      graft.streaming.EventStreams.streamingUpsert(spark,
        spark.readStream.schema(schema).parquet(dir),
        docs, Seq("doc_id"), Some("del"))
    }
  }

  test("adamicAdar frees its edge and degree barriers") {
    import spark.implicits._
    val edges = (0 until 150)
      .map(i => ((i % 20).toLong, (i * 7 % 20).toLong)).toDF("src", "dst")
    assertHygienic("adamicAdar") {
      graft.functions.Graph.adamicAdar(edges, "src", "dst", k = 10)
    }
  }

  test("maintainAggregate frees its merge barrier") {
    import spark.implicits._
    val base = graft.operators.Merge.buildAggregate(
      (0L until 100L).map(i => (i, s"g${i % 5}", i / 10.0)).toDF("id", "g", "x"),
      Seq("g"), Seq("x"))
    val changes = Seq(("g1", 0.1, "I"), ("g2", 0.2, "I")).toDF("g", "x", "op")
    assertHygienic("maintainAggregate") {
      graft.operators.Merge.maintainAggregate(base, changes, Seq("g"), Seq("x"))
    }
  }

  test("globalLag inherits and frees the rank barrier") {
    import spark.implicits._
    val df = (0L until 200L).map(i => (s"g${i % 3}", i % 17, i)).toDF("g", "v", "id")
    assertHygienic("globalLag") {
      graft.functions.Windowing.globalLag(df, Seq("g"), Seq("v", "id"), Seq("v"))
    }
  }

  test("interleaveSources frees both rank barriers") {
    val df = (0L until 200L).map(i => (i, s"s${i % 4}")).toDF("id", "src")
    assertHygienic("interleaveSources") {
      graft.functions.Mixing.interleaveSources(df, "id", "src",
        length(col("src")))
    }
  }

  test("dedupNearDuplicatesBy frees candidates, components and losers") {
    assertHygienic("dedupNearDuplicatesBy") {
      Dedup.dedupNearDuplicatesBy(
        docs.withColumn("q", col("doc_id") % 3), "doc_id", "text", "q",
        threshold = 0.5, shingleSize = 2, numHashes = 16, bands = 4)
    }
  }

  test("matchDistribution frees its rank barrier") {
    val df = (0L until 200L).map(i => (i, s"b${i % 3}")).toDF("id", "bkt")
    assertHygienic("matchDistribution") {
      graft.functions.Mixing.matchDistribution(df, "id", "bkt", lit(1))
    }
  }

  // ---- failure paths: an executor failure mid-materialize must leave the
  // session exactly as it was. The failure comes from the INPUT: a column
  // computed by a UDF that throws in the first task evaluating it (over a
  // range scan, so the optimizer cannot fold it on the driver).

  import OperatorHygieneSpec._

  private def badDocs: DataFrame = spark.range(0, 60).select(col("id").as("doc_id"),
    failText(concat(lit("alpha beta gamma delta doc "), col("id").cast("string")))
      .as("text"))
  private def badEdges: DataFrame = spark.range(0, 60)
    .select(failLong(col("id")).as("src"), (col("id") % 7).as("dst"))
  private def badPairs: DataFrame = badEdges.select(col("src").as("idA"), col("dst").as("idB"))
  private def badRows: DataFrame = spark.range(0, 200).select(
    concat(lit("g"), (col("id") % 3).cast("string")).as("g"),
    failLong(col("id") % 17).as("v"), col("id"))
  private def badEmb: DataFrame = spark.range(0, 40).select(col("id").as("vec_id"),
    (col("id") % 2).as("grp"), (col("id") % 3).as("label"), failVec(col("id")).as("embedding"))

  /** Runs `op` (and, for a lazy frame, a consumer action), expects the
    * injected failure, and asserts nothing cached survives it. */
  private def assertFailsClean(label: String)(op: => Any): Unit = {
    spark.sharedState.cacheManager.clearCache()
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val err = intercept[Throwable] {
      op match {
        case df: org.apache.spark.sql.Dataset[_] => df.write.format("noop").mode("overwrite").save()
        case _ => ()
      }
    }
    assert(Iterator.iterate(err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains(Injected)),
      s"$label failed for another reason: $err")
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"$label left cached RDDs $leaked after failing")
    assert(spark.sharedState.cacheManager.isEmpty,
      s"$label left cache-manager entries after failing")
  }

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private val failureCases: Seq[(String, () => Any)] = Seq(
    "minhashCandidates" -> (() => Dedup.minhashCandidates(badDocs, "doc_id", "text",
      shingleSize = 2, numHashes = 16, bands = 4)),
    "simhashCandidates" -> (() =>
      Dedup.simhashCandidates(badDocs, "doc_id", "text", maxHamming = 4)),
    "simhashCandidatesFromSigs" -> (() => Dedup.simhashCandidatesFromSigs(
      badEdges.select(col("dst").as("id"), col("src").as("sig")), maxHamming = 2)),
    "connectedComponents" -> (() => Dedup.connectedComponents(badPairs)),
    "dedupNearDuplicates" -> (() => Dedup.dedupNearDuplicates(badDocs, "doc_id", "text",
      shingleSize = 2, numHashes = 16, bands = 4)),
    "minhashCandidatesAgainst" -> (() => Dedup.minhashCandidatesAgainst(badDocs, docs,
      "doc_id", "text", shingleSize = 2, numHashes = 16, bands = 4)),
    "dedupNearDuplicatesBy" -> (() => Dedup.dedupNearDuplicatesBy(
      badDocs.withColumn("q", col("doc_id") % 3), "doc_id", "text", "q",
      shingleSize = 2, numHashes = 16, bands = 4)),
    "keepBestByComponent" -> (() => Dedup.keepBestByComponent(
      docs.withColumn("q", col("doc_id") % 3), "doc_id", "q", badPairs)),
    "writeMinhashIndex" -> (() => Dedup.writeMinhashIndex(badDocs, "doc_id", "text",
      tmpDir("hyg_idx"), shingleSize = 2, numHashes = 16, bands = 4)),
    "minhashCandidatesAgainstIndex" -> (() => {
      val path = tmpDir("hyg_probe")
      Dedup.writeMinhashIndex(docs, "doc_id", "text", path,
        shingleSize = 2, numHashes = 16, bands = 4)
      Dedup.minhashCandidatesAgainstIndex(badDocs, path, "doc_id", "text")
    }),
    "winnowCandidates" -> (() => Dedup.winnowCandidates(badDocs, "doc_id", "text",
      shingleSize = 3, window = 3)),
    "winnowMatchedSpans" -> (() => Dedup.winnowMatchedSpans(badDocs, "doc_id", "text",
      shingleSize = 3, window = 3)),
    "pageRank" -> (() => Graph.pageRank(badEdges, "src", "dst", iterations = 3)),
    "triangleCounts" -> (() => Graph.triangleCounts(badEdges, "src", "dst")),
    "kCore" -> (() => Graph.kCore(badEdges, "src", "dst", k = 2)),
    "labelPropagation" -> (() => Graph.labelPropagation(badEdges, "src", "dst")),
    "personalizedPageRank" -> (() =>
      Graph.personalizedPageRank(badEdges, "src", "dst", seeds = Seq(1L))),
    "hits" -> (() => Graph.hits(badEdges, "src", "dst")),
    "weightedPageRank" -> (() => Graph.weightedPageRank(
      badEdges.withColumn("w", col("dst") + 1), "src", "dst", "w")),
    "bfsDistances" -> (() =>
      Graph.bfsDistances(badEdges, "src", "dst", seeds = Seq(0L), rounds = 3)),
    "adamicAdar" -> (() => Graph.adamicAdar(badEdges, "src", "dst", k = 5)),
    "globalRowNumber" -> (() =>
      Windowing.globalRowNumber(badRows, Seq("g"), Seq("v", "id"))),
    "globalLag" -> (() => Windowing.globalLag(badRows, Seq("g"), Seq("v", "id"), Seq("v"))),
    "globalRankDist" -> (() =>
      Windowing.globalRankDist(badRows, Seq("g"), Seq("v"), Seq("id"))),
    "matchDistribution" -> (() => Mixing.matchDistribution(
      badRows.select(col("v").as("id"), col("g").as("bkt")), "id", "bkt", lit(1))),
    "interleaveSources" -> (() => Mixing.interleaveSources(
      badRows.select(col("v").as("id"), col("g").as("src")), "id", "src", lit(1))),
    "trainAndPredict" -> (() => NaiveBayes.trainAndPredict(
      badDocs.withColumn("label", col("doc_id") % 2), "doc_id", "text", "label")),
    "trainMerges" -> (() => Bpe.trainMerges(badDocs, "text", 3)),
    "score" -> (() => UnigramLm.score(badDocs, badDocs, "doc_id", "text")),
    "importanceWeights" -> (() =>
      UnigramLm.importanceWeights(badDocs, badDocs, badDocs, "doc_id", "text")),
    "scoreBigram" -> (() => UnigramLm.scoreBigram(badDocs, badDocs, "doc_id", "text")),
    "scoreTrigram" -> (() => UnigramLm.scoreTrigram(badDocs, badDocs, "doc_id", "text")),
    "scoreKneserNey" -> (() => UnigramLm.scoreKneserNey(badDocs, badDocs, "doc_id", "text")),
    "sharedNgramCountsBloom" -> (() => Decontamination.sharedNgramCountsBloom(
      badDocs, badDocs, "doc_id", "text", n = 3)),
    "sourceOverlapMatrix" -> (() => Decontamination.sourceOverlapMatrix(
      badDocs.withColumn("g", col("doc_id") % 4), "g", "text", n = 3)),
    "knnWithinGroups" -> (() =>
      Similarity.knnWithinGroups(badEmb, "grp", "embedding", "vec_id", k = 2)),
    "mutualNearestNeighbors" -> (() =>
      Similarity.mutualNearestNeighbors(badEmb, "grp", "embedding", "vec_id")),
    "hardPairs" -> (() =>
      Similarity.hardPairs(badEmb, "grp", "label", "embedding", "vec_id")),
    "kmeans" -> (() => Similarity.kmeans(badEmb, "embedding", "vec_id", k = 2, dim = 2,
      init = "first")._1),
    "curate" -> (() => Curation.curate(badDocs, docs, "doc_id", "text")._1),
    "bloomSemiJoin" -> (() => graft.operators.BloomJoin.bloomSemiJoin(
      docs, badEdges, "doc_id", "src")),
    "bloomAntiJoin" -> (() => graft.operators.BloomJoin.bloomAntiJoin(
      docs, badEdges, "doc_id", "src")),
    "editDistance1Pairs" -> (() =>
      graft.operators.FuzzyJoin.editDistance1Pairs(badDocs, "doc_id", "text")),
    "maintainAggregate" -> (() => graft.operators.Merge.maintainAggregate(
      graft.operators.Merge.buildAggregate(
        (0L until 100L).map(i => (i, s"g${i % 5}", i / 10.0)).toDF("id", "g", "x"),
        Seq("g"), Seq("x")),
      spark.range(0, 3).select(lit("g1").as("g"),
        failLong(col("id")).cast("double").as("x"), lit("I").as("op")),
      Seq("g"), Seq("x"))),
    "jaccardPairs" -> (() => graft.operators.SetSimilarityJoin.jaccardPairs(
      badDocs.withColumn("toks", split(col("text"), " ")), "doc_id", "toks", 0.5)),
    "containmentPairs" -> (() => graft.operators.SetSimilarityJoin.containmentPairs(
      badDocs.withColumn("toks", split(col("text"), " ")), "doc_id", "toks", 0.5)),
    "streamingUpsert" -> (() => graft.streaming.EventStreams.streamingUpsert(spark,
      spark.readStream.format("rate").load(), badDocs, Seq("doc_id"))))

  failureCases.foreach { case (name, op) =>
    test(s"$name frees every cached intermediate when an executor fails mid-materialize") {
      assertFailsClean(name)(op())
    }
  }
}

object OperatorHygieneSpec {
  // in the companion, so the UDF closures capture no suite instance
  val Injected = "injected executor failure"
  val failText = udf((t: String) =>
    if (t != null) throw new IllegalStateException(Injected) else t)
  val failLong = udf((x: Long) =>
    if (x >= 0) throw new IllegalStateException(Injected) else x)
  val failVec = udf((x: Long) =>
    if (x >= 0) throw new IllegalStateException(Injected) else Seq(1.0f, 2.0f))
}
