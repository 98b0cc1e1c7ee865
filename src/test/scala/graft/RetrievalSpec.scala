package graft

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{AnnIndex, Retrieval, Similarity, UnigramLm}
import graft.functions.AnnIndex.AnnSpec

/** BM25 retrieval, DSIR importance weights, and SemDeDup semantic dedup. */
class RetrievalSpec extends AnyFunSuite with BeforeAndAfterAll {
  // Suites share one session: sweep this suite's leftover operator caches
  // (EAGER results some tests discard without unpersist) so later suites'
  // hygiene assertions see a clean slate. Unpersist never affects
  // correctness — lineage stays intact.
  override def afterAll(): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  lazy val spark = TestSpark.spark
  import spark.implicits._

  // --- BM25 ----------------------------------------------------------------

  test("bm25TopK matches a hand-computed score on a tiny corpus") {
    // 3 docs, query = {cat}: df=2, N=3, dl = 4, 2, 3 → avgdl = 3.0
    val docs = Seq(
      (1L, "cat dog cat bird"), // tf(cat)=2, dl=4
      (2L, "dog bird"),         // no match
      (3L, "cat dog fish")      // tf(cat)=1, dl=3
    ).toDF("doc_id", "text")
    val got = Retrieval.bm25TopK(docs, "doc_id", "text", Seq("cat"), topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

    val idf = BigDecimal(math.log((3.0 - 2 + 0.5) / (2 + 0.5) + 1.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def contrib(tf: Long, dl: Long): Double =
      BigDecimal(idf * (tf * (1.2 + 1.0)) / (tf + 1.2 * ((1.0 - 0.75) + (0.75 * dl) / 3.0)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val d1 = BigDecimal(contrib(2, 4)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val d3 = BigDecimal(contrib(1, 3)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

    assert(got.length == 2)                      // doc 2 never matches
    assert(got.map(_._1).toSet == Set(1L, 3L))
    val byId = got.map(t => t._1 -> t).toMap
    assert(byId(1L)._2 == 1 && byId(3L)._2 == 1) // one matched term each
    assert(math.abs(byId(1L)._3 - d1) < 1e-9, s"doc1: ${byId(1L)._3} vs $d1")
    assert(math.abs(byId(3L)._3 - d3) < 1e-9, s"doc3: ${byId(3L)._3} vs $d3")
    assert(byId(1L)._3 > byId(3L)._3, "higher tf must outrank at equal idf")
  }

  test("bm25TopK ranking is deterministic and tie-broken by doc_id") {
    val docs = (0L until 40L).map(i => (i, if (i % 2 == 0) "cat dog" else "dog bird"))
      .toDF("doc_id", "text").repartition(7)
    val a = Retrieval.bm25TopK(docs, "doc_id", "text", Seq("cat"), topK = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val b = Retrieval.bm25TopK(docs.repartition(3), "doc_id", "text", Seq("cat"), topK = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(a == b, "partitioning changed the ranking")
    // all even docs tie exactly → the top-5 must be the 5 smallest even ids
    assert(a.map(_._1) == Seq(0L, 2L, 4L, 6L, 8L))
  }

  test("bm25 postings are filtered map-side before the aggregation") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = Retrieval.bm25TopK(docs, "doc_id", "text", Seq("spark"), topK = 5)
      .queryExecution.executedPlan.toString
    // the IN filter must sit under the first aggregate, not after a shuffle
    val filterIdx = plan.indexOf("token#")
    assert(plan.contains("Filter") && filterIdx >= 0)
    assert(!plan.contains("CartesianProduct"))
  }

  test("inverted index carries (tf, dl) per distinct (token, doc)") {
    val docs = Seq((1L, "a b a"), (2L, "b")).toDF("doc_id", "text")
    val idx = Retrieval.invertedIndex(docs, "doc_id", "text")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(idx == Set(("a", 1L, 2L, 3L), ("b", 1L, 1L, 3L), ("b", 2L, 1L, 1L)))
  }

  // --- DSIR ----------------------------------------------------------------

  test("importanceWeights matches a hand computation with OOV handling") {
    // target corpus: {x x y}; raw corpus: {x y y z}
    val target = Seq((10L, "x x y")).toDF("doc_id", "text")
    val raw = Seq((20L, "x y y z")).toDF("doc_id", "text")
    // scored docs: "x q" — q is OOV in BOTH distributions (0.5 pseudo-count)
    val df = Seq((1L, "x q")).toDF("doc_id", "text")
    val got = UnigramLm.importanceWeights(df, target, raw, "doc_id", "text")
    val row = got.collect().head
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val lrX = r6(math.log(2.0 / 3.0) - math.log(1.0 / 4.0))
    val lrQ = r6(math.log(0.5 / 3.0) - math.log(0.5 / 4.0))
    val expect = BigDecimal((lrX + lrQ).toDouble / 2)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(row.getLong(1) == 2)
    assert(math.abs(row.getDouble(2) - expect) < 1e-9,
      s"logratio ${row.getDouble(2)} vs $expect")
    got.unpersist()
  }

  test("importanceWeights ranks target-like docs above raw-like docs") {
    val target = (0L until 30L).map(i => (i, "alpha beta gamma")).toDF("doc_id", "text")
    val raw = ((0L until 30L).map(i => (i, "alpha beta gamma")) ++
      (30L until 90L).map(i => (i, "delta epsilon zeta"))).toDF("doc_id", "text")
    val df = Seq((100L, "alpha beta"), (101L, "delta epsilon")).toDF("doc_id", "text")
    val got = UnigramLm.importanceWeights(df, target, raw, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got(100L) > 0, s"target-like doc scored ${got(100L)}")
    assert(got(101L) < 0, s"raw-only doc scored ${got(101L)}")
  }

  test("importanceWeights leaves no cached barriers behind") {
    spark.sharedState.cacheManager.clearCache()
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val d = Seq((1L, "x y")).toDF("doc_id", "text")
    val r = UnigramLm.importanceWeights(d, d, d, "doc_id", "text")
    r.unpersist(blocking = true)
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"importanceWeights leaked persisted RDDs $leaked")
  }

  // --- stratified sampling -------------------------------------------------

  test("stratifiedSample takes exact quotas in md5 order, small groups whole") {
    val df = ((0L until 40L).map(i => ("big", i)) ++
      (100L until 103L).map(i => ("small", i))).toDF("grp", "id").repartition(7)
    val got = graft.functions.Mixing.stratifiedSample(df, "grp", "id", 5)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val byGrp = got.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byGrp("big").size == 5)
    assert(byGrp("small") == Set(100L, 101L, 102L), "small group must keep all")
    // reference: sort by (48-bit md5 prefix, id)
    def h(i: Long): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8"))
        .take(6).map("%02x".format(_)).mkString, 16)
    val expectBig = (0L until 40L).sortBy(i => (h(i), i)).take(5).toSet
    assert(byGrp("big") == expectBig)
  }

  test("stratifiedSample is partitioning-independent") {
    val df = (0L until 200L).map(i => (s"g${i % 3}", i)).toDF("grp", "id")
    def run(parts: Int) =
      graft.functions.Mixing.stratifiedSample(df.repartition(parts), "grp", "id", 7)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(run(1) == run(17))
  }

  test("prioritySampleByGroup takes independent per-group DLT samples") {
    // group A: 30 rows, group B: 2 rows (under k) — B keeps all, w_hat = w
    val rows = (0L until 30L).map(i => ("A", i, i % 6 + 1)) ++
      Seq(("B", 100L, 5L), ("B", 101L, 9L))
    val df = rows.map { case (g, i, w) => (g, i, w.toLong) }
      .toDF("g", "id", "w").repartition(5)
    val got = graft.functions.Mixing.prioritySampleByGroup(df, "g", "id", "w", k = 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(3)))
    val byG = got.groupBy(_._1)
    assert(byG("A").length == 4 && byG("B").length == 2)
    assert(byG("B").map(x => x._2 -> x._3).toMap == Map(100L -> 5.0, 101L -> 9.0),
      "under-k group must keep all rows at true weights")
    // group A reference: 4 smallest priorities + tau from the 5th
    val aRows = rows.filter(_._1 == "A").map { case (_, i, w) => (i, w.toLong) }
    val sorted = aRows.sortBy { case (i, w) => (pri48(i, w), i) }
    val tau = 1.0 / pri48(sorted(4)._1, sorted(4)._2)
    val expectA = sorted.take(4).map { case (i, w) =>
      (i, math.rint(math.max(w.toDouble, tau) * 1e4) / 1e4) }.toSet
    assert(byG("A").map(x => (x._2, x._3)).toSet == expectA)
  }

  // --- int8 quantization ---------------------------------------------------

  test("quantizeInt8 computes floor(v/s*127+0.5) codes; zero vector all-zero") {
    val rows = Seq((0L, Seq(3f, -4f)), (1L, Seq(0f, 0f)), (2L, Seq(1f, 1f)))
    val got = Similarity.quantizeInt8(rows.toDF("vec_id", "embedding"),
        "embedding", "vec_id")
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getSeq[Int](2).toSeq))).toMap
    assert(got(0L) == ((4.0, Seq(95, -127)))) // floor(3/4*127+.5)=95
    assert(got(1L) == ((0.0, Seq(0, 0))))
    assert(got(2L) == ((1.0, Seq(127, 127))))
  }

  test("int8CosineTopK ranks by exact integer dot products, ties by id") {
    val rows = Seq((0L, Seq(10f, 0f)), (1L, Seq(10f, 1f)),
      (2L, Seq(0f, 10f)), (3L, Seq(10f, 0f)))
    val codes = Similarity.quantizeInt8(rows.toDF("vec_id", "embedding"),
      "embedding", "vec_id")
    val got = Similarity.int8CosineTopK(codes, "vec_id", Seq(127, 0), topK = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.map(_._1).toSeq == Seq(0L, 3L, 1L, 2L)) // ties 0,3 by id
    assert(got(0)._2 == 1.0 && got(3)._2 == 0.0)
    // int8 cosine approximates the float cosine to quantization error
    val c1 = got(2)._2
    val exact = 10.0 / math.sqrt(101.0)
    assert(math.abs(c1 - exact) < 0.01, s"$c1 vs $exact")
  }

  // --- hybrid retrieval ----------------------------------------------------

  test("exactCosineScores matches exact rational cosines (Pythagorean vectors)") {
    // vector j = a·e1 + b·e2 with (a,b,c) Pythagorean vs query e1: cos = a/c
    val triples = Seq((3, 4, 5), (5, 12, 13), (8, 15, 17), (20, 21, 29))
    val rows = triples.zipWithIndex.map { case ((a, b, _), i) =>
      (i.toLong, Seq(a.toFloat, b.toFloat, 0f, 0f)) }
    val got = Similarity.exactCosineScores(
        rows.toDF("vec_id", "embedding").repartition(3),
        "embedding", "vec_id", Seq(1f, 0f, 0f, 0f))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    triples.zipWithIndex.foreach { case ((a, _, c), i) =>
      val expect = math.rint(a.toDouble / c * 1e4) / 1e4
      assert(got(i.toLong) == expect, s"vec $i: ${got(i.toLong)} != $expect")
    }
  }

  test("exactCosineScores is partitioning-independent on irregular floats") {
    val rows = (0L until 50L).map { i =>
      (i, Seq.tabulate(8)(j => ((i * 31 + j * 17) % 97).toFloat / 7.3f - 5f))
    }
    val q = Seq.tabulate(8)(j => (j + 1).toFloat / 3.1f)
    def run(parts: Int) =
      Similarity.exactCosineScores(rows.toDF("vec_id", "embedding").repartition(parts),
          "embedding", "vec_id", q)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(run(1) == run(13))
  }

  test("rrfFuse matches the hand-computed RRF with id tie-breaks") {
    val la = Seq((10L, 1L), (11L, 2L), (12L, 3L)).toDF("id", "rank")
    val lb = Seq((11L, 1L), (10L, 2L), (13L, 3L)).toDF("id", "rank")
    val got = Retrieval.rrfFuse(Seq(la, lb), "id", topK = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    def c(r: Long) = BigDecimal(1.0 / (60 + r)).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    def s(rs: Long*) = (rs.map(c).sum.toDouble * 1e6).round / 1e6.toDouble
    // 10 and 11 both carry ranks {1,2} — identical scores, id tie-break
    assert(got.map(_._1).toSeq == Seq(10L, 11L, 12L, 13L))
    assert(got(0) == ((10L, s(1, 2), 2L)) && got(1) == ((11L, s(2, 1), 2L)))
    assert(got(2) == ((12L, s(3), 1L)) && got(3) == ((13L, s(3), 1L)))
  }

  test("rankByScore ranks the top-k by (score desc, id asc)") {
    val df = Seq((1L, 5.0), (2L, 9.0), (3L, 5.0), (4L, 1.0)).toDF("id", "sc")
    val got = Retrieval.rankByScore(df, "id", "sc", topK = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == Map(2L -> 1L, 1L -> 2L, 3L -> 3L))
  }

  // --- priority sampling ---------------------------------------------------

  private def pri48(i: Long, w: Long): Double = {
    val h = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8"))
        .take(6).map("%02x".format(_)).mkString, 16)
    (h + 1).toDouble / w.toDouble
  }

  test("prioritySample matches the DLT reference incl. the max(w, tau) estimator") {
    val rows = (0L until 60L).map(i => (i, (i % 9) * 100 + 1))
    val df = rows.toDF("id", "w").repartition(7)
    val got = graft.functions.Mixing.prioritySample(df, "id", "w", k = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val sorted = rows.sortBy { case (i, w) => (pri48(i, w), i) }
    val tau = 1.0 / pri48(sorted(8)._1, sorted(8)._2)
    val expect = sorted.take(8).map { case (i, w) =>
      (i, w, math.rint(math.max(w.toDouble, tau) * 1e4) / 1e4) }.toSet
    assert(got == expect)
  }

  test("prioritySample keeps everything with true weights when population <= k") {
    val df = Seq((1L, 10L), (2L, 20L), (3L, 5L)).toDF("id", "w")
    val got = graft.functions.Mixing.prioritySample(df, "id", "w", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((1L, 10L, 10.0), (2L, 20L, 20.0), (3L, 5L, 5.0)),
      "no threshold exists; w_hat must equal w")
  }

  test("prioritySample excludes non-positive weights and is partitioning-independent") {
    val rows = (0L until 80L).map(i => (i, if (i % 10 == 0) 0L else i % 7 + 1))
    def run(parts: Int) =
      graft.functions.Mixing.prioritySample(
          rows.toDF("id", "w").repartition(parts), "id", "w", k = 12)
        .collect().map(r => (r.getLong(0), r.getDouble(2))).toSet
    val r1 = run(1)
    assert(r1 == run(19))
    assert(r1.forall { case (id, _) => id % 10 != 0 }, "zero-weight rows leaked")
  }

  // --- product quantization ------------------------------------------------

  test("pq encode/probe reconstructs exactly when vectors sit on centroids") {
    // two exact clusters per subspace: every vector IS a codebook centroid,
    // so the ADC cosine equals the exact cosine
    val rows = Seq(
      (0L, Seq(1f, 0f, 2f, 0f)), (1L, Seq(1f, 0f, 0f, 3f)),
      (2L, Seq(0f, 5f, 2f, 0f)), (3L, Seq(0f, 5f, 0f, 3f)))
    val df = rows.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("pqspec").toString
    AnnIndex.write(df, "embedding", "vec_id", dir,
      AnnSpec(AnnSpec.Flat, AnnSpec.Pq(m = 2, k = 2, iters = 3)))
    val q = Seq(1f, 0f, 2f, 0f)
    val got = AnnIndex.probe(spark, dir, q, k = 4, nprobe = 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val ip = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      ip / (math.sqrt(a.map(x => x.toDouble * x).sum) *
        math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    rows.foreach { case (id, v) =>
      assert(math.abs(got(id) - cos(q, v)) < 1e-9,
        s"vec $id: adc=${got(id)} exact=${cos(q, v)}")
    }
  }

  test("pq probe recovers a planted family with id tie-breaks") {
    // 3 well-separated families of near-identical copies in 8-d
    def fam(base: Array[Float], n: Int, idBase: Long) =
      (0 until n).map(c => (idBase + c,
        base.zipWithIndex.map { case (x, i) =>
          if (i == 0) x + c * 0.0005f else x }.toSeq))
    val rows = fam(Array(8f, 0f, 0f, 0f, 1f, 0f, 0f, 0f), 5, 0L) ++
      fam(Array(0f, 8f, 0f, 0f, 0f, 1f, 0f, 0f), 4, 100L) ++
      fam(Array(0f, 0f, 8f, 0f, 0f, 0f, 1f, 0f), 6, 200L)
    val df = rows.toDF("vec_id", "embedding").repartition(5)
    val dir = java.nio.file.Files.createTempDirectory("pqspec2").toString
    AnnIndex.write(df, "embedding", "vec_id", dir,
      AnnSpec(AnnSpec.Flat, AnnSpec.Pq(m = 4, k = 4, iters = 3)))
    val got = AnnIndex.probe(spark,
        dir, Seq(0f, 8f, 0f, 0f, 0f, 1f, 0f, 0f), k = 4, nprobe = 1)
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(100L, 101L, 102L, 103L),
      s"expected family 100-103 in id order, got $got")
  }

  test("pq codebooks are partitioning-independent") {
    val rows = (0L until 60L).map { i =>
      (i, Seq.tabulate(4)(j => ((i % 5) + 1).toFloat * (j + 1) + (i / 5).toFloat * 0.001f))
    }
    def books(parts: Int) =
      Similarity.trainPqCodebooks(rows.toDF("vec_id", "embedding").repartition(parts),
        "embedding", "vec_id", dim = 4, m = 2, k = 5, iters = 3)
        .map(_.map(_.toSeq).toSeq).toSeq
    assert(books(1) == books(13))
  }

  // --- SemDeDup ------------------------------------------------------------

  test("semanticDedupRemoved finds planted within-cluster duplicates only") {
    // two far-apart clusters; cluster A holds a triple of near-copies
    // (ids 0,1,2), cluster B holds a pair (ids 10,11) plus a loner (12)
    def v(base: Array[Float], eps: Float) =
      base.zipWithIndex.map { case (x, i) => if (i == 0) x + eps else x }.toSeq
    val a = Array(10f, 0f, 0f, 0f); val b = Array(-10f, 5f, 0f, 0f)
    val rows = Seq(
      (0L, v(a, 0f)), (1L, v(a, 0.001f)), (2L, v(a, 0.002f)),
      (10L, v(b, 0f)), (11L, v(b, 0.001f)),
      (12L, Seq(0f, 0f, 7f, 0f))) // its own region, no near-dup
    val df = rows.toDF("vec_id", "embedding").repartition(5)
    val got = Similarity.semanticDedupRemoved(df, "embedding", "vec_id",
        k = 3, dim = 4, threshold = 0.999)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> 0L, 11L -> 10L))
  }

  test("semanticDedupRemoved guard refuses oversized clusters loudly") {
    val rows = (0L until 50L).map(i => (i, Seq(1f, 0f, 0f, 0f)))
    val df = rows.toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.semanticDedupRemoved(df, "embedding", "vec_id",
        k = 2, dim = 4, threshold = 0.9, maxClusterSize = 10)
    }
    assert(e.getMessage.contains("maxClusterSize"))
    assert(e.getMessage.contains("Raise k"))
  }

  test("semanticDedupRemoved is partitioning-independent") {
    def vv(i: Long): Seq[Float] = {
      val base = (i % 4).toInt
      Seq.tabulate(4)(j => (if (j == base) 10f else 0f) + (i / 4).toFloat * 0.001f)
    }
    val rows = (0L until 32L).map(i => (i, vv(i)))
    def run(parts: Int) =
      Similarity.semanticDedupRemoved(rows.toDF("vec_id", "embedding").repartition(parts),
          "embedding", "vec_id", k = 4, dim = 4, threshold = 0.999)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(run(1) == run(13))
  }

  test("tfidfTopTerms: hand-computed scores, ties by token, rank cut") {
    // N=3 docs. "rare" appears in doc 1 only (idf=ln 3); "mid" in docs
    // 1,2 (idf=ln 1.5); "common" in all (idf=0).
    val docs = Seq(
      (1L, "rare rare mid common"),
      (2L, "mid common common"),
      (3L, "common")).toDF("doc_id", "text")
    val got = Retrieval.tfidfTopTerms(docs, "doc_id", "text", topK = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3)))
      .toSet
    def sc(tf: Int, nOverDf: Double): Double =
      (BigDecimal(tf) * BigDecimal(math.round(math.log(nOverDf) * 1e6))
        / BigDecimal(1000000)).toDouble
    val expected = Set(
      (1L, "rare", sc(2, 3.0), 1L),
      (1L, "mid", sc(1, 1.5), 2L),
      (2L, "mid", sc(1, 1.5), 1L),
      (2L, "common", 0.0, 2L),
      (3L, "common", 0.0, 1L))
    assert(got == expected, s"missing=${expected -- got} extra=${got -- expected}")
  }

  test("tfidfTopTerms is partitioning-independent") {
    val docs = (0L until 60L).map(i =>
      (i, s"w${i % 7} w${i % 7} w${i % 13} shared common${i % 3}"))
    def run(parts: Int) =
      Retrieval.tfidfTopTerms(docs.toDF("doc_id", "text").repartition(parts),
          "doc_id", "text", topK = 2)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(run(2) == run(11))
  }

  test("evalRanking matches hand-computed precision@k / MRR / nDCG") {
    // ranked list 1..5; relevant = {doc 20 (rank 2), doc 40 (rank 4),
    // doc 99 (not ranked)} → R = 3
    val ranked = Seq((10L, 1L), (20L, 2L), (30L, 3L), (40L, 4L), (50L, 5L))
      .toDF("doc_id", "rank")
    val rel = Seq(20L, 40L, 99L, 99L).toDF("doc_id") // dup collapses
    val got = Retrieval.evalRanking(ranked, rel, "doc_id", "rank",
      kPrecision = 3, kNdcg = 5).collect().head
    def wRound(i: Int): BigDecimal =
      BigDecimal(1.0 / (math.log(i + 1.0) / math.log(2.0)))
        .setScale(12, BigDecimal.RoundingMode.HALF_UP)
    val dcg = wRound(2) + wRound(4)
    val idcg = wRound(1) + wRound(2) + wRound(3) // min(R=3, k=5) slots
    val ndcg = BigDecimal(dcg.toDouble / idcg.toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.getAs[Long]("n_ranked") == 5L)
    assert(got.getAs[Long]("n_relevant") == 3L)
    assert(got.getAs[Long]("n_hits") == 2L)
    // precision@3: only rank-2 hit in the top 3 → 1/3
    assert(got.getAs[Double]("precision_at_k") == 0.333333)
    assert(got.getAs[Double]("mrr") == 0.5)
    assert(got.getAs[Double]("ndcg") == ndcg)
  }

  test("evalRanking with no hits returns zero metrics, not nulls") {
    val ranked = Seq((10L, 1L), (11L, 2L)).toDF("doc_id", "rank")
    val rel = Seq(99L).toDF("doc_id")
    val got = Retrieval.evalRanking(ranked, rel, "doc_id", "rank", 2, 2)
      .collect().head
    assert(got.getAs[Long]("n_hits") == 0L)
    assert(got.getAs[Double]("precision_at_k") == 0.0)
    assert(got.getAs[Double]("mrr") == 0.0)
    assert(got.getAs[Double]("ndcg") == 0.0)
  }
}
