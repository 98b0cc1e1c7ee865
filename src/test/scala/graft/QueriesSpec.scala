package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver-contract surface: every declared query runs on sf0.001 and
  * returns rows; every oracle key corresponds to a query; entry() smokes.
  */
class QueriesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sfDir = "/root/testdata/sf0.001"

  test("entry() returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("a build whose metadata file is gone is refused, and q_emb_ivf_probe " +
    "rebuilds it and still returns family 3") {
    val path = graft.queries.PipelineQueries.ivfIndexFor(spark, sfDir)
    java.nio.file.Files.delete(java.nio.file.Paths.get(path, "_ann_index.json"))
    val msg = intercept[IllegalArgumentException](
      graft.functions.AnnIndex.probe(spark, path, Seq.fill(64)(1f), k = 1, nprobe = 1)).getMessage
    assert(msg.contains(path), msg)
    val got = graft.queries.PipelineQueries.queries("q_emb_ivf_probe")(spark, sfDir)
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(got == (3000L until 3013L))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(path, "_ann_index.json")))
  }

  test("every oracle key has a query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("no duplicate query keys anywhere (a duplicate silently shadows " +
    "an existing query — r6 nearly lost q_funnel this way)") {
    // Map literals collapse duplicates before runtime, so scan the SOURCE:
    // each key may appear at most twice per file (query + oracle) and at
    // most once across files for the queries map.
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Paths.get("src/main/scala/graft/queries")
    val keyRe = """"(q[a-z0-9_]+)"\s*->""".r
    val counts = java.nio.file.Files.list(dir).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap(p => keyRe.findAllMatchIn(
        java.nio.file.Files.readString(p)).map(_.group(1)))
      .toSeq.groupBy(identity).view.mapValues(_.size)
    val dups = counts.filter(_._2 > 2).toMap
    assert(dups.isEmpty, s"keys declared more than query+oracle: $dups")
    // cross-check: merged map sizes equal the source-level key count
    assert(SparkEntry.queries.size == counts.size,
      s"merged queries=${SparkEntry.queries.size} vs source keys=${counts.size}")
  }

  test("no NEW round(<quotient>) in checked oracle projections — the " +
    "pinned-ratio guard") {
    // round(x / y, k) on a checked column is the q_doc_dsir failure class:
    // a ratio of small integers is often EXACTLY representable in binary
    // and can land exactly on a k-decimal half boundary, where Spark's
    // HALF_UP and DuckDB's ties-to-even scaled round DISAGREE — such a
    // query passes the driver gate only by luck of the data. Integer
    // ratios must go through PinnedMath.pinnedRatio / Tables.pinnedRatioSql
    // (or an exact algebraic rewrite). This scan finds every round( whose
    // argument contains a DIVISION AT TOP PAREN DEPTH (a '/' nested inside
    // sqrt()/ln()/log2() does not count — those chains produce irrational
    // values that cannot sit exactly on a decimal boundary) and pins the
    // offender set to the audited allowlist below. Adding a new offender
    // fails here; removing one must shrink the list.
    def offenders(sql: String): Int = {
      var i = 0; var hits = 0
      val low = sql.toLowerCase
      while ({ i = low.indexOf("round(", i); i >= 0 }) {
        var depth = 0; var k = i + 5; var topDiv = false
        var break = false
        while (k < sql.length && !break) {
          sql.charAt(k) match {
            case '(' => depth += 1
            case ')' => depth -= 1; if (depth == 0) break = true
            case '/' => if (depth == 1) topDiv = true
            case _ =>
          }
          k += 1
        }
        if (topDiv) hits += 1
        i += 6
      }
      hits
    }
    // Audited allowlist — every entry is an irrational-chain quotient
    // (sqrt/ln/log2 composition, HLL/KMV float estimators, BM25 chains,
    // dyadic 2^-k decays, double interpolation) or a fixed planted ratio
    // verified off-boundary; none is a bare rounded integer ratio:
    val allowed = Map(
      "q_ann_bruteforce" -> 1, // planted recall fractions, audited off-boundary
      "q_ann_lsh" -> 1,        // same planted set as q_ann_bruteforce
      "q_autocorr" -> 1,       // Pearson: /sqrt(..)*sqrt(..)
      "q_bm25_search" -> 1,    // BM25 tf/idf chain (idf = rounded ln)
      "q_corr_matrix" -> 6,    // Pearson cells: /sqrt·sqrt
      "q_dsir_resample" -> 1,  // Gumbel key: /0.5 exact + ln(ln) chain
      "q_emb_int8" -> 1,       // cosine: /(sqrt·sqrt)
      "q_event_anomaly" -> 1,  // z-score: /sqrt(variance)
      "q_event_decay" -> 1,    // dyadic 1/2^k — exact IEEE, no boundary
      "q_event_ewma" -> 1,     // dyadic value/2^k — exact IEEE division
      "q_hard_negatives" -> 1, // cosine: /(sqrt·sqrt)
      "q_hll_distinct" -> 1,   // HLL float estimator / exact − 1
      "q_hybrid_search" -> 4,  // BM25 chain + cosine + 1/(60+r) RRF
      "q_item_cf" -> 1,        // cosine: /(sqrt·sqrt)
      "q_kmv_distinct" -> 2,   // KMV estimator (2^48·k/hash) + rel. error
      "q_knn_graph" -> 1,      // cosine: /(sqrt·sqrt)
      "q_link_predict" -> 1,   // Adamic–Adar 1/ln(deg)
      "q_mutual_nn" -> 1,      // cosine: /(sqrt·sqrt)
      "q_prf_search" -> 2,     // BM25 chains
      "q_resample_interp" -> 1, // linear interp over double samples
      "q_retrieval_eval" -> 6, // BM25 + 1/log2 DCG + small fixed ratios
      "q_stream_anomaly" -> 1, // z-score: /sqrt(variance)
      "q_stream_hll" -> 1,     // HLL float estimator / exact − 1
      "q_zipf" -> 3)           // log-log regression (ln-derived sums)
    val found = SparkEntry.oracleSql.view
      .mapValues(offenders).filter(_._2 > 0).toMap
    val unexpected = found.filter { case (q, n) => allowed.get(q) != Some(n) }
    assert(unexpected.isEmpty,
      s"NEW round(<quotient>) in checked projections (use PinnedMath." +
        s"pinnedRatio / Tables.pinnedRatioSql): $unexpected")
    val stale = allowed.keySet -- found.keySet
    assert(stale.isEmpty,
      s"allowlist entries no longer present — remove them: $stale")
  }

  // Each query also leaves the session as it found it: after the caller's
  // one unpersist() on the returned frame, no cached RDD remains.
  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name runs on sf0.001 and returns rows") {
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val df = fn(spark, sfDir)
      assert(df.count() > 0, s"$name returned no rows")
      df.unpersist(blocking = true)
      val leaked = sc.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty, s"$name left ${leaked.size} cached RDD(s) behind")
    }
  }
}
