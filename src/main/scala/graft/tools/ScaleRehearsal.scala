package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale rehearsal: run the flagship pipeline operators end-to-end at 1×
  * and 10× the sf0.1 corpus (documents replicated with per-replica
  * perturbation so the duplicate RATE stays that of the base corpus rather
  * than exploding, embeddings replicated with a per-replica dim-0 shift)
  * and record per-stage wall times. The claim under test: stage cost is
  * linear in data above the per-action floor, and the LSH probe is FLAT
  * (partition-pruned) as the index grows.
  *
  *   sbt "runMain graft.tools.ScaleRehearsal [mults…]"   (default: 1 10)
  *
  * Results land in SURVEY.md §perf notes (round 4).
  */
object ScaleRehearsal {
  def main(args: Array[String]): Unit = {
    val mults = if (args.nonEmpty) args.toSeq.map(_.toInt) else Seq(1, 10)
    val spark = graft.GraftSession.local()

    // Optional stage filter (builder-side): SPARK_GRAFT_REHEARSE_ONLY is a
    // comma-separated list of case-insensitive label substrings — lets a
    // 100× rerun target one operator family without paying for the rest.
    val only: Option[Seq[String]] = sys.env.get("SPARK_GRAFT_REHEARSE_ONLY")
      .map(_.split(",").map(_.trim.toLowerCase).filter(_.nonEmpty).toSeq)
    def selected(label: String): Boolean =
      only.forall(_.exists(label.toLowerCase.contains))
    def t[A](label: String)(f: => A): A = {
      if (!selected(label)) return null.asInstanceOf[A]
      val t0 = System.nanoTime()
      val r = f
      println(f"[scale] $label%-42s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }
    def sweep(): Unit = graft.Bench.sweep(spark)

    val baseDocs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      .select("doc_id", "text")
    val baseEmb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
      .select("vec_id", "embedding")

    // Warm-up: a miniature pass through every measured operator so JIT +
    // whole-stage-codegen compilation is off the timed runs (the first
    // curate otherwise pays ~2× in compile latency and the 1× row reads
    // SLOWER than 10×).
    {
      val mini = baseDocs.filter(col("doc_id") < 400)
      val (warmOut, _) = graft.functions.Curation.curate(
        mini, mini.filter(col("doc_id") < 5), "doc_id", "text")
      warmOut.write.format("noop").mode("overwrite").save()
      graft.functions.Dedup.minhashCandidatesAgainst(
        mini.select((col("doc_id") + 500000000L).as("doc_id"), col("text")),
        mini, "doc_id", "text", shingleSize = 2, numHashes = 32, bands = 8)
        .unpersist(blocking = true)
      // session-5c operators: first-run codegen/JIT off the timed stages
      val miniEdges = mini.select(col("doc_id").as("src"),
        pmod(xxhash64(col("doc_id")), lit(400L)).as("dst"))
      graft.functions.Graph.adamicAdar(miniEdges, "src", "dst", k = 5)
        .unpersist(blocking = true)
      val miniFacts = mini.select(
        pmod(col("doc_id"), lit(5L)).cast("string").as("g"),
        length(col("text")).cast("double").as("x"))
      graft.operators.Merge.maintainAggregate(
          graft.operators.Merge.buildAggregate(miniFacts, Seq("g"), Seq("x")),
          miniFacts.limit(10).select(col("g"), col("x"), lit("D").as("op")),
          Seq("g"), Seq("x"))
        .unpersist(blocking = true)
      graft.functions.Text.blocklistScreen(mini, "doc_id", "text",
          Seq("spark", "scan"))
        .write.format("noop").mode("overwrite").save()
      graft.operators.Merge.snapshotDiff(
          mini.select(col("doc_id"), length(col("text")).as("len")),
          mini.filter(col("doc_id") % 2 === 0)
            .select(col("doc_id"), length(col("text")).as("len")),
          Seq("doc_id"), Seq("len"))
        .write.format("noop").mode("overwrite").save()
      val wzDir = java.nio.file.Files.createTempDirectory("zwarm").toString
      graft.operators.ZOrder.writeZOrdered(
        mini.select(col("doc_id"), length(col("text")).as("len")),
        wzDir + "/t", Seq("doc_id", "len"), bits = 8, numFiles = 2)
      graft.functions.Windowing.globalLag(
          mini.select(pmod(col("doc_id"), lit(7L)).as("u"), col("doc_id"),
            length(col("text")).as("len")),
          Seq("u"), Seq("doc_id"), Seq("len"))
        .unpersist(blocking = true)
      graft.functions.Similarity.mutualNearestNeighbors(
          baseEmb.filter(col("vec_id") < 300)
            .select(col("vec_id"), col("embedding"),
              pmod(col("vec_id"), lit(4L)).as("blk")),
          "blk", "embedding", "vec_id")
        .write.format("noop").mode("overwrite").save()
      sweep()
    }

    mults.foreach { mult =>
      val root = s"/tmp/graft_scale_v3_$mult"
      val docPath = s"$root/documents.parquet"
      val embPath = s"$root/embeddings.parquet"
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(docPath, "_SUCCESS"))) {
        // Replica r gets disjoint ids and a REPLICA-SHARED ~15-token tail:
        // within a replica, pairs gain the same tokens on both sides, so
        // the base corpus's exact/near-dup structure survives intact
        // (near-dup pairs land ≈0.93 Jaccard), while cross-replica copies
        // of the same base doc fall to ≈0.65 — below the 0.8 threshold.
        // (A doc-unique tail would instead destroy WITHIN-replica dups,
        // and a single-token suffix would leave cross-replica pairs at
        // ~0.96 and collapse the corpus back to 1×.) The benchmark side of
        // decontamination uses the raw BASE docs — tail tokens never form
        // benchmark n-grams, so contamination structure also stays that of
        // the base corpus, scaled.
        val tail = concat((1 to 15).map(j =>
          concat(lit(s" zq"), col("rep"), lit(s"w$j"))): _*)
        baseDocs.crossJoin(spark.range(mult).toDF("rep"))
          .select((col("rep") * 1000000L + col("doc_id")).as("doc_id"),
            concat(col("text"), tail).as("text"))
          .repartition(32).write.mode("overwrite").parquet(docPath)
        baseEmb.crossJoin(spark.range(mult).toDF("rep"))
          .select((col("rep") * 1000000L + col("vec_id")).as("vec_id"),
            transform(col("embedding"), (x, i) =>
              when(i === 0, x + col("rep").cast("float") * lit(0.01f))
                .otherwise(x)).as("embedding"))
          .repartition(32).write.mode("overwrite").parquet(embPath)
      }
      val docs = spark.read.parquet(docPath)
      val emb = spark.read.parquet(embPath)
      val nDocs = docs.count(); val nVecs = emb.count()
      println(s"[scale] ===== mult=$mult  docs=$nDocs  vecs=$nVecs =====")
      sweep()

      // 1. curation capstone (exact dedup → near-dedup → decontaminate →
      //    quality → split), stage counts inside. Benchmark = raw base docs
      //    (see generation note: keeps contamination proportional).
      val benchmark = baseDocs.filter(col("doc_id") < 10)
      t(s"curate (mult=$mult)") {
        val (out, report) = graft.functions.Curation.curate(
          docs, benchmark, "doc_id", "text")
        println(s"[scale]   report: in=${report.nInput} exact=${report.nAfterExact} " +
          s"near=${report.nAfterNearDup} decon=${report.nAfterDecontam} " +
          s"quality=${report.nAfterQuality}")
        out.write.format("noop").mode("overwrite").save()
      }
      sweep()

      // 2. incremental cross-corpus dedup: a 1% "daily batch" against the
      //    full corpus (the 100 TB ingest shape)
      t(s"minhashCandidatesAgainst 1% vs all (mult=$mult)") {
        val batch = docs.filter(col("doc_id") % 100 === 0)
          .select((col("doc_id") + 500000000L).as("doc_id"), col("text"))
        val cands = graft.functions.Dedup.minhashCandidatesAgainst(
          batch, docs, "doc_id", "text", shingleSize = 2, numHashes = 32, bands = 8)
        println(s"[scale]   candidates: ${cands.count()}")
        cands.unpersist(blocking = true)
      }
      sweep()

      // 3. ANN index build (once) + steady-state probes
      if (selected("lsh index")) {
        val idxPath = s"$root/lsh_index"
        t(s"lsh index write (mult=$mult)") {
          graft.functions.AnnIndex.write(emb, "embedding", "vec_id", idxPath,
            graft.functions.AnnIndex.AnnSpec(
              graft.functions.AnnIndex.AnnSpec.Lsh(planes = 8, tables = 2)))
        }
        val q = baseEmb.filter(col("vec_id") === 0)
          .select("embedding").head().getSeq[Float](0)
        // one warm-up probe (reader/codegen init), then 5 timed probes
        graft.functions.AnnIndex.probe(spark, idxPath, q, 10, nprobe = 24).collect()
        val probeTimes = (1 to 5).map { _ =>
          val t0 = System.nanoTime()
          graft.functions.AnnIndex.probe(spark, idxPath, q, 10, nprobe = 24).collect()
          (System.nanoTime() - t0) / 1e9
        }.sorted
        println(f"[scale] lsh index probe median of 5 (mult=$mult)  ${probeTimes(2)}%8.3f s")
        sweep()
      }

      // 4. round-5 operators: sequence packing, token-budget mixing,
      //    bloom decontamination, unigram-LM scoring — all should be
      //    floor-dominated at 1× and ~linear at 10×.
      t(s"packedStats cap=2048 (mult=$mult)") {
        graft.functions.Packing.packedStats(docs, "doc_id",
          graft.functions.Text.tokenCount(col("text")), capacity = 2048,
          bucketWidth = 100000L)
          .write.format("noop").mode("overwrite").save()
      }
      sweep()
      t(s"rebalanceTokenBudget 5 sources (mult=$mult)") {
        // budget ∝ corpus so the kept fraction stays ~constant across mults
        graft.functions.Mixing.rebalanceTokenBudget(
          docs.withColumn("src", pmod(col("doc_id"), lit(5L))), "doc_id", "src",
          graft.functions.Text.tokenCount(col("text")),
          tokenBudgetPerGroup = nDocs * 6)
          .write.format("noop").mode("overwrite").save()
      }
      sweep()
      t(s"sharedNgramCountsBloom (mult=$mult)") {
        val r = graft.functions.Decontamination.sharedNgramCountsBloom(
          docs, benchmark, "doc_id", "text", n = 4, expectedGrams = 100000L)
        println(s"[scale]   contaminated docs: ${r.count()}")
        r.unpersist(blocking = true)
      }
      sweep()
      t(s"UnigramLm.score self-trained (mult=$mult)") {
        val r = graft.functions.UnigramLm.score(docs, docs, "doc_id", "text")
        r.write.format("noop").mode("overwrite").save()
        r.unpersist(blocking = true)
      }
      sweep()

      // 5. round-5 continuation operators: distributed ranking, bigram LM,
      //    priority sampling, merge, PageRank — ranking and scoring should
      //    be ~linear, the sample and merge floor-dominated, PageRank's
      //    per-iteration floor constant with edge volume linear.
      t(s"globalRowNumber 7 groups by score (mult=$mult)") {
        graft.functions.Windowing.globalRowNumber(
          docs.withColumn("g", pmod(col("doc_id"), lit(7L)))
            .withColumn("s", length(col("text"))),
          Seq("g"), Seq("s", "doc_id"))
          .write.format("noop").mode("overwrite").save()
      }
      sweep()
      t(s"scoreBigram self-trained (mult=$mult)") {
        val r = graft.functions.UnigramLm.scoreBigram(docs, docs, "doc_id", "text")
        r.write.format("noop").mode("overwrite").save()
        r.unpersist(blocking = true)
      }
      sweep()
      t(s"prioritySample k=1000 (mult=$mult)") {
        graft.functions.Mixing.prioritySample(
          docs.withColumn("w", graft.functions.Text.tokenCount(col("text"))
            .cast("long")), "doc_id", "w", k = 1000)
          .write.format("noop").mode("overwrite").save()
      }
      sweep()
      t(s"Merge.upsert 1% batch (mult=$mult)") {
        val changes = docs.filter(col("doc_id") % 100 === 1)
          .withColumn("del", col("doc_id") % 1000 === 1)
        graft.operators.Merge.upsert(docs, changes, Seq("doc_id"), Some("del"))
          .write.format("noop").mode("overwrite").save()
      }
      sweep()
      // 6. this session's operators: NB classification (training IS a
      //    count shuffle; scoring joins token-keyed), blocked kNN (block
      //    COUNT scales with the corpus so block SIZE stays constant —
      //    the documented blocking contract makes pair volume linear),
      //    windowed co-occurrence (pair table grows with diversity, not
      //    corpus), Kneser-Ney (all statistics off one pair-count table).
      t(s"NaiveBayes train+predict 5 labels (mult=$mult)") {
        val labeled = docs.withColumn("lab",
          pmod(col("doc_id"), lit(5L)).cast("string"))
        val r = graft.functions.NaiveBayes.trainAndPredict(
          labeled, "doc_id", "text", "lab")
        r.write.format("noop").mode("overwrite").save()
        r.unpersist(blocking = true)
      }
      sweep()
      t(s"knnWithinGroups k=3 |block|~250 (mult=$mult)") {
        val blocked = emb.withColumn("b",
          pmod(col("vec_id"), lit((8 * mult).toLong)))
        graft.functions.Similarity.knnWithinGroups(
          blocked, "b", "embedding", "vec_id", k = 3)
          .write.format("noop").mode("overwrite").save()
      }
      sweep()
      t(s"cooccurrenceTopK w=4 k=40 (mult=$mult)") {
        graft.functions.Text.cooccurrenceTopK(docs, "text", window = 4,
          topK = 40)
          .write.format("noop").mode("overwrite").save()
      }
      sweep()
      t(s"scoreKneserNey self-trained (mult=$mult)") {
        val r = graft.functions.UnigramLm.scoreKneserNey(
          docs, docs, "doc_id", "text")
        r.write.format("noop").mode("overwrite").save()
        r.unpersist(blocking = true)
      }
      sweep()
      // 7. graph + containment operators: triangles (degree-oriented
      //    wedges), label propagation and containment-join volumes grow
      //    with the data; the doc-token graph edge count scales linearly.
      t(s"triangleCounts doc-token graph (mult=$mult)") {
        val edges = docs
          .select(col("doc_id").as("src"),
            explode(graft.functions.Text.tokens(col("text"))).as("tok"))
          .select(col("src"), pmod(xxhash64(col("tok")), lit(2000L)).as("dst"))
        val r = graft.functions.Graph.triangleCounts(edges, "src", "dst")
        r.write.format("noop").mode("overwrite").save()
        r.unpersist(blocking = true)
      }
      sweep()
      t(s"labelPropagation 4 rounds (mult=$mult)") {
        val edges = docs
          .select(col("doc_id").as("src"),
            explode(graft.functions.Text.tokens(col("text"))).as("tok"))
          .select(col("src"), pmod(xxhash64(col("tok")), lit(10000L)).as("dst"))
        val r = graft.functions.Graph.labelPropagation(edges, "src", "dst",
          iterations = 4)
        r.write.format("noop").mode("overwrite").save()
        r.unpersist(blocking = true)
      }
      sweep()
      // containmentPairs is deliberately NOT rehearsed on this corpus: its
      // ~30-token vocabulary makes the TRUE containment output quadratic
      // (measured: 12.7M genuine pairs from 5k docs at t=0.9 — 1.3B at
      // 10×). That finding became the operator's maxJoinRows guard; the
      // driver query runs it on the real corpus, whose vocabulary scales
      // with the data.
      t(s"pageRank 8 iters on doc-token graph (mult=$mult)") {
        // a text-derived bipartite-ish graph: doc -> hash-bucketed token
        val edges = docs
          .select(col("doc_id").as("src"),
            explode(graft.functions.Text.tokens(col("text"))).as("tok"))
          .select(col("src"), pmod(xxhash64(col("tok")), lit(10000L)).as("dst"))
        val r = graft.functions.Graph.pageRank(edges, "src", "dst", iterations = 8)
        r.write.format("noop").mode("overwrite").save()
        r.unpersist(blocking = true)
      }
      sweep()
      // 7b. the remaining fixpoint family on the same doc-token graph
      // (round-6: verdict asked for hits/ppr/weighted at 100×, which the
      // earlier rehearsals only covered to 10×). Shared shape with
      // pageRank: per-iteration action floor, shuffle ∝ edges.
      def dtEdges() = docs
        .select(col("doc_id").as("src"),
          explode(graft.functions.Text.tokens(col("text"))).as("tok"))
        .select(col("src"), pmod(xxhash64(col("tok")), lit(10000L)).as("dst"))
      t(s"weightedPageRank 6 iters (mult=$mult)") {
        val we = dtEdges().groupBy("src", "dst").agg(count(lit(1)).as("w"))
        val r = graft.functions.Graph.weightedPageRank(we, "src", "dst", "w",
          iterations = 6)
        r.write.format("noop").mode("overwrite").save()
        r.unpersist(blocking = true)
      }
      sweep()
      t(s"personalizedPageRank 6 iters 3 seeds (mult=$mult)") {
        val r = graft.functions.Graph.personalizedPageRank(dtEdges(),
          "src", "dst", seeds = Seq(1L, 2L, 3L), iterations = 6)
        r.write.format("noop").mode("overwrite").save()
        r.unpersist(blocking = true)
      }
      sweep()
      t(s"hits 6 iters (mult=$mult)") {
        val r = graft.functions.Graph.hits(dtEdges(), "src", "dst",
          iterations = 6)
        r.write.format("noop").mode("overwrite").save()
        r.unpersist(blocking = true)
      }
      sweep()
      // 8. session-5c operators: link prediction, CDC maintenance, the
      //    blocklist DFA, z-order write, distributed lag, mutual NN.
      // sparse pseudo-random link graph (~6 links/doc, node count scales
      // with the corpus): the realistic Adamic-Adar shape. The doc-token
      // graph is deliberately NOT used here — this corpus's ~31-token
      // vocabulary makes every token bucket adjacent to every doc, so the
      // TRUE wedge output is quadratic by construction (the containment
      // lesson); the hub cap exists exactly to refuse that shape.
      t(s"adamicAdar top-100 sparse link graph (mult=$mult)") {
        val edges = docs.select(col("doc_id").as("src"),
            array((1 to 3).map(j =>
              pmod(xxhash64(col("doc_id") + lit(j * 1000003L)),
                lit(nDocs))): _*).as("ds"))
          .select(col("src"), explode(col("ds")).as("dst"))
        val r = graft.functions.Graph.adamicAdar(edges, "src", "dst",
          k = 100, maxDegree = 4000)
        r.write.format("noop").mode("overwrite").save()
        r.unpersist(blocking = true)
      }
      sweep()
      t(s"maintainAggregate 1% CDC batch (mult=$mult)") {
        val facts = docs.select(
          pmod(col("doc_id"), lit(50L)).cast("string").as("g"),
          length(col("text")).cast("double").as("x"), col("doc_id"))
        val base = graft.operators.Merge.buildAggregate(facts, Seq("g"), Seq("x"))
        val changes = facts.filter(col("doc_id") % 100 === 0)
          .select(col("g"), col("x"), lit("D").as("op"))
        val r = graft.operators.Merge.maintainAggregate(base, changes,
          Seq("g"), Seq("x"))
        r.write.format("noop").mode("overwrite").save()
        r.unpersist(blocking = true)
      }
      sweep()
      t(s"blocklistScreen 64-term DFA (mult=$mult)") {
        val terms = (0 until 60).map(i => s"tok$i word$i".take(6)) ++
          Seq("spark", "scan", "fast merge", "order")
        graft.functions.Text.blocklistScreen(docs, "doc_id", "text",
            terms.distinct)
          .write.format("noop").mode("overwrite").save()
      }
      sweep()
      t(s"snapshotDiff 2% mutation (mult=$mult)") {
        val before = docs.select(col("doc_id"), length(col("text")).as("len"))
        val after = before.filter(col("doc_id") % 100 =!= 0)
          .withColumn("len",
            when(col("doc_id") % 50 === 0, col("len") + 1).otherwise(col("len")))
        graft.operators.Merge.snapshotDiff(before, after,
            Seq("doc_id"), Seq("len"))
          .write.format("noop").mode("overwrite").save()
      }
      sweep()
      t(s"writeZOrdered 16-bit 2-dim (mult=$mult)") {
        val dir = java.nio.file.Files.createTempDirectory("zreh").toString
        graft.operators.ZOrder.writeZOrdered(
          docs.select(col("doc_id"),
            pmod(xxhash64(col("text")), lit(100000L)).as("h"),
            length(col("text")).as("len")),
          dir + "/t", Seq("h", "len"), bits = 16, numFiles = 32)
        graft.operators.Maintenance.compact(spark, dir + "/t",
          targetBytes = 64L * 1024 * 1024, sortCols = Seq("h"))
      }
      sweep()
      t(s"globalLag user stream (mult=$mult)") {
        val seq = docs.select(pmod(col("doc_id"), lit(997L)).as("u"),
          col("doc_id"), length(col("text")).as("len"))
        val r = graft.functions.Windowing.globalLag(seq, Seq("u"),
          Seq("doc_id"), Seq("len"))
        r.write.format("noop").mode("overwrite").save()
        r.unpersist(blocking = true)
      }
      sweep()
      // round-6 new-operator ladder: span scrubbing, persisted-index
      // probe (1% batch vs the indexed corpus), epoch interleave,
      // distribution matching.
      t(s"scrubContaminatedSpans n=4 (mult=$mult)") {
        val bench = baseDocs.filter(col("doc_id") < 10)
        graft.functions.Decontamination.scrubContaminatedSpans(
            docs, bench, "doc_id", "text", n = 4)
          .write.format("noop").mode("overwrite").save()
      }
      sweep()
      t(s"minhashIndex build+1% probe (mult=$mult)") {
        val idx = s"$root/mh_index"
        if (!java.nio.file.Files.exists(
            java.nio.file.Paths.get(idx, "_params.json")))
          graft.functions.Dedup.writeMinhashIndex(docs, "doc_id", "text",
            idx, shingleSize = 2, numHashes = 32, bands = 8)
        val batch = docs.filter(col("doc_id") % 100 === 0)
          .select((col("doc_id") + 700000000L).as("doc_id"), col("text"))
        val r = graft.functions.Dedup.minhashCandidatesAgainstIndex(
          batch, idx, "doc_id", "text")
        println(s"[scale]   index candidates: ${r.count()}")
        r.unpersist(blocking = true)
      }
      sweep()
      t(s"interleaveSources 5 sources (mult=$mult)") {
        val r = graft.functions.Mixing.interleaveSources(
          docs.withColumn("src", pmod(col("doc_id"), lit(5L)).cast("string")),
          "doc_id", "src", length(col("src")) + pmod(col("doc_id"), lit(1L)) + 1)
        r.write.format("noop").mode("overwrite").save()
        r.unpersist(blocking = true)
      }
      sweep()
      t(s"matchDistribution 5 buckets (mult=$mult)") {
        val r = graft.functions.Mixing.matchDistribution(
          docs.withColumn("b", pmod(col("doc_id"), lit(5L))),
          "doc_id", "b", col("b") + 1)
        r.write.format("noop").mode("overwrite").save()
        r.unpersist(blocking = true)
      }
      sweep()
      // round-6 additions (verdict item 8): CDC chunk dedup and winnow
      // span matching at the full mult ladder.
      t(s"dedupCdcChunks w=16 (mult=$mult)") {
        graft.functions.Packing.dedupCdcChunks(docs, "doc_id", "text")
          .write.format("noop").mode("overwrite").save()
      }
      sweep()
      t(s"winnowMatchedSpans (mult=$mult)") {
        val r = graft.functions.Dedup.winnowMatchedSpans(docs, "doc_id",
          "text")
        r.write.format("noop").mode("overwrite").save()
        r.unpersist(blocking = true)
      }
      sweep()
      t(s"mutualNearestNeighbors 64 blocks (mult=$mult)") {
        val blocked = emb.select(col("vec_id"), col("embedding"),
          pmod(col("vec_id"), lit(64L * mult)).as("blk"))
        graft.functions.Similarity.mutualNearestNeighbors(blocked, "blk",
            "embedding", "vec_id")
          .write.format("noop").mode("overwrite").save()
      }
      sweep()
    }
    spark.stop()
  }
}
