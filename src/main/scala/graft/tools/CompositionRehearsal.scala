package graft.tools

import org.apache.spark.sql.functions._

/** Round-10 composition rehearsal (VERDICT r9 item 8): run the startable
  * CONNECTOR inside the curation capstone, end to end, at 10× and 100× the
  * sf0.1 corpus — every leg individually proven in earlier rounds, this
  * proves the PRODUCT surface composed:
  *
  *   ingest   — write the corpus as a hive-partitioned StarTable dataset
  *              (partitioned by lang, multi-file slices, slice+file stats)
  *   scan     — read it back through the DSv2 connector (full parse)
  *   curate   — exact dedup → near-dedup → decontaminate → quality → split
  *              over the CONNECTOR-read frame
  *   publish  — write the curated output as a partitioned dataset
  *              (partitioned by split, stats on)
  *   prune    — a report query over the published dataset that partition-
  *              prunes (split=) and stat-skips (doc_id range), with parsed
  *              volume counters
  *
  *   sbt "runMain graft.tools.CompositionRehearsal [real] [mults…]"
  *   (default 10 100)
  *
  * Corpus replicas follow ScaleRehearsal's replica-shared-tail scheme
  * (memoized at /tmp/graft_scale_v3_<mult>) so dup/contamination RATES stay
  * those of the base corpus — but every base doc then has `mult` near-dup
  * twins, a near-dup graph QUADRATIC in the multiplier by construction.
  * Pass `real` to use [[RealCorpus]] instead: bounded dup families
  * (size ≤ 5 at every scale) and vocabulary growing with corpus size, so
  * the 100× capstone measures the ENGINE's scaling, not the corpus's.
  * Results land in SURVEY.md perf notes. */
object CompositionRehearsal {
  def main(args: Array[String]): Unit = {
    val realistic = args.headOption.contains("real")
    val multArgs = if (realistic) args.drop(1) else args
    val mults = if (multArgs.nonEmpty) multArgs.toSeq.map(_.toInt)
      else Seq(10, 100)
    val spark = graft.GraftSession.local()

    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[compose] $label%-40s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }
    def sweep(): Unit = graft.Bench.sweep(spark)

    val baseDocs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      .select("doc_id", "text", "lang")
    val benchmark = baseDocs.filter(col("doc_id") < 200).select("doc_id", "text")

    // warm-up at a miniature scale: JIT + codegen off the timed legs
    {
      val wdir = java.nio.file.Files.createTempDirectory("graft_comp_w").toString
      val mini = baseDocs.filter(col("doc_id") < 400)
      graft.io.CsvWriter.writePartitionedDataset(
        graft.model.StarTable.fromDataFrame(mini, "docs",
          units = Map("lang" -> "text", "text" -> "text")),
        wdir + "/ds", Seq("lang"), numFiles = 8, filesPerSlice = 2)
      val back = spark.read.format("startable").load(wdir + "/ds")
      val (wout, _) = graft.functions.Curation.curate(
        back.select(col("doc_id").cast("long").as("doc_id"), col("text")),
        benchmark.limit(5), "doc_id", "text")
      graft.io.CsvWriter.writePartitionedDataset(
        graft.model.StarTable.fromDataFrame(
          wout.select(col("doc_id"), col("split")), "curated",
          units = Map("split" -> "text")),
        wdir + "/out", Seq("split"), numFiles = 8)
      wout.unpersist(blocking = true)
      sweep()
    }

    lazy val benchTexts: Array[String] = benchmark.orderBy(col("doc_id"))
      .select("text").collect().map(_.getString(0))

    mults.foreach { mult =>
      println(s"--- ${mult}x (${mult * 5000} docs" +
        s"${if (realistic) ", realistic corpus" else ""}) ---")
      val corpus = if (realistic) {
        spark.read.parquet(RealCorpus.generate(spark, mult, benchTexts))
      } else {
        val root = s"/tmp/graft_scale_v3_$mult"
        val docPath = s"$root/documents.parquet"
        if (!java.nio.file.Files.exists(java.nio.file.Paths.get(docPath, "_SUCCESS"))) {
          val tail = concat((1 to 15).map(j =>
            concat(lit(s" zq"), col("rep"), lit(s"w$j"))): _*)
          baseDocs.crossJoin(spark.range(mult).toDF("rep"))
            .select((col("rep") * 1000000L + col("doc_id")).as("doc_id"),
              concat(col("text"), tail).as("text"), col("lang"))
            .repartition(32).write.mode("overwrite").parquet(docPath)
        }
        // older memoized replicas (ScaleRehearsal) carry no lang column —
        // restore it from the base doc id (replica ids are base + rep·1e6)
        val raw = spark.read.parquet(docPath)
        if (raw.columns.contains("lang")) raw
        else raw.join(
          broadcast(baseDocs.select(col("doc_id").as("__base"), col("lang"))),
          pmod(raw("doc_id"), lit(1000000L)) === col("__base"))
          .select(raw("doc_id"), raw("text"), col("lang"))
      }
      val dsDir = java.nio.file.Files.createTempDirectory(s"graft_comp_$mult")
        .toString

      // leg A — ingest: corpus → partitioned StarTable dataset
      t(s"ingest ${mult}x (write dataset+stats)") {
        graft.io.CsvWriter.writePartitionedDataset(
          graft.model.StarTable.fromDataFrame(corpus, "docs",
            units = Map("lang" -> "text", "text" -> "text")),
          dsDir + "/ds", Seq("lang"), numFiles = 32, filesPerSlice = 4)
      }
      sweep()

      // leg B — full connector scan (parse every line once). A bare
      // count() would answer from the METADATA aggregate since round 10
      // (StarMetaAggScan — no file opened); the residual length() filter
      // keeps the pushdown off so this leg measures the real parse.
      val back = spark.read.format("startable").load(dsDir + "/ds")
      val n = t(s"scan ${mult}x (full connector read)") {
        back.where(length(col("text")) >= 0).count()
      }
      require(n == mult * 5000L, s"connector read $n of ${mult * 5000}")

      // leg C — curate over the CONNECTOR-read frame
      val docsIn = back.select(col("doc_id").cast("long").as("doc_id"),
        col("text"))
      val (curated, report) = t(s"curate ${mult}x (over connector read)") {
        graft.functions.Curation.curate(docsIn, benchmark, "doc_id", "text",
          verbose = sys.env.contains("GRAFT_CURATE_VERBOSE"))
      }
      println(s"[compose]   report: $report")

      // leg D — publish: curated output → partitioned dataset (by split)
      t(s"publish ${mult}x (write curated dataset)") {
        graft.io.CsvWriter.writePartitionedDataset(
          graft.model.StarTable.fromDataFrame(
            curated.select(col("doc_id"), col("split"),
              length(col("text")).as("len")),
            "curated", units = Map("split" -> "text")),
          dsDir + "/out", Seq("split"), numFiles = 32)
      }
      curated.unpersist(blocking = true)
      sweep()

      // leg E — prune-read report: split= partition-prunes, doc_id range
      // stat-skips; counters prove parsed volume ≪ dataset volume
      val out = spark.read.format("startable").load(dsDir + "/out")
      val total = out.count()
      graft.sources.StarTableSource.resetPushdownCounters()
      val got = t(s"prune ${mult}x (split+range report)") {
        out.filter(col("split") === "test" && col("doc_id") < 5000)
          .count()
      }
      val parsed = graft.sources.StarTableSource.linesParsed.sum()
      println(s"[compose]   pruned report: $got rows, parsed $parsed of " +
        s"$total curated lines")
      sweep()
    }
    spark.stop()
  }
}
