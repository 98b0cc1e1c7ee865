package graft

import org.apache.spark.sql.functions._

import graft.io.{CsvReader, CsvWriter, JsonIo, Xlsx}
import graft.model._
import graft.units.BuiltinUnitConverter

/** Executable demo of the engine surface — the analog of the reference's
  * examples/pdtable_demo.py. Run: sbt "runMain graft.Demo"
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    import spark.implicits._

    val bundleCsv =
      """author:;XYODA
        |purpose:;Save the galaxy
        |
        |***read_this_summer
        |War and Peace
        |Crime and Punishment
        |
        |**places_to_go
        |all
        |place;distance;ETA;is_hot
        |text;km;datetime;onoff
        |home;0;2020-08-04 08:00;1
        |work;1;2020-08-04 09:00;0
        |beach;2;2020-08-04 17:00;TRUE
        |wonderland;-;-;FaLsE
        |
        |**spelling_numbers
        |all
        |number;spelling
        |-;text
        |1;one
        |6;six
        |42;forty-two
        |""".stripMargin

    println("=== 1. read CSV -> TableBundle ===")
    val bundle = CsvReader.readBundleFromString(spark, bundleCsv)
    bundle.iterator.foreach(t => println(s"  $t  rows=${t.df.count()}"))

    println("\n=== 2. metadata-preserving query + provenance ===")
    val places = bundle.unique("places_to_go")
    val hot = places
      .filter(col("is_hot") === true)
      .groupByAgg(Seq("is_hot"), Seq(avg(col("distance")).as("avg_km")))
    hot.df.show()
    println(hot.meta.origin.render())

    println("=== 3. unit conversion (vectorized affine) ===")
    val km = new BuiltinUnitConverter(extra = Map("km" -> ("m", graft.units.Affine(1000))))
    val inMeters = places.convertColumnUnits("distance", Some("m"), km)
    println(s"  units now: ${inMeters.units.mkString(", ")}")

    println("\n=== 4. write: CSV block / JSON / XLSX ===")
    print(CsvWriter.tableToCsvString(inMeters))
    println(JsonIo.tableToJsonString(bundle.unique("spelling_numbers")))
    val xlsxPath = java.nio.file.Files.createTempDirectory("demo").resolve("out.xlsx")
    Xlsx.write(bundle.tables, xlsxPath)
    println(s"  xlsx written + re-read: ${Xlsx.readBundle(spark, xlsxPath).size} tables")

    println("\n=== 5. SQL over the bundle + custom expressions ===")
    bundle.createTempViews()
    GraftExtensions.register(spark)
    spark.sql(
      """SELECT place, graft_cosine(array(distance, 1.0D), array(1.0D, 1.0D)) AS dir_sim
        |FROM places_to_go WHERE distance IS NOT NULL""".stripMargin).show()

    println("=== 6. LLM-pipeline ops: near-dup removal + similarity ===")
    val docs = Seq(
      (1L, "spark shuffles partitions across the cluster"),
      (2L, "spark shuffles partitions across the cluster"),  // dup
      (3L, "completely different text about cooking pasta")
    ).toDF("doc_id", "text")
    val deduped = graft.functions.Dedup.dedupNearDuplicates(
      docs, "doc_id", "text", threshold = 0.5, shingleSize = 2, numHashes = 32, bands = 16)
    println(s"  3 docs -> ${deduped.count()} after near-dup removal")

    println("\n=== 7. as-of join + resample (time series) ===")
    val obs = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:10:00"), 1.0),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 02:45:00"), 2.0))
      .toDF("user_id", "ts", "value")
    graft.operators.Resample.resampleLocf(obs, "user_id", "ts", "value", 3600L).show()

    println("=== 8. DataSource V2: spark.read.format(\"startable\") ===")
    val srcDir = java.nio.file.Files.createTempDirectory("demo_src")
    java.nio.file.Files.writeString(srcDir.resolve("inputs.csv"), bundleCsv)
    val viaSource = spark.read.format("startable")
      .option("table", "places_to_go").load(srcDir.toString)
    println(s"  schema: ${viaSource.schema.map(f =>
      s"${f.name}[${f.metadata.getString(StarTable.UnitMetaKey)}]").mkString(", ")}")

    println("\n=== 9. decontamination + deterministic split ===")
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "report: the quick brown fox jumps over everything"),
      (2L, "unrelated database shuffle partition text"))
      .toDF("doc_id", "text")
    val cleanCorpus = graft.functions.Decontamination
      .decontaminate(corpus, bench, "doc_id", "text", n = 4)
    println(s"  2 docs -> ${cleanCorpus.count()} after benchmark decontamination")
    val trainRows = graft.functions.Decontamination
      .hashSplit(corpus, "doc_id", 0, 90).count()
    println(s"  deterministic 90% train split: $trainRows of 2")

    println("\n=== 10. selection & ranking (round-5 operators) ===")
    val pool = (0L until 30L).map(i =>
      (i, s"sample document number $i with shared words ${"w" * (i % 5).toInt}",
        (i % 9) * 10 + 5)).toDF("doc_id", "text", "n_tokens")
    val sampled = graft.functions.Mixing.prioritySample(
      pool, "doc_id", "n_tokens", k = 5)
    println(s"  priority sample (DLT, unbiased w_hat): " +
      sampled.collect().map(r => s"${r.getLong(0)}->${r.getDouble(2)}").mkString(", "))
    val ranked = graft.functions.Windowing.globalNtile(
      pool.withColumn("g", col("doc_id") % 2), Seq("g"),
      Seq("n_tokens", "doc_id"), 3)
    println(s"  globalNtile buckets (no per-group sort task): " +
      ranked.groupBy("bucket").count().orderBy("bucket").collect()
        .map(r => s"b${r.getInt(0)}=${r.getLong(1)}").mkString(" "))
    val pr = graft.functions.Graph.pageRank(
      Seq((1L, 2L), (2L, 1L), (3L, 1L), (3L, 2L)).toDF("src", "dst"),
      "src", "dst", iterations = 4)
    println(s"  integer-exact pageRank: " + pr.orderBy(col("rank").desc)
      .collect().map(r => s"${r.getLong(0)}:${r.getLong(1)}").mkString(" "))
    pr.unpersist()

    println("\n=== 11. partitioned dataset lifecycle: write -> prune -> " +
      "backfill -> compact ===")
    val dsDir = java.nio.file.Files.createTempDirectory("demo_pds").toString
    val docsT = graft.model.StarTable.fromDataFrame(
      Seq(("en", 1.0), ("en", 2.0), ("de", 3.0)).toDF("lang", "score"),
      "docs", units = Map("lang" -> "text"))
    graft.io.CsvWriter.writePartitionedDataset(docsT, dsDir, Seq("lang"))
    graft.sources.StarTableSource.resetPushdownCounters()
    val en = spark.read.format("startable").load(dsDir)
      .filter(col("lang") === "en")
    println(s"  lang=en rows: ${en.count()} (pruned " +
      s"${graft.sources.StarTableSource.filesPruned.sum()} other-slice files)")
    graft.io.CsvWriter.writePartitionedDataset(
      graft.model.StarTable.fromDataFrame(
        Seq(("en", 9.0)).toDF("lang", "score"), "docs",
        units = Map("lang" -> "text")),
      dsDir, Seq("lang"), overwriteSlices = true)
    val rep = graft.operators.Maintenance.compactStarDataset(spark, dsDir)
    println(s"  after en-slice backfill + compaction: " +
      spark.read.format("startable").load(dsDir).orderBy("lang")
        .collect().map(r => s"${r.getString(1)}:${r.getDouble(0)}").mkString(" ") +
      s"  (files ${rep.filesBefore} -> ${rep.filesAfter})")

    println("\n=== 12. the physical plan Catalyst builds ===")
    hot.df.explain("formatted")

    spark.stop()
  }
}
