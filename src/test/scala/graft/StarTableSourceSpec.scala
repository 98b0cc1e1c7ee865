package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** DataSource V2 connector: spark.read.format("startable"). */
class StarTableSourceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val fileA: String =
    """**places
      |all
      |place;distance;ETA;is_hot
      |text;km;datetime;onoff
      |home;0;2020-08-04 08:00;1
      |work;1;2020-08-04 09:00;0
      |
      |**other
      |all
      |x
      |-
      |42
      |""".stripMargin
  val fileB: String =
    """**places
      |all
      |place;distance;ETA;is_hot
      |text;km;datetime;onoff
      |beach;2;2020-08-04 17:00;1
      |dunes;-;-;0
      |""".stripMargin

  def writeDir(): String = {
    val dir = Files.createTempDirectory("graft_dsv2")
    Files.writeString(dir.resolve("a.csv"), fileA)
    Files.writeString(dir.resolve("b.csv"), fileB)
    dir.toString
  }

  test("reads a directory of StarTable files, one partition per file") {
    val dir = writeDir()
    val df = spark.read.format("startable").option("table", "places").load(dir)
    assert(df.schema.fieldNames.toSeq == Seq("place", "distance", "ETA", "is_hot"))
    assert(df.schema("distance").metadata.getString("startable.unit") == "km")
    assert(df.schema("is_hot").dataType == org.apache.spark.sql.types.BooleanType)
    assert(df.count() == 4)
    assert(df.rdd.getNumPartitions == 2)
    val hot = df.filter(col("is_hot")).select("place")
      .collect().map(_.getString(0)).toSet
    assert(hot == Set("home", "beach"))
    // missing values surface as nulls
    assert(df.filter(col("distance").isNull).count() == 1)
  }

  test("byte-range splits: a huge single-table file parses across many " +
    "partitions, value-identical to the whole-file read") {
    // 5000 rows (~200 KB) with 4 KB splits → ~50 byte ranges whose
    // boundaries fall mid-line; the Hadoop discard-first-line convention
    // must hand every row to exactly one reader.
    val dir = Files.createTempDirectory("graft_split")
    val sb = new StringBuilder("**big;\nall\nplace;distance;ETA;is_hot\n" +
      "text;km;datetime;onoff\n")
    (0 until 5000).foreach { i =>
      sb.append(s"p$i;${i % 97}.5;2020-08-04 ${8 + i % 12}:00;${i % 2}\n")
    }
    Files.writeString(dir.resolve("big.csv"), sb.toString)
    val whole = spark.read.format("startable").load(s"$dir/big.csv")
    val split = spark.read.format("startable")
      .option("assumeSingleTable", "true").option("maxSplitBytes", "4096")
      .load(s"$dir/big.csv")
    assert(split.rdd.getNumPartitions > 10,
      s"expected many byte-range partitions, got ${split.rdd.getNumPartitions}")
    assert(whole.rdd.getNumPartitions == 1)
    val a = whole.collect().map(_.toSeq).toSet
    val b = split.collect().map(_.toSeq).toSet
    assert(a.size == 5000 && b == a,
      s"split read diverged: whole=${a.size} split=${b.size}")
    // pushdown still fires at the parse level inside split readers
    graft.sources.StarTableSource.resetPushdownCounters()
    val filtered = split.filter(col("distance") > 50.0)
    assert(filtered.count() == whole.filter(col("distance") > 50.0).count())
    assert(graft.sources.StarTableSource.rowsFiltered.sum() > 0,
      "split readers never evaluated the pushed filter")
  }

  test("byte-range splits over a CRLF file are value-identical to the " +
    "whole-file read (no trailing \\r in the last cell)") {
    val dir = Files.createTempDirectory("graft_split_crlf")
    val sb = new StringBuilder("**big;\r\nall\r\nplace;distance;ETA;is_hot\r\n" +
      "text;km;datetime;onoff\r\n")
    (0 until 1000).foreach { i =>
      sb.append(s"p$i;${i % 97}.5;2020-08-04 ${8 + i % 12}:00;${i % 2}\r\n")
    }
    Files.writeString(dir.resolve("crlf.csv"), sb.toString)
    val whole = spark.read.format("startable").load(s"$dir/crlf.csv")
    val split = spark.read.format("startable")
      .option("assumeSingleTable", "true").option("maxSplitBytes", "2048")
      .load(s"$dir/crlf.csv")
    assert(split.rdd.getNumPartitions > 5)
    val a = whole.collect().map(_.toSeq).toSet
    val b = split.collect().map(_.toSeq).toSet
    assert(a.size == 1000 && b == a,
      s"CRLF split read diverged: whole=${a.size} split=${b.size}")
    // the onoff column rode at line end before \r\n — a kept \r would have
    // broken the boolean parse
    assert(split.filter(col("is_hot")).count() == 500)
  }

  test("byte-range splits stop at a block boundary; unsplittable layouts " +
    "fall back to the whole-file reader") {
    val dir = Files.createTempDirectory("graft_split2")
    // a second block after the blank line: assumeSingleTable's planner
    // DETECTS the violation (head scan) and falls back to the
    // block-accurate whole-file reader — one partition, no leaked rows
    val sb = new StringBuilder("**big;\nall\nplace;distance;ETA;is_hot\n" +
      "text;km;datetime;onoff\n")
    (0 until 2000).foreach { i =>
      sb.append(s"p$i;$i;2020-08-04 09:00;1\n")
    }
    sb.append("\n**other;\nall\nx\ntext\nrogue1\nrogue2\n")
    Files.writeString(dir.resolve("two.csv"), sb.toString)
    val split = spark.read.format("startable").option("table", "big")
      .option("assumeSingleTable", "true").option("maxSplitBytes", "2048")
      .load(s"$dir/two.csv")
    assert(split.rdd.getNumPartitions == 1,
      "detected multi-block file must fall back to the whole-file reader")
    assert(split.count() == 2000, "rows from the second block leaked in")
    assert(!split.select("place").collect().map(_.getString(0))
      .exists(_.startsWith("rogue")))
    // same violation hiding past the 64 KB head: the TAIL scan catches it
    val sb2 = new StringBuilder("**big;\nall\nplace;distance;ETA;is_hot\n" +
      "text;km;datetime;onoff\n")
    (0 until 6000).foreach { i =>
      sb2.append(s"p$i;$i;2020-08-04 09:00;1\n")
    }
    assert(sb2.length > 100000) // second block is beyond the head scan
    sb2.append("\n**other;\nall\nx\ntext\nrogue1\nrogue2\n")
    Files.writeString(dir.resolve("two_tail.csv"), sb2.toString)
    val split2 = spark.read.format("startable").option("table", "big")
      .option("assumeSingleTable", "true").option("maxSplitBytes", "2048")
      .load(s"$dir/two_tail.csv")
    assert(split2.rdd.getNumPartitions == 1,
      "tail-scan must detect a trailing second block")
    assert(split2.count() == 6000)
    // a CLEAN single-table file of the same size still splits
    val sb3 = new StringBuilder("**big;\nall\nplace;distance;ETA;is_hot\n" +
      "text;km;datetime;onoff\n")
    (0 until 6000).foreach { i =>
      sb3.append(s"p$i;$i;2020-08-04 09:00;1\n")
    }
    Files.writeString(dir.resolve("clean.csv"), sb3.toString)
    val split3 = spark.read.format("startable").option("table", "big")
      .option("assumeSingleTable", "true").option("maxSplitBytes", "2048")
      .load(s"$dir/clean.csv")
    assert(split3.rdd.getNumPartitions > 5,
      "clean single-table file must still byte-range split")
    assert(split3.count() == 6000)
    // transposed marker → no safe row split → single whole-file partition
    val names = (0 until 300).map(i => s"pl$i").mkString(";")
    val vals = (0 until 300).map(_.toString).mkString(";")
    Files.writeString(dir.resolve("t.csv"),
      s"**tr*;\nall\nplace;text;$names\ndistance;km;$vals\n")
    val t = spark.read.format("startable")
      .option("assumeSingleTable", "true").option("maxSplitBytes", "1024")
      .load(s"$dir/t.csv")
    assert(t.rdd.getNumPartitions == 1)
    assert(t.count() == 300)
  }

  test("column pruning reaches the scan (pushed into the parse)") {
    val dir = writeDir()
    val df = spark.read.format("startable").option("table", "places").load(dir)
      .select("place")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("place") && !plan.contains("distance"),
      s"pruning not visible in scan:\n$plan")
    assert(df.collect().map(_.getString(0)).toSet ==
      Set("home", "work", "beach", "dunes"))
  }

  test("predicate pushdown reaches the parse: PushedFilters + row skipping") {
    val dir = writeDir()
    graft.sources.StarTableSource.resetPushdownCounters()
    val df = spark.read.format("startable").option("table", "places").load(dir)
      .filter(col("distance") > 0.5 && col("place") =!= "dunes")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(distance,0.5)"),
      s"pushdown not visible in scan:\n$plan")
    assert(df.collect().map(_.getString(0)).toSet == Set("work", "beach"))
    // home (distance 0) and dunes (missing distance → null) never left the
    // parser; the residual Spark filter re-checked the survivors
    assert(graft.sources.StarTableSource.rowsFiltered.sum() >= 2,
      s"expected parse-level row skips, got ${graft.sources.StarTableSource.rowsFiltered.sum()}")
  }

  test("a block lacking the filtered column is skipped whole (no row iteration)") {
    val dir = Files.createTempDirectory("graft_dsv2_skip")
    Files.writeString(dir.resolve("a.csv"), fileA)
    // b.csv's places block has no `distance` column at all: a null-rejecting
    // predicate on distance can never hold there — the reader must skip the
    // block without materializing any of its rows
    Files.writeString(dir.resolve("b.csv"),
      """**places
        |all
        |place;ETA;is_hot
        |text;datetime;onoff
        |beach;2020-08-04 17:00;1
        |dunes;-;0
        |""".stripMargin)
    graft.sources.StarTableSource.resetPushdownCounters()
    val df = spark.read.format("startable").option("table", "places").load(dir.toString)
      .filter(col("distance") >= 0.0)
    assert(df.collect().map(_.getString(0)).toSet == Set("home", "work"))
    assert(graft.sources.StarTableSource.blocksSkipped.sum() == 1,
      s"expected 1 skipped block, got ${graft.sources.StarTableSource.blocksSkipped.sum()}")
    // without the predicate, the same read visits both blocks (null-padded)
    graft.sources.StarTableSource.resetPushdownCounters()
    val all = spark.read.format("startable").option("table", "places").load(dir.toString)
    assert(all.count() == 4)
    assert(graft.sources.StarTableSource.blocksSkipped.sum() == 0)
  }

  test("timestamp predicates push into the parse and filter exactly") {
    val dir = writeDir()
    graft.sources.StarTableSource.resetPushdownCounters()
    val df = spark.read.format("startable").option("table", "places").load(dir)
      .filter(col("ETA") > lit("2020-08-04 08:30").cast(
        org.apache.spark.sql.types.TimestampType))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThan(ETA"), s"timestamp filter not pushed:\n$plan")
    // work (09:00) and beach (17:00) pass; home (08:00) and dunes (null ETA)
    // are dropped at the parser
    assert(df.collect().map(_.getString(0)).toSet == Set("work", "beach"))
    assert(graft.sources.StarTableSource.rowsFiltered.sum() >= 2)
  }

  test("IsNull predicates do NOT skip blocks lacking the column (null-padded rows match)") {
    val dir = Files.createTempDirectory("graft_dsv2_isnull")
    Files.writeString(dir.resolve("a.csv"), fileA)
    Files.writeString(dir.resolve("b.csv"),
      """**places
        |all
        |place;ETA;is_hot
        |text;datetime;onoff
        |beach;2020-08-04 17:00;1
        |""".stripMargin)
    val df = spark.read.format("startable").option("table", "places").load(dir.toString)
      .filter(col("distance").isNull)
    // beach's missing distance IS null after padding — it must survive
    assert(df.collect().map(_.getString(0)).toSet == Set("beach"))
  }

  test("defaults to the first table; explicit name selects the right block") {
    val dir = writeDir()
    val first = spark.read.format("startable").load(s"$dir/a.csv")
    assert(first.schema.fieldNames.head == "place")
    val other = spark.read.format("startable").option("table", "other")
      .load(s"$dir/a.csv")
    assert(other.schema.fieldNames.toSeq == Seq("x"))
    assert(other.head().getDouble(0) == 42.0)
  }

  test("failFast surfaces malformed cells as task failures; default repairs") {
    val dir = Files.createTempDirectory("graft_dsv2_ff")
    Files.writeString(dir.resolve("bad.csv"),
      """**t
        |all
        |a;b
        |text;kg
        |x;notanumber
        |y;2
        |""".stripMargin)
    val permissive = spark.read.format("startable").load(dir.toString)
    assert(permissive.count() == 2) // "notanumber" auto-fixed to missing
    assert(permissive.filter(col("b").isNull).count() == 1)
    val strict = spark.read.format("startable")
      .option("failFast", "true").load(dir.toString)
    val e = intercept[org.apache.spark.SparkException] { strict.count() }
    assert(e.getMessage.contains("Stopped parsing") ||
      Option(e.getCause).exists(_.getMessage.contains("Stopped parsing")))
  }

  test("multiple load paths resolve through the paths JSON option") {
    val dir = writeDir()
    val df = spark.read.format("startable").option("table", "places")
      .load(s"$dir/a.csv", s"$dir/b.csv")
    assert(df.count() == 4)
    assert(df.rdd.getNumPartitions == 2)
  }

  test("SQL access via USING startable") {
    val dir = writeDir()
    spark.sql(s"""
      CREATE OR REPLACE TEMPORARY VIEW star_places
      USING startable
      OPTIONS (path '$dir', `table` 'places')""")
    val n = spark.sql("SELECT count(*) FROM star_places WHERE is_hot").head().getLong(0)
    assert(n == 2)
  }

  test("schema drift in a second file: failFast raises naming file and diff") {
    val dir = Files.createTempDirectory("graft_dsv2_drift")
    Files.writeString(dir.resolve("a.csv"), fileA)
    // drifted: column renamed (speed vs distance) and ETA unit changed
    Files.writeString(dir.resolve("b.csv"),
      """**places
        |all
        |place;speed;ETA;is_hot
        |text;km;text;onoff
        |beach;2;later;1
        |""".stripMargin)
    val ex = intercept[org.apache.spark.SparkException] {
      spark.read.format("startable").option("table", "places")
        .option("failFast", "true").load(dir.toString).collect()
    }
    val msg = ex.getCause match { case null => ex.getMessage; case c => c.getMessage }
    assert(msg.contains("schema drift") && msg.contains("b.csv"), msg)
    assert(msg.contains("distance") && msg.contains("speed"), msg)
    assert(msg.contains("ETA"), msg) // unit mismatch surfaced too
  }

  test("schema drift under permissive read warns and null-pads by name") {
    val dir = Files.createTempDirectory("graft_dsv2_drift2")
    Files.writeString(dir.resolve("a.csv"), fileA)
    Files.writeString(dir.resolve("b.csv"),
      """**places
        |all
        |place;speed;ETA;is_hot
        |text;km;datetime;onoff
        |beach;2;2020-08-04 17:00;1
        |""".stripMargin)
    val df = spark.read.format("startable").option("table", "places")
      .load(dir.toString)
    val rows = df.collect()
    assert(rows.length == 3)
    // the drifted file's row has a null distance (missing column null-padded)
    val beach = rows.find(_.getString(0) == "beach").get
    assert(beach.isNullAt(df.schema.fieldIndex("distance")))
  }

  test("matching files produce no drift error under failFast") {
    val dir = writeDir()
    val df = spark.read.format("startable").option("table", "places")
      .option("failFast", "true").load(dir)
    assert(df.count() == 4) // both files parse clean
  }

  test("string pushdown orders by UTF-8 bytes, matching Spark (supplementary chars)") {
    // U+1F600 (a supplementary character) sits BELOW U+E000 in UTF-16
    // code-unit order (its surrogates are U+D83D/U+DE00) but ABOVE it in
    // UTF-8 byte order, which is how Spark compares UTF8String. A pushed
    // verdict computed with String.compareTo would wrongly judge \uD83D\uDE00 < \uE000
    // and drop the row at the parse — unrecoverable by the residual filter.
    val dir = Files.createTempDirectory("graft_dsv2_utf8")
    Files.writeString(dir.resolve("a.csv"),
      "**places\nall\nplace;distance\ntext;km\n😀;1\nzz;2\n")
    val df = spark.read.format("startable").option("table", "places")
      .load(dir.toString)
      .filter(col("place") > "\uE000")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(place"),
      s"pushdown not visible in scan:\n$plan")
    assert(df.collect().map(_.getString(0)).toSet == Set("😀"),
      "supplementary-character row was dropped by a UTF-16-ordered pushed filter")
    // and the same predicate WITHOUT pushdown agrees (Spark-side truth)
    val truth = spark.read.format("startable").option("table", "places")
      .load(dir.toString).collect()
      .filter(r => org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(0))
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString("\uE000")) > 0)
    assert(truth.map(_.getString(0)).toSet == Set("😀"))
  }

  test("randomized pushdown property: pushed </>/= verdicts agree with " +
    "Spark residual evaluation over supplementary-plane strings") {
    // Fuzz the UTF-8-vs-UTF-16 ordering fix: random strings drawn from a
    // pool straddling the disagreement region (ASCII, U+E000..U+FFFF
    // private-use/BMP-top, and supplementary plane), random comparison
    // pivots from the same pool, each operator checked pushed-vs-residual.
    val rnd = new scala.util.Random(20260814)
    val pool: Seq[String] = Seq("a", "zz", "é", "", "x",
      "�", "￿", "😀", "😀a", "🚀", "𐀀", "k",
      "k😀", "")
    def randStr(): String =
      (0 until (1 + rnd.nextInt(3))).map(_ => pool(rnd.nextInt(pool.size)))
        .mkString
    val values = (0 until 40).map(_ => randStr()).distinct
      .filter(_.nonEmpty)
    val dir = Files.createTempDirectory("graft_dsv2_fuzz")
    Files.writeString(dir.resolve("a.csv"),
      "**places\nall\nplace;distance\ntext;km\n" +
        values.zipWithIndex.map { case (v, i) => s"$v;$i" }.mkString("\n") +
        "\n")
    val base = spark.read.format("startable").option("table", "places")
      .load(dir.toString)
    def utf8 = org.apache.spark.unsafe.types.UTF8String.fromString _
    (0 until 12).foreach { _ =>
      val pivot = randStr()
      val preds = Seq[(org.apache.spark.sql.Column, Int => Boolean)](
        (col("place") > pivot, _ > 0),
        (col("place") < pivot, _ < 0),
        (col("place") >= pivot, _ >= 0),
        (col("place") <= pivot, _ <= 0),
        (col("place") === pivot, _ == 0))
      preds.foreach { case (pred, verdict) =>
        val got = base.filter(pred).collect().map(_.getString(0)).toSet
        val want = values.filter(v =>
          verdict(utf8(v).compareTo(utf8(pivot)))).toSet
        assert(got == want,
          s"pivot=${pivot.codePoints().toArray.mkString("[", ",", "]")} " +
            s"pred=$pred: pushed=$got spark-order=$want")
      }
    }
  }

  // ---------------------------------------------------------- write path ---

  test("write path round-trips through the connector reader") {
    val src = writeDir()
    val df = spark.read.format("startable").option("table", "places").load(src)
    val out = Files.createTempDirectory("graft_dsv2_w").toString
    df.repartition(3).write.format("startable")
      .option("table", "places").mode("overwrite").save(out)
    // one merged StarTable CSV appears
    assert(new java.io.File(s"$out/places.csv").isFile)
    val back = spark.read.format("startable").option("table", "places")
      .load(s"$out/places.csv")
    // values round-trip as a multiset (part order is partition order)
    assert(back.collect().map(_.toSeq).toSet == df.collect().map(_.toSeq).toSet)
    // units survive via StructField metadata
    val units = back.schema.fields.map(f =>
      f.metadata.getString(graft.model.StarTable.UnitMetaKey))
    assert(units.toSeq == Seq("text", "km", "datetime", "onoff"))
  }

  test("write refuses an existing target without overwrite, and non-scalars") {
    val src = writeDir()
    val df = spark.read.format("startable").option("table", "places").load(src)
    val out = Files.createTempDirectory("graft_dsv2_w2").toString
    df.write.format("startable").option("table", "places")
      .mode("overwrite").save(out)
    val e = intercept[Exception] {
      df.write.format("startable").option("table", "places")
        .mode("append").save(out)
    }
    assert(e.getMessage != null)
    val bad = df.withColumn("arr", array(lit(1.0), lit(2.0)))
    val e2 = intercept[Exception] {
      bad.write.format("startable").mode("overwrite")
        .save(Files.createTempDirectory("graft_dsv2_w3").toString)
    }
    assert(e2.getMessage.contains("non-scalar") ||
      (e2.getCause != null && e2.getCause.getMessage.contains("non-scalar")))
  }

  test("write output is byte-compatible with the driver-side writer's layout") {
    val src = writeDir()
    val df = spark.read.format("startable").option("table", "places").load(src)
    val out = Files.createTempDirectory("graft_dsv2_w4").toString
    df.coalesce(1).orderBy(col("place")).write.format("startable")
      .option("table", "places").mode("overwrite").save(out)
    val txt = Files.readString(java.nio.file.Paths.get(s"$out/places.csv"))
    val lines = txt.split("\n", -1)
    assert(lines(0) == "**places;")
    assert(lines(1) == "all")
    assert(lines(2) == "place;distance;ETA;is_hot")
    assert(lines(3) == "text;km;datetime;onoff")
    // na sealing + onoff 0/1 + python-style floats in the data lines
    assert(lines.exists(_ == "dunes;-;-;0"), s"got:\n$txt")
    assert(lines.exists(_.startsWith("home;0.0;2020-08-04 08:00")))
  }

  test("schema inference streams the header: a 3 GB sparse file infers " +
    "instantly (a whole-file read would hard-fail past the 2 GB array cap)") {
    val dir = Files.createTempDirectory("graft_huge_infer")
    val f = dir.resolve("huge.csv").toFile
    val raf = new java.io.RandomAccessFile(f, "rw")
    raf.write(("**big;\nall\nplace;distance;ETA;is_hot\n" +
      "text;km;datetime;onoff\n").getBytes("UTF-8"))
    // sparse tail: zero disk cost, but any full-file read path would
    // allocate >2 GB (hard JVM failure) or chase a newline-less 3 GB line
    raf.setLength(3L * 1024 * 1024 * 1024)
    raf.close()
    val t0 = System.nanoTime()
    val schema = spark.read.format("startable").load(f.toString).schema
    assert((System.nanoTime() - t0) / 1e9 < 30)
    assert(schema.fieldNames.toSeq == Seq("place", "distance", "ETA", "is_hot"))
    assert(schema("distance").metadata.getString("startable.unit") == "km")
    f.delete()
  }

  test("header-only inference skips non-matching blocks; transposed " +
    "layouts fall back to the full parse") {
    val dir = Files.createTempDirectory("graft_hdr")
    Files.writeString(dir.resolve("mixed.csv"),
      """author: tester;
        |***include;
        |other.csv
        |
        |**first
        |all
        |a;b
        |-;-
        |1;2
        |
        |**wanted
        |all
        |x;y;z
        |text;km;onoff
        |p;1.5;1
        |""".stripMargin)
    val df = spark.read.format("startable").option("table", "wanted")
      .load(s"$dir/mixed.csv")
    assert(df.schema.fieldNames.toSeq == Seq("x", "y", "z"))
    assert(df.count() == 1)
    // transposed: the streaming header scan refuses (None) and the full
    // block parse supplies the schema
    Files.writeString(dir.resolve("trans.csv"),
      """**tt*;
        |all
        |place;text;home;work
        |distance;km;0.0;1.0
        |""".stripMargin)
    val tdf = spark.read.format("startable").option("table", "tt")
      .load(s"$dir/trans.csv")
    assert(tdf.schema.fieldNames.toSeq == Seq("place", "distance"))
    assert(tdf.count() == 2)
  }

  test("hive-partitioned dataset: lossless round trip, directory pruning " +
    "from pushed partition filters, null and escaped partition values") {
    import spark.implicits._
    val df = Seq(("A", 1.0, true), ("A", 2.0, false), ("B:x", 3.0, true),
      (null.asInstanceOf[String], 4.0, false))
      .toDF("grp", "x", "ok")
    val t = graft.model.StarTable.fromDataFrame(df, "parts",
      units = Map("grp" -> "text"))
    val out = Files.createTempDirectory("graft_pds").toString
    graft.io.CsvWriter.writePartitionedDataset(t, out, partitionBy = Seq("grp"))
    assert(Files.exists(java.nio.file.Paths.get(out, "_startable_dataset.json")))
    val back = spark.read.format("startable").load(out)
    // data columns first, partition columns last; units survive
    assert(back.schema.fieldNames.toSeq == Seq("x", "ok", "grp"))
    assert(back.schema("grp").metadata.getString("startable.unit") == "text")
    assert(back.schema("ok").dataType == org.apache.spark.sql.types.BooleanType)
    val got = back.select("grp", "x", "ok").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getBoolean(2))).toSet
    assert(got == Set(("A", 1.0, true), ("A", 2.0, false), ("B:x", 3.0, true),
      (null, 4.0, false)), s"got $got")
    // partition pruning: a filter on grp never opens the other slices
    graft.sources.StarTableSource.resetPushdownCounters()
    val a = back.filter(col("grp") === "A")
    assert(a.count() == 2)
    assert(graft.sources.StarTableSource.filesPruned.sum() +
      graft.sources.StarTableSource.dirsPruned.sum() > 0,
      "partition filter pruned no files")
    assert(a.queryExecution.executedPlan.toString.contains("PartitionFilters"),
      a.queryExecution.executedPlan.toString)
    // null partition value restores as null (default-partition marker)
    assert(back.filter(col("grp").isNull).select("x")
      .collect().map(_.getDouble(0)).toSeq == Seq(4.0))
    // mixed partition + data filter stays correct (data part is residual)
    assert(back.filter(col("grp") === "A" && col("x") > 1.5).count() == 1)
    // the pruned slice is broadcast-sized in statistics
    val est = a.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(est > 0 && est < 100000, s"pruned-slice estimate: $est")
  }

  test("multi-column partitioning: nested col=value directories, pruning " +
    "on any level, numeric partition values typed by their unit") {
    import spark.implicits._
    val df = (0 until 40).map(i =>
      (s"s${i % 2}", (i % 4).toDouble, i.toDouble)).toDF("src", "shard", "x")
    val t = graft.model.StarTable.fromDataFrame(df, "nested",
      units = Map("src" -> "text"))
    val out = Files.createTempDirectory("graft_pds2").toString
    graft.io.CsvWriter.writePartitionedDataset(t, out,
      partitionBy = Seq("src", "shard"), numFiles = 4)
    val back = spark.read.format("startable").load(out)
    assert(back.schema.fieldNames.toSeq == Seq("x", "src", "shard"))
    // shard carries the default number unit → DoubleType after the path trip
    assert(back.schema("shard").dataType == org.apache.spark.sql.types.DoubleType)
    assert(back.count() == 40)
    // pruning on the INNER level alone
    graft.sources.StarTableSource.resetPushdownCounters()
    val one = back.filter(col("shard") === 3.0)
    assert(one.count() == 10)
    assert(graft.sources.StarTableSource.filesPruned.sum() +
      graft.sources.StarTableSource.dirsPruned.sum() > 0)
    // pruning on both levels composes; values come back right
    val both = back.filter(col("src") === "s1" && col("shard") === 1.0)
    assert(both.select(sum(col("x"))).head.getDouble(0) ==
      (0 until 40).filter(i => i % 2 == 1 && i % 4 == 1).map(_.toDouble).sum)
  }

  test("overwriteSlices backfill replaces only the incoming slices and " +
    "refuses schema drift") {
    import spark.implicits._
    val full = Seq(("a", 1.0), ("a", 2.0), ("b", 3.0)).toDF("grp", "x")
    val out = Files.createTempDirectory("graft_bf").toString
    def table(df: org.apache.spark.sql.DataFrame) =
      graft.model.StarTable.fromDataFrame(df, "bf", units = Map("grp" -> "text"))
    graft.io.CsvWriter.writePartitionedDataset(table(full), out, Seq("grp"))
    // backfill slice "a" with different rows; slice "b" must survive
    val patch = Seq(("a", 9.0)).toDF("grp", "x")
    graft.io.CsvWriter.writePartitionedDataset(table(patch), out, Seq("grp"),
      overwriteSlices = true)
    val got = spark.read.format("startable").load(out)
      .select("grp", "x").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(got == Set(("a", 9.0), ("b", 3.0)), s"got $got")
    // drifted schema (extra column) refuses before touching anything
    val drifted = Seq(("a", 1.0, 5L)).toDF("grp", "x", "y")
    val e = intercept[IllegalArgumentException] {
      graft.io.CsvWriter.writePartitionedDataset(table(drifted), out,
        Seq("grp"), overwriteSlices = true)
    }
    assert(e.getMessage.contains("schema drift"))
    // backfill into a non-dataset directory refuses
    val e2 = intercept[IllegalArgumentException] {
      graft.io.CsvWriter.writePartitionedDataset(table(patch),
        Files.createTempDirectory("graft_bf2").toString, Seq("grp"),
        overwriteSlices = true)
    }
    assert(e2.getMessage.contains("existing"))
  }

  test("streamPartitionedDataset: checkpointed micro-batches land " +
    "exactly-once in slices across a restart; the connector reads and " +
    "prunes them") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_spds")
    val srcDir = base.resolve("src"); Files.createDirectory(srcDir)
    val outDir = base.resolve("out").toString
    val ckpt = base.resolve("ckpt").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("lang",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("score",
        org.apache.spark.sql.types.DoubleType)))
    def writeBatch(name: String, rows: Seq[(String, Double)]): Unit =
      rows.toDF("lang", "score").coalesce(1)
        .write.mode("overwrite").parquet(srcDir.resolve(name).toString)
    def startQuery() = graft.io.CsvWriter.streamPartitionedDataset(
      graft.model.StarTable.fromDataFrame(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
          .parquet(srcDir.toString + "/*"),
        "sdocs", units = Map("lang" -> "text")),
      outDir, Seq("lang"), ckpt)

    writeBatch("b1", Seq(("en", 1.0), ("de", 2.0)))
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    writeBatch("b2", Seq(("en", 3.0), ("fr", 4.0)))
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()

    val back = spark.read.format("startable").load(outDir)
    val got = back.select("lang", "score").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(got == Set(("en", 1.0), ("de", 2.0), ("en", 3.0), ("fr", 4.0)),
      s"exactly-once across restart violated: $got")
    graft.sources.StarTableSource.resetPushdownCounters()
    assert(back.filter(col("lang") === "en").count() == 2)
    assert(graft.sources.StarTableSource.filesPruned.sum() +
      graft.sources.StarTableSource.dirsPruned.sum() > 0)
    // compaction after streaming: small per-batch files merge per slice
    val rep = graft.operators.Maintenance.compactStarDataset(spark, outDir)
    assert(rep.filesAfter == 3 && rep.bytesBefore == rep.bytesAfter, rep.toString)
    assert(spark.read.format("startable").load(outDir)
      .select("lang", "score").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSet == got)
  }

  test("datetime partition values survive the escaped path round trip " +
    "and prune as timestamps") {
    import spark.implicits._
    val df = Seq(("2020-08-04 08:00:00", 1.0), ("2020-08-04 09:00:00", 2.0))
      .toDF("t", "x")
      .select(col("t").cast(org.apache.spark.sql.types.TimestampType).as("t"),
        col("x"))
    val t = graft.model.StarTable.fromDataFrame(df, "byhour",
      units = Map("t" -> "datetime"))
    val out = Files.createTempDirectory("graft_pds_ts").toString
    graft.io.CsvWriter.writePartitionedDataset(t, out, Seq("t"))
    val back = spark.read.format("startable").load(out)
    assert(back.schema("t").dataType ==
      org.apache.spark.sql.types.TimestampType)
    graft.sources.StarTableSource.resetPushdownCounters()
    val one = back.filter(col("t") ===
      lit("2020-08-04 08:00:00").cast(org.apache.spark.sql.types.TimestampType))
    assert(one.select("x").collect().map(_.getDouble(0)).toSeq == Seq(1.0))
    assert(graft.sources.StarTableSource.filesPruned.sum() +
      graft.sources.StarTableSource.dirsPruned.sum() > 0,
      "timestamp partition filter pruned nothing")
  }

  test("limit pushdown bounds split-reader input consumption") {
    val dir = Files.createTempDirectory("graft_limit")
    val sb = new StringBuilder("**big;\nall\nplace;distance;ETA;is_hot\n" +
      "text;km;datetime;onoff\n")
    (0 until 5000).foreach { i =>
      sb.append(s"p$i;${i % 97}.5;2020-08-04 ${8 + i % 12}:00;${i % 2}\n")
    }
    Files.writeString(dir.resolve("big.csv"), sb.toString)
    val df = spark.read.format("startable")
      .option("assumeSingleTable", "true").option("maxSplitBytes", "4096")
      .load(s"$dir/big.csv")
    val limited = df.limit(7)
    // the pushed limit is visible in the scan description
    assert(limited.queryExecution.executedPlan.toString.contains("PushedLimit: 7"),
      limited.queryExecution.executedPlan.toString)
    graft.sources.StarTableSource.resetPushdownCounters()
    val rows = limited.collect()
    assert(rows.length == 7)
    // a capped split reader stops CONSUMING lines at the limit: collecting
    // 7 of 5000 rows must touch a small fraction of the file (CollectLimit
    // starts with one partition; each launched reader reads ≤ limit lines
    // + its boundary-discard line)
    val lines = graft.sources.StarTableSource.linesParsed.sum()
    assert(lines < 500, s"limit(7) consumed $lines of 5000 lines")
    // a filtered plan keeps the limit ABOVE the residual filter — never
    // pushed into the scan, so filtering semantics are untouched
    val filtered = df.filter(col("distance") > 50.0).limit(3)
    assert(!filtered.queryExecution.executedPlan.toString.contains("PushedLimit"),
      "limit must not push through a residual filter")
    assert(filtered.collect().length == 3)
  }

  test("dataset sidecar records the separator: a non-default-sep dataset " +
    "reads back without options (reader option still wins)") {
    import spark.implicits._
    val df = Seq(("a", "x;y", 1.0), ("b", "u,v", 2.0)).toDF("grp", "txt", "x")
    val t = graft.model.StarTable.fromDataFrame(df, "seps",
      units = Map("grp" -> "text", "txt" -> "text"))
    val out = Files.createTempDirectory("graft_pds_sep").toString
    // ',' would collide with the txt cells' commas if sep were guessed ';'
    graft.io.CsvWriter.writePartitionedDataset(t, out, Seq("grp"), sep = "|")
    val back = spark.read.format("startable").load(out) // NO sep option
    val got = back.select("grp", "txt", "x").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    assert(got == Set(("a", "x;y", 1.0), ("b", "u,v", 2.0)), s"got $got")
    // an explicit (wrong) option overrides the sidecar — caller's choice
    val forced = spark.read.format("startable").option("sep", ";").load(out)
    assert(forced.select("x").collect().forall(_.isNullAt(0)),
      "explicit sep option must win over the sidecar default")
  }

  test("maxSplitBytes must be positive; a tiny value cannot plan " +
    "unbounded partitions per slice") {
    import spark.implicits._
    val t = graft.model.StarTable.fromDataFrame(
      Seq(("a", 1.0), ("a", 2.0)).toDF("grp", "x"), "caps",
      units = Map("grp" -> "text"))
    val out = Files.createTempDirectory("graft_pds_cap").toString
    graft.io.CsvWriter.writePartitionedDataset(t, out, Seq("grp"))
    val e = intercept[IllegalArgumentException] {
      spark.read.format("startable").option("maxSplitBytes", "0").load(out)
        .count()
    }
    assert(e.getMessage.contains("maxSplitBytes"))
    // a 1-byte maxSplitBytes plans a CAPPED number of splits per file
    val tiny = spark.read.format("startable").option("maxSplitBytes", "1")
      .load(out)
    assert(tiny.rdd.getNumPartitions <= 20000, // ≤ 10000 per file × 2 slices
      s"per-file split cap missing: ${tiny.rdd.getNumPartitions}")
    assert(tiny.count() == 2)
  }

  test("partition hygiene: empty-string values and hidden-prefix " +
    "partition names are rejected loudly") {
    import spark.implicits._
    val bad = graft.model.StarTable.fromDataFrame(
      Seq(("", 1.0), ("b", 2.0)).toDF("grp", "x"), "badvals",
      units = Map("grp" -> "text"))
    val out = Files.createTempDirectory("graft_pds_empty").toString
    val e = intercept[Exception] {
      graft.io.CsvWriter.writePartitionedDataset(bad, out, Seq("grp"))
    }
    assert(e.getMessage != null && (e.getMessage.contains("empty-string")
        || e.getMessage.contains("GRAFT")
        || Option(e.getCause).exists(_.getMessage.contains("empty-string"))),
      s"expected an empty-string rejection, got: $e")
    val hidden = graft.model.StarTable.fromDataFrame(
      Seq(("a", 1.0)).toDF("_grp", "x"), "badname",
      units = Map("_grp" -> "text"))
    val e2 = intercept[IllegalArgumentException] {
      graft.io.CsvWriter.writePartitionedDataset(hidden,
        Files.createTempDirectory("graft_pds_hidden").toString, Seq("_grp"))
    }
    assert(e2.getMessage.contains("_grp"))
  }

  test("slice-level data skipping: per-slice min/max stats in the sidecar " +
    "skip whole files on NON-partition predicates; backfill refreshes them") {
    import spark.implicits._
    // day=d0 holds x in [0,9], d1 in [100,109], d2 in [200,209]
    val df = (0 until 30).map(i => (s"d${i / 10}", (i / 10) * 100 + i % 10.0,
      s"v$i")).toDF("day", "x", "tag")
    val t = graft.model.StarTable.fromDataFrame(df, "skipping",
      units = Map("day" -> "text", "tag" -> "text"))
    val out = Files.createTempDirectory("graft_pds_stats").toString
    graft.io.CsvWriter.writePartitionedDataset(t, out, Seq("day"), numFiles = 2)
    val back = spark.read.format("startable").load(out)
    // x > 150 can only hold in d2 — d0/d1 files skip UNOPENED
    graft.sources.StarTableSource.resetPushdownCounters()
    val hi = back.filter(col("x") > 150.0)
    assert(hi.count() === 10)
    assert(graft.sources.StarTableSource.filesSkippedByStats.sum() > 0,
      "no files were skipped by slice statistics")
    assert(graft.sources.StarTableSource.linesParsed.sum() <= 10 + 4,
      s"skipped slices were still parsed: " +
        s"${graft.sources.StarTableSource.linesParsed.sum()} lines")
    // string predicates skip too (UTF8String ordering)
    graft.sources.StarTableSource.resetPushdownCounters()
    assert(back.filter(col("tag") === "zzz").count() === 0)
    assert(graft.sources.StarTableSource.filesSkippedByStats.sum() > 0)
    // equality inside the range does NOT skip the holding slice
    assert(back.filter(col("x") === 205.0).count() === 1)
    // backfill rewrites d1 with shifted values; its stats entry refreshes,
    // d0/d2 keep theirs — the new range must be honored, not the stale one
    val patch = Seq(("d1", 500.0, "vnew")).toDF("day", "x", "tag")
    graft.io.CsvWriter.writePartitionedDataset(
      graft.model.StarTable.fromDataFrame(patch, "skipping",
        units = Map("day" -> "text", "tag" -> "text")),
      out, Seq("day"), overwriteSlices = true)
    val back2 = spark.read.format("startable").load(out)
    assert(back2.filter(col("x") > 300.0).select("tag")
      .collect().map(_.getString(0)).toSeq == Seq("vnew"))
    assert(back2.count() === 21)
    // a filter that contradicts EVERY slice reads nothing at all
    graft.sources.StarTableSource.resetPushdownCounters()
    assert(back2.filter(col("x") > 10000.0).count() === 0)
    assert(graft.sources.StarTableSource.linesParsed.sum() === 0,
      "all-slice contradiction still opened files")
  }

  test("partitioned datasets read VECTORIZED: ColumnarBatch output, " +
    "ColumnarToRow plan, value-identical to the row reader") {
    import spark.implicits._
    val df = (0 until 5000).map(i => (s"g${i % 3}", i.toDouble,
      s"t$i", i % 2 == 0)).toDF("grp", "x", "tag", "ok")
    val t = graft.model.StarTable.fromDataFrame(df, "vec",
      units = Map("grp" -> "text", "tag" -> "text"))
    val out = Files.createTempDirectory("graft_pds_vec").toString
    graft.io.CsvWriter.writePartitionedDataset(t, out, Seq("grp"), numFiles = 2)
    val colr = spark.read.format("startable").load(out)
    // the physical plan consumes batches through Spark's vectorized bridge
    val plan = colr.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"),
      s"vectorized read not planned:\n$plan")
    graft.sources.StarTableSource.resetPushdownCounters()
    val a = colr.orderBy("grp", "x").collect().map(_.toSeq)
    assert(graft.sources.StarTableSource.batchesProduced.sum() > 0,
      "no ColumnarBatch was produced")
    // row-reader reference: identical values, including nulls/partition
    // constants, under option(\"columnar\", \"false\")
    val rowr = spark.read.format("startable").option("columnar", "false")
      .load(out)
    assert(!rowr.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    graft.sources.StarTableSource.resetPushdownCounters()
    val b = rowr.orderBy("grp", "x").collect().map(_.toSeq)
    assert(graft.sources.StarTableSource.batchesProduced.sum() == 0)
    assert(a.length == 5000 && b.sameElements(a),
      "columnar and row reads diverged")
    // pushed filters still evaluate during the vectorized parse
    graft.sources.StarTableSource.resetPushdownCounters()
    assert(colr.filter(col("x") < 10.0 && col("ok")).count() == 5)
    assert(graft.sources.StarTableSource.rowsFiltered.sum() > 0)
    // a >4096-row slice spans multiple batches (collect, not count: a
    // partition-filtered COUNT is metadata-served and opens no batch)
    graft.sources.StarTableSource.resetPushdownCounters()
    assert(colr.filter(col("grp") === "g0").collect().length == 1667)
    assert(graft.sources.StarTableSource.batchesProduced.sum() >= 1)
  }

  test("skewed partitioned writes: filesPerSlice salts the shuffle so a " +
    "90%-one-slice distribution spreads over many tasks, files stay " +
    "bounded, reads and stats unchanged") {
    import spark.implicits._
    // 90% of rows in slice "hot"
    val df = (0 until 10000).map(i =>
      (if (i % 10 == 0) s"cold${i % 3}" else "hot", i.toDouble))
      .toDF("grp", "x")
    val t = graft.model.StarTable.fromDataFrame(df, "skewed",
      units = Map("grp" -> "text"))
    val out = Files.createTempDirectory("graft_pds_skew").toString
    graft.io.CsvWriter.writePartitionedDataset(t, out, Seq("grp"),
      numFiles = 8, filesPerSlice = 4)
    def filesIn(slice: String): Int =
      java.nio.file.Files.list(java.nio.file.Paths.get(out, s"grp=$slice"))
        .filter(p => !p.getFileName.toString.startsWith("_")
          && !p.getFileName.toString.startsWith("."))
        .count().toInt
    val hotFiles = filesIn("hot")
    assert(hotFiles >= 2 && hotFiles <= 4,
      s"hot slice should spread over 2..4 salted files, got $hotFiles")
    val back = spark.read.format("startable").load(out)
    assert(back.count() == 10000)
    assert(back.filter(col("grp") === "hot").count() == 9000)
    // slice stats are salt-independent: contradicted scans still skip
    graft.sources.StarTableSource.resetPushdownCounters()
    assert(back.filter(col("x") > 1e6).count() == 0)
    assert(graft.sources.StarTableSource.linesParsed.sum() == 0,
      "stats skipping broke under salted writes")
    // the unsalted default keeps one file per slice per task group
    val out1 = Files.createTempDirectory("graft_pds_skew1").toString
    graft.io.CsvWriter.writePartitionedDataset(t, out1, Seq("grp"),
      numFiles = 8)
    assert(java.nio.file.Files.list(
      java.nio.file.Paths.get(out1, "grp=hot")).filter(p =>
        !p.getFileName.toString.startsWith("_")
          && !p.getFileName.toString.startsWith(".")).count() == 1)
  }

  test("SQL DDL surface: CREATE TABLE ... USING startable registers the " +
    "source in the catalog; queries push filters and prune like the " +
    "reader API") {
    val dir = writeDir()
    spark.sql("DROP TABLE IF EXISTS st_places")
    spark.sql(
      s"""CREATE TABLE st_places USING startable
         |OPTIONS (path '$dir', table 'places')""".stripMargin)
    try {
      val df = spark.sql(
        "SELECT place FROM st_places WHERE distance > 0.5")
      assert(df.queryExecution.executedPlan.toString
        .contains("GreaterThan(distance,0.5)"),
        "SQL-surface predicate did not push into the scan")
      assert(df.collect().map(_.getString(0)).toSet == Set("work", "beach"))
      // unit metadata survives the catalog round trip
      assert(spark.table("st_places").schema("distance")
        .metadata.getString("startable.unit") == "km")
    } finally spark.sql("DROP TABLE st_places")
    // partitioned dataset through SQL, with slice pruning
    import spark.implicits._
    val pds = Files.createTempDirectory("graft_sql_pds").toString
    graft.io.CsvWriter.writePartitionedDataset(
      graft.model.StarTable.fromDataFrame(
        Seq(("a", 1.0), ("b", 2.0)).toDF("grp", "x"), "sqlds",
        units = Map("grp" -> "text")),
      pds, Seq("grp"))
    spark.sql("DROP TABLE IF EXISTS st_ds")
    spark.sql(s"CREATE TABLE st_ds USING startable OPTIONS (path '$pds')")
    try {
      graft.sources.StarTableSource.resetPushdownCounters()
      assert(spark.sql("SELECT x FROM st_ds WHERE grp = 'a'")
        .collect().map(_.getDouble(0)).toSeq == Seq(1.0))
      assert(graft.sources.StarTableSource.filesPruned.sum() +
      graft.sources.StarTableSource.dirsPruned.sum() > 0,
        "SQL-surface partition filter pruned nothing")
    } finally spark.sql("DROP TABLE st_ds")
    // catalog WRITE path, with a case-differing option key (the catalog
    // preserves key case; lookups must not)
    val wdir = Files.createTempDirectory("graft_sql_w").toString
    spark.sql("DROP TABLE IF EXISTS st_w")
    spark.sql(s"""CREATE TABLE st_w (a STRING, b DOUBLE) USING startable
                 |OPTIONS (PATH '$wdir/t.csv', `table` 't')""".stripMargin)
    try {
      spark.sql("INSERT OVERWRITE st_w VALUES ('x', 1.5), ('y', 2.5)")
      val back = spark.sql("SELECT a, b FROM st_w").collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSet
      assert(back == Set(("x", 1.5), ("y", 2.5)),
        s"catalog INSERT/SELECT round trip diverged: $back")
    } finally spark.sql("DROP TABLE st_w")
  }

  test("scan reports file-size statistics, so a small dimension " +
    "auto-broadcasts in a join (no explicit broadcast hint)") {
    val src = writeDir()
    val dim = spark.read.format("startable").option("table", "places").load(src)
    val sizeEst = dim.queryExecution.optimizedPlan.stats.sizeInBytes
    // file-length proxy: well under the 10 MB autoBroadcast threshold and
    // nowhere near the no-statistics default (Long.MaxValue)
    assert(sizeEst > 0 && sizeEst < 100000,
      s"expected a file-sized estimate, got $sizeEst")
    val fact = spark.range(0, 10000)
      .selectExpr("CAST(id % 4 AS BOOLEAN) AS is_hot", "id AS v")
    val joined = fact.join(dim, Seq("is_hot"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"small startable dim should auto-broadcast:\n$plan")
    assert(joined.count() > 0)
  }

  test("a statistics-answered COUNT is pushed down completely: one Spark " +
    "job, no aggregate over the scan") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_cnt_jobs").resolve("ds").toString
    graft.io.CsvWriter.writePartitionedDataset(
      graft.model.StarTable.fromDataFrame(
        (0 until 90).map(i => (s"g${i % 3}", i.toDouble)).toDF("grp", "x"), "t",
        units = Map("grp" -> "text")),
      out, Seq("grp"))
    val ds = spark.read.format("startable").load(out)
    val plan = ds.groupBy().count().queryExecution.executedPlan.toString
    assert(plan.contains("StarMetaAggScan") && !plan.contains("Aggregate"), plan)
    var counted = 0L
    // the scan's one-row collect is the only job; partial pushdown ran two
    // (the final aggregate's shuffle map stage, then its result)
    assert(TestSpark.jobsDuring { counted = ds.count() } == 1)
    assert(counted == 90L)
  }

  test("COUNT(*) over a stats-bearing dataset answers from metadata: zero " +
    "lines parsed; stripped/absent stats and filters fall back to scanning") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_cnt")
    val out = base.resolve("ds").toString
    val rows = (0 until 900).map(i => (s"g${i % 3}", i.toDouble))
    graft.io.CsvWriter.writePartitionedDataset(
      graft.model.StarTable.fromDataFrame(rows.toDF("grp", "x"), "t",
        units = Map("grp" -> "text")),
      out, Seq("grp"), numFiles = 4)
    def ds() = spark.read.format("startable").load(out)

    // metadata-only: correct count, NO data file opened
    graft.sources.StarTableSource.resetPushdownCounters()
    val counted = ds().count()
    assert(counted === 900L)
    assert(graft.sources.StarTableSource.linesParsed.sum() === 0L,
      "count(*) parsed data despite slice statistics")
    val plan = ds().groupBy().count().queryExecution.executedPlan.toString
    assert(plan.contains("StarMetaAggScan"),
      s"expected the metadata count scan in the plan:\n$plan")

    // MIN/MAX (numeric + text) also answer from metadata, mixed with count
    graft.sources.StarTableSource.resetPushdownCounters()
    val mm = ds().agg(min(col("x")).as("mn"), max(col("x")).as("mx"),
      min(col("grp")).as("gn"), max(col("grp")).as("gx"),
      count(lit(1)).as("n")).collect()(0)
    assert((mm.getDouble(0), mm.getDouble(1), mm.getString(2),
      mm.getString(3), mm.getLong(4)) === (0.0, 899.0, "g0", "g2", 900L))
    assert(graft.sources.StarTableSource.linesParsed.sum() === 0L,
      "min/max parsed data despite slice statistics")

    // GROUP BY a partition column: per-slice counts/bounds are also pure
    // metadata (one row per listed slice, folded by Spark's final agg)
    graft.sources.StarTableSource.resetPushdownCounters()
    val grouped = ds().groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), min(col("x")).as("mn"), max(col("x")).as("mx"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSet
    assert(grouped === Set(("g0", 300L, 0.0, 897.0), ("g1", 300L, 1.0, 898.0),
      ("g2", 300L, 2.0, 899.0)))
    assert(graft.sources.StarTableSource.linesParsed.sum() === 0L,
      "grouped count/min/max parsed data despite slice statistics")
    // GROUP BY a DATA column cannot be served: slices mix its values
    graft.sources.StarTableSource.resetPushdownCounters()
    assert(ds().groupBy(col("x")).count().count() === 900L)
    assert(graft.sources.StarTableSource.linesParsed.sum() > 0L)

    // an aggregate the stats CANNOT serve (sum) falls back to scanning
    graft.sources.StarTableSource.resetPushdownCounters()
    assert(ds().agg(sum(col("x"))).collect()(0).getDouble(0) === 404550.0)
    assert(graft.sources.StarTableSource.linesParsed.sum() > 0L)

    // a DATA-column-filtered count scans (those filters stay residual ->
    // no aggregate offer)
    graft.sources.StarTableSource.resetPushdownCounters()
    assert(ds().filter(col("x") < 300.0).count() === 300L)
    assert(graft.sources.StarTableSource.linesParsed.sum() > 0L)

    // a PARTITION-only-filtered count/min/max stays metadata-only: the
    // filter is consumed by the scan (partition pruning is slice-exact)
    // and the aggregate folds over the PRUNED listing + sidecar
    graft.sources.StarTableSource.resetPushdownCounters()
    assert(ds().filter(col("grp") === "g1").count() === 300L)
    assert(ds().filter(col("grp").isin("g0", "g2")).count() === 600L)
    val fmm = ds().filter(col("grp") > "g0") // GreaterThan: exact, consumed
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx")).collect()(0)
    assert((fmm.getDouble(0), fmm.getDouble(1)) === (1.0, 899.0))
    assert(graft.sources.StarTableSource.linesParsed.sum() === 0L,
      "partition-filtered count/min/max parsed data despite slice stats")
    val fplan = ds().filter(col("grp") === "g1").groupBy().count()
      .queryExecution.executedPlan.toString
    assert(fplan.contains("StarMetaAggScan"),
      s"partition-filtered count should use the metadata scan:\n$fplan")
    // grouped + filtered composes; groups outside the filter vanish
    assert(ds().filter(col("grp").isin("g0", "g2")).groupBy(col("grp")).count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      === Set(("g0", 300L), ("g2", 300L)))
    assert(graft.sources.StarTableSource.linesParsed.sum() === 0L,
      "filtered+grouped count parsed data despite slice stats")
    // a filter pruning EVERYTHING falls back (zero-slice partial rows
    // would null out Spark's COUNT-as-SUM rewrite); the scan gets 0 right
    assert(ds().filter(col("grp") === "nope").count() === 0L)
    // NOT over a partition filter is NOT consumed (three-valued logic):
    // it must stay residual and scan — and still count correctly
    graft.sources.StarTableSource.resetPushdownCounters()
    assert(ds().filter(!(col("grp") === "g1")).count() === 600L)
    assert(graft.sources.StarTableSource.linesParsed.sum() > 0L,
      "NOT(partition filter) must not be consumed/metadata-served")

    // dropPartitions leaves a stale sidecar entry for the dropped slice:
    // the LISTING is the authority, the entry is ignored
    graft.operators.Maintenance.dropPartitions(spark, out, "grp", Seq("g2"))
    graft.sources.StarTableSource.resetPushdownCounters()
    assert(ds().count() === 600L,
      "count served a dropped partition's stale stats entry")
    assert(graft.sources.StarTableSource.linesParsed.sum() === 0L)

    // a stats-less backfill strips the rewritten slice's entry: the count
    // must fall back to scanning, not serve the stale/partial metadata
    graft.io.CsvWriter.writePartitionedDataset(
      graft.model.StarTable.fromDataFrame(
        Seq(("g1", 9999.0)).toDF("grp", "x"), "t", units = Map("grp" -> "text")),
      out, Seq("grp"), overwriteSlices = true, collectStats = false)
    graft.sources.StarTableSource.resetPushdownCounters()
    assert(ds().count() === 301L) // g0's 300 + the 1-row backfilled g1
    assert(graft.sources.StarTableSource.linesParsed.sum() > 0L,
      "count answered from metadata although a listed slice has no entry")

    // ALL partitions dropped (empty listing, stale sidecar entries): the
    // pushdown must refuse — a zero-row partial scan would make Spark's
    // COUNT-as-SUM rewrite return null where a real count of an empty
    // table is 0
    graft.operators.Maintenance.dropPartitions(spark, out, "grp",
      Seq("g0", "g1"))
    assert(ds().count() === 0L,
      "count over a fully-dropped dataset must be 0, not null/garbage")
    assert(ds().agg(count(lit(1))).collect()(0).getLong(0) === 0L)

    // a dataset written with collectStats=false never pushes the count
    val out2 = base.resolve("ds2").toString
    graft.io.CsvWriter.writePartitionedDataset(
      graft.model.StarTable.fromDataFrame(rows.toDF("grp", "x"), "t",
        units = Map("grp" -> "text")),
      out2, Seq("grp"), numFiles = 4, collectStats = false)
    graft.sources.StarTableSource.resetPushdownCounters()
    assert(spark.read.format("startable").load(out2).count() === 900L)
    assert(graft.sources.StarTableSource.linesParsed.sum() > 0L)
  }

  test("parallel file listing over a many-slice layout returns exactly the " +
    "serial walk's files in the serial walk's order") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_parlist")
    val out = base.resolve("ds").toString
    // 60 slices across two partition levels — well over the parallel
    // threshold — including names a FLAT string sort would misorder
    // relative to the DFS component sort ("a-b" vs "a")
    val rows = (0 until 60).map(i => (s"s${i % 12}", s"d${i % 5}", i.toDouble)) ++
      Seq(("a", "x", 100.0), ("a-b", "x", 101.0))
    graft.io.CsvWriter.writePartitionedDataset(
      graft.model.StarTable.fromDataFrame(rows.toDF("src", "day", "v"), "t",
        units = Map("src" -> "text", "day" -> "text")),
      out, Seq("src", "day"))
    val conf = spark.sessionState.newHadoopConf()
    val serial = graft.sources.StarTableSource.listPartitionedFiles(
      Seq(out), Seq("src", "day"), conf, listingParallelism = 1)
    val parallel = graft.sources.StarTableSource.listPartitionedFiles(
      Seq(out), Seq("src", "day"), conf,
      listingParallelism = 16, parallelListingThreshold = 2)
    assert(serial.nonEmpty && serial.size >= 60)
    assert(parallel === serial,
      "parallel listing diverged from the serial walk (set or order)")
    // reads over the layout stay correct
    val df = spark.read.format("startable").load(out)
    assert(df.count() === rows.size)
  }
}
