package graft.tools

/** Round-10 rehearsal: dataset maintenance + listing at ~1k slices.
  * Claims under test (VERDICT r9 items 4-5):
  *  - compact/cluster wall time scales with data volume, not slice count —
  *    the bounded-concurrency leaf runner hides the per-slice scheduling
  *    floor (vs the serial loop's slices × floor);
  *  - the wave-parallel lister beats the serial walk on a many-slice
  *    layout and returns the identical inventory.
  *
  *   sbt "runMain graft.tools.MaintenanceRehearsal [slices]"  (default 1000)
  */
object MaintenanceRehearsal {
  def main(args: Array[String]): Unit = {
    val slices = args.headOption.map(_.toInt).getOrElse(1000)
    val spark = graft.GraftSession.local()
    import spark.implicits._

    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[maint] $label%-52s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    def mkDataset(n: Int): String = {
      val rows = (0 until n * 60).map(i => (s"s${i % n}", i.toDouble, s"tag$i"))
      val st = graft.model.StarTable.fromDataFrame(
        rows.toDF("src", "x", "tag").repartition(64), "maint",
        units = Map("src" -> "text", "tag" -> "text"))
      val out = java.nio.file.Files.createTempDirectory(s"graft_maint_$n").toString
      // unshuffled write (numFiles = 0): every task writes a file per slice
      // it holds → many small files per slice, the compaction-bait layout
      graft.io.CsvWriter.writePartitionedDataset(st, out, Seq("src"),
        collectStats = false)
      out
    }

    // serial legs only at the SMALL scale: the serial floor per slice is
    // what's being measured, and 1000 serial cluster jobs would take tens
    // of minutes by construction — the extrapolation slices × floor is the
    // point of the rehearsal, not worth executing literally
    Seq(slices / 10, slices).foreach { n =>
      println(s"--- $n slices ---")
      val runSerial = n <= slices / 10
      val conf = spark.sessionState.newHadoopConf()
      if (runSerial) { // warm JIT/codegen + page cache shape once
        val warm = mkDataset(n)
        graft.operators.Maintenance.compactStarDataset(spark, warm)
      }

      val dsPar = mkDataset(n)
      val dsSerial = if (runSerial) mkDataset(n) else dsPar

      val parList = t(s"list parallel x16 ($n slices)") {
        graft.sources.StarTableSource.listPartitionedFiles(
          Seq(dsPar), Seq("src"), conf, listingParallelism = 16)
      }
      val serialList = t(s"list serial ($n slices)") {
        graft.sources.StarTableSource.listPartitionedFiles(
          Seq(dsPar), Seq("src"), conf, listingParallelism = 1)
      }
      require(parList == serialList, "parallel listing diverged")
      println(s"[maint]   files listed: ${serialList.size}")

      if (runSerial) {
        spark.conf.set("spark.graft.maintenance.parallelism", "1")
        val repS = t(s"compactStarDataset serial ($n slices)") {
          graft.operators.Maintenance.compactStarDataset(spark, dsSerial)
        }
        println(s"[maint]   serial files ${repS.filesBefore}->${repS.filesAfter}")
      }
      spark.conf.set("spark.graft.maintenance.parallelism", "8")
      val repP = t(s"compactStarDataset parallel x8 ($n slices)") {
        graft.operators.Maintenance.compactStarDataset(spark, dsPar)
      }
      println(s"[maint]   parallel files ${repP.filesBefore}->${repP.filesAfter}")

      if (runSerial) {
        spark.conf.set("spark.graft.maintenance.parallelism", "1")
        val t1 = t(s"clusterStarDataset serial ($n slices)") {
          graft.operators.Maintenance.clusterStarDataset(spark, dsSerial, Seq("x"))
        }
        println(s"[maint]   serial fileStats=${t1.fileStatsWritten}")
      }
      spark.conf.set("spark.graft.maintenance.parallelism", "8")
      val t2 = t(s"clusterStarDataset parallel x8 ($n slices)") {
        graft.operators.Maintenance.clusterStarDataset(spark, dsPar, Seq("x"))
      }
      println(s"[maint]   parallel fileStats=${t2.fileStatsWritten}")
      // read-back sanity: maintenance must not change the table
      val a = spark.read.format("startable").load(dsPar)
        .selectExpr("sum(x)", "count(*)").collect()(0)
      println(s"[maint]   read-back: $a")
      if (runSerial) {
        val b = spark.read.format("startable").load(dsSerial)
          .selectExpr("sum(x)", "count(*)").collect()(0)
        require(a == b, s"maintained datasets diverged: $a vs $b")
      }
    }
    spark.stop()
  }
}
