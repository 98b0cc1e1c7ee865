package graft

import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, ShuffleQueryStageExec}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.RelationalQueries

/** Physical-plan assertions: the plans that make 100 TB viable must not
  * silently regress. Checks pushdown, column pruning, broadcast selection,
  * map-side partial aggregation, and whole-stage codegen presence.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sfDir = "/root/testdata/sf0.01"

  private def planOf(q: String): String = {
    val df = RelationalQueries.queries(q)(spark, sfDir)
    df.queryExecution.executedPlan.toString
  }

  test("filter+project pushes filters and prunes columns at the parquet scan") {
    val plan = planOf("q_filter_project")
    assert(plan.contains("PushedFilters: ["), "no pushdown section")
    assert(plan.contains("IsNotNull(l_quantity)") || plan.contains("GreaterThan(l_quantity"),
      s"quantity filter not pushed:\n$plan")
    // scan must read only the 5 needed columns, not all 11
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_extendedprice") && !readSchema.contains("l_returnflag"),
      s"column pruning failed: $readSchema")
  }

  test("Q6 pushes every predicate to the parquet scan") {
    val plan = planOf("q6_forecast_revenue")
    assert(plan.contains("PushedFilters: ["))
    Seq("l_shipdate", "l_discount", "l_quantity").foreach(c =>
      assert(plan.contains(s"($c"), s"$c filter not pushed:\n$plan"))
  }

  test("connector-gate Q6 pushes every predicate INTO the StarTable parse " +
    "and prunes the read schema") {
    // The driver-gate query q_startable_connector must scan through the
    // DSv2 connector with all four q6 predicates pushed (the engine analog
    // of the reference's early-filter headline) and pushdown must actually
    // FIRE row skips during execution.
    val df = RelationalQueries.queries("q_startable_connector")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("startable table=lineitem_slim"),
      s"scan is not the startable connector:\n$plan")
    assert(plan.contains("PushedFilters: ["), s"no pushdown section:\n$plan")
    Seq("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount", "LessThanOrEqual(l_discount",
        "LessThan(l_quantity").foreach(f =>
      assert(plan.contains(f), s"$f not pushed into the parse:\n$plan"))
    // the merged single file must scan as MULTIPLE byte-range partitions
    // (assumeSingleTable split planning), not one serialized task — count
    // them on a raw read of the same memoized file with the gate query's
    // options (the aggregate output frame would always be 1 partition)
    val (file, _) = RelationalQueries.startableCsvFor(spark, sfDir)
    val raw = spark.read.format("startable")
      .option("table", "lineitem_slim")
      .option("assumeSingleTable", "true")
      .option("maxSplitBytes", (1024 * 1024).toString)
      .load(file)
    assert(raw.rdd.getNumPartitions > 1,
      s"expected byte-range splits, got ${raw.rdd.getNumPartitions} partition(s)")
    graft.sources.StarTableSource.resetPushdownCounters()
    val row = df.collect()(0)
    assert(row.getLong(1) > 0, "connector scan returned an empty q6 slice")
    assert(graft.sources.StarTableSource.rowsFiltered.sum() > 0,
      "pushdown never fired at the parse level")
    // the dataset variant scans a directory of self-describing files:
    // one input partition per file, same pushdown
    val ds = RelationalQueries.queries("q_startable_dataset")(spark, sfDir)
    val dsPlan = ds.queryExecution.executedPlan.toString
    assert(dsPlan.contains("PushedFilters: [") &&
      dsPlan.contains("GreaterThanOrEqual(l_shipdate"), dsPlan)
    assert(ds.collect()(0) == row,
      "dataset-layout connector result differs from single-file result")
  }

  test("Q1 aggregates partially before the shuffle (map-side combine)") {
    val plan = planOf("q1_pricing_summary")
    assert(plan.contains("partial_sum") || plan.contains("partial_"),
      s"no partial aggregation:\n$plan")
    // note: with AQE the pre-execution plan string has no codegen markers;
    // codegen presence is asserted on non-adaptive leaf plans elsewhere
  }

  test("Q1 level-1 partials sum LONG cents; decimals appear only in the final merge") {
    // The two-level shape: the per-(group, partition) aggregate must carry
    // bigint sums (Long-backed fast path) — a DECIMAL(28,2) buffer in level
    // 1 would put BigDecimal allocation back on the per-row path.
    val df = graft.SparkEntry.queries("q1_pricing_summary")(spark, sfDir)
    val analyzed = df.queryExecution.optimizedPlan.toString
    val aggs = analyzed.linesIterator.filter(_.contains("Aggregate")).toSeq
    assert(aggs.size >= 2, s"expected two aggregate levels:\n$analyzed")
    val level1 = aggs.last // innermost aggregate (bottom of the plan dump)
    assert(level1.contains("__pid"), s"level 1 not partition-keyed:\n$level1")
    assert(!level1.toLowerCase.contains("decimal"),
      s"level-1 buffer fell back to decimal:\n$level1")
  }

  test("dimension join broadcasts the small side") {
    val plan = planOf("q_join_broadcast")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"customer dim not broadcast:\n$plan")
  }

  test("5-way star join broadcasts nation and region") {
    val plan = planOf("q5_revenue_by_nation")
    val broadcasts = "BroadcastExchange".r.findAllIn(plan).size
    assert(broadcasts >= 2, s"expected >=2 broadcasts (nation, region), got $broadcasts")
  }

  test("top-k sort+limit uses TakeOrderedAndProject, not a global sort") {
    val plan = planOf("q_sort_limit")
    assert(plan.contains("TakeOrderedAndProject"), s"global sort for a top-10:\n$plan")
  }

  test("semi/anti joins plan as join, not subquery re-scan") {
    assert(planOf("q_semi_join").contains("LeftSemi"))
    assert(planOf("q_anti_join").contains("LeftAnti"))
  }

  test("brute-force ANN is scan + TakeOrdered (no shuffle of embeddings)") {
    val df = graft.queries.PipelineQueries.queries("q_ann_bruteforce")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"ANN should be top-k:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"unexpected shuffle in brute-force ANN:\n$plan")
  }

  test("no CartesianProduct or unkeyed nested-loop join in ANY driver query plan") {
    // The whole 54-query surface: a cartesian product at 100 TB is always a
    // bug. BroadcastNestedLoopJoin is tolerated only for a broadcast side
    // (tiny literal frames); plain CartesianProduct never is.
    graft.SparkEntry.queries.foreach { case (name, q) =>
      val plan = q(spark, sfDir).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a CartesianProduct:\n$plan")
    }
  }

  test("simhash signatures are a narrow projection (no explode, no aggregate)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = graft.functions.Dedup.simhashSignatures(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"signature stage shuffles:\n$plan")
    assert(!plan.contains("Generate"), s"signature stage explodes:\n$plan")
    assert(!plan.contains("HashAggregate"), s"signature stage aggregates:\n$plan")
  }

  test("simhash blocking joins on (blk, key), not on signatures or content") {
    val plan = graft.queries.PipelineQueries.queries("q_dedup_simhash")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // hash join KEYED on (blk, key) — broadcast at this SF, shuffle at scale;
    // either is fine as long as the equi-join keys are the block keys
    assert(plan.contains("HashJoin [blk") || plan.contains("hashpartitioning(blk"),
      s"blocking join not keyed on (blk, key):\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("minhash LSH joins on (band, bucket), distinct-sig collapse shuffles 8-byte keys") {
    val plan = graft.queries.PipelineQueries.queries("q_dedup_minhash")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("HashJoin [band") || plan.contains("hashpartitioning(band"),
      s"LSH join not keyed on (band, bucket):\n$plan")
    // the distinct-signature collapse shuffles the signature only (no text)
    assert(plan.contains("hashpartitioning(sig"),
      s"sig collapse does not shuffle on the signature:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("gopher rules and URL canonicalization are shuffle-free scan+project") {
    Seq("q_doc_gopher", "q_url_canonical").foreach { q =>
      val plan = graft.queries.PipelineQueries.queries(q)(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"$q shuffles a pure per-row pipeline:\n$plan")
      // the *(n) stage markers are the executedPlan rendering of codegen
      assert(plan.contains("*("), s"$q left whole-stage codegen:\n$plan")
    }
  }

  test("source rebalance broadcasts the group counts, never shuffles the data") {
    val plan = graft.queries.PipelineQueries.queries("q_source_rebalance")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"group counts not broadcast:\n$plan")
  }

  test("winnow candidate join is keyed on the fingerprint") {
    val plan = graft.queries.PipelineQueries.queries("q_dedup_winnow")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("HashJoin [fp") || plan.contains("hashpartitioning(fp"),
      s"fingerprint join not keyed on fp:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("incremental dedup joins bipartite on (band, bucket)") {
    val plan = graft.queries.PipelineQueries.queries("q_dedup_incremental")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("HashJoin [band") || plan.contains("hashpartitioning(band"),
      s"cross-corpus LSH join not keyed on (band, bucket):\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("token chunking is a shuffle-free scan + generate") {
    val plan = graft.queries.PipelineQueries.queries("q_doc_chunks")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"q_doc_chunks shuffles a pure per-row pipeline:\n$plan")
  }

  test("sequence packing broadcasts the bucket offsets; windows stay per-bucket") {
    val plan = graft.queries.PipelineQueries.queries("q_doc_pack")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // the tiny driver-prefixed offset table must broadcast, never shuffle
    // the corpus side for the join
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"bucket offsets not broadcast:\n$plan")
    // the prefix-sum window partitions by bucket — a global single-partition
    // window (SinglePartition) would be the 100 TB deadlock
    assert(!plan.contains("Exchange SinglePartition, ENSURE"),
      s"q_doc_pack plans a global single-partition exchange:\n$plan")
    assert(plan.contains("hashpartitioning(__bucket"),
      s"prefix-sum window not partitioned by bucket:\n$plan")
  }

  test("unigram scoring partial-aggregates the per-doc sums") {
    val plan = graft.queries.PipelineQueries.queries("q_doc_perplexity")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_sum") || plan.contains("partial_count"),
      s"per-doc score aggregation not map-side combined:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("bm25 filters postings before aggregation and broadcasts the idf side") {
    val plan = graft.queries.PipelineQueries.queries("q_bm25_search")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // the query-term IN filter must cut postings in the scan stage, under
    // the (doc, term) aggregate — never aggregate-then-filter
    val filterIdx = plan.indexOf("token#")
    assert(filterIdx >= 0 && plan.contains("Filter"),
      s"query-term filter missing:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"per-term idf table not broadcast:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k not TakeOrdered (global sort would shuffle all scores):\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("stratified sample partial-aggregates bounded top-k state per group") {
    val plan = graft.queries.PipelineQueries.queries("q_stratified_sample")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // the TopKPairs TypedImperativeAggregate must combine map-side: the
    // shuffle carries <= k candidates per (group, partition), never rows
    assert(plan.contains("partial_topkpairs") || plan.contains("ObjectHashAggregate"),
      s"top-k sample not map-side combined:\n$plan")
    assert(!plan.contains("Window"),
      s"sample fell back to a per-group window sort:\n$plan")
  }

  test("ppl buckets: one range shuffle for ranking, no per-language data window") {
    val plan = graft.queries.PipelineQueries.queries("q_doc_ppl_buckets")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("rangepartitioning"), s"no range exchange:\n$plan")
    // every Window node must be confined to the slice-stats table
    val windowLines = plan.linesIterator.filter(_.contains("Window ")).toSeq
    assert(windowLines.forall(_.contains("__c")),
      s"a window runs over document data, not slice stats:\n$plan")
  }

  test("weighted sample partial-aggregates bounded top-k state, broadcasts ids back") {
    val plan = graft.queries.PipelineQueries.queries("q_weighted_sample")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_topkpairs") || plan.contains("ObjectHashAggregate"),
      s"priority top-k not map-side combined:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"sample ids not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"))
  }

  test("merge upsert touches the snapshot with a broadcast anti join only") {
    val plan = graft.queries.PipelineQueries.queries("q_merge_upsert")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), s"no anti join:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"change keys not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"snapshot shuffled for the merge:\n$plan")
  }

  test("pagerank returns a flat materialized plan (no residual iteration tree)") {
    val df = graft.queries.AnalyticQueries.queries("q_pagerank")(spark, sfDir)
    val plan = df.queryExecution.optimizedPlan.toString
    df.unpersist()
    // the EAGER result must be a cached flat scan — iteration cost must not
    // re-enter downstream plans (the connectedComponents driver-stall class)
    assert(plan.contains("LogicalRDD") || plan.contains("InMemoryRelation"),
      s"pagerank result not flattened/cached:\n$plan")
    assert(!plan.contains("Join"), s"iteration tree leaked into the result plan:\n$plan")
  }

  test("hybrid search: no cartesian product, idf and fusion sides broadcast") {
    val plan = graft.queries.PipelineQueries.queries("q_hybrid_search")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in hybrid plan:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"idf side not broadcast:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k not TakeOrdered:\n$plan")
  }

  test("group median: range-ranked, broadcast counts, no per-group sort task") {
    val plan = graft.queries.PipelineQueries.queries("q_group_median")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("rangepartitioning"), s"no range exchange:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"counts not broadcast:\n$plan")
    val windowLines = plan.linesIterator.filter(_.contains("Window ")).toSeq
    assert(windowLines.forall(_.contains("__c")),
      s"a window runs over document data:\n$plan")
  }

  test("int8 probe: map-side partial aggregation, TakeOrdered top-k, no join") {
    val plan = graft.queries.PipelineQueries.queries("q_emb_int8")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_sum"), s"dot products not partial-aggregated:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"top-k not TakeOrdered:\n$plan")
    assert(!plan.contains("Join"), s"int8 probe must be joinless:\n$plan")
  }

  test("bigram ppl: pair stream partial-aggregates before its joins") {
    val plan = graft.queries.PipelineQueries.queries("q_doc_bigram_ppl")(spark, sfDir)
      .queryExecution.optimizedPlan.toString
    // EAGER result: flat cached relation, no residual scoring tree
    assert(plan.contains("InMemoryRelation") || plan.contains("LogicalRDD"),
      s"bigram result not materialized:\n$plan")
  }

  test("blocklist screening is a shuffle-free scan + projection (one DFA " +
    "pass, no UDF)") {
    val plan = graft.queries.PipelineQueries.queries("q_doc_blocklist")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"blocklist should not shuffle:\n$plan")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      s"blocklist must not use a UDF:\n$plan")
    assert(plan.contains("multi_pattern_hits"),
      s"expected the Aho-Corasick kernel in the plan:\n$plan")
  }

  test("z-order values are a shuffle-free projection with the row filter " +
    "pushed to the scan") {
    val plan = graft.queries.AnalyticQueries.queries("q_zorder")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"z-values should not shuffle:\n$plan")
    val pushed = plan.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("l_orderkey"),
      s"orderkey filter not pushed to the parquet scan:\n$pushed")
  }

  test("pq probe scans codes only: no join, no vector column, TakeOrdered top-k") {
    val plan = graft.queries.PipelineQueries.queries("q_emb_pq_probe")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"ADC top-k not TakeOrdered:\n$plan")
    assert(!plan.contains("Join"), s"PQ probe must be joinless:\n$plan")
    val readSchema = plan.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("embedding"),
      s"probe reads float vectors instead of codes:\n$readSchema")
  }

  test("PII scrub is a shuffle-free scan + project") {
    val plan = graft.queries.PipelineQueries.queries("q_pii_scrub")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"redaction must not shuffle:\n$plan")
    assert(!plan.contains("Join"), s"redaction must not join:\n$plan")
  }

  test("Gumbel resampling ends in TakeOrdered, not a global sort") {
    val plan = graft.queries.PipelineQueries.queries("q_dsir_resample")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k not TakeOrdered:\n$plan")
    assert(!plan.contains("rangepartitioning"),
      s"global sort shuffle in the top-k path:\n$plan")
  }

  test("hard-pair mining joins on the block key and aggregates in one pass") {
    val plan = graft.queries.ModelQueries.queries("q_hard_negatives")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("__blk"), s"self-join not keyed on the block:\n$plan")
    assert(!plan.contains("Window"), s"extremes must be aggregates, not windows:\n$plan")
    assert(plan.contains("partial_max") || plan.contains("partial_"),
      s"no map-side combine on the pair stream:\n$plan")
  }

  test("partitioned-dataset gate query prunes the other slices at planning " +
    "time and shows the partition filter in the plan") {
    val df = RelationalQueries.queries("q_startable_partitioned")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("l_returnflag,R"),
      s"partition filter not surfaced:\n$plan")
    graft.sources.StarTableSource.resetPushdownCounters()
    df.write.format("noop").mode("overwrite").save()
    assert(graft.sources.StarTableSource.filesPruned.sum() +
      graft.sources.StarTableSource.dirsPruned.sum() > 0,
      "the l_returnflag=R slice query pruned no files — the other slices " +
        "were opened")
  }

  private object aqe extends AdaptiveSparkPlanHelper

  /** (map-output bytes, post-coalesce reduce partitions) of a one-shuffle
    * aggregate over `keys` distinct keys, under the session's AQE floor or,
    * with `sparkDefaultFloor`, under Spark's default (1 MB). */
  private def coalescedShuffle(keys: Long,
                               sparkDefaultFloor: Boolean = false): (Long, Int) = {
    val floorKey = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val saved = spark.conf.getOption(floorKey)
    if (sparkDefaultFloor) spark.conf.unset(floorKey)
    try {
      // a derived key: Range's own range partitioning on `id` would
      // satisfy a groupBy(id) without any shuffle
      val df = spark.range(keys).groupBy((col("id") * 2).as("k")).count()
      // toRdd runs the map stage and returns the coalesced reduce RDD
      val partitions = df.queryExecution.toRdd.getNumPartitions
      val bytes = aqe.collect(df.queryExecution.executedPlan) {
        case s: ShuffleQueryStageExec => s.mapStats.fold(0L)(_.bytesByPartitionId.sum)
      }.sum
      (bytes, partitions)
    } finally saved.fold(spark.conf.unset(floorKey))(spark.conf.set(floorKey, _))
  }

  test("AQE keeps a few-hundred-KB shuffle on more than one reduce task") {
    val (bytes, partitions) = coalescedShuffle(80000L)
    assert(bytes > 128L * 1024 && bytes < 1024L * 1024,
      s"premise: shuffle of a few hundred KB, got $bytes bytes")
    assert(partitions > 1,
      s"$bytes-byte shuffle coalesced to $partitions reduce partition(s)")
  }

  test("the 64 KB AQE floor is a no-op above cores x 1 MB of shuffle") {
    val cores = spark.sparkContext.defaultParallelism
    val (bytes, withFloor) = coalescedShuffle(1500000L)
    assert(bytes > cores * 1024L * 1024,
      s"premise: shuffle above $cores x 1 MB, got $bytes bytes")
    val (_, withDefault) = coalescedShuffle(1500000L, sparkDefaultFloor = true)
    assert(withFloor == withDefault,
      s"64 KB floor: $withFloor partitions, Spark default: $withDefault")
  }
}
