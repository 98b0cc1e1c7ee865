package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{AsOfJoin, ZOrder}
import Tables.star

/** The native analytic surface beyond the reference's pandas whitelist
  * (SURVEY §2.3 "not implemented in the reference, in scope for the Spark
  * engine"): grouping sets (rollup/cube), set operations, as-of join,
  * approximate aggregates.
  */
object AnalyticQueries {

  private def dsum(c: org.apache.spark.sql.Column) =
    sum(c.cast(DecimalType(18, 2))).cast(DoubleType)
  private def sqlDsum(x: String) = s"CAST(sum(CAST($x AS DECIMAL(18,2))) AS DOUBLE)"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // --- grouping sets -----------------------------------------------------
    "q_rollup" -> ((s, dir) =>
      star(s, dir, "lineitem").df
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))),

    "q_cube" -> ((s, dir) =>
      star(s, dir, "orders").df
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))),

    // Explicit GROUPING SETS (the general form rollup/cube specialize):
    // status×priority detail, per-status, and grand total in ONE Expand +
    // aggregate pass; grouping_id disambiguates real NULL groups from
    // rolled-up ones.
    "q_grouping_sets" -> ((s, dir) =>
      star(s, dir, "orders").df
        .groupingSets(
          Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
            Seq(col("o_orderstatus")), Seq()),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
          dsum(col("o_totalprice")).as("sum_price"))),

    // --- set operations ----------------------------------------------------
    // customers that bought in BOTH of two segments' part ranges
    "q_intersect" -> ((s, dir) => {
      val li = star(s, dir, "lineitem").df
      val a = li.filter(col("l_quantity") >= 45).select(col("l_suppkey"))
      val b = li.filter(col("l_quantity") <= 5).select(col("l_suppkey"))
      a.intersect(b)
    }),

    // customers who never placed a pending-status order
    "q_except" -> ((s, dir) => {
      val c = star(s, dir, "customer").df.select(col("c_custkey"))
      val pending = star(s, dir, "orders").df
        .filter(col("o_orderstatus") === "P")
        .select(col("o_custkey").as("c_custkey"))
      c.except(pending)
    }),

    // --- as-of join ---------------------------------------------------------
    // each purchase event gets the most recent prior-or-simultaneous error
    // event of the same user
    "q_asof_join" -> ((s, dir) => {
      val events = Tables.df(s, dir, "events")
      val purchases = events.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val errors = events.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts").as("err_ts"), col("event_id").as("err_id"))
      AsOfJoin.asofPrior(
        purchases, errors,
        partitionCols = Seq("user_id"),
        leftTime = "ts", rightTime = "err_ts",
        rightPayload = Seq("err_id", "err_ts"),
        rightTiebreak = Some("err_id"))
    }),

    // --- binned range join ---------------------------------------------------
    // Non-equi join at scale: errors within the 30 min before each purchase,
    // as a hash equi-join on (user, time-bin) + exact verify — the batch
    // analog of q_stream_join (same oracle semantics, different engine path).
    "q_range_join" -> ((s, dir) => {
      val ev = Tables.df(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"))
        .withColumn("lo", col("p_ts") - expr("INTERVAL 30 MINUTES"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts").as("e_ts"))
      graft.operators.RangeJoin.binnedRangeJoin(
          errors, purchases, "e_ts", "lo", "p_ts",
          partitionCols = Seq("user_id"), binSeconds = 1800L)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"))
    }),

    // --- resample + LOCF gap filling -----------------------------------------
    // 6-hour bins per user, decimal-exact bin sums, forward-filled gaps
    "q_resample_locf" -> ((s, dir) =>
      graft.operators.Resample.resampleLocf(
        Tables.df(s, dir, "events"), "user_id", "ts", "value",
        binSeconds = 21600L,
        agg = c => sum(c.cast(DecimalType(18, 2))).cast(DoubleType))),

    // Linear-interpolation resampling — stale-reading-free gap fill for
    // rates/prices: empty bins get the rounded lerp between surrounding
    // observed bins.
    "q_resample_interp" -> ((s, dir) =>
      graft.operators.Resample.resampleInterp(
        Tables.df(s, dir, "events"), "user_id", "ts", "value",
        binSeconds = 21600L,
        agg = c => sum(c.cast(DecimalType(18, 2))).cast(DoubleType))),

    // --- approximate aggregates, oracle-checked via their bounds -----------
    // The sketch estimates themselves are engine-specific, so the query
    // emits the EXACT columns plus in-Spark bound checks: hll_ok asserts
    // approx_count_distinct within 10% of the exact distinct count (default
    // rsd 5%), med_ok asserts percentile_approx(0.5) lands between the
    // exact 45th and 55th percentiles (GK rank error ε = 1/accuracy ≪ 5%).
    // The DuckDB oracle computes the exact columns and literal TRUE flags —
    // a violated bound now FAILS the hash check instead of hiding in a
    // rows-only row.
    // --- funnel analysis ----------------------------------------------------
    // Ordered step-completion funnel: users who viewed; of those, users
    // whose first click came after their first view; of those, users whose
    // first purchase came after that click. One shuffle (the per-user
    // min-timestamp aggregate with map-side combine); the step logic is a
    // pure projection over the 3 firsts.
    "q_funnel" -> ((s, dir) => {
      val ev = Tables.df(s, dir, "events")
      val firsts = ev.groupBy(col("user_id")).agg(
        min(when(col("event_type") === "view", col("ts"))).as("t_view"),
        min(when(col("event_type") === "click", col("ts"))).as("t_click"),
        min(when(col("event_type") === "purchase", col("ts"))).as("t_buy"))
      firsts.agg(
        count(col("t_view")).as("n_view"),
        count(when(col("t_click") > col("t_view"), lit(1))).as("n_view_click"),
        count(when(col("t_click") > col("t_view") &&
          col("t_buy") > col("t_click"), lit(1))).as("n_full"))
    }),

    // Cohort retention: users grouped by the hour of their first event;
    // for each cohort, how many were active again 1 and 2 hours later.
    // Two map-side-combined aggregates joined on the small (user, cohort)
    // table — no window, no self-join of the event stream.
    "q_retention" -> ((s, dir) => {
      val ev = Tables.df(s, dir, "events")
      val cohorts = ev.groupBy(col("user_id"))
        .agg(date_trunc("hour", min(col("ts"))).as("cohort"))
      val active = ev.select(col("user_id"),
        date_trunc("hour", col("ts")).as("h")).distinct()
      cohorts.join(active, Seq("user_id"))
        .groupBy(col("cohort"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(when(col("h") === col("cohort") + expr("INTERVAL 1 HOUR"),
            lit(1))).as("n_h1"),
          count(when(col("h") === col("cohort") + expr("INTERVAL 2 HOURS"),
            lit(1))).as("n_h2"))
    }),

    // --- link-graph analytics ---------------------------------------------
    // PageRank over the (user -> props.k) edge list in integer micro-mass
    // units: every step is integer addition + floor division, so the
    // 8-iteration fixpoint is bit-exact against the unrolled DuckDB
    // oracle. One shuffle per iteration; edge table flattened + cached.
    "q_pagerank" -> ((s, dir) => {
      val edges = linkEdges(s, dir)
      graft.functions.Graph.pageRank(edges, "src", "dst", iterations = 8)
    }),

    // Personalized PageRank from a 3-node seed set over the same link
    // graph — "influence relative to these seeds", the seed-expansion /
    // recommendation prior. All mass starts on the seeds and teleport +
    // dangling mass return only to them; integer arithmetic throughout,
    // so the 6-iteration fixpoint is bit-exact vs the unrolled oracle.
    "q_ppr" -> ((s, dir) => {
      val edges = linkEdges(s, dir)
      graft.functions.Graph.personalizedPageRank(edges, "src", "dst",
        seeds = Seq(1L, 2L, 3L), iterations = 6)
    }),

    // Exact per-node triangle counts over the link graph — the community
    // density / clustering-coefficient primitive, via degree-ordered
    // orientation (each triangle enumerated once from its lowest-rank
    // vertex; hub wedges generated by their low-degree neighbors). The
    // triangle SET is orientation-independent, so the oracle enumerates
    // naively — the engine must agree exactly.
    "q_triangles" -> ((s, dir) => {
      val edges = linkEdges(s, dir)
      graft.functions.Graph.triangleCounts(edges, "src", "dst")
    }),

    // k-core skeleton of the link graph: 4 synchronous peeling rounds at
    // k = 10 — survivors + their in-core degrees, bit-exact vs the
    // unrolled oracle.
    "q_kcore" -> ((s, dir) => {
      val edges = linkEdges(s, dir)
      graft.functions.Graph.kCore(edges, "src", "dst", k = 10, rounds = 4)
    }),

    // Synchronous label-propagation communities over the link graph —
    // neighbor-majority voting with deterministic (count desc, label asc)
    // tie-breaks; 4 rounds unrolled bit-exactly in the oracle.
    "q_label_prop" -> ((s, dir) => {
      val edges = linkEdges(s, dir)
      graft.functions.Graph.labelPropagation(edges, "src", "dst",
        iterations = 4)
    }),

    // Multi-source BFS over the link graph: minimum hop distance from the
    // seed users within 4 rounds — exact integers, bit-matched against
    // the unrolled per-round-minimum oracle.
    "q_bfs" -> ((s, dir) => {
      val edges = linkEdges(s, dir)
      graft.functions.Graph.bfsDistances(edges, "src", "dst",
        seeds = Seq(1L, 2L), rounds = 4)
    }),

    // Adamic–Adar link prediction over the link graph: top-20 non-adjacent
    // pairs by Σ 1/ln(deg) over common neighbors. Contributions are
    // rounded-then-DECIMAL-summed (order-independent), hubs above the
    // degree cap are loudly dropped, and the oracle mirrors the whole
    // chain including the cap.
    "q_link_predict" -> ((s, dir) => {
      val edges = linkEdges(s, dir)
      graft.functions.Graph.adamicAdar(edges, "src", "dst",
        k = 20, maxDegree = 10000)
    }),

    // Incremental view maintenance: the (count, sum) aggregate over
    // lineitem is maintained from a change batch (deletes of the
    // orderkey%13 slice + planted inserts incl. a brand-new group)
    // WITHOUT rescanning the facts; the oracle re-aggregates the
    // post-change fact table from scratch, so a match proves the delta
    // path reproduces full recomputation exactly.
    "q_incr_agg" -> ((s, dir) => {
      import s.implicits._
      val li = star(s, dir, "lineitem").df
      val keys = Seq("l_returnflag", "l_linestatus")
      val base = graft.operators.Merge.buildAggregate(li, keys, Seq("l_quantity"))
      val deletes = li.filter(col("l_orderkey") % 13 === 0)
        .select(col("l_returnflag"), col("l_linestatus"), col("l_quantity"),
          lit("D").as("op"))
      val inserts = Seq(("X", "X", 5.0, "I"), ("X", "X", 7.25, "I"),
        ("A", "F", 1.5, "I"))
        .toDF("l_returnflag", "l_linestatus", "l_quantity", "op")
      val updated = graft.operators.Merge.maintainAggregate(
        base, deletes.unionByName(inserts), keys, Seq("l_quantity"))
      updated.select(col("l_returnflag"), col("l_linestatus"), col("n"),
        round(col("l_quantity_sum").cast(DoubleType), 2).as("qty_sum"))
    }),

    // Snapshot diff: derive the CDC feed between two table versions with
    // one key-partitioned full-outer join — deletes carry the before-
    // image, inserts/updates the after-image, update detection null-safe.
    // The after-version is a deterministic mutation of lineitem (drop the
    // %19 slice, bump quantity on the %23 slice, plant one insert).
    "q_snapshot_diff" -> ((s, dir) => {
      import s.implicits._
      val before = star(s, dir, "lineitem").df
        .select(col("l_orderkey"),
          col("l_linenumber").cast(LongType).as("l_linenumber"),
          col("l_quantity"))
      val after = before.filter(col("l_orderkey") % 19 =!= 0)
        .withColumn("l_quantity",
          when(col("l_orderkey") % 23 === 0, col("l_quantity") + 1.0)
            .otherwise(col("l_quantity")))
        .unionByName(Seq((9000001L, 1L, 42.0))
          .toDF("l_orderkey", "l_linenumber", "l_quantity"))
      graft.operators.Merge.snapshotDiff(before, after,
        Seq("l_orderkey", "l_linenumber"), Seq("l_quantity"))
    }),

    // Morton z-values over (l_partkey, l_suppkey) — the clustering key
    // behind multi-dimensional data skipping (operators.ZOrder). Bucket
    // widths and bit interleave are exact integer arithmetic against
    // full-table min/max, mirrored bit for bit by the generated oracle.
    "q_zorder" -> ((s, dir) => {
      val li = star(s, dir, "lineitem").df
      ZOrder.withZ(li, Seq("l_partkey", "l_suppkey"), bits = 8, zCol = "zval")
        .filter(col("l_orderkey") <= 100)
        .select(col("l_orderkey"), col("l_linenumber").cast(LongType).as("l_linenumber"),
          col("l_partkey"), col("l_suppkey"), col("zval"))
    }),

    // Edge-weighted PageRank: link REPETITION is signal — each (user, k)
    // pair's occurrence count weights its edge, so rank flows toward
    // frequently-referenced targets instead of splitting evenly. Same
    // integer micro-mass contract as q_pagerank, oracle unrolled.
    "q_weighted_pagerank" -> ((s, dir) => {
      val edges = linkEdges(s, dir)
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
      graft.functions.Graph.weightedPageRank(edges, "src", "dst", "w",
        iterations = 6)
    }),

    // Newman modularity of the label-propagation communities: Q =
    // Σ_c (e_c/m − (d_c/2m)²) — the standard partition-quality score
    // that tells you whether the detected communities beat random
    // expectation. Exact integer edge/degree sufficient statistics; each
    // community's contribution is one rounded IEEE chain decimal-summed,
    // and the oracle RE-DERIVES the communities via the unrolled LP
    // mirror rather than trusting them.
    "q_modularity" -> ((s, dir) => {
      val edges = linkEdges(s, dir)
      val comm = lpCommunitiesFor(s, dir)
      val und = edges
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .filter(col("a") =!= col("b")).distinct()
      val lbl = und
        .join(comm.select(col("node").as("a"), col("community").as("ca")),
          Seq("a"))
        .join(comm.select(col("node").as("b"), col("community").as("cb")),
          Seq("b"))
      val mAgg = und.agg(count(lit(1)).as("m"))
      val intra = lbl.filter(col("ca") === col("cb"))
        .groupBy(col("ca").as("c")).agg(count(lit(1)).as("ec"))
      val dc = lbl.select(explode(array(col("ca"), col("cb"))).as("c"))
        .groupBy(col("c")).agg(count(lit(1)).as("dc"))
      // ec/m − (dc/2m)² = (4·m·ec − dc²)/(4·m²): ONE pinned integer
      // ratio instead of a three-division IEEE chain
      val contrib = graft.functions.PinnedMath.pinnedRatio(
        lit(4) * col("m") * coalesce(col("ec"), lit(0L)) -
          col("dc") * col("dc"),
        lit(4) * col("m") * col("m"), 9)
        .cast(DecimalType(28, 9))
      dc.join(intra, Seq("c"), "left").crossJoin(broadcast(mAgg))
        .select(contrib.as("__q"))
        .agg(count(lit(1)).as("n_communities"),
          round(sum(col("__q")).cast(DoubleType), 6).as("modularity"))
        .crossJoin(broadcast(mAgg))
        .select(col("n_communities"), col("m"), col("modularity"))
    }),

    // Per-community conductance phi = cut / min(vol, 2m - vol) for the
    // ten largest label-propagation communities — the boundary-quality
    // view modularity's single number hides (a partition can score well
    // globally while one community leaks). Exact integer cut/volume
    // statistics; one rounded division each; the oracle re-derives the
    // communities through the unrolled LP mirror.
    "q_conductance" -> ((s, dir) => {
      val edges = linkEdges(s, dir)
      val comm = lpCommunitiesFor(s, dir)
      val und = edges
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .filter(col("a") =!= col("b")).distinct()
      val lbl = und
        .join(comm.select(col("node").as("a"), col("community").as("ca")),
          Seq("a"))
        .join(comm.select(col("node").as("b"), col("community").as("cb")),
          Seq("b"))
      val mAgg = und.agg(count(lit(1)).as("m"))
      val cut = lbl.filter(col("ca") =!= col("cb"))
        .select(explode(array(col("ca"), col("cb"))).as("c"))
        .groupBy(col("c")).agg(count(lit(1)).as("cut"))
      val vol = lbl.select(explode(array(col("ca"), col("cb"))).as("c"))
        .groupBy(col("c")).agg(count(lit(1)).as("vol"))
      val sizes = comm.groupBy(col("community").as("c"))
        .agg(count(lit(1)).as("n_nodes"))
      val win = org.apache.spark.sql.expressions.Window
        .orderBy(col("n_nodes").desc, col("community").asc)
      sizes.join(vol, Seq("c")).join(cut, Seq("c"), "left")
        .crossJoin(broadcast(mAgg))
        .select(col("c").as("community"), col("n_nodes"), col("vol"),
          coalesce(col("cut"), lit(0L)).as("cut"),
          // a community holding the WHOLE graph has denominator 0 and, by
          // construction, cut 0 — its boundary quality is perfect
          when(least(col("vol"), lit(2) * col("m") - col("vol")) > 0,
            graft.functions.PinnedMath.pinnedRatio(coalesce(col("cut"), lit(0L)),
              least(col("vol"), lit(2) * col("m") - col("vol")), 6))
            .otherwise(lit(0.0))
            .as("conductance"))
        .orderBy(col("n_nodes").desc, col("community").asc).limit(10)
        .withColumn("rank", row_number().over(win).cast(LongType))
    }),

    // Degree distribution of the link graph, log2-bucketed: the first
    // diagnostic on any new graph (is it power-law? where do the hubs
    // start?) and the input to choosing every hub cap in this library.
    // Integer bucket = number of doublings (bit length − 1), exact in
    // both engines.
    "q_degree_dist" -> ((s, dir) => {
      val edges = linkEdges(s, dir)
      val und = edges
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .filter(col("a") =!= col("b")).distinct()
      val deg = und.select(explode(array(col("a"), col("b"))).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      // floor(log2(deg)) as a shift-comparison ladder — integer-exact and
      // trivially mirrorable (deg is bounded by the node count; 2^20 caps
      // the ladder far above this graph's max degree)
      val b2 = (0 to 20).foldLeft(lit(0)) { (acc, k) =>
        when(col("deg") >= (1L << k), lit(k)).otherwise(acc)
      }
      deg.select(col("node"), b2.as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n_nodes"))
    }),

    // HITS hubs/authorities over the same harvested link graph — the
    // complementary link prior (directories vs referenced pages). L1
    // integer renormalization each half-step keeps everything exact
    // Long arithmetic; the oracle is the programmatically unrolled
    // 6-iteration DuckDB mirror, bit for bit.
    "q_hits" -> ((s, dir) => {
      val edges = linkEdges(s, dir)
      graft.functions.Graph.hits(edges, "src", "dst", iterations = 6)
    }),

    // Closed-form per-group least squares (REGR_SLOPE/REGR_INTERCEPT):
    // integer-cents inputs make every sufficient statistic (n, Σx, Σy,
    // Σx², Σxy) EXACT decimal arithmetic with map-side partial
    // aggregation — the shuffle carries 5 numbers per group, never rows —
    // and slope/intercept are each ONE IEEE division of exact decimals,
    // so the result is engine-independent at any scale.
    "q_regr_slope" -> ((s, dir) => {
      val cq = round(col("l_quantity") * 100).cast(LongType)
      val cp = round(col("l_extendedprice") * 100).cast(LongType)
      def dec(c: org.apache.spark.sql.Column) = sum(c.cast(DecimalType(38, 0)))
      star(s, dir, "lineitem").df
        .select(col("l_returnflag"), cq.as("__x"), cp.as("__y"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), dec(col("__x")).as("sx"),
          dec(col("__y")).as("sy"), dec(col("__x") * col("__x")).as("sxx"),
          dec(col("__x") * col("__y")).as("sxy"))
        .select(col("l_returnflag"), col("n"),
          graft.functions.PinnedMath.pinnedRatio(col("n") * col("sxy") - col("sx") * col("sy"),
            col("n") * col("sxx") - col("sx") * col("sx"), 6).as("slope"),
          graft.functions.PinnedMath.pinnedRatio(col("sy") * col("sxx") - col("sx") * col("sxy"),
            (col("n") * col("sxx") - col("sx") * col("sx")) * lit(100), 6)
            .as("intercept"))
    }),

    // --- exponential-decay activity score -----------------------------------
    // Recency-weighted per-user activity as of the corpus's last event:
    // each event contributes 2^(-age_days). The decay factor is built by
    // INTEGER shift (1.0 / (1 << age)) so every contribution is an exact
    // dyadic double — no pow(), whose last-ulp behavior is not pinned
    // across engines — then rounded and decimal-summed. Ages clamp at 62
    // days (contributions below 2^-62 are 0 at the output scale anyway).
    "q_event_decay" -> ((s, dir) => {
      val ev = Tables.df(s, dir, "events")
      val maxTs = broadcast(ev.agg(max(unix_timestamp(col("ts"))).as("__mx")))
      val contrib = round(lit(1.0) / expr(
          "shiftleft(1L, cast(least((__mx - unix_timestamp(ts)) div 86400, " +
            "62) as int))"), 12)
        .cast(DecimalType(28, 12))
      ev.crossJoin(maxTs)
        .select(col("user_id"), contrib.as("__c"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("__c")).cast(DoubleType), 6).as("decay_score"))
    }),

    // --- per-user EWMA -------------------------------------------------------
    // Exponentially-weighted moving average (alpha = 1/2) of each user's
    // event values at the stream end: s = sum(value_i / 2^(n-i+1)) under
    // the (ts, event_id) total order. Every weight is a DYADIC factor
    // built by integer shift — exact in IEEE, no pow() — then rounded and
    // decimal-summed; rank and group size come from ONE distributed-rank
    // pass (no per-user data window).
    "q_event_ewma" -> ((s, dir) => {
      val ev = Tables.df(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      val ranked = graft.functions.Windowing.globalRowNumberAndCount(
        ev, Seq("user_id"), Seq("ts", "event_id"),
        rnCol = "__rn", cntCol = "__gn", numPartitions = 8)
      val contrib = round(col("value") /
          expr("shiftleft(1L, cast(least(__gn - __rn + 1, 62) as int))"), 12)
        .cast(DecimalType(28, 12))
      ranked.select(col("user_id"), contrib.as("__c"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("__c")).cast(DoubleType), 6).as("ewma"))
    }),

    // Lag-1 autocorrelation of per-type hourly counts: is traffic
    // persistent (bursts cluster) or memoryless? Pearson r over the
    // (n_t, n_{t-1}) pairs with EXACT integer sufficient statistics from
    // the metadata-sized hourly table; r is one parenthesized IEEE chain
    // rounded to 6.
    "q_autocorr" -> ((s, dir) => {
      val hourly = Tables.df(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("n"))
      val byType = Window.partitionBy(col("event_type")).orderBy(col("h"))
      val pairs = hourly
        .withColumn("prev", lag(col("n"), 1).over(byType))
        .filter(col("prev").isNotNull)
      val r = round(
        (col("k") * col("sxy") - col("sx") * col("sy")).cast(DoubleType) /
          (sqrt((col("k") * col("sxx") - col("sx") * col("sx"))
            .cast(DoubleType)) *
           sqrt((col("k") * col("syy") - col("sy") * col("sy"))
            .cast(DoubleType))), 6)
      pairs.groupBy(col("event_type"))
        .agg(count(lit(1)).as("k"),
          sum(col("n")).as("sx"), sum(col("prev")).as("sy"),
          sum(col("n") * col("n")).as("sxx"),
          sum(col("prev") * col("prev")).as("syy"),
          sum(col("n") * col("prev")).as("sxy"))
        .select(col("event_type"), col("k"), r.as("autocorr_lag1"))
    }),

    // Chi-square independence test between document language and source:
    // is the language mix uniform across sources, or does some source
    // skew? Observed counts are exact integers; each cell's (o−e)²/e is
    // one parenthesized IEEE chain rounded then decimal-summed, so the
    // statistic (and dof) is engine-independent. The contingency table is
    // langs × sources — metadata-sized after one aggregate.
    "q_chi2_independence" -> ((s, dir) => {
      val docs = star(s, dir, "documents").df
      val cells = docs.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("o"))
      val rowT = cells.groupBy(col("lang")).agg(sum(col("o")).as("rt"))
      val colT = cells.groupBy(col("source")).agg(sum(col("o")).as("ct"))
      val tot = cells.agg(sum(col("o")).as("n"),
        countDistinct(col("lang")).as("nr"),
        countDistinct(col("source")).as("nc"))
      // (o − rt·ct/n)²/(rt·ct/n) = (o·n − rt·ct)²/(n·rt·ct): ONE pinned
      // integer ratio (diff squared in DECIMAL so the square never
      // overflows a Long) instead of a five-op IEEE chain
      val diff = (col("o") * col("n") - col("rt") * col("ct"))
        .cast(DecimalType(19, 0))
      val term = graft.functions.PinnedMath.pinnedRatio(diff * diff,
        col("n") * col("rt") * col("ct"), 9).cast(DecimalType(28, 9))
      cells.join(broadcast(rowT), Seq("lang"))
        .join(broadcast(colT), Seq("source"))
        .crossJoin(broadcast(tot))
        .select(term.as("__t"), col("nr"), col("nc"))
        .groupBy(col("nr"), col("nc"))
        .agg(round(sum(col("__t")).cast(DoubleType), 6).as("chi2"))
        .select(round(col("chi2"), 6).as("chi2"),
          ((col("nr") - 1) * (col("nc") - 1)).as("dof"))
    }),

    // Audience overlap: distinct-user intersection and Jaccard between
    // every pair of event types — which behaviors share users? The pair
    // join runs on the DISTINCT (user, type) table keyed by user, so
    // per-user fan-out is bounded by the type count (≤ k²/2 pairs per
    // user), never corpus-quadratic; one rounded division per pair.
    "q_audience_overlap" -> ((s, dir) => {
      val ut = Tables.df(s, dir, "events")
        .select(col("user_id"), col("event_type")).distinct()
      val sizes = ut.groupBy(col("event_type")).agg(count(lit(1)).as("nu"))
      val pairs = ut.select(col("user_id"), col("event_type").as("ta"))
        .join(ut.select(col("user_id"), col("event_type").as("tb")),
          Seq("user_id"))
        .filter(col("ta") < col("tb"))
        .groupBy(col("ta"), col("tb")).agg(count(lit(1)).as("n_shared"))
      pairs
        .join(broadcast(sizes.select(col("event_type").as("ta"),
          col("nu").as("na"))), Seq("ta"))
        .join(broadcast(sizes.select(col("event_type").as("tb"),
          col("nu").as("nb"))), Seq("tb"))
        .select(col("ta"), col("tb"), col("n_shared"), col("na"), col("nb"),
          graft.functions.PinnedMath.pinnedRatio(col("n_shared"),
            col("na") + col("nb") - col("n_shared"), 6).as("jaccard"))
    }),

    // Mann-Whitney U rank-sum test (two-sided companion to the KS gate):
    // U for src0 vs src1 document lengths with tie-corrected midranks.
    // DOUBLED ranks keep midranks integer-exact ((first+last) per tied
    // value), so U2 = 2U is an exact integer — no floating point anywhere
    // until the final effect size, one rounded division.
    "q_mann_whitney" -> ((s, dir) => {
      val docs = star(s, dir, "documents").df
        .filter(col("source").isin("src0", "src1"))
        .select(col("source"), col("n_chars"))
      val counts = docs.groupBy(col("n_chars"))
        .agg(sum(when(col("source") === "src0", 1L).otherwise(0L)).as("c1"),
          sum(when(col("source") === "src1", 1L).otherwise(0L)).as("c2"))
        .withColumn("ct", col("c1") + col("c2"))
      val w = Window.orderBy(col("n_chars"))
        .rowsBetween(Window.unboundedPreceding, -1)
      // doubled midrank of a tied block: (2·prev + 1) + (2·prev + ct)
      // summed over the block = first+last doubled ranks
      val withPrev = counts
        .withColumn("__prev", coalesce(sum(col("ct")).over(w), lit(0L)))
        .withColumn("__mid2", lit(2) * col("__prev") + col("ct") + 1)
      val agg = withPrev.agg(
        sum(col("c1") * col("__mid2")).as("r1x2"),
        sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
      // doubled U stays an exact integer even with .5 midranks
      agg.select(
        (col("r1x2") - col("n1") * (col("n1") + 1)).as("u1_x2"),
        col("n1"), col("n2"),
        graft.functions.PinnedMath.pinnedRatio(col("r1x2") - col("n1") * (col("n1") + 1),
          lit(2) * col("n1") * col("n2"), 6).as("effect_cl"))
    }),

    // Gini concentration of the per-source document mass: 0 = sources
    // evenly sized, →1 = one source dominates — the mixture-balance
    // health metric. Exact integer rank arithmetic over the per-source
    // counts (a handful of rows after aggregation).
    "q_gini_sources" -> ((s, dir) => {
      val sizes = star(s, dir, "documents").df
        .groupBy(col("source")).agg(count(lit(1)).as("x"))
      val w = Window.orderBy(col("x"), col("source"))
      val ranked = sizes.withColumn("i", row_number().over(w).cast(LongType))
      ranked.agg(count(lit(1)).as("n"), sum(col("x")).as("tot"),
          sum(col("i") * col("x")).as("ix"))
        .select(col("n"), col("tot"),
          // 2·ix/(n·tot) − (n+1)/n = (2·ix − (n+1)·tot)/(n·tot): ONE
          // pinned integer ratio instead of two IEEE quotients
          graft.functions.PinnedMath.pinnedRatio(lit(2) * col("ix") - (col("n") + 1) * col("tot"),
            col("n") * col("tot"), 6).as("gini"))
    }),

    // Two-sample Kolmogorov-Smirnov drift test between two sources'
    // document-length distributions: D = max |F1(x) − F2(x)| computed
    // EXACTLY over the distinct-value table (per-value counts + two
    // running sums — vocabulary-sized, data rows never enter a window);
    // each CDF evaluation is one rounded division, the max is over
    // rounded values, so D is engine-independent. The classic
    // distribution-shift gate between ingest slices.
    "q_ks_test" -> ((s, dir) => {
      val docs = star(s, dir, "documents").df
        .filter(col("source").isin("src0", "src1"))
        .select(col("source"), col("n_chars"))
      val counts = docs.groupBy(col("n_chars"))
        .agg(sum(when(col("source") === "src0", 1L).otherwise(0L)).as("c1"),
          sum(when(col("source") === "src1", 1L).otherwise(0L)).as("c2"))
      val tot = counts.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
      val w = Window.orderBy(col("n_chars"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // |F1 − F2| = |c1cum·n2 − c2cum·n1| / (n1·n2): pinned integer ratio
      val d = graft.functions.PinnedMath.pinnedRatio(abs(
        sum(col("c1")).over(w) * col("n2") -
          sum(col("c2")).over(w) * col("n1")), col("n1") * col("n2"), 6)
      counts.crossJoin(broadcast(tot))
        .select(col("n_chars"), d.as("d"))
        .agg(max(col("d")).as("ks_d"),
          max(struct(col("d"), col("n_chars"))).getField("n_chars")
            .as("at_n_chars"))
        .crossJoin(broadcast(tot))
        .select(col("ks_d"), col("at_n_chars"), col("n1"), col("n2"))
    }),

    // Seasonal traffic profile: expected load per (event_type,
    // day-of-week, hour-of-day) cell and each cell's lift over its
    // type's overall hourly mean — the capacity-planning / staffing
    // matrix. Exact integer sufficient statistics; the lift is one
    // rounded IEEE division.
    "q_event_seasonal" -> ((s, dir) => {
      val ev = Tables.df(s, dir, "events")
      val cells = ev.select(col("event_type"),
          dayofweek(col("ts")).as("dow"), hour(col("ts")).as("hod"))
        .groupBy(col("event_type"), col("dow"), col("hod"))
        .agg(count(lit(1)).as("n"))
      val tot = cells.groupBy(col("event_type"))
        .agg(sum(col("n")).as("tn"), count(lit(1)).as("tc"))
      cells.join(broadcast(tot), Seq("event_type"))
        .select(col("event_type"), col("dow"), col("hod"), col("n"),
          graft.functions.PinnedMath.pinnedRatio(col("n") * col("tc"), col("tn"), 4).as("lift"))
    }),

    // Robust outlier detection per event type: the modified z-score
    // 0.6745·|x − median| / MAD with the 3.5 cutoff (Iglewicz & Hoaglin
    // 1993) — immune to the outliers it hunts, unlike mean/stddev. Both
    // the median and the MAD are EXACT nearest-rank order statistics from
    // the distributed rank (no percentile_approx), so the whole report is
    // engine-independent; the z chain is one rounded IEEE product.
    "q_mad_outliers" -> ((s, dir) => {
      val ev = Tables.df(s, dir, "events")
        .select(col("event_type"), col("event_id"), col("value"))
      val med = graft.functions.Windowing.globalQuantiles(ev,
          Seq("event_type"), Seq("value", "event_id"), Seq(50),
          numPartitions = 8)
        .select(col("event_type"), col("value").as("med"))
      val dev = ev.join(broadcast(med), Seq("event_type"))
        .withColumn("dev", abs(col("value") - col("med")))
      val mad = graft.functions.Windowing.globalQuantiles(
          dev.select(col("event_type"), col("event_id"), col("dev")),
          Seq("event_type"), Seq("dev", "event_id"), Seq(50),
          numPartitions = 8)
        .select(col("event_type"), col("dev").as("mad"))
      // exact cutoff: 0.6745·dev/mad > 3.5 ⟺ 1349·dev > 7000·mad
      // (×2000 both sides — two exact-small-integer IEEE products, no
      // quotient, no round, identical in any engine)
      val isOut = lit(1349.0) * col("dev") > lit(7000.0) * col("mad")
      dev.join(broadcast(mad), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), max(col("med")).as("med"),
          max(col("mad")).as("mad"),
          sum(when(col("mad") > 0 && isOut, 1L).otherwise(0L))
            .as("n_outliers"))
    }),

    // Market-basket pair mining: the top-20 part pairs co-purchased in
    // the same order with their support counts — the association-rule
    // primitive. The pair join is keyed on the order and bounded by
    // basket size (~7 lines), so pair volume is Σ basket² — linear in
    // orders at bounded basket width, never corpus-quadratic; support
    // counting is one map-side-combined aggregate.
    "q_basket_pairs" -> ((s, dir) => {
      val li = star(s, dir, "lineitem").df
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val pairs = li.select(col("l_orderkey"), col("l_partkey").as("pa"))
        .join(li.select(col("l_orderkey"), col("l_partkey").as("pb")),
          Seq("l_orderkey"))
        .filter(col("pa") < col("pb"))
      val counted = pairs.groupBy(col("pa"), col("pb"))
        .agg(count(lit(1)).as("support"))
      val win = org.apache.spark.sql.expressions.Window
        .orderBy(col("support").desc, col("pa").asc, col("pb").asc)
      counted.orderBy(col("support").desc, col("pa").asc, col("pb").asc)
        .limit(20)
        .withColumn("rank", row_number().over(win).cast(LongType))
    }),

    // Item-item collaborative-filtering similarity: top-20 part pairs by
    // co-occurrence cosine c(a,b)/√(f(a)·f(b)) — the "customers also
    // bought" primitive, normalizing q_basket_pairs' raw support so
    // popular parts don't drown the ranking. Exact integer counts, one
    // rounded IEEE chain per surviving pair, basket-bounded pair volume.
    "q_item_cf" -> ((s, dir) => {
      val li = star(s, dir, "lineitem").df
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val freq = li.groupBy(col("l_partkey")).agg(count(lit(1)).as("f"))
      val pairs = li.select(col("l_orderkey"), col("l_partkey").as("pa"))
        .join(li.select(col("l_orderkey"), col("l_partkey").as("pb")),
          Seq("l_orderkey"))
        .filter(col("pa") < col("pb"))
        .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2) // noise floor before any scoring
      val scored = pairs
        .join(freq.select(col("l_partkey").as("pa"), col("f").as("fa")),
          Seq("pa"))
        .join(freq.select(col("l_partkey").as("pb"), col("f").as("fb")),
          Seq("pb"))
        .select(col("pa"), col("pb"), col("c"),
          round(col("c").cast(DoubleType) /
            (sqrt(col("fa").cast(DoubleType)) *
              sqrt(col("fb").cast(DoubleType))), 6).as("cosine"))
      val win = org.apache.spark.sql.expressions.Window
        .orderBy(col("cosine").desc, col("pa").asc, col("pb").asc)
      scored.orderBy(col("cosine").desc, col("pa").asc, col("pb").asc)
        .limit(20)
        .withColumn("rank", row_number().over(win).cast(LongType))
    }),

    // 2-D Pareto frontier over a lineitem slice: rows maximal in
    // (quantity, price) — the skyline selection rule. The engine
    // collapses to the distinct-x best-y table + a suffix-max window over
    // it; the oracle is the genuinely independent quadratic NOT EXISTS
    // domination test.
    "q_pareto" -> ((s, dir) => {
      val li = star(s, dir, "lineitem").df
        .filter(col("l_orderkey") <= 2000)
        .select(col("l_orderkey"),
          col("l_linenumber").cast(LongType).as("l_linenumber"),
          round(col("l_quantity")).cast(LongType).as("qty"),
          round(col("l_extendedprice") * 100).cast(LongType).as("price_cents"))
      graft.functions.Windowing.paretoFront2D(li, "qty", "price_cents")
        .select(col("l_orderkey"), col("l_linenumber"), col("qty"),
          col("price_cents"))
    }),

    // Entity-resolution capstone: planted customer-record variants (one
    // substitution, one deletion per selected md5 name) are re-clustered
    // end to end — FastSS deletion-neighborhood blocking, codegen
    // levenshtein verify, connected components, keep-min golden record.
    // The oracle is the PLANTED ground truth: md5 bases are pairwise far
    // apart, so the engine must recover exactly the planted clusters —
    // any spurious cross-link or missed variant breaks the match.
    "q_entity_resolution" -> ((s, dir) => {
      val base = star(s, dir, "customer").df
        .select(col("c_custkey"),
          md5(col("c_custkey").cast(StringType)).as("name"))
      val recs = base
        .select((col("c_custkey") * 10).as("record_id"), col("name"))
        .unionByName(base.filter(col("c_custkey") % 3 === 0)
          .select((col("c_custkey") * 10 + 1).as("record_id"),
            concat(lit("z"), substring(col("name"), 2, 64)).as("name")))
        .unionByName(base.filter(col("c_custkey") % 5 === 0)
          .select((col("c_custkey") * 10 + 2).as("record_id"),
            substring(col("name"), 2, 64).as("name")))
      val pairs = graft.operators.FuzzyJoin.editDistance1Pairs(
        recs, "record_id", "name")
      val comps = graft.functions.Dedup.connectedComponents(
        pairs.select(col("id_a").as("idA"), col("id_b").as("idB")))
      val resolved = recs
        .join(comps.withColumnRenamed("id", "record_id"),
          Seq("record_id"), "left")
        .select(col("record_id"),
          coalesce(col("component"), col("record_id")).as("canonical_id"))
      val sizes = resolved.groupBy(col("canonical_id"))
        .agg(count(lit(1)).as("cluster_size"))
      resolved.join(sizes, Seq("canonical_id"))
        .select(col("record_id"), col("canonical_id"), col("cluster_size"))
    }),

    // --- forensics / governance ---------------------------------------------
    // Benford first-digit test on extended prices — the data-forensics
    // screen for fabricated or re-scaled numeric columns. The digit comes
    // from the integer CENTS string (leading significant digit is
    // invariant under x100, and integer-to-string is identical in both
    // engines — no log10 boundary hazards); shares and the Benford
    // expectation are each one rounded IEEE chain.
    "q_benford" -> ((s, dir) => {
      val li = star(s, dir, "lineitem").df
      val cents = round(col("l_extendedprice") * 100).cast(LongType)
      val digit = substring(cents.cast(StringType), 0, 1)
      val total = broadcast(li.agg(count(lit(1)).as("__t")))
      li.select(digit.as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
        .crossJoin(total)
        .select(col("digit"), col("n"),
          graft.functions.PinnedMath.pinnedRatio(col("n"), col("__t"), 6).as("share"),
          round(log(10.0,
            lit(1.0) + lit(1.0) / col("digit").cast(DoubleType)), 6)
            .as("benford"))
    }),

    // k-anonymity audit over the (event_type, hour-of-day) quasi-
    // identifier: combinations backed by fewer than k distinct users
    // re-identify — the governance gate before releasing event slices.
    // ONE exact count(DISTINCT) per combo (a single distinct aggregate
    // costs no Expand multiplication).
    "q_k_anon" -> ((s, dir) => {
      val ev = Tables.df(s, dir, "events")
      ev.select(col("event_type"), hour(col("ts")).as("hod"), col("user_id"))
        .groupBy(col("event_type"), col("hod"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("user_id")).as("n_users"))
        .withColumn("anonymous", col("n_users") >= 50)
    }),

    // --- inter-event gaps ----------------------------------------------------
    // Per-user inter-arrival statistics via the DISTRIBUTED lag
    // (Windowing.globalLag: range-partitioned rank + one (user, rank-1)
    // join — no per-user window task). Gaps are exact integer
    // microseconds; the average is one rounded IEEE division.
    "q_event_gap" -> ((s, dir) => {
      val ev = Tables.df(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"))
      val lagged = graft.functions.Windowing.globalLag(ev,
        Seq("user_id"), Seq("ts", "event_id"), Seq("ts"), numPartitions = 8)
      lagged.filter(col("lag_ts").isNotNull)
        .select(col("user_id"),
          (unix_micros(col("ts")) - unix_micros(col("lag_ts"))).as("gap"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_gaps"),
          max(col("gap")).as("max_gap_us"),
          graft.functions.PinnedMath.pinnedRatio(sum(col("gap")),
            count(lit(1)) * lit(1000000L), 6).as("avg_gap_s"))
    }),

    // Time-weighted average value per user (TWAP): each observation holds
    // until the next one, so the mean weights values by their holding
    // time — the standard for irregular samples (prices, sensors), where
    // a plain mean over-counts bursts. Holding times are exact integer
    // microseconds from the distributed lag; each contribution is rounded
    // then decimal-summed; the final division is one rounded IEEE op.
    "q_event_twap" -> ((s, dir) => {
      val ev = Tables.df(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      val lagged = graft.functions.Windowing.globalLag(ev,
        Seq("user_id"), Seq("ts", "event_id"), Seq("ts", "value"),
        numPartitions = 8)
      val dtSec = (unix_micros(col("ts")) - unix_micros(col("lag_ts")))
        .cast(DoubleType) / 1e6
      val contrib = round(col("lag_value") * dtSec, 6)
        .cast(DecimalType(28, 6))
      lagged.filter(col("lag_ts").isNotNull)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_intervals"),
          // Σcontrib / (span_us/1e6) = Σcontrib·10^6 / span_us with an
          // integral numerator (contrib has scale 6) — pinned ratio
          graft.functions.PinnedMath.pinnedRatio(sum(contrib) * lit(1000000L),
            max(unix_micros(col("ts"))) - min(unix_micros(col("lag_ts"))),
            6).as("twap"))
    }),

    // --- top user paths ------------------------------------------------------
    // The 10 most common opening event-type sequences (first 5 events per
    // user under the (ts, event_id) total order) — path analysis. The
    // per-user ordering is an array_sort over a collect_list aggregate
    // (bounded by per-user activity — no window over the event stream),
    // the path histogram one tiny aggregate, the top-10 a TakeOrdered.
    "q_event_paths" -> ((s, dir) => {
      val ev = Tables.df(s, dir, "events")
      val paths = ev.groupBy(col("user_id"))
        .agg(array_sort(collect_list(struct(col("ts"), col("event_id"),
          col("event_type")))).as("__evs"))
        .select(array_join(transform(slice(col("__evs"), 1, 5),
          e => e.getField("event_type")), ">").as("path"))
      val counted = paths.groupBy(col("path")).agg(count(lit(1)).as("n"))
      val top = counted.orderBy(col("n").desc, col("path").asc).limit(10)
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("n").desc, col("path").asc)
      top.withColumn("rank", row_number().over(w).cast("long"))
    }),

    // --- event-type Markov chain --------------------------------------------
    // First-order transition matrix over each user's time-ordered event
    // stream (the user-journey model): exact transition counts + one
    // rounded IEEE division per matrix cell. Consecutive pairs come from
    // the distributed rank under the (ts, event_id) total order, joined
    // rank-to-rank+1 — no per-user data window, no event-stream self-join
    // on time.
    "q_event_markov" -> ((s, dir) => {
      val ev = Tables.df(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      val ranked = graft.functions.Windowing.globalRowNumber(
        ev, Seq("user_id"), Seq("ts", "event_id"), "rn")
      val a = ranked.select(col("user_id"), col("rn"),
        col("event_type").as("from_type"))
      val b = ranked.select(col("user_id"), (col("rn") - 1).as("rn"),
        col("event_type").as("to_type"))
      val trans = a.join(b, Seq("user_id", "rn"))
        .groupBy(col("from_type"), col("to_type")).agg(count(lit(1)).as("n"))
      val totals = trans.groupBy(col("from_type")).agg(sum(col("n")).as("tot"))
      trans.join(broadcast(totals), Seq("from_type"))
        .select(col("from_type"), col("to_type"), col("n"),
          graft.functions.PinnedMath.pinnedRatio(col("n"), col("tot"), 6).as("p"))
    }),

    // --- hourly anomaly detection -------------------------------------------
    // Per event type, hours whose event count deviates from that type's
    // mean by more than 2 sample standard deviations. Sufficient
    // statistics (hour count, Σn, Σn²) are exact integers aggregated with
    // map-side combine over the tiny hourly table; the z-score is one
    // parenthesized IEEE chain over their double conversions, ROUNDED
    // BEFORE the threshold compare so the filter itself is
    // engine-independent. Only observed hours enter the baseline (no
    // zero-filling — the gap-fill variant is q_resample_locf's shape).
    "q_event_anomaly" -> ((s, dir) => {
      val hourly = Tables.df(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("n"))
      val stats = hourly.groupBy(col("event_type"))
        .agg(count(lit(1)).as("hh"), sum(col("n")).as("s1"),
          sum(col("n") * col("n")).as("s2"))
      val z = round(
        (col("n").cast(DoubleType) - col("s1").cast(DoubleType) / col("hh")) /
          sqrt((col("s2").cast(DoubleType) -
            col("s1").cast(DoubleType) * col("s1") / col("hh")) /
            (col("hh") - 1)), 4)
      hourly.join(broadcast(stats), Seq("event_type"))
        .select(col("event_type"), col("h"), col("n"), z.as("z"))
        .filter(abs(col("z")) > 2.0)
    }),

    // CUSUM change-point detection (Page 1954) over per-type hourly
    // counts: S_t = cum_t − min(0, min_{j<t} cum_j) with drift k = the
    // per-type integer-floor mean — the closed form of the sequential
    // CUSUM recursion (running sum minus its running minimum), so the
    // whole detector is two windows over the ALREADY-AGGREGATED hourly
    // table (metadata-sized: types × hours — data rows never enter a
    // window). Everything integer-exact; alarms at the classic 5k with a
    // floor of 5 for sparse types.
    "q_event_cusum" -> ((s, dir) => {
      val hourly = Tables.df(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("n"))
      val drift = hourly.groupBy(col("event_type"))
        .agg(expr("sum(n) div count(1)").cast(LongType).as("k"))
      val byType = Window.partitionBy(col("event_type")).orderBy(col("h"))
      val prefix = byType.rowsBetween(Window.unboundedPreceding, -1)
      val withCum = hourly.join(broadcast(drift), Seq("event_type"))
        .withColumn("__cum", sum(col("n") - col("k")).over(byType))
        .withColumn("__mn",
          least(coalesce(min(col("__cum")).over(prefix), lit(0L)), lit(0L)))
      withCum
        .select(col("event_type"), col("h"), col("n"),
          (col("__cum") - col("__mn")).as("cusum"),
          ((col("__cum") - col("__mn")) >= greatest(col("k") * 5, lit(5L)))
            .as("alarm"))
    }),

    // RFM segmentation: per-user recency/frequency/monetary quintiles
    // over purchase events (decimal-exact spend so the quintile order is
    // engine-independent), distributed NTILE per dimension, segment =
    // concatenated digits. Quintile 5 = most recent / frequent / valuable.
    "q_rfm" -> ((s, dir) => {
      val ev = star(s, dir, "events").df.filter(col("event_type") === "purchase")
      val per = ev.groupBy(col("user_id"))
        .agg(max(col("ts")).as("last_ts"),
          count(lit(1)).as("frequency"),
          sum(round(col("value"), 6).cast(DecimalType(28, 6))).as("__m"))
        .withColumn("monetary", round(col("__m").cast(DoubleType), 2))
        .drop("__m")
        .withColumn("__g", lit("all"))
      def q(in: DataFrame, orderCol: String, out: String) =
        graft.functions.Windowing.globalNtile(in, Seq("__g"),
          Seq(orderCol, "user_id"), k = 5, outCol = out, numPartitions = 8)
      val scored = q(q(q(per, "last_ts", "r_q"), "frequency", "f_q"),
        "monetary", "m_q")
      scored.select(col("user_id"), col("frequency"), col("monetary"),
        col("r_q").cast(LongType).as("r_q"),
        col("f_q").cast(LongType).as("f_q"),
        col("m_q").cast(LongType).as("m_q"),
        concat(col("r_q"), col("f_q"), col("m_q")).as("segment"))
    }),

    // Ordered conversion funnel signup → view → click → purchase:
    // earliest-chain milestones per user (min qualifying ts strictly
    // after the previous step), per-step user counts + conversion.
    "q_funnel_steps" -> ((s, dir) =>
      graft.functions.Events.funnel(star(s, dir, "events").df,
        "user_id", "event_type", "ts",
        Seq("signup", "view", "click", "purchase"))),

    // Day-granularity cohort retention over the first week of offsets:
    // users cohorted by first-event day, active-day counts per offset.
    // The cohort day is projected as an ISO string so both engines hash
    // the same representation (DATE physical types differ across the
    // parquet/pandas/DuckDB hop).
    "q_cohort_retention" -> ((s, dir) =>
      graft.functions.Events.cohortRetention(star(s, dir, "events").df,
        "user_id", "ts", maxOffsetDays = 7)
        .select(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
          col("day_offset"), col("n_users"), col("retention"))),

    // Deterministic Poisson-bootstrap CI for the mean tokens/doc: every
    // (doc, resample) weight is a pure md5 function through the inverse
    // Poisson(1) CDF, resample means are decimal-exact, percentiles
    // nearest-rank — the whole interval hash-matches the SQL mirror.
    "q_bootstrap_ci" -> ((s, dir) =>
      graft.functions.Validation.bootstrapCI(
        star(s, dir, "documents").df, "doc_id",
        graft.functions.Text.tokenCount(col("text")), resamples = 100)),

    "q_approx_stats" -> ((s, dir) => {
      val li = star(s, dir, "lineitem").df
      // Two passes joined on the 3-row group key: mixing count(DISTINCT)
      // with other aggregates would force an Expand (one input copy per
      // aggregate family) over the whole fact table.
      val base = li.groupBy(col("l_returnflag"))
        .agg(
          approx_count_distinct(col("l_partkey")).as("apx"),
          percentile_approx(col("l_quantity"), lit(0.5), lit(10000)).as("apx_med"),
          expr("percentile(l_quantity, 0.45)").as("p45"),
          expr("percentile(l_quantity, 0.55)").as("p55"),
          count(lit(1)).as("n"))
      val exactDistinct = li.select(col("l_returnflag"), col("l_partkey"))
        .distinct()
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_parts"))
      base.join(exactDistinct, "l_returnflag")
        .select(col("l_returnflag"), col("n"), col("n_parts"),
          (abs(col("apx") - col("n_parts")).cast(DoubleType) <=
            col("n_parts").cast(DoubleType) * 0.10).as("hll_ok"),
          (col("apx_med") >= col("p45") && col("apx_med") <= col("p55")).as("med_ok"))
    }),

    // Pearson correlation matrix over the 4 lineitem measures: ALL 15
    // sufficient statistics (4 sums, 4 sums of squares, 6 cross-products,
    // count) ride ONE map-side-combined aggregate pass as exact decimals
    // of integer cents (the q_regr_slope scheme, matrix-sized); each of
    // the 6 pair correlations is one rounded IEEE chain off the single
    // stats row, exploded — a 100 TB correlation matrix is one scan,
    // shuffling 15 numbers per partition.
    "q_corr_matrix" -> ((s, dir) => {
      val cents = (c: org.apache.spark.sql.Column) =>
        round(c * 100).cast(DecimalType(38, 0))
      val cols = Seq("l_quantity" -> "q", "l_extendedprice" -> "e",
        "l_discount" -> "d", "l_tax" -> "x")
      val t = star(s, dir, "lineitem").df
        .select(cols.map { case (n, a) => cents(col(n)).as(a) }: _*)
      val sums =
        cols.map { case (_, a) => sum(col(a)).as(s"s_$a") } ++
        cols.map { case (_, a) => sum(col(a) * col(a)).as(s"s_${a}${a}") } ++
        cols.combinations(2).map { case Seq((_, a), (_, b)) =>
          sum(col(a) * col(b)).as(s"s_$a$b") }.toSeq
      val g = t.agg(count(lit(1)).as("n"), sums: _*)
      def corrOf(a: String, b: String) = round(
        (col("n") * col(s"s_$a$b") - col(s"s_$a") * col(s"s_$b")).cast(DoubleType) /
          sqrt((col("n") * col(s"s_$a$a") - col(s"s_$a") * col(s"s_$a")).cast(DoubleType) *
               (col("n") * col(s"s_$b$b") - col(s"s_$b") * col(s"s_$b")).cast(DoubleType)), 6)
      val entries = array(cols.combinations(2).map { case Seq((na, a), (nb, b)) =>
        struct(lit(na).as("col_x"), lit(nb).as("col_y"),
          col("n").as("n"), corrOf(a, b).as("corr"))
      }.toSeq: _*)
      g.select(explode(entries).as("__e"))
        .select(col("__e.col_x").as("col_x"), col("__e.col_y").as("col_y"),
          col("__e.n").as("n"), col("__e.corr").as("corr"))
    }),

    // Equi-width histogram of l_extendedprice in 20 bins: min/max from one
    // tiny aggregate broadcast back, bin assignment a pure projection, one
    // count aggregate — two scans total, no sort, no window. Bin bounds
    // are part of the checked output.
    "q_histogram" -> ((s, dir) => {
      val li = star(s, dir, "lineitem").df
      val mm = li.agg(min(col("l_extendedprice")).as("mn"),
        max(col("l_extendedprice")).as("mx"))
      // bin edges via integer cents: mn + bin·(mx−mn)/20 =
      // (20·MN + bin·(MX−MN)) / 2000 with MN/MX the exact cent values —
      // the 2-decimal inputs make the edge an exact ≤4-decimal value that
      // can sit exactly on the 4-decimal round boundary (see PinnedMath)
      val mnC = round(col("mn") * 100).cast(LongType)
      val mxC = round(col("mx") * 100).cast(LongType)
      li.crossJoin(broadcast(mm))
        .select(least(floor((col("l_extendedprice") - col("mn")) * 20.0 /
            (col("mx") - col("mn"))), lit(19.0)).cast(LongType).as("bin"),
          col("mn"), col("mx"))
        .groupBy(col("bin"), col("mn"), col("mx"))
        .agg(count(lit(1)).as("n"))
        .select(col("bin"),
          graft.functions.PinnedMath.pinnedRatio(mnC * 20 + col("bin") * (mxC - mnC), lit(2000L), 4).as("lo"),
          graft.functions.PinnedMath.pinnedRatio(mnC * 20 + (col("bin") + 1) * (mxC - mnC), lit(2000L), 4)
            .as("hi"),
          col("n"))
    })
  )

  /** Unrolled integer-exact PageRank: one CTE triple (inflow, sink mass,
    * new ranks) per iteration, mirroring Graph.pageRank's arithmetic
    * operation for operation (`//` is DuckDB floor division, matching
    * Spark's `div` on non-negative longs). */
  private def pageRankOracle(iters: Int): String = {
    val head =
      """WITH edges AS MATERIALIZED (
        |  SELECT DISTINCT user_id AS src,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS dst
        |  FROM events
        |  WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        |outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
        |m AS (SELECT 1000000000000 // count(*) AS m0, count(*) AS n FROM nodes),
        |r0 AS (SELECT node, (SELECT m0 FROM m) AS r FROM nodes)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""c$i AS (
         |  SELECT e.dst AS node, sum(r.r // o.deg) AS s
         |  FROM edges e JOIN r${i - 1} r ON e.src = r.node
         |    JOIN outdeg o ON e.src = o.src
         |  GROUP BY e.dst),
         |d$i AS (
         |  SELECT coalesce(sum(r.r), 0) AS dang
         |  FROM r${i - 1} r LEFT JOIN outdeg o ON r.node = o.src
         |  WHERE o.src IS NULL),
         |r$i AS MATERIALIZED (
         |  SELECT nd.node,
         |    15 * m.m0 // 100 + 85 * (coalesce(c.s, 0) + d.dang // m.n) // 100 AS r
         |  FROM nodes nd LEFT JOIN c$i c ON nd.node = c.node
         |    CROSS JOIN d$i d CROSS JOIN m)""".stripMargin
    }
    (head +: steps).mkString(",\n") +
      // CAST: sum()/`//` chains widen to HUGEINT in DuckDB; the driver's
      // hasher coerces HUGEINT→float64 while Spark writes int64, failing
      // hash_match on identical values. Ranks are ≤1e12, well inside int64.
      s"\nSELECT node, CAST(r AS BIGINT) AS rank FROM r$iters"
  }

  /** Unrolled integer-exact personalized PageRank, mirroring
    * Graph.personalizedPageRank operation for operation (teleport and
    * dangling mass to seeds only). */
  private def pprOracle(iters: Int, seeds: Seq[Long]): String = {
    val nSeeds = seeds.length
    val m0 = 1000000000000L / nSeeds
    val seedShare = 15L * 1000000000000L / 100L / nSeeds
    val sl = seeds.mkString(", ")
    val head =
      s"""WITH edges AS MATERIALIZED (
         |  SELECT DISTINCT user_id AS src,
         |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS dst
         |  FROM events
         |  WHERE json_extract_string(props, '$$.k') IS NOT NULL),
         |nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
         |outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
         |r0 AS (SELECT node, CASE WHEN node IN ($sl) THEN $m0 ELSE 0 END AS r
         |       FROM nodes)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""c$i AS (
         |  SELECT e.dst AS node, sum(r.r // o.deg) AS s
         |  FROM edges e JOIN r${i - 1} r ON e.src = r.node
         |    JOIN outdeg o ON e.src = o.src
         |  GROUP BY e.dst),
         |d$i AS (
         |  SELECT coalesce(sum(r.r), 0) AS dang
         |  FROM r${i - 1} r LEFT JOIN outdeg o ON r.node = o.src
         |  WHERE o.src IS NULL),
         |r$i AS MATERIALIZED (
         |  SELECT nd.node,
         |    (CASE WHEN nd.node IN ($sl) THEN $seedShare ELSE 0 END) +
         |    85 * (coalesce(c.s, 0) +
         |      CASE WHEN nd.node IN ($sl) THEN d.dang // $nSeeds ELSE 0 END) // 100 AS r
         |  FROM nodes nd LEFT JOIN c$i c ON nd.node = c.node
         |    CROSS JOIN d$i d)""".stripMargin
    }
    (head +: steps).mkString(",\n") +
      s"\nSELECT node, CAST(r AS BIGINT) AS rank FROM r$iters"
  }

  /** Unrolled k-core peeling, mirroring Graph.kCore round for round. */
  private def kcoreOracle(k: Int, rounds: Int): String = {
    val head =
      """WITH edges AS MATERIALIZED (
        |  SELECT DISTINCT user_id AS src,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS dst
        |  FROM events
        |  WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |e0 AS MATERIALIZED (
        |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM edges WHERE src <> dst)""".stripMargin
    val steps = (1 to rounds).map { i =>
      s"""d$i AS (
         |  SELECT node, count(*) AS deg FROM (
         |    SELECT a AS node FROM e${i - 1}
         |    UNION ALL SELECT b FROM e${i - 1})
         |  GROUP BY 1),
         |k$i AS (SELECT node FROM d$i WHERE deg >= $k),
         |e$i AS MATERIALIZED (
         |  SELECT e.a, e.b FROM e${i - 1} e
         |    JOIN k$i x ON x.node = e.a JOIN k$i y ON y.node = e.b)""".stripMargin
    }
    (head +: steps).mkString(",\n") +
      s"""\nSELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
         |  SELECT a AS node FROM e$rounds UNION ALL SELECT b FROM e$rounds)
         |GROUP BY 1""".stripMargin
  }

  /** Unrolled synchronous label propagation, mirroring
    * Graph.labelPropagation round for round. */
  /** Unrolled edge-weighted PageRank mirror: flow = r·w // ΣW(src). */
  private def wprOracle(iters: Int): String = {
    val head =
      """WITH edges AS MATERIALIZED (
        |  SELECT user_id AS src,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS dst,
        |    CAST(count(*) AS BIGINT) AS w
        |  FROM events
        |  WHERE json_extract_string(props, '$.k') IS NOT NULL
        |  GROUP BY 1, 2),
        |nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        |outw AS (SELECT src, sum(w) AS ow FROM edges GROUP BY src),
        |m AS (SELECT 1000000000000 // count(*) AS m0, count(*) AS n FROM nodes),
        |r0 AS (SELECT node, (SELECT m0 FROM m) AS r FROM nodes)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""c$i AS (
         |  SELECT e.dst AS node, sum(r.r * e.w // o.ow) AS s
         |  FROM edges e JOIN r${i - 1} r ON e.src = r.node
         |    JOIN outw o ON e.src = o.src
         |  GROUP BY e.dst),
         |d$i AS (
         |  SELECT coalesce(sum(r.r), 0) AS dang
         |  FROM r${i - 1} r LEFT JOIN outw o ON r.node = o.src
         |  WHERE o.src IS NULL),
         |r$i AS MATERIALIZED (
         |  SELECT nd.node,
         |    15 * m.m0 // 100 + 85 * (coalesce(c.s, 0) + d.dang // m.n) // 100 AS r
         |  FROM nodes nd LEFT JOIN c$i c ON nd.node = c.node
         |    CROSS JOIN d$i d CROSS JOIN m)""".stripMargin
    }
    (head +: steps).mkString(",\n") +
      s"\nSELECT node, CAST(r AS BIGINT) AS rank FROM r$iters"
  }

  /** Unrolled multi-source BFS mirror: d_k = min(d_{k-1}, 1 + d_{k-1} of
    * any in-neighbor), seeds at distance 0. */
  private def bfsOracle(seeds: Seq[Long], rounds: Int): String = {
    val seedSql = seeds.map(s =>
      s"SELECT CAST($s AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist")
      .mkString(" UNION ALL ")
    val base =
      "WITH raw AS MATERIALIZED (\n" +
        "  SELECT DISTINCT user_id AS src,\n" +
        "    CAST(json_extract_string(props, '$.k') AS BIGINT) AS dst\n" +
        "  FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL),\n" +
        s"d0 AS MATERIALIZED ($seedSql)"
    val iters = (1 to rounds).map { k =>
      s""",
         |d$k AS MATERIALIZED (
         |  SELECT node, min(dist) AS dist FROM (
         |    SELECT e.dst AS node, d.dist + 1 AS dist
         |    FROM d${k - 1} d JOIN raw e ON d.node = e.src
         |    UNION ALL SELECT node, dist FROM d${k - 1})
         |  GROUP BY node)""".stripMargin
    }.mkString
    base + iters + s"\nSELECT node, dist FROM d$rounds"
  }

  /** DuckDB mirror of ZOrder.withZ over (l_partkey, l_suppkey): the same
    * ceil-width bucketization and round-robin bit interleave, unrolled. */
  private def zOracle(bits: Int): String = {
    val k = 1L << bits
    val terms = (0 until bits).flatMap(i => Seq(
      s"(((b0 >> $i) & 1) << ${2 * i})",
      s"(((b1 >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")
    s"""WITH st AS (
       |  SELECT min(l_partkey) AS mnp, max(l_partkey) AS mxp,
       |         min(l_suppkey) AS mns, max(l_suppkey) AS mxs
       |  FROM lineitem),
       |b AS (
       |  SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
       |    l_partkey, l_suppkey,
       |    least(greatest(l_partkey - mnp, 0)
       |      // greatest((mxp - mnp + $k) // $k, 1), ${k - 1}) AS b0,
       |    least(greatest(l_suppkey - mns, 0)
       |      // greatest((mxs - mns + $k) // $k, 1), ${k - 1}) AS b1
       |  FROM lineitem, st
       |  WHERE l_orderkey <= 100)
       |SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
       |  CAST($terms AS BIGINT) AS zval
       |FROM b""".stripMargin
  }

  private def lpOracle(iters: Int): String = {
    val head =
      """WITH edges AS MATERIALIZED (
        |  SELECT DISTINCT user_id AS src,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS dst
        |  FROM events
        |  WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |e AS MATERIALIZED (
        |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM edges WHERE src <> dst),
        |dir AS MATERIALIZED (
        |  SELECT a AS src, b AS dst FROM e
        |  UNION ALL SELECT b, a FROM e),
        |nodes AS (SELECT DISTINCT src AS node FROM dir),
        |l0 AS (SELECT node, node AS lbl FROM nodes)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""c$i AS (
         |  SELECT d.dst AS node, l.lbl, count(*) AS n
         |  FROM dir d JOIN l${i - 1} l ON d.src = l.node
         |  GROUP BY 1, 2),
         |l$i AS MATERIALIZED (
         |  SELECT node, lbl FROM (
         |    SELECT node, lbl, row_number() OVER (PARTITION BY node
         |      ORDER BY n DESC, lbl ASC) AS rn
         |    FROM c$i)
         |  WHERE rn = 1)""".stripMargin
    }
    (head +: steps).mkString(",\n") +
      s"\nSELECT node, lbl AS community FROM l$iters"
  }

  private def hitsOracle(iters: Int): String = {
    val head =
      """WITH edges AS MATERIALIZED (
        |  SELECT DISTINCT user_id AS src,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS dst
        |  FROM events
        |  WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        |m AS (SELECT count(*) AS n FROM nodes),
        |h0 AS (SELECT node, 1000000 // (SELECT n FROM m) AS h FROM nodes)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""ar$i AS (
         |  SELECT e.dst AS node, sum(h.h) AS s
         |  FROM edges e JOIN h${i - 1} h ON e.src = h.node GROUP BY e.dst),
         |sa$i AS (SELECT greatest(coalesce(sum(s), 0), 1) AS t FROM ar$i),
         |a$i AS MATERIALIZED (
         |  SELECT nd.node, coalesce(ar.s, 0) * 1000000 // (SELECT t FROM sa$i) AS a
         |  FROM nodes nd LEFT JOIN ar$i ar ON nd.node = ar.node),
         |hr$i AS (
         |  SELECT e.src AS node, sum(a.a) AS s
         |  FROM edges e JOIN a$i a ON e.dst = a.node GROUP BY e.src),
         |sh$i AS (SELECT greatest(coalesce(sum(s), 0), 1) AS t FROM hr$i),
         |h$i AS MATERIALIZED (
         |  SELECT nd.node, coalesce(hr.s, 0) * 1000000 // (SELECT t FROM sh$i) AS h
         |  FROM nodes nd LEFT JOIN hr$i hr ON nd.node = hr.node)""".stripMargin
    }
    (head +: steps).mkString(",\n") +
      s"\nSELECT h.node, CAST(h.h AS BIGINT) AS hub, CAST(a.a AS BIGINT) AS auth" +
      s"\nFROM h$iters h JOIN a$iters a ON h.node = a.node"
  }

  /** Build-once-per-dataset label-propagation communities of the events
    * link graph — the shared input of q_modularity and q_conductance.
    * Memoized on disk like the ANN indexes (a community assignment is a
    * materialized graph index: cluster once, score many), gated on the
    * parquet _SUCCESS marker; the timed queries measure partition-quality
    * SCORING, not re-clustering. LP itself is deterministic (the oracle
    * re-derives the identical communities via the unrolled SQL mirror). */
  /** The harvested (user_id → props.k) link graph every graph query
    * consumes. [[graft.functions.Spread]] first: events is a single-file,
    * single-row-group scan, so without it the fused JSON-parse +
    * partial-distinct map stage runs as ONE task (measured 1.24 s at
    * local[32] while 31 cores idled); at production scale the scan arrives
    * pre-split and Spread is a no-op. */
  private def linkEdges(s: SparkSession, dir: String): DataFrame =
    // project to the two consumed columns BEFORE the exchange (§2.3): the
    // spread shuffle then moves (user_id, props), not the full event row
    graft.functions.Spread(
        star(s, dir, "events").df.select(col("user_id"), col("props")))
      .select(col("user_id").as("src"),
        get_json_object(col("props"), "$.k").cast(LongType).as("dst"))
      .filter(col("dst").isNotNull)

  private def lpCommunitiesFor(s: SparkSession, dir: String): DataFrame = {
    val path = Tables.memoDir("lp4", dir, "lp4")
    if (!java.nio.file.Files.exists(
        java.nio.file.Paths.get(path, "_SUCCESS"))) {
      graft.functions.Graph.labelPropagation(linkEdges(s, dir), "src", "dst",
        iterations = 4)
        .write.mode("overwrite").parquet(path)
    }
    s.read.parquet(path)
  }

  val oracleSql: Map[String, String] = Map(
    "q_autocorr" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |p AS (
        |  SELECT event_type, n,
        |    lag(n) OVER (PARTITION BY event_type ORDER BY h) AS prev
        |  FROM hourly),
        |a AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(n) AS BIGINT) AS sx, CAST(sum(prev) AS BIGINT) AS sy,
        |    CAST(sum(n * n) AS BIGINT) AS sxx,
        |    CAST(sum(prev * prev) AS BIGINT) AS syy,
        |    CAST(sum(n * prev) AS BIGINT) AS sxy
        |  FROM p WHERE prev IS NOT NULL GROUP BY 1)
        |SELECT event_type, k,
        |  round(CAST(k * sxy - sx * sy AS DOUBLE) /
        |    (sqrt(CAST(k * sxx - sx * sx AS DOUBLE)) *
        |     sqrt(CAST(k * syy - sy * sy AS DOUBLE))), 6) AS autocorr_lag1
        |FROM a""".stripMargin,

    "q_chi2_independence" ->
      """WITH cells AS (
        |  SELECT lang, source, CAST(count(*) AS BIGINT) AS o
        |  FROM documents GROUP BY 1, 2),
        |rt AS (SELECT lang, CAST(sum(o) AS BIGINT) AS rt FROM cells GROUP BY 1),
        |ct AS (SELECT source, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY 1),
        |t AS (
        |  SELECT CAST(sum(o) AS BIGINT) AS n,
        |    CAST(count(DISTINCT lang) AS BIGINT) AS nr,
        |    CAST(count(DISTINCT source) AS BIGINT) AS nc
        |  FROM cells),
        |q AS (
        |  SELECT CAST(PINNED_CHI2_TERM AS DECIMAL(28,9))
        |      AS tm,
        |    t.nr, t.nc
        |  FROM cells JOIN rt USING (lang) JOIN ct USING (source), t)
        |SELECT round(CAST(sum(tm) AS DOUBLE), 6) AS chi2,
        |  (nr - 1) * (nc - 1) AS dof
        |FROM q GROUP BY nr, nc""".stripMargin
        .replace("PINNED_CHI2_TERM", Tables.pinnedRatioSql(
          "CAST(o * t.n - rt.rt * ct.ct AS HUGEINT) * " +
            "CAST(o * t.n - rt.rt * ct.ct AS HUGEINT)",
          "t.n * rt.rt * ct.ct", 9)),

    "q_audience_overlap" ->
      """WITH ut AS (
        |  SELECT DISTINCT user_id, event_type FROM events),
        |sz AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS nu
        |  FROM ut GROUP BY 1),
        |p AS (
        |  SELECT a.event_type AS ta, b.event_type AS tb,
        |    CAST(count(*) AS BIGINT) AS n_shared
        |  FROM ut a JOIN ut b
        |    ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT ta, tb, n_shared, sa.nu AS na, sb.nu AS nb,
        |  PINNED_JACCARD AS jaccard
        |FROM p JOIN sz sa ON p.ta = sa.event_type
        |       JOIN sz sb ON p.tb = sb.event_type""".stripMargin
        .replace("PINNED_JACCARD", Tables.pinnedRatioSql(
          "n_shared", "sa.nu + sb.nu - n_shared", 6)),

    "q_mann_whitney" ->
      """WITH d0 AS (
        |  SELECT source, n_chars FROM documents
        |  WHERE source IN ('src0', 'src1')),
        |c AS (
        |  SELECT n_chars,
        |    CAST(coalesce(sum(CASE WHEN source = 'src0' THEN 1 END), 0)
        |      AS BIGINT) AS c1,
        |    CAST(coalesce(sum(CASE WHEN source = 'src1' THEN 1 END), 0)
        |      AS BIGINT) AS c2
        |  FROM d0 GROUP BY 1),
        |p AS (
        |  SELECT *, c1 + c2 AS ct,
        |    CAST(coalesce(sum(c1 + c2) OVER (ORDER BY n_chars
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS prev
        |  FROM c),
        |a AS (
        |  SELECT CAST(sum(c1 * (2 * prev + ct + 1)) AS BIGINT) AS r1x2,
        |    CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2
        |  FROM p)
        |SELECT r1x2 - n1 * (n1 + 1) AS u1_x2, n1, n2,
        |  PINNED_EFFECT AS effect_cl
        |FROM a""".stripMargin
        .replace("PINNED_EFFECT", Tables.pinnedRatioSql(
          "r1x2 - n1 * (n1 + 1)", "2 * n1 * n2", 6)),

    "q_gini_sources" ->
      """WITH s AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS x
        |  FROM documents GROUP BY 1),
        |r AS (
        |  SELECT *, CAST(row_number() OVER (ORDER BY x, source) AS BIGINT) AS i
        |  FROM s)
        |SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS tot,
        |  PINNED_GINI AS gini
        |FROM r""".stripMargin
        .replace("PINNED_GINI", Tables.pinnedRatioSql(
          "2 * sum(i * x) - (count(*) + 1) * sum(x)",
          "count(*) * sum(x)", 6)),

    "q_ks_test" ->
      """WITH d0 AS (
        |  SELECT source, n_chars FROM documents
        |  WHERE source IN ('src0', 'src1')),
        |c AS (
        |  SELECT n_chars,
        |    CAST(coalesce(sum(CASE WHEN source = 'src0' THEN 1 END), 0)
        |      AS BIGINT) AS c1,
        |    CAST(coalesce(sum(CASE WHEN source = 'src1' THEN 1 END), 0)
        |      AS BIGINT) AS c2
        |  FROM d0 GROUP BY 1),
        |t AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
        |             CAST(sum(c2) AS BIGINT) AS n2 FROM c),
        |r AS (
        |  SELECT n_chars, PINNED_KS_D AS d
        |  FROM c, t)
        |SELECT r.d AS ks_d, r.n_chars AS at_n_chars, t.n1, t.n2
        |FROM r, t ORDER BY r.d DESC, r.n_chars DESC LIMIT 1""".stripMargin
        .replace("PINNED_KS_D", Tables.pinnedRatioSql(
          "abs(sum(c1) OVER (ORDER BY n_chars ROWS BETWEEN UNBOUNDED " +
            "PRECEDING AND CURRENT ROW) * t.n2 - sum(c2) OVER (ORDER BY " +
            "n_chars ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
            "* t.n1)",
          "t.n1 * t.n2", 6)),

    "q_event_seasonal" ->
      """WITH cells AS (
        |  SELECT event_type, dayofweek(ts) + 1 AS dow, hour(ts) AS hod,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2, 3),
        |tot AS (
        |  SELECT event_type, CAST(sum(n) AS BIGINT) AS tn,
        |    CAST(count(*) AS BIGINT) AS tc
        |  FROM cells GROUP BY 1)
        |SELECT c.event_type, CAST(c.dow AS INTEGER) AS dow,
        |  CAST(c.hod AS INTEGER) AS hod, c.n,
        |  PINNED_LIFT AS lift
        |FROM cells c JOIN tot t USING (event_type)""".stripMargin
        .replace("PINNED_LIFT",
          Tables.pinnedRatioSql("c.n * t.tc", "t.tn", 4)),

    "q_mad_outliers" ->
      """WITH e AS (SELECT event_type, event_id, value FROM events),
        |r1 AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY value, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM e),
        |med AS (
        |  SELECT event_type, value AS med FROM r1
        |  WHERE rn = (50 * n + 99) // 100),
        |d AS (
        |  SELECT e.event_type, e.event_id, m.med,
        |    abs(e.value - m.med) AS dev
        |  FROM e JOIN med m USING (event_type)),
        |r2 AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY dev, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM d),
        |mad AS (
        |  SELECT event_type, dev AS mad FROM r2
        |  WHERE rn = (50 * n + 99) // 100)
        |SELECT d.event_type, CAST(count(*) AS BIGINT) AS n,
        |  max(d.med) AS med, max(mad.mad) AS mad,
        |  CAST(coalesce(sum(CASE WHEN mad.mad > 0
        |      AND 1349 * d.dev > 7000 * mad.mad
        |    THEN 1 END), 0) AS BIGINT) AS n_outliers
        |FROM d JOIN mad USING (event_type) GROUP BY 1""".stripMargin,

    "q_item_cf" ->
      """WITH b AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |f AS (
        |  SELECT l_partkey, CAST(count(*) AS BIGINT) AS f FROM b GROUP BY 1),
        |p AS (
        |  SELECT a.l_partkey AS pa, c.l_partkey AS pb,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM b a JOIN b c
        |    ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |s AS (
        |  SELECT pa, pb, c,
        |    round(CAST(c AS DOUBLE) /
        |      (sqrt(CAST(fa.f AS DOUBLE)) * sqrt(CAST(fb.f AS DOUBLE))), 6)
        |      AS cosine
        |  FROM p JOIN f fa ON p.pa = fa.l_partkey
        |         JOIN f fb ON p.pb = fb.l_partkey),
        |r AS (
        |  SELECT *, row_number() OVER (ORDER BY cosine DESC, pa, pb) AS rk
        |  FROM s)
        |SELECT pa, pb, c, cosine, CAST(rk AS BIGINT) AS rank
        |FROM r WHERE rk <= 20""".stripMargin,

    "q_basket_pairs" ->
      """WITH b AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |p AS (
        |  SELECT a.l_partkey AS pa, c.l_partkey AS pb,
        |    CAST(count(*) AS BIGINT) AS support
        |  FROM b a JOIN b c
        |    ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT *, row_number() OVER (ORDER BY support DESC, pa, pb) AS rk
        |  FROM p)
        |SELECT pa, pb, support, CAST(rk AS BIGINT) AS rank
        |FROM r WHERE rk <= 20""".stripMargin,

    "q_pareto" ->
      """WITH s AS (
        |  SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |    CAST(round(l_quantity, 0) AS BIGINT) AS qty,
        |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS price_cents
        |  FROM lineitem WHERE l_orderkey <= 2000)
        |SELECT a.* FROM s a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM s b
        |  WHERE b.qty >= a.qty AND b.price_cents >= a.price_cents
        |    AND (b.qty > a.qty OR b.price_cents > a.price_cents))""".stripMargin,

    "q_entity_resolution" ->
      """WITH recs AS (
        |  SELECT c_custkey, c_custkey * 10 AS record_id FROM customer
        |  UNION ALL
        |  SELECT c_custkey, c_custkey * 10 + 1 FROM customer
        |  WHERE c_custkey % 3 = 0
        |  UNION ALL
        |  SELECT c_custkey, c_custkey * 10 + 2 FROM customer
        |  WHERE c_custkey % 5 = 0),
        |sz AS (
        |  SELECT c_custkey, CAST(count(*) AS BIGINT) AS cluster_size
        |  FROM recs GROUP BY 1)
        |SELECT record_id, c_custkey * 10 AS canonical_id, cluster_size
        |FROM recs JOIN sz USING (c_custkey)""".stripMargin,

    "q_benford" ->
      """WITH d AS (
        |  SELECT substr(CAST(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
        |    AS VARCHAR), 1, 1) AS digit
        |  FROM lineitem),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS tt FROM d)
        |SELECT digit, CAST(count(*) AS BIGINT) AS n,
        |  PINNED_SHARE AS share,
        |  round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 6) AS benford
        |FROM d, t GROUP BY digit, t.tt""".stripMargin
        .replace("PINNED_SHARE",
          Tables.pinnedRatioSql("count(*)", "t.tt", 6)),

    "q_k_anon" ->
      """SELECT event_type, CAST(hour(ts) AS INTEGER) AS hod,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  count(DISTINCT user_id) >= 50 AS anonymous
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q_event_twap" ->
      """WITH o AS (
        |  SELECT user_id, value, epoch_us(ts) AS us,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |                            ORDER BY ts, event_id) AS pus,
        |    lag(value) OVER (PARTITION BY user_id
        |                     ORDER BY ts, event_id) AS pval
        |  FROM events)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_intervals,
        |  PINNED_TWAP AS twap
        |FROM o WHERE pus IS NOT NULL GROUP BY user_id""".stripMargin
        .replace("PINNED_TWAP", Tables.pinnedRatioSql(
          "sum(CAST(round(pval * (CAST(us - pus AS DOUBLE) / 1000000.0)," +
            " 6) AS DECIMAL(28,6))) * 1000000",
          "max(us) - min(pus)", 6)),

    "q_event_gap" ->
      """WITH o AS (
        |  SELECT user_id, epoch_us(ts) AS us,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |                            ORDER BY ts, event_id) AS pus
        |  FROM events)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
        |  CAST(max(us - pus) AS BIGINT) AS max_gap_us,
        |  PINNED_AVG_GAP AS avg_gap_s
        |FROM o WHERE pus IS NOT NULL GROUP BY user_id""".stripMargin
        .replace("PINNED_AVG_GAP", Tables.pinnedRatioSql(
          "sum(us - pus)", "count(*) * 1000000", 6)),

    "q_event_ewma" ->
      """WITH o AS (
        |  SELECT user_id, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS gn
        |  FROM events)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  round(CAST(sum(CAST(round(
        |      value / (CAST(1 AS BIGINT) << CAST(least(gn - rn + 1, 62) AS INTEGER)),
        |      12) AS DECIMAL(28,12))) AS DOUBLE), 6) AS ewma
        |FROM o GROUP BY user_id""".stripMargin,

    "q_event_decay" ->
      """WITH mx AS (SELECT max(epoch_us(ts) // 1000000) AS mx FROM events),
        |c AS (
        |  SELECT user_id,
        |    CAST(round(1.0 / (1 << CAST(least(
        |      (mx.mx - epoch_us(ts) // 1000000) // 86400, 62) AS INTEGER)),
        |      12) AS DECIMAL(28,12)) AS c
        |  FROM events, mx)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  round(CAST(sum(c) AS DOUBLE), 6) AS decay_score
        |FROM c GROUP BY user_id""".stripMargin,

    "q_event_paths" ->
      """WITH seqs AS (
        |  SELECT user_id, list(event_type ORDER BY ts, event_id) AS evs
        |  FROM events GROUP BY user_id),
        |paths AS (
        |  SELECT array_to_string(list_slice(evs, 1, 5), '>') AS path
        |  FROM seqs),
        |counted AS (SELECT path, CAST(count(*) AS BIGINT) AS n
        |            FROM paths GROUP BY 1),
        |ranked AS (
        |  SELECT *, row_number() OVER (ORDER BY n DESC, path ASC) AS rank
        |  FROM counted)
        |SELECT path, n, rank FROM ranked WHERE rank <= 10""".stripMargin,

    "q_event_markov" ->
      """WITH o AS (
        |  SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS nxt
        |  FROM events),
        |t AS (
        |  SELECT event_type AS from_type, nxt AS to_type, count(*) AS n
        |  FROM o WHERE nxt IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT from_type, sum(n) AS tot FROM t GROUP BY 1)
        |SELECT t.from_type, t.to_type, CAST(t.n AS BIGINT) AS n,
        |  PINNED_P AS p
        |FROM t JOIN tot USING (from_type)""".stripMargin
        .replace("PINNED_P", Tables.pinnedRatioSql("t.n", "tot.tot", 6)),

    "q_event_cusum" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |drift AS (
        |  SELECT event_type, CAST(sum(n) // count(*) AS BIGINT) AS k
        |  FROM hourly GROUP BY 1),
        |c AS (
        |  SELECT hourly.event_type, h, n, k,
        |    sum(n - k) OVER (PARTITION BY hourly.event_type ORDER BY h) AS cum
        |  FROM hourly JOIN drift USING (event_type)),
        |m AS (
        |  SELECT *, least(coalesce(min(cum) OVER (
        |      PARTITION BY event_type ORDER BY h
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0), 0) AS mn
        |  FROM c)
        |SELECT event_type, h, n, CAST(cum - mn AS BIGINT) AS cusum,
        |  (cum - mn) >= greatest(k * 5, 5) AS alarm
        |FROM m""".stripMargin,

    "q_event_anomaly" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |stats AS (
        |  SELECT event_type, count(*) AS hh, sum(n) AS s1, sum(n * n) AS s2
        |  FROM hourly GROUP BY 1),
        |scored AS (
        |  SELECT h.event_type, CAST(h.h AS TIMESTAMP) AS h,
        |    CAST(h.n AS BIGINT) AS n,
        |    round((CAST(h.n AS DOUBLE) - CAST(s.s1 AS DOUBLE) / s.hh) /
        |      sqrt((CAST(s.s2 AS DOUBLE) -
        |        CAST(s.s1 AS DOUBLE) * s.s1 / s.hh) / (s.hh - 1)), 4) AS z
        |  FROM hourly h JOIN stats s USING (event_type))
        |SELECT event_type, h, n, z FROM scored WHERE abs(z) > 2.0""".stripMargin,

    "q_pagerank" -> pageRankOracle(8),
    "q_ppr" -> pprOracle(6, Seq(1L, 2L, 3L)),
    "q_label_prop" -> lpOracle(4),
    "q_kcore" -> kcoreOracle(10, 4),
    "q_triangles" ->
      """WITH edges AS MATERIALIZED (
        |  SELECT DISTINCT user_id AS src,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS dst
        |  FROM events
        |  WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |e AS MATERIALIZED (
        |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM edges WHERE src <> dst),
        |tri AS MATERIALIZED (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1 JOIN e e2 ON e2.a = e1.b
        |    JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |n AS (
        |  SELECT x AS node FROM tri
        |  UNION ALL SELECT y FROM tri
        |  UNION ALL SELECT z FROM tri)
        |SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM n GROUP BY 1""".stripMargin,

    "q_link_predict" ->
      """WITH raw AS (
        |  SELECT DISTINCT user_id AS src,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS dst
        |  FROM events
        |  WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |e AS MATERIALIZED (
        |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM raw WHERE src <> dst),
        |adj AS MATERIALIZED (
        |  SELECT a AS z, b AS x FROM e UNION ALL SELECT b, a FROM e),
        |deg AS (SELECT z, count(*) AS deg FROM adj GROUP BY z),
        |w AS (
        |  SELECT z,
        |    CAST(round(1.0 / ln(CAST(deg AS DOUBLE)), 12) AS DECIMAL(28,12)) AS w
        |  FROM deg WHERE deg BETWEEN 2 AND 10000),
        |wedge AS (
        |  SELECT a1.x AS a, a2.x AS b, w.w
        |  FROM adj a1 JOIN adj a2 ON a1.z = a2.z AND a1.x < a2.x
        |    JOIN w ON w.z = a1.z),
        |scored AS (
        |  SELECT a, b, round(CAST(sum(w) AS DOUBLE), 6) AS aa_score,
        |    CAST(count(*) AS BIGINT) AS n_common
        |  FROM wedge GROUP BY a, b),
        |cand AS (
        |  SELECT s.* FROM scored s
        |  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = s.a AND e.b = s.b)),
        |ranked AS (
        |  SELECT *, row_number() OVER (ORDER BY aa_score DESC, a, b) AS rk
        |  FROM cand)
        |SELECT a, b, aa_score, n_common, CAST(rk AS BIGINT) AS rank
        |FROM ranked WHERE rk <= 20""".stripMargin,
    "q_hits" -> hitsOracle(6),
    "q_bfs" -> bfsOracle(Seq(1L, 2L), 4),
    "q_weighted_pagerank" -> wprOracle(6),

    "q_conductance" ->
      s"""WITH comm AS MATERIALIZED (
         |  SELECT * FROM (
         |${lpOracle(4).linesIterator.map("    " + _).mkString("\n")}
         |  ) lp),
         |raw AS (
         |  SELECT DISTINCT user_id AS src,
         |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS dst
         |  FROM events
         |  WHERE json_extract_string(props, '$$.k') IS NOT NULL),
         |e AS MATERIALIZED (
         |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |  FROM raw WHERE src <> dst),
         |lbl AS MATERIALIZED (
         |  SELECT e.a, e.b, ca.community AS ca, cb.community AS cb
         |  FROM e JOIN comm ca ON e.a = ca.node
         |         JOIN comm cb ON e.b = cb.node),
         |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
         |cut AS (
         |  SELECT c, CAST(count(*) AS BIGINT) AS cut FROM (
         |    SELECT ca AS c FROM lbl WHERE ca <> cb
         |    UNION ALL SELECT cb FROM lbl WHERE ca <> cb)
         |  GROUP BY 1),
         |vol AS (
         |  SELECT c, CAST(count(*) AS BIGINT) AS vol FROM (
         |    SELECT ca AS c FROM lbl UNION ALL SELECT cb FROM lbl)
         |  GROUP BY 1),
         |sz AS (
         |  SELECT community AS c, CAST(count(*) AS BIGINT) AS n_nodes
         |  FROM comm GROUP BY 1),
         |j AS (
         |  SELECT sz.c AS community, sz.n_nodes, vol.vol,
         |    coalesce(cut.cut, 0) AS cut,
         |    CASE WHEN least(vol.vol, 2 * mm.m - vol.vol) > 0
         |      THEN ${Tables.pinnedRatioSql("coalesce(cut.cut, 0)",
                    "least(vol.vol, 2 * mm.m - vol.vol)", 6)}
         |      ELSE 0.0 END AS conductance
         |  FROM sz JOIN vol ON sz.c = vol.c
         |       LEFT JOIN cut ON sz.c = cut.c, mm),
         |r AS (
         |  SELECT *, row_number() OVER (ORDER BY n_nodes DESC, community)
         |    AS rk
         |  FROM j)
         |SELECT community, n_nodes, vol, cut, conductance,
         |  CAST(rk AS BIGINT) AS rank
         |FROM r WHERE rk <= 10""".stripMargin,

    "q_degree_dist" -> {
      val ladder = (0 to 20).map(k =>
        s"WHEN deg >= ${1L << k} THEN $k").reverse.mkString(" ")
      s"""WITH raw AS (
         |  SELECT DISTINCT user_id AS src,
         |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS dst
         |  FROM events
         |  WHERE json_extract_string(props, '$$.k') IS NOT NULL),
         |e AS (
         |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |  FROM raw WHERE src <> dst),
         |d AS (
         |  SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
         |    SELECT a AS node FROM e UNION ALL SELECT b FROM e)
         |  GROUP BY 1)
         |SELECT CAST(CASE $ladder ELSE 0 END AS INTEGER) AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_nodes
         |FROM d GROUP BY 1""".stripMargin
    },

    "q_modularity" ->
      s"""WITH comm AS MATERIALIZED (
         |  SELECT * FROM (
         |${lpOracle(4).linesIterator.map("    " + _).mkString("\n")}
         |  ) lp),
         |raw AS (
         |  SELECT DISTINCT user_id AS src,
         |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS dst
         |  FROM events
         |  WHERE json_extract_string(props, '$$.k') IS NOT NULL),
         |e AS MATERIALIZED (
         |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |  FROM raw WHERE src <> dst),
         |lbl AS (
         |  SELECT e.a, e.b, ca.community AS ca, cb.community AS cb
         |  FROM e JOIN comm ca ON e.a = ca.node
         |         JOIN comm cb ON e.b = cb.node),
         |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
         |intra AS (
         |  SELECT ca AS c, CAST(count(*) AS BIGINT) AS ec
         |  FROM lbl WHERE ca = cb GROUP BY 1),
         |dcs AS (
         |  SELECT c, CAST(count(*) AS BIGINT) AS dc FROM (
         |    SELECT ca AS c FROM lbl UNION ALL SELECT cb FROM lbl)
         |  GROUP BY 1),
         |q AS (
         |  SELECT CAST(${Tables.pinnedRatioSql(
                  "4 * mm.m * coalesce(intra.ec, 0) - dcs.dc * dcs.dc",
                  "4 * mm.m * mm.m", 9)} AS DECIMAL(28,9))
         |    AS qc
         |  FROM dcs LEFT JOIN intra ON dcs.c = intra.c, mm)
         |SELECT CAST(count(*) AS BIGINT) AS n_communities, mm.m,
         |  round(CAST(sum(qc) AS DOUBLE), 6) AS modularity
         |FROM q, mm GROUP BY mm.m""".stripMargin,
    "q_zorder" -> zOracle(8),

    "q_snapshot_diff" ->
      """WITH b AS (
        |  SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |    l_quantity
        |  FROM lineitem),
        |a AS (
        |  SELECT l_orderkey, l_linenumber,
        |    CASE WHEN l_orderkey % 23 = 0 THEN l_quantity + 1.0
        |         ELSE l_quantity END AS l_quantity
        |  FROM b WHERE l_orderkey % 19 <> 0
        |  UNION ALL SELECT 9000001, 1, 42.0),
        |j AS (
        |  SELECT l_orderkey, l_linenumber,
        |    b.l_quantity AS bq, a.l_quantity AS aq
        |  FROM b FULL JOIN a USING (l_orderkey, l_linenumber))
        |SELECT l_orderkey, l_linenumber,
        |  CASE WHEN aq IS NULL THEN bq ELSE aq END AS l_quantity,
        |  CASE WHEN bq IS NULL THEN 'I' WHEN aq IS NULL THEN 'D'
        |       WHEN bq <> aq THEN 'U' END AS op
        |FROM j
        |WHERE (CASE WHEN bq IS NULL THEN 'I' WHEN aq IS NULL THEN 'D'
        |            WHEN bq <> aq THEN 'U' END) IS NOT NULL""".stripMargin,

    "q_incr_agg" ->
      """WITH survivors AS (
        |  SELECT l_returnflag, l_linestatus, l_quantity FROM lineitem
        |  WHERE l_orderkey % 13 <> 0
        |  UNION ALL SELECT 'X', 'X', 5.0
        |  UNION ALL SELECT 'X', 'X', 7.25
        |  UNION ALL SELECT 'A', 'F', 1.5)
        |SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE), 2)
        |    AS qty_sum
        |FROM survivors GROUP BY 1, 2""".stripMargin,

    "q_retention" ->
      """WITH cohorts AS (
        |  SELECT user_id, date_trunc('hour', min(ts)) AS cohort
        |  FROM events GROUP BY user_id),
        |active AS (
        |  SELECT DISTINCT user_id, date_trunc('hour', ts) AS h FROM events)
        |SELECT CAST(c.cohort AS TIMESTAMP) AS cohort,
        |  count(DISTINCT c.user_id) AS n_users,
        |  count(CASE WHEN a.h = c.cohort + INTERVAL 1 HOUR THEN 1 END) AS n_h1,
        |  count(CASE WHEN a.h = c.cohort + INTERVAL 2 HOUR THEN 1 END) AS n_h2
        |FROM cohorts c JOIN active a USING (user_id)
        |GROUP BY c.cohort""".stripMargin,

    "q_funnel" ->
      """WITH firsts AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
        |    min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
        |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy
        |  FROM events GROUP BY user_id)
        |SELECT count(t_view) AS n_view,
        |  count(CASE WHEN t_click > t_view THEN 1 END) AS n_view_click,
        |  count(CASE WHEN t_click > t_view AND t_buy > t_click THEN 1 END)
        |    AS n_full
        |FROM firsts""".stripMargin,

    "q_rollup" ->
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
         |  ${sqlDsum("l_quantity")} AS sum_qty
         |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,

    "q_cube" ->
      s"""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
         |  ${sqlDsum("o_totalprice")} AS sum_price
         |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,

    "q_grouping_sets" ->
      s"""SELECT o_orderstatus, o_orderpriority,
         |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
         |  count(*) AS n, ${sqlDsum("o_totalprice")} AS sum_price
         |FROM orders GROUP BY GROUPING SETS (
         |  (o_orderstatus, o_orderpriority), (o_orderstatus), ())""".stripMargin,

    "q_intersect" ->
      """SELECT l_suppkey FROM lineitem WHERE l_quantity >= 45
        |INTERSECT
        |SELECT l_suppkey FROM lineitem WHERE l_quantity <= 5""".stripMargin,

    "q_except" ->
      """SELECT c_custkey FROM customer
        |EXCEPT
        |SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'P'""".stripMargin,

    "q_resample_locf" ->
      """WITH binned AS (
        |  SELECT user_id, ((epoch_us(ts) // 1000000) // 21600) * 21600 AS bin,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS obs
        |  FROM events GROUP BY 1, 2),
        |bounds AS (SELECT user_id, min(bin) AS lo, max(bin) AS hi FROM binned GROUP BY 1),
        |grid AS (SELECT user_id, unnest(generate_series(lo, hi, 21600)) AS bin FROM bounds)
        |SELECT g.user_id, make_timestamp(g.bin * 1000000) AS bin_ts, b.obs AS value
        |FROM grid g ASOF LEFT JOIN binned b
        |  ON g.user_id = b.user_id AND g.bin >= b.bin""".stripMargin,

    "q_resample_interp" ->
      """WITH binned AS (
        |  SELECT user_id, ((epoch_us(ts) // 1000000) // 21600) * 21600 AS bin,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS obs
        |  FROM events GROUP BY 1, 2),
        |bounds AS (SELECT user_id, min(bin) AS lo, max(bin) AS hi FROM binned GROUP BY 1),
        |grid AS (SELECT user_id, unnest(generate_series(lo, hi, 21600)) AS bin FROM bounds),
        |j AS (
        |  SELECT g.user_id, g.bin, b.obs
        |  FROM grid g LEFT JOIN binned b ON g.user_id = b.user_id AND g.bin = b.bin),
        |f AS (
        |  SELECT user_id, bin, obs,
        |    last_value(CASE WHEN obs IS NOT NULL THEN bin END IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pb,
        |    last_value(obs IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |    first_value(CASE WHEN obs IS NOT NULL THEN bin END IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY bin
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nb,
        |    first_value(obs IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY bin
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv
        |  FROM j)
        |SELECT user_id, make_timestamp(bin * 1000000) AS bin_ts,
        |  CASE WHEN obs IS NOT NULL THEN obs
        |       ELSE round(pv + (nv - pv) * CAST(bin - pb AS DOUBLE) /
        |                  CAST(nb - pb AS DOUBLE), 6) END AS value,
        |  obs IS NULL AS interpolated
        |FROM f""".stripMargin,

    "q_asof_join" ->
      """SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP) AS ts, e.err_id,
        |  CAST(e.err_ts AS TIMESTAMP) AS err_ts
        |FROM (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT user_id, ts AS err_ts, event_id AS err_id
        |      FROM events WHERE event_type = 'error') e
        |ON p.user_id = e.user_id AND p.ts >= e.err_ts""".stripMargin,

    "q_range_join" ->
      """SELECT p.user_id, count(*) AS n_pairs
        |FROM (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT user_id, ts AS e_ts FROM events WHERE event_type = 'error') e
        |  ON p.user_id = e.user_id
        | AND e.e_ts >= p.ts - INTERVAL 30 MINUTE
        | AND e.e_ts <= p.ts
        |GROUP BY p.user_id""".stripMargin,

    "q_rfm" ->
      """WITH per AS (
        |  SELECT user_id, max(ts) AS last_ts,
        |    CAST(count(*) AS BIGINT) AS frequency,
        |    round(CAST(sum(CAST(round(value, 6) AS DECIMAL(28,6)))
        |      AS DOUBLE), 2) AS monetary
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
        |sc AS (
        |  SELECT user_id, frequency, monetary,
        |    ntile(5) OVER (ORDER BY last_ts, user_id) AS r_q,
        |    ntile(5) OVER (ORDER BY frequency, user_id) AS f_q,
        |    ntile(5) OVER (ORDER BY monetary, user_id) AS m_q
        |  FROM per)
        |SELECT user_id, frequency, monetary,
        |  CAST(r_q AS BIGINT) AS r_q, CAST(f_q AS BIGINT) AS f_q,
        |  CAST(m_q AS BIGINT) AS m_q,
        |  CAST(r_q AS VARCHAR) || CAST(f_q AS VARCHAR) ||
        |    CAST(m_q AS VARCHAR) AS segment
        |FROM sc""".stripMargin,

    "q_funnel_steps" ->
      """WITH s1 AS (
        |  SELECT user_id AS u, min(ts) AS t FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id AS u, min(e.ts) AS t FROM events e
        |  JOIN s1 ON e.user_id = s1.u
        |  WHERE e.event_type = 'view' AND e.ts > s1.t GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id AS u, min(e.ts) AS t FROM events e
        |  JOIN s2 ON e.user_id = s2.u
        |  WHERE e.event_type = 'click' AND e.ts > s2.t GROUP BY 1),
        |s4 AS (
        |  SELECT e.user_id AS u, min(e.ts) AS t FROM events e
        |  JOIN s3 ON e.user_id = s3.u
        |  WHERE e.event_type = 'purchase' AND e.ts > s3.t GROUP BY 1),
        |n AS (
        |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n1,
        |         (SELECT CAST(count(*) AS BIGINT) FROM s2) AS n2,
        |         (SELECT CAST(count(*) AS BIGINT) FROM s3) AS n3,
        |         (SELECT CAST(count(*) AS BIGINT) FROM s4) AS n4)
        |SELECT CAST(1 AS BIGINT) AS step, 'signup' AS event_type, n1 AS n_users,
        |  CASE WHEN n1 > 0 THEN PR1 ELSE 0.0 END AS conversion
        |FROM n
        |UNION ALL SELECT 2, 'view', n2,
        |  CASE WHEN n1 > 0 THEN PR2 ELSE 0.0 END
        |FROM n
        |UNION ALL SELECT 3, 'click', n3,
        |  CASE WHEN n1 > 0 THEN PR3 ELSE 0.0 END
        |FROM n
        |UNION ALL SELECT 4, 'purchase', n4,
        |  CASE WHEN n1 > 0 THEN PR4 ELSE 0.0 END
        |FROM n""".stripMargin
        .replace("PR1", Tables.pinnedRatioSql("n1", "n1", 6))
        .replace("PR2", Tables.pinnedRatioSql("n2", "n1", 6))
        .replace("PR3", Tables.pinnedRatioSql("n3", "n1", 6))
        .replace("PR4", Tables.pinnedRatioSql("n4", "n1", 6)),

    "q_cohort_retention" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d FROM events),
        |first AS (SELECT u, min(d) AS c FROM days GROUP BY 1),
        |act AS (
        |  SELECT f.c, datediff('day', f.c, d.d) AS day_offset,
        |    CAST(count(*) AS BIGINT) AS n_users
        |  FROM days d JOIN first f ON d.u = f.u
        |  WHERE datediff('day', f.c, d.d) <= 7
        |  GROUP BY 1, 2),
        |base AS (SELECT c, n_users AS n0 FROM act WHERE day_offset = 0)
        |SELECT strftime(a.c, '%Y-%m-%d') AS cohort_day,
        |  CAST(a.day_offset AS BIGINT) AS day_offset, a.n_users,
        |  PINNED_RETENTION AS retention
        |FROM act a JOIN base b ON a.c = b.c""".stripMargin
        .replace("PINNED_RETENTION",
          Tables.pinnedRatioSql("a.n_users", "b.n0", 6)),

    "q_bootstrap_ci" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(round(CAST(len(string_split_regex(trim(text),
        |    '\s+')) AS DOUBLE), 6) AS DECIMAL(28,6)) AS x
        |  FROM documents),
        |e AS (SELECT doc_id, x, unnest(range(100)) AS b FROM d),
        |uu AS (
        |  SELECT x, b,
        |    (CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':' ||
        |      CAST(b AS VARCHAR)), 1, 12) AS BIGINT) + 0.5)
        |      / 281474976710656.0 AS u
        |  FROM e),
        |w AS (
        |  SELECT x, b, CAST(CASE
        |    WHEN u < 0.36787944117144233 THEN 0
        |    WHEN u < 0.7357588823428847 THEN 1
        |    WHEN u < 0.9196986029286058 THEN 2
        |    WHEN u < 0.9810118431238462 THEN 3
        |    WHEN u < 0.9963401531726563 THEN 4
        |    WHEN u < 0.9994058151824183 THEN 5
        |    ELSE 6 END AS DECIMAL(9,0)) AS w
        |  FROM uu),
        |m AS (
        |  SELECT b, PINNED_BOOT1 AS m
        |  FROM w GROUP BY b),
        |r AS (SELECT b, m, row_number() OVER (ORDER BY m, b) AS rn FROM m),
        |o AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |    PINNED_BOOT2 AS mean
        |  FROM d)
        |SELECT o.n_rows, CAST(100 AS BIGINT) AS resamples, o.mean,
        |  (SELECT m FROM r WHERE rn = 5) AS ci_lo,
        |  (SELECT m FROM r WHERE rn = 95) AS ci_hi
        |FROM o""".stripMargin
        .replace("PINNED_BOOT1", Tables.pinnedRatioSql(
          "sum(x * w) * 1000000", "sum(w) * 1000000", 6))
        .replace("PINNED_BOOT2", Tables.pinnedRatioSql(
          "sum(x) * 1000000", "count(*) * 1000000", 6)),

    "q_approx_stats" ->
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        |  TRUE AS hll_ok, TRUE AS med_ok
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q_regr_slope" ->
      """WITH t AS (
        |  SELECT l_returnflag,
        |    CAST(round(l_quantity * 100) AS BIGINT) AS x,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS y
        |  FROM lineitem),
        |g AS (
        |  SELECT l_returnflag, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * x) AS sxx, sum(x * y) AS sxy
        |  FROM t GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  PINNED_SLOPE AS slope,
        |  PINNED_ICEPT AS intercept
        |FROM g""".stripMargin
        .replace("PINNED_SLOPE", Tables.pinnedRatioSql(
          "n * sxy - sx * sy", "n * sxx - sx * sx", 6))
        .replace("PINNED_ICEPT", Tables.pinnedRatioSql(
          "sy * sxx - sx * sxy", "(n * sxx - sx * sx) * 100", 6)),

    "q_corr_matrix" ->
      """WITH t AS (
        |  SELECT CAST(round(l_quantity * 100) AS BIGINT) AS q,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS e,
        |    CAST(round(l_discount * 100) AS BIGINT) AS d,
        |    CAST(round(l_tax * 100) AS BIGINT) AS x
        |  FROM lineitem),
        |g AS (
        |  SELECT count(*) AS n,
        |    sum(q) AS s_q, sum(e) AS s_e, sum(d) AS s_d, sum(x) AS s_x,
        |    sum(q*q) AS s_qq, sum(e*e) AS s_ee, sum(d*d) AS s_dd,
        |    sum(x*x) AS s_xx, sum(q*e) AS s_qe, sum(q*d) AS s_qd,
        |    sum(q*x) AS s_qx, sum(e*d) AS s_ed, sum(e*x) AS s_ex,
        |    sum(d*x) AS s_dx
        |  FROM t)
        |SELECT 'l_quantity' AS col_x, 'l_extendedprice' AS col_y, n,
        |  round(CAST(n*s_qe - s_q*s_e AS DOUBLE) /
        |    sqrt(CAST(n*s_qq - s_q*s_q AS DOUBLE) *
        |         CAST(n*s_ee - s_e*s_e AS DOUBLE)), 6) AS corr FROM g
        |UNION ALL
        |SELECT 'l_quantity', 'l_discount', n,
        |  round(CAST(n*s_qd - s_q*s_d AS DOUBLE) /
        |    sqrt(CAST(n*s_qq - s_q*s_q AS DOUBLE) *
        |         CAST(n*s_dd - s_d*s_d AS DOUBLE)), 6) FROM g
        |UNION ALL
        |SELECT 'l_quantity', 'l_tax', n,
        |  round(CAST(n*s_qx - s_q*s_x AS DOUBLE) /
        |    sqrt(CAST(n*s_qq - s_q*s_q AS DOUBLE) *
        |         CAST(n*s_xx - s_x*s_x AS DOUBLE)), 6) FROM g
        |UNION ALL
        |SELECT 'l_extendedprice', 'l_discount', n,
        |  round(CAST(n*s_ed - s_e*s_d AS DOUBLE) /
        |    sqrt(CAST(n*s_ee - s_e*s_e AS DOUBLE) *
        |         CAST(n*s_dd - s_d*s_d AS DOUBLE)), 6) FROM g
        |UNION ALL
        |SELECT 'l_extendedprice', 'l_tax', n,
        |  round(CAST(n*s_ex - s_e*s_x AS DOUBLE) /
        |    sqrt(CAST(n*s_ee - s_e*s_e AS DOUBLE) *
        |         CAST(n*s_xx - s_x*s_x AS DOUBLE)), 6) FROM g
        |UNION ALL
        |SELECT 'l_discount', 'l_tax', n,
        |  round(CAST(n*s_dx - s_d*s_x AS DOUBLE) /
        |    sqrt(CAST(n*s_dd - s_d*s_d AS DOUBLE) *
        |         CAST(n*s_xx - s_x*s_x AS DOUBLE)), 6) FROM g""".stripMargin,

    "q_histogram" ->
      """WITH mm AS (
        |  SELECT min(l_extendedprice) AS mn, max(l_extendedprice) AS mx
        |  FROM lineitem),
        |b AS (
        |  SELECT CAST(least(floor((l_extendedprice - mn) * 20.0 / (mx - mn)),
        |    19.0) AS BIGINT) AS bin, mn, mx
        |  FROM lineitem, mm)
        |SELECT bin,
        |  PINNED_LO AS lo,
        |  PINNED_HI AS hi,
        |  count(*) AS n
        |FROM b GROUP BY bin, mn, mx""".stripMargin
        .replace("PINNED_LO", Tables.pinnedRatioSql(
          "CAST(round(mn * 100, 0) AS BIGINT) * 20 + " +
            "bin * (CAST(round(mx * 100, 0) AS BIGINT) - " +
            "CAST(round(mn * 100, 0) AS BIGINT))", "2000", 4))
        .replace("PINNED_HI", Tables.pinnedRatioSql(
          "CAST(round(mn * 100, 0) AS BIGINT) * 20 + " +
            "(bin + 1) * (CAST(round(mx * 100, 0) AS BIGINT) - " +
            "CAST(round(mn * 100, 0) AS BIGINT))", "2000", 4))
  )
}
