package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Link-graph analytics for corpus curation. PageRank is the standard
  * page-quality prior for web-crawl filtering (a harvested link graph ranks
  * hosts/documents; low-rank tails are dropped or downweighted before
  * training).
  *
  * Determinism contract: ranks live in integer "micro-mass" units — the
  * total mass is `massScale` and every operation is integer addition and
  * FLOOR division, so each iteration is a pure function of the previous
  * one: no float summation order, no engine dependence. The same unrolled
  * arithmetic is expressible in any SQL engine for an exact oracle.
  *
  *   r_0(v)   = massScale // N
  *   share_i  = r_i(src) // outdeg(src)            (per edge)
  *   dang_i   = Σ r_i(v) over sink nodes            (driver scalar)
  *   r_{i+1}(v) = ((100−d)·(massScale // N)) // 100
  *              + (d·(Σ_{(u,v)∈E} share_i(u) + dang_i // N)) // 100
  *
  * (floor drops ≤1 unit per division — at massScale = 10^12 the relative
  * error is ~10^-12 per step, far below any ranking-relevant difference.)
  *
  * Scale shape: one shuffle per iteration — ranks join the (cached,
  * degree-annotated) edge table on src and the shares aggregate on dst
  * with map-side partial sums. The edge table is flattened to a
  * LogicalRDD before iterating and each generation is flattened and
  * materialized before the previous is freed (the connectedComponents
  * driver-hygiene lessons: plan size and live cache stay constant in the
  * iteration count). Sink mass is one tiny aggregate per round.
  *
  * Every iterative operator here is a [[CacheScope.loop]]: it runs in a
  * child of the caller's session with AQE off, inherits the caller's
  * shuffle-partition count, and leaves the caller's session conf as it
  * found it.
  */
object Graph {

  private def intDiv(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(org.apache.spark.sql.catalyst.expressions.IntegralDivide(
      ColumnBridge.expression(a.cast("long")),
      ColumnBridge.expression(b.cast("long")))).cast("long")
  }

  /** PageRank over an edge list. Returns (node, rank) with rank in
    * massScale units (sums to ~massScale up to floor loss). `dampPct` is
    * the damping factor in integer percent (85 = the classic 0.85).
    * Eager, a [[CacheScope.loop]]. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iterations: Int = 8, massScale: Long = 1000000000000L,
               dampPct: Int = 85): DataFrame = {
    require(iterations > 0, s"iterations must be positive, got $iterations")
    require(dampPct >= 0 && dampPct <= 100, s"dampPct must be 0..100, got $dampPct")
    CacheScope.loop(edges) { (s, edges) =>
      val e = s.cache(PlanBridge.flattenPlan(
          edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct()))
      val outDeg = s.cache(e.groupBy(col("src")).agg(count(lit(1)).as("deg")))
      val edgesDeg = s.cache(e.join(outDeg, Seq("src")))
      val nodes = s.cache(e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct())
      val n = nodes.count()
      require(n > 0, "pageRank: empty graph")
      val m0 = massScale / n
      val baseShare = (100L - dampPct) * m0 / 100L // exact Long floor, same as SQL
      val sinks = s.cache(nodes.join(outDeg.select(col("src").as("node")), Seq("node"),
        "left_anti"))

      s.iterate(nodes.select(col("node"), lit(m0).as("rank")), iterations) { ranks =>
        val inflow = edgesDeg
          .join(ranks.select(col("node").as("src"), col("rank")), Seq("src"))
          .select(col("dst").as("node"), intDiv(col("rank"), col("deg")).as("__c"))
          .groupBy(col("node")).agg(sum(col("__c")).as("__s"))
        // dangling mass rides the generation's own plan as a broadcast 1-row
        // aggregate — ONE action per iteration (the materializing count),
        // not a separate driver collect per round
        val dang = broadcast(sinks.join(ranks, Seq("node"))
          .agg(intDiv(coalesce(sum(col("rank")), lit(0L)), lit(n)).as("__dang")))
        nodes.join(inflow, Seq("node"), "left").crossJoin(dang)
          .select(col("node"),
            (lit(baseShare) + intDiv(
              lit(dampPct.toLong) * (coalesce(col("__s"), lit(0L)) + col("__dang")),
              lit(100L))).as("rank"))
      }
    }
  }

  /** Exact per-node triangle counts — the clustering-coefficient /
    * community-density primitive. Uses DEGREE-ORDERED edge orientation
    * (the standard scale trick: every edge points from its lower-(degree,
    * id) endpoint to the higher, so each triangle is enumerated exactly
    * once from its lowest vertex and wedge fan-out is bounded by
    * ORIENTED out-degree ≈ O(√m) on skewed graphs — a hub's wedges are
    * generated by its low-degree neighbors, never the hub itself).
    *
    * Input treated as UNDIRECTED (canonicalized + deduplicated,
    * self-loops dropped). Exact integer counts — engine-independent by
    * construction; the triangle SET is orientation-independent, so an
    * oracle may enumerate naively. Shuffles: the wedge self-join on the
    * oriented source + the closing edge join, both key-partitioned.
    * Returns (node, n_tri) for nodes in ≥1 triangle. */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = CacheScope { s =>
    val und = s.cache(edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct())
    val deg = und.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val withDeg = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
    // orient toward the higher (deg, id); carry the head's rank for the
    // wedge ordering below
    val o = withDeg.select(
      when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
        struct(col("a").as("u"), col("b").as("v"), col("db").as("dv")))
        .otherwise(struct(col("b").as("u"), col("a").as("v"), col("da").as("dv")))
        .as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"), col("e.dv").as("dv"))
    val wedges = o.select(col("u"), col("v"), col("dv"))
      .join(o.select(col("u"), col("v").as("w"), col("dv").as("dw")), Seq("u"))
      .filter(struct(col("dv"), col("v")) < struct(col("dw"), col("w")))
    val tri = wedges
      .join(o.select(col("u").as("v"), col("v").as("w")), Seq("v", "w"))
      .select(col("u"), col("v"), col("w"))
    tri
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
  }

  /** Bounded-round k-core peeling (Seidman 1983's k-core by synchronous
    * iteration): each round removes every node whose degree in the
    * SURVIVING graph is < k, together with its edges. At the fixpoint the
    * remainder is the k-core — the dense engagement/community skeleton;
    * `rounds` caps the iteration like pageRank's (peeling converges in
    * few rounds on real graphs; a fixed cap keeps the computation
    * unrollable and the cost predictable — survivors after R rounds are
    * a SUPERSET of the true k-core, shrinking toward it).
    *
    * Deterministic by construction (synchronous rounds, exact integer
    * degrees). Scale shape: one degree aggregate + two semi-joins per
    * round over the flattened cached edge generation; generations are
    * flattened + materialized before freeing predecessors. Eager, a
    * [[CacheScope.loop]]. Returns (node, deg) of survivors. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
            rounds: Int = 4): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds > 0, s"rounds must be positive, got $rounds")
    CacheScope.loop(edges) { (s, edges) =>
      def degrees(e: DataFrame): DataFrame =
        e.select(explode(array(col("a"), col("b"))).as("node"))
          .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      val init = PlanBridge.flattenPlan(
        edges.select(least(col(srcCol), col(dstCol)).as("a"),
            greatest(col(srcCol), col(dstCol)).as("b"))
          .filter(col("a") =!= col("b")).distinct())
      degrees(s.iterate(init, rounds) { live =>
        val keep = degrees(live).filter(col("deg") >= k)
          .select(col("node"))
        live.join(keep.select(col("node").as("a")), Seq("a"), "left_semi")
          .join(keep.select(col("node").as("b")), Seq("b"), "left_semi")
          .select(col("a"), col("b"))
      })
    }
  }

  /** Synchronous label propagation (Raghavan et al. 2007) — community
    * detection by iterated neighbor-majority voting: every node starts as
    * its own label and each round adopts the most frequent label among
    * its neighbors, ties toward the LOWER label.
    *
    * The classic formulation updates asynchronously in random order —
    * unusable for a deterministic engine. This is the SYNCHRONOUS
    * variant: all nodes update from the same previous generation, so with
    * the deterministic tie-break the round-k labeling is a pure function
    * of the graph — engine/partitioning/order independent and unrollable
    * in SQL. (Synchronous LPA can oscillate on bipartite structure;
    * bounded iterations make that a feature to inspect, not a hang.)
    *
    * Scale shape: one label-join + one (node, label) count aggregate +
    * one argmax aggregate per round over the flattened cached
    * both-direction edge list; each generation is flattened +
    * materialized before its predecessor is freed (the pageRank driver
    * hygiene). Eager, a [[CacheScope.loop]].
    * Returns (node, community). */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       iterations: Int = 4): DataFrame = {
    require(iterations > 0, s"iterations must be positive, got $iterations")
    CacheScope.loop(edges) { (s, edges) =>
      val und = s.cache(PlanBridge.flattenPlan(
          edges.select(least(col(srcCol), col(dstCol)).as("a"),
              greatest(col(srcCol), col(dstCol)).as("b"))
            .filter(col("a") =!= col("b")).distinct()))
      val dir = s.cache(und.select(col("a").as("src"), col("b").as("dst"))
        .union(und.select(col("b").as("src"), col("a").as("dst"))))
      val nodes = s.cache(dir.select(col("src").as("node")).distinct())
      s.iterate(nodes.select(col("node"), col("node").as("lbl")), iterations) { labels =>
        val votes = dir
          .join(labels.select(col("node").as("src"), col("lbl")), Seq("src"))
          .groupBy(col("dst").as("node"), col("lbl"))
          .agg(count(lit(1)).as("n"))
        // argmax by (count desc, label asc): max(struct(n, −label)) — Long
        // negation is exact
        votes.groupBy(col("node"))
          .agg(max(struct(col("n").as("n"), (-col("lbl")).as("nl"))).as("m"))
          .select(col("node"), (-col("m.nl")).as("lbl"))
      }.select(col("node"), col("lbl").as("community"))
    }
  }

  /** Personalized PageRank (the random surfer teleports to a SEED SET
    * instead of uniformly — "influence relative to these nodes", the
    * recommendation/expansion prior behind pixie-style systems and
    * seed-based corpus expansion). Same integer-exact arithmetic contract
    * as [[pageRank]]: all mass starts on the seeds (massScale // |S|
    * each), the (100−dampPct)% teleport share and the dangling mass
    * return ONLY to seeds, every step is Long addition + floor division,
    * so the fixpoint is engine/partitioning/order independent and
    * unrollable in SQL. Seeds absent from the graph simply contribute no
    * mass (identically in any engine). Scale shape identical to
    * [[pageRank]]. Eager, a [[CacheScope.loop]]. */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                           seeds: Seq[Long], iterations: Int = 8,
                           massScale: Long = 1000000000000L,
                           dampPct: Int = 85): DataFrame = {
    require(iterations > 0, s"iterations must be positive, got $iterations")
    require(seeds.nonEmpty, "personalizedPageRank: empty seed set")
    require(dampPct >= 0 && dampPct <= 100, s"dampPct must be 0..100, got $dampPct")
    CacheScope.loop(edges) { (s, edges) =>
      val e = s.cache(PlanBridge.flattenPlan(
          edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct()))
      val outDeg = s.cache(e.groupBy(col("src")).agg(count(lit(1)).as("deg")))
      val edgesDeg = s.cache(e.join(outDeg, Seq("src")))
      val nodes = s.cache(e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct()
        .select(col("node"), col("node").isInCollection(seeds).as("__seed")))
      require(nodes.limit(1).count() > 0, "personalizedPageRank: empty graph")
      val nSeeds = seeds.length.toLong
      val m0 = massScale / nSeeds
      val seedShare = (100L - dampPct) * massScale / 100L / nSeeds
      val sinks = s.cache(nodes.select(col("node"))
        .join(outDeg.select(col("src").as("node")), Seq("node"), "left_anti"))

      s.iterate(nodes.select(col("node"),
          when(col("__seed"), lit(m0)).otherwise(lit(0L)).as("rank")), iterations) { ranks =>
        val inflow = edgesDeg
          .join(ranks.select(col("node").as("src"), col("rank")), Seq("src"))
          .select(col("dst").as("node"), intDiv(col("rank"), col("deg")).as("__c"))
          .groupBy(col("node")).agg(sum(col("__c")).as("__s"))
        val dang = broadcast(sinks.join(ranks, Seq("node"))
          .agg(coalesce(sum(col("rank")), lit(0L)).as("__dangTot")))
        nodes.join(inflow, Seq("node"), "left").crossJoin(dang)
          .select(col("node"),
            (when(col("__seed"), lit(seedShare)).otherwise(lit(0L)) +
              intDiv(lit(dampPct.toLong) *
                (coalesce(col("__s"), lit(0L)) +
                  when(col("__seed"),
                    intDiv(col("__dangTot"), lit(nSeeds)))
                    .otherwise(lit(0L))),
                lit(100L))).as("rank"))
      }
    }
  }

  /** HITS hubs & authorities (Kleinberg 1999, "Authoritative sources in a
    * hyperlinked environment"): the complementary link prior to PageRank —
    * directories/link-lists score as HUBS, heavily-referenced pages as
    * AUTHORITIES (PageRank's single score conflates the two).
    *
    *   a'(v) = Σ_{u→v} h(u)      then L1-renormalize to massScale
    *   h'(u) = Σ_{u→v} a(v)      then L1-renormalize to massScale
    *
    * Determinism: the classic L2 normalization needs a square root, so
    * this uses L1 (sum) normalization instead — same fixpoint ranking,
    * but every step stays integer addition + floor division:
    * x → (x·massScale) // Σx. Exactly unrollable in SQL for the oracle.
    * The default massScale 10^6 keeps every intermediate provably inside
    * Long: Σ over edges ≤ massScale·maxdeg, then ×massScale — the
    * operator REFUSES (loudly) graphs where massScale²·maxdeg could
    * overflow rather than wrapping or erroring mid-job.
    *
    * Scale shape: identical to [[pageRank]] — two key-joins + map-side
    * partial-sum aggregates per iteration over the flattened cached edge
    * table, normalizers ride each generation as broadcast 1-row
    * aggregates, each generation flattened + materialized before its
    * predecessor is freed. Eager, a [[CacheScope.loop]].
    * Returns (node, hub, auth) in massScale units. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iterations: Int = 8, massScale: Long = 1000000L): DataFrame = {
    require(iterations > 0, s"iterations must be positive, got $iterations")
    require(massScale > 0, s"massScale must be positive, got $massScale")
    CacheScope.loop(edges) { (s, edges) =>
      val e = s.cache(PlanBridge.flattenPlan(
          edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct()))
      val nodes = s.cache(e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct())
      val n = nodes.count()
      require(n > 0, "hits: empty graph")
      require(massScale >= n,
        s"hits: massScale=$massScale < $n nodes — every score would floor to 0")
      val maxDeg = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
        .unionByName(e.groupBy(col("dst")).agg(count(lit(1)).as("d"))
          .select(col("dst").as("src"), col("d")))
        .agg(max(col("d"))).head().getLong(0)
      require(maxDeg <= Long.MaxValue / massScale / massScale,
        s"hits: massScale²·maxdeg ($massScale² × $maxDeg) would overflow Long — " +
          "lower massScale or pre-aggregate the hottest nodes")

      def renorm(raw: DataFrame, outCol: String): DataFrame = {
        // x → (x · massScale) // max(Σx, 1); nodes without inflow score 0
        val tot = broadcast(raw.agg(
          greatest(coalesce(sum(col("__s")), lit(0L)), lit(1L)).as("__t")))
        s.cache(PlanBridge.flattenPlan(
            nodes.join(raw, Seq("node"), "left").crossJoin(tot)
              .select(col("node"),
                intDiv(coalesce(col("__s"), lit(0L)) * lit(massScale),
                  col("__t")).as(outCol))))
      }

      val h0 = massScale / n
      var hubs = s.materialize(nodes.select(col("node"), lit(h0).as("hub")))
      var auths: DataFrame = null
      (1 to iterations).foreach { _ =>
        val aRaw = e
          .join(hubs.select(col("node").as("src"), col("hub")), Seq("src"))
          .select(col("dst").as("node"), col("hub").as("__s"))
          .groupBy(col("node")).agg(sum(col("__s")).as("__s"))
        // no materializing action here: the hub half-step below consumes
        // aNew (filling its cache), and the freed predecessor is not in
        // aNew's lineage (aNew = f(hubs, e, nodes)) — one action per
        // iteration instead of two
        val aNew = renorm(aRaw, "auth")
        if (auths != null) s.free(auths, blocking = false)
        auths = aNew
        val hRaw = e
          .join(auths.select(col("node").as("dst"), col("auth")), Seq("dst"))
          .select(col("src").as("node"), col("auth").as("__s"))
          .groupBy(col("node")).agg(sum(col("__s")).as("__s"))
        val hNew = renorm(hRaw, "hub")
        hNew.count()
        s.free(hubs, blocking = false)
        hubs = hNew
      }
      hubs.join(auths, Seq("node"))
    }
  }

  /** Edge-WEIGHTED PageRank: rank flows in proportion to edge weight
    * (link frequency, click counts, citation multiplicity) instead of
    * splitting evenly — the form real link graphs need. Duplicate
    * (src, dst) edges merge by summing weights; weights must be positive
    * integers. Same integer micro-mass contract as [[pageRank]]: each
    * flow is rank·w div ΣW(src), all Long arithmetic, engine/partition/
    * order-independent with the oracle unrollable. A loud overflow guard
    * refuses massScale·maxWeight near Long range. Iteration hygiene as
    * [[pageRank]]. Eager, a [[CacheScope.loop]]. */
  def weightedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                       weightCol: String, iterations: Int = 8,
                       massScale: Long = 1000000000000L,
                       dampPct: Int = 85): DataFrame = {
    require(iterations > 0, s"iterations must be positive, got $iterations")
    require(dampPct >= 0 && dampPct <= 100, s"dampPct must be 0..100, got $dampPct")
    CacheScope.loop(edges) { (s, edges) =>
      val e = s.cache(PlanBridge.flattenPlan(
          edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
              col(weightCol).cast("long").as("w"))
            .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))))
      val badW = e.filter(col("w") <= 0).count()
      require(badW == 0, s"weightedPageRank: $badW edge(s) with weight <= 0")
      val maxW = e.agg(max(col("w"))).head().getLong(0)
      require(maxW < Long.MaxValue / (2 * massScale),
        s"weightedPageRank: massScale * maxWeight ($massScale * $maxW) risks " +
          "Long overflow in the per-edge flow product; lower massScale")
      val outW = s.cache(e.groupBy(col("src")).agg(sum(col("w")).as("ow")))
      val edgesW = s.cache(e.join(outW, Seq("src")))
      val nodes = s.cache(e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct())
      val n = nodes.count()
      require(n > 0, "weightedPageRank: empty graph")
      val m0 = massScale / n
      val baseShare = (100L - dampPct) * m0 / 100L
      val sinks = s.cache(nodes.join(outW.select(col("src").as("node")), Seq("node"),
        "left_anti"))

      s.iterate(nodes.select(col("node"), lit(m0).as("rank")), iterations) { ranks =>
        val inflow = edgesW
          .join(ranks.select(col("node").as("src"), col("rank")), Seq("src"))
          .select(col("dst").as("node"),
            intDiv(col("rank") * col("w"), col("ow")).as("__c"))
          .groupBy(col("node")).agg(sum(col("__c")).as("__s"))
        val dang = broadcast(sinks.join(ranks, Seq("node"))
          .agg(intDiv(coalesce(sum(col("rank")), lit(0L)), lit(n)).as("__dang")))
        nodes.join(inflow, Seq("node"), "left").crossJoin(dang)
          .select(col("node"),
            (lit(baseShare) + intDiv(
              lit(dampPct.toLong) * (coalesce(col("__s"), lit(0L)) + col("__dang")),
              lit(100L))).as("rank"))
      }
    }
  }

  /** Multi-source BFS distances, bounded rounds: the minimum hop count
    * from any seed to each reachable node — crawl-depth limits, influence
    * radii, "how far is this doc from a trusted source". Directed edges as
    * given (symmetrize for undirected semantics). Nodes unreached within
    * `rounds` are absent; seeds report distance 0 whether or not they
    * appear in the edge list.
    *
    * Exact integer distances ⇒ engine/partitioning/order-independent and
    * the oracle is the UNROLLED per-round minimum. Scale shape: one
    * (join + min-aggregate) per round over the flattened cached edge
    * table; generations flatten + materialize before freeing their
    * predecessor (the pageRank hygiene). Eager, a [[CacheScope.loop]]. */
  def bfsDistances(edges: DataFrame, srcCol: String, dstCol: String,
                   seeds: Seq[Long], rounds: Int): DataFrame = {
    require(seeds.nonEmpty, "bfsDistances: no seeds")
    require(rounds >= 0, s"bfsDistances: rounds must be >= 0, got $rounds")
    CacheScope.loop(edges) { (s, edges) =>
      import edges.sparkSession.implicits._
      val e = s.materialize(PlanBridge.flattenPlan(
          edges.select(col(srcCol).cast("long").as("src"),
            col(dstCol).cast("long").as("dst")).distinct()))
      s.iterate(seeds.distinct.toDF("node").select(col("node"), lit(0L).as("dist")),
          rounds) { dist =>
        dist
          .join(e, dist("node") === e("src"))
          .select(col("dst").as("node"), (col("dist") + 1L).as("dist"))
          .unionByName(dist)
          .groupBy(col("node")).agg(min(col("dist")).as("dist"))
      }
    }
  }

  /** Adamic–Adar link prediction (Adamic & Adar 2003): score each
    * NON-adjacent pair by Σ_z 1/ln(deg z) over common neighbors z — shared
    * rare neighbors count more than shared hubs. The neighborhood-overlap
    * prior behind friend recommendation and knowledge-graph completion.
    *
    * Scale shape: wedges are enumerated per INTERMEDIATE node, so pair
    * volume is Σ_z deg(z)² — one hub makes its group quadratic while
    * contributing ≈1/ln(deg) ≈ 0 to every score it touches. Intermediates
    * above `maxDegree` are therefore DROPPED before the wedge join (LOUD:
    * count reported on stderr, never silent — the maxDocFreq contract);
    * this is the standard Adamic–Adar hub truncation and the same skew
    * bound as the dedup band guards. Degree-1 nodes cannot be common
    * neighbors and are dropped for free.
    *
    * Determinism: each contribution is ONE IEEE division after ln, rounded
    * to 12 decimals and DECIMAL-summed → order/partitioning-independent;
    * the final ranking is the total order (score desc, a asc, b asc). All
    * joins are key-partitioned on node ids; the top-k is a TakeOrdered
    * (never a global sort) with the rank window over k rows only.
    *
    * Returns the top `k` predicted links (a, b, aa_score, n_common, rank),
    * a < b, existing edges excluded. Eager, under the [[CacheScope]]
    * rules. */
  def adamicAdar(edges: DataFrame, srcCol: String, dstCol: String,
                 k: Int, maxDegree: Int = 10000): DataFrame = CacheScope { s =>
    require(k > 0, s"adamicAdar: k must be positive, got $k")
    require(maxDegree >= 2, s"adamicAdar: maxDegree must be >= 2, got $maxDegree")
    val und = s.cache(edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct())
    // both-direction adjacency: z = intermediate, x = its neighbor
    val adj = und.select(col("a").as("z"), col("b").as("x"))
      .unionAll(und.select(col("b").as("z"), col("a").as("x")))
    val deg = s.cache(adj.groupBy(col("z")).agg(count(lit(1)).as("deg")))
    val nHubs = deg.filter(col("deg") > maxDegree).count()
    if (nHubs > 0) System.err.println(
      s"graft.Graph.adamicAdar: dropping $nHubs intermediate node(s) with " +
        s"degree > $maxDegree before the wedge join (their per-score " +
        "contribution 1/ln(deg) is negligible; keeping them makes the wedge " +
        "volume quadratic in hub degree). Raise maxDegree to keep them.")
    // the weight rides the wedge join as its exact scale-12 INTEGER
    // (w·10^12 ≤ 1.45e12): the per-pair aggregate is then a codegen'd
    // LONG add instead of a BigDecimal-buffered DECIMAL(28,12) sum (the
    // q1 cents lesson — a >18-digit decimal buffer allocates per row).
    // Overflow is impossible (n_common ≤ maxDegree = 1e4 → Σ ≤ 1.45e16)
    // and ANSI mode would make any breach loud, never a wrong number.
    val w = deg.filter(col("deg").between(2, maxDegree))
      .select(col("z"),
        (round(lit(1.0) / log(col("deg")), 12).cast(DecimalType(28, 12)) *
          lit(1000000000000L)).cast(LongType).as("w12"))
    // attach the weight (and thereby the keep-set) BEFORE enumerating —
    // a dropped hub must never enter the wedge explosion. Each kept
    // intermediate's (distinct) neighbors collapse into ONE sorted array
    // (w12 is constant per z, so it rides the grouping key) and only the
    // i<j pairs are emitted by slice-explosion: the previous
    // join-then-filter formulation enumerated all deg² ordered pairs
    // through a sort-merge self-join and dropped half AFTER the join
    // (measured: that wedge stage was 6.6 s of a 15.5 s executor total
    // at bench shape). Same pair set and weights, half the aggregate
    // input, no per-leg sort. Skew contract unchanged: a hub's pairs
    // were already generated inside one join partition; maxDegree
    // bounds the array at 1e4 ids.
    val adjList = adj.join(w, Seq("z"))
      .groupBy(col("z"), col("w12"))
      .agg(sort_array(collect_list(col("x"))).as("xs"))
      .filter(size(col("xs")) >= 2)
    val wedges = adjList
      .select(col("w12"), posexplode(col("xs")).as(Seq("__i", "x")), col("xs"))
      .select(col("w12"), col("x"),
        explode(expr("slice(xs, __i + 2, size(xs))")).as("y"))
    // Σw12 → exact DECIMAL(30,12) via ×10^-12 (precision 17+12+1 = 30,
    // no adjustPrecisionScale) — bit-identical to the old decimal sum
    val scored = wedges
      .groupBy(col("x").as("a"), col("y").as("b"))
      .agg(sum(col("w12")).as("__sw"), count(lit(1)).as("n_common"))
      .select(col("a"), col("b"),
        round((col("__sw").cast(DecimalType(17, 0)) *
          lit(BigDecimal("0.000000000001")).cast(DecimalType(12, 12)))
          .cast(DoubleType), 6).as("aa_score"),
        col("n_common"))
    val cand = scored.join(und, Seq("a", "b"), "left_anti")
    val top = cand.orderBy(col("aa_score").desc, col("a").asc, col("b").asc)
      .limit(k)
    val win = org.apache.spark.sql.expressions.Window
      .orderBy(col("aa_score").desc, col("a").asc, col("b").asc)
    top.withColumn("rank", row_number().over(win).cast(LongType))
  }
}
