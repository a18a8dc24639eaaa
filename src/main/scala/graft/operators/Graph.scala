package graft.operators

import graft.sources.Tables

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph analytics on edge lists. The engine already ships
  * connected components ([[Dedup]]'s one-action-per-round loop); this adds
  * the power-iteration family.
  *
  * PageRank here is the fixed-iteration declarative form: each round is
  * one (edge ⋈ rank) join + a destination-keyed aggregation — at scale,
  * one shuffle per iteration on the dst key, with the rank vector the
  * SMALL side (nodes, not edges) that AQE broadcasts. Fixed iteration
  * count keeps the plan static and the result deterministic (the
  * convergence-threshold variant trades that for a driver-side loop; at
  * 100 TB you run k rounds and checkpoint, exactly this shape).
  *
  * Float discipline: per-round edge contributions `r(u)·p(u,v)` are
  * DECIMAL-quantized before the destination sum, so the one
  * order-sensitive step (summing a node's in-edges) is exact decimal
  * addition and the whole iteration is bit-reproducible in any engine —
  * the same move as the decay scores and the seasonal z-scores. */
object Graph {

  /** `iters` rounds of damped PageRank over `(srcCol, dstCol, probCol)`
    * edges (`probCol` row-stochastic per src, e.g.
    * [[Behavior.sessionTransitions]]' `p`). Nodes are the union of edge
    * endpoints; dangling nodes (no out-edges) contribute only teleport
    * mass — callers with dangling nodes and mass-conservation needs
    * should redistribute explicitly. Returns `(node, rank)`. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      probCol: String, iters: Int, damping: Double): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    require(damping > 0 && damping < 1, s"damping must be in (0,1): $damping")
    // the edge list feeds every iteration: truncate its lineage ONCE so
    // k rounds don't re-derive it k times (the Dedup CC discipline —
    // localCheckpoint, not cache, so the plan is cut, not just memoized)
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
      col(probCol).as("p"))
    val e = if (iters > 1) e0.localCheckpoint() else e0
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val nRow = nodes.agg(count(lit(1)).as("n_nodes"))
    var rank = nodes.join(broadcast(nRow))
      .select(col("node"),
        (lit(1.0) / col("n_nodes").cast("double")).as("rank"), col("n_nodes"))
    for (_ <- 1 to iters) {
      val contrib = e.join(rank, e("src") === rank("node"))
        .groupBy(col("dst").as("node"))
        .agg(sum((col("rank") * col("p")).cast("decimal(38,18)"))
          .cast("double").as("inflow"))
      rank = nodes.join(broadcast(nRow))
        .join(contrib, Seq("node"), "left")
        .select(col("node"),
          ((lit(1.0) - damping) / col("n_nodes").cast("double") +
            lit(damping) * coalesce(col("inflow"), lit(0.0))).as("rank"),
          col("n_nodes"))
    }
    rank.select("node", "rank")
  }

  // ---- declared query ----

  /** 5 rounds of PageRank (d = 0.85) over the session-transition graph —
    * "which event type does behavior flow toward". The fixture's
    * transition matrix is complete (no dangling nodes), so the oracle's
    * unrolled-iteration twin computes the same recursion; the declared
    * rank is quantized to DECIMAL(20,12) because the engines' only
    * disagreement is the final ulp of double→wide-decimal quantization
    * inside the iteration (observed ≤ 3e-17) — twelve digits are five
    * orders below any real ranking signal and the decimal compare is
    * exact. */
  def q138PageRank(spark: SparkSession, dir: String): DataFrame =
    pageRank(
      Behavior.sessionTransitions(Tables.events(spark, dir), "ts", "user_id",
        "event_type", "event_id", gapSeconds = 30 * 60L),
      "from_type", "to_type", "p", iters = 5, damping = 0.85)
      .select(col("node").as("event_type"),
        col("rank").cast("decimal(20,12)").as("rank"))
      .orderBy("event_type")

  /** Exact triangle census of an undirected graph given as (possibly
    * directed / duplicated) edge pairs, plus the global clustering
    * coefficient.
    *
    * The join uses the degree-ordered orientation (each edge points from
    * its (degree, id)-smaller endpoint), the standard scale trick: every
    * triangle materializes exactly once as src→mid→dst, and the join
    * fan-out per node is bounded by its ORIENTED out-degree — O(√m) on
    * arbitrary graphs — so one hub node (a part in every order, a stopword
    * token) cannot produce a quadratic wedge explosion the way id-ordering
    * would. Wedge counts come from the raw degrees (Σ d(d−1)/2, exact
    * integers). The oriented edge table feeds three join sides and is
    * localCheckpointed once. */
  def triangleStats(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val e = edges
      .select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(true)
    val deg = e.select(col("u").as("node"))
      .union(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    val oriented = e
      .join(deg.select(col("node").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("d").as("dv")), "v")
      .select(
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("u"))
          .otherwise(col("v")).as("src"),
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("v"))
          .otherwise(col("u")).as("dst"))
      .localCheckpoint(true)
    val tri = oriented.as("e1")
      .join(oriented.as("e2"), col("e2.src") === col("e1.dst"))
      .join(oriented.as("e3"),
        col("e3.src") === col("e1.src") && col("e3.dst") === col("e2.dst"))
      .agg(count(lit(1)).as("n_triangles"))
    val totals = e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(deg.agg(count(lit(1)).as("n_nodes"),
        expr("sum(d * (d - 1)) div 2").as("n_wedges")))
    totals.crossJoin(tri) // three 1-row frames
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
        col("n_wedges"),
        when(col("n_wedges") === 0, lit(0.0))
          .otherwise(col("n_triangles").cast("double") * 3 / col("n_wedges"))
          .as("global_cc"))
  }

  /** Triangle census of the part co-order graph (parts co-ordered ≥ 2
    * times are adjacent — q148's pair counts). Strict hash gate: exact
    * counts; the clustering coefficient is one identically-ordered double
    * expression. */
  def q150Triangles(spark: SparkSession, dir: String): DataFrame = {
    val bk = Basket.baskets(Tables.lineitem(spark, dir), "l_orderkey",
      "l_partkey", basketCap = 64)
    triangleStats(Basket.pairCounts(bk, basketCap = 64, minSupport = 2L),
      "p1", "p2")
  }

  /** Breadth-first hop distances from the rows of `seed` (a 1-column
    * frame of node ids) over an undirected edge list, to at most
    * `maxHops`. Returns `(node, hop)` with hop = shortest distance.
    *
    * Classic distributed BFS: each round expands the CURRENT FRONTIER
    * only (one hash join frontier ⋈ adjacency + one anti-join against the
    * visited set), so total work is O(Σ frontier-adjacency), not
    * rounds × edges. Adjacency and per-round frontiers are
    * localCheckpointed — the Dedup-CC iteration discipline — and the loop
    * exits early when a frontier empties. At 100 TB the adjacency join is
    * the only edge-scale shuffle and reuses one hash partitioning on the
    * source endpoint across all rounds. */
  def bfsHops(edges: DataFrame, aCol: String, bCol: String,
      seed: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0: $maxHops")
    val bi = edges
      .select(col(aCol).as("u"), col(bCol).as("v"))
      .union(edges.select(col(bCol).as("u"), col(aCol).as("v")))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(true)
    var visited = seed.toDF("node").distinct()
      .withColumn("hop", lit(0)).localCheckpoint(true)
    var frontier = visited
    var k = 1
    var done = maxHops == 0
    while (!done) {
      val next = frontier.join(bi, frontier("node") === bi("u"))
        .select(col("v").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .withColumn("hop", lit(k))
        .localCheckpoint(true)
      val emptied = next.isEmpty
      if (emptied || k == maxHops) done = true
      if (!emptied) {
        val nv = visited.union(next).localCheckpoint(true)
        // free the superseded round-state blocks (the new checkpoint is
        // already materialized, so the frees are safe; see Checkpoints)
        graft.plans.Checkpoints.free(visited)
        if (frontier ne visited) graft.plans.Checkpoints.free(frontier)
        visited = nv
        frontier = next
      } else graft.plans.Checkpoints.free(next)
      k += 1
    }
    visited
  }

  /** Hop distances from the smallest part id in the co-order graph
    * (edges = parts co-ordered ≥ 2 times), depth ≤ 6 — "how tightly is
    * the catalog knit around its most-connected corner". Strict hash
    * gate against a DuckDB recursive-CTE BFS. */
  def q151BfsHops(spark: SparkSession, dir: String): DataFrame = {
    val bk = Basket.baskets(Tables.lineitem(spark, dir), "l_orderkey",
      "l_partkey", basketCap = 64)
    val ed = Basket.pairCounts(bk, basketCap = 64, minSupport = 2L)
    val seed = ed.agg(min(col("p1")).as("node"))
    bfsHops(ed, "p1", "p2", seed, maxHops = 6)
      .select(col("node"), col("hop").cast("long").as("hop"))
      .orderBy("hop", "node")
  }

  /** Bounded-hop single-source shortest paths (Bellman–Ford with a
    * frontier delta) over an undirected weighted edge list: distances are
    * exact minima over paths of ≤ `rounds` edges from `seed`.
    *
    * Each round relaxes ONLY the frontier (nodes improved last round) —
    * the classic early-skip: a node relaxed in round j propagated its
    * (then-final) distance already, so re-relaxing it is a no-op. Total
    * work is O(Σ frontier-adjacency), not rounds × edges, and the loop
    * exits when no node improves. Same localCheckpoint iteration
    * discipline as [[bfsHops]]; all distance arithmetic on exact longs. */
  def boundedSssp(edges: DataFrame, aCol: String, bCol: String, wCol: String,
      seed: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0: $rounds")
    val bi = edges
      .select(col(aCol).as("u"), col(bCol).as("v"), col(wCol).as("w"))
      .union(edges.select(col(bCol).as("u"), col(aCol).as("v"), col(wCol).as("w")))
      .filter(col("u") =!= col("v"))
      .localCheckpoint(true)
    var dist = seed.toDF("node").distinct()
      .withColumn("dist", lit(0L)).localCheckpoint(true)
    var frontier = dist
    var k = 0
    var done = rounds == 0
    while (!done) {
      val cand = frontier.join(bi, frontier("node") === bi("u"))
        .groupBy(col("v").as("node"))
        .agg(min(col("dist") + col("w")).as("__nd"))
      val improved = cand.join(dist, Seq("node"), "left")
        .filter(col("dist").isNull || col("__nd") < col("dist"))
        .select(col("node"), col("__nd").as("dist"))
        .localCheckpoint(true)
      k += 1
      val emptied = improved.isEmpty
      if (emptied || k == rounds) done = true
      if (!emptied) {
        val nd = dist.union(improved).groupBy("node")
          .agg(min(col("dist")).as("dist")).localCheckpoint(true)
        // free the superseded round-state (see Checkpoints)
        graft.plans.Checkpoints.free(dist)
        if (frontier ne dist) graft.plans.Checkpoints.free(frontier)
        dist = nd
        frontier = improved
      } else graft.plans.Checkpoints.free(improved)
    }
    dist
  }

  /** `iters` rounds of HITS (Kleinberg) over a DIRECTED edge list:
    * authority(v) = Σ_{u→v} hub(u), hub(u) = Σ_{u→v} auth(v), each
    * half-step L1-normalized. Returns the stacked
    * `(kind ∈ {hub, auth}, id, score)` frame.
    *
    * Same float discipline as [[pageRank]]: contributions are
    * DECIMAL-quantized before the order-sensitive per-node sum, the L1
    * total is an exact decimal sum of those sums, and each normalization
    * is one double division — bit-reproducible anywhere. Each half-step
    * is one edge-keyed join + aggregation with the score vector the
    * node-sized small side; the edge list feeds every round and is
    * localCheckpointed once. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    val e = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      .distinct().localCheckpoint(true)
    var h = e.select("u").distinct().withColumn("h", lit(1.0))
    var a: DataFrame = null
    // r11 optimization: each half-step's raw-sum frame is CHECKPOINTED.
    // Without the cut the normalization `ar.join(broadcast(ar.agg(…)))`
    // references its own subtree twice, so every half-step DOUBLED the
    // lazy plan — 2 HITS iterations executed the edge join an exponential
    // number of times (718-node physical plan, 6 nested SortMergeJoins;
    // guide §2.4 / §3.3 "materialise an intermediate to truncate the
    // plan"; measured r11: 7.9 s → 5.5 s warm at sf0.1, plan 718 → ~40
    // nodes and execute 6.3 s → 0.5 s — the remaining cost is the eager
    // edge-build + per-half-step checkpoints).
    // Superseded half-step frames are freed once their consumers have
    // materialized (the Checkpoints discipline).
    var prevAr: DataFrame = null
    var prevHr: DataFrame = null
    for (_ <- 1 to iters) {
      val ar = e.join(h, "u").groupBy("v")
        .agg(sum(col("h").cast("decimal(38,18)")).as("raw"))
        .localCheckpoint(true)
      if (prevHr != null) graft.plans.Checkpoints.free(prevHr)
      a = ar.join(broadcast(ar.agg(sum(col("raw")).as("t"))))
        .select(col("v"),
          (col("raw").cast("double") / col("t").cast("double")).as("a"))
      val hr = e.join(a, "v").groupBy("u")
        .agg(sum(col("a").cast("decimal(38,18)")).as("raw"))
        .localCheckpoint(true)
      if (prevAr != null) graft.plans.Checkpoints.free(prevAr)
      prevAr = ar
      prevHr = hr
      h = hr.join(broadcast(hr.agg(sum(col("raw")).as("t"))))
        .select(col("u"),
          (col("raw").cast("double") / col("t").cast("double")).as("h"))
    }
    h.select(lit("hub").as("kind"), col("u").as("id"),
        col("h").cast("decimal(20,12)").as("score"))
      .union(a.select(lit("auth"), col("v"),
        col("a").cast("decimal(20,12)")))
  }

  /** Bounded SSSP (≤ 4 hops) from the highest-degree part (ties → min
    * id; the min-id seed lands in a 2-node component at some SFs) over
    * the co-order graph, edge length `max(1, 10 − co-order count)`
    * (strong co-ordering ⇒ short distance). Strict hash gate against a
    * DuckDB hop-bounded recursive walk. */
  def q170Sssp(spark: SparkSession, dir: String): DataFrame = {
    val bk = Basket.baskets(Tables.lineitem(spark, dir), "l_orderkey",
      "l_partkey", basketCap = 64)
    val ed = Basket.pairCounts(bk, basketCap = 64, minSupport = 2L)
      .withColumn("w", greatest(lit(1L), lit(10L) - col("n")))
    val seed = ed.select(col("p1").as("node"))
      .union(ed.select(col("p2").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
      .orderBy(desc("d"), col("node")).limit(1).select("node")
    boundedSssp(ed, "p1", "p2", "w", seed, rounds = 4)
      .orderBy("node")
  }

  /** 2 HITS iterations over the customer→part purchase graph: hub
    * customers (broad, heavy buyers) and authority parts (bought by the
    * hubs). Scores quantized DECIMAL(20,12) — the engines' only
    * disagreement is final-ulp quantization, five orders below signal. */
  def q171Hits(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
      .join(Tables.lineitem(spark, dir).select("l_orderkey", "l_partkey"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
    hits(e, "c", "p", iters = 2).orderBy("kind", "id")
  }

  /** Degree assortativity of an undirected edge list: the Pearson
    * correlation of endpoint degrees over the BI-DIRECTED edge set (each
    * undirected edge contributes both orientations, the standard Newman
    * mixing formulation on full degrees). r > 0: hubs attach to hubs;
    * r < 0: hub-and-spoke. By symmetry Σx = Σy and Σx² = Σy², so
    * r = (M·Σxy − Σx²ₛᵤₘ) / (M·Σx² − (Σx)²) — numerator and denominator
    * are EXACT integer-DECIMAL sums (degrees are ints), the final
    * division is the single double op. Shape: one degree aggregation,
    * two broadcast-joinable degree lookups, one global reduce — no
    * iteration, edge-linear. */
  def degreeAssortativity(edges: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val e = edges
      .select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(true)
    val deg = e.select(col("u").as("node"))
      .union(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    val bi = e.union(e.select(col("v"), col("u")).toDF("u", "v"))
      .join(deg.select(col("node").as("u"), col("d").as("dx")), "u")
      .join(deg.select(col("node").as("v"), col("d").as("dy")), "v")
    val dc = (c: Column) => c.cast("decimal(38,0)")
    val stats = bi.agg(count(lit(1)).as("m"),
      sum(dc(col("dx"))).cast("decimal(38,0)").as("sx"),
      sum(dc(col("dx")) * dc(col("dy"))).cast("decimal(38,0)").as("sxy"),
      sum(dc(col("dx")) * dc(col("dx"))).cast("decimal(38,0)").as("sxx"))
    val shape = deg.agg(count(lit(1)).as("n_nodes"), max("d").as("max_degree"))
      .crossJoin(e.agg(count(lit(1)).as("n_edges"))) // two 1-row frames
    shape.crossJoin(stats)
      .select(col("n_nodes"), col("n_edges"), col("max_degree"),
        (col("n_edges").cast("double") * 2 / col("n_nodes").cast("double"))
          .as("mean_degree"),
        when(dc(col("m")) * col("sxx") === col("sx") * col("sx"), lit(0.0))
          .otherwise(
            (dc(col("m")) * col("sxy") - col("sx") * col("sx"))
              .cast("double") /
            (dc(col("m")) * col("sxx") - col("sx") * col("sx"))
              .cast("double"))
          .as("assortativity"))
  }

  /** Bounded-round k-CORE: iteratively peel nodes of degree < k and
    * return the surviving nodes with their in-core degrees. Classic
    * distributed peeling — each round is edge-linear (one degree
    * aggregation + two semi joins), lineage cut per round, and the loop
    * exits early once a round removes nothing (a stable round is
    * idempotent, so the early exit is an optimization, not a semantic
    * fork: the result equals exactly-`maxRounds` rounds, which is what
    * the oracle unrolls — the q151 bounded-round rule). The true k-core
    * needs peel-depth rounds; `maxRounds` IS the spec. */
  def kCore(edges: DataFrame, aCol: String, bCol: String, k: Int,
      maxRounds: Int): DataFrame = {
    require(k >= 1 && maxRounds >= 1, s"bad args: k=$k rounds=$maxRounds")
    var e = edges
      .select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(true)
    var nEdges = e.count()
    var round = 0
    var stable = false
    while (!stable && round < maxRounds) {
      val keep = e.select(col("u").as("node"))
        .union(e.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select("node")
      val e2 = e
        .join(keep.withColumnRenamed("node", "u"), Seq("u"), "left_semi")
        .join(keep.withColumnRenamed("node", "v"), Seq("v"), "left_semi")
        .select("u", "v")
        .localCheckpoint(true)
      val n2 = e2.count()
      stable = n2 == nEdges
      graft.plans.Checkpoints.free(e) // superseded edge frame
      e = e2; nEdges = n2; round += 1
    }
    e.select(col("u").as("node")).union(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("core_degree"))
      .orderBy("node")
  }

  /** The 80-core of the (all-pairs) part co-order graph after ≤ 6 peel
    * rounds: the densely co-ordered part nucleus. k = 80 sits just
    * under the ~119 mean degree, so the peel is active for 5 rounds and
    * stable by 6 at both verification SFs (measured). */
  def q211KCore(spark: SparkSession, dir: String): DataFrame = {
    val bk = Basket.baskets(Tables.lineitem(spark, dir), "l_orderkey",
      "l_partkey", basketCap = 64)
    kCore(Basket.pairCounts(bk, basketCap = 64, minSupport = 1L),
      "p1", "p2", k = 80, maxRounds = 6)
  }

  /** Bounded-round k-TRUSS: iteratively drop edges in fewer than k−2
    * triangles and return the surviving nodes with their truss degrees.
    * Where the k-core (q211) keeps nodes by DEGREE, the truss keeps
    * edges by TRIANGLE SUPPORT — the standard "cohesive community,
    * not just a hub star" refinement (Cohen 2008): a high-degree hub
    * with no closed wedges survives every core but no truss. Same
    * bounded-round contract as q211: the loop exits early once a round
    * removes nothing (idempotent, so the result equals
    * exactly-`maxRounds` rounds, which is what the oracle unrolls) —
    * `maxRounds` IS the spec, not an approximation of convergence.
    *
    * Per round: one triangle enumeration over the surviving edge frame
    * using the degree-ordered orientation (the q150 trick — wedge
    * fan-out bounded by oriented out-degree, O(√m), so a hub part
    * cannot go quadratic), each triangle attributed to its 3 canonical
    * edges with one union + groupBy, one left join + filter. Edge
    * frames are localCheckpointed with superseded-round frees (the
    * kCore discipline). */
  def kTruss(edges: DataFrame, aCol: String, bCol: String, k: Int,
      maxRounds: Int): DataFrame = {
    require(k >= 3 && maxRounds >= 1, s"bad args: k=$k rounds=$maxRounds")
    var e = edges
      .select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(true)
    // per-edge triangle support via the degree-ordered oriented join;
    // counts are orientation-independent, so attribution to the three
    // CANONICAL (u<v) edges is exact
    def support(ef: DataFrame): (DataFrame, DataFrame) = {
      val deg = ef.select(col("u").as("node"))
        .union(ef.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("d"))
      val oriented = ef
        .join(deg.select(col("node").as("u"), col("d").as("du")), "u")
        .join(deg.select(col("node").as("v"), col("d").as("dv")), "v")
        .select(
          when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")), col("u"))
            .otherwise(col("v")).as("src"),
          when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")), col("v"))
            .otherwise(col("u")).as("dst"))
        .localCheckpoint(true)
      val tri = oriented.as("e1")
        .join(oriented.as("e2"), col("e2.src") === col("e1.dst"))
        .join(oriented.as("e3"),
          col("e3.src") === col("e1.src") && col("e3.dst") === col("e2.dst"))
        .select(col("e1.src").as("a"), col("e1.dst").as("b"),
          col("e2.dst").as("c"))
      val sup = tri
        .select(least(col("a"), col("b")).as("u"),
          greatest(col("a"), col("b")).as("v"))
        .union(tri.select(least(col("b"), col("c")).as("u"),
          greatest(col("b"), col("c")).as("v")))
        .union(tri.select(least(col("a"), col("c")).as("u"),
          greatest(col("a"), col("c")).as("v")))
        .groupBy("u", "v").agg(count(lit(1)).as("support"))
      // LAZY result: consumed exactly once by the round's filter, so a
      // checkpoint here would only add an eager materialization job.
      // `oriented` is returned so the CALLER can free it after the
      // consumer materializes — freeing it here would strand the lazy
      // plan on already-truncated lineage.
      val out = ef.join(sup, Seq("u", "v"), "left")
        .na.fill(0L, Seq("support"))
      (out, oriented)
    }
    var nEdges = e.count()
    var round = 0
    var stable = false
    while (!stable && round < maxRounds) {
      val (withSup, oriented) = support(e)
      val e2 = withSup.filter(col("support") >= k - 2)
        .select("u", "v").localCheckpoint(true)
      val n2 = e2.count()
      graft.plans.Checkpoints.free(oriented)
      stable = n2 == nEdges
      graft.plans.Checkpoints.free(e)
      e = e2; nEdges = n2; round += 1
    }
    // node view: truss degree over the surviving frame (the q211 shape)
    e.select(col("u").as("node")).union(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("truss_degree"))
      .orderBy("node")
  }

  /** The 3-truss of the ≥2-support co-order graph (the q333/q393
    * graph) after ≤ 2 peel rounds: co-purchase edges that CLOSE A
    * TRIANGLE in the repeat-co-order graph — the cohesive nucleus, vs
    * the hub stars q211's degree core keeps. Peel trajectory at both
    * verification SFs: sf0.01 3,445 → 181 edges (165 nodes), sf0.1
    * 3,573 → 3 edges — stable after one active round, so the
    * 2-round bound is exact convergence here (the bounded-round
    * contract makes it well-defined either way). The all-pairs
    * minSupport=1 graph is deliberately NOT used: it is near-regular
    * with ~49 M wedges per enumeration at sf0.1 (measured — the
    * degree-ordered orientation cannot help a regular graph), which
    * is a 40 s/round recount; at that density the production path is
    * decremental truss maintenance (enumerate triangles once, then
    * per round subtract only the triangles that touch removed edges)
    * rather than the per-round recount this bounded-round operator
    * implements. */
  def q422KTruss(spark: SparkSession, dir: String): DataFrame = {
    val bk = Basket.baskets(Tables.lineitem(spark, dir), "l_orderkey",
      "l_partkey", basketCap = 64)
    kTruss(Basket.pairCounts(bk, basketCap = 64, minSupport = 2L),
      "p1", "p2", k = 3, maxRounds = 2)
  }

  /** Is the part co-order graph hub-attracts-hub or hub-and-spoke. */
  def q208Assortativity(spark: SparkSession, dir: String): DataFrame = {
    val bk = Basket.baskets(Tables.lineitem(spark, dir), "l_orderkey",
      "l_partkey", basketCap = 64)
    degreeAssortativity(Basket.pairCounts(bk, basketCap = 64,
      minSupport = 2L), "p1", "p2")
  }

  /** Adamic–Adar link prediction from a probe set: for each probe node
    * u, score every non-neighbor v reachable in 2 hops by
    * AA(u,v) = Σ_{w ∈ N(u)∩N(v)} 1/ln d(w) — the classic "which edge
    * forms next" baseline (Adamic & Adar 2003; Liben-Nowell &
    * Kleinberg CIKM'03). Any common neighbor has d(w) ≥ 2, so ln is
    * never 0.
    *
    * Scale shape: the 2-hop fan-out is PROBE-bounded (Σ_{w∈N(u)} d(w)
    * per probe, never corpus²), middles above `maxMiddleDegree` are
    * dropped with an `observe` metric — PROBE-NEIGHBORHOOD-scoped since
    * r11: `dropped_middle_edges` counts capped probe-adjacent edges (the
    * only ones the query could have used), not capped edges graph-wide
    * (a stopword-grade hub would
    * contribute ≤ 1/ln(cap) per pair anyway — the capped-bucket
    * discipline of the dedup blockers), per-(u,v) terms are
    * DECIMAL-quantized so the score is an exact sum ranked without a
    * float boundary, and existing edges/self are removed by one
    * anti-join against the (re-derivable) neighbor list. */
  def adamicAdar(edges: DataFrame, aCol: String, bCol: String,
      probes: DataFrame, topK: Int,
      maxMiddleDegree: Long = 1024L): DataFrame = {
    // r12 (guide §2.3 — shuffle/checkpoint fewer bytes): the eager edge
    // materialization stores ONE canonical orientation (u < v) — half the
    // rows of the old bi-directed checkpoint — and every consumer derives
    // the bi-directed view with a narrow in-memory union (no shuffle, no
    // distinct). Self-loops are dropped up front (the old leg-2 union kept
    // a degenerate (a,a) row for self-loop inputs that no declared query
    // and no caller produces; degree/term math is otherwise identical for
    // any null-free edge list).
    val und = edges
      .select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true)
    val bi = und.union(und.select(col("v").as("u"), col("u").as("v")))
    val deg = bi.groupBy(col("u").as("node")).agg(count(lit(1)).as("d"))
    // r11 (guide §2.3 — filter before the join, not after): the probe
    // semi-join lands FIRST, so the degree join and the middle-degree cap
    // evaluate only the probes' neighborhoods (~|probes|·avg-degree rows),
    // not the full bi-directed edge list; the capped-middle observe metric
    // counts dropped PROBE-ADJACENT edges — the only ones the query
    // could have used. The same probe-restricted edge frame is the anti
    // join's build side below. (Measured r11: execute 8.0 s → 5.3 s warm.)
    val probeEdges = bi.join(
        probes.select(col(probes.columns.head).as("u")), Seq("u"),
        "left_semi")
    // r12 (guide §2.3 — narrower types through the exchange/broadcast): the
    // 2-hop join carries the middle's LONG degree, not a DECIMAL(38,15)
    // term — the term is derived per row AFTER the join, immediately before
    // the aggregation. Same double → same decimal value per middle, so the
    // exact decimal sum is bit-identical; the broadcast hash relation and
    // the 3M-row join output shed the per-row Decimal payload (measured:
    // twoHop noop 2.7–7.5 s → 1.3–1.6 s warm at sf0.1).
    val probeHop = probeEdges
      .join(deg.withColumnRenamed("node", "v"), Seq("v"))
      .observe("aa_middle_cap",
        coalesce(sum(when(col("d") > maxMiddleDegree, 1L).otherwise(0L)),
          lit(0L)).as("dropped_middle_edges"))
      .filter(col("d") <= maxMiddleDegree)
      .select(col("u"), col("v").as("w"), col("d"))
    val twoHop = probeHop
      .join(bi.select(col("u").as("w"), col("v").as("cand")), Seq("w"))
      .filter(col("cand") =!= col("u"))
    // Anti-join right side is the probe-restricted edge frame: `scored`
    // only holds probe-keyed pairs, so edges whose u is not a probe can
    // never match — the broadcast build shrinks from the FULL bi-directed
    // edge list (3M rows, ~2 s to build) to the probes' neighborhoods
    // (~24k rows; guide §3.2 — reduce the big side before it becomes a
    // build side).
    val scored = twoHop
      .withColumn("term", (lit(1.0) / log(dd(col("d")))).cast("decimal(38,15)"))
      .groupBy(col("u"), col("cand").as("v"))
      .agg(count(lit(1)).as("n_common"),
        sum("term").cast("decimal(38,15)").as("aa"))
      .join(probeEdges, Seq("u", "v"), "left_anti") // already-linked pairs out
    scored
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("u")
          .orderBy(desc("aa"), asc("v"))))
      .filter(col("rk") <= topK)
      .select(col("u").as("probe"), col("v").as("candidate"),
        col("n_common"), dd(col("aa")).as("aa_score"),
        col("rk").cast("long").as("rk"))
      .orderBy("probe", "rk")
  }

  /** Which unlinked part pairs the co-order graph predicts next:
    * Adamic–Adar top-3 per probe part (partkey ≡ 0 mod 100). */
  def q264AdamicAdar(spark: SparkSession, dir: String): DataFrame = {
    val bk = Basket.baskets(Tables.lineitem(spark, dir), "l_orderkey",
      "l_partkey", basketCap = 64)
    val edges = Basket.pairCounts(bk, basketCap = 64, minSupport = 1L)
    adamicAdar(edges, "p1", "p2",
      Tables.part(spark, dir).filter(col("p_partkey") % 100 === 0)
        .select("p_partkey"),
      topK = 3)
  }

  /** Synchronous label-propagation community detection, `rounds` fixed
    * rounds: every node adopts the most frequent label among its
    * neighbors AND itself (the self-vote damps the classic bipartite
    * two-coloring oscillation), ties to the smallest label — fully
    * deterministic, so any engine reproduces it exactly (Raghavan et
    * al. 2007, the near-linear community baseline). Each round is one
    * (edges ⋈ labels) shuffle + a per-node argmax — the PageRank
    * iteration discipline with counts instead of doubles; the label
    * frame is node-sized and localCheckpointed per round to keep the
    * plan flat. */
  def labelPropagation(edges: DataFrame, aCol: String, bCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds: $rounds")
    val bi = edges
      .select(col(aCol).as("u"), col(bCol).as("v"))
      .filter(col("u") =!= col("v"))
      .union(edges.select(col(bCol).as("u"), col(aCol).as("v")))
      .distinct()
      .localCheckpoint(true)
    val nodes = bi.select("u").distinct()
    var labels = nodes.select(col("u").as("node"), col("u").as("lbl"))
      .localCheckpoint(true)
    for (_ <- 1 to rounds) {
      val votes = bi
        .join(labels.select(col("node").as("v"), col("lbl")), Seq("v"))
        .select(col("u").as("node"), col("lbl"))
        .union(labels.select(col("node"), col("lbl"))) // self-vote
        .groupBy("node", "lbl").agg(count(lit(1)).as("c"))
      val next = votes
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("node")
            .orderBy(desc("c"), asc("lbl"))))
        .filter(col("rk") === 1)
        .select("node", "lbl")
        .localCheckpoint(true)
      graft.plans.Checkpoints.free(labels) // superseded round-state
      labels = next
    }
    labels.select(col("node"), col("lbl").as("community"))
      .orderBy("node")
  }

  /** 3-round label-propagation communities of the ≥ 2-support part
    * co-order graph (the sparse backbone — minSupport 2 keeps real
    * communities instead of one giant co-order blob). */
  def q265LabelPropagation(spark: SparkSession, dir: String): DataFrame = {
    val bk = Basket.baskets(Tables.lineitem(spark, dir), "l_orderkey",
      "l_partkey", basketCap = 64)
    labelPropagation(Basket.pairCounts(bk, basketCap = 64,
      minSupport = 2L), "p1", "p2", rounds = 3)
  }

  /** Local clustering coefficient per node — how tightly each node's
    * neighborhood closes into triangles: lcc(v) = 2·tri(v)/(d(v)(d(v)−1)),
    * the per-node refinement of [[triangleStats]]'s global ratio (a
    * node-level "is this a hub or a clique member" signal). Wedges are
    * enumerated per center from the symmetric adjacency (pair space
    * Σd(v)² — degree-geometry-bounded, the documented cost of exact
    * per-node counting) and closed against the canonical u<v edge set
    * with one hash join; all counts exact, the coefficient is one double
    * expression. Degree-1 nodes are excluded (lcc undefined). */
  def localClustering(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val e = edges.select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(true)
    val bi = e.select(col("u").as("c"), col("v").as("x"))
      .union(e.select(col("v").as("c"), col("u").as("x")))
    val deg = bi.groupBy(col("c").as("node")).agg(count(lit(1)).as("degree"))
    val wedges = bi.as("a")
      .join(bi.as("b"),
        col("a.c") === col("b.c") && col("a.x") < col("b.x"))
      .select(col("a.c").as("ctr"), col("a.x").as("u"), col("b.x").as("v"))
    val tri = wedges.join(e, Seq("u", "v"))
      .groupBy(col("ctr")).agg(count(lit(1)).as("n_triangles"))
    deg.join(tri, deg("node") === tri("ctr"), "left")
      .withColumn("n_triangles", coalesce(col("n_triangles"), lit(0L)))
      .filter(col("degree") >= 2)
      .select(col("node"), col("degree"), col("n_triangles"),
        (col("n_triangles").cast("double") * 2 /
          (col("degree").cast("double") * (col("degree").cast("double") - 1)))
          .as("lcc"))
      .orderBy("node")
  }

  /** Which parts sit in tightly-closed co-order neighborhoods — the
    * per-node clustering profile of the q150 graph. */
  def q270LocalClustering(spark: SparkSession, dir: String): DataFrame = {
    val bk = Basket.baskets(Tables.lineitem(spark, dir), "l_orderkey",
      "l_partkey", basketCap = 64)
    localClustering(Basket.pairCounts(bk, basketCap = 64, minSupport = 2L),
      "p1", "p2")
  }

  /** Personalized PageRank — [[pageRank]] with the teleport mass
    * concentrated on ONE restart node instead of spread uniformly:
    * rank_k = (1−d)·1[node = restart] + d·Σ rank_{k−1}·p. The result
    * ranks nodes by proximity-with-decay to the restart node — the
    * random-walk-with-restart relevance score recommendation and
    * similarity systems use. Same fixed-iteration declarative loop,
    * same DECIMAL-quantized per-round contributions (bit-reproducible
    * in any engine), same one-dst-keyed-shuffle-per-round shape with
    * the rank vector the broadcastable small side. */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
      probCol: String, restartNode: String, iters: Int,
      damping: Double): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    require(damping > 0 && damping < 1, s"damping must be in (0,1): $damping")
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
      col(probCol).as("p"))
    val e = if (iters > 1) e0.localCheckpoint() else e0
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .withColumn("r0", when(col("node") === restartNode, lit(1.0))
        .otherwise(lit(0.0).cast("double")))
    var rank = nodes.select(col("node"), col("r0"), col("r0").as("rank"))
    for (_ <- 1 to iters) {
      val contrib = e.join(rank, e("src") === rank("node"))
        .groupBy(col("dst").as("node"))
        .agg(sum((col("rank") * col("p")).cast("decimal(38,18)"))
          .cast("double").as("inflow"))
      rank = nodes
        .join(contrib, Seq("node"), "left")
        .select(col("node"), col("r0"),
          ((lit(1.0) - lit(damping)) * col("r0") +
            lit(damping) * coalesce(col("inflow"), lit(0.0))).as("rank"))
    }
    rank.select("node", "rank")
  }

  /** Random-walk-with-restart relevance of every event type to 'view'
    * over the session-transition graph — which states a view-anchored
    * walk actually spends time in (5 rounds, d = 0.85, the q138
    * quantization contract). */
  def q297PersonalizedPagerank(spark: SparkSession, dir: String): DataFrame =
    personalizedPageRank(
      Behavior.sessionTransitions(Tables.events(spark, dir), "ts", "user_id",
        "event_type", "event_id", gapSeconds = 30 * 60L),
      "from_type", "to_type", "p", restartNode = "view", iters = 5,
      damping = 0.85)
      .select(col("node").as("event_type"),
        col("rank").cast("decimal(20,12)").as("ppr"))
      .orderBy("event_type")

  /** Newman modularity of a node partition over an undirected edge list:
    * per community c,  Q_c = m_c/m − (d_c / 2m)²  and  Q = Σ_c Q_c —
    * THE quality score for any community assignment (LPA output, a
    * metadata partition, a blocking scheme), answering "are these
    * communities denser than a degree-preserving random rewiring".
    *
    * Scale shape: one distinct-edge pass for m and degrees, two
    * hash joins against the (node → community) map on the node key, one
    * groupBy per community — no iteration, no per-pair work beyond the
    * edge list itself. All inputs to the final expression are exact
    * integer counts; each community's Q_c is a handful of IEEE-exact
    * double ops on those integers, and the global Q is the sum of
    * DECIMAL-quantized Q_c terms (the one order-sensitive step), so the
    * result is bit-reproducible in any engine. Nodes absent from
    * `communities` are kept under community NULL rather than dropped —
    * silently losing their degree mass would misstate every other
    * community's null-model term. */
  def modularity(edges: DataFrame, aCol: String, bCol: String,
      communities: DataFrame, nodeCol: String, commCol: String): DataFrame = {
    val e = edges
      .select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(true) // feeds m, intra-edge AND degree branches
    val comm = communities
      .select(col(nodeCol).as("node"), col(commCol).as("c"))
    val m = e.agg(count(lit(1)).as("m"))
    val intra = e
      .join(comm.select(col("node").as("u"), col("c").as("cu")), Seq("u"))
      .join(comm.select(col("node").as("v"), col("c").as("cv")), Seq("v"))
      .filter(col("cu") <=> col("cv"))
      .groupBy(col("cu").as("c")).agg(count(lit(1)).as("m_c"))
    val degc = e.select(col("u").as("node"))
      .union(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
      .join(comm, Seq("node"), "left")
      .groupBy("c")
      .agg(count(lit(1)).as("n_nodes"), sum(col("d")).as("d_c"))
    val per = degc.join(intra, Seq("c"), "left")
      .na.fill(0L, Seq("m_c"))
      .crossJoin(broadcast(m)) // 1-row build side
      .withColumn("q_c",
        dd(col("m_c")) / dd(col("m")) -
          (dd(col("d_c")) / (dd(col("m")) * 2.0)) *
          (dd(col("d_c")) / (dd(col("m")) * 2.0)))
    val total = per
      .agg(sum(col("q_c").cast("decimal(38,15)")).cast("double").as("q_total"))
    per.crossJoin(broadcast(total)) // 1-row build side
      .select(col("c").as("community"), col("n_nodes"), col("m_c")
          .as("intra_edges"), col("d_c").as("degree_sum"), col("q_c"),
        col("q_total"))
      .orderBy("community")
  }

  /** Does the catalog's brand structure explain the co-purchase graph —
    * modularity of the p_brand partition over the ≥2-support co-purchase
    * edges (the q150/q264 graph). A near-zero Q says brands do NOT form
    * purchasing communities; the per-brand rows show which brands are
    * (anti-)assortative. */
  def q322GraphModularity(spark: SparkSession, dir: String): DataFrame = {
    val bk = Basket.baskets(Tables.lineitem(spark, dir), "l_orderkey",
      "l_partkey", basketCap = 64)
    modularity(Basket.pairCounts(bk, basketCap = 64, minSupport = 2L),
      "p1", "p2",
      Tables.part(spark, dir), "p_partkey", "p_brand")
  }

  /** Hop-bounded Brandes betweenness from `nSources` sampled sources —
    * the standard k-source / k-hop approximation (Brandes 2001, §4;
    * Brandes–Pich 2007 sampling): run a shortest-path-DAG BFS from each
    * source (levels carry exact BIGINT path counts σ), then back-propagate
    * dependencies depth-by-depth, δ(v) = Σ_{w ∈ succ(v)} (σv/σw)·(1+δw),
    * and sum δ over sources per node. Sources are the `nSources`
    * highest-degree nodes (node-id tie-break) — deterministic, no RNG,
    * and pivotal by construction (Brandes–Pich: degree-biased source
    * picks dominate uniform ones at small k); swap in any explicit
    * source frame for production sampling.
    *
    * At scale: all K sources run SIMULTANEOUSLY in one (source, node)
    * keyed frame — each BFS round and each backprop round is one
    * edge-keyed join + one aggregation (shuffle on node), never per-source
    * driver loops; rounds = 2·maxDepth regardless of K. State is
    * O(K · reachable nodes), the hop cap bounds both rounds and frontier
    * growth, and [[bfsHops]]' localCheckpoint discipline keeps lineage
    * flat. Float discipline: the only non-integer step is the dependency
    * sum — each (σv/σw)·(1+δw) term is a fixed IEEE op sequence on
    * exactly representable inputs, quantized to pico-unit INTEGERS
    * (⌊t·1e12 + ½⌋, the q216 rule — a decimal cast would hit the
    * engines' differing double→decimal tie rounding) before the exact
    * per-node and cross-source sums, so every δ and the final
    * betweenness are bit-reproducible. */
  def betweennessSampled(edges: DataFrame, aCol: String, bCol: String,
      nSources: Int, maxDepth: Int): DataFrame = {
    require(nSources >= 1, s"nSources must be >= 1: $nSources")
    require(maxDepth >= 1, s"maxDepth must be >= 1: $maxDepth")
    val bi = edges
      .select(col(aCol).as("u"), col(bCol).as("v"))
      .union(edges.select(col(bCol).as("u"), col(aCol).as("v")))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(true)
    val sources = bi.groupBy("u").agg(count(lit(1)).as("__d"))
      .orderBy(desc("__d"), asc("u")).limit(nSources)
      .select(col("u").as("s"))
    // forward: levels(d) = (s, node, sigma) — σ = #shortest s→node paths
    var levels = Vector(sources
      .select(col("s"), col("s").as("node"), lit(1L).as("sigma"))
      .localCheckpoint(true))
    var seen = levels(0).select("s", "node").localCheckpoint(true)
    var done = false
    while (!done && levels.size <= maxDepth) {
      val prev = levels.last
      val next = prev.join(bi, prev("node") === bi("u"))
        .select(col("s"), col("v").as("node"), col("sigma"))
        .join(seen, Seq("s", "node"), "left_anti")
        .groupBy("s", "node").agg(sum("sigma").as("sigma"))
        .localCheckpoint(true)
      if (next.isEmpty) { done = true; graft.plans.Checkpoints.free(next) }
      else {
        levels :+= next
        val ns = seen.union(next.select("s", "node")).localCheckpoint(true)
        graft.plans.Checkpoints.free(seen) // superseded visited-set
        seen = ns
      }
    }
    // seen only gates the forward anti-joins — done with it entirely
    graft.plans.Checkpoints.free(seen)
    val depth = levels.size - 1
    // backward: deltas(d) = levels(d) + δ; deepest level has no
    // successors inside the horizon → δ = 0 (both engines agree: the
    // oracle's join against the empty next level yields the same zero)
    var deltas = Map(depth -> levels(depth).withColumn("delta", lit(0.0)))
    for (d <- (depth - 1) to 1 by -1) {
      val cur = levels(d)
      val nxt = deltas(d + 1).select(col("s").as("s2"), col("node").as("w"),
        col("sigma").as("sw"), col("delta").as("dw"))
      // pico-unit integer quantization (⌊t·1e12 + ½⌋, the q216 rule) —
      // NOT a decimal cast, whose double→decimal tie-rounding differs
      // between engines at exactly the 1e-12 place
      val terms = cur.join(bi, cur("node") === bi("u"))
        .join(nxt, col("s") === col("s2") && col("v") === col("w"))
        .select(col("s"), col("node"),
          floor((dd(col("sigma")) / dd(col("sw"))) * (lit(1.0) + col("dw"))
            * 1e12 + 0.5).cast("decimal(38,0)").as("term"))
        .groupBy("s", "node")
        .agg((sum("term").cast("decimal(38,0)").cast("double") / 1e12)
          .as("delta"))
      deltas += d -> cur.join(terms, Seq("s", "node"), "left")
        .na.fill(0.0, Seq("delta")).localCheckpoint(true)
      // levels(d) is folded into the (checkpointed) deltas(d) now; only
      // levels(depth) survives — deltas(depth) is a lazy projection of it
      if (d < depth) graft.plans.Checkpoints.free(cur)
    }
    // each reached node sits at exactly one depth per source; depth-0
    // rows (the source itself) are excluded per Brandes (v ≠ s)
    val contrib = (1 to depth)
      .map(d => deltas(d).select(col("node"), col("delta")))
      .reduce(_ union _)
    contrib.groupBy("node")
      .agg((sum(floor(col("delta") * 1e12 + 0.5).cast("decimal(38,0)"))
          .cast("decimal(38,0)").cast("double") / 1e12).as("betweenness"),
        count(lit(1)).as("n_sources"))
      .orderBy("node")
  }

  /** Which parts broker the co-purchase graph — 4-hop Brandes dependency
    * from the 8 smallest part ids over the ≥2-support co-order edges
    * (the q150/q151 graph). Completes the centrality family
    * (PageRank q138 / HITS q171 / k-core q211 / PPR q297). */
  def q333Betweenness(spark: SparkSession, dir: String): DataFrame = {
    val bk = Basket.baskets(Tables.lineitem(spark, dir), "l_orderkey",
      "l_partkey", basketCap = 64)
    betweennessSampled(Basket.pairCounts(bk, basketCap = 64, minSupport = 2L),
      "p1", "p2", nSources = 8, maxDepth = 4)
  }

  /** Hop-bounded harmonic closeness centrality from `nSources` sampled
    * sources — "who can reach the graph fastest". Harmonic (Boldi &
    * Vigna 2014), not classic 1/Σd, because it stays defined on
    * disconnected graphs: H(s) = Σ_{v≠s, d(s,v) ≤ maxDepth} 1/d(s,v).
    * Sources are the `nSources` highest-degree nodes (id tie-break) —
    * the q333 sampling rule; the hop cap makes it the same k-source /
    * k-hop approximation family.
    *
    * Shape: ALL K sources run simultaneously in one (source, node)-keyed
    * frontier BFS ([[betweennessSampled]]'s forward pass without σ) —
    * each round is one edge join + one anti-join, frontiers and the
    * visited set are localCheckpointed with superseded-state frees. The
    * per-source finish reduces the (s, node, hop) reach set in one
    * groupBy; 1/d terms are pico-quantized DECIMAL(38,12) before the
    * order-insensitive sum. */
  def harmonicCloseness(edges: DataFrame, aCol: String, bCol: String,
      nSources: Int, maxDepth: Int): DataFrame = {
    require(nSources >= 1, s"nSources must be >= 1: $nSources")
    require(maxDepth >= 1, s"maxDepth must be >= 1: $maxDepth")
    val q3812 = (c: Column) => c.cast("decimal(38,12)")
    val bi = edges
      .select(col(aCol).as("u"), col(bCol).as("v"))
      .union(edges.select(col(bCol).as("u"), col(aCol).as("v")))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(true)
    val sources = bi.groupBy("u").agg(count(lit(1)).as("__d"))
      .orderBy(desc("__d"), asc("u")).limit(nSources)
      .select(col("u").as("s"))
    var frontier = sources.select(col("s"), col("s").as("node"))
      .localCheckpoint(true)
    var seen = frontier
    // reached(d) stays a LAZY projection over the checkpointed frontier
    // frames, so superseded frontiers are NOT freed here (they feed the
    // final union); only the visited set is superseded round-to-round
    var reached = Vector.empty[DataFrame]
    var d = 1
    var done = false
    while (!done && d <= maxDepth) {
      val next = frontier.join(bi, frontier("node") === bi("u"))
        .select(col("s"), col("v").as("node")).distinct()
        .join(seen, Seq("s", "node"), "left_anti")
        .localCheckpoint(true)
      if (next.isEmpty) { done = true; graft.plans.Checkpoints.free(next) }
      else {
        reached :+= next.withColumn("hop", lit(d.toLong))
        val ns = seen.union(next).localCheckpoint(true)
        if (seen ne frontier) graft.plans.Checkpoints.free(seen)
        seen = ns
        frontier = next
      }
      d += 1
    }
    graft.plans.Checkpoints.free(seen)
    require(reached.nonEmpty,
      "harmonicCloseness: no node is reachable from any source " +
        "within maxDepth — empty or edgeless graph")
    reached.reduce(_ union _)
      .groupBy("s")
      .agg(count(lit(1)).as("n_reached"), sum("hop").as("sum_hops"),
        sum(q3812(lit(1.0) / dd(col("hop")))).cast("decimal(38,12)")
          .as("h"))
      .select(col("s").as("node"), col("n_reached"), col("sum_hops"),
        dd(col("h")).as("harmonic"),
        (dd(col("n_reached")) / dd(col("sum_hops"))).as("closeness"))
      .orderBy("node")
  }

  /** Which hub parts can reach the co-purchase catalog fastest — 4-hop
    * harmonic closeness from the 8 highest-degree parts over the
    * ≥2-support co-order graph (the q333 graph and sampling rule). */
  def q392HarmonicCloseness(spark: SparkSession, dir: String): DataFrame = {
    val bk = Basket.baskets(Tables.lineitem(spark, dir), "l_orderkey",
      "l_partkey", basketCap = 64)
    harmonicCloseness(Basket.pairCounts(bk, basketCap = 64,
      minSupport = 2L), "p1", "p2", nSources = 8, maxDepth = 4)
  }

  /** Rich-club coefficient (Zhou & Mondragón 2004): do the top-`topM`
    * highest-degree nodes link to EACH OTHER more densely than the graph
    * overall — the oligarchy test behind "do hub products co-sell as a
    * clique or as independent stars". φ(m) = 2·E_club/(m(m−1)) over the
    * club's internal edge count, reported next to the global density and
    * their ratio (≫ 1 = rich club). Exact counting: one degree
    * aggregation, two broadcast semi-joins of the m-row club against the
    * edge list, three global counts — edge-linear, no iteration.
    *
    * Degenerate inputs (ADVICE-r10-class audit): `club_size` is the
    * ACTUAL club cardinality min(topM, |nodes|), and φ divides by IT —
    * with topM > node-count the requested-m denominator would silently
    * deflate φ (Zhou & Mondragón define φ(m) over a club of m REAL
    * nodes). φ is NULL when the club has < 2 nodes, density NULL when
    * the graph has < 2 nodes (0/0 guards), and an all-self-loop /
    * empty edge frame yields one row of zeros + NULLs, never a crash. */
  def richClub(edges: DataFrame, aCol: String, bCol: String,
      topM: Int): DataFrame = {
    require(topM >= 2, s"topM must be >= 2: $topM")
    val e = edges
      .select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(true)
    val deg = e.select(col("u").as("node"))
      .union(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    val hubs = deg.orderBy(desc("d"), asc("node")).limit(topM)
      .select("node")
    val eRich = e
      .join(broadcast(hubs.withColumnRenamed("node", "u")), Seq("u"),
        "left_semi")
      .join(broadcast(hubs.withColumnRenamed("node", "v")), Seq("v"),
        "left_semi")
      .agg(count(lit(1)).as("e_club"))
    val m = col("club_size")
    deg.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(e.agg(count(lit(1)).as("n_edges")))
      .crossJoin(eRich) // three 1-row statistic frames
      .withColumn("club_size", least(lit(topM.toLong), col("n_nodes")))
      .select(col("club_size"), col("n_nodes"), col("n_edges"),
        col("e_club"),
        when(m >= 2, dd(col("e_club")) * 2.0 / (dd(m) * dd(m - 1)))
          .as("phi"),
        when(col("n_nodes") >= 2, dd(col("n_edges")) * 2.0 /
          (dd(col("n_nodes")) * dd(col("n_nodes") - 1))).as("density"))
      .withColumn("phi_norm", col("phi") / col("density"))
  }

  /** Do the 30 most co-ordered parts form a purchasing oligarchy — the
    * rich-club density ratio over the ≥2-support co-order graph. */
  def q393RichClub(spark: SparkSession, dir: String): DataFrame = {
    val bk = Basket.baskets(Tables.lineitem(spark, dir), "l_orderkey",
      "l_partkey", basketCap = 64)
    richClub(Basket.pairCounts(bk, basketCap = 64, minSupport = 2L),
      "p1", "p2", topM = 30)
  }

  /** Directed-graph reciprocity over a weighted edge-count list: the
    * unweighted form (fraction of directed i→j edges, i≠j, whose reverse
    * j→i exists) and the weighted form r = Σ min(nᵢⱼ, nⱼᵢ) / Σ nᵢⱼ
    * (Squartini et al. 2013) — "is this flow a two-way conversation or a
    * one-way funnel", the directionality audit of the q138/q266
    * transition machinery. One self-equi-join on the reversed key over
    * the edge-count frame (type-pair-sized), exact integer counts, two
    * double divisions. */
  def reciprocity(edges: DataFrame, srcCol: String, dstCol: String,
      nCol: String): DataFrame = {
    val e = edges.select(col(srcCol).as("u"), col(dstCol).as("v"),
        col(nCol).cast("long").as("n"))
      .filter(col("u") =!= col("v"))
    val rev = e.select(col("v").as("u"), col("u").as("v"),
      col("n").as("rn"))
    e.join(rev, Seq("u", "v"), "left")
      .na.fill(0L, Seq("rn"))
      .agg(count(lit(1)).as("n_directed_edges"),
        sum(when(col("rn") > 0, 1L).otherwise(0L)).as("n_reciprocated"),
        sum("n").as("n_transitions"),
        sum(least(col("n"), col("rn"))).as("n_matched"))
      .select(col("n_directed_edges"), col("n_reciprocated"),
        (dd(col("n_reciprocated")) / dd(col("n_directed_edges")))
          .as("edge_reciprocity"),
        col("n_transitions"),
        (dd(col("n_matched")) / dd(col("n_transitions")))
          .as("weighted_reciprocity"))
  }

  /** Do session flows bounce back (view⇄click) or funnel one way —
    * reciprocity of the session-transition graph (the q138 edges). */
  def q406TransitionReciprocity(spark: SparkSession,
      dir: String): DataFrame =
    reciprocity(
      Behavior.sessionTransitions(Tables.events(spark, dir), "ts",
        "user_id", "event_type", "event_id", gapSeconds = 30 * 60L),
      "from_type", "to_type", "n")

  /** Degree-distribution power-law fit: log-log OLS of the degree CCDF
    * P(D ≥ d) over the distinct observed degrees — the "is this graph
    * scale-free, and how heavy is the hub tail" diagnostic (α ≈ 2–3 for
    * scale-free networks; the CCDF form is the standard estimator-stable
    * choice over the raw pdf histogram). Exact suffix counts from one
    * range-partitioned rank pass over the DEGREE HISTOGRAM
    * ([[Rank.globalRankPrefix]] — never a raw-node sort); ln values
    * quantized DECIMAL(18,12) (the q241 Zipf discipline) into exact
    * decimal OLS moments. Returns slope (CCDF exponent; α = 1 − slope),
    * fit r² and the graph shape numbers. */
  def degreePowerLaw(edges: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val e = edges
      .select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(true)
    val deg = e.select(col("u").as("node"))
      .union(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    val hist = deg.groupBy("d").agg(count(lit(1)).as("cnt"))
    val tot = deg.agg(count(lit(1)).as("nn"))
    val pts = Rank.globalRankPrefix(hist, Seq(col("d")),
        Seq("cum" -> col("cnt")))
      .crossJoin(broadcast(tot)) // 1-row build side
      // suffix count = nodes with degree >= d
      .select(col("d"), (col("nn") - col("cum") + col("cnt")).as("ge"),
        col("nn"))
      .select(log(dd(col("d"))).cast("decimal(18,12)").as("x"),
        log(dd(col("ge")) / dd(col("nn"))).cast("decimal(18,12)").as("y"),
        col("d"), col("nn"))
    val m = pts.agg(count(lit(1)).as("n_degrees"),
      max("nn").as("n_nodes"), max("d").as("max_degree"),
      sum(col("x")).cast("decimal(38,12)").as("sx"),
      sum(col("y")).cast("decimal(38,12)").as("sy"),
      sum(col("x") * col("y")).cast("decimal(38,24)").as("sxy"),
      sum(col("x") * col("x")).cast("decimal(38,24)").as("sxx"),
      sum(col("y") * col("y")).cast("decimal(38,24)").as("syy"))
    val cov = dd(col("n_degrees")) * dd(col("sxy")) -
      dd(col("sx")) * dd(col("sy"))
    val vx = dd(col("n_degrees")) * dd(col("sxx")) -
      dd(col("sx")) * dd(col("sx"))
    val vy = dd(col("n_degrees")) * dd(col("syy")) -
      dd(col("sy")) * dd(col("sy"))
    m.filter(col("n_degrees") > 2)
      .select(col("n_nodes"), col("n_degrees"), col("max_degree"),
        (cov / vx).as("ccdf_slope"),
        (lit(1.0) - cov / vx).as("alpha"),
        ((cov * cov) / (vx * vy)).as("r2"))
  }

  /** How heavy is the co-order graph's hub tail — the CCDF power-law
    * exponent over the ≥2-support part co-order degrees. */
  def q407DegreePowerLaw(spark: SparkSession, dir: String): DataFrame = {
    val bk = Basket.baskets(Tables.lineitem(spark, dir), "l_orderkey",
      "l_partkey", basketCap = 64)
    degreePowerLaw(Basket.pairCounts(bk, basketCap = 64, minSupport = 2L),
      "p1", "p2")
  }

  private val transitionsSql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, event_id, epoch_us(ts) AS us
      |  FROM events),
      |flagged AS (
      |  SELECT *, CASE WHEN LAG(us) OVER w IS NULL
      |      OR us - LAG(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      |sess AS (
      |  SELECT *, SUM(new_s) OVER (PARTITION BY user_id
      |    ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM flagged),
      |pairs AS (
      |  SELECT event_type AS src,
      |    LEAD(event_type) OVER (PARTITION BY user_id, sid
      |      ORDER BY us, event_id) AS dst
      |  FROM sess),
      |cnt AS (
      |  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM pairs WHERE dst IS NOT NULL GROUP BY 1, 2),
      |edges AS (
      |  SELECT src, dst, CAST(n AS DOUBLE) /
      |    CAST(SUM(n) OVER (PARTITION BY src) AS DOUBLE) AS p
      |  FROM cnt),
      |nodes AS (SELECT src AS node FROM edges
      |          UNION SELECT dst FROM edges),
      |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM nodes)""".stripMargin

  /** One unrolled iteration: `rK = teleport + d·Σ r(K−1)·p`, the edge
    * contributions DECIMAL-quantized exactly like the engine side. */
  private def iterSql(k: Int): String =
    s"""c$k AS (
       |  SELECT e.dst AS node,
       |    CAST(SUM(CAST(r.rank * e.p AS DECIMAL(38,18))) AS DOUBLE)
       |      AS inflow
       |  FROM edges e JOIN r${k - 1} r ON e.src = r.node GROUP BY e.dst),
       |r$k AS (
       |  SELECT n.node,
       |    (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
       |        / CAST(nn.n_nodes AS DOUBLE)
       |      + CAST(0.85 AS DOUBLE) * COALESCE(c.inflow, 0.0) AS rank
       |  FROM nodes n CROSS JOIN nn LEFT JOIN c$k c ON c.node = n.node)"""
      .stripMargin

  /** One unrolled personalized-PageRank iteration: restart mass pinned
    * to the probe node, contributions DECIMAL-quantized like the
    * engine side. */
  private def pprIterSql(k: Int): String =
    s"""pc$k AS (
       |  SELECT e.dst AS node,
       |    CAST(SUM(CAST(r.rank * e.p AS DECIMAL(38,18))) AS DOUBLE)
       |      AS inflow
       |  FROM edges e JOIN pr${k - 1} r ON e.src = r.node GROUP BY e.dst),
       |pr$k AS (
       |  SELECT n.node,
       |    (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
       |        * CASE WHEN n.node = 'view' THEN CAST(1.0 AS DOUBLE)
       |          ELSE CAST(0 AS DOUBLE) END
       |      + CAST(0.85 AS DOUBLE) * COALESCE(c.inflow, 0.0) AS rank
       |  FROM nodes n LEFT JOIN pc$k c ON c.node = n.node)"""
      .stripMargin

  /** One unrolled BFS level with path counts: σ_i(v) = Σ σ_{i-1}(u) over
    * edges u→v not yet seen (the Brandes forward pass). */
  private def bfsSigmaLevelSql(i: Int): String =
    s"""l$i AS MATERIALIZED (
       |  SELECT p.s, bi.v AS node, CAST(SUM(p.sigma) AS BIGINT) AS sigma
       |  FROM l${i - 1} p JOIN bi ON bi.u = p.node
       |  LEFT JOIN s${i - 1} sv ON sv.s = p.s AND sv.node = bi.v
       |  WHERE sv.node IS NULL
       |  GROUP BY 1, 2),
       |s$i AS (SELECT * FROM s${i - 1} UNION ALL SELECT s, node FROM l$i)"""
      .stripMargin

  /** One unrolled Brandes backprop level: δ_i(v) = Σ_{w ∈ level i+1}
    * (σv/σw)(1+δw), terms quantized to pico-unit integers like the
    * engine (⌊t·1e12 + ½⌋ — identical IEEE ops both sides). */
  private def brandesBackSql(i: Int): String =
    s"""d$i AS MATERIALIZED (
       |  SELECT c.s, c.node, c.sigma, COALESCE(t.delta, 0.0) AS delta
       |  FROM l$i c LEFT JOIN (
       |    SELECT c2.s, c2.node,
       |      CAST(SUM(CAST(FLOOR((CAST(c2.sigma AS DOUBLE)
       |          / CAST(n.sigma AS DOUBLE))
       |        * (1.0 + n.delta) * 1e12 + 0.5) AS DECIMAL(38,0)))
       |        AS DOUBLE) / 1e12 AS delta
       |    FROM l$i c2 JOIN bi ON bi.u = c2.node
       |    JOIN d${i + 1} n ON n.s = c2.s AND n.node = bi.v
       |    GROUP BY 1, 2) t ON t.s = c.s AND t.node = c.node)"""
      .stripMargin

  /** One unrolled k-core peel round over ed{i-1} (k = 80). */
  /** One unrolled k-truss peel over te{i-1} (k = 3 → support ≥ 1):
    * id-ordered triangle enumeration (a<b<c over canonical u<v edges
    * visits each triangle once — the same set the engine's
    * degree-ordered orientation enumerates, so supports agree),
    * 3-way edge attribution, left-join filter. */
  private def kTrussIterSql(i: Int): String =
    s"""tr$i AS MATERIALIZED (
       |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
       |  FROM te${i - 1} e1 JOIN te${i - 1} e2 ON e1.v = e2.u
       |  JOIN te${i - 1} e3 ON e3.u = e1.u AND e3.v = e2.v),
       |sp$i AS MATERIALIZED (
       |  SELECT u, v, CAST(COUNT(*) AS BIGINT) AS s FROM (
       |    SELECT a AS u, b AS v FROM tr$i
       |    UNION ALL SELECT b, c FROM tr$i
       |    UNION ALL SELECT a, c FROM tr$i) GROUP BY 1, 2),
       |te$i AS MATERIALIZED (
       |  SELECT e.u, e.v FROM te${i - 1} e
       |  LEFT JOIN sp$i s ON s.u = e.u AND s.v = e.v
       |  WHERE COALESCE(s.s, 0) >= 1)""".stripMargin

  private def kCoreIterSql(i: Int): String =
    s"""k$i AS MATERIALIZED (
       |  SELECT node FROM (
       |    SELECT node, COUNT(*) AS d FROM (
       |      SELECT u AS node FROM ed${i - 1}
       |      UNION ALL SELECT v FROM ed${i - 1}) GROUP BY 1)
       |  WHERE d >= 80),
       |ed$i AS MATERIALIZED (
       |  SELECT e.u, e.v FROM ed${i - 1} e
       |  JOIN k$i a ON a.node = e.u JOIN k$i b ON b.node = e.v)""".stripMargin

  /** One unrolled synchronous label-propagation round over l{i-1}. */
  private def lpaIterSql(i: Int): String =
    s"""v$i AS (
       |  SELECT node, lbl, COUNT(*) AS c FROM (
       |    SELECT b.u AS node, l.lbl FROM bi b
       |    JOIN l${i - 1} l ON l.node = b.v
       |    UNION ALL SELECT node, lbl FROM l${i - 1})
       |  GROUP BY 1, 2),
       |l$i AS MATERIALIZED (
       |  SELECT node, lbl FROM (
       |    SELECT node, lbl, ROW_NUMBER() OVER (PARTITION BY node
       |      ORDER BY c DESC, lbl) AS rk
       |    FROM v$i) WHERE rk = 1)""".stripMargin

  val declared: Map[String, Query] = Map(
    "q406_transition_reciprocity" -> Query(q406TransitionReciprocity, (transitionsSql + ",\n" +
      """e2 AS (SELECT src, dst, n FROM cnt WHERE src <> dst),
        |wr AS (
        |  SELECT a.src, a.dst, a.n, COALESCE(b.n, 0) AS rn
        |  FROM e2 a LEFT JOIN e2 b ON b.src = a.dst AND b.dst = a.src),
        |agg AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_directed_edges,
        |    CAST(SUM(CASE WHEN rn > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_reciprocated,
        |    CAST(SUM(n) AS BIGINT) AS n_transitions,
        |    CAST(SUM(LEAST(n, rn)) AS BIGINT) AS n_matched
        |  FROM wr)
        |SELECT n_directed_edges, n_reciprocated,
        |  CAST(n_reciprocated AS DOUBLE)
        |    / CAST(n_directed_edges AS DOUBLE) AS edge_reciprocity,
        |  n_transitions,
        |  CAST(n_matched AS DOUBLE) / CAST(n_transitions AS DOUBLE)
        |    AS weighted_reciprocity
        |FROM agg""".stripMargin)),
    "q407_degree_powerlaw" -> Query(q407DegreePowerLaw,
      """WITH op AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |ed AS MATERIALIZED (
        |  SELECT a.p AS u, b.p AS v
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |deg AS (
        |  SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
        |    SELECT u AS node FROM ed UNION ALL SELECT v FROM ed)
        |  GROUP BY node),
        |hist AS (
        |  SELECT d, CAST(COUNT(*) AS BIGINT) AS cnt FROM deg GROUP BY d),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM deg),
        |cum AS (
        |  SELECT d, cnt,
        |    SUM(cnt) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM hist),
        |pts AS (
        |  SELECT CAST(LN(CAST(d AS DOUBLE)) AS DECIMAL(18,12)) AS x,
        |    CAST(LN(CAST(nn - cum + cnt AS DOUBLE) / CAST(nn AS DOUBLE))
        |      AS DECIMAL(18,12)) AS y,
        |    d, nn
        |  FROM cum, tot),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_degrees,
        |    CAST(MAX(nn) AS BIGINT) AS n_nodes,
        |    CAST(MAX(d) AS BIGINT) AS max_degree,
        |    CAST(SUM(x) AS DECIMAL(38,12)) AS sx,
        |    CAST(SUM(y) AS DECIMAL(38,12)) AS sy,
        |    CAST(SUM(x * y) AS DECIMAL(38,24)) AS sxy,
        |    CAST(SUM(x * x) AS DECIMAL(38,24)) AS sxx,
        |    CAST(SUM(y * y) AS DECIMAL(38,24)) AS syy
        |  FROM pts),
        |f AS (
        |  SELECT n_nodes, n_degrees, max_degree,
        |    CAST(n_degrees AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cov,
        |    CAST(n_degrees AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
        |    CAST(n_degrees AS DOUBLE) * CAST(syy AS DOUBLE)
        |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vy
        |  FROM m WHERE n_degrees > 2)
        |SELECT n_nodes, n_degrees, max_degree,
        |  cov / vx AS ccdf_slope, 1.0 - cov / vx AS alpha,
        |  (cov * cov) / (vx * vy) AS r2
        |FROM f""".stripMargin),
    "q392_harmonic_closeness" -> Query(q392HarmonicCloseness,
      """WITH RECURSIVE op AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |ed AS MATERIALIZED (
        |  SELECT a.p AS u, b.p AS v
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |bi AS MATERIALIZED (
        |  SELECT u, v FROM ed UNION ALL SELECT v, u FROM ed),
        |src AS (
        |  SELECT u AS s FROM (SELECT u, COUNT(*) AS d FROM bi GROUP BY u)
        |  ORDER BY d DESC, u LIMIT 8),
        |walk AS (
        |  SELECT s, s AS node, 0 AS hop FROM src
        |  UNION
        |  SELECT w.s, bi.v AS node, w.hop + 1
        |  FROM walk w JOIN bi ON bi.u = w.node
        |  WHERE w.hop < 4),
        |dist AS (
        |  SELECT s, node, CAST(MIN(hop) AS BIGINT) AS d
        |  FROM walk GROUP BY 1, 2 HAVING MIN(hop) > 0)
        |SELECT s AS node, CAST(COUNT(*) AS BIGINT) AS n_reached,
        |  CAST(SUM(d) AS BIGINT) AS sum_hops,
        |  CAST(CAST(SUM(CAST(1.0 / CAST(d AS DOUBLE) AS DECIMAL(38,12)))
        |    AS DECIMAL(38,12)) AS DOUBLE) AS harmonic,
        |  CAST(COUNT(*) AS DOUBLE) / CAST(SUM(d) AS DOUBLE) AS closeness
        |FROM dist GROUP BY s ORDER BY node""".stripMargin),
    "q393_rich_club" -> Query(q393RichClub,
      """WITH op AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |ed AS MATERIALIZED (
        |  SELECT a.p AS u, b.p AS v
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |deg AS (
        |  SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
        |    SELECT u AS node FROM ed UNION ALL SELECT v FROM ed)
        |  GROUP BY node),
        |hubs AS (SELECT node FROM deg ORDER BY d DESC, node LIMIT 30),
        |er AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS e_club
        |  FROM ed
        |  JOIN hubs h1 ON ed.u = h1.node
        |  JOIN hubs h2 ON ed.v = h2.node),
        |shape AS (
        |  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM ed) AS n_edges),
        |fin AS (
        |  SELECT CAST(30 AS BIGINT) AS club_size, n_nodes, n_edges,
        |    e_club,
        |    CAST(e_club AS DOUBLE) * 2.0
        |      / (CAST(30 AS DOUBLE) * CAST(29 AS DOUBLE)) AS phi,
        |    CAST(n_edges AS DOUBLE) * 2.0
        |      / (CAST(n_nodes AS DOUBLE) * CAST(n_nodes - 1 AS DOUBLE))
        |      AS density
        |  FROM shape, er)
        |SELECT *, phi / density AS phi_norm FROM fin""".stripMargin),
    // 8-source 4-hop Brandes, fully unrolled: 4 σ-level CTEs + 3
    // backprop CTEs; the deepest level's δ = 0 on both sides (no
    // successors inside the horizon), per-node totals are exact
    // decimal sums of the quantized δ
    "q333_betweenness" -> Query(q333Betweenness,
      ("""WITH op AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |ed AS MATERIALIZED (
        |  SELECT a.p AS u, b.p AS v
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |bi AS MATERIALIZED (
        |  SELECT u, v FROM ed UNION ALL SELECT v, u FROM ed),
        |src AS (
        |  SELECT u AS s FROM (SELECT u, COUNT(*) AS d FROM bi GROUP BY u)
        |  ORDER BY d DESC, u LIMIT 8),
        |l0 AS (SELECT s, s AS node, CAST(1 AS BIGINT) AS sigma FROM src),
        |s0 AS (SELECT s, node FROM l0),""".stripMargin + "\n" +
        (1 to 4).map(bfsSigmaLevelSql).mkString(",\n") + ",\n" +
        "d4 AS (SELECT s, node, sigma, 0.0 AS delta FROM l4),\n" +
        (3 to 1 by -1).map(brandesBackSql).mkString(",\n") + ",\n" +
        """contrib AS (
        |  SELECT node, delta FROM d1 UNION ALL
        |  SELECT node, delta FROM d2 UNION ALL
        |  SELECT node, delta FROM d3 UNION ALL
        |  SELECT node, delta FROM d4)
        |SELECT node,
        |  CAST(SUM(CAST(FLOOR(delta * 1e12 + 0.5) AS DECIMAL(38,0)))
        |    AS DOUBLE) / 1e12 AS betweenness,
        |  CAST(COUNT(*) AS BIGINT) AS n_sources
        |FROM contrib GROUP BY node ORDER BY node""".stripMargin)),
    "q322_graph_modularity" -> Query(q322GraphModularity,
      """WITH op AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |ed AS MATERIALIZED (
        |  SELECT a.p AS u, b.p AS v
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM ed),
        |cm AS (SELECT p_partkey AS node, p_brand AS c FROM part),
        |intra AS (
        |  SELECT cu.c AS c, CAST(COUNT(*) AS BIGINT) AS m_c
        |  FROM ed JOIN cm cu ON cu.node = ed.u
        |  JOIN cm cv ON cv.node = ed.v
        |  WHERE cu.c = cv.c GROUP BY 1),
        |deg AS (
        |  SELECT node, CAST(COUNT(*) AS BIGINT) AS d
        |  FROM (SELECT u AS node FROM ed UNION ALL SELECT v FROM ed)
        |  GROUP BY 1),
        |degc AS (
        |  SELECT cm.c AS c, CAST(COUNT(*) AS BIGINT) AS n_nodes,
        |    CAST(SUM(d) AS BIGINT) AS d_c
        |  FROM deg LEFT JOIN cm ON cm.node = deg.node GROUP BY 1),
        |per AS (
        |  SELECT degc.c, n_nodes, CAST(COALESCE(m_c, 0) AS BIGINT) AS m_c,
        |    d_c,
        |    CAST(COALESCE(m_c, 0) AS DOUBLE) / CAST(mm.m AS DOUBLE)
        |      - (CAST(d_c AS DOUBLE) / (CAST(mm.m AS DOUBLE) * 2.0))
        |        * (CAST(d_c AS DOUBLE) / (CAST(mm.m AS DOUBLE) * 2.0))
        |      AS q_c
        |  FROM degc LEFT JOIN intra ON intra.c = degc.c CROSS JOIN mm)
        |SELECT c AS community, n_nodes, m_c AS intra_edges,
        |  d_c AS degree_sum, q_c,
        |  (SELECT CAST(SUM(CAST(q_c AS DECIMAL(38,15))) AS DOUBLE)
        |   FROM per) AS q_total
        |FROM per ORDER BY community""".stripMargin),
    "q270_local_clustering" -> Query(q270LocalClustering,
      """WITH op AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |ed AS MATERIALIZED (
        |  SELECT a.p AS u, b.p AS v
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |bi AS (
        |  SELECT u AS c, v AS x FROM ed
        |  UNION ALL SELECT v, u FROM ed),
        |deg AS (
        |  SELECT c AS node, CAST(COUNT(*) AS BIGINT) AS degree
        |  FROM bi GROUP BY c),
        |wedges AS (
        |  SELECT a.c AS ctr, a.x AS u, b.x AS v
        |  FROM bi a JOIN bi b ON a.c = b.c AND a.x < b.x),
        |tri AS (
        |  SELECT ctr, CAST(COUNT(*) AS BIGINT) AS n_triangles
        |  FROM wedges JOIN ed ON ed.u = wedges.u AND ed.v = wedges.v
        |  GROUP BY ctr)
        |SELECT node, degree, COALESCE(n_triangles, 0) AS n_triangles,
        |  CAST(COALESCE(n_triangles, 0) AS DOUBLE) * 2
        |    / (CAST(degree AS DOUBLE) * (CAST(degree AS DOUBLE) - 1)) AS lcc
        |FROM deg LEFT JOIN tri ON tri.ctr = deg.node
        |WHERE degree >= 2 ORDER BY node""".stripMargin),
    "q264_adamic_adar" -> Query(q264AdamicAdar,
      """WITH op AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |ed AS MATERIALIZED (
        |  SELECT DISTINCT a.p AS u, b.p AS v
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
        |bi AS MATERIALIZED (
        |  SELECT u, v FROM ed UNION SELECT v, u FROM ed),
        |deg AS (SELECT u AS node, COUNT(*) AS d FROM bi GROUP BY 1),
        |mid AS (
        |  SELECT bi.u, bi.v, deg.d FROM bi
        |  JOIN deg ON deg.node = bi.v WHERE deg.d <= 1024),
        |ph AS (
        |  SELECT p.p_partkey AS u, m.v AS w,
        |    CAST(1.0 / LN(CAST(m.d AS DOUBLE)) AS DECIMAL(38,15)) AS term
        |  FROM part p JOIN mid m ON m.u = p.p_partkey
        |  WHERE p.p_partkey % 100 = 0),
        |th AS (
        |  SELECT ph.u, b.v AS cand, ph.term
        |  FROM ph JOIN bi b ON b.u = ph.w WHERE b.v <> ph.u),
        |sc AS (
        |  SELECT u, cand AS v, COUNT(*) AS n_common,
        |    CAST(SUM(term) AS DECIMAL(38,15)) AS aa
        |  FROM th GROUP BY 1, 2),
        |nolink AS (
        |  SELECT sc.* FROM sc LEFT JOIN bi
        |  ON bi.u = sc.u AND bi.v = sc.v WHERE bi.u IS NULL),
        |rked AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY u
        |    ORDER BY aa DESC, v) AS rk
        |  FROM nolink)
        |SELECT u AS probe, v AS candidate, n_common,
        |  CAST(aa AS DOUBLE) AS aa_score, rk
        |FROM rked WHERE rk <= 3 ORDER BY probe, rk""".stripMargin),
    "q265_label_propagation" -> Query(q265LabelPropagation,
      ("""WITH op AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |ed AS (
        |  SELECT a.p AS u, b.p AS v
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |bi AS MATERIALIZED (
        |  SELECT u, v FROM ed UNION SELECT v, u FROM ed),
        |l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM bi),
        |""".stripMargin +
        (1 to 3).map(lpaIterSql).mkString(",\n") + "\n" +
        """SELECT node, lbl AS community FROM l3 ORDER BY node""")),
    "q297_personalized_pagerank" -> Query(q297PersonalizedPagerank, (transitionsSql + ",\n" +
      """pr0 AS (
        |  SELECT node, CASE WHEN node = 'view' THEN CAST(1.0 AS DOUBLE)
        |    ELSE CAST(0 AS DOUBLE) END AS rank
        |  FROM nodes),""".stripMargin + "\n" +
      (1 to 5).map(pprIterSql).mkString(",\n") + "\n" +
      """SELECT node AS event_type,
        |  CAST(CAST(rank AS DECIMAL(20,12)) AS DOUBLE) AS ppr
        |FROM pr5 ORDER BY event_type""".stripMargin)),
    "q138_pagerank" -> Query(q138PageRank, (transitionsSql + ",\n" +
      """r0 AS (
        |  SELECT node, 1.0 / CAST(nn.n_nodes AS DOUBLE) AS rank
        |  FROM nodes CROSS JOIN nn),""".stripMargin + "\n" +
      (1 to 5).map(iterSql).mkString(",\n") + "\n" +
      """SELECT node AS event_type,
        |  CAST(CAST(rank AS DECIMAL(20,12)) AS DOUBLE) AS rank
        |FROM r5 ORDER BY event_type""".stripMargin)),
    // same ed CTE as q150, then exactly 6 unrolled peel rounds
    // (MATERIALIZED: each round feeds three references — inlining would
    // blow up 3^rounds). A converged round is a no-op, matching the
    // Spark loop's early exit.
    "q211_kcore" -> Query(q211KCore,
      ("""WITH op AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |ed0 AS MATERIALIZED (
        |  SELECT DISTINCT a.p AS u, b.p AS v
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
        |""".stripMargin +
        (1 to 6).map(kCoreIterSql).mkString(",\n") + "\n" +
        """SELECT node, CAST(COUNT(*) AS BIGINT) AS core_degree
        |FROM (SELECT u AS node FROM ed6 UNION ALL SELECT v FROM ed6)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    "q422_ktruss" -> Query(q422KTruss,
      ("""WITH op AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |te0 AS MATERIALIZED (
        |  SELECT a.p AS u, b.p AS v
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |""".stripMargin +
        (1 to 2).map(kTrussIterSql).mkString(",\n") + "\n" +
        """SELECT node, CAST(COUNT(*) AS BIGINT) AS truss_degree
        |FROM (SELECT u AS node FROM te2 UNION ALL SELECT v FROM te2)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    // same ed CTE as q150; the bi-directed endpoint-degree moments are
    // exact integers, the final division is the one double op
    "q208_assortativity" -> Query(q208Assortativity,
      """WITH op AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |ed AS (
        |  SELECT a.p AS u, b.p AS v
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |deg AS (
        |  SELECT node, CAST(COUNT(*) AS BIGINT) AS d
        |  FROM (SELECT u AS node FROM ed UNION ALL SELECT v FROM ed)
        |  GROUP BY 1),
        |bi AS (SELECT u, v FROM ed UNION ALL SELECT v, u FROM ed),
        |j AS (
        |  SELECT du.d AS dx, dv.d AS dy
        |  FROM bi JOIN deg du ON du.node = bi.u
        |    JOIN deg dv ON dv.node = bi.v),
        |st AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS m,
        |    CAST(SUM(CAST(dx AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
        |    CAST(SUM(CAST(dx AS DECIMAL(38,0)) * CAST(dy AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS sxy,
        |    CAST(SUM(CAST(dx AS DECIMAL(38,0)) * CAST(dx AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS sxx
        |  FROM j),
        |shape AS (
        |  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
        |    (SELECT CAST(MAX(d) AS BIGINT) FROM deg) AS max_degree,
        |    CAST(COUNT(*) AS BIGINT) AS n_edges
        |  FROM ed)
        |SELECT n_nodes, n_edges, max_degree,
        |  CAST(n_edges AS DOUBLE) * 2 / CAST(n_nodes AS DOUBLE)
        |    AS mean_degree,
        |  CASE WHEN CAST(m AS DECIMAL(38,0)) * sxx = sx * sx THEN 0.0
        |    ELSE CAST(CAST(m AS DECIMAL(38,0)) * sxy - sx * sx AS DOUBLE)
        |      / CAST(CAST(m AS DECIMAL(38,0)) * sxx - sx * sx AS DOUBLE)
        |  END AS assortativity
        |FROM shape CROSS JOIN st""".stripMargin),
    // id-ordered triangle join — orientation changes the join's cost, not
    // the triangle set, so the oracle can use the simple form
    "q150_triangles" -> Query(q150Triangles,
      """WITH op AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |ed AS (
        |  SELECT a.p AS u, b.p AS v
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |deg AS (
        |  SELECT node, CAST(COUNT(*) AS BIGINT) AS d
        |  FROM (SELECT u AS node FROM ed UNION ALL SELECT v FROM ed)
        |  GROUP BY 1),
        |tri AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
        |  FROM ed e1 JOIN ed e2 ON e2.u = e1.v
        |    JOIN ed e3 ON e3.u = e1.u AND e3.v = e2.v),
        |tot AS (
        |  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM ed) AS n_edges,
        |    CAST(COUNT(*) AS BIGINT) AS n_nodes,
        |    CAST(SUM(d * (d - 1)) // 2 AS BIGINT) AS n_wedges
        |  FROM deg)
        |SELECT n_nodes, n_edges, n_triangles, n_wedges,
        |  CASE WHEN n_wedges = 0 THEN 0.0
        |    ELSE CAST(n_triangles AS DOUBLE) * 3 / n_wedges END AS global_cc
        |FROM tot CROSS JOIN tri""".stripMargin),
    // textbook recursive-CTE BFS; UNION (not ALL) dedupes (node, hop)
    // pairs and the hop < 6 guard bounds the recursion
    "q151_bfs_hops" -> Query(q151BfsHops,
      """WITH RECURSIVE op AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |ed AS (
        |  SELECT a.p AS u, b.p AS v
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |bi AS (SELECT u, v FROM ed UNION ALL SELECT v, u FROM ed),
        |bfs AS (
        |  SELECT (SELECT MIN(u) FROM bi) AS node, 0 AS hop
        |  UNION
        |  SELECT bi.v, bfs.hop + 1
        |  FROM bfs JOIN bi ON bi.u = bfs.node WHERE bfs.hop < 6)
        |SELECT node, CAST(MIN(hop) AS BIGINT) AS hop
        |FROM bfs GROUP BY node ORDER BY hop, node""".stripMargin),
    // hop-bounded weighted walk: distinct (node, dist, hop) triples are
    // bounded by nodes × reachable-distance values × 4, so the UNION
    // recursion terminates; MIN over hop ≤ 4 = 4-round Bellman-Ford
    "q170_sssp" -> Query(q170Sssp,
      """WITH RECURSIVE op AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |ed AS (
        |  SELECT a.p AS u, b.p AS v, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |bi AS (
        |  SELECT u, v, GREATEST(1, 10 - n) AS w FROM ed
        |  UNION ALL SELECT v, u, GREATEST(1, 10 - n) FROM ed),
        |seed AS (
        |  SELECT u AS node FROM (SELECT u, COUNT(*) AS d FROM bi GROUP BY u)
        |  ORDER BY d DESC, u LIMIT 1),
        |walk AS (
        |  SELECT (SELECT node FROM seed) AS node, CAST(0 AS BIGINT) AS dist,
        |    0 AS hop
        |  UNION
        |  SELECT bi.v, walk.dist + bi.w, walk.hop + 1
        |  FROM walk JOIN bi ON bi.u = walk.node WHERE walk.hop < 4)
        |SELECT node, CAST(MIN(dist) AS BIGINT) AS dist
        |FROM walk GROUP BY node ORDER BY node""".stripMargin),
    // two unrolled HITS iterations, same quantized-term + one-division
    // normalization shape as the engine
    "q171_hits" -> Query(q171Hits,
      """WITH e AS (
        |  SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS v
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
        |h0 AS (SELECT DISTINCT u, 1.0 AS h FROM e),
        |a1r AS (
        |  SELECT v, SUM(CAST(h AS DECIMAL(38,18))) AS raw
        |  FROM e JOIN h0 USING (u) GROUP BY v),
        |a1 AS (
        |  SELECT v, CAST(raw AS DOUBLE) /
        |    CAST((SELECT SUM(raw) FROM a1r) AS DOUBLE) AS a FROM a1r),
        |h1r AS (
        |  SELECT u, SUM(CAST(a AS DECIMAL(38,18))) AS raw
        |  FROM e JOIN a1 USING (v) GROUP BY u),
        |h1 AS (
        |  SELECT u, CAST(raw AS DOUBLE) /
        |    CAST((SELECT SUM(raw) FROM h1r) AS DOUBLE) AS h FROM h1r),
        |a2r AS (
        |  SELECT v, SUM(CAST(h AS DECIMAL(38,18))) AS raw
        |  FROM e JOIN h1 USING (u) GROUP BY v),
        |a2 AS (
        |  SELECT v, CAST(raw AS DOUBLE) /
        |    CAST((SELECT SUM(raw) FROM a2r) AS DOUBLE) AS a FROM a2r),
        |h2r AS (
        |  SELECT u, SUM(CAST(a AS DECIMAL(38,18))) AS raw
        |  FROM e JOIN a2 USING (v) GROUP BY u),
        |h2 AS (
        |  SELECT u, CAST(raw AS DOUBLE) /
        |    CAST((SELECT SUM(raw) FROM h2r) AS DOUBLE) AS h FROM h2r)
        |SELECT kind, id, score FROM (
        |  SELECT 'hub' AS kind, u AS id,
        |    CAST(CAST(h AS DECIMAL(20,12)) AS DOUBLE) AS score
        |  FROM h2
        |  UNION ALL
        |  SELECT 'auth', v, CAST(CAST(a AS DECIMAL(20,12)) AS DOUBLE) FROM a2)
        |ORDER BY kind, id""".stripMargin))
}
