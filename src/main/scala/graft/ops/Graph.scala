package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph analytics over an edge-list DataFrame — triangle
  * counting and PageRank, the two classic "does your engine do iterative /
  * multi-way-join compute" probes. Complements [[ConnectedComponents]]
  * (round 4): CC answers reachability, triangles answer local density,
  * PageRank answers global importance.
  *
  * Input convention: an UNDIRECTED graph as a canonical edge list
  * (src < dst, one row per edge, no self-loops) — the shape
  * [[Baskets.frequentItemPairs]] emits.
  *
  * Scale shapes (100 TB):
  *  - triangle counting uses the degree-ordering trick (Schank's
  *    forward/compact-forward, also the shape of the MapReduce NodeIterator++
  *    algorithm): orient every edge from its lower-(degree, id) endpoint to
  *    the higher one, so every wedge is enumerated exactly once at its
  *    lowest-degree vertex — the per-vertex fanout is bounded by
  *    "out-degree after orientation" <= O(sqrt(|E|)) for any graph, which
  *    is what keeps a power-law hub from emitting deg^2 wedges;
  *  - the wedge join and the closing-edge join are plain shuffle equi-joins
  *    on vertex / edge keys (AQE may broadcast the oriented edge list when
  *    small); counts are exact integers — no FP in the hot path;
  *  - PageRank is iterative: each iteration is one shuffle (contributions
  *    keyed by dst) plus a broadcast-able teleport join, and the loop
  *    `localCheckpoint`s each rank frame to CUT LINEAGE — without it the
  *    plan doubles per iteration and the job dies of planning time long
  *    before it dies of data size (the classic iterative-Spark trap).
  */
object Graph {

  /** Global triangle census of a canonical undirected edge list:
    * one row — (n_nodes, n_edges, n_wedges, n_triangles,
    * global_clustering) where global_clustering = 3*triangles / wedges
    * (0.0 when the graph has no wedges), rounded to 6 dp. All counts are
    * exact longs; the coefficient is one double division of exact
    * integers, so an oracle replays it bit-for-bit.
    */
  def triangleCensus(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    // the edge list feeds SEVEN consumers (degrees, the two wedge sides,
    // the closing-edge probe, three of the census counters) — without a
    // pin, every consumer recomputes the caller's edge-building tree
    // (for a co-occurrence graph, a full basket self-join, ~8x) and the
    // plan grows multiplicatively. Same lineage-cut rule as [[pageRank]].
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .localCheckpoint(eager = true)

    // degree per vertex (undirected)
    val deg = e.select(col("src").as("v"))
      .unionAll(e.select(col("dst").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
      .localCheckpoint(eager = true)

    // orient: lower (deg, id) -> higher (deg, id); total order, so every
    // edge gets exactly one direction and every triangle exactly one
    // (lowest-endpoint) wedge apex
    val withDeg = e
      .join(deg.select(col("v").as("src"), col("deg").as("dsrc")), Seq("src"))
      .join(deg.select(col("v").as("dst"), col("deg").as("ddst")), Seq("dst"))
    val oriented = withDeg.select(
      when(struct(col("dsrc"), col("src")) < struct(col("ddst"), col("dst")),
        struct(col("src").as("u"), col("dst").as("w")))
        .otherwise(struct(col("dst").as("u"), col("src").as("w"))).as("o"))
      .select(col("o.u").as("u"), col("o.w").as("w"))
      .localCheckpoint(eager = true) // three consumers: e1, e2, closing

    // wedges at the apex u: (u -> v), (u -> w), v < w; closing edge is
    // oriented too, but its direction within {v, w} depends on degrees —
    // join both endpoint orders via the canonical (min, max) form, which
    // for an oriented pair with v < w is just (v, w)
    val e1 = oriented.select(col("u"), col("w").as("v1"))
    val e2 = oriented.select(col("u"), col("w").as("v2"))
    val wedges = e1.join(e2, Seq("u")).filter(col("v1") < col("v2"))
    val closing = oriented.select(
      least(col("u"), col("w")).as("v1"), greatest(col("u"), col("w")).as("v2"))
    val triangles = wedges.join(closing, Seq("v1", "v2"), "left_semi")

    val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
    val nEdges = e.agg(count(lit(1)).as("n_edges"))
    // wedge total = sum over v of C(deg, 2) — from the aggregated degree
    // frame, not the wedge join (the join is support only for triangles)
    val nWedges = deg.agg(sum(col("deg") * (col("deg") - 1) / 2).cast("long").as("n_wedges"))
    val nTri = triangles.agg(count(lit(1)).as("n_triangles"))

    nNodes.crossJoin(broadcast(nEdges)).crossJoin(broadcast(nWedges))
      .crossJoin(broadcast(nTri))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        round(when(col("n_wedges") > 0,
          col("n_triangles").cast("double") * 3.0 / col("n_wedges").cast("double"))
          .otherwise(0.0), 6).as("global_clustering"))
  }

  /** PageRank over the undirected graph (each canonical edge walked in
    * both directions), fixed iteration count, damping `d`:
    *
    *   r_0(v)    = 1/N
    *   r_{k+1}(v) = (1-d)/N + d * sum_{u ~ v} r_k(u) / deg(u)
    *
    * Undirected expansion means every vertex in the edge list has
    * out-degree >= 1 — no dangling mass, so the scores sum to 1 exactly
    * (up to FP) and the oracle needs no dangling-redistribution term.
    *
    * Output: (node, pagerank) with pagerank rounded to `roundDp`.
    * Each iteration's frame is `localCheckpoint`ed: constant-size plan,
    * constant planning time, lineage cut — the non-negotiable for
    * iterative Spark.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 3, damping: Double = 0.85,
      roundDp: Int = 6): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val out = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))

    val deg = out.groupBy("src").agg(count(lit(1)).as("deg"))
    // adjacency with the out-degree attached once, reused every iteration
    val adj = out.join(deg, Seq("src")).localCheckpoint(eager = true)
    val nodes = deg.select(col("src").as("node")).localCheckpoint(eager = true)
    val n = nodes.count()
    require(n > 0, "pageRank: empty edge list (no vertices) — 1/N undefined")

    var ranks = nodes.select(col("node"), lit(1.0 / n).as("rank"))
      .localCheckpoint(eager = true)
    for (_ <- 1 to iterations) {
      val contribs = adj
        .join(ranks, adj("src") === ranks("node"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("rank") / col("deg")).as("contrib"))
      // every node has in-edges here (undirected expansion), but keep the
      // left join + coalesce: the directed variant of this loop needs it
      ranks = nodes
        .join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit((1.0 - damping) / n)
            + lit(damping) * coalesce(col("contrib"), lit(0.0))).as("rank"))
        .localCheckpoint(eager = true)
    }
    ranks.select(col("node"), round(col("rank"), roundDp).as("pagerank"))
  }

  /** Personalized PageRank: [[pageRank]]'s recurrence with BOTH the
    * start vector and the teleport concentrated on a seed set S —
    * random walks restart at the seeds instead of uniformly, so scores
    * measure proximity TO the seeds (the recsys / "related items" /
    * local-community verb):
    *
    *   r_0(v)     = 1[v in S] / |S|
    *   r_{k+1}(v) = (1-d) * 1[v in S] / |S| + d * sum_{u ~ v} r_k(u)/deg(u)
    *
    * Undirected expansion means no dangling mass, so the scores still
    * sum to 1 exactly (up to FP). Same scale discipline as
    * [[pageRank]]: adjacency checkpointed once, each iteration's frame
    * localCheckpointed (constant-size plan, lineage cut); the seed set
    * rides the plan as a literal IN-list — bounded by construction.
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: Seq[Long], iterations: Int = 3, damping: Double = 0.85,
      roundDp: Int = 6): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    require(seeds.nonEmpty, "personalizedPageRank: empty seed set")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val out = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))

    val deg = out.groupBy("src").agg(count(lit(1)).as("deg"))
    val adj = out.join(deg, Seq("src")).localCheckpoint(eager = true)
    val nodes = deg.select(col("src").as("node")).localCheckpoint(eager = true)

    val isSeed = col("node").isin(seeds: _*)
    val seedMass = 1.0 / seeds.length
    var ranks = nodes
      .select(col("node"),
        when(isSeed, lit(seedMass)).otherwise(lit(0.0)).as("rank"))
      .localCheckpoint(eager = true)
    for (_ <- 1 to iterations) {
      val contribs = adj
        .join(ranks, adj("src") === ranks("node"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("rank") / col("deg")).as("contrib"))
      ranks = nodes
        .join(contribs, Seq("node"), "left")
        .select(col("node"),
          (when(isSeed, lit((1.0 - damping) * seedMass)).otherwise(lit(0.0))
            + lit(damping) * coalesce(col("contrib"), lit(0.0))).as("rank"))
        .localCheckpoint(eager = true)
    }
    ranks.select(col("node"), round(col("rank"), roundDp).as("ppr"))
  }

  /** Bounded-hop BFS over the undirected graph: the minimum hop distance
    * from any seed node, for every node within `maxHops` (unreachable
    * nodes are absent). Output: (node, dist) with dist in [0, maxHops].
    *
    * Scale shape: classic frontier expansion — each round joins the
    * CURRENT FRONTIER (not the visited set, not the full graph) against
    * the adjacency list, then anti-joins the visited set; state per round
    * is O(frontier) + O(visited), both bounded by the vertex set, and the
    * loop `localCheckpoint`s both frames (lineage cut, same rule as
    * [[pageRank]]). Rounds are maxHops — a constant — so the whole walk
    * is maxHops shuffles keyed by vertex id.
    */
  def bfsHops(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0: $maxHops")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val bi = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(eager = true)

    var frontier = seeds.select(col(seedCol).as("node")).distinct()
      .localCheckpoint(eager = true)
    var visited = frontier.select(col("node"), lit(0).as("dist"))
      .localCheckpoint(eager = true)
    var hop = 0
    while (hop < maxHops && !frontier.isEmpty) {
      hop += 1
      frontier = bi.join(frontier, bi("src") === frontier("node"))
        .select(col("dst").as("node")).distinct()
        .join(visited.select("node"), Seq("node"), "left_anti")
        .localCheckpoint(eager = true)
      visited = visited
        .unionAll(frontier.select(col("node"), lit(hop).as("dist")))
        .localCheckpoint(eager = true)
    }
    visited
  }

  /** Deterministic hash-picked random walks (the node2vec/DeepWalk
    * sampling core, with the RNG replaced by a multiplicative integer
    * hash of (current node, step) — replayable by any engine, no seed
    * state): `steps`-step walks from every seed over the undirected
    * graph. Output: (seed, step, node) — step 0 is the seed itself; a
    * walk only ends early if its node has no neighbors (impossible for
    * nodes drawn from the edge list).
    *
    * Scale shape: the adjacency is RANKED ONCE (one window keyed by
    * vertex — neighbor lists are bounded by max degree), then every step
    * is ONE equi-join on (vertex, index); adjacency/degree frames are
    * `localCheckpoint`ed before the loop and each frontier after its
    * step (the [[pageRank]]/[[bfsHops]] lineage rule — without the pins
    * the edge-building tree is re-derived per step and the plan grows
    * multiplicatively).
    */
  def hashWalks(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, steps: Int): DataFrame = {
    require(steps >= 1, s"steps must be >= 1: $steps")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val bi = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("dst"))
    val adj = bi.select(col("src"), col("dst"),
        org.apache.spark.sql.functions.row_number().over(w).cast("long").as("__idx"))
      .localCheckpoint(eager = true)
    val deg = adj.groupBy("src").agg(max(col("__idx")).as("__deg"))
      .localCheckpoint(eager = true)

    var walk = seeds.select(col(seedCol).as("seed"), lit(0).as("step"),
      col(seedCol).as("node")).localCheckpoint(eager = true)
    var frontier = walk.select(col("seed"), col("node"))
    for (k <- 1 to steps) {
      val pick = (col("node") * 2654435761L + lit(k.toLong) * 40503L) % 999999937L
      val next = frontier
        .join(deg, frontier("node") === deg("src"))
        .select(col("seed"), col("node"), (pick % col("__deg") + 1L).as("__pick"))
        .join(adj, col("node") === adj("src") && col("__pick") === adj("__idx"))
        .select(col("seed"), col("dst").as("node"))
        .localCheckpoint(eager = true)
      walk = walk.unionAll(next.select(col("seed"), lit(k).as("step"), col("node")))
      frontier = next
    }
    walk
  }

  /** Deterministic semi-synchronous LABEL PROPAGATION (community
    * detection beyond connectivity — CC asks "reachable?", LPA asks
    * "densely attached?"): every node starts labeled with its own id;
    * each round, a node adopts the MOST FREQUENT label among its
    * neighbors' previous-round labels, ties broken by SMALLEST label —
    * the deterministic variant of Raghavan et al.'s LPA (the classic
    * random tie-break is not replayable by any oracle). Fixed `rounds`
    * iterations, no convergence test.
    *
    * Scale shape: per round ONE vertex-keyed join (neighbor labels) +
    * ONE (node, label) count agg + ONE per-node argmax window — state
    * is O(vertices), labels frame localCheckpointed per round (the
    * [[pageRank]] lineage rule). The window partitions by node (high
    * cardinality — never a SinglePartition).
    *
    * Output: (node, label) after the final round.
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0: $rounds")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val bi = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(eager = true)
    var labels = bi.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
      .localCheckpoint(eager = true)
    for (_ <- 1 to rounds) {
      val nb = bi.join(labels, bi("src") === labels("node"))
        .select(bi("dst").as("node"), labels("label"))
      val counts = nb.groupBy("node", "label")
        .agg(count(lit(1)).as("__c"))
      val pick = org.apache.spark.sql.expressions.Window
        .partitionBy(col("node")).orderBy(col("__c").desc, col("label").asc)
      labels = counts
        .withColumn("__rn", org.apache.spark.sql.functions.row_number().over(pick))
        .filter(col("__rn") === 1)
        .select(col("node"), col("label"))
        .localCheckpoint(eager = true)
    }
    labels
  }

  /** Bounded-round multi-source CHEAPEST paths (Bellman-Ford relaxation
    * over integer edge weights) — [[bfsHops]] with a cost axis: after
    * round k, `dist(node)` is the exact minimum total weight over all
    * paths of at most k edges from ANY seed (min across sources, the
    * same multi-source semantics as bfsHops). Integer weights keep every
    * relaxation exact — no FP accumulation across rounds.
    *
    * Unlike BFS, a node can RE-ENTER the frontier when a longer-hop path
    * undercuts an earlier cost, so there is no visited anti-join; state
    * per round is one (node → best dist) frame, O(vertices), collapsed
    * by a min-aggregate. Each round is ONE vertex-keyed join plus ONE
    * min-agg shuffle; both the bidirectional edge frame and each dist
    * frame are `localCheckpoint`ed (the [[pageRank]] lineage rule —
    * without the pins the plan doubles per round).
    *
    * Output: (node, dist) for every node within `maxHops` of a seed.
    */
  def cheapestPaths(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, seeds: DataFrame, seedCol: String,
      maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0: $maxHops")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
      col(weightCol).cast("long").as("w"))
    val bi = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      .localCheckpoint(eager = true)

    var dist = seeds.select(col(seedCol).as("node")).distinct()
      .select(col("node"), lit(0L).as("dist"))
      .localCheckpoint(eager = true)
    for (_ <- 1 to maxHops) {
      val relaxed = bi.join(dist, bi("src") === dist("node"))
        .select(bi("dst").as("node"), (dist("dist") + bi("w")).as("dist"))
      dist = dist.unionAll(relaxed)
        .groupBy("node").agg(min(col("dist")).as("dist"))
        .localCheckpoint(eager = true)
    }
    dist
  }

  /** Bounded-round k-core peel: iteratively remove every vertex whose
    * degree in the SURVIVING subgraph is < k, `rounds` times. After
    * enough rounds this is exactly the k-core (the maximal subgraph with
    * min degree >= k); with a fixed round count the result is still a
    * well-defined deterministic refinement — the same bounded-iteration
    * convention as [[pageRank]]/[[cheapestPaths]]/[[labelPropagation]],
    * chosen so a SQL oracle can unroll the identical recurrence (a
    * fixpoint loop has no SQL twin). Callers pick `rounds` >= the
    * graph's expected peel depth; each extra round past convergence is a
    * cheap no-op scan of the already-stable core.
    *
    * Each round is ONE degree aggregation plus TWO semi-joins of the
    * edge list against the surviving-vertex frame (both equi-joins on a
    * vertex key; the survivor side is O(vertices) and AQE-broadcastable
    * when the core collapses). The edge frame is `localCheckpoint`ed per
    * round — the iterative-Spark lineage rule.
    *
    * Output: (node, core_deg) for every vertex still alive after the
    * final peel, with its residual degree (>= k once converged).
    */
  def kCorePeel(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    var e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .localCheckpoint(eager = true)
    var deg = e.select(col("src").as("v"))
      .unionAll(e.select(col("dst").as("v")))
      .groupBy("v").agg(count(lit(1)).as("core_deg"))
    for (_ <- 1 to rounds) {
      val survivors = deg.filter(col("core_deg") >= k)
        .select(col("v")).localCheckpoint(eager = true)
      e = e.join(survivors.select(col("v").as("src")), Seq("src"), "left_semi")
        .join(survivors.select(col("v").as("dst")), Seq("dst"), "left_semi")
        .select("src", "dst")
        .localCheckpoint(eager = true)
      deg = e.select(col("src").as("v"))
        .unionAll(e.select(col("dst").as("v")))
        .groupBy("v").agg(count(lit(1)).as("core_deg"))
    }
    deg.select(col("v").as("node"), col("core_deg"))
  }

  /** Bounded-round k-truss peel — the EDGE-grain sibling of [[kCorePeel]]:
    * iteratively remove every edge whose triangle support (number of
    * triangles it participates in, i.e. common neighbors of its
    * endpoints) in the surviving subgraph is < k-2, `rounds` times, then
    * measure the final support once more. After enough rounds this is
    * exactly the k-truss; with a fixed round count it is a well-defined
    * deterministic refinement (the unrollable-recurrence convention of
    * [[kCorePeel]], so a SQL oracle can replay the identical loop).
    *
    * Each round enumerates every surviving triangle ONCE via the
    * degree-oriented wedge join of [[triangleCensus]] (Schank
    * orientation: wedge fanout bounded by the lower-degree endpoint),
    * explodes each triangle to its 3 canonical edges, counts support per
    * edge, and keeps edges with support >= k-2. All joins are equi-joins;
    * per-round frames are `localCheckpoint`ed (lineage rule). The
    * zero-support edges vanish from the count frame and are dropped by an
    * inner join — correct for k >= 3 where they cannot survive.
    *
    * Expects CANONICAL edges (src < dst, deduped, no self-loops) — pair
    * miners like `Baskets.frequentItemPairs` emit exactly that.
    *
    * Output: (src, dst, support) for ALL edges alive after the final
    * peel, with support measured in the surviving subgraph — including
    * support 0 for a survivor with no remaining triangles, which can
    * exist whenever `rounds` has not converged (r11 ADVICE: the final
    * measurement is a LEFT join + coalesce, not an inner join).
    */
  def kTrussPeel(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, rounds: Int): DataFrame = {
    require(k >= 3, s"k must be >= 3: $k")
    require(rounds >= 1, s"rounds must be >= 1: $rounds")

    // support per canonical edge of `e`, via single-count triangle
    // enumeration (each triangle contributes exactly 3 edge rows)
    def support(e: DataFrame): DataFrame = {
      val deg = e.select(col("src").as("v"))
        .unionAll(e.select(col("dst").as("v")))
        .groupBy("v").agg(count(lit(1)).as("deg"))
      val withDeg = e
        .join(deg.select(col("v").as("src"), col("deg").as("dsrc")), Seq("src"))
        .join(deg.select(col("v").as("dst"), col("deg").as("ddst")), Seq("dst"))
      val oriented = withDeg.select(
        when(struct(col("dsrc"), col("src")) < struct(col("ddst"), col("dst")),
          struct(col("src").as("u"), col("dst").as("w")))
          .otherwise(struct(col("dst").as("u"), col("src").as("w"))).as("o"))
        .select(col("o.u").as("u"), col("o.w").as("w"))
        .localCheckpoint(eager = true) // three consumers below
      val e1 = oriented.select(col("u"), col("w").as("v1"))
      val e2 = oriented.select(col("u"), col("w").as("v2"))
      val closing = oriented.select(
        least(col("u"), col("w")).as("v1"), greatest(col("u"), col("w")).as("v2"))
      val tris = e1.join(e2, Seq("u")).filter(col("v1") < col("v2"))
        .join(closing, Seq("v1", "v2"), "left_semi") // (u, v1, v2) triangles
      tris.select(least(col("u"), col("v1")).as("src"),
          greatest(col("u"), col("v1")).as("dst"))
        .unionAll(tris.select(least(col("u"), col("v2")).as("src"),
          greatest(col("u"), col("v2")).as("dst")))
        .unionAll(tris.select(col("v1").as("src"), col("v2").as("dst")))
        .groupBy("src", "dst").agg(count(lit(1)).as("support"))
    }

    var e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .localCheckpoint(eager = true)
    for (_ <- 1 to rounds) {
      e = e.join(support(e).filter(col("support") >= k - 2),
          Seq("src", "dst"), "left_semi")
        .localCheckpoint(eager = true)
    }
    // final measurement as a LEFT join (r11 ADVICE): when `rounds` has
    // not converged, an edge can survive the last peel yet have ZERO
    // triangles in the final surviving subgraph — an inner join against
    // the support frame would silently drop it, contradicting the
    // "edges alive after the final peel" contract above.
    e.join(support(e), Seq("src", "dst"), "left")
      .select(col("src"), col("dst"),
        coalesce(col("support"), lit(0L)).as("support"))
  }

  // stats-DROPPING checkpoint for the per-round frames of the iterative
  // verbs below (Boruvka, HITS, DAG levels): the plain localCheckpoint
  // forwards the source plan's Statistics (Spark 4 LogicalRDD.originStats),
  // and in these loops every self-join SQUARES the estimate -- after a few
  // rounds the BigInt exponent overflows and planning dies (measured; see
  // GraftInternal.localCheckpointNoStats)
  private def cut(df: DataFrame): DataFrame =
    org.apache.spark.sql.GraftInternal.localCheckpointNoStats(df)

  /** Boruvka minimum-spanning-FOREST over an undirected weighted graph
    * — the classic spanning-structure verb (r11 verdict #4): every
    * round each component picks its minimum outgoing edge under the
    * TOTAL (w, src, dst) order (so ties cannot make the pick ambiguous
    * in either engine), those edges join the forest, and components
    * merge by parent-pointer relabeling with `jumps` pointer-jump hops
    * — the bounded-round unrollable-recurrence convention of
    * [[kCorePeel]], chosen so a SQL oracle can replay the identical
    * loop. Component count at least halves per round, so `rounds` =
    * log2(largest component) converges; a smaller budget still yields
    * a well-defined deterministic partial forest (every picked edge IS
    * an MST edge — the cut property needs no convergence).
    *
    * Scale shape per round: two vertex-keyed equi-joins to label edge
    * endpoints, ONE min-struct aggregation keyed by component (the
    * min-outgoing pick — exactly a map-side-combinable agg), and
    * O(components)-sized parent frames for the 2-cycle break and the
    * `jumps` self-joins — every shuffle key-uniform, nothing quadratic,
    * frames `localCheckpoint`ed per round (lineage rule). Parent
    * pointers from distinct-weight min-edges form only 2-cycles
    * (the mutual-minimum pair), which the break collapses to the
    * smaller id; chains hanging off them are flattened by the jumps.
    *
    * Output: (src, dst, w) of the forest edges picked in any round,
    * canonical (src < dst), deduped.
    */
  def boruvkaMst(edges: DataFrame, srcCol: String, dstCol: String,
      wCol: String, rounds: Int, jumps: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    require(jumps >= 1, s"jumps must be >= 1: $jumps")
    val e0 = edges.select(
        least(col(srcCol), col(dstCol)).as("src"),
        greatest(col(srcCol), col(dstCol)).as("dst"),
        col(wCol).cast("long").as("w"))
      .filter(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(min(col("w")).as("w"))
      .localCheckpoint(eager = true) // e0 is built once; plain cut is fine
    var comp = e0.select(col("src").as("v"))
      .unionAll(e0.select(col("dst").as("v")))
      .distinct().select(col("v"), col("v").as("c"))
      .localCheckpoint(eager = true)
    var mst: DataFrame = null
    for (_ <- 1 to rounds) {
      val lab = e0
        .join(comp.select(col("v").as("src"), col("c").as("cs")), Seq("src"))
        .join(comp.select(col("v").as("dst"), col("c").as("cd")), Seq("dst"))
        .filter(col("cs") =!= col("cd"))
      // min outgoing edge per component; struct min = lexicographic
      // (w, src, dst) — `other` can never decide, (src, dst) is unique
      val cand = lab.select(col("cs").as("comp"),
          struct(col("w"), col("src"), col("dst"), col("cd").as("other")).as("pick"))
        .unionAll(lab.select(col("cd").as("comp"),
          struct(col("w"), col("src"), col("dst"), col("cs").as("other")).as("pick")))
      val minPick = cut(cand.groupBy("comp").agg(min(col("pick")).as("pick")))
        // picked edges + parents share it
      val picked = minPick.select(col("pick.src").as("src"),
        col("pick.dst").as("dst"), col("pick.w").as("w")).distinct()
      mst = cut(if (mst == null) picked else mst.unionAll(picked).distinct())
      // parent = the other endpoint's component; mutual-minimum
      // 2-cycles collapse to the smaller id (the Boruvka star root)
      val parent0 = minPick.select(col("comp").as("c"), col("pick.other").as("p"))
      var parent = cut(parent0.as("a")
        .join(parent0.select(col("c").as("p"), col("p").as("pp")).as("b"),
          Seq("p"), "left")
        .select(col("c"),
          when(col("pp") === col("c") && col("c") < col("p"), col("c"))
            .otherwise(col("p")).as("p")))
      for (_ <- 1 to jumps) {
        parent = cut(parent
          .join(parent.select(col("c").as("p"), col("p").as("gp")),
            Seq("p"), "left")
          .select(col("c"), coalesce(col("gp"), col("p")).as("p")))
      }
      comp = cut(comp.join(parent, Seq("c"), "left")
        .select(col("v"), coalesce(col("p"), col("c")).as("c")))
    }
    mst
  }

  /** HITS hubs & authorities over a DIRECTED edge list, fixed
    * iterations, UNNORMALIZED — which keeps every score an EXACT 64-bit
    * integer (the classic normalization divides by the score sum each
    * round purely to stop growth; for a fixed small iteration count the
    * raw mutual-reinforcement sums carry the identical ranking with no
    * FP anywhere, so a SQL oracle replays them bit-free):
    *
    *   h_0(v) = 1;  a_k(v) = sum over in-edges (u,v) of h_(k-1)(u);
    *   h_k(u) = sum over out-edges (u,v) of a_k(v).
    *
    * Growth bound: scores multiply by ~(max degree)^2 per iteration —
    * 3 iterations at degree ~1000 stays under 2^63; past that ANSI mode
    * fails LOUDLY rather than wrapping. Callers with hub-ier graphs
    * should bump to the normalized variant instead of raising k.
    *
    * Each iteration is two vertex-keyed equi-joins + two aggregations,
    * every shuffle key-uniform; frames are stats-dropping-checkpointed
    * per round ([[org.apache.spark.sql.GraftInternal.localCheckpointNoStats]]
    * — the Boruvka lesson).
    *
    * Output: (node, hub, auth) for every node of the graph.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .localCheckpoint(eager = true)
    val nodes = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node")))
      .distinct().localCheckpoint(eager = true)
    var h = nodes.select(col("node"), lit(1L).as("h"))
    var a: DataFrame = null
    for (_ <- 1 to iterations) {
      a = cut(nodes.join(
          e.join(h.select(col("node").as("src"), col("h")), Seq("src"))
            .groupBy(col("dst").as("node")).agg(sum(col("h")).as("__a")),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("__a"), lit(0L)).as("a")))
      h = cut(nodes.join(
          e.join(a.select(col("node").as("dst"), col("a")), Seq("dst"))
            .groupBy(col("src").as("node")).agg(sum(col("a")).as("__h")),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("__h"), lit(0L)).as("h")))
    }
    nodes.join(h, Seq("node")).join(a, Seq("node"))
      .select(col("node"), col("h").as("hub"), col("a").as("auth"))
  }

  /** Topological LEVELS of a DAG (Kahn layering / longest-path depth):
    * level(v) = 0 for sources, else 1 + max level over in-neighbors —
    * the dependency-scheduling layering (every node's level = length of
    * the longest path into it). Bounded rounds (the [[kCorePeel]]
    * unrollable-recurrence convention): after `rounds` >= DAG depth the
    * fixpoint is exact; a smaller budget yields the deterministic
    * partial refinement "longest path using <= rounds edges". The
    * caller guarantees acyclicity (e.g. orient edges low id -> high id);
    * on a cycle the recurrence simply never converges and the bounded
    * result is still well-defined.
    *
    * Each round is ONE edge-keyed equi-join + one max-aggregation over
    * the node frame; stats-dropping checkpoints per round.
    *
    * Output: (node, level), exact longs.
    */
  def dagLevels(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .localCheckpoint(eager = true)
    val nodes = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node")))
      .distinct().localCheckpoint(eager = true)
    var lvl = nodes.select(col("node"), lit(0L).as("level"))
    for (_ <- 1 to rounds) {
      lvl = cut(nodes.join(
          e.join(lvl.select(col("node").as("src"), col("level")), Seq("src"))
            .groupBy(col("dst").as("node"))
            .agg((max(col("level")) + 1L).as("__l")),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("__l"), lit(0L)).as("level")))
    }
    lvl
  }

  /** Per-landmark BFS distances: [[bfsHops]] generalized so each landmark
    * keeps its OWN distance field — the state is keyed by
    * (landmark, node) instead of node, which is exactly what
    * landmark-based centrality / distance-oracle sketches need
    * (harmonic centrality from a bounded landmark set is the standard
    * 100 TB stand-in for all-pairs closeness, which is quadratic and
    * off the table). Fixed `maxHops` rounds — the unrollable-recurrence
    * convention shared with [[bfsHops]]/[[kCorePeel]].
    *
    * Scale shape: the frontier carries the landmark id as part of the
    * key, so each round is still ONE adjacency equi-join + one anti-join
    * on the visited set; state is O(landmarks x reached nodes), bounded
    * by design because the landmark set is small (caller picks it).
    * Frames are `localCheckpoint`ed per round (lineage rule).
    *
    * Output: (lm, node, dist), dist in [0, maxHops], minimal per pair.
    */
  def landmarkDistances(edges: DataFrame, srcCol: String, dstCol: String,
      landmarks: DataFrame, lmCol: String, maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0: $maxHops")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val bi = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(eager = true)

    var frontier = landmarks.select(col(lmCol).as("lm")).distinct()
      .select(col("lm"), col("lm").as("node"))
      .localCheckpoint(eager = true)
    var visited = frontier.select(col("lm"), col("node"), lit(0).as("dist"))
      .localCheckpoint(eager = true)
    var hop = 0
    while (hop < maxHops && !frontier.isEmpty) {
      hop += 1
      frontier = bi.join(frontier, bi("src") === frontier("node"))
        .select(col("lm"), col("dst").as("node")).distinct()
        .join(visited.select("lm", "node"), Seq("lm", "node"), "left_anti")
        .localCheckpoint(eager = true)
      visited = visited
        .unionAll(frontier.select(col("lm"), col("node"), lit(hop).as("dist")))
        .localCheckpoint(eager = true)
    }
    visited
  }

  /** Common-neighbor link prediction: for every NON-adjacent unordered
    * vertex pair sharing at least one neighbor, the number of common
    * neighbors and the Jaccard coefficient
    * `cn / (deg(a) + deg(b) - cn)` — the classic "who should be
    * connected next" score.
    *
    * Wedge pairs are enumerated at their CENTER (the shared neighbor),
    * so per-center fanout is C(deg, 2) — a power-law hub would emit
    * deg^2 pairs, which no orientation trick can bound here because the
    * center is fixed by the semantics. The scale control is `maxDeg`:
    * centers with degree > maxDeg are excluded from wedge generation
    * (the standard stop-node rule — a hub everyone touches carries no
    * link-prediction signal, exactly like a stopword in similarity
    * search). Degrees in the score remain the TRUE degrees; only the
    * evidence enumeration is capped, and the cap is part of the operator
    * contract (the oracle applies the same rule).
    *
    * Output: (node_a, node_b, cn, jaccard[6dp]) for the `topK` pairs by
    * (cn desc, node_a, node_b) — bounded via TakeOrderedAndProject.
    */
  def commonNeighbors(edges: DataFrame, srcCol: String, dstCol: String,
      maxDeg: Long, topK: Int): DataFrame = {
    require(maxDeg >= 2, s"maxDeg must be >= 2: $maxDeg")
    require(topK >= 1, s"topK must be >= 1: $topK")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .localCheckpoint(eager = true)
    val bi = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(eager = true)
    val deg = bi.groupBy(col("src").as("v")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(eager = true)

    // wedges centered at low-degree vertices only
    val centers = deg.filter(col("deg") <= maxDeg).select(col("v").as("src"))
    val arms = bi.join(centers, Seq("src"), "left_semi")
    val pairs = arms.select(col("src").as("c"), col("dst").as("a"))
      .join(arms.select(col("src").as("c"), col("dst").as("b")), Seq("c"))
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("cn"))

    // drop already-adjacent pairs. Candidate pairs are emitted with
    // a < b, so the adjacency side is canonicalized with least/greatest
    // rather than assumed pre-canonical — an uncanonicalized (or
    // mixed-orientation) edge list would otherwise leak adjacent pairs
    // through a one-orientation anti-join as "predictions" (r10 advice)
    val nonAdj = pairs.join(
      e.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b")), Seq("a", "b"),
      "left_anti")
    nonAdj
      .join(deg.select(col("v").as("a"), col("deg").as("deg_a")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("deg").as("deg_b")), Seq("b"))
      .select(col("a").as("node_a"), col("b").as("node_b"), col("cn"),
        round(col("cn").cast("double") /
          (col("deg_a") + col("deg_b") - col("cn")).cast("double"), 6)
          .as("jaccard"))
      .orderBy(col("cn").desc, col("node_a"), col("node_b"))
      .limit(topK)
  }
}
