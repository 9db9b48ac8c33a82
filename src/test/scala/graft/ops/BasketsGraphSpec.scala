package graft.ops

import graft.GraftSpark
import org.scalatest.funsuite.AnyFunSuite

class BasketsGraphSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  import spark.implicits._

  // ---- Baskets ----------------------------------------------------------

  test("frequentItemTriples counts distinct-basket support with a<b<c order") {
    // {1,2,3} x3 baskets, {1,2,4} x1, {1,2} x1: triple (1,2,3) support 3;
    // (1,2,4) support 1 drops at minSupport=2
    val rows = Seq(10L, 11L, 12L).flatMap(b => Seq((b, 1L), (b, 2L), (b, 3L))) ++
      Seq((13L, 1L), (13L, 2L), (13L, 4L), (14L, 1L), (14L, 2L))
    val out = Baskets.frequentItemTriples(rows.toDF("b", "i"), "b", "i",
        minSupport = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSet == Set((1L, 2L, 3L, 3L)))
  }

  test("frequentItemTriples apriori fence does not change the answer") {
    // random-ish baskets: the fenced result must equal the plain 3-way
    // definition computed per-basket in Scala
    val rows = (0L until 40L).flatMap { b =>
      val items = Seq(b % 5, (b * 7 + 1) % 5, (b * 11 + 2) % 5, (b * 13 + 3) % 5)
      items.map(b -> _)
    }
    val expected = rows.groupBy(_._1).values
      .flatMap { bs =>
        val is = bs.map(_._2).distinct.sorted
        for (a <- is; b <- is if a < b; c <- is if b < c) yield (a, b, c)
      }
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      .filter(_._2 >= 3L)
    val got = Baskets.frequentItemTriples(rows.toDF("b", "i"), "b", "i", 3L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getLong(3)).toMap
    assert(got == expected)
  }

  test("frequentItemPairs counts distinct-basket support with a<b order") {
    // baskets: {1,2,3}, {1,2}, {2,3}, {1,2 with item 2 repeated}
    val df = Seq(
      (10L, 1L), (10L, 2L), (10L, 3L),
      (11L, 1L), (11L, 2L),
      (12L, 2L), (12L, 3L),
      (13L, 1L), (13L, 2L), (13L, 2L) // repeat must not double-count
    ).toDF("b", "i")
    val out = Baskets.frequentItemPairs(df, "b", "i", minSupport = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((1L, 2L, 3L), (2L, 3L, 2L)))
  }

  test("frequentItemPairs packedItemPairs=true is bit-identical to the default") {
    // r16 opt round: with ids proven < 2^31, the pair-support exchange
    // keys on one packed long (a << 32 | b) instead of two id columns;
    // decode must restore the exact (item_a, item_b, support) rows
    val rows = (0L until 60L).flatMap { b =>
      Seq(b % 7, (b * 5 + 1) % 7, (b * 3 + 2) % 7, (b * 11 + 4) % 7).map(b -> _)
    }
    val df = rows.toDF("b", "i")
    def collectPairs(packed: Boolean) =
      Baskets.frequentItemPairs(df, "b", "i", 2L, packedItemPairs = packed)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val plain = collectPairs(false)
    assert(plain.nonEmpty)
    assert(collectPairs(true) == plain)
  }

  test("frequentItemPairs pairJoinHint='' (planner default) equals the hinted plan") {
    val df = Seq((10L, 1L), (10L, 2L), (10L, 3L), (11L, 1L), (11L, 2L),
      (12L, 2L), (12L, 3L)).toDF("b", "i")
    def pairs(hint: String) =
      Baskets.frequentItemPairs(df, "b", "i", 2L, pairJoinHint = hint)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs("") == pairs("shuffle_hash"))
  }

  test("frequentItemPairs inputDistinct=true equals the default on deduped input") {
    // r15 opt round: the flag skips the internal re-distinct when the
    // caller has already deduplicated — same answer, one less exchange.
    // Raw input carries duplicate (basket, item) rows on purpose.
    val rows = Seq((1L, 1L), (1L, 1L), (1L, 2L), (1L, 3L), (2L, 1L),
      (2L, 2L), (2L, 2L), (3L, 2L), (3L, 3L)).toDF("b", "i")
    val viaDefault = Baskets.frequentItemPairs(rows, "b", "i", 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaFlag = Baskets.frequentItemPairs(rows.distinct(), "b", "i", 2L,
        inputDistinct = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaFlag == viaDefault && viaFlag.nonEmpty)
  }

  test("frequentItemPairs minSupport=1 keeps singleton pairs") {
    val df = Seq((1L, 5L), (1L, 7L)).toDF("b", "i")
    val out = Baskets.frequentItemPairs(df, "b", "i", minSupport = 1L).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      == Set((5L, 7L, 1L)))
  }

  test("maxBasketSize fences mega-baskets out entirely") {
    // basket 1 has 4 items (all pairs support 1 via it); basket 2 repeats
    // the (1,2) pair. With maxBasketSize=3, only basket 2 contributes.
    val mega = (1L to 4L).map((1L, _))
    val small = Seq((2L, 1L), (2L, 2L))
    val df = (mega ++ small).toDF("b", "i")
    val out = Baskets.frequentItemPairs(df, "b", "i", 1L, maxBasketSize = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((1L, 2L, 1L)))
  }

  test("apriori prune does not change the answer") {
    val df = Seq(
      (1L, 1L), (1L, 2L), (1L, 9L),
      (2L, 1L), (2L, 2L),
      (3L, 9L)).toDF("b", "i")
    // item 9's support is 2 (survives the prune); its pairs are all
    // support 1 and die at the pair filter; (1,2) support 2 survives
    val out = Baskets.frequentItemPairs(df, "b", "i", 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((1L, 2L, 2L)))
  }

  // ---- Graph.triangleCensus --------------------------------------------

  private def census(edges: Seq[(Long, Long)]) = {
    val df = edges.toDF("src", "dst")
    Graph.triangleCensus(df, "src", "dst").collect().head
  }

  test("triangle census on a complete K4") {
    // K4: 4 nodes, 6 edges, 12 wedges, 4 triangles, clustering 1.0
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val r = census(k4)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
      == ((4L, 6L, 12L, 4L, 1.0)))
  }

  test("triangle census on a path graph has zero triangles") {
    val r = census(Seq((1L, 2L), (2L, 3L), (3L, 4L)))
    assert(r.getLong(3) == 0L)
    assert(r.getLong(2) == 2L) // two wedges at nodes 2 and 3
    assert(r.getDouble(4) == 0.0)
  }

  test("triangle census counts each triangle once despite shared edges") {
    // two triangles sharing edge (1,2): {1,2,3} and {1,2,4}
    val r = census(Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L)))
    assert(r.getLong(3) == 2L)
  }

  // ---- Graph.pageRank ---------------------------------------------------

  test("pageRank on a symmetric graph preserves total mass and symmetry") {
    // square cycle: all nodes symmetric → rank = 1/4 each, any iterations
    val sq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L))
    val out = Graph.pageRank(sq.toDF("src", "dst"), "src", "dst",
        iterations = 3, damping = 0.85)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(out.values.toSet == Set(0.25))
    assert(out.keySet == Set(1L, 2L, 3L, 4L))
  }

  test("pageRank ranks the star hub above the leaves") {
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L))
    val out = Graph.pageRank(star.toDF("src", "dst"), "src", "dst")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(out(1L) > out(2L))
    assert(Set(2L, 3L, 4L, 5L).map(out).size == 1) // leaves identical
    // total mass ~1 (no dangling in the undirected expansion)
    assert(math.abs(out.values.sum - 1.0) < 1e-4)
  }

  test("personalizedPageRank concentrates mass near the seed, conserves total") {
    // square cycle, seed {1}: total mass stays 1 (no dangling in the
    // undirected expansion), the seed's symmetric neighbors tie, and
    // the ANTIPODE (node 3) ranks strictly last. NOTE: at finite odd
    // iteration counts the walk mass RINGS on this bipartite-ish cycle
    // (after 3 hops most mass sits at odd distance, so the neighbors
    // out-rank the seed itself) — so the pinned order is
    // seed > antipode, not seed > neighbors.
    val sq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L))
    val out = Graph.personalizedPageRank(sq.toDF("src", "dst"), "src", "dst",
        seeds = Seq(1L), iterations = 3, damping = 0.85)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L))
    assert(math.abs(out.values.sum - 1.0) < 1e-4)
    assert(out(1L) > out(3L), out.toString) // seed beats the antipode
    assert(out(2L) == out(4L)) // symmetric neighbors of the seed
    assert(out.values.forall(_ > out(3L) - 1e-12), out.toString) // antipode last
  }

  test("personalizedPageRank matches the hand-unrolled seeded recurrence") {
    import spark.implicits._
    // path 1-2-3, seed {1}, d=0.5, 1 iteration from r0 = (1, 0, 0):
    // r(1) = 0.5*1 + 0.5*(r2/2) = 0.5;  r(2) = 0.5*(r1/1 + r3/1) = 0.5
    // r(3) = 0.5*(r2/2) = 0.0
    val out = Graph.personalizedPageRank(
        Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"), "src", "dst",
        seeds = Seq(1L), iterations = 1, damping = 0.5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(out == Map(1L -> 0.5, 2L -> 0.5, 3L -> 0.0), out.toString)
  }

  test("pageRank matches the hand-unrolled recurrence on a tiny graph") {
    // path 1-2-3: degrees 1,2,1; d=0.5, 1 iteration from uniform 1/3:
    // r(1) = r(3) = 0.5/3 + 0.5*(r(2)/2)      = 1/6 + 1/12 = 0.25
    // r(2) = 0.5/3 + 0.5*(r(1)/1 + r(3)/1)    = 1/6 + 1/3  = 0.5
    val out = Graph.pageRank(Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"),
        "src", "dst", iterations = 1, damping = 0.5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(out == Map(1L -> 0.25, 2L -> 0.5, 3L -> 0.25))
  }

  // ---- Graph.bfsHops ----------------------------------------------------

  private def hops(edges: Seq[(Long, Long)], seeds: Seq[Long], maxHops: Int) = {
    val e = edges.toDF("src", "dst")
    Graph.bfsHops(e, "src", "dst", seeds.toDF("node"), "node", maxHops)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
  }

  test("bfsHops walks a path graph out to maxHops and stops") {
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    assert(hops(path, Seq(1L), 2) == Map(1L -> 0, 2L -> 1, 3L -> 2))
  }

  test("bfsHops takes the minimum distance over multiple seeds") {
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    assert(hops(path, Seq(1L, 4L), 3) == Map(1L -> 0, 2L -> 1, 3L -> 1, 4L -> 0))
  }

  test("bfsHops maxHops=0 returns exactly the seed set") {
    assert(hops(Seq((1L, 2L)), Seq(1L), 0) == Map(1L -> 0))
  }

  test("bfsHops never reaches a disconnected component") {
    val g = Seq((1L, 2L), (10L, 11L))
    assert(hops(g, Seq(1L), 5) == Map(1L -> 0, 2L -> 1))
  }

  test("bfsHops walks edges in both directions") {
    // seed at the DST end of every stored edge
    assert(hops(Seq((1L, 2L), (2L, 3L)), Seq(3L), 2)
      == Map(3L -> 0, 2L -> 1, 1L -> 2))
  }

  // ---- Graph.cheapestPaths ----------------------------------------------

  private def cheap(edges: Seq[(Long, Long, Long)], seeds: Seq[Long],
      maxHops: Int) = {
    val e = edges.toDF("src", "dst", "w")
    Graph.cheapestPaths(e, "src", "dst", "w", seeds.toDF("node"), "node", maxHops)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
  }

  test("cheapestPaths: a longer-hop path undercuts the direct edge") {
    // 1 -10-> 3 direct, but 1 -1-> 2 -1-> 3 costs 2
    val g = Seq((1L, 3L, 10L), (1L, 2L, 1L), (2L, 3L, 1L))
    assert(cheap(g, Seq(1L), 1) == Map(1L -> 0L, 2L -> 1L, 3L -> 10L))
    assert(cheap(g, Seq(1L), 2) == Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
  }

  test("cheapestPaths takes the min over multiple seeds and is undirected") {
    val path = Seq((1L, 2L, 5L), (2L, 3L, 5L), (3L, 4L, 5L))
    assert(cheap(path, Seq(1L, 4L), 2)
      == Map(1L -> 0L, 2L -> 5L, 3L -> 5L, 4L -> 0L))
  }

  test("cheapestPaths maxHops=0 returns the seeds at cost 0") {
    assert(cheap(Seq((1L, 2L, 7L)), Seq(2L), 0) == Map(2L -> 0L))
  }

  test("cheapestPaths never crosses into a disconnected component") {
    val g = Seq((1L, 2L, 1L), (10L, 11L, 1L))
    assert(cheap(g, Seq(1L), 4) == Map(1L -> 0L, 2L -> 1L))
  }

  // ---- Graph.labelPropagation --------------------------------------------

  test("labelPropagation splits a barbell into its two triangles") {
    // triangles {1,2,3} and {4,5,6} joined by the bridge 3-4; hand-run
    // of the 3 synchronous min-tie-break rounds lands {1,2,3}->1 and
    // {4,5,6}->3 (the bridge never outvotes the triangle)
    val barbell = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (3L, 4L), (4L, 5L), (4L, 6L), (5L, 6L))
    val out = Graph.labelPropagation(barbell.toDF("src", "dst"), "src", "dst", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 3L, 5L -> 3L, 6L -> 3L))
  }

  test("labelPropagation rounds=0 is the identity labeling") {
    val out = Graph.labelPropagation(Seq((1L, 2L)).toDF("src", "dst"),
        "src", "dst", 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out == Map(1L -> 1L, 2L -> 2L))
  }

  // ---- Graph.hashWalks --------------------------------------------------

  test("hashWalks: step 0 is the seed, every step moves to a real neighbor") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (2L, 4L))
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val out = Graph.hashWalks(edges.toDF("src", "dst"), "src", "dst",
        Seq(1L, 3L).toDF("node"), "node", steps = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val bySeed = out.groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq)
    assert(bySeed.keySet == Set(1L, 3L))
    bySeed.foreach { case (seed, path) =>
      assert(path.head == seed)
      assert(path.size == 4) // 0..3, no early end on a connected graph
      path.sliding(2).foreach { case Seq(a, b) =>
        assert(adj(a).contains(b), s"step $a -> $b is not an edge")
      }
    }
  }

  test("hashWalks is deterministic across runs") {
    val edges = (1L to 20L).map(i => (i, i % 20 + 1))
    def run() = Graph.hashWalks(edges.toDF("src", "dst"), "src", "dst",
        Seq(5L).toDF("node"), "node", steps = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(run() == run())
  }

  // ---- Lines.dedupSegments ---------------------------------------------

  test("dedupSegments keeps the globally first occurrence only") {
    // seg width 2: doc 1 = [a b][c d]; doc 2 = [a b][x y]; doc 3 = [c d]
    val docs = Seq(
      (1L, "a b c d"), (2L, "a b x y"), (3L, "c d")).toDF("id", "text")
    val out = Lines.dedupSegments(docs, "id", "text", segTokens = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(out == Set(
      (1L, "a b c d", 2L, 0L),
      (2L, "x y", 1L, 1L),
      (3L, "", 0L, 1L)))
  }

  test("dedupSegments: verbatim copy collapses to empty, partial tail kept") {
    val docs = Seq(
      (1L, "a b c d e"), // segs [a b][c d][e]
      (2L, "a b c d e"), // exact copy → empty
      (3L, "a b z")      // [a b] dup, [z] novel
    ).toDF("id", "text")
    val out = Lines.dedupSegments(docs, "id", "text", 2)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(out(1L) == "a b c d e")
    assert(out(2L) == "")
    assert(out(3L) == "z")
  }

  test("dedupSegments keeps a row for token-empty docs") {
    val docs = Seq((1L, "a b"), (2L, "   ")).toDF("id", "text")
    val out = Lines.dedupSegments(docs, "id", "text", 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(out == Set((1L, "a b", 1L, 0L), (2L, "", 0L, 0L)))
  }

  test("dedupSegments reassembles multi-segment docs in original order") {
    val docs = Seq((1L, (1 to 9).map(i => s"w$i").mkString(" "))).toDF("id", "text")
    val out = Lines.dedupSegments(docs, "id", "text", 2).collect().head
    assert(out.getString(1) == (1 to 9).map(i => s"w$i").mkString(" "))
    assert(out.getLong(2) == 5L) // ceil(9/2) segments, all kept
  }
}
