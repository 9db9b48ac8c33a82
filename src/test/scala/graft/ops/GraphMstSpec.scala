package graft.ops

import graft.GraftSpark
import org.scalatest.funsuite.AnyFunSuite

/** Boruvka minimum-spanning-forest: validated against a brute-force
  * Kruskal (union-find) on the driver over the same weighted graph —
  * with DISTINCT weights the MSF edge set is unique, so any correct
  * algorithm must produce the identical set.
  */
class GraphMstSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark

  private def kruskal(edges: Seq[(Long, Long, Long)]): Set[(Long, Long, Long)] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.sortBy { case (s, d, w) => (w, s, d) }.flatMap { case (s, d, w) =>
      val (rs, rd) = (find(s), find(d))
      if (rs == rd) None else { parent(rs) = rd; Some((s, d, w)) }
    }.toSet
  }

  private def mstOf(edges: Seq[(Long, Long, Long)], rounds: Int): Set[(Long, Long, Long)] = {
    import spark.implicits._
    val df = edges.toDF("src", "dst", "w")
    Graph.boruvkaMst(df, "src", "dst", "w", rounds, jumps = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  test("path graph: every edge is in the forest") {
    val edges = (1L to 9L).map(i => (i, i + 1, i * 10))
    assert(mstOf(edges, 4) == kruskal(edges))
  }

  test("dense random-ish graph matches Kruskal exactly") {
    // deterministic pseudo-random weights, all distinct
    val n = 40L
    val edges = for {
      s <- 1L until n; d <- (s + 1) to n
      if (s * 7 + d * 13) % 5 < 2 // ~40% density
    } yield (s, d, (s * 97 + d * 31) % 100000 * 1000 + s * 41 + d)
    val k = kruskal(edges)
    val m = mstOf(edges, 6)
    assert(m == k, s"missing=${(k -- m).take(5)} extra=${(m -- k).take(5)}")
  }

  test("disconnected graph yields a spanning FOREST (one tree per component)") {
    val edges = Seq((1L, 2L, 5L), (2L, 3L, 7L), (10L, 11L, 1L), (11L, 12L, 2L), (10L, 12L, 9L))
    assert(mstOf(edges, 4) == kruskal(edges))
  }

  test("parallel edges keep the min weight; self-loops dropped") {
    import spark.implicits._
    val df = Seq((1L, 2L, 9L), (2L, 1L, 3L), (1L, 1L, 1L), (2L, 3L, 4L))
      .toDF("src", "dst", "w")
    val out = Graph.boruvkaMst(df, "src", "dst", "w", 3, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((1L, 2L, 3L), (2L, 3L, 4L)))
  }
}
