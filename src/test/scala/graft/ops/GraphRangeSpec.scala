package graft.ops

import graft.GraftSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ConnectedComponentsSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  import spark.implicits._

  test("chains collapse transitively to the min id") {
    // components: {1,2,3,4} via chain, {10,11}, {20,21,22} via star
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (21L, 20L), (22L, 20L)).toDF("id_a", "id_b")
    val comp = ConnectedComponents.components(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp(1L) == 1L && comp(2L) == 1L && comp(3L) == 1L && comp(4L) == 1L)
    assert(comp(10L) == 10L && comp(11L) == 10L)
    assert(comp(20L) == 20L && comp(21L) == 20L && comp(22L) == 20L)
  }

  test("an 80-node chain converges within the iteration cap (pointer jumping)") {
    // plain min-propagation would need 79 rounds; path halving needs ~7
    val pairs = (0L until 79L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val comp = ConnectedComponents.components(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.size == 80 && comp.values.forall(_ == 0L))
  }

  test("pairsDistinct=true equals the default on distinct canonical pairs") {
    // r16 opt round: the flag skips CC's internal distinct when the
    // candidate pass emits each unordered pair exactly once (the
    // semanticDedup shape) — same labels, one less exchange
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (20L, 22L)).toDF("id_a", "id_b")
    val dflt = ConnectedComponents.components(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val skip = ConnectedComponents.components(pairs, pairsDistinct = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dflt == skip)
  }

  test("closes chains that single-hop minhash mapping misses") {
    // doc 1 ~ doc 2, doc 2 ~ doc 3 (chain via shared middle)
    val base = (1 to 40).map(i => s"word$i").mkString(" ")
    val docs = Seq(
      (1L, base + " one two three"),
      (2L, base + " one two four"),
      (3L, base + " five two four")).toDF("doc_id", "text")
    val cands = Dedup.minhashCandidates(docs, "doc_id", "text")
      .filter(col("est_jaccard") >= 0.5).select("id_a", "id_b")
    val comp = ConnectedComponents.components(cands)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.get(2L).contains(1L))
    assert(comp.get(3L).contains(1L)) // transitive: via doc 2
  }
}

class RangeJoinSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("pointInInterval matches exactly the containment predicate") {
    val points = Seq(
      (1L, 100L, ts("2024-01-01 10:15:00")),
      (2L, 100L, ts("2024-01-01 12:30:00")),
      (3L, 200L, ts("2024-01-01 10:15:00")))
      .toDF("event_id", "user_id", "ts")
    val intervals = Seq(
      (100L, ts("2024-01-01 10:00:00"), ts("2024-01-01 11:00:00"), "s1"),
      (100L, ts("2024-01-01 12:00:00"), ts("2024-01-01 13:00:00"), "s2"),
      (200L, ts("2024-01-01 11:00:00"), ts("2024-01-01 12:00:00"), "s3"))
      .toDF("user_id", "start", "end", "session")

    val joined = RangeJoin.pointInInterval(points, intervals,
      Seq("user_id"), "ts", "start", "end", bucketWidth = "30 minutes")
    val got = joined.select("event_id", "session").as[(Long, String)].collect().toSet
    assert(got == Set((1L, "s1"), (2L, "s2"))) // event 3 falls outside s3
  }

  test("intervals spanning many buckets still match; plan is an equi-join") {
    val points = Seq((1L, 1L, ts("2024-01-03 00:00:00"))).toDF("event_id", "k", "ts")
    val intervals = Seq((1L, ts("2024-01-01 00:00:00"), ts("2024-01-05 00:00:00"), "wide"))
      .toDF("k", "start", "end", "name")
    val joined = RangeJoin.pointInInterval(points, intervals,
      Seq("k"), "ts", "start", "end", bucketWidth = "6 hours")
    assert(joined.count() == 1)
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("Cartesian"),
      s"range join fell back to nested loop:\n$plan")
  }

  test("intervalOverlap equals the naive theta join, each pair exactly once") {
    // randomized intervals with heavy multi-bucket spans: the canonical-
    // bucket dedup must keep each overlapping pair exactly once
    val rnd = new scala.util.Random(11)
    def mins(m: Int) = ts(f"2024-01-01 ${m / 60}%02d:${m % 60}%02d:00")
    val a = (1 to 60).map { i =>
      val s = rnd.nextInt(20 * 60); (i.toLong, i.toLong % 3, mins(s), mins(s + 1 + rnd.nextInt(300)))
    }.toDF("a_id", "k", "a_start", "a_end")
    val b = (1 to 60).map { i =>
      val s = rnd.nextInt(20 * 60); (i.toLong, i.toLong % 3, mins(s), mins(s + 1 + rnd.nextInt(300)))
    }.toDF("b_id", "k", "b_start", "b_end")

    val got = RangeJoin.intervalOverlap(a, b, Seq("k"),
        "a_start", "a_end", "b_start", "b_end", bucketWidth = "1 hour")
      .select("a_id", "b_id").as[(Long, Long)].collect().sorted.toSeq
    val naive = a.join(b, Seq("k"))
      .filter(col("a_start") <= col("b_end") && col("b_start") <= col("a_end"))
      .select("a_id", "b_id").as[(Long, Long)].collect().sorted.toSeq
    assert(got == naive && got.nonEmpty)
    // sorted comparison of full lists also proves no pair is duplicated
  }

  test("intervalOverlap counts touching endpoints as overlap (inclusive)") {
    val a = Seq((1L, 0L, ts("2024-01-01 10:00:00"), ts("2024-01-01 11:00:00")))
      .toDF("a_id", "k", "a_start", "a_end")
    val b = Seq((1L, 0L, ts("2024-01-01 11:00:00"), ts("2024-01-01 12:00:00")),
                (2L, 0L, ts("2024-01-01 12:00:01"), ts("2024-01-01 13:00:00")))
      .toDF("b_id", "k", "b_start", "b_end")
    val got = RangeJoin.intervalOverlap(a, b, Seq("k"),
        "a_start", "a_end", "b_start", "b_end")
      .select("b_id").as[Long].collect().toSeq
    assert(got == Seq(1L)) // touching counts; disjoint does not
  }
}
