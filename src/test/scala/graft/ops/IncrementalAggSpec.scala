package graft.ops

import graft.GraftSpark
import org.scalatest.funsuite.AnyFunSuite

class IncrementalAggSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  import spark.implicits._

  private def state(rows: Seq[(Long, Long, Long)]) =
    rows.toDF("k", "n", "s")

  test("merge equals the aggregate of the union (decomposability contract)") {
    val a = Seq((1L, 2L, 10L), (2L, 1L, 5L)) // key, count, sum
    val b = Seq((2L, 3L, 7L), (3L, 4L, 20L))
    val got = IncrementalAgg.merge(state(a), state(b), Seq("k"),
        sums = Seq("n", "s"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L, 10L), (2L, 4L, 12L), (3L, 4L, 20L)))
  }

  test("max columns combine null-safely across one-sided keys") {
    val a = Seq((1L, 5L), (2L, 9L)).toDF("k", "m")
    val b = Seq((2L, 3L), (3L, 7L)).toDF("k", "m")
    val got = IncrementalAgg.merge(a, b, Seq("k"), sums = Nil,
        maxes = Seq("m"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 5L), (2L, 9L), (3L, 7L)))
  }

  test("empty delta is the identity") {
    val a = state(Seq((1L, 2L, 10L)))
    val empty = state(Seq.empty)
    val got = IncrementalAgg.merge(a, empty, Seq("k"), sums = Seq("n", "s"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L, 10L)))
  }
}
