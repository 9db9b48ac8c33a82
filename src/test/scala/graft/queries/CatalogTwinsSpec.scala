package graft.queries

import graft.GraftSpark
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Two routes, one answer: the catalog entries that share one oracle text
  * (a physical route and its twin, a stream and its batch form) must
  * return IDENTICAL rows — the same columns, row count, order and cells —
  * not merely rows that each pass the oracle compare. The groups are
  * derived from [[Catalog.all]], so every shared oracle is covered;
  * [[PlanSpec]] pins each route's plan shape.
  */
class CatalogTwinsSpec extends AnyFunSuite {
  private lazy val spark = GraftSpark.spark
  private val sf = "/root/testdata/sf0.001"

  /** Entries grouped by oracle text, groups of two or more, catalog order. */
  private val twins: Seq[Seq[String]] = {
    val names = Catalog.all.keys.toIndexedSeq
    names.filter(n => Catalog.all(n).oracle.isDefined)
      .groupBy(n => Catalog.all(n).oracle.get).values
      .filter(_.size > 1).map(_.sortBy(names.indexOf)).toSeq
      .sortBy(g => names.indexOf(g.head))
  }

  test("the route twins each share one oracle definition") {
    val expected = Seq(
      Seq("q30_lsh_knn", "q44_ivf_knn"),
      Seq("q60_stream_dedup_count", "q237_stream_dedup_ttl"),
      Seq("q85_salted_join", "q112_bucketed_join"),
      Seq("q86_heavy_hitters", "q427_stream_heavy_hitters"),
      Seq("q335_topk_operator", "q336_topk_window_twin"),
      Seq("q339_asof_merge_operator", "q340_asof_window_twin", "q353_asof_broadcast"),
      Seq("q341_topk_rank_mode", "q345_topk_rank_window_twin"),
      Seq("q351_asof_merge_wide", "q352_asof_window_wide_twin"),
      Seq("q354_asof_broadcast_dim", "q355_asof_merge_dim_twin",
        "q383_asof_auto_dispatch", "q400_asof_auto_merge_route"),
      Seq("q401_manifest_sink_roundtrip", "q402_manifest_append"),
      Seq("q403_asof_nearest", "q426_asof_nearest_merge_route"),
      Seq("q419_cusum_drift", "q421_stream_cusum"))
    val found = twins.map(_.toSet).toSet
    expected.foreach(g => assert(found.contains(g.toSet), s"$g do not share one oracle"))
  }

  private def rows(name: String): (Seq[String], Seq[Row]) = {
    val df = Catalog.all(name).fn(spark, sf)
    (df.columns.toSeq, df.collect().toSeq)
  }

  for (group <- twins) test(s"${group.mkString(" = ")} return identical rows") {
    val (firstCols, firstRows) = rows(group.head)
    assert(firstRows.nonEmpty, s"${group.head} is empty at $sf")
    group.tail.foreach { other =>
      val (cols, rs) = rows(other)
      assert(cols === firstCols, s"$other vs ${group.head}: columns")
      assert(rs.size === firstRows.size, s"$other vs ${group.head}: row count")
      rs.zip(firstRows).zipWithIndex.foreach { case ((a, b), i) =>
        assert(a === b, s"$other vs ${group.head}: row $i")
      }
    }
  }
}
