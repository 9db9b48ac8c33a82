package graft.plans

import graft.GraftSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The sorted-merge as-of exec proved against the union+window
  * composition it replaces ([[graft.ops.AsOfJoin]]), plus the
  * plan-shape contract (each side shuffled at its own width, no
  * Window, left-outer row cardinality).
  */
class AsOfMergeJoinSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def events = graft.Tables.load(spark, sf, "events")

  private def clicks = events.filter(col("event_type") === "click")
    .select("event_id", "user_id", "ts")
  // unique (user_id, ts) on the right: exact-ts ties are exercised
  // separately below
  private def purchases = events.filter(col("event_type") === "purchase")
    .groupBy(col("user_id"), col("ts").as("p_ts"))
    .agg(max(col("value")).as("p_value"))
    .select("user_id", "p_ts", "p_value")

  private def viaWindow = graft.ops.AsOfJoin.asof(clicks, purchases,
      on = Seq("user_id"), leftTs = "ts", rightTs = "p_ts",
      rightCols = Seq("p_value"))
    .select("event_id", "user_id", "ts", "p_value", "asof_ts")

  private def viaMerge = AsOfMergeJoin.asofMerge(clicks, purchases,
      on = Seq("user_id"), leftTs = "ts", rightTs = "p_ts",
      rightCols = Seq("p_value"))
    .select("event_id", "user_id", "ts", "p_value", "asof_ts")

  test("merge exec output == union+window form, cell-exact") {
    val a = viaMerge.collect().map(_.toString).sorted
    val b = viaWindow.collect().map(_.toString).sorted
    assert(a.nonEmpty && a.toSeq == b.toSeq)
  }

  test("left-outer cardinality: one output row per left row") {
    assert(viaMerge.count() == clicks.count())
  }

  test("plan: AsOfMergeJoin over two per-side exchanges, no Window") {
    // plain selects on both sides so every exchange in the plan belongs
    // to the JOIN (the cell-exact tests above use an aggregated right
    // side, which adds its own input exchange)
    val rawPurch = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("value").as("p_value"))
    val plan = AsOfMergeJoin.asofMerge(clicks, rawPurch,
        on = Seq("user_id"), leftTs = "ts", rightTs = "p_ts",
        rightCols = Seq("p_value"))
      .queryExecution.executedPlan.toString()
    assert(plan.contains("AsOfMergeJoin"), plan)
    assert(!plan.contains("Window"), plan)
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 2, s"expected 2 exchanges (one per side):\n$plan")
  }

  test("exact-timestamp ties: LAST right row under the tie-break wins") {
    import spark.implicits._
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:10")
    val l = Seq((1L, "u", ts0)).toDF("id", "k", "ts")
    val r = Seq(("u", ts0, 1L), ("u", ts0, 2L),
        ("u", java.sql.Timestamp.valueOf("2024-01-01 00:00:05"), 9L))
      .toDF("k", "rts", "v")
    val out = AsOfMergeJoin.asofMerge(l, r, Seq("k"), "ts", "rts", Seq("v"),
      rightTieBreak = Seq(("v", true))).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("v") == 2L) // last under v asc at equal ts
  }

  test("null keys and null timestamps never match; unmatched lefts carry nulls") {
    import spark.implicits._
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val l = Seq((1L, Option("u"), Option(ts("2024-01-01 00:00:10"))),
        (2L, None, Option(ts("2024-01-01 00:00:10"))),
        (3L, Option("u"), None),
        (4L, Option("w"), Option(ts("2024-01-01 00:00:10"))))
      .toDF("id", "k", "ts")
    val r = Seq((Option("u"), Option(ts("2024-01-01 00:00:01")), 7L),
        (Option.empty[String], Option(ts("2024-01-01 00:00:01")), 8L),
        (Option("w"), Option.empty[java.sql.Timestamp], 9L))
      .toDF("k", "rts", "v")
    val out = AsOfMergeJoin.asofMerge(l, r, Seq("k"), "ts", "rts", Seq("v"))
      .orderBy("id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(out(0).getAs[Any]("v") == 7L) // real match
    assert(out(1).isNullAt(out(1).fieldIndex("v"))) // null left key
    assert(out(2).isNullAt(out(2).fieldIndex("v"))) // null left ts
    assert(out(3).isNullAt(out(3).fieldIndex("v"))) // null right ts ignored
  }

  test("FORWARD direction == union+window forward form, cell-exact") {
    val viaM = AsOfMergeJoin.asofMerge(clicks, purchases,
        on = Seq("user_id"), leftTs = "ts", rightTs = "p_ts",
        rightCols = Seq("p_value"), direction = "forward")
      .select("event_id", "p_value", "asof_ts")
      .collect().map(_.toString).sorted
    val viaW = graft.ops.AsOfJoin.asof(clicks, purchases,
        on = Seq("user_id"), leftTs = "ts", rightTs = "p_ts",
        rightCols = Seq("p_value"), direction = "forward")
      .select("event_id", "p_value", "asof_ts")
      .collect().map(_.toString).sorted
    assert(viaM.nonEmpty && viaM.toSeq == viaW.toSeq)
  }

  test("forward exact-ts ties: FIRST right row under the tie-break wins") {
    import spark.implicits._
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:10")
    val l = Seq((1L, "u", ts0)).toDF("id", "k", "ts")
    val r = Seq(("u", ts0, 5L), ("u", ts0, 2L),
        ("u", java.sql.Timestamp.valueOf("2024-01-01 00:00:20"), 9L))
      .toDF("k", "rts", "v")
    val out = AsOfMergeJoin.asofMerge(l, r, Seq("k"), "ts", "rts", Seq("v"),
      rightTieBreak = Seq(("v", true)), direction = "forward").collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("v") == 2L) // first under v asc at equal ts
  }

  test("merge exec ships FEWER shuffle bytes than the union+window form") {
    // the structural claim behind the paired wall-clock wins, measured
    // deterministically: the union form pads BOTH sides to the combined
    // schema before its one exchange (every left row carries null slots
    // for every carried right column), while the merge exec exchanges
    // each side at its own width. Six carried columns amplify the gap.
    val wide = purchases.select(col("user_id"), col("p_ts"),
      col("p_value"), (col("p_value") * 2).as("p2"),
      (col("p_value") * 3).as("p3"), (col("p_value") * 4).as("p4"),
      (col("p_value") * 5).as("p5"), (col("p_value") * 6).as("p6"))
    val carry = Seq("p_value", "p2", "p3", "p4", "p5", "p6")
    val written = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) written.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    def shuffleBytes(df: => org.apache.spark.sql.DataFrame): Long = {
      written.set(0L)
      df.write.format("noop").mode("overwrite").save()
      org.apache.spark.GraftBus.waitUntilEmpty(spark.sparkContext, 30000L)
      written.get()
    }
    try {
      val viaMergeBytes = shuffleBytes(AsOfMergeJoin.asofMerge(
        clicks, wide, Seq("user_id"), "ts", "p_ts", carry))
      val viaWindowBytes = shuffleBytes(graft.ops.AsOfJoin.asof(
        clicks, wide, Seq("user_id"), "ts", "p_ts", carry))
      info(s"merge=$viaMergeBytes bytes, window=$viaWindowBytes bytes, " +
        f"ratio=${viaWindowBytes.toDouble / viaMergeBytes}%.2f")
      assert(viaMergeBytes > 0 && viaWindowBytes > viaMergeBytes,
        s"expected merge < window shuffle bytes: $viaMergeBytes vs $viaWindowBytes")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("tolerance nulls stale matches — parity with the union+window within form") {
    val viaM = AsOfMergeJoin.asofMerge(clicks, purchases,
        on = Seq("user_id"), leftTs = "ts", rightTs = "p_ts",
        rightCols = Seq("p_value"), toleranceMicros = Some(1800L * 1000000L))
      .select("event_id", "p_value", "asof_ts")
      .collect().map(_.toString).sorted.toSeq
    val viaW = graft.ops.AsOfJoin.asof(clicks, purchases,
        on = Seq("user_id"), leftTs = "ts", rightTs = "p_ts",
        rightCols = Seq("p_value"),
        tolerance = Some(expr("INTERVAL 30 MINUTES")))
      .select("event_id", "p_value", "asof_ts")
      .collect().map(_.toString).sorted.toSeq
    assert(viaM.nonEmpty && viaM == viaW)
    // and the bound actually bites: some matches survive, some null out
    val all = AsOfMergeJoin.asofMerge(clicks, purchases,
      on = Seq("user_id"), leftTs = "ts", rightTs = "p_ts",
      rightCols = Seq("p_value"))
    val tolerant = AsOfMergeJoin.asofMerge(clicks, purchases,
      on = Seq("user_id"), leftTs = "ts", rightTs = "p_ts",
      rightCols = Seq("p_value"), toleranceMicros = Some(1800L * 1000000L))
    val nAll = all.filter(col("p_value").isNotNull).count()
    val nTol = tolerant.filter(col("p_value").isNotNull).count()
    assert(nTol > 0 && nTol < nAll, s"$nTol vs $nAll")
  }

  test("multi-column keys merge correctly") {
    val l2 = clicks.withColumn("b", col("event_id") % 3)
    val r2 = purchases.withColumn("b", col("p_ts").cast("long") % 3)
      .groupBy(col("user_id"), col("b"), col("p_ts"))
      .agg(max("p_value").as("p_value"))
    val viaM = AsOfMergeJoin.asofMerge(l2, r2, Seq("user_id", "b"),
        "ts", "p_ts", Seq("p_value"))
      .select("event_id", "p_value", "asof_ts")
      .collect().map(_.toString).sorted
    val viaW = graft.ops.AsOfJoin.asof(l2, r2, Seq("user_id", "b"),
        "ts", "p_ts", Seq("p_value"))
      .select("event_id", "p_value", "asof_ts")
      .collect().map(_.toString).sorted
    assert(viaM.toSeq == viaW.toSeq)
  }
}
