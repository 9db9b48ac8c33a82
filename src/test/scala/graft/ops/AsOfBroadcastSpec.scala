package graft.ops

import graft.GraftSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The broadcast as-of probe proved against the two shuffling surfaces
  * ([[AsOfJoin.asof]] union+window, [[graft.plans.AsOfMergeJoin]] sorted
  * merge), plus its OWN scale contract: the probe side's physical plan
  * contains ZERO exchanges — the fact side is never shuffled.
  */
class AsOfBroadcastSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def events = graft.Tables.load(spark, sf, "events")

  private def clicks = events.filter(col("event_type") === "click")
    .select("event_id", "user_id", "ts")
  private def purchases = events.filter(col("event_type") === "purchase")
    .groupBy(col("user_id"), col("ts").as("p_ts"))
    .agg(max(col("value")).as("p_value"))
    .select("user_id", "p_ts", "p_value")

  private def cols = Seq("event_id", "user_id", "ts", "p_value", "asof_ts")

  test("broadcast probe output == merge exec == union+window, cell-exact") {
    val bc = AsOfJoin.asofBroadcast(clicks, purchases,
        on = Seq("user_id"), leftTs = "ts", rightTs = "p_ts",
        rightCols = Seq("p_value"))
      .select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
    val mg = graft.plans.AsOfMergeJoin.asofMerge(clicks, purchases,
        on = Seq("user_id"), leftTs = "ts", rightTs = "p_ts",
        rightCols = Seq("p_value"))
      .select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
    val wd = AsOfJoin.asof(clicks, purchases,
        on = Seq("user_id"), leftTs = "ts", rightTs = "p_ts",
        rightCols = Seq("p_value"))
      .select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
    assert(bc.nonEmpty && bc == mg && bc == wd)
  }

  test("FORWARD direction == union+window forward form, cell-exact") {
    val bc = AsOfJoin.asofBroadcast(clicks, purchases,
        on = Seq("user_id"), leftTs = "ts", rightTs = "p_ts",
        rightCols = Seq("p_value"), direction = "forward")
      .select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
    val wd = AsOfJoin.asof(clicks, purchases,
        on = Seq("user_id"), leftTs = "ts", rightTs = "p_ts",
        rightCols = Seq("p_value"), direction = "forward")
      .select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
    assert(bc.nonEmpty && bc == wd)
  }

  test("plan: ZERO exchanges on the probe side — the fact table is never shuffled") {
    val plan = AsOfJoin.asofBroadcast(clicks, purchases,
        on = Seq("user_id"), leftTs = "ts", rightTs = "p_ts",
        rightCols = Seq("p_value"))
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("asof_lookup"), plan)
  }

  test("probe stays inside whole-stage codegen") {
    // the `*(n)` prefix marks a WholeStageCodegen span; the Project
    // carrying asof_lookup must sit inside one (a CodegenFallback or
    // codegen bug would drop the star on that line)
    val plan = AsOfJoin.asofBroadcast(clicks, purchases,
        on = Seq("user_id"), leftTs = "ts", rightTs = "p_ts",
        rightCols = Seq("p_value"))
      .queryExecution.executedPlan.toString()
    val lookupLine = plan.linesIterator.find(_.contains("asof_lookup"))
    assert(lookupLine.exists(_.contains("*(")), plan)
    // and the whole probe side is ONE span: scan → filter → probe →
    // flatten all carry the same stage id
    val stageIds = plan.linesIterator.flatMap(
      "\\*\\((\\d+)\\)".r.findFirstMatchIn(_)).map(_.group(1)).toSet
    assert(stageIds.size == 1, plan)
  }

  test("left-outer cardinality: one output row per left row") {
    val n = AsOfJoin.asofBroadcast(clicks, purchases,
      on = Seq("user_id"), leftTs = "ts", rightTs = "p_ts",
      rightCols = Seq("p_value")).count()
    assert(n == clicks.count())
  }

  test("exact-timestamp ties: LAST right row under the tie-break wins (backward)") {
    import spark.implicits._
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:10")
    val l = Seq((1L, "u", ts0)).toDF("id", "k", "ts")
    val r = Seq(("u", ts0, 1L), ("u", ts0, 2L),
        ("u", java.sql.Timestamp.valueOf("2024-01-01 00:00:05"), 9L))
      .toDF("k", "rts", "v")
    val out = AsOfJoin.asofBroadcast(l, r, Seq("k"), "ts", "rts", Seq("v"),
      rightTieBreak = Seq(col("v"))).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("v") == 2L)
  }

  test("forward exact-ts ties: FIRST right row under the tie-break wins") {
    import spark.implicits._
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:10")
    val l = Seq((1L, "u", ts0)).toDF("id", "k", "ts")
    val r = Seq(("u", ts0, 5L), ("u", ts0, 2L),
        ("u", java.sql.Timestamp.valueOf("2024-01-01 00:00:20"), 9L))
      .toDF("k", "rts", "v")
    val out = AsOfJoin.asofBroadcast(l, r, Seq("k"), "ts", "rts", Seq("v"),
      rightTieBreak = Seq(col("v")), direction = "forward").collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("v") == 2L)
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
    val out = AsOfJoin.asofBroadcast(l, r, Seq("k"), "ts", "rts", Seq("v"))
      .orderBy("id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(out(0).getAs[Any]("v") == 7L)
    assert(out(1).isNullAt(out(1).fieldIndex("v")))
    assert(out(2).isNullAt(out(2).fieldIndex("v")))
    assert(out(3).isNullAt(out(3).fieldIndex("v")))
  }

  test("multi-column string+long keys probe correctly") {
    import spark.implicits._
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val l = Seq((1L, "a", 10L, ts("2024-01-01 01:00:00")),
        (2L, "a", 20L, ts("2024-01-01 01:00:00")),
        (3L, "b", 10L, ts("2024-01-01 01:00:00")))
      .toDF("id", "k1", "k2", "ts")
    val r = Seq(("a", 10L, ts("2024-01-01 00:00:00"), 1L),
        ("a", 20L, ts("2024-01-01 00:30:00"), 2L),
        ("b", 10L, ts("2024-01-01 02:00:00"), 3L))
      .toDF("k1", "k2", "rts", "v")
    val out = AsOfJoin.asofBroadcast(l, r, Seq("k1", "k2"), "ts", "rts", Seq("v"))
      .orderBy("id").collect()
    assert(out(0).getAs[Any]("v") == 1L)
    assert(out(1).getAs[Any]("v") == 2L)
    assert(out(2).isNullAt(out(2).fieldIndex("v"))) // right row only AFTER
  }

  test("broadcast probe ships a small constant of shuffle bytes — the fact side never moves") {
    // the structural claim behind the rung, measured deterministically
    // (the q351 wide-carry discipline): on the dim-enrichment shape
    // (events fact side vs a calendar-bounded per-type daily timeline),
    // the merge exec shuffles EVERY fact row while the broadcast form's
    // only shuffle is the dim aggregation itself — its shuffle volume is
    // independent of the fact side entirely.
    val ev = events
    val facts = ev.select("event_id", "event_type", "ts")
    def dim = ev
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("__d"))
      .agg(max(col("value")).as("day_max"))
      .select(col("event_type"),
        (col("__d") + expr("INTERVAL 1 DAY")).as("d_ts"), col("day_max"))
    val written = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) written.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    def shuffleBytes(body: => Unit): Long = {
      written.set(0L)
      body
      org.apache.spark.GraftBus.waitUntilEmpty(spark.sparkContext, 30000L)
      written.get()
    }
    // doubling the fact side doubles the merge exec's shuffle volume
    // but leaves the broadcast form's untouched (its only shuffle is
    // the dim aggregation — fact-size-independent)
    val facts2 = facts.unionAll(
      facts.withColumn("event_id", col("event_id") + 1000000000000L))
    try {
      def bcBytesOf(f: org.apache.spark.sql.DataFrame) = shuffleBytes {
        AsOfJoin.asofBroadcast(f, dim, Seq("event_type"), "ts", "d_ts",
          Seq("day_max")).write.format("noop").mode("overwrite").save()
      }
      def mergeBytesOf(f: org.apache.spark.sql.DataFrame) = shuffleBytes {
        graft.plans.AsOfMergeJoin.asofMerge(f, dim, Seq("event_type"),
          "ts", "d_ts", Seq("day_max")).write.format("noop").mode("overwrite").save()
      }
      val bc1 = bcBytesOf(facts); val bc2 = bcBytesOf(facts2)
      val mg1 = mergeBytesOf(facts); val mg2 = mergeBytesOf(facts2)
      info(s"broadcast 1x=$bc1 2x=$bc2 bytes; merge 1x=$mg1 2x=$mg2 bytes")
      assert(bc1 > 0 && mg1 > 2 * bc1,
        s"expected broadcast < merge shuffle bytes at 1x: $bc1 vs $mg1")
      assert(bc2 < (bc1 * 1.3).toLong,
        s"broadcast shuffle bytes should not grow with the fact side: $bc1 -> $bc2")
      assert(mg2 > (mg1 * 1.5).toLong,
        s"merge shuffle bytes should scale with the fact side: $mg1 -> $mg2")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("tolerance nulls stale matches — parity with the merge exec's bound") {
    val tol = 1800L * 1000000L
    val bc = AsOfJoin.asofBroadcast(clicks, purchases,
        on = Seq("user_id"), leftTs = "ts", rightTs = "p_ts",
        rightCols = Seq("p_value"), toleranceMicros = Some(tol))
      .select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
    val mg = graft.plans.AsOfMergeJoin.asofMerge(clicks, purchases,
        on = Seq("user_id"), leftTs = "ts", rightTs = "p_ts",
        rightCols = Seq("p_value"), toleranceMicros = Some(tol))
      .select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
    assert(bc.nonEmpty && bc == mg)
  }

  test("maxRightRows guard rejects an oversized right side") {
    val e = intercept[IllegalArgumentException] {
      AsOfJoin.asofBroadcast(clicks, purchases,
        on = Seq("user_id"), leftTs = "ts", rightTs = "p_ts",
        rightCols = Seq("p_value"), maxRightRows = 1L)
    }
    assert(e.getMessage.contains("asofBroadcast right side"))
  }

  test("release after the owning session is GC'd still destroys the broadcast") {
    // r14 verdict #4: the weak-ref branch (r13 ADVICE fix) had no spec.
    // Register through a CLONE session (the streamingSession pattern),
    // then CLEAR the owner WeakReference — exactly the state real GC of
    // a discarded clone leaves behind — and release from the main
    // session: the entry must be removed and the broadcast destroyed
    // even though its owner (and its function registry) is gone.
    import scala.jdk.CollectionConverters._
    assert(AsOfJoin.releaseBroadcastIndexes(spark) >= 0) // clean slate
    val before = AsOfJoin.liveBroadcasts.keySet().asScala.toSet
    val clone = spark.newSession()
    val joined = AsOfJoin.asofBroadcast(
      clone.range(10).select(col("id").as("user_id"), col("id").as("ts")),
      clone.range(10).select(col("id").as("user_id"),
        col("id").as("p_ts"), (col("id") * 2).as("p_value")),
      on = Seq("user_id"), leftTs = "ts", rightTs = "p_ts",
      rightCols = Seq("p_value"))
    assert(joined.count() == 10)
    val added = AsOfJoin.liveBroadcasts.asScala.toSeq
      .filter { case (k, _) => !before.contains(k) }
    assert(added.size == 1, s"expected exactly one new index, got $added")
    val (_, (ownerRef, bc)) = added.head
    assert(bc.value.groups.nonEmpty) // live before release
    ownerRef.clear() // simulate the clone having been garbage-collected
    assert(AsOfJoin.releaseBroadcastIndexes(spark) == 1)
    assert(AsOfJoin.liveBroadcasts.asScala.keySet
      .forall(before.contains), "entry must be gone from the registry")
    // destroyed: any further access to the broadcast value must fail
    intercept[org.apache.spark.SparkException](bc.value)
  }
}
