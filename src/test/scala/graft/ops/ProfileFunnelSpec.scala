package graft.ops

import graft.GraftSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.sql.Timestamp

class ProfileFunnelSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  import spark.implicits._

  // ------------------------------------------------------------- Profile

  test("profile counts rows, nulls, distincts and renders min/max") {
    val df = Seq(
      (1L, Some("a"), Some(1.5)),
      (2L, Some("b"), None),
      (3L, Some("a"), Some(-2.0)),
      (4L, None, Some(1.5))
    ).toDF("id", "s", "v").repartition(3)
    val out = Profile.profile(df, Seq("id", "s", "v"))
      .orderBy("col_name")
      .as[(String, Long, Long, Long, String, String)].collect()
    assert(out === Array(
      ("id", 4L, 0L, 4L, "1", "4"),
      ("s", 4L, 1L, 2L, "a", "b"),
      ("v", 4L, 1L, 2L, "-2.0", "1.5")))
  }

  test("profile is one job with one aggregate pass (no per-column actions)") {
    val df = Seq((1L, "x")).toDF("id", "s")
    val plan = Profile.profile(df, Seq("id", "s"))
      .queryExecution.executedPlan.toString
    // a single aggregate subtree — column count must not multiply scans
    assert(plan.linesIterator.count(_.contains("Scan")) <= 1, plan)
  }

  test("profile rejects an empty column list") {
    intercept[IllegalArgumentException] {
      Profile.profile(Seq((1L, "x")).toDF("id", "s"), Seq.empty)
    }
  }

  // -------------------------------------------------------------- Funnel

  private def t(s: String): Timestamp = Timestamp.valueOf(s)

  private val funnelEvents = Seq(
    // u1 completes view -> click -> buy in order
    (1L, "view", t("2024-01-01 10:00:00")),
    (1L, "click", t("2024-01-01 11:00:00")),
    (1L, "buy", t("2024-01-01 12:00:00")),
    // u2 clicks BEFORE viewing — click must not count
    (2L, "click", t("2024-01-02 09:00:00")),
    (2L, "view", t("2024-01-02 10:00:00")),
    // u3 views then clicks 10 days later — outside a 7-day span
    (3L, "view", t("2024-01-01 00:00:00")),
    (3L, "click", t("2024-01-11 00:00:00")),
    // u4 never views — nothing counts
    (4L, "click", t("2024-01-01 00:00:00")),
    (4L, "buy", t("2024-01-01 01:00:00"))
  ).toDF("user_id", "event_type", "ts")

  test("funnel enforces step order and the span cap") {
    val out = Funnel.funnelSteps(funnelEvents, "user_id", "ts", "event_type",
        Seq("view", "click", "buy"), maxSpan = Some("INTERVAL 7 DAYS"))
      .orderBy("step").as[(Long, String, Long)].collect()
    assert(out === Array(
      (1L, "view", 3L),  // u1, u2, u3 viewed
      (2L, "click", 1L), // only u1 clicked after viewing within 7d
      (3L, "buy", 1L)))  // only u1
  }

  test("without a span cap the late click counts") {
    val out = Funnel.funnelSteps(funnelEvents, "user_id", "ts", "event_type",
        Seq("view", "click"), maxSpan = None)
      .orderBy("step").as[(Long, String, Long)].collect()
    assert(out === Array((1L, "view", 3L), (2L, "click", 2L))) // u1 + u3
  }

  test("funnelTimes keeps unconverted users with null later steps") {
    val out = Funnel.funnelTimes(funnelEvents, "user_id", "ts", "event_type",
        Seq("view", "click"), maxSpan = Some("INTERVAL 7 DAYS"))
      .orderBy("user_id")
      .select(col("user_id"), col("t_click").isNull.as("no_click"))
      .as[(Long, Boolean)].collect()
    assert(out === Array((1L, false), (2L, true), (3L, true)))
  }

  test("funnel rejects duplicate steps") {
    intercept[IllegalArgumentException] {
      Funnel.funnelSteps(funnelEvents, "user_id", "ts", "event_type",
        Seq("view", "view"))
    }
  }

  // ---------------------------------------------------- streaming funnel

  test("streaming funnel frontier matches batch funnelTimes (parity)") {
    val rnd = new scala.util.Random(23)
    val types = Seq("view", "click", "buy", "noise")
    val rows = (1 to 400).map { _ =>
      (rnd.nextInt(12).toLong,
        new java.sql.Timestamp(1700000000000L + rnd.nextInt(1000000) * 1000L),
        types(rnd.nextInt(types.size)))
    }
    val inDir = java.nio.file.Files.createTempDirectory("funnel-stream")
    rows.toDF("user_id", "ts", "event_type")
      .write.mode("overwrite").parquet(inDir.toString)

    val steps = Seq("view", "click", "buy")
    val spanMicros = 3600L * 1000000L // 1 hour
    val stream = spark.readStream
      .schema("user_id LONG, ts TIMESTAMP, event_type STRING")
      .parquet(inDir.toString)
    val q = graft.streaming.StreamingIngest.runToMemory(
      Funnel.streamingFunnel(spark, stream, steps, Some(spanMicros)).toDF(),
      "funnel_parity_mem", outputMode = "update")
    try {
      val streamed = spark.table("funnel_parity_mem")
        .groupBy("user_id")
        .agg(min(col("reached").getItem(0)).as("t0"),
          min(col("reached").getItem(1)).as("t1"),
          min(col("reached").getItem(2)).as("t2"))
        .as[(Long, Option[Long], Option[Long], Option[Long])]
        .collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
      val batch = Funnel.funnelTimes(
          rows.toDF("user_id", "ts", "event_type"),
          "user_id", "ts", "event_type", steps,
          maxSpan = Some("INTERVAL 1 HOUR"))
        .select(col("user_id"),
          unix_micros(col("t_view")), unix_micros(col("t_click")),
          unix_micros(col("t_buy")))
        .as[(Long, Option[Long], Option[Long], Option[Long])]
        .collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
      assert(streamed === batch && batch.nonEmpty)
      // funnel monotonicity: each reached step is at-or-after the previous
      assert(streamed.values.forall { case (t0, t1, t2) =>
        t1.forall(b => t0.exists(_ <= b)) && t2.forall(c => t1.exists(_ <= c))
      })
    } finally q.stop()
  }

  // --------------------------------------------------- percentRankExact

  test("percentRankExact equals the global window form, ties included") {
    val rnd = new scala.util.Random(5)
    val df = (1L to 400L).map(i => (i, rnd.nextInt(20))).toDF("id", "v")
      .repartition(7)
    val got = Ranking.percentRankExact(df, Seq(col("v").desc), numPartitions = 5)
      .select(col("id"), col("pct_rank")).as[(Long, Double)].collect().toMap
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("v").desc)
    val expected = df.withColumn("p", percent_rank().over(w))
      .select(col("id"), col("p")).as[(Long, Double)].collect().toMap
    assert(got === expected)
  }

  test("percentRankExact of a single row is 0.0") {
    val df = Seq((1L, 9)).toDF("id", "v")
    val out = Ranking.percentRankExact(df, Seq(col("v").asc))
      .select("pct_rank").as[Double].collect()
    assert(out === Array(0.0))
  }
}
