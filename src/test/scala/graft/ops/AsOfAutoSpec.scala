package graft.ops

import graft.GraftSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[AsOfJoin.asofAuto]]'s dispatch contract: the surface it picks is a
  * purely physical choice — output is cell-identical to every manual
  * surface — and the pick follows the documented rules (size threshold
  * → broadcast, oversize → merge exec, nearest → window form,
  * complex-typed carry → merge exec).
  */
class AsOfAutoSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def events = graft.Tables.load(spark, sf, "events")

  private def clicks = events.filter(col("event_type") === "click")
    .select("event_id", "user_id", "ts")
  private def purchases = events.filter(col("event_type") === "purchase")
    .groupBy(col("user_id"), col("ts").as("p_ts"))
    .agg(max(col("value")).as("p_value"))
    .select("user_id", "p_ts", "p_value")

  private val cols = Seq("event_id", "user_id", "ts", "p_value", "asof_ts")

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq

  private def autoAt(thresholdBytes: Long,
      direction: String = "backward",
      tolMicros: Option[Long] = None): org.apache.spark.sql.DataFrame = {
    spark.conf.set("graft.asof.broadcastThreshold", thresholdBytes.toString)
    try AsOfJoin.asofAuto(clicks, purchases, on = Seq("user_id"),
      leftTs = "ts", rightTs = "p_ts", rightCols = Seq("p_value"),
      direction = direction, toleranceMicros = tolMicros)
    finally spark.conf.unset("graft.asof.broadcastThreshold")
  }

  test("three-way parity: auto == broadcast == merge == window, all three dirs") {
    for (dir <- Seq("backward", "forward", "nearest")) {
      val auto = rowsOf(autoAt(1L << 30, dir))
      val bc = rowsOf(AsOfJoin.asofBroadcast(clicks, purchases,
        on = Seq("user_id"), leftTs = "ts", rightTs = "p_ts",
        rightCols = Seq("p_value"), direction = dir))
      val mg = rowsOf(graft.plans.AsOfMergeJoin.asofMerge(clicks, purchases,
        on = Seq("user_id"), leftTs = "ts", rightTs = "p_ts",
        rightCols = Seq("p_value"), direction = dir))
      val wd = rowsOf(AsOfJoin.asof(clicks, purchases,
        on = Seq("user_id"), leftTs = "ts", rightTs = "p_ts",
        rightCols = Seq("p_value"), direction = dir))
      assert(auto.nonEmpty && auto == bc && auto == mg && auto == wd, dir)
      // the oversize route must agree too
      assert(rowsOf(autoAt(1L, dir)) == auto, dir)
    }
  }

  test("dispatch: small right side → broadcast probe (zero exchanges)") {
    val plan = autoAt(1L << 30).queryExecution.executedPlan.toString()
    assert(!plan.contains("Exchange"), plan)
    assert(plan.contains("asof_lookup"), plan)
  }

  test("dispatch: right side above threshold → merge exec") {
    val plan = autoAt(1L).queryExecution.executedPlan.toString()
    assert(plan.contains("AsOfMergeJoin"), plan)
  }

  test("dispatch: threshold <= 0 disables the broadcast rung") {
    val plan = autoAt(0L).queryExecution.executedPlan.toString()
    assert(plan.contains("AsOfMergeJoin"), plan)
  }

  test("a malformed broadcastThreshold fails naming the key and the value") {
    spark.conf.set("graft.asof.broadcastThreshold", "10MB")
    try {
      val e = intercept[IllegalArgumentException](AsOfJoin.asofAuto(clicks, purchases,
        on = Seq("user_id"), leftTs = "ts", rightTs = "p_ts", rightCols = Seq("p_value")))
      assert(e.getMessage.contains("graft.asof.broadcastThreshold") &&
        e.getMessage.contains("'10MB'"), e.getMessage)
    } finally spark.conf.unset("graft.asof.broadcastThreshold")
  }

  test("dispatch: nearest rides the physical ladder — broadcast small, merge large") {
    // round 14: nearest no longer forces the union+window form on a
    // long-backed axis — small right → zero-shuffle probe, oversize →
    // merge exec, both cell-identical to the manual window form
    val want = rowsOf(AsOfJoin.asof(clicks, purchases,
      on = Seq("user_id"), leftTs = "ts", rightTs = "p_ts",
      rightCols = Seq("p_value"), direction = "nearest"))
    val small = autoAt(1L << 30, "nearest")
    assert(small.queryExecution.executedPlan.toString().contains("asof_lookup"))
    assert(!small.queryExecution.executedPlan.toString().contains("Window"))
    assert(rowsOf(small) == want)
    val large = autoAt(1L, "nearest")
    assert(large.queryExecution.executedPlan.toString().contains("AsOfMergeJoin"))
    assert(rowsOf(large) == want)
  }

  test("dispatch: nearest on a non-long-backed axis falls back to the window form") {
    // a DOUBLE time axis subtracts (so the window form can rank
    // distances) but is not long-backed (the index/merge distance math
    // needs the long encoding) — the one remaining window-form dispatch
    val sLeft = clicks.withColumn("dts",
      col("ts").cast("double")).drop("ts")
    val sRight = purchases.withColumn("p_dts",
      col("p_ts").cast("double")).drop("p_ts")
    val auto = AsOfJoin.asofAuto(sLeft, sRight, on = Seq("user_id"),
      leftTs = "dts", rightTs = "p_dts", rightCols = Seq("p_value"),
      direction = "nearest")
    assert(auto.queryExecution.executedPlan.toString().contains("Window"))
    assert(auto.count() == clicks.count())
  }

  test("nearest picks the closer side; exact-distance ties prefer backward") {
    import spark.implicits._
    val l = Seq((1L, 100L), (1L, 200L), (1L, 305L)).toDF("k", "t")
    val r = Seq((1L, 90L, "b90"), (1L, 110L, "f110"), (1L, 300L, "b300"),
      (1L, 310L, "f310")).toDF("k", "rt", "v")
    // t=100: dist(90)=10 vs dist(110)=10 — exact tie → backward row 90
    // t=200: backward candidate 110 (dist 90) beats forward 300 (dist 100)
    // t=305: dist(300)=5 vs dist(310)=5 — tie → backward row 300
    val want = Map(100L -> "b90", 200L -> "f110", 305L -> "b300")
    for (route <- Seq("bcast", "merge", "window")) {
      val got = (route match {
        case "bcast" => AsOfJoin.asofBroadcast(l, r, Seq("k"), "t", "rt",
          Seq("v"), direction = "nearest")
        case "merge" => graft.plans.AsOfMergeJoin.asofMerge(l, r, Seq("k"),
          "t", "rt", Seq("v"), direction = "nearest")
        case _ => AsOfJoin.asof(l, r, Seq("k"), "t", "rt", Seq("v"),
          direction = "nearest")
      }).select(col("t"), col("v")).collect()
        .map(x => x.getLong(0) -> x.getString(1)).toMap
      assert(got == want, s"route=$route got=$got")
    }
  }

  test("dispatch: complex-typed carried column → merge exec even when small") {
    val arrRight = purchases.withColumn("p_hist", array(col("p_value")))
    spark.conf.set("graft.asof.broadcastThreshold", (1L << 30).toString)
    try {
      val auto = AsOfJoin.asofAuto(clicks, arrRight, on = Seq("user_id"),
        leftTs = "ts", rightTs = "p_ts", rightCols = Seq("p_value", "p_hist"))
      assert(auto.queryExecution.executedPlan.toString().contains("AsOfMergeJoin"))
      assert(auto.count() == clicks.count())
    } finally spark.conf.unset("graft.asof.broadcastThreshold")
  }

  test("tolerance parity across the auto routes (micros axis)") {
    val tol = Some(30L * 60 * 1000000) // 30 minutes
    val small = rowsOf(autoAt(1L << 30, tolMicros = tol))
    val large = rowsOf(autoAt(1L, tolMicros = tol))
    val manual = rowsOf(AsOfJoin.asofBroadcast(clicks, purchases,
      on = Seq("user_id"), leftTs = "ts", rightTs = "p_ts",
      rightCols = Seq("p_value"), toleranceMicros = tol))
    assert(small.nonEmpty && small == large && small == manual)
    // tolerance must actually bite: some matched rows null out vs no-tol
    val noTol = rowsOf(autoAt(1L << 30))
    assert(small != noTol)
    // nearest honors the same tolerance on every route, window form incl.
    val nSmall = rowsOf(autoAt(1L << 30, "nearest", tol))
    val nLarge = rowsOf(autoAt(1L, "nearest", tol))
    val nWindow = rowsOf(AsOfJoin.asof(clicks, purchases,
      on = Seq("user_id"), leftTs = "ts", rightTs = "p_ts",
      rightCols = Seq("p_value"),
      tolerance = Some(expr("INTERVAL 30 MINUTES")), direction = "nearest"))
    assert(nSmall.nonEmpty && nSmall == nLarge && nSmall == nWindow)
    assert(nSmall != rowsOf(autoAt(1L << 30, "nearest")))
  }

  test("micros tolerance on a date axis is rejected on every auto route") {
    val dLeft = clicks.withColumn("d", to_date(col("ts"))).drop("ts")
    val dRight = purchases.withColumn("p_d", to_date(col("p_ts"))).drop("p_ts")
    val e = intercept[IllegalArgumentException] {
      AsOfJoin.asofAuto(dLeft, dRight, on = Seq("user_id"),
        leftTs = "d", rightTs = "p_d", rightCols = Seq("p_value"),
        toleranceMicros = Some(1000000L))
    }
    assert(e.getMessage.contains("long-backed"))
  }
}
