package graft.plans

import graft.GraftSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The custom whole-operator path (logical node -> strategy ->
  * partial/final physical heaps) proved against the stock window
  * formulation it replaces, plus the plan-shape contract.
  */
class TopKPerKeySpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def events = graft.Tables.load(spark, sf, "events")
    .select(col("event_id"), col("event_type"), col("user_id"),
      (col("value") * 100 + signum(col("value")) * 0.5).cast("long").as("c"))

  /** The operator's rows and the stock row_number() window's, as sorted
    * row strings (so -0.0 vs 0.0 and NaN stay visible).
    */
  private def opAndWindow(df: DataFrame, keys: Seq[String],
      order: Seq[(String, Boolean)], k: Int): (Seq[String], Seq[String]) = {
    val viaOp = TopKPerKey.topKPerKey(df, keys.map(col),
      order.map { case (c, asc) => (col(c), asc) }, k)
      .collect().map(_.toString).sorted.toSeq
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(order.map { case (c, asc) => if (asc) col(c).asc else col(c).desc }: _*)
    val viaWin = df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k).drop("__rk")
      .collect().map(_.toString).sorted.toSeq
    (viaOp, viaWin)
  }

  test("operator output == window row_number form, cell-exact") {
    import spark.implicits._
    // doubles desc: NaN sorts above every value, nulls last, and 0.0 ties
    // -0.0 (Spark's compareDoubles), so the id tie-break decides — in "a"
    // the k-th row is -0.0 id 3, not 0.0 id 4
    val doubles = Seq[(String, Option[Double], Long)](
      ("a", Some(Double.NaN), 1L), ("a", Some(1.0), 2L), ("a", Some(-0.0), 3L),
      ("a", Some(0.0), 4L), ("a", None, 5L), ("a", Some(-0.0), 6L),
      ("b", Some(0.0), 7L), ("b", None, 8L), ("b", Some(-0.0), 9L), ("b", None, 10L),
      ("c", None, 11L), ("c", Some(Double.NaN), 12L), ("c", Some(Double.NaN), 13L),
      ("d", Some(-1.0), 14L), ("e", Some(-0.0), 15L), ("e", Some(0.0), 16L))
      .toDF("g", "v", "id")
    // md5 keys asc, plus a group where UTF-8 byte order decides the k-th
    // row: U+FFFF (EF BF BF) sorts before U+10000 (F0 90 80 80), the
    // reverse of their UTF-16 order
    val rnd = new scala.util.Random(7)
    val hashed = (1 to 500).map(i => (s"g${rnd.nextInt(5)}", i.toLong)).toDF("g", "id")
      .select(col("g"), md5(col("id").cast("string")).as("h"), col("id"))
    val utf8 = ((1 to 9).map(i => ("u", f"$i%032x", 1000L + i)) ++ Seq(
      ("u", new String(Character.toChars(0x10000)), 0L),
      ("u", new String(Character.toChars(0xFFFF)), 2000L))).toDF("g", "h", "id")
    // exact ties on the whole sort key at capacity: the ids decide
    val tied = Seq.tabulate(6)(i => ("g", "same-key", i.toLong)).toDF("g", "h", "id")
    val inputs = Seq(
      ("events", events, Seq("event_type"), Seq("c" -> false, "event_id" -> true), 3),
      ("doubles", doubles, Seq("g"), Seq("v" -> false, "id" -> true), 3),
      ("md5+utf8", hashed.union(utf8), Seq("g"), Seq("h" -> true, "id" -> true), 10),
      ("ties", tied, Seq("g"), Seq("h" -> true, "id" -> true), 4))
    for ((name, df, keys, order, k) <- inputs; valve <- Seq(false, true)) {
      if (valve) spark.conf.set("spark.graft.topk.maxKeysInFlight", "2")
      try {
        for (in <- Seq(df, df.repartition(3))) {
          val (viaOp, viaWin) = opAndWindow(in, keys, order, k)
          assert(viaOp.nonEmpty && viaOp == viaWin, s"$name, valve=$valve")
        }
      } finally spark.conf.unset("spark.graft.topk.maxKeysInFlight")
    }
    // the pinned boundary rows, beside the generic equality
    val (dbl, _) = opAndWindow(doubles, Seq("g"), Seq("v" -> false, "id" -> true), 3)
    assert(dbl.contains("[a,-0.0,3]") && !dbl.contains("[a,0.0,4]"), dbl)
    val (u, _) = opAndWindow(utf8, Seq("g"), Seq("h" -> true, "id" -> true), 10)
    assert(u.exists(_.endsWith(",2000]")) && !u.exists(_.endsWith(",0]")), u)
    val (t, _) = opAndWindow(tied, Seq("g"), Seq("h" -> true, "id" -> true), 4)
    assert(t == Seq(0, 1, 2, 3).map(i => s"[g,same-key,$i]"), t)
  }

  test("plan lowers to a partial/final pair around exactly one exchange") {
    val plan = TopKPerKey.topKPerKey(events, Seq(col("event_type")),
      Seq((col("c"), false), (col("event_id"), true)), 3)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("TopKPerKeyPartial"), plan)
    assert(plan.contains("TopKPerKeyFinal"), plan)
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 1, s"expected exactly 1 exchange:\n$plan")
    assert(!plan.contains("Window"), plan) // the whole point
  }

  test("k >= group size passes every row through") {
    val small = events.limit(40).localCheckpoint(true)
    val out = TopKPerKey.topKPerKey(small, Seq(col("event_type")),
      Seq((col("c"), true), (col("event_id"), true)), 1000000)
    assert(out.count() == small.count())
  }

  test("the partial flush valve degrades to shuffle volume, never to wrong rows") {
    // force a pathologically tiny cap: every other input row flushes the
    // partial state — output must still be cell-exact
    spark.conf.set("spark.graft.topk.maxKeysInFlight", "2")
    try {
      val viaOp = TopKPerKey.topKPerKey(events, Seq(col("user_id")),
        Seq((col("c"), false), (col("event_id"), true)), 2)
        .collect().map(_.toString).sorted
      val w = Window.partitionBy("user_id").orderBy(col("c").desc, col("event_id").asc)
      val viaWin = events.withColumn("__rk", row_number().over(w))
        .filter(col("__rk") <= 2).drop("__rk")
        .collect().map(_.toString).sorted
      assert(viaOp.toSeq == viaWin.toSeq)
    } finally spark.conf.unset("spark.graft.topk.maxKeysInFlight")
  }

  test("the BYTE valve flushes under a tiny byte cap, rows still cell-exact") {
    // second valve axis (r11 ADVICE): cap retained bytes, not keys — a
    // few hundred bytes forces a flush every handful of rows
    spark.conf.set("spark.graft.topk.maxBytesInFlight", "512")
    try {
      val viaOp = TopKPerKey.topKPerKey(events, Seq(col("user_id")),
        Seq((col("c"), false), (col("event_id"), true)), 2)
        .collect().map(_.toString).sorted
      val w = Window.partitionBy("user_id").orderBy(col("c").desc, col("event_id").asc)
      val viaWin = events.withColumn("__rk", row_number().over(w))
        .filter(col("__rk") <= 2).drop("__rk")
        .collect().map(_.toString).sorted
      assert(viaOp.toSeq == viaWin.toSeq)
    } finally spark.conf.unset("spark.graft.topk.maxBytesInFlight")
  }

  test("the final phase is a sorted streaming take — Sort below Final, not a hash map") {
    val plan = TopKPerKey.topKPerKey(events, Seq(col("event_type")),
      Seq((col("c"), false), (col("event_id"), true)), 3)
      .queryExecution.executedPlan.toString()
    // EnsureRequirements satisfies the final's requiredChildOrdering with
    // a sort of the already k-pruned stream
    assert(plan.contains("Sort"), plan)
    assert(plan.indexOf("TopKPerKeyFinal") < plan.indexOf("Sort"), plan)
    assert(plan.indexOf("Sort") < plan.indexOf("TopKPerKeyPartial"), plan)
  }

  // coarse bucket => plenty of exact ties, the rank modes' whole point
  private def bucketed = events.withColumn("b", expr("c div 50").cast("long"))

  test("RankMode == window rank() form, boundary ties all emitted") {
    val viaOp = TopKPerKey.topKPerKey(bucketed, Seq(col("event_type")),
      Seq((col("b"), false)), 3, RankMode)
      .collect().map(_.toString).sorted
    val w = Window.partitionBy("event_type").orderBy(col("b").desc)
    val viaWin = bucketed.withColumn("__rk", rank().over(w))
      .filter(col("__rk") <= 3).drop("__rk")
      .collect().map(_.toString).sorted
    assert(viaOp.nonEmpty && viaOp.toSeq == viaWin.toSeq)
  }

  test("DenseRankMode == window dense_rank() form") {
    val viaOp = TopKPerKey.topKPerKey(bucketed, Seq(col("event_type")),
      Seq((col("b"), true)), 2, DenseRankMode)
      .collect().map(_.toString).sorted
    val w = Window.partitionBy("event_type").orderBy(col("b").asc)
    val viaWin = bucketed.withColumn("__rk", dense_rank().over(w))
      .filter(col("__rk") <= 2).drop("__rk")
      .collect().map(_.toString).sorted
    assert(viaOp.nonEmpty && viaOp.toSeq == viaWin.toSeq)
  }

  test("rank modes stay cell-exact under a forced flush valve") {
    spark.conf.set("spark.graft.topk.maxKeysInFlight", "2")
    try {
      for (
        (m, wf) <- Seq[(TopKMode, org.apache.spark.sql.Column)](
          (RankMode, rank().over(Window.partitionBy("user_id").orderBy(col("b").desc))),
          (DenseRankMode, dense_rank().over(Window.partitionBy("user_id").orderBy(col("b").desc))))
      ) {
        val viaOp = TopKPerKey.topKPerKey(bucketed, Seq(col("user_id")),
          Seq((col("b"), false)), 2, m)
          .collect().map(_.toString).sorted
        val viaWin = bucketed.withColumn("__rk", wf)
          .filter(col("__rk") <= 2).drop("__rk")
          .collect().map(_.toString).sorted
        assert(viaOp.toSeq == viaWin.toSeq, s"mode $m")
      }
    } finally spark.conf.unset("spark.graft.topk.maxKeysInFlight")
  }

  test("multi-column keys and ascending order work") {
    val keyed = events.withColumn("b", col("event_id") % 7)
    val viaOp = TopKPerKey.topKPerKey(keyed, Seq(col("event_type"), col("b")),
      Seq((col("c"), true), (col("event_id"), true)), 2)
      .collect().map(_.toString).sorted
    val w = Window.partitionBy("event_type", "b")
      .orderBy(col("c").asc, col("event_id").asc)
    val viaWin = keyed.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= 2).drop("__rk")
      .collect().map(_.toString).sorted
    assert(viaOp.toSeq == viaWin.toSeq)
  }

  test("the valve confs reject non-numeric and non-positive values by key") {
    for (key <- Seq("spark.graft.topk.maxKeysInFlight", "spark.graft.topk.maxBytesInFlight");
         bad <- Seq("1e6", "lots", "0", "-5")) {
      spark.conf.set(key, bad)
      try {
        val e = intercept[Exception] {
          TopKPerKey.topKPerKey(events, Seq(col("event_type")),
            Seq((col("c"), false), (col("event_id"), true)), 3).collect()
        }
        def messages(t: Throwable): Seq[String] =
          Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
        assert(messages(e).exists(m => m.contains(key) && m.contains(s"'$bad'")),
          s"$key=$bad: $e")
      } finally spark.conf.unset(key)
    }
  }
}
