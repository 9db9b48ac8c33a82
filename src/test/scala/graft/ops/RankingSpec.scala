package graft.ops

import graft.GraftSpark
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class RankingSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  import spark.implicits._

  // scores with heavy ties (mod 7) force tie groups to be ranked
  // consistently; the doc id tiebreak makes the order total
  private def corpus(n: Int) = {
    val rnd = new scala.util.Random(7)
    (1 to n).map(i => (i.toLong, rnd.nextInt(7).toDouble)).toDF("id", "score")
  }

  test("globalRowNumber equals the single-partition window row_number") {
    val df = corpus(1000)
    val twoPhase = Ranking
      .globalRowNumber(df, Seq(col("score").desc, col("id").asc), numPartitions = 7)
      .select("id", "rn").as[(Long, Long)].collect().toMap
    val window = df
      .withColumn("rn", row_number()
        .over(Window.orderBy(col("score").desc, col("id").asc)).cast("long"))
      .select("id", "rn").as[(Long, Long)].collect().toMap
    assert(twoPhase == window)
  }

  test("ntileExact equals the window ntile when n divides evenly") {
    val df = corpus(992) // 992 = 8 * 124
    assertNtileMatches(df, 8)
  }

  test("ntileExact equals the window ntile with a remainder") {
    val df = corpus(997) // 997 mod 8 = 5 → first 5 buckets one larger
    assertNtileMatches(df, 8)
  }

  test("ntileExact with fewer rows than buckets: one row per bucket") {
    val df = corpus(5)
    assertNtileMatches(df, 8)
  }

  test("cumeDistExact equals the global window cume_dist, ties included") {
    // no id tiebreak on purpose: peer groups of ~143 rows each exercise
    // the peer-inclusive frame across partition boundaries
    val df = corpus(1000)
    val twoPhase = Ranking
      .cumeDistExact(df, Seq(col("score").desc), numPartitions = 7)
      .select("id", "cume_dist").as[(Long, Double)].collect().toMap
    val window = df
      .withColumn("cume_dist", cume_dist()
        .over(Window.orderBy(col("score").desc)))
      .select("id", "cume_dist").as[(Long, Double)].collect().toMap
    assert(twoPhase == window)
  }

  test("cumeDistExact of a single row is 1.0") {
    val df = Seq((1L, 9.0)).toDF("id", "v")
    val out = Ranking.cumeDistExact(df, Seq(col("v").asc))
      .select("cume_dist").as[Double].collect()
    assert(out.toSeq == Seq(1.0))
  }

  // the global rank and dense rank are the rnk / drnk columns of
  // rankAndDenseRank; the two tests below pin each on its hard input
  test("globalRankExact equals the global window rank, tie groups intact") {
    // no id tiebreak: tie groups of ~143 rows each must share ONE rank
    // and leave the RANK gap after themselves, across bucket boundaries
    val df = corpus(1000)
    val twoPhase = Ranking
      .rankAndDenseRank(df, Seq(col("score").desc), numPartitions = 7)
      .select("id", "rnk").as[(Long, Long)].collect().toMap
    val window = df
      .withColumn("rnk", rank().over(Window.orderBy(col("score").desc)).cast("long"))
      .select("id", "rnk").as[(Long, Long)].collect().toMap
    assert(twoPhase == window)
  }

  test("rankAndDenseRank equals the global window rank + dense_rank") {
    val df = corpus(1000)
    val twoPhase = Ranking
      .rankAndDenseRank(df, Seq(col("score").asc), numPartitions = 7)
      .select("id", "rnk", "drnk").as[(Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    val w = Window.orderBy(col("score").asc)
    val window = df
      .withColumn("rnk", rank().over(w).cast("long"))
      .withColumn("drnk", dense_rank().over(w).cast("long"))
      .select("id", "rnk", "drnk").as[(Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    assert(twoPhase == window)
  }

  test("denseRankExact: consecutive ranks, no gaps, null keys are one peer group") {
    val df = Seq((1L, Option(3.0)), (2L, Option(1.0)), (3L, None),
      (4L, Option(1.0)), (5L, None), (6L, Option(2.0)))
      .toDF("id", "score")
    val twoPhase = Ranking
      .rankAndDenseRank(df, Seq(col("score").asc), numPartitions = 3)
      .select("id", "drnk").as[(Long, Long)].collect().toMap
    val window = df
      .withColumn("drnk",
        dense_rank().over(Window.orderBy(col("score").asc)).cast("long"))
      .select("id", "drnk").as[(Long, Long)].collect().toMap
    assert(twoPhase == window)
    // dense ranks are the consecutive set 1..#distinct
    assert(twoPhase.values.toSet == Set(1L, 2L, 3L, 4L))
  }

  test("rank ladder plans per-bucket windows, never a single-reducer window") {
    // the stage the eager checkpoint hides from downstream explains:
    // assert the 100TB-deciding property (window partitioned by
    // __bucket, no SinglePartition exchange) on the pre-checkpoint plan
    val plan = Ranking.ladderPlan(corpus(100), Seq(col("score").asc), 4)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val single = plan.linesIterator.filter(_.contains("SinglePartition"))
      .filterNot(_.contains("Broadcast")).toList
    assert(single.isEmpty, s"single-partition exchange in ladder plan:\n$plan")
    assert(plan.contains("Window"), plan)
  }

  test("rank family matches the window oracle over random data (ties, nulls, partitions)") {
    // randomized contract check: random key distributions (heavy ties,
    // ~10% nulls), random partition counts — both ranks must equal the
    // single-partition window's on every row
    val rnd = new scala.util.Random(151)
    (1 to 5).foreach { trial =>
      val n = 50 + rnd.nextInt(400)
      val parts = 2 + rnd.nextInt(9)
      val keySpace = 1 + rnd.nextInt(12)
      val df = (1 to n).map { i =>
        (i.toLong, if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(keySpace).toDouble))
      }.toDF("id", "score")
      val twoPhase = Ranking
        .rankAndDenseRank(df, Seq(col("score").asc), numPartitions = parts)
        .select("id", "rnk", "drnk").as[(Long, Long, Long)].collect()
        .map(t => t._1 -> ((t._2, t._3))).toMap
      val w = Window.orderBy(col("score").asc)
      val window = df
        .withColumn("rnk", rank().over(w).cast("long"))
        .withColumn("drnk", dense_rank().over(w).cast("long"))
        .select("id", "rnk", "drnk").as[(Long, Long, Long)].collect()
        .map(t => t._1 -> ((t._2, t._3))).toMap
      assert(twoPhase == window,
        s"trial $trial (n=$n parts=$parts keys=$keySpace) diverged")
    }
  }

  test("rank family on a single-value key: all rank 1, dense_rank 1") {
    val df = (1L to 20L).map(i => (i, 42.0)).toDF("id", "score")
    val out = Ranking.rankAndDenseRank(df, Seq(col("score").asc), numPartitions = 4)
      .select("rnk", "drnk").as[(Long, Long)].collect()
    assert(out.forall(_ == ((1L, 1L))))
  }

  private def assertNtileMatches(df: org.apache.spark.sql.DataFrame, b: Int): Unit = {
    val twoPhase = Ranking
      .ntileExact(df, b, Seq(col("score").desc, col("id").asc), numPartitions = 7)
      .select("id", "bucket").as[(Long, Long)].collect().toMap
    val window = df
      .withColumn("bucket", ntile(b)
        .over(Window.orderBy(col("score").desc, col("id").asc)).cast("long"))
      .select("id", "bucket").as[(Long, Long)].collect().toMap
    assert(twoPhase == window)
  }
}
