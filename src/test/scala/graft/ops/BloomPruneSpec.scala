package graft.ops

import graft.GraftSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class BloomPruneSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  import spark.implicits._

  test("sketch membership has no false negatives") {
    val keys = (0L until 1000L).map(_ * 7)
    val dim = keys.toDF("k")
    val bytes = BloomPrune.sketch(dim, col("k")).get
    val probe = spark.range(0, 7000)
      .filter(BloomPrune.bloomContains(lit(bytes), col("id"), Some(spark)))
      .select("id").as[Long].collect().toSet
    // every true member passes the probe (bloom guarantees no false negatives)
    assert(keys.toSet.subsetOf(probe))
  }

  test("definitely-absent verdicts are true negatives") {
    val dim = (0L until 100L).toDF("k")
    val bytes = BloomPrune.sketch(dim, col("k")).get
    val rejected = spark.range(0, 10000)
      .filter(!BloomPrune.bloomContains(lit(bytes), col("id"), Some(spark)))
      .select("id").as[Long].collect()
    // anything the bloom rejects must genuinely be outside the key set
    assert(rejected.nonEmpty && rejected.forall(_ >= 100L))
  }

  test("prunedSemiJoin is exact: equals the plain semi join") {
    val fact = (0L until 5000L).map(i => (i, i % 97)).toDF("row_id", "fk")
    val dim = Seq(3L, 11L, 42L, 96L, 500L).toDF("pk")
    val pruned = BloomPrune.prunedSemiJoin(fact, "fk", dim, "pk")
      .orderBy("row_id").collect()
    val plain = fact.join(dim, col("fk") === col("pk"), "left_semi")
      .orderBy("row_id").collect()
    assert(pruned.toSeq == plain.toSeq)
  }

  test("prunedSemiJoin handles string keys (hashed, not cast-to-null)") {
    val fact = (0 until 1000).map(i => (i.toLong, s"key_${i % 37}")).toDF("row_id", "fk")
    val dim = Seq("key_3", "key_11", "key_36").toDF("pk")
    val pruned = BloomPrune.prunedSemiJoin(fact, "fk", dim, "pk")
      .orderBy("row_id").collect()
    val plain = fact.join(dim, col("fk") === col("pk"), "left_semi")
      .orderBy("row_id").collect()
    assert(pruned.toSeq == plain.toSeq && pruned.nonEmpty)
  }

  test("prunedSemiJoin with an empty dim returns empty, not a crash") {
    val fact = (0L until 100L).map(i => (i, i % 7)).toDF("row_id", "fk")
    val dim = Seq.empty[Long].toDF("pk")
    assert(BloomPrune.prunedSemiJoin(fact, "fk", dim, "pk").count() == 0L)
  }

  test("SQL surface: bloom_agg in a scalar subquery feeds bloom_contains") {
    (0L until 200L).map(i => (i, i % 10)).toDF("id", "fk")
      .createOrReplaceTempView("bloom_fact")
    Seq(2L, 5L).toDF("pk").createOrReplaceTempView("bloom_dim")
    // register both functions on this session (the probe call is built but
    // never executed — registration is its side effect)
    BloomPrune.bloomAgg(lit(0L), session = Some(spark))
    BloomPrune.bloomContains(lit(Array[Byte](0)), lit(0L), Some(spark))
    val n = spark.sql(
      s"""SELECT count(*) AS n FROM bloom_fact
          WHERE bloom_contains(
                  (SELECT bloom_agg_${BloomPrune.DefaultExpectedItems}(pk)
                   FROM bloom_dim),
                  fk)
            AND fk IN (SELECT pk FROM bloom_dim)""").head().getLong(0)
    assert(n == 40L)
  }
}
