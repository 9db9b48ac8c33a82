package graft.queries

import graft.GraftSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Dynamic partition pruning: joining a partitioned fact table to a
  * filtered dimension on the partition column must inject the dim's
  * surviving keys as a runtime partition filter on the fact scan — the
  * q126 plan property, asserted on a live staged table (the catalog
  * entry returns a checkpoint, so PlanSpec can't see inside it).
  */
class DppSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  import spark.implicits._

  test("partition-column join against a filtered dim plans dynamicpruning") {
    val base = java.nio.file.Files.createTempDirectory("graft-dpp-spec")
    try {
      // dim must match the INFERRED partition-column type exactly (ints
      // 0..19 infer as INT) — a cast on the fact-side join key defeats
      // DPP. It must also be a REAL scan: a filter over a local relation
      // constant-folds away, leaving no selective predicate for the
      // PartitionPruning rule to see.
      (0L until 2000L).map(i => (i, (i % 20).toInt)).toDF("id", "pday")
        .write.partitionBy("pday").parquet(s"$base/facts")
      (0 until 20).toDF("pday").write.parquet(s"$base/dim")
      val facts = spark.read.parquet(s"$base/facts")
      val dim = spark.read.parquet(s"$base/dim").filter($"pday" % 4 === 0)
      val joined = facts.join(broadcast(dim), Seq("pday"))
        .agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruning"),
        s"expected a dynamicpruning partition filter in:\n$plan")
      assert(joined.collect()(0).getLong(0) == 500L)
    } finally Catalog.deleteTree(base)
  }

  test("q126's staged events join plans dynamicpruning on the day partition") {
    val d = "/root/testdata/sf0.001"
    val base = java.nio.file.Files.createTempDirectory("graft-dpp-q126")
    try {
      graft.Tables.load(spark, d, "events")
        .withColumn("day_ms", expr("(unix_millis(ts) div 86400000) * 86400000"))
        .write.partitionBy("day_ms").parquet(s"$base/ev")
      val facts = spark.read.parquet(s"$base/ev")
      val dim = graft.Tables.load(spark, d, "events")
        .filter(expr("(unix_millis(ts) div 86400000) % 3 = 0"))
        .select(expr("(unix_millis(ts) div 86400000) * 86400000").as("day_ms"))
        .distinct()
      val joined = facts.join(broadcast(dim), Seq("day_ms"))
        .groupBy("event_type").agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruning"),
        s"q126 shape lost its runtime partition filter:\n$plan")
      assert(joined.count() > 0)
    } finally Catalog.deleteTree(base)
  }
}
