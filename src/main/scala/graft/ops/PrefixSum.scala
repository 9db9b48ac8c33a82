package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed EXCLUSIVE prefix sum — the running-total primitive under
  * [[WeightedSample]] (cumulative-weight intervals), token-budget corpus
  * cuts (q164), and [[Pack]]-style offset assignment. A naive
  * `sum() OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING)` has an empty
  * PARTITION BY — the same single-reducer funnel [[Ranking]] exists to
  * avoid — so this is the identical two-phase shape: range-partition on
  * the sort key (partition order = sort order), local window cumsum per
  * bucket, then add per-bucket base offsets from an O(numPartitions)
  * driver aggregate.
  *
  * `sortCols` must be a TOTAL order for a deterministic result (same
  * contract as Ranking: ties never straddle range partitions, but
  * within-bucket tie order would be nondeterministic).
  */
object PrefixSum {

  /** Exclusive prefix sum of `valueCol` (cast to long) over the global
    * `sortCols` order, plus the grand total: first row gets 0, each next
    * row the sum of all STRICTLY EARLIER rows. Output: input columns +
    * `out` (long); the returned frame is placement-pinned
    * ([[Ranking.pin]]) so downstream passes see consistent buckets.
    */
  def exclusiveWithTotal(df: DataFrame, sortCols: Seq[Column],
      valueCol: Column, out: String = "cum",
      numPartitions: Int = 0): (DataFrame, Long) = {
    val spark = df.sparkSession
    val n = Ranking.width(df, numPartitions)
    val parted = Ranking.pin(
      df.withColumn("__v", valueCol.cast("long"))
        .repartitionByRange(n, sortCols: _*)
        .withColumn("__bucket", spark_partition_id()),
      durable = false)
    val bucketSums = parted.groupBy("__bucket")
      .agg(sum(col("__v")).as("__s")).collect()
      .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val bases = bucketSums.scanLeft((0, 0L)) {
      case ((_, acc), (b, s)) => (b, acc + s)
    }
    val offsets = bucketSums.map(_._1).zip(bases.map(_._2))
    val total = bucketSums.map(_._2).sum
    val basesDf = spark.createDataFrame(offsets.toSeq).toDF("__bucket", "__base")
    val localCum = sum(col("__v")).over(
      Window.partitionBy("__bucket").orderBy(sortCols: _*)
        .rowsBetween(Window.unboundedPreceding, -1))
    val result = parted.join(broadcast(basesDf), Seq("__bucket"))
      .withColumn(out, coalesce(localCum, lit(0L)) + col("__base"))
      .drop("__bucket", "__base", "__v")
    (result, total)
  }

  /** [[exclusiveWithTotal]] without the total. */
  def exclusive(df: DataFrame, sortCols: Seq[Column], valueCol: Column,
      out: String = "cum", numPartitions: Int = 0): DataFrame =
    exclusiveWithTotal(df, sortCols, valueCol, out, numPartitions)._1

  /** PER-GROUP exclusive prefix sum for FEW, FAT groups. The obvious
    * `sum() OVER (PARTITION BY group ORDER BY ...)` hashes by the group
    * key alone: with a handful of groups (event types, shards, splits)
    * that is a handful of reducers each sorting its group's ENTIRE data
    * — the same funnel [[Ranking]] kills for the global case, just
    * g-way. Here the range partitioner keys on (group, sort), so one
    * group SPANS many partitions; per-(group, bucket) sums roll into
    * per-group exclusive bases on the driver (O(groups x buckets) longs
    * — small exactly when groups are few), and the local window
    * partitions by (group, bucket).
    *
    * Output: input columns + `out` (long). For HIGH-cardinality groups
    * use the plain grouped window instead — many groups already
    * parallelize it, and this variant's driver aggregate would grow
    * with the group count.
    */
  def exclusivePerGroup(df: DataFrame, groupCols: Seq[Column],
      sortCols: Seq[Column], valueCol: Column, out: String = "cum",
      numPartitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val n = Ranking.width(df, numPartitions)
    val parted = Ranking.pin(
      df.withColumn("__v", valueCol.cast("long"))
        .repartitionByRange(n, (groupCols ++ sortCols): _*)
        .withColumn("__bucket", spark_partition_id()),
      durable = false)
    val gk = struct(groupCols: _*)
    val sums = parted.groupBy(gk.as("__g"), col("__bucket"))
      .agg(sum(col("__v")).as("__s")).collect()
    // per-group running offsets over bucket order (a group's buckets
    // are contiguous under the range partitioner, but contiguity is not
    // even needed — bucket order IS sort order within the group)
    val bases: Map[(Any, Int), Long] = sums
      .map(r => (r.get(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1)
      .flatMap { case (g, rows) =>
        val sorted = rows.sortBy(_._2)
        sorted.map(_._2).zip(
          sorted.scanLeft(0L)(_ + _._3).dropRight(1))
          .map { case (b, base) => (g, b) -> base }
      }
    val basesDf = spark.createDataFrame(
        bases.toSeq.map { case ((g, b), base) => org.apache.spark.sql.Row(g, b, base) }.asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("__g",
            parted.select(gk).schema.head.dataType),
          org.apache.spark.sql.types.StructField("__bucket",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("__base",
            org.apache.spark.sql.types.LongType))))
    val localCum = sum(col("__v")).over(
      Window.partitionBy(col("__bucket") +: groupCols: _*)
        .orderBy(sortCols: _*)
        .rowsBetween(Window.unboundedPreceding, -1))
    parted.withColumn("__g", gk)
      .join(broadcast(basesDf), Seq("__g", "__bucket"))
      .withColumn(out, coalesce(localCum, lit(0L)) + col("__base"))
      .drop("__g", "__bucket", "__base", "__v")
  }

  private implicit class SeqAsJava[A](s: Seq[A]) {
    def asJava: java.util.List[A] = {
      val l = new java.util.ArrayList[A](s.size)
      s.foreach(l.add); l
    }
  }
}
