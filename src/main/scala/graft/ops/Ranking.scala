package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed global ranking. A bare `row_number() OVER (ORDER BY ...)`
  * or `ntile(b) OVER (ORDER BY ...)` has an empty PARTITION BY, so Spark
  * funnels EVERY row through one reducer — the canonical single-partition
  * window bottleneck, instant death at 100 TB.
  *
  * This is the two-phase scan instead (same pattern as [[Pack]]):
  * range-partition on the sort key so partition order equals sort order,
  * rank locally per partition (parallel), then add per-partition base
  * offsets computed from a tiny per-partition count aggregate (driver
  * holds O(numPartitions) longs — bounded, like IVF's centroids).
  *
  * Equal sort keys always land in the same range partition (the
  * partitioner is a pure function of the key), so local ranking never
  * splits a tie group across workers; still, pass a TOTAL order (include a
  * unique tiebreak column) for deterministic output.
  */
object Ranking {

  /** The range-partition width of the ops' passes: `numPartitions` when
    * positive, else the session's shuffle width (read from the parsed
    * conf, as q306's `shjSafe` does).
    */
  private[ops] def width(df: DataFrame, numPartitions: Int): Int =
    if (numPartitions > 0) numPartitions
    else df.sparkSession.sessionState.conf.numShufflePartitions

  /** Turn per-bucket measures (row counts, distinct-key counts, ...) into
    * exclusive running bases, broadcast them back, and return the joined
    * frame + the measure total. Driver holds O(numPartitions) longs.
    */
  private def joinBases(parted: DataFrame,
      counts: Array[(Int, Long)]): (DataFrame, Long) = {
    val sorted = counts.sortBy(_._1)
    val bases = sorted.scanLeft((0, 0L)) {
      case ((_, acc), (bucket, c)) => (bucket, acc + c)
    }
    val baseOffsets = sorted.map(_._1).zip(bases.map(_._2))
    val basesDf = parted.sparkSession.createDataFrame(baseOffsets.toSeq)
      .toDF("__bucket", "__base")
    val total = sorted.map(_._2).sum
    (parted.join(broadcast(basesDf), Seq("__bucket")), total)
  }

  /** Range-partitioned frame + per-partition ROW-count base offsets +
    * total row count — the machinery for row_number/ntile/rank and the
    * frame-count ops (cume_dist).
    */
  private def withBases(df: DataFrame, sortCols: Seq[Column],
      numPartitions: Int): (DataFrame, Long) = {
    // pin placement: the measure pass and the rank pass must see rows in
    // identical partitions, and re-executing `repartitionByRange` could
    // re-sample its boundaries
    val parted = df.repartitionByRange(width(df, numPartitions), sortCols: _*)
      .withColumn("__bucket", spark_partition_id())
      .localCheckpoint()
    val counts = parted.groupBy("__bucket")
      .agg(count(lit(1)).as("__n")).collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    joinBases(parted, counts)
  }

  /** Exact global `row_number` (1-based, long) over `sortCols`, fully
    * parallel. Output: input columns + `out`.
    */
  def globalRowNumber(df: DataFrame, sortCols: Seq[Column],
      out: String = "rn", numPartitions: Int = 0): DataFrame =
    globalRowNumberWithTotal(df, sortCols, out, numPartitions)._1

  /** [[globalRowNumber]] plus the TOTAL row count, which the two-phase
    * scan computes anyway (sum of the per-bucket measures) — callers
    * needing n for a rank position (k-th element, percentile rank cuts)
    * would otherwise pay a separate full scan for `df.count()`.
    */
  def globalRowNumberWithTotal(df: DataFrame, sortCols: Seq[Column],
      out: String = "rn", numPartitions: Int = 0): (DataFrame, Long) = {
    val w = Window.partitionBy("__bucket").orderBy(sortCols: _*)
    val (based, total) = withBases(df, sortCols, numPartitions)
    (based
      .withColumn(out, col("__base") + row_number().over(w).cast("long"))
      .drop("__bucket", "__base"), total)
  }

  /** Exact `ntile(buckets)` with SQL window semantics — n rows split into
    * `buckets` groups, the first n mod buckets groups one row larger —
    * without the single-reducer window. Output: input columns + `out`
    * (long, 1-based).
    */
  def ntileExact(df: DataFrame, buckets: Int, sortCols: Seq[Column],
      out: String = "bucket", numPartitions: Int = 0): DataFrame = {
    require(buckets > 0, s"buckets must be positive: $buckets")
    val w = Window.partitionBy("__bucket").orderBy(sortCols: _*)
    val (based, total) = withBases(df, sortCols, numPartitions)
    // SQL ntile: with q = n div b, r = n mod b, the first r buckets have
    // q+1 rows. Rows 1..r*(q+1) map by div(q+1); the rest by div(q) after
    // shifting past the large buckets.
    val q = total / buckets
    val r = total % buckets
    val cut = r * (q + 1)
    val rn = col("__base") + row_number().over(w).cast("long")
    val tile =
      if (q == 0) rn // fewer rows than buckets: row i → bucket i
      else when(rn <= cut, (rn - 1) / (q + 1) + 1)
             .otherwise(lit(r) + (rn - cut - 1) / q + 1)
    based
      .withColumn(out, tile.cast("long"))
      .drop("__bucket", "__base")
  }

  /** Exact global `cume_dist` over `keyCols` — peer-inclusive count of
    * rows with key <= current key, divided by n; 1.0 for the last peer
    * group — without the single-reducer window. The local window keeps
    * Spark's DEFAULT frame (RANGE UNBOUNDED PRECEDING..CURRENT ROW),
    * which is peer-inclusive, so `base + count over frame` is the global
    * peer-inclusive count: equal keys never straddle range partitions
    * and every earlier partition holds strictly smaller keys.
    * Output: input columns + `out` (double).
    */
  def cumeDistExact(df: DataFrame, keyCols: Seq[Column],
      out: String = "cume_dist", numPartitions: Int = 0): DataFrame = {
    val w = Window.partitionBy("__bucket").orderBy(keyCols: _*)
    val (based, total) = withBases(df, keyCols, numPartitions)
    val cnt = col("__base") + count(lit(1)).over(w)
    val cd =
      if (total == 0L) lit(0.0) // no rows survive anyway
      else cnt.cast("double") / lit(total.toDouble)
    based
      .withColumn(out, cd)
      .drop("__bucket", "__base")
  }

  /** Exact global `rank` AND `dense_rank` from ONE range-partitioned
    * pass: one shuffle, one local window sort, one pinned frame. The
    * local rank/dense_rank ladders are computed first and checkpointed;
    * the per-bucket base measures then fall out of ONE bounded
    * aggregate over the pinned ladder — rank's base is the bucket row
    * count, dense_rank's base is `max(local dense_rank)` (= the
    * bucket's distinct-key count, no separate distinct pass needed).
    * Ties never straddle range partitions, so earlier buckets hold only
    * strictly smaller keys and `base + local ladder` is the global
    * ladder for both functions. Driver holds O(numPartitions) longs.
    * Output: input columns + `rankOut` + `denseOut` (long, 1-based).
    */
  def rankAndDenseRank(df: DataFrame, keyCols: Seq[Column],
      rankOut: String = "rnk", denseOut: String = "drnk",
      numPartitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    // pin AFTER the window (unlike withBases, which pins before it):
    // both the base pass and the final projection read the ladder, so
    // checkpointing the laddered frame makes the window sort run exactly
    // once and keeps the two passes placement-consistent
    val laddered = ladderPlan(df, keyCols, numPartitions).localCheckpoint()
    val measures = laddered.groupBy("__bucket")
      .agg(count(lit(1)).as("__n"), max(col("__ld")).as("__d")).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    var rAcc = 0L; var dAcc = 0L
    val bases = measures.map { case (b, rows, keys) =>
      val base = (b, rAcc, dAcc); rAcc += rows; dAcc += keys; base
    }
    val basesDf = spark.createDataFrame(bases.toSeq)
      .toDF("__bucket", "__rbase", "__dbase")
    laddered.join(broadcast(basesDf), Seq("__bucket"))
      .withColumn(rankOut, col("__rbase") + col("__lr"))
      .withColumn(denseOut, col("__dbase") + col("__ld"))
      .drop("__bucket", "__lr", "__ld", "__rbase", "__dbase")
  }

  /** The pre-checkpoint ladder plan (range partition + per-bucket
    * rank/dense_rank window). Exposed `private[ops]` because the eager
    * checkpoint in [[rankAndDenseRank]] hides this — the stage whose
    * shape decides 100 TB survival — from the final frame's explain;
    * RankingSpec asserts the no-single-reducer property on it directly.
    */
  private[ops] def ladderPlan(df: DataFrame, keyCols: Seq[Column],
      numPartitions: Int): DataFrame = {
    val w = Window.partitionBy("__bucket").orderBy(keyCols: _*)
    df.repartitionByRange(width(df, numPartitions), keyCols: _*)
      .withColumn("__bucket", spark_partition_id())
      .withColumn("__lr", rank().over(w).cast("long"))
      .withColumn("__ld", dense_rank().over(w).cast("long"))
  }

  /** Exact global `percent_rank` over `keyCols` — RANK semantics (tied
    * keys share a rank), (rank - 1) / (n - 1), 0.0 for a single row —
    * without the single-reducer window. Correctness of the split rank:
    * equal keys always land in the same range partition, so a tie group
    * never straddles workers and local `rank() + base` IS the global
    * rank. Output: input columns + `out` (double).
    */
  def percentRankExact(df: DataFrame, keyCols: Seq[Column],
      out: String = "pct_rank", numPartitions: Int = 0): DataFrame = {
    val w = Window.partitionBy("__bucket").orderBy(keyCols: _*)
    val (based, total) = withBases(df, keyCols, numPartitions)
    val globalRank = col("__base") + rank().over(w).cast("long")
    val pct =
      if (total <= 1L) lit(0.0)
      else (globalRank - 1L).cast("double") / lit((total - 1L).toDouble)
    based
      .withColumn(out, pct)
      .drop("__bucket", "__base")
  }
}
