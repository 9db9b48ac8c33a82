package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keyed time-series repair and rolling aggregation.
  *
  * Both ops are declarative window/join plans — Catalyst sees every
  * predicate and partition key, so pushdown and AQE behave exactly as they
  * do for hand-written queries. Nothing here touches the driver.
  */
object TimeSeries {

  /** Densify a keyed fixed-step series and forward-fill the gaps.
    *
    * Input: one row per (key, bucket) with a value column (an already
    * aggregated series — e.g. hourly averages). Output: one row per (key,
    * bucket) for EVERY step between that key's first and last bucket, with
    *  - `valueCol` forward-filled from the most recent non-null bucket,
    *  - `was_gap` true on rows the spine invented.
    *
    * Shape at scale: the min/max spine is a partial-aggregated groupBy on
    * the key (output = one row per key); the explode is map-side; the left
    * join and the fill window both hash by key, and AQE coalesces the
    * (usually tiny) spine side. Per-key state never materializes more than
    * the key's own bucket range, so skew equals the longest time range,
    * not the densest series.
    */
  def gapFillForwardFill(
      series: DataFrame,
      keyCol: String,
      bucketCol: String,
      valueCol: String,
      step: String = "INTERVAL 1 HOUR"): DataFrame = {
    val spine = series
      .groupBy(col(keyCol))
      .agg(min(col(bucketCol)).as("__lo"), max(col(bucketCol)).as("__hi"))
      .select(col(keyCol),
        explode(sequence(col("__lo"), col("__hi"), expr(step))).as(bucketCol))
    val w = Window.partitionBy(keyCol).orderBy(bucketCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine
      .join(series, Seq(keyCol, bucketCol), "left")
      .withColumn("was_gap", col(valueCol).isNull)
      .withColumn(valueCol, last(col(valueCol), ignoreNulls = true).over(w))
  }

  /** Rolling sum/count over a trailing TIME window (RANGE frame on a long
    * epoch column), per key: `win_sum` / `win_n` of `exact` over
    * [order - lookback, order].
    *
    * `exact` should be an exact integer representation (e.g. cents) so the
    * rolling sums are order-independent; the caller owns the final
    * double conversion. RANGE frames include peers — rows tied on the
    * order column always share a frame, so results are deterministic even
    * with duplicate timestamps. One hash exchange on the key.
    */
  def rollingSumCount(
      df: DataFrame,
      keyCol: String,
      orderCol: String,
      exact: Column,
      lookback: Long): DataFrame = {
    require(lookback > 0, s"lookback must be positive: $lookback")
    val w = Window.partitionBy(keyCol).orderBy(col(orderCol))
      .rangeBetween(-lookback, Window.currentRow)
    // both frames in ONE projection: chained withColumns leave two Window
    // nodes in the plan (CollapseWindow can't see through the interleaved
    // Projects) — same answer, one extra pass over every sorted partition
    df.select(df.columns.toSeq.map(col) :+
      sum(exact).over(w).as("win_sum") :+
      count(exact).over(w).as("win_n"): _*)
  }
}
