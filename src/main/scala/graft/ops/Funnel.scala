package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Sequential conversion funnel — the product-analytics staple over an
  * event stream: how many users reached step 1, then step 2 AT OR AFTER
  * their step-1 time (optionally within a max span), then step 3 after
  * that, and so on.
  *
  * Each step is one user-keyed aggregation (earliest qualifying event
  * time) feeding a user-keyed join with the next step's events — k steps
  * = k aggregations + k-1 equi-joins, all hashed on the user id, nothing
  * on the driver. The per-user state is ONE timestamp per step (the
  * earliest-reach frontier), which is exactly what a streaming
  * re-formulation would keep in its state store.
  */
object Funnel {

  /** Per-step reach counts: (step 1-based long, event_type, n_users).
    *
    * A user counts for step i if they have a step-i event at-or-after
    * their EARLIEST step-(i-1) reach time (and within `maxSpan` of it,
    * when given — e.g. "INTERVAL 7 DAYS"). Earliest-reach is the standard
    * greedy frontier: it maximizes the time remaining for later steps
    * under a span cap.
    */
  /** One frame per step: (user, __t = earliest reach time) — the shared
    * frontier recursion behind both public forms.
    */
  private def reachFrontiers(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      typeCol: String,
      steps: Seq[String],
      maxSpan: Option[String]): Seq[DataFrame] = {
    require(steps.nonEmpty, "funnel with zero steps")
    require(steps.distinct.size == steps.size, s"duplicate step in $steps")
    def earliest(df: DataFrame): DataFrame =
      df.groupBy(col(userCol)).agg(min(col(tsCol)).as("__t"))
    val first = earliest(events.filter(col(typeCol) === steps.head))
    steps.tail.scanLeft(first) { (prev, step) =>
      val candidates = events.filter(col(typeCol) === step)
        .join(prev.select(col(userCol), col("__t").as("__prev_t")), Seq(userCol))
        .filter(col(tsCol) >= col("__prev_t"))
      val capped = maxSpan match {
        case Some(span) => candidates.filter(col(tsCol) <= col("__prev_t") + expr(span))
        case None       => candidates
      }
      earliest(capped)
    }
  }

  def funnelSteps(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      typeCol: String,
      steps: Seq[String],
      maxSpan: Option[String] = None): DataFrame =
    reachFrontiers(events, userCol, tsCol, typeCol, steps, maxSpan)
      .zip(steps).zipWithIndex.map { case ((df, step), i) =>
        df.agg(count(lit(1)).as("n_users"))
          .select(lit(i + 1L).as("step"), lit(step).as("event_type"),
            col("n_users"))
      }.reduce(_.unionAll(_))

  /** Per-user step-reach times in wide format — (user, t_step1, ...,
    * t_stepK nullable) — for downstream time-to-convert analysis.
    */
  def funnelTimes(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      typeCol: String,
      steps: Seq[String],
      maxSpan: Option[String] = None): DataFrame =
    reachFrontiers(events, userCol, tsCol, typeCol, steps, maxSpan)
      .zip(steps).map { case (df, step) =>
        df.select(col(userCol), col("__t").as(s"t_$step"))
      }.reduce((a, b) => a.join(b, Seq(userCol), "left"))

  // ------------------------------------------------------------ streaming

  final case class FunnelIn(user_id: Long, ts: java.sql.Timestamp, event_type: String)

  /** Per-user earliest-reach times in epoch MICROS; None = step unreached.
    * This is exactly the per-user state a batch funnel recomputes from
    * scratch — one Option[Long] per step.
    */
  final case class FunnelFrontier(user_id: Long, reached: Seq[Option[Long]])

  private def micros(t: java.sql.Timestamp): Long =
    t.getTime / 1000 * 1000000L + t.getNanos / 1000

  /** Streaming funnel: `flatMapGroupsWithState` keeps ONE frontier row per
    * user (O(active users) state) and emits the updated frontier each
    * batch (Update mode — the sink sees monotone refinements; fold with
    * elementwise min downstream).
    *
    * Within a batch, events are folded in (timestamp, step-index) order;
    * every step-i admission rechecks `ts >= frontier(i-1)` (and the span
    * cap) at full precision, so the fold reproduces the batch recursion
    * exactly when arrival order is time-ordered across batches — the
    * standard streaming-funnel caveat: an event arriving in a LATER batch
    * than a chronologically-later event it should have preceded cannot
    * retroactively re-admit the other (bound that window with the source's
    * watermark, as any incremental funnel must).
    */
  def streamingFunnel(
      spark: SparkSession,
      events: DataFrame, // user_id, ts, event_type
      steps: Seq[String],
      maxSpanMicros: Option[Long] = None): Dataset[FunnelFrontier] = {
    import spark.implicits._
    require(steps.nonEmpty, "funnel with zero steps")
    require(steps.distinct.size == steps.size, s"duplicate step in $steps")
    val stepIdx: Map[String, Int] = steps.zipWithIndex.toMap

    def update(userId: Long, rows: Iterator[FunnelIn],
        state: GroupState[FunnelFrontier]): Iterator[FunnelFrontier] = {
      val times = state.getOption.map(_.reached.toArray)
        .getOrElse(Array.fill[Option[Long]](steps.size)(None))
      val batch = rows.toSeq
        .flatMap(r => stepIdx.get(r.event_type).map(i => (micros(r.ts), i)))
        // time order; step index breaks timestamp ties so an equal-time
        // step-(i-1) is visible to step i, as the batch >= admits it
        .sortBy(identity)
      batch.foreach { case (t, i) =>
        val prevOk =
          if (i == 0) true
          else times(i - 1).exists(prev =>
            t >= prev && maxSpanMicros.forall(span => t <= prev + span))
        if (prevOk && times(i).forall(t < _)) times(i) = Some(t)
      }
      val frontier = FunnelFrontier(userId, times.toSeq)
      state.update(frontier)
      Iterator.single(frontier)
    }

    events.as[FunnelIn]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(update)
  }
}
