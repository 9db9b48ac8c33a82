package graft.streaming

import graft.pipeline.{Schemas, Transforms}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

/** Structured-Streaming upgrade path for the ingestion pipeline
  * (SURVEY §2.9). The reference has no streaming engine — hourly batches
  * land in the raw zone and are re-processed with within-batch dedup only,
  * so cross-run duplicates are possible by design. This module provides the
  * Spark-native continuous version of the same dataflow:
  *
  *  - file-source stream over the raw zone (NDJSON, declared schema);
  *  - event-time watermark + `dropDuplicates` for cross-batch dedup (the
  *    guarantee the batch reference can't give);
  *  - tumbling-window aggregation per location/parameter;
  *  - `foreachBatch` partitioned-parquet sink reusing the batch writer, so
  *    stream and batch output layouts are identical.
  *
  * At scale: state is bounded by the watermark horizon; keys are
  * (location_id, datetime) — uniformly distributed, no hot state.
  */
object StreamingIngest {

  /** Raw-zone file stream with the declared measurement schema. */
  def readRawStream(spark: SparkSession, inputPath: String): DataFrame =
    spark.readStream
      .schema(Schemas.rawMeasurement)
      .option("maxFilesPerTrigger", 64)
      .json(inputPath)

  /** Parse + cross-batch dedup: watermark on event time, then
    * `dropDuplicates` on the mart grain. Late data beyond the watermark is
    * dropped (the batch path instead re-lands it on the next run — both
    * behaviors documented; the horizon is the knob).
    */
  def dedupedStream(raw: DataFrame, watermark: String = "2 hours"): DataFrame =
    raw
      .transform(Transforms.parseDatetime)
      .transform(Transforms.dropInvalidDatetime)
      .withWatermark("datetime", watermark)
      .dropDuplicates("location_id", "datetime", "parameter")

  /** Tumbling-window per-location/parameter aggregate (mean value per
    * hour) — the streaming analogue of the pivot input grain.
    */
  def hourlyAggregates(deduped: DataFrame, watermark: String = "2 hours"): DataFrame =
    deduped
      .withWatermark("datetime", watermark)
      .groupBy(window(col("datetime"), "1 hour"), col("location_id"), col("parameter"))
      .agg(avg("value").as("value"), count(lit(1)).as("n"))
      .select(col("window.start").as("datetime"),
              col("location_id"), col("parameter"), col("value"), col("n"))

  /** Continuous partitioned-parquet sink via foreachBatch, reusing the
    * batch pipeline's transform + writer so stream output is
    * indistinguishable from batch output.
    *
    * Delivery: default append is AT-LEAST-ONCE — a batch replayed after a
    * failure between the write and the checkpoint commit appends its rows
    * again (the same duplicate-on-rerun contract as the reference's batch
    * job). `exactlyOnce = true` adds a `batch_id` partition column written
    * with dynamic partition overwrite, so a replay of batch N replaces
    * batch N's own directories instead of duplicating them — idempotent at
    * the cost of one extra partition level in the layout.
    */
  /** The per-batch write function behind [[writeMart]], exposed so the
    * delivery semantics are testable without driving a real failure/replay
    * through the checkpoint machinery.
    */
  def martBatchWriter(outputPath: String,
      exactlyOnce: Boolean): (DataFrame, Long) => Unit = { (batch, batchId) =>
    val withParts = batch.transform(Transforms.derivePartitions)
    if (exactlyOnce)
      graft.pipeline.Sink.writePartitioned(
        withParts.withColumn("batch_id", lit(batchId)),
        outputPath,
        partitionCols = Seq("year", "month", "day", "batch_id"),
        mode = "overwrite-dynamic")
    else
      graft.pipeline.Sink.writePartitioned(withParts, outputPath)
  }

  def writeMart(deduped: DataFrame, outputPath: String,
      checkpoint: String, exactlyOnce: Boolean = false): DataStreamWriter[Row] =
    deduped.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime("1 minute"))
      .foreachBatch(martBatchWriter(outputPath, exactlyOnce))

  /** Stream-stream equi + interval join with watermarks on both sides —
    * the remaining Structured Streaming join shape (e.g. raw measurements
    * matched to a concurrent sensor-status stream). Both inputs must carry
    * the join key and an event-time column; the right side's columns are
    * prefixed `r_` to avoid collisions. State is bounded: each side buffers
    * only rows inside watermark + `within`, keyed by the join key —
    * O(recent traffic), independent of total stream length.
    */
  def streamStreamJoin(
      left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String,
      within: String = "1 hour",
      watermark: String = "2 hours",
      joinType: String = "inner",
      rightWatermark: Option[String] = None): DataFrame = {
    val r = right.columns.foldLeft(right)((df, c) => df.withColumnRenamed(c, s"r_$c"))
    left.withWatermark(leftTs, watermark)
      .join(r.withWatermark(s"r_$rightTs", rightWatermark.getOrElse(watermark)),
        col(key) === col(s"r_$key") &&
          col(s"r_$rightTs") >= col(leftTs) - expr(s"INTERVAL $within") &&
          col(s"r_$rightTs") <= col(leftTs) + expr(s"INTERVAL $within"),
        joinType)
  }

  /** Synchronous local runner and the only memory-sink site: stops any
    * active query of the same name (so a caller is re-runnable), starts
    * `df` into the in-memory table `queryName` of `df`'s session, and
    * drains all available input. Returns the LIVE query, so a caller can
    * land more input and drain again; the caller stops it. A drain that
    * throws stops the query before rethrowing.
    */
  def runToMemory(df: DataFrame, queryName: String,
      outputMode: String = "append"): StreamingQuery = {
    df.sparkSession.streams.active
      .filter(q => Option(q.name).contains(queryName)).foreach(_.stop())
    val q = df.writeStream
      .outputMode(outputMode)
      .format("memory")
      .queryName(queryName)
      .start()
    try q.processAllAvailable()
    catch { case e: Throwable => q.stop(); throw e }
    q
  }
}
