package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, date_format, lit}
import org.apache.spark.storage.StorageLevel

/** The end-to-end mart pipeline — the reference's Glue job
  * (`glue_jobs/process_openaq_raw.py`) collapsed into one declarative Spark
  * program (SURVEY §3.1).
  *
  * Deviations from the reference, all deliberate:
  *  - one action computes every logged count and the null audit, by
  *    `Observation` on one persisted mart, instead of five uncached
  *    actions that each re-run the scan (reference `:101,137,161,200,228`);
  *  - declared input schema (kills the VoidType bug class);
  *  - deterministic dedup tie-break (W1 hazard, SURVEY §7.4).
  */
object OpenAqPipeline {

  final case class Metrics(
      rawCount: Long,
      dedupCount: Long,
      pivotCount: Long,
      enrichedCount: Long,
      nullAudit: Map[String, Long])

  /** S1 — scan the raw zone: NDJSON with the declared schema (recursive,
    * matching Glue's recursive S3 listing).
    */
  def readRaw(spark: SparkSession, cfg: Schemas.JobConfig): DataFrame =
    spark.read.option("recursiveFileLookup", "true")
      .schema(Schemas.rawMeasurement)
      .json(cfg.inputPath)

  /** S1 with a quarantine channel: malformed NDJSON lines are captured in
    * `_corrupt_record` (PERMISSIVE mode) and split into a side frame
    * instead of surfacing as silent all-null rows — the visibility Glue's
    * tolerant DynamicFrame reader gives the reference. The read is cached
    * because Spark computes the corrupt-record column during parsing; the
    * two filters must not re-parse divergently.
    *
    * @return (valid rows with the declared schema, quarantined raw lines)
    */
  def readRawQuarantined(spark: SparkSession, cfg: Schemas.JobConfig): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val withCorrupt = StructType(
      Schemas.rawMeasurement.fields :+ StructField("_corrupt_record", StringType))
    val df = spark.read
      .option("recursiveFileLookup", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(withCorrupt)
      .json(cfg.inputPath)
      .cache()
    (df.filter(col("_corrupt_record").isNull).drop("_corrupt_record"),
     df.filter(col("_corrupt_record").isNotNull).select(col("_corrupt_record").as("raw_line")))
  }

  /** The transform chain, input-to-mart, as one logical plan. Exposed
    * separately from [[run]] so tests and queries can apply it to any
    * long-format frame.
    *
    * @param cfg unread; it stays until the benchmark harness, which
    *        passes it, drops the argument
    * @return (deduped, pivoted, mart)
    */
  def transform(raw: DataFrame, @annotation.unused cfg: Schemas.JobConfig)
      : (DataFrame, DataFrame, DataFrame) =
    chain(raw, raw, identity, identity)

  /** parse → dedup → pivot → enrich → fill. The location dimension is
    * built from `metaRaw`; `tapDedup` and `tapPivot` wrap the dedup and
    * pivot outputs, where [[run]] attaches its row-count observations.
    */
  private def chain(
      raw: DataFrame,
      metaRaw: DataFrame,
      tapDedup: DataFrame => DataFrame,
      tapPivot: DataFrame => DataFrame): (DataFrame, DataFrame, DataFrame) = {
    def parse(df: DataFrame): DataFrame = df
      .transform(Transforms.parseDatetime)
      .transform(Transforms.dropInvalidDatetime)
      .transform(Transforms.derivePartitions)

    val deduped = parse(raw)
      .transform(Transforms.dedupByRank(
        Seq("location_id", "datetime"), Seq(col("parameter"), col("value"))))
      .transform(tapDedup)
    val pivoted = deduped.transform(Transforms.pivotParameters()).transform(tapPivot)
    val mart = pivoted
      .withColumn("location_id", col("location_id").cast("string"))
      .transform(Transforms.enrich(Transforms.buildMetadata(parse(metaRaw))))
      .transform(Transforms.fillDefaults)
    (deduped, pivoted, mart)
  }

  /** Full job: scan → transform → validate → partitioned Parquet sink →
    * register view. Returns the mart frame (no longer cached) and the
    * metrics the reference logs.
    *
    * Every metric comes from `Observation`s on the scan, dedup, pivot and
    * mart (the mart's also carries the null audit), all filled by ONE
    * count of the persisted mart; the audit gate fires before the write,
    * which reads the cache.
    *
    * Observations sit only on the scan→dedup→pivot→mart spine, which runs
    * exactly once. The enrich metadata branch reads the raw zone a second
    * time without one: it runs as its own broadcast-build job, and a
    * CollectMetrics node reached by two jobs would count twice.
    */
  def run(spark: SparkSession, cfg: Schemas.JobConfig, viewName: String = "vietnam"): (DataFrame, Metrics) = {
    val rows = count(lit(1)).as("n")
    val obsRaw, obsDedup, obsPivot, obsMart = Observation()
    val (_, _, enriched) = chain(
      readRaw(spark, cfg).observe(obsRaw, rows), readRaw(spark, cfg),
      _.observe(obsDedup, rows), _.observe(obsPivot, rows))
    Transforms.requireColumns(enriched)
    val mart = enriched.observe(obsMart, rows, Transforms.nullCounts(): _*)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      mart.count()
      val martRow = obsMart.get
      val audit = Schemas.criticalColumns.map(c => c -> martRow(c).asInstanceOf[Long]).toMap
      require(audit.values.forall(_ == 0L), s"null critical columns: $audit")

      Sink.writePartitioned(mart, cfg.outputPath, cfg.partitionCols, cfg.writeMode)

      // re-read with the mart's declared schema: bare partition discovery
      // would type-infer month='01' back to int 1, silently breaking the
      // string-partition contract (and month=1 vs month='01' pruning)
      val written = spark.read.schema(mart.schema).parquet(cfg.outputPath)
      written.createOrReplaceTempView(viewName)

      def n(o: Observation): Long = o.get("n").asInstanceOf[Long]
      (mart, Metrics(n(obsRaw), n(obsDedup), n(obsPivot), n(obsMart), audit))
    } finally mart.unpersist()
  }
}

/** S3/S4 — sinks. */
object Sink {

  /** The modes [[writePartitioned]] accepts (lower case): Spark's save
    * modes plus `overwrite-dynamic`.
    */
  val writeModes: Set[String] = Set(
    "overwrite-dynamic", "overwrite", "append", "ignore", "error", "errorifexists", "default")

  /** Partitioned Parquet mart sink (reference
    * `glue_jobs/process_openaq_raw.py:249-256`): repartition by the
    * partition columns so each output directory gets few, large files
    * (the reference repartitions by `location_id`, which does NOT control
    * layout — `partitionBy` does; repartitioning by the partition columns
    * is the shape that avoids the many-small-files problem its docs
    * complain about, `doc/GLUE_JOBS_GUIDE.md:308-311`). Snappy is Spark's
    * parquet default. `maxRecordsPerFile` caps file size at scale.
    */
  /** `mode="overwrite-dynamic"` is the opt-in exactly-once upgrade
    * (SURVEY §7.4#4): only partitions present in this batch are replaced,
    * making re-runs idempotent, while default `append` keeps the
    * reference's duplicate-on-rerun behavior bit-for-bit. Any other mode
    * is passed to `DataFrameWriter.mode`; modes match case-insensitively.
    */
  def writePartitioned(
      df: DataFrame,
      path: String,
      partitionCols: Seq[String] = Seq("year", "month", "day"),
      mode: String = "append",
      sortCols: Seq[String] = Seq("location_id", "datetime")): Unit = {
    val (sparkMode, dynamic) = mode.toLowerCase(java.util.Locale.ROOT) match {
      case "overwrite-dynamic" => ("overwrite", true)
      case m                   => (m, false)
    }
    // sortWithinPartitions = the reference's pre-archive sort (O1,
    // `etls/openaq_etl.py:300`) done where it actually pays: clustered
    // rows give parquet tighter min/max column statistics (better scan
    // skipping) and longer RLE runs, with no extra shuffle
    val sortable = sortCols.filter(df.columns.contains)
    val clustered = df.repartition(partitionCols.map(col): _*)
      .sortWithinPartitions((partitionCols ++ sortable).map(col): _*)
    val writer = clustered
      .write
      .mode(sparkMode)
      .option("maxRecordsPerFile", 5000000)
      .partitionBy(partitionCols: _*)
    (if (dynamic) writer.option("partitionOverwriteMode", "dynamic") else writer)
      .parquet(path)
  }

  /** Small-files compaction for the partitioned mart. The reference's
    * append-per-run layout (its own duplication quirk, reproduced by the
    * default sink mode) accretes one file set per run per partition — the
    * small-files problem its docs complain about
    * (`doc/GLUE_JOBS_GUIDE.md:308-311`). Compaction rewrites the touched
    * partitions to size-targeted files using dynamic partition overwrite,
    * so untouched partitions are never rewritten.
    *
    * `partitionPredicate` scopes the rewrite (e.g. `"year = '2024' AND
    * month = '01'"`): at 100 TB you compact recent partitions after each
    * ingest window, never the whole table. The predicate prunes at the
    * file listing, so only the touched partitions are even read.
    *
    * The `localCheckpoint` cuts the file-source lineage: (a) Spark
    * refuses to overwrite a path it is also reading from, and (b) every
    * row is materialized before any partition is replaced. A
    * transactional table format would make the swap atomic; parquet-level
    * compaction trades that for zero dependencies.
    */
  def compactPartitions(
      spark: SparkSession,
      path: String,
      partitionCols: Seq[String] = Seq("year", "month", "day"),
      partitionPredicate: Option[String] = None): Unit = {
    // Partition values must round-trip as STRINGS: bare discovery would
    // type-infer month='01' to int 1 and the rewrite would land in a NEW
    // month=1 directory while dynamic overwrite leaves month=01 behind —
    // every compacted row duplicated (same trap the mart re-read in `run`
    // documents). Disabling inference keeps the directory layout
    // byte-identical for string and int partition values alike.
    val confKey = "spark.sql.sources.partitionColumnTypeInference.enabled"
    val prev = spark.conf.get(confKey)
    spark.conf.set(confKey, "false")
    val pinned =
      try {
        val base = spark.read.parquet(path)
        val scoped = partitionPredicate.fold(base)(base.filter)
        scoped.localCheckpoint() // eager: resolves inside the conf window
      } finally spark.conf.set(confKey, prev)
    writePartitioned(pinned, path, partitionCols, mode = "overwrite-dynamic")
  }

  /** Per-partition layout statistics: (partition, n_files, bytes) — the
    * input a compaction policy needs ("compact partitions with more than
    * N files"). Driver-side filesystem listing: metadata-scale work; a
    * deployment fronted by a metastore or a transactional table format
    * would read the file list from there instead.
    */
  def layoutStats(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val acc = scala.collection.mutable.Map.empty[String, (Long, Long)]
    val it = fs.listFiles(root, true)
    val rootUri = fs.makeQualified(root).toUri
    while (it.hasNext) {
      val f = it.next()
      if (f.isFile && f.getPath.getName.endsWith(".parquet")) {
        val rel = rootUri.relativize(f.getPath.getParent.toUri)
          .getPath.stripSuffix("/")
        val (n, b) = acc.getOrElse(rel, (0L, 0L))
        acc(rel) = (n + 1, b + f.getLen)
      }
    }
    acc.toSeq
      .map { case (p, (n, b)) => (if (p.isEmpty) "." else p, n, b) }
      .toDF("partition", "n_files", "bytes")
  }

  /** S4/S5 — NDJSON sink (Spark's JSON sink is newline-delimited natively;
    * the reference hand-rolls this with `put_object`,
    * `s3_uploader.py:57-84`).
    */
  def writeNdjson(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** S4 hour-keyed raw-zone layout (`aq_raw/Y/M/D/H/`, reference
    * `s3_uploader.py:127-131`): partition columns derived from the event
    * time, dropped from file content by partitionBy exactly as the
    * reference does by hand.
    */
  def writeHourlyNdjson(df: DataFrame, tsCol: String, path: String): Unit =
    df.withColumn("y", date_format(col(tsCol), "yyyy"))
      .withColumn("m", date_format(col(tsCol), "MM"))
      .withColumn("d", date_format(col(tsCol), "dd"))
      .withColumn("h", date_format(col(tsCol), "HH"))
      .write.mode("overwrite")
      .partitionBy("y", "m", "d", "h")
      .json(path)

  /** S8 — wrapped-envelope sink: ONE `{meta, results}` JSON object for the
    * whole frame, matching the reference's single-envelope capture format
    * (`pipelines/openaq_pipeline.py:145-166`). The global collect_list
    * funnels every row through one task — correct for the API-capture-sized
    * payloads this format exists for (hundreds of rows), NOT a large-data
    * sink; use [[writePartitioned]]/[[writeNdjson]] for bulk output.
    */
  def writeWrapped(df: DataFrame, path: String, sourceName: String,
      extractedAt: java.sql.Timestamp): Unit = {
    import org.apache.spark.sql.functions._
    df.agg(collect_list(struct(df.columns.toSeq.map(col): _*)).as("results"))
      .select(to_json(struct(
        struct(
          lit(sourceName).as("name"),
          lit("https://api.openaq.org").as("website"),
          size(col("results")).as("found"),
          lit(extractedAt.toString).as("extracted_at")).as("meta"),
        col("results"))).as("value"))
      .write.mode("overwrite").text(path)
  }

  /** Bucketed mart table for co-located joins: pre-hash the join key into
    * `numBuckets` files per partition so repeated joins/aggregations on
    * that key shuffle ZERO bytes (both sides read already-clustered).
    * Bucketing requires the table catalog (`saveAsTable`) — the layout
    * contract lives in the metastore, not the directory.
    *
    * At 100 TB this is the difference between re-shuffling the fact table
    * on every enrichment run and never shuffling it at all.
    */
  def writeBucketed(
      df: DataFrame,
      table: String,
      bucketCol: String,
      numBuckets: Int = 64,
      sortCol: Option[String] = None): Unit = {
    val spark = df.sparkSession
    // an in-memory catalog from a previous session may have died leaving
    // the managed location on disk; overwrite mode refuses to reuse it, so
    // clear the orphan (only when no live catalog entry claims it).
    // Unqualified names only: warehouse/<name> is the managed location for
    // the default database; a db-qualified name lives under <db>.db/ and
    // deleting warehouse/<raw-name> would hit a path we do not own.
    if (!table.contains('.') && !spark.catalog.tableExists(table)) {
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"),
        table.toLowerCase(java.util.Locale.ROOT))
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }
    val w = df.write.mode("overwrite")
      .bucketBy(numBuckets, bucketCol)
    sortCol.fold(w)(c => w.sortBy(c)).format("parquet").saveAsTable(table)
  }
}
