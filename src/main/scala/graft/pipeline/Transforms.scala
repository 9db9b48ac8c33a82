package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The OpenAQ transform operators (SURVEY §2.2-§2.5), each a pure
  * `DataFrame => DataFrame` so they compose with `transform(...)` chains and
  * stay fully declarative — Catalyst sees one logical plan for the whole
  * pipeline, so pushdown/pruning/broadcast happen across operator
  * boundaries.
  *
  * Semantics reproduce the reference Glue job
  * (`glue_jobs/process_openaq_raw.py`) including its quirks (string
  * month/day partition columns, string-cast location_id), with documented
  * deterministic upgrades where the reference is nondeterministic.
  */
object Transforms {

  /** P1 — parse ISO-8601 `datetime` strings (with offsets) to UTC
    * timestamps; invalid strings become null (matching pandas
    * `errors='coerce'` and Spark cast semantics; reference
    * `glue_jobs/process_openaq_raw.py:118-121`). Requires
    * `spark.sql.session.timeZone=UTC` so `+07:00` offsets normalize to UTC.
    */
  def parseDatetime(df: DataFrame): DataFrame =
    df.withColumn("datetime", try_to_timestamp(col("datetime")))

  /** P6 — drop rows whose datetime failed to parse (reference
    * `etls/openaq_etl.py:293-297`).
    */
  def dropInvalidDatetime(df: DataFrame): DataFrame =
    df.filter(col("datetime").isNotNull)

  /** P2 — derive partition columns: `year` int, `month`/`day` zero-padded
    * strings (reference `glue_jobs/process_openaq_raw.py:124-127`; the
    * int/string asymmetry is part of the output contract — FIXTURES F6).
    */
  def derivePartitions(df: DataFrame): DataFrame =
    df.withColumn("year", year(col("datetime")))
      .withColumn("month", lpad(month(col("datetime")).cast("string"), 2, "0"))
      .withColumn("day", lpad(dayofmonth(col("datetime")).cast("string"), 2, "0"))

  /** W1 + P4 — dedup by ranking: `row_number()` over the key, keep rank 1.
    *
    * The reference orders by `datetime` inside a window partitioned by
    * (`location_id`,`datetime`) — a constant within the partition, so the
    * survivor is whatever row the shuffle delivered first
    * (`glue_jobs/process_openaq_raw.py:131-135`, acknowledged at
    * `doc/GLUE_JOBS_GUIDE.md:214-221`). `tieBreak` orders the rows within
    * a key instead, so the survivor is deterministic.
    */
  def dedupByRank(keys: Seq[String], tieBreak: Seq[Column]): DataFrame => DataFrame = { df =>
    val w = Window.partitionBy(keys.map(col): _*).orderBy(tieBreak: _*)
    df.withColumn("row_num", row_number().over(w))
      .filter(col("row_num") === 1)
      .drop("row_num")
  }

  /** A1 — the core long→wide pivot:
    * `groupBy(location_id, datetime, year, month, day).pivot(parameter)
    * .agg(avg(value))` (reference `glue_jobs/process_openaq_raw.py:151-159`;
    * `mean` resolves residual per-(key,parameter) duplicates).
    *
    * Passing `values` pins the output schema and skips the extra
    * distinct-collect job the reference pays for (SURVEY §4); pass `None`
    * for the reference's dynamic behavior.
    */
  def pivotParameters(
      keys: Seq[String] = Seq("location_id", "datetime", "year", "month", "day"),
      pivotCol: String = "parameter",
      valueCol: String = "value",
      values: Option[Seq[String]] = Some(Schemas.pollutants),
      agg: Column => Column = avg(_)): DataFrame => DataFrame = { df =>
    val grouped = df.groupBy(keys.map(col): _*)
    val pivoted = values match {
      case Some(vs) => grouped.pivot(pivotCol, vs)
      case None     => grouped.pivot(pivotCol)
    }
    pivoted.agg(agg(col(valueCol)))
  }

  /** P3 + A2 — build the location dimension: select + cast + rename, then
    * one survivor per `location_id` (reference
    * `glue_jobs/process_openaq_raw.py:179-185`). The string cast on
    * `location_id` is part of the mart contract. The explicit casts also
    * kill the VoidType hazard when schema inference is in play.
    *
    * `location_name` is carried when the raw zone has it: the reference's
    * published Athena queries group by it (`README.md:393-396`) even though
    * its own 15-column contract omits it — we keep the analytics surface
    * runnable.
    */
  def buildMetadata(df: DataFrame): DataFrame = {
    val nameCol =
      if (df.columns.contains("location_name")) col("location_name").cast("string")
      else lit(null).cast("string")
    df.select(
        col("location_id").cast("string").as("location_id"),
        nameCol.as("location_name"),
        col("city").cast("string").as("city_name"),
        col("country").cast("string").as("country_code"),
        col("latitude").cast("double").as("latitude"),
        col("longitude").cast("double").as("longitude"))
      .dropDuplicates("location_id")
  }

  /** J1 — enrichment join: pivoted facts LEFT JOIN the (tiny) location
    * dimension (reference `glue_jobs/process_openaq_raw.py:188-192`). The
    * dimension is ≤ ~10^2 rows per country — always broadcast; at 100 TB of
    * facts this must never become a shuffle join, so the hint is explicit
    * rather than relying on the 10 MB auto-broadcast threshold.
    */
  def enrich(meta: DataFrame, on: Seq[String] = Seq("location_id")): DataFrame => DataFrame =
    facts => facts.join(broadcast(meta), on, "left")

  /** P5 — fill contract defaults (reference
    * `glue_jobs/process_openaq_raw.py:195-198`).
    */
  def fillDefaults(df: DataFrame): DataFrame =
    df.na.fill(Map(
      "city_name" -> "Unknown",
      "country_code" -> "VN",
      "latitude" -> 0.0,
      "longitude" -> 0.0))

  /** P11 + P9 — validation: fail fast on missing critical columns, and
    * compute the per-column null audit as a single-row DataFrame (reference
    * `glue_jobs/process_openaq_raw.py:213-231`). The audit is one
    * distributed aggregate — no per-column actions.
    */
  def requireColumns(df: DataFrame, required: Seq[String] = Schemas.criticalColumns): Unit = {
    val missing = required.filterNot(df.columns.contains)
    require(missing.isEmpty, s"missing critical columns: ${missing.mkString(", ")}")
  }

  def nullAudit(df: DataFrame, cols: Seq[String] = Schemas.criticalColumns): DataFrame =
    df.select(nullCounts(cols): _*)

  /** The null audit's aggregates (one null count per column, named after
    * it), shared with the mart observation in [[OpenAqPipeline.run]].
    */
  def nullCounts(cols: Seq[String] = Schemas.criticalColumns): Seq[Column] =
    cols.map(c => count(when(col(c).isNull, 1)).as(c))

  /** P10 — data-quality range predicates (reference
    * `tests/test_glue_transformation.py:198-253`): keep rows with sane
    * coordinates, non-negative pollutant values and non-future timestamps.
    */
  def qualityFilter(valueCols: Seq[String]): DataFrame => DataFrame = { df =>
    val saneValues = valueCols.filter(df.columns.contains)
      .map(c => col(c).isNull || col(c) >= 0.0)
      .reduceOption(_ && _).getOrElse(lit(true))
    df.filter(
      col("latitude").between(-90.0, 90.0) &&
      col("longitude").between(-180.0, 180.0) &&
      col("datetime") < lit("2030-01-01").cast("timestamp") &&
      saneValues)
  }
}
