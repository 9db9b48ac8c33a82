package graft.pipeline

import org.apache.spark.sql.types._

/** Declared schemas for the OpenAQ dataflow (SURVEY §1, FIXTURES.md).
  *
  * The reference infers schemas at read time (Glue DynamicFrame /
  * `spark.read.json`, reference `glue_jobs/process_openaq_raw.py:94-100`),
  * which is the root cause of its VoidType bug class (all-null JSON columns
  * infer as null type, regression test reference
  * `tests/test_glue_complete.py:222-265`). The Spark-idiomatic fix is to
  * declare every input schema up front; [[OpenAqPipeline.readRaw]] always
  * reads with [[rawMeasurement]].
  */
object Schemas {

  /** Raw long-format measurement row (FIXTURES F1; reference input contract
    * `doc/GLUE_JOBS_GUIDE.md:107-132`). One row = one
    * (sensor, timestamp, parameter, value). `datetime` stays a string here;
    * parsing is an explicit transform ([[Transforms.ParseDatetime]]).
    */
  val rawMeasurement: StructType = StructType(Seq(
    StructField("location_id", LongType),
    StructField("sensor_id", LongType),
    StructField("datetime", StringType),
    StructField("parameter", StringType),
    StructField("value", DoubleType),
    StructField("unit", StringType),
    StructField("city", StringType),
    StructField("country", StringType),
    StructField("latitude", DoubleType),
    StructField("longitude", DoubleType),
    StructField("location_name", StringType),
    StructField("timezone", StringType),
    StructField("extracted_at", StringType)
  ))

  /** Nested OpenAQ `/locations` object (FIXTURES F4; sample
    * reference `data/mock_locations_vn.json`). Read with
    * `option("multiLine", true)` for the wrapped fixture form.
    */
  val location: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("locality", StringType),
    StructField("timezone", StringType),
    StructField("country", StructType(Seq(
      StructField("id", LongType),
      StructField("code", StringType),
      StructField("name", StringType)))),
    StructField("coordinates", StructType(Seq(
      StructField("latitude", DoubleType),
      StructField("longitude", DoubleType)))),
    StructField("sensors", ArrayType(StructType(Seq(
      StructField("id", LongType),
      StructField("name", StringType),
      StructField("parameter", StructType(Seq(
        StructField("id", LongType),
        StructField("name", StringType),
        StructField("units", StringType),
        StructField("displayName", StringType)))))))),
    StructField("datetimeFirst", StructType(Seq(
      StructField("utc", StringType),
      StructField("local", StringType)))),
    StructField("datetimeLast", StructType(Seq(
      StructField("utc", StringType),
      StructField("local", StringType))))
  ))

  /** Raw OpenAQ API measurement as it appears inside the wrapped envelope
    * (FIXTURES F3; flattened by the reference at
    * `lambda_functions/openaq_fetcher/extract_api.py:240-255`).
    */
  val apiMeasurement: StructType = StructType(Seq(
    StructField("value", DoubleType),
    StructField("parameter", StructType(Seq(
      StructField("id", LongType),
      StructField("name", StringType),
      StructField("units", StringType),
      StructField("displayName", StringType)))),
    StructField("period", StructType(Seq(
      StructField("label", StringType),
      StructField("interval", StringType),
      StructField("datetimeFrom", StructType(Seq(
        StructField("utc", StringType),
        StructField("local", StringType)))),
      StructField("datetimeTo", StructType(Seq(
        StructField("utc", StringType),
        StructField("local", StringType))))))),
    StructField("coordinates", StructType(Seq(
      StructField("latitude", DoubleType),
      StructField("longitude", DoubleType)))),
    StructField("flagInfo", StructType(Seq(
      StructField("hasFlags", BooleanType))))
  ))

  /** Wrapped API envelope `{meta, results}` (FIXTURES F3; reference
    * `pipelines/openaq_pipeline.py:148-156`).
    */
  def envelope(resultSchema: StructType): StructType = StructType(Seq(
    StructField("meta", StructType(Seq(
      StructField("name", StringType),
      StructField("website", StringType),
      StructField("found", LongType),
      StructField("extracted_at", StringType)))),
    StructField("results", ArrayType(resultSchema))
  ))

  /** The seven required pollutants (reference `handler.py:124`). Passing an
    * explicit value list to pivot keeps the output schema static and skips
    * the extra distinct-collect job (SURVEY §4 "dynamic pivot values").
    */
  val pollutants: Seq[String] = Seq("pm25", "pm10", "no2", "so2", "o3", "co", "bc")

  /** The 15-column mart contract (FIXTURES F6; reference
    * `tests/test_glue_output_schema.py:44-60`). The mart also always
    * carries `bc`, since the pivot values are fixed to [[pollutants]].
    */
  val martColumns: Seq[String] = Seq(
    "location_id", "datetime", "year", "month", "day",
    "pm25", "pm10", "no2", "so2", "o3", "co",
    "city_name", "country_code", "latitude", "longitude")

  /** Columns that must never be null in the mart (reference
    * `glue_jobs/process_openaq_raw.py:213-231`).
    */
  val criticalColumns: Seq[String] =
    Seq("location_id", "datetime", "year", "month", "day")

  /** Job configuration mirroring the Glue job args (reference
    * `glue_jobs/process_openaq_raw.py:65-84`): `--input_path`,
    * `--output_path`, `--env`, `--partition_cols`, plus the sink's
    * `--write_mode`. A bad write mode or an empty partition-column name
    * fails here, at construction, before any job runs.
    */
  final case class JobConfig(
      inputPath: String,
      outputPath: String,
      env: String = "dev",
      partitionCols: Seq[String] = Seq("year", "month", "day"),
      writeMode: String = "append") {
    require(Sink.writeModes.contains(writeMode.toLowerCase(java.util.Locale.ROOT)),
      s"unknown write mode '$writeMode'; expected one of ${Sink.writeModes.toSeq.sorted.mkString(", ")}")
    require(partitionCols.forall(_.trim.nonEmpty),
      s"empty partition column name in ${partitionCols.mkString("[", ",", "]")}")
  }

  /** Country code → mart table-folder name (reference
    * `pipelines/glue_pipeline.py:167-168`).
    */
  val countryTableMap: Map[String, String] = Map(
    "VN" -> "vietnam", "TH" -> "thailand")

  /** Static city-override map (reference J3,
    * `lambda_functions/openaq_fetcher/extract_api.py:355-372`): hardcoded
    * location_id → city for locations whose `locality` is null upstream.
    */
  val locationCityMap: Map[Long, String] = Map(
    3276359L -> "Ho Chi Minh City", 3276361L -> "Ho Chi Minh City",
    2161296L -> "Hanoi", 2161290L -> "Hanoi", 3061106L -> "Hanoi",
    3061109L -> "Hanoi", 225719L -> "Hanoi", 2161303L -> "Hanoi",
    1274354L -> "Hanoi", 2161305L -> "Hanoi", 3261173L -> "Gia Lai",
    3261175L -> "Gia Lai", 225643L -> "Hue")
}
