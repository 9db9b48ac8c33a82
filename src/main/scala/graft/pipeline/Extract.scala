package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The extraction-side dataflow (SURVEY §3.2) re-expressed as declarative
  * Spark transforms over a locations dimension: active-sensor filtering
  * (P7), the sensor→location lookup join (J2) and the static city-override
  * fallback (J3). The live HTTP client is out of scope for the engine core
  * (reference fetches via a Lambda, `extract_api.py:38-104`); any source
  * that yields rows of [[Schemas.location]] plugs in here — fixture files in
  * tests, a DataSource V2 `TableProvider` at scale.
  */
object Extract {

  /** S9 — read a locations fixture (wrapped `{meta,results}` JSON or a bare
    * array, both `multiLine`) with the declared schema and explode to one
    * row per location.
    */
  def readLocations(spark: SparkSession, path: String): DataFrame = {
    val env = spark.read
      .schema(Schemas.envelope(Schemas.location))
      .option("multiLine", value = true)
      .json(path)
    env.select(explode(col("results")).as("loc")).select("loc.*")
  }

  /** S10/F3 — read a wrapped per-sensor measurements capture (the
    * `{meta, results}` envelope the legacy pipeline lands; sample
    * reference `data/sensor_7772024.json`) and flatten the nested
    * measurement to the long format: `period.datetimeFrom.utc` →
    * `datetime`, `parameter.{name,units}` → `parameter`/`unit`
    * (reference `extract_api.py:240-255`).
    */
  def readWrappedMeasurements(spark: SparkSession, path: String, sensorId: Long): DataFrame =
    spark.read
      .schema(Schemas.envelope(Schemas.apiMeasurement))
      .option("multiLine", value = true)
      .json(path)
      .select(explode(col("results")).as("m"))
      .select(measurementColumns(lit(sensorId)): _*)

  /** Parse raw measurement JSON rows (`sensor_id`, `json`) — what
    * [[ApiSource.fetchEach]] yields, from [[ApiSource.fetchMeasurementsDistributed]]
    * or the `openaq` DataSource — into the same seven columns, dropping
    * rows whose JSON does not parse.
    */
  def parseMeasurements(raw: DataFrame): DataFrame =
    raw.select(col("sensor_id"), from_json(col("json"), Schemas.apiMeasurement).as("m"))
      .filter(col("m").isNotNull)
      .select(measurementColumns(col("sensor_id")): _*)

  /** The seven-column long format of one API measurement, read from a
    * struct column `m` of [[Schemas.apiMeasurement]]: `sensorId`,
    * `period.datetimeFrom.utc` → `datetime`, `parameter.{name,units}` →
    * `parameter`/`unit`, `value`, and the coordinates. Every measurement
    * source projects through it — the wrapped capture above and
    * [[parseMeasurements]] — so their frames cannot drift apart.
    */
  private def measurementColumns(sensorId: Column): Seq[Column] = Seq(
    sensorId.as("sensor_id"),
    col("m.period.datetimeFrom.utc").as("datetime"),
    col("m.parameter.name").as("parameter"),
    col("m.value").as("value"),
    col("m.parameter.units").as("unit"),
    col("m.coordinates.latitude").as("latitude"),
    col("m.coordinates.longitude").as("longitude"))

  /** Normalize a parameter name the way the reference does before matching:
    * lowercase and strip dots, so `PM2.5` == `pm25` (reference
    * `extract_api.py:168-175` — the fix for the HCMC naming bug).
    */
  def normalizeParameter(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    lower(regexp_replace(c, "\\.", ""))

  /** P7 — active-sensor filter: keep sensors whose location reported within
    * `activeDays` of `asOf`, and whose (normalized) parameter is in the
    * required set (reference `extract_api.py:111-186`). `asOf` is injected
    * rather than `current_timestamp()` so runs are reproducible (F10).
    *
    * Returns one row per active sensor:
    * (sensor_id, location_id, parameter).
    */
  def activeSensors(
      locations: DataFrame,
      requiredParameters: Seq[String] = Schemas.pollutants,
      asOf: java.sql.Timestamp,
      activeDays: Int = 7): DataFrame = {
    val normalized = requiredParameters.map(_.toLowerCase.replace(".", ""))
    locations
      .filter(try_to_timestamp(col("datetimeLast.utc")) >=
        lit(asOf).cast("timestamp") - expr(s"INTERVAL $activeDays DAYS"))
      .select(col("id").as("location_id"), explode(col("sensors")).as("s"))
      .filter(normalizeParameter(col("s.parameter.name")).isin(normalized: _*))
      .select(
        col("s.id").as("sensor_id"),
        col("location_id"),
        normalizeParameter(col("s.parameter.name")).as("parameter"))
      .dropDuplicates("sensor_id")
  }

  /** J2 — the sensor→location-metadata dimension the reference builds as a
    * driver-side dict and maps each measurement through
    * (`extract_api.py:331-429`). Distributed form: explode the nested
    * sensors array into a small dimension and broadcast-join it — no
    * driver materialization, works at any fact-side scale.
    *
    * J3 — the hardcoded LOCATION_CITY_MAP override chain is folded in as
    * `coalesce(locality, cityMap[id], 'Unknown')`
    * (`extract_api.py:355-372,390`).
    */
  def sensorDimension(locations: DataFrame): DataFrame = {
    val cityMapCol = Schemas.locationCityMap.foldLeft(lit(null).cast("string")) {
      case (acc, (id, city)) => when(col("id") === id, city).otherwise(acc)
    }
    locations
      .select(
        col("id"),
        col("name").as("location_name"),
        col("locality"),
        col("timezone"),
        col("country.code").as("country_code"),
        col("coordinates.latitude").as("latitude"),
        col("coordinates.longitude").as("longitude"),
        explode(col("sensors")).as("s"))
      .select(
        col("s.id").as("sensor_id"),
        col("id").as("location_id"),
        col("location_name"),
        coalesce(col("locality"), cityMapCol, lit("Unknown")).as("city"),
        col("timezone"),
        coalesce(col("country_code"), lit("VN")).as("country"),
        col("latitude"),
        col("longitude"))
      .dropDuplicates("sensor_id")
  }

  /** Enrich long-format measurements with location metadata via a broadcast
    * left join on sensor_id, with the reference's per-field defaults
    * (`city or 'Unknown'`, `country or 'VN'` — `extract_api.py:416-418`).
    *
    * Columns present on BOTH sides (e.g. latitude/longitude when the
    * measurements come from a wrapped API capture, S10) resolve as
    * measurement-value-first, dimension second, default last — instead of
    * an AMBIGUOUS_REFERENCE analysis error.
    */
  def enrichMeasurements(measurements: DataFrame, sensorDim: DataFrame): DataFrame = {
    val overlapping = sensorDim.columns.toSet
      .intersect(measurements.columns.toSet) - "sensor_id"
    // pre-rename the dimension's overlapping columns so every reference
    // below is unambiguous
    val dim = overlapping.foldLeft(sensorDim) {
      (df, c) => df.withColumnRenamed(c, s"__dim_$c")
    }
    def merged(c: String, default: Column): Column = {
      val sources =
        (if (measurements.columns.contains(c)) Seq(col(c)) else Nil) ++
        (if (dim.columns.contains(s"__dim_$c")) Seq(col(s"__dim_$c"))
         else if (sensorDim.columns.contains(c)) Seq(col(c)) else Nil)
      coalesce(sources :+ default: _*)
    }
    val joined = measurements.join(broadcast(dim), Seq("sensor_id"), "left")
    joined
      .withColumn("city", merged("city", lit("Unknown")))
      .withColumn("country", merged("country", lit("VN")))
      .withColumn("latitude", merged("latitude", lit(0.0)))
      .withColumn("longitude", merged("longitude", lit(0.0)))
      .drop(overlapping.toSeq.map(c => s"__dim_$c"): _*)
  }

  /** F11 — stamp rows with the extraction time (injected, reproducible). */
  def stampExtractedAt(ts: java.sql.Timestamp): DataFrame => DataFrame =
    _.withColumn("extracted_at", lit(ts))
}
