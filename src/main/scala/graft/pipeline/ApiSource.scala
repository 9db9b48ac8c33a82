package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Pluggable paginated-API source for the live extraction plane.
  *
  * The reference fetches locations with a page-until-empty loop and
  * measurements with one bounded request per sensor inside a Lambda
  * (reference `lambda_functions/openaq_fetcher/extract_api.py:38-104`
  * locations pagination; `:195-270` per-sensor measurements). This module
  * reproduces those *control-flow semantics* behind a fetch trait, so the
  * engine never binds to an HTTP client (this build is zero-egress):
  * fixtures plug in for tests, a real client plugs in for deployment, and
  * nothing else changes.
  *
  * Scale split, deliberately different from the reference:
  *  - locations pagination stays a DRIVER loop — it is inherently serial
  *    (page N+1 depends on N being non-empty) and small (hundreds of rows);
  *  - per-sensor measurement fetch is DISTRIBUTED via `mapPartitions` over
  *    the sensor-id list — the reference's serial for-loop is its real
  *    bottleneck at thousands of sensors, and each fetch is independent.
  */
object ApiSource {

  /** Result of one fetch: raw JSON objects, or a non-200 response. */
  sealed trait FetchResult
  final case class Page(results: Seq[String]) extends FetchResult
  final case class HttpError(status: Int, body: String) extends FetchResult

  /** The fetch contract. Implementations must be serializable — the
    * measurement plane ships the fetcher to executors.
    */
  trait PageFetcher extends Serializable {
    /** GET /locations?countries_id=..&limit=..&page=.. */
    def fetchLocationsPage(countriesId: Int, limit: Int, page: Int): FetchResult
    /** GET /sensors/{id}/measurements?datetime_from=..&datetime_to=..&limit=.. */
    def fetchMeasurements(sensorId: Long, dateFrom: String, dateTo: String,
        limit: Int): FetchResult
  }

  /** Driver-side pagination outcome. `complete` is false when an HTTP error
    * cut pagination short — earlier pages are kept either way, matching the
    * reference's break-not-raise on non-200 (`extract_api.py:76-78`).
    */
  final case class LocationsFetch(rawJson: Seq[String], pagesFetched: Int,
      complete: Boolean)

  /** Locations page loop (reference `extract_api.py:67-97`): page starts at
    * 1, an empty page is normal termination, a non-200 stops the loop but
    * keeps what was fetched. `maxPages` is a runaway guard the reference
    * lacks (a server that never returns an empty page would loop it
    * forever).
    */
  def fetchAllLocations(
      fetcher: PageFetcher,
      countriesId: Int = 56,
      pageSize: Int = 100,
      maxPages: Int = 10000): LocationsFetch = {
    val acc = Seq.newBuilder[String]
    var page = 1
    var pages = 0
    var state: Option[Boolean] = None // Some(clean?) once terminated
    while (state.isEmpty && page <= maxPages) {
      fetcher.fetchLocationsPage(countriesId, pageSize, page) match {
        case Page(rs) if rs.isEmpty => state = Some(true)
        case Page(rs)               => acc ++= rs; pages = page; page += 1
        case HttpError(_, _)        => state = Some(false)
      }
    }
    LocationsFetch(acc.result(), pages, state.getOrElse(false))
  }

  /** Parse fetched location objects into the declared schema — same frame
    * [[Extract.readLocations]] yields from a capture file, so the whole
    * downstream (activeSensors → sensorDimension → enrich) is shared.
    */
  def locationsDf(spark: SparkSession, fetched: LocationsFetch): DataFrame = {
    import spark.implicits._
    spark.read.schema(Schemas.location).json(spark.createDataset(fetched.rawJson))
  }

  /** The per-sensor fetch loop: one request per id, lazily, each page's
    * raw measurement JSON tagged with its sensor id. A failed sensor
    * yields no rows and no failure — the reference's continue-on-error
    * contract (`extract_api.py:231-266`). Both measurement planes run it:
    * [[fetchMeasurementsDistributed]] per task and the `openaq`
    * DataSource per input partition.
    */
  def fetchEach(fetcher: PageFetcher, sensorIds: Iterator[Long],
      dateFrom: String, dateTo: String, limit: Int): Iterator[(Long, String)] =
    sensorIds.flatMap { id =>
      fetcher.fetchMeasurements(id, dateFrom, dateTo, limit) match {
        case Page(rs)        => rs.iterator.map(json => (id, json))
        case HttpError(_, _) => Iterator.empty
      }
    }

  /** Distributed per-sensor measurement extraction. Sensor ids are spread
    * over `parallelism` partitions; each task runs [[fetchEach]] over its
    * ids; [[Extract.parseMeasurements]] flattens the rows to the columns
    * [[Extract.readWrappedMeasurements]] yields.
    */
  def fetchMeasurementsDistributed(
      spark: SparkSession,
      sensorIds: Seq[Long],
      fetcher: PageFetcher,
      dateFrom: String,
      dateTo: String,
      limit: Int = 1000,
      parallelism: Int = 32): DataFrame = {
    import spark.implicits._
    Extract.parseMeasurements(spark.createDataset(sensorIds)
      .repartition(math.min(parallelism, math.max(1, sensorIds.size)))
      .mapPartitions(ids => fetchEach(fetcher, ids, dateFrom, dateTo, limit))
      .toDF("sensor_id", "json"))
  }

  /** Fixture fetcher: serves pre-canned pages/measurements from maps —
    * the test double standing in for the HTTP client.
    */
  final case class FixtureFetcher(
      locationPages: Map[Int, FetchResult],
      measurements: Map[Long, FetchResult]) extends PageFetcher {
    def fetchLocationsPage(countriesId: Int, limit: Int, page: Int): FetchResult =
      locationPages.getOrElse(page, Page(Nil))
    def fetchMeasurements(sensorId: Long, dateFrom: String, dateTo: String,
        limit: Int): FetchResult =
      measurements.getOrElse(sensorId, HttpError(404, "no such sensor"))
  }
}
