package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.pipeline.{ApiSource, Extract, Schemas}

/** DataSource V2 wrapper for the paginated OpenAQ-style API: the
  * reference's Lambda fetch loops (`extract_api.py:38-104` locations,
  * `:195-270` per-sensor measurements) become a first-class
  * `spark.read.format("openaq")` table.
  *
  * The source deliberately emits RAW JSON rows (like Spark's Kafka source
  * emits bytes): parsing stays in Catalyst (`from_json`, codegen'd) via the
  * [[OpenAqSource.measurements]]/[[OpenAqSource.locations]] helpers, and
  * the reader stays a thin I/O shell. The HTTP client itself is injected by
  * class name (`fetcher` option, a no-arg [[graft.pipeline.ApiSource.PageFetcher]]
  * implementation) — the build is zero-egress, so tests plug fixtures in.
  *
  * Partitioning at scale: one input partition per slice of the sensor-id
  * list (`numPartitions` slices), so a 10k-sensor fetch spreads over the
  * cluster instead of serializing through the driver the way the
  * reference's for-loop serializes through one Lambda. The locations
  * endpoint is a single partition by construction — page N+1 existing
  * depends on page N being non-empty, so it cannot parallelize.
  *
  * Options: `endpoint` (measurements|locations), `fetcher` (class name),
  * `sensorIds` (csv), `dateFrom`, `dateTo`, `limit`, `numPartitions`,
  * `countriesId`, `pageSize`, `maxPages`.
  */
object OpenAqSource {
  val FORMAT = "openaq"

  val measurementsSchema: StructType = StructType(Seq(
    StructField("sensor_id", LongType, nullable = false),
    StructField("json", StringType, nullable = false)))

  val locationsSchema: StructType = StructType(Seq(
    StructField("json", StringType, nullable = false)))

  def schemaFor(endpoint: String): StructType = endpoint match {
    case "locations" => locationsSchema
    case _           => measurementsSchema
  }

  /** Typed measurements frame: read the source, parse + flatten in
    * Catalyst through [[graft.pipeline.Extract.parseMeasurements]] — the
    * 7-column contract of [[graft.pipeline.Extract.readWrappedMeasurements]].
    */
  def measurements(
      spark: SparkSession,
      fetcherClass: String,
      sensorIds: Seq[Long],
      dateFrom: String,
      dateTo: String,
      limit: Int = 1000,
      numPartitions: Int = 32): DataFrame =
    Extract.parseMeasurements(spark.read.format(FORMAT)
      .option("endpoint", "measurements")
      .option("fetcher", fetcherClass)
      .option("sensorIds", sensorIds.mkString(","))
      .option("dateFrom", dateFrom)
      .option("dateTo", dateTo)
      .option("limit", limit)
      .option("numPartitions", numPartitions)
      .load())

  /** Typed locations frame (declared schema — inference never sees this
    * data, keeping the VoidType bug class dead on the live path too).
    */
  def locations(
      spark: SparkSession,
      fetcherClass: String,
      countriesId: Int = 56,
      pageSize: Int = 100,
      maxPages: Int = 10000): DataFrame =
    spark.read.format(FORMAT)
      .option("endpoint", "locations")
      .option("fetcher", fetcherClass)
      .option("countriesId", countriesId)
      .option("pageSize", pageSize)
      .option("maxPages", maxPages)
      .load()
      .select(from_json(col("json"), Schemas.location).as("loc"))
      .filter(col("loc").isNotNull)
      .select("loc.*")
}

/** All reader-side state, serializable to executors. */
private[sources] final case class OpenAqOptions(
    endpoint: String,
    fetcherClass: String,
    sensorIds: Array[Long],
    dateFrom: String,
    dateTo: String,
    limit: Int,
    numPartitions: Int,
    countriesId: Int,
    pageSize: Int,
    maxPages: Int) {

  def newFetcher(): ApiSource.PageFetcher = {
    val cls = try Class.forName(fetcherClass, true,
      Thread.currentThread().getContextClassLoader)
    catch { case _: ClassNotFoundException => Class.forName(fetcherClass) }
    cls.getDeclaredConstructor().newInstance().asInstanceOf[ApiSource.PageFetcher]
  }
}

private[sources] object OpenAqOptions {
  def apply(o: CaseInsensitiveStringMap): OpenAqOptions = {
    val fetcher = o.get("fetcher")
    require(fetcher != null && fetcher.nonEmpty,
      "openaq source requires a `fetcher` option: a no-arg " +
        "graft.pipeline.ApiSource.PageFetcher implementation class name")
    OpenAqOptions(
      endpoint = o.getOrDefault("endpoint", "measurements"),
      fetcherClass = fetcher,
      sensorIds = Option(o.get("sensorIds")).filter(_.nonEmpty)
        .map(_.split(",").map(_.trim.toLong)).getOrElse(Array.empty),
      dateFrom = o.getOrDefault("dateFrom", ""),
      dateTo = o.getOrDefault("dateTo", ""),
      limit = o.getInt("limit", 1000),
      numPartitions = o.getInt("numPartitions", 32),
      countriesId = o.getInt("countriesId", 56),
      pageSize = o.getInt("pageSize", 100),
      maxPages = o.getInt("maxPages", 10000))
  }
}

/** `spark.read.format("openaq")` entry point (registered via
  * META-INF/services for the short name).
  */
class OpenAqSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = OpenAqSource.FORMAT

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    OpenAqSource.schemaFor(options.getOrDefault("endpoint", "measurements"))

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new OpenAqTable(schema)
}

private[sources] class OpenAqTable(tableSchema: StructType)
    extends Table with SupportsRead {
  override def name(): String = "openaq"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    Set[TableCapability](TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val opts = OpenAqOptions(options)
    new ScanBuilder { override def build(): Scan = new OpenAqScan(opts) }
  }
}

private[sources] class OpenAqScan(opts: OpenAqOptions) extends Scan with Batch {
  override def readSchema(): StructType = OpenAqSource.schemaFor(opts.endpoint)
  override def toBatch: Batch = this
  override def description(): String = s"openaq(${opts.endpoint})"

  override def planInputPartitions(): Array[InputPartition] =
    opts.endpoint match {
      case "locations" => Array(LocationsPartition(opts))
      case _ =>
        val n = math.max(1, math.min(opts.numPartitions, opts.sensorIds.length))
        // each partition carries ONLY its slice: embedding the full
        // sensorIds array in every partition would ship N copies of the
        // whole list through task serialization
        val slim = opts.copy(sensorIds = Array.empty)
        // round-robin slices: sensor ids are often assigned in ranges with
        // correlated data volume; striding balances better than chunking
        (0 until n).map(i =>
          MeasurementsPartition(slim, opts.sensorIds.zipWithIndex
            .collect { case (id, j) if j % n == i => id }): InputPartition).toArray
    }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        p match {
          case LocationsPartition(o)         => new LocationsReader(o)
          case MeasurementsPartition(o, ids) => new MeasurementsReader(o, ids)
        }
    }
}

private[sources] final case class LocationsPartition(opts: OpenAqOptions)
    extends InputPartition
private[sources] final case class MeasurementsPartition(
    opts: OpenAqOptions, ids: Array[Long]) extends InputPartition

/** Serial page loop (the same driver-side semantics, run in the one task):
  * empty page terminates, HTTP error keeps earlier pages.
  */
private[sources] class LocationsReader(opts: OpenAqOptions)
    extends PartitionReader[InternalRow] {
  private lazy val rows: Iterator[String] =
    ApiSource.fetchAllLocations(opts.newFetcher(), opts.countriesId,
      opts.pageSize, opts.maxPages).rawJson.iterator
  private var current: String = _
  override def next(): Boolean = { val h = rows.hasNext; if (h) current = rows.next(); h }
  override def get(): InternalRow = InternalRow(UTF8String.fromString(current))
  override def close(): Unit = ()
}

/** One fetch per sensor id, lazily — [[ApiSource.fetchEach]], so a failed
  * sensor yields no rows and no failure (the reference's continue-on-error
  * contract).
  */
private[sources] class MeasurementsReader(opts: OpenAqOptions, ids: Array[Long])
    extends PartitionReader[InternalRow] {
  private lazy val rows: Iterator[(Long, String)] = ApiSource.fetchEach(
    opts.newFetcher(), ids.iterator, opts.dateFrom, opts.dateTo, opts.limit)
  private var current: (Long, String) = _
  override def next(): Boolean = { val h = rows.hasNext; if (h) current = rows.next(); h }
  override def get(): InternalRow =
    InternalRow(current._1, UTF8String.fromString(current._2))
  override def close(): Unit = ()
}
