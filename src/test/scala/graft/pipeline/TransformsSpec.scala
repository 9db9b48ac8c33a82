package graft.pipeline

import graft.GraftSpark
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Operator-level specs mirroring the reference's transform tests
  * (reference `tests/test_glue_complete.py:123-319`): datetime parse with
  * offsets, partition derivation, window dedup, pivot, fill defaults.
  */
class TransformsSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  import spark.implicits._

  private def rawDf(rows: Seq[(Long, String, String, Double, String, String)]) =
    rows.toDF("location_id", "datetime", "parameter", "value", "city", "country")
      .withColumn("latitude", lit(21.0)).withColumn("longitude", lit(105.8))

  test("parseDatetime converts ISO offsets to UTC instants; invalid -> null") {
    val df = rawDf(Seq(
      (18L, "2024-01-15T10:00:00+07:00", "pm25", 45.5, "Hanoi", "VN"),
      (18L, "2024-01-15T10:00:00Z", "pm25", 45.5, "Hanoi", "VN"),
      (18L, "not-a-date", "pm25", 1.0, "Hanoi", "VN")))
      .transform(Transforms.parseDatetime)
    val parsed = df.select("datetime").collect().map(r => Option(r.get(0)))
    // +07:00 normalizes to 03:00 UTC (session TZ pinned to UTC)
    assert(parsed(0).get.toString == "2024-01-15 03:00:00.0")
    assert(parsed(1).get.toString == "2024-01-15 10:00:00.0")
    assert(parsed(2).isEmpty)
    assert(df.schema("datetime").dataType == TimestampType)
  }

  test("derivePartitions: year int, month/day zero-padded strings; offset day boundary") {
    // 01:30+07:00 on Feb 1 is Jan 31 18:30 UTC — partition must follow UTC
    val df = rawDf(Seq((1L, "2024-02-01T01:30:00+07:00", "pm25", 1.0, "Hanoi", "VN")))
      .transform(Transforms.parseDatetime)
      .transform(Transforms.derivePartitions)
    val r = df.select("year", "month", "day").head()
    assert(r.getInt(0) == 2024)
    assert(r.getString(1) == "01")
    assert(r.getString(2) == "31")
    assert(df.schema("month").dataType == StringType)
  }

  test("dedupByRank keeps exactly one row per key, deterministic survivor") {
    val df = rawDf(Seq(
      (18L, "2024-01-15T10:00:00Z", "pm25", 45.5, "Hanoi", "VN"),
      (18L, "2024-01-15T10:00:00Z", "pm25", 99.9, "Hanoi", "VN"),
      (19L, "2024-01-15T10:00:00Z", "pm25", 1.0, "Hue", "VN")))
      .transform(Transforms.parseDatetime)
      .transform(Transforms.dedupByRank(
        Seq("location_id", "datetime"), Seq(col("value"))))
    assert(df.count() == 2)
    // deterministic tie-break: lowest value survives
    assert(df.filter($"location_id" === 18L).select("value").head().getDouble(0) == 45.5)
    assert(!df.columns.contains("row_num"))
  }

  test("dedupByRank 3-key variant changes grain (location, datetime, parameter)") {
    val df = rawDf(Seq(
      (18L, "2024-01-15T10:00:00Z", "pm25", 45.5, "Hanoi", "VN"),
      (18L, "2024-01-15T10:00:00Z", "pm10", 80.0, "Hanoi", "VN"),
      (18L, "2024-01-15T10:00:00Z", "pm10", 81.0, "Hanoi", "VN")))
      .transform(Transforms.parseDatetime)
      .transform(Transforms.dedupByRank(
        Seq("location_id", "datetime", "parameter"), Seq(col("value"))))
    assert(df.count() == 2)
  }

  test("pivotParameters merges one row per key with pollutant columns; mean resolves dups") {
    val df = rawDf(Seq(
      (18L, "2024-01-15T10:00:00Z", "pm25", 40.0, "Hanoi", "VN"),
      (18L, "2024-01-15T10:00:00Z", "pm25", 50.0, "Hanoi", "VN"),
      (18L, "2024-01-15T10:00:00Z", "pm10", 80.0, "Hanoi", "VN")))
      .transform(Transforms.parseDatetime)
      .transform(Transforms.derivePartitions)
      .transform(Transforms.pivotParameters())
    assert(df.count() == 1)
    val row = df.head()
    assert(row.getAs[Double]("pm25") == 45.0) // mean of 40, 50
    assert(row.getAs[Double]("pm10") == 80.0)
    assert(Schemas.pollutants.forall(df.columns.contains)) // static schema
    assert(df.select("so2").head().isNullAt(0))
  }

  test("dynamic pivot only materializes observed parameters") {
    val df = rawDf(Seq((18L, "2024-01-15T10:00:00Z", "pm25", 40.0, "Hanoi", "VN")))
      .transform(Transforms.parseDatetime)
      .transform(Transforms.derivePartitions)
      .transform(Transforms.pivotParameters(values = None))
    assert(df.columns.contains("pm25") && !df.columns.contains("so2"))
  }

  test("buildMetadata casts location_id to string and keeps one row per location") {
    val df = rawDf(Seq(
      (18L, "2024-01-15T10:00:00Z", "pm25", 40.0, "Hanoi", "VN"),
      (18L, "2024-01-15T11:00:00Z", "pm25", 41.0, "Hanoi", "VN")))
    val meta = Transforms.buildMetadata(df)
    assert(meta.count() == 1)
    assert(meta.schema("location_id").dataType == StringType)
    assert(meta.columns.toSeq ==
      Seq("location_id", "location_name", "city_name", "country_code",
          "latitude", "longitude"))
  }

  test("fillDefaults fills contract defaults (city Unknown, country VN, coords 0.0)") {
    val df = Seq(("1", null.asInstanceOf[String], null.asInstanceOf[String]))
      .toDF("location_id", "city_name", "country_code")
      .withColumn("latitude", lit(null).cast("double"))
      .withColumn("longitude", lit(null).cast("double"))
      .transform(Transforms.fillDefaults)
    val r = df.head()
    assert(r.getAs[String]("city_name") == "Unknown")
    assert(r.getAs[String]("country_code") == "VN")
    assert(r.getAs[Double]("latitude") == 0.0)
  }

  test("nullAudit counts nulls per column in one aggregate") {
    val df = Seq((Some(1), None: Option[Int]), (Some(2), Some(3)), (None, Some(4)))
      .toDF("a", "b")
    val audit = Transforms.nullAudit(df, Seq("a", "b")).head()
    assert(audit.getLong(0) == 1 && audit.getLong(1) == 1)
  }

  test("requireColumns raises on missing critical columns") {
    val df = Seq((1, 2)).toDF("a", "b")
    intercept[IllegalArgumentException] {
      Transforms.requireColumns(df, Seq("a", "missing"))
    }
  }

  test("qualityFilter drops out-of-range coordinates, values and future dates") {
    val df = Seq(
      (1L, "2024-01-15T10:00:00Z", 21.0, 105.8, 40.0),
      (2L, "2024-01-15T10:00:00Z", 99.0, 105.8, 40.0),   // bad lat
      (3L, "2031-01-15T10:00:00Z", 21.0, 105.8, 40.0),   // future
      (4L, "2024-01-15T10:00:00Z", 21.0, 105.8, -4.0))   // negative value
      .toDF("location_id", "datetime", "latitude", "longitude", "pm25")
      .transform(Transforms.parseDatetime)
      .transform(Transforms.qualityFilter(Seq("pm25")))
    assert(df.select("location_id").as[Long].collect().toSet == Set(1L))
  }
}
