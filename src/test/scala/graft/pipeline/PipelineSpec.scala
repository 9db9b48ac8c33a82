package graft.pipeline

import graft.GraftSpark
import java.nio.file.Files
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import org.scalatest.concurrent.{ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

/** End-to-end pipeline acceptance mirroring the reference's full-flow test
  * (reference `tests/test_glue_complete.py:267-319,326-406`): NDJSON in,
  * 15-column mart out, partitioned parquet on disk, analytics over the
  * registered view.
  */
class PipelineSpec extends AnyFunSuite with TimeLimits {
  lazy val spark = GraftSpark.spark

  private val ndjson = Seq(
    // loc 18: duplicate (location,datetime) pair + second parameter
    """{"location_id":18,"datetime":"2024-01-15T10:00:00+07:00","parameter":"pm25","value":45.5,"unit":"µg/m³","city":"Hanoi","country":"VN","latitude":21.0285,"longitude":105.8542}""",
    """{"location_id":18,"datetime":"2024-01-15T10:00:00+07:00","parameter":"pm25","value":47.5,"unit":"µg/m³","city":"Hanoi","country":"VN","latitude":21.0285,"longitude":105.8542}""",
    """{"location_id":18,"datetime":"2024-01-15T10:00:00+07:00","parameter":"pm10","value":80.0,"unit":"µg/m³","city":"Hanoi","country":"VN","latitude":21.0285,"longitude":105.8542}""",
    // loc 2: null city/coords → defaults; different hour
    """{"location_id":2,"datetime":"2024-01-15T11:00:00+07:00","parameter":"pm25","value":12.0,"unit":"µg/m³","city":null,"country":null,"latitude":null,"longitude":null}""",
    // invalid datetime → dropped
    """{"location_id":3,"datetime":"not-a-date","parameter":"pm25","value":1.0,"unit":"µg/m³","city":"X","country":"VN","latitude":0.0,"longitude":0.0}""")

  test("full pipeline: NDJSON -> 15-col mart -> partitioned parquet -> SQL") {
    val inDir = Files.createTempDirectory("graft-in").toFile
    val outDir = Files.createTempDirectory("graft-out").toFile.getAbsolutePath + "/mart"
    Files.write(new java.io.File(inDir, "raw_1.json").toPath,
      ndjson.mkString("\n").getBytes("UTF-8"))

    val cfg = Schemas.JobConfig(inputPath = inDir.getAbsolutePath, outputPath = outDir)
    val cached = spark.sparkContext.getPersistentRDDs.keySet
    val (mart, metrics) = OpenAqPipeline.run(spark, cfg, viewName = "vietnam_test")

    assert(metrics.rawCount == 5)
    assert(metrics.dedupCount == 2)     // invalid dropped; (18,10:00) deduped; loc 2
    assert(metrics.pivotCount == 2)
    assert(metrics.enrichedCount == 2)
    assert(metrics.nullAudit == Schemas.criticalColumns.map(_ -> 0L).toMap)
    // run owns its cache: nothing it persisted outlives it
    assert(mart.storageLevel == StorageLevel.NONE)
    assert(spark.sparkContext.getPersistentRDDs.keySet == cached)

    // 15-column contract (FIXTURES F6)
    val sch = mart.schema
    assert(Schemas.martColumns.toSet.subsetOf(mart.columns.toSet))
    assert(sch("location_id").dataType == StringType)
    assert(sch("datetime").dataType == TimestampType)
    assert(sch("year").dataType == IntegerType)
    assert(sch("month").dataType == StringType)
    assert(sch("pm25").dataType == DoubleType)

    // loc 2 defaults: city Unknown, lat/lon 0.0 (reference `:311-317`)
    val loc2 = mart.filter(mart("location_id") === "2").head()
    assert(loc2.getAs[String]("city_name") == "Unknown")
    assert(loc2.getAs[String]("country_code") == "VN")
    assert(loc2.getAs[Double]("latitude") == 0.0)

    // Hive layout on disk: UTC partition (10:00+07:00 → 03:00 UTC Jan 15)
    assert(new java.io.File(s"$outDir/year=2024/month=01/day=15").exists())

    // Athena-surface analytics over the registered view (README.md:393-396)
    val top = spark.sql(
      """SELECT location_id, city_name, COUNT(*) AS c
         FROM vietnam_test GROUP BY location_id, city_name ORDER BY c DESC""")
    assert(top.count() == 2)
  }

  test("a null critical column fails run before anything is written") {
    val inDir = Files.createTempDirectory("graft-in-gate").toFile
    val outDir = Files.createTempDirectory("graft-out-gate").toFile.getAbsolutePath + "/mart"
    Files.write(new java.io.File(inDir, "raw_1.json").toPath, (ndjson :+
      """{"location_id":null,"datetime":"2024-01-15T12:00:00Z","parameter":"pm25","value":9.0,"unit":"u","city":"Hue","country":"VN","latitude":16.4,"longitude":107.6}""")
      .mkString("\n").getBytes("UTF-8"))
    val cached = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[IllegalArgumentException] {
      OpenAqPipeline.run(spark,
        Schemas.JobConfig(inputPath = inDir.getAbsolutePath, outputPath = outDir),
        viewName = "v_gate")
    }
    assert(e.getMessage.contains("location_id -> 1"), e.getMessage)
    val out = new java.io.File(outDir)
    assert(!out.exists() || FileUtils.listFiles(out, Array("parquet"), true).isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.keySet == cached)
  }

  test("an empty raw zone gives all-zero metrics without hanging on Observation.get") {
    val inDir = Files.createTempDirectory("graft-in-empty").toFile
    val outDir = Files.createTempDirectory("graft-out-empty").toFile.getAbsolutePath + "/mart"
    val (_, m) = failAfter(Span(180, Seconds)) {
      OpenAqPipeline.run(spark,
        Schemas.JobConfig(inputPath = inDir.getAbsolutePath, outputPath = outDir),
        viewName = "v_empty")
    }(ThreadSignaler)
    assert(m == OpenAqPipeline.Metrics(0L, 0L, 0L, 0L,
      Schemas.criticalColumns.map(_ -> 0L).toMap))
    assert(spark.table("v_empty").count() == 0L)
  }

  test("JobConfig rejects a bad write mode or an empty partition column at construction") {
    def cfg(mode: String, parts: Seq[String] = Seq("year", "month", "day")) =
      Schemas.JobConfig(inputPath = "/in", outputPath = "/out", partitionCols = parts,
        writeMode = mode)
    Seq("append", "overwrite", "overwrite-dynamic", "Overwrite-Dynamic", "ignore",
        "error", "errorifexists", "default").foreach(m => assert(cfg(m).writeMode == m))
    val bad = intercept[IllegalArgumentException](cfg("upsert")).getMessage
    assert(bad.contains("unknown write mode 'upsert'") && bad.contains("overwrite-dynamic"), bad)
    Seq(Seq("year", ""), Seq(" "), Seq("")).foreach { parts =>
      val m = intercept[IllegalArgumentException](cfg("append", parts)).getMessage
      assert(m.contains("empty partition column name"), m)
    }
  }

  test("quarantined read splits malformed lines from valid rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft-quarantine").toFile
    java.nio.file.Files.write(new java.io.File(dir, "raw.json").toPath,
      Seq(
        """{"location_id":18,"datetime":"2024-01-15T10:00:00Z","parameter":"pm25","value":45.5}""",
        """{this is not json at all""",
        """{"location_id":19,"datetime":"2024-01-15T11:00:00Z","parameter":"pm10","value":12.0}""")
        .mkString("\n").getBytes("UTF-8"))
    val (good, quarantined) = OpenAqPipeline.readRawQuarantined(
      spark, Schemas.JobConfig(inputPath = dir.getAbsolutePath, outputPath = "/unused"))
    assert(good.count() == 2)
    assert(good.columns.toSet == Schemas.rawMeasurement.fieldNames.toSet)
    val bad = quarantined.collect().map(_.getString(0))
    assert(bad.length == 1 && bad.head.startsWith("{this is not json"))
  }

  test("rerun in append mode duplicates data by design (reference parity)") {
    val inDir = Files.createTempDirectory("graft-in2").toFile
    val outDir = Files.createTempDirectory("graft-out2").toFile.getAbsolutePath + "/mart"
    Files.write(new java.io.File(inDir, "raw_1.json").toPath,
      ndjson.mkString("\n").getBytes("UTF-8"))
    val cfg = Schemas.JobConfig(inputPath = inDir.getAbsolutePath, outputPath = outDir)
    OpenAqPipeline.run(spark, cfg, viewName = "v1")
    OpenAqPipeline.run(spark, cfg, viewName = "v2")
    assert(spark.read.parquet(outDir).count() == 4) // 2 rows × 2 runs
  }

  test("a warm ETL pass compiles no class after 100+ others were compiled in between") {
    // one daily DAG: run into a fresh mart, then the six Athena queries
    val inDir = Files.createTempDirectory("graft-in-codegen").toFile
    Files.write(new java.io.File(inDir, "raw_1.json").toPath,
      ndjson.mkString("\n").getBytes("UTF-8"))
    def etlPass(): Unit = {
      val outDir = Files.createTempDirectory("graft-out-codegen").toFile.getAbsolutePath + "/mart"
      OpenAqPipeline.run(spark, Schemas.JobConfig(inputPath = inDir.getAbsolutePath,
        outputPath = outDir), viewName = "v_codegen")
      graft.queries.AnalyticsQueries.queries("v_codegen").keys.foreach { name =>
        graft.queries.AnalyticsQueries.run(spark, name, "v_codegen").collect()
      }
    }
    def compiled(body: => Unit): Long = {
      val c0 = graft.Probe.compiles()
      body
      graft.Probe.compiles() - c0
    }
    etlPass()
    // other work in between: the flagship catalog query (cached if an
    // earlier suite ran it) plus classes no earlier query can have
    // compiled, so more than Spark's default 100 cache entries are added
    val between = compiled {
      graft.SparkEntry.entry(spark).collect()
      val base = System.nanoTime()
      (1 to 60).foreach(i => spark.range(16).selectExpr(s"id * 7 + ${base + i}L AS v").collect())
    }
    assert(between > 100, s"only $between classes compiled between the passes")
    val forks = new graft.Probe.Forks
    try {
      // the census hears a start, so an empty count means none happened
      assert(forks.during(new ProcessBuilder("true").start().waitFor())._2 == Map("true" -> 1))
      val (warm, started) = forks.during(compiled(etlPass()))
      assert(warm == 0L, s"the warm pass recompiled $warm classes")
      // the partitioned Parquet write sets each file's and directory's
      // permission without a chmod process
      assert(!started.contains("chmod"), s"process starts in the warm pass: $started")
    } finally forks.close()
  }

  test("schema inference mode survives all-null columns (VoidType regression)") {
    // reference tests/test_glue_complete.py:222-265 — all-null JSON columns
    // infer as void; the explicit casts in buildMetadata must still work
    val inDir = Files.createTempDirectory("graft-in3").toFile
    val rows = Seq(
      """{"location_id":7,"datetime":"2024-01-15T10:00:00Z","parameter":"pm25","value":5.0,"unit":"u","city":null,"country":null,"latitude":null,"longitude":null}""")
    Files.write(new java.io.File(inDir, "raw.json").toPath,
      rows.mkString("\n").getBytes("UTF-8"))
    val declared = Schemas.JobConfig(inputPath = inDir.getAbsolutePath,
      outputPath = Files.createTempDirectory("graft-out3").toFile.getAbsolutePath + "/mart")
    val (_, _, mart) = OpenAqPipeline.transform(spark.read.json(inDir.getAbsolutePath), declared)
    assert(mart.count() == 1)
    assert(mart.head().getAs[String]("city_name") == "Unknown")
    // the declared-schema job is immune by construction: same all-null
    // input, same mart — and the all-null columns carry their declared
    // types, not whatever inference produced
    val (mart2, metrics2) = OpenAqPipeline.run(spark, cfg = declared, viewName = "v3b")
    assert(metrics2.enrichedCount == 1)
    assert(mart2.head().getAs[String]("city_name") == "Unknown")
    assert(mart2.schema("latitude").dataType == DoubleType)
  }
}
