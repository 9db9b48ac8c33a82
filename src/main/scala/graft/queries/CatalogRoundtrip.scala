package graft.queries

import graft.Tables
import graft.functions.{Aqi, TextFunctions => TF, VectorFunctions => VF}
import graft.ops.{Dedup, Inference, Pack, Redact, Sampling, Similarity}
import graft.pipeline.Transforms
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

import scala.collection.immutable.ListMap

import Catalog._

/** pipeline sink/source round-trips as oracle-checked SELECTs (q140-q143).
  *
  * One slice of the query catalog (split from the single 3.9k-line map
  * in round 5). Entry ORDER is load-bearing: [[Catalog.all]] is a
  * ListMap concatenated slice-by-slice, and oracle_sql.json iterates
  * it in insertion order.
  */
private[queries] object CatalogRoundtrip {
  def entries: Seq[(String, QueryDef)] = Seq(
    // ===== sink/source round-trips (S4/S5, S8, S9/S10 as SELECTs) =====
    // These close COVERAGE.md's spec-only rows with oracle-checked
    // queries: each stages a fixture DERIVED FROM an oracle-visible
    // table through the real pipeline sink, reads it back through the
    // real pipeline source, and aggregates — so the DuckDB compare
    // proves the write+read semantics end to end, not just "a spec ran".

    // S5 NDJSON round-trip: Sink.writeNdjson → declared-schema read.
    // Doubles survive exactly (shortest-round-trip render, exact parse);
    // null values are OMITTED by the JSON writer and must come back as
    // NULL, which count(*) vs count(value) distinguishes.
    "q140_ndjson_roundtrip" -> QueryDef(
      fn = (s, d) => {
        val base = java.nio.file.Files.createTempDirectory("graft-ndj")
        try {
          graft.pipeline.Sink.writeNdjson(
            t(s, d, "events").select("event_id", "event_type", "value"),
            s"$base/ev")
          s.read.schema(StructType(Seq(
              StructField("event_id", LongType),
              StructField("event_type", StringType),
              StructField("value", DoubleType))))
            .json(s"$base/ev")
            .groupBy("event_type")
            .agg(count(lit(1)).as("n"), count(col("value")).as("n_value"),
              exactSum(col("value")).as("sum_value"),
              min("event_id").as("min_id"), max("event_id").as("max_id"))
            .orderBy("event_type")
            .localCheckpoint(true)
        } finally dropStaged(base)
      },
      oracle = Some(s"""
        SELECT event_type, count(*) AS n, count(value) AS n_value,
               ${sumSql("value")} AS sum_value,
               min(event_id) AS min_id, max(event_id) AS max_id
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // S8+S10 round-trip: API-measurement-shaped rows built from events,
    // landed as ONE wrapped {meta,results} envelope (Sink.writeWrapped —
    // the reference's capture format), read back + flattened by
    // Extract.readWrappedMeasurements. The id slice keeps the single
    // envelope at capture size (the format's design point); the oracle
    // recomputes the aggregate from the source slice.
    "q141_wrapped_roundtrip" -> QueryDef(
      fn = (s, d) => {
        val base = java.nio.file.Files.createTempDirectory("graft-wrap")
        try {
          val m = t(s, d, "events").filter(col("event_id") < 200).select(
            col("value"),
            struct(col("user_id").as("id"), col("event_type").as("name"),
              lit("\u00b5g/m\u00b3").as("units"),
              upper(col("event_type")).as("displayName")).as("parameter"),
            struct(lit("raw").as("label"), lit("hours").as("interval"),
              struct(date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'")
                  .as("utc"),
                lit(null).cast("string").as("local")).as("datetimeFrom"),
              struct(date_format(col("ts") + expr("INTERVAL 1 HOUR"),
                  "yyyy-MM-dd'T'HH:mm:ss'Z'").as("utc"),
                lit(null).cast("string").as("local")).as("datetimeTo"))
              .as("period"),
            struct(((col("user_id") % 90).cast("double") + 0.25).as("latitude"),
              ((col("user_id") % 180).cast("double") + 0.5).as("longitude"))
              .as("coordinates"),
            struct(lit(false).as("hasFlags")).as("flagInfo"))
          graft.pipeline.Sink.writeWrapped(m, s"$base/cap", "events-capture",
            java.sql.Timestamp.valueOf("2024-06-01 00:00:00"))
          graft.pipeline.Extract
            .readWrappedMeasurements(s, s"$base/cap", sensorId = 7772024L)
            .groupBy("parameter")
            .agg(count(lit(1)).as("n"), exactSum(col("value")).as("sum_value"),
              min("datetime").as("min_dt"), max("datetime").as("max_dt"))
            .orderBy("parameter")
            .localCheckpoint(true)
        } finally dropStaged(base)
      },
      oracle = Some(s"""
        SELECT event_type AS parameter, count(*) AS n,
               ${sumSql("value")} AS sum_value,
               min(strftime(ts, '%Y-%m-%dT%H:%M:%SZ')) AS min_dt,
               max(strftime(ts, '%Y-%m-%dT%H:%M:%SZ')) AS max_dt
        FROM events WHERE event_id < 200
        GROUP BY event_type ORDER BY parameter""")),

    // S9+J2/J3 round-trip: locations built from customer rows (nested
    // country/coordinates/sensors exactly per Schemas.location), landed
    // as a wrapped envelope, read back via Extract.readLocations and
    // exploded to the sensor dimension — nulled localities fall through
    // the city-override chain to 'Unknown' (the ids sit far below the
    // reference's hardcoded map, so the middle coalesce arm is null).
    "q142_locations_explode" -> QueryDef(
      fn = (s, d) => {
        val base = java.nio.file.Files.createTempDirectory("graft-loc")
        try {
          def sensor(n: Int, param: String) = struct(
            (col("c_custkey") * 10 + n).as("id"),
            concat(lit(s"sensor-$n-"), col("c_custkey")).as("name"),
            struct(lit(n.toLong).as("id"), lit(param).as("name"),
              lit("\u00b5g/m\u00b3").as("units"), upper(lit(param)).as("displayName"))
              .as("parameter"))
          val locs = t(s, d, "customer").filter(col("c_custkey") < 300)
            .select(
              col("c_custkey").as("id"), col("c_name").as("name"),
              when(col("c_custkey") % 3 === 0, lit(null).cast("string"))
                .otherwise(col("c_mktsegment")).as("locality"),
              lit("Asia/Ho_Chi_Minh").as("timezone"),
              struct(col("c_nationkey").as("id"), lit("VN").as("code"),
                lit("Vietnam").as("name")).as("country"),
              struct(((col("c_custkey") % 90).cast("double") + 0.25)
                  .as("latitude"),
                ((col("c_custkey") % 180).cast("double") + 0.5)
                  .as("longitude")).as("coordinates"),
              array(sensor(1, "pm25"), sensor(2, "pm10")).as("sensors"),
              struct(lit("2024-01-01T00:00:00Z").as("utc"),
                lit(null).cast("string").as("local")).as("datetimeFirst"),
              struct(lit("2024-06-01T00:00:00Z").as("utc"),
                lit(null).cast("string").as("local")).as("datetimeLast"))
          graft.pipeline.Sink.writeWrapped(locs, s"$base/loc", "locations",
            java.sql.Timestamp.valueOf("2024-06-01 00:00:00"))
          graft.pipeline.Extract.sensorDimension(
              graft.pipeline.Extract.readLocations(s, s"$base/loc"))
            .orderBy("sensor_id")
            .localCheckpoint(true)
        } finally dropStaged(base)
      },
      oracle = Some("""
        WITH c AS (SELECT c_custkey AS id, c_name, c_mktsegment
                   FROM customer WHERE c_custkey < 300),
        s AS (SELECT id * 10 + 1 AS sensor_id, id, c_name, c_mktsegment FROM c
              UNION ALL
              SELECT id * 10 + 2, id, c_name, c_mktsegment FROM c)
        SELECT sensor_id, id AS location_id, c_name AS location_name,
               CASE WHEN id % 3 = 0 THEN 'Unknown'
                    ELSE c_mktsegment END AS city,
               'Asia/Ho_Chi_Minh' AS timezone, 'VN' AS country,
               CAST(id % 90 AS DOUBLE) + 0.25 AS latitude,
               CAST(id % 180 AS DOUBLE) + 0.5 AS longitude
        FROM s ORDER BY sensor_id""")),

    // S4 hour-keyed raw-zone round-trip: Sink.writeHourlyNdjson lands
    // events under y/m/d/h directories (partition values derived from
    // the event time and dropped from file content, as the reference
    // does by hand); the read-back groups BY THE DIRECTORY KEYS, so the
    // oracle equality proves the layout derivation itself.
    "q143_hourly_ndjson" -> QueryDef(
      fn = (s, d) => {
        val base = java.nio.file.Files.createTempDirectory("graft-hourly")
        try {
          graft.pipeline.Sink.writeHourlyNdjson(
            t(s, d, "events").select("event_id", "ts", "event_type", "value"),
            "ts", s"$base/raw")
          s.read.schema(StructType(Seq(
              StructField("event_id", LongType),
              StructField("event_type", StringType),
              StructField("value", DoubleType))))
            .json(s"$base/raw")
            .groupBy(col("y").cast("long").as("y"),
              col("m").cast("long").as("m"), col("d").cast("long").as("d"),
              col("h").cast("long").as("h"))
            .agg(count(lit(1)).as("n"), exactSum(col("value")).as("sum_value"))
            .orderBy("y", "m", "d", "h")
            .localCheckpoint(true)
        } finally dropStaged(base)
      },
      oracle = Some(s"""
        SELECT CAST(strftime(ts, '%Y') AS BIGINT) AS y,
               CAST(strftime(ts, '%m') AS BIGINT) AS m,
               CAST(strftime(ts, '%d') AS BIGINT) AS d,
               CAST(strftime(ts, '%H') AS BIGINT) AS h,
               count(*) AS n, ${sumSql("value")} AS sum_value
        FROM events GROUP BY 1, 2, 3, 4 ORDER BY y, m, d, h""")),

    // S3+P2+S2 round-trip: the partitioned parquet MART sink
    // (repartition-by-partition-cols + sortWithinPartitions +
    // partitionBy + maxRecordsPerFile — the production layout writer)
    // written from derivePartitions output (year int, month/day
    // zero-padded strings: the reference's asymmetric contract), read
    // back through partition DISCOVERY, and aggregated by the
    // discovered keys. Values prove the year/month/day derivation AND
    // the layout round-trip; casts absorb discovery's string→int
    // type inference (the trap compactPartitions documents).
    "q144_partitioned_mart" -> QueryDef(
      fn = (s, d) => {
        val base = java.nio.file.Files.createTempDirectory("graft-mart")
        try {
          val mart = Transforms.derivePartitions(
            t(s, d, "events").select(col("event_id"),
              col("ts").as("datetime"), col("event_type"), col("value")))
          graft.pipeline.Sink.writePartitioned(mart, s"$base/mart",
            partitionCols = Seq("year", "month", "day"), mode = "overwrite")
          s.read.parquet(s"$base/mart")
            .groupBy(col("year").cast("long").as("y"),
              col("month").cast("long").as("m"),
              col("day").cast("long").as("d"))
            .agg(count(lit(1)).as("n"), exactSum(col("value")).as("sum_value"))
            .orderBy("y", "m", "d")
            .localCheckpoint(true)
        } finally dropStaged(base)
      },
      oracle = Some(s"""
        SELECT CAST(strftime(ts, '%Y') AS BIGINT) AS y,
               CAST(strftime(ts, '%m') AS BIGINT) AS m,
               CAST(strftime(ts, '%d') AS BIGINT) AS d,
               count(*) AS n, ${sumSql("value")} AS sum_value
        FROM events GROUP BY 1, 2, 3 ORDER BY y, m, d""")),

    // P7+P1 as a SELECT: active-sensor filtering over a staged
    // locations envelope — customers %4==0 report a stale datetimeLast
    // (outside the 7-day window of the injected asOf) and are dropped;
    // each survivor carries one sensor whose RAW parameter name 'PM2.5'
    // must normalize to 'pm25' to survive the required-parameter match
    // (the reference's HCMC naming fix) while its 'co2' sibling is
    // filtered out. The oracle derives the surviving set from customer.
    "q145_active_sensors" -> QueryDef(
      fn = (s, d) => {
        val base = java.nio.file.Files.createTempDirectory("graft-act")
        try {
          def sensor(n: Int, param: String) = struct(
            (col("c_custkey") * 10 + n).as("id"),
            concat(lit(s"sensor-$n-"), col("c_custkey")).as("name"),
            struct(lit(n.toLong).as("id"), lit(param).as("name"),
              lit("\u00b5g/m\u00b3").as("units"), lit(param).as("displayName"))
              .as("parameter"))
          val locs = t(s, d, "customer").filter(col("c_custkey") < 300)
            .select(
              col("c_custkey").as("id"), col("c_name").as("name"),
              col("c_mktsegment").as("locality"),
              lit("Asia/Ho_Chi_Minh").as("timezone"),
              struct(col("c_nationkey").as("id"), lit("VN").as("code"),
                lit("Vietnam").as("name")).as("country"),
              struct(lit(10.75).as("latitude"), lit(106.5).as("longitude"))
                .as("coordinates"),
              array(sensor(1, "PM2.5"), sensor(2, "co2")).as("sensors"),
              struct(lit("2024-01-01T00:00:00Z").as("utc"),
                lit(null).cast("string").as("local")).as("datetimeFirst"),
              struct(
                when(col("c_custkey") % 4 === 0,
                    lit("2024-05-20T00:00:00Z"))
                  .otherwise(lit("2024-05-30T00:00:00Z")).as("utc"),
                lit(null).cast("string").as("local")).as("datetimeLast"))
          graft.pipeline.Sink.writeWrapped(locs, s"$base/loc", "locations",
            java.sql.Timestamp.valueOf("2024-06-01 00:00:00"))
          graft.pipeline.Extract.activeSensors(
              graft.pipeline.Extract.readLocations(s, s"$base/loc"),
              asOf = java.sql.Timestamp.valueOf("2024-06-01 00:00:00"))
            .orderBy("sensor_id")
            .localCheckpoint(true)
        } finally dropStaged(base)
      },
      oracle = Some("""
        SELECT c_custkey * 10 + 1 AS sensor_id,
               c_custkey AS location_id, 'pm25' AS parameter
        FROM customer WHERE c_custkey < 300 AND c_custkey % 4 <> 0
        ORDER BY sensor_id""")),

    // The WHOLE reference dataflow as one oracle-checked SELECT: raw
    // NDJSON staged from events (every 13th datetime invalid), then
    // readRawQuarantined (S1: declared schema + corrupt-line split) →
    // parse (P1, invalid→null) → drop (P6) → derive (P2) → rank-dedup
    // (W1, deterministic tie) → pivot (A1) → metadata + broadcast
    // enrich (P3+J1) → fill defaults (P5) — the full mart, row-wise.
    // Every mart-visible column is a function of (location_id, datetime,
    // parameter, value), so the dedup/dropDuplicates survivor choice
    // cannot leak nondeterminism. The oracle rebuilds the mart in SQL;
    // its tie-break spells NULLS FIRST because Spark's window asc is
    // nulls-first while DuckDB defaults nulls-last. Staging + oracle are
    // shared with q152 ([[stagedRawFrame]] / [[rawPipelineOracleSql]])
    // so the bare-transform and the full-job gates cannot drift.
    "q147_raw_pipeline" -> QueryDef(
      fn = (s, d) => {
        val base = java.nio.file.Files.createTempDirectory("graft-rawpipe")
        try {
          graft.pipeline.Sink.writeNdjson(stagedRawFrame(s, d), s"$base/raw")
          val cfg = graft.pipeline.Schemas.JobConfig(
            inputPath = s"$base/raw", outputPath = s"$base/out")
          val (rawDf, quarantined) =
            graft.pipeline.OpenAqPipeline.readRawQuarantined(s, cfg)
          // staged lines are all well-formed; assert the quarantine
          // channel is empty so a schema drift cannot silently shrink
          // the mart (the split itself is ExtractSpec/PipelineSpec-tested
          // on malformed fixtures)
          require(quarantined.isEmpty, "unexpected quarantined raw lines")
          val (_, _, mart) = graft.pipeline.OpenAqPipeline.transform(rawDf, cfg)
          mart
            .withColumn("year", col("year").cast("long"))
            .orderBy("location_id", "datetime")
            .localCheckpoint(true)
        } finally dropStaged(base)
      },
      oracle = Some(rawPipelineOracleSql(""))),

    // §2.11 + A3/A4 under the oracle gate: the SAME staged raw data as
    // q147, through the full job [[graft.pipeline.OpenAqPipeline.run]],
    // which collects every reference-logged metric by Observation during
    // its one materialization of the mart. The result carries the
    // observed counts as constant columns, so the oracle proves BOTH
    // claims at once: (a) the instrumented pipeline emits the
    // byte-identical mart, and (b) raw/dedup/pivot/mart counts match an
    // independent SQL recomputation. The CollectMetrics double-count
    // hazard run's scaladoc designs around (a broadcast metadata branch
    // re-reading an observed scan) would surface here as n_raw doubling
    // → hash red.
    "q152_observed_pipeline" -> QueryDef(
      fn = (s, d) => {
        val base = java.nio.file.Files.createTempDirectory("graft-obspipe")
        try {
          graft.pipeline.Sink.writeNdjson(stagedRawFrame(s, d), s"$base/raw")
          val cfg = graft.pipeline.Schemas.JobConfig(
            inputPath = s"$base/raw", outputPath = s"$base/out",
            writeMode = "overwrite-dynamic")
          val (_, m) = graft.pipeline.OpenAqPipeline
            .run(s, cfg, viewName = "q152_mart")
          // read the mart BACK from the registered view over the written
          // parquet rather than re-materializing the logical frame: run
          // already executed the whole lineage once (that's what the
          // Observations rode), and the round trip through the sink is
          // the stronger gate — byte-level through partitioned parquet,
          // string partition values preserved by the declared schema
          // (see run's re-read comment)
          s.table("q152_mart")
            .withColumn("year", col("year").cast("long"))
            .withColumn("n_raw", lit(m.rawCount))
            .withColumn("n_dedup", lit(m.dedupCount))
            .withColumn("n_pivot", lit(m.pivotCount))
            .withColumn("n_mart", lit(m.enrichedCount))
            .orderBy("location_id", "datetime")
            .localCheckpoint(true)
        } finally {
          // the view points at $base/out, which the next line deletes — a
          // dangling catalog entry would shadow any later same-named view
          s.catalog.dropTempView("q152_mart")
          dropStaged(base)
        }
      },
      oracle = Some(rawPipelineOracleSql("""
        , (SELECT count(*) FROM raw) AS n_raw
        , (SELECT count(*) FROM surv) AS n_dedup
        , (SELECT count(*) FROM surv) AS n_pivot
        , (SELECT count(*) FROM surv) AS n_mart""")))
  )

  /** q147/q152's shared raw staging: events re-shaped into the
    * reference's raw-measurement NDJSON layout — every 13th datetime
    * invalid (P6 has real work), city/country/latitude null on modular
    * slices (P5 has real work), five parameters from event_type (A1
    * pivots all of them).
    */
  private def stagedRawFrame(s: SparkSession, d: String): DataFrame = {
    val loc = col("user_id") % 50
    t(s, d, "events").select(
      loc.as("location_id"),
      col("event_id").as("sensor_id"),
      when(col("event_id") % 13 === 0, lit("not-a-ts"))
        .otherwise(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))
        .as("datetime"),
      when(col("event_type") === "click", "pm25")
        .when(col("event_type") === "view", "pm10")
        .when(col("event_type") === "error", "no2")
        .when(col("event_type") === "purchase", "o3")
        .otherwise("co").as("parameter"),
      col("value"),
      lit("\u00b5g/m\u00b3").as("unit"),
      when(loc % 5 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("City_"), loc)).as("city"),
      when(loc % 7 === 0, lit(null).cast("string"))
        .otherwise(lit("TH")).as("country"),
      when(loc % 11 === 0, lit(null).cast("double"))
        .otherwise(loc.cast("double") + 0.25).as("latitude"),
      (loc.cast("double") + 0.5).as("longitude"),
      concat(lit("Loc_"), loc).as("location_name"),
      lit("Asia/Ho_Chi_Minh").as("timezone"),
      lit("2024-06-01T00:00:00Z").as("extracted_at"))
  }

  /** The mart-rebuild oracle shared VERBATIM by q147 (bare `transform`)
    * and q152 (the full `run`) — identical mart rows are the
    * transform/run parity claim; `extraCols` appends q152's
    * observed-count columns (scalar subqueries over the same CTEs).
    */
  private def rawPipelineOracleSql(extraCols: String): String = s"""
        WITH raw AS (
          SELECT user_id % 50 AS loc, event_id,
                 CASE WHEN event_id % 13 = 0 THEN NULL
                      ELSE strftime(ts, '%Y-%m-%d %H:%M:%S') END AS dts,
                 CASE event_type WHEN 'click' THEN 'pm25'
                      WHEN 'view' THEN 'pm10' WHEN 'error' THEN 'no2'
                      WHEN 'purchase' THEN 'o3' ELSE 'co' END AS parameter,
                 value
          FROM events),
        valid AS (SELECT loc, CAST(dts AS TIMESTAMP) AS dt, parameter, value
                  FROM raw WHERE dts IS NOT NULL),
        surv AS (SELECT loc, dt, parameter, value FROM (
                   SELECT loc, dt, parameter, value, row_number() OVER (
                     PARTITION BY loc, dt
                     ORDER BY parameter ASC NULLS FIRST,
                              value ASC NULLS FIRST) AS rn
                   FROM valid) WHERE rn = 1)
        SELECT CAST(loc AS VARCHAR) AS location_id, dt AS datetime,
               year(dt) AS year,
               lpad(CAST(month(dt) AS VARCHAR), 2, '0') AS month,
               lpad(CAST(day(dt) AS VARCHAR), 2, '0') AS day,
               CASE WHEN parameter = 'pm25' THEN value END AS pm25,
               CASE WHEN parameter = 'pm10' THEN value END AS pm10,
               CASE WHEN parameter = 'no2' THEN value END AS no2,
               CAST(NULL AS DOUBLE) AS so2,
               CASE WHEN parameter = 'o3' THEN value END AS o3,
               CASE WHEN parameter = 'co' THEN value END AS co,
               CAST(NULL AS DOUBLE) AS bc,
               'Loc_' || CAST(loc AS VARCHAR) AS location_name,
               CASE WHEN loc % 5 = 0 THEN 'Unknown'
                    ELSE 'City_' || CAST(loc AS VARCHAR) END AS city_name,
               CASE WHEN loc % 7 = 0 THEN 'VN' ELSE 'TH' END AS country_code,
               CASE WHEN loc % 11 = 0 THEN 0.0 ELSE loc + 0.25 END AS latitude,
               loc + 0.5 AS longitude$extraCols
        FROM surv ORDER BY location_id, datetime"""
}
