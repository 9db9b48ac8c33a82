package graft.queries

import graft.functions.Aqi
import graft.pipeline.Transforms
import org.apache.spark.sql.functions._


import Catalog._

/** reference-parity scan / aggregate / window / join / scalar surface (q01-q17).
  *
  * One slice of the query catalog (split from the single 3.9k-line map
  * in round 5). Entry ORDER is load-bearing: [[Catalog.all]] is a
  * ListMap concatenated slice-by-slice, and oracle_sql.json iterates
  * it in insertion order.
  */
private[queries] object CatalogCore {
  def entries: Seq[(String, QueryDef)] = Seq(
    // ===== aggregation / scan surface (SURVEY §2.4) =====

    // A3/A5/A6 analog — full-scan grouped aggregate, TPC-H Q1 shape.
    // Headline scan+agg benchmark; reads 6 of 11 lineitem columns.
    "q01_pricing_summary" -> QueryDef(
      fn = (s, d) => t(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          exactSum(col("l_quantity")).as("sum_qty"),
          exactSum(col("l_extendedprice")).as("sum_base_price"),
          exactRevenue(col("l_extendedprice"), col("l_discount")).as("sum_disc_price"),
          exactAvg(col("l_quantity")).as("avg_qty"),
          exactAvg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      oracle = Some(s"""
        SELECT l_returnflag, l_linestatus,
               ${sumSql("l_quantity")} AS sum_qty,
               ${sumSql("l_extendedprice")} AS sum_base_price,
               ${revenueSql("l_extendedprice", "l_discount")} AS sum_disc_price,
               ${avgSql("l_quantity")} AS avg_qty,
               ${avgSql("l_discount")} AS avg_disc,
               count(*) AS count_order
        FROM lineitem GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus"""),
      bench = true),

    // A5 + O2 — group-count ranking, deterministic tie-break.
    "q02_group_count_topk" -> QueryDef(
      fn = (s, d) => t(s, d, "events")
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), col("user_id"), col("event_type"))
        .limit(20),
      oracle = Some("""
        SELECT user_id, event_type, count(*) AS cnt
        FROM events GROUP BY user_id, event_type
        ORDER BY cnt DESC, user_id, event_type LIMIT 20""")),

    // A6 — min/max/count/distinct summary.
    "q03_minmax_summary" -> QueryDef(
      fn = (s, d) => t(s, d, "events").agg(
        count(lit(1)).as("cnt"),
        countDistinct(col("user_id")).as("n_users"),
        min("ts").as("min_ts"),
        max("ts").as("max_ts"),
        exactSum(col("value")).as("sum_value"),
        exactAvg(col("value")).as("avg_value")),
      oracle = Some(s"""
        SELECT count(*) AS cnt, count(DISTINCT user_id) AS n_users,
               min(ts) AS min_ts, max(ts) AS max_ts,
               ${sumSql("value")} AS sum_value, ${avgSql("value")} AS avg_value
        FROM events""")),

    // A7 — conditional counts (SUM(CASE WHEN ...) per category).
    "q04_conditional_counts" -> QueryDef(
      fn = (s, d) => {
        val aggs = eventTypes.map(x =>
          sum(when(col("event_type") === x, 1).otherwise(0)).cast("long").as(s"n_$x"))
        t(s, d, "events").agg(aggs.head, aggs.tail: _*)
      },
      oracle = Some {
        val cols = eventTypes.map(x =>
          s"CAST(sum(CASE WHEN event_type = '$x' THEN 1 ELSE 0 END) AS BIGINT) AS n_$x")
        s"SELECT ${cols.mkString(", ")} FROM events"
      }),

    // A1 — the core long→wide pivot (events stand in for measurements:
    // event_type is the "parameter", value the reading), via the pipeline's
    // pivot operator with an explicit value list (no distinct-collect job).
    "q05_pivot_event_values" -> QueryDef(
      fn = (s, d) => t(s, d, "events")
        .transform(Transforms.pivotParameters(
          keys = Seq("user_id"), pivotCol = "event_type",
          valueCol = "value", values = Some(eventTypes),
          agg = c => sum(cents(c)).cast("double") / 100.0 / count(c)))
        .select(col("user_id") +: eventTypes.map(x => col(x)): _*)
        .orderBy("user_id"),
      oracle = Some {
        val cols = eventTypes.map(x =>
          s"""(CAST(sum(CASE WHEN event_type = '$x' THEN ${centsSql("value")} END) AS DOUBLE)
              / 100.0 / count(CASE WHEN event_type = '$x' THEN value END)) AS "$x"""")
        s"""SELECT user_id, ${cols.mkString(", ")}
            FROM events GROUP BY user_id ORDER BY user_id"""
      },
      bench = true),

    // ===== window / dedup (W1, P4, A2) =====

    // W1 — rank-based dedup, deterministic tie-break mode: first event per
    // (user, type) by (ts, event_id), via the pipeline's dedup operator.
    "q06_window_dedup" -> QueryDef(
      fn = (s, d) => t(s, d, "events")
        .transform(Transforms.dedupByRank(
          Seq("user_id", "event_type"), Seq(col("ts"), col("event_id"))))
        .select("event_id", "user_id", "event_type", "ts", "value")
        .orderBy("user_id", "event_type"),
      oracle = Some("""
        SELECT event_id, user_id, event_type, ts, value FROM (
          SELECT event_id, user_id, event_type, ts, value,
                 row_number() OVER (PARTITION BY user_id, event_type
                                    ORDER BY ts, event_id) AS rn
          FROM events) WHERE rn = 1
        ORDER BY user_id, event_type""")),

    // A10 — DISTINCT projection.
    "q07_distinct" -> QueryDef(
      fn = (s, d) => t(s, d, "documents")
        .select("lang", "source").distinct().orderBy("lang", "source"),
      oracle = Some(
        "SELECT DISTINCT lang, source FROM documents ORDER BY lang, source")),

    // ===== joins (J1-J3 + the shapes the reference lacks) =====

    // J1 + P5 — broadcast left-join enrichment with fill-defaults, then
    // grouped rollup (the mart enrichment shape on TPC-H keys).
    "q08_enrich_join" -> QueryDef(
      fn = (s, d) => t(s, d, "orders")
        .join(broadcast(t(s, d, "customer")),
          col("o_custkey") === col("c_custkey"), "left")
        .withColumn("mktsegment", coalesce(col("c_mktsegment"), lit("Unknown")))
        .groupBy("mktsegment")
        .agg(count(lit(1)).as("n_orders"),
             exactSum(col("o_totalprice")).as("total_price"))
        .orderBy("mktsegment"),
      oracle = Some(s"""
        SELECT coalesce(c_mktsegment, 'Unknown') AS mktsegment,
               count(*) AS n_orders, ${sumSql("o_totalprice")} AS total_price
        FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        GROUP BY 1 ORDER BY mktsegment"""),
      bench = true),

    // Dimension join chain (customer → nation → region), both broadcast.
    "q09_join_chain" -> QueryDef(
      fn = (s, d) => t(s, d, "customer")
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n_customers"),
             exactSum(col("c_acctbal")).as("total_acctbal"))
        .orderBy("r_name", "n_name"),
      oracle = Some(s"""
        SELECT r_name, n_name, count(*) AS n_customers,
               ${sumSql("c_acctbal")} AS total_acctbal
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name ORDER BY r_name, n_name""")),

    // ===== projections / scalar functions (P1, P2, F2, F3) =====

    // P1 + P2 — timestamp parse and partition-column derivation via the
    // pipeline operator (year int, month/day zero-padded strings — the
    // reference's contract asymmetry, cast long here for oracle parity).
    "q10_derive_partitions" -> QueryDef(
      fn = (s, d) => t(s, d, "events")
        .withColumnRenamed("ts", "datetime")
        .transform(Transforms.derivePartitions)
        .select(col("event_id"), col("year").cast("long").as("year"),
                col("month"), col("day"))
        .orderBy("event_id"),
      oracle = Some("""
        SELECT event_id, year(ts) AS year,
               lpad(CAST(month(ts) AS VARCHAR), 2, '0') AS month,
               lpad(CAST(day(ts) AS VARCHAR), 2, '0') AS day
        FROM events ORDER BY event_id""")),

    // P9 — per-column null audit as one distributed aggregate.
    "q11_null_audit" -> QueryDef(
      fn = (s, d) => Transforms.nullAudit(
        t(s, d, "events"),
        Seq("event_id", "ts", "user_id", "event_type", "value", "props")),
      oracle = Some {
        val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
          .map(c => s"count(CASE WHEN $c IS NULL THEN 1 END) AS $c")
        s"SELECT ${cols.mkString(", ")} FROM events"
      }),

    // P5 + F7/F14 — null-injection + fill-defaults (na.fill on a real null).
    "q12_fill_defaults" -> QueryDef(
      fn = (s, d) => t(s, d, "events")
        .withColumn("etype",
          when(col("event_type") === "error", lit(null)).otherwise(col("event_type")))
        .na.fill(Map("etype" -> "Unknown"))
        .select("event_id", "etype")
        .orderBy("event_id"),
      oracle = Some("""
        SELECT event_id, coalesce(nullif(event_type, 'error'), 'Unknown') AS etype
        FROM events ORDER BY event_id""")),

    // P10 — range predicates (pushed to the parquet scan) + rollup.
    "q13_range_filter" -> QueryDef(
      fn = (s, d) => t(s, d, "lineitem")
        .filter(col("l_quantity").between(10.0, 40.0) &&
                col("l_discount").between(0.02, 0.08))
        .agg(count(lit(1)).as("cnt"),
             exactRevenue(col("l_extendedprice"), col("l_discount")).as("revenue")),
      oracle = Some(s"""
        SELECT count(*) AS cnt,
               ${revenueSql("l_extendedprice", "l_discount")} AS revenue
        FROM lineitem
        WHERE l_quantity BETWEEN 10.0 AND 40.0
          AND l_discount BETWEEN 0.02 AND 0.08""")),

    // A11 — metadata-consistency audit (distinct tuples per group).
    "q14_metadata_consistency" -> QueryDef(
      fn = (s, d) => t(s, d, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
             countDistinct(col("lang")).as("n_langs"))
        .withColumn("inconsistent", col("n_langs") > 1)
        .orderBy("source"),
      oracle = Some("""
        SELECT source, count(*) AS n_docs, count(DISTINCT lang) AS n_langs,
               count(DISTINCT lang) > 1 AS inconsistent
        FROM documents GROUP BY source ORDER BY source""")),

    // F12 — event-time bucketing (the streaming windowed-agg shape, batch).
    "q15_hour_bucket" -> QueryDef(
      fn = (s, d) => t(s, d, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("cnt"), exactAvg(col("value")).as("avg_value"))
        .orderBy("hour"),
      oracle = Some(s"""
        SELECT date_trunc('hour', ts) AS hour, count(*) AS cnt,
               ${avgSql("value")} AS avg_value
        FROM events GROUP BY 1 ORDER BY hour""")),

    // §2.10 — the AQI suite as pure Column expressions (no UDF): piecewise
    // linear interpolation + category, SQL generated from the same
    // breakpoint table.
    "q16_aqi" -> QueryDef(
      fn = (s, d) => {
        val raw = Aqi.subIndexRaw(col("value"), Aqi.pm25Breakpoints)
        t(s, d, "events")
          .select(col("event_id"), round(raw, 4).as("aqi"),
                  Aqi.aqiLevel(raw).as("aqi_level"))
          .orderBy("event_id")
      },
      oracle = Some {
        val raw = aqiSqlExpr("value", Aqi.pm25Breakpoints)
        s"""SELECT event_id, round(raw, 4) AS aqi,
                   CASE WHEN raw IS NULL THEN NULL
                        WHEN raw <= 50 THEN 'Good'
                        WHEN raw <= 100 THEN 'Moderate'
                        WHEN raw <= 150 THEN 'Unhealthy for Sensitive Groups'
                        WHEN raw <= 200 THEN 'Unhealthy'
                        WHEN raw <= 300 THEN 'Very Unhealthy'
                        ELSE 'Hazardous' END AS aqi_level
            FROM (SELECT event_id, $raw AS raw FROM events)
            ORDER BY event_id"""
      }),

    // A8 + O2 — date-range filtered grouped avg/max, top-k by avg.
    "q17_top_avg" -> QueryDef(
      fn = (s, d) => t(s, d, "events")
        .filter(col("ts") < lit("2024-01-16").cast("timestamp"))
        .groupBy("user_id")
        .agg(exactAvg(col("value")).as("avg_value"), max("value").as("max_value"))
        .orderBy(desc("avg_value"), col("user_id"))
        .limit(10),
      oracle = Some(s"""
        SELECT user_id, ${avgSql("value")} AS avg_value, max(value) AS max_value
        FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
        GROUP BY user_id ORDER BY avg_value DESC, user_id LIMIT 10""")),
  )
}
