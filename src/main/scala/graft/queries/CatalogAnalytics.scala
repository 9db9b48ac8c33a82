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

/** multi-join analytics, SQL-text surface and mid-catalog operators (q31-q64).
  *
  * One slice of the query catalog (split from the single 3.9k-line map
  * in round 5). Entry ORDER is load-bearing: [[Catalog.all]] is a
  * ListMap concatenated slice-by-slice, and oracle_sql.json iterates
  * it in insertion order.
  */
private[queries] object CatalogAnalytics {
  def entries: Seq[(String, QueryDef)] = Seq(
    // ===== multi-join analytics (flagship) =====

    "q31_region_revenue" -> QueryDef(
      // Revenue cents are pre-aggregated PER ORDER below the join: the
      // lineitem->orders exchange then carries |orders| rows instead of
      // |lineitem| (~4x fewer at every sf), and n_orders becomes a plain
      // count of the pre-agg rows instead of a countDistinct EXPAND
      // (x2 row multiplication) over the joined fact. Same exact-cents
      // result; at 100 TB this is the difference between shuffling the
      // fact table once at order grain vs lineitem grain + an expand.
      fn = (s, d) => t(s, d, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(cents(col("l_extendedprice")) *
          (lit(100L) - cents(col("l_discount")))).as("__rc"))
        .join(t(s, d, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, d, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(
          (sum(col("__rc")).cast("double") / 10000.0).as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy("r_name"),
      oracle = Some(s"""
        SELECT r_name,
               ${revenueSql("l_extendedprice", "l_discount")} AS revenue,
               count(DISTINCT o_orderkey) AS n_orders
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name ORDER BY r_name"""),
      bench = true),

    // Semi join (EXISTS) — a join shape the reference lacks.
    "q32_semi_join" -> QueryDef(
      fn = (s, d) => t(s, d, "orders")
        .join(t(s, d, "lineitem").filter(col("l_quantity") > 49)
                .select("l_orderkey"),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"))
        .orderBy("o_orderpriority"),
      oracle = Some("""
        SELECT o_orderpriority, count(*) AS n
        FROM orders o
        WHERE EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 49)
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // Anti join (NOT EXISTS). The orders side is restricted to big-ticket
    // orders (>400k; ~13% of orders) so the anti set is non-empty at every
    // sf — 20/202/1997 customers at sf0.001/0.01/0.1. The unrestricted
    // version returned 0 rows at sf0.01: a vacuously-passing test.
    "q33_anti_join" -> QueryDef(
      fn = (s, d) => t(s, d, "customer")
        .join(t(s, d, "orders").filter(col("o_totalprice") > 400000)
                .select("o_custkey"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"))
        .orderBy("c_mktsegment"),
      oracle = Some("""
        SELECT c_mktsegment, count(*) AS n
        FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_totalprice > 400000)
        GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // ===== SQL-text surface (S11 — the Athena entry point on spark.sql) =====

    "q34_sql_text_surface" -> QueryDef(
      fn = (s, d) => {
        t(s, d, "events").createOrReplaceTempView("events_v")
        s.sql("""SELECT user_id, COUNT(*) AS count FROM events_v
                 GROUP BY user_id ORDER BY count DESC, user_id""")
      },
      oracle = Some("""
        SELECT user_id, COUNT(*) AS count FROM events
        GROUP BY user_id ORDER BY count DESC, user_id""")),

    // A9 — AQI aggregate validation query (count/avg/min/max over the
    // computed sub-index; 2-dp snap + exact decimal sum for the average).
    "q35_aqi_summary" -> QueryDef(
      fn = (s, d) => {
        val aqi2 = round(Aqi.subIndexRaw(col("value"), Aqi.pm25Breakpoints), 2)
        t(s, d, "events").agg(
          count(lit(1)).as("total"),
          count(aqi2).as("aqi_count"),
          (sum(cents(aqi2)).cast("double") / 100.0 / count(aqi2)).as("aqi_avg"),
          min(aqi2).as("aqi_min"),
          max(aqi2).as("aqi_max"))
      },
      oracle = Some {
        val raw = aqiSqlExpr("value", Aqi.pm25Breakpoints)
        s"""SELECT count(*) AS total, count(aqi2) AS aqi_count,
                   (CAST(sum(${centsSql("aqi2")}) AS DOUBLE) / 100.0 / count(aqi2)) AS aqi_avg,
                   min(aqi2) AS aqi_min, max(aqi2) AS aqi_max
            FROM (SELECT round($raw, 2) AS aqi2 FROM events)"""
      }),

    // Rollup (engine extension — the reference has no grouping sets).
    "q36_rollup" -> QueryDef(
      fn = (s, d) => t(s, d, "customer")
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_customers"))
        .select(coalesce(col("r_name"), lit("ALL")).as("region"),
                coalesce(col("n_name"), lit("ALL")).as("nation"),
                col("n_customers"))
        .orderBy("region", "nation"),
      oracle = Some("""
        SELECT coalesce(r_name, 'ALL') AS region,
               coalesce(n_name, 'ALL') AS nation,
               count(*) AS n_customers
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP(r_name, n_name) ORDER BY region, nation""")),

    // §2.11 — the catalog-validation stage (list tables, count each) as a
    // single distributed result.
    "q37_catalog_validation" -> QueryDef(
      fn = (s, d) => graft.Tables.names
        .map(n => t(s, d, n).agg(count(lit(1)).as("n"))
          .select(lit(n).as("table_name"), col("n")))
        .reduce(_.unionAll(_))
        .orderBy("table_name"),
      oracle = Some(graft.Tables.names
        .map(n => s"SELECT '$n' AS table_name, count(*) AS n FROM $n")
        .mkString("", " UNION ALL ", " ORDER BY table_name"))),

    // F10 — date arithmetic with a scalar subquery ("last 24 h of data").
    "q38_recent_window" -> QueryDef(
      fn = (s, d) => {
        t(s, d, "events").createOrReplaceTempView("events_recent_v")
        s.sql(s"""SELECT COUNT(*) AS n,
                         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
                  FROM events_recent_v
                  WHERE ts >= (SELECT max(ts) - INTERVAL 24 HOURS FROM events_recent_v)""")
      },
      oracle = Some("""
        SELECT COUNT(*) AS n,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
        FROM events
        WHERE ts >= (SELECT max(ts) - INTERVAL 24 HOUR FROM events)""")),

    // §2.7 — set operations (EXCEPT / INTERSECT with a provenance tag).
    "q39_set_ops" -> QueryDef(
      fn = (s, d) => {
        val a = t(s, d, "events").filter(col("value") > 190)
          .select("user_id").distinct()
        val b = t(s, d, "events").filter(col("event_type") === "purchase")
          .select("user_id").distinct()
        a.except(b).withColumn("op", lit("except"))
          .unionAll(a.intersect(b).withColumn("op", lit("intersect")))
          .orderBy("op", "user_id")
      },
      oracle = Some("""
        SELECT user_id, 'except' AS op FROM (
          SELECT DISTINCT user_id FROM events WHERE value > 190
          EXCEPT
          SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
        UNION ALL
        SELECT user_id, 'intersect' AS op FROM (
          SELECT DISTINCT user_id FROM events WHERE value > 190
          INTERSECT
          SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
        ORDER BY op, user_id""")),

    // Stateful sessionization (gap-based) — the lag + cumulative-sum window
    // idiom; streaming twin lives in ops.Sessionize.streamingSessions.
    "q40_sessionize" -> QueryDef(
      fn = (s, d) => graft.ops.Sessionize
        .sessionSummaries(t(s, d, "events"), gapMinutes = 30)
        .orderBy("user_id", "session_id"),
      bench = true,
      oracle = Some("""
        SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
               min(ts) AS session_start, max(ts) AS session_end,
               count(*) AS n_events,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
        FROM (
          SELECT user_id, ts, value,
                 sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS session_id
          FROM (
            SELECT user_id, ts, value,
                   CASE WHEN prev_ts IS NULL
                          OR ts > prev_ts + INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS is_new
            FROM (SELECT user_id, ts, value,
                         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
                  FROM events)))
        GROUP BY user_id, session_id
        ORDER BY user_id, session_id""")),

    // Two-phase salted aggregation (hot-key mitigation) — must be
    // result-identical to the plain group-count the oracle computes.
    "q41_salted_agg" -> QueryDef(
      fn = (s, d) => graft.ops.Skew
        .saltedCount(t(s, d, "events"), Seq("event_type"), saltBuckets = 8)
        .orderBy("event_type"),
      oracle = Some("""
        SELECT event_type, count(*) AS n
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // F13 — JSON field extraction from the event props payload.
    "q42_json_extract" -> QueryDef(
      fn = (s, d) => t(s, d, "events")
        .select(col("event_id"),
                get_json_object(col("props"), "$.k").cast("long").as("k"))
        .orderBy("event_id"),
      oracle = Some("""
        SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        FROM events ORDER BY event_id""")),

    // As-of join: each click enriched with the user's most recent purchase
    // at or before it. Spark lacks the operator; since round 14 the entry
    // point is AsOfJoin.asofAuto — the stats-based dispatcher (r13
    // verdict #5: auto is the DEFAULT as-of surface, fixed surfaces are
    // for pinning specific routes). At every test sf the purchase side
    // sits under the broadcast threshold, so this lands on the
    // zero-shuffle broadcast-probe rung (PlanSpec pins it); an oversize
    // right side would re-route to the merge exec with the same output.
    // DuckDB's native ASOF LEFT JOIN is the oracle either way.
    "q43_asof_join" -> QueryDef(
      fn = (s, d) => {
        val ev = t(s, d, "events")
        val clicks = clickNeedles(ev)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("p_ts"), col("value").as("p_value"))
        graft.ops.AsOfJoin.asofAuto(clicks, purchases,
            on = Seq("user_id"), leftTs = "ts", rightTs = "p_ts",
            rightCols = Seq("p_value"))
          .orderBy("event_id")
      },
      bench = true,
      oracle = Some("""
        SELECT l.event_id, l.user_id, l.ts, r.value AS p_value, r.ts AS asof_ts
        FROM (SELECT * FROM events WHERE event_type = 'click') l
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
          ON l.user_id = r.user_id AND l.ts >= r.ts
        ORDER BY l.event_id""")),

    // Range (interval-containment) join via time binning: error events
    // matched to the session interval containing them. A theta-join would
    // plan nested-loop; the binned form is an equi-join (spec-asserted).
    "q45_range_join" -> QueryDef(
      fn = (s, d) => {
        val ev = t(s, d, "events")
        val sessions = graft.ops.Sessionize.sessionSummaries(ev, gapMinutes = 30)
          .select(col("user_id"), col("session_id"),
                  col("session_start"), col("session_end"))
        val errors = ev.filter(col("event_type") === "error")
          .select("event_id", "user_id", "ts")
        graft.ops.RangeJoin.pointInInterval(errors, sessions,
            Seq("user_id"), "ts", "session_start", "session_end", "1 hour")
          .select(col("event_id"), col("user_id"), col("ts"), col("session_id"))
          .orderBy("event_id")
      },
      oracle = Some("""
        WITH sess AS (
          SELECT user_id, session_id, min(ts) AS session_start, max(ts) AS session_end
          FROM (
            SELECT user_id, ts,
                   sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS UNBOUNDED PRECEDING) AS session_id
            FROM (
              SELECT user_id, ts,
                     CASE WHEN prev_ts IS NULL
                            OR ts > prev_ts + INTERVAL 30 MINUTE
                          THEN 1 ELSE 0 END AS is_new
              FROM (SELECT user_id, ts,
                           lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
                    FROM events)))
          GROUP BY user_id, session_id)
        SELECT e.event_id, e.user_id, e.ts, CAST(s.session_id AS BIGINT) AS session_id
        FROM events e JOIN sess s
          ON e.user_id = s.user_id
         AND e.ts >= s.session_start AND e.ts <= s.session_end
        WHERE e.event_type = 'error'
        ORDER BY e.event_id""")),

    // IVF-Flat ANN (k-means coarse quantizer + nprobe lists) — the
    // similarity-search scale path — emitted as its quality guarantee
    // vs the in-engine brute-force baseline, same gate shape as q30
    // but a much higher floor (nprobe=4 of 8 lists holds the per-query
    // cosine-sum ratio ≥0.90 at every tested sf): the oracle asserts
    // every query clears Q44_QUALITY_FLOOR, so a broken quantizer
    // (dim mismatch, collapsed clusters, wrong probe ranking) goes red
    // instead of unchecked. Training is deterministic (lowest-id seeds,
    // stable tie-breaks) so the booleans are too.
    "q44_ivf_knn" -> QueryDef(
      fn = (s, d) => {
        val emb = t(s, d, "embeddings")
        val queries = emb.filter(col("vec_id") < 20)
        val model = graft.ops.IvfIndex.train(emb, "vec_id", "embedding",
          k = 8, iterations = 3)
        val indexed = graft.ops.IvfIndex.index(emb, "embedding", model)
        val approx = graft.ops.IvfIndex.search(
          queries, indexed, model, k = 5, nprobe = 4)
        val exact = Similarity.bruteForceTopK(queries, emb, k = 5)
        val exactSum = exact.groupBy("query_id")
          .agg(sum("cosine").as("exact_sum"))
        val approxSum = approx.groupBy("query_id")
          .agg(sum("cosine").as("approx_sum"))
        queries.select(col("vec_id").as("query_id"))
          .join(exactSum, Seq("query_id"))
          .join(approxSum, Seq("query_id"), "left")
          .select(col("query_id"),
            (coalesce(col("approx_sum"), lit(0.0))
              >= col("exact_sum") * Q44_QUALITY_FLOOR).as("quality_ok"))
          .orderBy("query_id")
      },
      oracle = Some(annQualityOracleSql)),

    // Connected components over near-dup PAIRS → duplicate GROUPS with a
    // canonical id (the transitive-closure step after any LSH pass).
    // Construction: corpus tripled with id-shifted exact copies; edges are
    // the CHAIN per fingerprint group (a-b, b-c), so single-hop
    // canonicalization would get c wrong — the oracle result requires real
    // transitivity. Labels converge by distributed min-propagation; nothing
    // touches the driver but the convergence counter.
    "q46_dup_clusters" -> QueryDef(
      fn = (s, d) => {
        val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
        val tripled = docs
          .unionAll(docs.select((col("doc_id") + 100000).as("doc_id"), col("text")))
          .unionAll(docs.select((col("doc_id") + 200000).as("doc_id"), col("text")))
        val fp = tripled.select(col("doc_id"), TF.fingerprint(col("text")).as("fp"))
        val w = Window.partitionBy("fp").orderBy("doc_id")
        val edges = fp.withColumn("prev", lag(col("doc_id"), 1).over(w))
          .filter(col("prev").isNotNull)
          .select(col("prev").as("id_a"), col("doc_id").as("id_b"))
        graft.ops.ConnectedComponents.components(edges).orderBy("id")
      },
      // scale-independent oracle: component = min id within each
      // fingerprint group of the tripled corpus (the base corpus may itself
      // contain exact duplicates — at sf0.1 it does — and the chain edges
      // connect the WHOLE group, so the min spans text-equal base docs too)
      oracle = Some(s"""
        WITH t AS (
          SELECT doc_id, text FROM documents
          UNION ALL SELECT doc_id + 100000 AS doc_id, text FROM documents
          UNION ALL SELECT doc_id + 200000 AS doc_id, text FROM documents)
        SELECT doc_id AS id,
               min(doc_id) OVER (PARTITION BY f) AS component
        FROM (SELECT doc_id, md5(array_to_string($toksSql, ' ')) AS f FROM t)
        ORDER BY id""")),

    // Multimodal plumbing: opaque binary payloads + typed metadata through
    // the per-partition decode/feature-extract pass (ops.Multimodal — the
    // codec itself is a deterministic stub; the schema, partitioning and
    // batch-iteration shape are real). The oracle proves the pass is
    // row-and-byte exact; width/height/frame stats are spec-asserted.
    "q47_media_features" -> QueryDef(
      fn = (s, d) => {
        val media = graft.ops.Multimodal.syntheticMedia(s, t(s, d, "documents"))
        graft.ops.Multimodal.extractFeatures(media)
          .select(col("media_id"), col("kind"), col("byte_len"))
          .orderBy("media_id")
      },
      oracle = Some("""
        SELECT doc_id AS media_id,
               (['image', 'audio', 'video'])[(doc_id % 3) + 1] AS kind,
               octet_length(encode(text)) AS byte_len
        FROM documents ORDER BY media_id""")),

    // Structured Streaming entry: the same hourly windowed aggregate as
    // q15, executed as a real streaming query (parquet file source →
    // windowed agg → memory sink, complete mode) and checked against the
    // BATCH oracle — stream/batch result parity is the correctness claim.
    "q48_stream_hour_agg" -> QueryDef(
      fn = (s, d) => {
        val dir = stageEventsDir(d)
        val table = try {
          val agg = stagedEventsStream(streamingSession(s), dir)
            .groupBy(window(col("ts"), "1 hour"))
            .agg(count(lit(1)).as("cnt"), exactSum(col("value")).as("sum_value"))
          runToMemoryTable(agg, "q48_mem")
        } finally dropStaged(dir)
        table
          .select(col("window.start").as("hour"), col("cnt"), col("sum_value"))
          .orderBy("hour")
      },
      oracle = Some(s"""
        SELECT date_trunc('hour', ts) AS hour, count(*) AS cnt,
               ${sumSql("value")} AS sum_value
        FROM events GROUP BY 1 ORDER BY hour""")),

    // Window frames — lag/lead and a bounded moving average
    // (ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), deterministic order by
    // (ts, event_id). The frame shapes the reference never uses but any
    // time-series consumer of this engine will.
    "q49_window_frames" -> QueryDef(
      fn = (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val frame = w.rowsBetween(-2, Window.currentRow)
        t(s, d, "events").select(
            col("event_id"), col("user_id"), col("ts"),
            lag(col("value"), 1).over(w).as("prev_value"),
            lead(col("value"), 1).over(w).as("next_value"),
            (sum(cents(col("value"))).over(frame).cast("double") / 100.0 /
              count(col("value")).over(frame)).as("moving_avg"))
          .orderBy("event_id")
      },
      oracle = Some("""
        SELECT event_id, user_id, ts,
               lag(value, 1) OVER w AS prev_value,
               lead(value, 1) OVER w AS next_value,
               (CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER f AS DOUBLE)
                / 100.0 / count(value) OVER f) AS moving_avg
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
               f AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        ORDER BY event_id""")),

    // J3 — static-map lookup join (the reference's hardcoded
    // location→city fix): a `typedLit(Map)` literal evaluated per-row with
    // a coalesce fallback — no join, no shuffle, pure codegen'd expression.
    // The SQL CASE is generated from the same Scala Map.
    "q50_static_map_join" -> QueryDef(
      fn = (s, d) => t(s, d, "events")
        .select(col("event_id"),
          coalesce(element_at(typedLit(eventCategoryMap), col("event_type")),
            lit("other")).as("category"))
        .groupBy("category").agg(count(lit(1)).as("n"))
        .orderBy("category"),
      oracle = Some {
        val whens = eventCategoryMap
          .groupBy(_._2).toSeq.sortBy(_._1)
          .map { case (cat, kvs) =>
            s"WHEN event_type IN (${sqlInList(kvs.keys.toSeq.sorted)}) THEN '$cat'"
          }.mkString(" ")
        s"""SELECT CASE $whens ELSE 'other' END AS category, count(*) AS n
            FROM events GROUP BY 1 ORDER BY category"""
      }),

    // CUBE grouping sets (completes the rollup/cube pair from q36).
    "q51_cube" -> QueryDef(
      fn = (s, d) => t(s, d, "customer")
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .cube(col("r_name"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"),
             exactSum(col("c_acctbal")).as("total_acctbal"))
        .select(coalesce(col("r_name"), lit("ALL")).as("region"),
                coalesce(col("c_mktsegment"), lit("ALL")).as("mktsegment"),
                col("n_customers"), col("total_acctbal"))
        .orderBy("region", "mktsegment"),
      oracle = Some(s"""
        SELECT coalesce(r_name, 'ALL') AS region,
               coalesce(c_mktsegment, 'ALL') AS mktsegment,
               count(*) AS n_customers, ${sumSql("c_acctbal")} AS total_acctbal
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY CUBE(r_name, c_mktsegment) ORDER BY region, mktsegment""")),

    // TPC-H Q14 shape — conditional revenue share over a broadcast
    // fact-dimension join (part is ~2k rows at sf0.01; at 100 TB it stays
    // broadcast-able while lineitem scales out).
    "q52_promo_share" -> QueryDef(
      fn = (s, d) => {
        val promoRev = (sum(when(col("p_type") === "ECONOMY",
            cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))))
          .otherwise(lit(0L))).cast("double") / 10000.0)
        t(s, d, "lineitem")
          .join(broadcast(t(s, d, "part")), col("l_partkey") === col("p_partkey"))
          .groupBy(date_trunc("month", col("l_shipdate")).as("ship_month"))
          .agg(promoRev.as("promo_revenue"),
               exactRevenue(col("l_extendedprice"), col("l_discount")).as("total_revenue"),
               count(lit(1)).as("n_items"))
          .withColumn("promo_share",
            round(col("promo_revenue") / col("total_revenue"), 6))
          .orderBy("ship_month")
      },
      oracle = Some(s"""
        SELECT ship_month, promo_revenue, total_revenue, n_items,
               round(promo_revenue / total_revenue, 6) AS promo_share
        FROM (
          SELECT date_trunc('month', l_shipdate) AS ship_month,
                 CAST(sum(CASE WHEN p_type = 'ECONOMY'
                   THEN ${centsSql("l_extendedprice")} * (100 - ${centsSql("l_discount")})
                   ELSE 0 END) AS DOUBLE) / 10000.0 AS promo_revenue,
                 ${revenueSql("l_extendedprice", "l_discount")} AS total_revenue,
                 count(*) AS n_items
          FROM lineitem JOIN part ON l_partkey = p_partkey
          GROUP BY 1)
        ORDER BY ship_month""")),

    // TPC-H Q9 shape — supplier-nation revenue by ship year; two broadcast
    // dimension hops off the fact table, one shuffle (the final group-by).
    "q53_supplier_volume" -> QueryDef(
      fn = (s, d) => t(s, d, "lineitem")
        .join(broadcast(t(s, d, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), year(col("l_shipdate")).cast("long").as("ship_year"))
        .agg(exactRevenue(col("l_extendedprice"), col("l_discount")).as("revenue"),
             count(lit(1)).as("n_items"))
        .orderBy("n_name", "ship_year"),
      oracle = Some(s"""
        SELECT n_name, year(l_shipdate) AS ship_year,
               ${revenueSql("l_extendedprice", "l_discount")} AS revenue,
               count(*) AS n_items
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        GROUP BY n_name, year(l_shipdate) ORDER BY n_name, ship_year""")),

    // Grouped mean/variance/stddev via EXACT integer moments: S1=sum(c),
    // S2=sum(c^2) over integer cents are exact long sums (order-free),
    // and every downstream double op — including sqrt, which IEEE-754
    // requires to be correctly rounded, unlike ln — runs identically on
    // both engines. This is how you get distributed second moments
    // without Welford-merge FP nondeterminism. S1*S1 is computed in
    // doubles (it can exceed long range; identical doubles → identical
    // product on both sides).
    "q76_group_stats" -> QueryDef(
      fn = (s, d) => {
        val agged = eventValueMoments(t(s, d, "events"))
        val s1 = col("__s1").cast("double")
        val s2 = col("__s2").cast("double")
        val nD = col("__n").cast("double")
        val varC = (s2 - s1 * s1 / nD) / (nD - 1) // sample variance, cents^2
        def snap6(x: org.apache.spark.sql.Column) =
          floor(x * 1000000 + 0.5) / 1000000.0
        agged.select(col("event_type"), col("__n").as("n"),
            snap6(s1 / 100.0 / nD).as("mean_value"),
            snap6(varC / 10000.0).as("var_value"),
            snap6(sqrt(varC) / 100.0).as("std_value"))
          .orderBy("event_type")
      },
      oracle = Some(s"""
        WITH m AS ($momentsSqlCte)
        SELECT event_type, n,
               floor((s1 / 100.0 / n) * 1000000 + 0.5) / 1000000.0
                 AS mean_value,
               floor(((s2 - s1 * s1 / n) / (n - 1) / 10000.0)
                     * 1000000 + 0.5) / 1000000.0 AS var_value,
               floor((sqrt((s2 - s1 * s1 / n) / (n - 1)) / 100.0)
                     * 1000000 + 0.5) / 1000000.0 AS std_value
        FROM m ORDER BY event_type""")),

    // Per-group Pearson correlation via exact CROSS moments — the q76
    // technique extended: Sx, Sy, Sxx, Syy, Sxy are exact long sums over
    // cents, the correlation formula then runs on identical doubles
    // (sqrt only — no ln). Distributed corr without merge-order drift.
    "q78_group_corr" -> QueryDef(
      fn = (s, d) => {
        val x = cents(col("l_quantity"))
        val y = cents(col("l_extendedprice"))
        // second moments sum in DECIMAL(38,0): sum(price_cents^2) already
        // sits at 7.4e18 of long's 9.2e18 at sf0.1 — one 10x scale-up
        // from an ANSI overflow. Per-row products still fit long exactly.
        val agged = t(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum(x).as("__sx"), sum(y).as("__sy"),
            sum((x * x).cast("decimal(38,0)")).as("__sxx"),
            sum((y * y).cast("decimal(38,0)")).as("__syy"),
            sum((x * y).cast("decimal(38,0)")).as("__sxy"))
        val nD = col("n").cast("double")
        def d6(c: org.apache.spark.sql.Column) =
          floor(c * 1000000 + 0.5) / 1000000.0
        val sx = col("__sx").cast("double"); val sy = col("__sy").cast("double")
        val cov = col("__sxy").cast("double") - sx * sy / nD
        val vx = col("__sxx").cast("double") - sx * sx / nD
        val vy = col("__syy").cast("double") - sy * sy / nD
        agged.select(col("l_returnflag"), col("n"),
            d6(cov / (sqrt(vx) * sqrt(vy))).as("corr_qty_price"))
          .orderBy("l_returnflag")
      },
      oracle = Some(s"""
        WITH m AS (SELECT l_returnflag, count(*) AS n,
            CAST(sum(${centsSql("l_quantity")}) AS DOUBLE) AS sx,
            CAST(sum(${centsSql("l_extendedprice")}) AS DOUBLE) AS sy,
            CAST(sum(${centsSql("l_quantity")} * ${centsSql("l_quantity")})
                 AS DOUBLE) AS sxx,
            CAST(sum(${centsSql("l_extendedprice")} * ${centsSql("l_extendedprice")})
                 AS DOUBLE) AS syy,
            CAST(sum(${centsSql("l_quantity")} * ${centsSql("l_extendedprice")})
                 AS DOUBLE) AS sxy
          FROM lineitem GROUP BY l_returnflag)
        SELECT l_returnflag, n,
               floor(((sxy - sx * sy / n)
                      / (sqrt(sxx - sx * sx / n) * sqrt(syy - sy * sy / n)))
                     * 1000000 + 0.5) / 1000000.0 AS corr_qty_price
        FROM m ORDER BY l_returnflag""")),

    // Fixed-width histogram of event values (25-unit buckets, capped
    // tail): corpus/metric profiling — exact integer bucket math, one
    // partial-agg shuffle.
    "q77_value_histogram" -> QueryDef(
      fn = (s, d) => t(s, d, "events")
        .filter(col("value").isNotNull)
        .withColumn("bucket",
          least(floor(col("value") / 25.0), lit(12.0)).cast("long"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"))
        .orderBy("bucket"),
      oracle = Some("""
        SELECT CAST(least(floor(value / 25.0), 12) AS BIGINT) AS bucket,
               count(*) AS n
        FROM events WHERE value IS NOT NULL
        GROUP BY 1 ORDER BY bucket""")),

    // Exact interpolated percentiles per group (both engines implement the
    // same (n-1)*q linear interpolation; 4-dp round absorbs the last bit).
    "q54_percentiles" -> QueryDef(
      fn = (s, d) => t(s, d, "events")
        .groupBy("event_type")
        .agg(round(expr("percentile(value, 0.25)"), 4).as("p25"),
             round(expr("percentile(value, 0.5)"), 4).as("p50"),
             round(expr("percentile(value, 0.75)"), 4).as("p75"))
        .orderBy("event_type"),
      oracle = Some("""
        SELECT event_type,
               round(quantile_cont(value, 0.25), 4) AS p25,
               round(quantile_cont(value, 0.5), 4) AS p50,
               round(quantile_cont(value, 0.75), 4) AS p75
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // HLL approximate distinct (the 100 TB cardinality path: fixed-size
    // sketch, no exact-distinct shuffle). Sketch internals are
    // implementation-specific, so the output is the op's GUARANTEE: the
    // exact count (oracle-diffed for real) plus a within-5%-of-exact
    // boolean the oracle asserts TRUE — 2.5× the configured 2% rsd, so
    // a broken sketch goes red while HLL's normal error band passes.
    "q55_approx_distinct" -> QueryDef(
      fn = (s, d) => t(s, d, "events")
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("exact_users"),
             approx_count_distinct(col("user_id"), 0.02).as("approx_users"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx_users") - col("exact_users"))
            <= col("exact_users") * 0.05).as("within_bound"))
        .orderBy("event_type"),
      oracle = Some("""
        SELECT event_type, count(DISTINCT user_id) AS exact_users,
               TRUE AS within_bound
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // Approximate percentile — q54's sketch twin and the percentile
    // family's 100 TB path (exact percentile buffers every group value;
    // the GK sketch is fixed-size and mergeable). The sketch VALUE can
    // vary with partial-merge order, so the gate is its GUARANTEE in
    // RANK space, which is merge-order-proof: the fraction of values at
    // or below the approx median must sit within 2% of 0.5 (the
    // guarantee bound is 1/accuracy = 0.1%; 20x slack means only a
    // broken sketch goes red). n is oracle-diffed for real; the
    // re-join to count ranks broadcasts the 5-row sketch result.
    "q146_approx_percentile" -> QueryDef(
      fn = (s, d) => {
        val ev = t(s, d, "events").filter(col("value").isNotNull)
        val sk = ev.groupBy("event_type")
          .agg(expr("approx_percentile(value, 0.5, 1000)").as("p50a"))
        ev.join(broadcast(sk), Seq("event_type"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            count(when(col("value") <= col("p50a"), 1)).as("below"))
          .select(col("event_type"), col("n"),
            (abs(col("below").cast("double") / col("n") - 0.5) <= 0.02)
              .as("within_bound"))
          .orderBy("event_type")
      },
      oracle = Some("""
        SELECT event_type, count(value) AS n, TRUE AS within_bound
        FROM events WHERE value IS NOT NULL
        GROUP BY event_type ORDER BY event_type""")),

    // The remaining analytic-window family members: cume_dist,
    // nth_value and first_value over the default peer-inclusive RANGE
    // frame. The ordering tuple (value, event_id) is UNIQUE, so every
    // row is its own peer group — cume_dist is row_number/count (the
    // same n/m IEEE division on both engines, bit-exact without
    // rounding) and the running frame is exactly rows 1..current.
    // NULLS LAST is spelled out on both sides (Spark window asc is
    // nulls-FIRST by default, DuckDB nulls-LAST — the one place the
    // engines' defaults disagree).
    // Partition key is user_id, NOT event_type: user cardinality grows
    // with the corpus so per-partition row counts stay bounded, while
    // the 5-value event_type would put ~1/5 of a 100 TB table in one
    // window task. For a distribution over a LOW-cardinality key at
    // scale, ops/Ranking (range-partition + driver-summed offsets) is
    // the path — the same reason q83/q100 avoid a global window.
    "q148_window_family" -> QueryDef(
      fn = (s, d) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("value").asc_nulls_last, col("event_id"))
        t(s, d, "events").select(
          col("event_id"), col("user_id"),
          cume_dist().over(w).as("cd"),
          nth_value(col("value"), 3).over(w).as("nv3"),
          first(col("value")).over(w).as("fv"))
          .orderBy("event_id")
      },
      oracle = Some("""
        SELECT event_id, user_id,
               cume_dist() OVER w AS cd,
               nth_value(value, 3) OVER w AS nv3,
               first_value(value) OVER w AS fv
        FROM events
        WINDOW w AS (PARTITION BY user_id
                     ORDER BY value ASC NULLS LAST, event_id
                     RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ORDER BY event_id""")),

    // Per-label embedding centroids through the typed VectorMean Aggregator
    // (partial merges on fixed-width buffers — the UDAF surface), exploded
    // to (label, dim, value) rows. 4-dp round absorbs partial-merge-order
    // float reassociation on both engines.
    "q56_embedding_centroids" -> QueryDef(
      fn = (s, d) => t(s, d, "embeddings")
        .groupBy("label")
        .agg(graft.functions.VectorAggregates.vectorMean(col("embedding"))
          .as("centroid"))
        .select(col("label"), posexplode(col("centroid")))
        .select(col("label").cast("long").as("label"),
                col("pos").cast("long").as("dim"),
                round(col("col"), 4).as("v"))
        .orderBy("label", "dim"),
      oracle = Some("""
        SELECT CAST(label AS BIGINT) AS label, CAST(i - 1 AS BIGINT) AS dim,
               round(avg(CAST(embedding[i] AS DOUBLE)), 4) AS v
        FROM embeddings, generate_series(1, 64) AS t(i)
        GROUP BY label, i ORDER BY label, dim""")),

    // Top-k per group (rank window + filter — the grouped analogue of
    // TakeOrderedAndProject; at scale the rank is computed inside each
    // group's partition, no global sort).
    "q57_topk_per_group" -> QueryDef(
      fn = (s, d) => {
        val w = Window.partitionBy("event_type")
          .orderBy(col("value").desc_nulls_last, col("event_id"))
        t(s, d, "events")
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("event_type"), col("rank").cast("long").as("rank"),
                  col("event_id"), col("value"))
          .orderBy("event_type", "rank")
      },
      oracle = Some("""
        SELECT event_type, CAST(rn AS BIGINT) AS rank, event_id, value
        FROM (SELECT event_type, event_id, value,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY value DESC NULLS LAST, event_id) AS rn
              FROM events)
        WHERE rn <= 3 ORDER BY event_type, rank""")),

    // Deterministic hash train/eval split (ops.Sampling): a pure function
    // of the row key — stable across re-runs, retries and repartitioning,
    // unlike rand(). md5 hex is identical in both engines, so the oracle
    // reproduces the exact membership, not just the fractions.
    "q58_hash_split" -> QueryDef(
      fn = (s, d) => t(s, d, "documents")
        .withColumn("split",
          graft.ops.Sampling.splitLabel(col("doc_id"), trainFrac = 0.8))
        .groupBy("split")
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"))
        .orderBy("split"),
      oracle = Some(s"""
        SELECT CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                         < '${graft.ops.Sampling.thresholdHex(0.8)}'
                    THEN 'train' ELSE 'eval' END AS split,
               count(*) AS n, min(doc_id) AS min_id
        FROM documents GROUP BY 1 ORDER BY split""")),

    // Grouped top-k via the bounded-state TopKPerKey operator — result-
    // identical to the q57 window form, but the partial phase trims each
    // key to <=k rows per input partition BEFORE the one hash exchange
    // (the exchange carries O(groups x k), not O(rows); the window form
    // shuffles everything). The rank is a row_number() over the
    // operator's output: its final phase is already clustered on
    // event_type and sorted by (event_type, value desc, event_id), so the
    // window adds no exchange and ranks at most k rows per key. Same
    // oracle shape as q57, null values excluded.
    "q59_topk_aggregate" -> QueryDef(
      fn = (s, d) => {
        val top = graft.plans.TopKPerKey.topKPerKey(
          t(s, d, "events").filter(col("value").isNotNull)
            .select("event_type", "event_id", "value"),
          Seq(col("event_type")),
          Seq((col("value"), false), (col("event_id"), true)), 3)
        val w = Window.partitionBy("event_type")
          .orderBy(col("value").desc, col("event_id"))
        top.select(col("event_type"), row_number().over(w).cast("long").as("rank"),
            col("event_id"), col("value"))
          .orderBy("event_type", "rank")
      },
      oracle = Some("""
        SELECT event_type, CAST(rn AS BIGINT) AS rank, event_id, value
        FROM (SELECT event_type, event_id, value,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY value DESC, event_id) AS rn
              FROM events WHERE value IS NOT NULL)
        WHERE rn <= 3 ORDER BY event_type, rank""")),

    // Chained stateful streaming operators: dropDuplicates state feeding a
    // grouped count in one continuous query — the streaming twin of
    // count(DISTINCT), checked against the batch oracle.
    "q60_stream_dedup_count" -> QueryDef(
      fn = (s, d) => {
        val dir = stageEventsDir(d)
        val table = try {
          val agg = stagedEventsStream(streamingSession(s), dir)
            .select("user_id", "event_type")
            .dropDuplicates("user_id", "event_type")
            .groupBy("event_type")
            .agg(count(lit(1)).as("n_users"))
          runToMemoryTable(agg, "q60_mem")
        } finally dropStaged(dir)
        table.orderBy("event_type")
      },
      oracle = Some(distinctUsersOracleSql)),

    // Z-order (Morton) clustering key — the multi-column layout
    // optimization behind Delta/Iceberg Z-ORDER (ops.ZOrder). The bit
    // interleave is generated for both engines from the same bit
    // positions; clustering behavior (range partition + sort) is
    // spec-asserted.
    "q61_zorder_key" -> QueryDef(
      fn = (s, d) => t(s, d, "documents")
        .select(col("doc_id"),
          graft.ops.ZOrder.zValue(
            pmod(col("doc_id"), lit(65536)), pmod(col("n_chars"), lit(65536)))
            .as("z"))
        .orderBy("doc_id"),
      oracle = Some(s"""
        SELECT doc_id,
               ${graft.ops.ZOrder.zValueSql("(doc_id % 65536)", "(n_chars % 65536)")} AS z
        FROM documents ORDER BY doc_id""")),

    // Train/eval decontamination: eval docs sharing any word 3-gram with
    // the train split (ops.Decontaminate over the ops.Sampling hash split)
    // — the benchmark-leakage sweep every scraped corpus needs before
    // training. The oracle rebuilds split + shingles + overlap in SQL.
    "q62_decontamination" -> QueryDef(
      fn = (s, d) => {
        val docs = t(s, d, "documents")
        val isTrain = graft.ops.Sampling.inSplit(col("doc_id"), 0.8)
        graft.ops.Decontaminate.contaminated(
            docs.filter(isTrain), docs.filter(!isTrain), "doc_id", "text")
          .orderBy("doc_id")
      },
      oracle = Some(decontamOracleSql)),

    // End-to-end corpus curation — the composed training-data pass:
    // language-ID filter (en) → quality filter (>= 0.5) → exact dedup
    // (min-id survivor). One declarative plan: two per-row projections and
    // a single fingerprint-keyed window, so Catalyst fuses the filters into
    // the scan. Oracle rebuilt from the same marker/quality constants.
    "q63_corpus_curation" -> QueryDef(
      fn = (s, d) => {
        val stops = TF.langMarkers("en")
        // one tokenization feeds langId, quality AND the dedup
        // fingerprint (the q204 shared-tokens lesson, 3.9x there)
        val w = Window.partitionBy(TF.fingerprintOfTokens(col("__ts")))
          .orderBy(col("doc_id"))
        t(s, d, "documents")
          .select(col("doc_id"), col("text"), TF.tokens(col("text")).as("__ts"))
          .select(col("doc_id"), col("__ts"),
            TF.langIdOfTokens(col("__ts")).as("lang_guess"),
            TF.qualityScoreOfTokens(col("text"), col("__ts"), stops).as("quality"))
          .filter(col("lang_guess") === "en" && col("quality") >= 0.5)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select("doc_id", "quality")
          .orderBy("doc_id")
      },
      oracle = Some {
        val langs = TF.langMarkers.toSeq.sortBy(_._1)
        val scores = langs.map { case (l, ws) => s"${hitCountSql(ws)} AS s_$l" }.mkString(", ")
        val best = langs.map { case (l, _) => s"s_$l" }.mkString("greatest(", ", ", ")")
        val cases = langs.map { case (l, _) => s"WHEN s_$l > 0 AND s_$l = best THEN '$l'" }.mkString(" ")
        val hits = hitCountSql(TF.langMarkers("en"))
        s"""
        WITH base AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
        lang AS (
          SELECT doc_id, CASE $cases ELSE 'und' END AS lang_guess
          FROM (SELECT doc_id, $scores, $best AS best FROM base)),
        quality AS (
          SELECT doc_id,
                 round((least(CAST(len(toks) AS DOUBLE) / 64.0, 1.0)
                      + (1.0 - least(punct_ratio * 4.0, 1.0))
                      + least(stop_ratio * 4.0, 1.0)) / 3.0, 4) AS quality
          FROM (SELECT doc_id, toks,
                  CAST($hits AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS stop_ratio,
                  CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
                    / CAST(length(text) AS DOUBLE) AS punct_ratio
                FROM base)),
        kept AS (
          SELECT b.doc_id, md5(array_to_string(b.toks, ' ')) AS fp, q.quality
          FROM base b JOIN lang l USING (doc_id) JOIN quality q USING (doc_id)
          WHERE l.lang_guess = 'en' AND q.quality >= 0.5)
        SELECT doc_id, quality FROM (
          SELECT doc_id, quality,
                 row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
          FROM kept)
        WHERE rn = 1 ORDER BY doc_id"""
      }),

    // Unpivot (wide→long) — the inverse of the reference's core pivot
    // (A1): melt measure columns back to (measure, value) rows. Spark's
    // native unpivot; the oracle is the equivalent UNION ALL.
    "q64_unpivot" -> QueryDef(
      fn = (s, d) => t(s, d, "lineitem")
        .filter(col("l_orderkey") < 100)
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_discount"), col("l_tax")),
          "measure", "value")
        .orderBy("l_orderkey", "l_linenumber", "measure"),
      oracle = Some("""
        SELECT l_orderkey, l_linenumber, measure, value FROM (
          SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
                 l_quantity AS value FROM lineitem WHERE l_orderkey < 100
          UNION ALL
          SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
          FROM lineitem WHERE l_orderkey < 100
          UNION ALL
          SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
          FROM lineitem WHERE l_orderkey < 100)
        ORDER BY l_orderkey, l_linenumber, measure""")),
  )
}
