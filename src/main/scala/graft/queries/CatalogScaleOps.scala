package graft.queries

import graft.functions.{TextFunctions => TF}
import graft.ops.{Dedup, Sampling}
import graft.pipeline.Transforms
import org.apache.spark.sql.functions._


import Catalog._

/** scale machinery: bloom/salt/skew, rank, spans, heavy hitters (q79-q88).
  *
  * One slice of the query catalog (split from the single 3.9k-line map
  * in round 5). Entry ORDER is load-bearing: [[Catalog.all]] is a
  * ListMap concatenated slice-by-slice, and oracle_sql.json iterates
  * it in insertion order.
  */
private[queries] object CatalogScaleOps {
  def entries: Seq[(String, QueryDef)] = Seq(
    // ===== round-3 scale operators =====

    // Bloom-filter join pruning (the manual runtime filter): orders are
    // probed map-side against a mergeable sketch of the BUILDING
    // customers' keys BEFORE any exchange — at scale that drops ~4/5 of
    // the fact side before it is serialized into the shuffle — then the
    // exact semi join removes the sketch's false positives, so the result
    // is exact at any fpp. Oracle: the plain semi join.
    "q79_bloom_prune_join" -> QueryDef(
      fn = (s, d) => {
        val dim = t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
        graft.ops.BloomPrune.prunedSemiJoin(
            t(s, d, "orders"), "o_custkey", dim, "c_custkey",
            expectedItems = 100000L)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"), exactSum(col("o_totalprice")).as("sum_price"))
          .orderBy("o_orderpriority")
      },
      oracle = Some(s"""
        SELECT o_orderpriority, count(*) AS n,
               ${sumSql("o_totalprice")} AS sum_price
        FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer
                            WHERE c_mktsegment = 'BUILDING')
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // Incremental dedup — the production shape: each new crawl batch
    // (doc_id % 5 = 0 here) is checked against the standing corpus instead
    // of re-deduplicating everything. The bloom-accelerated path short-
    // circuits definitely-new rows past the anti-join (no false negatives);
    // the result is provably identical to the plain anti-join the oracle
    // expresses.
    "q80_incremental_dedup" -> QueryDef(
      fn = (s, d) => {
        val docs = t(s, d, "documents")
        val incoming = docs.filter(col("doc_id") % 5 === 0)
        val corpus = docs.filter(col("doc_id") % 5 =!= 0)
        Dedup.newDocsBloom(incoming, corpus, "doc_id", "text")
          .select(col("doc_id"), col("fingerprint"))
          .orderBy("doc_id")
      },
      oracle = Some(s"""
        WITH fp AS (SELECT doc_id,
                           md5(array_to_string($toksSql, ' ')) AS fingerprint
                    FROM documents)
        SELECT i.doc_id, i.fingerprint
        FROM fp i
        WHERE i.doc_id % 5 = 0
          AND NOT EXISTS (SELECT 1 FROM fp c
                          WHERE c.doc_id % 5 <> 0
                            AND c.fingerprint = i.fingerprint)
        ORDER BY doc_id""")),

    // Weighted corpus mixing: per-source up/down-weighting by replication
    // + deterministic fractional sampling (explode + filter — fully
    // map-side, no shuffle before the final agg). Weights cover integer
    // upsample (x2), fractional upsample (x2.5), downsample (x0.25), drop
    // (x0), and the implicit default x1.
    "q81_corpus_mix" -> QueryDef(
      fn = (s, d) => Sampling
        .corpusMix(t(s, d, "documents"), col("source"), col("doc_id"), mixWeights)
        .groupBy("source")
        .agg(count(lit(1)).as("n_rows"),
             countDistinct("doc_id").as("n_docs"),
             max("epoch").as("max_epoch"))
        .orderBy("source"),
      oracle = Some {
        val (slotsSql, keepSql) = Sampling.corpusMixSql("doc_id", "source", mixWeights)
        s"""SELECT source, count(*) AS n_rows,
                   count(DISTINCT doc_id) AS n_docs, max(epoch) AS max_epoch
            FROM (SELECT source, doc_id,
                         unnest(generate_series(0, CAST($slotsSql AS BIGINT) - 1)) AS epoch
                  FROM documents)
            WHERE $keepSql
            GROUP BY source ORDER BY source"""
      }),

    // Global token vocabulary with corpus + document frequencies, top-50 —
    // the tokenizer-training precursor. explode → one shuffle on the token
    // key with partial aggregation; top-k is TakeOrderedAndProject.
    "q82_vocab_topk" -> QueryDef(
      fn = (s, d) => t(s, d, "documents")
        .select(col("doc_id"), explode(TF.tokens(col("text"))).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("n"), countDistinct("doc_id").as("n_docs"))
        .orderBy(desc("n"), asc("token"))
        .limit(50),
      oracle = Some(s"""
        SELECT token, count(*) AS n, count(DISTINCT doc_id) AS n_docs
        FROM (SELECT doc_id, unnest($toksSql) AS token FROM documents)
        GROUP BY token ORDER BY n DESC, token LIMIT 50""")),

    // Curriculum bucketing: exact ntile(8) over (quality DESC, doc_id)
    // via the two-phase distributed rank (range partition + local
    // row_number + base offsets) — NOT the single-reducer global window.
    // Oracle: DuckDB's native ntile window, which the distributed form
    // must reproduce bucket-for-bucket.
    "q83_curriculum_ntile" -> QueryDef(
      fn = (s, d) => {
        val scored = t(s, d, "documents")
          .select(col("doc_id"),
            TF.qualityScore(col("text"), TF.langMarkers("en")).as("quality"))
        graft.ops.Ranking
          .ntileExact(scored, 8, Seq(col("quality").desc, col("doc_id").asc))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"), min("quality").as("min_quality"),
               max("quality").as("max_quality"), min("doc_id").as("min_id"))
          .orderBy("bucket")
      },
      oracle = Some(s"""
        WITH q AS ($qualitySelectSql),
        b AS (SELECT doc_id, quality,
                     CAST(ntile(8) OVER (ORDER BY quality DESC, doc_id) AS BIGINT) AS bucket
              FROM q)
        SELECT bucket, count(*) AS n, min(quality) AS min_quality,
               max(quality) AS max_quality, min(doc_id) AS min_id
        FROM b GROUP BY bucket ORDER BY bucket""")),

    // n-gram CONTAINMENT (|A∩B| / min(|A|,|B|)) on candidate pairs — the
    // subset-duplication detector Jaccard misses. Same adjacent-id pair
    // construction and provably-safe 9-dp rounding as q28.
    "q84_ngram_containment" -> QueryDef(
      fn = (s, d) => {
        val docs = t(s, d, "documents")
        val pairs = docs.select(col("doc_id").as("id_a"),
                                (col("doc_id") + 1).as("id_b"))
        Dedup.ngramContainment(pairs, docs, "doc_id", "text")
          .select("id_a", "id_b", "containment")
          .orderBy("id_a")
      },
      oracle = Some(s"""
        WITH sh AS (
          SELECT doc_id,
                 list_distinct(list_transform(generate_series(1, len(toks) - 2),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
          FROM (SELECT doc_id, $toksSql AS toks FROM documents))
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                     / CAST(least(len(a.shingles), len(b.shingles)) AS DOUBLE),
                     9) AS containment
        FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
        ORDER BY id_a""")),

    // Salted fact⋈dim join (lineitem⋈orders on a salted key): the
    // hot-key mitigation for broadcast-ineligible joins, result-invariant
    // by construction — the oracle is the plain join. Salting trades
    // 8x replication of the (much smaller) right side for an 8-way split
    // of every hot left key.
    "q85_salted_join" -> QueryDef(
      fn = (s, d) => {
        val orders = t(s, d, "orders")
          .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
        graft.ops.Skew.saltedJoin(t(s, d, "lineitem"), orders,
            "l_orderkey", saltBuckets = 8)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
               exactRevenue(col("l_extendedprice"), col("l_discount")).as("revenue"))
          .orderBy("o_orderpriority")
      },
      oracle = Some(priorityRevenueOracleSql)),

    // Exact heavy hitters via a bounded Misra-Gries summary + exact
    // verification pass: the exchange carries O(partitions x k) counters
    // instead of one row per distinct token — the vocabulary-scale-proof
    // form of GROUP BY ... HAVING. Result is exactly the HAVING query.
    "q86_heavy_hitters" -> QueryDef(
      fn = (s, d) => {
        val toks = t(s, d, "documents")
          .select(explode(TF.tokens(col("text"))).as("token"))
        graft.ops.HeavyHitters.heavyHitters(toks, col("token"), minCount = 500L)
          .select(col("item").as("token"), col("n"))
          .orderBy("token")
      },
      oracle = Some(heavyHittersOracleSql)),

    // Interval×interval overlap join (attribution shape: which purchase
    // windows overlap which click windows, per user). A naive theta join
    // is a nested loop; ops.RangeJoin buckets both interval sides into the
    // equi-join key and dedups via the canonical overlap-start bucket.
    // Oracle: DuckDB's plain inequality join.
    "q87_interval_overlap" -> QueryDef(
      fn = (s, d) => {
        val ev = t(s, d, "events")
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"),
            col("ts").as("c_start"),
            (col("ts") + expr("INTERVAL 2 HOURS")).as("c_end"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("user_id"),
            col("ts").as("p_start"),
            (col("ts") + expr("INTERVAL 1 HOUR")).as("p_end"))
        graft.ops.RangeJoin.intervalOverlap(clicks, purchases, Seq("user_id"),
            "c_start", "c_end", "p_start", "p_end", bucketWidth = "1 hour")
          .select("click_id", "purchase_id")
          .orderBy("click_id", "purchase_id")
      },
      oracle = Some("""
        WITH c AS (SELECT event_id AS click_id, user_id, ts AS c_start,
                          ts + INTERVAL 2 HOUR AS c_end
                   FROM events WHERE event_type = 'click'),
             p AS (SELECT event_id AS purchase_id, user_id, ts AS p_start,
                          ts + INTERVAL 1 HOUR AS p_end
                   FROM events WHERE event_type = 'purchase')
        SELECT click_id, purchase_id
        FROM c JOIN p ON c.user_id = p.user_id
                     AND c_start <= p_end AND p_start <= c_end
        ORDER BY click_id, purchase_id""")),

    // q62's decontamination with the bloom-prefiltered gram stream: most
    // eval grams appear nowhere in train, and the sketch probe drops them
    // map-side before the join exchange. Identical result (same oracle as
    // q62) — the driver-green proof that the prefilter changes only the
    // shuffle shape, never the answer.
    "q88_decontaminate_bloom" -> QueryDef(
      fn = (s, d) => {
        val docs = t(s, d, "documents")
        val isTrain = graft.ops.Sampling.inSplit(col("doc_id"), 0.8)
        graft.ops.Decontaminate.contaminatedBloom(
            docs.filter(isTrain), docs.filter(!isTrain), "doc_id", "text")
          .orderBy("doc_id")
      },
      oracle = Some(decontamOracleSql)),

    // Pre-join cardinality diagnostic — the "should I salt this?"
    // check run BEFORE a skew-prone join: for the events self-join on
    // user_id (the sessionization/self-match shape), output size is
    // exactly sum_k c_k^2, and the top contributing keys are the ones
    // q41's salting or a per-key cap must handle. One map-side-partial
    // groupBy over the key + an O(keys) sum + a top-5
    // TakeOrderedAndProject — the estimate costs one aggregate, the
    // join it diagnoses would cost sum(c^2) rows. Ties at the top-5
    // cut break by user_id on both engines. Overflow posture (same as
    // the cents comment in Catalog.scala): long c*c holds per-key
    // counts to ~3.03e9 rows, and under ANSI mode (Spark 4 default) a
    // breach RAISES rather than wraps; a deployment whose single
    // hottest key exceeds billions of rows would swap the squares to
    // decimal(38,0) — at that point the answer to "should I salt" is
    // already yes.
    "q156_join_blowup" -> QueryDef(
      fn = (s, d) => {
        val counts = t(s, d, "events").groupBy("user_id")
          .agg(count(lit(1)).as("c"))
        val total = counts.agg(sum(col("c") * col("c")).as("est_rows"))
        counts
          .select(col("user_id"), (col("c") * col("c")).as("contrib"))
          .orderBy(col("contrib").desc, col("user_id").asc).limit(5)
          .crossJoin(broadcast(total)) // 1-row totals frame
          .orderBy(col("contrib").desc, col("user_id").asc)
      },
      oracle = Some("""
        WITH c AS (SELECT user_id, count(*) AS c FROM events
                   GROUP BY user_id)
        SELECT user_id, c * c AS contrib,
               (SELECT CAST(sum(c * c) AS BIGINT) FROM c) AS est_rows
        FROM c ORDER BY contrib DESC, user_id ASC LIMIT 5""")),

    // The live extraction plane under the oracle gate (S13; reference
    // extract_api.py:38-104 pagination, :193-268 per-sensor fetch): a
    // deterministic FixtureFetcher stands in for HTTP, and the WHOLE chain
    // runs for real — driver page loop (4 full + 1 partial page, empty
    // page 6 terminates), locations JSON parse, sensors explode,
    // DISTRIBUTED per-sensor measurement fetch over mapPartitions, JSON
    // flatten, and the continue-on-error per-sensor skip (ids % 13 == 0
    // answer 404 and must vanish without failing the job). The fixture is
    // generated from closed-form formulas of the location id, so DuckDB
    // rebuilds the identical rows from range() — pagination/flatten/skip
    // semantics sit under the same hash gate as every batch operator.
    "q157_api_source" -> QueryDef(
      fn = (s, _) => {
        import graft.pipeline.{ApiSource, FixtureApi}
        val fetcher = FixtureApi.fetcher
        val locs = ApiSource.fetchAllLocations(fetcher,
          pageSize = FixtureApi.pageSize)
        val sensorIds = ApiSource.locationsDf(s, locs)
          .select(explode(col("sensors.id")).as("sid"))
          .collect().map(_.getLong(0)).sorted.toSeq // bounded: fixture ids
        ApiSource.fetchMeasurementsDistributed(
            s, sensorIds, fetcher, "2024-01-01", "2024-01-02", parallelism = 8)
          .select(col("sensor_id"), col("datetime"), col("parameter"),
            col("value"), col("unit"))
          .orderBy("sensor_id", "datetime")
      },
      oracle = Some(graft.pipeline.FixtureApi.oracleSql),
      bench = true),

    // The SAME extraction semantics through the DataSource V2 reader
    // (sources/OpenAqSource): `spark.read.format("openaq")` with the
    // fixture fetcher injected by class name — locations endpoint
    // (single input partition, driver-loop-equivalent pagination inside
    // the reader) feeds the sensor-id list; measurements endpoint
    // spreads those ids over round-robin input-partition slices, each
    // executor instantiating the fetcher reflectively. Checked against
    // the IDENTICAL oracle as q157: the two extraction planes (ad-hoc
    // driver loop vs first-class DSv2 table) must agree row-for-row,
    // which is exactly the parity a user switching between them relies
    // on.
    "q159_dsv2_source" -> QueryDef(
      fn = (s, _) => {
        import graft.pipeline.{FixtureApi, FixtureApiFetcher}
        import graft.sources.OpenAqSource
        val cls = classOf[FixtureApiFetcher].getName
        val sensorIds = OpenAqSource.locations(s, cls,
            pageSize = FixtureApi.pageSize)
          .select(explode(col("sensors.id")).as("sid"))
          .collect().map(_.getLong(0)).sorted.toSeq // bounded: fixture ids
        OpenAqSource.measurements(s, cls, sensorIds,
            "2024-01-01", "2024-01-02", numPartitions = 8)
          .select(col("sensor_id"), col("datetime"), col("parameter"),
            col("value"), col("unit"))
          .orderBy("sensor_id", "datetime")
      },
      oracle = Some(graft.pipeline.FixtureApi.oracleSql)),

    // SHOW PARTITIONS over the partitioned mart — the reference's
    // partition-inspection check (tests/test_phase5_manual_trigger.py:
    // 284-287 runs SHOW PARTITIONS on the Athena table after a manual
    // trigger). Here the mart is written with the real partitioned sink,
    // registered as an external datasource table over its LOCATION, its
    // partitions recovered from the directory layout (the MSCK REPAIR
    // twin — what a metastore-backed deployment gets from the crawler),
    // and SHOW PARTITIONS is the literal SQL surface. Partition-value
    // type inference is scoped OFF so the padded month/day strings
    // round-trip verbatim ("month=01", not "month=1") — the same
    // int/string partition contract F6 pins for the files themselves.
    "q158_show_partitions" -> QueryDef(
      fn = (s, d) => {
        val base = java.nio.file.Files.createTempDirectory("graft-showpart")
        // unique suffix: the session catalog is shared, so a fixed name
        // would race a concurrent run of this query (round-8 advice) —
        // the temp dir's own unique tail is a free nonce
        val tbl = s"graft_q158_mart_${base.getFileName.toString.replaceAll("[^A-Za-z0-9]", "")}"
        val confKey = "spark.sql.sources.partitionColumnTypeInference.enabled"
        // the DDL runs in a CLONED session: newSession() shares the
        // SparkContext and the external catalog (so the table surface is
        // real) but carries its own SQLConf, so flipping inference off —
        // needed for the padded month/day strings to round-trip verbatim
        // ("month=01", not "month=1") — can't leak into a concurrent
        // query sharing the parent session (round-8 advice)
        val ddl = s.newSession()
        try {
          val mart = Transforms.derivePartitions(
            t(s, d, "events").select(col("event_id"),
              col("ts").as("datetime"), col("event_type"), col("value")))
          graft.pipeline.Sink.writePartitioned(mart, s"$base/mart",
            partitionCols = Seq("year", "month", "day"), mode = "overwrite")
          ddl.conf.set(confKey, "false")
          ddl.sql(s"CREATE TABLE $tbl USING parquet LOCATION '$base/mart'")
          ddl.sql(s"ALTER TABLE $tbl RECOVER PARTITIONS")
          ddl.sql(s"SHOW PARTITIONS $tbl")
            .orderBy("partition")
            .localCheckpoint(true) // eager: resolves before table drop
        } finally {
          ddl.sql(s"DROP TABLE IF EXISTS $tbl")
          dropStaged(base)
        }
      },
      oracle = Some("""
        SELECT DISTINCT 'year=' || strftime(ts, '%Y') ||
               '/month=' || strftime(ts, '%m') ||
               '/day=' || strftime(ts, '%d') AS "partition"
        FROM events ORDER BY "partition" """)),

    // NATIVE streaming session windows — `session_window(ts, gap)` under
    // a real append-mode streaming query, the engine-managed twin of the
    // flatMapGroupsWithState sessionizer (q40's batch logic, SURVEY
    // §2.9). Two semantics pinned here:
    //  - boundary: session_window merges windows that OVERLAP, so an
    //    event at EXACTLY prev + gap starts a NEW session (q40's lag
    //    formulation uses > and would keep it) — the oracle uses >= to
    //    match, and session_end is last_event + gap (the window bound),
    //    not last_event;
    //  - emission: append mode only emits sessions the watermark has
    //    passed, and the watermark trails the max seen event time, so
    //    trailing sessions never flush on their own. A far-future
    //    SENTINEL event (user_id -1, +7 days) appended as a second file
    //    batch advances the watermark past every real session; the
    //    sentinel's own open session is filtered out. This is the
    //    standard flush idiom for bounded replays of an unbounded
    //    operator; a production stream just keeps running instead.
    // State is O(open sessions), watermark-bounded — scales.
    "q160_stream_session_window" -> QueryDef(
      fn = (s, d) => {
        val dir = stageEventsDir(d)
        val ss = streamingSession(s)
        val table = try {
          val stream = stagedEventsStream(ss, dir)
            .select("user_id", "ts", "value")
          val agg = stream
            .withWatermark("ts", "0 seconds")
            .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
            .agg(count(lit(1)).as("n_events"),
              exactSum(col("value")).as("sum_value"))
          val q = graft.streaming.StreamingIngest.runToMemory(
            agg, "q160_mem", outputMode = "append")
          try {
            // sentinel: bump the max-ts row 7 days, in the staged files'
            // OWN ts encoding (the write must match the declared stream
            // schema)
            val footer = s.read.parquet(dir.toString)
            val bumped = footer.schema("ts").dataType match {
              case org.apache.spark.sql.types.LongType =>
                col("ts") + lit(7L * 24 * 3600 * 1000000000L) // nanos long
              case _ => col("ts") + expr("INTERVAL 7 DAYS")
            }
            footer.orderBy(col("ts").desc).limit(1)
              .withColumn("ts", bumped)
              .withColumn("user_id", lit(-1L))
              .write.mode("append").parquet(dir.toString)
            q.processAllAvailable()
            Catalog.ProgressLog.record(q)
          } finally q.stop() // a leaked query would hold the staged dir
          ss.table("q160_mem")
        } finally dropStaged(dir)
        table.filter(col("user_id") >= 0)
          .select(col("user_id"),
            col("session_window.start").as("session_start"),
            col("session_window.end").as("session_end"),
            col("n_events"), col("sum_value"))
          .orderBy("user_id", "session_start")
      },
      oracle = Some(s"""
        SELECT user_id, min(ts) AS session_start,
               max(ts) + INTERVAL 30 MINUTE AS session_end,
               count(*) AS n_events, ${sumSql("value")} AS sum_value
        FROM (
          SELECT user_id, ts, value,
                 sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS sid
          FROM (
            SELECT user_id, ts, value,
                   CASE WHEN prev_ts IS NULL
                          OR ts >= prev_ts + INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS is_new
            FROM (SELECT user_id, ts, value,
                         lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                           AS prev_ts
                  FROM events)))
        GROUP BY user_id, sid
        ORDER BY user_id, session_start"""),
      bench = true, streaming = true),

    // Sketch-based distinct counting under an error-bound oracle gate.
    // At 100 TB, count(DISTINCT user) per group is a full shuffle of
    // every (group, user) pair; the HLL++ sketch is the mergeable
    // O(kB)-per-group answer. Sketches differ across engines, so the
    // HASH gate pins what IS portable: the exact count (the oracle's own
    // aggregate) and the claim the sketch landed within 5 sigma of it
    // (rsd 0.02 -> 10% bound; Spark's estimate is deterministic for
    // fixed input, so a sketch regression past the bound goes hash-red
    // instead of silently degrading downstream cardinality estimates).
    "q163_approx_distinct" -> QueryDef(
      fn = (s, d) => t(s, d, "events")
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_exact"),
          approx_count_distinct(col("user_id"), 0.02).as("__approx"))
        .select(col("event_type"), col("n_exact"),
          (abs(col("__approx") - col("n_exact")).cast("double") <=
            lit(0.10) * col("n_exact").cast("double")).as("approx_ok"))
        .orderBy("event_type"),
      oracle = Some("""
        SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
               true AS approx_ok
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // Sketch-based percentiles under a RANK-error gate — q163's pattern
    // for the other big sketch swap (q123's COVERAGE row promises
    // approx_percentile as the 100 TB stand-in for exact percentile;
    // this pins that the stand-in actually lands where the exact one
    // does). GK sketches guarantee rank error <= eps*N (Spark's default
    // accuracy 1e4 -> eps 1e-4), so the approx p50 VALUE must sit
    // between the exact interpolated p45 and p55 values (values are
    // monotone in rank) — a claim both engines can state exactly, while
    // the sketch itself is engine-specific. Cents keep the exact
    // percentiles quantile_cont-portable (q123's trick).
    "q165_approx_percentile" -> QueryDef(
      fn = (s, d) => t(s, d, "events").filter(col("value").isNotNull)
        .select(col("event_type"), cents(col("value")).as("cts"))
        .groupBy("event_type")
        .agg(expr("percentile(cts, 0.5)").as("p50"),
          expr("percentile(cts, 0.45)").as("__lo"),
          expr("percentile(cts, 0.55)").as("__hi"),
          expr("approx_percentile(cts, 0.5)").as("__ap"))
        .select(col("event_type"),
          round(col("p50") / 100.0, 4).as("median_value"),
          (col("__ap") >= floor(col("__lo")) &&
           col("__ap") <= ceil(col("__hi"))).as("approx_ok"))
        .orderBy("event_type"),
      oracle = Some(s"""
        SELECT event_type,
               round(quantile_cont(${centsSql("value")}, 0.5)
                     / 100.0, 4) AS median_value,
               true AS approx_ok
        FROM events WHERE value IS NOT NULL
        GROUP BY event_type ORDER BY event_type""")),

    // Exact WEIGHTED median per group — the importance-weighted central
    // tendency (duplicate-count or quality weights) no builtin covers on
    // either engine. Lower weighted median: the smallest value whose
    // INCLUSIVE running weight reaches half the group total. All-integer
    // (cents values, long weights, 2*cum >= total avoids division).
    // events has a HANDFUL of types, so the obvious grouped window
    // (`PARTITION BY event_type ORDER BY cts`) would funnel each type's
    // ENTIRE data through one reducer at 100 TB — the running weight is
    // [[graft.ops.PrefixSum.exclusivePerGroup]] instead (range partition
    // on (group, value): one group spans many partitions, per-group
    // offsets rolled up on the driver), plus one partial-agg totals
    // join. Weight = 1 + event_id % 5: deterministic, spans 1..5, and
    // makes the weighted median provably differ from the plain one for
    // some groups (both engines compute the same difference).
    "q166_weighted_median" -> QueryDef(
      fn = (s, d) => {
        val e = t(s, d, "events").filter(col("value").isNotNull)
          .select(col("event_type"), cents(col("value")).as("cts"),
            (col("event_id") % 5 + 1).as("w"))
        val withCum = graft.ops.PrefixSum.exclusivePerGroup(e,
          Seq(col("event_type")), Seq(col("cts").asc, col("w").asc),
          col("w"), "excl")
        val totals = e.groupBy("event_type").agg(sum(col("w")).as("total"))
        withCum.join(broadcast(totals), "event_type")
          .filter((col("excl") + col("w")) * 2 >= col("total"))
          .groupBy("event_type")
          .agg(round(min(col("cts")) / 100.0, 2).as("wmedian"),
            min(col("total")).as("total_weight"))
          .orderBy("event_type")
      },
      oracle = Some(s"""
        WITH e AS (SELECT event_type, ${centsSql("value")} AS cts,
                          event_id % 5 + 1 AS w
                   FROM events WHERE value IS NOT NULL),
        c AS (SELECT event_type, cts, w,
                     sum(w) OVER (PARTITION BY event_type
                                  ORDER BY cts ASC, w ASC
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND CURRENT ROW) AS cum,
                     sum(w) OVER (PARTITION BY event_type) AS total
              FROM e)
        SELECT event_type, round(min(cts) / 100.0, 2) AS wmedian,
               CAST(min(total) AS BIGINT) AS total_weight
        FROM c WHERE cum * 2 >= total
        GROUP BY event_type ORDER BY event_type""")),

    // Exact GLOBAL order statistics without the single-reducer
    // percentile: Spark's `percentile` is an ObjectHashAggregate that
    // collects every value of the group — for a global statistic that
    // is ALL rows on one reducer, the q123 family's documented 100 TB
    // limit. Order statistics via [[graft.ops.Ranking]] instead: one
    // range shuffle, local row_number + driver offsets, then pick the
    // k-th rows. Integer cents, rank positions (lower median, ceil-p95)
    // instead of interpolation — portable as plain OFFSET selection.
    "q167_global_order_stats" -> QueryDef(
      fn = (s, d) => {
        val e = t(s, d, "events").filter(col("value").isNotNull)
          .select(cents(col("value")).as("cts"), col("event_id"))
        // total falls out of the rank machinery's own per-bucket counts
        // — no separate count() scan of the raw table
        val (ranked, n) = graft.ops.Ranking.globalRowNumberWithTotal(
          e, Seq(col("cts").asc, col("event_id").asc), "rn")
        val kMed = (n + 1) / 2        // lower median position
        val kP95 = (n * 95 + 99) / 100 // ceil(0.95 n)
        ranked.filter(col("rn") === kMed || col("rn") === kP95)
          .select(
            when(col("rn") === kMed, "p50_lower").otherwise("p95_ceil")
              .as("stat"),
            col("rn").as("k"),
            round(col("cts") / 100.0, 2).as("value"))
          .orderBy("stat")
      },
      oracle = Some(s"""
        WITH e AS (SELECT ${centsSql("value")} AS cts, event_id
                   FROM events WHERE value IS NOT NULL),
        n AS (SELECT count(*) AS n FROM e),
        r AS (SELECT cts,
                     row_number() OVER (ORDER BY cts ASC, event_id ASC)
                       AS rn
              FROM e)
        SELECT CASE WHEN rn = (SELECT (n + 1) // 2 FROM n)
                    THEN 'p50_lower' ELSE 'p95_ceil' END AS stat,
               rn AS k, round(cts / 100.0, 2) AS value
        FROM r
        WHERE rn = (SELECT (n + 1) // 2 FROM n)
           OR rn = (SELECT (n * 95 + 99) // 100 FROM n)
        ORDER BY stat""")),

    // UNPIVOT / melt — the inverse of the A1 pivot family (q05/q137):
    // wide metric columns back to (key, metric, value) long form, the
    // shape feature stores and metric pipelines ingest. `unpivot` is
    // pure map-side row expansion (the Expand operator — no shuffle, no
    // UDF); values share one double type, column-name labels become
    // data. Oracle = the UNION ALL spelling, the engine-neutral
    // definition of the operation.
    "q168_unpivot_metrics" -> QueryDef(
      fn = (s, d) => t(s, d, "lineitem")
        .filter(col("l_orderkey") % 100 === 0) // slim, deterministic slice
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "metric", "metric_value")
        // metric_value in the sort: the synthetic (orderkey, linenumber)
        // pair is NOT unique (NOTES round-6 lesson) — residual ties must
        // be full-row duplicates or engines may order them differently
        .orderBy("l_orderkey", "l_linenumber", "metric", "metric_value"),
      oracle = Some("""
        WITH src AS (SELECT * FROM lineitem WHERE l_orderkey % 100 = 0)
        SELECT l_orderkey, l_linenumber, metric, metric_value FROM (
          SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
                 l_quantity AS metric_value FROM src
          UNION ALL
          SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
          FROM src
          UNION ALL
          SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM src)
        ORDER BY l_orderkey, l_linenumber, metric, metric_value""")),

    // PMI collocation mining (the tokenizer-vocabulary phrase-discovery
    // pass): adjacent-bigram pointwise mutual information from exact
    // corpus counts — ln((c_ab·N²)/(M·c_a·c_b)) with N total tokens, M
    // total bigrams. Bigram extraction is pure codegen projection; the
    // totals come from the already-aggregated count frames (no second
    // corpus scan) and broadcast back; the only transcendental is one ln
    // of an exact integer rational, so DuckDB replays it bit-for-bit.
    "q169_pmi_collocations" -> QueryDef(
      fn = (s, d) =>
        graft.ops.Collocations.pmiBigrams(t(s, d, "documents"), "text", minCount = 5L)
          .orderBy(col("pmi").desc, col("w1"), col("w2")),
      oracle = Some(s"""
        WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
        bg AS (SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                             i -> t[i])) AS w1,
                      unnest(list_transform(generate_series(1, len(t) - 1),
                             i -> t[i+1])) AS w2
               FROM toks WHERE len(t) >= 2),
        bgc AS (SELECT w1, w2, count(*) AS c_ab FROM bg GROUP BY 1, 2),
        ug AS (SELECT unnest(t) AS w FROM toks),
        ugc AS (SELECT w, count(*) AS c FROM ug GROUP BY w),
        tot AS (SELECT (SELECT count(*) FROM ug) AS n_tok,
                       (SELECT count(*) FROM bg) AS n_bg)
        SELECT w1, w2, c_ab,
               round(ln((CAST(c_ab AS DOUBLE) * CAST(n_tok AS DOUBLE)
                         * CAST(n_tok AS DOUBLE))
                        / (CAST(n_bg AS DOUBLE) * CAST(a.c AS DOUBLE)
                           * CAST(b.c AS DOUBLE))), 6) AS pmi
        FROM bgc
        JOIN ugc a ON bgc.w1 = a.w
        JOIN ugc b ON bgc.w2 = b.w
        CROSS JOIN tot
        WHERE c_ab >= 5
        ORDER BY pmi DESC, w1, w2""")),

    // Exact Jaccard set-similarity SELF-JOIN via prefix filtering
    // (AllPairs/PPJoin): every pair with 3-shingle Jaccard >= 3/5,
    // discovered — not handed in like q28's verification — without ever
    // forming the quadratic pair space. The injected +100000 duplicates
    // guarantee jaccard-1.0 rows (vacuousness guard); all threshold
    // arithmetic is integer (inter*5 >= union*3), so the oracle's naive
    // all-pairs replay decides every boundary identically.
    "q170_setsim_join" -> QueryDef(
      fn = (s, d) => {
        val sub = t(s, d, "documents").filter(col("doc_id") % 10 === 0)
        val dbl = sub.select(col("doc_id"), col("text"))
          .unionAll(sub.select((col("doc_id") + 100000).as("doc_id"), col("text")))
        // hashShingles = the operator's documented at-scale mode: df
        // counting, prefix join keys and the verify arrays all carry
        // 8-byte longs instead of multi-word shingle strings (guide
        // §2.3). SetSimJoinSpec pins hash-vs-exact pair parity; the
        // oracle gate re-proves the output at every sf (r15 opt round).
        graft.ops.SetSimJoin.jaccardSelfJoin(dbl, "doc_id", "text", 3, 5,
            hashShingles = true)
          .orderBy("id_a", "id_b")
      },
      oracle = Some(s"""
        WITH sub AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
        dbl AS (SELECT doc_id AS id, text FROM sub
                UNION ALL SELECT doc_id + 100000, text FROM sub),
        sh AS (SELECT id,
                      list_distinct(list_transform(generate_series(1, len(toks) - 2),
                        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
               FROM (SELECT id, $toksSql AS toks FROM dbl)),
        p AS (SELECT a.id AS id_a, b.id AS id_b,
                     len(list_intersect(a.s, b.s)) AS inter,
                     len(a.s) AS na, len(b.s) AS nb
              FROM sh a JOIN sh b ON a.id < b.id)
        SELECT id_a, id_b,
               round(CAST(inter AS DOUBLE)
                     / CAST(na + nb - inter AS DOUBLE), 9) AS jaccard
        FROM p WHERE inter * 5 >= (na + nb - inter) * 3
        ORDER BY id_a, id_b"""),
      bench = true),

    // Leakage-free (dedup-aware) train/val/test split: the label hashes
    // the CONTENT FINGERPRINT, not the row id, so every member of a
    // duplicate cluster lands in one split — the guarantee that keeps
    // eval leaking into train through copies (the injected +100000
    // duplicates are exactly such copies). `mixed_clusters` — the count
    // of fingerprints straddling >1 split — is recomputed by BOTH
    // engines and must be 0: the leakage property itself is under the
    // hash gate, not just the split sizes. Pure map-side labeling + two
    // fingerprint-keyed uniform shuffles; no window, no driver state.
    "q171_leakfree_split" -> QueryDef(
      fn = (s, d) => {
        val docs = t(s, d, "documents")
        val dbl = docs.select(col("doc_id"), col("text"))
          .unionAll(docs.select((col("doc_id") + 100000).as("doc_id"), col("text")))
        val labeled = dbl
          .withColumn("fp", TF.fingerprint(col("text")))
          .withColumn("split",
            Sampling.leakFreeSplitLabel(col("fp"), trainFrac = 0.8, valFrac = 0.1))
        val mixed = labeled.groupBy("fp")
          .agg(countDistinct("split").as("nsp"))
          .filter(col("nsp") > 1)
          .agg(count(lit(1)).as("mixed_clusters"))
        labeled.groupBy("split")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct("fp").as("n_clusters"))
          .crossJoin(broadcast(mixed))
          .orderBy("split")
      },
      oracle = Some(s"""
        WITH dbl AS (SELECT doc_id, text FROM documents
                     UNION ALL SELECT doc_id + 100000, text FROM documents),
        lab AS (SELECT doc_id, fp,
                       CASE WHEN substring(md5(fp), 1, 8)
                                 < '${Sampling.thresholdHex(0.8)}' THEN 'train'
                            WHEN substring(md5(fp), 1, 8)
                                 < '${Sampling.thresholdHex(0.9)}' THEN 'val'
                            ELSE 'test' END AS split
                FROM (SELECT doc_id,
                             md5(array_to_string($toksSql, ' ')) AS fp
                      FROM dbl)),
        mix AS (SELECT count(*) AS mixed_clusters FROM (
                  SELECT fp FROM lab GROUP BY fp
                  HAVING count(DISTINCT split) > 1))
        SELECT split, count(*) AS n_docs, count(DISTINCT fp) AS n_clusters,
               (SELECT mixed_clusters FROM mix) AS mixed_clusters
        FROM lab GROUP BY split ORDER BY split""")),

    // Near-duplicate CONTAMINATION between two corpora: the two-corpus
    // prefix-filter join finds every (eval, train) pair with 3-shingle
    // Jaccard >= 4/5 — the fuzzy complement of the exact-gram
    // decontamination sweep (q62/q88/q101): a paraphrased copy that
    // shares no long exact gram still lands here. Eval = a re-id'd
    // verbatim slice of the corpus (every eval doc has a guaranteed
    // jaccard-1.0 source in train); df order spans BOTH corpora; the
    // oracle is the naive eval x train cross — small only because eval
    // is small, which is also the production shape.
    "q172_neardup_contamination" -> QueryDef(
      fn = (s, d) => {
        val docs = t(s, d, "documents")
        val eval0 = docs.filter(col("doc_id") % 83 === 0)
          .select((col("doc_id") + 200000).as("doc_id"), col("text"))
        graft.ops.SetSimJoin.jaccardJoin(
            eval0, docs.select(col("doc_id"), col("text")),
            "doc_id", "text", 4, 5)
          .orderBy("id_l", "id_r")
      },
      oracle = Some(s"""
        WITH ev AS (SELECT doc_id + 200000 AS id, text FROM documents
                    WHERE doc_id % 83 = 0),
        tr AS (SELECT doc_id AS id, text FROM documents),
        she AS (SELECT id,
                       list_distinct(list_transform(generate_series(1, len(toks) - 2),
                         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
                FROM (SELECT id, $toksSql AS toks FROM ev)),
        sht AS (SELECT id,
                       list_distinct(list_transform(generate_series(1, len(toks) - 2),
                         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
                FROM (SELECT id, $toksSql AS toks FROM tr)),
        p AS (SELECT e.id AS id_l, t.id AS id_r,
                     len(list_intersect(e.s, t.s)) AS inter,
                     len(e.s) AS na, len(t.s) AS nb
              FROM she e CROSS JOIN sht t)
        SELECT id_l, id_r,
               round(CAST(inter AS DOUBLE)
                     / CAST(na + nb - inter AS DOUBLE), 9) AS jaccard
        FROM p WHERE inter * 5 >= (na + nb - inter) * 4
        ORDER BY id_l, id_r""")),

    // The NEAR band of the set-similarity join: q170's corpus yields
    // only jaccard-1.0 (exact copy) matches at its threshold — the
    // prefix filter's interesting case, a pair that overlaps PARTIALLY
    // yet clears the bar, was never oracle-gated (found by the round-10
    // constant-column audit). Injection: each sampled doc gets BOTH an
    // exact twin (+100000) and a one-token-APPENDED twin (+200000, a
    // unique 'zzq<id>' token whose trigram set keeps every original
    // shingle and adds one — jaccard n/(n+1), strictly inside [0.6, 1)),
    // so is_near carries both values and the SAME jaccardSelfJoin
    // machinery must discover exact AND partial overlaps through the
    // rare-first prefix filter.
    "q280_setsim_near_band" -> QueryDef(
      fn = (s, d) => {
        val sub = t(s, d, "documents").filter(col("doc_id") % 10 === 0)
        val exact = sub.select((col("doc_id") + 100000).as("doc_id"), col("text"))
        val near = sub.select((col("doc_id") + 200000).as("doc_id"),
          concat(col("text"), lit(" zzq"), col("doc_id").cast("string")).as("text"))
        val dbl = sub.select(col("doc_id"), col("text")).unionAll(exact).unionAll(near)
        graft.ops.SetSimJoin.jaccardSelfJoin(dbl, "doc_id", "text", 3, 5)
          .withColumn("is_near", col("jaccard") < 1.0)
          .orderBy("id_a", "id_b")
      },
      oracle = Some(s"""
        WITH sub AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
        dbl AS (SELECT doc_id AS id, text FROM sub
                UNION ALL SELECT doc_id + 100000, text FROM sub
                UNION ALL
                SELECT doc_id + 200000,
                       concat(text, ' zzq', CAST(doc_id AS VARCHAR)) FROM sub),
        sh AS (SELECT id,
                      list_distinct(list_transform(generate_series(1, len(toks) - 2),
                        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
               FROM (SELECT id, $toksSql AS toks FROM dbl)),
        p AS (SELECT a.id AS id_a, b.id AS id_b,
                     len(list_intersect(a.s, b.s)) AS inter,
                     len(a.s) AS na, len(b.s) AS nb
              FROM sh a JOIN sh b ON a.id < b.id)
        SELECT id_a, id_b,
               round(CAST(inter AS DOUBLE)
                     / CAST(na + nb - inter AS DOUBLE), 9) AS jaccard,
               (round(CAST(inter AS DOUBLE)
                      / CAST(na + nb - inter AS DOUBLE), 9) < 1.0) AS is_near
        FROM p WHERE inter * 5 >= (na + nb - inter) * 3
        ORDER BY id_a, id_b""")),

    // Substring-GRAIN exact dedup — Lee et al. 2022's ExactSubstr
    // (arXiv:2107.06499), the canonical training-data dedup: every token
    // span of length >= 20 occurring >= 2 times corpus-wide, reported as
    // maximal per-doc [start, end) token intervals. This is the grain
    // q20 (whole doc), q173 (fixed segment) and q70 (n-gram census)
    // cannot reach: a boilerplate run EMBEDDED mid-document. Plumbing:
    // one codegen-adjacent pass emits per-position 20-window hashes
    // (O(tokens) rows, not the O(tokens x 20) gram sweep), a hash-keyed
    // count prunes to candidates, survivors re-slice their REAL window
    // text for an exact verify (hash-collision-proof, which is also what
    // lets DuckDB replay the whole algorithm string-side), and one
    // doc-keyed window merges covered starts into maximal spans.
    // Injection (hollow-output discipline): docs with doc_id % 25 == 3
    // and >= 30 tokens get a twin (+300000) sharing tokens [5, 29) —
    // a 24-token run wrapped in per-doc-unique filler — so spans
    // provably fire in BOTH the twin and its source at multiple offsets;
    // the oracle replays the full algorithm, so any ORGANIC >= 20-token
    // repeat agrees too instead of breaking an analytic answer.
    "q284_exact_substr_dedup" -> QueryDef(
      fn = (s, d) => {
        val base = t(s, d, "documents")
          .select(col("doc_id"), TF.tokens(col("text")).as("toks"))
        val src = base.filter(col("doc_id") % 25 === 3 && size(col("toks")) >= 30)
        val twins = src.select((col("doc_id") + 300000).as("doc_id"),
          concat(
            array(concat(lit("hdr"), col("doc_id").cast("string"))),
            slice(col("toks"), 6, 24),
            array(concat(lit("tl"), col("doc_id").cast("string")))).as("toks"))
        graft.ops.ExactSubstr.duplicateSpans(
            base.unionAll(twins), "doc_id", "toks", minLen = 20)
          .select(col("doc_id"), col("span_start").cast("long").as("span_start"),
            col("span_end").cast("long").as("span_end"))
          .orderBy("doc_id", "span_start")
      },
      bench = true, // the window-hash-explode wall-time probe
      oracle = Some(s"""
        WITH $exactSubstrCtes
        SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
               CAST(max(pos) + 20 AS BIGINT) AS span_end
        FROM i2 GROUP BY doc_id, isl ORDER BY doc_id, span_start""")),

    // The removal ACTION of q284, oracle-gated: per-doc token accounting
    // after every duplicated span is cut (all copies — the canonical
    // ExactSubstr tool's behavior). Merged spans are disjoint by
    // construction, so clean = total - sum(span lengths), which is what
    // the oracle recomputes from the shared CTE chain; the Spark side
    // counts the ACTUAL filtered array, so a reassembly bug (off-by-one
    // bounds, unfiltered position) diverges from the arithmetic.
    "q287_exact_substr_removal" -> QueryDef(
      fn = (s, d) => {
        val base = t(s, d, "documents")
          .select(col("doc_id"), TF.tokens(col("text")).as("toks"))
        val src = base.filter(col("doc_id") % 25 === 3 && size(col("toks")) >= 30)
        val twins = src.select((col("doc_id") + 300000).as("doc_id"),
          concat(
            array(concat(lit("hdr"), col("doc_id").cast("string"))),
            slice(col("toks"), 6, 24),
            array(concat(lit("tl"), col("doc_id").cast("string")))).as("toks"))
        val corpus = base.unionAll(twins)
          .localCheckpoint(eager = true) // removal + before-count share it
        graft.ops.ExactSubstr.removeDuplicateSpans(
            corpus, "doc_id", "toks", minLen = 20)
          .join(corpus, Seq("doc_id"))
          .select(col("doc_id"),
            size(col("toks")).cast("long").as("n_tokens"),
            size(col("clean_toks")).cast("long").as("n_clean"))
          .orderBy("doc_id")
      },
      oracle = Some(s"""
        WITH $exactSubstrCtes,
        spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 20 AS e
                  FROM i2 GROUP BY doc_id, isl),
        cov AS (SELECT doc_id, sum(e - s) AS covered FROM spans GROUP BY doc_id)
        SELECT c2.doc_id, CAST(len(c2.toks) AS BIGINT) AS n_tokens,
               CAST(len(c2.toks) - coalesce(cov.covered, 0) AS BIGINT) AS n_clean
        FROM corpus c2 LEFT JOIN cov USING (doc_id) ORDER BY doc_id""")),
  )

  /** q284/q287's shared replay chain: the injected corpus, every
    * 20-window occurrence, duplicated windows, covered starts, and the
    * gaps-and-islands grouping (i2) — one CTE body for the span query
    * AND the removal query so the two oracles cannot drift.
    */
  private val exactSubstrCtes: String = s"""
        base AS (SELECT doc_id, $toksSql AS toks FROM documents),
        src AS (SELECT * FROM base WHERE doc_id % 25 = 3 AND len(toks) >= 30),
        corpus AS (SELECT doc_id, toks FROM base
                   UNION ALL
                   SELECT doc_id + 300000,
                          list_concat(list_concat(
                            ['hdr' || CAST(doc_id AS VARCHAR)], toks[6:29]),
                            ['tl' || CAST(doc_id AS VARCHAR)])
                   FROM src),
        w0 AS (SELECT doc_id,
                      unnest(list_transform(
                        generate_series(1, greatest(len(toks) - 19, 0)),
                        i -> {'pos': i - 1,
                              'win': array_to_string(toks[i:i+19], ' ')})) AS s
               FROM corpus),
        w AS (SELECT doc_id, s.pos AS pos, s.win AS win FROM w0),
        dup AS (SELECT win FROM w GROUP BY win HAVING count(*) >= 2),
        c AS (SELECT doc_id, pos FROM w WHERE win IN (SELECT win FROM dup)),
        i1 AS (SELECT doc_id, pos,
                      lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
               FROM c),
        i2 AS (SELECT doc_id, pos,
                      sum(CASE WHEN prev IS NULL OR pos - prev > 20
                          THEN 1 ELSE 0 END)
                        OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS UNBOUNDED PRECEDING) AS isl
               FROM i1)"""
}
