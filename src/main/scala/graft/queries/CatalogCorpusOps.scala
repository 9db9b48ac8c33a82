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

/** corpus operators: boilerplate, rolling, clusters, decontamination, BPE, postings (q89-q109).
  *
  * One slice of the query catalog (split from the single 3.9k-line map
  * in round 5). Entry ORDER is load-bearing: [[Catalog.all]] is a
  * ListMap concatenated slice-by-slice, and oracle_sql.json iterates
  * it in insertion order.
  */
private[queries] object CatalogCorpusOps {
  def entries: Seq[(String, QueryDef)] = Seq(
    // ===== round-4 operators =====

    // Line-level boilerplate removal (ops/Lines — the CCNet curation
    // step): a per-source promo header is injected into every doc, then
    // lines occurring in ≥ 2 distinct docs (headers + exact-dup text
    // lines) are stripped and the survivors reassembled in order. The
    // removal anti-join's build side is only the tiny frequent-line set;
    // reassembly is the one doc-keyed shuffle.
    "q89_line_boilerplate" -> QueryDef(
      fn = (s, d) => {
        val ptext = concat_ws("\n",
          concat(lit("promo "), col("source")),
          col("text"),
          concat(lit("doc "), col("doc_id").cast("string")))
        graft.ops.Lines.removeFrequentLines(
            t(s, d, "documents").select(col("doc_id"), ptext.as("text")),
            "doc_id", "text", minDocs = 2)
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH d AS (SELECT doc_id,
                     concat_ws(chr(10), 'promo ' || source, text,
                               'doc ' || CAST(doc_id AS VARCHAR)) AS text
                   FROM documents),
        l AS (SELECT doc_id,
                     unnest(string_split(text, chr(10))) AS line,
                     unnest(generate_series(1, len(string_split(text, chr(10))))) AS pos
              FROM d),
        freq AS (SELECT line FROM l GROUP BY line
                 HAVING count(DISTINCT doc_id) >= 2),
        k AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text,
                     count(*) AS n_kept
              FROM l WHERE line NOT IN (SELECT line FROM freq)
              GROUP BY doc_id)
        SELECT d.doc_id,
               coalesce(k.clean_text, '') AS clean_text,
               coalesce(k.n_kept, 0) AS n_kept,
               len(string_split(d.text, chr(10))) - coalesce(k.n_kept, 0) AS n_removed
        FROM d LEFT JOIN k USING (doc_id) ORDER BY doc_id""")),

    // Bounded per-group uniform sample (plans/TopKPerKey): the k smallest
    // md5(id) per language are a deterministic uniform k-subset, and the
    // operator's partial phase caps the exchange at O(groups × k) — the
    // bounded-state replacement for the full window shuffle-and-sort the
    // oracle expresses. The rank is a row_number() over the operator's
    // output, which is already clustered on lang and sorted by
    // (lang, hash, doc_id): no second exchange, at most k rows per key.
    "q90_group_sample" -> QueryDef(
      fn = (s, d) => {
        val sample = graft.plans.TopKPerKey.topKPerKey(
          t(s, d, "documents").select(col("lang"),
            md5(col("doc_id").cast("string")).as("__h"), col("doc_id")),
          Seq(col("lang")), Seq((col("__h"), true), (col("doc_id"), true)), 10)
        val w = Window.partitionBy("lang").orderBy(col("__h"), col("doc_id"))
        sample.select(col("lang"), row_number().over(w).cast("long").as("rank"),
            col("doc_id"))
          .orderBy("lang", "rank")
      },
      oracle = Some("""
        SELECT lang, CAST(rn AS BIGINT) AS rank, doc_id
        FROM (SELECT lang, doc_id,
                     row_number() OVER (PARTITION BY lang
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
              FROM documents)
        WHERE rn <= 10 ORDER BY lang, rank""")),

    // Hourly gap-fill + forward fill (ops/TimeSeries): densify each event
    // type's hourly average series over its own [min, max] hour range and
    // carry the last observed value across the gaps — the sensor-feed
    // repair step. The average is exact (integer cents) and 6-dp-snapped
    // BEFORE the fill, so filled copies are bit-identical across engines.
    "q91_gap_fill" -> QueryDef(
      fn = (s, d) => {
        val hourly = t(s, d, "events")
          .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
          .agg((floor((sum(cents(col("value"))).cast("double") / 100.0 /
            count(col("value"))) * 1000000 + 0.5) / 1000000.0).as("avg_value"))
        graft.ops.TimeSeries
          .gapFillForwardFill(hourly, "event_type", "hour", "avg_value")
          .orderBy("event_type", "hour")
      },
      oracle = Some(s"""
        WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hour,
                     floor((CAST(sum(${centsSql("value")}) AS DOUBLE) / 100.0
                            / count(value)) * 1000000 + 0.5) / 1000000.0
                       AS avg_value
                   FROM events GROUP BY 1, 2),
        b AS (SELECT event_type, min(hour) AS lo, max(hour) AS hi
              FROM h GROUP BY 1),
        spine AS (SELECT event_type,
                         unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
                  FROM b),
        j AS (SELECT s.event_type, s.hour, h.avg_value
              FROM spine s LEFT JOIN h USING (event_type, hour))
        SELECT event_type, hour,
               last_value(avg_value IGNORE NULLS)
                 OVER (PARTITION BY event_type ORDER BY hour) AS avg_value,
               (avg_value IS NULL) AS was_gap
        FROM j ORDER BY event_type, hour""")),

    // Trailing time-window rolling average (RANGE frame over epoch
    // millis, ops/TimeSeries.rollingSumCount): each event's mean value
    // over the same user's preceding hour — the feature-engineering
    // window shape. Exact integer-cent sums inside the frame; RANGE
    // includes order-column peers identically on both engines, so ties
    // cannot diverge. One hash exchange on user_id.
    "q92_rolling_window" -> QueryDef(
      fn = (s, d) => {
        val ev = t(s, d, "events").select(col("event_id"), col("user_id"),
          unix_millis(col("ts")).as("ts_ms"), col("value"))
        graft.ops.TimeSeries.rollingSumCount(ev, "user_id", "ts_ms",
            cents(col("value")), lookback = 3600000L)
          .select(col("event_id"), col("user_id"), col("ts_ms"), col("win_n"),
            (floor((col("win_sum").cast("double") / 100.0 / col("win_n"))
              * 1000000 + 0.5) / 1000000.0).as("win_avg"))
          .orderBy("event_id")
      },
      oracle = Some(s"""
        SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
               CAST(count(value) OVER w AS BIGINT) AS win_n,
               floor((CAST(sum(${centsSql("value")}) OVER w AS DOUBLE) / 100.0
                      / (count(value) OVER w)) * 1000000 + 0.5) / 1000000.0
                 AS win_avg
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
                     RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW)
        ORDER BY event_id"""),
      bench = true),

    // Z-score outlier flagging via exact group moments (the q76 machinery
    // composed into a filter): mean/std from integer-cent sums are
    // bit-identical doubles on both engines, so the |z| > 2 cut keeps
    // exactly the same rows; the 5-row stats side broadcasts.
    "q93_zscore_outliers" -> QueryDef(
      fn = (s, d) => {
        val ev = t(s, d, "events").filter(col("value").isNotNull)
        val s1 = col("__s1").cast("double")
        val s2 = col("__s2").cast("double")
        val nD = col("__n").cast("double")
        val moments = eventValueMoments(ev).select(col("event_type"),
          (s1 / 100.0 / nD).as("__mean"),
          (sqrt((s2 - s1 * s1 / nD) / (nD - 1)) / 100.0).as("__std"))
        val z = (col("value") - col("__mean")) / col("__std")
        ev.join(broadcast(moments), Seq("event_type"))
          .withColumn("__z", z)
          .filter(abs(col("__z")) > 2.0)
          .select(col("event_id"), col("event_type"), col("value"),
            (floor(col("__z") * 1000000 + 0.5) / 1000000.0).as("z"))
          .orderBy("event_id")
      },
      oracle = Some(s"""
        WITH m AS ($momentsSqlCte),
        s AS (SELECT event_type, s1 / 100.0 / n AS mean_v,
                     sqrt((s2 - s1 * s1 / n) / (n - 1)) / 100.0 AS std_v
              FROM m)
        SELECT event_id, event_type, value,
               floor(((value - mean_v) / std_v) * 1000000 + 0.5) / 1000000.0 AS z
        FROM events JOIN s USING (event_type)
        WHERE value IS NOT NULL
          AND abs((value - mean_v) / std_v) > 2.0
        ORDER BY event_id""")),

    // Count-Min sketch frequency watchlist (ops/CountMin): one mergeable
    // depth×width sketch of the token stream answers post-hoc point
    // queries; estimate ≥ t is a SUPERSET of the truly-heavy probes (CMS
    // never undercounts), and the exact pass over `token IN (survivors)`
    // keeps precisely the HAVING result. The sketch — not the vocabulary —
    // crosses the exchange.
    "q94_cms_watchlist" -> QueryDef(
      fn = (s, d) => {
        val toks = t(s, d, "documents")
          .select(explode(TF.tokens(col("text"))).as("token"))
        graft.ops.CountMin.heavyProbes(toks, col("token"), cmsProbes, cmsMinCount)
          .select(col("item").as("token"), col("n"))
          .orderBy("token")
      },
      oracle = Some(s"""
        SELECT token, count(*) AS n
        FROM (SELECT unnest($toksSql) AS token FROM documents)
        WHERE token IN (${sqlInList(cmsProbes)})
        GROUP BY token HAVING count(*) >= $cmsMinCount ORDER BY token""")),

    // Canonical-doc selection per duplicate cluster (Dedup.keepCanonical):
    // the corpus is tripled into base + a stopword-padded variant (higher
    // quality score) + a junk-padded one (lower); CHAIN edges build each
    // cluster, and the argmax-quality pick must often choose the PADDED
    // variant — survivorship by quality, not id order.
    "q95_cluster_canonical" -> QueryDef(
      fn = (s, d) => {
        val base = t(s, d, "documents").select(col("doc_id"), col("text"))
        val v1 = base.select((col("doc_id") + canonShift).as("doc_id"),
          concat(col("text"), lit(canonPadHi)).as("text"))
        val v2 = base.select((col("doc_id") + 2 * canonShift).as("doc_id"),
          concat(col("text"), lit(canonPadLo)).as("text"))
        val corp = base.unionAll(v1).unionAll(v2)
        val edges = base.select(col("doc_id").as("id_a"),
            (col("doc_id") + canonShift).as("id_b"))
          .unionAll(base.select((col("doc_id") + canonShift).as("id_a"),
            (col("doc_id") + 2 * canonShift).as("id_b")))
        val scored = corp.select(col("doc_id"),
          TF.qualityScore(col("text"), TF.langMarkers("en")).as("quality"))
        Dedup.keepCanonical(scored, edges, "doc_id", "quality")
          .orderBy("component")
      },
      oracle = Some {
        val corpSql = s"""SELECT doc_id, text FROM documents
            UNION ALL SELECT doc_id + $canonShift AS doc_id, text || '$canonPadHi'
              AS text FROM documents
            UNION ALL SELECT doc_id + ${2 * canonShift} AS doc_id, text || '$canonPadLo'
              AS text FROM documents"""
        s"""
        WITH corp AS ($corpSql),
        q AS (SELECT doc_id, $qualityExprSql AS quality
              FROM (${qualityInnerSqlFrom("corp")})),
        r AS (SELECT doc_id % $canonShift AS component, doc_id, quality,
                     row_number() OVER (PARTITION BY doc_id % $canonShift
                       ORDER BY quality DESC, doc_id) AS rn,
                     count(*) OVER (PARTITION BY doc_id % $canonShift) AS n_members
              FROM q)
        SELECT component, doc_id AS kept_id, quality,
               CAST(n_members AS BIGINT) AS n_members
        FROM r WHERE rn = 1 ORDER BY component"""
      }),

    // Zone-map file pruning (ops/ZoneMap): per-file min/max stats plan
    // the read set for a key-range predicate — Delta-style data skipping
    // over plain parquet, with the residual filter keeping stale stats
    // safe. The single-file test layout prunes trivially; ZoneMapSpec
    // proves real file skipping on a multi-file range-partitioned write.
    "q96_zonemap_prune" -> QueryDef(
      fn = (s, d) => graft.ops.ZoneMap
        .prunedRead(s, s"$d/lineitem.parquet", "l_orderkey",
          lit(1000L), lit(3000L))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          exactSum(col("l_extendedprice")).as("sum_price"))
        .orderBy("l_returnflag"),
      oracle = Some(s"""
        SELECT l_returnflag, count(*) AS n,
               ${sumSql("l_extendedprice")} AS sum_price
        FROM lineitem
        WHERE l_orderkey BETWEEN 1000 AND 3000
        GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // One-pass table profiling (ops/Profile — the crawler-statistics
    // step): per column, rows / nulls / exact distinct / min / max, all
    // from ONE aggregate (multi-distinct Expand; swap in
    // approx_count_distinct at 100 TB). The oracle is generated from the
    // same column list, so the two sides cannot drift.
    "q97_table_profile" -> QueryDef(
      fn = (s, d) => graft.ops.Profile
        .profile(t(s, d, "orders"), profileCols)
        .orderBy("col_name"),
      oracle = Some(graft.ops.Profile.profileSql("orders", profileCols))),

    // Sequential conversion funnel (ops/Funnel): users reaching view,
    // then click at-or-after their earliest view within 7 days, then
    // purchase after that click. k user-keyed aggs + k-1 user-keyed
    // joins — the per-user state is one timestamp per step.
    "q98_funnel_steps" -> QueryDef(
      fn = (s, d) => graft.ops.Funnel
        .funnelSteps(t(s, d, "events"), "user_id", "ts", "event_type",
          funnelStepSeq, maxSpan = Some("INTERVAL 7 DAYS"))
        .orderBy("step"),
      oracle = Some(funnelOracleSql)),

    // Weekly cohort retention: users bucketed by first-active week,
    // counted per week offset — two user-keyed aggregations and one
    // user-keyed join; week truncation and the day/7 offset are exact
    // integer ops on both engines.
    "q99_cohort_retention" -> QueryDef(
      fn = (s, d) => {
        val weekly = t(s, d, "events")
          .select(col("user_id"), date_trunc("week", col("ts")).as("week"))
          .distinct()
        val first = weekly.groupBy("user_id")
          .agg(min(col("week")).as("cohort_week"))
        weekly.join(first, Seq("user_id"))
          .groupBy(col("cohort_week"),
            (datediff(col("week"), col("cohort_week")) / 7).cast("long")
              .as("week_offset"))
          .agg(countDistinct(col("user_id")).as("n_users"))
          .orderBy("cohort_week", "week_offset")
      },
      oracle = Some("""
        WITH a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS week
                   FROM events),
        f AS (SELECT user_id, min(week) AS cohort_week FROM a GROUP BY user_id)
        SELECT cohort_week,
               CAST(date_diff('day', cohort_week, week) // 7 AS BIGINT)
                 AS week_offset,
               count(DISTINCT user_id) AS n_users
        FROM a JOIN f USING (user_id)
        GROUP BY 1, 2 ORDER BY cohort_week, week_offset""")),

    // Exact global percent_rank (ops/Ranking.percentRankExact): RANK
    // semantics over n_chars DESC (real ties — tied docs share a pct),
    // two-phase range-partitioned rank instead of the single-reducer
    // window the oracle expresses. 6-dp floor snap on both engines.
    "q100_percent_rank" -> QueryDef(
      fn = (s, d) => graft.ops.Ranking
        .percentRankExact(
          t(s, d, "documents").select(col("doc_id"), col("n_chars")),
          Seq(col("n_chars").desc))
        .select(col("doc_id"), col("n_chars"),
          (floor(col("pct_rank") * 1000000 + 0.5) / 1000000.0).as("pct_rank"))
        .orderBy("doc_id"),
      oracle = Some("""
        SELECT doc_id, n_chars,
               floor(percent_rank() OVER (ORDER BY n_chars DESC)
                     * 1000000 + 0.5) / 1000000.0 AS pct_rank
        FROM documents ORDER BY doc_id""")),

    // Exact global cume_dist (ops/Ranking.cumeDistExact): the
    // distribution-over-a-low-cardinality-key scale path promised by
    // q148's scaladoc — peer-inclusive count/n via the same two-phase
    // range-partitioned scan as q100, no single-reducer window. Same
    // tie-heavy n_chars key and 6-dp floor snap as q100; both engines
    // divide the same integers as IEEE doubles.
    "q149_cume_dist" -> QueryDef(
      fn = (s, d) => graft.ops.Ranking
        .cumeDistExact(
          t(s, d, "documents").select(col("doc_id"), col("n_chars")),
          Seq(col("n_chars").asc))
        .select(col("doc_id"), col("n_chars"),
          (floor(col("cume_dist") * 1000000 + 0.5) / 1000000.0).as("cd"))
        .orderBy("doc_id"),
      oracle = Some("""
        SELECT doc_id, n_chars,
               floor(cume_dist() OVER (ORDER BY n_chars ASC)
                     * 1000000 + 0.5) / 1000000.0 AS cd
        FROM documents ORDER BY doc_id""")),

    // Distribution-drift monitor (ops/Drift.jsDivergence): JS divergence
    // between the first- and second-half-of-month value distributions —
    // the "did the new crawl shift the corpus?" check. Two bounded
    // fixed-width histograms (uniform bucket keys, map-side partials),
    // O(buckets) join, one-row result. Natural-log JS in [0, ln 2];
    // 6-dp floor snap absorbs libm ULP + double-sum order drift
    // (measured values sit >= 7e-8 from every snap boundary at
    // sf0.001/0.01/0.1: js = .007147/.000699/.000077).
    "q150_js_drift" -> QueryDef(
      fn = (s, d) => {
        val ev = t(s, d, "events")
        graft.ops.Drift.jsDivergence(
            ev.filter(dayofmonth(col("ts")) <= 15),
            ev.filter(dayofmonth(col("ts")) > 15),
            col("value"), 25.0)
          .select(col("n_a"), col("n_b"),
            (floor(col("js_nats") * 1000000 + 0.5) / 1000000.0).as("js6"))
      },
      oracle = Some("""
        WITH ha AS (SELECT CAST(floor(value/25.0) AS BIGINT) AS bucket,
                           count(*) AS na
                    FROM events WHERE day(ts) <= 15 GROUP BY 1),
             hb AS (SELECT CAST(floor(value/25.0) AS BIGINT) AS bucket,
                           count(*) AS nb
                    FROM events WHERE day(ts) > 15 GROUP BY 1),
             j AS (SELECT coalesce(na, 0) AS na, coalesce(nb, 0) AS nb
                   FROM ha FULL OUTER JOIN hb USING (bucket)),
             t AS (SELECT CAST(sum(na) AS BIGINT) AS ta,
                          CAST(sum(nb) AS BIGINT) AS tb FROM j),
             pq AS (SELECT na * 1.0 / ta AS p, nb * 1.0 / tb AS q FROM j, t)
        SELECT (SELECT ta FROM t) AS n_a, (SELECT tb FROM t) AS n_b,
               floor(sum(CASE WHEN p > 0
                              THEN p * ln(p / ((p+q)/2)) / 2 ELSE 0 END
                       + CASE WHEN q > 0
                              THEN q * ln(q / ((p+q)/2)) / 2 ELSE 0 END)
                     * 1000000 + 0.5) / 1000000.0 AS js6
        FROM pq""")),

    // Contamination REMOVAL (Decontaminate.maskContaminated): q62/q88
    // detect eval leakage; this rewrites the train split with every
    // leaked 3-gram occurrence masked out — coverage is per token
    // position, so overlapping hits merge naturally. Same 0.8 hash split
    // as q62; clean docs pass through with zero removed.
    "q101_mask_contaminated" -> QueryDef(
      fn = (s, d) => {
        val docs = t(s, d, "documents")
        val isTrain = graft.ops.Sampling.inSplit(col("doc_id"), 0.8)
        // hashGrams = the operator's documented at-scale mode (8-byte
        // token-window hashes as join keys, no gram strings built):
        // identical spans/output — DecontaminateSpec pins hash-vs-exact
        // parity and the oracle gate re-proves it at every sf (r15 opt
        // round; the exact-string mode stays the default for callers
        // that need engine-portable gram identity)
        graft.ops.Decontaminate.maskContaminated(
            docs.filter(isTrain), docs.filter(!isTrain), "doc_id", "text",
            hashGrams = true)
          .orderBy("doc_id")
      },
      oracle = Some(s"""
        WITH split AS (
          SELECT doc_id, text,
                 substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                   < '${Sampling.thresholdHex(0.8)}' AS is_train
          FROM documents),
        tt AS (SELECT doc_id, $toksSql AS toks FROM split WHERE is_train),
        eg AS (SELECT DISTINCT
                 toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS gram
               FROM (SELECT $toksSql AS toks FROM split WHERE NOT is_train) e,
               LATERAL (SELECT unnest(generate_series(1, len(toks) - 2)) AS i) g),
        occ AS (SELECT doc_id, i
                FROM tt,
                LATERAL (SELECT unnest(generate_series(1, len(toks) - 2)) AS i) g
                WHERE (toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                        IN (SELECT gram FROM eg)),
        cov AS (SELECT DISTINCT doc_id,
                       unnest(generate_series(i, i + 2)) AS p
                FROM occ),
        tp AS (SELECT doc_id, unnest(toks) AS tok,
                      unnest(generate_series(1, len(toks))) AS p
               FROM tt),
        kept AS (SELECT t.doc_id, t.tok, t.p
                 FROM tp t LEFT JOIN cov c
                   ON t.doc_id = c.doc_id AND t.p = c.p
                 WHERE c.p IS NULL),
        re AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS clean_text,
                      count(*) AS n_tokens_kept
               FROM kept GROUP BY doc_id)
        SELECT tt.doc_id,
               coalesce(re.clean_text, '') AS clean_text,
               coalesce(re.n_tokens_kept, 0) AS n_tokens_kept,
               len(tt.toks) - coalesce(re.n_tokens_kept, 0) AS n_tokens_removed
        FROM tt LEFT JOIN re USING (doc_id) ORDER BY doc_id"""),
      bench = true),

    // Event transition counts (the Markov-chain edge table): per user,
    // each event paired with its predecessor via lag, grouped into
    // (prev, next) counts. One hash exchange on user_id for the window,
    // partial agg for the counts. Ordering is (epoch MILLIS, event_id) —
    // both engines floor the nanos timestamp to the same millis value,
    // so tie-breaks cannot diverge on sub-milli precision.
    "q102_event_transitions" -> QueryDef(
      fn = (s, d) => {
        val w = Window.partitionBy("user_id")
          .orderBy(unix_millis(col("ts")), col("event_id"))
        t(s, d, "events")
          .withColumn("prev_type", lag(col("event_type"), 1).over(w))
          .filter(col("prev_type").isNotNull)
          .groupBy(col("prev_type"), col("event_type").as("next_type"))
          .agg(count(lit(1)).as("n"))
          .orderBy("prev_type", "next_type")
      },
      oracle = Some("""
        SELECT prev_type, next_type, count(*) AS n
        FROM (SELECT event_type AS next_type,
                     lag(event_type) OVER (PARTITION BY user_id
                       ORDER BY epoch_ms(ts), event_id) AS prev_type
              FROM events)
        WHERE prev_type IS NOT NULL
        GROUP BY prev_type, next_type ORDER BY prev_type, next_type""")),

    // Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): NULL keys MATCH
    // each other instead of vanishing — the semantics dimension lookups
    // need when "unknown" is itself a dimension member. The fact side
    // nulls out 'view' events; the 5-row dim broadcasts.
    "q103_nullsafe_join" -> QueryDef(
      fn = (s, d) => {
        val facts = t(s, d, "events")
          .select(nullif(col("event_type"), lit("view")).as("k"),
            col("value"))
        val dim = s.createDataFrame(Seq(
            (Option("click"), "clicked"), (Option("error"), "errored"),
            (Option("purchase"), "purchased"), (Option("signup"), "signed"),
            (Option.empty[String], "unknown")))
          .toDF("k", "label")
        facts.join(broadcast(dim), facts("k") <=> dim("k"))
          .groupBy("label")
          .agg(count(lit(1)).as("n"), exactSum(col("value")).as("sum_value"))
          .orderBy("label")
      },
      oracle = Some(s"""
        WITH f AS (SELECT nullif(event_type, 'view') AS k, value FROM events),
        dim(k, label) AS (VALUES ('click', 'clicked'), ('error', 'errored'),
                                 ('purchase', 'purchased'), ('signup', 'signed'),
                                 (NULL, 'unknown'))
        SELECT label, count(*) AS n, ${sumSql("value")} AS sum_value
        FROM f JOIN dim ON f.k IS NOT DISTINCT FROM dim.k
        GROUP BY label ORDER BY label""")),

    // STREAMING funnel (Funnel.streamingFunnel): the q98 funnel as a real
    // Structured Streaming query — flatMapGroupsWithState holds one
    // multi-step frontier per user (O(active users) state), the memory
    // sink collects the Update-mode refinements, and elementwise-min
    // folding recovers the final frontier. Checked against the SAME
    // oracle as q98 — stream/batch parity is the correctness claim.
    "q104_stream_funnel" -> QueryDef(
      fn = (s, d) => {
        val dir = stageEventsDir(d)
        val ss = streamingSession(s)
        val table = try {
          val stream = stagedEventsStream(ss, dir)
            .select("user_id", "ts", "event_type")
          val frontiers = graft.ops.Funnel.streamingFunnel(ss, stream,
            funnelStepSeq, maxSpanMicros = Some(7L * 24 * 3600 * 1000000L))
          runToMemoryTable(frontiers.toDF(), "q104_mem", outputMode = "update")
        } finally dropStaged(dir)
        val folded = table.groupBy("user_id")
          .agg(min(col("reached").getItem(0)).as("__t0"),
            funnelStepSeq.indices.tail.map(i =>
              min(col("reached").getItem(i)).as(s"__t$i")): _*)
        funnelStepSeq.zipWithIndex.map { case (st, i) =>
          folded.agg(count(col(s"__t$i")).as("n_users"))
            .select(lit(i + 1L).as("step"), lit(st).as("event_type"),
              col("n_users"))
        }.reduce(_.unionAll(_)).orderBy("step")
      },
      oracle = Some(funnelOracleSql)),

    // Schema-evolution read: half the corpus is staged WITHOUT the lang
    // column (the v1 writer), half with it (v2); `mergeSchema` unions the
    // file schemas and fills the missing column with NULL — the lakehouse
    // reality of long-lived tables. The oracle expresses the semantic
    // outcome over the original table. localCheckpoint materializes the
    // result before the staged files are deleted.
    "q105_schema_evolution" -> QueryDef(
      fn = (s, d) => {
        val docs = t(s, d, "documents")
        val base = java.nio.file.Files.createTempDirectory("graft-evolve")
        val p1 = s"$base/v1"; val p2 = s"$base/v2"
        try {
          docs.filter(col("doc_id") % 2 === 0)
            .select("doc_id", "source")
            .write.mode("overwrite").parquet(p1)
          docs.filter(col("doc_id") % 2 =!= 0)
            .select("doc_id", "source", "lang")
            .write.mode("overwrite").parquet(p2)
          s.read.option("mergeSchema", "true").parquet(p1, p2)
            .groupBy(coalesce(col("lang"), lit("__absent__")).as("lang"))
            .agg(count(lit(1)).as("n"), min("doc_id").as("min_id"))
            .orderBy("lang")
            .localCheckpoint(true)
        } finally dropStaged(base)
      },
      oracle = Some("""
        SELECT CASE WHEN doc_id % 2 = 0 THEN '__absent__' ELSE lang END AS lang,
               count(*) AS n, min(doc_id) AS min_id
        FROM documents GROUP BY 1 ORDER BY lang""")),

    // Declarative data-quality expectations (ops/Expectations): the
    // reference's scattered validation steps (null audit, range checks,
    // domain checks — P8-P11) generalized into one rule-table pass: N
    // rules, ONE scan, ONE aggregate; NULL rule results count as
    // violations. Thresholds are chosen so some rules pass clean and
    // some accumulate real violations.
    "q106_expectations" -> QueryDef(
      fn = (s, d) => {
        import graft.ops.Expectations.Rule
        graft.ops.Expectations.check(t(s, d, "lineitem"), Seq(
            Rule("discount_low", col("l_discount") <= 0.05),
            Rule("price_floor", col("l_extendedprice") >= 5000.0),
            Rule("quantity_positive", col("l_quantity") > 0),
            Rule("returnflag_domain", col("l_returnflag").isin("A", "N", "R")),
            Rule("shipdate_present", col("l_shipdate").isNotNull)))
          .orderBy("rule")
      },
      oracle = Some {
        val ruleSql = Seq(
          "discount_low" -> "l_discount <= 0.05",
          "price_floor" -> "l_extendedprice >= 5000.0",
          "quantity_positive" -> "l_quantity > 0",
          "returnflag_domain" -> "l_returnflag IN ('A', 'N', 'R')",
          "shipdate_present" -> "l_shipdate IS NOT NULL")
        val viols = ruleSql.zipWithIndex.map { case ((_, p), i) =>
          s"sum(CASE WHEN NOT coalesce($p, FALSE) THEN 1 ELSE 0 END) AS v$i"
        }.mkString(", ")
        val unions = ruleSql.zipWithIndex.map { case ((name, _), i) =>
          s"""SELECT '$name' AS rule, n_rows, CAST(v$i AS BIGINT) AS n_violations,
              floor(CAST(v$i AS DOUBLE) / n_rows * 1000000 + 0.5) / 1000000.0
                AS violation_rate FROM t"""
        }.mkString(" UNION ALL ")
        s"WITH t AS (SELECT count(*) AS n_rows, $viols FROM lineitem) $unions ORDER BY rule"
      }),

    // SCD Type-2 compaction (ops/ChangeCapture.scd2): the per-user
    // event_type log collapsed into validity intervals — one row per run
    // of equal values with version / valid_from / valid_to / is_current.
    // One hash exchange on user_id; both window passes share its sort.
    // Interval bounds are epoch MILLIS (engines floor nanos identically;
    // never order or output cross-engine raw nanos-vs-micros timestamps).
    "q107_scd2_intervals" -> QueryDef(
      fn = (s, d) => graft.ops.ChangeCapture.scd2(
          t(s, d, "events"), key = "user_id", attr = "event_type",
          seq = unix_millis(col("ts")), tie = col("event_id"))
        .select(col("user_id"), col("version"), col("event_type"),
          col("valid_from").as("valid_from_ms"),
          col("valid_to").as("valid_to_ms"), col("is_current"))
        .orderBy("user_id", "version"),
      oracle = Some(scd2OracleSql),
      bench = true),

    // Adjacent token-pair counts — the counting step of a BPE tokenizer
    // training round (find the most frequent symbol pair to merge).
    // Pairs are generated per document with a zero-shuffle array
    // transform; the only exchange is the final partial-aggregated
    // groupBy on the pair, and top-k plans TakeOrderedAndProject.
    "q108_bpe_pairs" -> QueryDef(
      fn = (s, d) => t(s, d, "documents")
        .select(TF.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(toks) - 2)," +
            " i -> named_struct('a', toks[i], 'b', toks[i + 1]))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("a"), col("b"))
        .limit(100),
      oracle = Some(s"""
        WITH tk AS (SELECT $toksSql AS toks FROM documents),
        pairs AS (SELECT unnest(toks[1:len(toks)-1]) AS a,
                         unnest(toks[2:len(toks)]) AS b
                  FROM tk WHERE len(toks) >= 2)
        SELECT a, b, count(*) AS n FROM pairs
        GROUP BY a, b ORDER BY n DESC, a, b LIMIT 100""")),

    // Inverted-index build: token -> document frequency, total term
    // frequency, and the first 5 postings (smallest doc_ids) as a CSV
    // head. The postings head is bounded BEFORE collection: a row_number
    // over (token, doc_id) caps collect_list state at 5 elements per
    // group, so a stop-word token touching every document in a 100 TB
    // corpus never materializes its full posting list in one aggregator.
    // The window and the groupBy share the token hash partitioning.
    "q109_inverted_index" -> QueryDef(
      fn = (s, d) => {
        val tf = t(s, d, "documents")
          .select(col("doc_id"), explode(TF.tokens(col("text"))).as("token"))
          .groupBy("token", "doc_id").agg(count(lit(1)).as("tf"))
        val w = Window.partitionBy("token").orderBy("doc_id")
        tf.withColumn("__rn", row_number().over(w))
          .groupBy("token")
          .agg(count(lit(1)).as("doc_freq"),
            sum("tf").as("total_tf"),
            expr("array_join(transform(array_sort(" +
              "collect_list(CASE WHEN __rn <= 5 THEN doc_id END))," +
              " x -> CAST(x AS STRING)), ',')").as("postings_head"))
          .orderBy(desc("doc_freq"), col("token"))
          .limit(100)
      },
      oracle = Some(s"""
        WITH tf AS (SELECT token, doc_id, count(*) AS tf FROM (
                      SELECT doc_id, unnest($toksSql) AS token FROM documents)
                    GROUP BY token, doc_id)
        SELECT token, count(*) AS doc_freq, CAST(sum(tf) AS BIGINT) AS total_tf,
               array_to_string(list_transform(
                 (list(doc_id ORDER BY doc_id))[1:5],
                 x -> CAST(x AS VARCHAR)), ',') AS postings_head
        FROM tf GROUP BY token ORDER BY doc_freq DESC, token LIMIT 100""")),

    // Exact global rank + dense_rank (ops/Ranking.rankAndDenseRank),
    // completing the SQL ranking family on the two-phase range-partition
    // pattern (q83 ntile, q100 percent_rank, q149 cume_dist) — both
    // functions from ONE shuffle + ONE local window sort; their bases
    // differ (rows vs distinct keys in earlier partitions). The key is
    // l_quantity: ~50 distinct values across the whole table, the
    // maximal-tie stress — every tie group spans many input partitions
    // yet must emit one shared rank (RANK, gaps after ties) and
    // consecutive steps (DENSE_RANK, no gaps). Integer-only output; the
    // per-row pairing is the strongest possible gate (no rollup masks a
    // misplaced row). Output ORDER BY includes l_quantity because the
    // synthetic lineitem duplicates (l_orderkey, l_linenumber) pairs
    // (~2% of rows at every sf) — with it, any residual order tie is a
    // full-row duplicate (equal quantity forces equal rnk AND drnk), so
    // the row sequence is compare-stable across engines.
    "q151_rank_family" -> QueryDef(
      fn = (s, d) => graft.ops.Ranking
        .rankAndDenseRank(
          t(s, d, "lineitem")
            .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity")),
          Seq(col("l_quantity").asc))
        .orderBy("l_orderkey", "l_linenumber", "l_quantity"),
      oracle = Some("""
        SELECT l_orderkey, l_linenumber, l_quantity,
               CAST(rank() OVER (ORDER BY l_quantity ASC) AS BIGINT) AS rnk,
               CAST(dense_rank() OVER (ORDER BY l_quantity ASC) AS BIGINT) AS drnk
        FROM lineitem ORDER BY l_orderkey, l_linenumber, l_quantity"""),
      bench = true),

    // Equi-depth histogram (the selectivity-estimation statistic every
    // optimizer keeps): 8 equal-row buckets of documents.n_chars with
    // per-bucket (lo, hi, n) bounds, built on ops/Ranking.ntileExact —
    // the two-phase range-partitioned ntile, then one bounded groupBy.
    // No single-reducer window anywhere; at 100 TB this is one range
    // shuffle + an O(buckets) aggregate. Oracle-safety of ties: ntile
    // MAY split a tie group across adjacent buckets and the engines may
    // split it differently, but the per-bucket result is INVARIANT —
    // bucket sizes are fixed by n and the boundary rows all carry the
    // same value, so lo/hi/n never depend on which tied row went where
    // (this is why the sort key needs no tiebreak). 8 rows at every sf.
    "q153_equidepth_hist" -> QueryDef(
      fn = (s, d) => graft.ops.Ranking
        .ntileExact(
          t(s, d, "documents").select(col("n_chars")),
          8, Seq(col("n_chars").asc))
        .groupBy("bucket")
        .agg(min(col("n_chars")).as("lo"), max(col("n_chars")).as("hi"),
          count(lit(1)).as("n"))
        .orderBy("bucket"),
      oracle = Some("""
        WITH b AS (SELECT n_chars,
                          CAST(ntile(8) OVER (ORDER BY n_chars ASC) AS BIGINT)
                            AS bucket
                   FROM documents)
        SELECT bucket, min(n_chars) AS lo, max(n_chars) AS hi,
               count(*) AS n
        FROM b GROUP BY bucket ORDER BY bucket""")),

    // Candidate-key profiling (the data-quality discovery step that
    // would have caught this round's q151 lesson BEFORE it bit: the
    // synthetic lineitem's (l_orderkey, l_linenumber) is NOT unique,
    // and neither is the triple with l_quantity — asserted here as
    // exact distinct counts + uniqueness booleans at every sf). All
    // three multi-column distincts ride ONE scan through Catalyst's
    // Expand (the q97 single-scan profile shape); output is one row.
    // Columns are non-null in this table, so Spark's null-dropping
    // countDistinct and DuckDB's struct-DISTINCT agree exactly.
    "q155_key_candidates" -> QueryDef(
      fn = (s, d) => t(s, d, "lineitem")
        .agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("l_orderkey")).as("d_okey"),
          countDistinct(col("l_orderkey"), col("l_linenumber"))
            .as("d_okey_line"),
          countDistinct(col("l_orderkey"), col("l_linenumber"),
            col("l_quantity")).as("d_okey_line_qty"))
        .select(col("n_rows"), col("d_okey"), col("d_okey_line"),
          col("d_okey_line_qty"),
          (col("d_okey_line") === col("n_rows")).as("pair_is_unique"),
          (col("d_okey_line_qty") === col("n_rows")).as("triple_is_unique")),
      oracle = Some("""
        SELECT count(*) AS n_rows,
               count(DISTINCT l_orderkey) AS d_okey,
               count(DISTINCT (l_orderkey, l_linenumber)) AS d_okey_line,
               count(DISTINCT (l_orderkey, l_linenumber, l_quantity))
                 AS d_okey_line_qty,
               count(DISTINCT (l_orderkey, l_linenumber)) = count(*)
                 AS pair_is_unique,
               count(DISTINCT (l_orderkey, l_linenumber, l_quantity))
                 = count(*) AS triple_is_unique
        FROM lineitem"""))
  ,

    // CMS heavy-CHANGE detection (round 15, wave 2): Cormode's "what's
    // new" question — which watchlist tokens shifted frequency between
    // two corpus halves (even- vs odd-indexed sources) — answered from
    // TWO fixed-size sketches instead of two vocabulary GROUP BYs.
    // Unlike q94's point queries, a frequency DIFFERENCE has no
    // one-sided guarantee (each side's overshoot is independent), so
    // the claims are split honestly: `no_undercount_ok` (deterministic
    // CMS property, per side) and `within_eps_bound`
    // (|est_delta - exact_delta| <= (e/width) * max-side mass — holds
    // w.p. >= 1 - e^-depth per side; with the fixed seed it is a
    // reproducible fact of this corpus the gate pins). Sketch bytes are
    // murmur3-based and not SQL-replayable, so (q94/q179 discipline)
    // the value columns are the EXACT per-half counts and deltas, the
    // sketch's performance rides the claim booleans. At 100 TB the two
    // sketches are one grouped pass (mergeable partials, O(depth x
    // width) per exchange), the exact verify touches only
    // `token IN (watchlist)`.
    "q436_cms_heavy_change" -> QueryDef(
      fn = (s, d) => {
        val depth = 4
        val width = 512
        // regexp-extract the numeric index (suffix-tolerant: the growth
        // fixture's replicated sources read "src7_r2" — a bare
        // substring cast would throw under ANSI there)
        val halfCol = pmod(
          regexp_extract(col("source"), "^src([0-9]+)", 1).cast("int"), lit(2))
        val toks = t(s, d, "documents")
          .select(halfCol.as("half"), explode(TF.tokens(col("text"))).as("token"))
          .localCheckpoint(eager = true) // two sketch passes + exact verify
        val skE = graft.ops.CountMin.sketch(
          toks.where(col("half") === 0), col("token"), depth, width)
        val skO = graft.ops.CountMin.sketch(
          toks.where(col("half") === 1), col("token"), depth, width)
        val nE = toks.where(col("half") === 0).count()
        val nO = toks.where(col("half") === 1).count()
        val epsBound = math.E / width * math.max(nE, nO)
        import s.implicits._
        val probes = cmsProbes.map { p =>
          val eE = graft.ops.CountMin.estimate(skE, p, depth, width, 42)
          val eO = graft.ops.CountMin.estimate(skO, p, depth, width, 42)
          (p, eE, eO)
        }.toDF("token", "__est_e", "__est_o")
        val exact = toks.filter(col("token").isin(cmsProbes: _*))
          .groupBy(col("token"))
          .agg(sum(when(col("half") === 0, 1L).otherwise(0L)).as("n_even"),
               sum(when(col("half") === 1, 1L).otherwise(0L)).as("n_odd"))
        probes.join(exact, Seq("token"), "left")
          .select(col("token"),
            coalesce(col("n_even"), lit(0L)).as("n_even"),
            coalesce(col("n_odd"), lit(0L)).as("n_odd"),
            abs(coalesce(col("n_even"), lit(0L))
              - coalesce(col("n_odd"), lit(0L))).as("d_exact"),
            (col("__est_e") >= coalesce(col("n_even"), lit(0L))
              && col("__est_o") >= coalesce(col("n_odd"), lit(0L)))
              .as("no_undercount_ok"),
            (abs(abs(col("__est_e") - col("__est_o")).cast("double")
              - abs(coalesce(col("n_even"), lit(0L))
                - coalesce(col("n_odd"), lit(0L))).cast("double"))
              <= lit(epsBound)).as("within_eps_bound"))
          .orderBy(col("token"))
      },
      oracle = Some(s"""
        WITH tk AS (SELECT CAST(regexp_extract(source, '^src([0-9]+)', 1) AS INT) % 2 AS half,
                           unnest($toksSql) AS token
                    FROM documents),
        w(token) AS (VALUES ${cmsProbes.sorted.map(p => s"('$p')").mkString(", ")}),
        ex AS (SELECT token,
                      sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS n_even,
                      sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS n_odd
               FROM tk WHERE token IN (SELECT token FROM w)
               GROUP BY 1)
        SELECT w.token,
               CAST(coalesce(ex.n_even, 0) AS BIGINT) AS n_even,
               CAST(coalesce(ex.n_odd, 0) AS BIGINT) AS n_odd,
               CAST(abs(coalesce(ex.n_even, 0) - coalesce(ex.n_odd, 0))
                 AS BIGINT) AS d_exact,
               true AS no_undercount_ok,
               true AS within_eps_bound
        FROM w LEFT JOIN ex ON w.token = ex.token
        ORDER BY 1""")),
  )
}
