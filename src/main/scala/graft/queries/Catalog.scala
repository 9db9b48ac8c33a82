package graft.queries

import graft.Tables
import graft.functions.{Aqi, TextFunctions => TF, VectorFunctions => VF}
import graft.ops.{Dedup, Inference, Pack, Redact, Sampling, Similarity}
import graft.pipeline.Transforms
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

import scala.collection.immutable.ListMap

/** The engine's query surface over the driver's synthetic tables
  * (TESTDATA.md), one named entry per operator family from SURVEY §2 plus
  * the training-data-pipeline extensions (dedup, similarity search, text
  * analysis).
  *
  * Every SQL-expressible query is paired with DuckDB SQL computing the
  * identical result (same column names, same rounding, same deterministic
  * ORDER BY) — that pairing IS the correctness gate. Where a formula must
  * match across engines (AQI interpolation, quality score, language ID),
  * the SQL is generated from the same Scala constants as the Column
  * expressions, so the two sides cannot drift. Queries whose internals are
  * hash-seeded (MinHash/SimHash/LSH) get either a construction whose output
  * is provable in SQL (injected exact duplicates) or a rows-only check.
  *
  * A fixture or oracle used by more than one entry is defined once and
  * referred to by name: the shared fixtures (e.g. [[clickNeedles]],
  * [[e6]]) and oracle texts (`...OracleSql`) below, or beside their SQL
  * twin in the slice that owns it (`CatalogGraphMining.copurchaseEdges`
  * beside `edgesSqlCte`). Entries sharing one oracle text are route
  * twins: they must return identical rows (CatalogTwinsSpec).
  *
  * Determinism rules applied throughout:
  *  - every result has a total ORDER BY;
  *  - double aggregates are rounded (2-6 dp) to absorb FP association
  *    differences between engines;
  *  - integer outputs are long on the Spark side / BIGINT in SQL;
  *  - ties in any top-k are broken by a key column.
  */
object Catalog {

  /** Wall-clock accumulator for HARNESS-ONLY staging work (the file
    * copies that exist because the oracle hands us one static parquet
    * file while `readStream` needs a monitored directory — see
    * [[stageEventsDir]]). [[graft.Bench]] drains it around each
    * streaming sample so BENCH_r*.json can attribute a slow streaming
    * reading to staging copies vs stream execution — the r10 verdict's
    * q160 finding (20.35 s vs a 5.63 s r9 median) was undiagnosable
    * precisely because the artifact carried one opaque median.
    * Thread-safe via atomic add; a drain resets to zero.
    */
  private[graft] object StagingClock {
    private val nanos = new java.util.concurrent.atomic.AtomicLong(0L)
    def timed[T](body: => T): T = {
      val t0 = System.nanoTime()
      try body finally { nanos.addAndGet(System.nanoTime() - t0); () }
    }
    def drainSeconds(): Double = nanos.getAndSet(0L) / 1e9
  }

  final case class QueryDef(
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String],
      bench: Boolean = false,
      // streaming harness queries (staged copy + processAllAvailable) are
      // benched on their own line so their fixed micro-batch latency never
      // masks drift in the batch queries (r9 verdict #3)
      streaming: Boolean = false)

  private[queries] def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private[queries] val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** q69's rebalance policy — one constant feeding both engines. Defined
    * before `all`: its oracle SQL is generated at map-construction time.
    */
  private[queries] val strataFractions: Map[String, Double] =
    Map("en" -> 0.5, "zh" -> 0.8)

  /** q30/q44's ANN quality floors: per query, the sum of the returned
    * top-5 cosines must reach this fraction of the exact brute-force
    * top-5 sum. Set-overlap recall is the wrong gate on this corpus —
    * the embeddings are weakly structured (exact top-5 cosine sums
    * ~1.4-1.7), so many neighbors are near-interchangeable and LSH
    * legitimately returns different-but-nearly-as-good ones. Floors sit
    * under the measured per-query MINIMUM across sf0.001/0.01/0.1
    * (LSH/6-planes: 0.53; IVF/nprobe=4: 0.90) with margin — a broken
    * path (dead multiprobe, collapsed quantizer, dim mismatch) scores
    * ~0 and goes red. Defined before `all` (init order).
    */
  private[queries] val Q30_QUALITY_FLOOR = 0.4
  private[queries] val Q44_QUALITY_FLOOR = 0.85

  /** q75's chunking geometry — one set of constants feeding both the
    * Column expressions and the interpolated oracle SQL (also defined
    * before `all` for the same init-order reason).
    */
  private[queries] val ChunkSize = 32
  private[queries] val ChunkOverlap = 8
  private[queries] val ChunkStride = ChunkSize - ChunkOverlap

  /** q81's mixing policy — one constant feeding both engines (defined
    * before `all` for the same init-order reason as [[strataFractions]]).
    * Exercises every weight shape: integer upsample, fractional upsample,
    * downsample, drop, and the implicit default 1.0.
    */
  private[queries] val mixWeights: Map[String, Double] =
    Map("src0" -> 2.0, "src1" -> 2.5, "src2" -> 0.25, "src3" -> 0.0)

  /** q94's frequency watchlist + threshold, one constant feeding both
    * engines: heavy tokens (~950 occurrences at every sf), rare ones
    * ('dup' ~30, 'the' sits near the bar), and one absent ('quack') — so
    * the sketch filter and the exact verify both have work to do.
    */
  private[queries] val cmsProbes: Seq[String] =
    Seq("scan", "join", "window", "the", "fast", "dup", "quack")
  private[queries] val cmsMinCount = 500L

  /** q95's cluster-variant suffixes (constants shared with the oracle):
    * the stopword-rich pad RAISES the quality score (stop_ratio up, punct
    * ratio down), the junk pad LOWERS it — so the canonical pick per
    * cluster is quality-driven, not id-order-driven.
    */
  private[queries] val canonPadHi = " the and is of to in a for"
  private[queries] val canonPadLo = " zq zq zq zq zq zq zq zq"

  /** q95's variant-id shift. Both the cluster construction (doc_id +
    * shift, + 2*shift) and the oracle's component label (doc_id % shift)
    * assume max(doc_id) < shift — 10^12 leaves headroom far beyond any
    * test corpus (and far inside long range at 3×shift).
    */
  private[queries] val canonShift = 1000000000000L

  /** q97's profiled columns — one constant feeding both engines (the
    * timestamp column is deliberately excluded from the ORACLE-paired
    * profile: engines render timestamp strings differently; the op
    * itself profiles any type).
    */
  private[queries] val profileCols: Seq[String] =
    Seq("o_custkey", "o_orderkey", "o_orderpriority", "o_orderstatus", "o_totalprice")

  /** q98's funnel definition, shared with the oracle. */
  private[queries] val funnelStepSeq: Seq[String] = Seq("view", "click", "purchase")

  /** The funnel oracle — the sequential-CTE chain — shared VERBATIM by
    * q98 (batch) and q104 (streaming): the two entries must produce the
    * identical (step, event_type, n_users) result, which is the
    * stream/batch-parity correctness claim.
    */
  private[queries] def funnelOracleSql: String = {
    val stepCtes = funnelStepSeq.zipWithIndex.map { case (st, i) =>
      if (i == 0)
        s"s1 AS (SELECT user_id, min(ts) AS t FROM events WHERE event_type = '$st' GROUP BY user_id)"
      else
        s"""s${i + 1} AS (SELECT e.user_id, min(e.ts) AS t
            FROM events e JOIN s$i p ON e.user_id = p.user_id
            WHERE e.event_type = '$st' AND e.ts >= p.t
              AND e.ts <= p.t + INTERVAL 7 DAY
            GROUP BY e.user_id)"""
    }.mkString(", ")
    val unions = funnelStepSeq.zipWithIndex.map { case (st, i) =>
      s"SELECT ${i + 1} AS step, '$st' AS event_type, count(*) AS n_users FROM s${i + 1}"
    }.mkString(" UNION ALL ")
    s"WITH $stepCtes $unions ORDER BY step"
  }

  /** The sliding-window oracle (each event unnested to its two
    * epoch-aligned 2h/1h buckets) — shared VERBATIM by q119 (batch) and
    * q125 (streaming): identical results are the stream/batch-parity
    * claim, the same pairing as q98/q104.
    */
  private[queries] def slidingOracleSql: String = s"""
    WITH e AS (SELECT epoch_ms(ts) AS ms, value FROM events),
    w AS (SELECT unnest([ms // 3600000 * 3600000,
                         ms // 3600000 * 3600000 - 3600000]) AS ws,
                 value
          FROM e)
    SELECT ws AS win_start_ms, count(*) AS n,
           ${sumSql("value")} AS sum_value
    FROM w GROUP BY ws ORDER BY ws"""

  /** The SCD2 oracle (change detection + versioning over the full event
    * history) — shared VERBATIM by q107 (one-shot compaction) and q129
    * (incremental merge of a split history): identical results are the
    * incremental-maintenance correctness claim.
    */
  private[queries] def scd2OracleSql: String = """
    WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms, event_id
               FROM events),
    chg AS (SELECT user_id, event_type, ms, event_id FROM (
              SELECT user_id, event_type, ms, event_id,
                     lag(event_type) OVER w AS prev,
                     row_number() OVER w AS rn
              FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id))
            WHERE rn = 1 OR prev IS DISTINCT FROM event_type)
    SELECT user_id, CAST(row_number() OVER w2 AS BIGINT) AS version,
           event_type, ms AS valid_from_ms,
           lead(ms) OVER w2 AS valid_to_ms,
           (lead(ms) OVER w2 IS NULL) AS is_current
    FROM chg WINDOW w2 AS (PARTITION BY user_id ORDER BY ms, event_id)
    ORDER BY user_id, version"""

  // ---------------------------------------------------------------------
  // SQL generators shared between the Column expressions and oracle text

  /** Piecewise-linear AQI CASE expression over the same breakpoints as
    * [[Aqi.subIndexRaw]] — slopes folded to Scala doubles, rendered with
    * shortest-round-trip toString so DuckDB parses the identical double.
    */
  private[queries] def aqiSqlExpr(c: String, bps: Aqi.Breakpoints): String = {
    val (lastLo, lastHi, lastALo, lastAHi) = bps.last
    val beyond = s"($lastALo + ($c - $lastLo) * ${(lastAHi - lastALo) / (lastHi - lastLo)})"
    val whens = bps.map { case (cLo, cHi, aLo, aHi) =>
      s"WHEN $c <= $cHi THEN ($aLo + ($c - $cLo) * ${(aHi - aLo) / (cHi - cLo)})"
    }.mkString(" ")
    s"CASE WHEN $c IS NULL OR $c < 0 THEN NULL $whens ELSE $beyond END"
  }

  // Exact aggregation via integer CENTS: every money/value column in the
  // test data is a 2-decimal quantity stored as double. Summing doubles
  // directly is order-dependent; summing DECIMAL(18,2) is exact but its
  // hash-agg update was the single biggest CPU cost in the bench (~3x the
  // plain-double path). round(x*100) recovers the exact integer cents (the
  // double is within 1e-9 of it, so no half-way cases exist), long sums
  // are exact and order-independent, and the final /100.0 is one double
  // rounding both engines perform identically. Overflow headroom: 9.2e18
  // cents per group; under ANSI mode (Spark 4 default) an overflow raises
  // rather than corrupts, and a 100 TB deployment whose per-group sums
  // could exceed it would swap `long` for `decimal(38,0)` here.
  // half-away-from-zero rounding without round(): Spark's Round on doubles
  // allocates a BigDecimal per row; since x*100 sits within 1e-9 of the
  // true integer, adding ±0.5 and truncating (double→long cast) yields the
  // identical integer purely in registers.
  private[queries] def cents(c: Column): Column =
    (c * 100 + signum(c) * 0.5).cast("long")
  // The integer 1e-6 snap of a double, half up without round() (same
  // register-only trade as `cents`): the e6 grid every cross-engine double
  // output is compared on; the oracle side spells it
  // `CAST(floor(x * 1000000 + 0.5) AS BIGINT)`.
  private[queries] def e6(c: Column): Column = floor(c * 1000000 + 0.5).cast("long")
  private[queries] def exactSum(c: Column): Column = sum(cents(c)).cast("double") / 100.0
  private[queries] def exactAvg(c: Column): Column =
    sum(cents(c)).cast("double") / 100.0 / count(c)
  // revenue = sum(price * (1 - disc)): price_cents * (100 - disc_cents)
  // is the exact product scaled by 1e4
  private[queries] def exactRevenue(price: Column, disc: Column): Column =
    sum(cents(price) * (lit(100L) - cents(disc))).cast("double") / 10000.0

  /** Exact integer-cent moments of events.value per event_type — ONE
    * implementation (plus its SQL twin below) shared by q76 (group
    * stats) and q93 (z-score outliers), so a precision fix cannot
    * desynchronize them. Output: (event_type, __n, __s1, __s2) with the
    * sums as exact longs.
    */
  private[queries] def eventValueMoments(ev: DataFrame): DataFrame = {
    val c = cents(col("value"))
    ev.filter(col("value").isNotNull)
      .groupBy("event_type")
      .agg(count(col("value")).as("__n"),
        sum(c).as("__s1"), sum(c * c).as("__s2"))
  }

  private[queries] def centsSql(c: String): String =
    s"CAST(round($c * 100) AS BIGINT)"

  /** DuckDB twin of [[eventValueMoments]] (an m-CTE body): (event_type,
    * n, s1, s2) with the sums cast to DOUBLE for the derived formulas.
    */
  private[queries] def momentsSqlCte: String =
    s"""SELECT event_type, count(value) AS n,
          CAST(sum(${centsSql("value")}) AS DOUBLE) AS s1,
          CAST(sum(${centsSql("value")} * ${centsSql("value")}) AS DOUBLE) AS s2
        FROM events WHERE value IS NOT NULL GROUP BY event_type"""
  private[queries] def sumSql(c: String): String =
    s"(CAST(sum(${centsSql(c)}) AS DOUBLE) / 100.0)"
  private[queries] def avgSql(c: String): String =
    s"(${sumSql(c)} / count($c))"
  private[queries] def revenueSql(p: String, d: String): String =
    s"(CAST(sum(${centsSql(p)} * (100 - ${centsSql(d)})) AS DOUBLE) / 10000.0)"

  private[queries] def sqlInList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString(", ")

  private[queries] def hitCountSql(words: Seq[String]): String =
    s"len(list_filter(toks, t -> lower(t) IN (${sqlInList(words)})))"

  // mirrors TF.tokens: split on whitespace runs, drop empty fragments
  // (bare split returns [''] for blank text)
  private[queries] val toksSql =
    "list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '')"

  /** DuckDB expression for cosine over two float-list columns, with the
    * same shape as [[VF.cosine]]: double-cast elementwise products,
    * sequential sum, dot / (sqrt(nsqA) * sqrt(nsqB)).
    */
  private[queries] def cosineSql(a: String, b: String): String = {
    def nsq(v: String) =
      s"list_sum(list_transform($v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    val dot =
      s"list_sum(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    s"($dot / (sqrt(${nsq(a)}) * sqrt(${nsq(b)})))"
  }

  private[queries] val langIdSql: String = {
    val langs = TF.langMarkers.toSeq.sortBy(_._1)
    val scores = langs.map { case (l, ws) => s"${hitCountSql(ws)} AS s_$l" }.mkString(", ")
    val best = langs.map { case (l, _) => s"s_$l" }.mkString("greatest(", ", ", ")")
    val cases = langs.map { case (l, _) => s"WHEN s_$l > 0 AND s_$l = best THEN '$l'" }.mkString(" ")
    s"""SELECT doc_id, lang, CASE $cases ELSE 'und' END AS lang_guess
        FROM (SELECT doc_id, lang, $scores, $best AS best
              FROM (SELECT doc_id, lang, $toksSql AS toks FROM documents))
        ORDER BY doc_id"""
  }

  /** DuckDB twins of [[TF.qualityScore]]'s pieces, shared by q21 (the
    * scorer itself) and q83 (curriculum bucketing) so the two oracles
    * cannot drift: an inner SELECT exposing (doc_id, toks, stop_ratio,
    * punct_ratio), the 4-dp quality formula over those columns, and the
    * assembled (doc_id, quality) SELECT.
    */
  private[queries] def qualityInnerSqlFrom(table: String): String = {
    val hits = hitCountSql(TF.langMarkers("en"))
    s"""SELECT doc_id, toks,
              CAST($hits AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS stop_ratio,
              CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
                / CAST(length(text) AS DOUBLE) AS punct_ratio
        FROM (SELECT doc_id, text, $toksSql AS toks FROM $table)"""
  }

  private[queries] def qualityInnerSql: String = qualityInnerSqlFrom("documents")

  private[queries] val qualityExprSql: String =
    """round((least(CAST(len(toks) AS DOUBLE) / 64.0, 1.0)
            + (1.0 - least(punct_ratio * 4.0, 1.0))
            + least(stop_ratio * 4.0, 1.0)) / 3.0, 4)"""

  private[queries] def qualitySelectSql: String =
    s"SELECT doc_id, $qualityExprSql AS quality FROM ($qualityInnerSql)"

  /** The labelled-score fixture of the q186/q187/q357 evaluation family:
    * per document the 4-dp quality score as an integer (`__s`) and the
    * en-language label (`__y`); [[qualityLabelledSqlCte]] is its DuckDB
    * twin, the `sc` CTE over (s, y).
    */
  private[queries] def qualityLabelled(s: SparkSession, d: String): DataFrame = {
    val stops = TF.langMarkers("en")
    t(s, d, "documents").select(
      (TF.qualityScore(col("text"), stops) * 10000 + 0.5).cast("long").as("__s"),
      when(col("lang") === "en", 1L).otherwise(0L).as("__y"))
  }

  private[queries] def qualityLabelledSqlCte: String =
    s"""sc AS (SELECT CAST(round(($qualityExprSql) * 10000) AS BIGINT) AS s,
                           CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
                    FROM ($qualityInnerSql) q
                    JOIN documents USING (doc_id))"""

  /** q62/q88's shared oracle — the two entries exercise the plain and the
    * bloom-prefiltered decontamination paths, which must produce the
    * identical (doc_id, n_shared_grams) result.
    */
  private[queries] def decontamOracleSql: String = s"""
    WITH split AS (
      SELECT doc_id, text,
             substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
               < '${Sampling.thresholdHex(0.8)}' AS is_train
      FROM documents),
    sh AS (
      SELECT doc_id, is_train, unnest(
        list_distinct(list_transform(generate_series(1, len(toks) - 2),
          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS gram
      FROM (SELECT doc_id, is_train, $toksSql AS toks FROM split))
    SELECT e.doc_id, count(DISTINCT e.gram) AS n_shared_grams
    FROM (SELECT doc_id, gram FROM sh WHERE NOT is_train) e
    JOIN (SELECT DISTINCT gram FROM sh WHERE is_train) t USING (gram)
    GROUP BY e.doc_id ORDER BY e.doc_id"""

  /** The as-of needles: every click's (event_id, user_id, ts), from a
    * batch or a streaming events frame.
    */
  private[queries] def clickNeedles(ev: DataFrame): DataFrame =
    ev.filter(col("event_type") === "click").select("event_id", "user_id", "ts")

  /** The as-of purchase side: one row per (user_id, p_ts) carrying the max
    * value — `p_value`, or `p_cents` when `inCents` — so exact-ts ties
    * cannot make the as-of pick nondeterministic in any engine.
    */
  private[queries] def purchasesByUserTs(ev: DataFrame,
      inCents: Boolean = false): DataFrame = {
    val top =
      if (inCents) max(cents(col("value"))).as("p_cents")
      else max(col("value")).as("p_value")
    ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts").as("p_ts"))
      .agg(top)
  }

  /** The click-to-purchase stream-stream join of q136/q360/q364/q378:
    * the clicks ([[clickNeedles]]) and the purchases' (user_id, ts, value)
    * read as two streams of one staged events copy in one streaming
    * clone, joined on user_id within 1 hour of the click, and run to the
    * append-mode memory table `name`.
    */
  private[queries] def clickPurchaseStreamJoin(s: SparkSession, d: String,
      name: String, joinType: String = "inner", watermark: String = "2 hours",
      rightWatermark: Option[String] = None): DataFrame = {
    val dir = stageEventsDir(d)
    val ss = streamingSession(s)
    try {
      def src = stagedEventsStream(ss, dir)
      val clicks = clickNeedles(src)
      val purchases = src.filter(col("event_type") === "purchase")
        .select("user_id", "ts", "value")
      val joined = graft.streaming.StreamingIngest.streamStreamJoin(
        clicks, purchases, key = "user_id", leftTs = "ts", rightTs = "ts",
        within = "1 hour", watermark = watermark, joinType = joinType,
        rightWatermark = rightWatermark)
      runToMemoryTable(joined, name, outputMode = "append")
    } finally dropStaged(dir)
  }

  /** The calendar-bounded as-of dimension: per (event_type, day) the max
    * value in cents, valid from the NEXT day's midnight (`d_ts`) — so an
    * event is priced by yesterday's max.
    */
  private[queries] def dayMaxByType(ev: DataFrame): DataFrame =
    ev.groupBy(col("event_type"), date_trunc("day", col("ts")).as("__d"))
      .agg(max(cents(col("value"))).as("day_max_cents"))
      .select(col("event_type"),
        (col("__d") + expr("INTERVAL 1 DAY")).as("d_ts"),
        col("day_max_cents"))

  /** Distinct users per event type — shared by q60 (dropDuplicates state)
    * and q237 (within-watermark dedup): both streaming dedups must
    * reproduce the batch count(DISTINCT).
    */
  private[queries] def distinctUsersOracleSql: String = """
        SELECT event_type, count(DISTINCT user_id) AS n_users
        FROM events GROUP BY event_type ORDER BY event_type"""

  /** The ANN quality gate — shared by q30 (LSH) and q44 (IVF): every one
    * of the first 20 queries clears its index's quality floor
    * ([[Q30_QUALITY_FLOOR]], [[Q44_QUALITY_FLOOR]]).
    */
  private[queries] def annQualityOracleSql: String = """
        SELECT vec_id AS query_id, TRUE AS quality_ok
        FROM embeddings WHERE vec_id < 20 ORDER BY query_id"""

  /** Per-priority count and exact revenue of lineitem joined to orders —
    * shared by q85 (salted join) and q112 (bucketed join): both join
    * strategies are result-invariant against the plain join.
    */
  private[queries] def priorityRevenueOracleSql: String = s"""
        SELECT o_orderpriority, count(*) AS n,
               ${revenueSql("l_extendedprice", "l_discount")} AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  /** Tokens occurring at least 500 times — shared by q86 (batch
    * Misra-Gries) and q427 (its streaming form): both must return exactly
    * the HAVING query.
    */
  private[queries] def heavyHittersOracleSql: String = s"""
        SELECT token, count(*) AS n
        FROM (SELECT unnest($toksSql) AS token FROM documents)
        GROUP BY token HAVING count(*) >= 500 ORDER BY token"""

  /** Top-3 events per user by (value cents desc, event_id asc) — shared by
    * q335 (TopKPerKey) and q336 (its row_number window twin).
    */
  private[queries] def topkPerUserOracleSql: String = s"""
        WITH r AS (SELECT event_id, user_id, ${centsSql("value")} AS value_cents,
                          row_number() OVER (PARTITION BY user_id
                                             ORDER BY ${centsSql("value")} DESC,
                                                      event_id ASC) AS rk
                   FROM events)
        SELECT event_id, user_id, value_cents
        FROM r WHERE rk <= 3
        ORDER BY user_id, value_cents DESC, event_id ASC"""

  /** Backward as-of of each click to its user's latest deduped purchase —
    * shared by q339 (merge exec), q340 (union+window form) and q353
    * (broadcast route) over [[clickNeedles]] and [[purchasesByUserTs]].
    */
  private[queries] def asofPurchaseOracleSql: String = """
        WITH p AS (SELECT user_id, ts, max(value) AS p_value FROM events
                   WHERE event_type = 'purchase' GROUP BY 1, 2)
        SELECT l.event_id, l.user_id, l.ts, p.ts AS asof_ts, p.p_value
        FROM (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'click') l
        ASOF LEFT JOIN p ON l.user_id = p.user_id AND l.ts >= p.ts
        ORDER BY l.event_id"""

  /** rank() <= 2 per event type over 500-cent value buckets, ascending —
    * shared by q341 (TopKPerKey RANK mode) and q345 (its window twin).
    */
  private[queries] def topkRankOracleSql: String = s"""
        WITH b AS (SELECT event_id, event_type,
                          ${centsSql("value")} // 500 AS bucket FROM events),
        r AS (SELECT event_id, event_type, bucket,
                     rank() OVER (PARTITION BY event_type
                                  ORDER BY bucket ASC) AS rk
              FROM b)
        SELECT event_id, event_type, bucket FROM r WHERE rk <= 2
        ORDER BY event_type, bucket, event_id"""

  /** The wide-right-side backward as-of (six derived purchase columns) —
    * shared by q351 (merge exec) and q352 (union+window twin).
    */
  private[queries] def asofWideOracleSql: String = s"""
        WITH p0 AS (SELECT user_id, ts, max(${centsSql("value")}) AS p_cents
                    FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        p AS (SELECT user_id, ts, p_cents, p_cents // 100 AS p_units,
                     p_cents % 97 AS p_mod, p_cents * p_cents AS p_sq,
                     -p_cents AS p_neg, p_cents // 500 AS p_bucket
              FROM p0)
        SELECT l.event_id, l.user_id, l.ts, p.ts AS asof_ts, p.p_cents,
               p.p_units, p.p_mod, p.p_sq, p.p_neg, p.p_bucket
        FROM (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'click') l
        ASOF LEFT JOIN p ON l.user_id = p.user_id AND l.ts >= p.ts
        ORDER BY l.event_id"""

  /** Backward as-of of every event to its type's day-max dimension
    * ([[dayMaxByType]]) — shared by q354 (broadcast route), q355 (merge
    * twin), q383 (auto dispatch) and q400 (auto dispatch, merge route).
    */
  private[queries] def asofDayMaxOracleSql: String = s"""
        WITH dim AS (SELECT event_type,
                            date_trunc('day', ts) + INTERVAL 1 DAY AS d_ts,
                            max(${centsSql("value")}) AS day_max_cents
                     FROM events GROUP BY 1, 2)
        SELECT l.event_id, l.event_type, l.ts, dim.d_ts AS asof_ts,
               dim.day_max_cents
        FROM (SELECT event_id, event_type, ts FROM events) l
        ASOF LEFT JOIN dim
          ON l.event_type = dim.event_type AND l.ts >= dim.d_ts
        ORDER BY l.event_id"""

  /** Per (event type, day) exact cent sums and counts — shared by q401
    * (manifest sink round trip) and q402 (manifest append).
    */
  private[queries] def manifestOracleSql: String = s"""
        SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
               CAST(sum(${centsSql("value")}) AS BIGINT) AS sum_cents,
               count(*) AS n
        FROM events GROUP BY 1, 2 ORDER BY event_type, day"""

  /** Nearest-in-time purchase within 30 minutes of each click — shared by
    * q403 (auto route) and q426 (forced merge route).
    */
  private[queries] def asofNearestOracleSql: String = s"""
        WITH p AS (SELECT user_id, ts AS p_ts,
                          max(${centsSql("value")}) AS p_cents
                   FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        c AS (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'click'),
        j AS (SELECT c.event_id, c.user_id, c.ts,
                (SELECT p.p_ts FROM p WHERE p.user_id = c.user_id
                   AND abs(epoch_us(p.p_ts) - epoch_us(c.ts)) <= 1800000000
                 ORDER BY abs(epoch_us(p.p_ts) - epoch_us(c.ts)), p.p_ts
                 LIMIT 1) AS asof_ts
              FROM c)
        SELECT j.event_id, j.user_id, j.ts, j.asof_ts, p.p_cents
        FROM j LEFT JOIN p ON j.user_id = p.user_id AND j.asof_ts = p.p_ts
        ORDER BY j.event_id"""

  /** One-sided CUSUM over the daily mean value (e6 integers) — shared by
    * q419 (batch) and q421 (streaming).
    */
  private[queries] def cusumOracleSql: String = s"""
        WITH daily AS (SELECT date_diff('day', DATE '1970-01-01',
                                CAST(ts AS DATE)) AS day,
                              count(*) AS n,
                              sum(${centsSql("value")}) AS sc
                       FROM events GROUP BY 1),
        ref AS (SELECT CAST(floor(CAST(sum(sc) AS DOUBLE)
                  / CAST(sum(n) AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS mu
                FROM daily WHERE day <= (SELECT min(day) + 9 FROM daily)),
        se AS (SELECT day, CAST(floor(CAST(sc AS DOUBLE)
                 / CAST(n AS DOUBLE) * 1e6 + 0.5) AS BIGINT) - mu AS y,
                 CAST(floor(CAST(sc AS DOUBLE) / CAST(n AS DOUBLE) * 1e6
                   + 0.5) AS BIGINT) AS x
               FROM daily, ref),
        cu AS (SELECT day, x, sum(y) OVER (ORDER BY day
                 ROWS UNBOUNDED PRECEDING) AS cum FROM se),
        st AS (SELECT day, x, cum - least(0, min(cum) OVER (ORDER BY day
                 ROWS UNBOUNDED PRECEDING)) AS st FROM cu),
        pk AS (SELECT max(st) AS peak FROM st)
        SELECT CAST(day AS BIGINT) AS day_idx, x AS mean_e6,
               CAST(st AS BIGINT) AS cusum_e6,
               (st > peak // 2) AS alarm
        FROM st, pk ORDER BY day_idx"""

  /** Stage the events table into a temp directory for the file-stream
    * source (which monitors directories), tolerating both the single-file
    * and the directory-of-part-files layouts. The caller drops it with
    * [[dropStaged]] in a `finally` around the whole stream run.
    *
    * HARNESS PLUMBING ONLY — this driver-side file copy exists because the
    * oracle harness hands us one static parquet file, while
    * `readStream` needs a monitored directory. A production stream never
    * does this: `StreamingIngest` points `readStream` straight at the
    * landing directory and data arrives there by itself.
    */
  private[queries] def stageEventsDir(d: String): java.nio.file.Path =
    StagingClock.timed {
      val src = java.nio.file.Paths.get(s"$d/events.parquet")
      val dir = java.nio.file.Files.createTempDirectory("graft-stream-src")
      if (java.nio.file.Files.isDirectory(src)) {
        val files = java.nio.file.Files.list(src)
        try files.forEach { f =>
          if (java.nio.file.Files.isRegularFile(f))
            java.nio.file.Files.copy(f, dir.resolve(f.getFileName.toString))
        } finally files.close()
      } else java.nio.file.Files.copy(src, dir.resolve("events.parquet"))
      dir
    }

  /** Stage `slices` as one parquet file each (`slice00.parquet`, ...) in a
    * fresh temp directory, with strictly increasing mtimes. Read back with
    * `stagedEventsStream(.., oneFilePerTrigger = true)`, FileStreamSource
    * feeds the files oldest-first, so micro-batch k is exactly slice k —
    * the batch sequence the sliced streams' oracles replay. Drop with
    * [[dropStaged]] in a `finally`; a failed write drops the directory
    * itself. The slice writes are query work and stay off
    * [[StagingClock]]; only the delete of their write directory is timed.
    */
  private[queries] def stageSlices(slices: Seq[DataFrame]): java.nio.file.Path = {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft-stream-slices")
    try {
      // '_'-prefixed: the file source never lists it
      val work = dir.resolve("_slice")
      slices.zipWithIndex.foreach { case (slice, i) =>
        slice.coalesce(1).write.mode("overwrite").parquet(work.toString)
        val part = {
          val l = Files.list(work)
          try l.filter(f => f.getFileName.toString.endsWith(".parquet"))
            .findFirst().get
          finally l.close()
        }
        val dst = dir.resolve(f"slice$i%02d.parquet")
        Files.move(part, dst)
        Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
      }
      dropStaged(work)
      dir
    } catch { case e: Throwable => dropStaged(dir); throw e }
  }

  /** Which third of the events' time span each row falls in: with
    * c0 = lo + span/3 and c1 = lo + 2*span/3 in epoch millis, 0 for
    * ms <= c0, 1 for ms <= c1, else 2 — the slicing the sliced streams'
    * oracles spell as `CASE WHEN epoch_ms(ts) <= c0 THEN 0 ...`. Costs
    * one bounded scalar aggregate.
    */
  private[queries] def timeThird(ev: DataFrame): Column = {
    val ms = unix_millis(col("ts"))
    val b = ev.agg(min(ms), max(ms)).head
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    when(ms <= lo + (hi - lo) / 3, 0).when(ms <= lo + 2 * (hi - lo) / 3, 1)
      .otherwise(2)
  }

  /** Recursive delete of a directory tree (flat copies and parquet write
    * trees with their nested dirs and `_SUCCESS` markers alike), untimed.
    */
  private[graft] def deleteTree(dir: java.nio.file.Path): Unit = {
    val walk = java.nio.file.Files.walk(dir)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    finally walk.close()
  }

  /** [[deleteTree]] of a staged directory, timed by [[StagingClock]]. */
  private[queries] def dropStaged(dir: java.nio.file.Path): Unit =
    StagingClock.timed(deleteTree(dir))

  /** The one streaming reader over a staged directory, agnostic to the
    * file's `ts` encoding. `readStream` needs a declared schema, so we take
    * it from the actual parquet footer (one cheap batch-read of the staged
    * copy) rather than hardcoding an assumption — the driver has already
    * re-encoded `ts` once (nanos → micros-NTZ), and a hardcoded schema
    * turns that flip into a silent 1000× time-axis compression. The footer
    * schema plus [[graft.Tables.normalizeTs]] yields session-TZ
    * `TimestampType` for every encoding, identical to the batch path.
    * `oneFilePerTrigger` feeds one file per micro-batch (the
    * [[stageSlices]] contract); otherwise one batch reads every file.
    */
  private[queries] def stagedEventsStream(s: SparkSession, dir: java.nio.file.Path,
      oneFilePerTrigger: Boolean = false): DataFrame = {
    val footer = s.read.parquet(dir.toString).schema
    val reader = s.readStream.schema(footer)
    Tables.normalizeTs((if (oneFilePerTrigger) reader.option("maxFilesPerTrigger", 1)
      else reader).parquet(dir.toString))
  }

  private val StreamingShufflePartitions = 8L

  /** Cloned session for a streaming harness query, with two confs of
    * its own. Isolated in a clone so batch queries in the same session
    * keep theirs ([[Tables.cloneSession]]).
    *
    * `spark.sql.shuffle.partitions` is scoped DOWN to a fixed 8
    * ([[StreamingShufflePartitions]]). Streaming state-store cost is
    * per-partition PER MICRO-BATCH — every batch opens, updates,
    * snapshots, and commits one store per shuffle partition, so a
    * 4-batch replay at the batch engine's 32 partitions pays 128 store
    * commits for ~100k rows of state. A real deployment sizes this to
    * state volume / executor count, not to the batch engine's scan
    * parallelism; 8 gives ~12k state rows per store at bench scale.
    *
    * Checkpoint and state files go through Hadoop `FileSystem`
    * (`FileSystemBasedCheckpointFileManager`), not Spark's default
    * `FileContext` manager. Without Hadoop's native library, each local
    * `FileContext` rename forks a `readlink` process: 616 per warm q160
    * run, 176 per q184 run. On a local disk `FileSystem.rename` is the
    * same atomic rename(2), without the fork. This is safe here because
    * no catalog stream sets `checkpointLocation`: each one checkpoints to
    * its own fresh local temp dir, with one writer, and Spark's
    * state-file checksums stay on. It is not in [[Tables.requiredConfs]]
    * because [[graft.streaming.StreamingIngest.writeMart]] takes a
    * caller's checkpoint URI (HDFS, S3), where Spark's default stays.
    * `Probe plan q160_stream_session_window 7` at sf0.01 on 4 cores,
    * median warm addBatch per micro-batch (10k rows, then 0, 1, 0 rows),
    * before -> after: 541/422/444/382 -> 362/251/258/215 ms; walCommit
    * and commitOffsets went from ~30 to ~8 ms each.
    *
    * The clone, and the clone each streaming query execution makes of
    * it, inherit `spark.sql.artifact.isolation.enabled=false` from the
    * context ([[Tables.requiredConfs]]), so a warm replay compiles no
    * class.
    */
  private[queries] def streamingSession(s: SparkSession): SparkSession = {
    val ss = Tables.cloneSession(s)
    ss.conf.set("spark.sql.shuffle.partitions", StreamingShufflePartitions)
    ss.conf.set("spark.sql.streaming.checkpointFileManagerClass",
      classOf[FileSystemBasedCheckpointFileManager].getName)
    ss
  }

  /** Per-batch StreamingQueryProgress capture (r11 verdict #5): every
    * streaming runner records each micro-batch's (query, batchId,
    * triggerExecution ms, input rows, state shape, and the phases of
    * the trigger) here exactly once, before stopping its query
    * ([[runToMemoryTable]] does it for the memory-sink runners);
    * Bench drains the buffer per SAMPLE into the side file, so a
    * q239/q160-class bench anomaly can be attributed to batch 0 vs
    * steady state from the artifact alone, without a rerun.
    * Harness-only, thread-safe, bounded by Spark's recentProgress
    * retention (spark.sql.streaming.numRecentProgressUpdates, 100).
    */
  object ProgressLog {
    /** One micro-batch. The trailing fields split `triggerMs` into
      * Spark's `durationMs` phases: executing the batch (`addBatchMs`),
      * asking the source for new offsets (`latestOffsetMs`), planning
      * (`queryPlanningMs`) and the two checkpoint-log writes
      * (`walCommitMs` for the offset log, `commitOffsetsMs` for the
      * commit log). Each is -1 when the batch did not report it.
      */
    final case class BatchProgress(query: String, batchId: Long,
      triggerMs: Long, inputRows: Long, stateRows: Long, stateBytes: Long,
      addBatchMs: Long, latestOffsetMs: Long, queryPlanningMs: Long,
      walCommitMs: Long, commitOffsetsMs: Long)
    private val buf = scala.collection.mutable.ArrayBuffer.empty[BatchProgress]
    def record(q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
      synchronized {
        q.recentProgress.foreach { p =>
          def ms(phase: String): Long =
            Option(p.durationMs.get(phase)).map(_.longValue).getOrElse(-1L)
          // state-store shape per batch (r11 verdict #6): rows + bytes
          // summed over the batch's state operators — the 64x streaming
          // probe reads the PEAK of these
          val ops = Option(p.stateOperators).map(_.toSeq).getOrElse(Nil)
          buf += BatchProgress(Option(p.name).getOrElse("?"), p.batchId,
            ms("triggerExecution"), p.numInputRows,
            ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
            ms("addBatch"), ms("latestOffset"), ms("queryPlanning"),
            ms("walCommit"), ms("commitOffsets"))
        }
      }
    def drain(): Seq[BatchProgress] =
      synchronized { val r = buf.toVector; buf.clear(); r }
  }

  /** Run a streaming frame to a memory sink through
    * [[graft.streaming.StreamingIngest.runToMemory]] (which stops any
    * prior query of the same name, so the entry is re-runnable), record
    * its per-batch progress in [[ProgressLog]] once, stop it in a
    * `finally`, and return the materialized table. The table lives in the
    * STREAM's session (possibly a [[streamingSession]] clone), so
    * everything derives from `agg`'s session.
    */
  private[queries] def runToMemoryTable(agg: DataFrame, name: String,
      outputMode: String = "complete"): DataFrame = {
    val q = graft.streaming.StreamingIngest.runToMemory(agg, name, outputMode)
    try ProgressLog.record(q) finally q.stop()
    agg.sparkSession.table(name)
  }

  /** J3's static lookup table (the reference hardcodes location→city; we
    * hardcode event-type→category) — shared by the q50 Column expression
    * and its generated oracle CASE so the two sides cannot drift.
    */
  private[queries] val eventCategoryMap: Map[String, String] = Map(
    "click" -> "engagement", "view" -> "engagement",
    "purchase" -> "conversion", "signup" -> "conversion")

  // ---------------------------------------------------------------------

  /** The full catalog, assembled from the domain slices in catalog order
    * (ListMap: oracle_sql.json and benchNames preserve insertion order).
    */
  val all: ListMap[String, QueryDef] = ListMap(
    (CatalogCore.entries ++ CatalogTextVec.entries ++
      CatalogAnalytics.entries ++ CatalogTraining.entries ++
      CatalogScaleOps.entries ++ CatalogCorpusOps.entries ++
      CatalogInfra.entries ++ CatalogRoundtrip.entries ++
      CatalogGraphMining.entries ++ CatalogModelEval.entries ++
      CatalogCuration.entries ++ CatalogGeoWave.entries ++
      CatalogStatTests.entries ++ CatalogSelection.entries ++
      CatalogInsight.entries): _*)


  /** Names of the headline benchmark queries, in catalog order. */
  def benchNames: Seq[String] =
    all.collect { case (n, q) if q.bench && !q.streaming => n }.toSeq
  def benchStreamingNames: Seq[String] =
    all.collect { case (n, q) if q.bench && q.streaming => n }.toSeq
}
