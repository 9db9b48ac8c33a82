package graft.queries

import graft.functions.{TextFunctions => TF}
import graft.ops.{AsOfJoin, Baskets, ChangeCapture, Geo, Graph}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Catalog._

/** Round-10 second wave (q253+): geospatial grid operators (the station
  * geometry the reference's OpenAQ `/locations` coordinates carry),
  * k-core / link-prediction graph analytics, run-length encoding,
  * robust (winsorized) statistics, SCD2 point-in-time lookup, and
  * prefix autocomplete.
  *
  * One slice of the query catalog; entry ORDER is load-bearing (see
  * [[CatalogTraining]]).
  */
private[queries] object CatalogGeoWave {

  /** Station/probe coordinate fixture: deterministic integer
    * micro-degree positions derived from the entity key, confined to a
    * 1-degree square (a metro area) so grid cells are DENSE at every sf
    * — the same key-derived-coordinate convention as q142's location
    * fixture. Primes spread consecutive keys across the square.
    */
  private val LatBase = 10000000L // 10 degrees N, in micro-degrees
  private val LonBase = 106000000L // 106 degrees E
  private val LatPrime = 7919L
  private val LonPrime = 104729L
  private val SpanE6 = 1000000L // 1 degree
  /** Grid cell edge: 0.1 degree -> a 10x10 grid over the square. */
  private val CellE6 = 100000L

  private def latE6(key: org.apache.spark.sql.Column) =
    lit(LatBase) + (key * LatPrime) % SpanE6
  private def lonE6(key: org.apache.spark.sql.Column) =
    lit(LonBase) + (key * LonPrime) % SpanE6
  private def latE6Sql(k: String) = s"($LatBase + ($k * $LatPrime) % $SpanE6)"
  private def lonE6Sql(k: String) = s"($LonBase + ($k * $LonPrime) % $SpanE6)"

  /** q253's peel parameters (shared with the unrolled oracle): the
    * 2-core converges within 6 peels at every test sf (measured
    * 0.001/0.01/0.1: stable by rounds 0/4/6), and each extra round past
    * convergence is a cheap no-op — see [[Graph.kCorePeel]].
    */
  private val CoreK = 2
  private val CorePeelRounds = 6
  /** q253/q256 reuse q176's part co-purchase edge constant (the
    * supplier graph is complete at every sf — no non-adjacent pairs to
    * predict, and nothing to peel).
    */
  private val PartEdgeSupport = 2L

  /** q256's hub cap + output bound (shared with the oracle). */
  private val CnMaxDeg = 40L
  private val CnTopK = 100

  /** q260's prefix geometry: completions for 1-char stems of 3+-char
    * tokens, top 3 per stem. One-char stems are NOT a toy choice here:
    * the synthetic lexicon is ~31 words and every >=2-char prefix is
    * UNIQUE to its token, which left the per-stem top-k window with
    * nothing to rank (rank was constantly 1 — a hollow ranking path);
    * at 1 char, 7 of 19 stems carry multiple completions and ranks 1-3
    * all fire.
    */
  private val PrefixLen = 1
  private val MinTokLen = 3
  private val TopCompletions = 3

  /** q267's landmark geometry: a FIXED 8-landmark set (smallest node
    * ids), 3 BFS rounds — both scale-independent constants.
    */
  private val LandmarkK = 8
  private val LandmarkHops = 3

  /** q268's phrase-query geometry: the global top-3 bigrams probed, top
    * 5 docs reported per phrase.
    */
  private val PhraseQueryCount = 3
  private val PhraseTopDocs = 5

  /** q271's basket geometry: items are part FAMILIES (key mod 50) so the
    * C(50,3) triple space stays densely sampled at every sf; support 3
    * keeps the frequent set non-vacuous at sf0.001 and bounded (<=
    * C(50,3) rows) at every larger sf.
    */
  private val TripleItemMod = 50L
  private val TripleMinSupport = 3L

  def entries: Seq[(String, QueryDef)] = Seq(

    // Bounded-round k-core peel of the part co-purchase graph: after 4
    // peels at k=3 the surviving vertices and their residual in-core
    // degrees — the "dense backbone" extraction every graph-curation
    // pipeline runs before community detection. Fixed rounds (the
    // pageRank/Bellman-Ford convention) let the oracle unroll the
    // IDENTICAL recurrence; each round is one degree agg + two
    // vertex-keyed semi-joins, lineage-cut per round.
    "q253_kcore" -> QueryDef(
      fn = (s, d) => {
        val edges = CatalogGraphMining.copurchaseEdges(s, d, "l_partkey", PartEdgeSupport)
        Graph.kCorePeel(edges, "src", "dst", CoreK, CorePeelRounds)
          .orderBy("node")
      },
      oracle = Some {
        // every iterative CTE is MATERIALIZED: e_r references e_{r-1}
        // three times, so DuckDB's default inlining would re-evaluate
        // the basket self-join 3^rounds times
        val rounds = (1 to CorePeelRounds).map { r =>
          s"""d$r AS MATERIALIZED (SELECT v, count(*) AS dg FROM (
                 SELECT s AS v FROM e${r - 1} UNION ALL SELECT d FROM e${r - 1})
               GROUP BY v),
             s$r AS MATERIALIZED (SELECT v FROM d$r WHERE dg >= $CoreK),
             e$r AS MATERIALIZED (SELECT s, d FROM e${r - 1}
                     WHERE s IN (SELECT v FROM s$r)
                       AND d IN (SELECT v FROM s$r))"""
        }.mkString(",\n")
        s"""
        WITH ${CatalogGraphMining.edgesSqlCte("l_partkey", PartEdgeSupport)},
        e0 AS MATERIALIZED (SELECT s, d FROM e),
        $rounds
        SELECT v AS node, count(*) AS core_deg FROM (
          SELECT s AS v FROM e$CorePeelRounds
          UNION ALL SELECT d FROM e$CorePeelRounds)
        GROUP BY v ORDER BY node"""
      },
      bench = true), // the iterative-peel wall-time probe

    // Grid-cell density map over the station fixture: per 0.1-degree
    // cell, station count, exact-cents balance total, and the 3x3
    // neighborhood count (one bounded x9 explode + re-aggregation — the
    // map-side smoothing pass of a density surface). All arithmetic is
    // integer micro-degrees; both engines truncate the same positive
    // divisions.
    "q254_geo_grid" -> QueryDef(
      fn = (s, d) => {
        val st = t(s, d, "supplier").select(col("s_suppkey"), col("s_acctbal"),
          latE6(col("s_suppkey")).as("lat_e6"), lonE6(col("s_suppkey")).as("lon_e6"))
        val (cy, cx) = Geo.cellOf(col("lat_e6"), col("lon_e6"), CellE6)
        val cells = st.select(cy.as("cy"), cx.as("cx"), col("s_acctbal"))
          .groupBy("cy", "cx")
          .agg(count(lit(1)).as("n_stations"), exactSum(col("s_acctbal")).as("sum_bal"))
        val offsets = array((-1 to 1).flatMap(dy => (-1 to 1).map(dx =>
          struct(lit(dy.toLong).as("dy"), lit(dx.toLong).as("dx")))): _*)
        val neigh = cells.withColumn("__o", explode(offsets))
          .groupBy((col("cy") + col("__o.dy")).as("cy"),
            (col("cx") + col("__o.dx")).as("cx"))
          .agg(sum(col("n_stations")).as("neigh_n"))
        cells.join(neigh, Seq("cy", "cx"))
          .select("cy", "cx", "n_stations", "sum_bal", "neigh_n")
          .orderBy("cy", "cx")
      },
      oracle = Some(s"""
        WITH st AS (SELECT ${latE6Sql("s_suppkey")} // $CellE6 AS cy,
                           ${lonE6Sql("s_suppkey")} // $CellE6 AS cx,
                           s_acctbal
                    FROM supplier),
        cells AS (SELECT cy, cx, count(*) AS n_stations,
                         ${sumSql("s_acctbal")} AS sum_bal
                  FROM st GROUP BY cy, cx),
        off AS (SELECT a.dy, b.dx
                FROM (VALUES (-1), (0), (1)) a(dy), (VALUES (-1), (0), (1)) b(dx)),
        nb AS (SELECT c.cy + o.dy AS cy, c.cx + o.dx AS cx,
                      CAST(sum(c.n_stations) AS BIGINT) AS neigh_n
               FROM cells c CROSS JOIN off o GROUP BY 1, 2)
        SELECT c.cy, c.cx, c.n_stations, c.sum_bal, nb.neigh_n
        FROM cells c JOIN nb ON c.cy = nb.cy AND c.cx = nb.cx
        ORDER BY c.cy, c.cx""")),

    // Nearest-station join: every customer probe matched to its closest
    // supplier station among the 3x3 neighboring grid cells, by EXACT
    // integer squared micro-degree distance (no libm transcendental can
    // diverge between engines), tie-broken by station id. The probe side
    // explodes by a fixed factor 9 and the join is a hash equi-join on
    // the cell key — never all-pairs; probes with an empty neighborhood
    // drop out (the operator contract; both engines agree).
    "q255_geo_nn" -> QueryDef(
      fn = (s, d) => {
        val probes = t(s, d, "customer").select(col("c_custkey"),
          latE6(col("c_custkey")).as("lat_e6"), lonE6(col("c_custkey")).as("lon_e6"))
        val cands = t(s, d, "supplier").select(col("s_suppkey"),
          latE6(col("s_suppkey")).as("s_lat"), lonE6(col("s_suppkey")).as("s_lon"))
        Geo.nearestInGrid(probes, "c_custkey", "lat_e6", "lon_e6",
            cands, "s_suppkey", "s_lat", "s_lon", CellE6)
          .orderBy("c_custkey")
      },
      oracle = Some(s"""
        WITH cu AS (SELECT c_custkey, ${latE6Sql("c_custkey")} AS lat,
                           ${lonE6Sql("c_custkey")} AS lon FROM customer),
        st AS (SELECT s_suppkey, ${latE6Sql("s_suppkey")} AS lat,
                      ${lonE6Sql("s_suppkey")} AS lon FROM supplier),
        cu2 AS (SELECT c_custkey, lat, lon, lat // $CellE6 AS cy,
                       lon // $CellE6 AS cx FROM cu),
        st2 AS (SELECT s_suppkey, lat, lon, lat // $CellE6 AS cy,
                       lon // $CellE6 AS cx FROM st),
        cand AS (SELECT c.c_custkey, s.s_suppkey,
                        (c.lat - s.lat) * (c.lat - s.lat)
                          + (c.lon - s.lon) * (c.lon - s.lon) AS dist2
                 FROM cu2 c JOIN st2 s
                 ON s.cy BETWEEN c.cy - 1 AND c.cy + 1
                AND s.cx BETWEEN c.cx - 1 AND c.cx + 1)
        SELECT c_custkey, s_suppkey, dist2 FROM (
          SELECT c_custkey, s_suppkey, dist2,
                 row_number() OVER (PARTITION BY c_custkey
                                    ORDER BY dist2, s_suppkey) AS rn
          FROM cand) WHERE rn = 1 ORDER BY c_custkey""")),

    // Common-neighbor link prediction over the part co-purchase graph:
    // non-adjacent pairs ranked by shared-neighbor count with the
    // Jaccard coefficient. Wedges are enumerated at their center, so the
    // scale control is the stop-node rule: centers above CnMaxDeg are
    // excluded from evidence (a hub everyone touches predicts nothing) —
    // the cap is part of the operator contract and the oracle applies
    // the identical rule (it binds at sf0.001: 5 capped hubs). True
    // degrees still feed the score.
    "q256_common_neighbors" -> QueryDef(
      fn = (s, d) => {
        val edges = CatalogGraphMining.copurchaseEdges(s, d, "l_partkey", PartEdgeSupport)
        Graph.commonNeighbors(edges, "src", "dst", CnMaxDeg, CnTopK)
      },
      oracle = Some(s"""
        WITH ${CatalogGraphMining.edgesSqlCte("l_partkey", PartEdgeSupport)},
        bi AS MATERIALIZED (SELECT s AS src, d AS dst FROM e
                            UNION ALL SELECT d, s FROM e),
        deg AS MATERIALIZED (SELECT src AS v, count(*) AS dg
                             FROM bi GROUP BY src),
        arms AS MATERIALIZED (SELECT src AS c, dst AS n FROM bi
                 WHERE src IN (SELECT v FROM deg WHERE dg <= $CnMaxDeg)),
        pr AS (SELECT a.n AS a, b.n AS b, count(*) AS cn
               FROM arms a JOIN arms b ON a.c = b.c AND a.n < b.n
               GROUP BY 1, 2),
        na AS (SELECT * FROM pr WHERE NOT EXISTS (
                 SELECT 1 FROM e WHERE e.s = pr.a AND e.d = pr.b))
        SELECT na.a AS node_a, na.b AS node_b, na.cn,
               round(CAST(na.cn AS DOUBLE)
                     / CAST(da.dg + db.dg - na.cn AS DOUBLE), 6) AS jaccard
        FROM na JOIN deg da ON na.a = da.v JOIN deg db ON na.b = db.v
        ORDER BY na.cn DESC, node_a, node_b LIMIT $CnTopK""")),

    // Run-length encoding of each user's event-type stream (ordered by
    // ts, event_id): per user, total events, number of runs, longest
    // run, and mean run length — the compressibility profile of a
    // sequence column. One hash exchange on user_id; the boundary lag
    // and the running sum ride the same sort.
    "q257_run_length" -> QueryDef(
      fn = (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val boundary =
          when(!(lag(col("event_type"), 1).over(w) <=> col("event_type")), 1L)
            .otherwise(0L)
        t(s, d, "events")
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
            boundary.as("__b"))
          .select(col("user_id"),
            sum(col("__b")).over(w.rowsBetween(Window.unboundedPreceding,
              Window.currentRow)).as("__run"))
          .groupBy("user_id", "__run")
          .agg(count(lit(1)).as("__rl"))
          .groupBy("user_id")
          .agg(sum(col("__rl")).as("n_events"), count(lit(1)).as("n_runs"),
            max(col("__rl")).as("max_run_len"))
          .select(col("user_id"), col("n_events"), col("n_runs"),
            col("max_run_len"),
            round(col("n_events").cast("double") / col("n_runs").cast("double"), 6)
              .as("avg_run_len"))
          .orderBy("user_id")
      },
      oracle = Some("""
        WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms, event_id
                   FROM events),
        m AS (SELECT user_id, ms, event_id,
                     CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                          THEN 1 ELSE 0 END AS b
              FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
        r AS (SELECT user_id,
                     sum(b) OVER (PARTITION BY user_id ORDER BY ms, event_id
                                  ROWS UNBOUNDED PRECEDING) AS run
              FROM m),
        runs AS (SELECT user_id, run, count(*) AS rl FROM r GROUP BY user_id, run)
        SELECT user_id, CAST(sum(rl) AS BIGINT) AS n_events,
               count(*) AS n_runs, CAST(max(rl) AS BIGINT) AS max_run_len,
               round(CAST(sum(rl) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
                 AS avg_run_len
        FROM runs GROUP BY user_id ORDER BY user_id""")),

    // Winsorized per-segment account-balance mean at exact nearest-rank
    // p05/p95 cutoffs: rank cutoffs are INTEGER arithmetic
    // (ceil(q*n) = (n*q_pct + 99) div 100) and the cut values are exact
    // data values, so — unlike interpolated percentiles — no engine pair
    // can disagree by a ULP; the clipped mean runs in exact integer
    // cents. The robust-statistics twin of q54's interpolated quantiles.
    "q258_winsorize" -> QueryDef(
      fn = (s, d) => {
        val w = Window.partitionBy("c_mktsegment")
          .orderBy(col("c_acctbal"), col("c_custkey"))
        val ranked = t(s, d, "customer")
          .select(col("c_mktsegment"), col("c_acctbal"), col("c_custkey"))
          .withColumn("__r", row_number().over(w).cast("long"))
          .withColumn("__n", count(lit(1))
            .over(Window.partitionBy("c_mktsegment")))
        val cuts = ranked.groupBy("c_mktsegment").agg(
          count(lit(1)).as("n"),
          max(when(col("__r") === expr("(__n * 5 + 99) div 100"),
            col("c_acctbal"))).as("p05"),
          max(when(col("__r") === expr("(__n * 95 + 99) div 100"),
            col("c_acctbal"))).as("p95"))
        t(s, d, "customer").join(broadcast(cuts), Seq("c_mktsegment"))
          .select(col("c_mktsegment"), col("n"), col("p05"), col("p95"),
            cents(least(greatest(col("c_acctbal"), col("p05")), col("p95")))
              .as("__cl"))
          .groupBy("c_mktsegment", "n", "p05", "p95")
          .agg(round(sum(col("__cl")).cast("double") / 100.0 /
            col("n").cast("double"), 6).as("win_mean"))
          .select("c_mktsegment", "n", "p05", "p95", "win_mean")
          .orderBy("c_mktsegment")
      },
      oracle = Some(s"""
        WITH r AS (SELECT c_mktsegment, c_acctbal,
                          row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY c_acctbal, c_custkey) AS r,
                          count(*) OVER (PARTITION BY c_mktsegment) AS n
                   FROM customer),
        cuts AS (SELECT c_mktsegment, CAST(max(n) AS BIGINT) AS n,
                        max(CASE WHEN r = (n * 5 + 99) // 100
                                 THEN c_acctbal END) AS p05,
                        max(CASE WHEN r = (n * 95 + 99) // 100
                                 THEN c_acctbal END) AS p95
                 FROM r GROUP BY c_mktsegment),
        cl AS (SELECT c.c_mktsegment, t.n, t.p05, t.p95,
                      ${centsSql("least(greatest(c.c_acctbal, t.p05), t.p95)")}
                        AS cl
               FROM customer c JOIN cuts t ON c.c_mktsegment = t.c_mktsegment)
        SELECT c_mktsegment, n, p05, p95,
               round(CAST(sum(cl) AS DOUBLE) / 100.0 / CAST(n AS DOUBLE), 6)
                 AS win_mean
        FROM cl GROUP BY c_mktsegment, n, p05, p95 ORDER BY c_mktsegment""")),

    // SCD2 point-in-time lookup: purchases joined to the dimension
    // version (the user's last non-purchase activity state) valid AT the
    // purchase instant — the "what did the dimension say when the fact
    // happened" verb every warehouse needs. The lookup is the as-of
    // backward join on valid_from (ONE exchange, no interval-containment
    // range blowup); the oracle proves the equivalence against the
    // explicit [valid_from, valid_to) containment join.
    "q259_pit_join" -> QueryDef(
      fn = (s, d) => {
        val ev = t(s, d, "events")
        val dim = ChangeCapture.scd2(
            ev.filter(col("event_type") =!= "purchase"),
            key = "user_id", attr = "event_type",
            seq = unix_millis(col("ts")), tie = col("event_id"))
          .select(col("user_id"), col("version"),
            col("event_type").as("state"), col("valid_from"))
        val facts = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"),
            unix_millis(col("ts")).as("ms"))
        AsOfJoin.asof(facts, dim, on = Seq("user_id"),
            leftTs = "ms", rightTs = "valid_from",
            rightCols = Seq("version", "state"),
            rightTieBreak = Seq(col("version")))
          .select("event_id", "user_id", "ms", "version", "state")
          .orderBy("event_id")
      },
      oracle = Some("""
        WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms, event_id
                   FROM events WHERE event_type <> 'purchase'),
        chg AS (SELECT user_id, event_type, ms, event_id FROM (
                  SELECT user_id, event_type, ms, event_id,
                         lag(event_type) OVER w AS prev,
                         row_number() OVER w AS rn
                  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id))
                WHERE rn = 1 OR prev IS DISTINCT FROM event_type),
        dim AS (SELECT user_id, CAST(row_number() OVER w2 AS BIGINT) AS version,
                       event_type AS state, ms AS valid_from,
                       lead(ms) OVER w2 AS valid_to
                FROM chg WINDOW w2 AS (PARTITION BY user_id ORDER BY ms, event_id)),
        f AS (SELECT event_id, user_id, epoch_ms(ts) AS ms FROM events
              WHERE event_type = 'purchase')
        SELECT f.event_id, f.user_id, f.ms, d.version, d.state
        FROM f LEFT JOIN dim d
          ON f.user_id = d.user_id AND d.valid_from <= f.ms
         AND (d.valid_to IS NULL OR f.ms < d.valid_to)
        ORDER BY f.event_id""")),

    // Prefix autocomplete index: top-3 completions (by corpus frequency,
    // then lexicographic) for every 4-char stem of 5+-char lowercased
    // tokens. Fanout is exactly one stem per token; the candidate table
    // is vocabulary-bounded, and the per-stem top-k is one window over
    // the stem key — the build side of a type-ahead service.
    "q260_prefix_autocomplete" -> QueryDef(
      fn = (s, d) => {
        val w = Window.partitionBy("prefix").orderBy(col("n").desc, col("completion"))
        t(s, d, "documents")
          .select(explode(TF.tokens(col("text"))).as("tok"))
          .select(lower(col("tok")).as("completion"))
          .filter(length(col("completion")) >= MinTokLen)
          .withColumn("prefix", substring(col("completion"), 1, PrefixLen))
          .groupBy("prefix", "completion")
          .agg(count(lit(1)).as("n"))
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= TopCompletions)
          .select("prefix", "rank", "completion", "n")
          .orderBy("prefix", "rank")
      },
      oracle = Some(s"""
        WITH tk AS (SELECT unnest($toksSql) AS tok FROM documents),
        lo AS (SELECT lower(tok) AS completion FROM tk
               WHERE length(tok) >= $MinTokLen),
        g AS (SELECT substr(completion, 1, $PrefixLen) AS prefix, completion,
                     count(*) AS n
              FROM lo GROUP BY 1, 2)
        SELECT prefix, rank, completion, n FROM (
          SELECT prefix, CAST(row_number() OVER (PARTITION BY prefix
                   ORDER BY n DESC, completion) AS BIGINT) AS rank,
                 completion, n
          FROM g) WHERE rank <= $TopCompletions
        ORDER BY prefix, rank""")),

    // Landmark harmonic centrality over the part co-purchase graph: BFS
    // distances from a FIXED-SIZE landmark set (the 8 smallest node ids
    // — constant at every scale, unlike a modulo rule whose landmark
    // count grows with the graph), centrality = sum over landmarks of
    // 1e6 div dist on the exact integer grid. The 100 TB story: exact
    // all-pairs closeness is quadratic and off the table; bounded
    // landmark sets are the standard estimator, and the per-landmark
    // state rides the SAME frontier loop as q180 with the landmark id
    // folded into the key (state O(landmarks x nodes) by construction).
    "q267_harmonic_centrality" -> QueryDef(
      fn = (s, d) => {
        val edges = CatalogGraphMining.copurchaseEdges(s, d, "l_partkey", PartEdgeSupport)
        val nodes = edges.select(col("src").as("node"))
          .unionAll(edges.select(col("dst").as("node"))).distinct()
        val lms = nodes.orderBy("node").limit(LandmarkK)
        Graph.landmarkDistances(edges, "src", "dst", lms, "node", LandmarkHops)
          .filter(col("dist") >= 1)
          .groupBy("node")
          .agg(count(lit(1)).as("n_reached"),
            sum(expr("1000000L div dist")).as("h_e6"))
          .orderBy("node")
      },
      oracle = Some {
        // every round CTE is MATERIALIZED — f_r and v_r are referenced
        // multiply and DuckDB's default inlining would re-derive the
        // basket self-join exponentially (the q253 lesson)
        val rounds = (1 to LandmarkHops).map { k =>
          s"""f$k AS MATERIALIZED (
                 SELECT DISTINCT f.lm, bi.dst AS node
                 FROM bi JOIN f${k - 1} f ON bi.src = f.node
                 WHERE NOT EXISTS (SELECT 1 FROM v${k - 1} v
                                   WHERE v.lm = f.lm AND v.node = bi.dst)),
              v$k AS MATERIALIZED (
                 SELECT * FROM v${k - 1}
                 UNION ALL SELECT lm, node, $k AS dist FROM f$k)"""
        }.mkString(",\n")
        s"""
        WITH ${CatalogGraphMining.edgesSqlCte("l_partkey", PartEdgeSupport)},
        bi AS MATERIALIZED (SELECT s AS src, d AS dst FROM e
               UNION ALL SELECT d, s FROM e),
        nodes AS (SELECT DISTINCT src AS node FROM bi),
        lms AS MATERIALIZED (SELECT node AS lm FROM nodes ORDER BY node
                             LIMIT $LandmarkK),
        f0 AS MATERIALIZED (SELECT lm, lm AS node FROM lms),
        v0 AS MATERIALIZED (SELECT lm, node, 0 AS dist FROM f0),
        $rounds
        SELECT node, CAST(count(*) AS BIGINT) AS n_reached,
               CAST(sum(1000000 // dist) AS BIGINT) AS h_e6
        FROM v$LandmarkHops WHERE dist >= 1
        GROUP BY node ORDER BY node"""
      }),

    // Phrase search via MAP-SIDE adjacent bigrams (r12 verdict #4): each
    // doc's token array zips with its own 1-shifted tail inside the scan
    // projection — zero shuffles before the pre-aggregated per-doc
    // bigram count. The previous positional-postings form (posexplode →
    // self-join on pos+1) shipped the whole posting list through TWO
    // O(total-tokens) exchanges to emit the same bigrams; interleaved
    // A/B at sf0.1: median 2.03s vs 2.66s, paired delta -0.82s median,
    // min 1.66 vs 2.30 (NOTES r13).
    // The bigram count frame is checkpointed and serves BOTH phrase
    // discovery (global top-3) and the per-doc ranking probe — one
    // corpus pass, zero rescans. The ranking probe runs on TopKPerKey
    // (bounded heaps), with row_number assigned after the cap over the
    // <= 3x5-row survivor frame. Counts are exact integers; ordering is
    // total (freq desc, then phrase / doc id).
    "q268_phrase_search" -> QueryDef(
      fn = (s, d) => {
        val toks = t(s, d, "documents")
          .select(col("doc_id"), TF.tokens(col("text")).as("__t"))
        // zip_with pads the shorter (len-1) tail with null, so the last
        // slot concats to null and the filter drops it — len-1 bigrams
        val bigrams = zip_with(col("__t"),
          slice(col("__t"), lit(2), greatest(size(col("__t")) - 1, lit(0))),
          (a, b) => concat(a, lit(" "), b))
        val adjCounts = toks
          .select(col("doc_id"), explode(bigrams).as("phrase"))
          .filter(col("phrase").isNotNull)
          .groupBy("doc_id", "phrase").agg(count(lit(1)).as("n_occ"))
          .localCheckpoint(eager = true) // the per-doc bigram index
        val top3 = adjCounts.groupBy("phrase")
          .agg(sum(col("n_occ")).as("total_occ"))
          .orderBy(col("total_occ").desc, col("phrase"))
          .limit(PhraseQueryCount)
        val capped = graft.plans.TopKPerKey.topKPerKey(
          adjCounts.join(broadcast(top3.select("phrase")), Seq("phrase")),
          Seq(col("phrase")), Seq((col("n_occ"), false), (col("doc_id"), true)),
          PhraseTopDocs)
        val w = Window.partitionBy("phrase").orderBy(col("n_occ").desc, col("doc_id"))
        capped
          .withColumn("rank", row_number().over(w).cast("long"))
          .select("phrase", "rank", "doc_id", "n_occ")
          .orderBy("phrase", "rank")
      },
      oracle = Some(s"""
        WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
        bg AS (SELECT doc_id,
                      unnest(list_transform(range(1, len(toks)),
                        i -> toks[i] || ' ' || toks[i + 1])) AS phrase
               FROM tk WHERE len(toks) >= 2),
        bc AS (SELECT doc_id, phrase, CAST(count(*) AS BIGINT) AS n_occ
               FROM bg GROUP BY 1, 2),
        top3 AS (SELECT phrase, CAST(sum(n_occ) AS BIGINT) AS total_occ
                 FROM bc GROUP BY phrase
                 ORDER BY total_occ DESC, phrase LIMIT $PhraseQueryCount),
        r AS (SELECT b.phrase, b.doc_id, b.n_occ,
                     CAST(row_number() OVER (PARTITION BY b.phrase
                       ORDER BY b.n_occ DESC, b.doc_id) AS BIGINT) AS rank
              FROM bc b JOIN top3 t ON b.phrase = t.phrase)
        SELECT phrase, rank, doc_id, n_occ FROM r
        WHERE rank <= $PhraseTopDocs ORDER BY phrase, rank"""),
      bench = true), // the positional-postings wall-time probe

    // Frequent item TRIPLES (the Apriori rung above q174's pairs), over
    // part FAMILIES (l_partkey mod 50) so the triple space is dense at
    // every sf — raw part ids make frequent triples a birthday-paradox
    // accident that vanishes as the catalog grows (the vacuous-fixture
    // trap). The (a,b) wedge is semi-joined against the frequent-pair
    // set BEFORE the third arm extends it — candidate fanout bounded by
    // |frequent pairs| x basket width, the actual Apriori argument; the
    // support filter alone already makes the result correct, so the
    // oracle states the plain 3-way definition.
    "q271_frequent_triples" -> QueryDef(
      fn = (s, d) => {
        val fams = t(s, d, "lineitem")
          .select(col("l_orderkey"), (col("l_partkey") % TripleItemMod).as("fam"))
        Baskets.frequentItemTriples(fams, "l_orderkey", "fam", TripleMinSupport)
          .orderBy("item_a", "item_b", "item_c")
      },
      oracle = Some(s"""
        WITH po AS (SELECT DISTINCT l_orderkey AS b,
                           l_partkey % $TripleItemMod AS i
                    FROM lineitem)
        SELECT a.i AS item_a, b.i AS item_b, c.i AS item_c,
               CAST(count(*) AS BIGINT) AS support
        FROM po a
        JOIN po b ON a.b = b.b AND a.i < b.i
        JOIN po c ON a.b = c.b AND b.i < c.i
        GROUP BY 1, 2, 3 HAVING count(*) >= $TripleMinSupport
        ORDER BY item_a, item_b, item_c""")),

    // Degree assortativity of the part co-purchase graph (Newman's r):
    // do high-degree parts co-occur with high-degree parts? Pearson of
    // endpoint degrees over the DIRECTED edge list (both orientations,
    // so the x/y moments coincide) — every moment is an exact integer
    // sum (S1, S2, S12, M) and r = (M*S12 - S1^2)/(M*S2 - S1^2) is ONE
    // final double division. ANSI arithmetic would throw long overflow
    // long before the statistic loses meaning (production at web scale
    // would lift the moments to DECIMAL(38,0) — documented trade).
    "q273_assortativity" -> QueryDef(
      fn = (s, d) => {
        val edges = CatalogGraphMining.copurchaseEdges(s, d, "l_partkey", PartEdgeSupport)
          .localCheckpoint(eager = true) // feeds bi, deg
        val bi = edges.unionAll(
          edges.select(col("dst").as("src"), col("src").as("dst")))
        val deg = bi.groupBy(col("src").as("v")).agg(count(lit(1)).as("deg"))
        val m = bi
          .join(deg.select(col("v").as("src"), col("deg").as("da")), Seq("src"))
          .join(deg.select(col("v").as("dst"), col("deg").as("db")), Seq("dst"))
          .agg(count(lit(1)).as("m"), sum(col("da")).as("s1"),
            sum(col("da") * col("da")).as("s2"),
            sum(col("da") * col("db")).as("s12"))
        m.select(col("m").as("n_directed_edges"),
            round((col("m") * col("s12") - col("s1") * col("s1")).cast("double") /
              (col("m") * col("s2") - col("s1") * col("s1")).cast("double"), 6)
              .as("assortativity"))
      },
      oracle = Some(s"""
        WITH ${CatalogGraphMining.edgesSqlCte("l_partkey", PartEdgeSupport)},
        bi AS (SELECT s AS src, d AS dst FROM e
               UNION ALL SELECT d, s FROM e),
        deg AS (SELECT src AS v, CAST(count(*) AS BIGINT) AS deg
                FROM bi GROUP BY src),
        j AS (SELECT a.deg AS da, b.deg AS db
              FROM bi JOIN deg a ON bi.src = a.v JOIN deg b ON bi.dst = b.v),
        mo AS (SELECT CAST(count(*) AS BIGINT) AS m,
                      CAST(sum(da) AS BIGINT) AS s1,
                      CAST(sum(da * da) AS BIGINT) AS s2,
                      CAST(sum(da * db) AS BIGINT) AS s12
               FROM j)
        SELECT m AS n_directed_edges,
               round(CAST(m * s12 - s1 * s1 AS DOUBLE)
                     / CAST(m * s2 - s1 * s1 AS DOUBLE), 6) AS assortativity
        FROM mo""")),

    // EPA-NowCast-style recency-weighted rolling mean — the reference's
    // own DOMAIN verb (air-quality dashboards report NowCast, not plain
    // rolling means): over the last 6 hourly means, weight hour-delta d
    // by w^d where w = min/max of the window CLAMPED at 1/2 (volatile
    // signal -> steep decay, stable -> near-uniform; EPA's rule at
    // 6-hour grain). Engineered fully EXACT: hourly means are
    // floor-divided integer cents, w lands on the 1e-2 grid as an
    // integer ratio, the weight ladder w2^d * 100^(5-d) is an all-long
    // CASE (bounded by 6e4 * 1e10 * 6 ~ 4e15 << 2^63), and the final
    // NowCast is one integer floor division — zero FP anywhere, so the
    // cell is bit-identical across engines with no snap. Shape: one
    // corpus agg -> FIXED 6x probe explode -> hash equi-join on
    // (type, hour) -> two bounded-frame aggs; the pair frame is
    // checkpointed once for the min/max pass and the weighted pass.
    "q290_nowcast" -> QueryDef(
      fn = (s, d) => {
        val hourly = t(s, d, "events").filter(col("value").isNotNull)
          .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour_ts"))
          .agg(sum(cents(col("value"))).as("__s"), count(lit(1)).as("__n"))
          .withColumn("__c", expr("__s div __n"))
          .withColumn("__h", expr("unix_micros(hour_ts) div 3600000000L"))
          .localCheckpoint(eager = true) // probe side + past side share it
        val pairs = hourly
          .select(col("event_type"), col("hour_ts"), col("__h"),
            explode(sequence(lit(0L), lit(5L))).as("__d"))
          .select(col("event_type"), col("hour_ts"), col("__h"),
            col("__d"), (col("__h") - col("__d")).as("__hp"))
          .join(hourly.select(col("event_type"), col("__h").as("__hp"),
            col("__c")), Seq("event_type", "__hp"))
          .localCheckpoint(eager = true) // min/max pass + weighted pass
        val g1 = pairs.groupBy("event_type", "hour_ts")
          .agg(min(col("__c")).as("__min"), max(col("__c")).as("__max"),
            count(lit(1)).as("n_hours"))
          .withColumn("__w2",
            greatest(lit(50L), expr("__min * 100L div greatest(__max, 1L)")))
        val ladder = """CASE __d
            WHEN 0 THEN 10000000000L
            WHEN 1 THEN __w2 * 100000000L
            WHEN 2 THEN __w2 * __w2 * 1000000L
            WHEN 3 THEN __w2 * __w2 * __w2 * 10000L
            WHEN 4 THEN __w2 * __w2 * __w2 * __w2 * 100L
            ELSE __w2 * __w2 * __w2 * __w2 * __w2 END"""
        pairs.join(g1, Seq("event_type", "hour_ts"))
          .groupBy(col("event_type"), col("hour_ts"),
            col("n_hours"), col("__w2"))
          .agg(sum(expr(s"__c * ($ladder)")).as("__num"),
            sum(expr(ladder)).as("__den"))
          .select(col("event_type"), col("hour_ts"), col("n_hours"),
            col("__w2").as("w_e2"),
            expr("__num div __den").as("nowcast_cents"))
          .orderBy("event_type", "hour_ts")
      },
      oracle = Some("""
        WITH hourly AS (
          SELECT event_type, date_trunc('hour', ts) AS hour_ts,
                 CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   // count(*) AS c,
                 epoch_us(date_trunc('hour', ts)) // 3600000000 AS h
          FROM events WHERE value IS NOT NULL
          GROUP BY event_type, date_trunc('hour', ts)),
        pairs AS (
          SELECT cur.event_type, cur.hour_ts, d.d AS d, past.c
          FROM hourly cur
          CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS d) d
          JOIN hourly past ON past.event_type = cur.event_type
                          AND past.h = cur.h - d.d),
        g1 AS (
          SELECT event_type, hour_ts, min(c) AS mn, max(c) AS mx,
                 count(*) AS n_hours,
                 greatest(50, min(c) * 100 // greatest(max(c), 1)) AS w2
          FROM pairs GROUP BY event_type, hour_ts),
        wsum AS (
          SELECT p.event_type, p.hour_ts, g1.n_hours, g1.w2,
                 CAST(sum(p.c * (CASE p.d
                   WHEN 0 THEN 10000000000
                   WHEN 1 THEN g1.w2 * 100000000
                   WHEN 2 THEN g1.w2 * g1.w2 * 1000000
                   WHEN 3 THEN g1.w2 * g1.w2 * g1.w2 * 10000
                   WHEN 4 THEN g1.w2 * g1.w2 * g1.w2 * g1.w2 * 100
                   ELSE g1.w2 * g1.w2 * g1.w2 * g1.w2 * g1.w2 END))
                   AS BIGINT) AS num,
                 CAST(sum(CASE p.d
                   WHEN 0 THEN 10000000000
                   WHEN 1 THEN g1.w2 * 100000000
                   WHEN 2 THEN g1.w2 * g1.w2 * 1000000
                   WHEN 3 THEN g1.w2 * g1.w2 * g1.w2 * 10000
                   WHEN 4 THEN g1.w2 * g1.w2 * g1.w2 * g1.w2 * 100
                   ELSE g1.w2 * g1.w2 * g1.w2 * g1.w2 * g1.w2 END)
                   AS BIGINT) AS den
          FROM pairs p JOIN g1 USING (event_type, hour_ts)
          GROUP BY p.event_type, p.hour_ts, g1.n_hours, g1.w2)
        SELECT event_type, hour_ts, CAST(n_hours AS BIGINT) AS n_hours,
               CAST(w2 AS BIGINT) AS w_e2, num // den AS nowcast_cents
        FROM wsum ORDER BY event_type, hour_ts""")),

    // Hop-distance HISTOGRAM + effective diameter-90 from the landmark
    // set (round 12): the classic hop-plot readout q267's centrality
    // sums don't expose — per hop, how many (landmark, node) pairs sit
    // at that distance, the cumulative reach share on the exact 1e-6
    // grid, and the d90 flag (first hop covering >= 90% of reached
    // pairs — the standard "effective diameter" estimator, landmark-
    // approximated because exact all-pairs is quadratic at 100 TB).
    // Same bounded frontier loop and unrolled oracle as q267.
    "q347_hop_histogram" -> QueryDef(
      fn = (s, d) => {
        val edges = CatalogGraphMining.copurchaseEdges(s, d, "l_partkey", PartEdgeSupport)
        val nodes = edges.select(col("src").as("node"))
          .unionAll(edges.select(col("dst").as("node"))).distinct()
        val lms = nodes.orderBy("node").limit(LandmarkK)
        val hist = Graph.landmarkDistances(edges, "src", "dst", lms, "node",
            LandmarkHops)
          .groupBy(col("dist")).agg(count(lit(1)).as("n_pairs"))
          .localCheckpoint(eager = true) // cum window + total share it
        val total = hist.agg(sum(col("n_pairs"))).head.getLong(0)
        hist
          .withColumn("cum_pairs", sum(col("n_pairs")).over(
            Window.orderBy("dist").rowsBetween(Window.unboundedPreceding, 0)))
          .select(col("dist").cast("long").as("dist"), col("n_pairs"),
            col("cum_pairs"),
            expr(s"cum_pairs * 1000000L div ${total}L").as("cum_share_e6"),
            (col("cum_pairs") * 10 >= lit(9L) * total).as("reaches_d90"))
          .orderBy("dist")
      },
      oracle = Some {
        val rounds = (1 to LandmarkHops).map { k =>
          s"""f$k AS MATERIALIZED (
                 SELECT DISTINCT f.lm, bi.dst AS node
                 FROM bi JOIN f${k - 1} f ON bi.src = f.node
                 WHERE NOT EXISTS (SELECT 1 FROM v${k - 1} v
                                   WHERE v.lm = f.lm AND v.node = bi.dst)),
              v$k AS MATERIALIZED (
                 SELECT * FROM v${k - 1}
                 UNION ALL SELECT lm, node, $k AS dist FROM f$k)"""
        }.mkString(",\n")
        s"""
        WITH ${CatalogGraphMining.edgesSqlCte("l_partkey", PartEdgeSupport)},
        bi AS MATERIALIZED (SELECT s AS src, d AS dst FROM e
               UNION ALL SELECT d, s FROM e),
        nodes AS (SELECT DISTINCT src AS node FROM bi),
        lms AS MATERIALIZED (SELECT node AS lm FROM nodes ORDER BY node
                             LIMIT $LandmarkK),
        f0 AS MATERIALIZED (SELECT lm, lm AS node FROM lms),
        v0 AS MATERIALIZED (SELECT lm, node, 0 AS dist FROM f0),
        $rounds,
        hist AS (SELECT dist, count(*) AS n_pairs FROM v$LandmarkHops
                 GROUP BY dist),
        tot AS (SELECT sum(n_pairs) AS t FROM hist),
        cum AS (SELECT dist, n_pairs,
                       sum(n_pairs) OVER (ORDER BY dist) AS cum_pairs
                FROM hist)
        SELECT CAST(c.dist AS BIGINT) AS dist,
               CAST(c.n_pairs AS BIGINT) AS n_pairs,
               CAST(c.cum_pairs AS BIGINT) AS cum_pairs,
               CAST(c.cum_pairs * 1000000 // tot.t AS BIGINT) AS cum_share_e6,
               c.cum_pairs * 10 >= 9 * tot.t AS reaches_d90
        FROM cum c, tot ORDER BY dist"""
      }),

    // Grid-DBSCAN density clustering (round 13) — the density-based
    // clustering verb the catalog's centroid (SemDeDup/silhouette) and
    // connectivity (CC/k-core) families don't cover: a cell is CORE
    // when its 3x3 neighborhood holds >= minPts points (minPts derived
    // from the global density so the roles stay non-vacuous at every
    // sf), clusters are connected components of ADJACENT core cells
    // (the engine's own ConnectedComponents operator over a bounded
    // <=100-cell graph), border cells attach to their min-id adjacent
    // core cluster, the rest is noise. The coordinate fixture SQUARES
    // the uniform key-hash axis (u*u div span) so density falls off
    // ~1/sqrt from the low corner — a uniform cloud has no
    // density-based structure and read all-core/all-noise depending on
    // sf (the hollow-output trap, caught by the role audit). All grid
    // math is exact integer micro-degrees; the oracle replays the
    // component step as a WITH RECURSIVE transitive closure — exact on
    // the bounded cell graph. Scale shape: one point->cell groupBy
    // (uniform shuffle), a x9 bounded offset explode, and CC over
    // O(occupied cells) — never over points.
    "q384_grid_dbscan" -> QueryDef(
      fn = (s, d) => {
        val pts = t(s, d, "supplier")
          .withColumn("__u", (col("s_suppkey") * LatPrime) % SpanE6)
          .withColumn("lat", lit(LatBase) + expr(s"(__u * __u) div $SpanE6"))
          .withColumn("__u", (col("s_suppkey") * LonPrime) % SpanE6)
          .withColumn("lon", lit(LonBase) + expr(s"(__u * __u) div $SpanE6"))
          .select("lat", "lon")
        val (cy, cx) = Geo.cellOf(col("lat"), col("lon"), CellE6)
        val cells = pts.select(cy.as("cy"), cx.as("cx"))
          .groupBy("cy", "cx").agg(count(lit(1)).as("n_pts"))
          .localCheckpoint(eager = true) // neighbor + core + border share it
        // density-derived core threshold: 2x the uniform-expectation 3x3
        // mass (9 cells / 100-cell grid), floor 3 — one bounded scalar
        val total = cells.agg(sum(col("n_pts"))).head.getLong(0)
        val minPts = math.max(3L, total * 18L / 100L)
        val offsets = array((-1 to 1).flatMap(dy => (-1 to 1).map(dx =>
          struct(lit(dy.toLong).as("dy"), lit(dx.toLong).as("dx")))): _*)
        val neigh = cells.withColumn("__o", explode(offsets))
          .groupBy((col("cy") + col("__o.dy")).as("cy"),
            (col("cx") + col("__o.dx")).as("cx"))
          .agg(sum(col("n_pts")).as("neigh_n"))
        val graded = cells.join(neigh, Seq("cy", "cx"))
          .withColumn("cell_id", col("cy") * 10000L + col("cx"))
          .withColumn("is_core", col("neigh_n") >= minPts)
          .localCheckpoint(eager = true) // core edges + border share it
        val core = graded.filter(col("is_core")).select("cell_id", "cy", "cx")
        // adjacency among core cells incl. the (0,0) self-edge, so
        // isolated core cells still surface as their own cluster
        val coreEdges = core.withColumn("__o", explode(offsets))
          .select(col("cell_id").as("id_a"),
            (col("cy") + col("__o.dy")).as("ny"),
            (col("cx") + col("__o.dx")).as("nx"))
          .join(core.select(col("cell_id").as("id_b"), col("cy").as("ny"),
            col("cx").as("nx")), Seq("ny", "nx"))
          .select("id_a", "id_b")
        val comp = graft.ops.ConnectedComponents.components(coreEdges)
          .select(col("id").as("cell_id"), col("component").as("__ccl"))
        val border = graded.filter(!col("is_core"))
          .withColumn("__o", explode(offsets))
          .select(col("cell_id"),
            (col("cy") + col("__o.dy")).as("ny"),
            (col("cx") + col("__o.dx")).as("nx"))
          .join(core.select(col("cy").as("ny"), col("cx").as("nx"),
            col("cell_id").as("__core_id")), Seq("ny", "nx"))
          .join(comp.select(col("cell_id").as("__core_id"),
            col("__ccl")), Seq("__core_id"))
          .groupBy("cell_id").agg(min(col("__ccl")).as("__bcl"))
        graded.join(comp, Seq("cell_id"), "left")
          .join(border, Seq("cell_id"), "left")
          .select(col("cy"), col("cx"), col("n_pts"),
            when(col("is_core"), lit("core"))
              .when(col("__bcl").isNotNull, lit("border"))
              .otherwise(lit("noise")).as("role"),
            coalesce(col("__ccl"), col("__bcl")).as("cluster"))
          .orderBy("cy", "cx")
      },
      oracle = Some(s"""
        WITH RECURSIVE st AS (
          SELECT ($LatBase + (((s_suppkey * $LatPrime) % $SpanE6)
                   * ((s_suppkey * $LatPrime) % $SpanE6)) // $SpanE6)
                 // $CellE6 AS cy,
                 ($LonBase + (((s_suppkey * $LonPrime) % $SpanE6)
                   * ((s_suppkey * $LonPrime) % $SpanE6)) // $SpanE6)
                 // $CellE6 AS cx
          FROM supplier),
        cells AS (SELECT cy, cx, count(*) AS n_pts FROM st GROUP BY 1, 2),
        mp AS (SELECT greatest(3, (SELECT count(*) FROM supplier)
                                  * 18 // 100) AS minpts),
        nb AS (SELECT c.cy, c.cx, sum(o.n_pts) AS neigh_n
               FROM cells c JOIN cells o
                 ON abs(c.cy - o.cy) <= 1 AND abs(c.cx - o.cx) <= 1
               GROUP BY 1, 2),
        g AS (SELECT c.cy, c.cx, c.n_pts, c.cy * 10000 + c.cx AS cell_id,
                     nb.neigh_n >= mp.minpts AS is_core
              FROM cells c JOIN nb USING (cy, cx), mp),
        core AS (SELECT cell_id, cy, cx FROM g WHERE is_core),
        e AS (SELECT a.cell_id AS s, b.cell_id AS dd FROM core a JOIN core b
              ON abs(a.cy - b.cy) <= 1 AND abs(a.cx - b.cx) <= 1),
        r(s, dd) AS (SELECT s, dd FROM e
                     UNION
                     SELECT r.s, e.dd FROM r JOIN e ON r.dd = e.s),
        comp AS (SELECT s AS cell_id, min(dd) AS ccl FROM r GROUP BY s),
        bord AS (SELECT g.cell_id, min(comp.ccl) AS bcl
                 FROM g JOIN core
                   ON NOT g.is_core AND abs(g.cy - core.cy) <= 1
                      AND abs(g.cx - core.cx) <= 1
                 JOIN comp ON comp.cell_id = core.cell_id
                 GROUP BY g.cell_id)
        SELECT g.cy, g.cx, CAST(g.n_pts AS BIGINT) AS n_pts,
               CASE WHEN g.is_core THEN 'core'
                    WHEN bord.bcl IS NOT NULL THEN 'border'
                    ELSE 'noise' END AS role,
               CASE WHEN g.is_core THEN comp.ccl ELSE bord.bcl END AS cluster
        FROM g
        LEFT JOIN comp ON g.cell_id = comp.cell_id AND g.is_core
        LEFT JOIN bord ON g.cell_id = bord.cell_id
        ORDER BY g.cy, g.cx""")),
  )
}
