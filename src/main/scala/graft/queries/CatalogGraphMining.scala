package graft.queries

import graft.functions.{TextFunctions => TF}
import graft.ops.{Baskets, Graph, Lines}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Catalog._

/** Round-9 third wave: graph analytics (triangles, PageRank), basket
  * mining, corpus paragraph dedup, per-group OLS, BM25 ranking
  * (q173-q178).
  *
  * One slice of the query catalog. Entry ORDER is load-bearing:
  * [[Catalog.all]] is a ListMap concatenated slice-by-slice, and
  * oracle_sql.json iterates it in insertion order.
  */
private[queries] object CatalogGraphMining {

  /** q173's segment width (tokens per paragraph-proxy window) — one
    * constant feeding both engines.
    */
  private val SegTokens = 10

  /** q174/q175/q176's support bars — constants shared with the oracles. */
  private val PairMinSupport = 2L

  /** q348's level-refinement budget (>= the co-purchase DAG's depth at
    * the tested sf — measured depths are far inside; see query doc).
    */
  private val DagLevelRounds = 12
  private val SupplierEdgeSupport = 5L

  /** q176's PageRank hyperparameters. The damping constants are injected
    * into the oracle SQL as SCALA-RENDERED doubles (e.g. `1.0 - 0.85` =
    * 0.15000000000000002) so DuckDB's decimal literal arithmetic cannot
    * diverge from JVM double arithmetic.
    */
  private val PrDamping = 0.85
  private val PrIters = 3

  /** q391's seed-set size (the 5 smallest node ids, deterministic). */
  private val PprSeeds = 5

  /** q177's hour base: epoch hours of 2024-01-01T00:00Z (all events sit
    * in Jan 2024, so x ∈ [0, 744] — with cents-y, every OLS sum fits a
    * long with >100x headroom at sf0.1).
    */
  private val HourBase = 1704067200L / 3600L

  /** q178's BM25 constants: query terms (all present in the synthetic
    * vocabulary) and the standard k1/b.
    */
  private val Bm25Terms = Seq("scan", "join", "window")
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75

  /** q178/q191's shared scored frame: (doc_id, bm25 [6-dp], grade) with
    * grade = total query-term tf (the integer relevance proxy q191
    * grades rankings by). ZERO corpus shuffles: per-term tf and dl are
    * per-row array ops, the corpus stats (N, avgdl, per-term df) are ONE
    * 1-row aggregate broadcast back, and the score is a fixed
    * left-to-right term sum of identically-spelled double expressions.
    */
  private def bm25ScoredFrame(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val ts = TF.tokens(col("text"))
    val withTf = docs.select(
      (col("doc_id") +: size(ts).cast("long").as("dl") +:
        Bm25Terms.map(tm =>
          size(filter(ts, x => x === lit(tm))).cast("long").as(s"tf_$tm"))): _*)
    val statAggs =
      sum(col("dl")).cast("double").as("sum_dl") +:
        count(lit(1)).cast("double").as("n_docs") +:
        Bm25Terms.map(tm =>
          sum(when(col(s"tf_$tm") > 0, 1L).otherwise(0L)).cast("double")
            .as(s"df_$tm"))
    val stats = withTf.agg(statAggs.head, statAggs.tail: _*)
    val scored = withTf.crossJoin(broadcast(stats))
    val termScore: String => Column = tm => {
      val tf = col(s"tf_$tm").cast("double")
      val idf = log(lit(1.0) +
        (col("n_docs") - col(s"df_$tm") + lit(0.5)) / (col(s"df_$tm") + lit(0.5)))
      val avgdl = col("sum_dl") / col("n_docs")
      idf * (tf * lit(Bm25K1 + 1.0)) /
        (tf + lit(Bm25K1) * (lit(1.0 - Bm25B) + lit(Bm25B) * col("dl").cast("double") / avgdl))
    }
    val score = Bm25Terms.map(termScore).reduceLeft(_ + _)
    val grade = Bm25Terms.map(tm => col(s"tf_$tm")).reduceLeft(_ + _)
    scored.select(col("doc_id"), round(score, 6).as("bm25"), grade.as("grade"))
  }

  /** DuckDB twin of [[bm25ScoredFrame]]: SELECT doc_id, bm25, grade. */
  private def bm25OracleCore: String = {
    val k1p1 = Bm25K1 + 1.0 // Scala-rendered doubles (see PrDamping)
    val oneMinusB = 1.0 - Bm25B
    val tfSqls = Bm25Terms.map(tm =>
      s"CAST(len(list_filter(toks, x -> x = '$tm')) AS BIGINT) AS tf_$tm")
    val dfSqls = Bm25Terms.map(tm =>
      s"CAST(sum(CASE WHEN tf_$tm > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_$tm")
    val scoreSql = Bm25Terms.map { tm =>
      s"""(ln(CAST(1.0 AS DOUBLE)
              + (n_docs - df_$tm + CAST(0.5 AS DOUBLE))
                / (df_$tm + CAST(0.5 AS DOUBLE)))
           * (CAST(tf_$tm AS DOUBLE) * CAST($k1p1 AS DOUBLE))
           / (CAST(tf_$tm AS DOUBLE)
              + CAST($Bm25K1 AS DOUBLE)
                * (CAST($oneMinusB AS DOUBLE)
                   + CAST($Bm25B AS DOUBLE) * CAST(dl AS DOUBLE)
                     / (sum_dl / n_docs))))"""
    }.mkString(" + ")
    val gradeSql = Bm25Terms.map(tm => s"tf_$tm").mkString(" + ")
    s"""
    SELECT doc_id, round($scoreSql, 6) AS bm25,
           CAST($gradeSql AS BIGINT) AS grade
    FROM (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
                 ${tfSqls.mkString(", ")}
          FROM (SELECT doc_id, $toksSql AS toks FROM documents)) wt
    CROSS JOIN (SELECT CAST(sum(dl) AS DOUBLE) AS sum_dl,
                       CAST(count(*) AS DOUBLE) AS n_docs,
                       ${dfSqls.mkString(", ")}
                FROM (SELECT CAST(len(toks) AS BIGINT) AS dl,
                             ${tfSqls.mkString(", ")}
                      FROM (SELECT doc_id, $toksSql AS toks FROM documents))) st"""
  }

  /** The shared DuckDB CTE prefix for the co-occurrence graphs: distinct
    * (basket, item) pairs from lineitem over `itemCol`, then canonical
    * support-filtered edges. The Apriori prune is an optimization, not a
    * semantic: pairs at support s imply items at support >= s, so the
    * oracle states the plain definition.
    */
  private[queries] def edgesSqlCte(itemCol: String, minSup: Long): String =
    s"""po AS (SELECT DISTINCT l_orderkey AS b, $itemCol AS i FROM lineitem),
        e AS (SELECT a.i AS s, b.i AS d, count(*) AS support
              FROM po a JOIN po b ON a.b = b.b AND a.i < b.i
              GROUP BY 1, 2 HAVING count(*) >= $minSup)"""

  /** The part co-purchase graph's CTEs with `bi`, each edge in both
    * directions — the prefix of the q176/q391/q180/q185/q213 oracles.
    */
  private def partEdgesBiSqlCte: String =
    s"""${edgesSqlCte("l_partkey", PairMinSupport)},
        bi AS (SELECT s AS src, d AS dst FROM e
               UNION ALL SELECT d, s FROM e)"""

  /** The Scala twin of [[edgesSqlCte]]: the canonical (src < dst)
    * co-purchase edges of lineitem over `itemCol` with support >=
    * `minSupport`.
    */
  private[queries] def copurchaseEdges(s: org.apache.spark.sql.SparkSession,
      d: String, itemCol: String, minSupport: Long): DataFrame =
    Baskets.frequentItemPairs(
        t(s, d, "lineitem").select(col("l_orderkey"), col(itemCol)),
        "l_orderkey", itemCol, minSupport)
      .select(col("item_a").as("src"), col("item_b").as("dst"))

  def entries: Seq[(String, QueryDef)] = Seq(

    // Corpus-global paragraph-level exact dedup (CCNet/RefinedWeb's
    // paragraph step; the line-frequency pass q89 removes boilerplate,
    // THIS removes verbatim reuse): fixed 10-token segments, keep only
    // the globally-first (doc_id, pos) occurrence of each distinct
    // segment, reassemble. Injected rows make it non-vacuous at every
    // sf: verbatim copies (+300000) collapse to empty; concat docs
    // (+400000, text_i || ' ' || text_{i+1}) keep only the segments the
    // token-stream concatenation creates at the seam and in the
    // misaligned tail. clean_fp = md5(clean_text) keeps the diffed rows
    // slim while still hash-verifying exact reassembly.
    "q173_paragraph_dedup" -> QueryDef(
      fn = (s, d) => {
        val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
        val nxt = docs.select((col("doc_id") - 1).as("doc_id"), col("text").as("__t2"))
        val concats = docs.join(nxt, Seq("doc_id"))
          .select((col("doc_id") + 400000).as("doc_id"),
            concat_ws(" ", col("text"), col("__t2")).as("text"))
        val dbl = docs
          .unionAll(docs.select((col("doc_id") + 300000).as("doc_id"), col("text")))
          .unionAll(concats)
        Lines.dedupSegments(dbl, "doc_id", "text", SegTokens)
          .select(col("doc_id"), col("n_kept"), col("n_removed"),
            md5(col("clean_text")).as("clean_fp"))
          .orderBy("doc_id")
      },
      oracle = Some(s"""
        WITH base AS (SELECT doc_id, text FROM documents),
        dbl AS (SELECT doc_id, text FROM base
                UNION ALL SELECT doc_id + 300000, text FROM base
                UNION ALL
                SELECT a.doc_id + 400000, a.text || ' ' || b.text
                FROM base a JOIN base b ON b.doc_id = a.doc_id + 1),
        toks AS (SELECT doc_id, $toksSql AS t FROM dbl),
        seg AS (SELECT doc_id, i - 1 AS pos,
                       array_to_string(t[(i-1)*$SegTokens + 1 : i*$SegTokens], ' ') AS s
                FROM (SELECT doc_id, t,
                             unnest(generate_series(1, ((len(t) - 1) // $SegTokens) + 1)) AS i
                      FROM toks)),
        kept AS (SELECT * FROM (
                   SELECT doc_id, pos, s,
                          row_number() OVER (PARTITION BY s ORDER BY doc_id, pos) AS rn
                   FROM seg) WHERE rn = 1),
        re AS (SELECT doc_id, string_agg(s, ' ' ORDER BY pos) AS clean_text,
                      count(*) AS n_kept
               FROM kept GROUP BY doc_id),
        tot AS (SELECT doc_id, count(*) AS n_total FROM seg GROUP BY doc_id)
        SELECT dbl.doc_id, coalesce(re.n_kept, 0) AS n_kept,
               coalesce(tot.n_total, 0) - coalesce(re.n_kept, 0) AS n_removed,
               md5(coalesce(re.clean_text, '')) AS clean_fp
        FROM dbl
        LEFT JOIN tot ON dbl.doc_id = tot.doc_id
        LEFT JOIN re ON dbl.doc_id = re.doc_id
        ORDER BY dbl.doc_id"""),
      bench = true),

    // Market-basket frequent pairs (Apriori level 2) over order baskets:
    // top-100 co-purchased part pairs by support. The engine prunes
    // non-frequent items BEFORE the per-basket pair expansion and fences
    // mega-baskets (ops/Baskets scaladoc); the oracle states the plain
    // quadratic definition — identical results, different cost shapes.
    "q174_item_pairs" -> QueryDef(
      fn = (s, d) =>
        Baskets.frequentItemPairs(
            t(s, d, "lineitem").select(col("l_orderkey"), col("l_partkey")),
            "l_orderkey", "l_partkey", PairMinSupport)
          .orderBy(col("support").desc, col("item_a"), col("item_b"))
          .limit(100),
      oracle = Some(s"""
        WITH po AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem)
        SELECT a.i AS item_a, b.i AS item_b, count(*) AS support
        FROM po a JOIN po b ON a.b = b.b AND a.i < b.i
        GROUP BY 1, 2 HAVING count(*) >= $PairMinSupport
        ORDER BY support DESC, item_a, item_b LIMIT 100""")),

    // Triangle census of the supplier co-purchase graph (suppliers are
    // linked when they co-serve >= 5 orders): degree-ordered wedge
    // enumeration — each triangle found exactly once at its lowest-
    // (degree, id) apex, per-vertex fanout bounded O(sqrt(|E|)) — vs the
    // oracle's direct wedge+closing-edge replay. All counts exact longs;
    // the clustering coefficient is one double division of exact
    // integers.
    "q175_triangle_census" -> QueryDef(
      fn = (s, d) => {
        val edges = copurchaseEdges(s, d, "l_suppkey", SupplierEdgeSupport)
        Graph.triangleCensus(edges, "src", "dst")
      },
      oracle = Some(s"""
        WITH ${edgesSqlCte("l_suppkey", SupplierEdgeSupport)},
        deg AS (SELECT v, count(*) AS dg FROM (
                  SELECT s AS v FROM e UNION ALL SELECT d FROM e)
                GROUP BY v),
        o AS (SELECT CASE WHEN (ds.dg, e.s) < (dd.dg, e.d)
                          THEN e.s ELSE e.d END AS u,
                     CASE WHEN (ds.dg, e.s) < (dd.dg, e.d)
                          THEN e.d ELSE e.s END AS w
              FROM e JOIN deg ds ON e.s = ds.v JOIN deg dd ON e.d = dd.v),
        wg AS (SELECT a.w AS v1, b.w AS v2 FROM o a JOIN o b
               ON a.u = b.u AND a.w < b.w),
        tri AS (SELECT count(*) AS n_triangles
                FROM wg JOIN e ON wg.v1 = e.s AND wg.v2 = e.d),
        agg AS (SELECT (SELECT count(*) FROM deg) AS n_nodes,
                       (SELECT count(*) FROM e) AS n_edges,
                       (SELECT CAST(sum(dg * (dg - 1) // 2) AS BIGINT) FROM deg)
                         AS n_wedges,
                       (SELECT n_triangles FROM tri) AS n_triangles)
        SELECT n_nodes, n_edges, n_wedges, n_triangles,
               round(CASE WHEN n_wedges > 0
                          THEN CAST(n_triangles AS DOUBLE) * 3.0
                               / CAST(n_wedges AS DOUBLE)
                          ELSE 0.0 END, 6) AS global_clustering
        FROM agg"""),
      bench = true),

    // PageRank (3 iterations, damping 0.85) over the part co-purchase
    // graph, walked undirected — every listed vertex has degree >= 1, so
    // there is no dangling mass and the oracle needs no redistribution
    // term. The engine loop localCheckpoints each iteration (constant
    // plan size — THE iterative-Spark requirement); the oracle is the
    // same recurrence unrolled into r0..r3 CTEs, generated from the same
    // constants. Top-50 by rank, id tie-break.
    "q176_pagerank" -> QueryDef(
      fn = (s, d) => {
        val edges = copurchaseEdges(s, d, "l_partkey", PairMinSupport)
        Graph.pageRank(edges, "src", "dst", PrIters, PrDamping)
          .orderBy(col("pagerank").desc, col("node"))
          .limit(50)
      },
      oracle = Some {
        val teleport = (1.0 - PrDamping) // Scala-rendered: exact JVM double
        val iters = (1 to PrIters).map { k =>
          s"""r$k AS (SELECT n.node,
                   ($teleport / CAST((SELECT n FROM nn) AS DOUBLE)
                    + $PrDamping * coalesce(c.contrib, 0.0)) AS rank
               FROM nodes n LEFT JOIN (
                 SELECT bi.dst AS node,
                        sum(r${k - 1}.rank / CAST(deg.dg AS DOUBLE)) AS contrib
                 FROM bi JOIN r${k - 1} ON bi.src = r${k - 1}.node
                 JOIN deg ON bi.src = deg.src
                 GROUP BY bi.dst) c ON n.node = c.node)"""
        }.mkString(",\n")
        s"""
        WITH $partEdgesBiSqlCte,
        deg AS (SELECT src, count(*) AS dg FROM bi GROUP BY src),
        nodes AS (SELECT src AS node FROM deg),
        nn AS (SELECT count(*) AS n FROM nodes),
        r0 AS (SELECT node,
                      CAST(1.0 AS DOUBLE) / CAST((SELECT n FROM nn) AS DOUBLE)
                        AS rank FROM nodes),
        $iters
        SELECT node, round(rank, 6) AS pagerank FROM r$PrIters
        ORDER BY pagerank DESC, node LIMIT 50"""
      }),

    // Personalized PageRank (round 13) — q176's recurrence with start
    // vector AND teleport concentrated on a 5-node seed set (the
    // smallest node ids, deterministic): random walks restart at the
    // seeds, so scores measure proximity TO the seeds — the recsys
    // "related items" / local-community verb the global rank can't
    // express. Same undirected no-dangling-mass argument; the oracle
    // unrolls the identical recurrence with the Scala-rendered seeded
    // teleport constant (the q176 FP-parity convention). Top-50 by
    // score, id tie-break; the seed collect is 5 ids — bounded.
    "q391_personalized_pagerank" -> QueryDef(
      fn = (s, d) => {
        val edges = copurchaseEdges(s, d, "l_partkey", PairMinSupport)
          .localCheckpoint(eager = true) // seed pick + PPR loop share it
        val seeds = edges.select(col("src").as("node"))
          .unionAll(edges.select(col("dst").as("node")))
          .distinct().orderBy("node").limit(PprSeeds)
          .collect().map(_.getLong(0)).toSeq
        Graph.personalizedPageRank(edges, "src", "dst", seeds,
            PrIters, PrDamping)
          .orderBy(col("ppr").desc, col("node"))
          .limit(50)
      },
      oracle = Some {
        val seedMass = 1.0 / PprSeeds // Scala-rendered (q176 convention)
        val teleport = (1.0 - PrDamping) * seedMass
        val iters = (1 to PrIters).map { k =>
          s"""r$k AS (SELECT n.node,
                   (CASE WHEN sd.node IS NOT NULL THEN $teleport
                         ELSE 0.0 END
                    + $PrDamping * coalesce(c.contrib, 0.0)) AS rank
               FROM nodes n
               LEFT JOIN seeds sd ON n.node = sd.node
               LEFT JOIN (
                 SELECT bi.dst AS node,
                        sum(r${k - 1}.rank / CAST(deg.dg AS DOUBLE)) AS contrib
                 FROM bi JOIN r${k - 1} ON bi.src = r${k - 1}.node
                 JOIN deg ON bi.src = deg.src
                 GROUP BY bi.dst) c ON n.node = c.node)"""
        }.mkString(",\n")
        s"""
        WITH $partEdgesBiSqlCte,
        deg AS (SELECT src, count(*) AS dg FROM bi GROUP BY src),
        nodes AS (SELECT src AS node FROM deg),
        seeds AS (SELECT node FROM nodes ORDER BY node LIMIT $PprSeeds),
        r0 AS (SELECT n.node,
                      CASE WHEN sd.node IS NOT NULL
                           THEN CAST($seedMass AS DOUBLE)
                           ELSE 0.0 END AS rank
               FROM nodes n LEFT JOIN seeds sd ON n.node = sd.node),
        $iters
        SELECT node, round(rank, 6) AS ppr FROM r$PrIters
        ORDER BY ppr DESC, node LIMIT 50"""
      }),

    // Per-group simple OLS (y = value over x = event hour): slope,
    // intercept, R^2 per event_type from the closed-form moment sums.
    // Every sum is an exact integer (x = hours since 2024-01-01, y =
    // cents), every numerator/denominator is an exact long, and the
    // doubles enter only in the final fixed-order divisions — both
    // engines cast the SAME exact longs and perform the SAME IEEE ops,
    // so the 8-dp rounding can never straddle. Single scan, one
    // five-group aggregate; the regression itself is O(groups).
    "q177_group_ols" -> QueryDef(
      fn = (s, d) => {
        val x = (floor(col("ts").cast("long") / 3600) - HourBase).cast("long")
        val y = cents(col("value"))
        val g = t(s, d, "events").filter(col("value").isNotNull)
          .select(col("event_type"), x.as("__x"), y.as("__y"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
            sum(col("__x") * col("__x")).as("__sxx"),
            sum(col("__x") * col("__y")).as("__sxy"),
            sum(col("__y") * col("__y")).as("__syy"))
        val num = (col("n") * col("__sxy") - col("__sx") * col("__sy")).cast("double")
        val den = (col("n") * col("__sxx") - col("__sx") * col("__sx")).cast("double")
        val den2 = (col("n") * col("__syy") - col("__sy") * col("__sy")).cast("double")
        g.select(col("event_type"), col("n"),
            round(num / den, 8).as("slope_cents_per_hour"),
            round((col("__sy").cast("double") - num / den * col("__sx").cast("double"))
              / col("n").cast("double"), 8).as("intercept_cents"),
            round(num * num / (den * den2), 8).as("r2"))
          .orderBy("event_type")
      },
      oracle = Some {
        val xSql = s"(CAST(floor(epoch(ts) / 3600) AS BIGINT) - $HourBase)"
        val ySql = centsSql("value")
        s"""
        WITH m AS (SELECT event_type, count(*) AS n,
                          CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                          CAST(sum(x * x) AS BIGINT) AS sxx,
                          CAST(sum(x * y) AS BIGINT) AS sxy,
                          CAST(sum(y * y) AS BIGINT) AS syy
                   FROM (SELECT event_type, $xSql AS x, $ySql AS y
                         FROM events WHERE value IS NOT NULL)
                   GROUP BY event_type),
        f AS (SELECT event_type, n,
                     CAST(n * sxy - sx * sy AS DOUBLE) AS num,
                     CAST(n * sxx - sx * sx AS DOUBLE) AS den,
                     CAST(n * syy - sy * sy AS DOUBLE) AS den2,
                     CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
              FROM m)
        SELECT event_type, n,
               round(num / den, 8) AS slope_cents_per_hour,
               round((syd - num / den * sxd) / CAST(n AS DOUBLE), 8)
                 AS intercept_cents,
               round(num * num / (den * den2), 8) AS r2
        FROM f ORDER BY event_type"""
      }),

    // BM25 document ranking for a fixed conjunctive term query — the IR
    // scoring sibling of q71's TF-IDF keywords. ZERO shuffles on the
    // corpus side: per-term tf and dl are per-row array ops, the corpus
    // stats (N, avgdl, per-term df) are ONE 1-row aggregate broadcast
    // back, and the score is a fixed left-to-right 3-term sum of
    // identically-spelled double expressions — no FP-association
    // between engines anywhere. Top-20 by score, id tie-break.
    "q178_bm25" -> QueryDef(
      fn = (s, d) => bm25ScoredFrame(s, d)
        .select(col("doc_id"), col("bm25"))
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(20),
      oracle = Some(s"""
        WITH core AS ($bm25OracleCore)
        SELECT doc_id, bm25 FROM core
        ORDER BY bm25 DESC, doc_id LIMIT 20""")),

    // Mergeable-sketch ROLLUP (the datasketches pattern q163 stops short
    // of): per-(event_type, day) HLL sketches built in ONE leaf pass,
    // then UNION-MERGED upward to per-type and global distinct-user
    // estimates — re-aggregation without re-scanning the corpus, the
    // shape a 100 TB daily-rollup pipeline ships to its mart layer. The
    // sketch bytes are engine-specific, so (q163's pattern) the hash
    // gate pins the EXACT counts plus an `approx_ok` error-bound claim
    // (default lgK=12 → rsd ~1.6%; the 10% gate leaves ~6 sigma).
    "q179_hll_rollup" -> QueryDef(
      fn = (s, d) => {
        val ev = t(s, d, "events")
        val leaf = ev.groupBy(col("event_type"), date_trunc("day", col("ts")).as("__day"))
          .agg(hll_sketch_agg(col("user_id")).as("__sk"))
        val perType = leaf.groupBy("event_type")
          .agg(hll_sketch_estimate(hll_union_agg(col("__sk"))).as("__est"))
        val globalEst = leaf.agg(hll_sketch_estimate(hll_union_agg(col("__sk"))).as("__est"))
        val exactType = ev.groupBy("event_type")
          .agg(countDistinct(col("user_id")).as("n_exact"))
        val exactGlobal = ev.agg(countDistinct(col("user_id")).as("n_exact"))
        val typed = exactType.join(perType, Seq("event_type"))
          .select(lit("type").as("level"), col("event_type").as("key"),
            col("n_exact"), col("__est"))
        val global = exactGlobal.crossJoin(broadcast(globalEst))
          .select(lit("global").as("level"), lit("*").as("key"),
            col("n_exact"), col("__est"))
        typed.unionAll(global)
          .select(col("level"), col("key"), col("n_exact"),
            (abs(col("__est") - col("n_exact").cast("double")) <=
              lit(0.10) * col("n_exact").cast("double")).as("approx_ok"))
          .orderBy("level", "key")
      },
      oracle = Some("""
        SELECT 'global' AS level, '*' AS key,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
               true AS approx_ok
        FROM events
        UNION ALL
        SELECT 'type', event_type, CAST(count(DISTINCT user_id) AS BIGINT),
               true
        FROM events GROUP BY event_type
        ORDER BY level, key""")),

    // Bounded-hop BFS (multi-source shortest hop distance) over the part
    // co-purchase graph: minimum hops from the seed set (part ids
    // divisible by 97) within 3 rounds. The engine walks frontier
    // against adjacency with an anti-join on visited (state O(frontier)
    // + O(visited), lineage checkpointed per round); the oracle unrolls
    // the same three rounds as CTEs. Hop counts are exact integers —
    // nothing to round.
    "q180_bfs_hops" -> QueryDef(
      fn = (s, d) => {
        val edges = copurchaseEdges(s, d, "l_partkey", PairMinSupport)
        val nodes = edges.select(col("src").as("node"))
          .unionAll(edges.select(col("dst").as("node"))).distinct()
        val seeds = nodes.filter(col("node") % 97 === 0)
        Graph.bfsHops(edges, "src", "dst", seeds, "node", maxHops = 3)
          .orderBy("dist", "node")
      },
      oracle = Some {
        val rounds = (1 to 3).map { k =>
          s"""f$k AS (SELECT DISTINCT bi.dst AS node
                 FROM bi JOIN f${k - 1} ON bi.src = f${k - 1}.node
                 WHERE bi.dst NOT IN (SELECT node FROM v${k - 1})),
              v$k AS (SELECT * FROM v${k - 1}
                      UNION ALL SELECT node, $k FROM f$k)"""
        }.mkString(",\n")
        s"""
        WITH $partEdgesBiSqlCte,
        nodes AS (SELECT DISTINCT src AS node FROM bi),
        f0 AS (SELECT node FROM nodes WHERE node % 97 = 0),
        v0 AS (SELECT node, 0 AS dist FROM f0),
        $rounds
        SELECT node, CAST(dist AS INT) AS dist FROM v3
        ORDER BY dist, node"""
      }),

    // A/B experiment readout (Welch's t-test per metric group): users are
    // deterministically hash-split into variants (the q58/q171 md5
    // machinery — assignment is reproducible and join-free), per-variant
    // moments are exact integer-cent sums, and the t statistic is a fixed
    // sequence of IEEE ops over exact longs — both engines compute the
    // IDENTICAL double, so even the 1.96 significance boundary is safe to
    // gate on. One scan, one 10-group aggregate, broadcast self-join.
    "q181_ab_test" -> QueryDef(
      fn = (s, d) => {
        val y = cents(col("value"))
        val isA = graft.ops.Sampling.inSplit(col("user_id"), 0.5)
        // ONE corpus pass: the variant axis pivots into columns (A_n,
        // A_s1, ... B_s2) instead of a per-variant self-join that would
        // scan events twice
        val piv = t(s, d, "events").filter(col("value").isNotNull)
          .select(col("event_type"),
            when(isA, "A").otherwise("B").as("__v"), y.as("__y"))
          .groupBy("event_type").pivot("__v", Seq("A", "B"))
          .agg(count(lit(1)).as("n"), sum(col("__y")).as("s1"),
            sum(col("__y") * col("__y")).as("s2"))
        def mean(v: String) = col(s"${v}_s1").cast("double") / col(s"${v}_n").cast("double")
        def variance(v: String) =
          (col(s"${v}_n") * col(s"${v}_s2") - col(s"${v}_s1") * col(s"${v}_s1")).cast("double") /
            (col(s"${v}_n") * (col(s"${v}_n") - 1)).cast("double")
        val tStat = (mean("A") - mean("B")) /
          sqrt(variance("A") / col("A_n").cast("double")
            + variance("B") / col("B_n").cast("double"))
        piv
          .select(col("event_type"), col("A_n").as("n_a"), col("B_n").as("n_b"),
            round(mean("A") / 100.0, 4).as("mean_a"),
            round(mean("B") / 100.0, 4).as("mean_b"),
            round(tStat, 6).as("t_stat"),
            (abs(tStat) > 1.96).as("significant"))
          .orderBy("event_type")
      },
      oracle = Some {
        val aCond = s"substring(md5(CAST(user_id AS VARCHAR)), 1, 8) " +
          s"< '${graft.ops.Sampling.thresholdHex(0.5)}'"
        def mean(v: String) = s"(CAST(s1$v AS DOUBLE) / CAST(n_$v AS DOUBLE))"
        def vr(v: String) =
          s"(CAST(n_$v * s2$v - s1$v * s1$v AS DOUBLE) / CAST(n_$v * (n_$v - 1) AS DOUBLE))"
        val tSql = s"((${mean("a")} - ${mean("b")}) / sqrt(${vr("a")} / CAST(n_a AS DOUBLE) + ${vr("b")} / CAST(n_b AS DOUBLE)))"
        s"""
        WITH m AS (SELECT event_type,
                          CASE WHEN $aCond THEN 'A' ELSE 'B' END AS v,
                          count(*) AS n,
                          CAST(sum(${centsSql("value")}) AS BIGINT) AS s1,
                          CAST(sum(${centsSql("value")} * ${centsSql("value")}) AS BIGINT) AS s2
                   FROM events WHERE value IS NOT NULL
                   GROUP BY 1, 2),
        j AS (SELECT a.event_type, a.n AS n_a, b.n AS n_b,
                     a.s1 AS s1a, a.s2 AS s2a, b.s1 AS s1b, b.s2 AS s2b
              FROM (SELECT * FROM m WHERE v = 'A') a
              JOIN (SELECT * FROM m WHERE v = 'B') b USING (event_type))
        SELECT event_type, n_a, n_b,
               round(${mean("a")} / 100.0, 4) AS mean_a,
               round(${mean("b")} / 100.0, 4) AS mean_b,
               round($tSql, 6) AS t_stat,
               (abs($tSql) > 1.96) AS significant
        FROM j ORDER BY event_type"""
      }),

    // Leave-one-out target encoding (the ML feature-engineering trick:
    // encode a categorical as the mean of the target over the OTHER rows
    // of its category, so a row never sees its own label): per-category
    // sums are one partial-agg pass broadcast back; the per-row encoding
    // (sum - y)/(n - 1) is exact-long arithmetic with one double
    // division — identical in both engines. Output is a deterministic
    // id-slice of the encoded rows (the op is per-row; diffing a slim
    // slice keeps the gate sharp without shipping the corpus).
    "q182_target_encoding" -> QueryDef(
      fn = (s, d) => {
        val y = cents(col("value"))
        val ev = t(s, d, "events").filter(col("value").isNotNull)
        val g = ev.groupBy("event_type")
          .agg(count(lit(1)).as("__n"), sum(y).as("__s1"))
        ev.filter(col("event_id") % 997 === 0)
          .select(col("event_id"), col("event_type"), y.as("__y"))
          .join(broadcast(g), Seq("event_type"))
          .select(col("event_id"), col("event_type"),
            round(when(col("__n") > 1,
              (col("__s1") - col("__y")).cast("double")
                / (col("__n") - 1).cast("double") / 100.0), 6).as("loo_mean"))
          .orderBy("event_id")
      },
      oracle = Some(s"""
        WITH g AS (SELECT event_type, count(*) AS n,
                          CAST(sum(${centsSql("value")}) AS BIGINT) AS s1
                   FROM events WHERE value IS NOT NULL GROUP BY event_type)
        SELECT event_id, e.event_type,
               round(CASE WHEN n > 1
                 THEN CAST(s1 - ${centsSql("value")} AS DOUBLE)
                      / CAST(n - 1 AS DOUBLE) / 100.0 END, 6) AS loo_mean
        FROM events e JOIN g ON e.event_type = g.event_type
        WHERE value IS NOT NULL AND event_id % 997 = 0
        ORDER BY event_id""")),

    // Deterministic negative sampling (the recsys/contrastive-training
    // step: for each user, items they did NOT interact with): candidates
    // come from a multiplicative integer hash of (user, slot) — pure
    // arithmetic, engine-portable, no RNG state — then a shuffle
    // anti-join against the observed (user, item) pairs removes
    // positives, and a tiny per-user window keeps the first 3 surviving
    // slots. Map-side candidate generation; the only corpus-sized
    // exchange is the anti-join keyed (user, item).
    "q183_negative_sampling" -> QueryDef(
      fn = (s, d) => {
        val observed = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
          .join(t(s, d, "lineitem").select(col("l_orderkey"), col("l_partkey")),
            col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("user"), col("l_partkey").as("item"))
          .distinct()
        val maxPart = t(s, d, "lineitem").agg(max(col("l_partkey")).as("__mp"))
        val users = t(s, d, "orders").filter(col("o_custkey") % 199 === 0)
          .select(col("o_custkey").as("user")).distinct()
        val cands = users.crossJoin(broadcast(maxPart))
          .select(col("user"), explode(sequence(lit(0L), lit(5L))).as("slot"), col("__mp"))
          .select(col("user"), col("slot"),
            (((col("user") * 2654435761L + col("slot") * 40503L) % 999999937L)
              % col("__mp") + 1L).as("item"))
        val negs = cands.join(observed, Seq("user", "item"), "left_anti")
          .groupBy("user", "item").agg(min(col("slot")).as("slot"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user")).orderBy(col("slot"), col("item"))
        negs.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= 3)
          .select(col("user"), col("slot"), col("item"))
          .orderBy("user", "slot", "item")
      },
      oracle = Some("""
        WITH obs AS (SELECT DISTINCT o_custkey AS u, l_partkey AS item
                     FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        mp AS (SELECT max(l_partkey) AS m FROM lineitem),
        users AS (SELECT DISTINCT o_custkey AS u FROM orders
                  WHERE o_custkey % 199 = 0),
        cands AS (SELECT u, s.slot,
                         ((u * 2654435761 + s.slot * 40503) % 999999937)
                           % (SELECT m FROM mp) + 1 AS item
                  FROM users, (SELECT unnest(generate_series(0, 5)) AS slot) s),
        neg AS (SELECT c.u, c.item, min(c.slot) AS slot FROM cands c
                WHERE NOT EXISTS (SELECT 1 FROM obs o
                                  WHERE o.u = c.u AND o.item = c.item)
                GROUP BY c.u, c.item),
        r AS (SELECT u, slot, item,
                     row_number() OVER (PARTITION BY u ORDER BY slot, item) AS rn
              FROM neg)
        SELECT u AS user, slot, item FROM r WHERE rn <= 3
        ORDER BY user, slot, item""")),

    // Streaming mergeable sketches: q179's HLL machinery kept LIVE — the
    // sketch state is maintained incrementally across micro-batches (the
    // datasketches aggregate merges per batch; complete mode emits the
    // merged estimate), which is exactly how a 100 TB ingest keeps
    // "distinct users so far" without a distinct-shuffle per trigger.
    // The gate: exact per-type event counts must match the batch oracle
    // (stream/batch parity on the exact column) AND the sketch estimate
    // must sit inside the q179 error bound.
    "q184_stream_hll" -> QueryDef(
      fn = (s, d) => {
        val dir = stageEventsDir(d)
        val table = try {
          val agg = stagedEventsStream(streamingSession(s), dir)
            .groupBy("event_type")
            .agg(count(lit(1)).as("n_events"),
              hll_sketch_agg(col("user_id")).as("__sk"))
          runToMemoryTable(agg, "q184_mem")
        } finally dropStaged(dir)
        val exact = t(s, d, "events").groupBy("event_type")
          .agg(countDistinct(col("user_id")).as("n_distinct"))
        table
          .select(col("event_type"), col("n_events"),
            hll_sketch_estimate(col("__sk")).as("__est"))
          .join(broadcast(exact), Seq("event_type"))
          .select(col("event_type"), col("n_events"), col("n_distinct"),
            (abs(col("__est") - col("n_distinct").cast("double")) <=
              lit(0.10) * col("n_distinct").cast("double")).as("approx_ok"))
          .orderBy("event_type")
      },
      oracle = Some("""
        SELECT event_type, count(*) AS n_events,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct,
               true AS approx_ok
        FROM events GROUP BY event_type ORDER BY event_type"""),
      bench = true, streaming = true),

    // Deterministic random walks (the node2vec/DeepWalk sampling core):
    // 3-step walks from the seed set over the part co-purchase graph,
    // each step picking the hash-indexed neighbor from an ORDERED
    // adjacency list — rank the neighbors of each vertex once
    // (row_number over dst), then stepping is an equi-join on
    // (vertex, index) with the index a pure integer hash of
    // (current node, step). No RNG state, replayable by the oracle's
    // unrolled CTEs; a walk ends early only if its node vanished from
    // the adjacency (cannot happen on an undirected expansion).
    "q185_random_walks" -> QueryDef(
      fn = (s, d) => {
        val edges = copurchaseEdges(s, d, "l_partkey", PairMinSupport)
        val nodes = edges.select(col("src").as("node"))
          .unionAll(edges.select(col("dst").as("node"))).distinct()
        val seeds = nodes.filter(col("node") % 97 === 0)
        Graph.hashWalks(edges, "src", "dst", seeds, "node", steps = 3)
          .orderBy("seed", "step", "node")
      },
      oracle = Some {
        val steps = (1 to 3).map { k =>
          s"""w$k AS (SELECT w.seed,
                   (SELECT a.dst FROM adj a
                    WHERE a.src = w.node
                      AND a.idx = ((w.node * 2654435761 + $k * 40503)
                                   % 999999937) % (SELECT d.dg FROM deg d
                                                   WHERE d.src = w.node) + 1)
                     AS node
               FROM w${k - 1} w)"""
        }.mkString(",\n")
        s"""
        WITH $partEdgesBiSqlCte,
        adj AS (SELECT src, dst,
                       row_number() OVER (PARTITION BY src ORDER BY dst) AS idx
                FROM bi),
        deg AS (SELECT src, max(idx) AS dg FROM adj GROUP BY src),
        w0 AS (SELECT src AS seed, src AS node FROM deg WHERE src % 97 = 0),
        $steps
        SELECT seed, step, node FROM (
          SELECT seed, 0 AS step, node FROM w0
          UNION ALL SELECT seed, 1, node FROM w1
          UNION ALL SELECT seed, 2, node FROM w2
          UNION ALL SELECT seed, 3, node FROM w3)
        ORDER BY seed, step, node"""
      }),

    // Exact AUC (Mann-Whitney U from score-group counts) — the first of
    // the model-EVALUATION family: scorer = the q21 quality heuristic
    // (4-dp, already hash-gated cross-engine), label = the lang column's
    // ground truth 'en'. NO per-row ranking: U comes from per-distinct-
    // score (pos, neg) counts + one cumulative window over the DISTINCT
    // SCORE axis (bounded at 10^4+1 rows by the 4-dp grid, regardless of
    // corpus size) — ties handled exactly via 2U = sum pos_s*(2*cumneg
    // + neg_s), all integer until one final division.
    "q186_auc" -> QueryDef(
      fn = (s, d) => {
        val scored = qualityLabelled(s, d)
        val grp = scored.groupBy("__s")
          .agg(sum(col("__y")).as("__pos"),
            (count(lit(1)) - sum(col("__y"))).as("__neg"))
        val w = org.apache.spark.sql.expressions.Window.orderBy(col("__s"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        val u2 = grp
          .withColumn("__cumneg", coalesce(sum(col("__neg")).over(w), lit(0L)))
          .agg(sum(col("__pos") * (lit(2L) * col("__cumneg") + col("__neg"))).as("__u2"),
            sum(col("__pos")).as("n_pos"), sum(col("__neg")).as("n_neg"))
        u2.select(col("n_pos"), col("n_neg"),
          round(col("__u2").cast("double")
            / (lit(2L) * col("n_pos") * col("n_neg")).cast("double"), 6).as("auc"))
      },
      oracle = Some(s"""
        WITH ${qualityLabelledSqlCte},
        g AS (SELECT s, CAST(sum(y) AS BIGINT) AS pos,
                     CAST(count(*) - sum(y) AS BIGINT) AS neg
              FROM sc GROUP BY s),
        c AS (SELECT s, pos, neg,
                     CAST(coalesce(sum(neg) OVER (ORDER BY s
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS BIGINT) AS cumneg
              FROM g)
        SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
               CAST(sum(neg) AS BIGINT) AS n_neg,
               round(CAST(sum(pos * (2 * cumneg + neg)) AS DOUBLE)
                     / CAST(2 * sum(pos) * sum(neg) AS DOUBLE), 6) AS auc
        FROM c""")),

    // Calibration curve + expected calibration error (the reliability-
    // diagram readout beside q186's discrimination readout): 10
    // equal-width confidence bins; per bin the mean predicted score
    // (confidence) vs the observed positive rate (accuracy). The ECE
    // numerator is SUM |10000*pos_b - s_b| — exact integers per bin, one
    // final division — so the usual FP-association hazard of summing
    // weighted bin gaps never arises.
    "q187_calibration" -> QueryDef(
      fn = (s, d) => {
        val scored = qualityLabelled(s, d)
        val binned = scored
          .withColumn("bin", least(col("__s") / 1000, lit(9L)).cast("long"))
          .groupBy("bin")
          .agg(count(lit(1)).as("n"), sum(col("__s")).as("__ssum"),
            sum(col("__y")).as("__pos"))
        val ece = binned.agg(
          (sum(abs(lit(10000L) * col("__pos") - col("__ssum"))).cast("double")
            / (lit(10000L) * sum(col("n"))).cast("double")).as("__ece"))
        binned.crossJoin(broadcast(ece))
          .select(col("bin"), col("n"),
            round(col("__ssum").cast("double")
              / (lit(10000L) * col("n")).cast("double"), 6).as("confidence"),
            round(col("__pos").cast("double") / col("n").cast("double"), 6).as("accuracy"),
            round(col("__ece"), 6).as("ece"))
          .orderBy("bin")
      },
      oracle = Some(s"""
        WITH ${qualityLabelledSqlCte},
        b AS (SELECT least(s // 1000, 9) AS bin, count(*) AS n,
                     CAST(sum(s) AS BIGINT) AS ssum,
                     CAST(sum(y) AS BIGINT) AS pos
              FROM sc GROUP BY 1),
        e AS (SELECT CAST(sum(abs(10000 * pos - ssum)) AS DOUBLE)
                       / CAST(10000 * sum(n) AS DOUBLE) AS ece FROM b)
        SELECT bin, n,
               round(CAST(ssum AS DOUBLE) / CAST(10000 * n AS DOUBLE), 6)
                 AS confidence,
               round(CAST(pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS accuracy,
               round((SELECT ece FROM e), 6) AS ece
        FROM b ORDER BY bin""")),

    // Per-class precision/recall/F1 for the q22 language-ID model against
    // the lang ground truth — the classification leg of the evaluation
    // family (q186 ranks, q187 calibrates, this classifies). ONE corpus
    // scan builds the confusion MATRIX (a bounded languages² frame);
    // n_true/n_pred/tp all derive from the matrix, so the three
    // per-class aggregates never rescan. Classes with zero predictions
    // get null precision/F1 (stated as CASE in both engines). All ratios
    // are exact small-integer rationals; F1's 2pr/(p+r) is spelled
    // identically on both sides.
    "q188_classifier_report" -> QueryDef(
      fn = (s, d) => {
        val cm = t(s, d, "documents")
          .select(col("lang"), TF.langId(col("text")).as("__guess"))
          .groupBy("lang", "__guess").agg(count(lit(1)).as("__n"))
          .localCheckpoint(eager = true) // 3 consumers, one scan
        val nTrue = cm.groupBy("lang").agg(sum(col("__n")).as("n_true"))
          .select(col("lang").as("class"), col("n_true"))
        val nPred = cm.groupBy("__guess").agg(sum(col("__n")).as("n_pred"))
          .select(col("__guess").as("class"), col("n_pred"))
        val tp = cm.filter(col("lang") === col("__guess"))
          .select(col("lang").as("class"), col("__n").as("tp"))
        val p = col("tp").cast("double") / col("n_pred").cast("double")
        val r = col("tp").cast("double") / col("n_true").cast("double")
        nTrue.join(nPred, Seq("class"), "full_outer")
          .join(tp, Seq("class"), "left")
          .select(col("class"),
            coalesce(col("n_true"), lit(0L)).as("n_true"),
            coalesce(col("n_pred"), lit(0L)).as("n_pred"),
            coalesce(col("tp"), lit(0L)).as("tp"))
          .select(col("class"), col("n_true"), col("n_pred"), col("tp"),
            round(when(col("n_pred") > 0, p), 6).as("precision"),
            round(when(col("n_true") > 0, r), 6).as("recall"),
            round(when(col("n_pred") > 0 && col("n_true") > 0 && col("tp") > 0,
              lit(2.0) * p * r / (p + r)), 6).as("f1"))
          .orderBy("class")
      },
      oracle = Some {
        val guess = langIdSql // SELECT doc_id, lang, lang_guess ... ORDER BY
        s"""
        WITH cm AS (SELECT lang, lang_guess AS g, count(*) AS n
                    FROM ($guess) GROUP BY 1, 2),
        nt AS (SELECT lang AS class, CAST(sum(n) AS BIGINT) AS n_true
               FROM cm GROUP BY lang),
        np AS (SELECT g AS class, CAST(sum(n) AS BIGINT) AS n_pred
               FROM cm GROUP BY g),
        tp AS (SELECT lang AS class, CAST(n AS BIGINT) AS tp FROM cm
               WHERE lang = g),
        j AS (SELECT coalesce(nt.class, np.class) AS class,
                     coalesce(n_true, 0) AS n_true,
                     coalesce(n_pred, 0) AS n_pred,
                     coalesce(tp.tp, 0) AS tp
              FROM nt FULL OUTER JOIN np ON nt.class = np.class
              LEFT JOIN tp ON coalesce(nt.class, np.class) = tp.class)
        SELECT class, n_true, n_pred, tp,
               round(CASE WHEN n_pred > 0
                 THEN CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE) END, 6)
                 AS precision,
               round(CASE WHEN n_true > 0
                 THEN CAST(tp AS DOUBLE) / CAST(n_true AS DOUBLE) END, 6)
                 AS recall,
               round(CASE WHEN n_pred > 0 AND n_true > 0 AND tp > 0
                 THEN 2.0 * (CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE))
                      * (CAST(tp AS DOUBLE) / CAST(n_true AS DOUBLE))
                      / ((CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE))
                         + (CAST(tp AS DOUBLE) / CAST(n_true AS DOUBLE))) END, 6)
                 AS f1
        FROM j ORDER BY class"""
      }),

    // Deterministic label-propagation communities (LPA, 3 synchronous
    // rounds, most-frequent-neighbor-label with smallest-label
    // tie-break — the replayable variant of the classic random
    // tie-break). CC (q189) answers reachability; LPA answers DENSE
    // attachment — a bridge edge joins components but rarely flips a
    // community. Labels are exact integers; the oracle unrolls all
    // three rounds (neighbor join -> count -> per-node argmax). Census
    // output is O(labels).
    "q213_label_propagation" -> QueryDef(
      fn = (s, d) => {
        val edges = copurchaseEdges(s, d, "l_partkey", PairMinSupport)
        Graph.labelPropagation(edges, "src", "dst", rounds = 3)
          .groupBy("label").agg(count(lit(1)).as("n_members"))
          .orderBy("label")
      },
      oracle = Some {
        val rounds = (1 to 3).map { k =>
          s"""c$k AS (SELECT bi.dst AS node, l${k - 1}.label, count(*) AS c
                 FROM bi JOIN l${k - 1} ON bi.src = l${k - 1}.node
                 GROUP BY 1, 2),
              l$k AS (SELECT node, label FROM (
                 SELECT node, label,
                        row_number() OVER (PARTITION BY node
                          ORDER BY c DESC, label ASC) AS rn
                 FROM c$k) WHERE rn = 1)"""
        }.mkString(",\n")
        s"""
        WITH $partEdgesBiSqlCte,
        l0 AS (SELECT node, node AS label
               FROM (SELECT DISTINCT src AS node FROM bi)),
        $rounds
        SELECT label, count(*) AS n_members FROM l3
        GROUP BY label ORDER BY label"""
      }),

    // Component census + exact modularity of the part co-purchase graph.
    // Two things are under test: (1) the iterative min-label
    // ConnectedComponents op against an ORGANIC graph with a recursive-
    // CTE oracle — q46/q95 gate it only on constructed clusters where
    // the answer is known by id arithmetic; here DuckDB recomputes the
    // labels by actual transitive closure; (2) Newman modularity of the
    // partition, in its closed exact form: for a CC partition every edge
    // is intra, so Q = 1 - sum_c(d_c^2) / (4 m^2) — BOTH terms exact
    // integers until one division (no per-component double sum, no FP
    // association). Top-10 components by size + the global Q.
    "q189_component_modularity" -> QueryDef(
      fn = (s, d) => {
        val edges = copurchaseEdges(s, d, "l_partkey", PairMinSupport)
          .localCheckpoint(eager = true) // feeds labels, degrees, m
        val comp = graft.ops.ConnectedComponents
          .components(edges, "src", "dst")
          .select(col("id"), col("component"))
        val deg = edges.select(col("src").as("id"))
          .unionAll(edges.select(col("dst").as("id")))
          .groupBy("id").agg(count(lit(1)).as("__deg"))
        val byComp = comp.join(deg, Seq("id"))
          .groupBy("component")
          .agg(count(lit(1)).as("n_nodes"), sum(col("__deg")).as("degree_sum"))
          .localCheckpoint(eager = true) // feeds top-10 AND the Q scalar
        val m = edges.agg(count(lit(1)).as("__m"))
        val q = byComp
          .agg(sum(col("degree_sum") * col("degree_sum")).as("__sumd2"))
          .crossJoin(broadcast(m))
          .select((lit(1.0) - col("__sumd2").cast("double")
            / (lit(4L) * col("__m") * col("__m")).cast("double")).as("__q"))
        byComp
          .orderBy(col("n_nodes").desc, col("component"))
          .limit(10)
          .crossJoin(broadcast(q))
          .select(col("component"), col("n_nodes"), col("degree_sum"),
            round(col("__q"), 6).as("modularity"))
          .orderBy(col("n_nodes").desc, col("component"))
      },
      oracle = Some(s"""
        WITH RECURSIVE po AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
                              FROM lineitem),
        e AS (SELECT a.i AS s, b.i AS d FROM po a JOIN po b
              ON a.b = b.b AND a.i < b.i
              GROUP BY 1, 2 HAVING count(*) >= $PairMinSupport),
        bi AS (SELECT s AS src, d AS dst FROM e
               UNION ALL SELECT d, s FROM e),
        reach(id, lab) AS (
          SELECT src, src FROM bi
          UNION
          SELECT bi.dst, reach.lab FROM reach
          JOIN bi ON bi.src = reach.id WHERE reach.lab < bi.dst),
        comp AS (SELECT id, min(lab) AS component FROM reach GROUP BY id),
        deg AS (SELECT src AS id, count(*) AS dg FROM bi GROUP BY src),
        bc AS (SELECT component, count(*) AS n_nodes,
                      CAST(sum(dg) AS BIGINT) AS degree_sum
               FROM comp JOIN deg USING (id) GROUP BY component),
        m AS (SELECT count(*) AS m FROM e),
        q AS (SELECT 1.0 - CAST(sum(degree_sum * degree_sum) AS DOUBLE)
                           / CAST(4 * (SELECT m FROM m) * (SELECT m FROM m)
                                  AS DOUBLE) AS q
              FROM bc)
        SELECT component, n_nodes, degree_sum,
               round((SELECT q FROM q), 6) AS modularity
        FROM bc
        ORDER BY n_nodes DESC, component LIMIT 10""")),

    // Train-and-evaluate a Markov next-event baseline entirely in the
    // engine: transition counts from the md5-hash TRAIN users fit the
    // model (argmax next per previous event, count-desc/name-asc
    // tie-break — deterministic), held-out users score it. Exact integer
    // accuracy per previous-event class plus an overall '*' row. The
    // model is a 25-row broadcast; the corpus sees one scan and one
    // per-user window.
    "q190_markov_eval" -> QueryDef(
      fn = (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val trans = t(s, d, "events")
          .select(col("user_id"), col("event_type").as("prev"),
            lead(col("event_type"), 1).over(w).as("nxt"))
          .filter(col("nxt").isNotNull)
          .localCheckpoint(eager = true) // feeds train counts AND eval
        val isTrain = graft.ops.Sampling.inSplit(col("user_id"), 0.8)
        val counts = trans.filter(isTrain)
          .groupBy("prev", "nxt").agg(count(lit(1)).as("__c"))
        val pick = org.apache.spark.sql.expressions.Window
          .partitionBy(col("prev")).orderBy(col("__c").desc, col("nxt"))
        val model = counts.withColumn("__rn", row_number().over(pick))
          .filter(col("__rn") === 1)
          .select(col("prev"), col("nxt").as("__pred"))
        val eval0 = trans.filter(!isTrain)
          .join(broadcast(model), Seq("prev"))
          .select(col("prev"),
            when(col("nxt") === col("__pred"), 1L).otherwise(0L).as("__ok"))
        val perClass = eval0.groupBy("prev")
          .agg(count(lit(1)).as("n_eval"), sum(col("__ok")).as("n_correct"))
        val overall = eval0
          .agg(count(lit(1)).as("n_eval"), sum(col("__ok")).as("n_correct"))
          .select(lit("*").as("prev"), col("n_eval"), col("n_correct"))
        perClass.unionAll(overall)
          .select(col("prev"), col("n_eval"), col("n_correct"),
            round(col("n_correct").cast("double")
              / col("n_eval").cast("double"), 6).as("accuracy"))
          .orderBy("prev")
      },
      oracle = Some {
        val trainCond = s"substring(md5(CAST(user_id AS VARCHAR)), 1, 8) " +
          s"< '${graft.ops.Sampling.thresholdHex(0.8)}'"
        s"""
        WITH trans AS (SELECT user_id, event_type AS prev,
                              lead(event_type, 1) OVER
                                (PARTITION BY user_id ORDER BY ts, event_id)
                                AS nxt
                       FROM events),
        tr AS (SELECT * FROM trans WHERE nxt IS NOT NULL),
        cnt AS (SELECT prev, nxt, count(*) AS c FROM tr
                WHERE $trainCond GROUP BY 1, 2),
        model AS (SELECT prev, nxt AS pred FROM (
                    SELECT prev, nxt,
                           row_number() OVER (PARTITION BY prev
                             ORDER BY c DESC, nxt) AS rn
                    FROM cnt) WHERE rn = 1),
        ev AS (SELECT tr.prev,
                      CASE WHEN tr.nxt = model.pred THEN 1 ELSE 0 END AS ok
               FROM tr JOIN model ON tr.prev = model.prev
               WHERE NOT ($trainCond)),
        pc AS (SELECT prev, count(*) AS n_eval,
                      CAST(sum(ok) AS BIGINT) AS n_correct
               FROM ev GROUP BY prev
               UNION ALL
               SELECT '*', count(*), CAST(sum(ok) AS BIGINT) FROM ev)
        SELECT prev, n_eval, n_correct,
               round(CAST(n_correct AS DOUBLE) / CAST(n_eval AS DOUBLE), 6)
                 AS accuracy
        FROM pc ORDER BY prev"""
      }),

    // Retrieval-quality metrics for the q178 BM25 ranking: NDCG@10 and
    // MRR against the integer relevance grade (total query-term tf). The
    // ranked and ideal top-10s come from TakeOrdered limits (never a
    // corpus-wide row_number window); position assignment is a window
    // over the 10 surviving rows. Discount uses ln(pos+1) on BOTH sides
    // — the log-base constant cancels in NDCG, and ln is the one
    // transcendental the oracle already replays bit-for-bit (q169).
    "q191_ndcg" -> QueryDef(
      fn = (s, d) => {
        val sc = bm25ScoredFrame(s, d).localCheckpoint(eager = true)
        def top10(order: Seq[Column]) = {
          val lim = sc.orderBy(order: _*).limit(10)
          val w = org.apache.spark.sql.expressions.Window.orderBy(order: _*)
          lim.withColumn("__pos", row_number().over(w))
        }
        val ranked = top10(Seq(col("bm25").desc, col("doc_id")))
        val ideal = top10(Seq(col("grade").desc, col("doc_id")))
        val dcg = ranked.agg(sum(col("grade").cast("double")
          / log(col("__pos").cast("double") + 1.0)).as("__dcg"))
        val idcg = ideal.agg(sum(col("grade").cast("double")
          / log(col("__pos").cast("double") + 1.0)).as("__idcg"))
        val firstHit = ranked.filter(col("grade") > 0)
          .agg(min(col("__pos")).as("__fp"))
        dcg.crossJoin(broadcast(idcg)).crossJoin(broadcast(firstHit))
          .select(round(col("__dcg"), 6).as("dcg10"),
            round(col("__idcg"), 6).as("idcg10"),
            round(when(col("__idcg") > 0, col("__dcg") / col("__idcg")), 6)
              .as("ndcg10"),
            round(coalesce(lit(1.0) / col("__fp").cast("double"), lit(0.0)), 6)
              .as("mrr"))
      },
      oracle = Some(s"""
        WITH core AS ($bm25OracleCore),
        ranked AS (SELECT grade,
                          row_number() OVER (ORDER BY bm25 DESC, doc_id) AS pos
                   FROM core ORDER BY bm25 DESC, doc_id LIMIT 10),
        ideal AS (SELECT grade,
                         row_number() OVER (ORDER BY grade DESC, doc_id) AS pos
                  FROM core ORDER BY grade DESC, doc_id LIMIT 10),
        d AS (SELECT sum(CAST(grade AS DOUBLE)
                         / ln(CAST(pos AS DOUBLE) + 1.0)) AS dcg FROM ranked),
        i AS (SELECT sum(CAST(grade AS DOUBLE)
                         / ln(CAST(pos AS DOUBLE) + 1.0)) AS idcg FROM ideal),
        f AS (SELECT min(pos) AS fp FROM ranked WHERE grade > 0)
        SELECT round((SELECT dcg FROM d), 6) AS dcg10,
               round((SELECT idcg FROM i), 6) AS idcg10,
               round(CASE WHEN (SELECT idcg FROM i) > 0
                 THEN (SELECT dcg FROM d) / (SELECT idcg FROM i) END, 6)
                 AS ndcg10,
               round(coalesce(CAST(1.0 AS DOUBLE)
                              / CAST((SELECT fp FROM f) AS DOUBLE),
                              CAST(0.0 AS DOUBLE)), 6) AS mrr""")),

    // Topological LEVELS of the co-purchase DAG (round 12 — Kahn
    // layering / longest-path depth, the dependency-scheduling verb
    // q331's driver-side CPM lattice doesn't cover at corpus scale):
    // edges oriented low id -> high id (acyclic by construction),
    // level(v) = 1 + max level over in-neighbors, sources 0 — bounded
    // rounds, exact at the fixpoint (sf depths measured well inside the
    // budget; a deeper graph yields the deterministic "longest path
    // using <= rounds edges" refinement the oracle replays). Output =
    // the level histogram, exact longs.
    "q348_dag_levels" -> QueryDef(
      fn = (s, d) => {
        val edges = copurchaseEdges(s, d, "l_partkey", PairMinSupport)
        Graph.dagLevels(edges, "src", "dst", DagLevelRounds)
          .groupBy("level").agg(count(lit(1)).as("n_nodes"))
          .orderBy("level")
      },
      oracle = Some {
        val rounds = (1 to DagLevelRounds).map { k =>
          s"""dl$k AS MATERIALIZED (
                SELECT n.node, coalesce(max(l.lvl) + 1, 0) AS lvl
                FROM dnodes n LEFT JOIN e ON e.d = n.node
                              LEFT JOIN dl${k - 1} l ON l.node = e.s
                GROUP BY n.node)"""
        }.mkString(",\n")
        s"""
        WITH ${edgesSqlCte("l_partkey", PairMinSupport)},
        dnodes AS MATERIALIZED (SELECT s AS node FROM e UNION SELECT d FROM e),
        dl0 AS (SELECT node, 0 AS lvl FROM dnodes),
        $rounds
        SELECT CAST(lvl AS BIGINT) AS level,
               CAST(count(*) AS BIGINT) AS n_nodes
        FROM dl$DagLevelRounds GROUP BY lvl ORDER BY level"""
      }),

    // KMV (theta-sketch) set-operation estimates (round 15): q379 ships
    // the KMV DISTINCT estimator; this is the step the DataSketches
    // theta family exists for — INTERSECTION cardinality between
    // per-group sketches without re-touching rows. Per DAILY ACTIVE
    // COHORT (users seen on each of the corpus's first six days -- the
    // fixture's event_type user sets are IDENTICAL, so day cohorts are
    // the grain with real overlap variation), keep the k = 32 smallest
    // md5-derived 60-bit hashes of user_id (fixed k-row state per
    // group, mergeable); for each day pair, theta = the
    // k-th smallest of the two sketches' union and
    // est = |{h in both, h < theta}| / (theta / 2^60). Fewer than k
    // union values means BOTH sets are fully enumerated below any
    // threshold -- the sketch IS the set, so the estimate is the exact
    // match count (the exact-mode branch; sf0.001 exercises it, sf0.01+
    // exercise estimation mode). The estimator is hash-deterministic,
    // so the oracle REPLAYS it exactly besides the exact truth -- a
    // stronger gate than q179's error-bound claim. At 100 TB: sketches
    // are one keyed pass + O(groups x k) state; the pair stage touches
    // only sketches (P^2 x k), never rows -- the whole point of the
    // theta family at warehouse scale.
    "q432_kmv_intersection" -> QueryDef(
      fn = (s, d) => {
        val kk = 32
        val two60 = 1152921504606846976.0 // 2^60, exact as a double
        val du0 = t(s, d, "events")
          .select(date_format(col("ts"), "yyyy-MM-dd").as("grp"),
            col("user_id")).distinct()
        // first six distinct days: a <=31-row frame, bounded window
        val days = du0.select(col("grp")).distinct()
          .withColumn("__dr", row_number().over(Window.orderBy(col("grp"))))
          .where(col("__dr") <= 6).select(col("grp"))
        val du = du0.join(broadcast(days), Seq("grp"))
        val h = du.withColumn("hv",
          conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
            .cast("long"))
        val sk = h.withColumn("__rk", row_number().over(
            Window.partitionBy(col("grp"))
              .orderBy(col("hv").asc, col("user_id").asc)))
          .where(col("__rk") <= kk)
          .select(col("grp"), col("hv"))
          .localCheckpoint(eager = true) // pair stage reuses it twice
        val types = sk.select(col("grp")).distinct()
        val pairs = types.toDF("ta").crossJoin(types.toDF("tb"))
          .where(col("ta") < col("tb"))
        val uni = pairs.join(sk,
            sk("grp") === col("ta") || sk("grp") === col("tb"))
          .groupBy(col("ta"), col("tb"), col("hv"))
          .agg(max(when(col("grp") === col("ta"), 1).otherwise(0)).as("ina"),
               max(when(col("grp") === col("tb"), 1).otherwise(0)).as("inb"))
        val w = Window.partitionBy(col("ta"), col("tb"))
        val ranked = uni
          .withColumn("__urk", row_number().over(w.orderBy(col("hv").asc)))
          .withColumn("__u", count(lit(1)).over(w))
          .withColumn("__th", max(when(col("__urk") === kk, col("hv"))).over(w))
        val agg = ranked.groupBy(col("ta"), col("tb"))
          .agg(max(col("__u")).as("u"), max(col("__th")).as("th"),
            sum(when(col("ina") === 1 && col("inb") === 1
              && (col("__u") < kk || col("hv") < col("__th")), 1L)
              .otherwise(0L)).as("matching"))
        val est = agg.withColumn("est_inter_e3",
          when(col("u") < kk, col("matching") * 1000L)
            .otherwise(floor(col("matching").cast("double") * two60
              / col("th").cast("double") * 1000.0 + 0.5).cast("long")))
        val exact = du.toDF("ta", "ua").join(du.toDF("tb", "ub"),
            col("ua") === col("ub") && col("ta") < col("tb"))
          .groupBy(col("ta"), col("tb"))
          .agg(count(lit(1)).as("n_exact"))
        est.join(exact, Seq("ta", "tb"), "left")
          .select(col("ta").as("day_a"), col("tb").as("day_b"),
            coalesce(col("n_exact"), lit(0L)).as("n_exact"),
            col("matching"), col("est_inter_e3"))
          .orderBy(col("day_a"), col("day_b"))
      },
      oracle = Some("""
        WITH du0 AS (SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS grp, user_id
                     FROM events),
        days AS (SELECT grp FROM (SELECT DISTINCT grp FROM du0)
                 ORDER BY grp LIMIT 6),
        du AS (SELECT du0.grp, du0.user_id FROM du0
               WHERE du0.grp IN (SELECT grp FROM days)),
        h AS (SELECT grp, user_id,
                     ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS hv
              FROM du),
        r0 AS (SELECT grp, hv,
                      row_number() OVER (PARTITION BY grp
                                         ORDER BY hv, user_id) AS rk
               FROM h),
        sk AS (SELECT grp, hv FROM r0 WHERE rk <= 32),
        ty AS (SELECT DISTINCT grp FROM du),
        pairs AS (SELECT a.grp AS ta, b.grp AS tb
                  FROM ty a JOIN ty b ON a.grp < b.grp),
        uni AS (SELECT p.ta, p.tb, s.hv,
                       max(CASE WHEN s.grp = p.ta THEN 1 ELSE 0 END) AS ina,
                       max(CASE WHEN s.grp = p.tb THEN 1 ELSE 0 END) AS inb
                FROM pairs p JOIN sk s ON s.grp IN (p.ta, p.tb)
                GROUP BY 1, 2, 3),
        rk2 AS (SELECT ta, tb, hv, ina, inb,
                       row_number() OVER (PARTITION BY ta, tb ORDER BY hv) AS urk,
                       count(*) OVER (PARTITION BY ta, tb) AS u
                FROM uni),
        th AS (SELECT ta, tb, max(u) AS u,
                      max(CASE WHEN urk = 32 THEN hv END) AS th
               FROM rk2 GROUP BY 1, 2),
        m AS (SELECT r.ta, r.tb, max(t.u) AS u, max(t.th) AS th,
                     sum(CASE WHEN r.ina = 1 AND r.inb = 1
                              AND (t.u < 32 OR r.hv < t.th)
                         THEN 1 ELSE 0 END) AS matching
              FROM rk2 r JOIN th t ON r.ta = t.ta AND r.tb = t.tb
              GROUP BY 1, 2),
        ex AS (SELECT x.grp AS ta, y.grp AS tb,
                      count(*) AS n_exact
               FROM du x JOIN du y
                 ON x.user_id = y.user_id AND x.grp < y.grp
               GROUP BY 1, 2)
        SELECT m.ta AS day_a, m.tb AS day_b,
               CAST(coalesce(ex.n_exact, 0) AS BIGINT) AS n_exact,
               CAST(m.matching AS BIGINT) AS matching,
               CAST(CASE WHEN m.u < 32 THEN m.matching * 1000
                    ELSE CAST(floor(CAST(m.matching AS DOUBLE) * 1152921504606846976.0
                              / CAST(m.th AS DOUBLE) * 1000.0 + 0.5) AS BIGINT)
                    END AS BIGINT) AS est_inter_e3
        FROM m LEFT JOIN ex ON m.ta = ex.ta AND m.tb = ex.tb
        ORDER BY day_a, day_b""")),
  )
}
