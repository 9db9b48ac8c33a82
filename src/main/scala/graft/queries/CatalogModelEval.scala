package graft.queries

import graft.functions.{TextFunctions => TF2}
import graft.ops.Graph
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Catalog._

/** Round-9 session-4 slice (q192-q223): model evaluation, forecasting,
  * policy evaluation, data quality, and reporting operators — EWMA
  * smoothing, weighted shortest paths, Benford auditing, IPS/SNIPS
  * off-policy evaluation, ridge regression by exact normal equations,
  * k-fold CV, seasonal/burst/IQR anomaly families, blocked entity
  * resolution, vocab OOV, inter-arrival percentiles, Cohen's kappa,
  * curation funnel, audience overlap, corpus datasheet, item-item
  * cosine, WOE binning, CUSUM change-points, BPE tokenizer training,
  * RFM segments, transformWithState streaming, perceptual aHash
  * near-dup, bootstrap CIs, rolling reach, top-k-with-others, forward
  * as-of, the training-data-build capstone, Lorenz/Gini, 2-D
  * histograms, and session entry/exit analysis.
  *
  * Every double that crosses the oracle boundary is either derived from
  * exact integer sums by a FIXED sequence of IEEE ops (the q177/q181
  * recipe), snapped to an integer grid before any unordered aggregation
  * (the q197 residual trick), or — for transcendentals — an ln/log10 of
  * an exact integer rational or a Scala-rendered constant (the
  * q169/q176 rules).
  *
  * One slice of the query catalog. Entry ORDER is load-bearing:
  * [[Catalog.all]] is a ListMap concatenated slice-by-slice, and
  * oracle_sql.json iterates it in insertion order.
  */
private[queries] object CatalogModelEval {

  /** The q210/q285 BPE-training replay chain: t0 (the tokenized corpus)
    * plus, per round k, the pair census p_k, the adopted merge m_k, and
    * the rewritten corpus t_k — one CTE body shared by the TRAIN oracle
    * (reads m1..mK) and the ENCODE oracle (reads t0 vs tK), so the two
    * sides cannot drift.
    *
    * The merge replace is applied TWICE in the doubled-space domain
    * before the collapse: a second application is a provable no-op on a
    * correct first pass (the pattern needs a DOUBLE-space internal gap,
    * which replacement sites never re-create), but it repairs the
    * round-11 DuckDB 1.0.0 anomaly where the vectorized replace missed
    * the second site of a space-sharing chain ("a the a the") in
    * exactly 1 of 5000 docs at sf0.1 — the SAME expression over the
    * SAME string returned both answers within one query, so this is an
    * engine evaluation quirk, not a semantics gap (Java, Python, and
    * DuckDB-on-literal all merge both sites; NOTES round-11).
    */
  private def bpeTrainCtes(rounds: Int): String = {
    val levels = (1 to rounds).map { k =>
      s"""p$k AS (SELECT unnest(list_transform(generate_series(1, len(ts) - 1),
             i -> ts[i] || ' ' || ts[i+1])) AS pair
           FROM (SELECT string_split(t, ' ') AS ts FROM t${k - 1})
           WHERE len(ts) >= 2),
      m$k AS (SELECT pair, count(*) AS c, replace(pair, ' ', '_') AS merged
              FROM p$k GROUP BY pair ORDER BY c DESC, pair LIMIT 1),
      t$k AS (SELECT doc_id,
                     trim(replace(replace(replace(
                         ' ' || replace(t, ' ', '  ') || ' ',
                         ' ' || (SELECT replace(pair, ' ', '  ') FROM m$k) || ' ',
                         ' ' || (SELECT merged FROM m$k) || ' '),
                       ' ' || (SELECT replace(pair, ' ', '  ') FROM m$k) || ' ',
                       ' ' || (SELECT merged FROM m$k) || ' '), '  ', ' ')) AS t
              FROM t${k - 1})"""
    }.mkString(",\n")
    s"""t0 AS (SELECT doc_id, array_to_string($toksSql, ' ') AS t
                    FROM documents),
        $levels"""
  }

  /** q192's smoothing weights: EWMA with alpha=1/2 truncated at lag 3 —
    * numerator weights 8/4/2/1 over the last four observations, one
    * division by 15. All-integer numerator ⇒ no FP order anywhere.
    */
  private val EwmaDen = 15.0

  /** q193's per-edge cost: strong co-purchase ties are cheap —
    * `1000 / support` in INTEGER division, exact in both engines.
    */
  private val PathWeightNum = 1000L
  private val PathSeedMod = 97
  private val PathHops = 3

  /** q194's Benford expectations, RENDERED FROM SCALA (the q176 damping
    * rule): `log10(1+1/d)` is transcendental, so the oracle must receive
    * the JVM's exact double, not recompute its own.
    */
  private val BenfordP: Seq[(Int, Double)] =
    (1 to 9).map(d => d -> math.log10(1.0 + 1.0 / d))

  /** q195's target policy: the arm recommended per user (hash-segmented)
    * and the uniform logging propensity over the 5 event types.
    */
  private val IpsArmFrac = 0.5 // hash fraction routed to the purchase arm
  private val IpsInvProp = 5.0 // 1 / (uniform logging propensity 0.2)

  /** q196's ridge penalty (integer — added to the exact diagonal moments
    * BEFORE any double conversion, so regularization is exact too).
    */
  private val RidgeLambda = 10000L

  /** q197's fold count. */
  private val KFolds = 5

  // q219 packing budget — single source for the packSequences call, the
  // end-offset sequence count, the spanning test, and the oracle SQL.
  private val PackBudget = 256L

  def entries: Seq[(String, QueryDef)] = Seq(

    // Per-user EWMA forecast over the event-value series — the smoothing
    // primitive of every metric-anomaly pipeline. alpha=1/2 truncated at
    // lag 3: the numerator 8y+4y1+2y2+y3 is an exact integer-cents sum
    // over a FIXED lag list (never a frame aggregate, so no FP order and
    // no engine-specific window-sum association); one division by 15
    // lands the only double. Emitted per user: the forecast at the LAST
    // observation with a full lag window (row_number desc over the same
    // total order the lags use). Shape at scale: one user-keyed window
    // (lags + row_number share the single sort), one filter — no
    // self-joins, no global window.
    "q192_ewma_forecast" -> QueryDef(
      fn = (s, d) => {
        val ord = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val y = cents(col("value"))
        val base = t(s, d, "events").filter(col("value").isNotNull)
          .select(col("user_id"), col("ts"), col("event_id"), y.as("__y"))
          .withColumn("__y1", lag(col("__y"), 1).over(ord))
          .withColumn("__y2", lag(col("__y"), 2).over(ord))
          .withColumn("__y3", lag(col("__y"), 3).over(ord))
          .withColumn("__rnd",
            row_number().over(Window.partitionBy(col("user_id"))
              .orderBy(col("ts").desc, col("event_id").desc)))
        base.filter(col("__y3").isNotNull && col("__rnd") === 1)
          .select(col("user_id"),
            round((col("__y") * 8 + col("__y1") * 4 + col("__y2") * 2
              + col("__y3")).cast("double") / EwmaDen / 100.0, 6)
              .as("ewma_value"))
          .orderBy("user_id")
      },
      oracle = Some(s"""
        WITH b AS (SELECT user_id,
                          ${centsSql("value")} AS y,
                          lag(${centsSql("value")}, 1) OVER w AS y1,
                          lag(${centsSql("value")}, 2) OVER w AS y2,
                          lag(${centsSql("value")}, 3) OVER w AS y3,
                          row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rnd
                   FROM events WHERE value IS NOT NULL
                   WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        SELECT user_id,
               round(CAST(y * 8 + y1 * 4 + y2 * 2 + y3 AS DOUBLE)
                     / $EwmaDen / 100.0, 6) AS ewma_value
        FROM b WHERE y3 IS NOT NULL AND rnd = 1
        ORDER BY user_id""")),

    // Bounded-hop WEIGHTED shortest paths (multi-source Bellman-Ford)
    // over the part co-purchase graph — q180's BFS with a cost axis:
    // support-derived integer edge weights (strong ties cheap), seeds =
    // nodes ≡ 0 (mod 97), 3 relaxation rounds. Integer weights keep all
    // relaxation arithmetic exact; the oracle unrolls the recurrence as
    // CTEs (d_k = min over d_{k-1} and one-edge extensions). Scale
    // shape: per round ONE vertex-keyed join + ONE min-agg — state is
    // O(vertices), every frame localCheckpointed (Graph.cheapestPaths).
    "q193_cheapest_path" -> QueryDef(
      fn = (s, d) => {
        val edges = graft.ops.Baskets.frequentItemPairs(
            t(s, d, "lineitem").select(col("l_orderkey"), col("l_partkey")),
            "l_orderkey", "l_partkey", 2L)
          // integer weight floor(1000/support) — Column./ is DOUBLE
          // division, so floor explicitly (support > 0 ⇒ floor = `//`)
          .select(col("item_a").as("src"), col("item_b").as("dst"),
            floor(lit(PathWeightNum) / col("support")).cast("long").as("w"))
          // the edge tree (a basket self-join) feeds cheapestPaths AND
          // the seed derivation — pin it or it computes twice
          .localCheckpoint(eager = true)
        val nodes = edges.select(col("src").as("node"))
          .unionAll(edges.select(col("dst").as("node"))).distinct()
        val seeds = nodes.filter(col("node") % PathSeedMod === 0)
        Graph.cheapestPaths(edges, "src", "dst", "w", seeds, "node", PathHops)
          .orderBy("node")
      },
      oracle = Some {
        val rounds = (1 to PathHops).map { k =>
          s"""d$k AS (SELECT node, min(dd) AS dist FROM (
                 SELECT node, dist AS dd FROM d${k - 1}
                 UNION ALL
                 SELECT bi.dst, d${k - 1}.dist + bi.w
                 FROM bi JOIN d${k - 1} ON bi.src = d${k - 1}.node)
               GROUP BY node)"""
        }.mkString(",\n")
        s"""
        WITH po AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
        e AS (SELECT a.i AS s, b.i AS dd, count(*) AS support
              FROM po a JOIN po b ON a.b = b.b AND a.i < b.i
              GROUP BY 1, 2 HAVING count(*) >= 2),
        ew AS (SELECT s, dd AS d, $PathWeightNum // support AS w FROM e),
        bi AS (SELECT s AS src, d AS dst, w FROM ew
               UNION ALL SELECT d, s, w FROM ew),
        nodes AS (SELECT DISTINCT src AS node FROM bi),
        d0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM nodes
               WHERE node % $PathSeedMod = 0),
        $rounds
        SELECT node, dist FROM d$PathHops ORDER BY node"""
      },
      bench = true), // the iterative-graph wall-time probe (3 join+agg rounds)

    // Benford's-law first-digit audit of order totals — the classic
    // fabricated-numbers screen, run as a data-quality gate. Counts per
    // leading digit are exact; the expected shares log10(1+1/d) are
    // Scala-rendered doubles (the q176 rule: never let the oracle
    // recompute a transcendental); each digit's chi-square contribution
    // is an identical fixed-order double expression in both engines.
    // Emitting the 9 per-digit rows (not a summed statistic) keeps the
    // result aggregation-order-free AND more useful — the offending
    // digit is visible. One scan, one 9-group agg, one 1-row broadcast.
    "q194_benford_audit" -> QueryDef(
      fn = (s, d) => {
        val digit = substring(floor(col("o_totalprice")).cast("long")
          .cast("string"), 1, 1).cast("int")
        val counts = t(s, d, "orders").filter(col("o_totalprice") >= 1.0)
          .select(digit.as("digit"))
          .groupBy("digit").agg(count(lit(1)).as("n_obs"))
        val total = counts.agg(sum(col("n_obs")).as("__total"))
        val pExpr = BenfordP.foldLeft(lit(null).cast("double")) {
          case (acc, (dg, p)) => when(col("digit") === dg, lit(p)).otherwise(acc)
        }
        val expected = col("__total").cast("double") * col("__p")
        counts.crossJoin(broadcast(total))
          .withColumn("__p", pExpr)
          .select(col("digit"), col("n_obs"),
            round(col("n_obs").cast("double") / col("__total").cast("double"), 6)
              .as("observed_share"),
            round(col("__p"), 6).as("benford_share"),
            round((col("n_obs").cast("double") - expected)
              * (col("n_obs").cast("double") - expected) / expected, 6)
              .as("chi2_contrib"))
          .orderBy("digit")
      },
      oracle = Some {
        val pCase = BenfordP.map { case (dg, p) => s"WHEN $dg THEN CAST($p AS DOUBLE)" }
          .mkString(" ")
        s"""
        WITH c AS (SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT)
                            AS VARCHAR), 1, 1) AS INT) AS digit,
                          count(*) AS n_obs
                   FROM orders WHERE o_totalprice >= 1.0 GROUP BY 1),
        t AS (SELECT CAST(sum(n_obs) AS BIGINT) AS total FROM c),
        p AS (SELECT digit, n_obs, total,
                     CASE digit $pCase END AS bp
              FROM c CROSS JOIN t)
        SELECT digit, n_obs,
               round(CAST(n_obs AS DOUBLE) / CAST(total AS DOUBLE), 6)
                 AS observed_share,
               round(bp, 6) AS benford_share,
               round((CAST(n_obs AS DOUBLE) - CAST(total AS DOUBLE) * bp)
                     * (CAST(n_obs AS DOUBLE) - CAST(total AS DOUBLE) * bp)
                     / (CAST(total AS DOUBLE) * bp), 6) AS chi2_contrib
        FROM p ORDER BY digit"""
      }),

    // Off-policy evaluation by inverse propensity scoring — "what value
    // would the target policy have earned?" answered from logs alone,
    // the counterfactual readout every recommender pipeline ships. The
    // logged actions are treated as a uniform logging policy (propensity
    // 1/5 per event type); the target policy deterministically
    // recommends 'purchase' to the hash-segmented half of users and
    // 'view' to the rest. IPS = mean of value·1{a=π(u)}/p; SNIPS
    // renormalizes by the matched mass. Numerators/denominators are
    // exact integer-cent sums (matched indicators are 0/1 longs); the
    // two divisions land the only doubles. One scan, one 3-row agg.
    "q195_ips_policy_eval" -> QueryDef(
      fn = (s, d) => {
        val y = cents(col("value"))
        val arm = when(graft.ops.Sampling.inSplit(col("user_id"), IpsArmFrac),
          "purchase").otherwise("view")
        val matched = (col("event_type") === col("__arm")).cast("long")
        val base = t(s, d, "events").filter(col("value").isNotNull)
          .select(col("user_id"), col("event_type"), y.as("__y"), arm.as("__arm"))
          .select(col("__arm"), matched.as("__m"), col("__y"))
        val perArm = base.groupBy(col("__arm").as("arm"))
          .agg(count(lit(1)).as("n_logged"), sum(col("__m")).as("n_matched"),
            sum(col("__m") * col("__y")).as("__s"))
          .localCheckpoint(eager = true) // 2 rows; union + overall share it
        // the overall row re-aggregates the 2-row per-arm frame (exact
        // long sums compose) — ONE corpus scan, not two
        val overall = perArm
          .agg(sum(col("n_logged")).as("n_logged"),
            sum(col("n_matched")).as("n_matched"), sum(col("__s")).as("__s"))
          .select(lit("*").as("arm"), col("n_logged"), col("n_matched"), col("__s"))
        perArm.unionByName(overall)
          .select(col("arm"), col("n_logged"), col("n_matched"),
            round(col("__s").cast("double") * IpsInvProp
              / col("n_logged").cast("double") / 100.0, 6).as("ips_value"),
            round(col("__s").cast("double")
              / col("n_matched").cast("double") / 100.0, 6).as("snips_value"))
          .orderBy("arm")
      },
      oracle = Some {
        val armCond = s"substring(md5(CAST(user_id AS VARCHAR)), 1, 8) " +
          s"< '${graft.ops.Sampling.thresholdHex(IpsArmFrac)}'"
        s"""
        WITH b AS (SELECT CASE WHEN $armCond THEN 'purchase' ELSE 'view' END AS arm,
                          CASE WHEN event_type =
                            (CASE WHEN $armCond THEN 'purchase' ELSE 'view' END)
                            THEN 1 ELSE 0 END AS m,
                          ${centsSql("value")} AS y
                   FROM events WHERE value IS NOT NULL),
        g AS (SELECT arm, count(*) AS n_logged,
                     CAST(sum(m) AS BIGINT) AS n_matched,
                     CAST(sum(m * y) AS BIGINT) AS s
              FROM b GROUP BY arm
              UNION ALL
              SELECT '*', count(*), CAST(sum(m) AS BIGINT),
                     CAST(sum(m * y) AS BIGINT) FROM b)
        SELECT arm, n_logged, n_matched,
               round(CAST(s AS DOUBLE) * $IpsInvProp
                     / CAST(n_logged AS DOUBLE) / 100.0, 6) AS ips_value,
               round(CAST(s AS DOUBLE)
                     / CAST(n_matched AS DOUBLE) / 100.0, 6) AS snips_value
        FROM g ORDER BY arm"""
      }),

    // Two-feature ridge regression by exact normal equations — q177's
    // per-group OLS extended to a multivariate solve: predict line-item
    // price (cents) from quantity and discount (integer percent). All
    // nine moments are exact long sums (max |Σx1·y| ≈ 3e14 at sf0.1 —
    // 30000x inside long range); the ridge penalty adds to the diagonal
    // while still integer; the 3x3 Cramer solve is a fixed cofactor
    // expansion over exact-valued doubles, spelled IDENTICALLY in both
    // engines — bit-equal results, rounded 6dp. ONE corpus scan, one
    // 1-row aggregate; the solve is driver-free scalar arithmetic in
    // the plan.
    "q196_ridge_regression" -> QueryDef(
      fn = (s, d) => {
        val x1 = col("l_quantity").cast("long")
        val x2 = cents(col("l_discount"))
        val y = cents(col("l_extendedprice"))
        val m = t(s, d, "lineitem")
          .select(x1.as("__x1"), x2.as("__x2"), y.as("__y"))
          .agg(count(lit(1)).as("n"),
            sum(col("__x1")).as("__s1"), sum(col("__x2")).as("__s2"),
            sum(col("__x1") * col("__x1")).as("__s11"),
            sum(col("__x1") * col("__x2")).as("__s12"),
            sum(col("__x2") * col("__x2")).as("__s22"),
            sum(col("__y")).as("__sy"),
            sum(col("__x1") * col("__y")).as("__s1y"),
            sum(col("__x2") * col("__y")).as("__s2y"))
        // A = [[n,s1,s2],[s1,s11+L,s12],[s2,s12,s22+L]], b = [sy,s1y,s2y];
        // Cramer with the SAME cofactor spelling as the SQL below.
        val a11 = col("n").cast("double")
        val a12 = col("__s1").cast("double")
        val a13 = col("__s2").cast("double")
        val a22 = (col("__s11") + RidgeLambda).cast("double")
        val a23 = col("__s12").cast("double")
        val a33 = (col("__s22") + RidgeLambda).cast("double")
        val b1 = col("__sy").cast("double")
        val b2 = col("__s1y").cast("double")
        val b3 = col("__s2y").cast("double")
        def det3(m11: org.apache.spark.sql.Column, m12: org.apache.spark.sql.Column,
            m13: org.apache.spark.sql.Column, m21: org.apache.spark.sql.Column,
            m22: org.apache.spark.sql.Column, m23: org.apache.spark.sql.Column,
            m31: org.apache.spark.sql.Column, m32: org.apache.spark.sql.Column,
            m33: org.apache.spark.sql.Column) =
          m11 * (m22 * m33 - m23 * m32) - m12 * (m21 * m33 - m23 * m31) +
            m13 * (m21 * m32 - m22 * m31)
        val det = det3(a11, a12, a13, a12, a22, a23, a13, a23, a33)
        val d0 = det3(b1, a12, a13, b2, a22, a23, b3, a23, a33)
        val d1 = det3(a11, b1, a13, a12, b2, a23, a13, b3, a33)
        val d2 = det3(a11, a12, b1, a12, a22, b2, a13, a23, b3)
        m.select(col("n"),
          round(d0 / det / 100.0, 6).as("intercept"),
          round(d1 / det / 100.0, 6).as("coef_quantity"),
          round(d2 / det / 100.0, 6).as("coef_discount_pct"))
      },
      oracle = Some(s"""
        WITH m AS (SELECT count(*) AS n,
                          CAST(sum(x1) AS BIGINT) AS s1,
                          CAST(sum(x2) AS BIGINT) AS s2,
                          CAST(sum(x1 * x1) AS BIGINT) AS s11,
                          CAST(sum(x1 * x2) AS BIGINT) AS s12,
                          CAST(sum(x2 * x2) AS BIGINT) AS s22,
                          CAST(sum(y) AS BIGINT) AS sy,
                          CAST(sum(x1 * y) AS BIGINT) AS s1y,
                          CAST(sum(x2 * y) AS BIGINT) AS s2y
                   FROM (SELECT CAST(l_quantity AS BIGINT) AS x1,
                                ${centsSql("l_discount")} AS x2,
                                ${centsSql("l_extendedprice")} AS y
                         FROM lineitem)),
        a AS (SELECT n,
                     CAST(n AS DOUBLE) AS a11, CAST(s1 AS DOUBLE) AS a12,
                     CAST(s2 AS DOUBLE) AS a13,
                     CAST(s11 + $RidgeLambda AS DOUBLE) AS a22,
                     CAST(s12 AS DOUBLE) AS a23,
                     CAST(s22 + $RidgeLambda AS DOUBLE) AS a33,
                     CAST(sy AS DOUBLE) AS b1, CAST(s1y AS DOUBLE) AS b2,
                     CAST(s2y AS DOUBLE) AS b3
              FROM m),
        f AS (SELECT n,
                     a11 * (a22 * a33 - a23 * a23) - a12 * (a12 * a33 - a23 * a13)
                       + a13 * (a12 * a23 - a22 * a13) AS det,
                     b1 * (a22 * a33 - a23 * a23) - a12 * (b2 * a33 - a23 * b3)
                       + a13 * (b2 * a23 - a22 * b3) AS d0,
                     a11 * (b2 * a33 - a23 * b3) - b1 * (a12 * a33 - a23 * a13)
                       + a13 * (a12 * b3 - b2 * a13) AS d1,
                     a11 * (a22 * b3 - b2 * a23) - a12 * (a12 * b3 - b2 * a13)
                       + b1 * (a12 * a23 - a22 * a13) AS d2
              FROM a)
        SELECT n, round(d0 / det / 100.0, 6) AS intercept,
               round(d1 / det / 100.0, 6) AS coef_quantity,
               round(d2 / det / 100.0, 6) AS coef_discount_pct
        FROM f""")),

    // K-fold cross-validated category-mean regressor with exact per-fold
    // MAE — the model-selection loop (q182's leave-one-out sibling) run
    // entirely in-engine. Folds are md5-hash assignments of l_orderkey
    // (q58 machinery, join-free); each fold's predictor is the
    // out-of-fold category mean held as an exact rational (sum, count);
    // the per-row |residual| is ONE fixed-order double expression
    // SNAPPED to a 1e-4 grid (floor(x·1e4 + 0.5) → long) so the
    // cross-row MAE sum is exact-integer and aggregation-order-free in
    // both engines. Shape at scale: one (category, fold) agg, a
    // broadcast of ≤ |cats|·K train-stat rows back onto the corpus, one
    // per-fold agg — the corpus never shuffles.
    "q197_kfold_cv" -> QueryDef(
      fn = (s, d) => {
        val y = cents(col("l_extendedprice"))
        val foldCol = (conv(substring(md5(col("l_orderkey").cast("string")), 1, 8),
          16, 10).cast("long") % KFolds).cast("int")
        val base = t(s, d, "lineitem")
          .select(concat(col("l_returnflag"), col("l_linestatus")).as("__cat"),
            foldCol.as("fold"), y.as("__y"))
        val cf = base.groupBy("__cat", "fold")
          .agg(count(lit(1)).as("__n_cf"), sum(col("__y")).as("__s_cf"))
          .localCheckpoint(eager = true) // cats x folds rows; feeds c AND train
        val c = cf.groupBy("__cat")
          .agg(sum(col("__n_cf")).as("__n_c"), sum(col("__s_cf")).as("__s_c"))
        val train = cf.join(c, "__cat")
          .select(col("__cat"), col("fold"),
            (col("__n_c") - col("__n_cf")).as("__n_tr"),
            (col("__s_c") - col("__s_cf")).as("__s_tr"))
        val resid = abs(col("__y").cast("double")
          - col("__s_tr").cast("double") / col("__n_tr").cast("double"))
        val scaled = floor(resid * 10000.0 + 0.5).cast("long")
        base.join(broadcast(train), Seq("__cat", "fold"))
          .select(col("fold"), scaled.as("__r"))
          .groupBy("fold")
          .agg(count(lit(1)).as("n_test"), sum(col("__r")).as("__sr"))
          .select(col("fold"), col("n_test"),
            round(col("__sr").cast("double")
              / col("n_test").cast("double") / 1000000.0, 6).as("mae"))
          .orderBy("fold")
      },
      oracle = Some(s"""
        WITH b AS (SELECT l_returnflag || l_linestatus AS cat,
                          CAST(CAST(('0x' || substring(md5(CAST(l_orderkey AS VARCHAR)),
                            1, 8)) AS BIGINT) % $KFolds AS INT) AS fold,
                          ${centsSql("l_extendedprice")} AS y
                   FROM lineitem),
        cf AS (SELECT cat, fold, count(*) AS n_cf,
                      CAST(sum(y) AS BIGINT) AS s_cf
               FROM b GROUP BY 1, 2),
        c AS (SELECT cat, CAST(sum(n_cf) AS BIGINT) AS n_c,
                     CAST(sum(s_cf) AS BIGINT) AS s_c
              FROM cf GROUP BY 1),
        tr AS (SELECT cf.cat, cf.fold, c.n_c - cf.n_cf AS n_tr,
                      c.s_c - cf.s_cf AS s_tr
               FROM cf JOIN c ON cf.cat = c.cat),
        r AS (SELECT b.fold,
                     CAST(floor(abs(CAST(b.y AS DOUBLE)
                       - CAST(tr.s_tr AS DOUBLE) / CAST(tr.n_tr AS DOUBLE))
                       * 10000.0 + 0.5) AS BIGINT) AS sr
              FROM b JOIN tr ON b.cat = tr.cat AND b.fold = tr.fold)
        SELECT fold, count(*) AS n_test,
               round(CAST(sum(sr) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE) / 1000000.0, 6) AS mae
        FROM r GROUP BY fold ORDER BY fold""")),

    // Seasonal (hour-of-day) baseline + anomaly census — the metric-
    // monitoring primitive q93's GLOBAL z-score cannot express: each
    // event is judged against its OWN (type, hour) bucket, so a value
    // that is normal at peak hours flags at 3am. Bucket moments are
    // exact integer-cent sums; mean/std are fixed-order doubles; the
    // 3-sigma comparison is guarded (n>1 AND std>0) so NaN semantics
    // never differ between engines. Shape: one (type,hour) agg, the
    // ≤120-row stats broadcast back, one census agg — the corpus
    // shuffles once (map-side partial agg both passes).
    "q198_seasonal_anomaly" -> QueryDef(
      fn = (s, d) => {
        val y = cents(col("value"))
        val base = t(s, d, "events").filter(col("value").isNotNull)
          .select(col("event_type"), hour(col("ts")).cast("int").as("hr"),
            y.as("__y"))
        val stats = base.groupBy("event_type", "hr")
          .agg(count(lit(1)).as("__n"), sum(col("__y")).as("__s1"),
            sum(col("__y") * col("__y")).as("__s2"))
        val mean = col("__s1").cast("double") / col("__n").cast("double")
        val stdv = sqrt((col("__n") * col("__s2") - col("__s1") * col("__s1")).cast("double")
          / (col("__n") * (col("__n") - 1)).cast("double"))
        val flagged = base.join(broadcast(stats), Seq("event_type", "hr"))
          .select(col("event_type"), col("hr"), col("__n"),
            col("__s1"), col("__s2"),
            when(col("__n") > 1 && stdv > 0.0
              && abs(col("__y").cast("double") - mean) > lit(3.0) * stdv, 1L)
              .otherwise(0L).as("__a"))
        flagged.groupBy("event_type", "hr")
          .agg(count(lit(1)).as("n"),
            round(min(col("__s1")).cast("double")
              / min(col("__n")).cast("double") / 100.0, 6).as("mean_value"),
            sum(col("__a")).as("n_anomalies"))
          .orderBy("event_type", "hr")
      },
      oracle = Some(s"""
        WITH b AS (SELECT event_type, CAST(hour(ts) AS INT) AS hr,
                          ${centsSql("value")} AS y
                   FROM events WHERE value IS NOT NULL),
        st AS (SELECT event_type, hr, count(*) AS n,
                      CAST(sum(y) AS BIGINT) AS s1,
                      CAST(sum(y * y) AS BIGINT) AS s2
               FROM b GROUP BY 1, 2),
        f AS (SELECT b.event_type, b.hr, st.n, st.s1,
                     CASE WHEN st.n > 1
                            AND sqrt(CAST(st.n * st.s2 - st.s1 * st.s1 AS DOUBLE)
                                     / CAST(st.n * (st.n - 1) AS DOUBLE)) > 0.0
                            AND abs(CAST(b.y AS DOUBLE)
                                    - CAST(st.s1 AS DOUBLE) / CAST(st.n AS DOUBLE))
                                > 3.0 * sqrt(CAST(st.n * st.s2 - st.s1 * st.s1 AS DOUBLE)
                                             / CAST(st.n * (st.n - 1) AS DOUBLE))
                          THEN 1 ELSE 0 END AS a
              FROM b JOIN st ON b.event_type = st.event_type AND b.hr = st.hr)
        SELECT event_type, hr, count(*) AS n,
               round(CAST(min(s1) AS DOUBLE) / CAST(min(n) AS DOUBLE) / 100.0, 6)
                 AS mean_value,
               CAST(sum(a) AS BIGINT) AS n_anomalies
        FROM f GROUP BY event_type, hr ORDER BY event_type, hr""")),

    // Blocked entity resolution over the part catalog — the record-
    // linkage shape (blocking key → in-block pairwise verify) that
    // q122's adjacent-pair edit distance only gestures at. Scale
    // discipline: pairs are enumerated over DISTINCT entities
    // (name, size) — bounded by the attribute vocabulary, NOT the row
    // count — with per-entity row counts carried along; raw rows never
    // self-join. Blocks are (noun, size); the match predicate is
    // levenshtein over the adjectives (integer, both engines).
    "q199_entity_resolution" -> QueryDef(
      fn = (s, d) => {
        val ents = t(s, d, "part")
          .groupBy(col("p_name"), col("p_size").cast("int").as("p_size"))
          .agg(count(lit(1)).as("__cnt"))
          .select(col("p_name"), col("p_size"), col("__cnt"),
            substring_index(col("p_name"), " ", 1).as("__adj"),
            substring_index(col("p_name"), " ", -1).as("__noun"))
        val a = ents.select(col("__noun"), col("p_size"),
          col("p_name").as("name_a"), col("__adj").as("__adj_a"),
          col("__cnt").as("n_a"))
        val b = ents.select(col("__noun"), col("p_size"),
          col("p_name").as("name_b"), col("__adj").as("__adj_b"),
          col("__cnt").as("n_b"))
        a.join(b, Seq("__noun", "p_size"))
          .filter(col("name_a") < col("name_b"))
          .filter(levenshtein(col("__adj_a"), col("__adj_b")) <= 2)
          .select(col("p_size"), col("name_a"), col("name_b"),
            levenshtein(col("__adj_a"), col("__adj_b")).cast("long").as("edit_dist"),
            col("n_a"), col("n_b"))
          .orderBy("p_size", "name_a", "name_b")
      },
      oracle = Some("""
        WITH e AS (SELECT p_name, CAST(p_size AS INT) AS p_size,
                          count(*) AS cnt,
                          split_part(p_name, ' ', 1) AS adj,
                          split_part(p_name, ' ', 2) AS noun
                   FROM part GROUP BY 1, 2)
        SELECT a.p_size, a.p_name AS name_a, b.p_name AS name_b,
               CAST(levenshtein(a.adj, b.adj) AS BIGINT) AS edit_dist,
               a.cnt AS n_a, b.cnt AS n_b
        FROM e a JOIN e b ON a.noun = b.noun AND a.p_size = b.p_size
                         AND a.p_name < b.p_name
        WHERE levenshtein(a.adj, b.adj) <= 2
        ORDER BY 1, 2, 3""")),

    // Vocabulary coverage / OOV-rate per source — the tokenizer-fit
    // readout a training pipeline checks before committing a vocab:
    // top-16 corpus vocabulary (TakeOrdered, count-then-token total
    // order — 16 because the synthetic corpus holds only ~31 distinct
    // tokens; a production run would use 32k-ish and the same plan),
    // then each source's share of tokens falling outside it. The
    // corpus explodes once and never shuffles row-wise: the vocab is
    // broadcast back and both counters are one map-side agg.
    "q200_vocab_oov" -> QueryDef(
      fn = (s, d) => {
        val toks = t(s, d, "documents")
          .select(col("source"), explode(TF2.tokens(col("text"))).as("token"))
        val vocab = toks.groupBy("token").agg(count(lit(1)).as("__n"))
          .orderBy(desc("__n"), asc("token")).limit(16)
          .select(col("token"), lit(1L).as("__in_vocab"))
        val marked = toks.join(broadcast(vocab), Seq("token"), "left")
          .select(col("source"),
            (lit(1L) - coalesce(col("__in_vocab"), lit(0L))).as("__oov"))
        val perSource = marked.groupBy("source")
          .agg(count(lit(1)).as("n_tokens"), sum(col("__oov")).as("n_oov"))
          .localCheckpoint(eager = true) // O(sources); union + overall share it
        // overall = re-aggregated per-source counts (exact longs
        // compose) — the corpus explodes/joins ONCE, not twice
        val overall = perSource
          .agg(sum(col("n_tokens")).as("n_tokens"), sum(col("n_oov")).as("n_oov"))
          .select(lit("*").as("source"), col("n_tokens"), col("n_oov"))
        perSource.unionByName(overall)
          .select(col("source"), col("n_tokens"), col("n_oov"),
            round(col("n_oov").cast("double") / col("n_tokens").cast("double"), 6)
              .as("oov_rate"))
          .orderBy("source")
      },
      oracle = Some(s"""
        WITH toks AS (SELECT source, unnest($toksSql) AS token FROM documents),
        vocab AS (SELECT token FROM (
                    SELECT token, count(*) AS n FROM toks GROUP BY token
                    ORDER BY n DESC, token LIMIT 16)),
        m AS (SELECT source,
                     CASE WHEN token IN (SELECT token FROM vocab)
                          THEN 0 ELSE 1 END AS oov
              FROM toks),
        g AS (SELECT source, count(*) AS n_tokens,
                     CAST(sum(oov) AS BIGINT) AS n_oov
              FROM m GROUP BY source
              UNION ALL
              SELECT '*', count(*), CAST(sum(oov) AS BIGINT) FROM m)
        SELECT source, n_tokens, n_oov,
               round(CAST(n_oov AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
                 AS oov_rate
        FROM g ORDER BY source""")),

    // Inter-arrival profile per event type: the recency/cadence readout
    // (session gap tuning, freshness SLAs). Gaps are EXACT integer
    // microseconds between a user's consecutive events (one user-keyed
    // window); per-type p50/p90 ride the pinned percentile ≡
    // quantile_cont integer-interpolation parity (q54/q123). At 100 TB
    // the swap-in is approx_percentile, same plan shape.
    "q201_interarrival" -> QueryDef(
      fn = (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val gaps = t(s, d, "events")
          .select(col("event_type"), col("user_id"), col("ts"), col("event_id"))
          .withColumn("__gap",
            unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
          .filter(col("__gap").isNotNull)
        gaps.groupBy("event_type")
          .agg(count(lit(1)).as("n_gaps"),
            round(expr("percentile(__gap, 0.5)") / 1000000.0, 6).as("p50_gap_s"),
            round(expr("percentile(__gap, 0.9)") / 1000000.0, 6).as("p90_gap_s"))
          .orderBy("event_type")
      },
      oracle = Some("""
        WITH g AS (SELECT event_type,
                          epoch_us(ts) - lag(epoch_us(ts), 1) OVER
                            (PARTITION BY user_id ORDER BY ts, event_id) AS gap
                   FROM events)
        SELECT event_type, count(*) AS n_gaps,
               round(quantile_cont(gap, 0.5) / 1000000.0, 6) AS p50_gap_s,
               round(quantile_cont(gap, 0.9) / 1000000.0, 6) AS p90_gap_s
        FROM g WHERE gap IS NOT NULL
        GROUP BY event_type ORDER BY event_type""")),

    // Rate-spike (burst) detection: per-minute event counts per type,
    // judged against that type's own per-minute distribution — q198's
    // sibling on the RATE axis (counts, not values; time buckets, not
    // seasonal buckets). All moments are exact integer sums over minute
    // counts; the top burst minute is a deterministic in-type argmax
    // (count desc, minute asc). State is O(types x minutes) — the
    // corpus aggregates away in the first pass.
    "q202_burst_detection" -> QueryDef(
      fn = (s, d) => {
        val cnt = t(s, d, "events")
          .groupBy(col("event_type"), date_trunc("minute", col("ts")).as("__m"))
          .agg(count(lit(1)).as("__c"))
          .localCheckpoint(eager = true) // stats + argmax + census share it
        val stats = cnt.groupBy("event_type")
          .agg(count(lit(1)).as("n_minutes"), sum(col("__c")).as("__s1"),
            sum(col("__c") * col("__c")).as("__s2"))
        val mean = col("__s1").cast("double") / col("n_minutes").cast("double")
        val stdv = sqrt((col("n_minutes") * col("__s2") - col("__s1") * col("__s1")).cast("double")
          / (col("n_minutes") * (col("n_minutes") - 1)).cast("double"))
        val top = cnt.withColumn("__rn",
            row_number().over(Window.partitionBy(col("event_type"))
              .orderBy(col("__c").desc, col("__m").asc)))
          .filter(col("__rn") === 1)
          .select(col("event_type"), col("__m").as("peak_minute"),
            col("__c").as("peak_count"))
        val bursts = cnt.join(broadcast(stats), "event_type")
          .select(col("event_type"),
            when(col("n_minutes") > 1 && stdv > 0.0
              && col("__c").cast("double") > mean + lit(3.0) * stdv, 1L)
              .otherwise(0L).as("__b"))
          .groupBy("event_type").agg(sum(col("__b")).as("n_bursts"))
        stats.join(bursts, "event_type").join(top, "event_type")
          .select(col("event_type"), col("n_minutes"),
            round(mean, 6).as("mean_per_minute"), col("n_bursts"),
            col("peak_minute"), col("peak_count"))
          .orderBy("event_type")
      },
      oracle = Some("""
        WITH c AS (SELECT event_type, date_trunc('minute', ts) AS m,
                          count(*) AS cc
                   FROM events GROUP BY 1, 2),
        st AS (SELECT event_type, count(*) AS n_minutes,
                      CAST(sum(cc) AS BIGINT) AS s1,
                      CAST(sum(cc * cc) AS BIGINT) AS s2
               FROM c GROUP BY 1),
        tp AS (SELECT event_type, m AS peak_minute, cc AS peak_count
               FROM (SELECT event_type, m, cc,
                            row_number() OVER (PARTITION BY event_type
                              ORDER BY cc DESC, m ASC) AS rn
                     FROM c) WHERE rn = 1),
        bu AS (SELECT c.event_type,
                      CAST(sum(CASE WHEN st.n_minutes > 1
                        AND sqrt(CAST(st.n_minutes * st.s2 - st.s1 * st.s1 AS DOUBLE)
                                 / CAST(st.n_minutes * (st.n_minutes - 1) AS DOUBLE)) > 0.0
                        AND CAST(c.cc AS DOUBLE)
                            > CAST(st.s1 AS DOUBLE) / CAST(st.n_minutes AS DOUBLE)
                              + 3.0 * sqrt(CAST(st.n_minutes * st.s2 - st.s1 * st.s1 AS DOUBLE)
                                           / CAST(st.n_minutes * (st.n_minutes - 1) AS DOUBLE))
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_bursts
               FROM c JOIN st ON c.event_type = st.event_type
               GROUP BY c.event_type)
        SELECT st.event_type, st.n_minutes,
               round(CAST(st.s1 AS DOUBLE) / CAST(st.n_minutes AS DOUBLE), 6)
                 AS mean_per_minute,
               bu.n_bursts, tp.peak_minute, tp.peak_count
        FROM st JOIN bu ON st.event_type = bu.event_type
                JOIN tp ON st.event_type = tp.event_type
        ORDER BY 1""")),

    // Inter-annotator agreement (Cohen's kappa) between the ground-truth
    // lang column and the marker-based langId heuristic — q188's
    // confusion matrix collapsed to the chance-corrected scalar every
    // labeling pipeline reports. kappa = (N*agree - sum_c nt_c*np_c) /
    // (N^2 - sum_c nt_c*np_c): EXACT integers until the one division
    // (the per-class product sum is an integer aggregate — order-free).
    // At 100 TB the longs become decimal(38,0); shape is unchanged.
    "q203_cohens_kappa" -> QueryDef(
      fn = (s, d) => {
        val cm = t(s, d, "documents")
          .select(col("lang"), TF2.langId(col("text")).as("__guess"))
          .groupBy("lang", "__guess").agg(count(lit(1)).as("__n"))
          .localCheckpoint(eager = true) // 3 small readers, one scan
        val nTrue = cm.groupBy("lang").agg(sum(col("__n")).as("__nt"))
        val nPred = cm.groupBy("__guess").agg(sum(col("__n")).as("__np"))
        val peNum = nTrue.join(nPred, nTrue("lang") === nPred("__guess"))
          .agg(coalesce(sum(col("__nt") * col("__np")), lit(0L)).as("__pe_num"))
        val totals = cm.agg(sum(col("__n")).as("__nn"),
          sum(when(col("lang") === col("__guess"), col("__n"))
            .otherwise(0L)).as("__agree"))
        totals.crossJoin(broadcast(peNum))
          .select(col("__nn").as("n"), col("__agree").as("n_agree"),
            round(col("__agree").cast("double") / col("__nn").cast("double"), 6)
              .as("po"),
            round(col("__pe_num").cast("double")
              / (col("__nn") * col("__nn")).cast("double"), 6).as("pe"),
            round((col("__nn") * col("__agree") - col("__pe_num")).cast("double")
              / (col("__nn") * col("__nn") - col("__pe_num")).cast("double"), 6)
              .as("kappa"))
      },
      oracle = Some(s"""
        WITH cm AS (SELECT lang, lang_guess AS g, count(*) AS n
                    FROM ($langIdSql) GROUP BY 1, 2),
        nt AS (SELECT lang, CAST(sum(n) AS BIGINT) AS ntc FROM cm GROUP BY 1),
        np AS (SELECT g, CAST(sum(n) AS BIGINT) AS npc FROM cm GROUP BY 1),
        pe AS (SELECT coalesce(CAST(sum(nt.ntc * np.npc) AS BIGINT), 0) AS pe_num
               FROM nt JOIN np ON nt.lang = np.g),
        tt AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
                      CAST(sum(CASE WHEN lang = g THEN n ELSE 0 END) AS BIGINT)
                        AS agree
               FROM cm)
        SELECT nn AS n, agree AS n_agree,
               round(CAST(agree AS DOUBLE) / CAST(nn AS DOUBLE), 6) AS po,
               round(CAST(pe_num AS DOUBLE) / CAST(nn * nn AS DOUBLE), 6) AS pe,
               round(CAST(nn * agree - pe_num AS DOUBLE)
                     / CAST(nn * nn - pe_num AS DOUBLE), 6) AS kappa
        FROM tt CROSS JOIN pe""")),

    // Curation attrition funnel — the per-rule survivor waterfall every
    // corpus-curation report leads with (q63 emits the survivors; THIS
    // explains where the rest went). All five rule flags are computed
    // in ONE scan as cumulative booleans (each stage ANDs its
    // predecessors — a doc failing min_len never reaches the lang
    // test), aggregated as conditional counts plus one distinct-
    // fingerprint count for the final dedup stage; the 1-row aggregate
    // unpivots into the 6-stage report via stack(). Rule formulas are
    // the SHARED Scala/SQL quality-langId-repetition helpers, so the
    // funnel cannot drift from q21/q22/q154.
    "q204_curation_funnel" -> QueryDef(
      fn = (s, d) => {
        // tokenize ONCE into a named column; all five rule flags read
        // the shared array via the ...OfTokens variants. HOFs sit
        // outside codegen subexpression elimination, so the text-based
        // forms would re-tokenize per metric (measured 3.9x slower at
        // sf0.1: 3.92 s -> 1.01 s median, interleaved A/B);
        // CollapseProject keeps the non-cheap array un-inlined.
        val tokd = t(s, d, "documents")
          .select(col("text"), TF2.tokens(col("text")).as("__ts"))
        val gs = TF2.shinglesOfTokens(col("__ts"), 3)
        val rep = lit(1.0) - size(array_distinct(gs)).cast("double") / size(gs)
        val f1 = size(col("__ts")).cast("long") >= 20
        val f2 = f1 && TF2.langIdOfTokens(col("__ts")) === "en"
        val f3 = f2 && TF2.qualityScoreOfTokens(col("text"), col("__ts"),
          TF2.langMarkers("en")) >= 0.6
        val f4 = f3 && rep < 0.01
        val agg = tokd
          .select(TF2.fingerprintOfTokens(col("__ts")).as("__fp"),
            f1.as("__f1"), f2.as("__f2"), f3.as("__f3"), f4.as("__f4"))
          .agg(count(lit(1)).as("n0"),
            sum(when(col("__f1"), 1L).otherwise(0L)).as("n1"),
            sum(when(col("__f2"), 1L).otherwise(0L)).as("n2"),
            sum(when(col("__f3"), 1L).otherwise(0L)).as("n3"),
            sum(when(col("__f4"), 1L).otherwise(0L)).as("n4"),
            countDistinct(when(col("__f4"), col("__fp"))).as("n5"))
        agg.selectExpr(
          """stack(6,
               0, 'total',        n0,
               1, 'min_len_20',   n1,
               2, 'lang_en',      n2,
               3, 'quality_0_6',  n3,
               4, 'low_repeat',   n4,
               5, 'exact_dedup',  n5) AS (stage, rule, n_docs)""")
          .select(col("stage").cast("int").as("stage"), col("rule"),
            col("n_docs"))
          .orderBy("stage")
      },
      oracle = Some {
        val langs = graft.functions.TextFunctions.langMarkers.toSeq.sortBy(_._1)
        val scores = langs.map { case (l, ws) => s"${hitCountSql(ws)} AS s_$l" }.mkString(", ")
        val best = langs.map { case (l, _) => s"s_$l" }.mkString("greatest(", ", ", ")")
        val cases = langs.map { case (l, _) => s"WHEN s_$l > 0 AND s_$l = best THEN '$l'" }.mkString(" ")
        s"""
        WITH base AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
        q AS (SELECT doc_id, $qualityExprSql AS quality FROM ($qualityInnerSql)),
        lang AS (SELECT doc_id, CASE $cases ELSE 'und' END AS lang_guess
                 FROM (SELECT doc_id, $scores, $best AS best FROM base)),
        rep AS (SELECT doc_id,
                       CASE WHEN len(toks) >= 3 THEN 1.0 -
                         CAST(len(list_distinct(list_transform(
                           generate_series(1, len(toks) - 2),
                           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))
                           AS DOUBLE)
                         / len(list_transform(generate_series(1, len(toks) - 2),
                           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                       END AS rep_ratio
                FROM base),
        f AS (SELECT base.doc_id,
                     md5(array_to_string(base.toks, ' ')) AS fp,
                     len(base.toks) >= 20 AS f1,
                     len(base.toks) >= 20 AND lang.lang_guess = 'en' AS f2,
                     len(base.toks) >= 20 AND lang.lang_guess = 'en'
                       AND q.quality >= 0.6 AS f3,
                     len(base.toks) >= 20 AND lang.lang_guess = 'en'
                       AND q.quality >= 0.6
                       AND rep.rep_ratio < 0.01 AS f4
              FROM base JOIN q ON base.doc_id = q.doc_id
                        JOIN lang ON base.doc_id = lang.doc_id
                        JOIN rep ON base.doc_id = rep.doc_id),
        a AS (SELECT count(*) AS n0,
                     CAST(sum(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                     CAST(sum(CASE WHEN f2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
                     CAST(sum(CASE WHEN f3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
                     CAST(sum(CASE WHEN f4 THEN 1 ELSE 0 END) AS BIGINT) AS n4,
                     CAST(count(DISTINCT CASE WHEN f4 THEN fp END) AS BIGINT) AS n5
              FROM f)
        SELECT CAST(0 AS INT) AS stage, 'total' AS rule, n0 AS n_docs FROM a
        UNION ALL SELECT 1, 'min_len_20', n1 FROM a
        UNION ALL SELECT 2, 'lang_en', n2 FROM a
        UNION ALL SELECT 3, 'quality_0_6', n3 FROM a
        UNION ALL SELECT 4, 'low_repeat', n4 FROM a
        UNION ALL SELECT 5, 'exact_dedup', n5 FROM a
        ORDER BY stage"""
      },
      bench = true), // the full-text-pipeline-in-one-scan wall-time probe

    // Pairwise audience overlap — the distinct-user Jaccard between
    // every pair of event-type HIGH-SPEND audiences (users whose total
    // value for that type exceeds the type's per-user median — the "do
    // my premium segments overlap" readout before mixing cohorts; raw
    // participation is uninformative on this corpus, every user does
    // every type). EXACT set arithmetic: per-(type,user) cent totals
    // aggregate once, the median rides the pinned percentile ≡
    // quantile_cont integer parity (q54/q123), audiences anti-cut by a
    // broadcast 5-row threshold, and the pair join is per-user (fanout
    // bounded by |types|^2 = 25, never row x row).
    "q205_audience_overlap" -> QueryDef(
      fn = (s, d) => {
        val spend = t(s, d, "events").filter(col("value").isNotNull)
          .groupBy(col("event_type"), col("user_id"))
          .agg(sum(cents(col("value"))).as("__sp"))
          .localCheckpoint(eager = true) // median + audience cut share it
        val med = spend.groupBy("event_type")
          .agg(expr("percentile(__sp, 0.5)").as("__med"))
        val ut = spend.join(broadcast(med), "event_type")
          .filter(col("__sp").cast("double") > col("__med"))
          .select(col("event_type"), col("user_id"))
          .localCheckpoint(eager = true) // pair join + sizes share it
        val sizes = ut.groupBy("event_type").agg(count(lit(1)).as("__sz"))
        val a = ut.select(col("event_type").as("type_a"), col("user_id"))
        val b = ut.select(col("event_type").as("type_b"), col("user_id"))
        val both = a.join(b, "user_id")
          .filter(col("type_a") < col("type_b"))
          .groupBy("type_a", "type_b").agg(count(lit(1)).as("n_both"))
        both
          .join(broadcast(sizes.withColumnRenamed("event_type", "type_a")
            .withColumnRenamed("__sz", "n_a")), "type_a")
          .join(broadcast(sizes.withColumnRenamed("event_type", "type_b")
            .withColumnRenamed("__sz", "n_b")), "type_b")
          .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
            col("n_both"),
            round(col("n_both").cast("double")
              / (col("n_a") + col("n_b") - col("n_both")).cast("double"), 6)
              .as("jaccard"))
          .orderBy("type_a", "type_b")
      },
      oracle = Some(s"""
        WITH sp AS (SELECT event_type, user_id,
                           CAST(sum(${centsSql("value")}) AS BIGINT) AS spend
                    FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        md AS (SELECT event_type, quantile_cont(spend, 0.5) AS med
               FROM sp GROUP BY 1),
        ut AS (SELECT sp.event_type, sp.user_id
               FROM sp JOIN md ON sp.event_type = md.event_type
               WHERE CAST(sp.spend AS DOUBLE) > md.med),
        sz AS (SELECT event_type, count(*) AS n FROM ut GROUP BY 1),
        bo AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                      count(*) AS n_both
               FROM ut a JOIN ut b ON a.user_id = b.user_id
                                  AND a.event_type < b.event_type
               GROUP BY 1, 2)
        SELECT bo.type_a, bo.type_b,
               sa.n AS n_a, sb.n AS n_b, bo.n_both,
               round(CAST(bo.n_both AS DOUBLE)
                     / CAST(sa.n + sb.n - bo.n_both AS DOUBLE), 6) AS jaccard
        FROM bo JOIN sz sa ON bo.type_a = sa.event_type
                JOIN sz sb ON bo.type_b = sb.event_type
        ORDER BY 1, 2""")),

    // Corpus datasheet — the per-source summary card (docs, tokens,
    // mean quality, language mix, duplicate rate) a dataset release
    // ships ("datasheets for datasets"). ONE pass over the corpus;
    // mean quality rides the 1e-4 SNAP (per-doc quality is the shared
    // 4dp-rounded double — identical in both engines — scaled to an
    // exact long BEFORE the cross-row sum, so no FP association), the
    // rest is exact counting. Output is O(sources).
    "q206_corpus_datasheet" -> QueryDef(
      fn = (s, d) => {
        // shared token column (the q204 lesson): quality, langId,
        // token count and fingerprint all read ONE tokenization
        val q = TF2.qualityScoreOfTokens(col("text"), col("__ts"),
          TF2.langMarkers("en"))
        val base = t(s, d, "documents")
          .select(col("source"), col("text"), TF2.tokens(col("text")).as("__ts"))
          .select(col("source"),
            size(col("__ts")).cast("long").as("__tk"),
            floor(q * 10000.0 + 0.5).cast("long").as("__q4"),
            (TF2.langIdOfTokens(col("__ts")) === "en").cast("long").as("__en"),
            TF2.fingerprintOfTokens(col("__ts")).as("__fp"))
          // the '*' row needs a GLOBAL distinct-fingerprint count (not
          // composable from per-source distincts when dupes cross
          // sources), so two aggregation passes are inherent — pin the
          // text pipeline so quality/langId/fingerprint run ONCE
          .localCheckpoint(eager = true)
        def report(g: org.apache.spark.sql.RelationalGroupedDataset) = g
          .agg(count(lit(1)).as("n_docs"), sum(col("__tk")).as("n_tokens"),
            sum(col("__q4")).as("__sq"), sum(col("__en")).as("__ne"),
            countDistinct(col("__fp")).as("__nfp"))
        val per = report(base.groupBy("source"))
        val all = report(base.groupBy()).select(lit("*").as("source"),
          col("n_docs"), col("n_tokens"), col("__sq"), col("__ne"), col("__nfp"))
        per.unionByName(all)
          .select(col("source"), col("n_docs"), col("n_tokens"),
            round(col("__sq").cast("double")
              / col("n_docs").cast("double") / 10000.0, 6).as("mean_quality"),
            round(col("__ne").cast("double") / col("n_docs").cast("double"), 6)
              .as("share_en"),
            round(lit(1.0) - col("__nfp").cast("double")
              / col("n_docs").cast("double"), 6).as("dup_rate"))
          .orderBy("source")
      },
      oracle = Some {
        val langs = graft.functions.TextFunctions.langMarkers.toSeq.sortBy(_._1)
        val scores = langs.map { case (l, ws) => s"${hitCountSql(ws)} AS s_$l" }.mkString(", ")
        val best = langs.map { case (l, _) => s"s_$l" }.mkString("greatest(", ", ", ")")
        val cases = langs.map { case (l, _) => s"WHEN s_$l > 0 AND s_$l = best THEN '$l'" }.mkString(" ")
        s"""
        WITH base AS (SELECT doc_id, source, text, $toksSql AS toks FROM documents),
        q AS (SELECT doc_id, $qualityExprSql AS quality FROM ($qualityInnerSql)),
        lang AS (SELECT doc_id, CASE $cases ELSE 'und' END AS lang_guess
                 FROM (SELECT doc_id, $scores, $best AS best FROM base)),
        r AS (SELECT base.source, len(base.toks) AS tk,
                     CAST(floor(q.quality * 10000.0 + 0.5) AS BIGINT) AS q4,
                     CASE WHEN lang.lang_guess = 'en' THEN 1 ELSE 0 END AS en,
                     md5(array_to_string(base.toks, ' ')) AS fp
              FROM base JOIN q ON base.doc_id = q.doc_id
                        JOIN lang ON base.doc_id = lang.doc_id),
        g AS (SELECT source, count(*) AS n_docs,
                     CAST(sum(tk) AS BIGINT) AS n_tokens,
                     CAST(sum(q4) AS BIGINT) AS sq,
                     CAST(sum(en) AS BIGINT) AS ne,
                     CAST(count(DISTINCT fp) AS BIGINT) AS nfp
              FROM r GROUP BY source
              UNION ALL
              SELECT '*', count(*), CAST(sum(tk) AS BIGINT),
                     CAST(sum(q4) AS BIGINT), CAST(sum(en) AS BIGINT),
                     CAST(count(DISTINCT fp) AS BIGINT)
              FROM r)
        SELECT source, n_docs, n_tokens,
               round(CAST(sq AS DOUBLE) / CAST(n_docs AS DOUBLE) / 10000.0, 6)
                 AS mean_quality,
               round(CAST(ne AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS share_en,
               round(1.0 - CAST(nfp AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
                 AS dup_rate
        FROM g ORDER BY source"""
      }),

    // Item-item cosine similarity from co-occurrence (the classic
    // item-based collaborative-filtering score): q174's raw pair
    // support NORMALIZED by item popularity — cos(i,j) = co-baskets /
    // sqrt(baskets_i * baskets_j) — so ubiquitous items stop dominating.
    // Everything is exact integers until the one sqrt+division (fixed
    // order, identical both engines); top-20 is a TakeOrdered with
    // full id tie-break. Item sizes broadcast onto the bounded pair
    // frame; baskets never self-join beyond the Apriori-pruned q174 op.
    "q207_item_cosine" -> QueryDef(
      fn = (s, d) => {
        val po = t(s, d, "lineitem")
          .select(col("l_orderkey").as("b"), col("l_partkey").as("i")).distinct()
          .localCheckpoint(eager = true) // pairs + item sizes share it
        val sizes = po.groupBy("i").agg(count(lit(1)).as("__n"))
        val pairs = graft.ops.Baskets.frequentItemPairs(po, "b", "i", 2L)
        pairs
          .join(broadcast(sizes.select(col("i").as("item_a"), col("__n").as("n_a"))),
            "item_a")
          .join(broadcast(sizes.select(col("i").as("item_b"), col("__n").as("n_b"))),
            "item_b")
          .select(col("item_a"), col("item_b"), col("support"),
            col("n_a"), col("n_b"),
            round(col("support").cast("double")
              / sqrt((col("n_a") * col("n_b")).cast("double")), 6).as("cosine"))
          .orderBy(col("cosine").desc, col("item_a"), col("item_b"))
          .limit(20)
      },
      oracle = Some("""
        WITH po AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
        sz AS (SELECT i, count(*) AS n FROM po GROUP BY 1),
        e AS (SELECT a.i AS item_a, b.i AS item_b, count(*) AS support
              FROM po a JOIN po b ON a.b = b.b AND a.i < b.i
              GROUP BY 1, 2 HAVING count(*) >= 2)
        SELECT e.item_a, e.item_b, e.support, sa.n AS n_a, sb.n AS n_b,
               round(CAST(e.support AS DOUBLE)
                     / sqrt(CAST(sa.n * sb.n AS DOUBLE)), 6) AS cosine
        FROM e JOIN sz sa ON e.item_a = sa.i
               JOIN sz sb ON e.item_b = sb.i
        ORDER BY cosine DESC, item_a, item_b LIMIT 20""")),

    // Weight-of-evidence feature binning — the credit-scoring /
    // feature-engineering encode (quantile bins -> per-bin ln(pos
    // share / neg share)). Bins are exact quartiles of the INTEGER
    // quantity axis (pinned percentile ≡ quantile_cont parity, one
    // 1-row broadcast); the WOE of each bin is ln() OF AN EXACT
    // INTEGER RATIONAL (pos_b·neg_tot)/(neg_b·pos_tot) — the q169
    // bit-replayable-transcendental rule — and the IV contribution is
    // emitted PER BIN (no cross-bin double sum). One scan + one
    // 4-group agg.
    "q208_woe_binning" -> QueryDef(
      fn = (s, d) => {
        val li = t(s, d, "lineitem")
          .select(col("l_quantity").cast("long").as("__q"),
            (col("l_returnflag") === "R").cast("long").as("__pos"))
          .localCheckpoint(eager = true) // quartiles + binning share it
        val qs = li.agg(
          expr("percentile(__q, 0.25)").as("__q1"),
          expr("percentile(__q, 0.5)").as("__q2"),
          expr("percentile(__q, 0.75)").as("__q3"))
        val binned = li.crossJoin(broadcast(qs))
          .select(when(col("__q").cast("double") <= col("__q1"), 0)
            .when(col("__q").cast("double") <= col("__q2"), 1)
            .when(col("__q").cast("double") <= col("__q3"), 2)
            .otherwise(3).cast("int").as("bin"), col("__pos"))
        val perBin = binned.groupBy("bin")
          .agg(count(lit(1)).as("n"), sum(col("__pos")).as("n_pos"))
          .withColumn("n_neg", col("n") - col("n_pos"))
        val tot = perBin.agg(sum(col("n_pos")).as("__pt"),
          sum(col("n_neg")).as("__nt"))
        perBin.crossJoin(broadcast(tot))
          .select(col("bin"), col("n"), col("n_pos"), col("n_neg"),
            round(log((col("n_pos") * col("__nt")).cast("double")
              / (col("n_neg") * col("__pt")).cast("double")), 6).as("woe"),
            round((col("n_pos").cast("double") / col("__pt").cast("double")
              - col("n_neg").cast("double") / col("__nt").cast("double"))
              * log((col("n_pos") * col("__nt")).cast("double")
                / (col("n_neg") * col("__pt")).cast("double")), 6)
              .as("iv_contrib"))
          .orderBy("bin")
      },
      oracle = Some("""
        WITH li AS (SELECT CAST(l_quantity AS BIGINT) AS q,
                           CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
                    FROM lineitem),
        qs AS (SELECT quantile_cont(q, 0.25) AS q1, quantile_cont(q, 0.5) AS q2,
                      quantile_cont(q, 0.75) AS q3 FROM li),
        b AS (SELECT CASE WHEN CAST(q AS DOUBLE) <= qs.q1 THEN 0
                          WHEN CAST(q AS DOUBLE) <= qs.q2 THEN 1
                          WHEN CAST(q AS DOUBLE) <= qs.q3 THEN 2
                          ELSE 3 END AS bin, pos
              FROM li CROSS JOIN qs),
        pb AS (SELECT bin, count(*) AS n, CAST(sum(pos) AS BIGINT) AS n_pos,
                      count(*) - CAST(sum(pos) AS BIGINT) AS n_neg
               FROM b GROUP BY bin),
        tt AS (SELECT CAST(sum(n_pos) AS BIGINT) AS pt,
                      CAST(sum(n_neg) AS BIGINT) AS nt FROM pb)
        SELECT CAST(bin AS INT) AS bin, n, n_pos, n_neg,
               round(ln(CAST(n_pos * tt.nt AS DOUBLE)
                        / CAST(n_neg * tt.pt AS DOUBLE)), 6) AS woe,
               round((CAST(n_pos AS DOUBLE) / CAST(tt.pt AS DOUBLE)
                      - CAST(n_neg AS DOUBLE) / CAST(tt.nt AS DOUBLE))
                     * ln(CAST(n_pos * tt.nt AS DOUBLE)
                          / CAST(n_neg * tt.pt AS DOUBLE)), 6) AS iv_contrib
        FROM pb CROSS JOIN tt ORDER BY bin""")),

    // CUSUM change-point detection over the daily revenue series — the
    // "did the metric shift and WHEN" monitor. The cumulative deviation
    // is kept EXACT by scaling: C_k = D·Σ_{i≤k} s_i − k·S_tot (all
    // integer cents — same argmax as the rational mean-deviation
    // cusum); the peak day is a deterministic argmax (|C| desc, day
    // asc). The corpus aggregates to O(days) in pass one; the cumsum
    // window rides the tiny day frame.
    "q209_cusum_changepoint" -> QueryDef(
      fn = (s, d) => {
        val daily = t(s, d, "events").filter(col("value").isNotNull)
          .groupBy(date_trunc("day", col("ts")).as("day"))
          .agg(sum(cents(col("value"))).as("__s"))
          .localCheckpoint(eager = true) // totals + cumsum share it
        val tot = daily.agg(count(lit(1)).as("__dd"), sum(col("__s")).as("__st"))
        val w = Window.orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val withC = daily.crossJoin(broadcast(tot))
          .withColumn("__k", count(lit(1)).over(w))
          .withColumn("cusum_scaled",
            col("__dd") * sum(col("__s")).over(w) - col("__k") * col("__st"))
        val peak = withC
          .select(max(abs(col("cusum_scaled"))).as("__peak"))
        withC.crossJoin(broadcast(peak))
          .select(col("day"),
            round(col("__s").cast("double") / 100.0, 2).as("day_revenue"),
            col("cusum_scaled"),
            (abs(col("cusum_scaled")) === col("__peak")).as("is_changepoint"))
          .orderBy("day")
      },
      oracle = Some(s"""
        WITH daily AS (SELECT date_trunc('day', ts) AS day,
                              CAST(sum(${centsSql("value")}) AS BIGINT) AS s
                       FROM events WHERE value IS NOT NULL GROUP BY 1),
        tot AS (SELECT count(*) AS dd, CAST(sum(s) AS BIGINT) AS st FROM daily),
        c AS (SELECT day, s,
                     tot.dd * CAST(sum(s) OVER (ORDER BY day
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT)
                       - (row_number() OVER (ORDER BY day)) * tot.st
                       AS cusum_scaled
              FROM daily CROSS JOIN tot),
        pk AS (SELECT max(abs(cusum_scaled)) AS peak FROM c)
        SELECT day, round(CAST(s AS DOUBLE) / 100.0, 2) AS day_revenue,
               cusum_scaled,
               abs(cusum_scaled) = pk.peak AS is_changepoint
        FROM c CROSS JOIN pk ORDER BY day""")),

    // In-engine BPE TOKENIZER TRAINING (3 merge iterations) — the
    // tokenizer-fit loop q108 only counts one level of: per iteration,
    // count all adjacent token pairs corpus-wide, adopt the most
    // frequent (count desc, pair asc — deterministic), and REWRITE the
    // corpus with the merged token. The merge is boundary-exact via the
    // double-space trick: tokens rendered '  '-separated, the pattern
    // ' a  b ' consumes ONE space each side and the replacement
    // ' a_b ' restores them, so back-to-back merge sites (x a b a b x)
    // both fire while overlapping sites (a a a) merge leftmost-only —
    // true BPE semantics with plain literal replace(), identical
    // engine-portable scan order, no UDF. Counting is adjacent-position
    // (overlapping) — the standard BPE counting step. Each iteration =
    // one explode+agg (TakeOrdered(1) pick broadcast back) + one
    // map-side rewrite, corpus localCheckpointed per round (the
    // iterative lineage rule). Output: the 3 adopted merges.
    "q210_bpe_train" -> QueryDef(
      fn = (s, d) => {
        // the loop lives in ops/Bpe.scala since round 11 (q285 encodes
        // with the merges this trains) — byte-identical semantics
        graft.ops.Bpe.train(
            t(s, d, "documents").select(col("doc_id"),
              array_join(TF2.tokens(col("text")), " ").as("__t")),
            "doc_id", "__t", rounds = 3)
          .orderBy("iteration")
      },
      oracle = Some(s"""
        WITH ${bpeTrainCtes(3)}
        SELECT 1 AS iteration, pair AS merged_pair,
               CAST(c AS BIGINT) AS occurrences FROM m1
        UNION ALL SELECT 2, pair, CAST(c AS BIGINT) FROM m2
        UNION ALL SELECT 3, pair, CAST(c AS BIGINT) FROM m3
        ORDER BY iteration""")),

    // BPE ENCODE with the trained merges table — the consumer q210 was
    // missing: training adopts merges, but nothing applied a merges
    // table to tokenize a corpus (every token count in the mixing
    // family q164/q236/q233 would use the encoder in production). The
    // merges come from the SAME 3-round training and are collected to
    // the driver (bounded: one row per round — a vocab budget, never
    // corpus-sized), then compile into a literal replace chain applied
    // to the ORIGINAL corpus in one map-side projection — zero shuffles
    // for the encode itself. encode(t0, train(t0)) == the training
    // loop's final corpus by construction, which is exactly what the
    // oracle's unrolled CTE replay (shared with q210 via bpeTrainCtes,
    // so the two cannot drift) checks: per-doc token counts before and
    // after, plus the integer-grid compression ratio.
    "q285_bpe_encode" -> QueryDef(
      fn = (s, d) => {
        val corpus = t(s, d, "documents")
          .select(col("doc_id"),
            array_join(TF2.tokens(col("text")), " ").as("__t"))
          .localCheckpoint(eager = true) // train and encode share it
        val merges = graft.ops.Bpe.train(corpus, "doc_id", "__t", rounds = 3)
          .orderBy("iteration")
          .collect().map(_.getString(1)).toSeq // bounded: 1 row per round
        corpus
          .select(col("doc_id"), col("__t"),
            graft.ops.Bpe.encodeCol(col("__t"), merges).as("__e"))
          .select(col("doc_id"),
            when(col("__t") === "", lit(0L))
              .otherwise(size(split(col("__t"), " ")).cast("long"))
              .as("n_tokens_before"),
            when(col("__e") === "", lit(0L))
              .otherwise(size(split(col("__e"), " ")).cast("long"))
              .as("n_tokens_after"))
          .withColumn("compression_e6",
            expr("(n_tokens_after * 1000000L) div greatest(n_tokens_before, 1L)"))
          .orderBy("doc_id")
      },
      oracle = Some(s"""
        WITH ${bpeTrainCtes(3)},
        cnt AS (SELECT t0.doc_id,
                       CAST(CASE WHEN t0.t = '' THEN 0
                            ELSE len(string_split(t0.t, ' ')) END AS BIGINT)
                         AS n_tokens_before,
                       CAST(CASE WHEN t3.t = '' THEN 0
                            ELSE len(string_split(t3.t, ' ')) END AS BIGINT)
                         AS n_tokens_after
                FROM t0 JOIN t3 ON t0.doc_id = t3.doc_id)
        SELECT doc_id, n_tokens_before, n_tokens_after,
               CAST(n_tokens_after * 1000000 // greatest(n_tokens_before, 1)
                 AS BIGINT) AS compression_e6
        FROM cnt ORDER BY doc_id""")),

    // RFM segmentation — the classic customer-scoring pass (recency /
    // frequency / monetary quartile codes, segment census). All three
    // axes are exact integers (days-since-corpus-max, counts, cents);
    // quartile boundaries ride the pinned percentile ≡ quantile_cont
    // parity and arrive as ONE 1-row broadcast; the segment code is
    // pure integer arithmetic. One corpus agg + one census agg.
    "q211_rfm_segments" -> QueryDef(
      fn = (s, d) => {
        val perUser = t(s, d, "events").filter(col("value").isNotNull)
          .groupBy("user_id")
          .agg(max(unix_micros(col("ts"))).as("__last"),
            count(lit(1)).as("__f"), sum(cents(col("value"))).as("__m"))
          .localCheckpoint(eager = true) // quartiles + coding share it
        val gmax = perUser.agg(max(col("__last")).as("__gmax"))
        val withR = perUser.crossJoin(broadcast(gmax))
          .select(col("user_id"),
            floor((col("__gmax") - col("__last")).cast("double") / 86400000000.0)
              .cast("long").as("__r"),
            col("__f"), col("__m"))
          .localCheckpoint(eager = true)
        val qs = withR.agg(
          expr("percentile(__r, 0.25)").as("r1"), expr("percentile(__r, 0.5)").as("r2"),
          expr("percentile(__r, 0.75)").as("r3"),
          expr("percentile(__f, 0.25)").as("f1"), expr("percentile(__f, 0.5)").as("f2"),
          expr("percentile(__f, 0.75)").as("f3"),
          expr("percentile(__m, 0.25)").as("m1"), expr("percentile(__m, 0.5)").as("m2"),
          expr("percentile(__m, 0.75)").as("m3"))
        def code(c: org.apache.spark.sql.Column, q1: String, q2: String, q3: String) =
          when(c.cast("double") <= col(q1), 1)
            .when(c.cast("double") <= col(q2), 2)
            .when(c.cast("double") <= col(q3), 3).otherwise(4)
        // recency: LOWER days = better = higher code (5 - ascending code)
        val rCode = lit(5) - code(col("__r"), "r1", "r2", "r3")
        withR.crossJoin(broadcast(qs))
          .select((rCode * 100 + code(col("__f"), "f1", "f2", "f3") * 10
            + code(col("__m"), "m1", "m2", "m3")).cast("int").as("segment"),
            col("__m"))
          .groupBy("segment")
          .agg(count(lit(1)).as("n_users"),
            round(sum(col("__m")).cast("double") / 100.0, 2).as("total_monetary"))
          .orderBy("segment")
      },
      oracle = Some(s"""
        WITH pu AS (SELECT user_id, max(epoch_us(ts)) AS last_us,
                           count(*) AS f,
                           CAST(sum(${centsSql("value")}) AS BIGINT) AS m
                    FROM events WHERE value IS NOT NULL GROUP BY 1),
        gm AS (SELECT max(last_us) AS gmax FROM pu),
        wr AS (SELECT user_id,
                      CAST(floor(CAST(gm.gmax - pu.last_us AS DOUBLE)
                                 / 86400000000.0) AS BIGINT) AS r,
                      f, m
               FROM pu CROSS JOIN gm),
        qs AS (SELECT quantile_cont(r, 0.25) AS r1, quantile_cont(r, 0.5) AS r2,
                      quantile_cont(r, 0.75) AS r3,
                      quantile_cont(f, 0.25) AS f1, quantile_cont(f, 0.5) AS f2,
                      quantile_cont(f, 0.75) AS f3,
                      quantile_cont(m, 0.25) AS m1, quantile_cont(m, 0.5) AS m2,
                      quantile_cont(m, 0.75) AS m3
               FROM wr),
        sc AS (SELECT (5 - (CASE WHEN CAST(r AS DOUBLE) <= qs.r1 THEN 1
                                 WHEN CAST(r AS DOUBLE) <= qs.r2 THEN 2
                                 WHEN CAST(r AS DOUBLE) <= qs.r3 THEN 3
                                 ELSE 4 END)) * 100
                      + (CASE WHEN CAST(f AS DOUBLE) <= qs.f1 THEN 1
                              WHEN CAST(f AS DOUBLE) <= qs.f2 THEN 2
                              WHEN CAST(f AS DOUBLE) <= qs.f3 THEN 3
                              ELSE 4 END) * 10
                      + (CASE WHEN CAST(m AS DOUBLE) <= qs.m1 THEN 1
                              WHEN CAST(m AS DOUBLE) <= qs.m2 THEN 2
                              WHEN CAST(m AS DOUBLE) <= qs.m3 THEN 3
                              ELSE 4 END) AS segment,
                      m
               FROM wr CROSS JOIN qs)
        SELECT CAST(segment AS INT) AS segment, count(*) AS n_users,
               round(CAST(sum(m) AS DOUBLE) / 100.0, 2) AS total_monetary
        FROM sc GROUP BY segment ORDER BY segment""")),

    // Spark 4 `transformWithState` — the successor arbitrary-state
    // streaming API (typed per-key state handles + TTL + timers, RocksDB
    // state store): live per-user running totals maintained in a
    // ValueState across micro-batches. The events are staged as TWO
    // slices split by event_id parity (stageSlices), fed one-per-trigger:
    // every user spans both batches, so the state GENUINELY crosses
    // batch boundaries (a single batch would never read state back);
    // the memory sink runs in update mode, so the final per-user row is
    // the max-(n, spend) struct — totals are monotone. Both
    // accumulators are exact longs ⇒ stream/batch parity is exact, and
    // the oracle is the plain batch groupBy twin. Conf is scoped to a
    // cloned session (the q158 rule).
    "q212_stream_running_state" -> QueryDef(
      fn = (s, d) => {
        val ev = t(s, d, "events").filter(col("value").isNotNull)
        val even = col("event_id") % 2 === 0
        val dir = stageSlices(Seq(ev.filter(even), ev.filter(!even))
          .map(_.select(col("user_id"), cents(col("value")).as("cents"))))
        val table = try {
          val sess = streamingSession(s)
          sess.conf.set("spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
          import sess.implicits._
          val out = stagedEventsStream(sess, dir, oneFilePerTrigger = true)
            .as[graft.streaming.UserSpend]
            .groupByKey(_.user_id)
            .transformWithState(new graft.streaming.RunningTotalsProcessor,
              org.apache.spark.sql.streaming.TimeMode.None(),
              org.apache.spark.sql.streaming.OutputMode.Update())
          runToMemoryTable(out.toDF(), "q212_mem", outputMode = "update")
        } finally dropStaged(dir)
        table
          .groupBy("user_id")
          .agg(max(struct(col("n_events"), col("spend_cents"))).as("__t"))
          .select(col("user_id"), col("__t.n_events").as("n_events"),
            round(col("__t.spend_cents").cast("double") / 100.0, 2).as("spend"))
          .orderBy("user_id")
      },
      oracle = Some(s"""
        SELECT user_id, count(*) AS n_events,
               round(CAST(sum(${centsSql("value")}) AS DOUBLE) / 100.0, 2)
                 AS spend
        FROM events WHERE value IS NOT NULL
        GROUP BY user_id ORDER BY user_id"""),
      bench = true, streaming = true),

    // Perceptual average-hash near-dup detection (the media-dedup
    // algorithm family: decode -> aHash -> banded blocking -> Hamming
    // verify). Half the corpus ships as REAL binary Netpbm (P5) images —
    // built from the normalized text's 32 stride-sampled character codes
    // as pixel bytes — and is container-DECODED back to pixels by
    // Multimodal.sampleCodes (header parse + pixel-region slice in a
    // mapPartitions pass); the other half ships raw text bytes and takes
    // the stride-sampling fallback. Both routes land on the same 32
    // evenly spaced codes, so one DuckDB oracle replays generator ==
    // encode->decode->sample. Each hash bit = "code*32 > sum(codes)"
    // (EXACT integer compare — no FP mean) packed into a 32-bit hash;
    // candidates block on four 8-bit bands (a pair must agree on >= 1
    // band — Hamming <= 3 guarantees it by pigeonhole), verified with
    // bit_count(xor) <= 3. Injected one-character-edit twins make the
    // result non-vacuous at every sf (same length ⇒ sampling positions
    // unchanged ⇒ Hamming <= 2). ASCII-only (lang='en') keeps the
    // byte/char-code identity and Spark ascii() ≡ DuckDB ord().
    "q214_media_ahash" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val base0 = t(s, d, "documents").filter(col("lang") === "en")
          .select(col("doc_id"),
            array_join(TF2.tokens(col("text")), " ").as("__n"))
        val twins = base0.filter(col("doc_id") % 20 === 0)
          .select((col("doc_id") + 700000).as("doc_id"),
            concat(lit("z"), substring(col("__n"), 2, 1000000)).as("__n"))
        val base = base0.unionAll(twins).filter(length(col("__n")) >= 32)
        // sampling stride: /32.0 is a power-of-two division — EXACT for
        // these int magnitudes, so floor ≡ DuckDB's integer `// 32`
        val sampledChars = array_join(transform(sequence(lit(1), lit(32)),
          i => substring(col("__n"),
            (lit(1) + floor(((i - 1) * length(col("__n"))).cast("double") / 32.0))
              .cast("int"),
            lit(1))), "")
        // even docs: a REAL 32x1 grayscale P5 container (pixels = the
        // sampled codes); odd docs: raw text bytes -> fallback sampling
        val media = base.select(col("doc_id").as("media_id"),
            when(col("doc_id") % 2 === 0, lit("image")).otherwise(lit("text"))
              .as("kind"),
            when(col("doc_id") % 2 === 0,
              encode(concat(lit("P5\n32 1\n255\n"), sampledChars), "UTF-8"))
              .otherwise(encode(col("__n"), "UTF-8")).as("payload"))
          .as[graft.ops.Multimodal.MediaRow]
        // bit weights as exact powers of two in DOUBLE (sums of distinct
        // 2^i < 2^32 are exact); shiftleft() takes only a literal count
        val hash = aggregate(
          zip_with(col("__codes"), sequence(lit(0), lit(31)),
            (c, i) => when(c * 32 > col("__sum"), pow(lit(2.0), i.cast("double")))
              .otherwise(lit(0.0))),
          lit(0.0), (acc, x) => acc + x).cast("long")
        val hashed = graft.ops.Multimodal.sampleCodes(media)
          .toDF("doc_id", "__codes")
          .select(col("doc_id"), col("__codes"),
            aggregate(col("__codes"), lit(0L), (a, x) => a + x).as("__sum"))
          .select(col("doc_id"), hash.as("__h"))
          .localCheckpoint(eager = true) // banding + verify share it
        val banded = hashed.select(col("doc_id"), col("__h"),
          explode(sequence(lit(0), lit(3))).as("__b"))
          .select(col("doc_id"), col("__h"), col("__b"),
            // h / 2^(8b) truncated = >> (h is non-negative, 2^k exact)
            (col("__h").cast("double") / pow(lit(2.0), (col("__b") * 8).cast("double")))
              .cast("long").bitwiseAND(255L).as("__bv"))
        val a = banded.select(col("__b"), col("__bv"),
          col("doc_id").as("id_a"), col("__h").as("__ha"))
        val b = banded.select(col("__b"), col("__bv"),
          col("doc_id").as("id_b"), col("__h").as("__hb"))
        a.join(b, Seq("__b", "__bv"))
          .filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"),
            bit_count(col("__ha").bitwiseXOR(col("__hb"))).cast("long")
              .as("hamming"))
          .distinct()
          .filter(col("hamming") <= 3)
          .orderBy("id_a", "id_b")
      },
      oracle = Some(s"""
        WITH b0 AS (SELECT doc_id, array_to_string($toksSql, ' ') AS n
                    FROM documents WHERE lang = 'en'),
        tw AS (SELECT doc_id + 700000 AS doc_id,
                      'z' || substr(n, 2) AS n
               FROM b0 WHERE doc_id % 20 = 0),
        base AS (SELECT * FROM (SELECT * FROM b0 UNION ALL SELECT * FROM tw)
                 WHERE length(n) >= 32),
        cs AS (SELECT doc_id,
                      list_transform(generate_series(1, 32),
                        i -> CAST(ord(substr(n,
                          CAST(1 + ((i - 1) * length(n)) // 32 AS INT), 1))
                          AS BIGINT)) AS codes
               FROM base),
        hs AS (SELECT doc_id,
                      list_sum(list_transform(generate_series(1, 32),
                        i -> CASE WHEN codes[i] * 32 > list_sum(codes)
                             THEN CAST(1 AS BIGINT) << (i - 1)
                             ELSE CAST(0 AS BIGINT) END)) AS h
               FROM cs),
        bd AS (SELECT doc_id, h, b, (h >> (8 * b)) & 255 AS bv
               FROM hs CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b)),
        cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                        CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
                 FROM bd a JOIN bd b ON a.b = b.b AND a.bv = b.bv
                                    AND a.doc_id < b.doc_id)
        SELECT id_a, id_b, hamming FROM cand
        WHERE hamming <= 3 ORDER BY id_a, id_b""")),

    // Deterministic bootstrap confidence interval for the mean — the
    // uncertainty-quantification pass (hash-resampled replicas instead
    // of an RNG, so every engine replays the identical resample):
    // 16 Poisson-ish integer weights w = md5(id, b) mod 4 per row and
    // replica, replica means from EXACT long sums, the CI from the
    // pinned percentile parity over the 16-value mean list. The corpus
    // expands 16x MAP-SIDE (explode of a literal sequence — no
    // shuffle) and aggregates straight down to 16 rows.
    "q215_bootstrap_ci" -> QueryDef(
      fn = (s, d) => {
        val w = (conv(substring(md5(concat(col("event_id").cast("string"),
          lit("_"), col("__b").cast("string"))), 1, 2), 16, 10)
          .cast("long") % 4).as("__w")
        val reps = t(s, d, "events").filter(col("value").isNotNull)
          .select(col("event_id"), cents(col("value")).as("__y"),
            explode(sequence(lit(1), lit(16))).as("__b"))
          .select(col("__b"), col("__y"), w)
        val perRep = reps.groupBy("__b")
          .agg(sum(col("__w")).as("__n"), sum(col("__w") * col("__y")).as("__s"))
          .select(col("__b"),
            (col("__s").cast("double") / col("__n").cast("double")).as("__m"))
        val point = t(s, d, "events").filter(col("value").isNotNull)
          .agg(count(lit(1)).as("n"),
            round(avg(cents(col("value"))).cast("double") / 100.0, 6)
              .as("mean_value"))
        point.crossJoin(broadcast(perRep.agg(
          round(expr("percentile(__m, 0.05)") / 100.0, 6).as("boot_lo"),
          round(expr("percentile(__m, 0.95)") / 100.0, 6).as("boot_hi"))))
      },
      oracle = Some(s"""
        WITH reps AS (SELECT b, ${centsSql("value")} AS y,
                             CAST(('0x' || substring(md5(concat(
                               CAST(event_id AS VARCHAR), '_',
                               CAST(b AS VARCHAR))), 1, 2)) AS BIGINT) % 4 AS w
                      FROM events CROSS JOIN
                        (SELECT unnest(generate_series(1, 16)) AS b)
                      WHERE value IS NOT NULL),
        pr AS (SELECT b, CAST(sum(w * y) AS DOUBLE)
                         / CAST(sum(w) AS DOUBLE) AS m
               FROM reps GROUP BY b),
        pt AS (SELECT count(*) AS n,
                      round(avg(${centsSql("value")}) / 100.0, 6) AS mean_value
               FROM events WHERE value IS NOT NULL),
        ci AS (SELECT round(quantile_cont(m, 0.05) / 100.0, 6) AS boot_lo,
                      round(quantile_cont(m, 0.95) / 100.0, 6) AS boot_hi
               FROM pr)
        SELECT n, mean_value, boot_lo, boot_hi FROM pt CROSS JOIN ci""")),

    // EXACT sliding-window distinct ("rolling 7-day reach") — the
    // hardest of the rolling metrics: distinct does NOT decompose over
    // window panes, so the naive per-day recount scans the window 7x.
    // The contribution-interval trick makes it ONE bounded pass: each
    // (type, user, active-day) row CONTRIBUTES to report days
    // day..day+6 (a 7-wide explode of a literal sequence — map-side),
    // dedup (type, user, report_day), count. State never exceeds
    // |distinct triples| x 7. The oracle is the direct correlated
    // recount — the two formulations must agree exactly.
    "q216_rolling_reach" -> QueryDef(
      fn = (s, d) => {
        val ud = t(s, d, "events")
          .select(col("event_type"), col("user_id"),
            to_date(date_trunc("day", col("ts"))).as("__day"))
          .distinct()
          .localCheckpoint(eager = true) // contribution + days-list share it
        val days = ud.select(col("event_type"), col("__day").as("day")).distinct()
        val covered = ud
          .select(col("event_type"), col("user_id"),
            explode(sequence(col("__day"), date_add(col("__day"), 6))).as("day"))
          .distinct()
        covered.join(days, Seq("event_type", "day"))
          .groupBy("event_type", "day")
          .agg(count(lit(1)).as("reach7"))
          // DATE arithmetic internally; TIMESTAMP at the boundary (the
          // comparator normalizes datetimes, not raw dates)
          .select(col("event_type"), col("day").cast("timestamp").as("day"),
            col("reach7"))
          .orderBy("event_type", "day")
      },
      oracle = Some("""
        WITH ud AS (SELECT DISTINCT event_type, user_id,
                           CAST(date_trunc('day', ts) AS DATE) AS day
                    FROM events),
        days AS (SELECT DISTINCT event_type, day FROM ud)
        SELECT d.event_type, CAST(d.day AS TIMESTAMP) AS day,
               (SELECT count(DISTINCT u.user_id) FROM ud u
                WHERE u.event_type = d.event_type
                  AND u.day BETWEEN d.day - INTERVAL 6 DAY AND d.day) AS reach7
        FROM days d ORDER BY 1, 2""")),

    // Top-k-with-others rollup — the reporting contract behind every
    // "top 2 suppliers + everything else" chart: per nation, the two
    // highest-revenue suppliers keep their identity, the tail collapses
    // into ONE 'other' bucket whose revenue is exact (cents compose).
    // One grouped agg, one bounded per-nation window, one re-agg —
    // the fact table shuffles once.
    "q217_topk_others" -> QueryDef(
      fn = (s, d) => {
        val rev = t(s, d, "lineitem")
          .join(broadcast(t(s, d, "supplier")
            .select(col("s_suppkey"), col("s_nationkey"))),
            col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("s_nationkey").as("nation"), col("l_suppkey").as("supp"))
          .agg(sum(cents(col("l_extendedprice")) *
            (lit(100L) - cents(col("l_discount")))).as("__rc"))
        val ranked = rev.withColumn("__rn",
          row_number().over(Window.partitionBy(col("nation"))
            .orderBy(col("__rc").desc, col("supp").asc)))
        ranked
          .select(col("nation"),
            when(col("__rn") <= 2, concat(lit("supplier_"), col("supp")))
              .otherwise("other").as("member"),
            col("__rc"))
          .groupBy("nation", "member")
          .agg(round(sum(col("__rc")).cast("double") / 10000.0, 2).as("revenue"))
          .orderBy("nation", "member")
      },
      oracle = Some(s"""
        WITH rev AS (SELECT s.s_nationkey AS nation, l.l_suppkey AS supp,
                            CAST(sum(${centsSql("l_extendedprice")}
                              * (100 - ${centsSql("l_discount")})) AS BIGINT) AS rc
                     FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
                     GROUP BY 1, 2),
        rk AS (SELECT nation, supp, rc,
                      row_number() OVER (PARTITION BY nation
                        ORDER BY rc DESC, supp ASC) AS rn
               FROM rev)
        SELECT nation,
               CASE WHEN rn <= 2 THEN 'supplier_' || CAST(supp AS VARCHAR)
                    ELSE 'other' END AS member,
               round(CAST(sum(rc) AS DOUBLE) / 10000.0, 2) AS revenue
        FROM rk GROUP BY 1, 2 ORDER BY 1, 2""")),

    // FORWARD as-of join — "time to next purchase after each click": the
    // attribution/conversion-lag shape backward as-of (q43) cannot
    // express. Routed through AsOfJoin.asofAuto since round 14 (r13
    // verdict #5: the dispatcher is the default entry point) with
    // direction="forward", a 3-day micros tolerance, and the
    // deterministic min-cents tie-break at the matched instant — the
    // small purchase side lands the dispatch on the zero-shuffle
    // broadcast probe (PlanSpec pins the route; an oversize right side
    // would take the merge exec with identical output). Gap sums are
    // exact integer micros; the oracle replays the semantics as a
    // correlated min() — the two formulations must agree row-for-row.
    "q218_asof_forward" -> QueryDef(
      fn = (s, d) => {
        val ev = t(s, d, "events")
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts"))
        val purch = ev.filter(col("event_type") === "purchase"
            && col("value").isNotNull)
          .select(col("user_id"), col("ts").as("p_ts"),
            cents(col("value")).as("p_cents"))
        val joined = graft.ops.AsOfJoin.asofAuto(clicks, purch, Seq("user_id"),
          "ts", "p_ts", Seq("p_cents"),
          toleranceMicros = Some(3L * 24L * 3600L * 1000000L),
          rightTieBreak = Seq(("p_cents", true)), direction = "forward")
        joined.groupBy("user_id")
          .agg(count(lit(1)).as("n_clicks"),
            count(col("asof_ts")).as("n_converted"),
            // floor-snap, not round(): the engines' round() tie-break
            // semantics differ (HALF_UP vs half-even) and this average
            // actually straddles a 1e-6 boundary at sf0.1
            (floor(sum(unix_micros(col("asof_ts")) - unix_micros(col("ts")))
              .cast("double") / count(col("asof_ts")).cast("double")
              + 0.5) / 1000000.0).as("avg_gap_s"),
            round(sum(col("p_cents")).cast("double") / 100.0, 2)
              .as("sum_next_value"))
          .orderBy("user_id")
      },
      oracle = Some(s"""
        WITH c AS (SELECT event_id, user_id, ts FROM events
                   WHERE event_type = 'click'),
        p AS (SELECT user_id, ts AS pts, ${centsSql("value")} AS pc
              FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
        m AS (SELECT c.event_id, c.user_id, c.ts,
                     (SELECT min(p.pts) FROM p
                      WHERE p.user_id = c.user_id AND p.pts >= c.ts) AS mts
              FROM c),
        v AS (SELECT event_id, user_id, ts,
                     CASE WHEN mts IS NOT NULL
                            AND epoch_us(mts) - epoch_us(ts) <= 259200000000
                          THEN mts END AS vts
              FROM m),
        e AS (SELECT v.*, CASE WHEN vts IS NOT NULL THEN
                     (SELECT min(p.pc) FROM p
                      WHERE p.user_id = v.user_id AND p.pts = v.vts) END AS pc
              FROM v)
        SELECT user_id, count(*) AS n_clicks,
               count(vts) AS n_converted,
               floor(CAST(sum(epoch_us(vts) - epoch_us(ts)) AS DOUBLE)
                     / CAST(count(vts) AS DOUBLE) + 0.5) / 1000000.0
                 AS avg_gap_s,
               round(CAST(sum(pc) AS DOUBLE) / 100.0, 2) AS sum_next_value
        FROM e GROUP BY user_id ORDER BY user_id""")),

    // CAPSTONE training-data build — the full corpus-to-shards pipeline
    // in ONE query: quality/language filter (q204's shared rules) ->
    // exact-dedup canonical pick -> leakage-safe 90/10 hash split KEYED
    // BY FINGERPRINT (duplicate content can never straddle splits) ->
    // concat-and-chunk sequence packing of the train split
    // (Pack.packSequences: two-phase prefix sum, no single-reducer
    // window). The manifest reports per split: docs, tokens, packed
    // sequences, and boundary-spanning docs — every number exact
    // integers, and the packing numbers derive from Pack's PER-DOC
    // outputs (seq_id, offset), not a closed form, so the operator
    // itself is what the oracle checks.
    "q219_training_data_build" -> QueryDef(
      fn = (s, d) => {
        val tokd = t(s, d, "documents")
          .select(col("doc_id"), col("text"), TF2.tokens(col("text")).as("__ts"))
        val scored = tokd.select(col("doc_id"),
          size(col("__ts")).cast("long").as("__tk"),
          TF2.langIdOfTokens(col("__ts")).as("__lang"),
          TF2.qualityScoreOfTokens(col("text"), col("__ts"),
            TF2.langMarkers("en")).as("__q"),
          TF2.fingerprintOfTokens(col("__ts")).as("__fp"))
        val kept = scored.filter(col("__tk") >= 20 && col("__lang") === "en"
          && col("__q") >= 0.6)
        val canon = kept.withColumn("__rn",
            row_number().over(Window.partitionBy(col("__fp"))
              .orderBy(col("doc_id"))))
          .filter(col("__rn") === 1)
          .withColumn("split",
            when(graft.ops.Sampling.inSplit(col("__fp"), 0.9), "train")
              .otherwise("eval"))
          .localCheckpoint(eager = true) // packing + both census passes
        val packed = graft.ops.Pack.packSequences(
          canon.filter(col("split") === "train")
            .select(col("doc_id"), col("__tk")),
          "doc_id", "__tk", budget = PackBudget)
        // sequence count from the END offset (a long tail doc spans past
        // its start sequence — max(seq_id)+1 would undercount)
        val trainPack = packed.agg(
          (max(expr(s"(seq_id * $PackBudget + offset_in_seq + __tk - 1) div $PackBudget")) + 1)
            .as("n_sequences"),
          sum(when(col("offset_in_seq") + col("__tk") > PackBudget, 1L).otherwise(0L))
            .as("n_spanning"))
        val census = canon.groupBy("split")
          .agg(count(lit(1)).as("n_docs"), sum(col("__tk")).as("n_tokens"))
        census.crossJoin(broadcast(trainPack))
          .select(col("split"), col("n_docs"), col("n_tokens"),
            when(col("split") === "train", col("n_sequences")).as("n_sequences"),
            when(col("split") === "train", col("n_spanning")).as("n_spanning"))
          .orderBy("split")
      },
      oracle = Some {
        val langs = graft.functions.TextFunctions.langMarkers.toSeq.sortBy(_._1)
        val scores = langs.map { case (l, ws) => s"${hitCountSql(ws)} AS s_$l" }.mkString(", ")
        val best = langs.map { case (l, _) => s"s_$l" }.mkString("greatest(", ", ", ")")
        val cases = langs.map { case (l, _) => s"WHEN s_$l > 0 AND s_$l = best THEN '$l'" }.mkString(" ")
        val trainCond = s"substring(md5(fp), 1, 8) " +
          s"< '${graft.ops.Sampling.thresholdHex(0.9)}'"
        s"""
        WITH base AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
        q AS (SELECT doc_id, $qualityExprSql AS quality FROM ($qualityInnerSql)),
        lang AS (SELECT doc_id, CASE $cases ELSE 'und' END AS lang_guess
                 FROM (SELECT doc_id, $scores, $best AS best FROM base)),
        kept AS (SELECT base.doc_id, len(base.toks) AS tk,
                        md5(array_to_string(base.toks, ' ')) AS fp
                 FROM base JOIN q ON base.doc_id = q.doc_id
                           JOIN lang ON base.doc_id = lang.doc_id
                 WHERE len(base.toks) >= 20 AND lang.lang_guess = 'en'
                   AND q.quality >= 0.6),
        canon AS (SELECT doc_id, tk, fp,
                         CASE WHEN $trainCond THEN 'train' ELSE 'eval' END
                           AS split
                  FROM (SELECT doc_id, tk, fp, row_number() OVER
                          (PARTITION BY fp ORDER BY doc_id) AS rn
                        FROM kept) WHERE rn = 1),
        tr AS (SELECT doc_id, tk,
                      CAST(coalesce(sum(tk) OVER (ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0) AS BIGINT) AS start
               FROM canon WHERE split = 'train'),
        pk AS (SELECT CAST(max(start + tk - 1) // $PackBudget + 1 AS BIGINT)
                        AS n_sequences,
                      CAST(sum(CASE WHEN start // $PackBudget
                                    <> (start + tk - 1) // $PackBudget
                                    THEN 1 ELSE 0 END) AS BIGINT) AS n_spanning
               FROM tr),
        cs AS (SELECT split, count(*) AS n_docs,
                      CAST(sum(tk) AS BIGINT) AS n_tokens
               FROM canon GROUP BY split)
        SELECT split, n_docs, n_tokens,
               CASE WHEN split = 'train' THEN pk.n_sequences END AS n_sequences,
               CASE WHEN split = 'train' THEN pk.n_spanning END AS n_spanning
        FROM cs CROSS JOIN pk ORDER BY split"""
      }),

    // Lorenz curve + exact Gini coefficient of per-user spend — the
    // concentration/inequality readout ("do 10% of users drive 50% of
    // revenue?"). Ranks and deciles come from the DISTRIBUTED exact
    // ranking machinery (Ranking.globalRowNumber / ntileExact — range
    // partition + driver offsets, never a single-reducer window); Gini
    // via the rank formula G = (2·Σi·x_i − (n+1)·Σx) / (n·Σx) with
    // every sum an exact long. Output: 10 Lorenz deciles (share +
    // cumulative share) with the Gini broadcast onto each row.
    "q220_lorenz_gini" -> QueryDef(
      fn = (s, d) => {
        val spend = t(s, d, "events").filter(col("value").isNotNull)
          .groupBy("user_id").agg(sum(cents(col("value"))).as("__x"))
        val sort = Seq(col("__x").asc, col("user_id").asc)
        val ranked = graft.ops.Ranking.globalRowNumber(spend, sort, out = "__i")
        val deciled = graft.ops.Ranking.ntileExact(ranked, 10, sort,
          out = "decile")
        val gini = ranked.agg(count(lit(1)).as("__n"),
            sum(col("__x")).as("__t"), sum(col("__i") * col("__x")).as("__ix"))
          .select(round((lit(2.0) * col("__ix").cast("double")
            - (col("__n") + 1).cast("double") * col("__t").cast("double"))
            / (col("__n").cast("double") * col("__t").cast("double")), 6)
            .as("gini"), col("__t"))
        val byDecile = deciled.groupBy("decile")
          .agg(count(lit(1)).as("n_users"), sum(col("__x")).as("__dx"))
        val cum = byDecile.crossJoin(broadcast(gini))
          .withColumn("__cx", sum(col("__dx")).over(
            Window.orderBy(col("decile"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        cum.select(col("decile").cast("int").as("decile"), col("n_users"),
            round(col("__dx").cast("double") / 100.0, 2).as("spend"),
            round(col("__dx").cast("double") / col("__t").cast("double"), 6)
              .as("spend_share"),
            round(col("__cx").cast("double") / col("__t").cast("double"), 6)
              .as("cum_share"),
            col("gini"))
          .orderBy("decile")
      },
      oracle = Some(s"""
        WITH sp AS (SELECT user_id,
                           CAST(sum(${centsSql("value")}) AS BIGINT) AS x
                    FROM events WHERE value IS NOT NULL GROUP BY 1),
        rk AS (SELECT x, row_number() OVER (ORDER BY x, user_id) AS i,
                      ntile(10) OVER (ORDER BY x, user_id) AS decile
               FROM sp),
        g AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS t,
                     CAST(sum(i * x) AS BIGINT) AS ix
              FROM rk),
        gv AS (SELECT round((2.0 * CAST(ix AS DOUBLE)
                        - CAST(n + 1 AS DOUBLE) * CAST(t AS DOUBLE))
                       / (CAST(n AS DOUBLE) * CAST(t AS DOUBLE)), 6) AS gini,
                      t
               FROM g),
        bd AS (SELECT decile, count(*) AS n_users,
                      CAST(sum(x) AS BIGINT) AS dx
               FROM rk GROUP BY decile),
        cm AS (SELECT decile, n_users, dx,
                      CAST(sum(dx) OVER (ORDER BY decile
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS cx
               FROM bd)
        SELECT CAST(cm.decile AS INT) AS decile, cm.n_users,
               round(CAST(cm.dx AS DOUBLE) / 100.0, 2) AS spend,
               round(CAST(cm.dx AS DOUBLE) / CAST(gv.t AS DOUBLE), 6)
                 AS spend_share,
               round(CAST(cm.cx AS DOUBLE) / CAST(gv.t AS DOUBLE), 6)
                 AS cum_share,
               gv.gini
        FROM cm CROSS JOIN gv ORDER BY decile""")),

    // Tukey-fence (IQR) outlier census — the third classic robust-
    // outlier rule beside the z-score (q93) and MAD (q123) families:
    // per event type, fences at Q1 − 1.5·IQR and Q3 + 1.5·IQR over
    // integer cents (pinned percentile parity — quartiles of ints
    // interpolate on exact .25 fractions, bit-equal across engines),
    // exact outlier counts per side. One grouped percentile pass, one
    // broadcast join back, one census agg.
    "q221_iqr_outliers" -> QueryDef(
      fn = (s, d) => {
        val c = t(s, d, "events").filter(col("value").isNotNull)
          .select(col("event_type"), cents(col("value")).as("__y"))
        val qs = c.groupBy("event_type")
          .agg(expr("percentile(__y, 0.25)").as("__q1"),
            expr("percentile(__y, 0.75)").as("__q3"))
        val lo = col("__q1") - lit(1.5) * (col("__q3") - col("__q1"))
        val hi = col("__q3") + lit(1.5) * (col("__q3") - col("__q1"))
        c.join(broadcast(qs), "event_type")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            round(min(lo) / 100.0, 6).as("fence_lo"),
            round(min(hi) / 100.0, 6).as("fence_hi"),
            sum(when(col("__y").cast("double") < lo, 1L).otherwise(0L))
              .as("n_below"),
            sum(when(col("__y").cast("double") > hi, 1L).otherwise(0L))
              .as("n_above"))
          .orderBy("event_type")
      },
      oracle = Some(s"""
        WITH c AS (SELECT event_type, ${centsSql("value")} AS y
                   FROM events WHERE value IS NOT NULL),
        qs AS (SELECT event_type, quantile_cont(y, 0.25) AS q1,
                      quantile_cont(y, 0.75) AS q3
               FROM c GROUP BY 1)
        SELECT c.event_type, count(*) AS n,
               round(min(qs.q1 - 1.5 * (qs.q3 - qs.q1)) / 100.0, 6) AS fence_lo,
               round(min(qs.q3 + 1.5 * (qs.q3 - qs.q1)) / 100.0, 6) AS fence_hi,
               CAST(sum(CASE WHEN CAST(y AS DOUBLE)
                      < qs.q1 - 1.5 * (qs.q3 - qs.q1) THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_below,
               CAST(sum(CASE WHEN CAST(y AS DOUBLE)
                      > qs.q3 + 1.5 * (qs.q3 - qs.q1) THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_above
        FROM c JOIN qs ON c.event_type = qs.event_type
        GROUP BY c.event_type ORDER BY c.event_type""")),

    // 2-D histogram (heatmap binning) — the OLAP density grid behind
    // every quantity-vs-discount scatter summary: both axes are exact
    // integers (quantity 1..50 in 10-wide bins, discount cents 0..10 in
    // 2-wide bins), counts and per-cell exact mean price. One grouped
    // agg, O(grid) output — the map-reduce-friendliest viz op there is.
    "q222_histogram2d" -> QueryDef(
      fn = (s, d) => {
        val qbin = (floor((col("l_quantity").cast("long") - 1)
          .cast("double") / 10.0)).cast("int")
        val dbin = (floor(cents(col("l_discount")).cast("double") / 2.0)).cast("int")
        t(s, d, "lineitem")
          .select(qbin.as("q_bin"), dbin.as("d_bin"),
            cents(col("l_extendedprice")).as("__p"))
          .groupBy("q_bin", "d_bin")
          .agg(count(lit(1)).as("n"),
            round(sum(col("__p")).cast("double")
              / count(lit(1)).cast("double") / 100.0, 4).as("mean_price"))
          .orderBy("q_bin", "d_bin")
      },
      oracle = Some(s"""
        SELECT CAST((CAST(l_quantity AS BIGINT) - 1) // 10 AS INT) AS q_bin,
               CAST(${centsSql("l_discount")} // 2 AS INT) AS d_bin,
               count(*) AS n,
               round(CAST(sum(${centsSql("l_extendedprice")}) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE) / 100.0, 4) AS mean_price
        FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Session entry/exit matrix + bounce rate — the landing/exit-page
    // analysis (here: event types) every product-analytics suite ships.
    // Sessions are the q40 gap rule but with a TIE-SAFE total order
    // (ts, event_id — entry/exit picks are order-sensitive where session
    // sums are not); entry/exit via two row_number windows sharing the
    // (user, session) partition; bounce = single-event session. Census
    // output is O(types²); shares derive from the checkpointed census
    // so the corpus aggregates once.
    "q223_session_entry_exit" -> QueryDef(
      fn = (s, d) => {
        val wo = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val prev = lag(col("ts"), 1).over(wo)
        val isNew = when(prev.isNull
          || col("ts") > prev + expr("INTERVAL 30 MINUTES"), 1L).otherwise(0L)
        val sess = t(s, d, "events")
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
          .withColumn("__sid", sum(isNew).over(
            wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val wAsc = Window.partitionBy(col("user_id"), col("__sid"))
          .orderBy(col("ts").asc, col("event_id").asc)
        val wDesc = Window.partitionBy(col("user_id"), col("__sid"))
          .orderBy(col("ts").desc, col("event_id").desc)
        val perSession = sess
          .withColumn("__r1", row_number().over(wAsc))
          .withColumn("__r2", row_number().over(wDesc))
          .groupBy("user_id", "__sid")
          .agg(max(when(col("__r1") === 1, col("event_type"))).as("entry_type"),
            max(when(col("__r2") === 1, col("event_type"))).as("exit_type"),
            count(lit(1)).as("__n"))
        val census = perSession.groupBy("entry_type", "exit_type")
          .agg(count(lit(1)).as("n_sessions"),
            sum(when(col("__n") === 1, 1L).otherwise(0L)).as("n_bounce"))
          .localCheckpoint(eager = true) // share total + rows
        val total = census.agg(sum(col("n_sessions")).as("__t"))
        census.crossJoin(broadcast(total))
          .select(col("entry_type"), col("exit_type"), col("n_sessions"),
            col("n_bounce"),
            round(col("n_sessions").cast("double") / col("__t").cast("double"), 6)
              .as("session_share"))
          .orderBy("entry_type", "exit_type")
      },
      oracle = Some("""
        WITH e AS (SELECT user_id, ts, event_id, event_type,
                          CASE WHEN lag(ts) OVER w IS NULL
                                 OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
                               THEN 1 ELSE 0 END AS is_new
                   FROM events
                   WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        sess AS (SELECT user_id, ts, event_id, event_type,
                        sum(is_new) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
                          AS sid
                 FROM e),
        ps AS (SELECT user_id, sid,
                      max(CASE WHEN r1 = 1 THEN event_type END) AS entry_type,
                      max(CASE WHEN r2 = 1 THEN event_type END) AS exit_type,
                      count(*) AS n
               FROM (SELECT *,
                       row_number() OVER (PARTITION BY user_id, sid
                         ORDER BY ts ASC, event_id ASC) AS r1,
                       row_number() OVER (PARTITION BY user_id, sid
                         ORDER BY ts DESC, event_id DESC) AS r2
                     FROM sess)
               GROUP BY 1, 2),
        cs AS (SELECT entry_type, exit_type, count(*) AS n_sessions,
                      CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
                        AS n_bounce
               FROM ps GROUP BY 1, 2),
        tt AS (SELECT CAST(sum(n_sessions) AS BIGINT) AS t FROM cs)
        SELECT entry_type, exit_type, n_sessions, n_bounce,
               round(CAST(n_sessions AS DOUBLE) / CAST(tt.t AS DOUBLE), 6)
                 AS session_share
        FROM cs CROSS JOIN tt ORDER BY 1, 2""")),
  )
}
