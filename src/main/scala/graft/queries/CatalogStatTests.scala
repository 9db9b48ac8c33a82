package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Catalog._

/** Round-10 third wave (q261+): classical statistical tests as
  * distributed exact-integer aggregations — Mann-Whitney U (the
  * nonparametric twin of q181's t-test), chi-square independence, PSI
  * population drift (the monitoring twin of q150's JS divergence),
  * information gain (feature-selection entropy), two-sample
  * Kolmogorov-Smirnov (integer-numerator D), lag-k autocorrelation
  * (scale-cancelled integer centering), exact weighted median, and the
  * Theil inequality index (snapped-log integer sum).
  *
  * Cross-engine discipline, same as the model-eval family: every count,
  * rank sum, and tie correction is an exact 64-bit integer; doubles
  * enter only in final FIXED-ORDER formulas whose terms are spelled
  * identically in the Column expressions and the oracle SQL (generated
  * from the same Scala constants) — plus `sqrt`/`ln`, which at 6-dp
  * rounding cannot straddle (IEEE sqrt is correctly rounded; libm ln
  * differs at most 1 ulp against term magnitudes ~1e0).
  *
  * One slice of the query catalog; entry ORDER is load-bearing (see
  * [[CatalogTraining]]).
  */
private[queries] object CatalogStatTests {

  /** q261: treatments, each tested against the 'view' control. */
  private val MwTreatments = Seq("click", "error", "purchase", "signup")

  /** q262/q263's value-bucket geometry: 5 cent buckets with edges that
    * track events.value's exponential-ish shape (10/25/50/100 dollars),
    * so every bucket is populated at every sf (fixed-width 100s left
    * the tail bucket EMPTY at sf0.001 — a 0/0 chi-square cell). The
    * bucket list is explicit so the per-row chi-square / PSI term sums
    * unroll in a FIXED left-to-right order in both engines (a
    * dynamic-bucket groupBy would sum doubles in partition order).
    */
  private val ValueBuckets = 0 until 5
  private val BucketEdges = Seq(1000L, 2500L, 5000L, 10000L)
  private def bucketCol: Column = {
    val c = expr(centsCol("value"))
    BucketEdges.zipWithIndex.foldRight(lit(BucketEdges.size.toLong)) {
      case ((edge, i), rest) => when(c < edge, i.toLong).otherwise(rest)
    }
  }
  // SQL-string twin of Catalog.cents: signum-handled half-away-from-zero
  // so negative values round like the oracles' round(v * 100) instead of
  // truncating one cent high (r10 advice — latent here only because
  // events.value is strictly positive in the fixture, but the helper
  // must not bake that fixture fact into its semantics)
  private def centsCol(c: String) = s"CAST($c * 100 + signum($c) * 0.5 AS LONG)"
  private def bucketSql: String = {
    val arms = BucketEdges.zipWithIndex
      .map { case (e, i) => s"WHEN c < $e THEN $i" }.mkString(" ")
    s"(CASE $arms ELSE ${BucketEdges.size} END)"
  }
  private val bucketCentsSql = "CAST(round(value * 100) AS BIGINT)"

  /** q263's reference/current split day + Laplace smoothing constant. */
  private val PsiSplitDay = 16
  /** q264's category lists + length-bucket geometry (shared with the
    * oracle; langMarkers' key set is the corpus's closed lang set).
    */
  private val IgLangs = Seq("de", "en", "es", "fr", "zh")
  private val IgLenBuckets = 0 until 4
  private val IgLenDiv = 150L
  private val IgCharBar = 300L

  /** q266: largest calendar-day lag probed by the ACF. */
  private val AcfMaxLag = 7

  /** q274: corpus-prefix rungs (percent of docs, doc_id order). */
  private val HeapsRungs = Seq(10, 25, 50, 100)

  /** q279: every Nth event carries a late correction (value doubled). */
  private val BitemporalEvery = 13L

  /** q283: reservoir size for the A-Res weighted sample. */
  private val AresK = 50

  def entries: Seq[(String, QueryDef)] = Seq(

    // Mann-Whitney U (Wilcoxon rank-sum) with tie correction: each
    // treatment event type against the 'view' control, over the exact
    // integer-cent value axis. Rank sums stay integer by working in
    // DOUBLED average ranks (2*avgRank = 2*cumBefore + tieSize + 1);
    // the normal-approximation z enters doubles only in the final
    // fixed-order formula. Control rows fan out by the FIXED treatment
    // count (explode x4); everything else is one (pair, value) groupBy
    // plus one pair-keyed window — no per-pair rescan.
    "q261_mann_whitney" -> QueryDef(
      fn = (s, d) => {
        val pairs = array(MwTreatments.map(lit): _*)
        val tagged = t(s, d, "events")
          .filter(col("event_type").isin(MwTreatments :+ "view": _*))
          .select(col("event_type"), expr(centsCol("value")).as("v"))
          .select(explode(when(col("event_type") === "view", pairs)
            .otherwise(array(col("event_type")))).as("pair"),
            when(col("event_type") =!= "view", 1L).otherwise(0L).as("grp"),
            col("v"))
        val byValue = tagged.groupBy("pair", "v")
          .agg(sum(col("grp")).as("n1v"),
            sum(lit(1L) - col("grp")).as("n0v"))
        val w = Window.partitionBy("pair").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, -1)
        val withCum = byValue.withColumn("cum",
          coalesce(sum(col("n1v") + col("n0v")).over(w), lit(0L)))
        val agg = withCum.groupBy("pair").agg(
          sum(col("n1v")).as("n1"), sum(col("n0v")).as("n2"),
          sum(col("n1v") * (lit(2L) * col("cum") + col("n1v") + col("n0v")
            + lit(1L))).as("r1x2"),
          sum((col("n1v") + col("n0v")) * (col("n1v") + col("n0v"))
            * (col("n1v") + col("n0v")) - (col("n1v") + col("n0v")))
            .as("tsum"))
        val u1 = (col("r1x2") - col("n1") * (col("n1") + 1L)).cast("double") / 2.0
        val mu = (col("n1") * col("n2")).cast("double") / 2.0
        val nn = col("n1") + col("n2")
        val variance = (col("n1") * col("n2")).cast("double") / 12.0 *
          ((nn + 1L).cast("double") -
            col("tsum").cast("double") / (nn.cast("double") * (nn - 1L).cast("double")))
        // the test is undefined without both samples (an absent
        // treatment otherwise divides by sqrt(0) — ANSI throws)
        agg.filter(col("n1") > 0L && col("n2") > 0L)
          .select(col("pair"), col("n1"), col("n2"), u1.as("u1"),
            round((u1 - mu) / sqrt(variance), 6).as("z"))
          .orderBy("pair")
      },
      oracle = Some(s"""
        WITH p AS (SELECT tp FROM (VALUES ${MwTreatments.map(t0 => s"('$t0')").mkString(", ")}) v(tp)),
        s AS (SELECT p.tp AS pair,
                     CASE WHEN e.event_type = p.tp THEN 1 ELSE 0 END AS grp,
                     CAST(round(e.value * 100) AS BIGINT) AS v
              FROM events e JOIN p
                ON e.event_type = p.tp OR e.event_type = 'view'),
        g AS (SELECT pair, v, CAST(sum(grp) AS BIGINT) AS n1v,
                     CAST(sum(1 - grp) AS BIGINT) AS n0v
              FROM s GROUP BY pair, v),
        c AS (SELECT pair, n1v, n0v,
                     coalesce(sum(n1v + n0v) OVER (PARTITION BY pair ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS cum
              FROM g),
        a AS (SELECT pair, CAST(sum(n1v) AS BIGINT) AS n1,
                     CAST(sum(n0v) AS BIGINT) AS n2,
                     CAST(sum(n1v * (2 * cum + n1v + n0v + 1)) AS BIGINT)
                       AS r1x2,
                     CAST(sum((n1v + n0v) * (n1v + n0v) * (n1v + n0v)
                       - (n1v + n0v)) AS BIGINT) AS tsum
              FROM c GROUP BY pair)
        SELECT pair, n1, n2,
               CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u1,
               round((CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) / 2.0
                      - CAST(n1 * n2 AS DOUBLE) / 2.0)
                     / sqrt(CAST(n1 * n2 AS DOUBLE) / 12.0
                            * (CAST(n1 + n2 + 1 AS DOUBLE)
                               - CAST(tsum AS DOUBLE)
                                 / (CAST(n1 + n2 AS DOUBLE)
                                    * CAST(n1 + n2 - 1 AS DOUBLE)))), 6) AS z
        FROM a WHERE n1 > 0 AND n2 > 0 ORDER BY pair"""),
      bench = true), // the rank-test wall-time probe

    // Chi-square independence of event_type x value-bucket, reported as
    // per-row contributions: for each event type, the FIXED-ORDER sum
    // over the five explicit bucket terms (N*n_ij vs r_i*c_j) — the
    // groupings are exact integer counts, the expected-count divisions
    // are the only doubles, and no cross-row double sum exists (the
    // per-row report IS the deterministic decomposition; total chi2 =
    // sum of the rows, df = (5-1)*(5-1)).
    "q262_chi_square" -> QueryDef(
      fn = (s, d) => {
        val ev = t(s, d, "events")
          .select(col("event_type"), bucketCol.as("b"))
        val rowAggCols = count(lit(1)).as("n_i") +:
          ValueBuckets.map(j =>
            sum(when(col("b") === j.toLong, 1L).otherwise(0L)).as(s"n_$j"))
        val rows = ev.groupBy("event_type")
          .agg(rowAggCols.head, rowAggCols.tail: _*)
        val colAggCols = count(lit(1)).as("n_tot") +:
          ValueBuckets.map(j =>
            sum(when(col("b") === j.toLong, 1L).otherwise(0L)).as(s"c_$j"))
        val colsTot = ev.agg(colAggCols.head, colAggCols.tail: _*)
        val term: Int => Column = j => {
          val e = (col("n_i") * col(s"c_$j")).cast("double") / col("n_tot").cast("double")
          (col(s"n_$j").cast("double") - e) * (col(s"n_$j").cast("double") - e) / e
        }
        rows.crossJoin(broadcast(colsTot))
          .select(col("event_type"), col("n_i"),
            round(ValueBuckets.map(term).reduceLeft(_ + _), 6).as("chi2_part"))
          .orderBy("event_type")
      },
      oracle = Some {
        val termSql = ValueBuckets.map { j =>
          val e = s"(CAST(n_i * c_$j AS DOUBLE) / CAST(n_tot AS DOUBLE))"
          s"(CAST(n_$j AS DOUBLE) - $e) * (CAST(n_$j AS DOUBLE) - $e) / $e"
        }.mkString(" + ")
        val rowAggs = ValueBuckets.map(j =>
          s"CAST(sum(CASE WHEN b = $j THEN 1 ELSE 0 END) AS BIGINT) AS n_$j")
          .mkString(", ")
        val colAggs = ValueBuckets.map(j =>
          s"CAST(sum(CASE WHEN b = $j THEN 1 ELSE 0 END) AS BIGINT) AS c_$j")
          .mkString(", ")
        s"""
        WITH ev AS (SELECT event_type, $bucketSql AS b
                    FROM (SELECT event_type, $bucketCentsSql AS c FROM events)),
        r AS (SELECT event_type, count(*) AS n_i, $rowAggs
              FROM ev GROUP BY event_type),
        ct AS (SELECT count(*) AS n_tot, $colAggs FROM ev)
        SELECT event_type, n_i, round($termSql, 6) AS chi2_part
        FROM r CROSS JOIN ct ORDER BY event_type"""
      }),

    // Population stability index per event type: the cent-bucket
    // distribution of the first half of the month (reference) against
    // the second (current), Laplace-smoothed so empty buckets stay
    // defined — the standard drift monitor next to q150's JS divergence.
    // Counts are exact integers; the five (p-q)*ln(p/q) terms unroll
    // explicitly in fixed order.
    "q263_psi_drift" -> QueryDef(
      fn = (s, d) => {
        val ev = t(s, d, "events").select(col("event_type"),
          (dayofmonth(col("ts")) < PsiSplitDay).as("is_ref"), bucketCol.as("b"))
        val psiAggCols =
          sum(when(col("is_ref"), 1L).otherwise(0L)).as("n_ref") +:
            sum(when(!col("is_ref"), 1L).otherwise(0L)).as("n_cur") +:
            ValueBuckets.flatMap(j => Seq(
              sum(when(col("is_ref") && col("b") === j.toLong, 1L).otherwise(0L))
                .as(s"r_$j"),
              sum(when(!col("is_ref") && col("b") === j.toLong, 1L).otherwise(0L))
                .as(s"c_$j")))
        val g = ev.groupBy("event_type")
          .agg(psiAggCols.head, psiAggCols.tail: _*)
        val term: Int => Column = j => {
          val p = (col(s"r_$j") + 1L).cast("double") / (col("n_ref") + 5L).cast("double")
          val q = (col(s"c_$j") + 1L).cast("double") / (col("n_cur") + 5L).cast("double")
          (p - q) * log(p / q)
        }
        g.select(col("event_type"), col("n_ref"), col("n_cur"),
            round(ValueBuckets.map(term).reduceLeft(_ + _), 6).as("psi"))
          .orderBy("event_type")
      },
      oracle = Some {
        val termSql = ValueBuckets.map { j =>
          val p = s"(CAST(r_$j + 1 AS DOUBLE) / CAST(n_ref + 5 AS DOUBLE))"
          val q = s"(CAST(c_$j + 1 AS DOUBLE) / CAST(n_cur + 5 AS DOUBLE))"
          s"($p - $q) * ln($p / $q)"
        }.mkString(" + ")
        val aggs = ValueBuckets.flatMap(j => Seq(
          s"CAST(sum(CASE WHEN is_ref AND b = $j THEN 1 ELSE 0 END) AS BIGINT) AS r_$j",
          s"CAST(sum(CASE WHEN NOT is_ref AND b = $j THEN 1 ELSE 0 END) AS BIGINT) AS c_$j"))
          .mkString(", ")
        s"""
        WITH ev AS (SELECT event_type,
                           (CAST(strftime(ts, '%d') AS BIGINT) < $PsiSplitDay)
                             AS is_ref,
                           $bucketSql AS b
                    FROM (SELECT event_type, ts, $bucketCentsSql AS c
                          FROM events)),
        g AS (SELECT event_type,
                     CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_ref,
                     CAST(sum(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_cur,
                     $aggs
              FROM ev GROUP BY event_type)
        SELECT event_type, n_ref, n_cur, round($termSql, 6) AS psi
        FROM g ORDER BY event_type"""
      }),

    // Information gain (in nats) of two document features for the
    // "long document" target (n_chars >= 800): IG = H(Y) - H(Y|X),
    // every probability an exact integer ratio, every entropy an
    // explicit fixed-order sum over the CLOSED category list (langs;
    // length buckets), zero-probability terms dropped by the same CASE
    // in both engines. The feature-selection primitive of a curation
    // pipeline's "which metadata predicts quality" audit.
    "q264_info_gain" -> QueryDef(
      fn = (s, d) => {
        val docs = t(s, d, "documents").select(col("lang"),
          least(expr(s"n_chars div $IgLenDiv"), lit(3L)).as("lb"),
          (col("n_chars") >= IgCharBar).as("y"))

        def plogp(num: Column, den: Column): Column = {
          val p = num.cast("double") / den.cast("double")
          when(num > 0L, -p * log(p)).otherwise(0.0)
        }
        // H(Y | X = cat) weighted by n_cat/N, for one category column
        def condTerm(catN: Column, catY: Column, total: Column): Column =
          when(catN > 0L,
            catN.cast("double") / total.cast("double") *
              (plogp(catY, catN) + plogp(catN - catY, catN))).otherwise(0.0)

        def igFor(name: String, catCol: String, cats: Seq[Column]): DataFrame = {
          val aggs =
            count(lit(1)).as("n") +:
              sum(when(col("y"), 1L).otherwise(0L)).as("ny") +:
              cats.zipWithIndex.flatMap { case (c, i) => Seq(
                sum(when(col(catCol) === c, 1L).otherwise(0L)).as(s"xn_$i"),
                sum(when(col(catCol) === c && col("y"), 1L).otherwise(0L))
                  .as(s"xy_$i")) }
          val g = docs.agg(aggs.head, aggs.tail: _*)
          val hy = plogp(col("ny"), col("n")) + plogp(col("n") - col("ny"), col("n"))
          val hyx = cats.indices.map(i =>
            condTerm(col(s"xn_$i"), col(s"xy_$i"), col("n"))).reduceLeft(_ + _)
          g.select(lit(name).as("feature"), col("n"),
            round(hy, 6).as("h_y"), round(hy - hyx, 6).as("info_gain"))
        }
        igFor("lang", "lang", IgLangs.map(lit(_)))
          .unionAll(igFor("len_bucket", "lb", IgLenBuckets.map(i => lit(i.toLong))))
          .orderBy("feature")
      },
      oracle = Some {
        def plogpSql(num: String, den: String) =
          s"CASE WHEN $num > 0 THEN -(CAST($num AS DOUBLE) / CAST($den AS DOUBLE)) * ln(CAST($num AS DOUBLE) / CAST($den AS DOUBLE)) ELSE 0.0 END"
        def blockSql(name: String, cats: Seq[String], catExpr: String): String = {
          val aggs = cats.zipWithIndex.flatMap { case (c, i) => Seq(
            s"CAST(sum(CASE WHEN $catExpr = $c THEN 1 ELSE 0 END) AS BIGINT) AS xn_$i",
            s"CAST(sum(CASE WHEN $catExpr = $c AND y THEN 1 ELSE 0 END) AS BIGINT) AS xy_$i") }
            .mkString(", ")
          val hy = s"(${plogpSql("ny", "n")} + ${plogpSql("n - ny", "n")})"
          val cond = cats.indices.map { i =>
            s"""CASE WHEN xn_$i > 0 THEN CAST(xn_$i AS DOUBLE) / CAST(n AS DOUBLE)
                 * (${plogpSql(s"xy_$i", s"xn_$i")} + ${plogpSql(s"xn_$i - xy_$i", s"xn_$i")})
                 ELSE 0.0 END"""
          }.mkString(" + ")
          s"""SELECT '$name' AS feature, n, round($hy, 6) AS h_y,
                 round($hy - ($cond), 6) AS info_gain
              FROM (SELECT count(*) AS n,
                      CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS ny,
                      $aggs FROM docs)"""
        }
        val langCats = IgLangs.map(l => s"'$l'")
        val lbCats = IgLenBuckets.map(_.toString)
        s"""
        WITH docs AS (SELECT lang, least(n_chars // $IgLenDiv, 3) AS lb,
                             (n_chars >= $IgCharBar) AS y FROM documents)
        ${blockSql("lang", langCats, "lang")}
        UNION ALL
        ${blockSql("len_bucket", lbCats, "lb")}
        ORDER BY feature"""
      }),

    // Two-sample Kolmogorov-Smirnov: each treatment's value distribution
    // against the 'view' control, q261's explode-pair shape on the same
    // exact cent axis. The D statistic stays EXACT INTEGER all the way
    // to the last division: D = max|c1*n2 - c2*n1| / (n1*n2), where the
    // cumulative counts ride one pair-keyed window — cross-engine FP
    // drift is impossible in the argmax (the classic KS failure mode of
    // comparing running double ratios). The scaled statistic
    // sqrt(n1*n2/(n1+n2))*D enters doubles only in the final formula.
    "q265_ks_test" -> QueryDef(
      fn = (s, d) => {
        val pairs = array(MwTreatments.map(lit): _*)
        val tagged = t(s, d, "events")
          .filter(col("event_type").isin(MwTreatments :+ "view": _*))
          .select(col("event_type"), expr(centsCol("value")).as("v"))
          .select(explode(when(col("event_type") === "view", pairs)
            .otherwise(array(col("event_type")))).as("pair"),
            when(col("event_type") =!= "view", 1L).otherwise(0L).as("grp"),
            col("v"))
        val byValue = tagged.groupBy("pair", "v")
          .agg(sum(col("grp")).as("n1v"),
            sum(lit(1L) - col("grp")).as("n0v"))
        val wCum = Window.partitionBy("pair").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAll = Window.partitionBy("pair")
        val cum = byValue
          .withColumn("c1", sum(col("n1v")).over(wCum))
          .withColumn("c0", sum(col("n0v")).over(wCum))
          .withColumn("n1", sum(col("n1v")).over(wAll))
          .withColumn("n2", sum(col("n0v")).over(wAll))
        val agg = cum.groupBy("pair").agg(
          max(col("n1")).as("n1"), max(col("n2")).as("n2"),
          max(abs(col("c1") * col("n2") - col("c0") * col("n1"))).as("dnum"))
        val dd = col("dnum").cast("double") /
          (col("n1") * col("n2")).cast("double")
        agg.filter(col("n1") > 0L && col("n2") > 0L)
          .select(col("pair"), col("n1"), col("n2"),
            round(dd, 6).as("d"),
            round(dd * sqrt((col("n1") * col("n2")).cast("double") /
              (col("n1") + col("n2")).cast("double")), 6).as("ks_scaled"))
          .orderBy("pair")
      },
      oracle = Some(s"""
        WITH p AS (SELECT tp FROM (VALUES ${MwTreatments.map(t0 => s"('$t0')").mkString(", ")}) v(tp)),
        s AS (SELECT p.tp AS pair,
                     CASE WHEN e.event_type = p.tp THEN 1 ELSE 0 END AS grp,
                     CAST(round(e.value * 100) AS BIGINT) AS v
              FROM events e JOIN p
                ON e.event_type = p.tp OR e.event_type = 'view'),
        g AS (SELECT pair, v, CAST(sum(grp) AS BIGINT) AS n1v,
                     CAST(sum(1 - grp) AS BIGINT) AS n0v
              FROM s GROUP BY pair, v),
        c AS (SELECT pair, n1v, n0v,
                     sum(n1v) OVER (PARTITION BY pair ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c1,
                     sum(n0v) OVER (PARTITION BY pair ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c0,
                     sum(n1v) OVER (PARTITION BY pair) AS n1,
                     sum(n0v) OVER (PARTITION BY pair) AS n2
              FROM g),
        a AS (SELECT pair, CAST(max(n1) AS BIGINT) AS n1,
                     CAST(max(n2) AS BIGINT) AS n2,
                     CAST(max(abs(c1 * n2 - c0 * n1)) AS BIGINT) AS dnum
              FROM c GROUP BY pair)
        SELECT pair, n1, n2,
               round(CAST(dnum AS DOUBLE) / CAST(n1 * n2 AS DOUBLE), 6) AS d,
               round(CAST(dnum AS DOUBLE) / CAST(n1 * n2 AS DOUBLE)
                     * sqrt(CAST(n1 * n2 AS DOUBLE)
                            / CAST(n1 + n2 AS DOUBLE)), 6) AS ks_scaled
        FROM a WHERE n1 > 0 AND n2 > 0 ORDER BY pair""")),

    // Lag-k autocorrelation (k = 1..$AcfMaxLag) of each event type's
    // daily-count series — the periodicity detector of a monitoring
    // stack. Exactness trick: center WITHOUT dividing — y_t =
    // ndays*n_t - S is an exact integer multiple of the centered value,
    // and the n^2 scale factor cancels in the ACF ratio, so numerator
    // and denominator are exact integer sums and the single division is
    // the last op. CALENDAR lag (join on day+k, not row offset) so a
    // missing day never silently shifts the series. The daily frame is
    // bounded (types x 31) — every join after the one corpus agg is
    // broadcast-sized.
    "q266_acf" -> QueryDef(
      fn = (s, d) => {
        val g = t(s, d, "events")
          .select(col("event_type"), dayofmonth(col("ts")).cast("long").as("day"))
          .groupBy("event_type", "day").agg(count(lit(1)).as("n"))
        val tot = g.groupBy("event_type")
          .agg(count(lit(1)).as("nd"), sum(col("n")).as("s"))
        val y = g.join(broadcast(tot), Seq("event_type"))
          .select(col("event_type"), col("day"),
            (col("nd") * col("n") - col("s")).as("y"))
          .localCheckpoint(eager = true) // bounded: types x 31 rows
        val den = y.groupBy("event_type").agg(sum(col("y") * col("y")).as("den"))
        val a = y.select(col("event_type"), col("day"), col("y").as("ya"))
          .withColumn("lag", explode(sequence(lit(1L), lit(AcfMaxLag.toLong))))
          .withColumn("bday", col("day") + col("lag"))
        val b = y.select(col("event_type"), col("day").as("bday"),
          col("y").as("yb"))
        val num = a.join(b, Seq("event_type", "bday"))
          .groupBy("event_type", "lag")
          .agg(sum(col("ya") * col("yb")).as("num"), count(lit(1)).as("n_pairs"))
        num.join(den, Seq("event_type"))
          .filter(col("den") > 0L)
          .select(col("event_type"), col("lag"), col("n_pairs"),
            round(col("num").cast("double") / col("den").cast("double"), 6).as("acf"))
          .orderBy("event_type", "lag")
      },
      oracle = Some(s"""
        WITH g AS (SELECT event_type, CAST(strftime(ts, '%d') AS BIGINT) AS day,
                          count(*) AS n
                   FROM events GROUP BY event_type, day),
        tot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nd,
                       CAST(sum(n) AS BIGINT) AS s
                FROM g GROUP BY event_type),
        y AS (SELECT g.event_type, g.day, nd * n - s AS y
              FROM g JOIN tot ON g.event_type = tot.event_type),
        den AS (SELECT event_type, CAST(sum(y * y) AS BIGINT) AS den
                FROM y GROUP BY event_type),
        lags AS (SELECT unnest(range(1, ${AcfMaxLag + 1})) AS lag),
        num AS (SELECT a.event_type, l.lag,
                       CAST(sum(a.y * b.y) AS BIGINT) AS num,
                       count(*) AS n_pairs
                FROM y a CROSS JOIN lags l
                JOIN y b ON b.event_type = a.event_type
                        AND b.day = a.day + l.lag
                GROUP BY a.event_type, l.lag)
        SELECT n.event_type, n.lag, n.n_pairs,
               round(CAST(n.num AS DOUBLE) / CAST(d.den AS DOUBLE), 6) AS acf
        FROM num n JOIN den d ON n.event_type = d.event_type
        WHERE d.den > 0 ORDER BY n.event_type, n.lag""")),

    // Weighted median (exact, nearest-rank): per return flag, the
    // smallest price whose cumulative quantity weight reaches half the
    // total — all integer cents and integer weights, one grouped agg +
    // one key-partitioned window, no sampling and no interpolation. The
    // weighted twin of q258's winsorized cut.
    "q269_weighted_median" -> QueryDef(
      fn = (s, d) => {
        val g = t(s, d, "lineitem")
          .select(col("l_returnflag"),
            expr(centsCol("l_extendedprice")).as("v"),
            col("l_quantity").cast("long").as("w"))
          .groupBy("l_returnflag", "v").agg(sum(col("w")).as("wv"))
        val wCum = Window.partitionBy("l_returnflag").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAll = Window.partitionBy("l_returnflag")
        g.withColumn("cum", sum(col("wv")).over(wCum))
          .withColumn("tot", sum(col("wv")).over(wAll))
          .filter(col("cum") * 2L >= col("tot"))
          .groupBy("l_returnflag")
          .agg(max(col("tot")).as("total_weight"), min(col("v")).as("median_cents"))
          .orderBy("l_returnflag")
      },
      oracle = Some(s"""
        WITH g AS (SELECT l_returnflag,
                          CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
                          CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS wv
                   FROM lineitem GROUP BY 1, 2),
        c AS (SELECT l_returnflag, v, wv,
                     sum(wv) OVER (PARTITION BY l_returnflag ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                     sum(wv) OVER (PARTITION BY l_returnflag) AS tot
              FROM g)
        SELECT l_returnflag, CAST(max(tot) AS BIGINT) AS total_weight,
               CAST(min(v) AS BIGINT) AS median_cents
        FROM c WHERE cum * 2 >= tot
        GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // Theil inequality index of per-user spend within each event type —
    // the "is this data source dominated by a few heavy users" fairness
    // audit, decomposable unlike Gini (q220 covers that one globally).
    // T = (1/n) sum (x_i/mu) ln(x_i/mu): the ratio r_i = x_i*n/S is an
    // exact-integer-over-integer double, each row's r*ln(r) is SNAPPED
    // to the 1e-6 grid (the q242/q248 rule) so the cross-row sum is an
    // order-free integer sum; x=0 users contribute the exact limit 0.
    "q270_theil_index" -> QueryDef(
      fn = (s, d) => {
        val ut = t(s, d, "events")
          .filter(col("value").isNotNull)
          .select(col("event_type"), col("user_id"),
            expr(centsCol("value")).as("c"))
          .groupBy("event_type", "user_id").agg(sum(col("c")).as("x"))
        // group totals via a window over the SAME frame, not a
        // groupBy+self-join — the join form scans events twice (the q224
        // lesson); the window costs one extra type-keyed exchange on the
        // already-reduced per-user frame
        val wt = Window.partitionBy("event_type")
        val withTot = ut
          .withColumn("n", count(lit(1)).over(wt))
          .withColumn("s", sum(col("x")).over(wt))
        val r = (col("x") * col("n")).cast("double") / col("s").cast("double")
        val termE6 = when(col("x") > 0L,
          floor(r * log(r) * lit(1000000.0) + lit(0.5)).cast("long"))
          .otherwise(0L)
        withTot
          .filter(col("s") > 0L)
          .select(col("event_type"), col("n"), termE6.as("t_e6"))
          .groupBy("event_type")
          .agg(max(col("n")).as("n_users"), sum(col("t_e6")).as("se6"))
          .select(col("event_type"), col("n_users"),
            round(col("se6").cast("double") / 1000000.0 /
              col("n_users").cast("double"), 6).as("theil"))
          .orderBy("event_type")
      },
      oracle = Some(s"""
        WITH ut AS (SELECT event_type, user_id,
                           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                             AS x
                    FROM events WHERE value IS NOT NULL
                    GROUP BY event_type, user_id),
        tot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(x) AS BIGINT) AS s
                FROM ut GROUP BY event_type),
        j AS (SELECT ut.event_type, n,
                     CASE WHEN x > 0 THEN
                       CAST(floor((CAST(x * n AS DOUBLE) / CAST(s AS DOUBLE))
                         * ln(CAST(x * n AS DOUBLE) / CAST(s AS DOUBLE))
                         * 1000000.0 + 0.5) AS BIGINT)
                     ELSE 0 END AS t_e6
              FROM ut JOIN tot ON ut.event_type = tot.event_type
              WHERE s > 0),
        g AS (SELECT event_type, CAST(max(n) AS BIGINT) AS n_users,
                     CAST(sum(t_e6) AS BIGINT) AS se6
              FROM j GROUP BY event_type)
        SELECT event_type, n_users,
               round(CAST(se6 AS DOUBLE) / 1000000.0
                     / CAST(n_users AS DOUBLE), 6) AS theil
        FROM g ORDER BY event_type""")),

    // Median absolute deviation (the robust scale estimate q93's
    // stddev-based z-scores lack): per event type, nearest-rank median m of the
    // cent values, then the nearest-rank median of |v - m| — both picks
    // by the SAME integer rule (smallest value whose doubled cumulative
    // count reaches the total), zero interpolation. The per-(type,
    // value) histogram is reduced ONCE and checkpointed — it is bounded
    // by the value domain, not the row count — and both median passes
    // run on it.
    "q272_mad" -> QueryDef(
      fn = (s, d) => {
        val hist = t(s, d, "events")
          .filter(col("value").isNotNull)
          .select(col("event_type"), expr(centsCol("value")).as("v"))
          .groupBy("event_type", "v").agg(count(lit(1)).as("cnt"))
          .localCheckpoint(eager = true) // bounded: value domain x types
        val wCum = Window.partitionBy("event_type").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAll = Window.partitionBy("event_type")
        val med = hist
          .withColumn("cum", sum(col("cnt")).over(wCum))
          .withColumn("tot", sum(col("cnt")).over(wAll))
          .filter(col("cum") * 2L >= col("tot"))
          .groupBy("event_type")
          .agg(max(col("tot")).as("n"), min(col("v")).as("med"))
        val dev = hist.join(broadcast(med), Seq("event_type"))
          .select(col("event_type"), abs(col("v") - col("med")).as("dv"),
            col("cnt"))
          .groupBy("event_type", "dv").agg(sum(col("cnt")).as("cnt"))
        val wCumD = Window.partitionBy("event_type").orderBy("dv")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val mad = dev
          .withColumn("cum", sum(col("cnt")).over(wCumD))
          .withColumn("tot", sum(col("cnt")).over(wAll))
          .filter(col("cum") * 2L >= col("tot"))
          .groupBy("event_type").agg(min(col("dv")).as("mad_cents"))
        med.join(mad, Seq("event_type"))
          .select(col("event_type"), col("n"), col("med").as("median_cents"),
            col("mad_cents"))
          .orderBy("event_type")
      },
      oracle = Some(s"""
        WITH hist AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v,
                             CAST(count(*) AS BIGINT) AS cnt
                      FROM events WHERE value IS NOT NULL
                      GROUP BY event_type, v),
        c1 AS (SELECT event_type, v, cnt,
                      sum(cnt) OVER (PARTITION BY event_type ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                      sum(cnt) OVER (PARTITION BY event_type) AS tot
               FROM hist),
        med AS (SELECT event_type, CAST(max(tot) AS BIGINT) AS n,
                       CAST(min(v) AS BIGINT) AS med
                FROM c1 WHERE cum * 2 >= tot GROUP BY event_type),
        dev AS (SELECT h.event_type, abs(h.v - m.med) AS dv,
                       CAST(sum(h.cnt) AS BIGINT) AS cnt
                FROM hist h JOIN med m ON h.event_type = m.event_type
                GROUP BY 1, 2),
        c2 AS (SELECT event_type, dv, cnt,
                      sum(cnt) OVER (PARTITION BY event_type ORDER BY dv
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                      sum(cnt) OVER (PARTITION BY event_type) AS tot
               FROM dev),
        mad AS (SELECT event_type, CAST(min(dv) AS BIGINT) AS mad_cents
                FROM c2 WHERE cum * 2 >= tot GROUP BY event_type)
        SELECT m.event_type, m.n, m.med AS median_cents, d.mad_cents
        FROM med m JOIN mad d ON m.event_type = d.event_type
        ORDER BY m.event_type""")),

    // Heaps'-law vocabulary growth curve: distinct token TRIGRAMS in the
    // first 10/25/50/100% of the corpus (doc_id order). Trigrams, not
    // unigrams: the synthetic corpus draws from a ~31-word lexicon, so
    // the unigram curve saturates inside the first rung (a flat fixture
    // proves nothing); the trigram space keeps growing through 100%
    // (2.4k -> 16.2k at sf0.01) — the actual Heaps shape. The scalable
    // trick: cumulative-distinct never re-scans prefixes — each gram's
    // FIRST document rank is computed once (min over one global
    // doc-rank, via the two-phase Ranking op, no single-reducer window)
    // and every rung is then a count of first-ranks under its cutoff —
    // one pass, four counters. The cutoffs use the total the rank scan
    // already computed.
    "q274_heaps_curve" -> QueryDef(
      fn = (s, d) => {
        val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
        val (ranked, n) = graft.ops.Ranking.globalRowNumberWithTotal(
          docs, Seq(col("doc_id")), out = "rn")
        val TFx = graft.functions.TextFunctions
        val first = ranked
          .withColumn("toks", TFx.tokens(col("text")))
          .filter(size(col("toks")) >= 3) // under 3 tokens: no trigrams
          .select(col("rn"),
            explode(TFx.shinglesOfTokens(col("toks"), 3)).as("tok"))
          .groupBy("tok").agg(min(col("rn")).as("first_rn"))
        val aggs = HeapsRungs.map { pct =>
          val cutoff = n * pct / 100 // driver-side long div, same as SQL //
          sum(when(col("first_rn") <= cutoff, 1L).otherwise(0L)).as(s"v_$pct")
        }
        val one = first.agg(aggs.head, aggs.tail: _*)
        val rows = HeapsRungs.map { pct =>
          struct(lit(pct.toLong).as("pct"), lit(n * pct / 100).as("n_docs"),
            col(s"v_$pct").as("vocab"))
        }
        one.select(explode(array(rows: _*)).as("r"))
          .select(col("r.pct"), col("r.n_docs"), col("r.vocab"))
          .orderBy("pct")
      },
      oracle = Some(s"""
        WITH d AS (SELECT row_number() OVER (ORDER BY doc_id) AS rn, text
                   FROM documents),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        tk AS (SELECT rn, $toksSql AS toks FROM d),
        f AS (SELECT tok, CAST(min(rn) AS BIGINT) AS first_rn
              FROM (SELECT rn,
                           unnest(list_transform(range(1, len(toks) - 1),
                             i -> concat(toks[i], ' ', toks[i + 1], ' ',
                                         toks[i + 2]))) AS tok
                    FROM tk WHERE len(toks) >= 3)
              GROUP BY tok),
        rungs AS (SELECT CAST(unnest([${HeapsRungs.mkString(", ")}]) AS BIGINT)
                    AS pct)
        SELECT r.pct, CAST(n.n * r.pct // 100 AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN f.first_rn <= n.n * r.pct // 100
                             THEN 1 ELSE 0 END) AS BIGINT) AS vocab
        FROM rungs r CROSS JOIN n CROSS JOIN f
        GROUP BY r.pct, n.n ORDER BY r.pct""")),

    // Share-of-parent hierarchy readout (the drill-down every BI layer
    // renders): order revenue per nation with its share of the region
    // and the region's share of the grand total — exact cents sums, the
    // two share divisions are the only doubles. ONE fact aggregation
    // (orders -> customer hash join, nation/region dims broadcast);
    // region and global totals are re-aggregated from the bounded
    // 25-nation frame, never from the facts again.
    "q277_share_of_parent" -> QueryDef(
      fn = (s, d) => {
        val cust = t(s, d, "customer")
          .select(col("c_custkey"), col("c_nationkey"))
        val nat = t(s, d, "nation")
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        val reg = t(s, d, "region").select(col("r_regionkey"), col("r_name"))
        val byNation = t(s, d, "orders")
          .select(col("o_custkey"), cents(col("o_totalprice")).as("c"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
          .agg(sum(col("c")).as("rev_cents"))
          .localCheckpoint(eager = true) // bounded: 25 nations
        val byRegion = byNation.groupBy("region")
          .agg(sum(col("rev_cents")).as("region_cents"))
        val total = byNation.agg(sum(col("rev_cents")).as("total_cents"))
        byNation.join(broadcast(byRegion), Seq("region"))
          .crossJoin(broadcast(total))
          .select(col("region"), col("nation"), col("rev_cents"),
            round(col("rev_cents").cast("double") /
              col("region_cents").cast("double"), 6).as("share_of_region"),
            round(col("region_cents").cast("double") /
              col("total_cents").cast("double"), 6).as("region_share_of_total"))
          .orderBy("region", "nation")
      },
      oracle = Some(s"""
        WITH bn AS (SELECT r.r_name AS region, n.n_name AS nation,
                           CAST(sum(${centsSql("o.o_totalprice")}) AS BIGINT)
                             AS rev_cents
                    FROM orders o
                    JOIN customer c ON o.o_custkey = c.c_custkey
                    JOIN nation n ON c.c_nationkey = n.n_nationkey
                    JOIN region r ON n.n_regionkey = r.r_regionkey
                    GROUP BY 1, 2),
        br AS (SELECT region, CAST(sum(rev_cents) AS BIGINT) AS region_cents
               FROM bn GROUP BY region),
        tt AS (SELECT CAST(sum(rev_cents) AS BIGINT) AS total_cents FROM bn)
        SELECT bn.region, bn.nation, bn.rev_cents,
               round(CAST(bn.rev_cents AS DOUBLE)
                     / CAST(br.region_cents AS DOUBLE), 6) AS share_of_region,
               round(CAST(br.region_cents AS DOUBLE)
                     / CAST(tt.total_cents AS DOUBLE), 6)
                 AS region_share_of_total
        FROM bn JOIN br ON bn.region = br.region CROSS JOIN tt
        ORDER BY bn.region, bn.nation""")),

    // Second-order sequential pattern mining: support of event-type
    // TRIGRAMS over each user's (ts, event_id)-ordered stream — the rung
    // above q190's Markov transition (bigram) counts; "view->click->
    // purchase outnumbers view->click->view" is the kind of signal a
    // funnel model starts from. Two leads ride ONE user-keyed sort;
    // support is a bounded (|types|^3) aggregate; top-20 via
    // TakeOrderedAndProject.
    "q278_event_trigrams" -> QueryDef(
      fn = (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        t(s, d, "events")
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
          .withColumn("t2", lead(col("event_type"), 1).over(w))
          .withColumn("t3", lead(col("event_type"), 2).over(w))
          .filter(col("t2").isNotNull && col("t3").isNotNull)
          .groupBy(col("event_type").as("step1"), col("t2").as("step2"),
            col("t3").as("step3"))
          .agg(count(lit(1)).as("support"))
          .orderBy(col("support").desc, col("step1"), col("step2"), col("step3"))
          .limit(20)
      },
      oracle = Some("""
        WITH s AS (SELECT event_type AS step1,
                          lead(event_type, 1) OVER w AS step2,
                          lead(event_type, 2) OVER w AS step3
                   FROM events
                   WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        SELECT step1, step2, step3, CAST(count(*) AS BIGINT) AS support
        FROM s WHERE step2 IS NOT NULL AND step3 IS NOT NULL
        GROUP BY 1, 2, 3
        ORDER BY support DESC, step1, step2, step3 LIMIT 20""")),

    // Bitemporal restatement readout: corrections (a derived fixture —
    // every 13th event gets its value doubled by a correction that
    // ARRIVES on transaction day 20) replayed against two knowledge
    // instants. "What we believed on day 15" excludes the late
    // corrections; "what we believe now" applies them; the per-type
    // restatement is the difference — the valid-time/transaction-time
    // split every finance warehouse audit asks for. Pure conditional
    // exact-cent aggregation, one scan.
    "q279_bitemporal_replay" -> QueryDef(
      fn = (s, d) => {
        val corrected = col("event_id") % BitemporalEvery === 0L
        val c = expr(centsCol("value"))
        t(s, d, "events")
          .filter(col("value").isNotNull)
          .groupBy("event_type")
          .agg(
            sum(when(corrected, 1L).otherwise(0L)).as("n_corrected"),
            sum(c).as("believed_day15_cents"),
            sum(when(corrected, c * 2L).otherwise(c)).as("believed_now_cents"))
          .withColumn("restatement_cents",
            col("believed_now_cents") - col("believed_day15_cents"))
          .orderBy("event_type")
      },
      oracle = Some(s"""
        SELECT event_type,
               CAST(sum(CASE WHEN event_id % $BitemporalEvery = 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_corrected,
               CAST(sum($bucketCentsSql) AS BIGINT) AS believed_day15_cents,
               CAST(sum(CASE WHEN event_id % $BitemporalEvery = 0
                        THEN $bucketCentsSql * 2
                        ELSE $bucketCentsSql END) AS BIGINT)
                 AS believed_now_cents,
               CAST(sum(CASE WHEN event_id % $BitemporalEvery = 0
                        THEN $bucketCentsSql * 2
                        ELSE $bucketCentsSql END)
                    - sum($bucketCentsSql) AS BIGINT) AS restatement_cents
        FROM events WHERE value IS NOT NULL
        GROUP BY event_type ORDER BY event_type""")),

    // Referential-integrity audit — the constraint checks a lakehouse
    // runs because parquet won't: orphaned foreign keys (lineitem ->
    // orders, orders -> customer) via LEFT ANTI join counts, plus
    // primary-key uniqueness on both parents. The anti-joins are
    // key-only (the probe side projects ONE column before the
    // exchange). Two scenarios, so BOTH branches are oracle-gated: the
    // 'clean' row reports the healthy zeros, and a 'perturbed' twin
    // (every 97th order dropped, every 101st customer dropped, every
    // 300th customer key duplicated) proves ALL THREE detectors count
    // what they claim — a clean-only audit is indistinguishable from a
    // broken one. The oracle states the perturbed customer SET, not a
    // predicate rewrite: custkey 0 divides by both 101 and 300, so it
    // is dropped AND re-added — an EXISTS on '% 101 <> 0' alone would
    // miscount it as an orphan.
    "q281_referential_audit" -> QueryDef(
      fn = (s, d) => {
        // BOTH scenarios fused into one pass per relation pair: each
        // probe side left-joins its parent's KEY frame carrying the
        // perturbation flags, and the clean/perturbed counts are
        // conditional sums over the same joined stream — a per-scenario
        // audit loop would scan lineitem once per scenario (the 100 TB
        // sin); this shape scans each table exactly once.
        val li = t(s, d, "lineitem").select(col("l_orderkey"))
        val ord0 = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
        val cust0 = t(s, d, "customer").select(col("c_custkey"))

        // customer perturbation flags: dropped (%101), duplicated (%300);
        // present-in-perturbed = kept OR re-added (custkey 0 is both)
        val custFlag = cust0.select(col("c_custkey"),
          ((col("c_custkey") % 101 =!= 0L) ||
            (col("c_custkey") % 300 === 0L)).as("c_pert"))
        val ordDropped = col("o_orderkey") % 97 === 0L

        val liAudit = li
          .join(ord0.select(col("o_orderkey"), ordDropped.as("o_drop")),
            col("l_orderkey") === col("o_orderkey"), "left")
          .agg(
            sum(when(col("o_orderkey").isNull, 1L).otherwise(0L))
              .as("orphan_lineitems_clean"),
            sum(when(col("o_orderkey").isNull || col("o_drop"), 1L)
              .otherwise(0L)).as("orphan_lineitems_pert"))
        val ordAudit = ord0
          .join(custFlag, col("o_custkey") === col("c_custkey"), "left")
          .agg(
            sum(when(col("c_custkey").isNull, 1L).otherwise(0L))
              .as("orphan_orders_clean"),
            sum(when(!ordDropped &&
              (col("c_custkey").isNull || !col("c_pert")), 1L)
              .otherwise(0L)).as("orphan_orders_pert"))
        // perturbed copies per key = (kept ? 1 : 0) + (re-added ? 1 : 0)
        val dupAudit = cust0.groupBy("c_custkey").agg(count(lit(1)).as("n"))
          .agg(
            sum(when(col("n") > 1L, 1L).otherwise(0L)).as("dup_custkeys_clean"),
            sum(when(
              col("n") * (when(col("c_custkey") % 101 =!= 0L, 1L).otherwise(0L)
                + when(col("c_custkey") % 300 === 0L, 1L).otherwise(0L)) > 1L,
              1L).otherwise(0L)).as("dup_custkeys_pert"))

        val one = liAudit.crossJoin(broadcast(ordAudit))
          .crossJoin(broadcast(dupAudit))
        val rows = Seq("clean", "pert").map { sc =>
          val tag = if (sc == "clean") "clean" else "perturbed"
          struct(lit(tag).as("scenario"),
            col(s"orphan_lineitems_$sc").as("orphan_lineitems"),
            col(s"orphan_orders_$sc").as("orphan_orders"),
            col(s"dup_custkeys_$sc").as("dup_custkeys"))
        }
        one.select(explode(array(rows: _*)).as("r"))
          .select(col("r.scenario"), col("r.orphan_lineitems"),
            col("r.orphan_orders"), col("r.dup_custkeys"))
          .orderBy("scenario")
      },
      oracle = Some("""
        WITH a AS (
          SELECT 'clean' AS scenario,
            (SELECT count(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_orderkey = l.l_orderkey))
              AS orphan_lineitems,
            (SELECT count(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey))
              AS orphan_orders,
            (SELECT count(*) FROM (SELECT c_custkey FROM customer
                                   GROUP BY c_custkey HAVING count(*) > 1))
              AS dup_custkeys),
        p AS (
          SELECT 'perturbed' AS scenario,
            (SELECT count(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_orderkey = l.l_orderkey
                                 AND o.o_orderkey % 97 <> 0))
              AS orphan_lineitems,
            (SELECT count(*) FROM orders o
             WHERE o.o_orderkey % 97 <> 0
               AND NOT EXISTS (
                 SELECT 1 FROM (
                   SELECT c_custkey FROM customer WHERE c_custkey % 101 <> 0
                   UNION ALL SELECT c_custkey FROM customer
                   WHERE c_custkey % 300 = 0) pc
                 WHERE pc.c_custkey = o.o_custkey))
              AS orphan_orders,
            (SELECT count(*) FROM (
               SELECT c_custkey FROM (
                 SELECT c_custkey FROM customer WHERE c_custkey % 101 <> 0
                 UNION ALL SELECT c_custkey FROM customer
                 WHERE c_custkey % 300 = 0)
               GROUP BY c_custkey HAVING count(*) > 1))
              AS dup_custkeys)
        SELECT * FROM a UNION ALL SELECT * FROM p ORDER BY scenario""")),

    // Daily percentile bands (the P50/P90/P99-per-day observability
    // readout): exact nearest-rank picks over the per-(type, day) cent
    // histogram — three cut levels from ONE cumulative window pass, no
    // interpolation, no sampling. The same doubled-cumulative integer
    // rule as q269/q272, generalized to multiple quantiles: pick the
    // smallest v with cum*100 >= q*total for q in {50, 90, 99}.
    "q282_daily_percentile_bands" -> QueryDef(
      fn = (s, d) => {
        val hist = t(s, d, "events")
          .filter(col("value").isNotNull)
          .select(col("event_type"), dayofmonth(col("ts")).cast("long").as("day"),
            expr(centsCol("value")).as("v"))
          .groupBy("event_type", "day", "v").agg(count(lit(1)).as("cnt"))
        val wCum = Window.partitionBy("event_type", "day").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAll = Window.partitionBy("event_type", "day")
        val c = hist
          .withColumn("cum", sum(col("cnt")).over(wCum))
          .withColumn("tot", sum(col("cnt")).over(wAll))
        def cut(q: Int) =
          min(when(col("cum") * 100L >= col("tot") * q.toLong, col("v"))).as(s"p$q")
        c.groupBy("event_type", "day")
          .agg(max(col("tot")).as("n"), cut(50), cut(90), cut(99))
          .orderBy("event_type", "day")
      },
      oracle = Some(s"""
        WITH hist AS (SELECT event_type,
                             CAST(strftime(ts, '%d') AS BIGINT) AS day,
                             $bucketCentsSql AS v, count(*) AS cnt
                      FROM events WHERE value IS NOT NULL
                      GROUP BY 1, 2, 3),
        c AS (SELECT event_type, day, v, cnt,
                     sum(cnt) OVER (PARTITION BY event_type, day ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                     sum(cnt) OVER (PARTITION BY event_type, day) AS tot
              FROM hist)
        SELECT event_type, day, CAST(max(tot) AS BIGINT) AS n,
               CAST(min(CASE WHEN cum * 100 >= tot * 50 THEN v END) AS BIGINT) AS p50,
               CAST(min(CASE WHEN cum * 100 >= tot * 90 THEN v END) AS BIGINT) AS p90,
               CAST(min(CASE WHEN cum * 100 >= tot * 99 THEN v END) AS BIGINT) AS p99
        FROM c GROUP BY event_type, day ORDER BY event_type, day""")),

    // Weighted sampling WITHOUT replacement (A-Res reservoir keys) — the
    // distinct-row complement of q161's cumulative-inversion draws:
    // 50 docs proportional to length, selected by the k largest
    // ln(u)/w keys snapped to the 1e-9 integer grid (the selection
    // boundary is an integer comparison; see
    // [[graft.ops.WeightedSample.sampleWithoutReplacement]]). Map-side
    // key computation + TakeOrdered — no prefix sum, no corpus shuffle.
    "q283_weighted_reservoir" -> QueryDef(
      fn = (s, d) => {
        val docs = t(s, d, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
        graft.ops.WeightedSample
          .sampleWithoutReplacement(docs, "doc_id", "n_chars", AresK)
          .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
          .select(col("doc_id"), col("lang"), col("weight"), col("key_e9"))
          .orderBy(col("key_e9").desc, col("doc_id"))
      },
      oracle = Some(s"""
        WITH b AS (SELECT doc_id, lang, n_chars AS weight,
                          CAST(floor(ln((CAST(('0x' ||
                              substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                              AS BIGINT) + 1) / 4294967296.0)
                            / CAST(n_chars AS DOUBLE) * 1e9) AS BIGINT)
                            AS key_e9
                   FROM documents WHERE n_chars > 0)
        SELECT doc_id, lang, weight, key_e9 FROM b
        ORDER BY key_e9 DESC, doc_id LIMIT $AresK""")),

    // Benford first-digit audit — the classic fabricated-data /
    // corrupted-feed screen: the leading digit of naturally-occurring
    // amounts follows log10(1 + 1/d), and a synthetic or truncated feed
    // drifts. Observed shares are exact integer ratios on the 1e-6
    // grid; the NINE expected constants are generated ONCE in Scala
    // (math.log10) and embedded verbatim in BOTH engines — no runtime
    // log anywhere, so the cell is bit-identical with no snap hazard.
    // A closed 1..9 digit spine keeps absent digits as explicit zeros.
    "q291_benford_audit" -> QueryDef(
      fn = (s, d) => {
        val c = expr(centsCol("value"))
        val counts = t(s, d, "events")
          .filter(col("value").isNotNull && c >= 1L)
          .select(substring(c.cast("string"), 1, 1).cast("long").as("digit"))
          .groupBy("digit").agg(count(lit(1)).as("__n"))
        val spine = s.range(1, 10).select(col("id").as("digit"))
        val expCase = BenfordE6.zipWithIndex.foldLeft(lit(0L)) {
          case (acc, (e, i)) => when(col("digit") === (i + 1).toLong, e).otherwise(acc)
        }
        val joined = spine.join(counts, Seq("digit"), "left")
          .select(col("digit"), coalesce(col("__n"), lit(0L)).as("n"))
          .localCheckpoint(eager = true) // total + shares share it
        val tot = joined.agg(sum(col("n")).as("__t"))
        joined.crossJoin(broadcast(tot))
          .select(col("digit"), col("n"),
            expr("n * 1000000L div __t").as("obs_e6"),
            expCase.as("exp_e6"))
          .withColumn("dev_e6", abs(col("obs_e6") - col("exp_e6")))
          .orderBy("digit")
      },
      oracle = Some {
        val arms = BenfordE6.zipWithIndex
          .map { case (e, i) => s"WHEN ${i + 1} THEN $e" }.mkString(" ")
        s"""
        WITH c AS (SELECT $bucketCentsSql AS v FROM events
                   WHERE value IS NOT NULL AND $bucketCentsSql >= 1),
        k AS (SELECT CAST(substring(CAST(v AS VARCHAR), 1, 1) AS BIGINT)
                       AS digit, count(*) AS n
              FROM c GROUP BY 1),
        sp AS (SELECT unnest(generate_series(1, 9)) AS digit),
        j AS (SELECT sp.digit, COALESCE(k.n, 0) AS n
              FROM sp LEFT JOIN k USING (digit)),
        t AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM j)
        SELECT digit, CAST(n AS BIGINT) AS n,
               n * 1000000 // t.t AS obs_e6,
               CAST(CASE digit $arms ELSE 0 END AS BIGINT) AS exp_e6,
               abs(n * 1000000 // t.t
                   - (CASE digit $arms ELSE 0 END)) AS dev_e6
        FROM j CROSS JOIN t ORDER BY digit"""
      }),

    // Inter-event burstiness (Goh-Barabasi B = (sigma - mu)/(sigma +
    // mu) of the gap distribution, -1 = metronome, 0 = Poisson, -> 1 =
    // bursty) — the arrival-process diagnostic next to q266's ACF
    // (periodicity) and q92's rolling volume. Gaps are exact integer
    // SECONDS from one (type)-keyed lag window; S1/S2 are exact long
    // sums (bounded: gap <= month ~ 2.6e6 s, S2 <= 1e5 * 6.8e12 <<
    // 2^63); the variance numerator n*S2 - S1^2 lifts to DECIMAL(38,0)
    // for the two final products only (the q78 rule); sqrt and one
    // division are the only doubles, in fixed order, rounded at 6dp.
    "q292_burstiness" -> QueryDef(
      fn = (s, d) => {
        t(s, d, "events")
          .select(col("event_type"), col("event_id"),
            unix_micros(col("ts")).as("__us"))
          .withColumn("__gap",
            expr("(__us - lag(__us, 1) OVER (PARTITION BY event_type " +
              "ORDER BY __us, event_id)) div 1000000L"))
          .filter(col("__gap").isNotNull)
          .groupBy("event_type")
          .agg(count(lit(1)).as("__n"), sum(col("__gap")).as("__s1"),
            sum(col("__gap") * col("__gap")).as("__s2"))
          .filter(col("__n") >= 2L)
          .select(col("event_type"), col("__n").as("n_gaps"),
            // floor-snap at 6dp (the new-formula rule: round() tie
            // semantics differ between engines; B can be negative and
            // floor(x*1e6+0.5) is round-half-up for both signs)
            expr("""floor((
              (sqrt(CAST(CAST(__n AS DECIMAL(38,0)) * __s2
                         - CAST(__s1 AS DECIMAL(38,0)) * __s1 AS DOUBLE)) / __n
               - CAST(__s1 AS DOUBLE) / __n)
              / (sqrt(CAST(CAST(__n AS DECIMAL(38,0)) * __s2
                           - CAST(__s1 AS DECIMAL(38,0)) * __s1 AS DOUBLE)) / __n
                 + CAST(__s1 AS DOUBLE) / __n)) * 1e6 + 0.5) / 1e6""")
              .as("burstiness"))
          .orderBy("event_type")
      },
      oracle = Some("""
        WITH g AS (SELECT event_type,
                          (epoch_us(ts) - lag(epoch_us(ts)) OVER
                             (PARTITION BY event_type
                              ORDER BY epoch_us(ts), event_id)) // 1000000
                            AS gap
                   FROM events),
        m AS (SELECT event_type, count(*) AS n,
                     CAST(sum(gap) AS BIGINT) AS s1,
                     CAST(sum(gap * gap) AS BIGINT) AS s2
              FROM g WHERE gap IS NOT NULL GROUP BY event_type
              HAVING count(*) >= 2)
        SELECT event_type, CAST(n AS BIGINT) AS n_gaps,
               floor(((sqrt(CAST(CAST(n AS DECIMAL(38,0)) * s2
                                - CAST(s1 AS DECIMAL(38,0)) * s1 AS DOUBLE)) / n
                      - CAST(s1 AS DOUBLE) / n)
                     / (sqrt(CAST(CAST(n AS DECIMAL(38,0)) * s2
                                  - CAST(s1 AS DECIMAL(38,0)) * s1 AS DOUBLE)) / n
                        + CAST(s1 AS DOUBLE) / n)) * 1e6 + 0.5) / 1e6
                 AS burstiness
        FROM m ORDER BY event_type""")),

    // Winsorization — the robust-preprocessing ACTION on top of q282's
    // percentile READOUT: clip each event's cents to the per-type
    // [P5, P95] nearest-rank bounds and report the clipped counts plus
    // the winsorized mean. Bounds ride the q269/q282 doubled-cumulative
    // integer rule (no interpolation, no FP); the clipped mean is an
    // exact floor-divided cent. One histogram agg + one cumulative
    // window over the bounded (type, cents) frame, then one broadcast
    // join back to apply the clip.
    "q294_winsorize" -> QueryDef(
      fn = (s, d) => {
        val c = expr(centsCol("value"))
        val ev = t(s, d, "events").filter(col("value").isNotNull)
          .select(col("event_type"), c.as("__c"))
          .localCheckpoint(eager = true) // histogram + clip share it
        val hist = ev.groupBy("event_type", "__c")
          .agg(count(lit(1)).as("__k"))
        val w = Window.partitionBy("event_type").orderBy(col("__c"))
        val bounds = hist
          .withColumn("__cum", sum(col("__k")).over(w))
          .withColumn("__tot",
            sum(col("__k")).over(Window.partitionBy("event_type")))
          .groupBy("event_type")
          .agg(min(when(col("__cum") * 100 >= col("__tot") * 5, col("__c")))
            .as("__lo"),
            min(when(col("__cum") * 100 >= col("__tot") * 95, col("__c")))
              .as("__hi"))
        ev.join(broadcast(bounds), Seq("event_type"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(when(col("__c") < col("__lo"), 1L).otherwise(0L)).as("n_clip_lo"),
            sum(when(col("__c") > col("__hi"), 1L).otherwise(0L)).as("n_clip_hi"),
            min(col("__lo")).as("p5_cents"), min(col("__hi")).as("p95_cents"),
            sum(greatest(col("__lo"), least(col("__hi"), col("__c")))).as("__ws"))
          .select(col("event_type"), col("n"), col("n_clip_lo"),
            col("n_clip_hi"), col("p5_cents"), col("p95_cents"),
            expr("__ws div n").as("wmean_cents"))
          .orderBy("event_type")
      },
      oracle = Some(s"""
        WITH e AS (SELECT event_type, $bucketCentsSql AS c FROM events
                   WHERE value IS NOT NULL),
        h AS (SELECT event_type, c, count(*) AS k FROM e GROUP BY 1, 2),
        cw AS (SELECT event_type, c, k,
                      sum(k) OVER (PARTITION BY event_type ORDER BY c
                                   ROWS UNBOUNDED PRECEDING) AS cum,
                      sum(k) OVER (PARTITION BY event_type) AS tot
               FROM h),
        b AS (SELECT event_type,
                     CAST(min(CASE WHEN cum * 100 >= tot * 5 THEN c END)
                       AS BIGINT) AS lo,
                     CAST(min(CASE WHEN cum * 100 >= tot * 95 THEN c END)
                       AS BIGINT) AS hi
              FROM cw GROUP BY event_type)
        SELECT e.event_type, count(*) AS n,
               CAST(sum(CASE WHEN e.c < b.lo THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_clip_lo,
               CAST(sum(CASE WHEN e.c > b.hi THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_clip_hi,
               b.lo AS p5_cents, b.hi AS p95_cents,
               CAST(sum(greatest(b.lo, least(b.hi, e.c))) AS BIGINT)
                 // count(*) AS wmean_cents
        FROM e JOIN b USING (event_type)
        GROUP BY e.event_type, b.lo, b.hi ORDER BY event_type""")),

    // Multi-touch attribution — the marketing-analytics verb above
    // q98's funnel: every purchase credits its user's touches in the
    // 7-day lookback under THREE models at once (first-touch,
    // last-touch, linear), reported per touch type. Linear credit is
    // exact on the 1e-6 grid: 1e6 div n per touch with the remainder
    // assigned to the LAST touch, so every converted credit sums to
    // exactly 1e6 and the per-type totals are exact integers. Ordering
    // ties break on (ts, event_id) — total in both engines. Shape: one
    // user-keyed hash equi-join (fanout bounded by a user's 7-day
    // activity — the as-of/range-join argument), one per-conversion
    // window (state bounded the same way), one bounded agg.
    "q295_attribution" -> QueryDef(
      fn = (s, d) => {
        val ev = t(s, d, "events")
          .select(col("event_id"), col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("__us"))
          .localCheckpoint(eager = true) // conversion + touch sides share it
        val conv = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("__cid"), col("user_id"),
            col("__us").as("__cts"))
        val touch = ev.filter(col("event_type") =!= "purchase")
          .select(col("user_id"), col("event_type"),
            col("__us").as("__tts"), col("event_id").as("__tid"))
        val w = Window.partitionBy("__cid").orderBy(col("__tts"), col("__tid"))
        conv.join(touch, Seq("user_id"))
          .filter(col("__tts") < col("__cts")
            && col("__tts") >= col("__cts") - AttributionWindowUs)
          .withColumn("__rn", row_number().over(w))
          .withColumn("__n", count(lit(1)).over(Window.partitionBy("__cid")))
          .groupBy("event_type")
          .agg(sum(when(col("__rn") === 1, 1L).otherwise(0L)).as("n_first"),
            sum(when(col("__rn") === col("__n"), 1L).otherwise(0L)).as("n_last"),
            sum(expr("1000000L div __n")
              + when(col("__rn") === col("__n"),
                  lit(1000000L) - col("__n") * expr("1000000L div __n"))
                .otherwise(0L)).as("linear_credit_e6"))
          .orderBy("event_type")
      },
      oracle = Some(s"""
        WITH conv AS (SELECT event_id AS cid, user_id, epoch_us(ts) AS cts
                      FROM events WHERE event_type = 'purchase'),
        touch AS (SELECT event_id AS tid, user_id, event_type,
                         epoch_us(ts) AS tts
                  FROM events WHERE event_type <> 'purchase'),
        p AS (SELECT c.cid, t.event_type, t.tts, t.tid
              FROM conv c JOIN touch t ON c.user_id = t.user_id
              WHERE t.tts < c.cts AND t.tts >= c.cts - $AttributionWindowUs),
        rk AS (SELECT cid, event_type,
                      row_number() OVER (PARTITION BY cid
                                         ORDER BY tts, tid) AS rn,
                      count(*) OVER (PARTITION BY cid) AS n
               FROM p)
        SELECT event_type,
               CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_first,
               CAST(sum(CASE WHEN rn = n THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_last,
               CAST(sum(1000000 // n + CASE WHEN rn = n
                        THEN 1000000 - n * (1000000 // n) ELSE 0 END)
                 AS BIGINT) AS linear_credit_e6
        FROM rk GROUP BY event_type ORDER BY event_type""")),

    // Incremental JOIN maintenance — the IVM delta rule completing
    // q241's incremental AGGREGATE maintenance: with standing snapshots
    // O, C and inserted deltas dO, dC, the new join rows are EXACTLY
    // dO><C  UNION ALL  O><dC  UNION ALL  dO><dC — the maintained view
    // never recomputes O><C. At scale that is the whole point: the
    // delta sides are day-sized and broadcastable while the snapshots
    // are 100 TB; a missed term (the classic dO><dC omission) or a
    // double-count is exactly what the full-recompute oracle catches.
    // Splits are deterministic key slices (custkey % 9, orderkey % 7);
    // the readout aggregates maintained = J + dJ per market segment in
    // exact cents so any wrong row count or join multiplicity flips a
    // cell.
    "q296_incremental_join" -> QueryDef(
      fn = (s, d) => {
        val cAll = t(s, d, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))
        val oAll = t(s, d, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            cents(col("o_totalprice")).as("__p"))
        val c0 = cAll.filter(col("c_custkey") % 9 =!= 0)
        val dC = cAll.filter(col("c_custkey") % 9 === 0)
        val o0 = oAll.filter(col("o_orderkey") % 7 =!= 0)
        val dO = oAll.filter(col("o_orderkey") % 7 === 0)
        def j(o: org.apache.spark.sql.DataFrame, c: org.apache.spark.sql.DataFrame) =
          o.join(c, col("o_custkey") === col("c_custkey"))
            .select(col("c_mktsegment"), col("__p"))
        // maintained view = standing join + the three delta terms
        val maintained = j(o0, c0)
          .unionAll(j(dO, c0))
          .unionAll(j(o0, dC))
          .unionAll(j(dO, dC))
        maintained.groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_rows"),
            sum(col("__p")).as("sum_cents"))
          .orderBy("c_mktsegment")
      },
      oracle = Some(s"""
        SELECT c_mktsegment, count(*) AS n_rows,
               CAST(sum(${centsSql("o_totalprice")}) AS BIGINT) AS sum_cents
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // Rule-based suffix stemming census — the cheap normalization rung
    // below lemmatization (and beside q74's NFC): strip the FIRST
    // applicable of ing/ed/s with minimum-stem guards, report the
    // vocabulary compression and the top stems. The rule list is ONE
    // Scala constant rendered into both the Column when-chain and the
    // oracle CASE, so the two engines cannot drift. Pure map-side
    // per-token work + two bounded aggs.
    // Injection (hollow-output discipline — the constant-column audit
    // caught n_forms == 1 everywhere on the first cut): the synthetic
    // 31-word lexicon carries NO inflected variants, so every 40th doc
    // gains a fixed inflection ribbon (joins/joined/joining, ...) whose
    // stems collapse 3-4 distinct forms onto base words the corpus
    // already contains — the collapsing branch is now oracle-gated.
    "q297_stem_census" -> QueryDef(
      fn = (s, d) => {
        val tok = t(s, d, "documents")
          .select(when(col("doc_id") % 40 === 1,
            concat(col("text"), lit(StemRibbon))).otherwise(col("text"))
            .as("text"))
          .select(explode(graft.functions.TextFunctions.tokens(lower(col("text")))).as("__t"))
        val stemmed = tok.select(stemCol(col("__t")).as("__s"), col("__t"))
          .localCheckpoint(eager = true) // census + compression share it
        val census = stemmed.groupBy("__s")
          .agg(count(lit(1)).as("n_tokens"),
            countDistinct(col("__t")).as("n_forms"))
        census.orderBy(col("n_tokens").desc, col("__s"))
          .limit(20)
          .select(col("__s").as("stem"), col("n_tokens"), col("n_forms"))
      },
      oracle = Some(s"""
        WITH aug AS (SELECT CASE WHEN doc_id % 40 = 1
                            THEN text || '$StemRibbon' ELSE text END AS text
                     FROM documents),
        tok AS (SELECT unnest($toksSql) AS t
                FROM (SELECT lower(text) AS text FROM aug)),
        st AS (SELECT $stemSql AS s, t FROM tok),
        c AS (SELECT s, count(*) AS n_tokens,
                     count(DISTINCT t) AS n_forms
              FROM st GROUP BY s)
        SELECT s AS stem, n_tokens, n_forms
        FROM c ORDER BY n_tokens DESC, s LIMIT 20""")),

    // HLL set algebra — audience-overlap estimation by
    // inclusion-exclusion over mergeable distinct sketches, the verb on
    // top of q179's HLL rollups: |A n B| ~ apx(A) + apx(B) - apx(A u B),
    // the standard way to answer "how much do these segments overlap"
    // without materializing either set. Audiences are high-engagement
    // segments (per-type event count > AudienceBar — the raw user grain
    // is degenerate on this fixture). Emitted as the GUARANTEE plus the
    // exact answer (q30's pattern): the oracle recomputes exact
    // intersections and asserts every inclusion-exclusion estimate
    // lands inside 20% + 3 absolute. Three sketches compound errors
    // PROPORTIONAL TO THE SET SIZES, not the (smaller) intersection —
    // at sf0.1 the default 5% rsd broke the bound (|A|~750 vs
    // inter~310) — so the sketches run at rsd 0.01 (bigger registers,
    // the right trade for a guarantee stated against the
    // intersection); the +3 floors the tiny-set regime.
    // Shape: audiences are one partial-agg pass; the pair fanout is a
    // bounded 10-row broadcast; every sketch is mergeable state.
    "q298_audience_overlap" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val au = t(s, d, "events")
          .groupBy("event_type", "user_id").agg(count(lit(1)).as("__n"))
          .filter(col("__n") > AudienceBar)
          .select(col("event_type"), col("user_id"))
          .localCheckpoint(eager = true) // sizes + unions + exact share it
        val pairsSpine = eventTypes.combinations(2)
          .map { case Seq(a, b) => (a, b) }.toSeq
          .toDF("type_a", "type_b")
        val sizes = au.groupBy("event_type")
          .agg(approx_count_distinct(col("user_id"), 0.01).as("__apx"))
        val unions = au.join(broadcast(pairsSpine),
            col("event_type") === col("type_a")
              || col("event_type") === col("type_b"))
          .groupBy("type_a", "type_b")
          .agg(approx_count_distinct(col("user_id"), 0.01).as("__apxu"))
        val exact = au.select(col("event_type").as("type_a"), col("user_id"))
          .join(au.select(col("event_type").as("type_b"), col("user_id")),
            Seq("user_id"))
          .filter(col("type_a") < col("type_b"))
          .groupBy("type_a", "type_b").agg(count(lit(1)).as("__ex"))
        // every join back to the spine is LEFT + coalesce-0: an audience
        // that empties at some sf must yield (0, TRUE) rows, not drop
        // the pair (the first cut's inner joins vanished the whole
        // spine under a miscalibrated bar)
        pairsSpine
          .join(sizes.select(col("event_type").as("type_a"),
            col("__apx").as("__a")), Seq("type_a"), "left")
          .join(sizes.select(col("event_type").as("type_b"),
            col("__apx").as("__b")), Seq("type_b"), "left")
          .join(unions, Seq("type_a", "type_b"), "left")
          .join(exact, Seq("type_a", "type_b"), "left")
          .select(col("type_a"), col("type_b"),
            coalesce(col("__ex"), lit(0L)).as("exact_overlap"),
            (abs(coalesce(col("__a"), lit(0L)) + coalesce(col("__b"), lit(0L))
              - coalesce(col("__apxu"), lit(0L))
              - coalesce(col("__ex"), lit(0L)))
              <= coalesce(col("__ex"), lit(0L)) / lit(5L) + lit(3L))
              .as("approx_ok"))
          .orderBy("type_a", "type_b")
      },
      oracle = Some(s"""
        WITH au AS (SELECT event_type, user_id FROM events
                    GROUP BY event_type, user_id
                    HAVING count(*) > $AudienceBar),
        sp AS (${eventTypes.combinations(2).map { case Seq(a, b) =>
          s"SELECT '$a' AS type_a, '$b' AS type_b" }.mkString(" UNION ALL ")}),
        ex AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                      count(*) AS ex
               FROM au a JOIN au b ON a.user_id = b.user_id
                                  AND a.event_type < b.event_type
               GROUP BY 1, 2)
        SELECT sp.type_a, sp.type_b,
               CAST(COALESCE(ex.ex, 0) AS BIGINT) AS exact_overlap,
               TRUE AS approx_ok
        FROM sp LEFT JOIN ex USING (type_a, type_b)
        ORDER BY type_a, type_b""")),

    // Day-of-week seasonality profile — the BI rhythm readout beside
    // q266's ACF (which detects periodicity; this PROFILES it): per
    // type, each weekday's exact integer share of traffic plus the peak
    // flag (max count, smallest-dow tie-break). Alignment pin: Spark's
    // dayofweek is 1(Sun)..7, DuckDB's 0(Sun)..6 — the Spark side
    // shifts by 1 so both emit 0 = Sunday. One partial-agg pass to the
    // bounded (5 x 7) frame; the peak rank is a window over 7 rows.
    "q299_dow_profile" -> QueryDef(
      fn = (s, d) => {
        val byDow = t(s, d, "events")
          .groupBy(col("event_type"),
            (dayofweek(col("ts")) - 1).cast("long").as("dow"))
          .agg(count(lit(1)).as("n"))
        val w = Window.partitionBy("event_type")
        val rk = Window.partitionBy("event_type")
          .orderBy(col("n").desc, col("dow").asc)
        byDow
          .withColumn("__tot", sum(col("n")).over(w))
          .withColumn("__rk", row_number().over(rk))
          .select(col("event_type"), col("dow"), col("n"),
            expr("n * 1000000L div __tot").as("share_e6"),
            (col("__rk") === 1).as("is_peak"))
          .orderBy("event_type", "dow")
      },
      oracle = Some("""
        WITH b AS (SELECT event_type,
                          CAST(dayofweek(ts) AS BIGINT) AS dow,
                          count(*) AS n
                   FROM events GROUP BY 1, 2),
        r AS (SELECT event_type, dow, n,
                     sum(n) OVER (PARTITION BY event_type) AS tot,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY n DESC, dow ASC) AS rk
              FROM b)
        SELECT event_type, dow, CAST(n AS BIGINT) AS n,
               CAST(n * 1000000 // tot AS BIGINT) AS share_e6,
               rk = 1 AS is_peak
        FROM r ORDER BY event_type, dow""")),

    // Spearman rank correlation (round 13) — the monotone-association
    // verb beside q201's Pearson(?): per event type, rho between each
    // user's activity (event count) and spend (exact cents), computed
    // as Pearson over DOUBLED MIDRANKS (the q376 integer-midrank trick:
    // midrank2 = 2*count_below + ties + 1 — tie-exact, no fractional
    // ranks). Ranks come from a value-grouped cumulative (the q261
    // shape: group by value, window over the bounded distinct-value
    // frame), so no per-user global sort; all moments are exact
    // integers and the two sqrts are taken SEPARATELY (their product
    // would overflow a long) in the same order on both engines, e6
    // snap at emit. 100 TB note: doubled midranks reach 2n, so
    // n*sxx ~ 4n^4 — int64 would overflow at only ~4e4 users per
    // type (r13 ADVICE), which is NOT headroom, so the rank moments
    // are summed as decimal(38,0) from the start (exact to ~1e9 users
    // per type; DuckDB promotes its BIGINT sums to HUGEINT, so both
    // engines stay exact and the rho_e6 emit is unchanged).
    "q392_spearman" -> QueryDef(
      fn = (s, d) => {
        val ux = t(s, d, "events")
          .groupBy(col("event_type"), col("user_id"))
          .agg(count(lit(1)).as("__x"),
            sum(expr(centsCol("value"))).as("__y"))
          .localCheckpoint(eager = true) // both rank passes share it
        def midrank2(vcol: String, out: String): DataFrame = {
          val g = ux.groupBy(col("event_type"), col(vcol))
            .agg(count(lit(1)).as("__cnt"))
          val w = Window.partitionBy("event_type").orderBy(col(vcol))
            .rowsBetween(Window.unboundedPreceding, -1)
          g.withColumn("__below", coalesce(sum(col("__cnt")).over(w), lit(0L)))
            .select(col("event_type"), col(vcol),
              (lit(2L) * col("__below") + col("__cnt") + 1L).as(out))
        }
        val ranked = ux
          .join(midrank2("__x", "__rx"), Seq("event_type", "__x"))
          .join(midrank2("__y", "__ry"), Seq("event_type", "__y"))
        val m = ranked.groupBy("event_type").agg(
          count(lit(1)).as("n_users"),
          sum(col("__rx").cast("decimal(38,0)")).as("__sx"),
          sum(col("__ry").cast("decimal(38,0)")).as("__sy"),
          sum(col("__rx").cast("decimal(38,0)") * col("__rx")).as("__sxx"),
          sum(col("__ry").cast("decimal(38,0)") * col("__ry")).as("__syy"),
          sum(col("__rx").cast("decimal(38,0)") * col("__ry")).as("__sxy"))
        m.select(col("event_type"), col("n_users"),
          when(col("n_users") > 1L
              && col("n_users") * col("__sxx") > col("__sx") * col("__sx")
              && col("n_users") * col("__syy") > col("__sy") * col("__sy"),
            e6((col("n_users") * col("__sxy") - col("__sx") * col("__sy"))
              .cast("double")
              / (sqrt((col("n_users") * col("__sxx")
                  - col("__sx") * col("__sx")).cast("double"))
                * sqrt((col("n_users") * col("__syy")
                  - col("__sy") * col("__sy")).cast("double")))))
            .as("rho_e6"))
          .orderBy("event_type")
      },
      oracle = Some(s"""
        WITH ux AS (SELECT event_type, user_id, count(*) AS x,
                           sum(${centsSql("value")}) AS y
                    FROM events GROUP BY 1, 2),
        gx AS (SELECT event_type, x, count(*) AS cnt FROM ux GROUP BY 1, 2),
        rx AS (SELECT event_type, x,
                      2 * coalesce(sum(cnt) OVER (PARTITION BY event_type
                        ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) + cnt + 1 AS rx
               FROM gx),
        gy AS (SELECT event_type, y, count(*) AS cnt FROM ux GROUP BY 1, 2),
        ry AS (SELECT event_type, y,
                      2 * coalesce(sum(cnt) OVER (PARTITION BY event_type
                        ORDER BY y ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) + cnt + 1 AS ry
               FROM gy),
        j AS (SELECT ux.event_type, rx.rx, ry.ry
              FROM ux JOIN rx ON ux.event_type = rx.event_type
                              AND ux.x = rx.x
                      JOIN ry ON ux.event_type = ry.event_type
                              AND ux.y = ry.y),
        m AS (SELECT event_type, count(*) AS n,
                     sum(rx) AS sx, sum(ry) AS sy,
                     sum(rx * rx) AS sxx, sum(ry * ry) AS syy,
                     sum(rx * ry) AS sxy
              FROM j GROUP BY event_type)
        SELECT event_type, CAST(n AS BIGINT) AS n_users,
               CAST(CASE WHEN n > 1 AND n * sxx > sx * sx
                          AND n * syy > sy * sy
                    THEN floor(CAST(n * sxy - sx * sy AS DOUBLE)
                           / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                              * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
                           * 1000000 + 0.5) END AS BIGINT) AS rho_e6
        FROM m ORDER BY event_type""")),

    // Kendall tau-b (round 13) — Spearman's pair-order sibling with
    // EXACT tie corrections: per event type over the calendar-bounded
    // daily (count, spend) series, concordant/discordant pairs from a
    // bounded self-join (<= days^2 per type, never corpus-scale), tie
    // terms n1/n2 from per-value choose-2 sums, tau_b =
    // (C - D) / (sqrt(n0 - n1) * sqrt(n0 - n2)) with the sqrts taken
    // separately (fixed FP order) and an e6 snap. Zero-variance series
    // CASE-null in both engines.
    "q393_kendall_tau" -> QueryDef(
      fn = (s, d) => {
        val daily = t(s, d, "events")
          .groupBy(col("event_type"), to_date(col("ts")).as("__day"))
          .agg(count(lit(1)).as("__x"),
            sum(expr(centsCol("value"))).as("__y"))
          .localCheckpoint(eager = true) // pair join + tie counts share it
        val b = daily.select(col("event_type").as("__et2"),
          col("__day").as("__d2"), col("__x").as("__x2"), col("__y").as("__y2"))
        val pairs = daily.join(b, col("event_type") === col("__et2")
            && col("__d2") > col("__day"))
          .select(col("event_type"),
            (signum((col("__x2") - col("__x")).cast("double"))
              * signum((col("__y2") - col("__y")).cast("double")))
              .cast("long").as("__s"))
        val cd = pairs.groupBy("event_type").agg(
          sum(when(col("__s") === 1L, 1L).otherwise(0L)).as("concordant"),
          sum(when(col("__s") === -1L, 1L).otherwise(0L)).as("discordant"))
        def tieTerm(vcol: String, out: String) = daily
          .groupBy(col("event_type"), col(vcol))
          .agg(count(lit(1)).as("__t"))
          .groupBy("event_type")
          .agg(sum(expr("__t * (__t - 1) div 2")).as(out))
        val nd = daily.groupBy("event_type").agg(count(lit(1)).as("n_days"))
        val joined = nd.join(cd, Seq("event_type"))
          .join(tieTerm("__x", "__n1"), Seq("event_type"))
          .join(tieTerm("__y", "__n2"), Seq("event_type"))
          .withColumn("__n0", expr("n_days * (n_days - 1) div 2"))
        joined.select(col("event_type"), col("n_days"),
          col("concordant"), col("discordant"),
          when(col("__n0") > col("__n1") && col("__n0") > col("__n2"),
            e6((col("concordant") - col("discordant")).cast("double")
              / (sqrt((col("__n0") - col("__n1")).cast("double"))
                * sqrt((col("__n0") - col("__n2")).cast("double")))))
            .as("tau_b_e6"))
          .orderBy("event_type")
      },
      oracle = Some(s"""
        WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                              count(*) AS x, sum(${centsSql("value")}) AS y
                       FROM events GROUP BY 1, 2),
        p AS (SELECT a.event_type,
                     CAST(sign(b.x - a.x) * sign(b.y - a.y) AS BIGINT) AS s
              FROM daily a JOIN daily b
                ON a.event_type = b.event_type AND b.day > a.day),
        cd AS (SELECT event_type,
                      CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT)
                        AS c,
                      CAST(sum(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT)
                        AS dd
               FROM p GROUP BY event_type),
        t1 AS (SELECT event_type, CAST(sum(t * (t - 1) // 2) AS BIGINT) AS n1
               FROM (SELECT event_type, x, count(*) AS t FROM daily
                     GROUP BY 1, 2) GROUP BY event_type),
        t2 AS (SELECT event_type, CAST(sum(t * (t - 1) // 2) AS BIGINT) AS n2
               FROM (SELECT event_type, y, count(*) AS t FROM daily
                     GROUP BY 1, 2) GROUP BY event_type),
        nd AS (SELECT event_type, count(*) AS n FROM daily GROUP BY 1),
        j AS (SELECT nd.event_type, nd.n, cd.c, cd.dd, t1.n1, t2.n2,
                     nd.n * (nd.n - 1) // 2 AS n0
              FROM nd JOIN cd USING (event_type)
                      JOIN t1 USING (event_type) JOIN t2 USING (event_type))
        SELECT event_type, CAST(n AS BIGINT) AS n_days, c AS concordant,
               dd AS discordant,
               CAST(CASE WHEN n0 > n1 AND n0 > n2
                    THEN floor(CAST(c - dd AS DOUBLE)
                           / (sqrt(CAST(n0 - n1 AS DOUBLE))
                              * sqrt(CAST(n0 - n2 AS DOUBLE)))
                           * 1000000 + 0.5) END AS BIGINT) AS tau_b_e6
        FROM j ORDER BY event_type""")),

    // Wilson score interval (round 13) — the small-sample-honest
    // confidence bound for a rate (what a normal approximation gets
    // wrong near 0/1): per source, the long-doc rate with its 95%
    // Wilson bounds. z is Scala-rendered once into both engines; the
    // formula is spelled in the identical operand order and e6-snapped
    // at emit. One groupBy — trivially scales; the verb matters because
    // every curation dashboard thresholding "rate >= X" needs the LOWER
    // bound, not the point estimate, for thin slices.
    "q394_wilson_interval" -> QueryDef(
      fn = (s, d) => {
        val agg = t(s, d, "documents")
          .groupBy("source")
          .agg(count(lit(1)).as("n"),
            sum(when(col("n_chars") >= 200L, 1L).otherwise(0L)).as("k"))
        val nD = col("n").cast("double")
        val p = col("k").cast("double") / nD
        val centre = p + lit(WilsonZ2) / (lit(2.0) * nD)
        val margin = lit(WilsonZ) * sqrt(
          p * (lit(1.0) - p) / nD + lit(WilsonZ2) / (lit(4.0) * nD * nD))
        val denom = lit(1.0) + lit(WilsonZ2) / nD
        agg.select(col("source"), col("n"), col("k"),
          e6(p).as("rate_e6"),
          e6((centre - margin) / denom).as("lo_e6"),
          e6((centre + margin) / denom).as("hi_e6"))
          .orderBy("source")
      },
      oracle = Some(s"""
        WITH a AS (SELECT source, count(*) AS n,
                          sum(CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END) AS k
                   FROM documents GROUP BY source),
        f AS (SELECT source, n, k,
                     CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p,
                     CAST(n AS DOUBLE) AS nd
              FROM a)
        SELECT source, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
               CAST(floor(p * 1000000 + 0.5) AS BIGINT) AS rate_e6,
               CAST(floor((p + $WilsonZ2 / (2.0 * nd)
                           - $WilsonZ * sqrt(p * (1.0 - p) / nd
                                             + $WilsonZ2 / (4.0 * nd * nd)))
                          / (1.0 + $WilsonZ2 / nd) * 1000000 + 0.5)
                 AS BIGINT) AS lo_e6,
               CAST(floor((p + $WilsonZ2 / (2.0 * nd)
                           + $WilsonZ * sqrt(p * (1.0 - p) / nd
                                             + $WilsonZ2 / (4.0 * nd * nd)))
                          / (1.0 + $WilsonZ2 / nd) * 1000000 + 0.5)
                 AS BIGINT) AS hi_e6
        FROM f ORDER BY source""")),

    // Partial autocorrelation (Durbin-Levinson, round 13) — q266's ACF
    // answers "is there correlation at lag k"; PACF answers "is it NEW
    // correlation or just lag-1 echo" (the AR-order picker). ACF ratios
    // come from q266's exact-integer centering trick, are e6-snapped
    // BEFORE the recursion (the q224 per-level rule), and the DL
    // recursion itself is unrolled SYMBOLICALLY by one Scala generator
    // whose SQL text feeds Spark's expr() and the DuckDB oracle
    // verbatim — the two engines evaluate the identical arithmetic
    // tree, so the doubles cannot drift. Everything after the one
    // corpus agg rides a bounded types x lags frame.
    "q395_pacf" -> QueryDef(
      fn = (s, d) => {
        val g = t(s, d, "events")
          .select(col("event_type"), dayofmonth(col("ts")).cast("long").as("day"))
          .groupBy("event_type", "day").agg(count(lit(1)).as("n"))
        val tot = g.groupBy("event_type")
          .agg(count(lit(1)).as("nd"), sum(col("n")).as("s"))
        val y = g.join(broadcast(tot), Seq("event_type"))
          .select(col("event_type"), col("day"),
            (col("nd") * col("n") - col("s")).as("y"))
          .localCheckpoint(eager = true) // bounded: types x 31 rows
        val den = y.groupBy("event_type").agg(sum(col("y") * col("y")).as("den"))
        val a = y.select(col("event_type"), col("day"), col("y").as("ya"))
          .withColumn("lag", explode(sequence(lit(1L), lit(PacfMaxLag.toLong))))
          .withColumn("bday", col("day") + col("lag"))
        val b = y.select(col("event_type"), col("day").as("bday"),
          col("y").as("yb"))
        val racf = a.join(b, Seq("event_type", "bday"))
          .groupBy("event_type", "lag")
          .agg(sum(col("ya") * col("yb")).as("num"))
          .join(den, Seq("event_type"))
          .filter(col("den") > 0L)
          .select(col("event_type"), col("lag"),
            e6(col("num").cast("double") / col("den").cast("double")).as("r_e6"))
        val rAggs = (1 to PacfMaxLag).map(k =>
          (max(when(col("lag") === k.toLong, col("r_e6")))
            .cast("double") / 1000000.0).as(s"r$k"))
        val wide = racf.groupBy("event_type").agg(rAggs.head, rAggs.tail: _*)
        val phis = pacfPhiSql
        (1 to PacfMaxLag).map { k =>
          wide.select(col("event_type"), lit(k.toLong).as("lag"),
            expr(s"CAST(floor((${phis(k - 1)}) * 1000000 + 0.5) AS LONG)")
              .as("pacf_e6"))
        }.reduce(_.unionAll(_)).orderBy("event_type", "lag")
      },
      oracle = Some {
        val phiSelects = (1 to PacfMaxLag).map { k =>
          s"""SELECT event_type, CAST($k AS BIGINT) AS lag,
                 CAST(floor((${pacfPhiSql(k - 1)}) * 1000000 + 0.5)
                   AS BIGINT) AS pacf_e6
              FROM wide"""
        }.mkString(" UNION ALL ")
        s"""
        WITH g AS (SELECT event_type, CAST(strftime(ts, '%d') AS BIGINT) AS day,
                          count(*) AS n
                   FROM events GROUP BY event_type, day),
        tot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nd,
                       CAST(sum(n) AS BIGINT) AS s
                FROM g GROUP BY event_type),
        y AS (SELECT g.event_type, g.day, nd * n - s AS y
              FROM g JOIN tot ON g.event_type = tot.event_type),
        den AS (SELECT event_type, CAST(sum(y * y) AS BIGINT) AS den
                FROM y GROUP BY event_type),
        lags AS (SELECT unnest(range(1, ${PacfMaxLag + 1})) AS lag),
        racf AS (SELECT a.event_type, l.lag,
                        CAST(floor(CAST(sum(a.y * b.y) AS DOUBLE)
                          / CAST(max(d.den) AS DOUBLE) * 1000000 + 0.5)
                          AS BIGINT) AS r_e6
                 FROM y a CROSS JOIN lags l
                 JOIN y b ON b.event_type = a.event_type
                         AND b.day = a.day + l.lag
                 JOIN den d ON d.event_type = a.event_type
                 WHERE d.den > 0
                 GROUP BY a.event_type, l.lag),
        wide AS (SELECT event_type,
                        ${(1 to PacfMaxLag).map(k =>
                          s"CAST(max(CASE WHEN lag = $k THEN r_e6 END) AS DOUBLE) / 1000000.0 AS r$k")
                          .mkString(", ")}
                 FROM racf GROUP BY event_type)
        SELECT * FROM ($phiSelects) ORDER BY event_type, lag"""
      }),

    // AR(1) one-step forecast backtest (round 13) — the "is yesterday
    // plus mean-reversion better than yesterday" readout that decides
    // whether a series deserves a model at all (the eval sibling of
    // q365's Holt-Winters, which fits but never scores). phi is the
    // lag-1 ACF from q266's exact-integer centering trick, e6-snapped;
    // forecasts xhat_t = xbar + phi (x_{t-1} - xbar) are per-row
    // doubles snapped to the cents grid IMMEDIATELY (order-free error
    // sums, the q396 rule); errors compare against the naive
    // persistence forecast on consecutive-day pairs only (a calendar
    // gap breaks the pair, never silently shifts it). Total abs errors
    // as exact longs — no division, no FP drift.
    "q398_ar1_backtest" -> QueryDef(
      fn = (s, d) => {
        val g = t(s, d, "events")
          .select(col("event_type"), dayofmonth(col("ts")).cast("long").as("day"),
            expr(centsCol("value")).as("__c"))
          .groupBy("event_type", "day").agg(sum(col("__c")).as("x"))
        val tot = g.groupBy("event_type")
          .agg(count(lit(1)).as("nd"), sum(col("x")).as("s"))
        val y = g.join(broadcast(tot), Seq("event_type"))
          .select(col("event_type"), col("day"), col("x"),
            (col("nd") * col("x") - col("s")).as("y"),
            col("nd"), col("s"))
          .localCheckpoint(eager = true) // phi pass + pair pass share it
        val den = y.groupBy("event_type").agg(sum(col("y") * col("y")).as("den"))
        val nxt = y.select(col("event_type"), (col("day") - 1L).as("day"),
          col("y").as("y2"), col("x").as("x2"))
        val phi = y.join(nxt, Seq("event_type", "day"))
          .groupBy("event_type").agg(sum(col("y") * col("y2")).as("num"))
          .join(den, Seq("event_type")).filter(col("den") > 0L)
          .select(col("event_type"),
            e6(col("num").cast("double") / col("den").cast("double")).as("phi_e6"))
        val pairs = y.join(nxt, Seq("event_type", "day"))
          .join(broadcast(phi), Seq("event_type"))
        val xbar = col("s").cast("double") / col("nd").cast("double")
        val xhat = xbar + (col("phi_e6").cast("double") / 1000000.0) *
          (col("x").cast("double") - xbar)
        pairs
          .select(col("event_type"), col("phi_e6"),
            floor(abs(col("x2").cast("double") - xhat) + 0.5).cast("long")
              .as("__ea"),
            abs(col("x2") - col("x")).as("__en"))
          .groupBy("event_type", "phi_e6")
          .agg(count(lit(1)).as("n_pairs"),
            sum(col("__ea")).as("abs_err_ar_cents"),
            sum(col("__en")).as("abs_err_naive_cents"))
          .withColumn("ar_wins",
            col("abs_err_ar_cents") < col("abs_err_naive_cents"))
          .select("event_type", "n_pairs", "phi_e6", "abs_err_ar_cents",
            "abs_err_naive_cents", "ar_wins")
          .orderBy("event_type")
      },
      oracle = Some(s"""
        WITH g AS (SELECT event_type, CAST(strftime(ts, '%d') AS BIGINT) AS day,
                          sum(${centsSql("value")}) AS x
                   FROM events GROUP BY event_type, day),
        tot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nd,
                       CAST(sum(x) AS BIGINT) AS s
                FROM g GROUP BY event_type),
        y AS (SELECT g.event_type, g.day, g.x, nd * x - s AS y, nd, s
              FROM g JOIN tot ON g.event_type = tot.event_type),
        den AS (SELECT event_type, CAST(sum(y * y) AS BIGINT) AS den
                FROM y GROUP BY event_type),
        ph AS (SELECT a.event_type,
                      CAST(floor(CAST(sum(a.y * b.y) AS DOUBLE)
                        / CAST(max(d.den) AS DOUBLE) * 1000000 + 0.5)
                        AS BIGINT) AS phi_e6
               FROM y a JOIN y b ON b.event_type = a.event_type
                                AND b.day = a.day + 1
               JOIN den d ON d.event_type = a.event_type
               WHERE d.den > 0
               GROUP BY a.event_type),
        p AS (SELECT a.event_type, ph.phi_e6,
                     CAST(floor(abs(CAST(b.x AS DOUBLE)
                       - (CAST(a.s AS DOUBLE) / CAST(a.nd AS DOUBLE)
                          + CAST(ph.phi_e6 AS DOUBLE) / 1000000.0
                            * (CAST(a.x AS DOUBLE)
                               - CAST(a.s AS DOUBLE) / CAST(a.nd AS DOUBLE))))
                       + 0.5) AS BIGINT) AS ea,
                     abs(b.x - a.x) AS en
              FROM y a JOIN y b ON b.event_type = a.event_type
                               AND b.day = a.day + 1
              JOIN ph ON ph.event_type = a.event_type)
        SELECT event_type, count(*) AS n_pairs, phi_e6,
               CAST(sum(ea) AS BIGINT) AS abs_err_ar_cents,
               CAST(sum(en) AS BIGINT) AS abs_err_naive_cents,
               sum(ea) < sum(en) AS ar_wins
        FROM p GROUP BY event_type, phi_e6 ORDER BY event_type""")),

    // Markov entropy rate (round 13) — "how predictable is the next
    // event given the current one": per FROM-state, the conditional
    // Shannon entropy of the transition row (nats), plus the state's
    // stationary weight — the scalar q102's transition matrix never
    // reduces to, and the information-theoretic ceiling for any
    // next-event predictor (q347-class models can't beat
    // exp(-H) accuracy). Transition counts per user via one lead
    // window; each log-probability snaps to the 1e-6 grid IMMEDIATELY
    // (the q229 rule), so the weighted sums are order-free integers
    // and the per-state division is the last op. The count frame is
    // |types|^2 — everything after the one corpus window is bounded.
    "q399_markov_entropy_rate" -> QueryDef(
      fn = (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val trans = t(s, d, "events")
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
          .withColumn("nxt", lead(col("event_type"), 1).over(w))
          .filter(col("nxt").isNotNull)
          .withColumnRenamed("event_type", "prev")
        val counts = trans.groupBy("prev", "nxt")
          .agg(count(lit(1)).as("__nij"))
          .localCheckpoint(eager = true) // marginals + terms share it
        val ni = counts.groupBy("prev").agg(sum(col("__nij")).as("__ni"))
        val total = ni.agg(sum(col("__ni")).as("__nn"))
        val terms = counts.join(broadcast(ni), Seq("prev"))
          .select(col("prev"), col("__ni"),
            (col("__nij") * e6(log(col("__nij").cast("double")
              / col("__ni").cast("double"))))
              .as("__t"))
        terms.groupBy("prev", "__ni").agg(sum(col("__t")).as("__ts"))
          .crossJoin(broadcast(total))
          .select(col("prev").as("event_type"), col("__ni").as("n_out"),
            expr("(-__ts) div __ni").as("h_nats_e6"),
            expr("__ni * 1000000 div __nn").as("weight_e6"))
          .orderBy("event_type")
      },
      oracle = Some("""
        WITH tr AS (SELECT event_type AS prev,
                           lead(event_type) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS nxt
                    FROM events),
        c AS (SELECT prev, nxt, count(*) AS nij FROM tr
              WHERE nxt IS NOT NULL GROUP BY 1, 2),
        m AS (SELECT prev, CAST(sum(nij) AS BIGINT) AS ni FROM c GROUP BY 1),
        nn AS (SELECT CAST(sum(ni) AS BIGINT) AS n FROM m),
        t AS (SELECT c.prev, m.ni,
                     c.nij * CAST(floor(ln(CAST(c.nij AS DOUBLE)
                       / CAST(m.ni AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
                       AS term
              FROM c JOIN m ON c.prev = m.prev)
        SELECT t.prev AS event_type, max(t.ni) AS n_out,
               CAST((-sum(t.term)) // max(t.ni) AS BIGINT) AS h_nats_e6,
               CAST(max(t.ni) * 1000000 // max(nn.n) AS BIGINT) AS weight_e6
        FROM t, nn GROUP BY t.prev ORDER BY event_type""")),

    // The auto dispatch's MERGE route on the oracle board (round 13) —
    // q383 pins the broadcast route; here `graft.asof.broadcastThreshold`
    // is forced to 1 byte in an ISOLATED cloned session, so asofAuto
    // must take the merge exec — and the result is checked against the
    // SAME DuckDB ASOF oracle as q354/q355/q383. Together the pair
    // proves the dispatch is a purely physical choice: two routes, one
    // oracle. (AsOfAutoSpec pins the plan shapes; this pins the
    // conf-driven route end-to-end under the correctness gate.)
    "q400_asof_auto_merge_route" -> QueryDef(
      fn = (s, d) => {
        val ss = graft.Tables.cloneSession(s) // isolated conf scope for the forced route
        ss.conf.set("graft.asof.broadcastThreshold", "1")
        val ev = t(ss, d, "events")
        val facts = ev.select("event_id", "event_type", "ts")
        val dim = dayMaxByType(ev)
        graft.ops.AsOfJoin.asofAuto(facts, dim,
            on = Seq("event_type"), leftTs = "ts", rightTs = "d_ts",
            rightCols = Seq("day_max_cents"))
          .orderBy("event_id")
      },
      oracle = Some(asofDayMaxOracleSql)),

    // NEAREST as-of under the oracle gate (round 14) — the third
    // direction, newly lifted off the union+window-only path: asofAuto
    // now dispatches long-backed nearest down the same physical ladder
    // (broadcast probe here — two binary searches per row; merge exec
    // when oversize — the forward peek is the cursor head, free).
    // Semantics: closest purchase within ±30 min of each click, equal
    // distance → backward (pandas merge_asof), instant ties removed by
    // pre-aggregating the purchase side (the q373 shape). DuckDB has no
    // nearest ASOF, so the oracle replays it as a correlated
    // min-|Δt|-then-smaller-ts subquery — an independent formulation,
    // which is the point.
    "q403_asof_nearest" -> QueryDef(
      fn = (s, d) => {
        val ev = t(s, d, "events")
        val clicks = clickNeedles(ev)
        val purchases = purchasesByUserTs(ev, inCents = true)
        graft.ops.AsOfJoin.asofAuto(clicks, purchases,
            on = Seq("user_id"), leftTs = "ts", rightTs = "p_ts",
            rightCols = Seq("p_cents"), direction = "nearest",
            toleranceMicros = Some(1800L * 1000000L))
          .orderBy("event_id")
      },
      bench = true,
      oracle = Some(asofNearestOracleSql)),

    // NEAREST on the MERGE route under the oracle gate (round 15, r14
    // verdict #7) — q403 pins broadcast-nearest; here the broadcast
    // threshold is forced to 1 byte in an isolated cloned session (the
    // q400 trick), so asofAuto must take the merge exec's nearest path:
    // the forward candidate is the UN-CONSUMED CURSOR HEAD
    // (AsOfMergeJoin.scala cursor-head peek — O(1) state, no second
    // pass), the backward one the last emitted run. Same fixture, same
    // tolerance, same independent correlated-subquery DuckDB oracle as
    // q403 — two physical routes, one answer, both under the gate.
    "q426_asof_nearest_merge_route" -> QueryDef(
      fn = (s, d) => {
        val ss = graft.Tables.cloneSession(s) // isolated conf scope for the forced route
        ss.conf.set("graft.asof.broadcastThreshold", "1")
        val ev = t(ss, d, "events")
        val clicks = clickNeedles(ev)
        val purchases = purchasesByUserTs(ev, inCents = true)
        graft.ops.AsOfJoin.asofAuto(clicks, purchases,
            on = Seq("user_id"), leftTs = "ts", rightTs = "p_ts",
            rightCols = Seq("p_cents"), direction = "nearest",
            toleranceMicros = Some(1800L * 1000000L))
          .orderBy("event_id")
      },
      oracle = Some(asofNearestOracleSql)),

    // STREAMING heavy hitters (round 15) — q86's Misra-Gries summary on
    // an unbounded token stream: the corpus is staged as two slices split
    // by doc_id parity (stageSlices), fed one per trigger (state
    // genuinely crosses batch boundaries), each token routed by hash to
    // one of 8 buckets whose transformWithState
    // ValueState folds the SAME MG step function the batch Aggregator
    // uses (graft.ops.HeavyHitters.MisraGries.reduce — shared code, the
    // q421 parity discipline). State is O(buckets x k) regardless of
    // stream length or vocabulary; the union of emitted candidates is a
    // guaranteed superset of every >= minCount token (a token's bucket
    // count IS its stream count), and the exact verify re-count makes
    // the order-dependent MG internals unobservable — so this shares
    // q86's exact HAVING oracle. k is sized N/minCount + 1 like the
    // batch op.
    "q427_stream_heavy_hitters" -> QueryDef(
      fn = (s, d) => {
        val TFx = graft.functions.TextFunctions
        val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
        val even = col("doc_id") % 2 === 0
        val dir = stageSlices(Seq(docs.filter(even), docs.filter(!even)))
        val minCount = 500L
        val sess = streamingSession(s)
        val table = try {
          val n = t(s, d, "documents")
            .select(explode(TFx.tokens(col("text"))).as("token")).count()
          // q86's fail-fast cap, same reason: an ABSOLUTE threshold makes
          // k corpus-proportional (at 100 TB a φN relative threshold is
          // the right call — k = 1/φ, constant); a summary too large for
          // its guarantee must be an error, not a silent giant state
          val k = (n / minCount + 1L).toInt
          require(k <= (1 << 17),
            s"minCount=$minCount over $n tokens needs a $k-counter summary " +
              "per bucket — use a relative threshold at this scale")
          sess.conf.set("spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
          import sess.implicits._
          val out = stagedEventsStream(sess, dir, oneFilePerTrigger = true)
            .select(explode(TFx.tokens(col("text"))).as("token"))
            .select(pmod(xxhash64(col("token")), lit(8)).cast("int").as("bucket"),
              col("token"))
            .as[graft.streaming.BucketToken]
            .groupByKey(_.bucket)
            .transformWithState(new graft.streaming.MisraGriesProcessor(k),
              org.apache.spark.sql.streaming.TimeMode.None(),
              org.apache.spark.sql.streaming.OutputMode.Update())
          runToMemoryTable(out.toDF(), "q427_mem", outputMode = "update")
        } finally dropStaged(dir)
        // candidate superset = union of every batch's surviving counters
        // (a true heavy is in the FINAL state, hence in the last batch's
        // emission); exact verify fixes precision — the q86 discipline
        val cands = table.select(col("item")).distinct()
        t(sess, d, "documents")
          .select(explode(TFx.tokens(col("text"))).as("item"))
          .join(broadcast(cands), Seq("item"), "left_semi")
          .groupBy("item").agg(count(lit(1)).as("n"))
          .filter(col("n") >= minCount)
          .select(col("item").as("token"), col("n"))
          .orderBy("token")
      },
      oracle = Some(heavyHittersOracleSql),
      streaming = true),

    // Rank-biased overlap (round 15) — the top-weighted ranking-
    // similarity verb (Webber et al.): how much do two corpus rankings
    // (by token count vs by distinct-token vocabulary) agree, weighted
    // toward the top? RBO@D = (1-p) * sum_{d<=D} p^(d-1) * |A_d ∩ B_d|/d
    // at p = 0.9, D = 50. 100 TB shape: each ranking's top-D comes from
    // the engine's TopKPerKey (never a corpus sort); everything after is
    // a <=100-row frame x a 50-row depth table. Cross-engine FP: the
    // p^(d-1) weights are SCALA-RENDERED e12 integers (one literal
    // table, q422's discipline), the per-depth term is an exact integer
    // floor-div, the cumulative RBO an integer sum.
    "q428_rank_biased_overlap" -> QueryDef(
      fn = (s, d) => {
        val D = 50
        val TFx = graft.functions.TextFunctions
        val toks = TFx.tokens(col("text"))
        val m = t(s, d, "documents").select(col("doc_id"),
            size(toks).cast("long").as("__nt"),
            size(array_distinct(toks)).cast("long").as("__nv"))
          .localCheckpoint(eager = true) // both rankings share it
        def ranked(vcol: String, out: String): DataFrame =
          graft.ops.Rrf.globalTopR(m,
              Seq(col(vcol) -> false, col("doc_id") -> true), D)
            .withColumn(out, row_number().over(
              Window.orderBy(col(vcol).desc, col("doc_id").asc)).cast("long"))
            .select(col("doc_id"), col(out))
        val j = ranked("__nt", "__ra")
          .join(ranked("__nv", "__rb"), Seq("doc_id"), "full_outer")
        import s.implicits._
        val depths = rboWeightsE12.zipWithIndex
          .map { case (w, i) => ((i + 1).toLong, w) }.toDF("__d", "__w")
        val overlap = depths.crossJoin(j)
          .groupBy("__d", "__w")
          .agg(sum(when(col("__ra") <= col("__d")
            && col("__rb") <= col("__d"), 1L).otherwise(0L)).as("overlap"))
        val wCum = Window.orderBy(col("__d"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        overlap
          .withColumn("term_e12", expr("__w * overlap div __d"))
          .withColumn("rbo_e12", expr("sum(term_e12) OVER (ORDER BY __d" +
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) div 10"))
          .select(col("__d").as("depth"), col("overlap"),
            col("term_e12"), col("rbo_e12"))
          .orderBy("depth")
      },
      oracle = Some(s"""
        WITH m AS (SELECT doc_id, len($toksSql) AS nt,
                          len(list_distinct($toksSql)) AS nv
                   FROM documents),
        ra AS (SELECT doc_id,
                      row_number() OVER (ORDER BY nt DESC, doc_id) AS rank_a
               FROM m QUALIFY rank_a <= 50),
        rb AS (SELECT doc_id,
                      row_number() OVER (ORDER BY nv DESC, doc_id) AS rank_b
               FROM m QUALIFY rank_b <= 50),
        j AS (SELECT coalesce(ra.doc_id, rb.doc_id) AS doc_id,
                     rank_a, rank_b
              FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id),
        w(d, w_e12) AS (VALUES ${rboWeightsE12.zipWithIndex
          .map { case (v, i) => s"(${i + 1}, ${v})" }.mkString(", ")}),
        ov AS (SELECT w.d, w.w_e12,
                      sum(CASE WHEN j.rank_a <= w.d AND j.rank_b <= w.d
                          THEN 1 ELSE 0 END) AS overlap
               FROM w CROSS JOIN j GROUP BY 1, 2)
        SELECT CAST(d AS BIGINT) AS depth, CAST(overlap AS BIGINT) AS overlap,
               CAST(w_e12 * overlap // d AS BIGINT) AS term_e12,
               CAST(sum(w_e12 * overlap // d) OVER (ORDER BY d
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) // 10
                 AS BIGINT) AS rbo_e12
        FROM ov ORDER BY depth""")),

    // Kaplan-Meier survival curve (round 14) — the time-to-event verb
    // beside q396's CUPED and q385's burstiness: per user, time from
    // first event to FIRST LARGE PURCHASE (value > 75 — the "event");
    // users who never convert are right-CENSORED at their last event
    // (calendar censoring is vacuous in this fixture: every user is
    // active to the final day). S(t) = prod over event times u <= t of
    // (1 - d_u/n_u), computed as exp of a cumulative ln-sum over the
    // BOUNDED distinct-duration frame in duration order (fixed-order
    // FP, identical shape both engines, e6 snap).
    // ln(0) guard: Spark log(0) is NULL while DuckDB returns -inf —
    // sum-over-nulls SKIPS vs propagates, so the zero factor is
    // CASE'd out and a cumulative min(n-d) flag forces S=0 from the
    // first all-deaths time onward, identically on both engines.
    // Shape: one user agg + windows over distinct durations. Scales.
    "q404_kaplan_meier" -> QueryDef(
      fn = (s, d) => {
        val ev = t(s, d, "events")
        val users = ev.groupBy("user_id")
          .agg(min(col("ts")).as("__f"), max(col("ts")).as("__l"),
            min(when(col("event_type") === "purchase"
              && cents(col("value")) > 7500L, col("ts"))).as("__b"))
          .select(
            datediff(to_date(coalesce(col("__b"), col("__l"))),
              to_date(col("__f"))).cast("long").as("__dur"),
            when(col("__b").isNotNull, 1L).otherwise(0L).as("__obs"))
        val byDur = users.groupBy("__dur")
          .agg(sum(col("__obs")).as("__d"), count(lit(1)).as("__m"))
          .crossJoin(broadcast(users.agg(count(lit(1)).as("__n"))))
        // single-partition windows are GRAIN-bounded: byDur holds one row
        // per distinct lifetime-in-days, <= the fixture's calendar span —
        // never one row per user (r16 window sweep)
        val wPrev = Window.orderBy(col("__dur"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val risk = byDur
          .withColumn("__n_risk",
            col("__n") - coalesce(sum(col("__m")).over(wPrev), lit(0L)))
          .filter(col("__d") > 0L)
        val wCum = Window.orderBy(col("__dur"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        risk
          .withColumn("__mnd", min(col("__n_risk") - col("__d")).over(wCum))
          .withColumn("__cl", sum(
            when(col("__n_risk") > col("__d"),
              log((col("__n_risk") - col("__d")).cast("double")
                / col("__n_risk").cast("double"))).otherwise(lit(0.0)))
            .over(wCum))
          .select(col("__dur").as("dur_days"), col("__d").as("n_churned"),
            col("__n_risk").as("n_risk"),
            when(col("__mnd") === 0L, 0L)
              .otherwise(e6(exp(col("__cl")))).as("survival_e6"))
          .orderBy("dur_days")
      },
      oracle = Some(s"""
        WITH u AS (SELECT user_id, min(ts) AS f, max(ts) AS l,
                          min(CASE WHEN event_type = 'purchase'
                                AND ${centsSql("value")} > 7500
                              THEN ts END) AS b
              FROM events GROUP BY 1),
        du AS (SELECT date_diff('day', CAST(f AS DATE),
                        CAST(coalesce(b, l) AS DATE)) AS dur,
                      CASE WHEN b IS NOT NULL THEN 1 ELSE 0 END AS obs
               FROM u),
        bd AS (SELECT dur, sum(obs) AS d, count(*) AS m FROM du GROUP BY 1),
        r AS (SELECT dur, d, m,
                     (SELECT count(*) FROM du)
                       - coalesce(sum(m) OVER (ORDER BY dur
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING), 0) AS n_risk
              FROM bd),
        e AS (SELECT dur, d, n_risk FROM r WHERE d > 0),
        s AS (SELECT dur, d, n_risk,
                     min(n_risk - d) OVER (ORDER BY dur
                       ROWS UNBOUNDED PRECEDING) AS mnd,
                     sum(CASE WHEN n_risk > d THEN
                           ln(CAST(n_risk - d AS DOUBLE)
                              / CAST(n_risk AS DOUBLE)) ELSE 0.0 END)
                       OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING) AS cl
              FROM e)
        SELECT CAST(dur AS BIGINT) AS dur_days, CAST(d AS BIGINT) AS n_churned,
               CAST(n_risk AS BIGINT) AS n_risk,
               CAST(CASE WHEN mnd = 0 THEN 0
                    ELSE floor(exp(cl) * 1000000 + 0.5) END AS BIGINT)
                 AS survival_e6
        FROM s ORDER BY dur_days""")),

    // Lead-lag cross-correlation (round 14) — "do purchases follow
    // clicks, and by how many days?": Pearson r between the daily
    // click series and the daily purchase series shifted by each lag
    // in -3..+3, every moment an exact integer over the
    // calendar-bounded day frame (the lag join is days x 7, never
    // corpus-scale), the two sqrts taken SEPARATELY (the q392 rule),
    // e6 snap at emit. Zero-variance overlaps CASE-null identically.
    "q407_lead_lag_xcorr" -> QueryDef(
      fn = (s, d) => {
        val daily = t(s, d, "events")
          .groupBy(datediff(to_date(col("ts")),
            lit("1970-01-01").cast("date")).cast("long").as("__day"))
          .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("__c"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .as("__p"))
          .localCheckpoint(eager = true) // both lag-join sides share it
        val lags = s.range(-3, 4).select(col("id").as("lag"))
        val a = daily.select(col("__day"), col("__c"))
        val b = daily.select(col("__day").as("__day2"), col("__p"))
        val joined = a.crossJoin(broadcast(lags))
          .join(b, col("__day") + col("lag") === col("__day2"))
        val m = joined.groupBy("lag").agg(
          count(lit(1)).as("n_days"),
          sum(col("__c")).as("__sx"), sum(col("__p")).as("__sy"),
          sum(col("__c") * col("__c")).as("__sxx"),
          sum(col("__p") * col("__p")).as("__syy"),
          sum(col("__c") * col("__p")).as("__sxy"))
        m.select(col("lag"), col("n_days"),
          when(col("n_days") > 1L
              && col("n_days") * col("__sxx") > col("__sx") * col("__sx")
              && col("n_days") * col("__syy") > col("__sy") * col("__sy"),
            e6((col("n_days") * col("__sxy") - col("__sx") * col("__sy"))
              .cast("double")
              / (sqrt((col("n_days") * col("__sxx")
                  - col("__sx") * col("__sx")).cast("double"))
                * sqrt((col("n_days") * col("__syy")
                  - col("__sy") * col("__sy")).cast("double"))))).as("r_e6"))
          .orderBy("lag")
      },
      oracle = Some("""
        WITH daily AS (SELECT date_diff('day', DATE '1970-01-01',
                                CAST(ts AS DATE)) AS day,
                              sum(CASE WHEN event_type = 'click'
                                  THEN 1 ELSE 0 END) AS c,
                              sum(CASE WHEN event_type = 'purchase'
                                  THEN 1 ELSE 0 END) AS p
                       FROM events GROUP BY 1),
        lags AS (SELECT CAST(x AS BIGINT) AS lag
                 FROM unnest([-3, -2, -1, 0, 1, 2, 3]) AS t(x)),
        j AS (SELECT lags.lag, a.c, b.p
              FROM daily a CROSS JOIN lags
              JOIN daily b ON a.day + lags.lag = b.day),
        m AS (SELECT lag, count(*) AS n, sum(c) AS sx, sum(p) AS sy,
                     sum(c * c) AS sxx, sum(p * p) AS syy,
                     sum(c * p) AS sxy
              FROM j GROUP BY lag)
        SELECT lag, CAST(n AS BIGINT) AS n_days,
               CAST(CASE WHEN n > 1 AND n * sxx > sx * sx
                          AND n * syy > sy * sy
                    THEN floor(CAST(n * sxy - sx * sy AS DOUBLE)
                           / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                              * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
                           * 1000000 + 0.5) END AS BIGINT) AS r_e6
        FROM m ORDER BY lag""")),

    // Mutual information between event type and ISO weekday (round 14)
    // — the dependence-strength verb beside q393's rank concordance:
    // MI = sum over cells of p_xy * ln(p_xy / (p_x p_y)), carried as
    // the EXACT integer partial sums n_xy * [ln(n_xy*N/(n_x*n_y))]_e6
    // (the q399 snapped-log discipline: one FP division + ln + floor
    // per cell, identical shape both engines; everything else integer,
    // so the per-type sums are order-free). Emitted per event type as
    // mi_contrib (sum over its weekday cells) — global MI in nats_e6 =
    // sum(mi_contrib) div n_total, derivable exactly from the rows.
    // 100 TB: cells are |types| x 7 — one grouped count, bounded frame.
    "q408_mutual_information" -> QueryDef(
      fn = (s, d) => {
        val cells = t(s, d, "events")
          .groupBy(col("event_type"), weekday(col("ts")).cast("long").as("__dow"))
          .agg(count(lit(1)).as("__nxy"))
          .localCheckpoint(eager = true) // marginals + cells share it
        val nx = cells.groupBy("event_type").agg(sum(col("__nxy")).as("__nx"))
        val ny = cells.groupBy("__dow").agg(sum(col("__nxy")).as("__ny"))
        val nn = cells.agg(sum(col("__nxy")).as("__nn"))
        cells
          .join(broadcast(nx), Seq("event_type"))
          .join(broadcast(ny), Seq("__dow"))
          .crossJoin(broadcast(nn))
          .select(col("event_type"), col("__nx"),
            (col("__nxy") * e6(log((col("__nxy") * col("__nn"))
                .cast("double") / (col("__nx") * col("__ny")).cast("double")))).as("__t"))
          .groupBy(col("event_type"), col("__nx").as("n_type"))
          .agg(sum(col("__t")).as("mi_contrib"))
          .orderBy("event_type")
      },
      oracle = Some("""
        WITH c AS (SELECT event_type, isodow(ts) - 1 AS dow,
                          count(*) AS nxy
                   FROM events GROUP BY 1, 2),
        mx AS (SELECT event_type, sum(nxy) AS nx FROM c GROUP BY 1),
        my AS (SELECT dow, sum(nxy) AS ny FROM c GROUP BY 1),
        nn AS (SELECT sum(nxy) AS n FROM c),
        tm AS (SELECT c.event_type, mx.nx,
                      c.nxy * CAST(floor(ln(CAST(c.nxy * nn.n AS DOUBLE)
                        / CAST(mx.nx * my.ny AS DOUBLE)) * 1000000.0 + 0.5)
                        AS BIGINT) AS term
               FROM c JOIN mx ON c.event_type = mx.event_type
                      JOIN my ON c.dow = my.dow
                      CROSS JOIN nn)
        SELECT event_type, CAST(max(nx) AS BIGINT) AS n_type,
               CAST(sum(term) AS BIGINT) AS mi_contrib
        FROM tm GROUP BY event_type ORDER BY event_type""")),

    // Benjamini-Hochberg FDR control (round 14) — the multiple-testing
    // verb q181's single A/B test lacks: per event type, a Welch z-test
    // between the parity arms on per-user spend; BH at alpha = 0.10
    // rejects the k smallest p-values where k = max{i : p_(i) <=
    // i*alpha/m}. Neither engine ships erf, so the normal tail is the
    // SAME Abramowitz-Stegun 26.2.17 arithmetic STRING evaluated by
    // both (identical IEEE op tree -> identical doubles; [[bhZSql]] /
    // [[bhPSql]]), moments are exact integers (sxx in decimal(38,0),
    // the q392 headroom rule), and the BH comparison itself is pure
    // integers: p_e6 * m <= rank * 100000. The ranking windows run on
    // the |event types|-sized frame — bounded, never corpus-wide.
    // NON-HOLLOW by construction (the q94 planted-probe pattern): the
    // parity arms are a TRUE null, so the real hypotheses must not
    // reject — and each type also gets a `probe_` twin with a planted
    // +500.00/user arm effect that MUST reject; both branches of the
    // BH decision sit under the hash.
    "q409_bh_fdr" -> QueryDef(
      fn = (s, d) => {
        val dec = "decimal(38,0)"
        val base = t(s, d, "events")
          .groupBy(col("event_type"), col("user_id"))
          .agg(sum(cents(col("value"))).as("__uc"))
          .withColumn("__arm", col("user_id") % 2L)
        val perUser = base.unionByName(base.select(
          concat(lit("probe_"), col("event_type")).as("event_type"),
          col("user_id"),
          (col("__uc") + col("__arm") * 50000L).as("__uc"),
          col("__arm")))
        val m = perUser.groupBy("event_type").agg(
          sum(when(col("__arm") === 1L, 1L).otherwise(0L)).as("n1"),
          sum(when(col("__arm") === 1L, col("__uc")).otherwise(0L)).as("sx1"),
          sum(when(col("__arm") === 1L, col("__uc").cast(dec) * col("__uc"))
            .otherwise(lit(0L).cast(dec))).as("sxx1"),
          sum(when(col("__arm") === 0L, 1L).otherwise(0L)).as("n0"),
          sum(when(col("__arm") === 0L, col("__uc")).otherwise(0L)).as("sx0"),
          sum(when(col("__arm") === 0L, col("__uc").cast(dec) * col("__uc"))
            .otherwise(lit(0L).cast(dec))).as("sxx0"))
        val wAll = Window.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)
        val wRank = Window.orderBy(col("p_e6"), col("event_type"))
        m.withColumn("__z", expr(bhZSql))
          .withColumn("p_e6", expr(bhPSql))
          .withColumn("m_tests", count(lit(1)).over(wAll))
          .withColumn("bh_rank", row_number().over(wRank).cast("long"))
          .withColumn("__k", max(when(
            col("p_e6") * col("m_tests") <= col("bh_rank") * 100000L,
            col("bh_rank"))).over(wAll))
          .select(col("event_type"), col("n1"), col("n0"), col("p_e6"),
            col("bh_rank"),
            (col("bh_rank") <= coalesce(col("__k"), lit(0L))).as("rejected"))
          .orderBy("event_type")
      },
      oracle = Some(s"""
        WITH pu0 AS (SELECT event_type, user_id, user_id % 2 AS arm,
                            sum(${centsSql("value")}) AS uc
                     FROM events GROUP BY 1, 2, 3),
        pu AS (SELECT event_type, user_id, arm, uc FROM pu0
               UNION ALL
               SELECT 'probe_' || event_type, user_id, arm,
                      uc + arm * 50000
               FROM pu0),
        mo AS (SELECT event_type,
                 sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n1,
                 sum(CASE WHEN arm = 1 THEN uc ELSE 0 END) AS sx1,
                 sum(CASE WHEN arm = 1 THEN uc * uc ELSE 0 END) AS sxx1,
                 sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n0,
                 sum(CASE WHEN arm = 0 THEN uc ELSE 0 END) AS sx0,
                 sum(CASE WHEN arm = 0 THEN uc * uc ELSE 0 END) AS sxx0
               FROM pu GROUP BY 1),
        z AS (SELECT *, $bhZSql AS __z FROM mo),
        p AS (SELECT *, $bhPSql AS p_e6 FROM z),
        r AS (SELECT *, count(*) OVER () AS m_tests,
                row_number() OVER (ORDER BY p_e6, event_type) AS bh_rank
              FROM p),
        k AS (SELECT *, max(CASE WHEN p_e6 * m_tests <= bh_rank * 100000
                            THEN bh_rank END) OVER () AS kk
              FROM r)
        SELECT event_type, CAST(n1 AS BIGINT) AS n1,
               CAST(n0 AS BIGINT) AS n0, p_e6,
               CAST(bh_rank AS BIGINT) AS bh_rank,
               (bh_rank <= coalesce(kk, 0)) AS rejected
        FROM k ORDER BY event_type""")),

    // Trimmed + winsorized means (round 14) — the robust-location verbs
    // production metric pipelines reach for before/instead of q386's
    // Theil-Sen: per event type, the 10%-trimmed mean (drop each tail)
    // and the winsorized mean (clamp each tail to the surviving
    // boundary values) over exact cents. Ranks are a TOTAL order
    // ((cents, event_id)), so the trim boundaries are cross-engine
    // identical; every sum is an exact integer and the only divisions
    // are final integer divs onto the centi-cent grid. The rank window
    // is per-key (hash-partitioned per-group sort) — scales.
    "q414_trimmed_winsorized" -> QueryDef(
      fn = (s, d) => {
        val ev = t(s, d, "events").filter(col("value").isNotNull)
          .select(col("event_type"), col("event_id"),
            cents(col("value")).as("__c"))
        val w = Window.partitionBy("event_type")
          .orderBy(col("__c"), col("event_id"))
        val ranked = ev
          .withColumn("__rk", row_number().over(w).cast("long"))
          .withColumn("__n",
            count(lit(1)).over(Window.partitionBy("event_type")))
        val inTrim = col("__rk") > expr("__n div 10") &&
          col("__rk") <= col("__n") - expr("__n div 10")
        ranked.groupBy("event_type").agg(
            max(col("__n")).as("n"),
            max(expr("__n div 10")).as("__lo"),
            sum(when(inTrim, col("__c"))).as("__ts"),
            sum(when(inTrim, 1L).otherwise(0L)).as("__tc"),
            max(when(col("__rk") === expr("__n div 10") + 1L, col("__c")))
              .as("__vlo"),
            max(when(col("__rk") === col("__n") - expr("__n div 10"),
              col("__c"))).as("__vhi"))
          .select(col("event_type"), col("n"),
            expr("__ts * 100 div __tc").as("trimmed_mean_cc"),
            expr("(__ts + __lo * __vlo + __lo * __vhi) * 100" +
              " div (__tc + 2 * __lo)").as("winsorized_mean_cc"),
            col("__vlo").as("p10_cents"), col("__vhi").as("p90_cents"))
          .orderBy("event_type")
      },
      oracle = Some(s"""
        WITH e AS (SELECT event_type, event_id, ${centsSql("value")} AS c
                   FROM events WHERE value IS NOT NULL),
        r AS (SELECT event_type, c,
                     row_number() OVER (PARTITION BY event_type
                       ORDER BY c, event_id) AS rk,
                     count(*) OVER (PARTITION BY event_type) AS n
              FROM e),
        g AS (SELECT event_type, max(n) AS n, max(n // 10) AS lo,
                     sum(CASE WHEN rk > n // 10 AND rk <= n - n // 10
                         THEN c END) AS ts,
                     sum(CASE WHEN rk > n // 10 AND rk <= n - n // 10
                         THEN 1 ELSE 0 END) AS tc,
                     max(CASE WHEN rk = n // 10 + 1 THEN c END) AS vlo,
                     max(CASE WHEN rk = n - n // 10 THEN c END) AS vhi
              FROM r GROUP BY 1)
        SELECT event_type, CAST(n AS BIGINT) AS n,
               CAST(ts * 100 // tc AS BIGINT) AS trimmed_mean_cc,
               CAST((ts + lo * vlo + lo * vhi) * 100 // (tc + 2 * lo)
                 AS BIGINT) AS winsorized_mean_cc,
               CAST(vlo AS BIGINT) AS p10_cents,
               CAST(vhi AS BIGINT) AS p90_cents
        FROM g ORDER BY event_type""")),

    // Jackknife variance of a ratio metric (round 14) — the honest
    // standard error for "purchase cents per click", where the naive
    // per-day variance is wrong because both numerator and denominator
    // are random: leave-one-DAY-out replicates r_(-i), each ONE
    // e9-snapped FP division (so the replicate sums are order-free
    // decimal-exact integers), then var_jack = (d-1)(d*Srr - Sr^2)/d^2
    // in exact decimal with a single sqrt at emit. Shape: one daily
    // agg + a 1-row totals broadcast; replicates are algebraic
    // (totals - day), NOT d recomputations — the trick that makes
    // jackknife O(days) instead of O(days * corpus). Scales.
    "q415_jackknife_ratio" -> QueryDef(
      fn = (s, d) => {
        val dec = "decimal(38,0)"
        val daily = t(s, d, "events")
          .groupBy(to_date(col("ts")).as("__day"))
          .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("__c"),
            sum(when(col("event_type") === "purchase",
              cents(col("value"))).otherwise(0L)).as("__p"))
        val tot = daily.agg(sum(col("__c")).as("__tc"),
          sum(col("__p")).as("__tp"), count(lit(1)).as("__d"))
        val reps = daily.crossJoin(broadcast(tot))
          .select(floor((col("__tp") - col("__p")).cast("double")
            / (col("__tc") - col("__c")).cast("double") * 1e9 + 0.5)
            .cast("long").as("__r"))
        reps.agg(count(lit(1)).as("n_days"),
            sum(col("__r").cast(dec)).as("__sr"),
            sum(col("__r").cast(dec) * col("__r")).as("__srr"))
          .crossJoin(broadcast(tot))
          .select(col("n_days"),
            floor(col("__tp").cast("double") / col("__tc").cast("double")
              * 1e9 + 0.5).cast("long").as("r_full_e9"),
            floor(sqrt(((col("n_days") - 1L) * (col("n_days") * col("__srr")
                - col("__sr") * col("__sr"))).cast("double"))
              / col("n_days").cast("double") + 0.5).cast("long")
              .as("jk_se_e9"),
            expr("CAST((n_days - 1) * (__sr - n_days * CAST(floor(" +
              "CAST(__tp AS DOUBLE) / CAST(__tc AS DOUBLE) * 1e9 + 0.5)" +
              " AS DECIMAL(38,0))) div n_days AS BIGINT)").as("jk_bias_e9"))
      },
      oracle = Some(s"""
        WITH daily AS (SELECT CAST(ts AS DATE) AS day,
                 sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
                 sum(CASE WHEN event_type = 'purchase'
                     THEN ${centsSql("value")} ELSE 0 END) AS p
               FROM events GROUP BY 1),
        tot AS (SELECT sum(c) AS tc, sum(p) AS tp, count(*) AS d FROM daily),
        reps AS (SELECT CAST(floor(CAST(tp - p AS DOUBLE)
                   / CAST(tc - c AS DOUBLE) * 1e9 + 0.5) AS BIGINT) AS r
                 FROM daily, tot),
        m AS (SELECT count(*) AS n, sum(r) AS sr,
               sum(CAST(r AS HUGEINT) * r) AS srr FROM reps)
        SELECT CAST(n AS BIGINT) AS n_days,
               CAST(floor(CAST(tp AS DOUBLE) / CAST(tc AS DOUBLE) * 1e9
                 + 0.5) AS BIGINT) AS r_full_e9,
               CAST(floor(sqrt(CAST((n - 1) * (n * srr - sr * sr)
                 AS DOUBLE)) / CAST(n AS DOUBLE) + 0.5) AS BIGINT)
                 AS jk_se_e9,
               CAST((n - 1) * (sr - n * CAST(floor(CAST(tp AS DOUBLE)
                 / CAST(tc AS DOUBLE) * 1e9 + 0.5) AS BIGINT)) // n
                 AS BIGINT) AS jk_bias_e9
        FROM m, tot""")),

    // Capture-recapture distinct-population estimate (round 14) — the
    // ecology estimator applied where data pipelines actually use it:
    // "how many users are there REALLY, given two overlapping
    // observation channels?" Chapman's bias-corrected Lincoln-Petersen
    // N = (n1+1)(n2+1)/(m+1) - 1 over the click channel, the purchase
    // channel, and their overlap — pure integer arithmetic on the e6
    // grid, with the TRUE union count beside it (the fixture sees all
    // users in both channels eventually, so the estimator's realized
    // error is an honest readout, not a tautology). One per-user
    // flag agg + one 1-row reduce. Scales.
    "q416_capture_recapture" -> QueryDef(
      fn = (s, d) => {
        val flags = t(s, d, "events")
          .filter(col("event_type").isin("click", "purchase"))
          .groupBy("user_id")
          .agg(max(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("__k"),
            max(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .as("__p"))
        flags.agg(sum(col("__k")).as("__n1"), sum(col("__p")).as("__n2"),
            sum(col("__k") * col("__p")).as("__m"),
            count(lit(1)).as("n_true"))
          .select(col("__n1").as("n_channel1"), col("__n2").as("n_channel2"),
            col("__m").as("n_both"), col("n_true"),
            expr("((__n1 + 1) * (__n2 + 1) * 1000000) div (__m + 1)" +
              " - 1000000").as("chapman_e6"),
            (expr("((__n1 + 1) * (__n2 + 1) * 1000000) div (__m + 1)" +
              " - 1000000") - col("n_true") * 1000000L).as("err_e6"))
      },
      oracle = Some("""
        WITH f AS (SELECT user_id,
                 max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS k,
                 max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
               FROM events WHERE event_type IN ('click', 'purchase')
               GROUP BY 1),
        m AS (SELECT sum(k) AS n1, sum(p) AS n2, sum(k * p) AS mm,
                     count(*) AS nt
              FROM f)
        SELECT CAST(n1 AS BIGINT) AS n_channel1,
               CAST(n2 AS BIGINT) AS n_channel2,
               CAST(mm AS BIGINT) AS n_both, CAST(nt AS BIGINT) AS n_true,
               CAST(((n1 + 1) * (n2 + 1) * 1000000) // (mm + 1) - 1000000
                 AS BIGINT) AS chapman_e6,
               CAST(((n1 + 1) * (n2 + 1) * 1000000) // (mm + 1) - 1000000
                 - nt * 1000000 AS BIGINT) AS err_e6
        FROM m""")),

    // MinHash-LSH parameter planner (round 14) — the tuning question
    // every banded-LSH deployment (q26's shape) answers before it
    // runs: for a 128-hash signature, which (bands b, rows r) pair
    // minimizes expected error around the target similarity 0.70? The
    // S-curve P(candidate | s) = 1 - (1 - s^r)^b is evaluated on the
    // s = 0.01..0.99 grid with each transcendental snapped to the e9
    // grid IMMEDIATELY (s^r and the outer power are the only FP ops;
    // their snapped outputs feed the next step as exact rationals, so
    // both engines walk identical inputs — the q399 discipline applied
    // to exp/ln), and the false-positive mass (below-threshold
    // candidates) + false-negative mass (above-threshold misses) are
    // ORDER-FREE integer sums. chosen = the (total, b) argmin. Pure
    // bounded compute — 8 configs x 99 grid points.
    "q412_lsh_planner" -> QueryDef(
      fn = (s, d) => {
        val cfg = s.createDataFrame(Seq((128L, 1L), (64L, 2L), (32L, 4L),
          (16L, 8L), (8L, 16L), (4L, 32L), (2L, 64L), (1L, 128L)))
          .toDF("b", "r")
        val grid = s.range(1, 100).select(col("id").as("i"))
        val scored = cfg.crossJoin(grid)
          .withColumn("__sr_e9", expr(lshSrE9Sql))
          .withColumn("__p_e9", expr(lshPE9Sql))
        scored.groupBy("b", "r").agg(
            sum(when(col("i") < 70L, col("__p_e9")).otherwise(0L))
              .as("fp_mass_e9"),
            sum(when(col("i") >= 70L, lit(1000000000L) - col("__p_e9"))
              .otherwise(0L)).as("fn_mass_e9"))
          .withColumn("total_e9", col("fp_mass_e9") + col("fn_mass_e9"))
          .withColumn("chosen", row_number().over(
            // 8-row frame — bounded, never corpus-wide
            Window.orderBy(col("total_e9"), col("b"))) === 1)
          .orderBy("b")
      },
      oracle = Some(s"""
        WITH cfg AS (SELECT CAST(b AS BIGINT) AS b, CAST(r AS BIGINT) AS r
                     FROM (VALUES (128, 1), (64, 2), (32, 4), (16, 8),
                                  (8, 16), (4, 32), (2, 64), (1, 128))
                          AS t(b, r)),
        grid AS (SELECT CAST(range AS BIGINT) AS i FROM range(1, 100)),
        sc AS (SELECT b, r, i, $lshSrE9Sql AS __sr_e9 FROM cfg, grid),
        p AS (SELECT b, r, i, $lshPE9Sql AS __p_e9 FROM sc),
        agg AS (SELECT b, r,
                  CAST(sum(CASE WHEN i < 70 THEN __p_e9 ELSE 0 END)
                    AS BIGINT) AS fp_mass_e9,
                  CAST(sum(CASE WHEN i >= 70 THEN 1000000000 - __p_e9
                       ELSE 0 END) AS BIGINT) AS fn_mass_e9
                FROM p GROUP BY 1, 2)
        SELECT b, r, fp_mass_e9, fn_mass_e9,
               fp_mass_e9 + fn_mass_e9 AS total_e9,
               (row_number() OVER (ORDER BY fp_mass_e9 + fn_mass_e9, b)
                 = 1) AS chosen
        FROM agg ORDER BY b""")),

    // CUSUM drift detection (round 14) — the monitoring verb beside
    // q263's PSI snapshot comparison: a one-sided CUSUM over the daily
    // mean event value against a first-10-days reference, using the
    // CLOSED FORM s_t = cumsum(y)_t - min(0, running-min of cumsum) —
    // the max(0, s+y) recurrence expressed as two windows over the
    // bounded calendar frame, no sequential loop. Each day's mean is
    // ONE e6-snapped division (the q415 discipline) so every other
    // number is an exact integer; the alarm threshold is
    // self-calibrated to half the peak statistic (data-derived, so the
    // alarm column provably varies). Scales: one daily agg + bounded
    // windows.
    "q419_cusum_drift" -> QueryDef(
      fn = (s, d) => {
        val daily = t(s, d, "events")
          .groupBy(datediff(to_date(col("ts")),
            lit("1970-01-01").cast("date")).cast("long").as("__day"))
          .agg(count(lit(1)).as("__n"), sum(cents(col("value"))).as("__sc"))
          .localCheckpoint(eager = true) // ref + series share it
        val ref = daily
          .crossJoin(broadcast(daily.agg(min(col("__day")).as("__d0"))))
          .filter(col("__day") <= col("__d0") + 9L)
          .agg(e6(sum(col("__sc")).cast("double")
            / sum(col("__n")).cast("double"))
            .as("__mu"))
        val wCum = Window.orderBy(col("__day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val series = daily.crossJoin(broadcast(ref))
          .withColumn("__x", e6(col("__sc").cast("double")
            / col("__n").cast("double")))
          .withColumn("__y", col("__x") - col("__mu"))
          .withColumn("__cum", sum(col("__y")).over(wCum))
          .withColumn("__s", col("__cum")
            - least(lit(0L), min(col("__cum")).over(wCum)))
        series
          .crossJoin(broadcast(series.agg(max(col("__s")).as("__peak"))))
          .select(col("__day").as("day_idx"), col("__x").as("mean_e6"),
            col("__s").as("cusum_e6"),
            (col("__s") > expr("__peak div 2")).as("alarm"))
          .orderBy("day_idx")
      },
      oracle = Some(cusumOracleSql)),

    // STREAMING CUSUM drift (round 14) — q419's detector fed by a
    // stream: the daily (n, sum) frame comes from a watermarked 1-day
    // window aggregate over the staged event stream (complete mode to
    // a memory table), and the SAME closed-form two-window CUSUM runs
    // on the result — stream/batch parity on the monitoring verb, so
    // this entry shares q419's exact oracle. The detector itself never
    // changes; only the ingestion plane does — which is the claim.
    "q421_stream_cusum" -> QueryDef(
      fn = (s, d) => {
        val staged = stageEventsDir(d)
        val ss = streamingSession(s)
        val table = try {
          val agg = stagedEventsStream(ss, staged)
            .withWatermark("ts", "0 seconds")
            .groupBy(window(col("ts"), "1 day").as("__w"))
            .agg(count(lit(1)).as("__n"), sum(cents(col("value"))).as("__sc"))
            .select(datediff(to_date(col("__w.start")),
              lit("1970-01-01").cast("date")).cast("long").as("__day"),
              col("__n"), col("__sc"))
          runToMemoryTable(agg, "q421_mem")
        } finally dropStaged(staged)
        val daily = table.localCheckpoint(eager = true)
        val ref = daily
          .crossJoin(broadcast(daily.agg(min(col("__day")).as("__d0"))))
          .filter(col("__day") <= col("__d0") + 9L)
          .agg(e6(sum(col("__sc")).cast("double")
            / sum(col("__n")).cast("double"))
            .as("__mu"))
        val wCum = Window.orderBy(col("__day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val series = daily.crossJoin(broadcast(ref))
          .withColumn("__x", e6(col("__sc").cast("double")
            / col("__n").cast("double")))
          .withColumn("__y", col("__x") - col("__mu"))
          .withColumn("__cum", sum(col("__y")).over(wCum))
          .withColumn("__s", col("__cum")
            - least(lit(0L), min(col("__cum")).over(wCum)))
        series
          .crossJoin(broadcast(series.agg(max(col("__s")).as("__peak"))))
          .select(col("__day").as("day_idx"), col("__x").as("mean_e6"),
            col("__s").as("cusum_e6"),
            (col("__s") > expr("__peak div 2")).as("alarm"))
          .orderBy("day_idx")
      },
      oracle = Some(cusumOracleSql),
      streaming = true),

    // Benford first-digit audit (round 14) — the fraud/data-entry
    // anomaly verb: observed first-digit distribution of positive cent
    // amounts vs Benford's log10(1 + 1/d) expectation, with the
    // chi-square decomposition PER DIGIT so the deviating digit is the
    // readout, not just one scalar. The first digit comes from the
    // STRING form (exact — a log10-based extraction goes wrong at
    // powers of ten), the expected shares are Scala-RENDERED e6
    // constants (one literal table in both engines, zero FP), and
    // each chi term is integer arithmetic. One conditional agg.
    "q422_benford_audit" -> QueryDef(
      fn = (s, d) => {
        val sharesSql = benfordSharesE6.zipWithIndex
          .map { case (v, i) => s"WHEN ${i + 1} THEN ${v}L" }
          .mkString("CASE first_digit ", " ", " END")
        val obs = t(s, d, "events")
          .filter(col("value").isNotNull && cents(col("value")) > 0L)
          .select(substring(cents(col("value")).cast("string"), 1, 1)
            .cast("long").as("first_digit"))
          .groupBy("first_digit").agg(count(lit(1)).as("n_obs"))
        obs
          .crossJoin(broadcast(obs.agg(sum(col("n_obs")).as("__nn"))))
          .withColumn("share_e6", expr(sharesSql))
          .withColumn("n_exp", expr("__nn * share_e6 div 1000000"))
          .select(col("first_digit"), col("n_obs"), col("share_e6"),
            col("n_exp"),
            expr("(n_obs - n_exp) * (n_obs - n_exp) * 1000000 div n_exp")
              .as("chi2_term_e6"))
          .orderBy("first_digit")
      },
      oracle = Some(s"""
        WITH obs AS (SELECT CAST(substring(CAST(${centsSql("value")}
                       AS VARCHAR), 1, 1) AS BIGINT) AS first_digit,
                            count(*) AS n_obs
                     FROM events
                     WHERE value IS NOT NULL AND ${centsSql("value")} > 0
                     GROUP BY 1),
        nn AS (SELECT sum(n_obs) AS n FROM obs),
        e AS (SELECT first_digit, n_obs,
                     ${benfordSharesE6.zipWithIndex.map { case (v, i) =>
                       s"WHEN ${i + 1} THEN $v" }
                       .mkString("CASE first_digit ", " ", " END")}
                       AS share_e6
              FROM obs)
        SELECT first_digit, CAST(n_obs AS BIGINT) AS n_obs,
               CAST(share_e6 AS BIGINT) AS share_e6,
               CAST(n * share_e6 // 1000000 AS BIGINT) AS n_exp,
               CAST((n_obs - n * share_e6 // 1000000)
                    * (n_obs - n * share_e6 // 1000000) * 1000000
                    // (n * share_e6 // 1000000) AS BIGINT) AS chi2_term_e6
        FROM e, nn ORDER BY first_digit""")),

    // Weekly cohort retention triangle (round 14) — the product-
    // analytics verb beside q40's sessionization: users grouped by
    // FIRST-event week, retention = share still active at each week
    // offset. Exact integers end-to-end (distinct (user, week)
    // activity -> cohort join -> e6 share); the per-user min is one
    // grouped agg and the triangle is |weeks|^2 — bounded. Scales.
    "q423_cohort_retention" -> QueryDef(
      fn = (s, d) => {
        val ev = t(s, d, "events")
          .select(col("user_id"),
            expr("CAST(datediff(to_date(ts), DATE '1970-01-01') AS BIGINT)" +
              " div 7").as("__wk"))
          .distinct()
          .localCheckpoint(eager = true) // cohorts + activity share it
        val cohorts = ev.groupBy("user_id").agg(min(col("__wk")).as("__c0"))
        val sizes = cohorts.groupBy("__c0").agg(count(lit(1)).as("cohort_n"))
        ev.join(cohorts, Seq("user_id"))
          .groupBy(col("__c0"), (col("__wk") - col("__c0")).as("week_offset"))
          .agg(count(lit(1)).as("n_active"))
          .join(broadcast(sizes), Seq("__c0"))
          .select(col("__c0").as("cohort_week"), col("week_offset"),
            col("n_active"), col("cohort_n"),
            expr("n_active * 1000000 div cohort_n").as("retention_e6"))
          .orderBy("cohort_week", "week_offset")
      },
      oracle = Some("""
        WITH a AS (SELECT DISTINCT user_id,
                          date_diff('day', DATE '1970-01-01',
                            CAST(ts AS DATE)) // 7 AS wk
                   FROM events),
        c AS (SELECT user_id, min(wk) AS c0 FROM a GROUP BY 1),
        sz AS (SELECT c0, count(*) AS cohort_n FROM c GROUP BY 1),
        r AS (SELECT c.c0, a.wk - c.c0 AS off, count(*) AS n_active
              FROM a JOIN c ON a.user_id = c.user_id GROUP BY 1, 2)
        SELECT r.c0 AS cohort_week, CAST(r.off AS BIGINT) AS week_offset,
               CAST(r.n_active AS BIGINT) AS n_active,
               CAST(sz.cohort_n AS BIGINT) AS cohort_n,
               CAST(r.n_active * 1000000 // sz.cohort_n AS BIGINT)
                 AS retention_e6
        FROM r JOIN sz ON r.c0 = sz.c0
        ORDER BY cohort_week, week_offset""")),

    // CUPED variance reduction (round 13) — the experimentation
    // workhorse beside q246's diff-in-diff: adjust each unit's metric
    // by its PRE-period covariate, y' = y - theta (x - xbar) with
    // theta = cov(x, y)/var(x) pooled across arms, and report the
    // per-arm means plus the realized variance reduction. Units are
    // users, arms a deterministic parity split, pre/post the calendar
    // halves; x and y are exact cents, every moment an exact integer,
    // and theta/variances are fixed-order doubles e6-snapped at emit.
    // Shape: two grouped aggs + one 1-row broadcast — scales anywhere.
    "q396_cuped" -> QueryDef(
      fn = (s, d) => {
        val ev = t(s, d, "events")
          .select(col("user_id"), dayofmonth(col("ts")).cast("long").as("__day"),
            expr(centsCol("value")).as("__c"))
        val perUser = ev.groupBy("user_id").agg(
          sum(when(col("__day") <= 15L, col("__c")).otherwise(0L)).as("x"),
          sum(when(col("__day") > 15L, col("__c")).otherwise(0L)).as("y"))
          .withColumn("arm", (col("user_id") % 2L).as("arm"))
          .localCheckpoint(eager = true) // pooled moments + per-arm share it
        val pooled = perUser.agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("y")).as("sxy"))
        // theta = (n sxy - sx sy) / (n sxx - sx^2); xbar = sx / n — both
        // fixed-order doubles shared by every row via a 1-row broadcast
        // yadj is a per-row double — snap it onto the centi-cent integer
        // grid IMMEDIATELY (the q224 rule) so the per-arm sums are
        // order-free exact integers; the grid loss is 1e-2 cents
        val withTheta = perUser.crossJoin(broadcast(pooled))
          .withColumn("__theta",
            (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
              / (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
          .withColumn("__yg",
            floor((col("y").cast("double")
              - col("__theta") * (col("x").cast("double")
                - col("sx").cast("double") / col("n").cast("double")))
              * 100 + 0.5).cast("long"))
        val byArm = withTheta.groupBy("arm").agg(
          count(lit(1)).as("n_users"),
          sum(col("y")).as("__sy"), sum(col("y") * col("y")).as("__syy"),
          sum(col("__yg")).as("__sa"),
          sum(col("__yg") * col("__yg")).as("__saa"))
        val nD = col("n_users").cast("double")
        val varY = (col("__syy").cast("double")
          - col("__sy").cast("double") * col("__sy").cast("double") / nD) / nD
        val varA = (col("__saa").cast("double") / 10000.0
          - (col("__sa").cast("double") / 100.0)
            * (col("__sa").cast("double") / 100.0) / nD) / nD
        byArm.select(col("arm"), col("n_users"),
          e6(col("__sy").cast("double") / nD).as("mean_y_e6"),
          e6(col("__sa").cast("double") / 100.0 / nD).as("mean_yadj_e6"),
          e6(varY).as("var_y_e6"), e6(varA).as("var_yadj_e6"),
          e6((varY - varA) / varY).as("var_reduction_e6"))
          .orderBy("arm")
      },
      oracle = Some(s"""
        WITH ev AS (SELECT user_id,
                           CAST(strftime(ts, '%d') AS BIGINT) AS day,
                           ${centsSql("value")} AS c
                    FROM events),
        pu AS (SELECT user_id, user_id % 2 AS arm,
                      sum(CASE WHEN day <= 15 THEN c ELSE 0 END) AS x,
                      sum(CASE WHEN day > 15 THEN c ELSE 0 END) AS y
               FROM ev GROUP BY user_id),
        pooled AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                          sum(x * x) AS sxx, sum(x * y) AS sxy
                   FROM pu),
        adj AS (SELECT pu.arm, pu.y,
                       CAST(floor((CAST(pu.y AS DOUBLE)
                         - (CAST(n * sxy - sx * sy AS DOUBLE)
                            / CAST(n * sxx - sx * sx AS DOUBLE))
                           * (CAST(pu.x AS DOUBLE)
                              - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
                         * 100 + 0.5) AS BIGINT) AS yg
                FROM pu, pooled),
        a AS (SELECT arm, count(*) AS n_users,
                     sum(y) AS sy, sum(y * y) AS syy,
                     sum(yg) AS sa, sum(yg * yg) AS saa
              FROM adj GROUP BY arm)
        SELECT CAST(arm AS BIGINT) AS arm, CAST(n_users AS BIGINT) AS n_users,
               CAST(floor(CAST(sy AS DOUBLE) / CAST(n_users AS DOUBLE)
                 * 1000000 + 0.5) AS BIGINT) AS mean_y_e6,
               CAST(floor(CAST(sa AS DOUBLE) / 100.0
                   / CAST(n_users AS DOUBLE)
                 * 1000000 + 0.5) AS BIGINT) AS mean_yadj_e6,
               CAST(floor((CAST(syy AS DOUBLE)
                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
                     / CAST(n_users AS DOUBLE)) / CAST(n_users AS DOUBLE)
                 * 1000000 + 0.5) AS BIGINT) AS var_y_e6,
               CAST(floor((CAST(saa AS DOUBLE) / 10000.0
                   - (CAST(sa AS DOUBLE) / 100.0)
                     * (CAST(sa AS DOUBLE) / 100.0)
                     / CAST(n_users AS DOUBLE)) / CAST(n_users AS DOUBLE)
                 * 1000000 + 0.5) AS BIGINT) AS var_yadj_e6,
               CAST(floor(((CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
                       / CAST(n_users AS DOUBLE)) / CAST(n_users AS DOUBLE)
                   - (CAST(saa AS DOUBLE) / 10000.0
                     - (CAST(sa AS DOUBLE) / 100.0)
                       * (CAST(sa AS DOUBLE) / 100.0)
                       / CAST(n_users AS DOUBLE)) / CAST(n_users AS DOUBLE))
                  / ((CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
                       / CAST(n_users AS DOUBLE)) / CAST(n_users AS DOUBLE))
                 * 1000000 + 0.5) AS BIGINT) AS var_reduction_e6
        FROM a ORDER BY arm""")),

    // Burrows' Delta (round 15) — the stylometry classic (Burrows 2002):
    // distance between corpora = mean absolute difference of z-scored
    // FUNCTION-WORD relative frequencies. The catalog has per-doc style
    // metrics (q240) and distribution drift (q150 JS, q263 PSI); this
    // is the attribution verb between SOURCES. Cross-engine FP
    // discipline (q424's exact-moment pattern): per-source frequencies
    // are snapped to an e9 integer grid (one deterministic double op
    // each), then mean/stddev come from EXACT integer moments S1/S2 —
    // the 20-source aggregation is order-free bigint addition, so the
    // z pipeline is bit-identical in both engines. Plan shape: one
    // explode + keyed agg over tokens (uniform shuffle), a 1-row
    // moment frame broadcast back, and a P x P pair join over the
    // P-row z frame — at 100 TB the quadratic stage touches P sources,
    // never rows.
    "q433_burrows_delta" -> QueryDef(
      fn = (s, d) => {
        val words = Seq("the", "a", "value", "table", "row", "key")
        val TFx = graft.functions.TextFunctions
        val toks = t(s, d, "documents")
          .select(col("source"), explode(TFx.tokens(col("text"))).as("tok"))
        val perSrc = toks.groupBy(col("source")).agg(
          count(lit(1)).as("n"),
          words.map(w => sum(when(col("tok") === w, 1L).otherwise(0L))
            .as(s"c_$w")): _*)
        val gridded = perSrc.select(col("source") +: words.map(w =>
          floor(col(s"c_$w").cast("double") * 1000000000.0
            / col("n").cast("double") + 0.5).cast("long").as(s"f_$w")): _*)
          .localCheckpoint(eager = true) // moments + z + both pair sides
        val stats = gridded.agg(
          count(lit(1)).as("p"),
          words.flatMap(w => Seq(
            sum(col(s"f_$w")).as(s"s1_$w"),
            sum(col(s"f_$w") * col(s"f_$w")).as(s"s2_$w"))): _*)
        def z(w: String): Column = {
          val pd = col("p").cast("double")
          val s1 = col(s"s1_$w").cast("double")
          val s2 = col(s"s2_$w").cast("double")
          val varS = (s2 - s1 * s1 / pd) / (pd - 1.0)
          when(varS > 0.0,
            (col(s"f_$w").cast("double") - s1 / pd) / sqrt(varS))
            .otherwise(lit(0.0))
        }
        val zf = gridded.crossJoin(broadcast(stats))
          .select(col("source") +: words.map(w => z(w).as(s"z_$w")): _*)
        val a = zf.select(col("source").as("source_a") +:
          words.map(w => col(s"z_$w").as(s"za_$w")): _*)
        val b = zf.select(col("source").as("source_b") +:
          words.map(w => col(s"z_$w").as(s"zb_$w")): _*)
        val deltaSum = words.map(w =>
          abs(col(s"za_$w") - col(s"zb_$w"))).reduce(_ + _)
        a.join(b, col("source_a") < col("source_b"))
          .select(col("source_a"), col("source_b"),
            e6(deltaSum / lit(words.size.toDouble)).as("delta_e6"))
          .orderBy(col("source_a"), col("source_b"))
      },
      oracle = Some(s"""
        WITH tk AS (SELECT source, unnest($toksSql) AS tok FROM documents),
        ps AS (SELECT source, count(*) AS n,
                      sum(CASE WHEN tok = 'the' THEN 1 ELSE 0 END) AS c_the,
                      sum(CASE WHEN tok = 'a' THEN 1 ELSE 0 END) AS c_a,
                      sum(CASE WHEN tok = 'value' THEN 1 ELSE 0 END) AS c_value,
                      sum(CASE WHEN tok = 'table' THEN 1 ELSE 0 END) AS c_table,
                      sum(CASE WHEN tok = 'row' THEN 1 ELSE 0 END) AS c_row,
                      sum(CASE WHEN tok = 'key' THEN 1 ELSE 0 END) AS c_key
               FROM tk GROUP BY 1),
        g AS (SELECT source,
                     CAST(floor(CAST(c_the AS DOUBLE) * 1000000000.0 / CAST(n AS DOUBLE) + 0.5) AS BIGINT) AS f_the,
                     CAST(floor(CAST(c_a AS DOUBLE) * 1000000000.0 / CAST(n AS DOUBLE) + 0.5) AS BIGINT) AS f_a,
                     CAST(floor(CAST(c_value AS DOUBLE) * 1000000000.0 / CAST(n AS DOUBLE) + 0.5) AS BIGINT) AS f_value,
                     CAST(floor(CAST(c_table AS DOUBLE) * 1000000000.0 / CAST(n AS DOUBLE) + 0.5) AS BIGINT) AS f_table,
                     CAST(floor(CAST(c_row AS DOUBLE) * 1000000000.0 / CAST(n AS DOUBLE) + 0.5) AS BIGINT) AS f_row,
                     CAST(floor(CAST(c_key AS DOUBLE) * 1000000000.0 / CAST(n AS DOUBLE) + 0.5) AS BIGINT) AS f_key
              FROM ps),
        st AS (SELECT CAST(count(*) AS BIGINT) AS p,
                      sum(f_the) AS s1_the, sum(f_the * f_the) AS s2_the,
                      sum(f_a) AS s1_a, sum(f_a * f_a) AS s2_a,
                      sum(f_value) AS s1_value, sum(f_value * f_value) AS s2_value,
                      sum(f_table) AS s1_table, sum(f_table * f_table) AS s2_table,
                      sum(f_row) AS s1_row, sum(f_row * f_row) AS s2_row,
                      sum(f_key) AS s1_key, sum(f_key * f_key) AS s2_key
               FROM g),
        zf AS (SELECT source,
                      CASE WHEN (CAST(s2_the AS DOUBLE) - CAST(s1_the AS DOUBLE) * CAST(s1_the AS DOUBLE) / CAST(p AS DOUBLE)) / (CAST(p AS DOUBLE) - 1.0) > 0.0
                           THEN (CAST(f_the AS DOUBLE) - CAST(s1_the AS DOUBLE) / CAST(p AS DOUBLE))
                                / sqrt((CAST(s2_the AS DOUBLE) - CAST(s1_the AS DOUBLE) * CAST(s1_the AS DOUBLE) / CAST(p AS DOUBLE)) / (CAST(p AS DOUBLE) - 1.0))
                           ELSE 0.0 END AS z_the,
                      CASE WHEN (CAST(s2_a AS DOUBLE) - CAST(s1_a AS DOUBLE) * CAST(s1_a AS DOUBLE) / CAST(p AS DOUBLE)) / (CAST(p AS DOUBLE) - 1.0) > 0.0
                           THEN (CAST(f_a AS DOUBLE) - CAST(s1_a AS DOUBLE) / CAST(p AS DOUBLE))
                                / sqrt((CAST(s2_a AS DOUBLE) - CAST(s1_a AS DOUBLE) * CAST(s1_a AS DOUBLE) / CAST(p AS DOUBLE)) / (CAST(p AS DOUBLE) - 1.0))
                           ELSE 0.0 END AS z_a,
                      CASE WHEN (CAST(s2_value AS DOUBLE) - CAST(s1_value AS DOUBLE) * CAST(s1_value AS DOUBLE) / CAST(p AS DOUBLE)) / (CAST(p AS DOUBLE) - 1.0) > 0.0
                           THEN (CAST(f_value AS DOUBLE) - CAST(s1_value AS DOUBLE) / CAST(p AS DOUBLE))
                                / sqrt((CAST(s2_value AS DOUBLE) - CAST(s1_value AS DOUBLE) * CAST(s1_value AS DOUBLE) / CAST(p AS DOUBLE)) / (CAST(p AS DOUBLE) - 1.0))
                           ELSE 0.0 END AS z_value,
                      CASE WHEN (CAST(s2_table AS DOUBLE) - CAST(s1_table AS DOUBLE) * CAST(s1_table AS DOUBLE) / CAST(p AS DOUBLE)) / (CAST(p AS DOUBLE) - 1.0) > 0.0
                           THEN (CAST(f_table AS DOUBLE) - CAST(s1_table AS DOUBLE) / CAST(p AS DOUBLE))
                                / sqrt((CAST(s2_table AS DOUBLE) - CAST(s1_table AS DOUBLE) * CAST(s1_table AS DOUBLE) / CAST(p AS DOUBLE)) / (CAST(p AS DOUBLE) - 1.0))
                           ELSE 0.0 END AS z_table,
                      CASE WHEN (CAST(s2_row AS DOUBLE) - CAST(s1_row AS DOUBLE) * CAST(s1_row AS DOUBLE) / CAST(p AS DOUBLE)) / (CAST(p AS DOUBLE) - 1.0) > 0.0
                           THEN (CAST(f_row AS DOUBLE) - CAST(s1_row AS DOUBLE) / CAST(p AS DOUBLE))
                                / sqrt((CAST(s2_row AS DOUBLE) - CAST(s1_row AS DOUBLE) * CAST(s1_row AS DOUBLE) / CAST(p AS DOUBLE)) / (CAST(p AS DOUBLE) - 1.0))
                           ELSE 0.0 END AS z_row,
                      CASE WHEN (CAST(s2_key AS DOUBLE) - CAST(s1_key AS DOUBLE) * CAST(s1_key AS DOUBLE) / CAST(p AS DOUBLE)) / (CAST(p AS DOUBLE) - 1.0) > 0.0
                           THEN (CAST(f_key AS DOUBLE) - CAST(s1_key AS DOUBLE) / CAST(p AS DOUBLE))
                                / sqrt((CAST(s2_key AS DOUBLE) - CAST(s1_key AS DOUBLE) * CAST(s1_key AS DOUBLE) / CAST(p AS DOUBLE)) / (CAST(p AS DOUBLE) - 1.0))
                           ELSE 0.0 END AS z_key
               FROM g CROSS JOIN st)
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(floor((abs(a.z_the - b.z_the) + abs(a.z_a - b.z_a)
                           + abs(a.z_value - b.z_value) + abs(a.z_table - b.z_table)
                           + abs(a.z_row - b.z_row) + abs(a.z_key - b.z_key))
                          / 6.0 * 1000000.0 + 0.5) AS BIGINT) AS delta_e6
        FROM zf a JOIN zf b ON a.source < b.source
        ORDER BY source_a, source_b""")),

    // Allen's interval-algebra census (round 15, wave 2): classify
    // activity-span pairs into Allen's 13 temporal relations and census
    // them — the temporal-logic verb underneath overlap joins (q87),
    // bitemporal replay (q279) and session containment, made
    // exhaustive: the 13 relations PARTITION all span configurations.
    // Three pair families make every relation reachable on this
    // fixture's geometry (every (user, type) span covers most of the
    // month, so micro-timestamp pairs only ever hit the 4 strict
    // overlap/containment buckets — the first cut's hollow-census
    // lesson): (a) 'types' — DAY-grain (user, type-pair) spans, firing
    // the equality families (starts/finishes/equals) beside
    // overlap/containment; (b) 'fwd_halves' — per (user, type), the
    // days-1-15 span vs the days-15-30 span (the shared day-15
    // boundary makes meets vs precedes a real data-driven split); (c)
    // 'rev_halves' — (b) reversed, firing preceded_by/met_by. The
    // WHEN chain's decision order is the parity contract: both engines
    // evaluate the IDENTICAL chain, so degenerate point spans classify
    // identically without special-casing. Plan shape: keyed aggs
    // (user x type), per-user bounded pair joins, tiny census aggs.
    "q434_allen_census" -> QueryDef(
      fn = (s, d) => {
        def rel(s1: Column, e1: Column, s2: Column, e2: Column): Column =
          when(e1 < s2, "precedes")
            .when(e1 === s2, "meets")
            .when(e2 < s1, "preceded_by")
            .when(e2 === s1, "met_by")
            .when(s1 === s2 && e1 === e2, "equals")
            .when(s1 === s2 && e1 < e2, "starts")
            .when(s1 === s2, "started_by")
            .when(e1 === e2 && s1 < s2, "finished_by")
            .when(e1 === e2, "finishes")
            .when(s1 < s2 && e2 < e1, "contains")
            .when(s2 < s1 && e1 < e2, "during")
            .when(s1 < s2, "overlaps")
            .otherwise("overlapped_by")
        val ev = t(s, d, "events")
          .select(col("user_id"), col("event_type"),
            to_date(col("ts")).as("day"),
            dayofmonth(col("ts")).as("dom"))
          .localCheckpoint(eager = true) // all three span frames share it
        val iv = ev.groupBy(col("user_id"), col("event_type"))
          .agg(min(col("day")).as("ss"), max(col("day")).as("ee"))
        val a = iv.select(col("user_id"), col("event_type").as("type_a"),
          col("ss").as("s1"), col("ee").as("e1"))
        val b = iv.select(col("user_id"), col("event_type").as("type_b"),
          col("ss").as("s2"), col("ee").as("e2"))
        val census1 = a.join(b, Seq("user_id"))
          .where(col("type_a") < col("type_b"))
          .select(lit("types").as("family"), col("type_a"), col("type_b"),
            rel(col("s1"), col("e1"), col("s2"), col("e2")).as("relation"))
        def halfSpan(lo: Int, hi: Int) = ev
          .where(col("dom") >= lo && col("dom") <= hi)
          .groupBy(col("user_id"), col("event_type"))
          .agg(min(col("day")).as("hs"), max(col("day")).as("he"))
        val hj = halfSpan(1, 15).select(col("user_id"), col("event_type"),
            col("hs").as("s1"), col("he").as("e1"))
          .join(halfSpan(15, 31).select(col("user_id"), col("event_type"),
            col("hs").as("s2"), col("he").as("e2")),
            Seq("user_id", "event_type"))
          .localCheckpoint(eager = true) // fwd + rev censuses share it
        val census2 = hj.select(lit("fwd_halves").as("family"),
          col("event_type").as("type_a"), col("event_type").as("type_b"),
          rel(col("s1"), col("e1"), col("s2"), col("e2")).as("relation"))
        val census3 = hj.select(lit("rev_halves").as("family"),
          col("event_type").as("type_a"), col("event_type").as("type_b"),
          rel(col("s2"), col("e2"), col("s1"), col("e1")).as("relation"))
        census1.unionAll(census2).unionAll(census3)
          .groupBy(col("family"), col("type_a"), col("type_b"),
            col("relation"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("family"), col("type_a"), col("type_b"),
            col("relation"))
      },
      oracle = Some("""
        WITH ev AS (SELECT user_id, event_type, CAST(ts AS DATE) AS day,
                           extract(day FROM ts) AS dom
                    FROM events),
        iv AS (SELECT user_id, event_type, min(day) AS ss, max(day) AS ee
               FROM ev GROUP BY 1, 2),
        pr1 AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                       a.ss AS s1, a.ee AS e1, b.ss AS s2, b.ee AS e2
                FROM iv a JOIN iv b ON a.user_id = b.user_id
                  AND a.event_type < b.event_type),
        h1 AS (SELECT user_id, event_type, min(day) AS hs, max(day) AS he
               FROM ev WHERE dom BETWEEN 1 AND 15 GROUP BY 1, 2),
        h2 AS (SELECT user_id, event_type, min(day) AS hs, max(day) AS he
               FROM ev WHERE dom BETWEEN 15 AND 31 GROUP BY 1, 2),
        hj AS (SELECT h1.event_type,
                      h1.hs AS s1, h1.he AS e1, h2.hs AS s2, h2.he AS e2
               FROM h1 JOIN h2 ON h1.user_id = h2.user_id
                 AND h1.event_type = h2.event_type),
        allp AS (SELECT 'types' AS family, type_a, type_b,
                        s1, e1, s2, e2 FROM pr1
                 UNION ALL
                 SELECT 'fwd_halves', event_type, event_type,
                        s1, e1, s2, e2 FROM hj
                 UNION ALL
                 SELECT 'rev_halves', event_type, event_type,
                        s2, e2, s1, e1 FROM hj),
        cl AS (SELECT family, type_a, type_b,
                      CASE WHEN e1 < s2 THEN 'precedes'
                           WHEN e1 = s2 THEN 'meets'
                           WHEN e2 < s1 THEN 'preceded_by'
                           WHEN e2 = s1 THEN 'met_by'
                           WHEN s1 = s2 AND e1 = e2 THEN 'equals'
                           WHEN s1 = s2 AND e1 < e2 THEN 'starts'
                           WHEN s1 = s2 THEN 'started_by'
                           WHEN e1 = e2 AND s1 < s2 THEN 'finished_by'
                           WHEN e1 = e2 THEN 'finishes'
                           WHEN s1 < s2 AND e2 < e1 THEN 'contains'
                           WHEN s2 < s1 AND e1 < e2 THEN 'during'
                           WHEN s1 < s2 THEN 'overlaps'
                           ELSE 'overlapped_by' END AS relation
               FROM allp)
        SELECT family, type_a, type_b, relation,
               CAST(count(*) AS BIGINT) AS n
        FROM cl GROUP BY 1, 2, 3, 4
        ORDER BY family, type_a, type_b, relation""")),

    // Exhaustive consensus line fit (round 15, wave 3) — RANSAC's
    // inlier-consensus objective made deterministic: over the 30-point
    // daily purchase-revenue series, EVERY day pair proposes the line
    // through its two points and is scored by how many days fall
    // within the tolerance band (0.2 x mean daily revenue); the
    // winner maximizes inliers — robust to the days an L2 fit (q177
    // OLS, q386 Theil-Sen's median slope) gets dragged by. Top-5
    // candidates emitted. Exhaustive enumeration replaces RANSAC's
    // random sampling, so the oracle replays the whole tournament;
    // at a larger series the pair frame is the documented O(n^2)
    // exact baseline and hash-sampled pair subsets (q58 discipline)
    // are the scale path. All inputs are exact cent integers (one
    // decimal-exact sum per day), the band test a fixed-order double
    // expression.
    "q438_consensus_line_fit" -> QueryDef(
      fn = (s, d) => {
        val pts = t(s, d, "events")
          .where(col("event_type") === "purchase")
          .groupBy(dayofmonth(col("ts")).as("x"))
          .agg(sum(col("value").cast("decimal(18,2)")).as("__ysum"))
          .select(col("x").cast("long").as("x"),
            (col("__ysum") * 100).cast("long").as("y_c"))
          .localCheckpoint(eager = true) // pair frame + band test share it
        val meanC = pts.agg((sum(col("y_c")).cast("double")
          / count(lit(1)).cast("double")).as("__mean_c"))
        val a = pts.toDF("xi", "yi")
        val b = pts.toDF("xj", "yj")
        val cands = a.join(b, col("xi") < col("xj"))
          .withColumn("__slope", (col("yj") - col("yi")).cast("double")
            / (col("xj") - col("xi")).cast("double"))
        val scored = cands.crossJoin(broadcast(meanC))
          .crossJoin(pts.toDF("x", "y")) // band-test every point (30 rows)
          .withColumn("__resid", abs(col("y").cast("double")
            - (col("yi").cast("double")
               + col("__slope") * (col("x") - col("xi")).cast("double"))))
          .groupBy(col("xi"), col("yi"), col("xj"), col("__slope"))
          .agg(sum(when(col("__resid") <= lit(0.2) * col("__mean_c"), 1L)
            .otherwise(0L)).as("n_inliers"))
        scored
          .select(col("xi"), col("xj"), col("n_inliers"),
            e6(col("__slope"))
              .as("slope_e6c"),
            floor((col("yi").cast("double")
              - col("__slope") * col("xi").cast("double")) * 100.0 + 0.5)
              .cast("long").as("intercept_e2c"))
          .orderBy(col("n_inliers").desc, col("xi"), col("xj"))
          .limit(5)
          .withColumn("rank", row_number().over(Window.orderBy(
            col("n_inliers").desc, col("xi"), col("xj"))).cast("long"))
          .select(col("rank"), col("xi"), col("xj"), col("n_inliers"),
            col("slope_e6c"), col("intercept_e2c"))
          .orderBy(col("rank"))
      },
      oracle = Some("""
        WITH pts AS (SELECT CAST(extract(day FROM ts) AS BIGINT) AS x,
                            CAST(sum(CAST(value AS DECIMAL(18,2))) * 100
                              AS BIGINT) AS y_c
                     FROM events WHERE event_type = 'purchase'
                     GROUP BY 1),
        m AS (SELECT CAST(sum(y_c) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                AS mean_c FROM pts),
        cands AS (SELECT a.x AS xi, a.y_c AS yi, b.x AS xj, b.y_c AS yj,
                         CAST(b.y_c - a.y_c AS DOUBLE)
                           / CAST(b.x - a.x AS DOUBLE) AS slope
                  FROM pts a JOIN pts b ON a.x < b.x),
        scored AS (SELECT c.xi, c.yi, c.xj, c.slope,
                          sum(CASE WHEN abs(CAST(p.y_c AS DOUBLE)
                                - (CAST(c.yi AS DOUBLE)
                                   + c.slope * CAST(p.x - c.xi AS DOUBLE)))
                              <= 0.2 * m.mean_c THEN 1 ELSE 0 END)
                            AS n_inliers
                   FROM cands c CROSS JOIN m CROSS JOIN pts p
                   GROUP BY 1, 2, 3, 4),
        top AS (SELECT xi, xj, n_inliers, slope, yi
                FROM scored
                ORDER BY n_inliers DESC, xi, xj LIMIT 5)
        SELECT CAST(row_number() OVER (ORDER BY n_inliers DESC, xi, xj)
                 AS BIGINT) AS rank,
               xi, xj, CAST(n_inliers AS BIGINT) AS n_inliers,
               CAST(floor(slope * 1000000.0 + 0.5) AS BIGINT) AS slope_e6c,
               CAST(floor((CAST(yi AS DOUBLE)
                 - slope * CAST(xi AS DOUBLE)) * 100.0 + 0.5) AS BIGINT)
                 AS intercept_e2c
        FROM top ORDER BY rank""")),
  )

  /** q394's z for the 95% Wilson interval — Scala-rendered once so both
    * engines embed the identical double literal.
    */
  private val WilsonZ = 1.96
  private val WilsonZ2 = WilsonZ * WilsonZ

  /** q395: Durbin-Levinson unrolled SYMBOLICALLY — one generator emits
    * the identical arithmetic tree as SQL text for BOTH engines (Spark
    * `expr` and the DuckDB oracle), so the FP sequences cannot drift.
    * Inputs are the e6-snapped ACF columns r1..r$PacfMaxLag (snapped
    * BEFORE the recursion, the q224 per-level rule); output is one
    * expression string per lag k for phi_kk.
    */
  private val PacfMaxLag = 4
  private def pacfPhiSql: Seq[String] = {
    val phi = Array.ofDim[String](PacfMaxLag + 1, PacfMaxLag + 1)
    phi(1)(1) = "r1"
    for (k <- 2 to PacfMaxLag) {
      val num = s"(r$k - (${(1 until k)
        .map(j => s"(${phi(k - 1)(j)}) * r${k - j}").mkString(" + ")}))"
      val den = s"(1.0 - (${(1 until k)
        .map(j => s"(${phi(k - 1)(j)}) * r$j").mkString(" + ")}))"
      phi(k)(k) = s"($num / $den)"
      for (j <- 1 until k)
        phi(k)(j) = s"((${phi(k - 1)(j)}) - (${phi(k)(k)}) * (${phi(k - 1)(k - j)}))"
    }
    (1 to PacfMaxLag).map(k => phi(k)(k))
  }

  /** q297's suffix rules, FIRST applicable wins: (suffix, min token
    * length to strip). One constant feeding the Column chain and the
    * oracle CASE.
    */
  private val StemRules: Seq[(String, Int)] =
    Seq(("ing", 6), ("ed", 5), ("s", 4))

  /** q297's injected inflection ribbon (see the query comment). */
  private val StemRibbon =
    " joins joined joining sorts sorted sorting filters filtered filtering"

  /** q298's engagement bar: per-user-per-type event counts are ~
    * Binomial(events/user, 1/5) ~ 13.3 +- 3.3 at EVERY sf (events
    * scale with users, ~67 events/user), so a bar AT the mean splits
    * membership and audience overlaps vary genuinely — the raw user
    * grain is degenerate (every user does every type; see NOTES
    * round-11, and the first cut's bar of 133 was calibrated off the
    * wrong corpus size and emptied every audience).
    */
  private val AudienceBar = 13L

  private def stemCol(t: Column): Column =
    StemRules.foldRight(t) { case ((suf, minLen), rest) =>
      when(t.endsWith(suf) && length(t) >= minLen,
        expr(s"substring(__t, 1, length(__t) - ${suf.length})"))
        .otherwise(rest)
    }

  private def stemSql: String =
    StemRules.foldRight("t") { case ((suf, minLen), rest) =>
      s"""CASE WHEN t LIKE '%$suf' AND length(t) >= $minLen
          THEN substring(t, 1, length(t) - ${suf.length}) ELSE $rest END"""
    }

  /** q291's expected Benford shares on the 1e-6 grid — generated from
    * math.log10 ONCE here and embedded verbatim in both engines.
    */
  private val BenfordE6: Seq[Long] =
    (1 to 9).map(dd => math.floor(math.log10(1.0 + 1.0 / dd) * 1e6 + 0.5).toLong)

  /** q295's lookback window: touches within 7 days before a conversion. */
  private val AttributionWindowUs = 604800000000L

  /** q409's Welch |z| over exact integer moments — ONE arithmetic string
    * evaluated by BOTH engines (Spark `expr` and DuckDB), so every
    * intermediate double is bit-identical. sxx rides decimal(38,0)
    * (Spark) / HUGEINT (DuckDB); the CASTs make both exact before the
    * single rounding into DOUBLE.
    */
  private def bhVarTerm(i: Int): String =
    s"(CAST(n$i * CAST(sxx$i AS DECIMAL(38,0)) - CAST(sx$i AS DECIMAL(38,0)) * sx$i AS DOUBLE)" +
      s" / (CAST(n$i AS DOUBLE) * (n$i - 1) * n$i))"
  private val bhZSql: String =
    s"(abs(CAST(sx1 AS DOUBLE) / n1 - CAST(sx0 AS DOUBLE) / n0)" +
      s" / sqrt(${bhVarTerm(1)} + ${bhVarTerm(0)}))"

  /** Two-sided normal p from |z| via Abramowitz-Stegun 26.2.17 (neither
    * engine ships erf), e6-snapped — again ONE string for both engines.
    * The t subterm repeats textually; both engines evaluate the same op
    * tree, so recomputation cannot diverge.
    */
  private val bhPSql: String = {
    val t = "(1.0 / (1.0 + 0.2316419 * __z))"
    val poly = s"($t * (0.31938153 + $t * (-0.356563782 + $t * (1.781477937" +
      s" + $t * (-1.821255978 + $t * 1.330274429)))))"
    s"CAST(floor(2.0 * (exp(-(__z * __z) / 2.0) / 2.5066282746310002)" +
      s" * $poly * 1000000.0 + 0.5) AS BIGINT)"
  }

  /** q422's Benford expectations: floor(log10(1 + 1/d) * 1e6 + 0.5)
    * RENDERED IN SCALA — one shared literal table, no cross-engine
    * log10 in sight.
    */
  private val benfordSharesE6: Seq[Long] =
    (1 to 9).map(dd => math.floor(math.log10(1.0 + 1.0 / dd) * 1e6 + 0.5).toLong)

  /** q428's RBO depth weights: floor(0.9^(d-1) * 1e12 + 0.5) for
    * d = 1..50, rendered in Scala for the same reason as
    * [[benfordSharesE6]] — pow() need not be bit-identical across
    * engines, one literal table is.
    */
  private val rboWeightsE12: Seq[Long] =
    (1 to 50).map(dd => math.floor(math.pow(0.9, dd - 1) * 1e12 + 0.5).toLong)

  /** q412's S-curve pieces — again ONE arithmetic string per step for
    * both engines, each transcendental e9-snapped before the next step
    * so the engines walk identical exact inputs. s = i/100; s^r and
    * (1 - s^r)^b go through exp/ln (integer exponents would need
    * per-row unrolling); p = 1e9 - snapped outer power.
    */
  private val lshSrE9Sql: String =
    "CAST(floor(exp(CAST(r AS DOUBLE) * ln(CAST(i AS DOUBLE) / 100.0))" +
      " * 1000000000.0 + 0.5) AS BIGINT)"
  private val lshPE9Sql: String =
    "1000000000 - CAST(floor(exp(CAST(b AS DOUBLE)" +
      " * ln(CAST(1000000000 - __sr_e9 AS DOUBLE) / 1000000000.0))" +
      " * 1000000000.0 + 0.5) AS BIGINT)"
}
