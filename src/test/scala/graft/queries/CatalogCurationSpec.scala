package graft.queries

import graft.{GraftSpark, SparkEntry}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Property assertions for the round-10 curation slice — invariants the
  * DuckDB oracle equality cannot express (it proves Spark == DuckDB, not
  * that both satisfy the operator's CONTRACT). Each test runs the real
  * catalog query at sf0.001 and checks the mathematical property the
  * operator exists to provide.
  */
class CatalogCurationSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  private val sf = "/root/testdata/sf0.001"
  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  test("q224: every held-out doc scores a strictly positive NLL") {
    // add-one smoothing bounds every bigram probability strictly below 1
    // (numerator c2+1 <= c1+V always, equality only if V==... impossible
    // with V >= 1 distinct histories), so nll > 0 per bigram
    val bad = run("q224_perplexity_filter")
      .filter(col("nll_e6") <= 0 || col("avg_nll_e6") < 0).count()
    assert(bad == 0)
  }

  test("q225: normalized scores are monotone in source rank and drawn from global scores") {
    val out = run("q225_quantile_normalize").cache()
    try {
      // within a source, a higher raw score can never map to a LOWER
      // normalized score (rank monotonicity survives the bucket map)
      val viol = out.as("a").join(out.as("b"),
          expr("a.lang = b.lang AND a.score < b.score " +
            "AND a.norm_score > b.norm_score")).count()
      assert(viol == 0)
      // the normalization range is the global score range
      val (mn, mx) = {
        val r = out.agg(min("norm_score"), max("norm_score")).head()
        (r.getLong(0), r.getLong(1))
      }
      val g = out.agg(min("score"), max("score")).head()
      assert(mn >= g.getLong(0) && mx <= g.getLong(1))
    } finally out.unpersist()
  }

  test("q232: MMR selects 5 distinct candidates per query, every round populated") {
    // NOTE: a later round's score CAN exceed round 1's — msim is a max
    // over signed cosines, and a candidate anti-similar (negative
    // cosine) to everything selected gets a diversity BONUS. The
    // greedy-argmax property that does hold: selections are distinct
    // and each of the 5 rounds yields exactly one pick per query.
    val out = run("q232_mmr_select").cache()
    try {
      val dup = out.groupBy("query_id", "sel_id").count()
        .filter(col("count") > 1).count()
      assert(dup == 0, "a candidate was selected twice")
      val perQ = out.groupBy("query_id")
        .agg(count(lit(1)).as("n"), countDistinct(col("sel_round")).as("r"))
        .filter(col("n") =!= 5 || col("r") =!= 5).count()
      assert(perQ == 0, "a query is missing a selection round")
    } finally out.unpersist()
  }

  test("q233: ladder rungs are nested (monotone docs and tokens)") {
    val rows = run("q233_data_ladder").orderBy("frac_pm").collect()
    assert(rows.length == 4)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getLong(1) <= b.getLong(1) && a.getLong(2) <= b.getLong(2))
    }
  }

  test("q236: allocation respects supply caps and never exceeds the budget") {
    val out = run("q236_budget_allocation").cache()
    try {
      assert(out.filter(col("alloc_r2") > col("supply")).count() == 0)
      assert(out.filter(col("alloc_r1") > col("alloc_r2")).count() == 0)
      val r = out.agg(sum("supply"), sum("alloc_r2")).head()
      val budget = r.getLong(0) / 2
      assert(r.getLong(1) <= budget,
        s"allocated ${r.getLong(1)} > budget $budget")
    } finally out.unpersist()
  }

  test("q238: silhouette stays within [-1, 1] on the 1e-6 grid") {
    val bad = run("q238_silhouette")
      .filter(col("mean_sil_e6") < -1000000L || col("mean_sil_e6") > 1000000L)
      .count()
    assert(bad == 0)
  }

  test("q230/q235: the injected cross-language duplicates actually fire") {
    // without the rotation injection the matrix is all-diagonal and
    // every soft-dedup weight is exactly 1 at sf <= 0.01 — both hollow
    val offDiag = run("q230_dup_matrix")
      .filter(col("la") =!= col("lb")).count()
    assert(offDiag > 0, "no cross-language duplicate cells")
    val weighted = run("q235_soft_dedup_weights")
      .filter(col("eff_docs_e6") < col("n_docs") * 1000000L).count()
    assert(weighted > 0, "no language carries a sub-unit dedup weight")
  }

  test("q242: the censored branch fires (deaths strictly fewer than users)") {
    val deaths = run("q242_kaplan_meier").agg(sum("n_deaths")).head().getLong(0)
    val users = graft.Tables.events(spark, sf)
      .select("user_id").distinct().count()
    assert(deaths > 0 && deaths < users,
      s"deaths=$deaths of $users users — censoring never fired")
  }

  test("q242: log-survival is non-increasing and at-risk counts shrink") {
    val rows = run("q242_kaplan_meier").orderBy("dur").collect()
    assert(rows.nonEmpty)
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getLong(3) <= a.getLong(3), "log survival must not rise")
        assert(b.getLong(1) <= a.getLong(1), "risk set must not grow")
      case _ =>
    }
  }

  test("q245: both arms populated, matches bounded by treated, ATT defined") {
    // this test is what exposed the original ">= 1 signup" treatment as
    // vacuous (every synthetic user signs up => zero controls, null ATT)
    val r = run("q245_propensity_match").head()
    assert(r.getLong(0) > 0, "no treated users")
    assert(r.getLong(1) <= r.getLong(0), "n_matched > n_treated")
    assert(r.getLong(1) > 0, "vacuous match set")
    assert(!r.isNullAt(4), "ATT must be defined")
  }

  test("q246: all four cells and the DiD summary are populated") {
    val rows = run("q246_diff_in_diff").collect()
    assert(rows.length == 5, s"expected 4 cells + did, got ${rows.length}")
    val did = rows.find(_.getString(0) == "did").get
    assert(!did.isNullAt(4), "DiD must be defined (all four cells present)")
  }

  test("q247: LTV curves are non-decreasing within each cohort") {
    val viol = run("q247_ltv_curve").as("a")
      .join(run("q247_ltv_curve").as("b"),
        expr("a.cohort_week = b.cohort_week AND a.age_week < b.age_week " +
          "AND a.ltv_e2 > b.ltv_e2")).count()
    assert(viol == 0)
  }

  test("q248: feature bounds hold (share in [0,1], sessions <= events)") {
    val out = run("q248_user_features").cache()
    try {
      assert(out.filter(col("purchase_share_e6") < 0
        || col("purchase_share_e6") > 1000000L).count() == 0)
      assert(out.filter(col("n_sessions") > col("n_events")).count() == 0)
      assert(out.filter(col("hour_entropy_e6") < 0).count() == 0)
      // entropy over 24 buckets is bounded by ln(24)
      val lim = math.ceil(math.log(24.0) * 1e6).toLong
      assert(out.filter(col("hour_entropy_e6") > lim).count() == 0)
    } finally out.unpersist()
  }

  test("q228/q249: the injected structure makes the metrics non-degenerate") {
    // fertility: the punctuation tail must push every language off 1.0
    val flat = run("q228_tokenizer_fertility")
      .filter(col("fertility_e6") === 1000000L).count()
    assert(flat == 0, "a language still reads fertility exactly 1.0")
    // fusion: if the int8 ranker agreed with cosine everywhere, rrf
    // would take only the 5 values 2*1e6/(60+r); disagreement widens it
    val distinct = run("q249_rrf_fusion")
      .select("rrf_e6").distinct().count()
    assert(distinct > 5, "the two rankers never disagreed in the top-5")
  }

  test("q250: the media manifest composes (kept <= media, shards cover kept bytes)") {
    val r = run("q250_media_build").head()
    val (nMedia, nKept, nShards) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(nKept <= nMedia && nKept > 0)
    assert(nKept < nMedia, "injected exact twins must dedup away")
    // shard count must cover the byte volume: bytes per item in [44, 75]
    assert(nShards >= (nKept * 44) / 512,
      "too few shards for the minimum byte volume")
  }

  test("q275: weights sum to ~1, follow the losses, and are NOT uniform") {
    val rows = SparkEntry.queries("q275_mixture_reweight")(spark, sf).collect()
    assert(rows.length == 5)
    val ws = rows.map(r => r.getAs[String]("lang") -> r.getAs[Double]("w_new")).toMap
    assert(math.abs(ws.values.sum - 1.0) < 1e-4, ws.toString)
    // anti-degeneracy pin: a loss bar outside the n_chars range made
    // every weight exactly 0.2 (all-short corpus); the bar now splits
    assert(ws.values.toSet.size > 1, s"uniform weights — degenerate bar: $ws")
    // monotone in loss: higher short-doc rate -> higher weight
    val loss = rows.map(r => r.getAs[String]("lang") ->
      (r.getAs[Long]("n_short").toDouble / r.getAs[Long]("n"))).toMap
    val byLoss = ws.keys.toSeq.sortBy(loss)
    assert(byLoss.map(ws).zip(byLoss.tail.map(ws)).forall { case (a, b) => a <= b },
      s"weights not monotone in loss: $loss $ws")
    val budgets = rows.map(_.getAs[Long]("budget_tokens"))
    assert(budgets.sum <= 1000000L && budgets.sum >= 999990L, budgets.toSeq)
  }

  test("q288: both k-anonymity branches fire on the fixture") {
    val rows = SparkEntry.queries("q288_k_anonymity")(spark, sf).collect()
    val anon = rows.count(_.getAs[Boolean]("k_anonymous"))
    assert(anon > 0, "no group clears k — bar degenerate high")
    assert(anon < rows.length, "every group anonymous — bar degenerate low")
    rows.foreach { r =>
      val (n, sup) = (r.getAs[Long]("n_docs"), r.getAs[Long]("suppressed_docs"))
      assert(if (r.getAs[Boolean]("k_anonymous")) sup == 0L else sup == n, r.toString)
    }
  }

  test("q289: temperature mixing genuinely flattens the source distribution") {
    val rows = SparkEntry.queries("q289_temperature_mix")(spark, sf).collect()
    assert(rows.length > 1)
    val p = rows.map(_.getAs[Long]("p_e6"))
    val a = rows.map(_.getAs[Long]("alloc_tokens"))
    // non-degenerate: raw shares differ, so the sqrt must be doing work
    assert(p.toSet.size > 1, "uniform raw shares — flattening untestable")
    // alpha = 1/2 compresses RELATIVE spread: max/min of allocations is
    // strictly inside max/min of raw shares
    val pr = p.max.toDouble / p.min
    val ar = a.max.toDouble / a.min
    assert(ar < pr, s"allocation not flatter than raw: $ar vs $pr")
    // floor-division allocations never overshoot the budget
    assert(a.sum <= 100000L && a.sum >= 100000L - rows.length, a.toSeq.toString)
  }

  test("q276: the repetition flag fires on the corpus tail but not everywhere") {
    val rows = SparkEntry.queries("q276_repetition_score")(spark, sf).collect()
    assert(rows.nonEmpty)
    val flagged = rows.count(_.getAs[Boolean]("flagged"))
    assert(flagged > 0, "flag path hollow — no doc crosses the bar")
    assert(flagged < rows.length, "every doc flagged — bar degenerate")
    rows.foreach { r =>
      val (n, d) = (r.getAs[Long]("n_grams"), r.getAs[Long]("n_distinct"))
      assert(d >= 1L && d <= n, r.toString)
      val rep = r.getAs[Long]("rep_e6")
      assert(rep == (n - d) * 1000000L / n, r.toString)
    }
  }
}
