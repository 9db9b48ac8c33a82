package graft.queries

import graft.{GraftSpark, SparkEntry}
import org.scalatest.funsuite.AnyFunSuite

/** Semantic pins for the mining/evaluation wave (q309+): oracle equality
  * proves both engines agree — these pin the properties that make the
  * agreed numbers the OPERATOR's numbers: rule directionality, truss
  * peel convergence, the Shapley efficiency axiom, the JL distortion
  * regime, Bradley-Terry bookkeeping, FD verdict branches, seasonal
  * non-vacuity, and spectrum sanity.
  */
class CatalogInsightSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("q309: rules are directional and both lift branches fire") {
    val rows = SparkEntry.queries("q309_assoc_rules")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val conf = r.getAs[Long]("conf_e6")
      assert(conf >= 0L && conf <= 1000000L, r.toString)
      assert((r.getAs[Long]("lift_e6") > 1000000L) == r.getAs[Boolean]("is_lifted"))
    }
    // directionality is real: some rule pair has asymmetric confidence
    val conf = rows.map(r => (r.getAs[Long]("antecedent"),
      r.getAs[Long]("consequent")) -> r.getAs[Long]("conf_e6")).toMap
    assert(conf.exists { case ((a, c), v) => conf.get((c, a)).exists(_ != v) })
    assert(rows.exists(_.getAs[Boolean]("is_lifted")))
    assert(rows.exists(!_.getAs[Boolean]("is_lifted")))
  }

  test("q310: truss peel converged — every surviving edge has support >= k-2") {
    // measured peel depth at sf0.001 is 3 filter rounds; rounds=6 gives
    // convergence headroom HERE (at sf0.1 the contract is the documented
    // fixed-round refinement, same as kCorePeel)
    val rows = SparkEntry.queries("q310_ktruss")(spark, sf).collect()
    assert(rows.nonEmpty, "peel emptied the graph — k too high for the fixture")
    rows.foreach { r =>
      assert(r.getAs[Long]("support") >= 3L, r.toString) // TrussK - 2
      assert(r.getAs[Long]("src") < r.getAs[Long]("dst"), r.toString)
    }
    // the peel genuinely removed edges (the quotient graphs were
    // near-complete and hollow here — this is the anti-degeneracy pin)
    val raw = spark.read.parquet(s"$sf/orders.parquet")
      .selectExpr("o_custkey AS u", "(o_custkey div 30) * 30 + o_orderkey % 30 AS v")
      .where("u <> v")
      .selectExpr("least(u, v) AS s", "greatest(u, v) AS d").distinct().count()
    assert(rows.length < raw, s"nothing peeled: ${rows.length} of $raw")
  }

  test("q311: Shapley efficiency — marginals sum to 24x the attributable mass") {
    val rows = SparkEntry.queries("q311_shapley_attribution")(spark, sf).collect()
    assert(rows.map(_.getAs[String]("channel")).sorted.toSeq
      == Seq("click", "error", "signup", "view"))
    val tot = rows.map(_.getAs[Long]("phi_x24")).sum
    assert(tot % 24L == 0L, s"efficiency broken: $tot not a 24-multiple")
    rows.foreach { r =>
      assert(r.getAs[Long]("phi_x24") >= 0L, r.toString) // v monotone => phi >= 0
      assert(r.getAs[Long]("n_touched") > 0L, r.toString)
    }
    // 24 * (attributable conversions) = total phi; attributable = purchases
    // whose 7-day lookback saw at least one non-purchase touch
    val shareSum = rows.map(_.getAs[Long]("phi_share_e6")).sum
    assert(shareSum <= 1000000L && shareSum > 1000000L - rows.length)
  }

  test("q312: projection distortion sits in the JL regime, not at zero") {
    val rows = SparkEntry.queries("q312_jl_projection")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(math.abs(r.getAs[Double]("cos_full")) <= 1.000001, r.toString)
      assert(math.abs(r.getAs[Double]("cos_proj")) <= 1.000001, r.toString)
    }
    val errs = rows.map(_.getAs[Long]("abs_err_e6"))
    val mean = errs.sum.toDouble / errs.length
    // 16-dim Rademacher projection: mean |cos err| ~ 1/sqrt(16) scale;
    // zero would mean the projection is a no-op, > 0.5 would mean noise
    assert(mean > 10000.0, s"suspiciously exact: mean err $mean")
    assert(mean < 500000.0, s"projection useless: mean err $mean")
    assert(errs.distinct.length > 1)
  }

  test("q313: Bradley-Terry bookkeeping and normalization hold") {
    val rows = SparkEntry.queries("q313_bradley_terry")(spark, sf).collect()
    assert(rows.length == 20) // the fixture's 20 sources
    // each decisive game appears in exactly two directed rows
    assert(rows.map(_.getAs[Long]("n_wins")).sum * 2 == rows.map(_.getAs[Long]("n_games")).sum)
    // ratings normalized to mean 1 (snap slack)
    val s = rows.map(_.getAs[Double]("rating")).sum
    assert(math.abs(s - 20.0) < 0.01, s"rating sum $s")
    // ranks dense 1..20, aligned with rating order
    assert(rows.map(_.getAs[Long]("rnk")).sorted.toSeq == (1L to 20L).toSeq)
    val byRank = rows.sortBy(_.getAs[Long]("rnk")).map(_.getAs[Double]("rating"))
    byRank.sliding(2).foreach { case Array(a, b) => assert(a >= b) }
    // a leaderboard with all-equal ratings is hollow
    assert(byRank.head > byRank.last)
  }

  test("q314: both FD verdict branches fire and the arithmetic is consistent") {
    val rows = SparkEntry.queries("q314_fd_audit")(spark, sf).collect()
    assert(rows.length == 8)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_violating_groups") <= r.getAs[Long]("n_groups"))
      assert((r.getAs[Long]("n_violating_groups") == 0L) == r.getAs[Boolean]("holds"))
      if (r.getAs[Long]("n_violating_groups") > 0)
        assert(r.getAs[Long]("n_violating_rows") > r.getAs[Long]("n_violating_groups"))
    }
    assert(rows.exists(_.getAs[Boolean]("holds")))
    assert(rows.exists(!_.getAs[Boolean]("holds")))
  }

  test("q315: a full dow spine per type and real seasonal signal") {
    val rows = SparkEntry.queries("q315_seasonal_decompose")(spark, sf).collect()
    val byType = rows.groupBy(_.getAs[String]("event_type"))
    byType.foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Long]("dow")).sorted.toSeq == (0L to 6L).toSeq)
      rs.foreach(r => assert(r.getAs[Long]("n_days") >= 2, r.toString))
    }
    // detrended seasonal index must move — a constant-zero column would
    // mean the detrend swallowed the signal (hollow-output discipline)
    assert(rows.map(_.getAs[Long]("seasonal_e6")).exists(v => math.abs(v) > 1000L))
  }

  test("q317: isotonic fit is monotone and the pooling branch fired") {
    val rows = SparkEntry.queries("q317_isotonic_calibration")(spark, sf).collect()
      .sortBy(_.getAs[Long]("bin"))
    assert(rows.length == 20)
    val iso = rows.map(_.getAs[Double]("rate_iso"))
    iso.sliding(2).foreach { case Array(a, b) => assert(b >= a, iso.toSeq.toString) }
    iso.foreach(v => assert(v >= 0.0 && v <= 1.0))
    // the synthetic classifier's md5 noise guarantees raw-rate violations,
    // so PAVA must actually pool somewhere — identity fit = hollow
    val raw = rows.map(_.getAs[Double]("rate_raw"))
    assert(iso.zip(raw).exists { case (i, r) => math.abs(i - r) > 1e-9 })
    // and the fit still tracks the signal (not pooled to one flat level)
    assert(iso.distinct.length > 5)
  }

  test("q318: capture-recapture estimators bracket sanely") {
    val r = SparkEntry.queries("q318_capture_recapture")(spark, sf).head()
    assert(r.getAs[Long]("m") > 0L)
    assert(r.getAs[Long]("n1") < r.getAs[Long]("n_true"))
    // Chapman's +1 smoothing can only shrink the LP ratio estimate
    assert(r.getAs[Long]("est_chapman") <= r.getAs[Long]("est_lp"))
    // both estimates land within 50% of the known truth (the whole point
    // of estimating a KNOWN population is that bias is auditable)
    val t = r.getAs[Long]("n_true")
    Seq("est_lp", "est_chapman").foreach { c =>
      assert(math.abs(r.getAs[Long](c) - t) < t / 2, r.toString)
    }
  }

  test("q319: keyness picks distinct over-represented keywords per source") {
    val rows = SparkEntry.queries("q319_dunning_keyness")(spark, sf).collect()
    val bySrc = rows.groupBy(_.getAs[String]("source"))
    assert(bySrc.size == 20)
    bySrc.foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Long]("rnk")).sorted.toSeq == (1L to rs.length).toSeq)
      rs.foreach(r => assert(r.getAs[Long]("g2_e6") > 0L, r.toString))
    }
    // sources must not all share one keyword — keyness is per-source signal
    val top1 = bySrc.values.map(_.minBy(_.getAs[Long]("rnk")).getAs[String]("token")).toSeq
    assert(top1.distinct.length > 3, top1.toString)
  }

  test("q320: cascade waves are disjoint slices of the adopter base") {
    val rows = SparkEntry.queries("q320_adoption_cascade")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_seed") >= 1L, r.toString)
      assert(r.getAs[Long]("n_seed") + r.getAs[Long]("n_wave1")
        + r.getAs[Long]("n_wave2") <= r.getAs[Long]("n_adopters"), r.toString)
    }
    assert(rows.exists(_.getAs[Long]("n_wave1") > 0L))
    assert(rows.exists(_.getAs[Long]("n_wave2") > 0L))
  }

  test("q321: stationary distribution is a probability vector near the mix") {
    val rows = SparkEntry.queries("q321_markov_stationary")(spark, sf).collect()
    assert(rows.length == 5)
    val s = rows.map(_.getAs[Double]("stationary")).sum
    assert(math.abs(s - 1.0) < 1e-4, s"stationary sums to $s")
    rows.foreach { r =>
      assert(r.getAs[Double]("stationary") > 0.0)
      // the chain is estimated FROM the sequence, so its fixed point
      // must sit near the empirical mix (gross divergence = a bug in
      // the transition build), without being pinned equal
      assert(math.abs(r.getAs[Double]("stationary")
        - r.getAs[Long]("empirical_e6") / 1e6) < 0.05, r.toString)
    }
  }

  test("q322: absorption expectations are finite, >1, and consistent with p_direct") {
    val rows = SparkEntry.queries("q322_expected_absorption")(spark, sf).collect()
    assert(rows.length == 4) // the non-purchase types
    rows.foreach { r =>
      val p = r.getAs[Long]("p_direct_e6")
      assert(p > 0L && p < 1000000L, r.toString)
      val x = r.getAs[Double]("expected_steps")
      // at least one step; bounded well under the 16-round truncation
      // horizon (a value pressed against it would mean non-convergence)
      assert(x > 1.0 && x < 15.0, r.toString)
    }
  }

  test("q323: Hill alphas are positive, finite, and tail-derived") {
    val rows = SparkEntry.queries("q323_hill_tail_index")(spark, sf).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      assert(r.getAs[Long]("xk_cents") > 0L)
      val a = r.getAs[Double]("hill_alpha")
      assert(a > 0.1 && a < 100.0, r.toString)
    }
  }

  test("q324: both watermark effects fire — late drops AND held-back tail windows") {
    import org.apache.spark.sql.functions._
    val emitted = SparkEntry.queries("q324_stream_late_data")(spark, sf).collect()
    assert(emitted.nonEmpty)
    // Tables.load, not a raw read: the driver's ts encoding varies
    // (TsEncodingSpec gotcha) and unix_millis rejects TIMESTAMP_NTZ
    val ev = graft.Tables.load(spark, sf, "events")
    val wfMs = ev.agg(max(unix_millis(col("ts")))).head().getLong(0) - 1800000L
    val batch = ev
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("bn"),
        count(when(col("event_id") % 101 === 0, 1)).as("ribbon"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    // the final watermark holds back the tail: some batch windows never emit
    assert(emitted.length < batch.size, s"${emitted.length} vs ${batch.size}")
    val emap = emitted.map(r =>
      (r.getTimestamp(0), r.getString(1)) -> r.getAs[Long]("n")).toMap
    // account over all EMISSION-ELIGIBLE batch groups (window closed by
    // the final watermark): a group may shrink — or vanish entirely when
    // every row in it was a dropped ribbon row (the sparse-sf shape)
    var dropped = 0L; var keptOfRibbon = 0L
    batch.foreach { case (key, (bn, ribbon)) =>
      if (key._1.getTime + 3600000L <= wfMs) {
        val n = emap.getOrElse(key, 0L)
        assert(n <= bn, s"emitted more than exists: $key $n vs $bn")
        assert(n >= bn - ribbon, s"dropped a non-ribbon row: $key $n of $bn")
        dropped += bn - n
        keptOfRibbon += ribbon - (bn - n)
      }
    }
    // the late-drop branch fired (old ribbon rows fell to the watermark)...
    assert(dropped > 0L, "no late row was dropped — the ribbon is not late enough")
    // ...but not vacuously: recent ribbon rows landed in still-open windows
    assert(keptOfRibbon > 0L, "every ribbon row dropped — the accept branch is dead")
  }

  test("q325: all three trend verdicts fire; ramps read their exact slope") {
    val rows = SparkEntry.queries("q325_mann_kendall")(spark, sf).collect()
    val byType = rows.map(r => r.getAs[String]("event_type") -> r).toMap
    // injected monotone ramps: perfect S = +-C(30,2), Sen slope exactly +-3
    assert(byType("trend_up").getAs[String]("trend") == "increasing")
    assert(byType("trend_up").getAs[Double]("sen_slope") == 3.0)
    assert(byType("trend_down").getAs[String]("trend") == "decreasing")
    assert(byType("trend_down").getAs[Double]("sen_slope") == -3.0)
    val n = byType("trend_up").getAs[Long]("n_days")
    assert(byType("trend_up").getAs[Long]("s_stat") == n * (n - 1) / 2)
    // organic traffic is stationary by construction — but at sf0.001 the
    // daily counts are ~7/day and one series can cross |z| > 1.96 by
    // chance, so the pin is "mostly none", not "all none"
    val organic = rows.filter(r => !r.getAs[String]("event_type").startsWith("trend_"))
    assert(organic.count(_.getAs[String]("trend") == "none") >= organic.length - 1)
    rows.foreach(r => assert(r.getAs[Long]("var18") > 0L))
  }

  test("q326: Zipf fit slopes DOWN with a sane intercept") {
    val r = SparkEntry.queries("q326_zipf_slope")(spark, sf).head()
    assert(r.getAs[Long]("n_ranks") == 200L)
    val slope = r.getAs[Double]("zipf_slope")
    // rank-frequency fits slope downward; the mixed-scale draft of this
    // formula returned +mean(y)/mean(x) and intercept exactly 0 — both
    // engines AGREED on the wrong number, which is why this pin exists
    assert(slope < 0.0, s"slope $slope is not decreasing")
    val icept = r.getAs[Double]("intercept")
    assert(icept > 0.0 && icept < 20.0, s"intercept $icept")
    assert(icept != 0.0)
  }

  test("q327: ABC classes partition items and respect the cumulative cuts") {
    val rows = SparkEntry.queries("q327_abc_classes")(spark, sf).collect()
    assert(rows.map(_.getAs[String]("abc_class")).sorted.toSeq == Seq("A", "B", "C"))
    val share = rows.map(r => r.getAs[String]("abc_class") -> r.getAs[Long]("revenue_share_e6")).toMap
    // A holds at most 80% + one item's worth; C holds the 5% tail + slack
    assert(share("A") <= 800000L + 100000L, share.toString)
    assert(share("A") > share("B") && share("B") > share("C"), share.toString)
    assert(share.values.sum <= 1000000L && share.values.sum > 1000000L - 3)
    val items = rows.map(r => r.getAs[String]("abc_class") -> r.getAs[Long]("n_items")).toMap
    assert(items.values.forall(_ > 0L), items.toString)
  }

  test("q328: Davies-Bouldin bookkeeping — DB is the mean worst ratio") {
    val rows = SparkEntry.queries("q328_davies_bouldin")(spark, sf).collect()
    assert(rows.length == 10) // the label fixture
    val db = rows.head.getAs[Long]("db_index_e6")
    assert(rows.forall(_.getAs[Long]("db_index_e6") == db)) // global, repeated
    assert(db == rows.map(_.getAs[Long]("r_max_e6")).sum / rows.length)
    rows.foreach { r =>
      assert(r.getAs[Long]("s_e6") > 0L)
      assert(r.getAs[Long]("worst_peer") != r.getAs[Long]("label"))
      // weakly-separated label clusters: every ratio > 1 (scatter beats
      // separation) — the fixture truth a well-clustered corpus would flip
      assert(r.getAs[Long]("r_max_e6") > 1000000L, r.toString)
    }
  }

  test("q329: Holt state is self-consistent and level tracks the daily mean") {
    val rows = SparkEntry.queries("q329_holt_linear")(spark, sf).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val l = r.getAs[Double]("level"); val b = r.getAs[Double]("trend")
      val f = r.getAs[Double]("forecast_7d")
      // identity up to three independent e6 floor-snaps (each +-1e-6/2,
      // and 7*b amplifies trend's snap by 7 -> slack 5e-6)
      assert(math.abs(f - (l + 7.0 * b)) < 5e-6, r.toString)
      assert(l > 0.0, r.toString)
    }
    // levels sit near the per-type daily mean (~events/type/days)
    val ev = graft.Tables.load(spark, sf, "events").count().toDouble
    val mean = ev / 5.0 / 30.0
    rows.foreach(r => assert(math.abs(r.getAs[Double]("level") - mean) < mean,
      s"level far from daily-mean scale: $r vs $mean"))
  }

  test("q330: Huffman lengths satisfy Kraft with equality and beat entropy + 1") {
    val rows = SparkEntry.queries("q330_huffman_lengths")(spark, sf).collect()
    assert(rows.length == 31) // the fixed lexicon
    // a Huffman code is complete: Kraft sum is exactly 1
    val kraft = rows.map(r => math.pow(0.5, r.getAs[Long]("code_len").toDouble)).sum
    assert(math.abs(kraft - 1.0) < 1e-12, s"Kraft sum $kraft")
    val n = rows.map(_.getAs[Long]("freq")).sum.toDouble
    val entropy = rows.map { r =>
      val p = r.getAs[Long]("freq") / n
      -p * math.log(p) / math.log(2.0)
    }.sum
    val avgLen = rows.map(r => r.getAs[Long]("freq") * r.getAs[Long]("code_len")).sum / n
    assert(avgLen >= entropy - 1e-9, s"beat the entropy bound?! $avgLen < $entropy")
    assert(avgLen < entropy + 1.0, s"not optimal: $avgLen vs $entropy")
  }

  test("q331: CPM recurrence replays exactly and the critical flag splits") {
    val rows = SparkEntry.queries("q331_critical_path")(spark, sf).collect()
      .sortBy(_.getAs[Long]("family"))
    assert(rows.length == 50)
    val fin = rows.map(_.getAs[Long]("earliest_finish"))
    val dur = rows.map(_.getAs[Long]("duration"))
    (0 until 50).foreach { f =>
      val best = Seq(f - 2, f - 3).filter(_ >= 0).map(fin).foldLeft(0L)(math.max)
      assert(fin(f) == dur(f) + best, s"family $f: ${fin(f)} != ${dur(f)} + $best")
    }
    val flags = rows.map(_.getAs[Boolean]("on_critical_path"))
    assert(flags.exists(identity) && flags.exists(!_), "flag did not split")
    // the path ends at the global max finish
    val endIdx = fin.zipWithIndex.maxBy { case (v, i) => (v, -i) }._2
    assert(flags(endIdx))
  }

  test("q332: best-of-n wins partition the groups and lift the mean") {
    val rows = SparkEntry.queries("q332_best_of_n")(spark, sf).collect()
    assert(rows.length == 20)
    val nDocs = rows.map(_.getAs[Long]("n_candidates")).sum
    assert(rows.map(_.getAs[Long]("n_wins")).sum == nDocs / 5) // one winner per group
    // mean of group maxima >= global mean (equal group sizes) — the
    // selection-lift property best-of-n exists for
    val allSum = rows.map(r => r.getAs[Long]("mean_all_e4") * r.getAs[Long]("n_candidates")).sum
    val wonSum = rows.filter(_.getAs[Long]("n_wins") > 0)
      .map(r => r.getAs[Long]("mean_won_e4") * r.getAs[Long]("n_wins")).sum
    val wins = rows.map(_.getAs[Long]("n_wins")).sum
    assert(wonSum.toDouble / wins > allSum.toDouble / nDocs,
      s"no selection lift: ${wonSum / wins} vs ${allSum / nDocs}")
  }

  test("q333: sorted batching provably wastes less than arrival order") {
    val rows = SparkEntry.queries("q333_padding_waste")(spark, sf).collect()
      .map(r => r.getAs[String]("policy") -> r).toMap
    assert(rows("arrival").getAs[Long]("total_tokens")
      == rows("sorted").getAs[Long]("total_tokens"))
    assert(rows("arrival").getAs[Long]("n_batches")
      == rows("sorted").getAs[Long]("n_batches"))
    // sorted-consecutive batching minimizes the sum of batch maxima over
    // ALL equal-size partitions; on real lengths the gap is strict
    assert(rows("sorted").getAs[Long]("total_padding")
      < rows("arrival").getAs[Long]("total_padding"),
      rows.values.map(_.toString).mkString(" | "))
  }

  test("q334: the duplicate-blind split provably leaks and the pair count is exact") {
    val rows = SparkEntry.queries("q334_split_leakage")(spark, sf).collect()
    val twins = spark.read.parquet(s"$sf/embeddings.parquet")
      .where("vec_id % 10 = 0").count()
    // every injected twin pairs with its base exactly once; organic
    // cosines sit far under the 0.95 bar
    assert(rows.map(_.getAs[Long]("n_pairs")).sum == twins)
    rows.foreach { r =>
      assert((r.getAs[String]("split_a") != r.getAs[String]("split_b"))
        == r.getAs[Boolean]("is_leak"))
    }
    assert(rows.exists(_.getAs[Boolean]("is_leak")), "no leak found — audit is dead")
    assert(rows.exists(!_.getAs[Boolean]("is_leak")))
  }

  test("q337: update-mode emissions are per-batch cumulative snapshots") {
    val rows = SparkEntry.queries("q337_stream_update_mode")(spark, sf).collect()
    val byType = rows.groupBy(_.getAs[String]("event_type"))
    val batch = graft.Tables.load(spark, sf, "events")
      .groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    byType.foreach { case (ty, rs) =>
      val cums = rs.sortBy(_.getAs[Long]("emission_rank")).map(_.getAs[Long]("cum_count"))
      // strictly increasing (update mode only emits on change)...
      cums.sliding(2).foreach { case Array(a, b) => assert(b > a, cums.toSeq.toString) }
      // ...and the last emission IS the batch total
      assert(cums.last == batch(ty), s"$ty: ${cums.last} vs ${batch(ty)}")
      assert(rs.length <= 3) // at most one emission per micro-batch
    }
    // the multi-emission shape actually fired (one row per type would
    // mean the stream collapsed to a single batch)
    assert(byType.values.exists(_.length > 1))
  }

  test("q338: latency percentiles are ordered and converters bounded by viewers") {
    val r = SparkEntry.queries("q338_convert_latency")(spark, sf).head()
    assert(r.getAs[Long]("n_converted") <= r.getAs[Long]("n_viewers"))
    assert(r.getAs[Long]("n_converted") > 0L)
    val (p50, p90, mx) = (r.getAs[Long]("p50_s"), r.getAs[Long]("p90_s"), r.getAs[Long]("max_s"))
    assert(p50 > 0L && p50 <= p90 && p90 <= mx, r.toString)
    // fixture truth, stated not hidden: every user is active to corpus
    // end with every type, so every viewer eventually converts
    assert(r.getAs[Long]("n_converted") == r.getAs[Long]("n_viewers"))
  }

  test("q384: DBSCAN roles are consistent — cluster iff not noise, all roles fire") {
    val rows = SparkEntry.queries("q384_grid_dbscan")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val role = r.getAs[String]("role")
      val clusterNull = r.isNullAt(r.fieldIndex("cluster"))
      assert((role == "noise") == clusterNull, r.toString)
      assert(r.getAs[Long]("n_pts") > 0L, r.toString)
    }
    // non-vacuity at the smallest sf: every role fires (the uniform
    // fixture read all-core here before the density skew — r13 NOTES)
    val roles = rows.map(_.getAs[String]("role")).toSet
    assert(roles == Set("core", "border", "noise"), roles.toString)
  }

  test("q385: Fano and burstiness are sign-consistent (overdispersed <=> bursty)") {
    val rows = SparkEntry.queries("q385_fano_burstiness")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val fano = r.getAs[Long]("fano_e6")
      val b = r.getAs[Long]("burstiness_e6")
      assert(fano >= 0L, r.toString)
      assert(b >= -1000000L && b <= 1000000L, r.toString)
      // var > mean  <=>  sigma > mu  <=>  B > 0 (up to the e6 snap)
      if (fano > 1001000L) assert(b > -1000L, r.toString)
      if (fano < 999000L) assert(b < 1000L, r.toString)
    }
  }

  test("q387: blocking finds exactly the brute-force ED<=1 matches") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q387_edit_distance_join")(spark, sf).collect()
    assert(rows.nonEmpty)
    // dictionary terms self-match at ED 0; typo terms sit at ED 1
    assert(rows.exists(_.getAs[Long]("best_ed") == 0L))
    assert(rows.exists(_.getAs[Long]("best_ed") == 1L))
    // completeness: per-term match COUNT equals the brute-force count
    // over the bounded lexicon (the FastSS key-cover claim)
    val docs = graft.Tables.load(spark, sf, "documents")
    val dict = docs.select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("w"))
      .groupBy("w").count().collect().map(_.getString(0))
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1)(i => i)
      for (j <- 1 to b.length) {
        var prev = dp(0); dp(0) = j
        for (i <- 1 to a.length) {
          val cur = dp(i)
          dp(i) = math.min(math.min(dp(i) + 1, dp(i - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = cur
        }
      }
      dp(a.length)
    }
    rows.foreach { r =>
      val term = r.getAs[String]("term")
      val brute = dict.count(w => lev(term, w) <= 1)
      assert(r.getAs[Long]("n_matches") == brute.toLong, s"$term: $r vs $brute")
    }
  }

  test("q389: ADC rank 1 is the query itself with exact distance zero") {
    val rows = SparkEntry.queries("q389_pq_adc_search")(spark, sf).collect()
    val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.size == 4)
    byQuery.foreach { case (qid, rs) =>
      assert(rs.length == 5, s"$qid: ${rs.length}")
      val r1 = rs.minBy(_.getAs[Long]("rank"))
      // the query vector is in the corpus: its own cell ties at the top
      // and the (adc, vec_id) order puts the self-match first
      assert(r1.getAs[Long]("vec_id") == qid, r1.toString)
      assert(r1.getAs[Long]("exact_d2") == 0L, r1.toString)
      assert(r1.getAs[Boolean]("in_exact_top5"), r1.toString)
    }
  }

  test("q390: fused ranks are 1..10 and every hit carries both system ranks") {
    val rows = SparkEntry.queries("q390_rrf_fusion")(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("fused_rank")).sorted.toSeq == (1L to 10L))
    rows.foreach { r =>
      assert(r.getAs[Long]("rank_overlap") >= 1L)
      assert(r.getAs[Long]("rank_diversity") >= 1L)
      val expect = 1000000000000L / (60L + r.getAs[Long]("rank_overlap")) +
        1000000000000L / (60L + r.getAs[Long]("rank_diversity"))
      assert(r.getAs[Long]("rrf_e12") == expect, r.toString)
    }
  }

  test("q316: spectrum sanity — hapaxes exist and Chao1 dominates observed richness") {
    val rows = SparkEntry.queries("q316_good_turing")(spark, sf).collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      assert(r.getAs[Long]("f1") > 0L, r.toString)
      assert(r.getAs[Long]("f2") > 0L, r.toString)
      assert(r.getAs[Long]("v_distinct") <= r.getAs[Long]("n_bigrams"))
      val p0 = r.getAs[Long]("p0_e6")
      assert(p0 > 0L && p0 < 1000000L, r.toString)
      assert(r.getAs[Long]("chao1_e6") >= r.getAs[Long]("v_distinct") * 1000000L)
    }
  }
}
