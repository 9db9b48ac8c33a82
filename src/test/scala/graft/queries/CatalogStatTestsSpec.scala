package graft.queries

import graft.{GraftSpark, SparkEntry}
import org.scalatest.funsuite.AnyFunSuite

/** Formula-level checks of the statistical-test wave (q261-q264) that
  * the oracle equality cannot see: a hand-computed Mann-Whitney fixture
  * (the oracle only proves both engines agree, not that the agreed
  * number IS the U statistic) and the entropy identities of q264.
  */
class CatalogStatTestsSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("q261: hand-computed U and z on a 3-vs-3 fixture with ties") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-mw")
    try {
      // click: 1.00 2.00 3.00 / view: 2.00 3.00 4.00 (two tied pairs)
      val rows = Seq(
        (1L, "click", 1.00), (2L, "click", 2.00), (3L, "click", 3.00),
        (4L, "view", 2.00), (5L, "view", 3.00), (6L, "view", 4.00))
      rows.map { case (id, et, v) =>
        (id, java.sql.Timestamp.valueOf("2024-01-05 00:00:00"), id, et, v, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.parquet(s"$dir/events.parquet")
      val got = SparkEntry.queries("q261_mann_whitney")(spark, dir.toString)
        .collect().map(r => r.getAs[String]("pair") ->
          ((r.getAs[Long]("n1"), r.getAs[Long]("n2"),
            r.getAs[Double]("u1"), r.getAs[Double]("z")))).toMap
      // by hand: avg ranks 1, 2.5, 4.5 -> R1 = 8, U1 = 8 - 6 = 2;
      // ties T = 2*(2^3-2) = 12; mu = 4.5;
      // var = 9/12 * (7 - 12/30) = 4.95; z = -2.5/sqrt(4.95)
      val expZ = BigDecimal(-2.5 / math.sqrt(4.95))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got("click") == ((3L, 3L, 2.0, expZ)))
      // the other three treatments have no rows -> absent
      assert(got.keySet == Set("click"))
    } finally Catalog.deleteTree(dir)
  }

  test("q262: per-row contributions are non-negative and finite") {
    val rows = SparkEntry.queries("q262_chi_square")(spark, sf).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val c = r.getAs[Double]("chi2_part")
      assert(c >= 0.0 && !c.isNaN && !c.isInfinite, r.toString)
    }
  }

  test("q263: PSI is symmetric-positive and zero for identical splits") {
    val rows = SparkEntry.queries("q263_psi_drift")(spark, sf).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val psi = r.getAs[Double]("psi")
      assert(psi >= 0.0 && psi < 1.0, r.toString) // same generator both halves
    }
  }

  test("q265: hand-computed KS D on the 3-vs-3 fixture") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ks")
    try {
      // same fixture as the q261 test: click 1,2,3 / view 2,3,4.
      // merged-axis ECDF gaps are all 1/3 -> D = 1/3, and the integer
      // numerator max|c1*n2 - c0*n1| = 3 over n1*n2 = 9
      val rows = Seq(
        (1L, "click", 1.00), (2L, "click", 2.00), (3L, "click", 3.00),
        (4L, "view", 2.00), (5L, "view", 3.00), (6L, "view", 4.00))
      rows.map { case (id, et, v) =>
        (id, java.sql.Timestamp.valueOf("2024-01-05 00:00:00"), id, et, v, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.parquet(s"$dir/events.parquet")
      val got = SparkEntry.queries("q265_ks_test")(spark, dir.toString)
        .collect().map(r => r.getAs[String]("pair") ->
          ((r.getAs[Long]("n1"), r.getAs[Long]("n2"),
            r.getAs[Double]("d"), r.getAs[Double]("ks_scaled")))).toMap
      val expD = BigDecimal(1.0 / 3.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val expKs = BigDecimal(1.0 / 3.0 * math.sqrt(1.5))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got("click") == ((3L, 3L, expD, expKs)))
      assert(got.keySet == Set("click"))
    } finally Catalog.deleteTree(dir)
  }

  test("q266: ACF is bounded by Cauchy-Schwarz and covers every probed lag") {
    val rows = SparkEntry.queries("q266_acf")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val a = r.getAs[Double]("acf")
      assert(a >= -1.0 && a <= 1.0 && !a.isNaN, r.toString)
      val lag = r.getAs[Long]("lag")
      assert(lag >= 1L && lag <= 7L, r.toString)
    }
    // the sf0.001 events fixture spans a full month: all 7 lags present
    // for every type
    val byType = rows.groupBy(_.getAs[String]("event_type"))
    byType.foreach { case (et, rs) =>
      assert(rs.map(_.getAs[Long]("lag")).toSet == (1L to 7L).toSet, et)
    }
  }

  test("q270: Theil is nonnegative (to snap tolerance) and zero for equal spends") {
    import spark.implicits._
    val rows = SparkEntry.queries("q270_theil_index")(spark, sf).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val th = r.getAs[Double]("theil")
      // Jensen gives T >= 0 exactly; the 1e-6 per-row snap can undershoot
      // by at most 0.5e-6 * n / (1e6 * n)
      assert(th >= -1e-5 && !th.isNaN, r.toString)
    }
    // equal-spend fixture: every user identical -> each term ln(1) = 0
    val dir = java.nio.file.Files.createTempDirectory("graft-theil")
    try {
      (1L to 4L).map { id =>
        (id, java.sql.Timestamp.valueOf("2024-01-05 00:00:00"), id, "view", 5.0, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.parquet(s"$dir/events.parquet")
      val eq = SparkEntry.queries("q270_theil_index")(spark, dir.toString).collect()
      assert(eq.length == 1 && eq.head.getAs[Double]("theil") == 0.0, eq.toSeq)
    } finally Catalog.deleteTree(dir)
  }

  test("q272: hand-computed MAD on an asymmetric 5-value fixture") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-mad")
    try {
      // values 1,2,3,7,20 -> median 3 (nearest-rank); |v-3| = 2,1,0,4,17
      // -> MAD = 2 (cents: x100)
      val rows = Seq(1.0, 2.0, 3.0, 7.0, 20.0).zipWithIndex.map { case (v, i) =>
        (i.toLong, java.sql.Timestamp.valueOf("2024-01-05 00:00:00"),
          i.toLong, "view", v, "{}")
      }
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.parquet(s"$dir/events.parquet")
      val got = SparkEntry.queries("q272_mad")(spark, dir.toString).collect()
      assert(got.length == 1)
      val r = got.head
      assert((r.getAs[Long]("n"), r.getAs[Long]("median_cents"),
        r.getAs[Long]("mad_cents")) == ((5L, 300L, 200L)), r.toString)
    } finally Catalog.deleteTree(dir)
  }

  test("q274: the vocabulary curve is nondecreasing and genuinely grows") {
    val rows = SparkEntry.queries("q274_heaps_curve")(spark, sf)
      .collect().sortBy(_.getAs[Long]("pct"))
    assert(rows.map(_.getAs[Long]("pct")).toSeq == Seq(10L, 25L, 50L, 100L))
    val vocab = rows.map(_.getAs[Long]("vocab"))
    assert(vocab.zip(vocab.tail).forall { case (a, b) => a <= b }, vocab.toSeq)
    // the anti-degeneracy pin: a saturated lexicon would flatline; the
    // trigram space must at least double from the 10% rung to the full
    // corpus
    assert(vocab.last >= vocab.head * 2, vocab.toSeq)
  }

  test("q291: Benford expectations sum to ~1 and observed shares are a distribution") {
    val rows = SparkEntry.queries("q291_benford_audit")(spark, sf).collect()
    assert(rows.length == 9)
    val exp = rows.map(_.getAs[Long]("exp_e6"))
    // the nine Scala-generated constants must total 1e6 up to rounding
    assert(math.abs(exp.sum - 1000000L) <= 5, exp.toSeq.toString)
    val obs = rows.map(_.getAs[Long]("obs_e6"))
    assert(obs.sum <= 1000000L && obs.sum >= 1000000L - 9, obs.toSeq.toString)
    // anti-degeneracy: the corpus actually has deviation signal
    assert(rows.map(_.getAs[Long]("dev_e6")).max > 0)
  }

  test("q292: burstiness is inside (-1, 1) and the gap moments are sane") {
    val rows = SparkEntry.queries("q292_burstiness")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val b = r.getAs[Double]("burstiness")
      assert(b > -1.0 && b < 1.0, r.toString) // sigma, mu > 0 on real gaps
    }
  }

  test("q295: every converted purchase's linear credit sums to exactly 1e6") {
    val rows = SparkEntry.queries("q295_attribution")(spark, sf).collect()
    assert(rows.nonEmpty)
    val totFirst = rows.map(_.getAs[Long]("n_first")).sum
    val totLast = rows.map(_.getAs[Long]("n_last")).sum
    val totLin = rows.map(_.getAs[Long]("linear_credit_e6")).sum
    // one first, one last, exactly 1e6 credit per converted purchase
    assert(totFirst == totLast, s"$totFirst vs $totLast")
    assert(totLin == totFirst * 1000000L, s"$totLin vs ${totFirst}e6")
  }

  test("q297: the stemmer genuinely collapses injected inflected forms") {
    val rows = SparkEntry.queries("q297_stem_census")(spark, sf).collect()
    // anti-degeneracy pin (first cut had n_forms == 1 everywhere: the
    // synthetic lexicon carries no inflections; the ribbon injects them)
    val maxForms = rows.map(_.getAs[Long]("n_forms")).max
    assert(maxForms >= 3, s"stemmer never collapsed forms: max $maxForms")
    assert(rows.exists(_.getAs[Long]("n_forms") == 1L), "every stem collapsed — suspicious")
  }

  test("q296: the delta-term union reproduces the full join (spot identity)") {
    val rows = SparkEntry.queries("q296_incremental_join")(spark, sf).collect()
    assert(rows.nonEmpty)
    // the oracle equality is the real gate; here pin shape sanity:
    // every segment has rows and positive revenue
    rows.foreach { r =>
      assert(r.getAs[Long]("n_rows") > 0L && r.getAs[Long]("sum_cents") > 0L, r.toString)
    }
  }

  test("q264: entropy identities — perfect predictor and 0 <= IG <= H(Y)") {
    val rows = SparkEntry.queries("q264_info_gain")(spark, sf)
      .collect().map(r => r.getAs[String]("feature") ->
        ((r.getAs[Double]("h_y"), r.getAs[Double]("info_gain")))).toMap
    // len_bucket is a DESIGNED perfect predictor: the y bar (300 chars)
    // sits exactly on a bucket edge (2 * 150), so H(Y|X) = 0 and
    // IG = H(Y) — a pinnable fixture anchor, not an accident
    val (hyL, igL) = rows("len_bucket")
    assert(igL == hyL, s"len_bucket should be a perfect predictor: $rows")
    val (hy, ig) = rows("lang")
    assert(ig >= 0.0 && ig <= hy, s"lang IG out of [0, H(Y)]: $rows")
    // anti-degeneracy pin: the target must actually split the corpus —
    // H(Y) = 0 made every identity above vacuously true (the original
    // 800-char bar sat above the fixture's max n_chars of 553)
    assert(hy > 0.5, s"H(Y) degenerate: $rows")
  }
}
