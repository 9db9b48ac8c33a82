package graft

import java.nio.file.{Files, Paths}

import graft.queries.Catalog
import org.apache.spark.GraftBus
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Wall-time growth audit for the heavy operator family (round-8 verdict
  * item #3): replicate the input tables 4x and 16x into temp sf-dirs,
  * time each query at every scale, fit the log-log growth exponent, and
  * assert NEAR-LINEAR. This is the check that would have caught q124's
  * proportional champion cap (superlinear posting-join fanout) a round
  * early, and it guards every future cap/threshold choice.
  *
  * The scaled sf-dirs come from [[ScaleData.replicate]], whose scaladoc
  * holds the replication rules: replicas are id-disjoint and DISSIMILAR
  * (16 identical copies of each doc would make every dedup/similarity op
  * legitimately quadratic in the factor, false-failing the audit), so key
  * cardinality grows with the data, as at real scale.
  *
  * Interpretation limits, by design: at these sizes (base sf0.001)
  * wall-time has a large constant stage-overhead term, so the fitted
  * exponent UNDERSTATES the asymptotic one — a clean pass is typically
  * well under 1.0. The assert at 1.6 is therefore a quadratic-blowup
  * tripwire, not a precision measurement: an O(n^2) term big enough to
  * matter pushes the 16x point ~256x and the fit far past the bound
  * (verified by the synthetic-quadratic self-test below). Measured
  * exponents per round are recorded in NOTES.md.
  */
class ScaleGrowthSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark

  private val baseSf = "/root/testdata/sf0.001"
  private val factors = Seq(1, 4, 16)
  private val queries = Seq("q101_mask_contaminated", "q124_sparse_topk",
    "q26_minhash_dedup", "q151_rank_family", "q170_setsim_join",
    "q173_paragraph_dedup", "q175_triangle_census",
    // session-4 heavies: iterative Bellman-Ford, the one-scan text
    // funnel, and the co-occurrence pair family (quadratic hazard class)
    "q193_cheapest_path", "q204_curation_funnel", "q207_item_cosine",
    // round-9 capstones (r9 verdict #6): many-op compositions — the
    // 7-wide contribution explode, the full training-data build, and
    // the double-window session matrix — exactly where a proportional
    // cap or partition-sensitive tie would hide
    "q216_rolling_reach", "q219_training_data_build",
    "q223_session_entry_exit",
    // round-10 wave heavies: the bigram-LM gram-keyed join family and
    // the gram-novelty semi-join (both in the quadratic hazard class if
    // a count table ever keyed on something corpus-proportional)
    "q224_perplexity_filter", "q234_ngram_novelty",
    // embedding family LINEAR paths: per-partition Gramian fold and the
    // centroid-broadcast silhouette (brute-force ops like q25/q231 are
    // O(anchors x corpus) BY DESIGN — the documented exact baselines —
    // and are deliberately not audited here; LSH/IVF are their scale
    // paths)
    "q226_power_iteration", "q238_silhouette",
    // round-10 geo/graph/stat wave heavies: the positional-postings
    // self-join (posting-list fanout hazard), the wedge-at-center link
    // prediction (hub fanout is the designed hazard its maxDeg cap
    // bounds), and the iterative k-core peel
    "q268_phrase_search", "q256_common_neighbors", "q253_kcore",
    // the Apriori triple rung: per-basket fanout is the cubic hazard its
    // pair-set semi-join fence exists to bound
    "q271_frequent_triples",
    // round-11: substring-grain dedup — the hazard class is the window
    // hash explode (one row per token position) and the candidate
    // verify re-slice; both must stay linear in corpus tokens
    "q284_exact_substr_dedup",
    // round-11: attribution — the conversion x touch join is the
    // per-user-window fanout hazard; per-replica user shift keeps
    // per-user activity constant, so healthy growth is linear
    "q295_attribution",
    // round-11 wave 4/5 heavies: the item-CF capstone (candidate-pair
    // shuffle + 20x champion scoring fanout — the quadratic hazard its
    // Apriori prune and cap exist to bound), the time-bounded event
    // self-join (per-user window fanout), and the iterative k-truss
    // peel (wedge fanout per round; per-replica custkey shifts keep
    // replica blocks disjoint, so triangle work grows linearly)
    "q306_item_cf_recs", "q308_seq_pairs", "q310_ktruss",
    // round-11 waves 5-9 heavies: keyness (sources x vocab cell frame
    // fed by a full token explode), the bigram-spectrum zipf fit, the
    // double global ranking of the padding audit, the LSH pair pass of
    // the leakage audit, and the custom heap operator (its map-side
    // state is keys x k per partition BY DESIGN — linear input scan)
    "q319_dunning_keyness", "q326_zipf_slope", "q333_padding_waste",
    "q334_split_leakage", "q335_topk_operator",
    // round-12: the broadcast as-of (hazard = the driver-side index
    // build growing with the right side — the probe itself is a linear
    // map pass), the depth-3 sequential-pattern join (per-user
    // time-window fanout CUBED is the designed hazard its 6h bound
    // contains; user ids shift per replica so per-user density is
    // constant), and the Aho-Corasick corpus sweep (one pass per byte —
    // the exponent pins that the automaton probe really is linear)
    "q353_asof_broadcast", "q359_seq_triples", "q361_blocklist_scan",
    // round-12 graph additions (r12 verdict #8): Boruvka's hazard is
    // the per-round min-edge agg + component relabel growing with the
    // component count (pointer jumps are fixed); HITS is 2 degree-keyed
    // aggs per iteration (hub fanout is the hazard); DAG levels peels
    // one frontier per round (frontier size is the hazard); the dyad
    // census is one canonical-pair groupBy over the directed projection.
    // Replica-shifted keys keep components/blocks disjoint per replica,
    // so healthy growth is linear in every case.
    "q343_boruvka_mst", "q346_hits", "q348_dag_levels", "q381_dyad_census",
    // round-13 heavies (r13 verdict #4): grid-DBSCAN's hazard is the
    // 3x3 neighborhood-mass join densifying if the grid ever became
    // row-proportional (replicas land on the same grid, so cell COUNT
    // is fixed and per-cell mass grows — work stays grid-keyed linear);
    // FastSS's hazard is the deletion-key equi-join fanout (per-replica
    // token suffixes keep replica vocabularies disjoint); PQ-ADC's
    // hazard is the codebook/seed stage growing with the corpus (both
    // are bounded by construction — scoring is the linear part); PPR's
    // hazard is frontier fanout per iteration (replica-shifted keys
    // keep replica graphs disjoint)
    "q384_grid_dbscan", "q387_edit_distance_join", "q389_pq_adc_search",
    "q391_personalized_pagerank",
    // round-14 heavies: DSIR's hazard is the bigram explode + the
    // 256-bucket rejoin (suffix-perturbed replicas keep gram work
    // per-replica); the geometric median's hazard is the per-iteration
    // corpus re-agg (3 fixed rounds, 64-row broadcast each — replicas
    // add rows, never rounds)
    "q405_dsir_weights", "q413_geometric_median",
    // round-14 wave heavies (r14 verdict #5): the repetition fraction's
    // hazard is the (doc, trigram) count frame (suffix-perturbed
    // replicas keep it per-replica); Heaps' is the trigram first-occ
    // agg over the exploded corpus (vocab grows with replicas by
    // construction); Benford's is the per-(source, digit) frame fed by
    // a full event scan (bounded 9-digit frame, linear feed); the dedup
    // census's hazard is the canonical-pick broadcast growing with the
    // clone-group count
    "q417_repetition_fraction", "q420_heaps_law", "q422_benford_audit",
    "q425_dedup_impact",
    // round-15 wave: the KMV pair stage touches only O(days x k)
    // sketch rows (the hazard is the distinct+window feed, linear in
    // users); Burrows' hazard is the token-count agg (linear), its
    // P^2 pair join runs on the P-row z frame. NOT audited from the
    // wave: q429 (the demo first-char block key is quadratic in
    // per-block distinct names BY DESIGN — production blocking keys
    // bound block size, see its scaladoc; and replicas copy p_name
    // verbatim, so every block grows K-fold), q430 (replica token
    // suffixes empty its fixed query-term list — vacuous measurement),
    // q431 (brute-force O(n^2) exact baseline, the documented q25
    // class; IVF/LSH are its scale paths)
    "q432_kmv_intersection", "q433_burrows_delta",
    // wave 2: Allen census (users x fixed type-pair frame — linear
    // span aggs feed bounded per-user joins); Kneser-Ney (suffixed
    // replica tokens pair only within their replica, so the c12 model
    // frame grows linearly and the rejoin stays vocab-keyed); CMS
    // heavy-change (fixed-size sketches; the exact verify is an
    // IN-filtered agg — replica suffixes shrink probe hits, the
    // sketch/scan cost is the linear claim under audit)
    "q434_allen_census", "q435_kneser_ney", "q436_cms_heavy_change",
    // wave 3: winnowing's hazards are the w-fanout band join (fixed
    // fanout 4) and the fingerprint posting join (suffixed replica
    // grams never collide across replicas, so postings stay
    // per-replica — linear); the consensus fit's day frame is FIXED
    // at <=31 points regardless of volume, only the daily sums feed
    // grows (linear scan, constant tournament)
    "q437_winnowing", "q438_consensus_line_fit")
  // NOT audited from wave 4: q439 (the op is one two-level keyed agg,
  // the already-audited A5/A10 shape), q440 (its cohort pair blocks grow
  // quadratically BY DESIGN — the q25/q431 documented exact-baseline
  // class; random features / cohort samples are the scale path per its
  // scaladoc)

  /** `ScaleData.replicate` of the base into a fresh temp sf-dir. */
  private def stage(factor: Int): String = {
    val dir = Files.createTempDirectory(s"graft-growth-x$factor").toString
    ScaleData.replicate(spark, baseSf, factor, dir)
    dir
  }

  private def drop(dirs: Iterable[String]): Unit =
    dirs.foreach(d => Catalog.deleteTree(Paths.get(d)))

  private def timeOnce(name: String, dir: String): Double = {
    val t0 = System.nanoTime()
    SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  // --- contention guard (r14 verdict #6): q238's exponent read 1.71
  // under an accidental 2x CPU load (two sbt JVMs) and 0.27 clean — a
  // wall-time growth ASSERTION must not fire on a loaded host. Bench's
  // anchor trick, in-suite: a fixed pure-CPU probe (no IO, no shuffle)
  // runs after every measurement; a trailing anchor that Probe.anchorBad
  // judges slow against the session minimum invalidates the
  // measurement, which is retried; a point still dirty after retries
  // makes that query UNVERIFIABLE this run — reported and excluded from
  // the assert instead of false-failing (or false-passing) on stolen CPU.
  private val anchorTrace = scala.collection.mutable.ArrayBuffer[Double]()
  private def anchorOnce(): Double = {
    val t0 = System.nanoTime()
    spark.range(1L << 26).select(xxhash64(col("id")).as("h"))
      .agg(max(col("h"))).collect()
    val s = (System.nanoTime() - t0) / 1e9
    anchorTrace += s
    s
  }
  private def anchorMin: Double = anchorTrace.min

  /** One guarded measurement: (seconds, clean). Retries while the
    * trailing anchor drifts; `before` runs ahead of every attempt (the
    * streaming probe passes a ProgressLog drain so a retry never mixes
    * two runs' batches).
    */
  private def timedClean(name: String, dir: String, retries: Int = 2,
      before: () => Unit = () => ()): (Double, Boolean) = {
    var left = retries
    before()
    var t = timeOnce(name, dir)
    var a = anchorOnce()
    while (Probe.anchorBad(a, anchorMin) && left > 0) {
      left -= 1
      before()
      t = timeOnce(name, dir)
      a = anchorOnce()
    }
    (t, !Probe.anchorBad(a, anchorMin))
  }

  /** Growth exponent from the LAST segment (largest two scales):
    * ln(t_hi/t_lo) / ln(f_hi/f_lo). The small-scale points are
    * constant-overhead-dominated and flatten a least-squares fit in both
    * directions (they hid ~0.3 of the synthetic-quadratic's slope when
    * this used the full three-point fit); the tail segment is where the
    * asymptotic term is most visible, which is the conservative choice
    * for a blowup tripwire.
    */
  private def fitExponent(points: Seq[(Int, Double)]): Double = {
    val Seq((fLo, tLo), (fHi, tHi)) = points.sortBy(_._1).takeRight(2)
    math.log(tHi / tLo) / math.log(fHi.toDouble / fLo)
  }

  test("heavy-family wall time grows near-linearly at 4x and 16x data") {
    val dirs = factors.map(f => f -> stage(f)).toMap
    (1 to 3).foreach(_ => anchorOnce()) // quiet-host floor: codegen + JIT
    try {
      val skipped = scala.collection.mutable.ArrayBuffer[String]()
      val exponents = queries.flatMap { q =>
        timeOnce(q, dirs(1)) // warm: codegen, JIT, listings
        val times = factors.map { f =>
          // min-of-2 clean measurements: drop GC/JIT spikes; contention
          // retried away by the anchor guard
          val reads = Seq.fill(2)(timedClean(q, dirs(f)))
          val clean = reads.collect { case (t, true) => t }
          f -> (if (clean.nonEmpty) Some(clean.min) else None)
        }
        if (times.exists(_._2.isEmpty)) {
          info(s"$q: UNVERIFIABLE this run — a scale point stayed " +
            "anchor-contaminated after retries (loaded host)")
          skipped += q
          None
        } else {
          val pts = times.map { case (f, t) => f -> t.get }
          val e = fitExponent(pts)
          info(f"$q: exponent $e%.2f  " +
            pts.map { case (f, t) => f"x$f=$t%.2fs" }.mkString("  "))
          Some(q -> e)
        }
      }
      // a host too noisy to verify most of the family yields no verdict
      // at all rather than a vacuous pass on a handful of lucky queries
      assert(skipped.size <= queries.size / 2,
        s"host too loaded to audit growth: ${skipped.size}/${queries.size} " +
          s"queries unverifiable (anchor min=$anchorMin, " +
          s"max=${anchorTrace.max})")
      exponents.foreach { case (q, e) =>
        assert(e < 1.6,
          f"$q wall-time growth exponent $e%.2f looks superlinear — a cap/" +
            "threshold is probably proportional to corpus size (q124's " +
            "round-7 bug class); profile the 16x plan")
      }
    } finally drop(dirs.values)
  }

  // --- 64x spill probe (opt-in: SPARK_GRAFT_GROWTH64=1) -----------------
  //
  // The standing 1x/4x/16x audit never spills at sf0.001-derived sizes,
  // so it can't see memory-SHAPE problems (an operator whose per-task
  // buffer grows with the corpus passes the exponent check right up to
  // the OOM). This probe (r10 verdict #5) replays the five heaviest at
  // 4x and 64x with the SQL spill thresholds forced low — every window /
  // sort-merge buffer past 4096 rows goes through UnsafeExternalSorter's
  // real spill path — and records the exponent plus the measured spill
  // bytes (task-metrics listener). Opt-in because the 64x stage is ~40MB
  // of parquet and minutes of wall time: run it once per round and
  // record the numbers in NOTES.md; it is not a per-commit gate.
  test("64x spill probe: heaviest five stay near-linear under forced spill") {
    assume(sys.env.contains("SPARK_GRAFT_GROWTH64"),
      "opt-in probe: set SPARK_GRAFT_GROWTH64=1")
    val heavies = Seq("q101_mask_contaminated", "q253_kcore",
      "q175_triangle_census", "q193_cheapest_path", "q173_paragraph_dedup",
      // round-11 heavies: the CF pair shuffle + champion fanout, the
      // iterative truss peel, and the custom heap operator (its flush
      // valve is exactly the memory-shape mechanism this probe exists
      // to exercise — forced here to a 4096-key cap alongside the
      // window/join spill thresholds)
      "q306_item_cf_recs", "q310_ktruss", "q335_topk_operator")
    val spillConfs = Seq(
      "spark.sql.windowExec.buffer.spill.threshold",
      "spark.sql.sortMergeJoinExec.buffer.spill.threshold",
      // the custom operator's partial-phase key cap (flush valve):
      // forced low so q335's map-side heaps flush constantly at 64x
      "spark.graft.topk.maxKeysInFlight")
    val saved = spillConfs.map(k => k -> spark.conf.getOption(k))
    val spilled = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) spilled.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
    val probeFactors = Seq(4, 64)
    val dirs = probeFactors.map(f => f -> stage(f)).toMap
    spark.sparkContext.addSparkListener(listener)
    try {
      spillConfs.foreach(k => spark.conf.set(k, "4096"))
      // SELF-TEST first: a deliberate single-key window over 200k rows
      // must blow past the 4096-row buffer and report spill bytes —
      // proving the threshold + listener plumbing actually fires, so a
      // zero-spill reading on the heavies below means "no per-key frame
      // ever exceeded 4096 rows at 64x" (bounded state), not "the
      // tripwire was dead"
      spilled.set(0L)
      spark.range(200000L)
        .selectExpr("1 AS k", "id")
        .selectExpr("k", "id", "sum(id) OVER (PARTITION BY k ORDER BY id) AS s")
        .write.format("noop").mode("overwrite").save()
      GraftBus.waitUntilEmpty(spark.sparkContext, 30000L)
      val selfSpill = spilled.get()
      info(f"spill self-test: single-key 200k-row window spilled ${selfSpill / 1024 / 1024}MB")
      assert(selfSpill > 0, "spill tripwire is dead: the synthetic " +
        "single-key window reported zero spill — threshold or listener broken")
      (1 to 3).foreach(_ => anchorOnce()) // contention-guard floor
      heavies.foreach { q =>
        timeOnce(q, dirs(4)) // warm
        val rows = probeFactors.map { f =>
          val (t, clean) = timedClean(q, dirs(f),
            before = () => spilled.set(0L))
          GraftBus.waitUntilEmpty(spark.sparkContext, 30000L)
          (f, t, spilled.get(), clean)
        }
        val e = fitExponent(rows.map { case (f, t, _, _) => (f, t) })
        info(f"$q: exponent(4->64) $e%.2f  " + rows.map { case (f, t, s, c) =>
          f"x$f=$t%.2fs spill=${s / 1024 / 1024}MB" +
            (if (c) "" else " CONTAMINATED") }.mkString("  "))
        if (rows.forall(_._4))
          assert(e < 1.6,
            f"$q grows superlinearly under forced spill: $e%.2f")
        else info(s"$q: exponent not asserted — contaminated point (loaded host)")
      }
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      saved.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
      drop(dirs.values)
    }
  }

  // --- 64x STREAMING state probe (opt-in, same switch) -------------------
  //
  // r11 verdict #6: the batch spill probe never exercises the streaming
  // state stores — q212's RocksDB transformWithState handles and q237's
  // TTL-dedup store are the one memory shape it can't see. This probe
  // replays the stateful streaming heavies at 4x and 64x KEYS (stage()
  // gives every replica disjoint user ids) and reads the PEAK state-store
  // rows/bytes per run from Catalog.ProgressLog's per-batch capture
  // (stateOperators.numRowsTotal / memoryUsedBytes). Pass = wall time
  // near-linear AND peak state rows growing at most ~linearly with the
  // key factor (watermark/TTL state must scale with LIVE keys, never
  // with total history). Numbers land in NOTES.md per round.
  test("64x streaming state probe: stateful heavies stay linear, state bounded") {
    assume(sys.env.contains("SPARK_GRAFT_GROWTH64"),
      "opt-in probe: set SPARK_GRAFT_GROWTH64=1")
    val heavies = Seq("q212_stream_running_state", "q237_stream_dedup_ttl",
      "q324_stream_late_data")
    val probeFactors = Seq(4, 64)
    val dirs = probeFactors.map(f => f -> stage(f)).toMap
    val log = graft.queries.Catalog.ProgressLog
    try {
      (1 to 3).foreach(_ => anchorOnce()) // contention-guard floor
      heavies.foreach { q =>
        timeOnce(q, dirs(4)); log.drain() // warm
        val rows = probeFactors.map { f =>
          // the drain rides the retry hook so a retried run never mixes
          // two runs' batches
          val (t, clean) = timedClean(q, dirs(f), before = () => { log.drain(); () })
          val batches = log.drain()
          assert(batches.nonEmpty, s"$q recorded no streaming progress")
          (f, t, batches.map(_.stateRows).max, batches.map(_.stateBytes).max,
            clean)
        }
        val e = fitExponent(rows.map { case (f, t, _, _, _) => (f, t) })
        info(f"$q: exponent(4->64) $e%.2f  " + rows.map { case (f, t, r, b, c) =>
          f"x$f=$t%.2fs stateRows=$r stateBytes=${b / 1024}KB" +
            (if (c) "" else " CONTAMINATED") }.mkString("  "))
        if (rows.forall(_._5))
          assert(e < 1.6, f"$q wall time grows superlinearly at 64x keys: $e%.2f")
        else info(s"$q: exponent not asserted — contaminated point (loaded host)")
        val Seq((_, _, r4, _, _), (_, _, r64, _, _)) = rows
        // 64x/4x = 16x keys; allow 2x slack for batch-boundary effects.
        // A state store scaling with HISTORY instead of live keys would
        // read far above this (and keep growing with more batches).
        if (r4 > 0) assert(r64.toDouble / r4 <= 32.0,
          s"$q peak state rows grew ${r64.toDouble / r4}x for 16x keys — " +
            "state is not bounded by live keys")
      }
    } finally drop(dirs.values)
  }

  // --- ManifestTable many-commits probe (opt-in, same switch) ------------
  //
  // r14 verdict #5: a commit carries an idempotency scan over existing
  // manifests and (in append mode) one previous-file-list read — O(commits)
  // in listing terms, so a long-lived table could degrade per-commit. The
  // r15 first-line commitId cache makes the scan amortized O(1) per commit
  // in a single-writer history. This probe drives 1000 one-row append
  // commits, compares the LAST-100 window's wall time to the FIRST-100's,
  // and times the 1k-manifest metadata ops (snapshots / latest read /
  // vacuum). Numbers land in NOTES.md per round.
  test("1k-commit manifest probe: per-commit cost stays flat") {
    assume(sys.env.contains("SPARK_GRAFT_GROWTH64"),
      "opt-in probe: set SPARK_GRAFT_GROWTH64=1")
    val dir = Files.createTempDirectory("graft-manifest-1k").toString
    val one = spark.range(1).toDF("id").coalesce(1)
    def window(lo: Int, hi: Int): Double = {
      val t0 = System.nanoTime()
      (lo until hi).foreach { i =>
        graft.sources.ManifestTable.commit(one, dir, f"c$i%04d", mode = "append")
      }
      (System.nanoTime() - t0) / 1e9
    }
    val w1 = window(0, 100)
    window(100, 900)
    val w10 = window(900, 1000)
    val t0 = System.nanoTime()
    val snaps = graft.sources.ManifestTable.snapshots(spark, dir)
    val tSnap = (System.nanoTime() - t0) / 1e9
    assert(snaps.size == 1000 && snaps.last.files.size == 1000)
    val t1 = System.nanoTime()
    val n = graft.sources.ManifestTable.read(spark, dir).count()
    val tRead = (System.nanoTime() - t1) / 1e9
    assert(n == 1000L) // 1000 one-row appends
    val t2 = System.nanoTime()
    val vacuumed = graft.sources.ManifestTable.vacuum(spark, dir, retentionMs = 0L)
    val tVac = (System.nanoTime() - t2) / 1e9
    assert(vacuumed == 0) // every data dir is referenced by some snapshot
    info(f"1k commits: first-100=$w1%.1fs last-100=$w10%.1fs " +
      f"ratio=${w10 / w1}%.2f; snapshots()=$tSnap%.2fs " +
      f"read(1k files)=$tRead%.2fs vacuum()=$tVac%.2fs")
    // flat-ish amortized commit cost: the parquet write dominates both
    // windows; an O(commits) re-read per commit would push the last
    // window far past this bound (un-cached it reads ~900 first lines
    // per commit by then)
    assert(w10 / w1 < 4.0,
      f"per-commit cost grew ${w10 / w1}%.1fx from first-100 to last-100")
    drop(Seq(dir))
  }

  test("the tripwire actually fires on a quadratic workload (self-test)") {
    // an all-pairs join over n rows: t ~ n^2. The fit must land well
    // above the 1.6 bound at these same sizes, proving the assert has
    // teeth despite the constant-overhead term.
    def quad(n: Int): Double = {
      val df = spark.range(n.toLong).toDF("id")
      val t0 = System.nanoTime()
      df.as("a").join(df.as("b"),
          expr("a.id != b.id"))
        .agg(count(lit(1))).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    quad(2000) // warm
    val base = 5000
    // min-of-3 at the two lower scales: a GC spike on the x4 point is
    // the one noise source that could mask the quadratic tail slope
    val pts = factors.map(f =>
      f -> Seq.fill(if (f < 16) 3 else 2)(quad(base * f)).min)
    val e = fitExponent(pts)
    info(f"synthetic all-pairs: exponent $e%.2f  " +
      pts.map { case (f, t) => f"x$f=$t%.2fs" }.mkString("  "))
    assert(e > 1.6, f"self-test: quadratic workload fit $e%.2f <= 1.6 — " +
      "the sizes are too small for the tripwire to see past stage overhead")
  }
}
