package graft.queries

import graft.{GraftSpark, SparkEntry}
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regressions: the properties that decide whether a query
  * survives a 100x scale-up, asserted on the optimized physical plans so a
  * refactor that silently loses a pushdown or a broadcast fails CI, not
  * the cluster bill.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("q13: range predicates are pushed to the parquet scan") {
    val plan = planOf("q13_range_filter")
    assert(plan.contains("GreaterThanOrEqual(l_quantity,10.0)"), plan)
    assert(plan.contains("LessThanOrEqual(l_discount,0.08)"), plan)
  }

  test("q01: scan reads only the 5 needed lineitem columns") {
    val plan = planOf("q01_pricing_summary")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_returnflag") && !readSchema.contains("l_shipdate"),
      readSchema)
  }

  test("q31: dimension joins are broadcast, not shuffled") {
    val plan = planOf("q31_region_revenue")
    assert(plan.contains("BroadcastHashJoin"), plan)
    // no SortMergeJoin at this scale; dims must never shuffle
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q01/q08: aggregates are partial (map-side combine before exchange)") {
    Seq("q01_pricing_summary", "q08_enrich_join").foreach { q =>
      val plan = planOf(q)
      assert(plan.contains("partial_sum") || plan.contains("partial_count"), s"$q:\n$plan")
    }
  }

  /** Per-key top-k on the TopKPerKey operator: the partial phase runs
    * below the query's ONLY hash exchange, which is on the group key — the
    * whole point vs the window form — and the final phase and the rank
    * window sit above it, the window adding no hash exchange of its own.
    */
  private def assertTopKPerKeyShape(plan: String, key: String): Unit = {
    val tree = plan.linesIterator.drop(1).takeWhile(_.trim.nonEmpty).toSeq
    val details = plan.linesIterator.toSeq
    val hashAt = details.indices.filter(i => details(i).contains("hashpartitioning("))
    assert(hashAt.size == 1, s"expected exactly 1 hash exchange:\n$plan")
    assert(details(hashAt.head).contains(s"hashpartitioning($key#"), plan)
    // the detail header "(n) Exchange" above the arguments names the node
    val header = details.take(hashAt.head).findLast(_.matches("\\(\\d+\\) Exchange"))
      .getOrElse(fail(s"no Exchange header:\n$plan"))
    val id = header.takeWhile(_ != ' ') // "(n)"
    def at(node: String): Int = tree.indexWhere(_.contains(s"$node "))
    val exchange = tree.indexWhere(_.endsWith(s"Exchange $id"))
    assert(exchange >= 0, plan)
    assert(at("TopKPerKeyPartial") > exchange, plan)
    assert(at("Window") >= 0 && at("Window") < at("TopKPerKeyFinal") &&
      at("TopKPerKeyFinal") < exchange, plan)
  }

  test("q59: top-k aggregator runs with map-side partial aggregation") {
    assertTopKPerKeyShape(planOf("q59_topk_aggregate"), "event_type")
  }

  test("q43: asofAuto dispatches the small purchase side to the broadcast probe") {
    // routed through the dispatcher since round 14 (r13 verdict #5); the
    // purchase side sits under the threshold at every test sf, so the
    // plan must be the zero-shuffle probe: asof_lookup in a project, no
    // merge exec, no union+window, and the only exchange the ORDER BY's
    val plan = planOf("q43_asof_join")
    assert(plan.contains("asof_lookup"), plan)
    assert(!plan.contains("AsOfMergeJoin") && !plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      plan)
    val exchanges = plan.linesIterator
      .count(_.trim.matches("\\(\\d+\\) Exchange.*"))
    assert(exchanges == 1, s"expected only the ORDER BY exchange:\n$plan")
  }

  test("q45: range join resolves to an equi-join, not a nested loop") {
    val plan = planOf("q45_range_join")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      plan)
  }

  test("q87: interval-overlap join resolves to an equi-join, not a nested loop") {
    val plan = planOf("q87_interval_overlap")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      plan)
  }

  test("q65: PII scrub is map-only — no exchange before the final sort") {
    val plan = planOf("q65_pii_scrub")
    // exactly one Exchange (the ORDER BY's range partition); the scrub
    // itself must not shuffle
    val exchanges = plan.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 1, plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q67: sequence packing never funnels rows through one reducer") {
    val plan = planOf("q67_sequence_pack")
    // the classic failure shape is a global window:
    // Exchange SinglePartition -> Window(ORDER BY id). The two-phase scan
    // must keep every per-row stage parallel.
    val single = plan.linesIterator.filter(_.contains("SinglePartition"))
      .filterNot(_.contains("Broadcast")) // broadcast of bucket offsets is fine
      .toList
    assert(single.isEmpty, s"single-partition exchange in q67 plan:\n$plan")
    assert(plan.contains("Window"), plan) // per-bucket cumsum is a window
  }

  test("q79: bloom probe filters the fact side before its exchange") {
    val plan = planOf("q79_bloom_prune_join")
    // the codegen'd sketch probe must appear as a plain Filter on the
    // orders scan — map-side, ahead of any join exchange
    assert(plan.contains("might_contain"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q82: vocabulary top-k plans as TakeOrderedAndProject") {
    val plan = planOf("q82_vocab_topk")
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // token counting partial-aggregates before the shuffle
    assert(plan.contains("partial_count"), plan)
  }

  test("q83: distributed ntile never funnels rows through one reducer") {
    val plan = planOf("q83_curriculum_ntile")
    val single = plan.linesIterator.filter(_.contains("SinglePartition"))
      .filterNot(_.contains("Broadcast")) // broadcast of base offsets is fine
      .toList
    assert(single.isEmpty, s"single-partition exchange in q83 plan:\n$plan")
  }

  test("q86: Misra-Gries pass partial-aggregates; candidates broadcast") {
    val plan = planOf("q86_heavy_hitters")
    // the sketch must combine map-side (typed-aggregate partial phase) and
    // the candidate set must reach the exact pass as a broadcast semi join
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(plan.contains("LeftSemi"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q88: decontamination bloom probe filters grams before the join") {
    val plan = planOf("q88_decontaminate_bloom")
    assert(plan.contains("might_contain"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q81: corpus mix is map-only before the final aggregate") {
    val plan = planOf("q81_corpus_mix")
    // explode + keep-filter must not shuffle; the only exchanges belong to
    // the grouped aggregate (hash) and final ORDER BY (range)
    assert(plan.linesIterator.exists(_.trim.startsWith("+- Generate")), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("q89: the frequent-line set broadcasts into the removal anti-join") {
    val plan = planOf("q89_line_boilerplate")
    // the exploded line stream must never shuffle for the removal — only
    // the tiny frequent set crosses as a broadcast build side
    assert(plan.contains("BroadcastHashJoin LeftAnti"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q90: min-k sampler partial-aggregates before the exchange") {
    // O(groups x k) over the wire
    assertTopKPerKeyShape(planOf("q90_group_sample"), "lang")
  }

  test("q92: rolling range window plans ONE window over one exchange") {
    val plan = planOf("q92_rolling_window")
    // sum + count share the frame — a refactor that splits them doubles
    // the pass count over every sorted partition
    // count the "(n) Window" detail headers — exactly one per Window node
    val windows = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Window"))
    assert(windows == 1, s"expected 1 Window node, got $windows:\n$plan")
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("q93: moment stats broadcast back onto the event stream") {
    val plan = planOf("q93_zscore_outliers")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("partial_sum"), plan) // exact moments combine map-side
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q94: only surviving probes reach the exact-count exchange") {
    val plan = planOf("q94_cms_watchlist")
    // the sketch pass already ran at plan time (bounded collect); the
    // residual plan is filter -> partial count -> exchange on <= |probes| keys
    assert(plan.contains("partial_count"), plan)
    assert(plan.linesIterator.exists(l => l.contains("Condition") && l.contains("token")) ||
      plan.contains("IN ("), plan)
  }

  test("q96: zone-map residual predicate still reaches the parquet scan") {
    val plan = planOf("q96_zonemap_prune")
    assert(plan.contains("GreaterThanOrEqual(l_orderkey,1000)"), plan)
    assert(plan.contains("LessThanOrEqual(l_orderkey,3000)"), plan)
  }

  test("q97: profiling 5 columns scans the table once (Expand, not re-scans)") {
    val plan = planOf("q97_table_profile")
    // multi-distinct goes through one Expand over ONE parquet scan
    assert(plan.contains("Expand"), plan)
    // count the "(n) Scan parquet" detail headers — one per scan node
    // (the tree line above them also says "Scan parquet")
    val scans = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet\\s*"))
    assert(scans == 1, s"expected 1 scan, got $scans:\n$plan")
  }

  test("q284: substring-dedup candidate passes are equi-joins, never nested loops") {
    val plan = planOf("q284_exact_substr_dedup")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q285: BPE encode adds no join or aggregate after the merges collect") {
    // the encode itself must stay a pure map-side projection — the
    // replace chain compiled from the collected merges; only the final
    // ORDER BY may exchange
    val plan = planOf("q285_bpe_encode")
    assert(!plan.contains("Join") && !plan.contains("HashAggregate"), plan)
  }

  test("q286: SemDeDup's within-cluster pair pass is a hash join, never a cartesian") {
    val plan = planOf("q286_semantic_dedup")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q287: span removal stays equi-join + per-row positional filter") {
    val plan = planOf("q287_exact_substr_removal")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q98: funnel joins are all equi-joins on the user key") {
    val plan = planOf("q98_funnel_steps")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q99: cohort retention partial-aggregates before its exchanges") {
    val plan = planOf("q99_cohort_retention")
    assert(plan.contains("partial_min") || plan.contains("partial_count"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q101: contamination masking joins on uniform keys, no nested loops") {
    val plan = planOf("q101_mask_contaminated")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q101: exactly 3 explodes / 3 scans - reassembly stays per-row") {
    // the round-8 linear reassembly removed the token-stream explode
    // entirely: kept tokens come from array_except over positions +
    // element_at inside the restore projection (O(tokens+covered) per
    // row, zero exchanges). The three explodes: eval shingles, train
    // shingle occurrences, coverage sequence. The three scans: eval
    // docs, occurrence docs, restore docs. A regression back to an
    // exploded token stream shows up as a 4th Generate (and its
    // (doc,pos)-keyed Exchange chain) here — invisible in noisy local
    // wall time, fatal at corpus scale.
    val plan = planOf("q101_mask_contaminated")
    val gens = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Generate"))
    assert(gens == 3, s"expected 3 Generate nodes, got $gens:\n$plan")
    val scans = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet\\s*"))
    assert(scans == 3, s"expected 3 scans, got $scans:\n$plan")
  }

  test("q100: distributed percent_rank never funnels rows through one reducer") {
    val plan = planOf("q100_percent_rank")
    val single = plan.linesIterator.filter(_.contains("SinglePartition"))
      .filterNot(_.contains("Broadcast"))
      .toList
    assert(single.isEmpty, s"single-partition exchange in q100 plan:\n$plan")
  }

  test("q149: distributed cume_dist never funnels rows through one reducer") {
    val plan = planOf("q149_cume_dist")
    val single = plan.linesIterator.filter(_.contains("SinglePartition"))
      .filterNot(_.contains("Broadcast"))
      .toList
    assert(single.isEmpty, s"single-partition exchange in q149 plan:\n$plan")
  }

  test("q151: distributed rank+dense_rank never funnels rows through one reducer") {
    // the ladder window itself runs inside rankAndDenseRank's eager
    // checkpoint and is invisible here — RankingSpec pins ITS shape
    // (per-bucket window, no SinglePartition) on the pre-checkpoint plan
    val plan = planOf("q151_rank_family")
    val single = plan.linesIterator.filter(_.contains("SinglePartition"))
      .filterNot(_.contains("Broadcast"))
      .toList
    assert(single.isEmpty, s"single-partition exchange in q151 plan:\n$plan")
  }

  test("q107: both SCD2 window passes share ONE user_id exchange") {
    val plan = planOf("q107_scd2_intervals")
    // exchanges: the user_id hash partition + the final deterministic
    // orderBy range partition — a third means the second window re-shuffled
    val exchanges = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Exchange"))
    assert(exchanges == 2, s"expected 2 exchanges, got $exchanges:\n$plan")
    val windows = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Window"))
    assert(windows == 2, s"expected 2 Window nodes, got $windows:\n$plan")
  }

  test("q109: postings window reuses the token exchange; top-k never sorts all") {
    val plan = planOf("q109_inverted_index")
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // (token,doc_id) agg exchange + token window/agg exchange — the final
    // ObjectHashAggregate must NOT add a third
    val exchanges = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Exchange"))
    assert(exchanges == 2, s"expected 2 exchanges, got $exchanges:\n$plan")
    assert(plan.contains("partial_collect_list"), plan) // bounded postings combine map-side
  }

  test("q110/q111: merge ops are equi-joins, never nested loops") {
    Seq("q110_snapshot_diff", "q111_cdc_merge").foreach { q =>
      val plan = planOf(q)
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"), s"$q:\n$plan")
    }
  }

  test("q113: attribution is one window pass, no self-join") {
    val plan = planOf("q113_last_touch")
    val windows = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Window"))
    assert(windows == 1, s"expected 1 Window node, got $windows:\n$plan")
    assert(!plan.contains("Join"), s"attribution must not self-join:\n$plan")
  }

  test("q114: quantization error is computed map-side before one small agg") {
    val plan = planOf("q114_vector_quantize")
    assert(plan.contains("partial_sum") || plan.contains("partial_count"), plan)
    // per-vector math must not shuffle vectors: the only wide exchange
    // keys are the label groups
    val exchanges = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Exchange"))
    assert(exchanges <= 2, s"expected <=2 exchanges, got $exchanges:\n$plan")
  }

  test("q116: skyline is one window pass, never the O(n^2) dominance join") {
    val plan = planOf("q116_pareto_frontier")
    val windows = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Window"))
    assert(windows == 1, s"expected 1 Window node, got $windows:\n$plan")
    assert(!plan.contains("Join"), s"skyline must not self-join:\n$plan")
  }

  test("q119: sliding windows expand map-side and partial-aggregate") {
    val plan = planOf("q119_sliding_window")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"), plan)
    // the 2x window expansion must happen BEFORE the exchange (Expand or
    // Generate under the partial aggregate), never via a self-union scan
    val scans = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet\\s*"))
    assert(scans == 1, s"expected 1 scan, got $scans:\n$plan")
  }

  test("q120: every FK probe is a broadcast anti-join, never a shuffle") {
    val plan = planOf("q120_fk_audit")
    assert(plan.contains("LeftAnti"), plan)
    assert(!plan.contains("SortMergeJoin"), s"FK parents must broadcast:\n$plan")
  }

  test("q121: gap detection is one window pass over the order key") {
    val plan = planOf("q121_gap_islands")
    val windows = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Window"))
    assert(windows == 1, s"expected 1 Window node, got $windows:\n$plan")
    assert(!plan.contains("Join"), s"gap detection must not self-join:\n$plan")
  }

  test("q123: percentile passes partial-aggregate; medians broadcast back") {
    val plan = planOf("q123_mad_outliers")
    assert(plan.contains("partial_percentile"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q124: posting joins stay equi-keyed; dot products partial-aggregate") {
    val plan = planOf("q124_sparse_topk")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("partial_sum"), plan)
  }

  test("q124: the single tokenize exchange is REUSED across tf/df consumers") {
    // round 5 derived df (and every other consumer) from ONE tokenized
    // TF frame. The static plan duplicates that subtree per consumer —
    // that is how Spark prints shared lineage — so a node census cannot
    // see the sharing; the executed plan can: identical exchanges
    // collapse to ReusedExchange at runtime. A regression to a second
    // independent tokenize (e.g. a distinct-agg df) changes the
    // exchange signature and the reuse disappears.
    val df = SparkEntry.queries("q124_sparse_topk")(spark, sf)
    df.collect() // collect, not write: the write path clones the plan,
    // leaving THIS queryExecution's adaptive plan unexecuted (and the
    // result is the bounded per-doc top-3 — collect-safe at spec scale)
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("isFinalPlan=true"), executed.linesIterator.next())
    assert(executed.contains("ReusedExchange"),
      s"no exchange reuse in executed q124 plan:\n$executed")
  }

  test("q135: join hints are honored (shuffle-hash + forced merge)") {
    val plan = planOf("q135_join_hints")
    assert(plan.contains("ShuffledHashJoin"), plan)
    assert(plan.contains("SortMergeJoin"), plan)
  }

  test("q138/q139: subqueries decorrelate — no per-row nested-loop re-execution") {
    Seq("q138_lateral_subquery", "q139_scalar_subquery").foreach { q =>
      val plan = planOf(q)
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"), s"$q:\n$plan")
    }
  }

  test("q154: repetition ratio is map-only - one exchange (the final sort)") {
    // the whole point of the explode-free shape: per-doc shingle stats
    // compute in the scan's projection, so the only exchange is the
    // deterministic output ORDER BY
    val plan = planOf("q154_repetition_ratio")
    val exchanges = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Exchange"))
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$plan")
    assert(!plan.contains("Generate"), s"explode crept into q154:\n$plan")
  }

  test("q155: three multi-column distincts ride ONE scan through Expand") {
    val plan = planOf("q155_key_candidates")
    assert(plan.contains("Expand"), plan)
    val scans = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet\\s*"))
    assert(scans == 1, s"expected 1 scan, got $scans:\n$plan")
  }

  test("q156: blowup estimate partial-aggregates; top-5 never sorts all keys") {
    val plan = planOf("q156_join_blowup")
    assert(plan.contains("partial_count"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("SortMergeJoin"), s"totals must broadcast:\n$plan")
  }

  test("q161: draws broadcast against the corpus; prefix-sum window is bucketed") {
    val plan = planOf("q161_weighted_sample")
    // the containment probe is the INTENTIONAL bounded nested loop: k
    // draw rows broadcast (BuildRight), never the corpus
    assert(plan.contains("BroadcastNestedLoopJoin Inner BuildRight"), plan)
    // the running-total window rides the range buckets, not an empty
    // partition spec (which would be the single-reducer funnel)
    assert(!plan.contains("SinglePartition"), plan)
    assert(plan.contains("Window"), plan)
  }

  test("q164/q166/q167: prefix-sum family plans have no single-reducer funnel") {
    Seq("q164_token_budget_cut", "q166_weighted_median",
        "q167_global_order_stats").foreach { q =>
      val plan = planOf(q)
      assert(!plan.contains("SinglePartition"), s"$q:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$q:\n$plan")
    }
  }

  test("q166: group totals broadcast back; no sort-merge join") {
    val plan = planOf("q166_weighted_median")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q168: unpivot is the map-side Expand - one exchange (the output sort)") {
    val plan = planOf("q168_unpivot_metrics")
    assert(plan.contains("Expand"), plan)
    val exchanges = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Exchange"))
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$plan")
  }

  test("q169/q170/q172: no HOF tree duplicated into a Filter condition") {
    // the round-9 pathology tripwire: projecting a generator input into a
    // named column (or filtering on it) lets Catalyst inline the whole
    // interpreted tokenize/shingle lambda tree into scan Filters — the
    // plans are operator-shape identical, only the Condition text shows it
    Seq("q169_pmi_collocations", "q170_setsim_join",
        "q172_neardup_contamination").foreach { q =>
      val plan = planOf(q)
      val conds = plan.linesIterator.filter(_.contains("Condition")).toSeq
      assert(!conds.exists(_.contains("lambdafunction")),
        s"$q pushed a HOF into a Filter:\n${conds.mkString("\n")}")
    }
  }

  test("q169: PMI totals come from 1-row broadcasts, counts aggregate partial") {
    val plan = planOf("q169_pmi_collocations")
    // the N/M totals must ride broadcast nested loops over ONE row each,
    // never a shuffled join; the count aggs must combine map-side
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("partial_count") || plan.contains("partial_sum"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q170: prefix-filter join is equi-join shaped, never cartesian") {
    val plan = planOf("q170_setsim_join")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // candidate dedup + verification aggregate partially before exchanges
    assert(plan.contains("partial_first") || plan.contains("HashAggregate"), plan)
  }

  test("q172: two-corpus contamination join is equi-join shaped, no cartesian") {
    val plan = planOf("q172_neardup_contamination")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q171: leak-free split is map-side labeling + partial-agg rollups") {
    val plan = planOf("q171_leakfree_split")
    // no join except the 1-row audit broadcast; no window, no sort-merge
    assert(!plan.contains("SortMergeJoin") && !plan.contains("Window"), plan)
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("partial_count"), plan)
  }

  test("q173: paragraph dedup keeps the tokenizer out of scan Filters") {
    val plan = planOf("q173_paragraph_dedup")
    val conds = plan.linesIterator.filter(_.contains("Condition")).toSeq
    assert(!conds.exists(_.contains("lambdafunction")),
      s"q173 pushed a HOF into a Filter:\n${conds.mkString("\n")}")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q174/q175/q176: basket/graph joins are equi-joins, never cartesian") {
    Seq("q174_item_pairs", "q175_triangle_census", "q176_pagerank").foreach { q =>
      val plan = planOf(q)
      assert(!plan.contains("CartesianProduct"), s"$q:\n$plan")
    }
    // support/degree counts must combine map-side before any exchange
    // (q176's final frame is post-checkpoint — its aggregates already ran
    // eagerly inside the iteration loop, so it is asserted separately)
    Seq("q174_item_pairs", "q175_triangle_census").foreach { q =>
      val plan = planOf(q)
      assert(plan.contains("partial_count") || plan.contains("partial_sum"),
        s"$q:\n$plan")
    }
  }

  test("q176: pagerank's iteration frames are checkpointed (lineage cut)") {
    val plan = planOf("q176_pagerank")
    // the adjacency/rank frames enter the final iteration as scans of
    // checkpointed RDDs, not as re-derived join trees over lineitem
    assert(plan.contains("Scan ExistingRDD") || plan.contains("LogicalRDD"), plan)
  }

  test("q177: group OLS is one scan + one partial-agg exchange") {
    val plan = planOf("q177_group_ols")
    assert(plan.contains("partial_sum"), plan)
    val scans = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*"))
    assert(scans == 1, s"expected 1 scan, got $scans:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("Window"), plan)
  }

  test("q179: HLL rollup merges sketches partially before the exchange") {
    val plan = planOf("q179_hll_rollup")
    // the leaf sketches and the union-merge must both combine map-side
    assert(plan.contains("partial_hll_sketch_agg"), plan)
    assert(plan.contains("partial_hll_union_agg"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q180: BFS final frame is checkpointed unions, no cartesian") {
    val plan = planOf("q180_bfs_hops")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("Scan ExistingRDD") || plan.contains("LogicalRDD"), plan)
  }

  test("q181: A/B test reads events ONCE — pivot, not a per-variant self-join") {
    val plan = planOf("q181_ab_test")
    val scans = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*"))
    assert(scans == 1, s"expected 1 scan, got $scans:\n$plan")
    assert(plan.contains("partial_sum"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("q182: LOO encoding joins the category sums as a broadcast") {
    val plan = planOf("q182_target_encoding")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    val scans = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*"))
    assert(scans <= 2, s"expected <= 2 scans (sums + sample), got $scans:\n$plan")
  }

  test("q183: negative sampling anti-join is equi-shaped; candidates are map-side") {
    val plan = planOf("q183_negative_sampling")
    assert(!plan.contains("CartesianProduct"), plan)
    // anti join on (user, item) must be a hash join, not nested-loop
    assert(plan.contains("LeftAnti"), plan)
    val bnlj = plan.linesIterator.count(
      _.trim.matches("\\(\\d+\\) BroadcastNestedLoopJoin.*"))
    assert(bnlj <= 1, s"only the 1-row max-part broadcast may nest-loop:\n$plan")
  }

  test("q185: random-walk steps are checkpointed — no recompute tree, no cartesian") {
    val plan = planOf("q185_random_walks")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // the per-step frames enter as checkpointed RDD scans; the
    // edge-building tree must NOT be re-derived per step (the 433 KB
    // pre-fix explain re-inlined the basket self-join ~7x)
    assert(plan.contains("Scan ExistingRDD") || plan.contains("LogicalRDD"), plan)
    assert(plan.length < 50000, s"plan blew up to ${plan.length} chars")
  }

  test("q186: AUC is one scan; the rank window rides the tiny score-group frame") {
    val plan = planOf("q186_auc")
    val scans = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*"))
    assert(scans == 1, s"expected 1 scan, got $scans:\n$plan")
    // the cumulative window must sit ABOVE the score-group aggregation
    // (bounded 10^4 rows), never over per-row ranks
    assert(plan.contains("partial_sum") || plan.contains("partial_count"), plan)
    assert(plan.contains("Window"), plan)
  }

  test("q187: calibration is one scan + a 1-row ECE broadcast") {
    val plan = planOf("q187_calibration")
    val scans = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*"))
    assert(scans <= 2, s"expected <= 2 scans, got $scans:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q188: classifier report derives everything from the checkpointed matrix") {
    val plan = planOf("q188_classifier_report")
    // the corpus is scanned ONCE (eagerly, into the confusion-matrix
    // checkpoint); the final plan must join RDD scans, not re-scan parquet
    assert(plan.contains("Scan ExistingRDD") || plan.contains("LogicalRDD"), plan)
    val scans = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*"))
    assert(scans == 0, s"expected 0 parquet scans, got $scans:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q189: modularity census runs on checkpointed frames, 1-row Q broadcast") {
    val plan = planOf("q189_component_modularity")
    assert(plan.contains("Scan ExistingRDD") || plan.contains("LogicalRDD"), plan)
    val scans = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*"))
    assert(scans == 0, s"expected 0 parquet scans post-checkpoint, got $scans:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q190: markov eval — transitions checkpointed, model rides a broadcast") {
    val plan = planOf("q190_markov_eval")
    assert(plan.contains("Scan ExistingRDD") || plan.contains("LogicalRDD"), plan)
    val scans = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*"))
    assert(scans == 0, s"expected 0 parquet scans post-checkpoint, got $scans:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q191: NDCG top-10s are TakeOrdered off the checkpointed scores") {
    val plan = planOf("q191_ndcg")
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(plan.contains("Scan ExistingRDD") || plan.contains("LogicalRDD"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q196: ridge regression is ONE scan + ONE partial aggregate, no joins") {
    val plan = planOf("q196_ridge_regression")
    val scans = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*"))
    assert(scans == 1, s"expected 1 scan, got $scans:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("q204: the five-rule funnel is ONE corpus scan") {
    val plan = planOf("q204_curation_funnel")
    val scans = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*"))
    assert(scans == 1, s"expected 1 scan, got $scans:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q195/q200: the overall row re-aggregates the per-group frame (one corpus pass)") {
    Seq("q195_ips_policy_eval" -> 1, "q200_vocab_oov" -> 2).foreach {
      case (q, maxScans) =>
        val plan = planOf(q)
        val scans = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*"))
        assert(scans <= maxScans, s"$q: expected <= $maxScans scans, got $scans:\n$plan")
    }
  }

  test("q197: k-fold train stats ride a broadcast back onto the corpus") {
    val plan = planOf("q197_kfold_cv")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    val scans = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*"))
    assert(scans <= 2, s"expected <= 2 scans (cf pass + join pass), got $scans:\n$plan")
  }

  test("q193/q207/q209: checkpointed iteratives end with no parquet rescans") {
    Seq("q193_cheapest_path", "q207_item_cosine", "q209_cusum_changepoint")
      .foreach { q =>
        val plan = planOf(q)
        val scans = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*"))
        assert(scans == 0, s"$q: expected 0 parquet scans post-checkpoint, got $scans:\n$plan")
        assert(!plan.contains("CartesianProduct"), s"$q:\n$plan")
      }
  }

  test("q192: lags and the last-row pick share one user-keyed exchange") {
    val plan = planOf("q192_ewma_forecast")
    val exchanges = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Exchange.*"))
    // one hashpartitioning(user_id) feeding both window sorts + the
    // output range sort — a re-exchange between the windows would be 3+
    assert(exchanges <= 2, s"expected <= 2 exchanges, got $exchanges:\n$plan")
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("q210/q213/q216/q219/q220: checkpointed pipelines end clean (0 rescans)") {
    // every SinglePartition surviving in q219/q220 sits on a bounded
    // frame (1-row pack manifest, 10-row decile window) — the corpus
    // itself aggregated away before the checkpoint
    Seq("q210_bpe_train", "q213_label_propagation", "q216_rolling_reach",
      "q219_training_data_build", "q220_lorenz_gini").foreach { q =>
      val plan = planOf(q)
      val scans = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*"))
      assert(scans == 0, s"$q: expected 0 parquet scans post-checkpoint, got $scans:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$q:\n$plan")
      assert(!plan.contains("SortMergeJoin"), s"$q:\n$plan")
    }
  }

  test("q224/q225: curation-wave checkpointed pipelines end clean") {
    // q224: the tokenize+explode pass is checkpointed for its three
    // consumers (bigram counts, history counts, scoring) — the final
    // plan must not rescan parquet; the only nested-loop join is the
    // 1-row vocab broadcast. q225: same for the score table; the global
    // quantile table must come back as a broadcast hash join (1001-row
    // bucket spine), never a shuffle of the corpus against it.
    Seq("q224_perplexity_filter", "q225_quantile_normalize").foreach { q =>
      val plan = planOf(q)
      val scans = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*"))
      assert(scans == 0, s"$q: expected 0 parquet scans post-checkpoint, got $scans:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$q:\n$plan")
    }
    assert(planOf("q225_quantile_normalize").contains("BroadcastHashJoin"))
  }

  test("q226/q227: bounded driver steps end as local results, corpus work pre-collected") {
    // both queries aggregate the corpus down to a bounded matrix
    // (d^2 moments / |states|^2 transitions) BEFORE the driver loop —
    // the returned frame is a pure LocalTableScan with zero distributed
    // work left behind
    Seq("q226_power_iteration", "q227_markov_attribution").foreach { q =>
      val plan = planOf(q)
      assert(plan.contains("LocalTableScan"), s"$q:\n$plan")
      val scans = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*"))
      assert(scans == 0, s"$q: driver-resident result must not rescan:\n$plan")
    }
  }

  test("q228/q229: single-scan text metrics stay map-side") {
    // q228: one documents scan into a partial-agged groupBy(lang);
    // q229: pure per-row expressions — the ONLY exchange is the final
    // range sort, and nothing shuffles the corpus by a high-cardinality
    // key
    val p228 = planOf("q228_tokenizer_fertility")
    assert(p228.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*")) == 1, p228)
    assert(p228.contains("partial_count") || p228.contains("partial_sum"), p228)
    val p229 = planOf("q229_char_entropy")
    assert(p229.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*")) == 1, p229)
    val exchanges = p229.linesIterator.count(_.trim.matches("\\(\\d+\\) Exchange.*"))
    assert(exchanges <= 1, s"expected <= 1 exchange (final sort), got $exchanges:\n$p229")
  }

  test("q230: the fingerprint self-join is an equi-join, never a cartesian") {
    val plan = planOf("q230_dup_matrix")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      plan)
  }

  test("q231: hard negatives broadcast the anchors, corpus never shuffles pre-topk") {
    val plan = planOf("q231_hard_negatives")
    assert(plan.contains("BroadcastNestedLoopJoin"), plan) // anchors x corpus stream
    assert(!plan.contains("SortMergeJoin"), plan)
    val scans = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*"))
    assert(scans <= 2, s"expected <= 2 embedding scans, got $scans:\n$plan")
  }

  test("q232: the 5 greedy MMR rounds never rescan the corpus") {
    // the candidate pool and its pairwise-sim table are checkpointed
    // once; all five unrolled rounds join those bounded frames
    val plan = planOf("q232_mmr_select")
    val scans = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*"))
    assert(scans == 0, s"expected 0 parquet scans post-checkpoint, got $scans:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q233/q234/q235: curation metrics stay single-scan / checkpoint-clean") {
    val p233 = planOf("q233_data_ladder")
    assert(p233.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*")) == 1, p233)
    assert(p233.contains("partial_count") || p233.contains("partial_sum"), p233)
    val p234 = planOf("q234_ngram_novelty")
    assert(p234.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*")) == 0, p234)
    assert(!p234.contains("CartesianProduct"), p234)
    val p235 = planOf("q235_soft_dedup_weights")
    assert(p235.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*")) <= 2, p235)
    assert(!p235.contains("CartesianProduct"), p235)
  }

  test("q253/q256: iterative graph queries end post-checkpoint (0 parquet rescans)") {
    val p253 = planOf("q253_kcore")
    assert(p253.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*")) == 0, p253)
    assert(!p253.contains("CartesianProduct"), p253)
    val p256 = planOf("q256_common_neighbors")
    assert(p256.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*")) == 0, p256)
    assert(!p256.contains("CartesianProduct") && !p256.contains("BroadcastNestedLoopJoin"),
      p256)
    // the top-k contract: bounded output via TakeOrderedAndProject, not a
    // global sort exchange
    assert(p256.contains("TakeOrderedAndProject"), p256)
  }

  test("q254/q255: geo grid joins stay equi-joins on the cell key, never all-pairs") {
    Seq("q254_geo_grid", "q255_geo_nn").foreach { q =>
      val plan = planOf(q)
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
        s"$q:\n$plan")
      val scans = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*"))
      assert(scans <= 2, s"$q: expected <= 2 scans, got $scans:\n$plan")
    }
  }

  test("q257/q260/q261/q263: sequence/stat queries stay single-scan with partial aggs") {
    Seq("q257_run_length", "q260_prefix_autocomplete", "q261_mann_whitney",
        "q263_psi_drift").foreach { q =>
      val plan = planOf(q)
      val scans = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*"))
      assert(scans == 1, s"$q: expected 1 scan, got $scans:\n$plan")
      assert(plan.contains("partial_count") || plan.contains("partial_sum"), s"$q:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$q:\n$plan")
    }
  }

  test("q259: point-in-time lookup is the as-of shape, no interval nested loop") {
    val plan = planOf("q259_pit_join")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      plan)
  }

  test("q262/q264: contingency totals ride bounded broadcasts, never a cartesian") {
    Seq("q262_chi_square", "q264_info_gain").foreach { q =>
      val plan = planOf(q)
      assert(!plan.contains("CartesianProduct"), s"$q:\n$plan")
      val scans = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*"))
      assert(scans <= 2, s"$q: expected <= 2 scans, got $scans:\n$plan")
    }
  }

  test("q265/q269/q270: stat-wave queries stay single-scan (totals ride windows)") {
    Seq("q265_ks_test", "q269_weighted_median", "q270_theil_index").foreach { q =>
      val plan = planOf(q)
      val scans = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*"))
      assert(scans == 1, s"$q: expected 1 scan, got $scans:\n$plan")
      assert(plan.contains("partial_count") || plan.contains("partial_sum"), s"$q:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$q:\n$plan")
    }
  }

  test("q266/q267/q268: checkpointed/iterative frames end with 0 parquet rescans") {
    Seq("q266_acf", "q267_harmonic_centrality", "q268_phrase_search").foreach { q =>
      val plan = planOf(q)
      val scans = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*"))
      assert(scans == 0, s"$q: expected 0 scans, got $scans:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$q:\n$plan")
    }
  }

  test("q271-q274: apriori/robust-stat wave — no cartesians, bounded scan counts") {
    // q271/q273/q274 end post-checkpoint (Baskets pins the basket frame;
    // the rank scan ran eagerly); q272's histogram is checkpointed
    Seq("q271_frequent_triples", "q272_mad", "q273_assortativity",
        "q274_heaps_curve").foreach { q =>
      val plan = planOf(q)
      val scans = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*"))
      assert(scans == 0, s"$q: expected 0 scans post-checkpoint, got $scans:\n$plan")
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"), s"$q:\n$plan")
    }
  }

  test("q275/q276: reweighting ends post-checkpoint; repetition scoring is map-only") {
    val p275 = planOf("q275_mixture_reweight")
    assert(p275.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*")) == 0, p275)
    assert(!p275.contains("CartesianProduct"), p275)
    val p276 = planOf("q276_repetition_score")
    val scans = p276.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*"))
    assert(scans == 1, p276)
    // per-row array arithmetic: the only exchange is the output sort
    val exchanges = p276.linesIterator.count(_.trim.matches("\\(\\d+\\) Exchange.*"))
    assert(exchanges <= 1, p276)
  }

  test("q277-q279: hierarchy/sequence/bitemporal wave plan shapes") {
    // q277: parent totals come from the checkpointed 25-nation frame, so
    // the final plan has no fact scans; only the intentional 1-row
    // totals cross remains
    val p277 = planOf("q277_share_of_parent")
    assert(p277.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*")) == 0, p277)
    assert(!p277.contains("CartesianProduct"), p277)
    // q278: one scan, one user-keyed sort, bounded agg, top-20 via
    // TakeOrderedAndProject (never a global sort exchange)
    val p278 = planOf("q278_event_trigrams")
    assert(p278.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*")) == 1, p278)
    assert(p278.contains("TakeOrderedAndProject"), p278)
    // q279: single-scan conditional aggregation with map-side partials
    val p279 = planOf("q279_bitemporal_replay")
    assert(p279.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*")) == 1, p279)
    assert(p279.contains("partial_sum"), p279)
  }

  test("q281: fused audit scans the fact table once for both scenarios") {
    val plan = planOf("q281_referential_audit")
    val scans = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*"))
    // lineitem x1 + orders x2 + customer x2 — the per-scenario loop form
    // was 12; the regression this pins is a scenario re-scan of lineitem
    assert(scans <= 5, s"expected <= 5 scans, got $scans:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q282: percentile bands are single-scan with one cumulative window pass") {
    val plan = planOf("q282_daily_percentile_bands")
    val scans = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*"))
    assert(scans == 1, plan)
    assert(plan.contains("partial_count") || plan.contains("partial_sum"), plan)
  }

  test("q283: the reservoir is a TakeOrdered heap, never a corpus shuffle") {
    val plan = planOf("q283_weighted_reservoir")
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // no exchange before the top-k: the key computation is map-side
    val scans = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*"))
    assert(scans <= 2, s"expected <= 2 scans (keys + lang join), got $scans:\n$plan")
  }

  test("q178: BM25 never shuffles the corpus — stats ride a 1-row broadcast") {
    val plan = planOf("q178_bm25")
    // per-doc tf/dl are map-side; the only join is the broadcast stats
    // cross; the final top-20 is TakeOrdered (no global sort exchange)
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    val scans = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*"))
    assert(scans <= 2, s"expected <= 2 scans (docs + stats), got $scans:\n$plan")
  }

  test("q301: k-center rounds are eager — the final plan scans no parquet") {
    // all k distributed argmax passes ran eagerly against the
    // localCheckpointed embedding frame; the emitted 8-row result must
    // not drag the scan lineage behind it (the q176/q180/q193 pattern)
    val plan = planOf("q301_kcenter_coreset")
    val scans = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*"))
    assert(scans == 0, s"expected 0 scans in the post-iteration plan:\n$plan")
  }

  test("q302: label audit joins are broadcast; no corpus cartesian beyond q25's") {
    val plan = planOf("q302_knn_label_audit")
    // bruteForceTopK's intentional query-side broadcast cross is the ONLY
    // nested-loop join; the two label joins must be broadcast hash joins
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("partial_count"), plan)
  }

  test("q303: forget cascade is equi-joins only; counts partial-aggregate") {
    val plan = planOf("q303_forget_sweep")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("partial_count"), plan)
  }

  test("q304: decay scoring is one scan + grouped agg + 1-row totals broadcast") {
    val plan = planOf("q304_decayed_counts")
    // the totals cross is the intentional 1-row broadcast (q178 pattern);
    // the grouped frame is checkpointed so the totals never re-scan events
    val scans = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*"))
    assert(scans == 0, s"expected 0 scans in the post-checkpoint plan, got $scans:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"), plan)
  }

  test("q305: survivorship shuffles on (cluster, attr) keys, never nested loops") {
    val plan = planOf("q305_golden_record")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("partial_count"), plan)
  }

  test("q306: item-CF passes are equi-joins; champion cap bounds the fanout") {
    val plan = planOf("q306_item_cf_recs")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    // the champion cap runs on the engine's bounded-heap operator, not a
    // full per-key window sort (r12 verdict #3)
    assert(plan.contains("TopKPerKey"), plan)
  }

  test("q306: scoring joins run SHUFFLED-HASH by choice; sims tree is pinned") {
    // r15 opt round: the champion-scoring join and the seen-items
    // anti-join carry shuffle_hash hints (measured 15-20% over
    // sort-merge — no per-side sorts of the 12M-row expansion), and the
    // similarity edge list is checkpointed before symmetrization so the
    // pair-mine tree appears ONCE (static plan 72 -> 12 exchanges).
    // Scoped to the hinted joins (r15 ADVICE #3): >= 2 shuffled-hash
    // joins must appear — a plan-wide SortMergeJoin ban would break on
    // any legitimately-SMJ future join or AQE stats shift.
    val plan = planOf("q306_item_cf_recs")
    val shj = plan.linesIterator.count(_.contains("ShuffledHashJoin"))
    assert(shj >= 2, s"expected >= 2 ShuffledHashJoin (the hinted scoring " +
      s"joins), got $shj:\n$plan")
    assert(!plan.contains("Scan parquet"),
      s"po/sims must come from their checkpoints, not a re-scan:\n$plan")
  }

  test("q306: the (u, item) scoring key is packed into one long when ids allow") {
    // r16 opt round: with ids runtime-proven < 2^31 (true at every test
    // SF), the expansion aggregation and the seen-items anti-join key on
    // shiftleft(u, 32) | item — one 8-byte key slot instead of two
    // (UnsafeRow pads every field to 8 bytes, so PACKING is the
    // narrowing that moves shuffle bytes, not a long->int cast)
    val plan = planOf("q306_item_cf_recs")
    assert(plan.contains("shiftleft"), s"packed scoring key missing:\n$plan")
  }

  test("q173: first-occurrence dedup is a hash aggregate, not a window sort") {
    // r15 opt round: min(struct(id, pos)) per distinct segment — partial
    // aggregation collapses duplicate segments map-side BEFORE the
    // exchange and no per-group sort runs; a Window here means the
    // row_number form crept back (it shuffles every occurrence)
    val plan = planOf("q173_paragraph_dedup")
    assert(!plan.contains(") Window"), plan)
    assert(plan.contains("partial_min") || plan.contains("min(struct"), plan)
  }

  test("q308: sequential-pair join is user-keyed equi, never a cartesian") {
    val plan = planOf("q308_seq_pairs")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("partial_count"), plan)
  }

  test("q309: rule metrics ride broadcast support joins, never nested loops") {
    val plan = planOf("q309_assoc_rules")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q310: truss rounds are eager — final measurement reads no parquet") {
    // the 6 peel rounds ran against localCheckpointed frames; the final
    // support pass joins checkpointed edges only (kCorePeel pattern)
    val plan = planOf("q310_ktruss")
    val scans = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*"))
    assert(scans == 0, s"expected 0 scans post-peel, got $scans:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q311/q313: lattice and leaderboard math ride bounded driver frames") {
    // the corpus work (mask join / rank join) ran eagerly at collect
    // time; the emitted frames are 4 and 20 rows with no scan lineage
    Seq("q311_shapley_attribution", "q313_bradley_terry").foreach { q =>
      val plan = planOf(q)
      val scans = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*"))
      assert(scans == 0, s"$q: expected 0 scans, got $scans:\n$plan")
    }
  }

  test("q312: projection is map-side; one pair equi-join, no cartesian") {
    val plan = planOf("q312_jl_projection")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    val scans = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*"))
    assert(scans == 2, s"expected 2 embedding scans, got $scans:\n$plan")
  }

  test("q314: one aggregation per declared FD — exactly 8 scans, no joins") {
    val plan = planOf("q314_fd_audit")
    val scans = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*"))
    assert(scans == 8, s"expected 8 scans (one per FD), got $scans:\n$plan")
    assert(!plan.contains("Join"), plan)
  }

  test("q315: decomposition is one scan + one bounded window + partials") {
    val plan = planOf("q315_seasonal_decompose")
    val scans = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*"))
    assert(scans == 1, s"expected 1 events scan, got $scans:\n$plan")
    assert(plan.contains("partial_count"), plan)
    assert(plan.contains("Window"), plan)
  }

  test("q317-q323: insight wave plan shapes") {
    // q317/q319/q320/q323: the corpus stage lands in a localCheckpoint
    // (20-bucket / cell-count / first-adoption / top-k frames) — the
    // emitted plan must not drag scan lineage; q321/q322 are bounded
    // driver emits. The bounded 20x20 range joins of q317 are the
    // intentional q25-class nested loops, asserted bounded by the
    // checkpoint, not forbidden.
    Seq("q317_isotonic_calibration", "q319_dunning_keyness",
      "q320_adoption_cascade", "q321_markov_stationary",
      "q322_expected_absorption", "q323_hill_tail_index").foreach { q =>
      val plan = planOf(q)
      val scans = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*"))
      assert(scans == 0, s"$q: expected 0 scans post-checkpoint, got $scans:\n$plan")
    }
    // q318 is the one single-pass scan query of the wave
    val p318 = planOf("q318_capture_recapture")
    val scans318 = p318.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*"))
    assert(scans318 == 1, s"expected 1 customer scan, got $scans318:\n$p318")
    assert(p318.contains("partial_count"), p318)
    // q320's wave joins must stay family-keyed equi, never a cartesian
    assert(!planOf("q320_adoption_cascade").contains("CartesianProduct"))
  }

  test("q325-q327: trend/zipf/abc wave plan shapes") {
    // q325's pair frame and q327's classed frame ride checkpoints/pins —
    // no scan lineage in the emitted plan; q326 is one scan + one
    // bounded 200-row window
    Seq("q325_mann_kendall", "q327_abc_classes").foreach { q =>
      val plan = planOf(q)
      val scans = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*"))
      assert(scans == 0, s"$q: expected 0 scans, got $scans:\n$plan")
      assert(!plan.contains("CartesianProduct"), plan)
    }
    // q326: the top-200 cut runs as TakeOrdered pre-checkpoint (never a
    // SinglePartition window over the corpus vocabulary); the emitted
    // plan is the bounded 200-row tail
    val p326 = planOf("q326_zipf_slope")
    val scans326 = p326.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*"))
    assert(scans326 == 0, s"expected 0 scans post-checkpoint, got $scans326:\n$p326")
  }

  test("q328-q331: validity/smoothing/coding/CPM wave plan shapes") {
    // q328's scatter/pair passes ride checkpoints; q329/q330/q331 are
    // bounded driver emits (the corpus work ran at collect time)
    Seq("q328_davies_bouldin", "q329_holt_linear",
      "q330_huffman_lengths", "q331_critical_path").foreach { q =>
      val plan = planOf(q)
      val scans = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*"))
      assert(scans == 0, s"$q: expected 0 scans, got $scans:\n$plan")
      assert(!plan.contains("CartesianProduct"), plan)
    }
  }

  test("q332-q334: selection/batching/leakage wave plan shapes") {
    // q332 rides a checkpoint (winner pass + census); q333's two
    // policies each run the two-phase global row number — no
    // SinglePartition exchange anywhere; q334's pair pass is the
    // bucketed LSH equi-join, never a cartesian
    val p332 = planOf("q332_best_of_n")
    assert(p332.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*")) == 0, p332)
    // q333: the only SinglePartition exchanges are the FINAL 1-row
    // policy aggregates (carrying ~numPartitions partial rows — fine at
    // any scale); the hazard shape is a GLOBAL row_number window, which
    // the two-phase ranking avoids: every Window must be bucket-keyed
    val p333 = planOf("q333_padding_waste")
    assert(p333.contains("partial_sum"), p333)
    p333.linesIterator.filter(_.trim.startsWith("Arguments: [__bucket").unary_!)
      .filter(_.contains("windowspecdefinition"))
      .foreach(l => assert(l.contains("__bucket"), s"global window in q333:\n$l"))
    val p334 = planOf("q334_split_leakage")
    assert(!p334.contains("CartesianProduct") &&
      !p334.contains("BroadcastNestedLoopJoin"), p334)
  }

  test("q335: the custom operator plans as partial/final heaps, never a Window") {
    val plan = planOf("q335_topk_operator")
    assert(plan.contains("TopKPerKeyPartial"), plan)
    assert(plan.contains("TopKPerKeyFinal"), plan)
    // no per-group full sort anywhere between scan and the final ORDER BY
    assert(!plan.contains("Window"), plan)
    val scans = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*"))
    assert(scans == 1, s"expected 1 events scan, got $scans:\n$plan")
  }

  test("q339/q344: the as-of merge exec plans per-side exchanges, never a Window") {
    for (q <- Seq("q339_asof_merge_operator", "q344_asof_merge_forward")) {
      val plan = planOf(q)
      assert(plan.contains("AsOfMergeJoin"), s"$q:\n$plan")
      assert(!plan.contains("Window"), s"$q:\n$plan")
      // no range-join blowup: never a nested-loop/cartesian form
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"), s"$q:\n$plan")
      val scans = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*"))
      assert(scans == 2, s"$q: expected 2 events scans (one per side), got $scans:\n$plan")
    }
  }

  test("q341/q342: rank modes still plan as the partial/final pair, never a Window") {
    for (q <- Seq("q341_topk_rank_mode", "q342_topk_dense_rank_mode")) {
      val plan = planOf(q)
      assert(plan.contains("TopKPerKeyPartial"), s"$q:\n$plan")
      assert(plan.contains("TopKPerKeyFinal"), s"$q:\n$plan")
      assert(!plan.contains("Window"), s"$q:\n$plan")
      val scans = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*"))
      assert(scans == 1, s"$q: expected 1 events scan, got $scans:\n$plan")
    }
  }

  test("q338: latency readout rides the checkpointed per-user frame — 0 scans") {
    val plan = planOf("q338_convert_latency")
    val scans = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*"))
    assert(scans == 0, s"expected 0 scans post-checkpoint, got $scans:\n$plan")
  }

  test("q316: spectrum is one scan + one explode; aggs are partial") {
    val plan = planOf("q316_good_turing")
    val scans = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*"))
    assert(scans == 1, s"expected 1 documents scan, got $scans:\n$plan")
    val gens = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Generate"))
    assert(gens == 1, s"expected 1 Generate, got $gens:\n$plan")
    assert(plan.contains("partial_count"), plan)
  }

  test("q353/q354: broadcast as-of probe — zero join exchanges, one fact scan") {
    // the right side is indexed+broadcast EAGERLY at build time, so the
    // returned plan is pure probe: scan → filter/project(asof_lookup) →
    // presentation sort. The ONLY exchange allowed is the final ORDER
    // BY's range partitioning; an Exchange hash(...) here would mean the
    // fact side started shuffling again — the exact cost this rung exists
    // to avoid.
    for (q <- Seq("q353_asof_broadcast", "q354_asof_broadcast_dim")) {
      val plan = planOf(q)
      assert(plan.contains("asof_lookup"), s"$q:\n$plan")
      assert(!plan.contains("Window") && !plan.contains("AsOfMergeJoin"),
        s"$q:\n$plan")
      val exchanges = plan.linesIterator
        .count(_.trim.matches("\\(\\d+\\) Exchange.*"))
      assert(exchanges == 1, s"$q: expected only the ORDER BY exchange:\n$plan")
      assert(plan.contains("rangepartitioning") &&
        !plan.contains("hashpartitioning"),
        s"$q: the one exchange must be the presentation sort:\n$plan")
      val scans = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*"))
      assert(scans == 1, s"$q: expected 1 fact scan, got $scans:\n$plan")
    }
  }

  test("q383: the auto dispatch lands on the zero-shuffle broadcast rung") {
    // the calendar dim sits far under the threshold — asofAuto must pick
    // the broadcast probe (no merge exec, no window), and the fact side
    // must not shuffle (one presentation-sort exchange only)
    val plan = planOf("q383_asof_auto_dispatch")
    assert(plan.contains("asof_lookup"), plan)
    assert(!plan.contains("AsOfMergeJoin") && !plan.contains("Window"), plan)
    val exchanges = plan.linesIterator
      .count(_.trim.matches("\\(\\d+\\) Exchange.*"))
    assert(exchanges == 1, s"expected only the ORDER BY exchange:\n$plan")
  }

  test("q387: FastSS blocking is equi-join only — no cartesian, no BNLJ") {
    val plan = planOf("q387_edit_distance_join")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q384/q389: bounded-frame clustering/search — no cartesian joins") {
    // q384's CC runs on the <=100-cell core graph; q389's LUT is a
    // broadcast — neither may plan a cartesian or nested-loop join
    for (q <- Seq("q384_grid_dbscan", "q389_pq_adc_search")) {
      val plan = planOf(q)
      assert(!plan.contains("CartesianProduct"), s"$q:\n$plan")
    }
  }

  test("q391: PPR iterations are checkpointed — no parquet rescans") {
    val plan = planOf("q391_personalized_pagerank")
    val scans = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*"))
    assert(scans == 0, s"expected 0 scans post-checkpoint, got $scans:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q392/q393: rank-correlation moments ride equi-joins, no cartesian") {
    for (q <- Seq("q392_spearman", "q393_kendall_tau")) {
      val plan = planOf(q)
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"), s"$q:\n$plan")
      assert(plan.contains("partial_sum"), s"$q:\n$plan")
    }
  }

  test("q218: forward as-of routes through the broadcast probe, join adds no shuffle") {
    // asofAuto with tolerance + tie-break (round 14): the join itself
    // must stay a map-side asof_lookup probe — the only exchanges are
    // the downstream groupBy's hash and the ORDER BY's range
    val plan = planOf("q218_asof_forward")
    assert(plan.contains("asof_lookup"), plan)
    assert(!plan.contains("AsOfMergeJoin") && !plan.contains("Window"), plan)
    val exchanges = plan.linesIterator
      .count(_.trim.matches("\\(\\d+\\) Exchange.*"))
    assert(exchanges == 2, s"expected agg + ORDER BY exchanges only:\n$plan")
  }

  test("q390: no corpus-wide rank window — every Window sits on an aggregated frame") {
    // the r13 verdict-#3 rewrite: candidates come from the engine's own
    // TopKPerKey prefilter (Rrf.candidates, plan pinned in RrfSpec; the
    // <= 160-row result is checkpointed, so the final plan reads RDDs,
    // never parquet) and every Window left in the plan must sit ABOVE an
    // aggregate — i.e. over a bounded distinct-value/candidate frame,
    // never a raw corpus scan (the shape the old form had)
    val df = SparkEntry.queries("q390_rrf_fusion")(spark, sf)
    val plan = df.queryExecution.sparkPlan
    val formatted = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!formatted.contains("Scan parquet"),
      s"corpus must be read once at checkpoint build:\n$formatted")
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.nonEmpty, s"rank reconstruction windows missing:\n$formatted")
    windows.foreach { w =>
      val bounded = w.collectFirst {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }.isDefined
      assert(bounded, s"Window over an unaggregated (corpus-sized) input:\n$w")
    }
  }

  test("q403: nearest as-of dispatches to the broadcast probe, not the window form") {
    // round 14: long-backed nearest rides the physical ladder — the plan
    // must be the zero-shuffle probe (two binary searches per row), with
    // no union+window and no merge exec at this dim size
    val plan = planOf("q403_asof_nearest")
    assert(plan.contains("asof_lookup"), plan)
    assert(!plan.contains("Window") && !plan.contains("AsOfMergeJoin"), plan)
    val exchanges = plan.linesIterator
      .count(_.trim.matches("\\(\\d+\\) Exchange.*"))
    assert(exchanges == 1, s"expected only the ORDER BY exchange:\n$plan")
  }

  test("q426: forced-merge nearest takes the merge exec's cursor-head path") {
    // round 15 (r14 verdict #7): the conf-forced twin of q403 — same
    // nearest semantics, opposite physical route. The plan must carry
    // the merge exec and NEITHER the union+window form nor the
    // broadcast probe's lookup expression, with no range-join blowup.
    val plan = planOf("q426_asof_nearest_merge_route")
    assert(plan.contains("AsOfMergeJoin"), plan)
    assert(!plan.contains("Window") && !plan.contains("asof_lookup"), plan)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q405: DSIR scores via bucket-stat broadcasts over the checkpointed gram frame") {
    // the corpus is exploded ONCE (localCheckpoint); the 256-row bucket
    // log-ratio table and its totals must come back as BROADCAST joins
    // (a shuffled rejoin of corpus-grams x 256 stats is the regression
    // this pins against), and the top-10 emit must be
    // TakeOrderedAndProject, never a global sort
    val plan = planOf("q405_dsir_weights")
    assert(!plan.contains("Scan parquet"),
      s"grams must come from the checkpoint, not a re-scan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q413: geometric median runs its iterations eagerly — tiny final plan") {
    // all three Weiszfeld iterations execute at build time against the
    // checkpointed coordinate frame; the returned plan reads the final
    // 64-row checkpoint (the q176/q180 iterative-loop class) — a
    // parquet scan or join here would mean the recurrence leaked into
    // the lazy plan and re-executes per action
    val plan = planOf("q413_geometric_median")
    assert(!plan.contains("Scan parquet"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("q429: JW runs INSIDE the broadcast block-join, names deduped first") {
    // the quadratic step must be (a) over the distinct-name frame, fed
    // by the shared checkpoint, (b) a BROADCAST hash join on the block
    // key — never a shuffled or nested-loop pair build — and (c) with
    // the jaro_winkler similarity evaluated in the join condition, so
    // sub-threshold pairs die inside the join instead of materializing
    val plan = planOf("q429_jaro_winkler_join")
    assert(!plan.contains("Scan parquet"),
      s"name frame must come from the checkpoint, not a re-scan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"), plan)
    val joinCond = plan.linesIterator.find(_.contains("Join condition")).getOrElse("")
    assert(joinCond.contains("jaro_winkler"),
      s"JW must be in the join condition, got: $joinCond\n$plan")
  }

  test("q430: WAND escalation ran eagerly — final plan is the candidate frame only") {
    // champion selection, theta probes and the bound comparison all
    // execute at build time (the q413 eager-loop class); the returned
    // plan must read the scored-candidate checkpoint — a parquet scan
    // or a per-term window here would mean the escalation loop leaked
    // into the lazy plan
    val plan = planOf("q430_wand_topk")
    assert(!plan.contains("Scan parquet"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("q431: mutual join is an equi-join over the O(n*k) rank checkpoint") {
    // the cartesian sim frame and its per-query rank window execute
    // eagerly into the localCheckpoint (they never appear in the lazy
    // plan); what remains must be an EQUI-join of the two k-bounded
    // rank frames on the flipped key — a nested-loop or cartesian here
    // would mean the mutual pairing degenerated to all-pairs again
    val plan = planOf("q431_mutual_knn")
    assert(!plan.contains("Scan parquet"),
      s"rank frame must come from the checkpoint:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"), plan)
  }

  test("q432: sketches are keyed windows; the day filter is a broadcast semi-join") {
    val plan = planOf("q432_kmv_intersection")
    assert(plan.contains("windowspecdefinition(grp") ||
      plan.contains("windowspecdefinition(ta"), plan)
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q433: z-moments ride ONE broadcast stats row over the gridded checkpoint") {
    val plan = planOf("q433_burrows_delta")
    assert(!plan.contains("Scan parquet"),
      s"gridded freqs must come from the checkpoint:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q434: span frames come from the shared checkpoint, pair joins are equi") {
    val plan = planOf("q434_allen_census")
    assert(!plan.contains("Scan parquet"),
      s"event projection must come from the checkpoint:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"), plan)
    assert(plan.contains("partial_count"), plan)
  }

  test("q435: the KN model rejoin is keyed, never cartesian") {
    // four count frames + the model rejoin all derive from the two
    // checkpoints; every join must be an equi-join on w1/w2 (a real
    // LM's bigram table outgrows broadcast, so the SMJ/shuffle shape
    // is the one that survives scale — AQE may still pick broadcast
    // at fixture size, both are keyed)
    val plan = planOf("q435_kneser_ney")
    assert(!plan.contains("Scan parquet"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the only nested-loop allowed is the 1-row btot scalar broadcast
    // (formatted explain names each operator twice: tree + detail)
    val nlj = plan.linesIterator
      .count(_.trim.matches("\\(\\d+\\) BroadcastNestedLoopJoin.*"))
    assert(nlj <= 1, s"expected at most the scalar-btot NLJ, got $nlj:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"), plan)
  }

  test("q436: exact verify is an IN-filtered agg over the checkpoint") {
    val plan = planOf("q436_cms_heavy_change")
    assert(!plan.contains("Scan parquet"), plan)
    assert(plan.contains("token#") && plan.contains(" IN "), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q437: fingerprint pair stage joins posting lists, never docs") {
    // gram hashing, window selection and the df cap all feed from
    // checkpoints; the final plan must be equi-joins on h / doc ids
    // with partial aggs — a cartesian or nested-loop here would mean
    // the pair stage degenerated to doc x doc
    val plan = planOf("q437_winnowing")
    assert(!plan.contains("Scan parquet"), plan)
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"), plan)
    assert(plan.contains("partial_count"), plan)
  }

  test("q438: the tournament runs on the 30-row frame, emit is TakeOrdered") {
    // the pair enumeration is a DESIGNED cross product of two 30-row
    // day frames (documented exact baseline); what must hold is that
    // it feeds from the checkpointed point frame (no event rescans)
    // and the top-5 emit never globally sorts
    val plan = planOf("q438_consensus_line_fit")
    assert(!plan.contains("Scan parquet"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q439: one keyed agg, scan reads only the three audit columns") {
    val plan = planOf("q439_l_diversity")
    assert(plan.contains("partial_count"), plan)
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("c_nationkey") && readSchema.contains("c_acctbal")
      && !readSchema.contains("c_name"), readSchema)
  }

  test("q440: kernel blocks feed from the cohort checkpoint, no rescans") {
    // the three pair blocks are the documented O(n^2) exact baseline
    // over cohort slices; what must hold is one checkpoint feed (no
    // embeddings rescans per block) and partial aggregation of the
    // snapped kernel sums before any exchange
    val plan = planOf("q440_embedding_mmd")
    assert(!plan.contains("Scan parquet"), plan)
    assert(plan.contains("partial_sum"), plan)
  }

  test("q361: ONE documents scan, automaton probe in-line, partial aggs") {
    val plan = planOf("q361_blocklist_scan")
    assert(plan.contains("multi_pattern_count"), plan)
    val scans = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet.*"))
    assert(scans == 1, s"expected 1 documents scan, got $scans:\n$plan")
    assert(plan.contains("partial_sum"), plan)
    // text must be the only column read — the scan feeding a
    // whole-corpus blocklist sweep reading anything else is wasted IO
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("text") && !readSchema.contains("lang"), readSchema)
  }
}
