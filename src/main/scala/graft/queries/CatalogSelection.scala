package graft.queries

import graft.functions.{VectorFunctions => VF}
import graft.ops.{Baskets, ChangeCapture, Similarity}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import Catalog._

/** Round-11 third wave (q301+): data-selection and governance operators —
  * greedy k-center coreset selection (the diversity complement of q286's
  * SemDeDup redundancy pruning), Cleanlab-style kNN label auditing over
  * the embeddings' `label` column, a GDPR right-to-be-forgotten cascade
  * sweep, and exponential time-decay scoring with exact halving weights.
  *
  * Cross-engine discipline follows the established families: counts and
  * weights are exact 64-bit integers; cosine distances are computed with
  * the identical sequential-sum shape on both sides ([[VF.cosine]] /
  * [[Catalog.cosineSql]], the q24/q25 pairing); iterated argmax steps
  * (k-center) break ties on `vec_id` so both engines walk the same
  * center sequence; doubles are rounded only at emit.
  *
  * One slice of the query catalog; entry ORDER is load-bearing (see
  * [[CatalogTraining]]).
  */
private[queries] object CatalogSelection {

  /** q301's coreset size. Bounded and small by design: greedy k-center is
    * k sequential passes (one distributed argmax each), so k is a knob the
    * caller pays for linearly — 8 exercises the full mechanism while
    * keeping the unrolled oracle CTE chain readable.
    */
  private val KCenterK = 8

  /** q302's neighborhood size (majority over an odd k avoids 2-2 splits
    * at the top of the vote table, though the (count DESC, label ASC)
    * tie-break is total regardless).
    */
  private val KnnAuditK = 5

  /** q303's erasure cohort: every 97th customer / user key. Prime and
    * sparse so the cascade touches ~1% of each table at every sf.
    */
  private val ForgetMod = 97L

  /** q304's half-life geometry: weight_e6 = 1e6 >> (age_days div HalfLifeDays),
    * capped at MaxHalvings halvings — exact integers in both engines (the
    * shift constants are Scala-generated and embedded in the Column chain
    * and the oracle CASE alike). Long-overflow headroom: weights ≤ 1e6, so
    * the share numerator d6·1e6 stays under 9.2e18 up to ~9e6 events per
    * type; a 100 TB deployment swaps the share arithmetic to
    * decimal(38,0), same as the cents() convention.
    */
  private val HalfLifeDays = 7L
  private val MaxHalvings = 9
  private val DecayWeightsE6: Seq[Long] = (0 to MaxHalvings).map(k => 1000000L >> k)

  /** Generated oracle for q301: the greedy chain unrolled as CTEs —
    * c1 seeds at min(vec_id); m_i carries each vector's min cosine
    * distance to the first i centers; s_{i+1} is the argmax row (ties to
    * the smaller vec_id). The cosine is [[Catalog.cosineSql]] verbatim so
    * the double arithmetic is shape-identical to [[VF.cosine]]. Every CTE
    * is AS MATERIALIZED: DuckDB inlines plain CTEs, and inlining a chain
    * where m_i references m_{i-1} several times re-evaluates the whole
    * prefix per reference — exponential blowup in k (observed: the plain
    * form never finished at 500 rows; materialized it is instant).
    */
  private def kcenterOracleSql: String = {
    def centerEmb(cte: String, idCol: String) =
      s"(SELECT e2.embedding FROM embeddings e2, $cte WHERE e2.vec_id = $cte.$idCol)"
    def dist(b: String) = s"(1 - ${cosineSql("e.embedding", b)})"
    val ctes = scala.collection.mutable.ArrayBuffer[String]()
    ctes += "c1 AS MATERIALIZED (SELECT min(vec_id) AS vid FROM embeddings)"
    ctes += s"""m1 AS MATERIALIZED (SELECT e.vec_id, ${dist(centerEmb("c1", "vid"))} AS d
                FROM embeddings e)"""
    for (i <- 2 to KCenterK) {
      val prev = s"m${i - 1}"
      ctes += s"s$i AS MATERIALIZED (SELECT vec_id, d FROM $prev ORDER BY d DESC, vec_id ASC LIMIT 1)"
      if (i < KCenterK)
        ctes += s"""m$i AS MATERIALIZED (SELECT e.vec_id,
                     least($prev.d, ${dist(centerEmb(s"s$i", "vec_id"))}) AS d
                   FROM $prev JOIN embeddings e ON e.vec_id = $prev.vec_id)"""
    }
    val rows = (1 to KCenterK).map { i =>
      if (i == 1)
        "SELECT CAST(1 AS BIGINT) AS step, (SELECT vid FROM c1) AS vec_id, CAST(NULL AS DOUBLE) AS radius"
      else
        s"SELECT CAST($i AS BIGINT) AS step, (SELECT vec_id FROM s$i) AS vec_id, floor((SELECT d FROM s$i) * 1000000 + 0.5) / 1000000.0 AS radius"
    }.mkString(" UNION ALL ")
    s"WITH ${ctes.mkString(", ")} $rows ORDER BY step"
  }

  def entries: Seq[(String, QueryDef)] = Seq(

    // Greedy k-center coreset (farthest-point traversal) — the diversity
    // selector of active-learning / coreset literature (Sener & Savarese
    // 2018): pick the seed, then k-1 times the point FARTHEST (cosine
    // distance) from the chosen set. Each round is ONE distributed pass
    // (codegen'd cosine against a literal center + a 1-row TakeOrdered);
    // the driver holds only the k centers (k·dim floats), and the
    // running min-distance column is localCheckpointed so round i's scan
    // never replays rounds 1..i-1 — the same bounded-iteration shape as
    // the graph family. radius is the selected point's distance at
    // selection time, i.e. the covering radius of the PREVIOUS set —
    // provably non-increasing (spec-pinned).
    "q301_kcenter_coreset" -> QueryDef(
      fn = (s, d) => {
        val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
          .localCheckpoint(eager = true) // k rounds share one materialized scan
        val seedId = emb.agg(min("vec_id")).head().getLong(0) // bounded scalar
        def embOf(id: Long): org.apache.spark.sql.Column = {
          // bounded collect: ONE center row (k·dim floats total per run)
          val a = emb.filter(col("vec_id") === id)
            .head().getAs[scala.collection.Seq[Float]]("embedding")
          array(a.toSeq.map(lit): _*)
        }
        var picked = Vector[(Long, Long, Option[Double])]((1L, seedId, None))
        var cur = emb.withColumn("__mind",
          lit(1.0) - VF.cosine(col("embedding"), embOf(seedId)))
          .localCheckpoint(eager = true)
        for (i <- 2 to KCenterK) {
          val top = cur.orderBy(col("__mind").desc, col("vec_id").asc)
            .select(col("vec_id"), col("__mind")).head() // bounded: 1 row
          val (vid, rad) = (top.getLong(0), top.getDouble(1))
          picked :+= ((i.toLong, vid, Some(rad)))
          if (i < KCenterK)
            cur = cur.withColumn("__mind", least(col("__mind"),
              lit(1.0) - VF.cosine(col("embedding"), embOf(vid))))
              .localCheckpoint(eager = true)
        }
        val rows = picked.map { case (st, vid, rad) =>
          Row(st, vid, rad.map(Double.box).orNull)
        }
        val schema = StructType(Seq(
          StructField("step", LongType, nullable = false),
          StructField("vec_id", LongType, nullable = false),
          StructField("radius", DoubleType, nullable = true)))
        s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema)
          .select(col("step"), col("vec_id"),
            // floor-snap rounding, not round(): library half-even/half-up
            // tie-break semantics differ across engines (verify-skill rule)
            (floor(col("radius") * 1000000 + 0.5) / 1000000.0).as("radius"))
          .orderBy("step")
      },
      oracle = Some(kcenterOracleSql)),

    // Cleanlab-style label audit: each vector's k nearest neighbors
    // (exact cosine, self excluded) vote; the majority label (ties:
    // count DESC, label ASC) is compared to the vector's own label and
    // the (label, knn_label) confusion matrix is emitted — off-diagonal
    // rows are the suspected-mislabel cohorts a curation pass would
    // re-queue for annotation. Rides q25's bruteForceTopK (queries
    // broadcast, corpus un-shuffled, per-query partial top-k); at 100 TB
    // the candidate generator swaps to q44's IVF buckets, the vote/audit
    // stages are unchanged.
    "q302_knn_label_audit" -> QueryDef(
      fn = (s, d) => {
        val e = t(s, d, "embeddings")
        val lab = e.select(col("vec_id"), col("label").cast("long").as("label"))
        val knn = Similarity.bruteForceTopK(e, e, KnnAuditK)
        val votes = knn
          .join(broadcast(lab.select(col("vec_id").as("neighbor_id"),
            col("label").as("__lb"))), "neighbor_id")
          .groupBy(col("query_id"), col("__lb"))
          .agg(count(lit(1)).as("__c"))
        val maj = votes
          .withColumn("__rk", row_number().over(Window.partitionBy("query_id")
            .orderBy(col("__c").desc, col("__lb").asc)))
          .filter(col("__rk") === 1)
          .select(col("query_id").as("vec_id"), col("__lb").as("knn_label"))
        maj.join(broadcast(lab), "vec_id")
          .groupBy(col("label"), col("knn_label"))
          .agg(count(lit(1)).as("n"))
          .withColumn("is_suspect", col("label") =!= col("knn_label"))
          .orderBy("label", "knn_label")
      },
      oracle = Some(s"""
        WITH p AS (
          SELECT a.vec_id AS qa, b.vec_id AS qb, b.label AS lb,
                 ${cosineSql("a.embedding", "b.embedding")} AS c
          FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
        r AS (SELECT qa, lb,
                     row_number() OVER (PARTITION BY qa ORDER BY c DESC, qb ASC) AS rk
              FROM p),
        v AS (SELECT qa, lb, count(*) AS c FROM r WHERE rk <= $KnnAuditK GROUP BY 1, 2),
        m AS (SELECT qa, lb AS knn_label,
                     row_number() OVER (PARTITION BY qa ORDER BY c DESC, lb ASC) AS mrk
              FROM v)
        SELECT CAST(e.label AS BIGINT) AS label, CAST(m.knn_label AS BIGINT) AS knn_label,
               count(*) AS n, e.label <> m.knn_label AS is_suspect
        FROM m JOIN embeddings e ON m.qa = e.vec_id
        WHERE m.mrk = 1
        GROUP BY e.label, m.knn_label ORDER BY label, knn_label""")),

    // GDPR right-to-be-forgotten cascade sweep: a deterministic erasure
    // cohort (every ${ForgetMod}th customer key / user id) is expanded
    // through the FK chain — customer → orders → lineitem, plus the
    // events stream at user grain — and the audit reports per-table
    // before/forget/after counts. Plan shape: the cohort flows through
    // JOINS (left join + count(matched)), not re-derived predicates, so
    // the same code serves an explicit uploaded erasure list; no
    // broadcast hints — at 100 TB a 1% cohort is itself large, and AQE
    // picks the join strategy per scale.
    "q303_forget_sweep" -> QueryDef(
      fn = (s, d) => {
        val forget = t(s, d, "customer")
          .filter(col("c_custkey") % ForgetMod === 0)
          .select(col("c_custkey").as("__k"))
        val cust = t(s, d, "customer")
          .join(forget, col("c_custkey") === col("__k"), "left")
          .agg(count(lit(1)).as("n_before"), count(col("__k")).as("n_forget"))
          .select(lit("customer").as("table_name"), col("n_before"), col("n_forget"))
        val fOrders = t(s, d, "orders")
          .join(forget, col("o_custkey") === col("__k"), "left")
        val orders = fOrders
          .agg(count(lit(1)).as("n_before"), count(col("__k")).as("n_forget"))
          .select(lit("orders").as("table_name"), col("n_before"), col("n_forget"))
        val fOrderKeys = fOrders.filter(col("__k").isNotNull)
          .select(col("o_orderkey").as("__ok"))
        val li = t(s, d, "lineitem")
          .join(fOrderKeys, col("l_orderkey") === col("__ok"), "left")
          .agg(count(lit(1)).as("n_before"), count(col("__ok")).as("n_forget"))
          .select(lit("lineitem").as("table_name"), col("n_before"), col("n_forget"))
        val ev = t(s, d, "events")
          .agg(count(lit(1)).as("n_before"),
            count(when(col("user_id") % ForgetMod === 0, 1)).as("n_forget"))
          .select(lit("events").as("table_name"), col("n_before"), col("n_forget"))
        cust.unionAll(orders).unionAll(li).unionAll(ev)
          .select(col("table_name"), col("n_before"), col("n_forget"),
            (col("n_before") - col("n_forget")).as("n_after"))
          .orderBy("table_name")
      },
      oracle = Some(s"""
        WITH f AS (SELECT c_custkey AS k FROM customer WHERE c_custkey % $ForgetMod = 0),
        fo AS (SELECT o_orderkey FROM orders JOIN f ON o_custkey = k),
        rows_ AS (
          SELECT 'customer' AS table_name,
                 (SELECT count(*) FROM customer) AS n_before,
                 (SELECT count(*) FROM f) AS n_forget
          UNION ALL
          SELECT 'orders', (SELECT count(*) FROM orders), (SELECT count(*) FROM fo)
          UNION ALL
          SELECT 'lineitem', (SELECT count(*) FROM lineitem),
                 (SELECT count(*) FROM lineitem JOIN fo ON l_orderkey = o_orderkey)
          UNION ALL
          SELECT 'events', (SELECT count(*) FROM events),
                 (SELECT count(*) FROM events WHERE user_id % $ForgetMod = 0))
        SELECT table_name, n_before, n_forget, n_before - n_forget AS n_after
        FROM rows_ ORDER BY table_name""")),

    // Exponential time-decay scoring with EXACT halving weights: each
    // event contributes weight_e6 = 1e6 >> (age_days div ${HalfLifeDays}) toward its
    // type (a 7-day half-life at day granularity — the freshness score
    // of trending/feed-ranking systems), so the "decayed count" is an
    // exact integer sum in both engines, no exp()/pow() doubles anywhere.
    // dev_e6 (decayed share minus plain share, e6 grain) isolates which
    // event types skew recent vs stale; one scan + one 5-group agg + a
    // 1-row totals broadcast.
    "q304_decayed_counts" -> QueryDef(
      fn = (s, d) => {
        val ev = t(s, d, "events")
        val anchor = ev.agg(max(unix_millis(col("ts")))).head().getLong(0) // bounded scalar
        val halvings = least(
          expr(s"($anchor - unix_millis(ts)) div ${86400000L * HalfLifeDays}"),
          lit(MaxHalvings.toLong))
        val w = DecayWeightsE6.zipWithIndex.foldRight(lit(DecayWeightsE6.last)) {
          case ((wt, k), rest) =>
            if (k == MaxHalvings) rest else when(halvings === k.toLong, wt).otherwise(rest)
        }
        val g = ev.groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum(w).as("decayed_e6"))
          .localCheckpoint(eager = true) // |event types| rows; totals reuse it, not a 2nd corpus scan
        val tot = g.agg(sum(col("n")).as("__tn"), sum(col("decayed_e6")).as("__td"))
        g.crossJoin(broadcast(tot))
          .select(col("event_type"), col("n"), col("decayed_e6"),
            expr("n * 1000000L div __tn").as("plain_share_e6"),
            expr("decayed_e6 * 1000000L div __td").as("decayed_share_e6"),
            (expr("decayed_e6 * 1000000L div __td")
              - expr("n * 1000000L div __tn")).as("dev_e6"))
          .orderBy("event_type")
      },
      oracle = Some {
        val arms = DecayWeightsE6.zipWithIndex.init
          .map { case (wt, k) => s"WHEN $k THEN $wt" }.mkString(" ")
        s"""
        WITH a AS (SELECT max(epoch_ms(ts)) AS mx FROM events),
        w AS (SELECT event_type,
                     CASE least((mx - epoch_ms(ts)) // ${86400000L * HalfLifeDays}, $MaxHalvings)
                       $arms ELSE ${DecayWeightsE6.last} END AS w6
              FROM events, a),
        g AS (SELECT event_type, count(*) AS n, sum(w6) AS d6 FROM w GROUP BY 1),
        t AS (SELECT sum(n) AS tn, sum(d6) AS td FROM g)
        SELECT event_type, CAST(n AS BIGINT) AS n, CAST(d6 AS BIGINT) AS decayed_e6,
               CAST(n * 1000000 // tn AS BIGINT) AS plain_share_e6,
               CAST(d6 * 1000000 // td AS BIGINT) AS decayed_share_e6,
               CAST(d6 * 1000000 // td - n * 1000000 // tn AS BIGINT) AS dev_e6
        FROM g, t ORDER BY event_type"""
      }),

    // Golden-record survivorship merge (the MDM "merge" verb, the
    // attribute-level complement of q95's record-level canonical pick):
    // three per-source variants of each customer (CRM = raw; web = upper
    // name, no phone, lower segment, every 3rd key absent; app = upper
    // name, dash-stripped phone, lower segment, even keys absent) are
    // melted to (cluster, attr, value), votes counted, and each
    // attribute resolved independently to the most frequent non-null
    // value (ties: lexically smallest) — so the merged record can mix
    // sources per field, which is the whole point of survivorship. The
    // phone fixture exercises all four resolution shapes: variant wins
    // (key%5=0 odd), all-null (key%5=0 even), tie->original (odd), and
    // uncontested (even). Plan: one shuffle on (cluster, attr) for the
    // vote, one on cluster for the reassembly — no driver funnel, holds
    // at any cluster count.
    "q305_golden_record" -> QueryDef(
      fn = (s, d) => {
        val base = t(s, d, "customer").select(col("c_custkey").as("cl"),
          col("c_name"), col("c_mktsegment"),
          when(col("c_custkey") % 5 === 0, lit(null).cast("string"))
            .otherwise(concat(lit("p-"), col("c_custkey").cast("string"))).as("ph"))
        val crm = base.select(col("cl"), lit("crm").as("src"),
          col("c_name").as("name"), col("ph").as("phone"),
          col("c_mktsegment").as("mkt"))
        val web = base.filter(col("cl") % 3 =!= 0).select(col("cl"),
          lit("web").as("src"), upper(col("c_name")).as("name"),
          lit(null).cast("string").as("phone"), lower(col("c_mktsegment")).as("mkt"))
        val app = base.filter(col("cl") % 2 =!= 0).select(col("cl"),
          lit("app").as("src"), upper(col("c_name")).as("name"),
          concat(lit("p"), col("cl").cast("string")).as("phone"),
          lower(col("c_mktsegment")).as("mkt"))
        val v = crm.unionAll(web).unionAll(app)
        val m = v.select(col("cl"),
          expr("stack(3, 'name', name, 'phone', phone, 'mkt', mkt) AS (attr, val)"))
          .filter(col("val").isNotNull)
        val picked = m.groupBy("cl", "attr", "val")
          .agg(count(lit(1)).as("__n"))
          .withColumn("__rk", row_number().over(Window.partitionBy("cl", "attr")
            .orderBy(col("__n").desc, col("val").asc)))
          .filter(col("__rk") === 1)
        val nSources = v.groupBy("cl").agg(countDistinct("src").as("n_sources"))
        picked.groupBy("cl")
          .agg(max(when(col("attr") === "name", col("val"))).as("name"),
            max(when(col("attr") === "phone", col("val"))).as("phone"),
            max(when(col("attr") === "mkt", col("val"))).as("mktsegment"))
          .join(nSources, "cl")
          .select(col("cl").as("cluster"), col("n_sources"), col("name"),
            col("phone"), col("mktsegment"))
          .orderBy("cluster")
      },
      oracle = Some("""
        WITH base AS (SELECT c_custkey AS cl, c_name, c_mktsegment,
                             CASE WHEN c_custkey % 5 = 0 THEN NULL
                                  ELSE 'p-' || CAST(c_custkey AS VARCHAR) END AS ph
                      FROM customer),
        v AS (
          SELECT cl, 'crm' AS src, c_name AS name, ph AS phone, c_mktsegment AS mkt FROM base
          UNION ALL SELECT cl, 'web', upper(c_name), NULL, lower(c_mktsegment)
            FROM base WHERE cl % 3 <> 0
          UNION ALL SELECT cl, 'app', upper(c_name), 'p' || CAST(cl AS VARCHAR), lower(c_mktsegment)
            FROM base WHERE cl % 2 <> 0),
        m AS (SELECT cl, 'name' AS attr, name AS val FROM v WHERE name IS NOT NULL
              UNION ALL SELECT cl, 'phone', phone FROM v WHERE phone IS NOT NULL
              UNION ALL SELECT cl, 'mkt', mkt FROM v WHERE mkt IS NOT NULL),
        c AS (SELECT cl, attr, val, count(*) AS n FROM m GROUP BY 1, 2, 3),
        p AS (SELECT cl, attr, val,
                     row_number() OVER (PARTITION BY cl, attr ORDER BY n DESC, val ASC) AS rk
              FROM c),
        ns AS (SELECT cl, count(DISTINCT src) AS n_sources FROM v GROUP BY 1)
        SELECT p.cl AS cluster, ns.n_sources,
               max(CASE WHEN attr = 'name' THEN val END) AS name,
               max(CASE WHEN attr = 'phone' THEN val END) AS phone,
               max(CASE WHEN attr = 'mkt' THEN val END) AS mktsegment
        FROM p JOIN ns ON p.cl = ns.cl
        WHERE rk = 1 GROUP BY p.cl, ns.n_sources ORDER BY cluster""")),

    // Item-based collaborative filtering, end to end: baskets (customer x
    // part purchases) -> item-item cosine over co-occurrence (q207's
    // Apriori-pruned pair machinery) -> per-item CHAMPION LIST (top-20
    // neighbors, the cap that bounds the scoring fanout at catalog
    // scale) -> per-user scores over unseen items (sum of neighbor
    // sims, EXACT e6-integer so the cross-engine sum is order-free) ->
    // top-3 recommendations. Shuffles: pair count on item, score on
    // (user, item) — both key-uniform; the champion cap makes the
    // score-join fanout <= 20x interactions regardless of item
    // popularity skew.
    "q306_item_cf_recs" -> QueryDef(
      fn = (s, d) => {
        val po = t(s, d, "orders")
          .join(t(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("u"), col("l_partkey").as("i")).distinct()
          .localCheckpoint(eager = true) // pairs, sizes, scoring share it
        // ONE tiny agg job over the checkpointed interactions proves the
        // two at-scale guards at runtime instead of assuming them (r15
        // verdict #1/#3):
        //  - packable: every id in [0, 2^31) -> the pair-support and
        //    (u, item) scoring exchanges key on ONE packed long instead
        //    of two id columns (guide §2.3; a plain long->int cast saves
        //    nothing — UnsafeRow pads every field to 8 bytes — packing is
        //    the narrowing that actually moves bytes). Falls back to the
        //    two-column form when ids exceed the bound.
        //  - shjSafe: the shuffle_hash hints whose BUILD side is the
        //    interaction frame itself (the basket self-join, the
        //    seen-items anti-join) are only safe while a post-shuffle
        //    partition's build fits executor memory — a hinted SHJ cannot
        //    fall back to sort-merge and cannot spill (guide §3.1/§5).
        //    Bound: ~4M rows/partition (~256 MB of hash-table at ~64 B a
        //    row) x the session's shuffle partitions; past it the hints
        //    drop and the planner keeps its spillable sort-merge. The
        //    champion-side hint stays unconditional — its build is
        //    bounded by construction (<= 20 rows per item).
        val poStats = po.agg(count(lit(1)).as("n"),
          min("u").as("ul"), max("u").as("uh"),
          min("i").as("il"), max("i").as("ih")).head()
        val nInteractions = poStats.getLong(0)
        val packable = nInteractions > 0 &&
          poStats.getLong(1) >= 0L && poStats.getLong(2) < (1L << 31) &&
          poStats.getLong(3) >= 0L && poStats.getLong(4) < (1L << 31)
        val shjSafe = nInteractions <=
          4L * 1024 * 1024 * s.sessionState.conf.numShufflePartitions
        val sizes = po.groupBy("i").agg(count(lit(1)).as("__n"))
        // po is already DISTINCT (u, i) and checkpointed — skip the
        // operator's internal re-distinct (one full exchange, guide §2.4)
        val sims = Baskets.frequentItemPairs(po, "u", "i", 2L,
            inputDistinct = true, packedItemPairs = packable,
            pairJoinHint = if (shjSafe) "shuffle_hash" else "")
          .join(sizes.select(col("i").as("item_a"), col("__n").as("n_a")), "item_a")
          .join(sizes.select(col("i").as("item_b"), col("__n").as("n_b")), "item_b")
          .select(col("item_a"), col("item_b"),
            floor(col("support").cast("double")
              / sqrt((col("n_a") * col("n_b")).cast("double")) * 1000000 + 0.5)
              .as("sim_e6"))
          // the symmetrization union below references this frame TWICE:
          // without a pin each union branch replays the whole pair-mine +
          // sizes-join tree (static plan carried 28 reads of the po
          // checkpoint and 72 exchanges; exchange reuse is not guaranteed
          // across the differently-projected branches). Pinning the
          // similarity edge list — the item-item graph, support-filtered,
          // far smaller than the interaction frame — runs that tree once
          // (the repo's standing lineage-pin rule; guide §3.3).
          .localCheckpoint(eager = true)
        val sym = sims.select(col("item_a").as("src"), col("item_b").as("dst"), col("sim_e6"))
          .unionAll(sims.select(col("item_b").as("src"), col("item_a").as("dst"), col("sim_e6")))
        // champion cap via the engine's own bounded-heap operator (r12
        // verdict #3): the window form sorts every key group; TopKPerKey
        // keeps O(keys x 20) rows with partial/final heaps and never
        // materializes a per-key sort — the exact row_number<=k idiom
        // the operator was built for. Total order (sim desc, dst asc).
        val champions = graft.plans.TopKPerKey.topKPerKey(sym,
          Seq(col("src")), Seq((col("sim_e6"), false), (col("dst"), true)), 20)
        // aggregate BEFORE the seen-items anti-join: summing per (u, dst)
        // first shrinks the expanded champion stream to its distinct
        // (user, item) pairs, so the anti-join probes far fewer rows —
        // and its (u, item) key matches the aggregation's output
        // partitioning, so no extra exchange appears (guide §2.3/§2.4).
        // Filtering before vs after the sum is equivalent: the anti-join
        // drops whole (u, dst) groups, never individual contributors.
        // both heavy joins run SHUFFLED-HASH by deliberate choice (guide
        // §3.1): the build sides (champion lists; the interaction frame)
        // are far smaller per post-shuffle partition than the probe
        // streams, and dropping the sort-merge sorts of the 12M-row
        // expansion measured ~15-20% off settled wall time (r15 opt A/B,
        // preferSortMergeJoin=false session probe; pinned here per-join
        // so the rest of the catalog keeps its planner defaults). The
        // champion-side hint is unconditional (build bounded by the
        // 20-per-item cap); the seen-items hint rides the shjSafe guard
        // because its build is the interaction frame itself (r15 verdict
        // #3 — a hinted SHJ cannot spill).
        val expanded = po.join(champions.hint("shuffle_hash"),
          po("i") === champions("src"))
        val scored = if (packable) {
          // packed (u, item) key: the 12M-row expansion's aggregation
          // exchange and the seen-items anti-join both key on one long
          // (u << 32 | item — lossless under the proven id bound), so
          // every row carries one key slot instead of two and the hash /
          // equality work is single-column (guide §2.3)
          val seen = po.select(
            shiftleft(col("u"), 32).bitwiseOR(col("i")).as("__ud"))
          expanded
            .select(shiftleft(col("u"), 32).bitwiseOR(col("dst")).as("__ud"),
              col("sim_e6"))
            .groupBy("__ud")
            .agg(sum(col("sim_e6")).as("score_e6"), count(lit(1)).as("n_contrib"))
            .join(if (shjSafe) seen.hint("shuffle_hash") else seen,
              Seq("__ud"), "left_anti")
            .select(shiftright(col("__ud"), 32).as("u"),
              col("__ud").bitwiseAND(lit(0xFFFFFFFFL)).as("item"),
              col("score_e6"), col("n_contrib"))
        } else {
          val seen = po.select(col("u").as("__u2"), col("i").as("__i2"))
          expanded
            .groupBy(col("u"), col("dst").as("item"))
            .agg(sum(col("sim_e6")).as("score_e6"), count(lit(1)).as("n_contrib"))
            .join(if (shjSafe) seen.hint("shuffle_hash") else seen,
              col("u") === col("__u2") && col("item") === col("__i2"), "left_anti")
        }
        // final per-user top-3 stays on the window form: the per-user
        // candidate lists are short (champion cap bounds them), and an
        // interleaved A/B vs a TopKPerKey twin read a wash (r13 NOTES) —
        // the heap operator earns its exchange on the big sym frame
        // above, not here
        scored
          .withColumn("rnk", row_number().over(Window.partitionBy("u")
            .orderBy(col("score_e6").desc, col("item").asc)).cast("long"))
          .filter(col("rnk") <= 3)
          .select(col("u").as("user_id"), col("rnk"), col("item"),
            col("score_e6"), col("n_contrib"))
          .orderBy("user_id", "rnk")
      },
      oracle = Some("""
        WITH po AS (SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS i
                    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        sz AS (SELECT i, count(*) AS n FROM po GROUP BY 1),
        pr AS (SELECT a.i AS ia, b.i AS ib, count(*) AS sup
               FROM po a JOIN po b ON a.u = b.u AND a.i < b.i
               GROUP BY 1, 2 HAVING count(*) >= 2),
        sim0 AS (SELECT ia, ib,
                        CAST(floor(CAST(sup AS DOUBLE)
                          / sqrt(CAST(sa.n * sb.n AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS sim_e6
                 FROM pr JOIN sz sa ON pr.ia = sa.i JOIN sz sb ON pr.ib = sb.i),
        sym AS (SELECT ia AS src, ib AS dst, sim_e6 FROM sim0
                UNION ALL SELECT ib, ia, sim_e6 FROM sim0),
        cap AS (SELECT src, dst, sim_e6 FROM (
                  SELECT src, dst, sim_e6,
                         row_number() OVER (PARTITION BY src ORDER BY sim_e6 DESC, dst ASC) AS rk
                  FROM sym) WHERE rk <= 20),
        sc AS (SELECT po.u, cap.dst AS item, sum(cap.sim_e6) AS score_e6, count(*) AS n_contrib
               FROM po JOIN cap ON po.i = cap.src
               WHERE NOT EXISTS (SELECT 1 FROM po o2 WHERE o2.u = po.u AND o2.i = cap.dst)
               GROUP BY 1, 2),
        top AS (SELECT u, item, score_e6, n_contrib,
                       row_number() OVER (PARTITION BY u ORDER BY score_e6 DESC, item ASC) AS rnk
                FROM sc)
        SELECT u AS user_id, CAST(rnk AS BIGINT) AS rnk, item,
               CAST(score_e6 AS BIGINT) AS score_e6, CAST(n_contrib AS BIGINT) AS n_contrib
        FROM top WHERE rnk <= 3 ORDER BY user_id, rnk"""),
      bench = true), // the multi-join recommender wall-time probe

    // Streaming SCD2 maintenance: the events stream arrives as THREE
    // time slices fed one-per-trigger (stageSlices' increasing mtimes
    // force oldest-first order), and foreachBatch folds each micro-batch
    // into the dimension with scd2 / scd2Merge — the continuous form of
    // q129's one-shot merge. The oracle is scd2OracleSql VERBATIM,
    // shared with q107 (one-shot) and q129 (two-part merge): all three
    // surfaces must produce the identical interval table, which is the
    // batch/incremental/streaming 3-way parity claim. The driver-side
    // `dim` var is the harness's stand-in for a real sink table; each
    // fold is localCheckpointed so batch N never replays batches 1..N-1.
    "q307_stream_scd2" -> QueryDef(
      fn = (s, d) => {
        val ev = t(s, d, "events")
        val third = timeThird(ev)
        // slice order == event-time order (the scd2Merge batch contract)
        val dir = stageSlices((0 to 2).map(i => ev.filter(third === i)))
        var dim: Option[DataFrame] = None
        try {
          val stream = stagedEventsStream(streamingSession(s), dir,
              oneFilePerTrigger = true)
            .select(col("user_id"), col("event_type"),
              unix_millis(col("ts")).as("__ms"), col("event_id"))
          val q = stream.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
            dim = Some((dim match {
              case None => ChangeCapture.scd2(batch, "user_id", "event_type",
                col("__ms"), col("event_id"))
              case Some(dm) => ChangeCapture.scd2Merge(dm, batch, "user_id",
                "event_type", col("__ms"), col("event_id"))
            }).localCheckpoint(eager = true))
            ()
          }.start()
          try {
            q.processAllAvailable()
            Catalog.ProgressLog.record(q)
          } finally q.stop()
        } finally dropStaged(dir)
        dim.get.select(col("user_id"), col("version"), col("event_type"),
          col("valid_from").as("valid_from_ms"),
          col("valid_to").as("valid_to_ms"), col("is_current"))
          .orderBy("user_id", "version")
      },
      oracle = Some(scd2OracleSql),
      streaming = true),

    // Sequential-pattern support (PrefixSpan depth 2): every ordered
    // event-type pair (A, then B strictly later but within 30 minutes,
    // same user) with pair occurrences AND user support — the
    // non-contiguous complement of q102's adjacent-transition matrix
    // (which sees only immediate successors) and q278's contiguous
    // trigrams. The time bound is what keeps support informative on this
    // fixture (unbounded, every user eventually does every type) AND
    // what bounds the join: an equi-join on user_id with a range
    // predicate — per-user hash partitions, never a cartesian.
    "q308_seq_pairs" -> QueryDef(
      fn = (s, d) => {
        val ev = t(s, d, "events").select(col("user_id"), col("ts"), col("event_type"))
        val a = ev.select(col("user_id"), col("ts").as("__ta"),
          col("event_type").as("first_type"))
        val bb = ev.select(col("user_id"), col("ts").as("__tb"),
          col("event_type").as("then_type"))
        a.join(bb, Seq("user_id"))
          .filter(col("__tb") > col("__ta")
            && col("__tb") <= col("__ta") + expr("INTERVAL 30 MINUTES"))
          .groupBy("first_type", "then_type")
          .agg(count(lit(1)).as("n_pairs"),
            countDistinct(col("user_id")).as("n_users"))
          .orderBy("first_type", "then_type")
      },
      oracle = Some("""
        SELECT a.event_type AS first_type, b.event_type AS then_type,
               count(*) AS n_pairs, count(DISTINCT a.user_id) AS n_users
        FROM events a JOIN events b ON a.user_id = b.user_id AND b.ts > a.ts
          AND b.ts <= a.ts + INTERVAL 30 MINUTE
        GROUP BY 1, 2 ORDER BY 1, 2"""),
      bench = true), // the time-bounded self-join wall-time probe
  )
}
