package graft.queries

import graft.functions.{TextFunctions => TF}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}


import Catalog._

/** change capture, bucketed/skew joins, streaming, format round-trips, subqueries (q110-q139).
  *
  * One slice of the query catalog (split from the single 3.9k-line map
  * in round 5). Entry ORDER is load-bearing: [[Catalog.all]] is a
  * ListMap concatenated slice-by-slice, and oracle_sql.json iterates
  * it in insertion order.
  */
private[queries] object CatalogInfra {
  /** q124's champion-list cap: tokens with df above this never generate
    * candidate pairs, bounding the posting join at cap^2 pairs per token
    * REGARDLESS of corpus size. One constant, interpolated into both the
    * Column expression and the oracle SQL so the engines cannot drift
    * (the q71 constants pattern).
    */
  private val sparseTopkDfCap = 64L

  def entries: Seq[(String, QueryDef)] = Seq(
    // Snapshot diff (ops/ChangeCapture.snapshotDiff): classify every key
    // across two table versions as added / removed / changed / unchanged.
    // The "after" snapshot is derived in-query from orders (drop %97,
    // reprice %11, insert %13 clones under shifted keys), so the result
    // is provable in SQL at every sf. Full outer hash join on the key —
    // no broadcast assumption, holds when both snapshots are 100 TB.
    // sum_key sums k % 1e6, not raw keys: the +1e12-shifted 'added'
    // keys would overflow a long sum near sf100 under ANSI mode; the
    // modulo surrogate stays provably in range at any sf (1e6 x rows)
    // while still fingerprinting WHICH keys landed in each class.
    "q110_snapshot_diff" -> QueryDef(
      fn = (s, d) => {
        val before = t(s, d, "orders")
          .select("o_orderkey", "o_totalprice", "o_orderstatus")
        val updated = before
          .filter(col("o_orderkey") % 97 =!= 0)
          .withColumn("o_totalprice",
            when(col("o_orderkey") % 11 === 0, col("o_totalprice") + lit(1.0))
              .otherwise(col("o_totalprice")))
        val inserted = before.filter(col("o_orderkey") % 13 === 0)
          .select((col("o_orderkey") + lit(1000000000000L)).as("o_orderkey"),
            col("o_totalprice"), lit("N").as("o_orderstatus"))
        graft.ops.ChangeCapture.snapshotDiff(
            before, updated.unionAll(inserted), "o_orderkey",
            Seq("o_totalprice", "o_orderstatus"))
          .groupBy("change_type")
          .agg(count(lit(1)).as("n"),
            sum(col("o_orderkey") % 1000000L).as("sum_key"))
          .orderBy("change_type")
      },
      oracle = Some("""
        WITH b AS (SELECT o_orderkey AS k, o_totalprice AS p, o_orderstatus AS st
                   FROM orders),
        a AS (SELECT k, CASE WHEN k % 11 = 0 THEN p + 1.0 ELSE p END AS p, st
              FROM b WHERE k % 97 <> 0
              UNION ALL
              SELECT k + 1000000000000, p, 'N' FROM b WHERE k % 13 = 0),
        diff AS (SELECT coalesce(a.k, b.k) AS k,
                        CASE WHEN b.k IS NULL THEN 'added'
                             WHEN a.k IS NULL THEN 'removed'
                             WHEN (b.p IS DISTINCT FROM a.p)
                               OR (b.st IS DISTINCT FROM a.st) THEN 'changed'
                             ELSE 'unchanged' END AS change_type
                 FROM b FULL JOIN a ON b.k = a.k)
        SELECT change_type, count(*) AS n,
               CAST(sum(k % 1000000) AS BIGINT) AS sum_key
        FROM diff GROUP BY change_type ORDER BY change_type""")),

    // CDC merge (ops/ChangeCapture.applyCdc — the MERGE INTO verbs):
    // a change feed derived from orders (last change per key wins;
    // 'P'-status orders delete the customer, %101 orderkeys insert a new
    // shifted key, the rest upsert acctbal) applied onto the customer
    // base. Two exchanges on the same key partitioning (window + join);
    // balances are copied verbatim, so doubles stay bit-exact across
    // engines.
    "q111_cdc_merge" -> QueryDef(
      fn = (s, d) => {
        val base = t(s, d, "customer")
          .select("c_custkey", "c_acctbal", "c_mktsegment")
        val changes = t(s, d, "orders").select(
          when(col("o_orderkey") % 101 === 0, col("o_custkey") + lit(1000000L))
            .otherwise(col("o_custkey")).as("c_custkey"),
          when(col("o_orderkey") % 101 === 0, lit("I"))
            .when(col("o_orderstatus") === "P", lit("D"))
            .otherwise(lit("U")).as("op"),
          col("o_totalprice").as("c_acctbal"),
          // o_orderdate is TIMESTAMP_NTZ; session TZ is UTC so the LTZ
          // cast is shift-free and unix_millis == DuckDB epoch_ms.
          unix_millis(col("o_orderdate").cast("timestamp_ltz")).as("seq_ms"),
          col("o_orderkey"))
        graft.ops.ChangeCapture.applyCdc(base, changes,
            key = "c_custkey", op = "op",
            seq = col("seq_ms"), tie = col("o_orderkey"),
            valueCols = Seq("c_acctbal"))
          .orderBy("c_custkey")
      },
      oracle = Some("""
        WITH ch AS (SELECT
               CASE WHEN o_orderkey % 101 = 0 THEN o_custkey + 1000000
                    ELSE o_custkey END AS k,
               CASE WHEN o_orderkey % 101 = 0 THEN 'I'
                    WHEN o_orderstatus = 'P' THEN 'D' ELSE 'U' END AS op,
               o_totalprice AS bal, epoch_ms(o_orderdate) AS ms,
               o_orderkey AS okey
             FROM orders),
        lastc AS (SELECT k, op, bal FROM (
                    SELECT k, op, bal, row_number() OVER (
                      PARTITION BY k ORDER BY ms DESC, okey DESC) AS rn
                    FROM ch) WHERE rn = 1)
        SELECT coalesce(lastc.k, c.c_custkey) AS c_custkey,
               CASE WHEN lastc.op IS NOT NULL THEN lastc.bal
                    ELSE c.c_acctbal END AS c_acctbal,
               c.c_mktsegment
        FROM customer c FULL JOIN lastc ON c.c_custkey = lastc.k
        WHERE lastc.op IS DISTINCT FROM 'D'
        ORDER BY c_custkey""")),

    // Bucketed co-located fact-fact join: both sides written as 8-bucket
    // tables on the join key (Sink.writeBucketed), so the sort-merge
    // join's distribution requirement is satisfied by LAYOUT — zero
    // exchange on either side. That is THE 100 TB fact-fact strategy:
    // shuffle once at write time, join exchange-free on every read after.
    // Broadcast is disabled while materializing so the bucketed path is
    // what actually runs (not a small-scale broadcast accident);
    // localCheckpoint materializes before confs are restored and the
    // tables dropped. SinkSpec asserts the exchange-free plan.
    "q112_bucketed_join" -> QueryDef(
      fn = (s, d) => {
        import graft.pipeline.Sink
        val oldB = s.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
        val oldA = s.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        // the writes sit INSIDE the try: a failure writing the second
        // table must still drop the first (and restore confs)
        try {
          Sink.writeBucketed(
            t(s, d, "lineitem").select("l_orderkey", "l_extendedprice", "l_discount"),
            "q112_li_b", "l_orderkey", numBuckets = 8, sortCol = Some("l_orderkey"))
          Sink.writeBucketed(
            t(s, d, "orders").select("o_orderkey", "o_orderpriority"),
            "q112_ord_b", "o_orderkey", numBuckets = 8, sortCol = Some("o_orderkey"))
          s.table("q112_li_b")
            .join(s.table("q112_ord_b"), col("l_orderkey") === col("o_orderkey"))
            .groupBy("o_orderpriority")
            .agg(count(lit(1)).as("n"),
              exactRevenue(col("l_extendedprice"), col("l_discount")).as("revenue"))
            .orderBy("o_orderpriority")
            .localCheckpoint(true)
        } finally {
          oldB.fold(s.conf.unset("spark.sql.autoBroadcastJoinThreshold"))(
            v => s.conf.set("spark.sql.autoBroadcastJoinThreshold", v))
          oldA.fold(s.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold"))(
            v => s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v))
          // in the finally so a failed write or materialization can't
          // leak the managed tables + warehouse files
          s.sql("DROP TABLE IF EXISTS q112_li_b")
          s.sql("DROP TABLE IF EXISTS q112_ord_b")
        }
      },
      oracle = Some(priorityRevenueOracleSql)),

    // Last-touch attribution: each purchase credits the most recent
    // PRECEDING non-purchase event of the same user (frame ends at 1
    // PRECEDING; purchases with no prior touch fall to 'organic'). The
    // ignore-nulls last() over a trailing frame is the canonical
    // attribution plan — one hash exchange on user_id, no self-join.
    "q113_last_touch" -> QueryDef(
      fn = (s, d) => {
        val w = Window.partitionBy("user_id")
          .orderBy(unix_millis(col("ts")), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        t(s, d, "events")
          .withColumn("channel",
            last(when(col("event_type") =!= "purchase", col("event_type")),
              ignoreNulls = true).over(w))
          .filter(col("event_type") === "purchase")
          .groupBy(coalesce(col("channel"), lit("organic")).as("channel"))
          .agg(count(lit(1)).as("n"), exactSum(col("value")).as("sum_value"))
          .orderBy("channel")
      },
      oracle = Some(s"""
        WITH e AS (SELECT user_id, event_type, value, epoch_ms(ts) AS ms,
                          event_id FROM events),
        att AS (SELECT event_type, value,
                 last_value(CASE WHEN event_type <> 'purchase'
                                 THEN event_type END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ms, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS channel
                FROM e)
        SELECT coalesce(channel, 'organic') AS channel, count(*) AS n,
               ${sumSql("value")} AS sum_value
        FROM att WHERE event_type = 'purchase'
        GROUP BY 1 ORDER BY channel""")),

    // Vector int8 quantization audit (embedding compression for training
    // storage): per vector, symmetric max-abs scaling to [-127,127],
    // dequantize, and the mean squared reconstruction error — snapped to
    // exact integer picounits (floor(mse*1e12+0.5)) so the per-label
    // averages are order-independent long sums. Purely map-side until the
    // final small groupBy; identical double ops in both engines (the
    // err^2 fold is sequential in Spark `aggregate` and DuckDB list_sum,
    // the same parity cosineSql relies on).
    "q114_vector_quantize" -> QueryDef(
      fn = (s, d) => t(s, d, "embeddings")
        .withColumn("ma",
          expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))"))
        .filter(col("ma") > 0)
        .withColumn("imse", expr(
          """CAST(floor(aggregate(transform(embedding,
                 x -> (CAST(x AS DOUBLE)
                        - floor(CAST(x AS DOUBLE) * (127.0 / ma) + 0.5)
                          / (127.0 / ma))
                      * (CAST(x AS DOUBLE)
                        - floor(CAST(x AS DOUBLE) * (127.0 / ma) + 0.5)
                          / (127.0 / ma))),
               CAST(0.0 AS DOUBLE), (a, x) -> a + x)
             / size(embedding) * 1e12 + 0.5) AS BIGINT)"""))
        .groupBy(col("label").cast("long").as("label"))
        .agg(count(lit(1)).as("n_vecs"),
          expr("CAST(floor(CAST(sum(imse) AS DOUBLE) / count(1) + 0.5) AS BIGINT)")
            .as("avg_mse_e12"))
        .orderBy("label"),
      oracle = Some("""
        WITH q AS (
          SELECT label,
                 CAST(floor(list_sum(list_transform(embedding,
                     x -> (CAST(x AS DOUBLE)
                            - floor(CAST(x AS DOUBLE) * (127.0 / ma) + 0.5)
                              / (127.0 / ma))
                          * (CAST(x AS DOUBLE)
                            - floor(CAST(x AS DOUBLE) * (127.0 / ma) + 0.5)
                              / (127.0 / ma))))
                   / len(embedding) * 1e12 + 0.5) AS BIGINT) AS imse
          FROM (SELECT label, embedding,
                       list_max(list_transform(embedding,
                         x -> abs(CAST(x AS DOUBLE)))) AS ma
                FROM embeddings)
          WHERE ma > 0)
        SELECT CAST(label AS BIGINT) AS label, count(*) AS n_vecs,
               CAST(floor(CAST(sum(imse) AS DOUBLE) / count(*) + 0.5) AS BIGINT)
                 AS avg_mse_e12
        FROM q GROUP BY label ORDER BY label""")),

    // Schema-reconciling union (unionByName + allowMissingColumns):
    // customers and suppliers fused into one party dimension; the column
    // missing on the supplier side (segment) NULL-fills by NAME, not by
    // position — the union a long-lived lakehouse needs when sources
    // drift. Map-side until the small final aggregate.
    "q115_union_by_name" -> QueryDef(
      fn = (s, d) => {
        val c = t(s, d, "customer").select(
          col("c_custkey").as("id"), col("c_acctbal").as("acctbal"),
          col("c_mktsegment").as("segment"), lit("customer").as("kind"))
        val su = t(s, d, "supplier").select(
          col("s_suppkey").as("id"), col("s_acctbal").as("acctbal"),
          lit("supplier").as("kind"))
        c.unionByName(su, allowMissingColumns = true)
          .groupBy(col("kind"),
            coalesce(col("segment"), lit("__none__")).as("segment"))
          .agg(count(lit(1)).as("n"), exactSum(col("acctbal")).as("sum_acctbal"))
          .orderBy("kind", "segment")
      },
      oracle = Some(s"""
        WITH party AS (
          SELECT c_acctbal AS acctbal, c_mktsegment AS segment,
                 'customer' AS kind FROM customer
          UNION ALL
          SELECT s_acctbal, NULL, 'supplier' FROM supplier)
        SELECT kind, coalesce(segment, '__none__') AS segment,
               count(*) AS n, ${sumSql("acctbal")} AS sum_acctbal
        FROM party GROUP BY 1, 2 ORDER BY kind, segment""")),

    // 2-D Pareto frontier per group (ops/Pareto): the cheapest part at
    // every size per brand. The O(n^2) dominance self-join becomes ONE
    // window pass (sort by (size, price), keep rows strictly below the
    // running price minimum) — one hash exchange on brand, no join.
    // The oracle states the naive dominance definition directly, so the
    // window formulation is verified against the real skyline semantics.
    "q116_pareto_frontier" -> QueryDef(
      fn = (s, d) => graft.ops.Pareto.frontier2d(
          t(s, d, "part").select("p_brand", "p_size", "p_retailprice", "p_partkey"),
          Seq("p_brand"), x = "p_size", y = "p_retailprice", tie = "p_partkey")
        .select("p_brand", "p_size", "p_retailprice", "p_partkey")
        .orderBy("p_brand", "p_size", "p_partkey"),
      oracle = Some("""
        SELECT p_brand, p_size, p_retailprice, p_partkey
        FROM part p
        WHERE p.p_size IS NOT NULL AND p.p_retailprice IS NOT NULL
          AND NOT EXISTS (
          SELECT 1 FROM part q
          WHERE q.p_brand = p.p_brand
            AND ((q.p_size <= p.p_size AND q.p_retailprice <= p.p_retailprice
                  AND (q.p_size < p.p_size OR q.p_retailprice < p.p_retailprice))
                 OR (q.p_size = p.p_size AND q.p_retailprice = p.p_retailprice
                     AND q.p_partkey < p.p_partkey)))
        ORDER BY p_brand, p_size, p_partkey""")),

    // CSV round-trip (header + explicit schema back): the one tabular
    // source format the reference never touches but any engine user
    // will. Doubles survive exactly (Java shortest-round-trip rendering,
    // exact parse back); the aggregate proves content equality against
    // the original parquet via the oracle. localCheckpoint materializes
    // before the staged files are deleted.
    "q117_csv_roundtrip" -> QueryDef(
      fn = (s, d) => {
        val base = java.nio.file.Files.createTempDirectory("graft-csv")
        val schema = StructType(Seq(
          StructField("o_orderkey", LongType),
          StructField("o_orderstatus", StringType),
          StructField("o_totalprice", DoubleType)))
        // the staging write sits inside the try (like q126/q132): a
        // mid-write failure must not leak the temp tree
        try {
          t(s, d, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
            .write.mode("overwrite").option("header", "true")
            .csv(s"$base/orders_csv")
          s.read.schema(schema).option("header", "true")
          .csv(s"$base/orders_csv")
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), exactSum(col("o_totalprice")).as("sum_price"),
            min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))
          .orderBy("o_orderstatus")
          .localCheckpoint(true)
        } finally dropStaged(base)
      },
      oracle = Some(s"""
        SELECT o_orderstatus, count(*) AS n,
               ${sumSql("o_totalprice")} AS sum_price,
               min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // Cumulative distinct users per day WITHOUT count(distinct) over a
    // window (unsupported, and unboundable state at scale): mark each
    // user's FIRST event (row_number = 1), count firsts per day, then a
    // running sum over the tiny day-grain frame. The only wide exchange
    // is on user_id; the final cumulative window runs over ~days rows.
    "q118_cumulative_distinct" -> QueryDef(
      fn = (s, d) => {
        val wUser = Window.partitionBy("user_id")
          .orderBy(unix_millis(col("ts")), col("event_id"))
        val days = t(s, d, "events")
          // `div` = integer division (Column `/` on longs is DOUBLE
          // division whose truncation can disagree with DuckDB's `//`)
          .withColumn("day_ms",
            expr("(unix_millis(ts) div 86400000) * 86400000"))
          .withColumn("__rn", row_number().over(wUser))
          .groupBy("day_ms")
          .agg(count(when(col("__rn") === 1, 1)).as("new_users"),
            countDistinct("user_id").as("active_users"))
        days
          .withColumn("cum_users",
            sum("new_users").over(Window.orderBy("day_ms")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .orderBy("day_ms")
      },
      oracle = Some("""
        WITH e AS (SELECT user_id, epoch_ms(ts) AS ms, event_id FROM events),
        firsts AS (SELECT user_id, ms, ms // 86400000 * 86400000 AS day_ms,
                          row_number() OVER (PARTITION BY user_id
                            ORDER BY ms, event_id) AS rn FROM e),
        days AS (SELECT day_ms,
                        count(*) FILTER (rn = 1) AS new_users,
                        count(DISTINCT user_id) AS active_users
                 FROM firsts GROUP BY day_ms)
        SELECT day_ms, new_users, active_users,
               CAST(sum(new_users) OVER (ORDER BY day_ms
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 AS cum_users
        FROM days ORDER BY day_ms""")),

    // Sliding-window aggregation (batch twin of the streaming shape):
    // Spark's window(ts, 2h, 1h) assigns each event to its TWO
    // epoch-aligned hourly-sliding buckets map-side (a Generate, no
    // self-union), then partial-aggregates per window start. The oracle
    // unnests the same two starts per event.
    "q119_sliding_window" -> QueryDef(
      fn = (s, d) => t(s, d, "events")
        .groupBy(window(col("ts"), "2 hours", "1 hour"))
        .agg(count(lit(1)).as("n"), exactSum(col("value")).as("sum_value"))
        .select(unix_millis(col("window.start")).as("win_start_ms"),
          col("n"), col("sum_value"))
        .orderBy("win_start_ms"),
      oracle = Some(slidingOracleSql)),

    // Referential-integrity audit (Expectations.foreignKey): orphan
    // counts + rates for three FK edges of the star schema — two sound
    // ones and one deliberately broken parent (part with p_partkey%5
    // dropped) so the audit proves it can COUNT orphans, not just report
    // zero. Each edge is one left_anti probe; duplicate parent keys cost
    // nothing (no distinct).
    "q120_fk_audit" -> QueryDef(
      fn = (s, d) => {
        import graft.ops.Expectations
        val li = t(s, d, "lineitem")
        val ord = t(s, d, "orders")
        val partBroken = t(s, d, "part").filter(col("p_partkey") % 5 =!= 0)
        Seq(
          Expectations.foreignKey("li_orders", li, "l_orderkey",
            ord, "o_orderkey"),
          Expectations.foreignKey("li_part_broken", li, "l_partkey",
            partBroken, "p_partkey"),
          Expectations.foreignKey("orders_customer", ord, "o_custkey",
            t(s, d, "customer"), "c_custkey"))
          .reduce(_.unionAll(_)).orderBy("fk")
      },
      oracle = Some("""
        WITH fks AS (
          SELECT 'li_orders' AS fk,
                 (SELECT count(*) FROM lineitem) AS n_child,
                 (SELECT count(*) FROM lineitem l
                  WHERE l.l_orderkey IS NOT NULL AND NOT EXISTS
                    (SELECT 1 FROM orders o
                     WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
          UNION ALL
          SELECT 'li_part_broken',
                 (SELECT count(*) FROM lineitem),
                 (SELECT count(*) FROM lineitem l
                  WHERE l.l_partkey IS NOT NULL AND NOT EXISTS
                    (SELECT 1 FROM part p
                     WHERE p.p_partkey % 5 <> 0
                       AND p.p_partkey = l.l_partkey))
          UNION ALL
          SELECT 'orders_customer',
                 (SELECT count(*) FROM orders),
                 (SELECT count(*) FROM orders o
                  WHERE o.o_custkey IS NOT NULL AND NOT EXISTS
                    (SELECT 1 FROM customer c
                     WHERE c.c_custkey = o.o_custkey)))
        SELECT fk, n_child, CAST(n_orphans AS BIGINT) AS n_orphans,
               floor(CAST(n_orphans AS DOUBLE) / n_child * 1000000 + 0.5)
                 / 1000000.0 AS orphan_rate
        FROM fks ORDER BY fk""")),

    // Gaps-and-islands: missing l_linenumber ranges per order after a
    // synthetic prune (linenumber 2 dropped from every 7th order). The
    // classic sequence-gap detection — one lead() window per order key,
    // gap = (cur+1, next-1) where next-cur > 1. One hash exchange.
    "q121_gap_islands" -> QueryDef(
      fn = (s, d) => {
        val pruned = t(s, d, "lineitem")
          .filter(!(col("l_linenumber") === 2 && col("l_orderkey") % 7 === 0))
          .select(col("l_orderkey"), col("l_linenumber").cast("long").as("ln"))
        val w = Window.partitionBy("l_orderkey").orderBy("ln")
        pruned.withColumn("next_ln", lead(col("ln"), 1).over(w))
          .filter(col("next_ln") - col("ln") > 1)
          .select(col("l_orderkey"), (col("ln") + 1).as("gap_start"),
            (col("next_ln") - 1).as("gap_end"))
          .orderBy("l_orderkey", "gap_start")
      },
      oracle = Some("""
        WITH pruned AS (SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS ln
                        FROM lineitem
                        WHERE NOT (l_linenumber = 2 AND l_orderkey % 7 = 0)),
        g AS (SELECT l_orderkey, ln,
                     lead(ln) OVER (PARTITION BY l_orderkey ORDER BY ln)
                       AS next_ln
              FROM pruned)
        SELECT l_orderkey, ln + 1 AS gap_start, next_ln - 1 AS gap_end
        FROM g WHERE next_ln - ln > 1
        ORDER BY l_orderkey, gap_start"""),
      bench = true),

    // Edit distance between consecutive documents' 120-char prefixes:
    // the exact verify step a fuzzy-dedup pipeline runs on candidate
    // pairs (here the pair generator is the trivial id-successor join so
    // the oracle is expressible; MinHash/SimHash candidates are the scale
    // generators — q26/q27). levenshtein is codegen'd and bounded by the
    // prefix cap, and the corpus is ASCII so both engines agree on
    // character semantics.
    "q122_edit_distance" -> QueryDef(
      fn = (s, d) => {
        val docs = t(s, d, "documents")
          .select(col("doc_id"), substring(col("text"), 1, 120).as("prefix"))
        val left = docs.select(col("doc_id").as("doc_id_a"),
          col("prefix").as("pa"))
        val right = docs.select((col("doc_id") - 1).as("doc_id_a"),
          col("doc_id").as("doc_id_b"), col("prefix").as("pb"))
        left.join(right, "doc_id_a")
          .select(col("doc_id_a"), col("doc_id_b"),
            levenshtein(col("pa"), col("pb")).cast("long").as("edit_dist"))
          .orderBy("doc_id_a")
      },
      oracle = Some("""
        SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
               CAST(levenshtein(substr(a.text, 1, 120),
                                substr(b.text, 1, 120)) AS BIGINT) AS edit_dist
        FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        ORDER BY doc_id_a""")),

    // Robust outlier detection via MAD (median absolute deviation):
    // median and MAD are computed over integer CENTS so every
    // interpolated midpoint is exactly representable and
    // percentile ≡ quantile_cont bit-for-bit (the q54 parity, hardened).
    // Two grouped exact-percentile passes + broadcast joins back; the
    // 100 TB swap-in is approx_percentile, same plan shape.
    "q123_mad_outliers" -> QueryDef(
      fn = (s, d) => {
        val c = t(s, d, "events").filter(col("value").isNotNull)
          .select(col("event_type"), cents(col("value")).as("cts"))
        val med = c.groupBy("event_type")
          .agg(expr("percentile(cts, 0.5)").as("m"))
        val dev = c.join(broadcast(med), "event_type")
          .withColumn("dv", abs(col("cts") - col("m")))
        val mad = dev.groupBy("event_type")
          .agg(expr("percentile(dv, 0.5)").as("md"))
        dev.join(broadcast(mad), "event_type")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            round(min(col("m")) / 100.0, 4).as("median_value"),
            round(min(col("md")) / 100.0, 4).as("mad_value"),
            sum(when(col("dv") > lit(3.0) * col("md"), 1L).otherwise(0L))
              .as("n_outliers"))
          .orderBy("event_type")
      },
      oracle = Some(s"""
        WITH c AS (SELECT event_type, ${centsSql("value")} AS cts
                   FROM events WHERE value IS NOT NULL),
        med AS (SELECT event_type, quantile_cont(cts, 0.5) AS m
                FROM c GROUP BY event_type),
        dev AS (SELECT c.event_type, cts, m, abs(cts - m) AS dv
                FROM c JOIN med USING (event_type)),
        mad AS (SELECT event_type, quantile_cont(dv, 0.5) AS md
                FROM dev GROUP BY event_type)
        SELECT dev.event_type, count(*) AS n,
               round(min(m) / 100.0, 4) AS median_value,
               round(min(md) / 100.0, 4) AS mad_value,
               CAST(sum(CASE WHEN dv > 3.0 * md THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_outliers
        FROM dev JOIN mad USING (event_type)
        GROUP BY dev.event_type ORDER BY event_type""")),

    // Sparse top-k document similarity via an inverted-index join — the
    // sparse twin of the dense ANN path (q25/q30/q44): per-token posting
    // lists, df-capped (champion pruning bounds the join fanout to
    // df^2 per token), integer TF dot products (exact long sums, no
    // float association), directional top-3 per doc. The synthetic
    // corpus's vocabulary is ~30 stop-word-frequency tokens + singletons,
    // so two deterministic group tags are injected in-query to create the
    // sparse structure (the q89/q95 construction pattern); the OPERATOR
    // under test is the posting-join shape.
    //
    // The champion cap is ABSOLUTE, not proportional: with a cap of c the
    // worst token contributes at most c^2 = 4096 candidate pairs and the
    // whole join at most |vocab| * c^2 — both independent of corpus size.
    // (The earlier n/10 cap made the per-token bound grow n^2: at 100x
    // the docs the worst token generated 10,000x the pairs — a
    // scale-killer. Tokens with df > c are dropped from candidate
    // generation entirely, the standard champion-list trade: recall for
    // those pairs comes from their OTHER, rarer shared tokens.)
    "q124_sparse_topk" -> QueryDef(
      fn = (s, d) => {
        val docs = t(s, d, "documents")
        val maxDf = sparseTopkDfCap // shared with the oracle SQL below
        val tagged = docs.select(col("doc_id"),
          concat(col("text"), lit(" taga"), expr("doc_id div 7"),
            lit(" tagb"), col("doc_id") % 13).as("text"))
        val tok = tagged.select(col("doc_id"),
          explode(TF.tokens(col("text"))).as("token"))
        val tf = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
        // df comes from tf, which already holds ONE row per (doc, token):
        // count(*) per token there IS countDistinct(doc_id) over the raw
        // stream — so the corpus is tokenized once, not twice, and the
        // two-phase distinct aggregate becomes a plain count
        val keep = tf.groupBy("token")
          .agg(count(lit(1)).as("df"))
          .filter(col("df") >= 2 && col("df") <= maxDf)
          .select("token")
        val tfp = tf.join(keep, Seq("token")) // token-keyed, reused below
        val a = tfp.select(col("token"), col("doc_id").as("a"), col("tf").as("tfa"))
        val b = tfp.select(col("token"), col("doc_id").as("b"), col("tf").as("tfb"))
        // NOT checkpointed before the symmetrization union (unlike q306):
        // PlanSpec pins prove the tokenize/posting exchanges are already
        // REUSED across the union branches at runtime here, so a pin
        // would only hide the reuse claim without removing work
        // (r15 opt round A/B of the two shapes)
        val pairs = a.join(b, Seq("token")).filter(col("a") < col("b"))
          .groupBy("a", "b").agg(sum(col("tfa") * col("tfb")).as("dot"))
        val sym = pairs.unionAll(
          pairs.select(col("b").as("a"), col("a").as("b"), col("dot")))
        val w = Window.partitionBy("a").orderBy(desc("dot"), col("b"))
        sym.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("a").as("doc_id"), col("rank").cast("long").as("rank"),
            col("b").as("neighbor_id"), col("dot"))
          .orderBy("doc_id", "rank")
      },
      oracle = Some(s"""
        WITH tagged AS (SELECT doc_id,
               text || ' taga' || (doc_id // 7) || ' tagb' || (doc_id % 13)
                 AS text
             FROM documents),
        tok AS (SELECT doc_id, unnest($toksSql) AS token FROM tagged),
        tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
        keep AS (SELECT token FROM
                   (SELECT token, count(DISTINCT doc_id) AS df
                    FROM tok GROUP BY 1)
                 WHERE df >= 2 AND df <= $sparseTopkDfCap),
        tfp AS (SELECT tf.* FROM tf JOIN keep USING (token)),
        pairs AS (SELECT a.doc_id AS a, b.doc_id AS b,
                         CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
                  FROM tfp a JOIN tfp b
                    ON a.token = b.token AND a.doc_id < b.doc_id
                  GROUP BY 1, 2),
        sym AS (SELECT a, b, dot FROM pairs
                UNION ALL SELECT b, a, dot FROM pairs),
        r AS (SELECT a, b, dot, row_number() OVER (
                PARTITION BY a ORDER BY dot DESC, b) AS rank FROM sym)
        SELECT a AS doc_id, CAST(rank AS BIGINT) AS rank,
               b AS neighbor_id, dot
        FROM r WHERE rank <= 3 ORDER BY doc_id, rank"""),
      bench = true),

    // STREAMING sliding windows: q119's 2h/1h aggregation as a real
    // Structured Streaming query (complete mode, memory sink), checked
    // against the SAME oracle — stream/batch parity for overlapping
    // window assignment, the q98/q104 pairing applied to q119.
    "q125_stream_sliding" -> QueryDef(
      fn = (s, d) => {
        val dir = stageEventsDir(d)
        val table = try {
          val agg = stagedEventsStream(streamingSession(s), dir)
            .groupBy(window(col("ts"), "2 hours", "1 hour"))
            .agg(count(lit(1)).as("n"), exactSum(col("value")).as("sum_value"))
          runToMemoryTable(agg, "q125_mem")
        } finally dropStaged(dir)
        table.select(unix_millis(col("window.start")).as("win_start_ms"),
          col("n"), col("sum_value"))
          .orderBy("win_start_ms")
      },
      oracle = Some(slidingOracleSql)),

    // Dynamic partition pruning: events staged as a day-partitioned
    // table, joined to a FILTERED day dimension on the partition column —
    // Catalyst injects the dim's surviving keys as a runtime partition
    // filter, so the fact scan reads only the matching day directories
    // (the decisive scan-cost lever for date-keyed 100 TB facts).
    // SinkSpec asserts `dynamicpruning` in the live executed plan; here
    // the semantic outcome is oracle-checked. Cleanup in finally.
    "q126_dpp_join" -> QueryDef(
      fn = (s, d) => {
        val base = java.nio.file.Files.createTempDirectory("graft-dpp")
        try {
          // staging write INSIDE the try: a mid-write failure must still
          // drop the partial tree
          t(s, d, "events")
            .withColumn("day_ms", expr("(unix_millis(ts) div 86400000) * 86400000"))
            .write.partitionBy("day_ms").parquet(s"$base/ev")
          val facts = s.read.parquet(s"$base/ev")
          // the filter sits directly over the dim scan — the
          // PartitionPruning rule needs a selective predicate on the
          // build side (a filter over a local relation folds away; see
          // DppSpec for the distilled requirements)
          val dim = t(s, d, "events")
            .filter(expr("(unix_millis(ts) div 86400000) % 3 = 0"))
            .select(expr("(unix_millis(ts) div 86400000) * 86400000").as("day_ms"))
            .distinct()
          facts.join(broadcast(dim), Seq("day_ms"))
            .groupBy("event_type")
            .agg(count(lit(1)).as("n"), exactSum(col("value")).as("sum_value"))
            .orderBy("event_type")
            .localCheckpoint(true)
        } finally dropStaged(base)
      },
      oracle = Some(s"""
        SELECT event_type, count(*) AS n, ${sumSql("value")} AS sum_value
        FROM events
        WHERE (epoch_ms(ts) // 86400000) % 3 = 0
        GROUP BY event_type ORDER BY event_type""")),

    // Native DECIMAL(18,2) aggregation — the exact-money path WITHOUT
    // the cents trick (the trade documented at Catalog.cents: decimal
    // hash-agg is ~3x the long path but needs no scaling insight). Exact
    // decimal sums, one final cast to double, identical in both engines.
    "q127_decimal_agg" -> QueryDef(
      fn = (s, d) => t(s, d, "lineitem")
        .select(col("l_returnflag"),
          col("l_extendedprice").cast("decimal(18,2)").as("p"),
          col("l_discount").cast("decimal(18,2)").as("disc"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("p")).cast("double").as("sum_price"),
          sum(col("p") * (lit(java.math.BigDecimal.ONE) - col("disc")))
            .cast("double").as("sum_disc_price"))
        .orderBy("l_returnflag"),
      oracle = Some("""
        SELECT l_returnflag, count(*) AS n,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_price,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
                 AS sum_disc_price
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // Hot-key join under AQE: one synthetic mega-key holds a quarter of
    // lineitem; semantics are oracle-checked here, and the RUNTIME
    // behavior — AQE splitting the skewed SMJ partition (`skew=true`) —
    // is asserted live in SkewSpec with prod-shaped thresholds scaled
    // down. Complements the manual salting paths (q41/q85), which cover
    // the shapes AQE does not rewrite.
    "q128_skew_join_aqe" -> QueryDef(
      fn = (s, d) => {
        // hot key is 1L — a key that EXISTS in the dim (o_orderkey >= 1),
        // so the skew-handled rows survive the inner join and the oracle
        // validates them; with 0L (no dim match) a mis-merged AQE skew
        // split would have been invisible
        val facts = t(s, d, "lineitem").select(
          when(col("l_orderkey") % 4 === 0, 1L)
            .otherwise(col("l_orderkey") % 1000).as("k"),
          col("l_quantity"))
        val dim = t(s, d, "orders")
          .filter(col("o_orderkey") < 1000)
          .select(col("o_orderkey").as("k"),
            col("o_orderpriority").as("grp"))
        facts.join(dim, "k")
          .groupBy("grp")
          .agg(count(lit(1)).as("n"), exactSum(col("l_quantity")).as("sum_qty"))
          .orderBy("grp")
      },
      oracle = Some(s"""
        WITH f AS (SELECT CASE WHEN l_orderkey % 4 = 0 THEN 1
                               ELSE l_orderkey % 1000 END AS k, l_quantity
                   FROM lineitem),
        dim AS (SELECT o_orderkey AS k, o_orderpriority AS grp
                FROM orders WHERE o_orderkey < 1000)
        SELECT grp, count(*) AS n, ${sumSql("l_quantity")} AS sum_qty
        FROM f JOIN dim USING (k)
        GROUP BY grp ORDER BY grp""")),

    // Incremental SCD2 merge (ChangeCapture.scd2Merge): the event
    // history is split at min+15d; the first half is compacted into a
    // dimension, the second half merged in — cost O(dim + batch), not
    // O(history). Checked against the SAME oracle as q107's one-shot
    // compaction: merge(compact(old), new) == compact(all) is the
    // incremental-maintenance correctness claim.
    "q129_scd2_merge" -> QueryDef(
      fn = (s, d) => {
        import graft.ops.ChangeCapture
        val ev = t(s, d, "events")
        val ms = unix_millis(col("ts"))
        val t0 = ev.agg(min(ms)).head().getLong(0) // bounded scalar
        val split = t0 + 15L * 86400000L
        val dim = ChangeCapture.scd2(ev.filter(ms <= split),
          "user_id", "event_type", ms, col("event_id"))
        ChangeCapture.scd2Merge(dim, ev.filter(ms > split),
            "user_id", "event_type", ms, col("event_id"))
          .select(col("user_id"), col("version"), col("event_type"),
            col("valid_from").as("valid_from_ms"),
            col("valid_to").as("valid_to_ms"), col("is_current"))
          .orderBy("user_id", "version")
      },
      oracle = Some(scd2OracleSql)),

    // GROUPING SETS with grouping_id — the explicit-sets member of the
    // rollup (q36) / cube (q51) family, through the SQL surface (S11).
    // Both engines put the leftmost grouping column in the id's MSB;
    // NULLS FIRST is spelled out because DuckDB default-sorts nulls last.
    "q130_grouping_sets" -> QueryDef(
      fn = (s, d) => {
        t(s, d, "lineitem").createOrReplaceTempView("q130_li")
        s.sql(s"""
          SELECT l_returnflag, l_linestatus,
                 CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
                 count(*) AS n,
                 CAST(sum(CAST(l_quantity * 100.0 + SIGNUM(l_quantity) * 0.5
                   AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty
          FROM q130_li
          GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                  (l_returnflag), ())
          ORDER BY gid, l_returnflag ASC NULLS FIRST,
                   l_linestatus ASC NULLS FIRST""")
      },
      oracle = Some(s"""
        SELECT l_returnflag, l_linestatus,
               CAST(grouping(l_returnflag, l_linestatus) AS BIGINT) AS gid,
               count(*) AS n, ${sumSql("l_quantity")} AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_returnflag), ())
        ORDER BY gid, l_returnflag ASC NULLS FIRST,
                 l_linestatus ASC NULLS FIRST""")),

    // VARIANT shredding (the Spark 4 semi-structured type): props parsed
    // ONCE to a variant, fields extracted with variant_get — the
    // schema-on-read path that replaces per-field JSON re-parsing. The
    // oracle reads the same fields with DuckDB's JSON functions.
    "q131_variant_shred" -> QueryDef(
      fn = (s, d) => t(s, d, "events")
        .select(col("event_type"),
          expr("variant_get(parse_json(props), '$.k', 'long')").as("k"))
        .groupBy(col("event_type"), (col("k") % 10).as("k_mod"))
        .agg(count(lit(1)).as("n"), min("k").as("min_k"), max("k").as("max_k"))
        .orderBy("event_type", "k_mod"),
      oracle = Some("""
        WITH x AS (SELECT event_type,
                          CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
                   FROM events)
        SELECT event_type, k % 10 AS k_mod, count(*) AS n,
               min(k) AS min_k, max(k) AS max_k
        FROM x GROUP BY event_type, k % 10
        ORDER BY event_type, k_mod""")),

    // ORC round-trip — the second columnar format (built-in writer and
    // vectorized reader): semantics must survive the format change
    // exactly. Same staging discipline as q117 (finally-cleanup,
    // checkpoint before delete); the oracle reads the original parquet.
    "q132_orc_roundtrip" -> QueryDef(
      fn = (s, d) => {
        val base = java.nio.file.Files.createTempDirectory("graft-orc")
        try {
          t(s, d, "lineitem")
            .select("l_returnflag", "l_quantity", "l_extendedprice")
            .write.mode("overwrite").orc(s"$base/li_orc")
          s.read.orc(s"$base/li_orc")
            .groupBy("l_returnflag")
            .agg(count(lit(1)).as("n"),
              exactSum(col("l_quantity")).as("sum_qty"),
              exactSum(col("l_extendedprice")).as("sum_price"))
            .orderBy("l_returnflag")
            .localCheckpoint(true)
        } finally dropStaged(base)
      },
      oracle = Some(s"""
        SELECT l_returnflag, count(*) AS n,
               ${sumSql("l_quantity")} AS sum_qty,
               ${sumSql("l_extendedprice")} AS sum_price
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // Regexp family over the corpus: extract-all + explode (token mining),
    // count (pattern frequency), replace (normalization length delta) —
    // RE2-safe patterns only (no lookaround), so Java and DuckDB regex
    // semantics coincide.
    "q133_regexp_family" -> QueryDef(
      fn = (s, d) => t(s, d, "documents")
        .select(col("doc_id"),
          expr("CAST(regexp_count(text, '[aeiou]{2}') AS BIGINT)")
            .as("vowel_pairs"),
          expr("CAST(size(regexp_extract_all(text, '[a-z]{7,}', 0)) AS BIGINT)")
            .as("long_words"),
          length(regexp_replace(col("text"), "[aeiou]", ""))
            .cast("long").as("len_novowels"))
        .orderBy("doc_id"),
      oracle = Some("""
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '[aeiou]{2}')) AS BIGINT)
                 AS vowel_pairs,
               CAST(len(regexp_extract_all(text, '[a-z]{7,}')) AS BIGINT)
                 AS long_words,
               CAST(length(regexp_replace(text, '[aeiou]', '', 'g')) AS BIGINT)
                 AS len_novowels
        FROM documents ORDER BY doc_id""")),

    // Date-dimension build (every warehouse's first table): a calendar
    // spine spanning the orders date range via sequence+explode (no
    // driver loop), with the derived attributes joins prune on. Dates are
    // rendered ISO so both engines hash identical strings; day-of-week is
    // normalized to DuckDB's Sunday=0 convention (Spark's dayofweek is
    // Sunday=1 — an off-by-one that silently shifts every weekly report).
    "q134_date_dim" -> QueryDef(
      fn = (s, d) => {
        val range = t(s, d, "orders")
          .agg(min(to_date(col("o_orderdate"))).as("lo"),
            max(to_date(col("o_orderdate"))).as("hi"))
        range.select(explode(expr(
            "sequence(lo, hi, INTERVAL 1 DAY)")).as("d"))
          .select(date_format(col("d"), "yyyy-MM-dd").as("day"),
            year(col("d")).cast("long").as("yr"),
            quarter(col("d")).cast("long").as("qtr"),
            month(col("d")).cast("long").as("mon"),
            (dayofweek(col("d")) - 1).cast("long").as("dow0"),
            weekofyear(col("d")).cast("long").as("iso_week"),
            (col("d") === last_day(col("d"))).as("is_month_end"))
          .orderBy("day")
      },
      oracle = Some("""
        WITH r AS (SELECT CAST(min(o_orderdate) AS DATE) AS lo,
                          CAST(max(o_orderdate) AS DATE) AS hi FROM orders),
        spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))
                    AS dts FROM r),
        days AS (SELECT CAST(dts AS DATE) AS d FROM spine)
        SELECT strftime(d, '%Y-%m-%d') AS day,
               CAST(year(d) AS BIGINT) AS yr,
               CAST(quarter(d) AS BIGINT) AS qtr,
               CAST(month(d) AS BIGINT) AS mon,
               CAST(dayofweek(d) AS BIGINT) AS dow0,
               CAST(weekofyear(d) AS BIGINT) AS iso_week,
               (d = last_day(d)) AS is_month_end
        FROM days ORDER BY day""")),

    // Join-strategy hints: the planner-control surface. The orders side
    // is forced through a ShuffledHashJoin (no sort, build-side hash —
    // right when both sides are large but one fits per-partition memory)
    // and the customer dim through a SortMergeJoin despite being
    // broadcastable. Semantics unchanged — the oracle is the plain join;
    // PlanSpec asserts both strategy nodes survive planning.
    "q135_join_hints" -> QueryDef(
      fn = (s, d) => {
        val li = t(s, d, "lineitem").select("l_orderkey", "l_extendedprice")
        val ord = t(s, d, "orders").hint("shuffle_hash")
          .select("o_orderkey", "o_custkey")
        val cust = t(s, d, "customer").hint("merge")
          .select("c_custkey", "c_mktsegment")
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n"),
            exactSum(col("l_extendedprice")).as("sum_price"))
          .orderBy("c_mktsegment")
      },
      oracle = Some(s"""
        SELECT c_mktsegment, count(*) AS n,
               ${sumSql("l_extendedprice")} AS sum_price
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // STREAM-STREAM interval join (StreamingIngest.streamStreamJoin):
    // clicks matched to purchases of the same user within +-1h, both
    // sides watermarked so state stays O(recent traffic). The oracle is
    // the equivalent batch interval join over integer MICROS on both
    // engines — comparing raw nanos (DuckDB) to truncated micros (Spark)
    // would flip boundary-exact pairs.
    "q136_stream_stream_join" -> QueryDef(
      fn = (s, d) => {
        clickPurchaseStreamJoin(s, d, "q136_mem")
          .groupBy((col("user_id") % 10).as("bucket"))
          .agg(count(lit(1)).as("n"), exactSum(col("r_value")).as("sum_value"))
          .orderBy("bucket")
      },
      oracle = Some(s"""
        WITH c AS (SELECT user_id, epoch_us(ts) AS us FROM events
                   WHERE event_type = 'click'),
        p AS (SELECT user_id, epoch_us(ts) AS us, value FROM events
              WHERE event_type = 'purchase')
        SELECT c.user_id % 10 AS bucket, count(*) AS n,
               ${sumSql("p.value")} AS sum_value
        FROM c JOIN p ON c.user_id = p.user_id
          AND p.us BETWEEN c.us - 3600000000 AND c.us + 3600000000
        GROUP BY c.user_id % 10 ORDER BY bucket""")),

    // Multi-aggregate pivot: count AND exact sum per pivoted event_type
    // in ONE pass (Spark suffixes the agg aliases onto each pivot value;
    // the oracle mirrors the generated names with conditional
    // aggregates). Explicit value list keeps the output schema static —
    // no distinct-collect job (SURVEY §4).
    "q137_pivot_multi_agg" -> QueryDef(
      fn = (s, d) => t(s, d, "events")
        .groupBy((col("user_id") % 20).as("bucket"))
        .pivot("event_type", eventTypes)
        .agg(count(lit(1)).as("n"), exactSum(col("value")).as("sv"))
        .orderBy("bucket"),
      oracle = Some {
        // nullif: Spark's pivot yields NULL (not 0) for an absent
        // (bucket, value) combination — count(*) FILTER yields 0
        val cols = eventTypes.map { et =>
          s"""nullif(count(*) FILTER (event_type = '$et'), 0) AS "${et}_n",
              (CAST(sum(${centsSql("value")})
                 FILTER (event_type = '$et') AS DOUBLE) / 100.0) AS "${et}_sv""""
        }.mkString(", ")
        s"""SELECT user_id % 20 AS bucket, $cols
            FROM events GROUP BY user_id % 20 ORDER BY bucket"""
      }),

    // Correlated LATERAL subquery (per-order aggregate applied row-wise):
    // Catalyst decorrelates it into a join + aggregate — the SQL-surface
    // shape analysts write, executed as the distributed plan an engine
    // should produce (no per-row re-execution, no nested loops — the
    // PlanSpec guard). Orders without lineitems still yield a row
    // (NULL max, 0 count) on both engines.
    "q138_lateral_subquery" -> QueryDef(
      fn = (s, d) => {
        t(s, d, "orders").createOrReplaceTempView("q138_ord")
        t(s, d, "lineitem").createOrReplaceTempView("q138_li")
        s.sql("""
          SELECT o_orderkey, o_orderpriority, l.max_price, l.n_lines
          FROM q138_ord, LATERAL (
            SELECT max(l_extendedprice) AS max_price,
                   count(*) AS n_lines
            FROM q138_li WHERE l_orderkey = o_orderkey) l
          ORDER BY o_orderkey""")
      },
      oracle = Some("""
        SELECT o_orderkey, o_orderpriority, l.max_price, l.n_lines
        FROM orders, LATERAL (
          SELECT max(l_extendedprice) AS max_price,
                 count(*) AS n_lines
          FROM lineitem WHERE l_orderkey = o_orderkey) l
        ORDER BY o_orderkey""")),

    // Scalar subqueries, uncorrelated AND correlated, in one predicate:
    // orders above the global average price (exact cents average — a
    // plain avg(double) would be association-dependent across engines)
    // and below 4x their own most expensive line. Catalyst plans the
    // uncorrelated scalar as a one-row broadcast and decorrelates the
    // correlated one into an aggregate join.
    // NON-VACUOUS (the q33 rule): the original `< 2x max line` bound
    // matched 0 orders at EVERY sf (an above-average order's total
    // always exceeds twice its largest line here); at 4x the result is
    // 252 / 2,576 / 25,922 orders across 5 priority groups at
    // sf0.001 / 0.01 / 0.1 — a broken decorrelation cannot hide.
    "q139_scalar_subquery" -> QueryDef(
      fn = (s, d) => {
        t(s, d, "orders").createOrReplaceTempView("q139_ord")
        t(s, d, "lineitem").createOrReplaceTempView("q139_li")
        s.sql("""
          SELECT o_orderpriority, count(*) AS n
          FROM q139_ord
          WHERE o_totalprice > (
              SELECT CAST(sum(CAST(o_totalprice * 100.0
                  + SIGNUM(o_totalprice) * 0.5 AS BIGINT)) AS DOUBLE)
                / 100.0 / count(o_totalprice)
              FROM q139_ord)
            AND o_totalprice < (
              SELECT max(l_extendedprice) * 4
              FROM q139_li WHERE l_orderkey = o_orderkey)
          GROUP BY o_orderpriority ORDER BY o_orderpriority""")
      },
      oracle = Some(s"""
        SELECT o_orderpriority, count(*) AS n
        FROM orders
        WHERE o_totalprice > (SELECT ${avgSql("o_totalprice")} FROM orders)
          AND o_totalprice < (SELECT max(l_extendedprice) * 4
                              FROM lineitem WHERE l_orderkey = o_orderkey)
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // Manifest-commit table sink (round 14 — r13 verdict #6): the
    // jar-free ACID substitute for the blocked Delta/Iceberg item.
    // Protocol under the ORACLE gate, not just the spec: commit a
    // half-range snapshot, REPLACE it with the full daily aggregate,
    // then replay the full commit with CORRUPTED data under the SAME
    // commitId — the idempotency rule must no-op the retry (exactly the
    // reference's append-duplicate gap,
    // glue_jobs/process_openaq_raw.py:253-256, closed at the protocol
    // level). The re-read of the latest snapshot must equal the plain
    // aggregate; if the corrupt retry had won, every `n` is x999 and
    // the hash goes red. ManifestTableSpec covers crash-between-stages,
    // concurrent readers, time travel, and vacuum.
    "q401_manifest_sink_roundtrip" -> QueryDef(
      fn = (s, d) => {
        val dir = manifestDir("q401", d)
        val daily = manifestDaily(s, d)
        graft.sources.ManifestTable.commit(
          daily.filter(dayofmonth(to_date(col("day"))) <= 15), dir, "half")
        graft.sources.ManifestTable.commit(daily, dir, "full")
        graft.sources.ManifestTable.commit(
          daily.withColumn("n", col("n") * 999L), dir, "full")
        graft.sources.ManifestTable.read(s, dir)
          .orderBy("event_type", "day")
      },
      oracle = Some(manifestOracleSql)),

    // Append-mode composition of the manifest sink: three disjoint
    // day-range slices land as three append commits (each snapshot =
    // parent files + new files — O(1) metadata, no rewrite of prior
    // data), with the middle slice REPLAYED under its commitId to pin
    // idempotency in append mode too. The latest snapshot must read as
    // the union — equal to the one-shot aggregate the oracle computes.
    "q402_manifest_append" -> QueryDef(
      fn = (s, d) => {
        val dir = manifestDir("q402", d)
        val daily = manifestDaily(s, d)
        def slice(lo: Int, hi: Int) = daily
          .filter(dayofmonth(to_date(col("day"))).between(lo, hi))
        graft.sources.ManifestTable.commit(slice(1, 10), dir, "d01-10", mode = "append")
        graft.sources.ManifestTable.commit(slice(11, 20), dir, "d11-20", mode = "append")
        graft.sources.ManifestTable.commit(slice(21, 31), dir, "d21-31", mode = "append")
        // scheduler retry of the middle slice: must not duplicate rows
        graft.sources.ManifestTable.commit(slice(11, 20), dir, "d11-20", mode = "append")
        graft.sources.ManifestTable.read(s, dir)
          .orderBy("event_type", "day")
      },
      oracle = Some(manifestOracleSql)),

    // EXACTLY-ONCE streaming sink via the manifest table (round 14) —
    // the composition the two pieces exist for: each micro-batch lands
    // as ONE idempotent append commit keyed by its batchId, so a
    // replayed batch (restart from checkpoint re-delivers the last
    // uncommitted batch — Structured Streaming's at-least-once
    // boundary) can never duplicate rows. The replay is SIMULATED
    // inline (every batch commits twice) and the re-read aggregate
    // must still equal the plain batch oracle — at-least-once
    // delivery + idempotent commit = exactly-once table state, the
    // same contract Delta's streaming sink implements with its
    // txn-version column. Batching is partition-dependent, but any
    // disjoint batching unions to the same multiset, so the aggregate
    // is batching-invariant — which is what makes it oracle-checkable.
    "q410_stream_manifest_sink" -> QueryDef(
      fn = (s, d) => {
        val dir = manifestDir("q410", d)
        val staged = stageEventsDir(d)
        val ss = streamingSession(s)
        try {
          val stream = stagedEventsStream(ss, staged)
            .select(col("event_id"), col("event_type"),
              Catalog.cents(col("value")).as("cents"))
          val q = stream.writeStream
            .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
              graft.sources.ManifestTable.commit(
                batch.toDF(), dir, s"batch-$batchId", mode = "append")
              // the simulated checkpoint replay — must be a no-op
              graft.sources.ManifestTable.commit(
                batch.toDF(), dir, s"batch-$batchId", mode = "append")
              ()
            }
            .start()
          try {
            q.processAllAvailable()
            Catalog.ProgressLog.record(q)
          } finally q.stop()
        } finally dropStaged(staged)
        graft.sources.ManifestTable.read(s, dir)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
          .orderBy("event_type")
      },
      oracle = Some(s"""
        SELECT event_type, count(*) AS n,
               CAST(sum(${centsSql("value")}) AS BIGINT) AS sum_cents
        FROM events GROUP BY event_type ORDER BY event_type"""),
      streaming = true),
  )

  /** q401/q402's committed table: per (event_type, day) exact cent sums and
    * counts — the rows [[manifestOracleSql]] recomputes.
    */
  private def manifestDaily(s: SparkSession, d: String): DataFrame =
    t(s, d, "events")
      .groupBy(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(sum(cents(col("value"))).as("sum_cents"), count(lit(1)).as("n"))

  /** Fresh manifest-table dir per (query, sf) run — reruns must exercise
    * the commit protocol from empty, not append to a previous run's log.
    */
  private def manifestDir(q: String, sfDir: String): String = {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_${q}_" +
      sfDir.replaceAll("[^0-9a-zA-Z]", "_")
    val root = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(root)) deleteTree(root)
    dir
  }
}
