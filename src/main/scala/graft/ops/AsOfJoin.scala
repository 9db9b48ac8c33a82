package graft.ops

import graft.functions.expressions.{AsOfIndex, AsOfLookup}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DateType, IntegerType, LongType, MapType, StructField, StructType, TimestampNTZType, TimestampType}

/** As-of (point-in-time) join: for every left row, the most recent right
  * row with `rightTs <= leftTs` on the same key — the time-series
  * enrichment operator Spark lacks natively.
  *
  * Implementation is the union-tag-window composition (preference (a) from
  * the custom-operator ladder — no custom physical operator needed):
  * tag both sides, union, and run `last_value(..., ignoreNulls)` over a
  * window partitioned by key and ordered by (ts, side) with right rows
  * sorting before left rows at equal timestamps (so `<=` semantics hold).
  *
  * Scale properties: exactly ONE shuffle (hash by key for the window) and
  * a per-partition sort — same cost as a sort-merge join, with none of the
  * range-join blowup a theta-join `rightTs <= leftTs` would cause (which
  * Spark plans as a broadcast-nested-loop or cartesian). Each key's
  * timeline is processed sequentially within its partition; skewed keys
  * can be range-split by time before the union if needed.
  */
object AsOfJoin {

  /** @param left       the "needle" side (one output row per left row)
    * @param right      the "quote" side providing the as-of values
    * @param on         equality key columns (both sides)
    * @param leftTs     left timestamp column name
    * @param rightTs    right timestamp column name
    * @param rightCols  right columns to carry (must not collide with left)
    * @param tolerance  optional max age of the matched right row; older
    *                   matches become null (like `ASOF ... TOLERANCE`)
    * @param rightTieBreak extra ordering among right rows sharing the same
    *                   (key, ts) — the LAST row under this order wins for
    *                   backward, the FIRST for forward. Without it the
    *                   winner among exact-ts ties is whatever the shuffle
    *                   delivered (same as DuckDB's ASOF JOIN, but
    *                   nondeterministic run-to-run). Under
    *                   direction="nearest" each candidate side keeps its
    *                   own convention: when the backward side wins the
    *                   tie you get the LAST row under this order, when
    *                   the forward side wins you get the FIRST.
    * @param direction  "backward" (default: most recent right row with
    *                   rightTs <= leftTs), "forward" (earliest right row
    *                   with rightTs >= leftTs — the "next quote/price
    *                   update" shape), or "nearest" (whichever side is
    *                   closer in time; exact ties prefer backward, like
    *                   pandas merge_asof). Same single-shuffle plan in
    *                   every mode — nearest adds one more window SORT over
    *                   the same exchange, never a second shuffle.
    */
  def asof(
      left: DataFrame,
      right: DataFrame,
      on: Seq[String],
      leftTs: String,
      rightTs: String,
      rightCols: Seq[String],
      tolerance: Option[Column] = None,
      rightTieBreak: Seq[Column] = Nil,
      direction: String = "backward"): DataFrame = {
    require(Seq("backward", "forward", "nearest").contains(direction),
      s"direction must be backward|forward|nearest, got '$direction'")
    val leftCols = left.columns.toSeq
    require(!rightCols.exists(leftCols.contains),
      "rightCols must not collide with left columns")

    val taggedLeft = rightCols.foldLeft(
        left.withColumn("__ts", col(leftTs)).withColumn("__side", lit(1))) {
      (df, c) => df.withColumn(c, lit(null))
    }
    val taggedRight = leftCols.filterNot(on.contains).foldLeft(
        right.withColumn("__ts", col(rightTs)).withColumn("__side", lit(0))) {
      (df, c) => df.withColumn(c, lit(null))
    }
    val unioned = taggedLeft.select((leftCols ++ rightCols ++ Seq("__ts", "__side")).map(col): _*)
      .unionByName(
        taggedRight.select((leftCols ++ rightCols ++ Seq("__ts", "__side")).map(col): _*))

    // carry ALL right columns in ONE struct: per-column last(..ignoreNulls)
    // windows would stitch values from DIFFERENT right rows whenever the
    // matched row holds a null in one carried column (and age-check against
    // yet another row's ts). The struct is non-null exactly for right rows,
    // so ignoreNulls skips left rows and every field comes from the single
    // matched row — nulls included.
    val rightStruct = when(col("__side") === 0,
      struct(col("__ts").as("__match_ts") +: rightCols.map(col): _*))

    // backward: right rows sort BEFORE left at the same instant (side 0
    // first) and the LAST non-null struct up to the current row wins —
    // <= semantics. forward: left sorts before right at the same instant
    // (side desc) and the FIRST non-null struct from the current row on
    // wins — >= semantics. Both ride the SAME hash exchange; only the
    // within-partition sort differs.
    def backFill = last(rightStruct, ignoreNulls = true).over(
      Window.partitionBy(on.map(col): _*)
        .orderBy(col("__ts") +: col("__side") +: rightTieBreak: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    def fwdFill = first(rightStruct, ignoreNulls = true).over(
      Window.partitionBy(on.map(col): _*)
        .orderBy(col("__ts") +: col("__side").desc +: rightTieBreak: _*)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing))

    def age(matchTs: Column): Column = direction match {
      case "forward" => matchTs - col("__ts")
      case _         => col("__ts") - matchTs
    }
    def within(matchTs: Column, delta: Column): Column = tolerance match {
      case Some(tol) => matchTs.isNotNull && delta <= tol
      case None      => matchTs.isNotNull
    }

    val filled = direction match {
      case "backward" => unioned.withColumn("__r", backFill)
      case "forward"  => unioned.withColumn("__r", fwdFill)
      case "nearest"  =>
        // both candidates, then per-row choice: the closer one within
        // tolerance; exact distance ties and both-valid-equal prefer
        // backward (pandas merge_asof convention)
        val both = unioned.withColumn("__rb", backFill).withColumn("__rf", fwdFill)
        val bOk = within(col("__rb.__match_ts"), col("__ts") - col("__rb.__match_ts"))
        val fOk = within(col("__rf.__match_ts"), col("__rf.__match_ts") - col("__ts"))
        both.withColumn("__r",
          when(bOk && fOk,
            when(col("__ts") - col("__rb.__match_ts")
              <= col("__rf.__match_ts") - col("__ts"), col("__rb"))
              .otherwise(col("__rf")))
            .when(bOk, col("__rb"))
            .when(fOk, col("__rf"))
            .otherwise(lit(null)))
          .drop("__rb", "__rf")
    }

    val matchTs = col("__r.__match_ts")
    val ok =
      if (direction == "nearest") matchTs.isNotNull // tolerance already applied
      else within(matchTs, age(matchTs))

    filled
      .filter(col("__side") === 1)
      .select((leftCols.map(col) ++
        rightCols.map(rc => when(ok, col(s"__r.$rc")).otherwise(lit(null)).as(rc)) :+
        when(ok, matchTs).otherwise(lit(null)).as("asof_ts")): _*)
  }

  /** Auto-dispatching as-of join (r12 verdict #5): picks the best of the
    * three surfaces by shape and size, so callers get merge-exec economics
    * or a zero-shuffle broadcast probe without choosing by hand.
    *
    * Dispatch rules, in order (micros tolerance requires a micros/long
    * axis up front — the rule every surface now shares):
    *  1. `direction = "nearest"` on a NON-long-backed (but orderable)
    *     timestamp axis → the union+window form ([[asof]]) — nearest
    *     needs numeric time distances the other surfaces compute on the
    *     long encoding. (Since round 14 this is the ONLY shape that
    *     forces the window form: the broadcast probe binary-searches
    *     both neighbors and the merge exec reads its forward peek for
    *     free, so long-backed nearest rides the same physical ladder as
    *     backward/forward.)
    *  2. Broadcast-eligible shape (atomic keys and carried columns,
    *     long-backed timestamp) AND right side's optimizer-estimated
    *     bytes <= `graft.asof.broadcastThreshold` (default: the
    *     session's `spark.sql.autoBroadcastJoinThreshold`; <= 0
    *     disables) → [[asofBroadcast]] — a map-only probe that
    *     preserves the left scan's pushed filters, pruned columns, and
    *     partitioning.
    *  3. Otherwise → the merge exec
    *     ([[graft.plans.AsOfMergeJoin.asofMerge]]), which ships each
    *     side at its own width with O(1) per-task state.
    *
    * All surfaces emit identical columns (left ++ asof_ts ++ rightCols)
    * and identical rows (AsOfAutoSpec pins three-way parity), so the
    * dispatch is purely a physical choice — like Spark's own join
    * strategy selection.
    *
    * Sizing note: the broadcast rung still `executeCollect`s the right
    * side on the driver, so the threshold guards DRIVER memory too; the
    * stats estimate can overshoot reality (post-filter estimates are
    * conservative), in which case the merge exec is the safe default.
    */
  def asofAuto(
      left: DataFrame,
      right: DataFrame,
      on: Seq[String],
      leftTs: String,
      rightTs: String,
      rightCols: Seq[String],
      rightTieBreak: Seq[(String, Boolean)] = Nil,
      direction: String = "backward",
      toleranceMicros: Option[Long] = None): DataFrame = {
    require(Seq("backward", "forward", "nearest").contains(direction),
      s"direction must be backward|forward|nearest, got '$direction'")
    // micros tolerance needs a micros/long axis on EVERY surface (the
    // r12 ADVICE rule): rejecting here keeps the dispatch's choice
    // invisible to semantics
    if (toleranceMicros.isDefined) {
      require(Seq(TimestampType, TimestampNTZType, LongType)
          .contains(right.schema(rightTs).dataType),
        s"tolerance needs a long-backed timestamp, got ${right.schema(rightTs).dataType}")
    }
    val spark = left.sparkSession
    def tieCols: Seq[Column] = rightTieBreak.map { case (c, asc) =>
      if (asc) col(c).asc else col(c).desc
    }
    def windowForm: DataFrame = {
      // convert the micros tolerance to the window form's Column
      // convention: timestamp subtraction yields a day-time interval,
      // long/int/date axes subtract to their own numeric unit
      val tolCol = toleranceMicros.map { m =>
        left.schema(leftTs).dataType match {
          case TimestampType | TimestampNTZType =>
            expr(s"INTERVAL '$m' MICROSECOND")
          case _ => lit(m)
        }
      }
      asof(left, right, on, leftTs, rightTs, rightCols, tolCol,
        rightTieBreak.map { case (c, asc) => if (asc) col(c) else col(c).desc },
        direction)
    }
    def atomicType(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: ArrayType | _: MapType | _: StructType => false
      case _                                         => true
    }
    val tsType = right.schema(rightTs).dataType
    val longBacked = Seq(TimestampType, TimestampNTZType, DateType,
      IntegerType, LongType).contains(tsType)
    // nearest needs numeric time distances; on a non-long-backed (but
    // still orderable) axis only the window form can express it —
    // backward/forward on such an axis still take the merge exec below
    // (it compares via InterpretedOrdering, no numeric math)
    if (direction == "nearest" && !longBacked) return windowForm
    val bcastEligible = longBacked &&
      on.forall(c => atomicType(right.schema(c).dataType)) &&
      rightCols.forall(c => atomicType(right.schema(c).dataType))
    // unset → session autoBroadcastJoinThreshold; a SET-but-malformed
    // value (e.g. "10MB") must FAIL, not silently fall back and change
    // the dispatch route (r13 ADVICE) — so only the not-set case is
    // caught and a malformed value throws, naming the key
    val threshold = spark.conf.getOption("graft.asof.broadcastThreshold") match {
      case Some(v) => v.trim.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"graft.asof.broadcastThreshold must be an integer byte count, got '$v'"))
      case None    => spark.sessionState.conf.autoBroadcastJoinThreshold
    }
    lazy val rightBytes = right.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bcastEligible && threshold > 0 && rightBytes <= threshold)
      asofBroadcast(left, right, on, leftTs, rightTs, rightCols, tieCols,
        direction, toleranceMicros = toleranceMicros)
    else
      graft.plans.AsOfMergeJoin.asofMerge(left, right, on, leftTs, rightTs,
        rightCols, rightTieBreak, direction, toleranceMicros)
  }

  private val bcastFnCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Live (fname → (owning session, broadcast)) handles from
    * [[asofBroadcast]] calls, per JVM. Each call pins its AsOfIndex
    * broadcast (up to `maxRightRows` driver-materialized rows) via the
    * temp function registered in the OWNING session's registry;
    * [[releaseBroadcastIndexes]] is the cleanup path. The session is
    * held WEAKLY (r13 ADVICE): a broadcast registered in a discarded
    * clone (e.g. a streamingSession) must not pin that whole session,
    * and release must still destroy its broadcast after the clone is
    * collected — the registry entry dies with the session in that case.
    */
  // private[ops] (not private): AsOfBroadcastSpec clears an entry's
  // WeakReference to deterministically exercise the owner-GC'd release
  // branch — real GC of a session clone is not forceable from a test
  private[ops] val liveBroadcasts =
    new java.util.concurrent.ConcurrentHashMap[
      String, (java.lang.ref.WeakReference[org.apache.spark.sql.SparkSession],
               org.apache.spark.broadcast.Broadcast[AsOfIndex])]()

  /** Release every broadcast AsOfIndex built by [[asofBroadcast]] in this
    * JVM: drop each temp function from the session that REGISTERED it
    * (not the session passed here — a clone's registry entry would
    * otherwise stay behind pinning a destroyed broadcast, r13 ADVICE)
    * and destroy the broadcasts (freeing driver + executor copies). The
    * parameter is kept only as a fallback registry for entries whose
    * owning session was already garbage-collected. Call when the
    * DataFrames returned by prior asofBroadcast calls are fully consumed
    * — any of them re-executed afterwards will fail (destroyed
    * broadcast). Returns the number of indexes released.
    */
  def releaseBroadcastIndexes(spark: org.apache.spark.sql.SparkSession): Int = {
    import scala.jdk.CollectionConverters._
    val entries = liveBroadcasts.asScala.toSeq
    entries.foreach { case (fname, (ownerRef, bc)) =>
      liveBroadcasts.remove(fname)
      val owner = Option(ownerRef.get()).getOrElse(spark)
      try owner.sessionState.functionRegistry.dropFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier(fname))
      catch { case _: Throwable => () }
      try bc.destroy() catch { case _: Throwable => () }
    }
    entries.size
  }

  /** Broadcast as-of join — the ZERO-SHUFFLE rung of the as-of ladder for
    * the dominant production shape: a huge fact side enriched against a
    * SMALL reference history (price list, sensor calibration, config
    * timeline). [[asof]] shuffles the union of both sides; the merge exec
    * ([[graft.plans.AsOfMergeJoin]]) shuffles each side at its own width;
    * this form shuffles NEITHER — the right side is collected once on
    * the driver into a per-key sorted [[AsOfIndex]], broadcast, and
    * probed partition-locally by a native [[AsOfLookup]] expression
    * inside the left side's existing whole-stage-codegen span. At 100 TB
    * that is the difference between re-hashing the fact table and a
    * map-only pass that preserves the scan's pushed filters, pruned
    * columns, and partitioning.
    *
    * Same semantics as [[asof]]/[[AsOfMergeJoin.asofMerge]]: backward =
    * latest right row with rightTs <= leftTs per key (among exact-ts
    * ties the LAST under `rightTieBreak` wins), forward = earliest with
    * rightTs >= leftTs (FIRST under the tie order wins), nearest =
    * whichever neighbor is closer on the long time encoding (equal
    * distance → backward; two binary searches instead of one). Null
    * keys or timestamps on either side never match. Output = left columns ++
    * asof_ts ++ rightCols (nulls when unmatched) — interchangeable with
    * the other two surfaces, which is what q353's shared oracle pins.
    *
    * Constraints (all checked): the right side must fit the driver —
    * `maxRightRows`, checked after the collect like Spark's own
    * BroadcastExchangeExec (a pre-count would cost an extra job per
    * build); timestamps must be long-backed (timestamp/date/int/long)
    * and same-typed on both sides (tolerance additionally requires a
    * micros/long axis, matching asofMerge); key and carried columns must
    * be atomic types (the index serializes driver-built rows, and
    * complex-typed keys would hash differently across container classes).
    *
    * RETENTION: each call registers a temp function whose closure pins
    * the broadcast index (up to `maxRightRows` driver rows) for the
    * session's lifetime. Long-lived sessions issuing many calls should
    * invoke [[releaseBroadcastIndexes]] once the returned DataFrames are
    * consumed.
    */
  def asofBroadcast(
      left: DataFrame,
      right: DataFrame,
      on: Seq[String],
      leftTs: String,
      rightTs: String,
      rightCols: Seq[String],
      rightTieBreak: Seq[Column] = Nil,
      direction: String = "backward",
      maxRightRows: Long = 4000000L,
      toleranceMicros: Option[Long] = None): DataFrame = {
    require(on.nonEmpty, "at least one equality key required")
    require(Seq("backward", "forward", "nearest").contains(direction),
      s"direction must be backward|forward|nearest, got '$direction'")
    require(toleranceMicros.forall(_ >= 0L), "tolerance must be >= 0")
    require(!(rightCols :+ "asof_ts").exists(left.columns.contains),
      "carried right columns (and asof_ts) must not collide with left")
    require(!rightCols.contains(rightTs) && !rightCols.exists(on.contains) &&
        !rightCols.contains("asof_ts"),
      "rightCols must not repeat the key/timestamp columns")
    val spark = left.sparkSession

    // prune + sort the small side: (keys..., asof_ts, carried..., tie...)
    // sorted by (keys, ts, tie) — the group arrays inherit this order,
    // so backward's last-of-run / forward's first-of-run tie conventions
    // fall out of the binary search with no per-probe comparator.
    // Tie-break columns may arrive ORDERING-WRAPPED (col.asc / col.desc
    // — asofAuto forwards the caller's (name, asc) pairs that way, and
    // q218's dispatch first hit this): a SortOrder is not a value
    // expression and dies in codegen if projected, so unwrap to the
    // value child and re-apply the direction at the sort instead.
    val tiePairs: Seq[(Column, Boolean)] = rightTieBreak.map { c =>
      org.apache.spark.sql.GraftInternal.expr(c) match {
        case so: org.apache.spark.sql.catalyst.expressions.SortOrder =>
          (org.apache.spark.sql.GraftInternal.column(so.child),
            so.direction == org.apache.spark.sql.catalyst.expressions.Ascending)
        case _ => (c, true)
      }
    }
    val tieAliases = rightTieBreak.indices.map(i => s"__asof_tb_$i")
    val pruned = right
      .filter(on.map(col(_).isNotNull).reduce(_ && _) && col(rightTs).isNotNull)
      .select(on.map(col) ++ (col(rightTs).as("asof_ts") +: rightCols.map(col)) ++
        tiePairs.zip(tieAliases).map { case ((c, _), a) => c.as(a) }: _*)
      .orderBy(on.map(col) ++ (col("asof_ts") +:
        tiePairs.zip(tieAliases).map { case ((_, asc), a) =>
          if (asc) col(a).asc else col(a).desc }): _*)

    val schema = pruned.schema
    val kN = on.length
    val tsType = schema(kN).dataType
    require(Seq(TimestampType, TimestampNTZType, DateType, IntegerType, LongType)
        .contains(tsType),
      s"asofBroadcast needs a long-backed timestamp, got $tsType")
    // tolerance compares the raw long encodings (micros for timestamps),
    // so a date/int axis would make a micros-denominated tolerance
    // silently nonsensical (30 min = 1.8e9 "days" never bites) — reject
    // it like asofMerge does, keeping the three surfaces interchangeable
    if (toleranceMicros.isDefined) {
      require(Seq(TimestampType, TimestampNTZType, LongType).contains(tsType),
        s"tolerance needs a long-backed timestamp, got $tsType")
    }
    val leftSchema = left.schema
    on.foreach { c =>
      val lt = leftSchema(c).dataType
      val rt = schema(c).dataType
      require(lt == rt, s"key type mismatch on $c: $lt vs $rt")
    }
    require(leftSchema(leftTs).dataType == tsType,
      s"timestamp type mismatch: ${leftSchema(leftTs).dataType} vs $tsType")
    val payloadWidth = 1 + rightCols.length
    // join KEYS must be atomic too: the index map stores key values from
    // executeCollect (Unsafe* containers) while probes supply values from
    // expression eval (Generic* containers) — equals/hashCode differ
    // across container classes for arrays/structs, so a complex-typed key
    // would silently miss on every lookup instead of failing
    (0 until kN).foreach { j =>
      val f = schema(j)
      val nested = f.dataType match {
        case _: ArrayType | _: MapType | _: StructType => true
        case _                                         => false
      }
      require(!nested,
        s"join key ${f.name} must be an atomic type, got ${f.dataType}")
    }
    val payloadSchema = StructType((kN until kN + payloadWidth).map { j =>
      val f = schema(j)
      val nested = f.dataType match {
        case _: ArrayType | _: MapType | _: StructType => true
        case _                                         => false
      }
      require(!nested,
        s"carried column ${f.name} must be an atomic type, got ${f.dataType}")
      StructField(f.name, f.dataType, nullable = true)
    })

    // one driver pass over the globally (key, ts, tie)-sorted collect:
    // catalyst rows straight from the executed plan — no external
    // conversion, and the payload rows are reused verbatim by the probe.
    // The row guard runs AFTER the collect (Spark's own
    // BroadcastExchangeExec convention — a pre-count would cost a whole
    // extra job on every build just to catch misuse)
    val rows = pruned.queryExecution.executedPlan.executeCollect()
    require(rows.length <= maxRightRows,
      s"asofBroadcast right side has ${rows.length} rows (> $maxRightRows); " +
        "use AsOfMergeJoin.asofMerge for a large right side")
    def tsLong(r: InternalRow): Long = tsType match {
      case DateType | IntegerType => r.getInt(kN).toLong
      case _                      => r.getLong(kN)
    }
    val groups = Map.newBuilder[Seq[Any], AsOfIndex.KeyGroup]
    var start = 0
    def keyOf(r: InternalRow): Seq[Any] =
      scala.collection.immutable.ArraySeq.unsafeWrapArray(
        Array.tabulate[Any](kN)(i => r.get(i, schema(i).dataType)))
    def flush(end: Int): Unit = if (end > start) {
      val ts = new Array[Long](end - start)
      val payload = new Array[InternalRow](end - start)
      var i = start
      while (i < end) {
        ts(i - start) = tsLong(rows(i))
        payload(i - start) = new GenericInternalRow(
          Array.tabulate[Any](payloadWidth)(j =>
            rows(i).get(kN + j, schema(kN + j).dataType)))
        i += 1
      }
      groups += keyOf(rows(start)) -> AsOfIndex.KeyGroup(ts, payload)
      start = end
    }
    var curKey: Seq[Any] = if (rows.nonEmpty) keyOf(rows(0)) else null
    var i = 1
    while (i < rows.length) {
      val k = keyOf(rows(i))
      if (k != curKey) { flush(i); curKey = k }
      i += 1
    }
    flush(rows.length)

    val bc = spark.sparkContext.broadcast(new AsOfIndex(groups.result()))
    // Column construction goes through the function registry (Column's
    // Expression constructor is sql-private in Spark 4 — the MinHashSig
    // route); one uniquely-named entry per call, bounded by call count
    val fname = s"asof_bcast_${bcastFnCounter.incrementAndGet()}"
    liveBroadcasts.put(fname, (new java.lang.ref.WeakReference(spark), bc))
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(fname,
      exprs => AsOfLookup(exprs, bc, payloadSchema, direction,
        toleranceMicros),
      "built-in")
    val lookup = call_function(fname, on.map(col) :+ col(leftTs): _*)
    left.withColumn("__asof", lookup)
      .select(left.columns.map(col) ++
        ("asof_ts" +: rightCols).map(f => col("__asof").getField(f).as(f)): _*)
  }
}
