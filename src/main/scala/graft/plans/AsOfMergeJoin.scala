package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftInternal}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BoundReference, Descending, Expression, GenericInternalRow, InterpretedOrdering, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions.col

/** As-of join as a PHYSICAL MERGE-JOIN exec — the second whole-operator
  * rung beside [[TopKPerKey]], built where composition is weakest
  * (r11 verdict #2): the union+window form ([[graft.ops.AsOfJoin]])
  * pads BOTH sides to the combined schema, ships left+right through one
  * exchange at that padded width, and sorts the UNION; this exec ships
  * each side at its OWN width through its own hash exchange, sorts each
  * side separately (EnsureRequirements satisfies the required orderings
  * of the ALREADY-pruned streams), and then streams a per-partition
  * MERGE holding exactly ONE right-side row per key — the classic
  * sort-merge as-of, per-task state O(1) rows instead of a window
  * buffer.
  *
  * Semantics (BACKWARD, the core direction): for every left row, the
  * most recent right row with `rightTs <= leftTs` within the same key
  * group; among right rows sharing that winning timestamp, the LAST
  * under `rightTieBreak` wins — the same convention as
  * [[graft.ops.AsOfJoin.asof]]'s backward mode, so the two surfaces are
  * oracle-interchangeable. Left rows with a null key or null timestamp
  * match nothing; right rows with a null key or null timestamp are
  * ignored (standard join-key null semantics).
  *
  * Output = left.output ++ right.output (right side nullable) — the
  * caller prunes the right side to (keys, asof ts, carried cols) and
  * drops the duplicated key columns afterward, which the column API
  * wrapper [[AsOfMergeJoin.asofMerge]] does.
  *
  * Reference framing: the reference pipeline's "latest sensor reading
  * at or before each event" point-in-time enrichments
  * (OpenAQ-Data-Pipeline-Engineering `athena_queries.sql` latest-value
  * shapes) are this operator; the catalog's q339 oracle-pairs it
  * against the union+window form (q43 family).
  */
object AsOfMergeJoin {

  /** Backward as-of join of `left` with `right` on the equality keys
    * `on`, matching the most recent right row with
    * `right(rightTs) <= left(leftTs)`. Carries `rightCols` plus the
    * matched right timestamp as `asof_ts`; unmatched left rows carry
    * nulls. `rightTieBreak` (column, ascending?) breaks exact-timestamp
    * ties — the LAST right row under that order wins.
    *
    * The right side is re-aliased internally (fresh exprIds), so
    * self-joins — both sides derived from the same table, the q43
    * clicks/purchases shape — are safe.
    */
  def asofMerge(left: DataFrame, right: DataFrame, on: Seq[String],
      leftTs: String, rightTs: String, rightCols: Seq[String],
      rightTieBreak: Seq[(String, Boolean)] = Nil,
      direction: String = "backward",
      toleranceMicros: Option[Long] = None): DataFrame = {
    require(on.nonEmpty, "at least one equality key required")
    require(Seq("backward", "forward", "nearest").contains(direction),
      s"direction must be backward|forward|nearest, got '$direction'")
    require(toleranceMicros.forall(_ >= 0L), "tolerance must be >= 0")
    require(!rightCols.contains(rightTs), "rightCols must not repeat rightTs")
    require(!(rightCols :+ "asof_ts").exists(left.columns.contains),
      "carried right columns (and asof_ts) must not collide with left")
    val spark = left.sparkSession
    spark.experimental.synchronized {
      if (!spark.experimental.extraStrategies.contains(AsOfMergeJoinStrategy)) {
        spark.experimental.extraStrategies =
          spark.experimental.extraStrategies :+ AsOfMergeJoinStrategy
      }
    }
    // prune + fresh-alias the right side: every output attr gets a NEW
    // exprId (self-join safety) and the right key columns get reserved
    // names so the post-join projection can drop them
    val keyAliases = on.map(c => s"__asof_rk_$c")
    val rightPruned = right.select(
      on.zip(keyAliases).map { case (c, a) => col(c).as(a) } ++
        (col(rightTs).as("asof_ts") +: rightCols.map(c => col(c).as(c))): _*)

    val leftPlan = left.queryExecution.analyzed
    val rightPlan = rightPruned.queryExecution.analyzed
    def attr(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"column $name not found"))
    val leftKeys = on.map(attr(leftPlan, _))
    val rightKeys = keyAliases.map(attr(rightPlan, _))
    leftKeys.zip(rightKeys).foreach { case (l, r) =>
      require(l.dataType == r.dataType,
        s"key type mismatch: ${l.name}:${l.dataType} vs ${r.name}:${r.dataType}")
    }
    val lTs = attr(leftPlan, leftTs)
    val rTs = attr(rightPlan, "asof_ts")
    require(lTs.dataType == rTs.dataType,
      s"timestamp type mismatch: ${lTs.dataType} vs ${rTs.dataType}")
    // tolerance compares the raw long encodings (micros for timestamps),
    // so it needs a long-backed timestamp type
    if (toleranceMicros.isDefined) {
      import org.apache.spark.sql.types._
      require(Seq(TimestampType, TimestampNTZType, LongType)
          .contains(lTs.dataType),
        s"tolerance needs a long-backed timestamp, got ${lTs.dataType}")
    }
    val tie = rightTieBreak.map { case (c, asc) =>
      SortOrder(attr(rightPlan, c), if (asc) Ascending
        else org.apache.spark.sql.catalyst.expressions.Descending)
    }
    // nearest needs numeric time distances — a long/int-backed axis
    if (direction == "nearest") {
      import org.apache.spark.sql.types._
      require(Seq(TimestampType, TimestampNTZType, DateType, IntegerType,
          LongType).contains(lTs.dataType),
        s"nearest needs a long-backed timestamp, got ${lTs.dataType}")
    }
    val node = AsOfMergeJoinNode(leftKeys, rightKeys, lTs, rTs, tie,
      leftPlan, rightPlan, direction = direction,
      toleranceMicros = toleranceMicros)
    GraftInternal.ofRows(spark, node).drop(keyAliases: _*)
  }
}

/** Logical form. Output = left ++ right-with-nullability (left-outer
  * shape). Built over already-analyzed children with resolved
  * attributes, so the analyzer has nothing left to bind.
  */
case class AsOfMergeJoinNode(leftKeys: Seq[Expression],
    rightKeys: Seq[Expression], leftTs: Expression, rightTs: Expression,
    rightTieBreak: Seq[SortOrder],
    left: LogicalPlan, right: LogicalPlan,
    direction: String = "backward",
    toleranceMicros: Option[Long] = None) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override def maxRows: Option[Long] = left.maxRows
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfMergeJoinNode =
    copy(left = newLeft, right = newRight)
}

object AsOfMergeJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfMergeJoinNode(lk, rk, lts, rts, tie, l, r, dir, tol) =>
      AsOfMergeJoinExec(lk, rk, lts, rts, tie,
        planLater(l), planLater(r), dir, tol) :: Nil
    case _ => Nil
  }
}

/** Physical sorted-merge as-of:
  *
  *  - requires [[ClusteredDistribution]] on the keys of BOTH children
  *    (EnsureRequirements co-partitions them — the SortMergeJoin
  *    contract) and per-child orderings (keys, ts [, tieBreak]) — so
  *    each side is sorted at its OWN width; the union form sorts the
  *    combined-width union;
  *  - merges each co-partition in one pass: the right cursor only moves
  *    FORWARD (left is (key, ts)-sorted, so the as-of frontier is
  *    monotone), holding exactly one candidate right row — per-task
  *    state is O(1) rows, vs the window form's running frame;
  *  - left-outer: every left row is emitted exactly once.
  *
  * Outside whole-stage codegen (carries cross-row cursor state — the
  * ObjectHashAggregate/TopKPerKey rationale); child-stage expressions
  * still codegen.
  */
case class AsOfMergeJoinExec(leftKeys: Seq[Expression],
    rightKeys: Seq[Expression], leftTs: Expression, rightTs: Expression,
    rightTieBreak: Seq[SortOrder],
    left: SparkPlan, right: SparkPlan,
    direction: String = "backward",
    toleranceMicros: Option[Long] = None) extends BinaryExecNode {

  private def forward = direction == "forward"
  private def nearest = direction == "nearest"

  // FORWARD mode ("earliest right row with rightTs >= leftTs"): the same
  // forward-only merge over MIRRORED time — both sides sort ts
  // DESCENDING within the keys, the cursor keeps the last advanced
  // right row (= the SMALLEST ts still >= left ts), and the tie-break
  // directions are flipped so the overwrite-last discipline makes the
  // FIRST row under the caller's tie-break order win (the
  // AsOfJoin.asof forward convention).
  private def tsDir = if (forward) Descending else Ascending
  private def tieForMerge: Seq[SortOrder] =
    if (!forward) rightTieBreak
    else rightTieBreak.map(so => SortOrder(so.child,
      if (so.direction == Ascending) Descending else Ascending))

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(leftKeys), ClusteredDistribution(rightKeys))
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTs, tsDir),
    rightKeys.map(SortOrder(_, Ascending)) ++
      (SortOrder(rightTs, tsDir) +: tieForMerge))
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] =
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTs, tsDir)
  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfMergeJoinExec =
    copy(left = newLeft, right = newRight)
  override def nodeName: String = "AsOfMergeJoin"

  protected override def doExecute(): RDD[InternalRow] = {
    val lk = leftKeys; val rk = rightKeys
    val lts = leftTs; val rts = rightTs
    val fwd = forward
    val near = nearest
    val tol = toleranceMicros
    // int-backed axes (date/int) must be read as getInt — getLong on an
    // int slot only works for non-negative values by accident
    val tsIsInt = leftTs.dataType == org.apache.spark.sql.types.DateType ||
      leftTs.dataType == org.apache.spark.sql.types.IntegerType
    val leftOutput = left.output; val rightOutput = right.output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val leftKeyProj = UnsafeProjection.create(lk, leftOutput)
      val rightKeyProj = UnsafeProjection.create(rk, rightOutput)
      val leftTsProj = UnsafeProjection.create(Seq(lts), leftOutput)
      val rightTsProj = UnsafeProjection.create(Seq(rts), rightOutput)
      val keyOrd = new InterpretedOrdering(lk.zipWithIndex.map { case (e, i) =>
        SortOrder(BoundReference(i, e.dataType, e.nullable), Ascending)
      })
      val tsOrd = new InterpretedOrdering(Seq(
        SortOrder(BoundReference(0, lts.dataType, nullable = true), Ascending)))
      val nullRight = new GenericInternalRow(rightOutput.length)
      val joined = new JoinedRow
      // exchanges/sorts downstream require UnsafeRow — flatten the
      // JoinedRow like SortMergeJoinExec's resultProj does
      val outAttrs = leftOutput ++ rightOutput.map(_.withNullability(true))
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)

      // forward-only right cursor (copies: the underlying iterators
      // reuse row buffers; held rows must own their bytes)
      var nextRight: InternalRow = null
      var nextRightKey: InternalRow = null
      var nextRightTs: InternalRow = null
      def advanceRight(): Unit = {
        nextRight = null
        while (nextRight == null && rIter.hasNext) {
          val r = rIter.next()
          val k = rightKeyProj(r)
          val t = rightTsProj(r)
          if (!k.anyNull && !t.isNullAt(0)) { // null keys/ts never match
            nextRight = r.copy()
            nextRightKey = k.copy()
            nextRightTs = t.copy()
          }
        }
      }
      advanceRight()

      // the one retained candidate: latest right row (so far) of its key
      var curMatch: InternalRow = null
      var curMatchKey: InternalRow = null
      var curMatchTs: Long = 0L
      def tsLong(r: InternalRow): Long =
        if (tsIsInt) r.getInt(0).toLong else r.getLong(0)

      lIter.map { l =>
        val k = leftKeyProj(l)
        val t = leftTsProj(l)
        if (k.anyNull || t.isNullAt(0)) {
          resultProj(joined(l, nullRight))
        } else {
          var advancing = true
          while (advancing && nextRight != null) {
            val c = keyOrd.compare(nextRightKey, k)
            val tsOk = if (fwd) tsOrd.compare(nextRightTs, t) >= 0
                       else tsOrd.compare(nextRightTs, t) <= 0
            if (c < 0 || (c == 0 && tsOk)) {
              if (c == 0) {
                curMatch = nextRight; curMatchKey = nextRightKey
                curMatchTs = tsLong(nextRightTs)
              }
              advanceRight()
            } else advancing = false
          }
          if (near) {
            // NEAREST: the merge runs in backward orientation, so the
            // retained candidate is the last row with ts <= t and the
            // UN-consumed cursor head is exactly the first same-key row
            // with ts > t — both candidates for free, no extra pass.
            // Closer side wins; equal distance → backward (the window
            // form's pandas merge_asof convention; exact-ts matches are
            // consumed into the backward candidate at distance 0).
            val tl = tsLong(t)
            val bound = tol.getOrElse(Long.MaxValue)
            val bPresent = curMatch != null && keyOrd.compare(curMatchKey, k) == 0
            val fPresent = nextRight != null && keyOrd.compare(nextRightKey, k) == 0
            val db = if (bPresent) tl - curMatchTs else 0L
            val df = if (fPresent) tsLong(nextRightTs) - tl else 0L
            val bOk = bPresent && db <= bound
            val fOk = fPresent && df <= bound
            val chosen =
              if (!bOk && !fOk) nullRight
              else if (!fOk || (bOk && db <= df)) curMatch
              else nextRight
            resultProj(joined(l, chosen))
          } else {
            // tolerance: the matched row's age (backward) / lead (forward)
            // must stay within the bound — stale matches null out, the
            // union+window form's `within` semantics
            val hit = curMatch != null && keyOrd.compare(curMatchKey, k) == 0 &&
              tol.forall { t0 =>
                val age = if (fwd) curMatchTs - tsLong(t)
                          else tsLong(t) - curMatchTs
                age <= t0
              }
            resultProj(joined(l, if (hit) curMatch else nullRight))
          }
        }
      }
    }
  }
}
