package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftInternal}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BoundReference, Descending, Expression, InterpretedOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Whole-operator Catalyst extension — the (c) rung of the extension
  * ladder (compose > Expression > LogicalPlan+Strategy+SparkPlan >
  * mapPartitions): per-key top-k as a FIRST-CLASS operator instead of
  * the `row_number() OVER (...) <= k` window idiom.
  *
  * Why a custom operator earns its keep here: the window form sorts
  * every group in full (k ignored until the filter), while this plans
  * like a partial aggregation — a map-side bounded-heap pass per
  * partition (each emits <= k rows per key it sees), ONE hash exchange
  * on the keys, and a final bounded-heap pass. Per-task state is
  * O(keys-in-partition x k) rows; nothing ever materializes a full
  * per-key sort. The planner sees [[TopKPerKeyNode]]; the strategy
  * lowers it to the partial/final [[TopKPerKeyExec]] pair and
  * EnsureRequirements inserts the exchange the final's required
  * distribution declares — exactly how HashAggregateExec splits.
  *
  * THREE tie modes (the rank-like window trio — r11 verdict #3):
  *  - [[RowNumberMode]]: exactly k rows per key. `order` must be a
  *    TOTAL order on the rows of each key (tie-break every ordering
  *    column, e.g. end with a unique id) — the same requirement every
  *    deterministic row_number carries.
  *  - [[RankMode]]: rows whose `rank()` is <= k — ties at the boundary
  *    emit MORE than k rows. The emitted SET is tie-invariant, so no
  *    total-order requirement.
  *  - [[DenseRankMode]]: rows among the k smallest DISTINCT order
  *    values — also tie-invariant.
  *
  * Reference framing: the reference engine's per-station "latest k
  * measurements" reads (OpenAQ-Data-Pipeline-Engineering
  * `athena_queries.sql` top-N-per-group shapes) are this operator; the
  * catalog's q335 oracle-pairs it against the window form.
  */
object TopKPerKey {

  /** Per-key top-k of `df`: the rows whose rank under `orderCols`
    * (column, ascending?) within their `keyCols` group is <= k, with
    * the rank semantics of `mode`. Registers the planner strategy on
    * the session idempotently — [[graft.GraftExtensions]] injects the
    * same strategy for config-driven deployments.
    */
  def topKPerKey(df: DataFrame, keyCols: Seq[Column],
      orderCols: Seq[(Column, Boolean)], k: Int,
      mode: TopKMode = RowNumberMode): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(keyCols.nonEmpty && orderCols.nonEmpty, "keys and order required")
    val spark = df.sparkSession
    // synchronized: extraStrategies is a read-modify-write of a plain
    // var — concurrent callers on the same session could lose or double
    // an append (r11 ADVICE)
    spark.experimental.synchronized {
      if (!spark.experimental.extraStrategies.contains(TopKPerKeyStrategy)) {
        spark.experimental.extraStrategies =
          spark.experimental.extraStrategies :+ TopKPerKeyStrategy
      }
    }
    val order = orderCols.map { case (c, asc) =>
      SortOrder(GraftInternal.expr(c), if (asc) Ascending else Descending)
    }
    GraftInternal.ofRows(spark,
      TopKPerKeyNode(keyCols.map(GraftInternal.expr), order, k,
        df.queryExecution.analyzed, mode))
  }
}

/** Rank semantics of the boundary: how ties at the k-th position are
  * resolved. Serializable — shipped inside the exec to every task.
  */
sealed trait TopKMode extends Serializable { def name: String }
/** Exactly k rows (row_number() <= k); order must be total. */
case object RowNumberMode extends TopKMode { val name = "row_number" }
/** rank() <= k; boundary ties all emitted (possibly > k rows). */
case object RankMode extends TopKMode { val name = "rank" }
/** k smallest distinct order values (dense_rank() <= k). */
case object DenseRankMode extends TopKMode { val name = "dense_rank" }

/** Logical form: declarative per-key top-k. Output = child output (a
  * filter-like operator). Resolution rides the generic analyzer rules —
  * the node exposes its expressions through the constructor, so
  * `ResolveReferences` binds them like any stock operator's.
  */
case class TopKPerKeyNode(keys: Seq[Expression], order: Seq[SortOrder],
    k: Int, child: LogicalPlan,
    mode: TopKMode = RowNumberMode) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyNode =
    copy(child = newChild)
}

/** Planner strategy: lower the logical node to the partial/final
  * physical pair (the HashAggregate split, applied to top-k).
  */
object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(keys, order, k, child, mode) =>
      val partial = TopKPerKeyExec(keys, order, k, partial = true, planLater(child), mode)
      TopKPerKeyExec(keys, order, k, partial = false, partial, mode) :: Nil
    case _ => Nil
  }
}

/** Physical per-key top-k with a different memory story per phase —
  * the 100 TB shape of the operator:
  *
  *  - PARTIAL (map side, no distribution requirement): per-key bounded
  *    heaps, state O(keys-in-partition x k). High-cardinality keys could
  *    still blow that bound, so a FLUSH VALVE caps live state on TWO
  *    axes (r11 ADVICE: a key-count cap alone lets wide rows or large k
  *    OOM long before 1M keys): `spark.graft.topk.maxKeysInFlight`
  *    (default 1M) live heaps AND `spark.graft.topk.maxBytesInFlight`
  *    (default 256 MiB) of retained UnsafeRow bytes, tracked exactly
  *    from `getSizeInBytes` of every copied key/sort-key/row as entries
  *    enter and leave the heaps. Past either cap the phase emits
  *    everything held and starts fresh — emitting extra candidate rows
  *    is always CORRECT here (the final phase re-prunes), so memory
  *    degrades gracefully into shuffle volume instead of OOM.
  *  - FINAL: requires [[ClusteredDistribution]] on the keys AND
  *    child ordering (keys, then the top-k order) — EnsureRequirements
  *    inserts the hash exchange and a sort of the ALREADY k-PRUNED
  *    stream — then emits the first k rows of each key group with O(1)
  *    state (the SortAggregate pattern; a hash-of-heaps final could not
  *    flush without double-emitting a key, so it would carry the same
  *    unbounded-keys hazard HashAggregate has).
  *
  * Heap/stream comparisons use the interpreted row ordering — the
  * operator is deliberately outside whole-stage codegen (it carries
  * group state, the same reason ObjectHashAggregate opts out); the
  * EXPRESSIONS feeding it still codegen in the child stage.
  */
case class TopKPerKeyExec(keys: Seq[Expression], order: Seq[SortOrder],
    k: Int, partial: Boolean, child: SparkPlan,
    mode: TopKMode = RowNumberMode) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) Seq(UnspecifiedDistribution) else Seq(ClusteredDistribution(keys))
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    if (partial) Seq(Nil)
    else Seq(keys.map(SortOrder(_, Ascending)) ++ order)
  override def outputOrdering: Seq[SortOrder] =
    if (partial) Nil else keys.map(SortOrder(_, Ascending)) ++ order
  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
  override def nodeName: String =
    if (partial) "TopKPerKeyPartial" else "TopKPerKeyFinal"

  /** A flush-valve cap: a positive integer, else an error that names the
    * key — a value like `1e6` must not surface as a bare
    * NumberFormatException.
    */
  private def valveCap(key: String, default: Long): Long = {
    val raw = conf.getConfString(key, default.toString)
    raw.trim.toLongOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"$key must be a positive integer, got '$raw'"))
  }

  protected override def doExecute(): RDD[InternalRow] = {
    val keyExprs = keys
    val sortOrders = order
    val kk = k
    val childOutput = child.output
    if (partial) {
      val maxKeysInFlight = valveCap("spark.graft.topk.maxKeysInFlight", 1000000L)
      val maxBytesInFlight = valveCap("spark.graft.topk.maxBytesInFlight", 256L << 20)
      val theMode = mode
      child.execute().mapPartitions({ iter =>
        val keyProj = UnsafeProjection.create(keyExprs, childOutput)
        val sortProj = UnsafeProjection.create(sortOrders.map(_.child), childOutput)
        val rowProj = UnsafeProjection.create(childOutput, childOutput)
        val bound = sortOrders.zipWithIndex.map { case (so, i) =>
          so.copy(child = BoundReference(i, so.child.dataType, so.child.nullable))
        }
        val rowOrd = new InterpretedOrdering(bound)
        import scala.jdk.CollectionConverters._

        /** Mode-specific per-partition retention: offer rows, drain all. */
        trait Retention {
          def offer(row: InternalRow): Unit
          def drain(): Iterator[InternalRow]
          def liveKeys: Int
          def retainedBytes: Long
          def nonEmpty: Boolean
        }

        /** row_number: bounded max-heap of exactly k rows per key. */
        final class HeapRetention extends Retention {
          final class Entry(val sortKey: UnsafeRow, val row: UnsafeRow) {
            def bytes: Long = sortKey.getSizeInBytes.toLong + row.getSizeInBytes
          }
          private val cmp = new java.util.Comparator[Entry] {
            override def compare(a: Entry, b: Entry): Int =
              -rowOrd.compare(a.sortKey, b.sortKey) // max-heap: head = worst kept
          }
          private val heaps =
            new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[Entry]]()
          // retained bytes of every live copied key/sort-key/row — the
          // second valve axis (a key-count cap alone is byte-blind)
          var retainedBytes = 0L
          def liveKeys: Int = heaps.size()
          def nonEmpty: Boolean = !heaps.isEmpty
          def drain(): Iterator[InternalRow] = {
            val hs = new java.util.ArrayList(heaps.values())
            heaps.clear()
            retainedBytes = 0L
            hs.iterator().asScala.flatMap { heap =>
              // ascending sort order per key (deterministic emission)
              val buf = new Array[Entry](heap.size())
              var i = heap.size() - 1
              while (i >= 0) { buf(i) = heap.poll(); i -= 1 }
              buf.iterator.map(_.row: InternalRow)
            }
          }
          def offer(row: InternalRow): Unit = {
            val key = keyProj(row)
            var heap = heaps.get(key)
            if (heap == null) {
              heap = new java.util.PriorityQueue[Entry](kk + 1, cmp)
              val keyCopy = key.copy()
              heaps.put(keyCopy, heap)
              retainedBytes += keyCopy.getSizeInBytes
            }
            val sortKey = sortProj(row)
            if (heap.size() < kk) {
              val e = new Entry(sortKey.copy(), rowProj(row).copy())
              heap.add(e)
              retainedBytes += e.bytes
            } else if (rowOrd.compare(sortKey, heap.peek().sortKey) < 0) {
              retainedBytes -= heap.poll().bytes
              val e = new Entry(sortKey.copy(), rowProj(row).copy())
              heap.add(e)
              retainedBytes += e.bytes
            }
          }
        }

        /** rank / dense_rank: per key, a sort-ordered map of TIE GROUPS.
          * A group survives under rank iff the row count strictly before
          * it is < k (so boundary-tied rows are all kept — possibly > k
          * rows); under dense_rank iff it is among the k smallest
          * distinct sort keys. Both evict whole tail groups; ties can
          * inflate a group arbitrarily, which is exactly what the flush
          * valve's byte axis bounds.
          */
        final class RankRetention(dense: Boolean) extends Retention {
          final class Group {
            val rows = new scala.collection.mutable.ArrayBuffer[UnsafeRow](4)
            var bytes = 0L
          }
          final class TreeState {
            val tree = new java.util.TreeMap[UnsafeRow, Group](
              new java.util.Comparator[UnsafeRow] {
                override def compare(a: UnsafeRow, b: UnsafeRow): Int =
                  rowOrd.compare(a, b)
              })
            var totalRows = 0L
          }
          private val states = new java.util.HashMap[UnsafeRow, TreeState]()
          var retainedBytes = 0L
          def liveKeys: Int = states.size()
          def nonEmpty: Boolean = !states.isEmpty
          def drain(): Iterator[InternalRow] = {
            val ss = new java.util.ArrayList(states.values())
            states.clear()
            retainedBytes = 0L
            ss.iterator().asScala.flatMap(
              _.tree.values().iterator().asScala.flatMap(_.rows.iterator))
          }
          def offer(row: InternalRow): Unit = {
            val key = keyProj(row)
            var st = states.get(key)
            if (st == null) {
              st = new TreeState
              val keyCopy = key.copy()
              states.put(keyCopy, st)
              retainedBytes += keyCopy.getSizeInBytes
            }
            val sortKey = sortProj(row)
            val last = if (st.tree.isEmpty) null else st.tree.lastKey()
            // fast skip: a candidate beyond the current max that cannot
            // rank <= k is never inserted
            val full =
              if (dense) st.tree.size() >= kk else st.totalRows >= kk
            if (last != null && full && rowOrd.compare(sortKey, last) > 0) return
            var group = st.tree.get(sortKey)
            if (group == null) {
              group = new Group
              val skCopy = sortKey.copy()
              st.tree.put(skCopy, group)
              group.bytes += skCopy.getSizeInBytes
            }
            val rowCopy = rowProj(row).copy()
            group.rows += rowCopy
            group.bytes += rowCopy.getSizeInBytes
            retainedBytes += rowCopy.getSizeInBytes
            if (group.rows.size == 1) retainedBytes += group.bytes - rowCopy.getSizeInBytes
            st.totalRows += 1
            // evict tail groups that can no longer rank <= k
            var evicting = true
            while (evicting && !st.tree.isEmpty) {
              val tail = st.tree.lastEntry()
              val evict =
                if (dense) st.tree.size() > kk
                else st.totalRows - tail.getValue.rows.size >= kk
              if (evict) {
                st.tree.remove(tail.getKey)
                st.totalRows -= tail.getValue.rows.size
                retainedBytes -= tail.getValue.bytes
              } else evicting = false
            }
          }
        }

        val retention: Retention = theMode match {
          case RowNumberMode => new HeapRetention
          case RankMode      => new RankRetention(dense = false)
          case DenseRankMode => new RankRetention(dense = true)
        }
        new Iterator[InternalRow] {
          private var pending: Iterator[InternalRow] = Iterator.empty
          private def advance(): Unit = {
            while (!pending.hasNext && (iter.hasNext || retention.nonEmpty)) {
              var flushed = false
              while (iter.hasNext && !flushed) {
                retention.offer(iter.next())
                if (retention.liveKeys > maxKeysInFlight ||
                    retention.retainedBytes > maxBytesInFlight) { // the flush valve
                  pending = retention.drain(); flushed = true
                }
              }
              if (!flushed) pending = retention.drain() // input exhausted
            }
          }
          override def hasNext: Boolean = { advance(); pending.hasNext }
          override def next(): InternalRow = { advance(); pending.next() }
        }
      }, preservesPartitioning = true)
    } else {
      // streaming group-take over the (keys, order)-sorted pruned stream:
      // O(1) state per mode — current group key, plus (rank modes) the
      // current tie-group's sort key and its starting position
      val theMode = mode
      child.execute().mapPartitions({ iter =>
        val keyProj = UnsafeProjection.create(keyExprs, childOutput)
        val sortProj = UnsafeProjection.create(sortOrders.map(_.child), childOutput)
        val rowProj = UnsafeProjection.create(childOutput, childOutput)
        val bound = sortOrders.zipWithIndex.map { case (so, i) =>
          so.copy(child = BoundReference(i, so.child.dataType, so.child.nullable))
        }
        val rowOrd = new InterpretedOrdering(bound)
        var currentKey: UnsafeRow = null
        var position = 0L   // rows seen in this key group
        var rank = 0L       // rank of the current tie group (rank mode)
        var denseRank = 0L  // distinct sort keys seen (dense mode)
        var groupSortKey: UnsafeRow = null
        iter.flatMap { row =>
          val key = keyProj(row)
          if (currentKey == null || key != currentKey) {
            currentKey = key.copy()
            position = 0L; rank = 0L; denseRank = 0L; groupSortKey = null
          }
          position += 1
          val emit = theMode match {
            case RowNumberMode => position <= kk
            case RankMode =>
              val sk = sortProj(row)
              if (groupSortKey == null || rowOrd.compare(sk, groupSortKey) != 0) {
                groupSortKey = sk.copy(); rank = position
              }
              rank <= kk
            case DenseRankMode =>
              val sk = sortProj(row)
              if (groupSortKey == null || rowOrd.compare(sk, groupSortKey) != 0) {
                groupSortKey = sk.copy(); denseRank += 1
              }
              denseRank <= kk
          }
          if (emit) Iterator.single(rowProj(row).copy(): InternalRow)
          else Iterator.empty
        }
      }, preservesPartitioning = true)
    }
  }
}
