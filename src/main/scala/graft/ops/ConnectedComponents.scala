package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over a pair list — the transitive-closure step
  * that turns near-duplicate PAIRS (from MinHash/SimHash/embedding LSH)
  * into duplicate GROUPS with one canonical id each. Single-hop
  * canonicalization (min id among direct partners) misses chains
  * a-b, b-c ⇒ {a,b,c}; this closes them.
  *
  * Algorithm: iterated min-label propagation with pointer jumping (the
  * DataFrame form of large-star/small-star). Each round every node adopts
  * the minimum label in its neighborhood, then shortcuts its label to its
  * label's label (path halving) — so convergence is O(log diameter)
  * rounds, not O(diameter): a 1000-long duplicate chain closes in ~10
  * rounds instead of ~1000. Each round is one groupBy-min plus two
  * key-partitioned joins; nothing touches the driver except the
  * convergence counter.
  */
object ConnectedComponents {

  /** @param pairs two-column frame of undirected edges (id_a, id_b)
    * @return (id, component) — component = min id reachable; singleton
    *         nodes absent from `pairs` are their own components and are
    *         not emitted
    */
  /** @param pairsDistinct caller guarantees `pairs` holds DISTINCT
    *        UNORDERED edges (no (a,b)/(b,a) twins, no repeats, no
    *        self-loops) — skips
    *        the internal distinct, a full exchange of the edge list that
    *        is redundant for candidate passes that emit each pair once
    *        (e.g. a cluster-keyed pair join with `id_a < id_b` — the
    *        [[Dedup.semanticDedup]] shape; guide §2.4). Band-style
    *        candidate passes (MinHash/SimHash) emit the same pair from
    *        several bands and must keep the default.
    */
  def components(pairs: DataFrame, aCol: String = "id_a", bCol: String = "id_b",
      maxIterations: Int = 20, pairsDistinct: Boolean = false): DataFrame = {
    // bidirectional expansion via ONE map-side explode, not a self-union:
    // the union form referenced the caller's `pairs` tree twice, so a
    // non-trivial candidate pass (e.g. SemDeDup's cluster pair join)
    // executed twice before the distinct (measured as the bulk of
    // q286's keepCanonical phase, r15 opt round; guide §2.4)
    val oriented = pairs
      .select(explode(array(
        struct(col(aCol).as("src"), col(bCol).as("dst")),
        struct(col(bCol).as("src"), col(aCol).as("dst")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
    val edges = (if (pairsDistinct) oriented else oriented.distinct()).cache()

    var labels = edges.groupBy(col("src").as("id"))
      .agg(least(min(col("dst")), first(col("src"))).as("label"))
      .select(col("id"), least(col("label"), col("id")).as("label"))

    // one propagate + pointer-jump round over `cur` (id, label):
    // each node takes min(own label, neighbors' labels), then shortcuts
    // label ← label(label) (path halving — labels only decrease, so the
    // shortcut is safe and chains halve every round, O(log diameter)).
    // The round-start label rides along as __old so the convergence
    // check needs NO extra join back (guide §2.4). localCheckpoint
    // truncates the lineage: the jump self-join references `propagated`
    // twice, so without truncation the logical plan doubles every round
    // (exponential planning cost). LAZY checkpoint: the convergence
    // count is the batch's one materializing job and caches each round
    // frame as it computes — an eager checkpoint would spend a separate
    // job per round on the same work (guide §1.2). On a cluster with
    // unreliable executors, swap for checkpoint() on reliable storage.
    def round(prev: DataFrame): DataFrame = {
      val cur = prev.select(col("id"), col("label")) // drop a prior __old
      val neighborMin = edges
        .join(cur.select(col("id").as("dst"), col("label")), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("label")).as("nlabel"))
      val propagated = cur.join(neighborMin, Seq("id"), "left")
        .select(col("id"), col("label").as("__old"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
      propagated
        .join(propagated.select(col("id").as("label"), col("label").as("jump")),
          Seq("label"), "left")
        .select(col("id"), col("__old"),
          least(col("label"), coalesce(col("jump"), col("label"))).as("label"))
        .localCheckpoint(eager = false)
    }

    var converged = false
    var i = 0
    while (!converged && i < maxIterations) {
      // convergence is checked after round 1, then every SECOND round
      // (r16 opt round, guide §1.2): the count is the only action, so
      // fusing two rounds per materializing job halves job submissions
      // and count aggregations on long chains, while the first check
      // still catches the common case — pair-shaped duplicate graphs
      // whose initial min-label assignment is already the fixpoint —
      // without paying a wasted second round. The criterion is unchanged:
      // "the last round moved no label" is a fixpoint test at any check
      // cadence; a batch whose first round converged just replays one
      // no-op round inside the same job before the count sees zero, and
      // labels only decrease, so extra rounds never change the result.
      val steps = if (i == 0) 1 else math.min(2, maxIterations - i)
      var cur = labels
      (1 to steps).foreach(_ => cur = round(cur))
      val changed = cur.filter(col("label") =!= col("__old")).count()
      labels = cur.select(col("id"), col("label"))
      converged = changed == 0
      i += steps
    }
    edges.unpersist()
    // old per-round checkpoint blocks are reclaimed by Spark's
    // ContextCleaner once unreferenced; what must not be silent is running
    // out of rounds with labels still moving — the result would be a
    // component split in two
    if (!converged)
      graft.pipeline.Log.warning(
        s"connected components hit maxIterations=$maxIterations before convergence; " +
          "labels may be incomplete — raise maxIterations")
    labels.select(col("id"), col("label").as("component"))
  }
}
