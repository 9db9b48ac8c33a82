package graft.ops

import graft.functions.{TextFunctions => TF}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact set-similarity SELF-JOIN via prefix filtering (the
  * AllPairs/PPJoin family: Bayardo et al., WWW'07; Xiao et al., WWW'08).
  *
  * Finds EVERY pair of documents whose word-shingle Jaccard reaches a
  * threshold τ — a similarity JOIN, not a verification of given candidate
  * pairs (that's [[Dedup.ngramJaccard]]) and not a probabilistic recall
  * trade (that's MinHash banding). The prefix-filter guarantee makes the
  * output exactly the naive all-pairs result while never materializing the
  * quadratic pair space:
  *
  *  1. impose one GLOBAL total order on shingles — rarest first
  *     (document frequency, ties by value), so the tokens kept in a
  *     prefix are the most selective ones;
  *  2. each set of size n keeps only its first `p = n − ⌈τ·n⌉ + 1`
  *     ordered shingles (its "prefix"): two sets with Jaccard ≥ τ MUST
  *     share at least one prefix token under any common total order, so
  *     joining on prefix tokens loses no qualifying pair;
  *  3. candidate pairs additionally pass the length filter
  *     τ·|a| ≤ |b| ≤ |a|/τ (a Jaccard consequence), then are verified
  *     EXACTLY with one `array_intersect` per surviving pair.
  *
  * All threshold arithmetic is INTEGER (τ = tauNum/tauDen): the prefix
  * length uses `⌈τ·n⌉ = (n·num + den − 1) div den`, the length filter
  * cross-multiplies, and the final test is `inter·den ≥ union·num` — no
  * floating-point boundary can disagree between engines, so an oracle can
  * replay the decision bit-for-bit.
  *
  * Scale shape (100 TB): the df computation and the rare-first reorder are
  * uniform shuffles keyed by shingle / id; the candidate join is keyed by
  * PREFIX shingles only — per document that is `(1−τ)·n + 1` tokens, and
  * frequency-ascending order concentrates them on the rare end of the
  * vocabulary, so the per-key fanout stays far below a raw inverted-index
  * join (the q124 lesson: the worst-case key is bounded by the rarest-token
  * trick, not by corpus size). Verification touches only surviving
  * candidates, each one O(|set|) via a single sorted-array intersect. No
  * stage is all-pairs; no driver state.
  */
object SetSimJoin {

  /** All pairs `(id_a < id_b)` from `docs` whose distinct word
    * `shingleSize`-gram sets have Jaccard ≥ tauNum/tauDen, with the exact
    * 9-dp similarity (the [[Dedup.ngramJaccard]] rounding argument: set
    * sizes ≤ ~10^3 make every exact ratio terminate before 9 decimals).
    *
    * @param docs    (idCol, textCol) corpus; ids must be unique
    * @param tauNum  threshold numerator   (0 < tauNum ≤ tauDen)
    * @param tauDen  threshold denominator
    * @param hashShingles operate on 64-bit xxhash'd shingles instead of
    *   shingle strings — the at-scale switch (same trade as
    *   `Decontaminate.hashGrams`): the df shuffle, the prefix join keys
    *   and the verify arrays all carry 8 bytes instead of multi-word
    *   strings. The prefix guarantee is order-agnostic, so hashing only
    *   changes the (still global, still total) shingle order; a hash
    *   collision could overstate one intersection by 1 — at 2^-64 per
    *   pair, the accepted negligible-probability trade.
    *
    * The rare-first ordered sets are materialized once
    * (`localCheckpoint`, the Ranking default trade: fastest, but a lost
    * executor after the checkpoint fails the job instead of recomputing)
    * — the ordered frame feeds FOUR consumers (both prefix-join sides and
    * both verify joins), each of which would otherwise re-run the scan +
    * df shuffle + reorder chain.
    */
  def jaccardSelfJoin(docs: DataFrame, idCol: String, textCol: String,
      tauNum: Int, tauDen: Int, shingleSize: Int = 3,
      hashShingles: Boolean = false): DataFrame = {
    val (ordered, cands) = orderedSetsAndCandidates(
      docs, idCol, textCol, tauNum, tauDen, shingleSize, hashShingles)

    // Exact verification on survivors only.
    cands
      .join(ordered.select(col("id").as("id_a"), col("sh").as("sh_a"),
        col("n").as("n_a")), Seq("id_a"))
      .join(ordered.select(col("id").as("id_b"), col("sh").as("sh_b"),
        col("n").as("n_b")), Seq("id_b"))
      .withColumn("inter",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("uni", col("n_a") + col("n_b") - col("inter"))
      .filter(col("inter") * tauDen >= col("uni") * tauNum)
      .select(col("id_a"), col("id_b"),
        round(col("inter").cast("double") / col("uni").cast("double"), 9)
          .as("jaccard"))
  }

  /** TWO-corpus variant — every (left, right) pair with Jaccard ≥ τ, the
    * near-duplicate CONTAMINATION shape: `left` = an eval/holdout set,
    * `right` = the training corpus, and the output is the pair list a
    * decontamination pass would drop or mask (the fuzzy complement of
    * [[Decontaminate]]'s exact-gram sweep — paraphrased or lightly-edited
    * copies that share no long exact gram still land here).
    *
    * The prefix guarantee needs ONE total order spanning both corpora, so
    * document frequencies are counted over the UNION before each side is
    * reordered; everything else — integer thresholds, prefix equi-join,
    * length filter, exact verify — matches [[jaccardSelfJoin]]. Output:
    * `(id_l, id_r, jaccard)`.
    */
  def jaccardJoin(left: DataFrame, right: DataFrame, idCol: String,
      textCol: String, tauNum: Int, tauDen: Int, shingleSize: Int = 3,
      hashShingles: Boolean = false): DataFrame = {
    require(tauNum > 0 && tauDen > 0 && tauNum <= tauDen,
      s"threshold must satisfy 0 < tauNum/tauDen <= 1, got $tauNum/$tauDen")

    // explode the expression directly (see the self-join's pushdown-copy
    // note); one shared df order over BOTH corpora
    def explodedSide(df: DataFrame, side: String) =
      df.select(lit(side).as("side"), col(idCol).cast("long").as("id"),
        explode(shingleCol(textCol, shingleSize, hashShingles)).as("g"))
    val exploded = explodedSide(left, "l").unionAll(explodedSide(right, "r"))
    val freq = exploded.groupBy("g").agg(count(lit(1)).as("df"))
    // window-ordered rebuild — same formulation (and same pathological-HOF
    // avoidance rationale) as the self-join's
    val w = Window.partitionBy("side", "id").orderBy(col("df"), col("g"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val reordered = exploded.join(freq, Seq("g"))
      .withColumn("shArr", collect_list("g").over(w))
      .groupBy("side", "id")
      .agg(first("shArr").as("sh"))
      .select(col("side"), col("id"), col("sh"),
        size(col("sh")).cast("long").as("n"))
    val ordered = reordered.localCheckpoint()

    val ceilTauN = expr(s"(n * $tauNum + ${tauDen - 1}) div $tauDen")
    val pre = ordered
      .withColumn("p", (col("n") - ceilTauN + 1).cast("int"))
      .select(col("side"), col("id"), col("n"),
        explode(slice(col("sh"), lit(1), col("p"))).as("g"))

    val cands = pre.filter(col("side") === "l")
      .select(col("g"), col("id").as("id_l"), col("n").as("n_l"))
      .join(pre.filter(col("side") === "r")
        .select(col("g"), col("id").as("id_r"), col("n").as("n_r")), Seq("g"))
      .filter(col("n_r") * tauNum <= col("n_l") * tauDen &&
              col("n_l") * tauNum <= col("n_r") * tauDen)
      .select("id_l", "id_r")
      .dropDuplicates("id_l", "id_r")

    cands
      .join(ordered.filter(col("side") === "l")
        .select(col("id").as("id_l"), col("sh").as("sh_l"),
          col("n").as("n_l")), Seq("id_l"))
      .join(ordered.filter(col("side") === "r")
        .select(col("id").as("id_r"), col("sh").as("sh_r"),
          col("n").as("n_r")), Seq("id_r"))
      .withColumn("inter",
        size(array_intersect(col("sh_l"), col("sh_r"))).cast("long"))
      .withColumn("uni", col("n_l") + col("n_r") - col("inter"))
      .filter(col("inter") * tauDen >= col("uni") * tauNum)
      .select(col("id_l"), col("id_r"),
        round(col("inter").cast("double") / col("uni").cast("double"), 9)
          .as("jaccard"))
  }

  private def shingleCol(textCol: String, shingleSize: Int,
      hashShingles: Boolean): Column =
    if (hashShingles) TF.shingleHashes(col(textCol), shingleSize)
    else array_distinct(TF.shingles(col(textCol), shingleSize))

  /** The rare-first ordered sets `(id, sh, n)` and the UNVERIFIED candidate
    * pairs `(id_a, id_b)` the prefix filter admits — exposed so tests (and
    * cost probes) can measure pruning, since the filter's whole value is
    * |candidates| ≪ |all pairs|.
    */
  private[graft] def orderedSetsAndCandidates(docs: DataFrame, idCol: String,
      textCol: String, tauNum: Int, tauDen: Int,
      shingleSize: Int, hashShingles: Boolean = false): (DataFrame, DataFrame) = {
    require(tauNum > 0 && tauDen > 0 && tauNum <= tauDen,
      s"threshold must satisfy 0 < tauNum/tauDen <= 1, got $tauNum/$tauDen")

    // Explode the shingle EXPRESSION directly — never project it into a
    // named column first: Catalyst pushes the generator's implicit
    // not-empty/not-null filter below such a Project as a full COPY of
    // the (interpreted, internally-redundant) shingle HOF tree, so each
    // input row pays the tokenize+shingle cost ~3x (measured 6x total
    // wall time on the q170 probe pair — NOTES round 9).
    val exploded = docs.select(col(idCol).cast("long").as("id"),
      explode(shingleCol(textCol, shingleSize, hashShingles)).as("g"))

    // Global rare-first order: document frequency asc, shingle value asc.
    // One uniform shuffle keyed by shingle; partial counts collapse
    // map-side before the exchange.
    val freq = exploded.groupBy("g").agg(count(lit(1)).as("df"))

    // Rebuild each set in (df asc, g asc) order — the same comparator on
    // every document, which is all the prefix guarantee needs. The
    // obvious `array_sort(collect_list(struct)) + transform(_.g)`
    // spelling is PATHOLOGICAL here (the HOF projection over the
    // aggregated struct array measured 6x the entire chain — NOTES
    // round 9); the window-ordered collect_list builds the same array
    // with plain aggregates: the unbounded frame evaluates once per
    // id-group, and first() is frame-constant per group (deterministic)
    // collapsing rows WITHOUT a new exchange — the window already hash
    // partitioned by id.
    val w = Window.partitionBy("id").orderBy(col("df"), col("g"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val reordered = exploded.join(freq, Seq("g"))
      .withColumn("shArr", collect_list("g").over(w))
      .groupBy("id")
      .agg(first("shArr").as("sh"))
      .select(col("id"), col("sh"), size(col("sh")).cast("long").as("n"))
    val ordered = reordered.localCheckpoint()

    // Prefix length p = n − ⌈τ·n⌉ + 1, all-integer ceiling.
    val ceilTauN = expr(s"(n * $tauNum + ${tauDen - 1}) div $tauDen")
    val pre = ordered
      .withColumn("p", (col("n") - ceilTauN + 1).cast("int"))
      .select(col("id"), col("n"),
        explode(slice(col("sh"), lit(1), col("p"))).as("g"))

    // Candidate generation: equi-join on prefix shingles + length filter.
    val cands = pre.select(col("g"), col("id").as("id_a"), col("n").as("n_a"))
      .join(pre.select(col("g"), col("id").as("id_b"), col("n").as("n_b")), Seq("g"))
      .filter(col("id_a") < col("id_b"))
      .filter(col("n_b") * tauNum <= col("n_a") * tauDen &&
              col("n_a") * tauNum <= col("n_b") * tauDen)
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")

    (ordered, cands)
  }
}
