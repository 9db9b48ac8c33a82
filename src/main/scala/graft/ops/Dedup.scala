package graft.ops

import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus deduplication at training-data scale. Five strategies, all
  * shuffle-frugal:
  *
  *  - exact: hash-groupBy on a content fingerprint (one shuffle on a
  *    16-byte key, never on the text itself);
  *  - MinHash + LSH: shingle → 64-hash signature (per-row, no shuffle) →
  *    band buckets → join on (band, bucket) so only candidate pairs meet
  *    (the classic Broder scheme — the only shuffle is by band key);
  *  - SimHash: 64-bit weighted-bit signature per row, near-dups = small
  *    Hamming distance within bucket;
  *  - n-gram Jaccard: exact verification on candidate pairs only;
  *  - embedding cosine: random-hyperplane LSH buckets, exact cosine inside
  *    the bucket.
  *
  * Nothing here collects to the driver; every stage is a Dataset transform
  * that scales with executors.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact duplicate groups by normalized-content md5. Returns
    * (fingerprint, canonical_id = min id, dup_count). Deterministic
    * survivor (min id), unlike a bare `dropDuplicates`.
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(TF.fingerprint(col(textCol)).as("fingerprint"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("dup_count"))

  /** Keep one row per exact-duplicate group (the min-id survivor). */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(TF.fingerprint(col(textCol))).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  // -------------------------------------------------- incremental (batch)

  /** Incremental dedup: rows of `incoming` whose content fingerprint does
    * NOT already appear in `corpus` — the production shape where each new
    * crawl batch is checked against the standing corpus instead of
    * re-deduplicating everything. Returns (fingerprint, idCol) for the
    * genuinely-new rows. One anti-join keyed by the 16-byte fingerprint;
    * the corpus side would be a pre-computed fingerprint index in a real
    * deployment, so only fingerprints ever shuffle.
    */
  def newDocs(incoming: DataFrame, corpus: DataFrame, idCol: String,
      textCol: String): DataFrame =
    incoming
      .select(col(idCol), TF.fingerprint(col(textCol)).as("fingerprint"))
      // left_anti ignores duplicate right rows — no distinct() needed
      .join(corpus.select(TF.fingerprint(col(textCol)).as("fingerprint")),
        Seq("fingerprint"), "left_anti")

  /** [[newDocs]] accelerated with a bloom sketch of the corpus
    * fingerprints — same exact result, different shuffle shape: rows whose
    * fingerprint the sketch rejects are DEFINITELY new (bloom filters have
    * no false negatives) and bypass the anti-join entirely; only the
    * "maybe duplicate" sliver is joined. At 100 TB, where most of each
    * incoming batch is novel, this turns a full-batch SHUFFLE into a
    * small-fraction shuffle; the cost is the sketch broadcast plus a
    * second fingerprint SCAN of both inputs (the sketch action reads the
    * corpus once, the anti-join again; the two probe branches each read
    * the batch) — persist the inputs if their fingerprints are expensive,
    * or keep the corpus side as a pre-computed fingerprint index.
    *
    * An empty corpus (bootstrap batch) short-circuits: everything is new.
    */
  def newDocsBloom(incoming: DataFrame, corpus: DataFrame, idCol: String,
      textCol: String,
      expectedItems: Long = BloomPrune.DefaultExpectedItems): DataFrame = {
    val session = Some(incoming.sparkSession)
    val corpusFp = corpus.select(TF.fingerprint(col(textCol)).as("fingerprint"))
    val inFp = incoming
      .select(col(idCol), TF.fingerprint(col(textCol)).as("fingerprint"))
    BloomPrune.sketch(corpusFp, xxhash64(col("fingerprint")), expectedItems) match {
      case None => // empty corpus: every incoming row is new
        inFp.select(col("fingerprint"), col(idCol))
      case Some(bytes) =>
        val probe =
          BloomPrune.bloomContains(lit(bytes), xxhash64(col("fingerprint")), session)
        val definitelyNew = inFp.filter(!probe)
        val maybeDup = inFp.filter(probe)
          .join(corpusFp, Seq("fingerprint"), "left_anti")
        definitelyNew.unionByName(maybeDup)
          // same column order as newDocs (whose using-join fronts the key)
          .select(col("fingerprint"), col(idCol))
    }
  }

  // ------------------------------------------------------------- MinHash

  /** Universal-hash parameters for the MinHash permutations, seeded and
    * generated driver-side (tiny). Shared with the native expression so
    * the two formulations cannot drift.
    *
    * Sized to stay ANSI-safe (Spark 4 defaults to ANSI mode, where long
    * overflow throws): the shingle hash is masked to 32 bits and
    * a < 2^29, so a*h + b < 2^62 — no overflow, no `try_*` needed.
    */
  private val HashPrime = graft.functions.expressions.MinHashExpressions.HashPrime

  private def hashParams(numHashes: Int, seed: Long): Seq[(Long, Long)] =
    graft.functions.expressions.MinHashExpressions.hashParams(numHashes, seed)

  /** Signature from an already-materialized masked-hash array column, via
    * the native one-pass codegen'd expression
    * ([[graft.functions.expressions.MinHashSig]]) — each hash is read once
    * and all `numHashes` running minima update in a primitive loop.
    */
  def minhashSignatureFromHashes(
      hashes32: Column,
      numHashes: Int = graft.functions.expressions.MinHashExpressions.DefaultNumHashes,
      seed: Long = graft.functions.expressions.MinHashExpressions.DefaultSeed): Column =
    graft.functions.expressions.MinHashExpressions
      .signature(hashes32, numHashes, seed)

  /** Reference higher-order formulation (interpreted: 64 lambda passes and
    * 64 intermediate arrays per row) — kept for cross-checking the native
    * expression in tests, like [[graft.functions.VectorFunctions.dotHof]].
    */
  def minhashSignatureHof(
      hashes32: Column,
      numHashes: Int = graft.functions.expressions.MinHashExpressions.DefaultNumHashes,
      seed: Long = graft.functions.expressions.MinHashExpressions.DefaultSeed): Column =
    array(hashParams(numHashes, seed).map { case (a, b) =>
      array_min(transform(hashes32, h => pmod(h * lit(a) + lit(b), lit(HashPrime))))
    }: _*)

  /** Masked 32-bit shingle hashes (the minhash input domain), via the
    * native one-pass expression
    * ([[graft.functions.expressions.ShingleHashes32]]).
    */
  def maskedShingleHashes(text: Column, shingleSize: Int): Column =
    graft.functions.expressions.ShingleExpressions
      .shingleHashes32(TF.tokens(text), shingleSize)

  /** Reference higher-order formulation — kept for cross-checking the
    * native expression in tests.
    */
  def maskedShingleHashesHof(text: Column, shingleSize: Int): Column =
    transform(TF.shingleHashes(text, shingleSize),
      h => h.bitwiseAND(lit(0xFFFFFFFFL)))

  /** Candidate duplicate pairs via LSH banding: split the signature into
    * `bands` bands of `numHashes / bands` rows, hash each band, and join
    * documents that share any (band, bandHash) bucket. Probability two docs
    * with Jaccard similarity s become candidates: 1 - (1 - s^r)^b.
    *
    * The band-bucket join is the only shuffle; its key space is
    * (bands × hash) — uniformly distributed, no hot keys, safe at 100 TB.
    * Output: (id_a, id_b, est_jaccard) with id_a < id_b; est_jaccard is the
    * fraction of agreeing signature positions.
    */
  def minhashCandidates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = graft.functions.expressions.MinHashExpressions.DefaultNumHashes,
      bands: Int = 16,
      shingleSize: Int = 3,
      seed: Long = graft.functions.expressions.MinHashExpressions.DefaultSeed): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    // staged projections: tokenize+hash once per row, then permute over the
    // bound attribute (Catalyst keeps the project boundary because the
    // alias is referenced 64 times — CollapseProject only inlines
    // single-use or cheap expressions)
    val signed = df
      .select(col(idCol).as("id"), col(textCol).as("__text"))
      .withColumn("__hashes", maskedShingleHashes(col("__text"), shingleSize))
      .withColumn("sig", minhashSignatureFromHashes(col("__hashes"), numHashes, seed))
      .select("id", "sig")

    // band hashes built with Scala-level band indices so `slice` gets
    // constant offsets (codegen-friendly, no Column-typed shift plumbing)
    val bandHashes = array((0 until bands).map { b =>
      xxhash64(array_join(
        transform(slice(col("sig"), b * r + 1, r), _.cast("string")), ","))
    }: _*)
    val banded = signed.select(
      col("id"), col("sig"), posexplode(bandHashes))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_hash")

    val a = banded.select(col("band"), col("band_hash"), col("id").as("id_a"), col("sig").as("sig_a"))
    val b = banded.select(col("band"), col("band_hash"), col("id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("sig_a"), col("sig_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("est_jaccard",
        aggregate(zip_with(col("sig_a"), col("sig_b"),
            (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / numHashes)
      .drop("sig_a", "sig_b")
  }

  // ------------------------------------------------------------- SimHash

  /** 64-bit SimHash per row via the native one-pass expression
    * ([[graft.functions.expressions.SimHash64]]) — no explode, no shuffle,
    * codegen'd counter loop.
    */
  def simhash(text: Column): Column =
    graft.functions.expressions.MinHashExpressions
      .simhash64(transform(TF.tokens(text), t => xxhash64(t)))

  /** Reference higher-order formulation (interpreted: a 64-element
    * zip_with merge per token) — kept for cross-checking the native
    * expression in tests.
    */
  def simhashHof(text: Column): Column = {
    val tokenHashes = transform(TF.tokens(text), t => xxhash64(t))
    val zeros = array_repeat(lit(0L), 64)
    // bit tests use Scala-level shift amounts (shiftright needs an Int);
    // the per-token ±1 vector is zip_with-merged into the accumulator
    val counts = aggregate(tokenHashes, zeros, (acc, h) =>
      zip_with(acc,
        array((0 until 64).map(b =>
          when(shiftright(h, b).bitwiseAND(1) === 1, 1L).otherwise(-1L)): _*),
        (a, c) => a + c))
    // sign → bit: sum of distinct powers of two == bitwise OR of set bits
    val bitValues = array((0 until 64).map(b => lit(1L << b)): _*)
    aggregate(
      zip_with(counts, bitValues, (cnt, v) => when(cnt > 0, v).otherwise(lit(0L))),
      lit(0L), (acc, v) => acc + v)
  }

  /** Hamming distance between two simhashes (bit_count of xor). */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup candidates: block on the four 16-bit quarters of the
    * signature (any pair within Hamming distance 3 shares at least one
    * intact quarter — pigeonhole), verify Hamming ≤ `maxDistance` inside
    * the block. Shuffle key = (quarter index, 16-bit value): bounded, dense.
    */
  def simhashCandidates(df: DataFrame, idCol: String, textCol: String,
      maxDistance: Int = 3): DataFrame = {
    require(maxDistance >= 0 && maxDistance <= 3,
      s"4x16-bit blocking only guarantees recall for Hamming distance <= 3 " +
        s"(a distance-4 pair can differ in all four quarters); got $maxDistance")
    val signed = df.select(col(idCol).as("id"), simhash(col(textCol)).as("sh"))
    val quarters = array((0 until 4).map(q =>
      shiftright(col("sh"), q * 16).bitwiseAND(lit(0xFFFFL))): _*)
    val quartered = signed.select(col("id"), col("sh"), posexplode(quarters))
      .withColumnRenamed("pos", "quarter")
      .withColumnRenamed("col", "qval")
    val a = quartered.select(col("quarter"), col("qval"), col("id").as("id_a"), col("sh").as("sh_a"))
    val b = quartered.select(col("quarter"), col("qval"), col("id").as("id_b"), col("sh").as("sh_b"))
    a.join(b, Seq("quarter", "qval"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sh_a", "sh_b")
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", hamming(col("sh_a"), col("sh_b")))
      .filter(col("hamming") <= maxDistance)
      .select("id_a", "id_b", "hamming")
  }

  // ------------------------------------------------------- n-gram Jaccard

  /** Exact n-gram Jaccard for candidate pairs (verification stage after any
    * LSH). `pairs` must have (id_a, id_b); `docs` provides (id, text).
    * The two joins are against the deduplicated doc side keyed by id —
    * co-partitioned with the pair stream by AQE.
    */
  def ngramJaccard(pairs: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, shingleSize: Int = 3): DataFrame = {
    val sh = docs.select(col(idCol).as("id"),
      TF.shingleHashes(col(textCol), shingleSize).as("sh"))
    pairs
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")).cast("double"))
      // 9 dp: shingle-set sizes are ≤ ~10^3, so exact ratios terminate at
      // ≤ 9 decimals (2^a·5^b denominators) — rounding at 9 can never sit
      // on a half-way boundary, keeping engines bit-consistent
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 9).as("jaccard"))
  }

  /** n-gram CONTAINMENT on candidate pairs: |A∩B| / min(|A|,|B|). Catches
    * the subset-duplication Jaccard misses — a short document wholly
    * embedded in a long one scores ~1.0 here but low Jaccard (the union
    * denominator drowns it). Same join shape and 9-dp provably-safe
    * rounding as [[ngramJaccard]].
    */
  def ngramContainment(pairs: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, shingleSize: Int = 3): DataFrame = {
    val sh = docs.select(col(idCol).as("id"),
      TF.shingleHashes(col(textCol), shingleSize).as("sh"))
    pairs
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("containment", col("inter").cast("double") /
        least(size(col("sh_a")), size(col("sh_b"))).cast("double"))
      .select(col("id_a"), col("id_b"), round(col("containment"), 9).as("containment"))
  }

  // --------------------------------------------------- embedding near-dup

  /** Embedding near-duplicates: random-hyperplane LSH bucket join, exact
    * cosine verification inside buckets. Only pairs sharing a `numPlanes`-bit
    * sign signature meet — at 16 planes that's a 65k-way partition of the
    * space, so the join is sparse and shuffle keys are uniform.
    */
  def embeddingNearDup(df: DataFrame, idCol: String, vecCol: String,
      minCosine: Double = 0.95, numPlanes: Int = 16, dim: Int = 64,
      seed: Long = graft.functions.expressions.MinHashExpressions.DefaultSeed): DataFrame = {
    val planes = VF.makePlanes(numPlanes, dim, seed)
    // checkedDim: a dim mismatch would bucket every row to 0 (see lshTopK)
    val bucketed = df.select(col(idCol).as("id"),
        VF.checkedDim(col(vecCol), dim).as("v"))
      .withColumn("bucket", VF.hyperplaneSignature(col("v"), planes))
    val a = bucketed.select(col("bucket"), col("id").as("id_a"), col("v").as("v_a"))
    val b = bucketed.select(col("bucket"), col("id").as("id_b"), col("v").as("v_b"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", VF.cosine(col("v_a"), col("v_b")))
      .filter(col("cosine") >= minCosine)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
  }

  // ------------------------------------------------------------- SemDeDup

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): embedding-CLUSTER
    * semantic dedup — k-means the corpus, call any within-cluster pair
    * with cosine >= `minCosine` a semantic duplicate, keep one member
    * per duplicate component. Catches paraphrases and boilerplate
    * rewrites that share no n-grams (invisible to MinHash/SimHash) while
    * never comparing across clusters — the paper's trick for avoiding a
    * corpus-wide pair pass.
    *
    * Composition of the existing parts: [[IvfIndex.train]]'s
    * deterministic Lloyd's (only the k x dim centroid matrix reaches the
    * driver), [[IvfIndex.index]]'s codegen'd assignment, one
    * cluster-keyed equi-join for the pair pass (a hash join, never a
    * cartesian — PlanSpec pins it), [[keepCanonical]]'s
    * CC + smallest-id survivor. Output manifest, one row per surviving
    * component: (kept_id, n_members), n_members = 1 for singletons.
    *
    * Scale: the within-cluster pass is quadratic in CLUSTER size by
    * design — SemDeDup's own contract is that k grows with the corpus
    * (the paper runs ~50k clusters on LAION) so per-cluster lists stay
    * bounded; the shuffle key is the cluster id, uniform under a healthy
    * quantizer. Cosine is the codegen'd [[VF.cosine]]; identical vectors
    * provably share a cluster (same deterministic assignment expression)
    * and score exactly 1.0, which is what makes an injected-twin oracle
    * possible.
    */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, minCosine: Double, iterations: Int = 3): DataFrame = {
    val model = IvfIndex.train(corpus, idCol, vecCol, k, iterations)
    val indexed = IvfIndex.index(
        corpus.select(col(idCol).as("id"), col(vecCol).as("v")), "v", model)
      .localCheckpoint(eager = true) // pair pass probes it twice
    val a = indexed.select(col("cluster"), col("id").as("id_a"), col("v").as("v_a"))
    val b = indexed.select(col("cluster"), col("id").as("id_b"), col("v").as("v_b"))
    val edges = a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .filter(VF.cosine(col("v_a"), col("v_b")) >= minCosine)
      .select("id_a", "id_b")
    // Survivor selection SPECIALIZED for the min-id policy (r16 opt
    // round, guide §1.2/§2.4): with no quality axis, the kept member of
    // every duplicate component is exactly the component id itself —
    // [[ConnectedComponents.components]] labels every member with the
    // MIN reachable id, and the min member is always present in the
    // label frame (the bidirectional explode emits every endpoint). So
    // instead of [[keepCanonical]]'s corpus-wide window (which shuffles
    // and SORTS the whole corpus by component even though only duplicate
    // members need resolving), the manifest is: one count over the label
    // frame (only nodes that appear in a duplicate pair — tiny next to
    // the corpus at any realistic dup rate) plus an anti-join that
    // passes untouched singletons straight through (AQE broadcasts the
    // label side when small; at 100 TB the corpus never shuffles here).
    // keepCanonical remains the operator for callers with a REAL
    // quality axis, where the argmax genuinely needs per-member data.
    // pairsDistinct: the cluster-keyed pair join emits each unordered
    // pair exactly once (one cluster per id; id_a < id_b, so no twins,
    // repeats or self-loops) — CC's internal distinct would be a
    // redundant full exchange of the edge list (guide §2.4)
    val labels = ConnectedComponents.components(edges, // (id, component)
      pairsDistinct = true)
    val groups = labels
      .groupBy(col("component").as("kept_id"))
      .agg(count(lit(1)).as("n_members"))
    val singletons = corpus.select(col(idCol).as("kept_id"))
      .join(labels.select(col("id").as("kept_id")), Seq("kept_id"), "left_anti")
      .select(col("kept_id"), lit(1L).as("n_members"))
    groups.unionAll(singletons)
  }

  // ----------------------------------------------- canonical doc per cluster

  /** Canonical-document selection: given duplicate-pair edges (from any
    * candidate pass — MinHash bands, SimHash blocks, embedding buckets),
    * resolve them to clusters with [[ConnectedComponents]] and keep the
    * HIGHEST-QUALITY member of each cluster (ties broken by smallest id) —
    * the curation policy that beats min-id survivorship when near-dups
    * differ in cleanliness (one copy has the nav chrome, one doesn't).
    *
    * Input: `docs` with an id and a quality column; `edges` as (id_a,
    * id_b). Docs in no edge are their own singleton cluster and survive
    * unchanged. Output: one row per CLUSTER — (component, kept_id,
    * quality, n_members).
    *
    * Shape at scale: components is the O(log diameter) label-propagation
    * loop (its own doc); the label join hashes by id; the argmax is one
    * window over component — every key uniform, nothing on the driver but
    * the convergence counter.
    */
  def keepCanonical(
      docs: DataFrame,
      edges: DataFrame,
      idCol: String,
      qualityCol: String): DataFrame = {
    val labels = ConnectedComponents.components(edges) // (id, component)
    val labeled = docs
      .join(labels, docs(idCol) === labels("id"), "left")
      .select(docs(idCol).as("__id"),
        coalesce(col("component"), docs(idCol)).as("component"),
        col(qualityCol).as("__q"))
    val w = Window.partitionBy("component")
      .orderBy(col("__q").desc, col("__id").asc)
    labeled
      .withColumn("__rn", row_number().over(w))
      .withColumn("n_members", count(lit(1)).over(Window.partitionBy("component")))
      .filter(col("__rn") === 1)
      .select(col("component"), col("__id").as("kept_id"),
        col("__q").as(qualityCol), col("n_members"))
  }
}
