package graft.ops

import graft.functions.{VectorFunctions => VF}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k. The query side is broadcast
  *    (queries are the small side by construction); the corpus streams
  *    through a single codegen'd projection and a per-query top-k. Scales
  *    linearly in corpus size with zero corpus shuffle.
  *  - [[lshTopK]]: random-hyperplane bucketing with multiprobe (flip each
  *    single bit), so only ~(1+planes)/2^planes of the corpus is scored per
  *    query — the 100 TB path, trading recall for a ~1000× candidate
  *    reduction.
  */
object Similarity {

  /** Exact top-k by cosine: for each row of `queries`, the `k` nearest
    * corpus rows. Output: (query_id, neighbor_id, cosine, rank). A
    * candidate whose id equals the query id is dropped: the queries are
    * drawn from the corpus.
    *
    * Implementation notes for scale: `broadcast(queries)` keeps the corpus
    * un-shuffled; the only shuffle is the final per-query top-k aggregate,
    * whose input is already cut to k rows per (corpus partition, query) by
    * the window over partial results — expressed here as a window over the
    * joined stream, which Catalyst executes as partial top-k under AQE.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      queryId: String = "vec_id", corpusId: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(queryId).as("query_id"), col(vecCol).as("q_vec"))
    val c = corpus.select(col(corpusId).as("neighbor_id"), col(vecCol).as("c_vec"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", VF.cosine(col("q_vec"), col("c_vec")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine"), col("rank").cast("long").as("rank"))
  }

  /** Hard-negative mining for contrastive training: per anchor, the `k`
    * MOST similar corpus rows carrying a DIFFERENT label — the
    * highest-loss negatives a triplet/InfoNCE trainer wants. Same scale
    * shape as [[bruteForceTopK]] (anchors broadcast, corpus un-shuffled,
    * per-anchor top-k window); the label inequality is just one more
    * codegen'd filter on the streamed side. Output:
    * (anchor_id, anchor_label, neg_id, cosine, rank).
    */
  def hardNegatives(anchors: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", labelCol: String = "label",
      vecCol: String = "embedding"): DataFrame = {
    val a = anchors.select(col(idCol).as("anchor_id"),
      col(labelCol).as("anchor_label"), col(vecCol).as("a_vec"))
    val c = corpus.select(col(idCol).as("neg_id"),
      col(labelCol).as("c_label"), col(vecCol).as("c_vec"))
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(col("cosine").desc, col("neg_id"))
    c.crossJoin(broadcast(a))
      .filter(col("c_label") =!= col("anchor_label"))
      .withColumn("cosine", VF.cosine(col("a_vec"), col("c_vec")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("anchor_id"), col("anchor_label"), col("neg_id"),
        round(col("cosine"), 6).as("cosine"), col("rank").cast("long").as("rank"))
  }

  /** LSH-bucketed ANN: corpus rows land in one hyperplane bucket; each
    * query probes its own bucket plus all single-bit flips (multiprobe),
    * then exact cosine ranks the candidates. Recall is tunable via
    * `numPlanes` (fewer planes → bigger buckets → higher recall, more
    * compute).
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      numPlanes: Int = 12, dim: Int = 64, seed: Long = 42L,
      queryId: String = "vec_id", corpusId: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val planes = VF.makePlanes(numPlanes, dim, seed)
    // checkedDim: a dim mismatch against the literal planes would bucket
    // everything to 0 and degenerate to a cross join — fail on row one
    val c = corpus.select(col(corpusId).as("neighbor_id"),
        VF.checkedDim(col(vecCol), dim).as("c_vec"))
      .withColumn("bucket", VF.hyperplaneSignature(col("c_vec"), planes))
    // query probes: own bucket + each single-bit flip
    val flips = (0 until numPlanes).map(b => lit(1L << b))
    val q = queries.select(col(queryId).as("query_id"),
        VF.checkedDim(col(vecCol), dim).as("q_vec"))
      .withColumn("sig", VF.hyperplaneSignature(col("q_vec"), planes))
      .withColumn("bucket", explode(array((lit(0L) +: flips).map(f => col("sig").bitwiseXOR(f)): _*)))
      .drop("sig")
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", VF.cosine(col("q_vec"), col("c_vec")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine"), col("rank").cast("long").as("rank"))
  }
}
