package graft.ops

import graft.functions.{VectorFunctions => VF}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF-Flat approximate nearest neighbor: k-means coarse quantizer + per-
  * cluster inverted lists + exact scoring inside the `nprobe` nearest
  * lists. The standard production ANN layout (FAISS-style) expressed as
  * DataFrame ops:
  *
  *  - training is distributed Lloyd's — assignment is a per-row argmax of
  *    codegen'd dot products against broadcast-literal centroids; the
  *    update step is one explode + two aggregations (per-dimension means);
  *  - only the k×dim centroid matrix ever reaches the driver (the model,
  *    not the data);
  *  - at query time each query scores `nprobe/k` of the corpus instead of
  *    all of it, trading recall for a k/nprobe-fold cut in work.
  *
  * Cluster assignment maximizes `dot(v, c) - |c|²/2` (equivalent to
  * minimizing Euclidean distance) so the hot loop is the native [[VF.dot]]
  * expression, not an interpreted lambda.
  */
object IvfIndex {

  final case class Model(centroids: Seq[Array[Double]]) {
    def k: Int = centroids.size
  }

  private def litVec(c: Array[Double]): Column = array(c.toSeq.map(lit): _*)

  /** Scores against every centroid (higher = closer). */
  private def scores(v: Column, m: Model): Column =
    array(m.centroids.map(c =>
      VF.dot(v, litVec(c)) - lit(c.map(x => x * x).sum / 2.0)): _*)

  /** 0-based nearest-centroid id — the native [[graft.functions.expressions.NearestCentroid]]
    * expression: the centroid matrix rides the codegen references array,
    * so every Lloyd's iteration (and the index pass) compiles to the SAME
    * whole-stage-codegen class instead of recompiling per-iteration
    * literal centroids (r16 opt round; measured — see the expression's
    * scaladoc). Scores, ties and NaN resolve exactly like the literal
    * `array_position(s, array_max(s)) - 1` form it replaced; a non-null
    * vector with the wrong dimension now FAILS FAST at any call site
    * (train included — r15 ADVICE #4) instead of silently nulling out.
    */
  def assignCluster(v: Column, m: Model): Column =
    graft.functions.expressions.VectorExpressions.nearestCentroid(v, m.centroids)

  /** Train a k-means quantizer. Deterministic: initial centroids are the
    * `k` rows with the lowest ids (stable across runs/partitionings);
    * ties in assignment break toward the lower cluster id via
    * array_position-of-max semantics.
    */
  def train(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iterations: Int = 5): Model = {
    var model = Model(
      corpus.orderBy(col(idCol)).limit(k)
        .select(col(vecCol)).collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray).toSeq)
    // dim comes from the seed rows just collected — a separate
    // corpus.select(size(...)).head() was one more driver job per train
    // call for a fact the seeds already carry (guide §1.2)
    val dim = model.centroids.head.length
    require(model.centroids.forall(_.length == dim),
      s"ragged seed vectors: expected dim $dim, got " +
        model.centroids.map(_.length).distinct.mkString("/"))

    for (_ <- 1 to iterations) {
      val assigned = corpus.select(
        col(vecCol).as("v"), assignCluster(col(vecCol), model).as("c"))
      // one-pass element-wise mean via the typed VectorMean aggregator
      // (an explode-based formulation would shuffle dim× the rows)
      val dims = assigned
        .groupBy("c")
        .agg(graft.functions.VectorAggregates.vectorMean(col("v")).as("centroid"))
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
        .toMap
      // empty clusters keep their previous centroid
      model = Model(model.centroids.zipWithIndex.map {
        case (prev, i) => dims.getOrElse(i, prev)
      })
    }
    model
  }

  /** Materialize the inverted lists: corpus + cluster id (partition or
    * bucket by `cluster` when persisting, so a probe reads only its
    * lists). checkedDim fails fast on a corpus/model dimensionality
    * mismatch (VecDot would otherwise null out and send every row to
    * cluster 0 silently).
    */
  def index(corpus: DataFrame, vecCol: String, m: Model): DataFrame =
    corpus.withColumn("cluster",
      assignCluster(VF.checkedDim(col(vecCol), m.centroids.head.length), m))

  /** Top-k cosine search probing the `nprobe` nearest clusters per query.
    * Drops the query's own id, as [[Similarity.bruteForceTopK]] does.
    */
  def search(queries: DataFrame, indexed: DataFrame, m: Model,
      k: Int, nprobe: Int = 2,
      queryId: String = "vec_id", corpusId: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val s = scores(VF.checkedDim(col(vecCol), m.centroids.head.length), m)
    // nprobe nearest clusters: sort (score, idx) pairs descending by score
    val ranked = array_sort(
      zip_with(s, sequence(lit(0), lit(m.k - 1)),
        (sc, i) => struct(sc.as("s"), i.as("i"))),
      (a, b) => when(a.getField("s") > b.getField("s"), -1)
        .when(a.getField("s") < b.getField("s"), 1).otherwise(0))
    val probes = transform(slice(ranked, 1, nprobe), p => p.getField("i").cast("int"))

    val q = queries.select(col(queryId).as("query_id"), col(vecCol).as("q_vec"),
        explode(probes).as("cluster"))
    val c = indexed.select(col(corpusId).as("neighbor_id"), col(vecCol).as("c_vec"),
      col("cluster"))
    val scored = c.join(broadcast(q), Seq("cluster"))
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
