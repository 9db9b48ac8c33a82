package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector math over `array<float>` embedding columns, built from the
  * higher-order array functions (`zip_with`/`aggregate`/`transform`) so the
  * hot path is codegen'd per row — no UDF boxing, no shuffles.
  *
  * Accumulation is in double (floats are cast up before multiply) with
  * strict left-to-right order, which keeps results reproducible across
  * engines and partitionings.
  */
object VectorFunctions {

  /** Σ aᵢ·bᵢ in double — a native codegen'd expression (see
    * [[graft.functions.expressions.VecDot]]); bit-identical to the
    * higher-order `zip_with`+`aggregate` formulation it replaced, but
    * stays inside whole-stage codegen.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.expressions.VectorExpressions.vecDot(a, b)

  /** Reference higher-order formulation (interpreted; kept for
    * cross-checking the native expression in tests).
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, v) => acc + v)

  /** Σ aᵢ² in double. */
  def normSq(a: Column): Column = dot(a, a)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(normSq(a))

  /** Cosine similarity; null when either vector has zero norm. */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val na = norm(a)
    val nb = norm(b)
    when(na > 0 && nb > 0, d / (na * nb))
  }

  /** Squared Euclidean distance. */
  def sqDist(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => {
        val diff = x.cast("double") - y.cast("double")
        diff * diff
      }),
      lit(0.0),
      (acc, v) => acc + v)

  /** Unit-normalize a vector to array<double> (no-op null when zero norm).
    * Pre-normalizing the corpus once turns cosine top-k into dot-product
    * top-k — at 100 TB you normalize at ingest, not per query.
    */
  def normalize(a: Column): Column = {
    val n = norm(a)
    when(n > 0, transform(a, x => x.cast("double") / n))
  }

  /** Random-hyperplane signature (SimHash for vectors): bit j = sign of
    * dot(v, planeⱼ). `planes` are deterministic pseudo-random hyperplanes
    * generated driver-side (seeded) and inlined as literals — broadcast-free
    * and identical on every executor. Returns a long bucket id usable as an
    * LSH key.
    */
  def hyperplaneSignature(v: Column, planes: Seq[Array[Double]]): Column = {
    require(planes.size <= 63, "signature must fit in a long")
    planes.zipWithIndex.map { case (p, j) =>
      val planeCol = array(p.toSeq.map(lit): _*)
      when(dot(v, planeCol) >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Deterministic hyperplanes (xorshift-seeded), driver-side. */
  def makePlanes(numPlanes: Int, dim: Int, seed: Long = 42L): Seq[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Fail fast on dimension mismatch. Without this, a wrong `dim` against
    * literal planes/centroids makes VecDot return null, sign tests fall to
    * their otherwise-branch, and every row lands in ONE LSH bucket — the
    * "approximate" search silently degenerates to a full cross join. An
    * error at the first row beats a job sized 4096x too big.
    */
  def checkedDim(v: Column, dim: Int): Column =
    when(size(v) === dim, v).otherwise(raise_error(
      concat(lit(s"expected $dim-dim vector, got "), size(v).cast("string"))))
}
