package graft.ops

import graft.{GraftSpark, Tables}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class IvfIndexSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("training converges to k distinct centroids; assignment is total") {
    val emb = Tables.embeddings(spark, sf)
    val m = IvfIndex.train(emb, "vec_id", "embedding", k = 8, iterations = 3)
    assert(m.k == 8)
    val indexed = IvfIndex.index(emb, "embedding", m)
    val clusters = indexed.groupBy("cluster").count().collect()
    assert(clusters.map(_.getInt(0)).toSet.subsetOf((0 until 8).toSet))
    assert(clusters.map(_.getLong(1)).sum == emb.count())
  }

  test("IVF search recall vs brute force is high at nprobe=4/8") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter($"vec_id" < 10)
    val m = IvfIndex.train(emb, "vec_id", "embedding", k = 8, iterations = 3)
    val indexed = IvfIndex.index(emb, "embedding", m)

    val exact = Similarity.bruteForceTopK(queries, emb, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = IvfIndex.search(queries, indexed, m, k = 5, nprobe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet

    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall too low")
    // ranked candidates must be correctly ordered by cosine
    val ranks = IvfIndex.search(queries, indexed, m, k = 5, nprobe = 4)
      .filter($"query_id" === 0L).orderBy("rank")
      .select("cosine").as[Double].collect()
    assert(ranks.sameElements(ranks.sorted.reverse))
  }

  test("nearest_centroid equals the literal argmax formulation it replaced") {
    // r16 opt round: assignCluster now rides the native NearestCentroid
    // expression (centroid matrix in the codegen references array, not
    // inlined literals — identical generated code across Lloyd's
    // iterations). Scores, ties and NaN must resolve exactly like
    // array_position(s, array_max(s)) - 1 over array(dot(v, lit(c)) -
    // lit(|c|^2/2)) — pinned here value-for-value on real embeddings.
    val emb = Tables.embeddings(spark, sf)
    val m = IvfIndex.train(emb, "vec_id", "embedding", k = 8, iterations = 2)
    def litVec(c: Array[Double]) = array(c.map(lit): _*)
    val literalScores = array(m.centroids.map(c =>
      graft.functions.VectorFunctions.dot(col("embedding"), litVec(c))
        - lit(c.map(x => x * x).sum / 2.0)): _*)
    val literalAssign = (array_position(literalScores,
      array_max(literalScores)) - 1).cast("int")
    val mismatches = emb.select(
        IvfIndex.assignCluster(col("embedding"), m).as("native"),
        literalAssign.as("literal"))
      .filter(col("native") =!= col("literal")).count()
    assert(mismatches == 0L)
  }

  test("nearest_centroid breaks a signed-zero tie like the literal form, interpreted and codegen") {
    // centroid [-0.0, -0.0] scores a sum of -0.0 products, but the score
    // accumulator starts at +0.0, so both forms compute +0.0 and tie
    // with centroid [0.0, 0.0]; array_max/array_position compare doubles
    // with 0.0 == -0.0 too, so the first index wins on both sides
    val zero = Array(0.0, 0.0)
    val negZero = Array(-0.0, -0.0)
    val far = Array(-1.0, -1.0)
    val v = array((col("id") + 1).cast("float"), (col("id") + 2).cast("float"))
    def litScores(cs: Seq[Array[Double]]) = array(cs.map(c =>
      graft.functions.VectorFunctions.dot(v, array(c.map(lit): _*))
        - lit(c.map(x => x * x).sum / 2.0)): _*)
    def literal(s: Column) = (array_position(s, array_max(s)) - 1).cast("int")
    val paths = Seq(
      "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"),
      "codegen" -> Seq("spark.sql.codegen.wholeStage" -> "true",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"))
    val keys = paths.head._2.map(_._1)
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try for ((path, confs) <- paths; cs <- Seq(Seq(zero, negZero, far), Seq(negZero, zero, far))) {
      confs.foreach { case (k, x) => spark.conf.set(k, x) }
      val row = spark.range(2).select(
          graft.functions.expressions.VectorExpressions.nearestCentroid(v, cs).as("native"),
          literal(litScores(cs)).as("literal"),
          litScores(cs).getItem(1).as("s1"),
          // the literal rule over a true signed-zero pair, both orders
          literal(array(col("id") * 0.0, col("id") * -0.0)).as("pz_nz"),
          literal(array(col("id") * -0.0, col("id") * 0.0)).as("nz_pz"))
        .collect()
      row.foreach { r =>
        assert(r.getInt(0) == 0 && r.getInt(1) == 0, s"$path ${cs.map(_.toSeq)}: $r")
        assert(java.lang.Double.doubleToRawLongBits(r.getDouble(2)) == 0L, s"$path: score is not +0.0: $r")
        assert(r.getInt(3) == 0 && r.getInt(4) == 0, s"$path: $r")
      }
    } finally saved.foreach { case (k, x) => x.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("nearest_centroid generated code COMPILES (no silent WSCG fallback)") {
    // r16 regression: a stripMargin line starting with '||' was re-stripped
    // by the code interpolator, producing invalid Java — Spark then fell
    // back to interpreted execution SILENTLY (results stayed correct, the
    // codegen-cache win evaporated, and 80 compile errors/bench run hid in
    // the logs). Generating a projection directly throws on compile error,
    // so the fallback cannot hide here.
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val cents = (0 until 8).map(i => Array.tabulate(16)(j => (i + j) * 0.01))
    val flat = cents.flatten.toArray
    val norms = cents.map(c => c.map(x => x * x).sum / 2.0).toArray
    val e = graft.functions.expressions.NearestCentroid(
      BoundReference(0, ArrayType(FloatType), nullable = true), flat, norms, 16)
    val proj = org.apache.spark.sql.catalyst.expressions.codegen
      .GenerateMutableProjection.generate(Seq(e))
    assert(proj != null)
  }

  test("nearest_centroid compares by content: equal matrices are semanticEquals") {
    import graft.functions.expressions.NearestCentroid
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val v = BoundReference(0, ArrayType(FloatType), nullable = true)
    def nc(c: Double, child: BoundReference = v, dim: Int = 2) =
      NearestCentroid(child, Array(1.0, c, 0.5, 0.25), Array(0.5, 0.1), dim)
    val (a, b) = (nc(2.0), nc(2.0))
    assert(a ne b)
    assert(a == b && a.hashCode == b.hashCode)
    assert(a.semanticEquals(b) && a.semanticHash() == b.semanticHash())
    for (other <- Seq(nc(3.0), nc(2.0, dim = 4),
        nc(2.0, child = BoundReference(1, ArrayType(FloatType), nullable = true)))) {
      assert(a != other && !a.semanticEquals(other), other)
    }
  }

  test("nearest_centroid fails fast on a wrong-dimension vector (r15 ADVICE)") {
    val m = IvfIndex.Model(Seq(Array(1.0, 0.0), Array(0.0, 1.0)))
    val ragged = Seq((1L, Seq(1.0f, 2.0f, 3.0f))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      ragged.select(IvfIndex.assignCluster(col("embedding"), m)).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("expected 2-dim vector")), e.toString)
  }

  test("deterministic: two trainings from the same data agree") {
    val emb = Tables.embeddings(spark, sf)
    val m1 = IvfIndex.train(emb, "vec_id", "embedding", k = 4, iterations = 2)
    val m2 = IvfIndex.train(emb, "vec_id", "embedding", k = 4, iterations = 2)
    assert(m1.centroids.map(_.toSeq) == m2.centroids.map(_.toSeq))
  }
}
