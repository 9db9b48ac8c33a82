package graft

import java.nio.file.{Files, Path, Paths}

import graft.queries.Catalog
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** [[ScaleData.replicate]]'s contract on one K=4 replication of sf0.001:
  * K-fold rows, keys and joins; preserved duplicate structure in text and
  * embeddings; no cross-copy embedding twins; and guards that fire by name
  * before anything is written.
  */
class ScaleDataSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = GraftSpark.spark

  private val base = "/root/testdata/sf0.001"
  private val k = 4
  private val root = Files.createTempDirectory("graft-scaledata")
  private def tempDir(): Path = Files.createTempDirectory(root, "d")

  private lazy val (out, strides) = {
    val dir = tempDir().toString
    (dir, ScaleData.replicate(spark, base, k, dir).toMap)
  }

  override def afterAll(): Unit = Catalog.deleteTree(root)

  private def src(t: String): DataFrame = Tables.load(spark, base, t)
  private def rep(t: String): DataFrame = Tables.load(spark, out, t)

  test("every table keeps its columns; rows grow K-fold, region and nation once") {
    Tables.names.foreach { t =>
      def cols(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)
      assert(cols(rep(t)) == cols(src(t)), t)
      val times = if (t == "region" || t == "nation") 1 else k
      assert(rep(t).count() == times * src(t).count(), t)
    }
  }

  test("every shifted key's distinct count grows K-fold") {
    val keys = ScaleData.domains.flatMap(_._2)
    Tables.names.foreach { t =>
      src(t).columns.filter(keys.contains).foreach { c =>
        def distinct(df: DataFrame) = df.select(c).distinct().count()
        assert(distinct(rep(t)) == k * distinct(src(t)), s"$t.$c")
      }
    }
  }

  test("key joins match K-fold rows: no copy joins another") {
    Seq(("orders", "lineitem", "o_orderkey", "l_orderkey"),
        ("lineitem", "part", "l_partkey", "p_partkey"),
        ("lineitem", "supplier", "l_suppkey", "s_suppkey"),
        ("orders", "customer", "o_custkey", "c_custkey")).foreach { case (l, r, lk, rk) =>
      // the semi join catches a copy that matches nothing while another matches K-fold
      Seq("inner", "left_semi").foreach { how =>
        def joined(load: String => DataFrame) = load(l).join(load(r), col(lk) === col(rk), how).count()
        assert(joined(rep) == k * joined(src), s"$l.$lk = $r.$rk ($how)")
      }
    }
  }

  test("documents: duplicate-text groups survive per copy and n_chars is the new length") {
    def distinctText(df: DataFrame) = df.select("text").distinct().count()
    assert(distinctText(rep("documents")) == k * distinctText(src("documents")))
    assert(rep("documents").filter(col("n_chars") =!= char_length(col("text"))).count() == 0)
  }

  test("embeddings: within-copy cosines are exact, no cross-copy twin at >= 0.95") {
    def unit(df: DataFrame): Seq[(Long, Array[Double])] =
      df.select("vec_id", "embedding").collect().toSeq.map { r =>
        val v = r.getSeq[Float](1).map(_.toDouble).toArray
        val n = math.sqrt(v.map(x => x * x).sum)
        r.getLong(0) -> v.map(_ / n)
      }
    // every pair's cosine: sorted per copy when both ends share one, else its max
    def cosines(vs: Seq[(Long, Array[Double])], stride: Long): (Map[Long, Seq[Double]], Double) = {
      val within = collection.mutable.Map.empty[Long, collection.mutable.ArrayBuffer[Double]]
      var crossMax = -1.0
      for (i <- vs.indices; j <- i + 1 until vs.size) {
        val ((ia, a), (ib, b)) = (vs(i), vs(j))
        var dot = 0.0
        var d = 0
        while (d < a.length) { dot += a(d) * b(d); d += 1 }
        if (ia / stride == ib / stride) within.getOrElseUpdate(ia / stride, collection.mutable.ArrayBuffer.empty) += dot
        else crossMax = math.max(crossMax, dot)
      }
      (within.view.mapValues(_.sorted.toSeq).toMap, crossMax)
    }
    val stride = strides("vec_id")
    val (base, _) = cosines(unit(src("embeddings")), stride)
    val (within, crossMax) = cosines(unit(rep("embeddings")), stride)
    def twins(cs: Iterable[Seq[Double]]) = cs.map(_.count(_ >= 0.95)).sum
    info(f"max cross-copy cosine $crossMax%.3f; base twins ${twins(base.values)}")
    assert(crossMax < 0.95)
    assert(within.keySet == (0L until k).toSet && within.values.forall(_ == base(0L)))
    assert(twins(within.values) == k * twins(base.values))
  }

  test("each guard throws by name before anything is written") {
    // a source dir whose one table has its ids lifted by `lift`
    def lifted(table: String, key: String, lift: Long): String = {
      val dir = tempDir()
      Tables.names.filter(_ != table).foreach(t =>
        Files.createSymbolicLink(dir.resolve(s"$t.parquet"), Paths.get(base, s"$t.parquet")))
      src(table).withColumn(key, col(key) + lift).write.parquet(dir.resolve(s"$table.parquet").toString)
      dir.toString
    }
    Seq((base, 0, "scale factor K"), (base, 65, "embedding: K=65"),
        (lifted("documents", "doc_id", 60000L), 2, "doc_id: K=2"),
        (lifted("embeddings", "vec_id", 60000L), 2, "vec_id: K=2"),
        (lifted("part", "p_partkey", -1000L), 2, "partkey: a negative key")).foreach {
      case (from, kk, name) =>
        val dir = tempDir()
        val e = intercept[IllegalArgumentException](ScaleData.replicate(spark, from, kk, dir.toString))
        assert(e.getMessage.contains(name), e.getMessage)
        assert(dir.toFile.list().isEmpty, s"$name: wrote before throwing")
    }
  }
}
