package graft.functions

import graft.GraftSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TextFunctionsSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column, text: String): Any =
    Seq(text).toDF("t").select(c).head().get(0)

  test("tokenCount splits on whitespace runs") {
    assert(one(TextFunctions.tokenCount(col("t")), "a  b\tc\nd") == 4L)
  }

  test("shingles builds word 3-grams; short text degrades to one shingle") {
    assert(one(TextFunctions.shingles(col("t"), 3), "a b c d") ==
      Seq("a b c", "b c d"))
    assert(one(TextFunctions.shingles(col("t"), 3), "a b") == Seq("a b"))
  }

  test("bigrams/trigrams: adjacent n-grams; sub-n docs yield EMPTY, never an error") {
    // ADVICE r14: the unclamped slice(toks, 1, size-2) form threw
    // "length must be >= 0" on any document under n tokens — every
    // n-gram consumer (q316/q326/q405/q417/q420) now routes through
    // these clamped helpers, so short/empty docs must be a no-op
    val toks = TextFunctions.tokens(col("t"))
    assert(one(TextFunctions.bigramsOfTokens(toks), "a b c d") ==
      Seq("a b", "b c", "c d"))
    assert(one(TextFunctions.trigramsOfTokens(toks), "a b c d") ==
      Seq("a b c", "b c d"))
    for (short <- Seq("", " ", "solo")) {
      assert(one(TextFunctions.bigramsOfTokens(toks), short) == Seq(),
        s"bigrams of '$short'")
      assert(one(TextFunctions.trigramsOfTokens(toks), short) == Seq(),
        s"trigrams of '$short'")
    }
    assert(one(TextFunctions.bigramsOfTokens(toks), "a b") == Seq("a b"))
    assert(one(TextFunctions.trigramsOfTokens(toks), "a b") == Seq())
  }

  test("fingerprint is whitespace-normalized (same md5 for respaced text)") {
    val a = one(TextFunctions.fingerprint(col("t")), "hello   world")
    val b = one(TextFunctions.fingerprint(col("t")), "hello world")
    assert(a == b)
  }

  test("stopword/punct ratios and quality score are in range") {
    val stops = TextFunctions.langMarkers("en")
    val q = one(TextFunctions.qualityScore(col("t"), stops),
      "the cat sat on the mat and it is a fine day in town")
    assert(q.asInstanceOf[Double] > 0.0 && q.asInstanceOf[Double] <= 1.0)
    assert(one(TextFunctions.punctRatio(col("t")), "ab,.") == 0.5)
  }

  test("langId picks the language with most marker hits; und when none") {
    assert(one(TextFunctions.langId(col("t")), "der hund und die katze ist da") == "de")
    assert(one(TextFunctions.langId(col("t")), "el perro y la casa de que") == "es")
    assert(one(TextFunctions.langId(col("t")), "zzz qqq xxx") == "und")
  }
}

class VectorFunctionsSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  import spark.implicits._

  private val df = Seq(
    (1L, Array(1.0f, 0.0f), Array(0.0f, 1.0f)),
    (2L, Array(3.0f, 4.0f), Array(3.0f, 4.0f))).toDF("id", "a", "b")

  test("dot, norm, cosine, sqDist") {
    val r = df.select(
      VectorFunctions.dot(col("a"), col("b")).as("dot"),
      VectorFunctions.norm(col("a")).as("norm"),
      VectorFunctions.cosine(col("a"), col("b")).as("cos"),
      VectorFunctions.sqDist(col("a"), col("b")).as("d2"))
      .collect()
    assert(r(0).getAs[Double]("dot") == 0.0)
    assert(r(0).getAs[Double]("cos") == 0.0)
    assert(r(0).getAs[Double]("d2") == 2.0)
    assert(r(1).getAs[Double]("norm") == 5.0)
    assert(math.abs(r(1).getAs[Double]("cos") - 1.0) < 1e-12)
  }

  test("native VecDot is bit-identical to the higher-order formulation") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001").limit(100)
    val diff = emb.select(
      VectorFunctions.dot(col("embedding"), col("embedding")).as("native"),
      VectorFunctions.dotHof(col("embedding"), col("embedding")).as("hof"))
      .filter(!(col("native") <=> col("hof")))
    assert(diff.count() == 0)
  }

  test("VecDot null semantics: length mismatch and null element yield null") {
    val d = Seq((Array(1.0f, 2.0f), Array(1.0f))).toDF("a", "b")
    assert(d.select(VectorFunctions.dot(col("a"), col("b"))).head().isNullAt(0))
    val withNull = Seq((Seq(Some(1.0f), None), Seq(Some(1.0f), Some(2.0f))))
      .toDF("a", "b")
    assert(withNull.select(VectorFunctions.dot(col("a"), col("b"))).head().isNullAt(0))
  }

  test("vec_dot is callable from SQL text after registration") {
    graft.functions.expressions.VectorExpressions.register(spark)
    val r = spark.sql("SELECT vec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d")
    assert(r.head().getDouble(0) == 11.0)
  }

  test("hyperplane signature: identical vectors share buckets, stable across rows") {
    val planes = VectorFunctions.makePlanes(8, 2, seed = 7)
    val sig = df.select(
      VectorFunctions.hyperplaneSignature(col("a"), planes).as("sa"),
      VectorFunctions.hyperplaneSignature(col("b"), planes).as("sb")).collect()
    assert(sig(1).getLong(0) == sig(1).getLong(1)) // a == b for row 2
    assert(sig(0).getLong(0) >= 0 && sig(0).getLong(0) < 256)
  }
}

class VectorAggregatesSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  import spark.implicits._

  test("VectorMean computes element-wise means per group in one pass") {
    val df = Seq(
      ("a", Array(1.0f, 2.0f)), ("a", Array(3.0f, 4.0f)),
      ("b", Array(10.0f, 20.0f)))
      .toDF("k", "v")
    val m = df.groupBy("k")
      .agg(graft.functions.VectorAggregates.vectorMean(col("v")).as("mean"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(m("a") == Seq(2.0, 3.0))
    assert(m("b") == Seq(10.0, 20.0))
  }
}

class AqiSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  import spark.implicits._

  private def aqiOf(v: java.lang.Double): Any =
    Seq(Option(v).map(_.doubleValue)).toDF("c")
      .select(Aqi.pm25Aqi(col("c"))).head().get(0)

  test("EPA pm25 breakpoints interpolate correctly") {
    assert(aqiOf(0.0) == 0.0)
    assert(aqiOf(12.0) == 50.0)       // top of Good
    assert(aqiOf(35.5) == 101.0)      // bottom of USG band
    assert(aqiOf(150.5) == 201.0)
    assert(aqiOf(23.75) == 76.0)      // mid Moderate ≈ 75.5 → rounds half-up
  }

  test("nulls and negatives yield null; >500.4 extrapolates uncapped") {
    assert(aqiOf(null) == null)
    assert(aqiOf(-1.0) == null)
    assert(aqiOf(600.0).asInstanceOf[Double] > 500.0)
  }

  test("UDF formulation agrees with the Column-expression AQI") {
    val vals = Seq(0.0, 5.3, 12.0, 23.75, 35.5, 100.0, 250.6, 600.0).toDF("c")
    val diff = vals.select(
      Aqi.pm25Aqi(col("c")).as("expr"),
      Aqi.pm25AqiUdf(col("c")).as("udf"))
      .filter(!(col("expr") <=> col("udf")))
    assert(diff.count() == 0)
  }

  test("aqiLevel buckets and dominantPollutant argmax") {
    val df = Seq((40.0, 80.0)).toDF("pm25", "pm10")
    val sub25 = Aqi.pm25Aqi(col("pm25"))
    val sub10 = Aqi.pm10Aqi(col("pm10"))
    val r = df.select(
      Aqi.overallAqi(sub25, sub10).as("aqi"),
      Aqi.dominantPollutant(Seq("pm25" -> sub25, "pm10" -> sub10)).as("dom"),
      Aqi.aqiLevel(Aqi.overallAqi(sub25, sub10)).as("level")).head()
    // pm25 40 → AQI ~112; pm10 80 → AQI ~63 ⇒ pm25 dominates
    assert(r.getAs[Double]("aqi") > 100.0)
    assert(r.getAs[String]("dom") == "pm25")
    assert(r.getAs[String]("level") == "Unhealthy for Sensitive Groups")
  }

}

class NfcNormalizeSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  import spark.implicits._

  test("nfc_normalize composes decomposed sequences; identity on normalized text") {
    import graft.functions.expressions.NfcNormalize
    val decomposed = "cafe\u0301" // e + combining acute
    val composed = "caf\u00e9"   // precomposed e-acute
    val df = Seq((1L, decomposed), (2L, composed), (3L, "plain ascii"))
      .toDF("id", "s")
    val out = df.select(col("id"), NfcNormalize.nfcNormalize(col("s")).as("n"),
        length(col("s")).as("raw_len"), length(NfcNormalize.nfcNormalize(col("s"))).as("norm_len"))
      .collect().sortBy(_.getLong(0))
    assert(out(0).getAs[String]("n") == composed) // composed form wins
    assert(out(0).getAs[Int]("raw_len") == 5 && out(0).getAs[Int]("norm_len") == 4)
    assert(out(1).getAs[String]("n") == composed) // already normal: identity
    assert(out(2).getAs[String]("n") == "plain ascii")
    // dedup consequence: the two spellings fingerprint identically AFTER
    // normalization and differently before
    assert(decomposed != composed)
  }
}
