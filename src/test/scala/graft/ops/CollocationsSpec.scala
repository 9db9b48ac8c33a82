package graft.ops

import graft.GraftSpark
import org.scalatest.funsuite.AnyFunSuite

class CollocationsSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  import spark.implicits._

  test("pmiBigrams matches hand-computed counts and scores") {
    // corpus: "a b a b" and "a b c" and "c"
    //   unigrams: a=3 b=3 c=2           N = 8
    //   bigrams:  (a,b)=3 (b,a)=1 (b,c)=1   M = 5
    val docs = Seq("a b a b", "a b c", "c").toDF("text")
    val out = Collocations.pmiBigrams(docs, "text", minCount = 1L)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    def pmi(cab: Long, ca: Long, cb: Long): Double =
      BigDecimal(math.log(cab.toDouble * 8 * 8 / (5.0 * ca * cb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out == Set(
      ("a", "b", 3L, pmi(3, 3, 3)),
      ("b", "a", 1L, pmi(1, 3, 3)),
      ("b", "c", 1L, pmi(1, 3, 2))))
  }

  test("bigrams never cross document boundaries") {
    // "x" | "y" adjacent only if doc-internal — two 1-token docs produce
    // no bigrams at all
    val docs = Seq("x", "y").toDF("text")
    assert(Collocations.pmiBigrams(docs, "text", minCount = 1L).isEmpty)
  }

  test("minCount filters low-support pairs but totals still use all") {
    val docs = Seq("a b a b", "a b c", "c").toDF("text")
    val out = Collocations.pmiBigrams(docs, "text", minCount = 2L)
    val rows = out.collect()
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSet == Set(("a", "b")))
    // the (a,b) score is computed against the FULL N=8, M=5 totals
    val expected = BigDecimal(math.log(3.0 * 8 * 8 / (5.0 * 3 * 3)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(rows.head.getDouble(3) == expected)
  }

  test("independent words score ~0; attracted pairs score positive") {
    // "a b" always adjacent → strongly positive PMI; in a corpus where
    // every bigram is (a,b), pmi = ln(N^2 / (M * c_a * c_b))
    val docs = Seq.fill(10)("a b").toDF("text")
    val r = Collocations.pmiBigrams(docs, "text", minCount = 1L).collect().head
    // c_ab=10, N=20, M=10, c_a=c_b=10 → ln(10*400/(10*100)) = ln 4
    assert(r.getDouble(3) == BigDecimal(math.log(4.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }
}
