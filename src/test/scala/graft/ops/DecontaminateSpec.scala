package graft.ops

import graft.GraftSpark
import org.scalatest.funsuite.AnyFunSuite

class DecontaminateSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  import spark.implicits._

  private val filler = (1 to 30).map(i => s"w$i").mkString(" ")
  private lazy val train = Seq(
    (1L, s"the quick brown fox jumps $filler"),
    (2L, s"completely different training text here $filler")).toDF("doc_id", "text")
  private lazy val eval = Seq(
    (10L, "the quick brown fox sleeps all day in other words"), // shares "the quick brown" etc
    (11L, "nothing in common with anything at all whatsoever")).toDF("doc_id", "text")

  test("flags eval docs sharing grams with train; clean docs absent") {
    val c = Decontaminate.contaminated(train, eval, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c.contains(10L) && c(10L) >= 2)
    assert(!c.contains(11L))
  }

  test("hashed-gram fast path returns the same result as the string path") {
    val exact = Decontaminate.contaminated(train, eval, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hashed = Decontaminate.contaminated(train, eval, "doc_id", "text",
        hashGrams = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exact == hashed)
  }

  test("bloom-prefiltered path returns the same result as the plain path") {
    val exact = Decontaminate.contaminated(train, eval, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bloomed = Decontaminate.contaminatedBloom(train, eval, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exact == bloomed && bloomed.nonEmpty)
  }

  test("bloom path with an empty train split reports no contamination") {
    val emptyTrain = train.filter("doc_id < 0")
    assert(Decontaminate.contaminatedBloom(emptyTrain, eval, "doc_id", "text")
      .count() == 0L)
  }

  test("masking removes exactly the leaked spans, in order") {
    val tr = Seq(
      (1L, "aa bb cc dd ee ff gg hh"), // leak "cc dd ee" → tokens 3..5 drop
      (2L, "totally clean training text right here") // untouched
    ).toDF("doc_id", "text")
    val ev = Seq((10L, "xx cc dd ee yy zz qq")).toDF("doc_id", "text")
    val out = Decontaminate.maskContaminated(tr, ev, "doc_id", "text")
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect()
    assert(out === Array(
      (1L, "aa bb ff gg hh", 5L, 3L),
      (2L, "totally clean training text right here", 6L, 0L)))
  }

  test("overlapping and adjacent leaked grams merge into one masked span") {
    // eval contains "bb cc dd" AND "cc dd ee": occurrences at 2 and 3
    // cover positions 2..5 — union, not double-removal
    val tr = Seq((1L, "aa bb cc dd ee ff")).toDF("doc_id", "text")
    val ev = Seq((10L, "bb cc dd zz1 zz2 cc dd ee")).toDF("doc_id", "text")
    val out = Decontaminate.maskContaminated(tr, ev, "doc_id", "text")
      .as[(Long, String, Long, Long)].collect()
    assert(out === Array((1L, "aa ff", 2L, 4L)))
  }

  test("a fully-leaked doc survives as an empty row, not a dropped one") {
    val tr = Seq((1L, "pp qq rr")).toDF("doc_id", "text")
    val ev = Seq((10L, "pp qq rr tail words here")).toDF("doc_id", "text")
    val out = Decontaminate.maskContaminated(tr, ev, "doc_id", "text")
      .as[(Long, String, Long, Long)].collect()
    assert(out === Array((1L, "", 0L, 3L)))
  }

  test("masking leaves a disjoint corpus byte-identical") {
    val out = Decontaminate.maskContaminated(train,
        eval.filter("doc_id = 11"), "doc_id", "text")
      .orderBy("doc_id").select("clean_text").as[String].collect()
    assert(out === train.orderBy("doc_id").select("text").as[String].collect())
  }

  // seeded random corpus over a small vocabulary so gram overlap is
  // plentiful; exercises overlapping spans, clean docs, short docs, and
  // empty strings in one shot
  private def randomCorpus(seed: Int, n: Int) = {
    val rnd = new scala.util.Random(seed)
    val vocab = (1 to 12).map(i => s"t$i")
    (1 to n).map { i =>
      val len = rnd.nextInt(25) // 0..24 tokens: includes sub-shingle docs
      (i.toLong, (1 to len).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
  }

  test("shuffle reassembly is row-identical to the linear form (random corpora)") {
    for (seed <- Seq(7, 23)) {
      val tr = randomCorpus(seed, 60)
      val ev = randomCorpus(seed + 100, 20)
      val linear = Decontaminate.maskContaminated(tr, ev, "doc_id", "text")
        .orderBy("doc_id").as[(Long, String, Long, Long)].collect()
      val shuffle = Decontaminate.maskContaminated(tr, ev, "doc_id", "text",
          reassembly = "shuffle")
        .orderBy("doc_id").as[(Long, String, Long, Long)].collect()
      assert(shuffle === linear)
      assert(linear.exists(_._4 > 0), s"seed $seed corpus is vacuous")
    }
  }

  test("hashed-gram masking is row-identical to the string path (random corpora)") {
    for (seed <- Seq(13, 31)) {
      val tr = randomCorpus(seed, 60)
      val ev = randomCorpus(seed + 100, 20)
      val exact = Decontaminate.maskContaminated(tr, ev, "doc_id", "text")
        .orderBy("doc_id").as[(Long, String, Long, Long)].collect()
      val hashed = Decontaminate.maskContaminated(tr, ev, "doc_id", "text",
          hashGrams = true)
        .orderBy("doc_id").as[(Long, String, Long, Long)].collect()
      assert(hashed === exact)
      assert(exact.exists(_._4 > 0), s"seed $seed corpus is vacuous")
    }
  }

  test("hashed grams compose with the shuffle form") {
    val tr = randomCorpus(41, 40)
    val ev = randomCorpus(141, 15)
    val base = Decontaminate.maskContaminated(tr, ev, "doc_id", "text")
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect()
    val combo = Decontaminate.maskContaminated(tr, ev, "doc_id", "text",
        hashGrams = true, reassembly = "shuffle")
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect()
    assert(combo === base)
  }

  test("rejects an unknown reassembly form loudly") {
    intercept[IllegalArgumentException] {
      Decontaminate.maskContaminated(train, eval, "doc_id", "text",
        reassembly = "bogus")
    }
  }
}
