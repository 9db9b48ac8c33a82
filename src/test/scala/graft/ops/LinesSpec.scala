package graft.ops

import graft.GraftSpark
import org.scalatest.funsuite.AnyFunSuite

class LinesSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "SUBSCRIBE\nalpha beta\nfooter"),
    (2L, "SUBSCRIBE\ngamma delta\nfooter"),
    (3L, "SUBSCRIBE\nunique line three\nfooter"),
    (4L, "SUBSCRIBE\nfooter"), // every line boilerplate → empty clean_text
    (5L, "only unique content here")
  ).toDF("doc_id", "text")

  test("removes exactly the lines shared by >= minDocs docs, keeps order") {
    val out = Lines.removeFrequentLines(docs, "doc_id", "text", minDocs = 2)
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect()
    assert(out === Array(
      (1L, "alpha beta", 1L, 2L),
      (2L, "gamma delta", 1L, 2L),
      (3L, "unique line three", 1L, 2L),
      (4L, "", 0L, 2L), // fully-boilerplate doc survives as a row
      (5L, "only unique content here", 1L, 0L)))
  }

  test("minDocs above every line's reach removes nothing") {
    val out = Lines.removeFrequentLines(docs, "doc_id", "text", minDocs = 10)
      .orderBy("doc_id").select("clean_text").as[String].collect()
    assert(out === docs.orderBy("doc_id").select("text").as[String].collect())
  }

  test("frequency counts distinct docs, not occurrences") {
    // 'dup' appears twice in ONE doc — must not count as 2 docs
    val d = Seq((1L, "dup\ndup\nown"), (2L, "other")).toDF("doc_id", "text")
    val freq = Lines.frequentLines(d, "doc_id", "text", minDocs = 2)
    assert(freq.count() === 0)
    val out = Lines.removeFrequentLines(d, "doc_id", "text", minDocs = 2)
      .orderBy("doc_id").select("clean_text").as[String].collect()
    assert(out === Array("dup\ndup\nown", "other"))
  }

  test("multi-line order is preserved across many lines and partitions") {
    val n = 40
    val text = (1 to n).map(i => s"line $i").mkString("\n")
    val d = (1L to 6L).map(id => (id, s"BANNER\n$text")).toDF("doc_id", "text")
      .repartition(5)
    val out = Lines.removeFrequentLines(d, "doc_id", "text", minDocs = 2)
    // BANNER removed everywhere, the 40 unique-per-corpus lines... are
    // shared across docs too (same text) — so everything frequent: all gone
    assert(out.select("clean_text").as[String].collect().forall(_ == ""))
    // distinct texts → only the banner is frequent
    val d2 = (1L to 6L).map(id => (id, s"BANNER\ndoc $id body\n$text line-$id"))
      .toDF("doc_id", "text").repartition(5)
    val out2 = Lines.removeFrequentLines(d2, "doc_id", "text", minDocs = 2)
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect()
    assert(out2.forall { case (id, clean, kept, removed) =>
      clean.startsWith(s"doc $id body") && removed >= 1L && kept >= 1L
    })
  }

  test("rejects minDocs < 2") {
    intercept[IllegalArgumentException] {
      Lines.removeFrequentLines(docs, "doc_id", "text", minDocs = 1)
    }
  }

  test("property: matches a serial reference on random corpora") {
    val rnd = new scala.util.Random(17)
    for (trial <- 1 to 5) {
      val vocab = (1 to 12).map(i => s"line-$i") // small vocab → real repeats
      val corpus = (1L to 60L).map { id =>
        val n = 1 + rnd.nextInt(6)
        id -> Seq.fill(n)(vocab(rnd.nextInt(vocab.size)))
      }
      val minDocs = 2 + rnd.nextInt(4)
      // serial reference
      val docFreq = corpus.flatMap { case (id, ls) => ls.distinct.map(_ -> id) }
        .groupBy(_._1).map { case (l, xs) => l -> xs.map(_._2).distinct.size }
      val frequent = docFreq.filter(_._2 >= minDocs).keySet
      val expected = corpus.map { case (id, ls) =>
        val kept = ls.filterNot(frequent)
        (id, kept.mkString("\n"), kept.size.toLong, (ls.size - kept.size).toLong)
      }
      // distributed
      val df = corpus.map { case (id, ls) => (id, ls.mkString("\n")) }
        .toDF("doc_id", "text").repartition(1 + rnd.nextInt(7))
      val got = Lines.removeFrequentLines(df, "doc_id", "text", minDocs)
        .orderBy("doc_id").as[(Long, String, Long, Long)].collect().toSeq
      assert(got === expected, s"trial $trial (minDocs=$minDocs)")
    }
  }
}
