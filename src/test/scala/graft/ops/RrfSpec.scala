package graft.ops

import graft.GraftSpark
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Rrf]]'s contract: the candidate prefilter is the TopKPerKey
  * operator (bounded-heap partial per partition — the 100 TB shape),
  * candidates provably contain the fused top-N, and
  * [[Rrf.exactGlobalRank]] reconstructs EXACTLY the rank a corpus-wide
  * row_number window would assign — including ties — without one.
  */
class RrfSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark

  // 500 rows with heavy value ties (values 0..9) — the tie term must do
  // real work — and a second system anti-correlated with the first
  private def docs = spark.range(500).select(
    col("id").as("doc_id"),
    (col("id") % 10).as("va"),
    ((lit(499) - col("id")) % 7).as("vb"))

  test("candidates: union of per-system global top-R via TopKPerKey") {
    val cands = Rrf.candidates(docs, Seq("va", "vb"), r = 80, id = "doc_id")
    val plan = cands.queryExecution.sparkPlan
    val topks = plan.collect { case t: graft.plans.TopKPerKeyExec => t }
    assert(topks.size == 4, s"expected 2 partial+final pairs:\n$plan")
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.isEmpty, s"prefilter must not use a window:\n$plan")
    val n = cands.count()
    assert(n >= 80 && n <= 160, s"union of two top-80 lists, got $n")
  }

  test("exactGlobalRank == corpus row_number ranks, ties included") {
    val cands = Rrf.candidates(docs, Seq("va", "vb"), r = 80, id = "doc_id")
      .localCheckpoint(eager = true)
    val got = Rrf.exactGlobalRank(docs, cands, "va", "rank_a")
      .join(Rrf.exactGlobalRank(docs, cands, "vb", "rank_b"), Seq("doc_id"))
    val want = docs
      .withColumn("rank_a", row_number().over(
        Window.orderBy(col("va").desc, col("doc_id").asc)).cast("long"))
      .withColumn("rank_b", row_number().over(
        Window.orderBy(col("vb").desc, col("doc_id").asc)).cast("long"))
      .join(cands.select("doc_id"), Seq("doc_id"))
      .select("doc_id", "rank_a", "rank_b")
    val g = got.orderBy("doc_id").collect().map(_.toString).toSeq
    val w = want.orderBy("doc_id").collect().map(_.toString).toSeq
    assert(g == w, s"rank mismatch:\n${g.zip(w).filter(p => p._1 != p._2).take(5)}")
  }

  test("fused top-10 from candidates == fused top-10 from the full corpus") {
    // the R-sufficiency bound end-to-end: R=80, S=2, k=60, N=10
    val cands = Rrf.candidates(docs, Seq("va", "vb"), r = 80, id = "doc_id")
      .localCheckpoint(eager = true)
    def fuse(ranks: org.apache.spark.sql.DataFrame) = ranks
      .withColumn("rrf", expr("1000000000000 div (60 + rank_a)")
        + expr("1000000000000 div (60 + rank_b)"))
      .withColumn("fr", row_number().over(
        Window.orderBy(col("rrf").desc, col("doc_id").asc)))
      .filter(col("fr") <= 10).select("fr", "doc_id", "rrf")
    val fromCands = fuse(
      Rrf.exactGlobalRank(docs, cands, "va", "rank_a")
        .join(Rrf.exactGlobalRank(docs, cands, "vb", "rank_b"), Seq("doc_id")))
    val fromCorpus = fuse(docs
      .withColumn("rank_a", row_number().over(
        Window.orderBy(col("va").desc, col("doc_id").asc)).cast("long"))
      .withColumn("rank_b", row_number().over(
        Window.orderBy(col("vb").desc, col("doc_id").asc)).cast("long")))
    assert(fromCands.collect().map(_.toString).toSeq ==
      fromCorpus.collect().map(_.toString).toSeq)
  }

  test("exactGlobalRank fails fast on a continuous score; quantized grid passes") {
    // r14 verdict #3: the rank frame is DISTINCT-VALUE-sized — tiny for
    // integer scores, corpus-sized for continuous doubles. The guard must
    // refuse the degenerate case instead of silently planning a
    // corpus-wide unpartitioned window + broadcast.
    val cont = spark.range(500).select(col("id").as("doc_id"),
      (col("id").cast("double") / 7.0).as("score")) // 500 distinct doubles
    val cands = Rrf.candidates(cont, Seq("score"), r = 30, id = "doc_id")
      .localCheckpoint(eager = true)
    val e = intercept[IllegalArgumentException] {
      Rrf.exactGlobalRank(cont, cands, "score", "rank_s",
        maxDistinctValues = 100L)
    }
    assert(e.getMessage.contains("distinct values") &&
      e.getMessage.contains("Quantize"))
    // the documented escape hatch: floor onto an integer grid first —
    // bounded frame, and on a collision-free grid the ranks are EXACT
    val q = cont.withColumn("score_q",
      floor(col("score") * lit(1000000.0)).cast("long"))
    val qcands = Rrf.candidates(q, Seq("score_q"), r = 30, id = "doc_id")
      .localCheckpoint(eager = true)
    val got = Rrf.exactGlobalRank(q, qcands, "score_q", "rank_s",
        maxDistinctValues = 1000L)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    val want = q
      .withColumn("rank_s", row_number().over(
        Window.orderBy(col("score_q").desc, col("doc_id").asc)).cast("long"))
      .join(qcands.select("doc_id"), Seq("doc_id"))
      .select("doc_id", "rank_s")
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(got.nonEmpty && got == want)
  }

  test("globalTopR matches orderBy.limit") {
    val got = Rrf.globalTopR(docs, Seq(col("va") -> false, col("doc_id") -> true), 25)
      .orderBy(col("va").desc, col("doc_id").asc).collect().map(_.toString).toSeq
    val want = docs.orderBy(col("va").desc, col("doc_id").asc).limit(25)
      .collect().map(_.toString).toSeq
    assert(got == want)
  }
}
