package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** [[Probe]]: argument and conf validation before any session exists,
  * the final-plan digest, and every mode run once on the shared session.
  */
class ProbeSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  private val sf = "/root/testdata/sf0.001"
  private val a = "q13_range_filter"
  private val b = "q01_pricing_summary"

  private def rejected(args: String*): String =
    intercept[IllegalArgumentException](Probe.parse(args)).getMessage

  private def runLines(cmd: Probe.Command): Seq[String] = {
    val lines = collection.mutable.ArrayBuffer.empty[String]
    Probe.run(spark, sf, cmd, lines += _)
    lines.toSeq
  }

  private def json(line: String): JsonNode = new ObjectMapper().readTree(line)

  /** `forks=N`, with the count per command when N > 0. */
  private val forksField = "forks=(0|\\d+\\([^:,()\\s]+:\\d+(,[^:,()\\s]+:\\d+)*\\))"

  test("parse rejects a bad mode, query or round count with a usage line") {
    val cases = Seq(
      Seq() -> "missing mode",
      Seq("bogus") -> "unknown mode: bogus",
      Seq("ab", a) -> "wrong number of arguments for ab",
      Seq("plan", a, "2", "3") -> "wrong number of arguments for plan",
      Seq("plan", "q_nope") -> "unknown catalog query: q_nope",
      Seq("ab", a, "q_nope") -> "unknown catalog query: q_nope",
      Seq("explain", a, "q_nope") -> "unknown catalog query: q_nope",
      Seq("time", a, "abc") -> "unknown catalog query: abc",
      Seq("ab", a, b, "0") -> "rounds must be a positive integer: 0",
      Seq("ab", a, b, "x") -> "rounds must be a positive integer: x",
      Seq("plan", a, "1.5") -> "rounds must be a positive integer: 1.5",
      Seq("time", a, "-2") -> "rounds must be a positive integer: -2",
      Seq("scale", "4") -> "wrong number of arguments for scale",
      Seq("scale", "0", "/tmp/x") -> "K must be a positive integer: 0",
      Seq("scale", "2.5", "/tmp/x") -> "K must be a positive integer: 2.5")
    cases.foreach { case (args, msg) =>
      val m = rejected(args: _*)
      assert(m.startsWith(msg) && m.endsWith(Probe.usage), s"$args -> $m")
    }
  }

  test("parse fills defaults and splits a trailing round count") {
    assert(Probe.parse(Seq("ab", a, b)) == Probe.Ab(a, b, 7))
    assert(Probe.parse(Seq("ab", a, b, "3")) == Probe.Ab(a, b, 3))
    assert(Probe.parse(Seq("plan", a)) == Probe.Plan(a, 3))
    assert(Probe.parse(Seq("time")) == Probe.Time(Probe.heavyTier, 3))
    assert(Probe.parse(Seq("time", "5")) == Probe.Time(Probe.heavyTier, 5))
    assert(Probe.parse(Seq("time", a, b, "2")) == Probe.Time(Seq(a, b), 2))
    assert(Probe.parse(Seq("explain")) == Probe.Explain(SparkEntry.benchQueries))
    assert(Probe.parse(Seq("scale", "4", "/tmp/x")) == Probe.Scale(4, "/tmp/x"))
    Probe.heavyTier.foreach(q => assert(SparkEntry.queries.contains(q), q))
  }

  test("SPARK_GRAFT_EXTRA_CONFS splits on ';' only and names a malformed entry") {
    assert(Probe.extraConfs("") == Nil)
    assert(Probe.extraConfs(" a.b=1 ; c=x=y,z ;;") == Seq("a.b" -> "1", "c" -> "x=y,z"))
    val noEq = intercept[IllegalArgumentException](Probe.extraConfs("a=1;spark.oops"))
    assert(noEq.getMessage.contains("'spark.oops'"), noEq.getMessage)
    val noKey = intercept[IllegalArgumentException](Probe.extraConfs(" =v"))
    assert(noKey.getMessage.contains("'=v'"), noKey.getMessage)
  }

  test("ab's paired delta is a signed upper median") {
    assert(Probe.pairedDelta(Seq((1.0, 3.0), (2.0, 2.5), (1.0, 1.2))) == -0.5)
    assert(Probe.pairedDelta(Seq((0.5, 0.25), (3.0, 1.0))) == 2.0)
  }

  test("time judges anchors by Bench's rule: 1.5x the minimum with a 0.25 s grace") {
    assert(!Probe.anchorBad(0.30, 0.056)) // within the absolute grace
    assert(Probe.anchorBad(0.31, 0.056))
    assert(!Probe.anchorBad(1.5, 1.0))
    assert(Probe.anchorBad(1.51, 1.0))
  }

  test("plan digest counts the final AQE plan: a join demoted from SMJ to BHJ") {
    val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      // both sides estimate ~8 KB, so the static plan is a sort-merge join;
      // at runtime the filtered side shuffles 3 rows and AQE broadcasts it
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1000")
      val left = spark.range(0, 1000).select(col("id").as("k"))
      val right = spark.range(0, 1000).filter(col("id") < 3).select(col("id").as("k2"))
      val df = left.join(right, col("k") === col("k2"))
      assert(df.collect().length == 3)
      val plan = df.queryExecution.executedPlan
      assert(plan.toString.contains("SortMergeJoin"), "initial plan should be SMJ")
      val d = Probe.digest(plan)
      assert(d.startsWith("BHJ=1 SMJ=0 SHJ=0 "), d)
    } finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("every mode runs once on the shared session, which stays usable") {
    val abLine = json(runLines(Probe.Ab(a, b, 1)).last)
    assert(abLine.get("probe").asText == "ab")
    Seq("a" -> a, "b" -> b).foreach { case (slot, q) =>
      val s = abLine.get(slot)
      assert(s.get("query").asText == q)
      assert(s.get("median").asDouble > 0 && s.get("samples").size == 1)
    }
    // one round: the paired delta is a's sample minus b's, sign kept
    val delta = abLine.get("a").get("samples").get(0).asDouble -
      abLine.get("b").get("samples").get(0).asDouble
    assert(math.abs(abLine.get("paired_delta_median").asDouble - delta) < 0.002, abLine)
    assert(Set(a, b).contains(abLine.get("faster").asText))

    val time = runLines(Probe.Time(Seq(a), 1))
    assert(time.count(_.startsWith(s"[time] $a round 1: build=")) == 1, time)
    // the round after the warm-up compiles nothing: its classes are cached
    assert(time.exists(_.matches(s"\\[time\\] $a round 1: .* compiles=0")), time)
    assert(time.exists(_.matches(s"\\[time\\] $a round 1: .* $forksField compiles=0")), time)
    val t = json(time.last)
    assert(t.get("probe").asText == "time" && t.get("anchor").get("min").asDouble > 0)
    val tq = t.get("queries").get(a)
    Seq("median", "min", "build", "plan", "exec").foreach(f => assert(tq.has(f), f))
    assert(tq.get("samples").size == 1)
    val sample = tq.get("samples").get(0) // [sec, anchor, clean, compiles]
    assert(sample.size == 4 && sample.get(3).asText == "0", sample)

    // q253 checkpoints its k-core rounds eagerly: each is its own execution
    val q = "q253_kcore"
    val plan = runLines(Probe.Plan(q, 1))
    val head = plan.find(_.startsWith(s"[plan] $q round 1 sec=")).get
    assert(head.matches(".* compiles=\\d+ executions=\\d+"), head)
    assert(head.matches(s".* $forksField compiles=.*"), head)
    val n = "executions=(\\d+)".r.findFirstMatchIn(head).get.group(1).toInt
    assert(n >= 2, s"expected nested executions: $head")
    val execs = plan.filter(_.startsWith(s"[plan] $q round 1 exec "))
    assert(execs.size == n, plan)
    execs.foreach(l => assert(l.matches(".* durationNs=\\d+ BHJ=\\d+ SMJ=\\d+ .*"), l))

    // a stream runs its micro-batches in clones of the session: the tap
    // hears them, and each batch prints its trigger phases
    val sq = "q184_stream_hll"
    val splan = runLines(Probe.Plan(sq, 1))
    val shead = splan.find(_.startsWith(s"[plan] $sq round 1 sec=")).get
    assert("executions=(\\d+)".r.findFirstMatchIn(shead).get.group(1).toInt > 0, shead)
    assert(shead.matches(s".* $forksField compiles=.*"), shead)
    val batches = splan.filter(_.startsWith(s"[plan] $sq round 1 batch "))
    assert(batches.nonEmpty, splan)
    batches.foreach(l => assert(l.matches(".* trigger=\\d+ addBatch=\\d+ latestOffset=\\d+ " +
      "queryPlanning=\\d+ walCommit=\\d+ commitOffsets=\\d+ .*"), l))

    val explain = runLines(Probe.Explain(Seq(b)))
    assert(explain.head.contains(s"== $b ==") && explain(1).contains("== Physical Plan =="))

    val tmp = java.nio.file.Files.createTempDirectory("graft-probe-scale")
    try {
      val scale = json(runLines(Probe.Scale(2, tmp.toString)).last)
      assert(scale.get("probe").asText == "scale" && scale.get("k").asInt == 2, scale)
      def tables(dir: java.nio.file.Path) = dir.toFile.list().toSet
      assert(tables(tmp) == tables(java.nio.file.Paths.get(sf)))
    } finally graft.queries.Catalog.deleteTree(tmp)

    assert(spark.range(5).count() == 5)
  }
}
