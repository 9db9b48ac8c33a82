package graft

import java.nio.file.Files
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

import scala.jdk.CollectionConverters._

import org.apache.spark.executor.TaskMetrics
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, GraftInternal, SparkSession}
import org.apache.spark.sql.execution.{ExplainMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.functions.{col, max, xxhash64}

import graft.queries.Catalog

/** Measurement probe over the SHIPPED catalog queries: every mode reaches
  * them through [[SparkEntry.queries]] only, never a hand copy.
  *
  *  - `ab <qA> <qB> [rounds]`: both queries in one JVM, interleaved, first
  *    slot alternating per round; the median PAIRED delta (a - b) isolates
  *    the code effect from host drift, which hits both slots alike.
  *  - `time [queries...] [rounds]`: build / plan / execute, the classes
  *    compiled and the processes started ([[Forks]]) per sample, with
  *    Bench's pure-CPU anchor after every sample.
  *    No queries = the heavy tier, so the scale side-board is
  *    `Probe scale 4 <dir>`, then `SPARK_GRAFT_SF_DIR=<dir> Probe time`.
  *  - `plan <q> [rounds]`: task totals, classes compiled and processes
  *    started per round, one line per stream micro-batch with its trigger
  *    phases in ms, then one line per execution of any session (eager
  *    checkpoints and a stream's micro-batches run as their own) with its
  *    durationNs and final-plan digest; the last round's plans go to
  *    target/probe_plan/.
  *  - `explain [queries...]`: formatted physical plans (default: bench subset).
  *  - `scale <k> <outDir>`: writes the sf-dir replicated k times under
  *    outDir through [[ScaleData.replicate]] and prints its key strides.
  *
  * `sbt "runMain graft.Probe <mode> ..."` reads SPARK_GRAFT_SF_DIR and
  * SPARK_GRAFT_CPUS with Bench's defaults, and SPARK_GRAFT_EXTRA_CONFS
  * (`key=value;key=value`) for extra session confs.
  */
object Probe {

  val usage: String = "usage: Probe ab <qA> <qB> [rounds] | time [queries...] [rounds]" +
    " | plan <query> [rounds] | explain [queries...] | scale <k> <outDir>"

  sealed trait Command
  final case class Ab(a: String, b: String, rounds: Int) extends Command
  final case class Time(queries: Seq[String], rounds: Int) extends Command
  final case class Plan(query: String, rounds: Int) extends Command
  final case class Explain(queries: Seq[String]) extends Command
  final case class Scale(k: Int, outDir: String) extends Command

  /** The >= 2 s tier at sf0.1: what `time` runs when no query is named. */
  val heavyTier: Seq[String] = Seq("q306_item_cf_recs", "q286_semantic_dedup",
    "q253_kcore", "q193_cheapest_path", "q175_triangle_census",
    "q173_paragraph_dedup", "q101_mask_contaminated")

  /** Validates the command line before any session exists; every
    * rejection is an IllegalArgumentException that ends in [[usage]].
    */
  def parse(args: Seq[String]): Command = {
    def fail(msg: String): Nothing = throw new IllegalArgumentException(s"$msg\n$usage")
    val catalog = SparkEntry.queries.keySet
    def query(n: String): String = if (catalog.contains(n)) n else fail(s"unknown catalog query: $n")
    def positive(what: String)(s: String): Int =
      s.toIntOption.filter(_ > 0).getOrElse(fail(s"$what must be a positive integer: $s"))
    val rounds = positive("rounds") _
    args match {
      case Seq("ab", a, b, r @ _*) if r.size <= 1 =>
        Ab(query(a), query(b), r.headOption.map(rounds).getOrElse(7))
      case Seq("plan", q, r @ _*) if r.size <= 1 =>
        Plan(query(q), r.headOption.map(rounds).getOrElse(3))
      case "time" +: rest =>
        // a trailing argument that is no query name and starts like a
        // number is the round count
        val trailingRounds = rest.lastOption.exists(s => !catalog.contains(s) &&
          s.headOption.exists(c => c.isDigit || c == '-' || c == '+'))
        val (qs, r) = if (trailingRounds) (rest.init, rounds(rest.last)) else (rest, 3)
        Time(if (qs.isEmpty) heavyTier else qs.map(query), r)
      case "explain" +: qs =>
        Explain(if (qs.isEmpty) SparkEntry.benchQueries else qs.map(query))
      case Seq("scale", k, outDir) => Scale(positive("K")(k), outDir)
      case (m @ ("ab" | "plan" | "scale")) +: _ => fail(s"wrong number of arguments for $m")
      case m +: _ => fail(s"unknown mode: $m")
      case _ => fail("missing mode")
    }
  }

  /** SPARK_GRAFT_EXTRA_CONFS: `key=value` entries separated by `;` (a value
    * may itself hold `,` or `=`). An entry without `=` or with an empty
    * key is rejected by name instead of being dropped or half-applied.
    */
  def extraConfs(raw: String): Seq[(String, String)] =
    raw.split(";").toSeq.map(_.trim).filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => k.trim -> v.trim
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_EXTRA_CONFS entry '$kv' is not key=value")
      }
    }

  def main(args: Array[String]): Unit = {
    val (cmd, confs) =
      try (parse(args.toSeq), extraConfs(sys.env.getOrElse("SPARK_GRAFT_EXTRA_CONFS", "")))
      catch { case e: IllegalArgumentException => System.err.println(e.getMessage); sys.exit(2) }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-probe")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
    (Tables.requiredConfs.toSeq ++ confs).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, sfDir, cmd) finally spark.stop()
  }

  /** Runs one command on an existing session and leaves it as found
    * (listeners removed, no conf changed). Output goes line by line to `out`.
    */
  def run(spark: SparkSession, sfDir: String, cmd: Command,
      out: String => Unit = println): Unit = {
    val catalog = SparkEntry.queries
    def build(q: String): DataFrame = catalog(q)(spark, sfDir)
    cmd match {
      case Ab(a, b, rounds) => ab(a, b, rounds, build, out)
      case Time(qs, rounds) => withForks(time(spark, qs, rounds, build, out, _))
      case Plan(q, rounds) => withForks(plan(spark, q, rounds, build, out, _))
      case Explain(qs) => qs.foreach { q =>
        out(s"\n========== $q ==========")
        out(build(q).queryExecution.explainString(ExplainMode.fromString("formatted")))
      }
      case Scale(k, outDir) =>
        val strides = ScaleData.replicate(spark, sfDir, k, outDir)
          .map { case (d, s) => "\"" + d + "\":" + s }.mkString(",")
        out(s"""{"probe":"scale","k":$k,"src":"$sfDir","out":"$outDir","strides":{$strides}}""")
    }
  }

  /** One [[Forks]] recording for one probe run. */
  private def withForks(body: Forks => Unit): Unit = {
    val forks = new Forks
    try body(forks) finally forks.close()
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def timed(body: => Any): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Generated classes compiled so far in this JVM: one count per
    * codegen cache miss, on any loader. A delta over a sample that is
    * far from 0 on a warm query is a compile storm, not a plan change.
    */
  private[graft] def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Processes this JVM starts, from one JFR recording of
    * `jdk.ProcessStart` that is open until [[close]]. Without Hadoop's
    * native library Hadoop's stock local file systems fork a shell
    * command for some file operations: `chmod` to set a permission
    * (which [[NioLocalFileSystem]] does in-process for the `file:`
    * `FileSystem`), and `chmod` or `readlink` in `FileContext`'s local
    * create and rename. So a warm query that forks is paying process
    * starts, not engine work. A start belongs to the window its start
    * time falls in.
    */
  private[graft] final class Forks extends AutoCloseable {
    private val recording = new Recording()
    recording.enable("jdk.ProcessStart").withoutStackTrace()
    recording.start()

    /** `body`'s value and the process starts while it ran, by command
      * name (argv[0]'s file name).
      */
    def during[T](body: => T): (T, Map[String, Int]) = {
      val from = Instant.now()
      val value = body
      val to = Instant.now()
      // a dump of a running disk recording holds every event since start
      val file = Files.createTempFile("graft-forks", ".jfr")
      try {
        recording.dump(file)
        (value, RecordingFile.readAllEvents(file).asScala.toSeq.collect {
          case e if e.getEventType.getName == "jdk.ProcessStart" &&
              !e.getStartTime.isBefore(from) && !e.getStartTime.isAfter(to) =>
            e.getString("command").takeWhile(_ != ' ').split('/').last
        }.groupMapReduce(identity)(_ => 1)(_ + _))
      } finally Files.delete(file)
    }

    override def close(): Unit = recording.close()
  }

  /** `forks=N`, then the count per command when N > 0: `forks=3(readlink:2,rm:1)`. */
  private[graft] def forksField(byCommand: Map[String, Int]): String =
    if (byCommand.isEmpty) "forks=0"
    else byCommand.toSeq.sorted.map { case (c, n) => s"$c:$n" }
      .mkString(s"forks=${byCommand.values.sum}(", ",", ")")

  private def num(v: Double): String = f"$v%.3f"
  private def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")

  private def ab(a: String, b: String, rounds: Int, build: String => DataFrame,
      out: String => Unit): Unit = {
    def once(q: String): Double = timed(noop(build(q)))
    once(a); once(b) // warm both: codegen, JIT, file listings
    val pairs = (1 to rounds).map { r =>
      if (r % 2 == 1) { val x = once(a); (x, once(b)) }
      else { val y = once(b); (once(a), y) }
    }
    def slot(q: String, ss: Seq[Double]): String =
      s"""{"query":"$q","median":${num(Bench.median(ss))},"min":${num(ss.min)},""" +
        s""""samples":${arr(ss.map(num))}}"""
    val delta = pairedDelta(pairs)
    out(s"""{"probe":"ab","rounds":$rounds,"a":${slot(a, pairs.map(_._1))},""" +
      s""""b":${slot(b, pairs.map(_._2))},"paired_delta_median":${num(delta)},""" +
      s""""faster":"${if (delta <= 0) a else b}"}""")
  }

  /** Upper median of the signed deltas a - b (Bench.median would read a negative as a failure). */
  private[graft] def pairedDelta(pairs: Seq[(Double, Double)]): Double =
    pairs.map { case (x, y) => x - y }.sorted.apply(pairs.size / 2)

  /** Bench's clean-anchor rule, restated because Bench is frozen and its
    * `anchorBad` is private: a trailing anchor slower than
    * max(1.5 x session minimum, session minimum + 0.25 s) marks the sample
    * before it contaminated.
    */
  private[graft] def anchorBad(reading: Double, sessionMin: Double): Boolean =
    reading > math.max(1.5 * sessionMin, sessionMin + 0.25)

  private final case class Split(build: Double, plan: Double, exec: Double, anchor: Double,
      compiles: Long, started: Map[String, Int]) { def sec = build + plan + exec }

  private def time(spark: SparkSession, queries: Seq[String], rounds: Int,
      build: String => DataFrame, out: String => Unit, forks: Forks): Unit = {
    // Bench's anchor: pure CPU, no IO, no shuffle, plans identically
    val anchors = collection.mutable.ArrayBuffer.empty[Double]
    def anchor(): Double = {
      anchors += timed(spark.range(1L << 28).select(xxhash64(col("id")).as("h")).agg(max(col("h"))).collect())
      anchors.last
    }
    (1 to 3).foreach(_ => anchor())
    // a slow reading gets one confirm-read; the faster of the pair stands
    def anchorAfter(): Double = {
      val a = anchor()
      if (!anchorBad(a, anchors.min)) a else math.min(a, anchor())
    }
    // exec includes the noop write command's own planning of the query
    def sample(q: String): Split = {
      var df: DataFrame = null
      val c0 = compiles()
      val ((b, p, e), started) = forks.during {
        val b = timed { df = build(q) }
        (b, timed(df.queryExecution.executedPlan), timed(noop(df)))
      }
      val c = compiles() - c0
      Split(b, p, e, anchorAfter(), c, started)
    }
    val results = queries.map { q =>
      noop(build(q)) // warmup: codegen, JIT, file listings
      q -> (1 to rounds).map { i =>
        val first = sample(q)
        val s = if (anchorBad(first.anchor, anchors.min)) sample(q) else first
        out(s"[time] $q round $i: build=${num(s.build)} plan=${num(s.plan)} " +
          s"exec=${num(s.exec)} anchor=${num(s.anchor)} ${forksField(s.started)} compiles=${s.compiles}")
        s
      }
    }
    // statistics over the samples that are clean against the END-of-run
    // anchor minimum; when none is clean, over all of them
    val aMin = anchors.min
    def clean(s: Split): Boolean = !anchorBad(s.anchor, aMin)
    val entries = results.map { case (q, ss) =>
      val kept = if (ss.exists(clean)) ss.filter(clean) else ss
      def med(f: Split => Double): String = num(Bench.median(kept.map(f)))
      val samples = ss.map(s => arr(Seq(num(s.sec), num(s.anchor), clean(s).toString, s.compiles.toString)))
      Bench.median(kept.map(_.sec)) ->
        (s""""$q":{"median":${med(_.sec)},"min":${num(kept.map(_.sec).min)},""" +
          s""""build":${med(_.build)},"plan":${med(_.plan)},"exec":${med(_.exec)},""" +
          s""""samples":${arr(samples)}}""")
    }
    out(s"""{"probe":"time","master":"${spark.sparkContext.master}","rounds":$rounds,""" +
      s""""anchor":{"min":${num(aMin)},"max":${num(anchors.max)},"n":${anchors.size}},""" +
      s""""total":${num(entries.map(_._1).sum)},"queries":{${entries.map(_._2).mkString(",")}}}""")
  }

  /** Operator counts of the plan that RAN. An adaptive plan's `toString`
    * prints the initial plan below the final one, so counting substrings
    * reports joins AQE replaced; this walks the final plan instead, into
    * every query stage and subquery. `EX` counts exchanges that ran;
    * `reused` counts reads of an exchange that ran elsewhere.
    */
  private[graft] def digest(plan: SparkPlan): String = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case o => o.children ++ o.subqueries
    }).flatMap(walk)
    val ops = walk(plan)
    def n(pf: PartialFunction[SparkPlan, Any]): Int = ops.count(pf.isDefinedAt)
    val coalesced = ops.collect { case r: AQEShuffleReadExec if r.hasCoalescedPartition =>
      val from = r.child match { case s: ShuffleQueryStageExec => s.shuffle.numPartitions; case _ => -1 }
      s"$from->${r.partitionSpecs.size}"
    }
    s"BHJ=${n { case _: BroadcastHashJoinExec => }} SMJ=${n { case _: SortMergeJoinExec => }} " +
      s"SHJ=${n { case _: ShuffledHashJoinExec => }} EX=${n { case _: Exchange => }} " +
      s"reused=${n { case _: ReusedExchangeExec => }} AQERead=${n { case _: AQEShuffleReadExec => }} " +
      s"coalesce=${arr(coalesced)} " +
      s"skew=${n { case j: SortMergeJoinExec if j.isSkewJoin => case j: ShuffledHashJoinExec if j.isSkewJoin => }} " +
      s"topk=${n { case _: graft.plans.TopKPerKeyExec => }}"
  }

  private final case class Execution(funcName: String, durationNs: Long, plan: SparkPlan)

  /** Collects executions and task metrics from the context's bus, so it
    * hears every session: the parent's, and the clones a streaming query
    * runs its micro-batches in. Read after [[GraftBus]] drains.
    */
  private final class Tap extends SparkListener {
    val executions = new ConcurrentLinkedQueue[Execution]()
    val tasks = new ConcurrentLinkedQueue[TaskMetrics]()
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        GraftInternal.executionEnd(end).foreach { case (name, qe, ns) =>
          executions.add(Execution(name, ns, qe.executedPlan))
        }
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach(tasks.add)
  }

  private def plan(spark: SparkSession, q: String, rounds: Int,
      build: String => DataFrame, out: String => Unit, forks: Forks): Unit = {
    val sc = spark.sparkContext
    val tap = new Tap
    def drain(): Unit = GraftBus.waitUntilEmpty(sc, 60000L)
    val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    val jitBean = java.lang.management.ManagementFactory.getCompilationMXBean
    def round(i: Int): Unit = {
      tap.executions.clear()
      tap.tasks.clear()
      val gc0 = gcBeans.map(_.getCollectionTime).sum
      val jit0 = jitBean.getTotalCompilationTime
      Catalog.ProgressLog.drain()
      val c0 = compiles()
      val (sec, started) = forks.during(timed(noop(build(q))))
      val nCompiles = compiles() - c0
      val gcSec = (gcBeans.map(_.getCollectionTime).sum - gc0) / 1e3
      val jitSec = (jitBean.getTotalCompilationTime - jit0) / 1e3
      drain()
      val ts = tap.tasks.asScala.toSeq
      def sum(f: TaskMetrics => Long): Long = ts.map(f).sum
      val execs = tap.executions.asScala.toSeq
      val batches = Catalog.ProgressLog.drain()
      out(f"[plan] $q round $i sec=$sec%.2f gc=$gcSec%.2f " +
        f"spill=${sum(m => m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6}%.0fMB " +
        f"fetchWait=${sum(_.shuffleReadMetrics.fetchWaitTime) / 1e3}%.1f " +
        f"taskRun=${sum(_.executorRunTime) / 1e3}%.1f taskCpu=${sum(_.executorCpuTime) / 1e9}%.1f " +
        f"deser=${sum(_.executorDeserializeTime) / 1e3}%.1f nTasks=${ts.size} " +
        f"jit=$jitSec%.1f ${forksField(started)} compiles=$nCompiles executions=${execs.size}")
      // a stream's micro-batches: the trigger and its phases, in ms
      batches.zipWithIndex.foreach { case (b, k) =>
        out(s"[plan] $q round $i batch ${k + 1}/${batches.size} ${b.query} id=${b.batchId} " +
          s"trigger=${b.triggerMs} addBatch=${b.addBatchMs} latestOffset=${b.latestOffsetMs} " +
          s"queryPlanning=${b.queryPlanningMs} walCommit=${b.walCommitMs} " +
          s"commitOffsets=${b.commitOffsetsMs} inputRows=${b.inputRows} stateRows=${b.stateRows}")
      }
      // the noop write is the last execution; those before it ran nested
      execs.zipWithIndex.foreach { case (e, k) =>
        val line = s"$q round $i exec ${k + 1}/${execs.size} ${e.funcName} " +
          s"durationNs=${e.durationNs} ${digest(e.plan)}"
        out(s"[plan] $line")
        if (i == rounds) {
          val dir = java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target", "probe_plan"))
          java.nio.file.Files.writeString(dir.resolve(f"${q}_exec${k + 1}%02d.txt"), s"-- $line\n${e.plan}")
        }
      }
    }
    sc.addSparkListener(tap)
    try {
      drain()
      (1 to rounds).foreach(round)
    } finally sc.removeSparkListener(tap)
  }
}
