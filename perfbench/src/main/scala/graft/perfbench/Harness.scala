package graft.perfbench

import graft.{SparkEntry, Tables}
import graft.queries.Catalog
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{col, max, xxhash64}
import org.apache.spark.sql.util.QueryExecutionListener

import java.io.{File, PrintWriter}
import scala.collection.mutable

/** Planning time of the executions that start inside the recorded exec
  * windows, read from each execution's `QueryPlanningTracker` (optimizer
  * plus physical planning, which includes `GraftExtensions` and the
  * `plans/` strategies). Executions outside the windows, e.g. the eager
  * checkpoints inside query construction, stay with their own layer.
  *
  * [[PlanListener]] is installed through `spark.sql.queryExecutionListeners`
  * so that it also hears the session clones the streaming harness makes.
  */
object PlanLog {
  private val windows = mutable.ArrayBuffer.empty[(Long, Long)]
  private val plans = mutable.ArrayBuffer.empty[(Long, Double)]

  def window(fromMs: Long, toMs: Long): Unit = synchronized { windows += ((fromMs, toMs)) }

  private[perfbench] def record(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    val parts = Seq(QueryPlanningTracker.OPTIMIZATION, QueryPlanningTracker.PLANNING).flatMap(ph.get)
    if (parts.nonEmpty) plans += ((parts.map(_.startTimeMs).min, parts.map(_.durationMs).sum / 1e3))
  }

  def drain(): Double = synchronized {
    val s = plans.collect {
      case (t, d) if windows.exists { case (a, b) => t >= a && t <= b } => d
    }.sum
    windows.clear(); plans.clear()
    s
  }
}

final class PlanListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    PlanLog.record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    PlanLog.record(qe)
}

/** The benchmark's JVM side. Runs one workload in one process: session
  * start, a warm-up pass that fingerprints and checks every output, then
  * measured passes until `--seconds` have elapsed. Writes the run's
  * metrics as JSON to `--out`.
  *
  * With `--trace 1` the measured passes alternate between plain and
  * traced; traced passes record the per-layer values, and the plain ones
  * give the untraced pass time in the same process, so the difference is
  * the tracing overhead.
  *
  * `--record FILE` instead runs every bench query once and writes their
  * fingerprints (and, with `--dump DIR`, their outputs as parquet plus the
  * oracle SQL) for the DuckDB cross-check.
  */
object Harness {
  /** The streaming bench queries `stream_replay` replays: session-window
    * state, a stream-static join, and an HLL aggregate.
    */
  val streamQueries: Seq[String] = Seq(
    "q160_stream_session_window", "q239_stream_static_join", "q184_stream_hll")

  private def arg(args: Array[String], k: String): Option[String] = {
    val i = args.indexOf(k)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  private def json(v: Any): String = v match {
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double  => java.math.BigDecimal.valueOf(d).toPlainString
    case n: Long    => n.toString
    case n: Int     => n.toString
    case b: Boolean => b.toString
    case s: String  => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }

  def session(cpus: Int, work: File, trace: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
    Tables.requiredConfs.foreach { case (k, v) => b.config(k, v) }
    if (trace) b.config("spark.sql.queryExecutionListeners", classOf[PlanListener].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(new File(work, "checkpoints").getPath)
    s
  }

  def main(args: Array[String]): Unit = {
    def need(k: String): String = arg(args, k).getOrElse(sys.error(s"$k required"))
    val trace = arg(args, "--trace").contains("1")
    val work = new File(need("--work"))
    val data = need("--data")
    val cpus = arg(args, "--cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())

    val spark = session(cpus, work, trace)
    val sessionS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

    arg(args, "--record") match {
      case Some(fpFile) => record(spark, data, new File(fpFile), arg(args, "--dump").map(new File(_)))
      case None => run(spark, need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
        trace, work, new File(need("--out")), data, arg(args, "--fingerprints").map(new File(_)),
        sessionS, cpus)
    }
    spark.stop()
  }

  private def record(spark: SparkSession, data: String, fpFile: File, dump: Option[File]): Unit = {
    val names = Catalog.benchNames ++ Catalog.benchStreamingNames
    val oracle = SparkEntry.oracleSql
    val fps = names.map { n =>
      val df = SparkEntry.queries(n)(spark, data)
      dump.foreach(d => df.write.mode("overwrite").parquet(new File(d, s"$n.parquet").getPath))
      val fp = Fingerprint.of(df)
      try graft.ops.AsOfJoin.releaseBroadcastIndexes(spark) catch { case _: Throwable => () }
      System.err.println(s"[record] $n rows=${fp.rows}")
      n -> Map("rows" -> fp.rows, "hash" -> fp.hash)
    }
    dump.foreach { d =>
      val pw = new PrintWriter(new File(d, "oracle_sql.json"))
      try pw.write(json(names.flatMap(n => oracle.get(n).map(n -> _)).toMap)) finally pw.close()
    }
    val pw = new PrintWriter(fpFile)
    try pw.write(json(Map("queries" -> scala.collection.immutable.ListMap(fps: _*))) + "\n")
    finally pw.close()
  }

  private def run(spark: SparkSession, workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: File, out: File, data: String, fpFile: Option[File],
      sessionS: Double, cpus: Int): Unit = {
    val engine = new EngineListener
    if (trace) spark.sparkContext.addSparkListener(engine)
    val rec = new Recorder
    val wl: Workload = workload match {
      case "etl_dag" => new EtlWorkload(spark, new File(data), work)
      case "stream_replay" =>
        val expected = fpFile.map(Fingerprint.load).getOrElse(Map.empty)
        new StreamWorkload(spark, data, streamQueries, seed, expected)
      case w => sys.error(s"unknown workload $w")
    }

    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def anchor(): Double = {
      val t0 = System.nanoTime()
      spark.range(1L << 25).select(xxhash64(col("id")).as("h")).agg(max(col("h"))).collect()
      (System.nanoTime() - t0) / 1e9
    }

    val w0 = System.nanoTime()
    wl.pass(rec, warm = true)
    val warmS = (System.nanoTime() - w0) / 1e9
    anchor()
    if (trace) { ListenerBusDrain(spark.sparkContext); engine.drain(); PlanLog.drain() }

    rec.measuring = true
    val plain = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]
    val anchors = mutable.ArrayBuffer.empty[Double]
    val effs = mutable.ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    // at least two passes: a median of two, and in a traced run one plain
    // and one traced pass
    while (System.nanoTime() < deadline || i < 2) {
      rec.tracing = trace && i % 2 == 1
      val cpu0 = osBean.getProcessCpuTime
      val t0 = System.nanoTime()
      wl.pass(rec, warm = false)
      val s = (System.nanoTime() - t0) / 1e9
      val eff = (osBean.getProcessCpuTime - cpu0) / 1e9 / (s * cpus)
      val a = anchor()
      anchors += a; effs += eff
      if (rec.tracing) {
        traced += s
        ListenerBusDrain(spark.sparkContext)
        engine.drain().foreach { case (k, v) => rec.add(k, v) }
        val plan = PlanLog.drain()
        rec.add("plans.plan_s", plan)
        rec.add("engine.exec_s", -plan)
        rec.add("host.anchor_s", a)
        rec.add("host.cpu_eff", eff)
      } else plain += s
      rec.endPass()
      i += 1
    }

    val lat = rec.queryLatencies.sorted
    // the highest percentile with at least 10 samples above it, if any
    val tailIdx = lat.size - 11
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    if (!trace) {
      metrics("setup_s") = sessionS + warmS
      metrics("pass_s") = median(plain.toSeq)
      metrics("query_p50_s") = median(lat.toSeq)
      metrics("rows_per_s") = median(rec.rowRates.toSeq)
      metrics("peak_rss_mb") = peakRssMb()
    } else {
      val keys = rec.tracedPasses.flatMap(_.keys).distinct
      keys.foreach(k => metrics(k) = median(rec.tracedPasses.map(_.getOrElse(k, 0.0)).toSeq))
      metrics("trace.pass_s") = median(traced.toSeq)
      metrics("trace.untraced_pass_s") = median(plain.toSeq)
    }
    val detail = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "cpus" -> cpus,
      "session_s" -> sessionS, "warmup_s" -> warmS,
      "passes" -> (plain.size + traced.size),
      "pass_s_samples" -> plain.toSeq, "traced_pass_s_samples" -> traced.toSeq,
      "query_samples" -> lat.size,
      "query_tail" -> (if (tailIdx < 0) Map.empty[String, Double]
        else Map("pct" -> 100.0 * (tailIdx + 1) / lat.size, "s" -> lat(tailIdx))),
      "host_anchor_s" -> anchors.toSeq, "host_cpu_eff" -> effs.toSeq,
      "failures" -> rec.failures.take(20).toSeq)
    val pw = new PrintWriter(out)
    try pw.write(json(Map(
      "attempted" -> rec.attempted, "failed" -> rec.failed,
      "metrics" -> metrics, "detail" -> detail)) + "\n")
    finally pw.close()
  }
}
