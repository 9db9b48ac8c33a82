package graft.perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

import scala.collection.mutable

/** A failed output check: counts as a failed operation, like a throw. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** One run's bookkeeping.
  *
  * Every operation (a query execution, a pipeline job) goes through [[op]]:
  * it is counted as attempted, and a throw or a failed [[check]] counts it
  * as failed. Query latencies are kept for measured passes only.
  *
  * Layer values ([[add]], [[span]]) are only recorded while `tracing` is
  * on; they accumulate within a pass and [[endPass]] files the pass's
  * totals. A per-layer metric is the median of its per-pass totals.
  */
final class Recorder {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val queryLatencies = mutable.ArrayBuffer.empty[Double]
  val rowRates = mutable.ArrayBuffer.empty[Double]
  var measuring = false
  var tracing = false
  private val current = mutable.LinkedHashMap.empty[String, Double]
  val tracedPasses = mutable.ArrayBuffer.empty[Map[String, Double]]

  /** Input rows per second through a pass's main job (measured passes). */
  def rowRate(rows: Double, seconds: Double): Unit =
    if (measuring && seconds > 0) rowRates += rows / seconds

  def add(name: String, v: Double): Unit =
    if (tracing) current(name) = current.getOrElse(name, 0.0) + v

  def span[T](name: String)(body: => T): T =
    if (!tracing) body
    else {
      val t0 = System.nanoTime()
      try body finally add(name, (System.nanoTime() - t0) / 1e9)
    }

  def check(ok: Boolean, msg: => String): Unit =
    if (!ok) throw new CheckFailed(msg)

  /** Runs one operation; returns its wall seconds, or -1 if it failed. */
  def op(name: String, isQuery: Boolean = true)(body: => Unit): Double = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      body
      val s = (System.nanoTime() - t0) / 1e9
      if (isQuery && measuring) queryLatencies += s
      s
    } catch {
      case e: Throwable =>
        failed += 1
        val msg = Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString
        failures += s"$name: ${e.getClass.getSimpleName}: $msg"
        -1.0
    }
  }

  def endPass(): Unit = {
    if (tracing) tracedPasses += current.toMap
    current.clear()
  }
}

/** Engine counters for traced runs, from Spark's listener bus: jobs, tasks,
  * shuffle bytes written, spill bytes, task GC time, and per-stage task
  * durations for the skew ratio (max task time / median task time).
  */
final class EngineListener extends SparkListener {
  private var jobs = 0L
  private var tasks = 0L
  private var shuffleWrite = 0L
  private var spill = 0L
  private var gcMs = 0L
  private val durations = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      gcMs += m.jvmGCTime
    }
    durations.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
  }

  /** Counters since the previous call, as layer values. */
  def drain(): Map[String, Double] = synchronized {
    val skew = durations.values.filter(_.size >= 2).map { ds =>
      val s = ds.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2))
    }
    val r = Map(
      "engine.jobs" -> jobs.toDouble,
      "engine.tasks" -> tasks.toDouble,
      "engine.shuffle_write_bytes" -> shuffleWrite.toDouble,
      "engine.spill_bytes" -> spill.toDouble,
      "engine.gc_s" -> gcMs / 1e3,
      "engine.task_skew_max" -> (if (skew.isEmpty) 1.0 else skew.max))
    jobs = 0; tasks = 0; shuffleWrite = 0; spill = 0; gcMs = 0
    durations.clear()
    r
  }
}
