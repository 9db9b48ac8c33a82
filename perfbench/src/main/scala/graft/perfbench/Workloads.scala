package graft.perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.SparkEntry
import graft.pipeline.{OpenAqPipeline, Schemas, Sink, Transforms}
import graft.queries.{AnalyticsQueries, Catalog}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, to_json, xxhash64}
import org.apache.spark.sql.types.MapType
import org.apache.spark.storage.StorageLevel

import java.io.File
import scala.jdk.CollectionConverters._

/** One benchmark workload: a pass is the unit that is timed and repeated.
  * The warm-up pass is the run's one untimed execution; it is where query
  * outputs are fingerprinted and checked.
  */
trait Workload {
  def pass(rec: Recorder, warm: Boolean): Unit
}

/** Row count plus an order-insensitive content hash of a query's output. */
final case class Fingerprint(rows: Long, hash: String)

object Fingerprint {
  def of(df: DataFrame): Fingerprint = {
    // xxhash64 cannot hash maps; their JSON rendering is deterministic
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case _: MapType => to_json(col(s"`${f.name}`"))
        case _          => col(s"`${f.name}`")
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toSeq: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .collect()(0)
    Fingerprint(r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  def load(file: File): Map[String, Fingerprint] = {
    val root = new ObjectMapper().readTree(file).path("queries")
    root.properties().asScala.map { e =>
      e.getKey -> Fingerprint(e.getValue.path("rows").asLong(), e.getValue.path("hash").asText())
    }.toMap
  }
}

/** Replays streaming bench queries through the catalog's streaming
  * harness (staged copy, micro-batches to a memory sink). A query's time
  * is its construction, which runs the stream (`queries.build_s`), plus a
  * noop-sink pass over the result (`engine.exec_s`).
  */
final class StreamWorkload(
    spark: SparkSession,
    dataDir: String,
    names: Seq[String],
    seed: Long,
    expected: Map[String, Fingerprint]) extends Workload {

  private val rng = new scala.util.Random(seed)
  private val events = graft.Tables.events(spark, dataDir).count()

  def pass(rec: Recorder, warm: Boolean): Unit = {
    Catalog.StagingClock.drainSeconds()
    Catalog.ProgressLog.drain()
    var streamed = 0.0
    for (name <- rng.shuffle(names)) {
      val s = rec.op(name) {
        val df = rec.span("queries.build_s") { SparkEntry.queries(name)(spark, dataDir) }
        if (warm) {
          val fp = Fingerprint.of(df)
          val want = expected.get(name)
          rec.check(want.contains(fp), s"fingerprint $fp, recorded ${want.getOrElse("none")}")
        } else {
          val w0 = System.currentTimeMillis()
          rec.span("engine.exec_s") { df.write.format("noop").mode("overwrite").save() }
          if (rec.tracing) PlanLog.window(w0, System.currentTimeMillis())
        }
      }
      if (s >= 0) { rec.add(s"q.$name.s", s); streamed += s }
    }
    rec.rowRate(events.toDouble * names.size, streamed)
    val batches = Catalog.ProgressLog.drain()
    rec.add("streaming.batches", batches.size.toDouble)
    val trig = batches.map(_.triggerMs).filter(_ >= 0).sorted
    if (trig.nonEmpty) rec.add("streaming.trigger_ms", trig(trig.size / 2).toDouble)
    rec.add("streaming.state_rows", if (batches.isEmpty) 0.0 else batches.map(_.stateRows).max.toDouble)
    rec.add("streaming.staging_s", Catalog.StagingClock.drainSeconds())
  }
}

/** The raw-zone manifest written by the generator: the counts the pipeline
  * must reproduce, derived from the generator's own construction.
  */
final case class PhaseExpect(rawRows: Long, keys: Long, dir: String)
final case class Manifest(
    backfill: PhaseExpect,
    rawBytes: Long,
    daily: Seq[PhaseExpect],
    martRows: Long,
    locations: Long,
    cities: Set[String],
    earliestS: Long,
    latestS: Long)

object Manifest {
  def load(rawDir: File): Manifest = {
    val j = new ObjectMapper().readTree(new File(rawDir, "manifest.json"))
    def phase(n: JsonNode) =
      PhaseExpect(n.path("raw_rows").asLong(), n.path("keys").asLong(),
        new File(rawDir, n.path("dir").asText()).getPath)
    Manifest(
      phase(j.path("backfill")),
      j.path("backfill").path("bytes").asLong(),
      j.path("daily").elements().asScala.map(phase).toSeq,
      j.path("mart_rows").asLong(),
      j.path("locations").asLong(),
      j.path("cities").elements().asScala.map(_.asText()).toSet,
      j.path("earliest_s").asLong(),
      j.path("latest_s").asLong())
  }
}

/** The OpenAQ DAG: backfill through `OpenAqPipeline.run` into a fresh mart,
  * the daily increments appended to it, then the Athena-surface queries
  * over the registered `vietnam` view.
  *
  * In a traced pass the backfill is taken apart at the layer boundaries:
  * each stage is persisted and materialized on its own, so its time is
  * its own. The stages are the pipeline's public functions, applied in
  * the order `OpenAqPipeline.run` applies them.
  */
final class EtlWorkload(spark: SparkSession, rawDir: File, workDir: File) extends Workload {
  private val m = Manifest.load(rawDir)
  private var passNo = 0
  val view = "vietnam"

  private def checkMetrics(rec: Recorder, what: String, got: OpenAqPipeline.Metrics,
      want: PhaseExpect): Unit = {
    rec.check(got.rawCount == want.rawRows, s"$what raw ${got.rawCount} != ${want.rawRows}")
    rec.check(got.dedupCount == want.keys, s"$what dedup ${got.dedupCount} != ${want.keys}")
    rec.check(got.pivotCount == want.keys, s"$what pivot ${got.pivotCount} != ${want.keys}")
    rec.check(got.enrichedCount == want.keys, s"$what mart ${got.enrichedCount} != ${want.keys}")
    rec.check(got.nullAudit.values.forall(_ == 0L), s"$what null audit ${got.nullAudit}")
  }

  private def cfg(in: String, out: String) = Schemas.JobConfig(inputPath = in, outputPath = out)

  /** Parquet files and bytes under the mart directory. */
  private def layout(dir: File): (Long, Long) = {
    val files = java.nio.file.Files.walk(dir.toPath)
    try {
      val ps = files.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
      (ps.size.toLong, ps.map(p => java.nio.file.Files.size(p)).sum)
    } finally files.close()
  }

  private def backfillPlain(rec: Recorder, out: String): Unit = {
    val (mart, got) = OpenAqPipeline.run(spark, cfg(m.backfill.dir, out), view)
    mart.unpersist()
    checkMetrics(rec, "backfill", got, m.backfill)
  }

  private def backfillTraced(rec: Recorder, out: String): Unit = {
    val c = cfg(m.backfill.dir, out)
    val raw = rec.span("pipeline.scan_s") {
      val r = OpenAqPipeline.readRaw(spark, c).persist(StorageLevel.MEMORY_AND_DISK)
      r.count(); r
    }
    val parsed = rec.span("pipeline.parse_s") {
      val p = raw.transform(Transforms.parseDatetime)
        .transform(Transforms.dropInvalidDatetime)
        .transform(Transforms.derivePartitions)
        .persist(StorageLevel.MEMORY_AND_DISK)
      p.count(); p
    }
    // `transform` rebuilds the same parse plan over `raw`, so the cache
    // manager serves it from `parsed` and each stage below times itself
    val (deduped, pivoted, mart) = OpenAqPipeline.transform(raw, c)
    val dedupRows = rec.span("pipeline.dedup_s") {
      deduped.persist(StorageLevel.MEMORY_AND_DISK).count()
    }
    val pivotRows = rec.span("pipeline.pivot_s") {
      pivoted.persist(StorageLevel.MEMORY_AND_DISK).count()
    }
    val martRows = rec.span("pipeline.enrich_s") {
      mart.persist(StorageLevel.MEMORY_AND_DISK).count()
    }
    val audit = rec.span("pipeline.validate_s") {
      Transforms.requireColumns(mart)
      Transforms.nullAudit(mart).collect()(0)
    }
    rec.span("pipeline.write_s") {
      Sink.writePartitioned(mart, out, c.partitionCols, c.writeMode)
    }
    val reread = rec.span("pipeline.reread_s") {
      val w = spark.read.schema(mart.schema).parquet(out)
      w.createOrReplaceTempView(view)
      w.count()
    }
    val rawRows = raw.count()
    Seq(mart, pivoted, deduped, parsed, raw).foreach(_.unpersist())
    val (files, bytes) = layout(new File(out))
    rec.add("pipeline.raw_rows", rawRows.toDouble)
    rec.add("pipeline.dedup_rows", dedupRows.toDouble)
    rec.add("pipeline.mart_rows", martRows.toDouble)
    rec.add("pipeline.dedup_keep_ratio", dedupRows.toDouble / math.max(1L, rawRows))
    rec.add("pipeline.files_written", files.toDouble)
    rec.add("pipeline.bytes_written", bytes.toDouble)
    rec.add("pipeline.mart_bytes_per_raw_byte", bytes.toDouble / m.rawBytes)
    val nullCount = (0 until audit.length).map(audit.getLong).sum
    checkMetrics(rec, "backfill",
      OpenAqPipeline.Metrics(rawRows, dedupRows, pivotRows, martRows,
        Map("all critical columns" -> nullCount)), m.backfill)
    rec.check(reread == martRows, s"re-read $reread != mart $martRows")
  }

  def pass(rec: Recorder, warm: Boolean): Unit = {
    passNo += 1
    val out = new File(workDir, s"mart-$passNo")
    val traced = rec.tracing
    val backfillS = rec.op("backfill", isQuery = false) {
      if (traced) backfillTraced(rec, out.getPath) else backfillPlain(rec, out.getPath)
    }
    if (traced && backfillS > 0) rec.add("pipeline.rows_per_s", m.backfill.rawRows / backfillS)
    if (!traced) rec.rowRate(m.backfill.rawRows.toDouble, backfillS)
    rec.span("pipeline.daily_s") {
      m.daily.zipWithIndex.foreach { case (d, i) =>
        rec.op(s"daily${i + 1}", isQuery = false) {
          val (mart, got) = OpenAqPipeline.run(spark, cfg(d.dir, out.getPath), view)
          mart.unpersist()
          checkMetrics(rec, s"daily${i + 1}", got, d)
        }
      }
    }
    rec.span("queries.analytics_s") {
      for ((name, _) <- AnalyticsQueries.queries(view).toSeq.sortBy(_._1)) {
        rec.op(name) {
          val df = rec.span("queries.build_s") { AnalyticsQueries.run(spark, name, view) }
          val w0 = System.currentTimeMillis()
          val rows = rec.span("engine.exec_s") { df.collect() }
          if (rec.tracing) PlanLog.window(w0, System.currentTimeMillis())
          checkAnswer(rec, name, rows)
        }
      }
    }
    deleteTree(out)
  }

  private def checkAnswer(rec: Recorder, name: String,
      rows: Array[org.apache.spark.sql.Row]): Unit = name match {
    case "row_count" =>
      rec.check(rows.head.getLong(0) == m.martRows, s"row_count ${rows.head} != ${m.martRows}")
    case "partition_range_audit" =>
      val r = rows.head
      rec.check(r.getLong(0) == m.martRows, s"record_count ${r.getLong(0)} != ${m.martRows}")
      rec.check(r.getTimestamp(1).getTime / 1000 == m.earliestS, s"earliest ${r.get(1)}")
      rec.check(r.getTimestamp(2).getTime / 1000 == m.latestS, s"latest ${r.get(2)}")
    case "distinct_city" =>
      val got = rows.map(_.getString(0)).toSet
      rec.check(got == m.cities, s"cities $got != ${m.cities}")
    case "records_per_location" =>
      rec.check(rows.length == m.locations, s"locations ${rows.length} != ${m.locations}")
      rec.check(rows.map(_.getLong(3)).sum == m.martRows, "per-location counts do not sum to the mart")
    case "pollutant_coverage" =>
      // dedup keeps one measurement per (location, hour): one non-null pollutant per row
      val n = (0 until 6).map(rows.head.getLong).sum
      rec.check(n == m.martRows, s"pollutant coverage $n != ${m.martRows}")
    case _ =>
      rec.check(rows.length <= 10, s"$name returned ${rows.length} rows")
  }

  private def deleteTree(f: File): Unit = if (f.exists()) {
    val walk = java.nio.file.Files.walk(f.toPath)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    finally walk.close()
  }
}
