package graft.queries

import graft.{GraftSpark, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite

/** Regression gate for the events `ts` parquet encoding.
  *
  * The driver has regenerated `/root/testdata` with a different `ts`
  * encoding once already (TIMESTAMP(NANOS) read as a long via
  * `nanosAsLong` → TIMESTAMP(MICROS, isAdjustedToUTC=false) read as
  * TIMESTAMP_NTZ), which silently compressed the streaming time axis
  * 1000× and crashed every `unix_millis(ts)` call site. This spec writes
  * every encoding the driver has produced (plus the adjusted-UTC one it
  * plausibly could) and asserts they all load — batch AND streaming —
  * to the identical session-TZ TimestampType column. The staged-stream
  * harness the catalog streams share (stage, read, run to a memory
  * table, drop) is pinned here too: its slice batching and its cleanup
  * when a stream fails.
  */
class TsEncodingSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark

  /** 3 rows spanning 2 hours, micros precision. */
  private def baseMicros: Seq[(Long, Long, Double)] = Seq(
    (1L, 1700000000000000L, 1.0),
    (2L, 1700000030000000L, 2.5),
    (3L, 1700003600000000L, 4.0))

  /** Write `events.parquet` under a fresh temp sf-dir, with ts encoded by
    * `enc`, and return the dir.
    */
  private def writeFixture(enc: DataFrame => DataFrame): String = {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ts-enc").toString
    val df = baseMicros.toDF("event_id", "ts_us", "value")
      .withColumn("ts", timestamp_micros(col("ts_us"))).drop("ts_us")
      .select("event_id", "ts", "value")
    enc(df).coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  // The encodings: nanos-long (legacy nanosAsLong surface), the current
  // micros-NTZ, plain adjusted-UTC TIMESTAMP, and the OTHER epoch-long
  // units a future driver re-encode could plausibly ship (micros-long,
  // millis-long, seconds-long — Tables.epochLongToMicros infers the unit
  // from the value's magnitude band, so all of them must land on the
  // same time axis; sub-µs detail obviously can't survive seconds-long,
  // hence the fixture's instants sit on whole seconds).
  //
  // LIMITATION (round-8 advice): the "nanos-long" fixture writes a plain
  // INT64 column — Spark has no writer for TIMESTAMP(NANOS) parquet, so
  // the actual `spark.sql.legacy.parquet.nanosAsLong` READ surface (a
  // real TIMESTAMP(NANOS) annotation surfacing as LongType) is not
  // exercised here, only the post-read LongType normalization branch.
  // Generating a true TIMESTAMP(NANOS) file needs parquet-java's
  // low-level writer, which this sandbox's classpath carries only via
  // Spark's shaded internals; the driver's own r1-r6 testdata WAS that
  // encoding and round 6 ran green on it, which is the missing half of
  // the evidence.
  private lazy val fixtures: Map[String, String] = Map(
    "nanos-long" -> writeFixture(df =>
      df.withColumn("ts", (unix_micros(col("ts")) * 1000L))),
    "micros-long" -> writeFixture(df =>
      df.withColumn("ts", unix_micros(col("ts")))),
    "millis-long" -> writeFixture(df =>
      df.withColumn("ts", unix_millis(col("ts")))),
    "seconds-long" -> writeFixture(df =>
      df.withColumn("ts", unix_seconds(col("ts")))),
    "micros-ntz" -> writeFixture(df =>
      df.withColumn("ts", col("ts").cast("timestamp_ntz"))),
    "micros-utc" -> writeFixture(identity))

  test("Tables.load normalizes every ts encoding to identical TimestampType") {
    val loaded = fixtures.map { case (name, dir) =>
      val df = Tables.load(spark, dir, "events")
      assert(df.schema("ts").dataType == TimestampType,
        s"$name: expected TimestampType, got ${df.schema("ts").dataType}")
      name -> df.select("event_id", "ts", "value").orderBy("event_id")
        .collect().toSeq
    }
    val expected = loaded("micros-utc")
    loaded.foreach { case (name, rows) =>
      assert(rows == expected, s"$name loads differently than micros-utc")
    }
    // and the values are the literal micros we wrote, not shifted/scaled
    val ts0 = expected.head.getTimestamp(1)
    assert(ts0.getTime == 1700000000000L, s"epoch millis off: ${ts0.getTime}")
  }

  test("stagedEventsStream yields the batch time axis for every encoding") {
    fixtures.foreach { case (name, dir) =>
      val staged = Catalog.stageEventsDir(dir)
      try {
        val agg = Catalog.stagedEventsStream(spark, staged)
          .groupBy(window(col("ts"), "1 hour"))
          .agg(count(lit(1)).as("n"))
        val table = Catalog.runToMemoryTable(agg, s"ts_enc_${name.replace('-', '_')}")
          .select(col("window.start").as("h"), col("n")).orderBy("h")
          .collect().toSeq
        assert(table.map(_.getLong(1)) == Seq(2L, 1L),
          s"$name: wrong windowing $table")
        assert(table.head.getTimestamp(0).getTime == 1700000000000L - (1700000000000L % 3600000L),
          s"$name: window start shifted: ${table.head.getTimestamp(0)}")
      } finally Catalog.dropStaged(staged)
    }
  }

  test("stageSlices + oneFilePerTrigger: one micro-batch per slice, in slice order") {
    val s = spark
    import s.implicits._
    // distinct sizes, so the batch sequence pins the slice order
    val slices = Seq(3, 1, 2).zipWithIndex.map { case (n, k) =>
      (1 to n).map(i => (k.toLong, i.toLong)).toDF("slice", "i")
    }
    Catalog.ProgressLog.drain()
    val dir = Catalog.stageSlices(slices)
    val table = try {
      val agg = Catalog.stagedEventsStream(spark, dir, oneFilePerTrigger = true)
        .groupBy("slice").agg(count(lit(1)).as("n"))
      Catalog.runToMemoryTable(agg, "slice_contract")
    } finally Catalog.dropStaged(dir)
    assert(!java.nio.file.Files.exists(dir))
    val batches = Catalog.ProgressLog.drain().filter(_.query == "slice_contract")
    assert(batches.map(_.batchId) == Seq(0L, 1L, 2L), s"batches: $batches")
    assert(batches.map(_.inputRows) == slices.map(_.count()), s"batches: $batches")
    // every batch reports each phase of its trigger
    batches.foreach { b =>
      Seq(b.addBatchMs, b.latestOffsetMs, b.queryPlanningMs, b.walCommitMs, b.commitOffsetsMs)
        .foreach(ms => assert(ms >= 0L, s"batch ${b.batchId}: $b"))
    }
    assert(table.orderBy("slice").as[(Long, Long)].collect().toSeq ==
      Seq((0L, 3L), (1L, 1L), (2L, 2L)))
  }

  test("runToMemoryTable: a failing stream throws, leaves no query or staged copy, and re-runs") {
    val ss = Catalog.streamingSession(spark)
    val name = "harness_fail"
    var staged: java.nio.file.Path = null
    // the catalog streams' own shape: stage, read, run, drop in finally
    def run(fail: Boolean): Seq[Long] = {
      staged = Catalog.stageEventsDir(fixtures("micros-utc"))
      val table = try {
        val agg = Catalog.stagedEventsStream(ss, staged)
          .withColumn("value", when(lit(fail) && col("event_id") > 0L,
            raise_error(lit("injected stream failure"))).otherwise(col("value")))
          .groupBy(window(col("ts"), "1 hour"))
          .agg(count(lit(1)).as("n"), sum(col("value")).as("v"))
        Catalog.runToMemoryTable(agg, name)
      } finally Catalog.dropStaged(staged)
      table.orderBy("window").collect().map(_.getLong(1)).toSeq
    }
    val err = intercept[Exception](run(fail = true))
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => Option(e.getMessage).exists(_.contains("injected stream failure"))),
      s"unexpected failure: $err")
    assert(!ss.streams.active.exists(q => Option(q.name).contains(name)))
    assert(!java.nio.file.Files.exists(staged))
    assert(run(fail = false) == Seq(2L, 1L))
    assert(!java.nio.file.Files.exists(staged))
  }
}
