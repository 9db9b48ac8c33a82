package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** Loaders for the driver-provided synthetic tables (TESTDATA.md).
  *
  * Tables are plain parquet files, one per table, under an sf-dir like
  * `/root/testdata/sf0.01`. At cluster scale these would be directories of
  * many files (possibly Hive-partitioned); `spark.read.parquet` handles both
  * shapes identically, so every query in the catalog takes the sf-dir as a
  * parameter and goes through here.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session configs every graft session needs, applied to its builder
    * before the SparkContext starts. `nanosAsLong` stays for
    * back-compat with testdata generations that carried TIMESTAMP(NANOS)
    * (Spark's vectorized reader rejects nanos outright; with the flag it
    * surfaces as a long). Newer generations carry TIMESTAMP(MICROS,
    * isAdjustedToUTC=false) → TIMESTAMP_NTZ; [[load]] normalizes both.
    *
    * `codegen.cache.maxEntries` sizes the JVM-wide generated-class cache
    * (a static conf: it only takes effect at context start). The cache
    * is keyed by (class loader, source text), and in local mode every
    * whole-stage class is compiled twice, once while planning and once
    * under the executor's class loader, so each class costs two keys.
    * Spark's default of 100 entries is below the working set of one
    * daily ETL DAG (backfill, increments and the six Athena queries:
    * ~103 keys), so LRU eviction emptied the cache every cycle and each
    * warm pass recompiled ~59 identical classes. One pass of the 48
    * bench queries at sf0.01 holds 1,071 distinct keys; 4096 is ~4x that
    * census, for a few MB of metaspace.
    *
    * `artifact.isolation.enabled` is off because this engine adds no
    * artifact (no jar, file or class) to any session. With isolation on,
    * each session UUID (every [[cloneSession]], and the clone each
    * streaming query execution makes) gets a fresh class loader on the
    * executor; since the cache above is keyed by class loader, each clone
    * then recompiled every whole-stage class of byte-identical source
    * (148 classes per warm pass of the six bench streams). Spark reads
    * the flag once per session, lazily, so it belongs on the builder:
    * every `newSession()` and stream clone inherits it from the context
    * conf.
    *
    * `fs.file.impl` swaps the `file:` scheme's file system for
    * [[NioLocalFileSystem]]. Without Hadoop's native library the stock
    * one forks a `chmod` process for every file (each part file and its
    * `.crc`) and directory it creates: 896 in one `perfbench/run.py
    * --seconds 0` run of `stream_replay`, 347 in one of `etl_dag`. The
    * replacement sets the same nine `rwx` bits through `java.nio` (the
    * same chmod(2), no process start) and falls back to the stock fork
    * for any other mode, so on-disk permissions are identical
    * (`LocalFsSpec`). Only `file:` paths use it; S3 or HDFS sinks keep
    * their own file systems. Hadoop caches a file system per scheme and
    * user, not per conf, so the entry is set before the SparkContext
    * starts, before anything resolves `file:`.
    */
  val requiredConfs: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.codegen.cache.maxEntries" -> "4096",
    "spark.sql.artifact.isolation.enabled" -> "false",
    "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName)

  /** A `newSession()` clone (shared SparkContext, own runtime conf scope)
    * with the runtime entries of [[requiredConfs]] re-set, for contexts
    * built without them. Static entries are skipped: they are fixed at
    * context start, and setting one on a live session throws. The clone
    * shares its parent's executor class loader (artifact isolation is
    * off), so a query it runs reuses the classes the parent compiled.
    */
  def cloneSession(s: SparkSession): SparkSession = {
    val ss = s.newSession()
    requiredConfs.foreach { case (k, v) => if (!SQLConf.isStaticConfigKey(k)) ss.conf.set(k, v) }
    ss
  }

  /** Epoch-long → µs, the unit inferred per value from its MAGNITUDE:
    * for any instant between 1973 and ~5138, seconds ≈ 1e9-1e11,
    * millis ≈ 1e12-1e14, micros ≈ 1e15-1e17, nanos ≥ 1e17 — the bands
    * are disjoint, so a single-unit file (the only kind a writer
    * produces) converts correctly WHICHEVER unit the driver re-encodes
    * to next. Round 7 shipped nanos; a future micros-long or
    * millis-long re-encode would previously have been silently divided
    * by 1000 and shifted the time axis 1000x (the exact failure class
    * `nanosAsLong` guards) — now each lands in its own band.
    * Sub-second precision of the original instant is preserved (integer
    * µs arithmetic, no double rounding).
    */
  private def epochLongToMicros(c: String) = expr(
    s"""CASE WHEN $c >= 100000000000000000 THEN $c div 1000
             WHEN $c >=    100000000000000 THEN $c
             WHEN $c >=       100000000000 THEN $c * 1000
             ELSE $c * 1000000 END""")

  /** Normalize an events-shaped `ts` column to session-TZ `TimestampType`
    * whatever the file encoding was:
    *   - TIMESTAMP(NANOS) via `nanosAsLong` → LongType nanos → integer-divide
    *     to µs (the data's actual precision; no double rounding) — unit
    *     inferred by magnitude ([[epochLongToMicros]]), so micros/millis
    *     longs normalize too;
    *   - TIMESTAMP(MICROS, NTZ) → TimestampNTZType → cast, value-preserving
    *     under the pinned UTC session time zone;
    *   - TIMESTAMP (adjusted-to-UTC) → already TimestampType, no-op.
    * Every consumer (batch via [[load]], streaming via the catalog's staged
    * reader) must funnel through here so a driver-side re-encode of the
    * testdata cannot silently shift the time axis again.
    * TestdataContractSpec additionally asserts the normalized VALUES land
    * in a plausible epoch range, so a band miss fails loudly, not as a
    * scaled time axis.
    */
  def normalizeTs(df: DataFrame): DataFrame =
    if (!df.schema.fieldNames.contains("ts")) df
    else df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(epochLongToMicros("ts")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast("timestamp"))
      case _                => df
    }

  /** Other driver tables carrying event-time columns that a nanos-long
    * re-encode (the round-7 breakage class) would zero: absorb ONLY the
    * long encoding for these — their current timestamp form (NTZ today)
    * is already what every query and oracle agrees on, so it passes
    * through untouched.
    */
  private val longTsColumns: Map[String, Seq[String]] = Map(
    "orders" -> Seq("o_orderdate"), "lineitem" -> Seq("l_shipdate"))

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    if (name == "events") normalizeTs(df)
    else longTsColumns.getOrElse(name, Nil).foldLeft(df) { (d, c) =>
      if (d.schema.fieldNames.contains(c) && d.schema(c).dataType == LongType)
        d.withColumn(c, timestamp_micros(epochLongToMicros(c)))
      else d
    }
  }

  def lineitem(spark: SparkSession, d: String): DataFrame   = load(spark, d, "lineitem")
  def orders(spark: SparkSession, d: String): DataFrame     = load(spark, d, "orders")
  def customer(spark: SparkSession, d: String): DataFrame   = load(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame   = load(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame       = load(spark, d, "part")
  def nation(spark: SparkSession, d: String): DataFrame     = load(spark, d, "nation")
  def region(spark: SparkSession, d: String): DataFrame     = load(spark, d, "region")
  def events(spark: SparkSession, d: String): DataFrame     = load(spark, d, "events")
  def documents(spark: SparkSession, d: String): DataFrame  = load(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = load(spark, d, "embeddings")

  /** Register all tables as temp views (the engine's "catalog crawler":
    * SURVEY §2.1 S12 — the reference runs a Glue Crawler; here registration
    * is a catalog call, partition discovery is automatic).
    */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
}
