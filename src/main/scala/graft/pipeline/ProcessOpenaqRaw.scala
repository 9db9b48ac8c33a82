package graft.pipeline

import graft.Tables
import org.apache.spark.sql.SparkSession

/** CLI twin of the reference Glue job (`glue_jobs/process_openaq_raw.py`),
  * keeping its parameter names (`--input_path`, `--output_path`, `--env`,
  * `--partition_cols`) so launch scripts port unchanged:
  *
  * {{{
  * sbt "runMain graft.pipeline.ProcessOpenaqRaw \
  *   --input_path /data/aq_raw --output_path /data/marts/vietnam \
  *   --env dev --partition_cols year,month,day"
  * }}}
  *
  * `--write_mode` picks the sink mode (default `append`, the reference's
  * duplicate-on-rerun behavior; `overwrite-dynamic` for idempotent
  * reruns). A bad command line exits with code 2 and [[usage]] before any
  * session starts.
  */
object ProcessOpenaqRaw {

  val usage: String = "usage: ProcessOpenaqRaw --input_path <dir> --output_path <dir>" +
    " [--env <name>] [--partition_cols <col,col,...>] [--write_mode <mode>]"

  private val flags = Set("input_path", "output_path", "env", "partition_cols", "write_mode")

  /** Validates the command line; every rejection is an
    * IllegalArgumentException that names the offending argument and ends
    * in [[usage]].
    */
  def parseArgs(args: Array[String]): Schemas.JobConfig = {
    def fail(msg: String): Nothing = throw new IllegalArgumentException(s"$msg\n$usage")
    def pairs(rest: List[String]): List[(String, String)] = rest match {
      case Nil => Nil
      case f :: _ if !f.startsWith("--") => fail(s"expected a --flag, got: $f")
      case f :: _ if !flags(f.drop(2)) => fail(s"unknown flag: $f")
      case f :: v :: tail if !v.startsWith("--") => (f.drop(2) -> v) :: pairs(tail)
      case f :: _ => fail(s"flag without a value: $f")
    }
    val kv = pairs(args.toList).toMap
    val missing = Seq("input_path", "output_path").filterNot(kv.contains)
    if (missing.nonEmpty) fail(s"missing required flag: ${missing.map("--" + _).mkString(", ")}")
    try Schemas.JobConfig(
      inputPath = kv("input_path"),
      outputPath = kv("output_path"),
      env = kv.getOrElse("env", "dev"),
      partitionCols = kv.get("partition_cols")
        .map(_.split(",", -1).toSeq).getOrElse(Seq("year", "month", "day")),
      writeMode = kv.getOrElse("write_mode", "append"))
    catch { case e: IllegalArgumentException => fail(e.getMessage) }
  }

  def main(args: Array[String]): Unit = {
    val cfg =
      try parseArgs(args)
      catch { case e: IllegalArgumentException => System.err.println(e.getMessage); sys.exit(2) }
    val b = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("process-openaq-raw")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
    Tables.requiredConfs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    Log.start(s"Glue-equivalent transform job (env=${cfg.env})")
    try {
      val (_, m) = OpenAqPipeline.run(spark, cfg)
      Log.ok(s"Read ${m.rawCount} raw records from ${cfg.inputPath}")
      Log.ok(s"Deduplicated to ${m.dedupCount} records")
      Log.ok(s"Enriched mart rows: ${m.enrichedCount}")
      Log.ok(s"Null audit clean: ${m.nullAudit}")
      Log.success(s"Wrote partitioned mart to ${cfg.outputPath}")
    } catch {
      case e: Throwable =>
        Log.fail(s"Job failed: ${e.getMessage}")
        throw e
    } finally spark.stop()
  }
}
