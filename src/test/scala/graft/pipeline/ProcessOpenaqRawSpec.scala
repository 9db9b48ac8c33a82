package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

/** [[ProcessOpenaqRaw.parseArgs]]: the Glue-style command line maps onto
  * [[Schemas.JobConfig]], and every malformed line is rejected by name,
  * with the usage line, before a session exists.
  */
class ProcessOpenaqRawSpec extends AnyFunSuite {
  private val io = Seq("--input_path", "/in", "--output_path", "/out")

  private def rejected(args: String*): String =
    intercept[IllegalArgumentException](ProcessOpenaqRaw.parseArgs(args.toArray)).getMessage

  test("parseArgs maps every flag and fills the Glue job defaults") {
    assert(ProcessOpenaqRaw.parseArgs(io.toArray) ==
      Schemas.JobConfig(inputPath = "/in", outputPath = "/out"))
    val all = ProcessOpenaqRaw.parseArgs((io ++ Seq("--env", "prod",
      "--partition_cols", "year,month", "--write_mode", "overwrite-dynamic")).toArray)
    assert(all == Schemas.JobConfig(inputPath = "/in", outputPath = "/out", env = "prod",
      partitionCols = Seq("year", "month"), writeMode = "overwrite-dynamic"))
  }

  test("parseArgs rejects unknown, dangling and stray arguments by name") {
    val cases = Seq(
      (io ++ Seq("--metrics", "observed")) -> "unknown flag: --metrics",
      (io :+ "--env") -> "flag without a value: --env",
      Seq("--input_path", "--output_path", "/out") -> "flag without a value: --input_path",
      (io :+ "extra") -> "expected a --flag, got: extra",
      Seq("/in", "/out") -> "expected a --flag, got: /in",
      Seq("--input_path", "/in") -> "missing required flag: --output_path",
      Seq() -> "missing required flag: --input_path, --output_path",
      (io ++ Seq("--write_mode", "upsert")) -> "unknown write mode 'upsert'",
      (io ++ Seq("--partition_cols", "year,,day")) -> "empty partition column name",
      (io ++ Seq("--partition_cols", "year,")) -> "empty partition column name")
    cases.foreach { case (args, msg) =>
      val m = rejected(args: _*)
      assert(m.contains(msg) && m.endsWith(ProcessOpenaqRaw.usage), s"$args -> $m")
    }
  }
}
