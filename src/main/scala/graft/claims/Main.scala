package graft.claims

/** CLI entry point, same contract as the reference script
  * (claim_pipeline.py:235-242): `Main <file> [<file> …]`, usage + exit 1
  * when no inputs are given. `spark-submit`-able.
  *
  * Every input is read with a parallel multi-split scan (16 MB splits so
  * even one large file fans out). The candidates are then put back in the
  * reference's input order on the driver, which keeps byte-level
  * reference parity.
  *
  * The library's bug-compat parity modes (SURVEY §2.3 S9/S11) are
  * reachable from the CLI too, so the reference's outputs reproduce
  * byte-for-byte without writing Scala:
  *  - `GRAFT_BUG_COMPAT_METRICS=true` reproduces the reference's
  *    swallowed-KeyError metrics counters (claim_pipeline.py:198-205),
  *    e.g. `malformed: 5` on the sample data.
  *  - `GRAFT_BUG_COMPAT_FILE_ABORT=true` reproduces the mid-file abort
  *    (claim_pipeline.py:213-215).
  */
object Main {
  /** The CLI's environment contract, separated for testability. */
  def configFromEnv(env: Map[String, String]): PipelineConfig = {
    def flag(name: String): Boolean =
      env.getOrElse(name, "false").toBoolean
    PipelineConfig(
      bugCompatMetrics = flag("GRAFT_BUG_COMPAT_METRICS"),
      bugCompatFileAbort = flag("GRAFT_BUG_COMPAT_FILE_ABORT"))
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 1) {
      Console.err.println(
        "Usage error: graft.claims.Main <emr_alpha.csv> [emr_beta.json ...]")
      sys.exit(1)
    }
    val config = Main.configFromEnv(sys.env)
    val spark = graft.GraftSession
      .builder("graft-claim-pipeline", master = sys.env.get("SPARK_MASTER"))
      .config("spark.sql.files.maxPartitionBytes", 16L * 1024 * 1024)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val result = ClaimPipeline.run(spark, args.toSeq, config = config)
      println(s"Output saved to ${result.outputPath}")
      println(result.metrics.render)
    } finally spark.stop()
  }
}
