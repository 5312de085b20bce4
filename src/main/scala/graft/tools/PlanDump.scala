package graft.tools

/** Dev-only: write `.explain("formatted")` of named queries to files —
  * the plans/r12 evidence trail. Usage:
  *   PlanDump <name>[,<name>...] <outDir> <suffix>
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS as in Bench.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).toSeq
    val outDir = args(1)
    val suffix = args(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.001")
    val spark = graft.GraftSession.builder("graft-plan-dump").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        val p = new java.io.PrintWriter(s"$outDir/${name}_$suffix.txt")
        try p.println(txt) finally p.close()
        println(s"PLANDUMP OK $name")
      } catch {
        case e: Throwable =>
          println(s"PLANDUMP FAIL $name: ${e.getMessage}")
      } finally spark.catalog.clearCache()
    }
    spark.stop()
  }
}
