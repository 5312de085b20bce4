package graft.tools

import org.apache.spark.sql.execution.FormattedMode

/** Dev utility: print the load-bearing physical-plan lines (pushdown,
  * read schema, join strategy, codegen/exchange structure) for selected
  * queries — the `.explain("formatted")` audit loop the scale design
  * depends on. Run: sbt "runMain graft.tools.PlanAudit [queryName ...]".
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.builder("graft-plan-audit").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names =
      if (args.nonEmpty) args.toSeq
      else Seq("q2_revenue_filter", "q4_nation_revenue", "q1_pricing_summary",
        "s1_cosine_topk", "d4_minhash_pairs")
    for (q <- names) {
      println(s"===== $q =====")
      val plan = graft.SparkEntry.queries(q)(spark, dir)
        .queryExecution.explainString(FormattedMode)
      plan.split("\n").filter(l =>
        l.contains("PushedFilters") || l.contains("ReadSchema") ||
          l.contains("BroadcastHashJoin") || l.contains("SortMergeJoin") ||
          l.contains("WholeStageCodegen") || l.contains("Exchange") ||
          l.matches("^\\(\\d+\\) .*"))
        .take(50).foreach(println)
    }
    spark.stop()
  }
}
