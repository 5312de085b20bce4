package graft.tools

/** Whole-inventory physical-plan census: one row per driver query with
  * the operator counts that decide 100 TB viability (shuffle exchanges,
  * join strategies, windows, cartesian products). Emitted as
  * PLAN_SURVEY.md so a reviewer can audit the scale posture of all ~111
  * queries without re-running `.explain` by hand; PlanShapeSpec pins the
  * load-bearing rows, this artifact shows the whole field.
  *
  * Usage: sbt "runMain graft.tools.PlanSurvey [sfDir] [outFile]"
  */
object PlanSurvey {
  /** Count of Window operators with an EMPTY partition spec — each is a
    * single-task sort of its whole input at scale. Recurses through
    * AdaptiveSparkPlanExec (whose inner tree `collect` does not visit)
    * so AQE cannot hide a global window from the census.
    */
  def unpartitionedWindows(
      plan: org.apache.spark.sql.execution.SparkPlan): Int = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    val self = plan match {
      case w: WindowExec if w.partitionSpec.isEmpty
          // GlobalPrefixSum's offsets walk orders its per-partition
          // totals frame (<= shuffle-partition-count rows) by _gps_pid:
          // bounded by construction, not a data-grain sort. The
          // exemption requires a NON-EMPTY _gps_-only orderSpec — an
          // empty orderSpec vacuously satisfies forall but is still a
          // single-task window and must stay in the census.
          && !(w.orderSpec.nonEmpty && w.orderSpec.forall(_.child.references
            .forall(_.name.startsWith("_gps_")))) => 1
      case _ => 0
    }
    val nested = plan match {
      case a: AdaptiveSparkPlanExec => unpartitionedWindows(a.executedPlan)
      case _ => 0
    }
    self + nested + plan.children.map(unpartitionedWindows).sum
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("PLAN_SURVEY.md")
    // local[4] on every host, so PLAN_SURVEY.md does not depend on nproc
    val spark = graft.GraftSession.builder("graft-plan-survey", cpus = 4)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val rows = graft.SparkEntry.queries.toSeq.sortBy(_._1).map {
      case (name, fn) =>
        // The PRE-execution plan: structural counts as the optimizer
        // planned them, not inflated by AQE's per-stage re-listing.
        // single-task windows: every row through one thread — the q38
        // anti-pattern. Counted on the typed tree (through AQE);
        // PlanShapeSpec pins the allowlist (calendar/support-bounded
        // frames only).
        val (plan, unpartWin) =
          try {
            val exec = fn(spark, sfDir).queryExecution.executedPlan
            (exec.toString, unpartitionedWindows(exec))
          }
          catch { case e: Throwable => (s"ERROR ${e.getMessage}", 0) }
          finally spark.catalog.clearCache()
        def c(pat: String) = pat.r.findAllIn(plan).length
        val hashEx = c("Exchange hashpartitioning")
        val rangeEx = c("Exchange rangepartitioning")
        val bhj = c("BroadcastHashJoin")
        val shufJoin = c("SortMergeJoin") + c("ShuffledHashJoin")
        val bnlj = c("BroadcastNestedLoopJoin")
        val win = c("\\bWindow \\[") + c("\\bWindow\\b \\(")
        val cart = c("CartesianProduct")
        val pushed = plan.contains("PushedFilters: [") &&
          !plan.contains("PushedFilters: []")
        Seq(name, hashEx, rangeEx, bhj, shufJoin, bnlj, win, unpartWin,
          cart, if (pushed) "y" else "")
    }
    val header = Seq("query", "hashEx", "rangeEx", "bcastJoin", "shufJoin",
      "bnlJoin", "window", "unpartWin", "cartesian", "pushed")
    val md = new StringBuilder
    md ++= "# Physical-plan census (generated by graft.tools.PlanSurvey)\n\n"
    md ++= s"Scale dir: `$sfDir`. Counts of plan operators per driver "
    md ++= "query; `cartesian` must stay 0 everywhere (PlanShapeSpec "
    md ++= "enforces it), `shufJoin` > 0 only where a genuine fact-fact "
    md ++= "join exists, range exchanges come from output ORDER BY. "
    md ++= "Iterative pipelines that eagerly checkpoint (d8/d12 label "
    md ++= "propagation, q64's rank loop) surface only their post-"
    md ++= "checkpoint tail here — their per-iteration shape is pinned "
    md ++= "by their own specs instead.\n\n"
    md ++= header.mkString("| ", " | ", " |\n")
    md ++= header.map(_ => "---").mkString("| ", " | ", " |\n")
    rows.foreach(r => md ++= r.mkString("| ", " | ", " |\n"))
    val carts = rows.count(_(8) != 0)
    val uws = rows.count(_(7) != 0)
    md ++= s"\nTotals: ${rows.length} queries, $carts with cartesian " +
      s"products, $uws with unpartitioned windows.\n"
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      md.toString.getBytes("UTF-8"))
    println(s"wrote $out (${rows.length} queries)")
    spark.stop()
  }
}
