package graft

import org.apache.spark.sql.SparkSession

/** The engine's one session posture. The claims CLI, `Verify`, `Bench`,
  * the plan tools and the test suite all build their SparkSession here
  * and add only what is truly their own.
  */
object GraftSession {
  /** A builder for `local[cpus]` (or `master`) with `cpus` shuffle
    * partitions, the UTC session zone, no UI, and the engine's SQL
    * functions, NFC rule and as-of join strategy installed. `cpus` is
    * `SPARK_GRAFT_CPUS`, or the JVM's available processors when unset.
    *
    * The AQE min-partition-size floor is left at Spark's 1 MiB. Round 13
    * A/B-tested a 64k floor: d11 gains about 0.8 s under it, but the
    * walk/audit queries carry 3x the tasks (s46: 855 vs 311) and the
    * s-family pays 1.3–1.8 s each, so the default wins across the suite.
    */
  def builder(appName: String, master: Option[String] = None,
      cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors)): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .master(master.getOrElse(s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // clearCache() frees persist()s but NOT localCheckpoint blocks
      // (graph/ANN queries checkpoint per round); the context cleaner
      // frees those only after a GC proves the RDDs unreachable —
      // default 30min never fires inside a suite, so force it often
      .config("spark.cleaner.periodicGC.interval", "2min")
      .withExtensions(new functions.GraftExtensions)
}
