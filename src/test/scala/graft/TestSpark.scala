package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole forked test JVM, pinned at
  * `local[4]` whatever `SPARK_GRAFT_CPUS` says: the job-count pins in
  * `ConnectedComponentsSpec` and `PageRankSpec` depend on it.
  */
object TestSpark {
  lazy val spark: SparkSession =
    GraftSession.builder("graft-tests", cpus = 4).getOrCreate()

  /** Sets the confs for `body` and restores them: the session is shared. */
  def withConfs[T](kv: (String, String)*)(body: => T): T = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
