package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole forked test JVM, pinned at
  * `local[4]` whatever `SPARK_GRAFT_CPUS` says: the job-count pins in
  * `ConnectedComponentsSpec` and `PageRankSpec` depend on it.
  */
object TestSpark {
  lazy val spark: SparkSession =
    GraftSession.builder("graft-tests", cpus = 4).getOrCreate()
}
