package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Tables.t

/** q354's driver-side rank loop: the same rows as the Spark formulation
  * it replaced (kept below as the reference), and a job count that does
  * not grow with the round count.
  */
class NationRankSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark
  private val Dir = "/root/testdata/sf0.001"
  private val PrScale = 1000000000000L

  /** The Spark formulation: per round one dangling-mass scalar job and
    * one edge ⋈ rank ⋈ degree join.
    */
  private def reference(spark: SparkSession, dir: String,
      iters: Int): DataFrame = {
    val edges = t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(t(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(spark, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey").as("src"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(spark, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey").as("dst"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("src").cast("long"), col("dst").cast("long"))
      .distinct()
      .localCheckpoint(true)
    val nodes = t(spark, dir, "nation")
      .select(col("n_nationkey").cast("long").as("node"))
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val nNodes = nodes.count()
    val base = (15L * PrScale) / (100L * nNodes)
    var rank = nodes.withColumn("pr", lit(PrScale / nNodes))
    for (_ <- 1 to iters) {
      val dang = rank.join(deg, rank("node") === deg("src"), "left_anti")
        .agg(coalesce(sum(col("pr")), lit(0L))).head.getLong(0)
      val dangShare = (85L * dang) / (100L * nNodes)
      val contrib = edges
        .join(rank, edges("src") === rank("node"))
        .join(deg, Seq("src"))
        .select(col("dst"), expr("(pr * 85) div (100 * deg)").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("inflow"))
      rank = nodes
        .join(contrib, nodes("node") === contrib("dst"), "left")
        .select(col("node"),
          (lit(base + dangShare) + coalesce(col("inflow"), lit(0L))).as("pr"))
    }
    rank.orderBy("node")
  }

  test("matches the Spark formulation for one to four rounds") {
    for (iters <- 1 to 4) {
      val got = Analytics141.nationRanks(spark, Dir, iters)
      val want = reference(spark, Dir, iters)
      assert(got.schema === want.schema)
      assert(got.collect().toSeq === want.collect().toSeq, s"iters=$iters")
    }
  }

  test("the round count does not change the number of Spark jobs") {
    def jobs(iters: Int): Int = graft.JobCounter(spark)(
      Analytics141.nationRanks(spark, Dir, iters).collect())._2
    val (one, six) = (jobs(1), jobs(6))
    assert(one == six, s"iters=1 ran $one jobs, iters=6 ran $six")
  }
}
