package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The driver-side HITS must give exactly the rows of the Spark
  * formulation it replaced (kept below as the reference), on randomized
  * graphs and on the edge cases of that formulation's joins: an edge
  * into a node outside the node set, a source outside it, null and
  * repeated node ids, a half-step with no contribution, and a total
  * below Scale, which divides by zero.
  */
class HitsSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  /** The Spark formulation: per half-step one broadcast join, one sum
    * per node, one total, and an eager checkpoint.
    */
  private def reference(edges: DataFrame, nodes: DataFrame,
      iters: Int): DataFrame = {
    val Scale = Hits.Scale
    val nodeCol = nodes.columns.head
    val e = edges.select(col("src"), col("dst"), col("w"))
      .localCheckpoint(true)
    val ns = nodes.select(col(nodeCol).as("node")).localCheckpoint(true)
    var hub = ns.withColumn("h", lit(Scale))
    var auth = ns.withColumn("a", lit(Scale))
    for (_ <- 1 to iters) {
      val araw = e
        .join(broadcast(hub), col("node") === col("src"))
        .select(col("dst"),
          expr("cast(h as decimal(38,0)) * w").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("araw"))
      val atot = araw.agg(sum(col("araw")).as("ta"))
      auth = ns
        .join(broadcast(araw), col("node") === col("dst"), "left")
        .crossJoin(broadcast(atot))
        .select(col("node"),
          expr(s"cast(coalesce(araw, 0) div (ta div $Scale) as bigint)")
            .as("a"))
        .localCheckpoint(true)
      val hraw = e
        .join(broadcast(auth), col("node") === col("dst"))
        .select(col("src"),
          expr("cast(a as decimal(38,0)) * w").as("c"))
        .groupBy("src").agg(sum(col("c")).as("hraw"))
      val htot = hraw.agg(sum(col("hraw")).as("th"))
      hub = ns
        .join(broadcast(hraw), col("node") === col("src"), "left")
        .crossJoin(broadcast(htot))
        .select(col("node"),
          expr(s"cast(coalesce(hraw, 0) div (th div $Scale) as bigint)")
            .as("h"))
        .localCheckpoint(true)
    }
    hub.join(auth, "node")
      .select(col("node"), col("h").as("hub"), col("a").as("authority"))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def same(edges: DataFrame, nodes: DataFrame, iters: Int): Unit = {
    val got = Hits.scores(edges, nodes, iters)
    val want = reference(edges, nodes, iters)
    assert(got.schema === want.schema)
    assert(rows(got) === rows(want), s"iters=$iters")
  }

  private def causes(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq

  test("matches the Spark formulation on randomized graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    for (_ <- 0 until 3) {
      val n = 5 + rnd.nextInt(8)
      // weights >= 2 keep every total above Scale (see the zero-divisor
      // test); a few sources lie outside the node set
      val edges = (0 until 3 * n).map { _ =>
        (rnd.nextInt(n + 2).toLong, rnd.nextInt(n).toLong,
          (2 + rnd.nextInt(40)).toLong)
      }.distinct
      same(edges.toDF("src", "dst", "w"), (0L until n.toLong).toDF("id"),
        1 + rnd.nextInt(4))
    }
  }

  test("an edge into a node outside the set counts in the total and is lost") {
    import spark.implicits._
    val nodes = (0L to 3L).toDF("id")
    val edges = Seq((0L, 1L, 30L), (1L, 2L, 20L), (2L, 0L, 40L),
      (2L, 3L, 20L), (3L, 8L, 60L), (9L, 1L, 50L)).toDF("src", "dst", "w")
    same(edges, nodes, 3)
    // node 8 draws authority mass that no node in the set receives
    val auth = Hits.scores(edges, nodes, 1).collect().map(_.getLong(2)).sum
    assert(auth < Hits.Scale * 3 / 4, s"authority mass $auth")
  }

  test("repeated and null node ids join as the Spark formulation does") {
    import spark.implicits._
    val nodes = Seq(Some(1L), Some(2L), Some(2L), None, Some(3L)).toDF("id")
    val edges = Seq((1L, 2L, 7L), (2L, 3L, 5L), (3L, 1L, 9L), (3L, 2L, 4L))
      .toDF("src", "dst", "w")
    same(edges, nodes, 2)
  }

  test("a half-step without any contribution gives null scores") {
    import spark.implicits._
    same(Seq((5L, 1L, 3L), (6L, 2L, 4L)).toDF("src", "dst", "w"),
      Seq(1L, 2L).toDF("id"), 2)
  }

  test("a total below Scale divides by zero and throws, as the Spark " +
      "formulation does") {
    import spark.implicits._
    // A weight-1 cycle of three: the authority half-step truncates each
    // score to Scale / 3, so the hub total is Scale - 1 and its divisor
    // (th div Scale) is zero.
    val edges = Seq((0L, 1L, 1L), (1L, 2L, 1L), (2L, 0L, 1L))
      .toDF("src", "dst", "w")
    val nodes = Seq(0L, 1L, 2L).toDF("id")
    for (run <- Seq[() => Unit](() => reference(edges, nodes, 1).collect(),
        () => Hits.scores(edges, nodes, 1).collect())) {
      val e = intercept[Exception](run())
      assert(causes(e).exists(_.isInstanceOf[ArithmeticException]), e)
      assert(causes(e).exists(c => String.valueOf(c.getMessage)
        .contains("DIVIDE_BY_ZERO")), e)
    }
  }

  test("the round count does not change the number of Spark jobs") {
    import spark.implicits._
    val raw = Seq((0L, 1L), (0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L), (3L, 1L))
      .toDF("src", "dst")
    // a condensed edge list, as the callers pass it: aggregated, not local
    val edges = raw.groupBy("src", "dst").agg((count(lit(1)) * 3).as("w"))
    val nodes = (0L to 4L).toDF("id")
    def jobs(iters: Int): Int =
      graft.JobCounter(spark)(Hits.scores(edges, nodes, iters).collect())._2
    val (one, six) = (jobs(1), jobs(6))
    assert(one == six, s"iters=1 ran $one jobs, iters=6 ran $six")
    same(edges, nodes, 6)
  }
}
