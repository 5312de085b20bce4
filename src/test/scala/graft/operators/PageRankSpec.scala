package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Differential tests: the distributed integer PageRank must agree
  * EXACTLY (same integers, not approximately) with an independent
  * single-threaded model on randomized graphs, and conserve mass up to
  * integer-truncation loss.
  */
class PageRankSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  /** Plain-Scala reference: same scaled-integer semantics, sequential. */
  private def reference(nodes: Seq[Long], edges: Seq[(Long, Long, Long)],
      iters: Int): Map[Long, Long] = {
    val n = nodes.length
    val init = PageRank.Scale / n
    val teleport = (PageRank.Scale * 15L / 100L) / n
    val outw = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
    var r = nodes.map(_ -> init).toMap
    for (_ <- 1 to iters) {
      val contrib = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      edges.foreach { case (s, d, w) =>
        contrib(d) += (r(s) * w) / outw(s)
      }
      val dang = nodes.filterNot(outw.contains).map(r).sum
      r = nodes.map(v =>
        v -> (teleport + (850L * (contrib(v) + dang / n)) / 1000L)).toMap
    }
    r
  }

  test("matches the sequential model exactly on randomized graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    for (trial <- 0 until 3) {
      val n = 8 + rnd.nextInt(8)
      val nodes = (0L until n.toLong).toSeq
      val edges = (0 until 3 * n).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong,
          (1 + rnd.nextInt(9)).toLong)
      }.distinct.filter { case (s, d, _) => s != d }
      val iters = 1 + rnd.nextInt(4)
      val got = PageRank.ranks(
          edges.toDF("src", "dst", "w"), nodes.toDF("id"), iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = reference(nodes, edges, iters)
      assert(got == want, s"trial $trial (n=$n, iters=$iters) diverged")
    }
  }

  test("mass conserves up to truncation loss; dangling nodes keep teleport+share") {
    import spark.implicits._
    // star graph: node 0 -> everyone, everyone else dangling
    val nodes = (0L to 9L).toDF("id")
    val edges = (1L to 9L).map(d => (0L, d, 1L)).toDF("src", "dst", "w")
    val got = PageRank.ranks(edges, nodes, 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val mass = got.values.sum
    assert(mass <= PageRank.Scale && mass > PageRank.Scale * 99 / 100,
      s"mass $mass out of band")
    // spokes all receive identically (symmetry), hub receives only the
    // dangling share + teleport
    val spokeRanks = (1L to 9L).map(got).toSet
    assert(spokeRanks.size == 1, "symmetric spokes diverged")
    assert(got(0L) < spokeRanks.head, "hub should rank below spokes here")
  }

  test("huge edge weights (rank·w past Long.MAX) run exactly via the decimal path") {
    import spark.implicits._
    // w = 1e9 with rank mass ~5e11 per node puts r·w ≈ 5e20 — 50× past
    // Long.MAX. The decimal(38,0) multiply must neither throw (ANSI)
    // nor wrap; the BigInt sequential model is the exact oracle.
    val nodes = (0L to 3L).toSeq
    val edges = Seq((0L, 1L, 1000000000L), (1L, 2L, 2000000000L),
      (2L, 0L, 1500000000L), (3L, 0L, 900000000L))
    val got = PageRank.ranks(
        edges.toDF("src", "dst", "w"), nodes.toDF("id"), 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = nodes.length
    val init = BigInt(PageRank.Scale / n)
    val teleport = BigInt((PageRank.Scale * 15L / 100L) / n)
    val outw = edges.groupBy(_._1).map { case (s, es) => s -> BigInt(es.map(_._3).sum) }
    var r = nodes.map(_ -> init).toMap
    for (_ <- 1 to 3) {
      val contrib = collection.mutable.Map.empty[Long, BigInt].withDefaultValue(BigInt(0))
      edges.foreach { case (s, d, w) => contrib(d) += (r(s) * w) / outw(s) }
      val dang = nodes.filterNot(outw.contains).map(r).sum
      r = nodes.map(v =>
        v -> (teleport + (BigInt(850) * (contrib(v) + dang / n)) / 1000)).toMap
    }
    assert(got == r.map { case (k, v) => k -> v.toLong },
      "decimal-path ranks diverged from the BigInt model")
  }

  /** BigInt model over arbitrary node keys, with the operator's join
    * semantics: out-weight sums every edge of a source, a source outside
    * `nodes` has no rank to give, and a contribution to a destination
    * outside `nodes` is dropped.
    */
  private def model[K](nodes: Seq[K], edges: Seq[(Any, Any, Long)],
      iters: Int): Map[K, Long] = {
    val n = nodes.length
    val teleport = BigInt((PageRank.Scale * 15L / 100L) / n)
    val outw = edges.groupBy(_._1).map { case (s, es) => s -> BigInt(es.map(_._3).sum) }
    var r: Map[Any, BigInt] = nodes.map(v => (v: Any) -> BigInt(PageRank.Scale / n)).toMap
    for (_ <- 1 to iters) {
      val contrib = collection.mutable.Map.empty[Any, BigInt].withDefaultValue(BigInt(0))
      edges.foreach { case (s, d, w) =>
        r.get(s).foreach(rs => contrib(d) += (rs * w) / outw(s))
      }
      val dang = nodes.filterNot(v => outw.contains(v)).map(v => r(v)).sum
      r = nodes.map(v => (v: Any) ->
        (teleport + (BigInt(850) * (contrib(v) + dang / n)) / 1000)).toMap
    }
    nodes.map(v => v -> r(v).toLong).toMap
  }

  test("an edge from outside the node set adds out-weight but gives no rank") {
    import spark.implicits._
    val nodes = Seq(1L, 2L, 3L)
    // 9 -> 1 contributes nothing; 1 -> 9 and 1 -> 2 split node 1's rank
    // by out-weight 4, and 1 -> 9's quarter is dropped with its dst
    val edges = Seq((9L, 1L, 5L), (1L, 9L, 1L),
      (1L, 2L, 3L), (2L, 3L, 2L), (3L, 1L, 1L))
    val got = PageRank.ranks(edges.toDF("src", "dst", "w"), nodes.toDF("id"), 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == model(nodes, edges, 4))
    // node 1's dropped quarter leaves the graph, so mass falls below the
    // truncation-only loss band of the closed graphs
    assert(got.values.sum < PageRank.Scale * 95 / 100)
  }

  test("an edge into a node outside the node set drops its contribution") {
    import spark.implicits._
    val nodes = Seq(0L, 1L, 2L, 3L)
    val edges = Seq((0L, 1L, 2L), (0L, 7L, 2L),
      (1L, 2L, 1L), (2L, 0L, 1L), (2L, 8L, 3L))
    val got = PageRank.ranks(edges.toDF("src", "dst", "w"), nodes.toDF("id"), 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == nodes.toSet)
    assert(got == model(nodes, edges, 3))
  }

  test("Int node ids rank Long edge endpoints and keep the node column's type") {
    import spark.implicits._
    val nodes = Seq(10, 20, 30, 40, 50)
    val edges = Seq((10L, 20L, 3L), (20L, 30L, 1L),
      (30L, 10L, 2L), (30L, 40L, 5L), (40L, 10L, 1L), (60L, 50L, 4L))
    val out = PageRank.ranks(edges.toDF("src", "dst", "w"), nodes.toDF("id"), 3)
    assert(out.schema.map(_.dataType) ==
      Seq(org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.LongType))
    val got = out.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val want = model(nodes.map(_.toLong), edges, 3)
    assert(got == want.map { case (k, v) => k.toInt -> v })
  }

  test("String node ids over a symmetrized co-occurrence graph (the t51 shape)") {
    import spark.implicits._
    val nodes = Seq("claim", "denied", "resubmit", "payer", "code", "idle")
    val pairs = Seq(("claim", "denied", 4L), ("claim", "resubmit", 2L),
      ("denied", "payer", 1L), ("code", "denied", 3L), ("payer", "resubmit", 1L))
    val edges = pairs.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
    val got = PageRank.ranks(edges.toDF("src", "dst", "w"), nodes.toDF("tok"), 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == model(nodes, edges, 3))
  }

  test("the round count does not change the number of Spark jobs") {
    import spark.implicits._
    val raw = Seq((0L, 1L), (0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L), (3L, 1L))
      .toDF("src", "dst")
    // a condensed edge list, as the callers pass it: aggregated, not local
    val edges = raw.groupBy("src", "dst").agg(count(lit(1)).as("w"))
    val nodes = (0L to 4L).toDF("id")
    def jobs(iters: Int): Int =
      graft.JobCounter(spark)(PageRank.ranks(edges, nodes, iters).collect())._2
    val (one, six) = (jobs(1), jobs(6))
    assert(one == six, s"iters=1 ran $one jobs, iters=6 ran $six")
  }
}
