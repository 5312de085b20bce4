package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Differential tests: distributed BFS must agree exactly with a
  * sequential queue BFS on randomized graphs (directed and undirected),
  * including unreachable nodes (NULL) and the edgeless source.
  */
class BfsHopsSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  private def seqBfs(edges: Seq[(Long, Long)], source: Long): Map[Long, Long] = {
    val adj = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
    val dist = collection.mutable.Map(source -> 0L)
    val q = collection.mutable.Queue(source)
    while (q.nonEmpty) {
      val u = q.dequeue()
      adj.getOrElse(u, Nil).foreach { v =>
        if (!dist.contains(v)) { dist(v) = dist(u) + 1; q.enqueue(v) }
      }
    }
    dist.toMap
  }

  test("matches sequential BFS on randomized directed graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    for (trial <- 0 until 3) {
      val n = 10 + rnd.nextInt(15)
      val edges = (0 until 3 * n).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
      }.distinct.filter { case (s, d) => s != d }
      val got = BfsHops.hops(edges.toDF("s", "d"), "s", "d", source = 0L)
        .collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
        .toMap
      val want = seqBfs(edges, 0L)
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).toSet + 0L
      nodes.foreach { v =>
        assert(got(v) === want.getOrElse(v, -1L),
          s"trial $trial node $v (directed)")
      }
    }
  }

  test("undirected flag symmetrizes; chain graph distances are exact") {
    import spark.implicits._
    // path 0-1-2-...-9 given only ascending edges
    val edges = (0L until 9L).map(i => (i, i + 1))
    val got = BfsHops
      .hops(edges.toDF("s", "d"), "s", "d", source = 5L, undirected = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L to 9L).foreach(v => assert(got(v) === math.abs(v - 5L)))
  }

  test("edgeless source still reports distance 0; others unreachable") {
    import spark.implicits._
    val edges = Seq((7L, 8L))
    val got = BfsHops.hops(edges.toDF("s", "d"), "s", "d", source = 0L)
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    assert(got(0L) === 0L && got(7L) === -1L && got(8L) === -1L)
  }

  test("each extra BFS iteration runs six Spark jobs") {
    import spark.implicits._
    // A directed k-node chain from source 0 settles one node per
    // iteration and needs one more to see no change: k iterations, so
    // chains of 6 and 12 nodes differ by 6. The lazy checkpoint folds its
    // materialization into the convergence count, but AQE submits each
    // shuffle-map and broadcast stage as its own job (local[4], AQE on).
    def jobs(k: Int): Int = graft.JobCounter(spark) {
      BfsHops.hops((0L until k - 1L).map(i => (i, i + 1)).toDF("s", "d"),
        "s", "d", source = 0L).collect()
    }._2
    val (short, long) = (jobs(6), jobs(12))
    assert(long - short == 6 * 6,
      s"6-node chain: $short jobs, 12-node chain: $long")
  }

  test("each extra all-pairs round runs four Spark jobs") {
    import spark.implicits._
    // An undirected n-node path has diameter n - 1; the reached-pair
    // frame grows for n - 1 rounds and one more sees no new pair, so
    // paths of 6 and 12 nodes differ by 6 rounds.
    def jobs(n: Int): Int = graft.JobCounter(spark) {
      BfsHops.allPairs((0L until n - 1L).map(i => (i, i + 1)).toDF("a", "b"),
        "a", "b").collect()
    }._2
    val (short, long) = (jobs(6), jobs(12))
    assert(long - short == 6 * 4,
      s"6-node path: $short jobs, 12-node path: $long")
  }
}
