package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** k-core peel: onion layers on a path, and the Spark jobs each peel round
  * costs.
  */
class KCoreSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  /** An undirected path of `n` nodes, 0 - 1 - ... - (n-1). */
  private def path(n: Int) = {
    val s = spark
    import s.implicits._
    (0L until n - 1L).map(i => (i, i + 1)).toDF("a", "b")
  }

  test("k = 2 peels a path from both ends, one layer per round") {
    val got = KCore.peel(path(6), "a", "b", k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(0L -> 1L, 5L -> 1L, 1L -> 2L, 4L -> 2L,
      2L -> 3L, 3L -> 3L))
  }

  /** Sequential peel: each round removes every alive node with fewer
    * than `k` edges to alive nodes (duplicate edges and self-loops
    * count as they appear in the symmetrized list).
    */
  private def seqPeel(edges: Seq[(Long, Long)], k: Int): Map[Long, Option[Long]] = {
    val sym = edges ++ edges.map(_.swap)
    val nodes = sym.map(_._1).distinct
    var peeled = Map.empty[Long, Long]
    var r = 0L
    var removed = true
    while (removed) {
      r += 1
      val alive = nodes.filterNot(peeled.contains).toSet
      val deg = sym.filter(e => alive(e._1) && alive(e._2)).groupBy(_._1)
        .map { case (a, es) => a -> es.size }
      val out = alive.filter(v => deg.getOrElse(v, 0) < k)
      peeled ++= out.map(_ -> r)
      removed = out.nonEmpty
    }
    nodes.map(v => v -> peeled.get(v)).toMap
  }

  test("matches a sequential peel on randomized graphs") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(5)
    for (trial <- 0 until 4) {
      val n = 8 + rnd.nextInt(12)
      val edges = (0 until 2 * n).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val k = 1 + rnd.nextInt(3)
      val got = KCore.peel(edges.toDF("a", "b"), "a", "b", k)
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
      assert(got === seqPeel(edges, k), s"trial $trial (n=$n, k=$k)")
    }
  }

  test("each extra peel round runs six Spark jobs") {
    // With k = 2 every round removes the two endpoints of the remaining
    // path, and one more round removes nothing: an n-node path (n even)
    // takes n / 2 + 1 rounds, so paths of 12 and 24 nodes differ by 6
    // rounds. AQE submits each shuffle-map and broadcast stage as its own
    // job (local[4], AQE on); a checkpoint made eager adds a job per
    // round, and a step whose job count races adds one now and then.
    def jobs(n: Int): Int = graft.JobCounter(spark) {
      KCore.peel(path(n), "a", "b", k = 2).collect()
    }._2
    val (short, long) = (jobs(12), jobs(24))
    assert(long - short == 6 * 6,
      s"12-node path: $short jobs, 24-node path: $long")
  }
}
