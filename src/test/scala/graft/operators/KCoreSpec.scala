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

  test("each extra peel round runs eight Spark jobs") {
    // With k = 2 every round removes the two endpoints of the remaining
    // path, and one more round removes nothing: an n-node path (n even)
    // takes n / 2 + 1 rounds, so paths of 12 and 24 nodes differ by 6
    // rounds. AQE submits each shuffle-map and broadcast stage as its own
    // job (local[4], AQE on), and now and then one job more in a run, so
    // the pin allows two jobs of slack; a checkpoint made eager adds a
    // job per round, six in all.
    def jobs(n: Int): Int = graft.JobCounter(spark) {
      KCore.peel(path(n), "a", "b", k = 2).collect()
    }._2
    val (short, long) = (jobs(12), jobs(24))
    assert(math.abs(long - short - 6 * 8) <= 2,
      s"12-node path: $short jobs, 24-node path: $long")
  }
}
