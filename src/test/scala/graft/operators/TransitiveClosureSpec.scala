package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Path-doubling closure: the Spark jobs each doubling round costs. */
class TransitiveClosureSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  /** A directed chain of `n` nodes, 0 -> 1 -> ... -> (n-1). */
  private def chain(n: Int) = {
    val s = spark
    import s.implicits._
    (0L until n - 1L).map(i => (i, i + 1)).toDF("s", "d")
  }

  test("each extra doubling round runs six Spark jobs") {
    // After round r the frame holds every path of length <= 2^r, and one
    // more round sees no new pair: a chain of diameter 2^m converges in
    // m + 1 rounds, so chains of 3 and 33 nodes (diameters 2 and 32)
    // differ by 4 rounds. AQE submits each shuffle-map and broadcast stage
    // as its own job (local[4], AQE on); a checkpoint made eager adds a
    // job per round, four in all.
    def jobs(n: Int): Int = graft.JobCounter(spark) {
      TransitiveClosure.reach(chain(n), "s", "d").collect()
    }._2
    val (short, long) = (jobs(3), jobs(33))
    assert(long - short == 4 * 6,
      s"3-node chain: $short jobs, 33-node chain: $long")
  }
}
