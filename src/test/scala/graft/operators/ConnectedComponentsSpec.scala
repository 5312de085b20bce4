package graft.operators

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Differential test of min-label propagation against a plain union-find
  * model on random graphs — covers chains (worst-case diameter),
  * cliques, isolated edges and self-loops.
  */
class ConnectedComponentsSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("random graphs: labels equal union-find components") {
    import spark.implicits._
    val genEdge = for {
      a <- Gen.chooseNum(0L, 60L)
      b <- Gen.chooseNum(0L, 60L)
    } yield (a, b)
    val graphs = Gen.listOfN(8, Gen.chooseNum(1, 40).flatMap(n =>
      Gen.listOfN(n, genEdge)))
      .apply(Gen.Parameters.default, Seed(21L)).get

    graphs.zipWithIndex.foreach { case (edges, gi) =>
      val df = edges.toDF("a", "b")
      val got = ConnectedComponents.labels(df, "a", "b", maxIter = 80)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = unionFind(edges)
      assert(got === want, s"graph $gi: $edges")
    }
  }

  test("worst-case diameter: a 50-node chain converges to one component") {
    import spark.implicits._
    val chain = (0L until 49L).map(i => (i, i + 1))
    val got = ConnectedComponents.labels(chain.toDF("a", "b"), "a", "b",
        maxIter = 60)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === 50 && got.values.forall(_ == 0L))
  }

  test("non-convergence within maxIter throws instead of returning garbage") {
    import spark.implicits._
    val chain = (0L until 30L).map(i => (i, i + 1))
    intercept[IllegalStateException] {
      ConnectedComponents.labels(chain.toDF("a", "b"), "a", "b", maxIter = 2)
    }
  }

  test("each extra fixpoint iteration runs six Spark jobs, not one") {
    import spark.implicits._
    // A k-node chain converges in k - 1 iterations and needs one more to
    // see no change, so chains of 6 and 12 nodes differ by 6 iterations.
    // The lazy checkpoint folds the materialization into the
    // convergence count (an eager one makes it 7 jobs per iteration),
    // but AQE still submits every shuffle-map and broadcast stage of
    // the iteration as its own job: 6 per iteration, local[4], AQE on.
    def jobs(k: Int): Int = graft.JobCounter(spark) {
      ConnectedComponents.labels(
        (0L until k - 1L).map(i => (i, i + 1)).toDF("a", "b"), "a", "b")
        .collect()
    }._2
    val (short, long) = (jobs(6), jobs(12))
    assert(long - short == 6 * 6, s"6-node chain: $short jobs, 12-node chain: $long")
  }
}
