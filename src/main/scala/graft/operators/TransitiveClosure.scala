package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Directed transitive closure by path doubling — the reachability
  * primitive behind strongly-connected-component labeling.
  *
  * Each round joins the current reached-pair frame with ITSELF
  * (r1.dst = r2.src) and unions the composed pairs in: after round r the
  * frame holds every pair connected by a path of length ≤ 2^r, so the
  * fixpoint arrives in O(log diameter) rounds — not O(diameter) as with
  * single-edge extension. The frame is the SPARSE set of reached pairs
  * (|V|²-bounded, never a dense matrix), every round collapses through
  * one distinct(), and each round ends in a LAZY localCheckpoint whose
  * materialization is driven by the convergence count (the count action
  * is the first computation of the marked RDD, so it persists the
  * checkpoint blocks and returns the scalar without a job of its own),
  * while still truncating the self-join lineage that would otherwise
  * double per step. AQE submits each shuffle-map and broadcast stage as
  * its own job, so a round runs six Spark jobs on small frames
  * (local[4], AQE on; `TransitiveClosureSpec` pins it). Row-count stability is the fixpoint test
  * (pairs only ever accumulate), with the count as the standard
  * driver-side convergence scalar.
  */
object TransitiveClosure {

  /** Distinct (src, dst) reachability pairs of the directed edge list,
    * including the trivial self-pair (v, v) for every endpoint — the
    * convention SCC labeling needs (every node reaches itself by the
    * empty path).
    */
  def reach(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 20): DataFrame = {
    require(maxIter > 0, "maxIter must be positive")
    val base = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .localCheckpoint(true)
    val nodes = base.select(col("src").as("n"))
      .union(base.select(col("dst"))).distinct()
    var r = base
      .union(nodes.select(col("n").as("src"), col("n").as("dst")))
      .distinct()
      .localCheckpoint(false) // materialized by the count below
    var prev = -1L
    var cur = r.count()
    var i = 0
    while (cur != prev && i < maxIter) {
      val composed = r.as("p")
        .join(r.as("q"), col("p.dst") === col("q.src"))
        .select(col("p.src").as("src"), col("q.dst").as("dst"))
      r = r.union(composed).distinct().localCheckpoint(false)
      prev = cur
      cur = r.count() // materializes the checkpoint + the scalar
      i += 1
    }
    if (cur != prev)
      throw new IllegalStateException(
        s"closure did not converge in $maxIter doubling rounds")
    r
  }

  /** Strongly-connected-component labels: (node, scc_id) where scc_id is
    * the minimum node id mutually reachable with `node`. Two closure
    * sides joined on the swapped pair — u⇝v ∧ v⇝u — then a
    * map-side-combinable min per node. Self-pairs guarantee every node
    * labels itself when nothing smaller is mutual.
    */
  def sccLabels(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 20): DataFrame = {
    val rc = reach(edges, srcCol, dstCol, maxIter)
    rc.as("f")
      .join(rc.as("b"),
        col("f.src") === col("b.dst") && col("f.dst") === col("b.src"))
      .select(col("f.src").as("node"), col("f.dst").as("peer"))
      .groupBy("node").agg(min(col("peer")).as("scc_id"))
  }
}
