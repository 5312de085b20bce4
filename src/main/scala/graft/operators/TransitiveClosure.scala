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
  * one distinct(), and pairs only ever accumulate, so [[Fixpoint.growing]]
  * runs the rounds to row-count stability: six Spark jobs per round
  * (`TransitiveClosureSpec` pins it).
  */
object TransitiveClosure {

  /** Distinct (src, dst) reachability pairs of the directed edge list,
    * including the trivial self-pair (v, v) for every endpoint — the
    * convention SCC labeling needs (every node reaches itself by the
    * empty path).
    */
  def reach(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 20): DataFrame = {
    val base = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .localCheckpoint(true)
    val nodes = base.select(col("src").as("n"))
      .union(base.select(col("dst"))).distinct()
    val init = base
      .union(nodes.select(col("n").as("src"), col("n").as("dst")))
      .distinct()
    Fixpoint.growing(init, maxIter, "closure") { r =>
      val composed = r.as("p")
        .join(r.as("q"), col("p.dst") === col("q.src"))
        .select(col("p.src").as("src"), col("q.dst").as("dst"))
      r.union(composed).distinct()
    }
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
