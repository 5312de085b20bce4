package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge list — the cluster step
  * that completes the dedup pipeline: candidate PAIRS (MinHash d4,
  * SimHash d5, edit-distance d7) collapse into duplicate CLUSTERS, and
  * min-id per cluster picks the canonical keeper.
  *
  * Algorithm: min-label propagation. Every node starts labeled with its
  * own id; each iteration every node takes the minimum label among
  * itself and its neighbors; fixpoint = every node carries the smallest
  * id reachable from it (the component id). Converges in O(graph
  * diameter) iterations — dedup graphs are near-cliques, so a handful.
  *
  * Scale shape: one join + one groupBy-min per iteration (two shuffles
  * over the edge list), labels bounded by one row per node, min() is
  * map-side combinable. [[Fixpoint]] runs the rounds: six Spark jobs per
  * iteration (`ConnectedComponentsSpec` pins it).
  */
object ConnectedComponents {

  /** (node, component) for every node appearing in `edges`; `component`
    * is the minimum node id in the node's connected component.
    *
    * @param edges   two-column frame of undirected edges (src col first)
    * @param maxIter safety bound; throws if the fixpoint is not reached
    *                (diameter larger than maxIter — raise it)
    */
  def labels(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 20): DataFrame = {
    // Materialize the caller's edge pipeline ONCE before symmetrizing:
    // EliminateSorts does not recurse under Union, and the two union
    // branches would otherwise each re-execute the full upstream plan
    // (for d4/d10 pairs that is the whole LSH candidate+verify pipeline,
    // measured as a 2× re-run inside the first CC job). The checkpointed
    // frame is pair-count bounded — cheap at any corpus size.
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .localCheckpoint(true)
    val sym = e0
      .union(e0.select(col("dst").as("src"), col("src").as("dst")))
      .persist()
    val init = sym.select(col("src").as("node")).distinct()
      .withColumn("component", col("node"))
      .localCheckpoint(true)
    try Fixpoint(init, maxIter, "connected components") { (prev, _) =>
      val lab = prev.select("node", "component")
      // Aggregate the neighbor minima BEFORE touching the label frame:
      // min(component) over incoming edges is map-side combinable, so
      // the edge-sized stream collapses to one row per node ahead of the
      // single label join.
      val nbrMin = sym
        .join(lab.select(col("node").as("dst"), col("component")), "dst")
        .groupBy("src").agg(min(col("component")).as("nmin"))
        .select(col("src").as("node"), col("nmin"))
      // Labels decrease monotonically, so "changed" ≡ a neighbor offered
      // a smaller label.
      lab
        .join(nbrMin, Seq("node"), "left")
        .select(col("node"),
          least(col("component"), coalesce(col("nmin"), col("component")))
            .as("component"),
          (coalesce(col("nmin"), col("component")) < col("component"))
            .as("_chg"))
    }(_ => col("_chg")).select("node", "component")
    finally sym.unpersist(blocking = false)
  }
}
