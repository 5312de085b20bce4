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
  * map-side combinable. The per-iteration convergence count is a
  * driver-side scalar (a single long), the standard driver role in any
  * iterative fixpoint (same as k-means/PageRank loops). Each iteration
  * ends in a LAZY localCheckpoint whose materialization is driven by
  * the convergence count, so no separate materialize job runs; AQE
  * still submits each shuffle-map and broadcast stage as its own job,
  * six per iteration (ConnectedComponentsSpec pins it). The checkpoint is
  * still required: the label plan references the previous labels twice
  * (self ∪ neighbors), so without lineage truncation the logical plan
  * doubles per iteration — a 50-iteration chain OOMs the driver on
  * plan construction alone. (A cluster
  * deployment with executor loss in scope would use
  * `sparkContext.setCheckpointDir` + `checkpoint()` instead of the
  * local variant — same truncation, reliable storage.)
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
    require(maxIter > 0, "maxIter must be positive")
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
    var lab = sym.select(col("src").as("node")).distinct()
      .withColumn("component", col("node"))
      .localCheckpoint(true)
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      // Aggregate the neighbor minima BEFORE touching the label frame:
      // min(component) over incoming edges is map-side combinable, so
      // the edge-sized stream collapses to one row per node ahead of the
      // single label join. (The earlier self-union formulation shuffled
      // labels ∪ edge-projections into the groupBy and then needed a
      // separate join to detect convergence — one more shuffle and one
      // more job per iteration for the same fixpoint.)
      val nbrMin = sym
        .join(lab.select(col("node").as("dst"), col("component")), "dst")
        .groupBy("src").agg(min(col("component")).as("nmin"))
        .select(col("src").as("node"), col("nmin"))
      // Labels decrease monotonically, so "changed" ≡ a neighbor offered
      // a smaller label. LAZY localCheckpoint + count fuses the
      // materialize and count jobs: the count action is the first
      // computation of the marked RDD, so its job materializes
      // the checkpoint blocks AND returns the convergence scalar (the
      // eager variant ran a materialize job, then a second count job
      // over the persisted rows). Lineage truncation is identical —
      // both variants return a Dataset over a LogicalRDD leaf. Lazy is
      // safe here because nothing references `next` before the count;
      // frames referenced twice before their first action (e0, the
      // initial labels) stay EAGER so union/join branches cannot race
      // the first materialization.
      val next = lab
        .join(nbrMin, Seq("node"), "left")
        .select(col("node"),
          least(col("component"), coalesce(col("nmin"), col("component")))
            .as("component"),
          (coalesce(col("nmin"), col("component")) < col("component"))
            .as("_chg"))
        .localCheckpoint(false)
      changed = next.filter(col("_chg")).count()
      lab = next.select("node", "component")
      i += 1
    }
    sym.unpersist(blocking = false)
    if (changed > 0)
      throw new IllegalStateException(
        s"connected components did not converge in $maxIter iterations")
    lab
  }
}
