package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Single-source shortest hop distances (unweighted BFS) over a directed
  * edge list — the graph-distance primitive next to
  * [[ConnectedComponents]] (reachability) and [[PageRank]] (centrality).
  *
  * Algorithm: frontier relaxation to a fixpoint. Every node starts at
  * distance NULL except the source at 0; each iteration every node takes
  * `min(dist, min over in-edges of dist(pred) + 1)`. Unreachable nodes
  * keep NULL. Converges in O(eccentricity of the source) iterations.
  *
  * Scale shape mirrors ConnectedComponents: the edge pipeline is
  * materialized once (Union re-execution guard), each iteration is one
  * join + one map-side-combinable min aggregation over the edge list,
  * and the distance frame is node-bounded. [[Fixpoint]] runs the rounds:
  * six Spark jobs per iteration (`BfsHopsSpec` pins it).
  */
object BfsHops {

  /** (node, dist) for every node in `edges`; `dist` is the minimum hop
    * count from `source` (NULL = unreachable).
    *
    * @param undirected symmetrize the edge list AFTER the one-time
    *                   materialization (symmetrizing in the caller would
    *                   re-execute the edge pipeline per union branch —
    *                   the ConnectedComponents Union lesson)
    * @param maxIter    safety bound; throws if still relaxing after it
    *                   (source eccentricity larger than maxIter — raise it)
    */
  def hops(edges: DataFrame, srcCol: String, dstCol: String, source: Long,
      undirected: Boolean = false, maxIter: Int = 30): DataFrame = {
    val base = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .localCheckpoint(true)
    val e0 =
      if (undirected)
        base.union(base.select(col("dst").as("src"), col("src").as("dst")))
      else base
    // Node set = edge endpoints ∪ the source itself (a source with no
    // edges still reports dist 0, matching the declarative replay).
    val spark = edges.sparkSession
    import spark.implicits._
    val init = e0.select(col("src").as("node"))
      .union(e0.select(col("dst").as("node")))
      .union(Seq(source).toDF("node")).distinct()
      .withColumn("dist",
        when(col("node") === source, lit(0L)).otherwise(lit(null).cast("long")))
      .localCheckpoint(true)
    Fixpoint(init, maxIter, "BFS") { (prev, _) =>
      val dist = prev.select("node", "dist")
      // Settled predecessors offer dist+1 to their successors; min() is
      // map-side combinable, so the edge-sized stream collapses to one
      // row per reached node before the single label join.
      val offer = e0
        .join(dist.filter(col("dist").isNotNull)
          .select(col("node").as("src"), col("dist")), "src")
        .groupBy("dst").agg(min(col("dist") + 1).as("nd"))
        .select(col("dst").as("node"), col("nd"))
      dist
        .join(offer, Seq("node"), "left")
        .select(col("node"),
          least(coalesce(col("dist"), col("nd")),
            coalesce(col("nd"), col("dist"))).as("dist"),
          (coalesce(col("nd"), lit(Long.MaxValue)) <
            coalesce(col("dist"), lit(Long.MaxValue))).as("_chg"))
    }(_ => col("_chg")).select("node", "dist")
  }

  /** ALL-pairs shortest hop counts over an undirected edge list — the
    * closeness/eccentricity primitive. The distance frame is the sparse
    * set of REACHED (src, node, dist) pairs (never a |V|² NULL matrix):
    * each round extends every reached pair one hop and keeps the
    * per-(src, node) minimum. In unweighted BFS a pair's first
    * discovery is already optimal, so the frame only ever GROWS — row
    * count stability is the fixpoint test. |V|²-bounded throughout;
    * converges in O(diameter) rounds.
    */
  def allPairs(edges: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 50): DataFrame = {
    val base = edges.select(col(aCol).as("a"), col(bCol).as("b"))
      .localCheckpoint(true)
    val sym = base.union(base.select(col("b").as("a"), col("a").as("b")))
    val init = sym.select(col("a").as("node")).distinct()
      .select(col("node").as("src"), col("node"), lit(0L).as("dist"))
    Fixpoint.growing(init, maxIter, "all-pairs BFS") { dist =>
      val extended = dist
        .join(sym, col("node") === col("a"))
        .select(col("src"), col("b").as("node"),
          (col("dist") + 1).as("dist"))
      dist.union(extended)
        .groupBy("src", "node").agg(min(col("dist")).as("dist"))
    }
  }
}
