package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core decomposition (onion peeling) over an undirected edge list —
  * the subgraph-density primitive next to [[BfsHops]] (distance),
  * [[ConnectedComponents]] (reachability) and [[PageRank]] (centrality).
  *
  * Algorithm: iterative peel to a fixpoint. Round r removes every still-
  * alive node whose degree within the surviving subgraph is < k; nodes
  * never removed form the k-core. The removal round is the "onion
  * layer" — a stable, deterministic label (every round removes ALL
  * current violators at once, so no tie-break ambiguity).
  *
  * Scale shape mirrors BfsHops: the edge pipeline is materialized once,
  * each round is two semi-join-shaped filters + one map-side-combinable
  * degree count over the edge list, the node-state frame is
  * node-bounded, and every round ends in a LAZY localCheckpoint
  * materialized by the removal count — the count's job persists the
  * checkpoint blocks and returns the scalar (an eager checkpoint would
  * cost a job more), while still truncating the two-consumer lineage
  * that would otherwise double per step. AQE submits each shuffle-map
  * and broadcast stage as its own job, so a round runs about eight Spark
  * jobs (local[4], AQE on; `KCoreSpec` pins it). The per-round removal
  * count is a driver-side scalar — the standard driver role in any
  * iterative fixpoint. Converges within |V| rounds.
  */
object KCore {

  /** (node, peel_round) for every endpoint in `edges`; `peel_round` is
    * the 1-based round the node was peeled at (NULL = survived = member
    * of the k-core).
    *
    * @param k       minimum within-subgraph degree to survive a round
    * @param maxIter safety bound; throws if still peeling after it
    */
  def peel(edges: DataFrame, aCol: String, bCol: String, k: Int,
      maxIter: Int = 100): DataFrame = {
    require(k >= 1, "k must be positive")
    require(maxIter > 0, "maxIter must be positive")
    val base = edges.select(col(aCol).as("a"), col(bCol).as("b"))
      .localCheckpoint(true)
    // Symmetrize AFTER the one-time materialization (the
    // ConnectedComponents Union lesson: symmetrizing the raw pipeline
    // would re-execute it once per union branch).
    val sym = base.union(base.select(col("b").as("a"), col("a").as("b")))
    var state = sym.select(col("a").as("node")).distinct()
      .withColumn("peel_round", lit(null).cast("long"))
      .localCheckpoint(true)
    var removed = 1L
    var r = 0
    while (removed > 0 && r < maxIter) {
      r += 1
      val alive = state.filter(col("peel_round").isNull).select("node")
      // Degree within the surviving subgraph: both endpoints must be
      // alive. count() is map-side combinable, so the edge-sized stream
      // collapses to one row per alive node before the state join.
      val deg = sym
        .join(alive.withColumnRenamed("node", "a"), "a")
        .join(alive.withColumnRenamed("node", "b"), "b")
        .groupBy("a").agg(count(lit(1)).as("d"))
        .select(col("a").as("node"), col("d"))
      val next = state.join(deg, Seq("node"), "left")
        .select(col("node"),
          when(col("peel_round").isNotNull, col("peel_round"))
            .when(coalesce(col("d"), lit(0L)) < k, lit(r.toLong))
            .otherwise(lit(null).cast("long")).as("peel_round"))
        .localCheckpoint(false)
      removed = next.filter(col("peel_round") === r).count()
      state = next
    }
    if (removed > 0)
      throw new IllegalStateException(
        s"k-core peel did not converge in $maxIter rounds")
    state
  }
}
