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
  * each round is one join with the alive nodes + one map-side-combinable
  * degree count over the edge list, and the node-state frame is
  * node-bounded. [[Fixpoint]] runs the rounds: six Spark jobs per round
  * (`KCoreSpec` pins it). Converges within |V| rounds.
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
    val base = edges.select(col(aCol).as("a"), col(bCol).as("b"))
      .localCheckpoint(true)
    // Symmetrize AFTER the one-time materialization (the
    // ConnectedComponents Union lesson: symmetrizing the raw pipeline
    // would re-execute it once per union branch).
    val sym = base.union(base.select(col("b").as("a"), col("a").as("b")))
    val init = sym.select(col("a").as("node")).distinct()
      .withColumn("peel_round", lit(null).cast("long"))
      .localCheckpoint(true)
    Fixpoint(init, maxIter, "k-core peel") { (state, r) =>
      // Degree within the surviving subgraph: edges to alive nodes. A
      // peeled node keeps its round whatever its count, so `a` needs no
      // alive check (a second inner join of the alive set let the job
      // count race; see Fixpoint). count() is map-side combinable.
      val deg = sym
        .join(state.filter(col("peel_round").isNull)
          .select(col("node").as("b")), "b")
        .groupBy("a").agg(count(lit(1)).as("d"))
        .select(col("a").as("node"), col("d"))
      state.join(deg, Seq("node"), "left")
        .select(col("node"),
          when(col("peel_round").isNotNull, col("peel_round"))
            .when(coalesce(col("d"), lit(0L)) < k, lit(r.toLong))
            .otherwise(lit(null).cast("long")).as("peel_round"))
    }(r => col("peel_round") === r)
  }
}
