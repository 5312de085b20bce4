package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-9 additions, batch 87 (SURVEY.md §2.4) — graph ANN, part 4:
  *
  *  - s41: HIERARCHICAL (COARSE-ROUTED) GRAPH SEARCH — the HNSW
  *    upper-layer idea composed from parts already in the engine: a
  *    sparse UPPER LAYER (vec_id % 16 == 0, ~6% of nodes) routes each
  *    probe to its best entry points by TRUE cosine (the IVF
  *    coarse-quantizer scan — linear in the layer size per probe,
  *    never quadratic in n), and the BASE layer runs the GraphWalk
  *    greedy walk on the converged NN-Descent graph from those
  *    query-adaptive entries instead of s39's md5-random ones. Same
  *    graph, same ef, same hop budget — the recall delta is purely
  *    the routing layer, reported side by side with the random-entry
  *    recall from the identical walk.
  *
  *    Scale shape: the routing scan is probes × (n/16) keyed rows
  *    with the probe side broadcast (exactly IVF's centroid scan);
  *    every hop stays O(probes · ef · 2k) keyed joins; nothing in the
  *    plan is quadratic in n. At 100 TB the upper layer would itself
  *    be NN-Descent over the sample with recursive routing — the
  *    recursion bottoms out here because the testdata layer is small.
  */
object TextOps87 {
  import GraphWalk._

  private val UpperMod = 16

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s41_hierarchical_graph_search" -> ((spark, dir) => {
      val e = emb(spark, dir)
      val n = e.count()
      // graph build ∥ exact panel: independent legs (Par §2.6)
      val (g, exact) = Par.both(spark)(graph(e, n), exactPanel(e, e))
      val upper = e.filter(col("vec_id") % UpperMod === 0)
      val nUpper = upper.count()
      // the routed walk and the s39 random-entry baseline walk (the SAME
      // walk from md5-random entries) are independent given the shared
      // graph — run them concurrently
      val (fRouted, fRandom) = Par.both(spark)(
        walk(g, routedEntries(e, upper.select(col("vec_id").as("v"))))(
          byCosine(e)).last,
        walk(g, randomEntries(e, n, "s39"))(byCosine(e)).last)
      audit(exact)(
        hits(answer(e, fRouted), exact, "hits_routed"),
        hits(answer(e, fRandom), exact, "hits_random"))
        .select(lit(n).as("n_nodes"), lit(nUpper).as("n_upper"),
          col("possible"), col("hits_routed"), recall("hits_routed"),
          col("hits_random"), recall("hits_random"))
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "s41_hierarchical_graph_search" ->
      s"""WITH $duckGraph,
         |up AS (SELECT vec_id AS v FROM e WHERE vec_id % $UpperMod = 0),
         |$duckRoutedEntries,
         |${duckWalk("h", "routed")(duckCosine)},
         |${duckAnswer("hans", s"hf$Hops")(duckCosine)},
         |${duckRandomEntries("rent", "s39")},
         |${duckWalk("r", "rent")(duckCosine)},
         |${duckAnswer("rans", s"rf$Hops")(duckCosine)},
         |$duckExact,
         |${duckAudit("hits_routed" -> "hans", "hits_random" -> "rans")}
         |SELECT nn.n AS n_nodes,
         |  (SELECT count(*) FROM up) AS n_upper,
         |  possible,
         |  hits_routed, ${duckRecall("hits_routed")},
         |  hits_random, ${duckRecall("hits_random")}
         |FROM hits, nn""".stripMargin,
  )
}
