package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-9 additions, batch 83 (SURVEY.md §2.4) — graph ANN, completed:
  *
  *  - s38b: NN-DESCENT TO CONVERGENCE — s38 (`TextOps79.scala`) pinned
  *    the mechanism with ONE refinement round (recall 0.004 → 0.204);
  *    this runs the algorithm the way the paper means it: three
  *    rounds, each expanding the UNDIRECTED neighbor-of-neighbor
  *    wedge, rescoring, and re-taking top-5. The output is the
  *    per-round recall curve on the fixed 50-probe panel plus the
  *    monotone-improvement pin — the convergence property (Dong et
  *    al., WWW'11) that makes the graph usable as an index.
  *
  *  - s39: QUERY-TIME GREEDY GRAPH SEARCH over the converged graph —
  *    turns the s38 family from a graph *build* into a usable ANN
  *    index (what s19 did for IVF). Each probe seeds from 8
  *    md5-deterministic entry points (the same slot-ownership device
  *    as the NN-Descent init — a pure equi-join, no global index),
  *    then runs 3 greedy best-first hops: expand the frontier's
  *    out-neighbors in the undirected graph, rescore against the
  *    probe, keep the top-10 (ef) per probe. Final answer = top-5 of
  *    the last frontier (self excluded); recall audited against the
  *    exact panel.
  *
  *    Scale shape: every stage is keyed — wedges join on the middle
  *    node with degree bounded by 2k, search hops join frontier(ef per
  *    probe) × adjacency(2k per node), so a hop is O(probes · ef · 2k)
  *    candidate rows, never a cross join; top-k runs in per-probe
  *    windows; the exact audit stays probe-panel-bounded. At 100 TB
  *    the probe panel is the driver's query batch — the same joins
  *    shuffle on probe id and node id only. All cosines round to 6dp
  *    with id tie-breaks so DuckDB replays bit-exactly.
  */
object TextOps83 {
  import GraphWalk._

  /** s38b's hit columns: the random init, then one per round. */
  private val roundHits = "hits_init" +: (1 to Rounds).map(i => s"hits_r$i")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s38b_nn_descent_converge" -> ((spark, dir) => {
      val e = emb(spark, dir)
      val n = e.count()
      // the graph build and the exact ground-truth panel are
      // independent legs — materialize them concurrently (Par §2.6)
      val (bs, exact) = Par.both(spark)(
        descend(e, n), // b0..b3
        exactPanel(e, e))
      val joined = audit(exact)(bs.zip(roundHits).map { case (b, nm) =>
        hits(b.filter(col("rank") <= K).select("u", "v"), exact, nm)
      }: _*)
      val outCols: Seq[Column] =
        (Seq(lit(n).as("n_nodes"), col("possible")) ++
          roundHits.map(col) ++ roundHits.map(recall)) :+
          monotone(roundHits).as("monotone")
      joined.select(outCols: _*)
    }),

    "s39_graph_ann_search" -> ((spark, dir) => {
      val e = emb(spark, dir)
      val n = e.count()
      // graph build ∥ exact panel: independent legs (Par §2.6)
      val (g, exact) = Par.both(spark)(graph(e, n), exactPanel(e, e))
      val frontier =
        walk(g, randomEntries(e, n, "s39"))(byCosine(e)).last
      audit(exact)(hits(answer(e, frontier), exact, "hits"))
        .select(lit(n).as("n_nodes"), col("possible"), col("hits"),
          recall("hits"))
    }),
  )

  // ---- oracle: the same chain in DuckDB, rounds unrolled ----

  val oracleSql: Map[String, String] = Map(
    "s38b_nn_descent_converge" -> {
      val answers = (0 to Rounds).map { i =>
        s"a$i AS (SELECT u, v FROM b$i WHERE rank <= $K)"
      }.mkString(",\n")
      s"""WITH $duckDescend,
         |$answers,
         |$duckExact,
         |${duckAudit(roundHits.zipWithIndex.map { case (nm, i) => nm -> s"a$i" }: _*)}
         |SELECT nn.n AS n_nodes,
         |  possible,
         |  ${roundHits.mkString(", ")},
         |${roundHits.map(nm => s"  ${duckRecall(nm)}").mkString(",\n")},
         |  ${duckMonotone(roundHits)} AS monotone
         |FROM hits, nn""".stripMargin
    },

    "s39_graph_ann_search" ->
      s"""WITH $duckGraph,
         |${duckRandomEntries("entries", "s39")},
         |${duckWalk("", "entries")(duckCosine)},
         |${duckAnswer("answer", s"f$Hops")(duckCosine)},
         |$duckExact,
         |${duckAudit("hits" -> "answer")}
         |SELECT nn.n AS n_nodes,
         |  possible, hits,
         |  ${duckRecall("hits")}
         |FROM hits, nn""".stripMargin,
  )
}
