package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-10 additions, batch 89 (SURVEY.md §2.4) — the graph-ANN walk,
  * parameterized:
  *
  *  - s43: WALK-DEPTH RECALL CURVE — s39/s41/s42 run the greedy graph
  *    walk at one fixed (hops, ef); this reports both with the result
  *    and emits the recall-vs-hops curve IN ONE PASS (the
  *    s18 rerank-tradeoff device): every hop's frontier is already
  *    computed sequentially by the walk, so auditing each against the
  *    exact panel costs only probe-panel-bounded intersects — no
  *    re-walk per point. The monotone pin is the theorem that makes
  *    greedy search tunable: hop h+1's frontier keeps the top-ef of a
  *    candidate set CONTAINING hop h's frontier, so its answer
  *    dominates elementwise and recall@5 never decreases with depth —
  *    an operator reads the curve and picks the cheapest depth at
  *    target recall.
  *
  *    Scale shape: identical to s39 (keyed joins bounded
  *    O(probes·ef·2k) per hop, per-probe windows, panel-bounded
  *    audit); the curve adds one tiny rescore+intersect per hop on
  *    checkpointed frontiers.
  */
object TextOps89 {
  import GraphWalk._

  /** The curve's hit columns, one per frontier f0 .. f_Hops. */
  private val hopHits = (0 to Hops).map(h => s"hits_h$h")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s43_walk_depth_curve" -> ((spark, dir) => {
      val e = emb(spark, dir)
      val n = e.count()
      // graph build ∥ exact panel: independent legs (Par §2.6)
      val (g, exact) = Par.both(spark)(graph(e, n), exactPanel(e, e))
      // the GraphWalk walk, with EVERY hop's frontier kept for the curve
      val frontiers = walk(g, randomEntries(e, n, "s43"))(byCosine(e))
      val joined = audit(exact)(frontiers.zip(hopHits).map {
        case (f, nm) => hits(answer(e, f), exact, nm)
      }: _*)
      val outCols: Seq[Column] =
        (Seq(lit(n).as("n_nodes"), lit(Hops.toLong).as("hops"),
          lit(Ef.toLong).as("ef"), col("possible")) ++
          hopHits.map(col) ++ hopHits.map(recall)) :+
          monotone(hopHits).as("monotone_recall")
      joined.select(outCols: _*)
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "s43_walk_depth_curve" -> {
      // per-hop answer: rescore the frontier, top-K excluding self
      val answers = (0 to Hops)
        .map(h => duckAnswer(s"t$h", s"f$h")(duckCosine)).mkString(",\n")
      s"""WITH $duckGraph,
         |${duckRandomEntries("entries", "s43")},
         |${duckWalk("", "entries")(duckCosine)},
         |$duckExact,
         |$answers,
         |${duckAudit(hopHits.zipWithIndex.map { case (nm, h) => nm -> s"t$h" }: _*)}
         |SELECT nn.n AS n_nodes,
         |  CAST($Hops AS BIGINT) AS hops, CAST($Ef AS BIGINT) AS ef,
         |  possible,
         |  ${hopHits.mkString(", ")},
         |${hopHits.map(nm => s"  ${duckRecall(nm)}").mkString(",\n")},
         |  ${duckMonotone(hopHits)} AS monotone_recall
         |FROM hits, nn""".stripMargin
    },
  )
}
