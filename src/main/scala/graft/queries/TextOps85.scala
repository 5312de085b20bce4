package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-9 additions, batch 85 (SURVEY.md §2.4) — graph ANN, part 3:
  *
  *  - s40: FILTERED GRAPH SEARCH — predicate-constrained ANN over the
  *    s38b NN-Descent graph (the filtered-HNSW discipline): the greedy
  *    expansion runs UNFILTERED — filtered-out nodes still route the
  *    walk, because severing them fragments the graph exactly where
  *    the filter is selective — and the predicate applies only to the
  *    returned candidates, with recall audited against the exact
  *    FILTER-THEN-RANK panel (the post-filter ground truth s37 uses
  *    for the IVF family). Also reports the unfiltered s39 recall from
  *    the identical graph so the filter's cost is visible in one row.
  *
  *    Scale shape: identical to s39 — every hop is a keyed join
  *    bounded O(probes · ef · 2k); the filter is one broadcast-joined
  *    label lookup on the final frontier, not a scan.
  */
object TextOps85 {
  import GraphWalk._

  /** The candidate-side predicate: even label. */
  private val FilterSql = "label % 2 = 0"

  private def labels(spark: SparkSession, dir: String): DataFrame =
    Tables.t(spark, dir, "embeddings")
      .filter(col("embedding").isNotNull)
      .select(col("vec_id").as("v"), col("label"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s40_filtered_graph_search" -> ((spark, dir) => {
      val e = emb(spark, dir)
      val n = e.count()
      val lab = labels(spark, dir)
      val filteredCands = e.join(broadcast(lab.filter(expr(FilterSql))
        .select(col("v").as("vec_id"))), Seq("vec_id"), "left_semi")
      // the two exact ground-truth panels are independent of the
      // graph build + walk — run all three legs concurrently (Par §2.6)
      val (g, exactAll, exactFiltered) = Par.all3(spark)(
        graph(e, n), exactPanel(e, e), exactPanel(e, filteredCands))
      // the GraphWalk walk from s39's entries: the filter must not
      // reroute the expansion
      val frontier = walk(g, randomEntries(e, n, "s39"))(byCosine(e))
        .last.persist()
      val scored = score(e)(frontier).filter(col("u") =!= col("v"))
        .persist()
      val answerAll = topK(K)(scored)
      val answerFiltered = topK(K)(
        scored.join(broadcast(lab.filter(expr(FilterSql)).select("v")),
          "v"))
      // each answer against its own panel: hits_<tag>, possible_<tag>
      def panelAudit(ans: DataFrame, exact: DataFrame, tag: String) =
        hits(ans, exact, s"hits_$tag")
          .crossJoin(broadcast(
            exact.agg(count(lit(1)).as(s"possible_$tag"))))
      panelAudit(answerFiltered, exactFiltered, "filtered")
        .crossJoin(broadcast(panelAudit(answerAll, exactAll, "all")))
        .select(lit(n).as("n_nodes"),
          col("possible_filtered"), col("hits_filtered"),
          (col("hits_filtered") / col("possible_filtered"))
            .as("recall_filtered"),
          col("possible_all"), col("hits_all"),
          (col("hits_all") / col("possible_all")).as("recall_all"))
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "s40_filtered_graph_search" -> {
      s"""WITH $duckGraph,
         |lab AS (
         |  SELECT vec_id AS v, label FROM embeddings
         |  WHERE embedding IS NOT NULL),
         |${duckRandomEntries("entries", "s39")},
         |${duckWalk("", "entries")(duckCosine)},
         |${duckAnswer("ans_all", s"f$Hops")(duckCosine)},
         |sfin AS (
         |  SELECT s.u, s.v, s.cos FROM ans_all_s s
         |  JOIN lab ON lab.v = s.v WHERE $FilterSql),
         |${duckTopK("ans_f", "sfin")},
         |$duckExact,
         |sef AS (
         |  SELECT p.vec_id AS u, c.vec_id AS v, ${cosSql("p", "c")} AS cos
         |  FROM e p JOIN e c ON p.vec_id < $Probes
         |    AND p.vec_id <> c.vec_id
         |  JOIN lab ON lab.v = c.vec_id WHERE $FilterSql),
         |${duckTopK("exf", "sef")}
         |SELECT nn.n AS n_nodes,
         |  (SELECT count(*) FROM exf) AS possible_filtered,
         |  ${duckHits("ans_f", "exf")} AS hits_filtered,
         |  ${duckHits("ans_f", "exf")}
         |    / (SELECT count(*) FROM exf) AS recall_filtered,
         |  (SELECT count(*) FROM ex) AS possible_all,
         |  ${duckHits("ans_all", "ex")} AS hits_all,
         |  ${duckHits("ans_all", "ex")}
         |    / (SELECT count(*) FROM ex) AS recall_all
         |FROM nn""".stripMargin
    },
  )
}
