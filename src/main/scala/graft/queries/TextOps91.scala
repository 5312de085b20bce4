package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorOps

/** Round-12 additions, batch 91 (SURVEY.md §2.4) — constant-size ANN
  * routing:
  *
  *  - s45: CENTROID-ROUTED INCREMENTAL INSERT. s44 proved the
  *    incremental insert path but routed new vectors through a
  *    `vec_id % 7` corpus slice — a broadcast that grows LINEARLY
  *    with the corpus. This variant swaps in the s19 persisted-index
  *    device: k=16 IVF centroids over the base corpus (deterministic
  *    Md5Pack sample + one decimal-mean Lloyd step), each mapped to
  *    its MEDOID entry node (the owned base vector closest to it —
  *    centroids are means, not corpus nodes, and the graph needs node
  *    entries). A new vector scores the 16 centroids, routes to the
  *    top-3 medoids, expands their graph neighborhoods, and runs the
  *    same single local refinement round as s44. The broadcast is
  *    O(k) at ANY corpus size. The audit pins recall on the IDENTICAL
  *    new-node panel within the same 0.15 bound of a full one-round
  *    rebuild that s44 uses.
  *
  * Scale shape: routing is |new| x 16 against literal centroid
  * arrays (map-only); medoid selection is one bounded window over the
  * owned lists; everything downstream is the s44 wedge algebra.
  */
object TextOps91 {
  import GraphWalk._

  /** The medoid of each centroid in `cent`: the node of `nodes` it owns
    * that lies closest to the centroid mean (ties break on vec_id) —
    * centroids are means, not corpus nodes, and the graph needs node
    * entries. Returns (centroid_id, v). */
  private def medoids(nodes: DataFrame,
      cent: Array[(Any, Array[Double])]): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    val centDf = cent.map { case (id, em) =>
      (id.asInstanceOf[Long], em.toSeq) }.toSeq
      .toDF("centroid_id", "c_emb")
    val owned = graft.operators.AnnIvf.assign(
      nodes, cent, "vec_id", "embedding", nearest = 1)
    val wMed = Window.partitionBy("centroid_id")
      .orderBy(col("cm").desc, col("vec_id").asc)
    owned
      .join(nodes, "vec_id")
      .join(broadcast(centDf), "centroid_id")
      .select(col("centroid_id"), col("vec_id"),
        round(VectorOps.cosine(col("embedding"), col("c_emb")), 6)
          .as("cm"))
      .withColumn("rk", row_number().over(wMed))
      .filter(col("rk") === 1)
      .select(col("centroid_id"), col("vec_id").as("v"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s45_centroid_routed_insert" -> ((spark, dir) => {
      val e = emb(spark, dir)
      val base = e.filter(col("vec_id") % 10 =!= 0)
      val fresh = e.filter(col("vec_id") % 10 === 0)
      val nBase = base.count()
      val nAll = e.count()
      // one degree-5 NN-Descent round over `nodes` (the s44 build)
      def nnd(nodes: DataFrame, n: Long): DataFrame = {
        val b0 = topK(5)(score(e)(nndInit(nodes, n)))
        topK(5)(score(e)(wedges(b0)))
      }
      // four independent eager legs — the base graph build, the
      // centroid construction (collect-backed), the full-rebuild
      // baseline, and the exact panel — materialize concurrently
      // (Par §2.6); the insert chain below joins them all
      val (bBase, cent, bFull, exact) = Par.all4(spark)(
        nnd(base, nBase).localCheckpoint(true),
        // CONSTANT-SIZE routing layer: 16 IVF centroids over the base
        // (the s19 index construction — deterministic, DuckDB-replayable)
        graft.operators.AnnIvf.buildCentroids(
          base, "vec_id", "embedding", nCentroids = 16, lloydIters = 1),
        nnd(e, nAll).filter(col("u") % 10 === 0).localCheckpoint(true),
        exactTopK(fresh, e).localCheckpoint(true))
      // route each new vector to its top-3 centroids' medoids
      val routed = graft.operators.AnnIvf.assign(
        fresh, cent, "vec_id", "embedding", nearest = 3)
      val seeds = routed.join(broadcast(medoids(base, cent)),
          "centroid_id")
        .select(col("vec_id").as("u"), col("v"))
        .filter(col("u") =!= col("v")).distinct()
      // from here on: exactly the s44 insert path
      val seedCands = seeds.unionAll(
        seeds.join(bBase.select(col("u").as("v"), col("v").as("w")), "v")
          .select(col("u"), col("w").as("v")))
        .filter(col("u") =!= col("v")).distinct()
      val newEdges = topK(5)(score(e)(seedCands)).localCheckpoint(true)
      val g2 = bBase.unionAll(newEdges)
        .unionAll(newEdges.select(col("v").as("u"), col("u").as("v")))
        .distinct()
      val refineCand = newEdges.select("u").distinct()
        .join(g2, "u").select(col("u"), col("v").as("x"))
        .join(g2.select(col("u").as("x"), col("v").as("y")), "x")
        .select(col("u"), col("y").as("v"))
        .filter(col("u") =!= col("v"))
        .unionAll(newEdges).distinct()
      val incFresh = topK(5)(score(e)(refineCand)).localCheckpoint(true)
      audit(exact)(
        hits(newEdges, exact, "hits_seed"),
        hits(incFresh, exact, "hits_inc"),
        hits(bFull, exact, "hits_full"))
        .select(lit(nBase).as("n_base"), lit(nAll - nBase).as("n_new"),
          lit(16L).as("n_centers"),
          col("possible"), col("hits_seed"), col("hits_inc"),
          col("hits_full"),
          (col("hits_seed") / col("possible")).as("seed_recall"),
          (col("hits_inc") / col("possible")).as("inc_recall"),
          (col("hits_full") / col("possible")).as("full_recall"),
          (col("hits_inc") >= col("hits_seed")).as("refinement_improved"),
          ((col("hits_inc") - col("hits_full")) / col("possible") >=
            -0.15).as("recall_close_to_rebuild"))
    }),
    // s46: the s41 hierarchical search with its routing layer made
    // CONSTANT-SIZE — 16 IVF centroid medoids replace the vec_id % 16
    // corpus slice (n/16 nodes, linear in the corpus). Routing cost
    // per probe drops from O(n/16) to O(16) at ANY corpus size; the
    // walk, graph, ef, hop budget and probe panel are IDENTICAL to
    // s41, and the audit pins centroid-routed recall within 0.15 of
    // the same walk from md5-random entries.
    "s46_centroid_routed_search" -> ((spark, dir) => {
      val e = emb(spark, dir)
      val n = e.count()
      // graph build ∥ centroid construction ∥ exact panel: three
      // independent eager legs (Par §2.6)
      val (g, cent, exact) = Par.all3(spark)(
        graph(e, n),
        // constant-size routing layer: 16 IVF centroids -> medoid nodes
        graft.operators.AnnIvf.buildCentroids(
          e, "vec_id", "embedding", nCentroids = 16, lloydIters = 1),
        exactPanel(e, e))
      // the GraphWalk walk from the centroid-routed entries, and the
      // SAME walk from s39's md5-random entries as the baseline: both
      // depend only on the (checkpointed) graph — run the two hop
      // chains concurrently (Par §2.6)
      val layer = medoids(e, cent).select("v").distinct()
      val (fRouted, fRandom) = Par.both(spark)(
        walk(g, routedEntries(e, layer))(byCosine(e)).last,
        walk(g, randomEntries(e, n, "s39"))(byCosine(e)).last)
      audit(exact)(
        hits(answer(e, fRouted), exact, "hits_routed"),
        hits(answer(e, fRandom), exact, "hits_random"))
        .select(lit(n).as("n_nodes"), lit(16L).as("n_centers"),
          col("possible"), col("hits_routed"), recall("hits_routed"),
          col("hits_random"), recall("hits_random"),
          ((col("hits_routed") - col("hits_random")) / col("possible")
            >= -0.15).as("routing_close_to_random"))
    }),
  )

  /** Cosine of two DOUBLE lists, unrounded. */
  private def cosOf(a: String, b: String): String =
    s"""list_dot_product($a, $b) /
       |      (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))""".stripMargin

  /** The twin of [[medoids]] over the CTE `nodes` (vec_id, emb): the 16
    * IVF centroids (md5 sample, one decimal-summed Lloyd step) as CTE
    * `rcent` (centroid_id, c_emb), and their medoids as CTE `medoids`
    * (centroid_id, v). */
  private def duckMedoids(nodes: String): String =
    s"""cent AS (
       |  SELECT vec_id AS centroid_id, emb AS c_emb
       |  FROM $nodes
       |  ORDER BY ${Tables.duckMd5Pack("CAST(vec_id AS VARCHAR)")}
       |  LIMIT 16),
       |assigned0 AS (
       |  SELECT v.vec_id, c.centroid_id,
       |    row_number() OVER (PARTITION BY v.vec_id
       |      ORDER BY ${cosOf("v.emb", "c.c_emb")} DESC,
       |        c.centroid_id) AS rn
       |  FROM $nodes v CROSS JOIN cent c),
       |memc AS (
       |  SELECT a.centroid_id,
       |    unnest(range(1, len(v.emb) + 1)) AS pos,
       |    unnest(v.emb) AS comp
       |  FROM assigned0 a JOIN $nodes v ON a.vec_id = v.vec_id
       |  WHERE a.rn = 1),
       |refined AS (
       |  SELECT centroid_id, pos,
       |    round(CAST(sum(CAST(comp AS DECIMAL(25,10))) AS DOUBLE)
       |      / count(*), 6) AS m
       |  FROM memc GROUP BY centroid_id, pos),
       |rcent AS (
       |  SELECT centroid_id, list(m ORDER BY pos) AS c_emb
       |  FROM refined GROUP BY centroid_id),
       |owned AS (
       |  SELECT vec_id, centroid_id FROM (
       |    SELECT v.vec_id, c.centroid_id,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${cosOf("v.emb", "c.c_emb")} DESC,
       |          c.centroid_id) AS rn
       |    FROM $nodes v CROSS JOIN rcent c)
       |  WHERE rn = 1),
       |medoids AS (
       |  SELECT centroid_id, vec_id AS v FROM (
       |    SELECT o.centroid_id, o.vec_id,
       |      row_number() OVER (PARTITION BY o.centroid_id
       |        ORDER BY round(${cosOf("b.emb", "c.c_emb")}, 6) DESC,
       |          o.vec_id) AS rk
       |    FROM owned o JOIN $nodes b ON b.vec_id = o.vec_id
       |    JOIN rcent c ON c.centroid_id = o.centroid_id)
       |  WHERE rk = 1)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "s45_centroid_routed_insert" -> {
      def md5own(prefix: String) =
        Tables.duckMd5Pack(s"'${prefix}_' || CAST(vec_id AS VARCHAR)")
      val md5draw = Tables.duckMd5Pack(
        "'nnd_' || CAST(u AS VARCHAR) || '_' || CAST(j AS VARCHAR)")
      def cosExpr(a: String, b: String) =
        s"""round(list_dot_product($a.emb, $b.emb) /
           |  (sqrt(list_dot_product($a.emb, $a.emb))
           |    * sqrt(list_dot_product($b.emb, $b.emb))), 6)""".stripMargin
      def nndSql(tag: String, ns: String, n: String) =
        s"""slots_$tag AS (
           |  SELECT vec_id AS v, ${md5own("nnd")} % $n.n AS slot
           |  FROM $ns, $n),
           |draws_$tag AS (
           |  SELECT u, $md5draw % $n.n AS slot FROM (
           |    SELECT vec_id AS u, unnest(range(1, 9)) AS j FROM $ns), $n),
           |init_$tag AS (
           |  SELECT DISTINCT u, v FROM draws_$tag JOIN slots_$tag
           |  USING (slot) WHERE u <> v),
           |s0_$tag AS (
           |  SELECT i.u, i.v, ${cosExpr("a", "b")} AS cos
           |  FROM init_$tag i JOIN e a ON a.vec_id = i.u
           |  JOIN e b ON b.vec_id = i.v),
           |b0_$tag AS (
           |  SELECT u, v FROM (
           |    SELECT u, v, row_number() OVER (PARTITION BY u
           |      ORDER BY cos DESC, v) AS rank FROM s0_$tag)
           |  WHERE rank <= 5),
           |g_$tag AS (
           |  SELECT u, v FROM b0_$tag
           |  UNION SELECT v AS u, u AS v FROM b0_$tag),
           |cand_$tag AS (
           |  SELECT DISTINCT u, v FROM (
           |    SELECT g1.u AS u, g2.v AS v
           |    FROM g_$tag g1 JOIN g_$tag g2 ON g1.v = g2.u
           |    WHERE g1.u <> g2.v
           |    UNION ALL SELECT u, v FROM b0_$tag)),
           |s1_$tag AS (
           |  SELECT c.u, c.v, ${cosExpr("a", "b")} AS cos
           |  FROM cand_$tag c JOIN e a ON a.vec_id = c.u
           |  JOIN e b ON b.vec_id = c.v),
           |b1_$tag AS (
           |  SELECT u, v FROM (
           |    SELECT u, v, row_number() OVER (PARTITION BY u
           |      ORDER BY cos DESC, v) AS rank FROM s1_$tag)
           |  WHERE rank <= 5)""".stripMargin
      s"""WITH e AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |  FROM embeddings WHERE embedding IS NOT NULL),
         |base AS (SELECT * FROM e WHERE vec_id % 10 <> 0),
         |fresh AS (SELECT * FROM e WHERE vec_id % 10 = 0),
         |nb AS (SELECT count(*) AS n FROM base),
         |na AS (SELECT count(*) AS n FROM e),
         |${nndSql("base", "base", "nb")},
         |${nndSql("full", "e", "na")},
         |${duckMedoids("base")},
         |routed AS (
         |  SELECT vec_id, centroid_id FROM (
         |    SELECT f.vec_id, c.centroid_id,
         |      row_number() OVER (PARTITION BY f.vec_id
         |        ORDER BY ${cosOf("f.emb", "c.c_emb")} DESC,
         |          c.centroid_id) AS rn
         |    FROM fresh f CROSS JOIN rcent c)
         |  WHERE rn <= 3),
         |seeds AS (
         |  SELECT DISTINCT r.vec_id AS u, m.v
         |  FROM routed r JOIN medoids m USING (centroid_id)
         |  WHERE r.vec_id <> m.v),
         |seed_cands AS (
         |  SELECT DISTINCT u, v FROM (
         |    SELECT u, v FROM seeds
         |    UNION ALL
         |    SELECT s.u, bb.v FROM seeds s
         |    JOIN b1_base bb ON bb.u = s.v)
         |  WHERE u <> v),
         |seed_s AS (
         |  SELECT c.u, c.v, ${cosExpr("a", "b")} AS cos
         |  FROM seed_cands c JOIN e a ON a.vec_id = c.u
         |  JOIN e b ON b.vec_id = c.v),
         |new_edges AS (
         |  SELECT u, v FROM (
         |    SELECT u, v, row_number() OVER (PARTITION BY u
         |      ORDER BY cos DESC, v) AS rank FROM seed_s)
         |  WHERE rank <= 5),
         |g2 AS (
         |  SELECT u, v FROM b1_base
         |  UNION SELECT u, v FROM new_edges
         |  UNION SELECT v AS u, u AS v FROM new_edges),
         |refine_cand AS (
         |  SELECT DISTINCT u, v FROM (
         |    SELECT a.u, b.v FROM g2 a JOIN g2 b ON a.v = b.u
         |    WHERE a.u IN (SELECT DISTINCT u FROM new_edges)
         |      AND a.u <> b.v
         |    UNION ALL SELECT u, v FROM new_edges)),
         |ref_s AS (
         |  SELECT c.u, c.v, ${cosExpr("a", "b")} AS cos
         |  FROM refine_cand c JOIN e a ON a.vec_id = c.u
         |  JOIN e b ON b.vec_id = c.v),
         |inc_fresh AS (
         |  SELECT u, v FROM (
         |    SELECT u, v, row_number() OVER (PARTITION BY u
         |      ORDER BY cos DESC, v) AS rank FROM ref_s)
         |  WHERE rank <= 5),
         |full_fresh AS (SELECT u, v FROM b1_full WHERE u % 10 = 0),
         |se AS (
         |  SELECT p.vec_id AS u, c.vec_id AS v,
         |    ${cosExpr("p", "c")} AS cos
         |  FROM fresh p JOIN e c ON p.vec_id <> c.vec_id),
         |ex AS (
         |  SELECT u, v FROM (
         |    SELECT u, v, row_number() OVER (PARTITION BY u
         |      ORDER BY cos DESC, v) AS rank FROM se)
         |  WHERE rank <= 5),
         |hits AS (
         |  SELECT
         |    (SELECT count(*) FROM (SELECT * FROM new_edges INTERSECT
         |      SELECT * FROM ex)) AS hits_seed,
         |    (SELECT count(*) FROM (SELECT * FROM inc_fresh INTERSECT
         |      SELECT * FROM ex)) AS hits_inc,
         |    (SELECT count(*) FROM (SELECT * FROM full_fresh INTERSECT
         |      SELECT * FROM ex)) AS hits_full,
         |    (SELECT count(*) FROM ex) AS possible)
         |SELECT CAST(nb.n AS BIGINT) AS n_base,
         |  CAST(na.n - nb.n AS BIGINT) AS n_new,
         |  CAST(16 AS BIGINT) AS n_centers,
         |  CAST(possible AS BIGINT) AS possible,
         |  CAST(hits_seed AS BIGINT) AS hits_seed,
         |  CAST(hits_inc AS BIGINT) AS hits_inc,
         |  CAST(hits_full AS BIGINT) AS hits_full,
         |  CAST(hits_seed AS DOUBLE) / possible AS seed_recall,
         |  CAST(hits_inc AS DOUBLE) / possible AS inc_recall,
         |  CAST(hits_full AS DOUBLE) / possible AS full_recall,
         |  hits_inc >= hits_seed AS refinement_improved,
         |  (CAST(hits_inc AS DOUBLE) - hits_full) / possible >= -0.15
         |    AS recall_close_to_rebuild
         |FROM hits, nb, na""".stripMargin
    },

    "s46_centroid_routed_search" -> {
      s"""WITH $duckGraph,
         |${duckMedoids("e")},
         |up AS (SELECT DISTINCT v FROM medoids),
         |$duckRoutedEntries,
         |${duckWalk("h", "routed")(duckCosine)},
         |${duckAnswer("hans", s"hf$Hops")(duckCosine)},
         |${duckRandomEntries("rent", "s39")},
         |${duckWalk("r", "rent")(duckCosine)},
         |${duckAnswer("rans", s"rf$Hops")(duckCosine)},
         |$duckExact,
         |${duckAudit("hits_routed" -> "hans", "hits_random" -> "rans")}
         |SELECT nn.n AS n_nodes,
         |  CAST(16 AS BIGINT) AS n_centers,
         |  possible,
         |  hits_routed, ${duckRecall("hits_routed")},
         |  hits_random, ${duckRecall("hits_random")},
         |  (CAST(hits_routed AS DOUBLE) - hits_random) / possible >= -0.15
         |    AS routing_close_to_random
         |FROM hits, nn""".stripMargin
    },
  )
}
