package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-9 additions, batch 88 (SURVEY.md §2.4) — graph ANN, part 5:
  *
  *  - s42: PQ-COMPRESSED GRAPH WALK — the memory-bounded composition
  *    of the two index families (the DiskANN/HNSW-PQ deployment
  *    shape): the s39 greedy walk runs its hop RESCORING against
  *    product-quantized reconstructions (asymmetric distance — query
  *    side full precision, candidate side 32 nibbles ≈ 16 bytes vs
  *    256), and only the FINAL ef-frontier re-ranks against the true
  *    vectors. At 100 TB this is the difference between the walk
  *    touching the 3 KB embedding of every visited node and touching
  *    16 bytes — the full-precision vectors are read exactly
  *    probes × ef times, at the end. Reported: recall with the exact
  *    re-rank vs recall straight off the PQ scores (the re-rank's
  *    value made visible), on the identical graph/entries/hops as
  *    s39.
  *
  *    Scale shape: the graph and entries are s39's (keyed joins,
  *    bounded); PQ encode is s5's map-only pass over literal codeword
  *    arrays; every hop is O(probes · ef · 2k) keyed rows scored by a
  *    codegen'd l2 identity; the exact re-rank is probes × ef rows.
  *    Cross-engine: the estimated distances round once to 6dp with id
  *    tie-breaks, and DuckDB replays codebook, encode, walk and
  *    re-rank bit-for-bit.
  */
object TextOps88 {
  import GraphWalk._
  import Tables.t

  private val M = 32 // PQ subspaces over the 64-dim embeddings

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s42_pq_graph_walk" -> ((spark, dir) => {
      val e = emb(spark, dir)
      val n = e.count()
      // PQ side (the s5 build): L2-normalized vectors, md5-sampled
      // 16-codeword codebook, reconstruction per vector
      val vecs = t(spark, dir, "embeddings")
        .filter(col("embedding").isNotNull)
        .select(col("vec_id"),
          graft.functions.GraftFunctions.l2Normalize(col("embedding"))
            .as("emb"))
      // graph build ∥ PQ codebook+reconstruction ∥ exact panel:
      // three independent legs (Par §2.6)
      val (g, recon, exact) = Par.all3(spark)(
        graph(e, n),
        {
          val cbIds = t(spark, dir, "embeddings")
            .filter(col("embedding").isNotNull)
            .select(col("vec_id"),
              graft.functions.Md5Pack(col("vec_id").cast("string"))
                .as("_h"))
            .orderBy(col("_h"), col("vec_id")).limit(16)
            .select("vec_id").collect().map(_.getLong(0)).toSeq
          val cb = graft.operators.AnnPq.codebook(
            vecs.filter(col("vec_id").isin(cbIds: _*)), "vec_id", "emb",
            16)
          graft.operators.AnnPq
            .withReconstruction(vecs, "emb", cb, m = M)
            .select(col("vec_id").as("v"), col("recon"))
            .localCheckpoint(true)
        },
        exactPanel(e, e))
      val probeEmb = vecs.select(col("vec_id").as("u"),
        col("emb").as("ue"))
      // asymmetric distance: full-precision probe vs 16-byte candidate
      def scorePq(pairs: DataFrame): DataFrame = pairs
        .join(probeEmb, "u").join(recon, "v")
        .select(col("u"), col("v"),
          round(graft.operators.AnnPq.l2sq(col("ue"), col("recon")), 6)
            .as("d"))
      def topAsc(k: Int)(scored: DataFrame): DataFrame = {
        val w = Window.partitionBy("u").orderBy(col("d").asc, col("v").asc)
        scored.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= k).select("u", "v")
      }
      // the GraphWalk walk from s39's md5-random entries — only the
      // metric under the walk changes
      val frontier = walk(g, randomEntries(e, n, "s39"))(
        pairs => topAsc(Ef)(scorePq(pairs))).last.persist()
      val answerRaw = topAsc(K)(
        scorePq(frontier).filter(col("u") =!= col("v")))
      audit(exact)(
        // the exact re-rank touches true embeddings probes × ef times
        hits(answer(e, frontier), exact, "hits_rerank"),
        hits(answerRaw, exact, "hits_raw"))
        .select(lit(n).as("n_nodes"), col("possible"),
          col("hits_rerank"), recall("hits_rerank"),
          col("hits_raw"), recall("hits_raw"))
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "s42_pq_graph_walk" -> {
      val Sub = 64 / M
      val l2 = (a: String, b: String) =>
        s"list_dot_product($a, $a) - 2 * list_dot_product($a, $b) + list_dot_product($b, $b)"
      // asymmetric distance: full-precision probe vs reconstruction
      val byPq = DuckRank(
        src => s"""SELECT c.u, c.v,
                  |    round(${l2("a.emb", "r.recon")}, 6) AS d
                  |  FROM $src c JOIN pv a ON a.vec_id = c.u
                  |  JOIN recon r ON r.vec_id = c.v""".stripMargin,
        "d ASC")
      val encScore =
        "list_dot_product(cs, cs) - 2 * list_dot_product(vs, cs)"
      s"""WITH $duckGraph,
         |pv AS MATERIALIZED (
         |  SELECT vec_id, list_transform(e0,
         |    x -> x / sqrt(list_dot_product(e0, e0))) AS emb
         |  FROM (
         |    SELECT vec_id,
         |      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e0
         |    FROM embeddings WHERE embedding IS NOT NULL)),
         |cb AS (
         |  SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS k, emb
         |  FROM (
         |    SELECT vec_id, emb,
         |      ${Tables.duckMd5Pack("CAST(vec_id AS VARCHAR)")} AS h
         |    FROM pv ORDER BY h, vec_id LIMIT 16)),
         |enc AS (
         |  SELECT vec_id, m, k FROM (
         |    SELECT v.vec_id, s.m, c.k,
         |      row_number() OVER (PARTITION BY v.vec_id, s.m
         |        ORDER BY $encScore, c.k) AS rn
         |    FROM pv v
         |    CROSS JOIN (SELECT unnest(range($M)) AS m) s
         |    CROSS JOIN cb c,
         |    LATERAL (SELECT list_slice(v.emb, CAST(s.m*$Sub+1 AS INTEGER),
         |        CAST(s.m*$Sub+$Sub AS INTEGER)) AS vs,
         |      list_slice(c.emb, CAST(s.m*$Sub+1 AS INTEGER),
         |        CAST(s.m*$Sub+$Sub AS INTEGER)) AS cs) x)
         |  WHERE rn = 1),
         |recon AS MATERIALIZED (
         |  SELECT e.vec_id,
         |    flatten(list(list_slice(c.emb, CAST(e.m*$Sub+1 AS INTEGER),
         |      CAST(e.m*$Sub+$Sub AS INTEGER)) ORDER BY e.m)) AS recon
         |  FROM enc e JOIN cb c ON c.k = e.k
         |  GROUP BY e.vec_id),
         |${duckRandomEntries("entries", "s39")},
         |${duckWalk("p", "entries")(byPq)},
         |${duckAnswer("rr", s"pf$Hops")(duckCosine)},
         |${duckAnswer("raw", s"pf$Hops")(byPq)},
         |$duckExact,
         |${duckAudit("hits_rerank" -> "rr", "hits_raw" -> "raw")}
         |SELECT nn.n AS n_nodes,
         |  possible,
         |  hits_rerank, ${duckRecall("hits_rerank")},
         |  hits_raw, ${duckRecall("hits_raw")}
         |FROM hits, nn""".stripMargin
    },
  )
}
