package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-5 additions, batch 119b (SURVEY.md §2.4):
  *
  *  - t51: TextRank keyword scoring — PageRank over the word
  *    co-occurrence graph (Mihalcea & Tarau 2004), the classic
  *    unsupervised keyword extractor. The corpus collapses to adjacent
  *    token bigram counts FIRST (one map-side-combinable pass); the
  *    graph restricts to the exact top-50 tokens by frequency (bounded
  *    min-k, freq-desc/token-asc tiebreak), is symmetrized on the
  *    canonical pair, and 3 iterations of the scaled-integer
  *    [[graft.operators.PageRank]] run on the driver over the
  *    collected ≤ 50-node graph — bit-identical ranks on any engine or
  *    partitioning, which is what lets a 3-round iterative graph
  *    algorithm hash-match a DuckDB replay.
  */
object TextOps57 {
  import Tables.t

  private val V = 50

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t51_textrank" -> ((spark, dir) => {
      val bigrams = t(spark, dir, "documents")
        .filter(col("text").isNotNull)
        .select(split(col("text"), " ").as("tk"))
        .filter(size(col("tk")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(tk) - 2), i -> " +
            "struct(tk[i] as x, tk[i + 1] as y))")).as("bg"))
        .select(col("bg")("x").as("x"), col("bg")("y").as("y"))
        .filter(col("x") =!= col("y") && length(col("x")) > 0
          && length(col("y")) > 0)
        .localCheckpoint(true) // feeds the vocab count + the edge count
      val vocab = bigrams.select(explode(array(col("x"), col("y"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("freq"))
        .agg(graft.functions.TopKAgg.minK(
          struct((-col("freq")).as("nf"), col("tok")), V).as("w"))
        .select(explode(col("w")).as("p"))
        .select(col("p")("tok").as("tok"))
        .localCheckpoint(true) // both edge endpoints join against it
      val canon = bigrams
        .join(broadcast(vocab.select(col("tok").as("x"))), "x")
        .join(broadcast(vocab.select(col("tok").as("y"))), "y")
        .select(least(col("x"), col("y")).as("a"),
          greatest(col("x"), col("y")).as("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("w"))
      val edges = canon
        .select(col("a").as("src"), col("b").as("dst"), col("w"))
        .union(canon.select(col("b"), col("a"), col("w")))
      val ranks = graft.operators.PageRank
        .ranks(edges, vocab.select(col("tok")), iters = 3)
      ranks.select(col("node").as("tok"), col("r").as("rank_e12"),
          (col("r").cast("double") / lit(1.0e12)).as("textrank"))
        .orderBy(col("rank_e12").desc, col("tok"))
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "t51_textrank" -> {
      // The operator divides by the ACTUAL node count (the corpus may
      // have fewer than V distinct tokens), so the oracle carries it as
      // the nv scalar instead of baking V into the constants.
      def step(prev: String, c: String, next: String): String =
        s"""$c AS (
           |  SELECT e.dst, CAST(sum((CAST(r.r AS HUGEINT) * e.w)
           |    // o.out_w) AS BIGINT) AS s
           |  FROM edges e
           |  JOIN $prev r ON r.tok = e.src
           |  JOIN outw o ON o.src = e.src
           |  GROUP BY e.dst),
           |${c}d AS (
           |  SELECT CAST(coalesce(sum(r.r), 0) AS BIGINT) AS dang
           |  FROM $prev r LEFT JOIN outw o ON o.src = r.tok
           |  WHERE o.src IS NULL),
           |$next AS (
           |  SELECT v.tok,
           |    150000000000 // n.nv
           |      + (850 * (coalesce($c.s, 0) + d.dang // n.nv)) // 1000 AS r
           |  FROM vocab v LEFT JOIN $c ON $c.dst = v.tok
           |  CROSS JOIN ${c}d d CROSS JOIN nv n)""".stripMargin
      s"""
      WITH toks AS (
        SELECT string_split(text, ' ') AS tk
        FROM documents WHERE text IS NOT NULL),
      bigrams AS MATERIALIZED (
        SELECT tk[i + 1] AS x, tk[i + 2] AS y
        FROM (SELECT tk, unnest(range(len(tk) - 1)) AS i
              FROM toks WHERE len(tk) >= 2)
        WHERE tk[i + 1] <> tk[i + 2]
          AND length(tk[i + 1]) > 0 AND length(tk[i + 2]) > 0),
      vocab AS MATERIALIZED (
        SELECT tok FROM (
          SELECT tok, CAST(count(*) AS BIGINT) AS freq FROM (
            SELECT x AS tok FROM bigrams
            UNION ALL SELECT y AS tok FROM bigrams)
          GROUP BY tok)
        ORDER BY freq DESC, tok LIMIT $V),
      canon AS (
        SELECT least(x, y) AS a, greatest(x, y) AS b,
          CAST(count(*) AS BIGINT) AS w
        FROM bigrams
        SEMI JOIN vocab vx ON x = vx.tok
        SEMI JOIN vocab vy ON y = vy.tok
        GROUP BY 1, 2),
      edges AS MATERIALIZED (
        SELECT a AS src, b AS dst, w FROM canon
        UNION ALL SELECT b AS src, a AS dst, w FROM canon),
      outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS out_w
               FROM edges GROUP BY src),
      nv AS (SELECT CAST(count(*) AS BIGINT) AS nv FROM vocab),
      r0 AS (SELECT tok, CAST(1000000000000 // n.nv AS BIGINT) AS r
             FROM vocab CROSS JOIN nv n),
      ${step("r0", "c1", "r1")},
      ${step("r1", "c2", "r2")},
      ${step("r2", "c3", "r3")}
      SELECT r3.tok, CAST(r3.r AS BIGINT) AS rank_e12,
        CAST(r3.r AS DOUBLE) / 1e12 AS textrank
      FROM r3
      ORDER BY rank_e12 DESC, tok"""
    },
  )
}
