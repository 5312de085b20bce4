package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 additions, batch 79 (SURVEY.md §2.4):
  *
  *  - q231: feature binning by learned quartile edges — the two-phase
  *    shape of real feature engineering: learn exact per-nation
  *    quartile boundaries of order value (rank-selected, integer
  *    cents — no interpolation ambiguity), broadcast the 25×3 edge
  *    grid, and label every order Q1..Q4 with closed-left bands. The
  *    oracle re-derives the same edges with window ranks, so the
  *    banding contract (ties land in the LOWER band; edges are the
  *    ceil-rank order statistics) is pinned cross-engine.
  *  - q232: explode vs explode_outer — the row-preservation pin:
  *    exploding each document's 3-word shingles DROPS shingle-less
  *    docs, explode_outer keeps them with a NULL element. Emits both
  *    counts plus the survivors' delta so a semantics drift in either
  *    engine (or a testdata regeneration without short docs) fails
  *    loudly.
  */
object Analytics72 {
  import Tables.{centsLong, t}

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q231_feature_binning" -> ((spark, dir) => {
      val o = t(spark, dir, "orders")
        .join(broadcast(t(spark, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey"))),
          col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_nationkey"),
          centsLong(col("o_totalprice")).as("v"))
      val w = Window.partitionBy("c_nationkey")
        .orderBy(col("v"), col("o_orderkey"))
      val ranked = o.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(
          Window.partitionBy("c_nationkey")))
      // the filtered rank rows are ordered by construction, so the
      // quartile edges are just min/max of the outer pair plus the
      // separately-picked middle rank
      val edges = ranked
        .filter(col("rn") === ceil(col("n") / 4)
          || col("rn") === ceil(col("n") * 3 / 4))
        .groupBy("c_nationkey")
        .agg(min(col("v")).as("e1"), max(col("v")).as("e3"))
      val mid = ranked.filter(col("rn") === ceil(col("n") / 2))
        .select(col("c_nationkey").as("m_nk"), col("v").as("e2"))
      o.join(broadcast(edges.select(col("c_nationkey").as("e_nk"),
            col("e1"), col("e3"))),
          col("c_nationkey") === col("e_nk"))
        .join(broadcast(mid), col("c_nationkey") === col("m_nk"))
        .select(col("o_orderkey"), col("c_nationkey"), col("v"),
          when(col("v") <= col("e1"), "Q1")
            .when(col("v") <= col("e2"), "Q2")
            .when(col("v") <= col("e3"), "Q3")
            .otherwise("Q4").as("band"))
        .groupBy("c_nationkey", "band")
        .agg(count(lit(1)).as("n_orders"), sum(col("v")).as("sum_cents"))
        .orderBy("c_nationkey", "band")
    }),

    "q232_explode_outer_pin" -> ((spark, dir) => {
      val sh = TextOps.shingles(col("text"))
      val d = t(spark, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), sh.as("sh"))
      val inner = d.select(col("doc_id"), explode(col("sh")).as("s"))
        .agg(countDistinct(col("doc_id")).as("docs_inner"),
          count(lit(1)).as("rows_inner"))
      val outer = d.select(col("doc_id"), explode_outer(col("sh")).as("s"))
        .agg(countDistinct(col("doc_id")).as("docs_outer"),
          count(lit(1)).as("rows_outer"),
          count_if(col("s").isNull).as("null_rows"))
      inner.crossJoin(outer)
        .select(col("docs_inner"), col("docs_outer"), col("rows_inner"),
          col("rows_outer"), col("null_rows"),
          (col("docs_outer") - col("docs_inner")).as("shingleless_docs"))
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "q231_feature_binning" ->
      """WITH o AS (
        |  SELECT o_orderkey, c_nationkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY c_nationkey
        |      ORDER BY v, o_orderkey) AS rn,
        |    count(*) OVER (PARTITION BY c_nationkey) AS n
        |  FROM o),
        |e1 AS (SELECT c_nationkey, v AS e1 FROM ranked
        |       WHERE rn = ceil(n / 4.0)),
        |e2 AS (SELECT c_nationkey, v AS e2 FROM ranked
        |       WHERE rn = ceil(n / 2.0)),
        |e3 AS (SELECT c_nationkey, v AS e3 FROM ranked
        |       WHERE rn = ceil(n * 3 / 4.0))
        |SELECT o.c_nationkey,
        |  CASE WHEN v <= e1 THEN 'Q1' WHEN v <= e2 THEN 'Q2'
        |    WHEN v <= e3 THEN 'Q3' ELSE 'Q4' END AS band,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(v) AS BIGINT) AS sum_cents
        |FROM o JOIN e1 USING (c_nationkey) JOIN e2 USING (c_nationkey)
        |  JOIN e3 USING (c_nationkey)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q232_explode_outer_pin" ->
      """WITH d AS (
        |  SELECT doc_id, list_distinct(list_transform(range(len(tk)-2),
        |    i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3])) AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS tk
        |        FROM documents WHERE text IS NOT NULL)),
        |inner_x AS (
        |  SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS docs_inner,
        |    CAST(count(*) AS BIGINT) AS rows_inner
        |  FROM (SELECT doc_id, unnest(sh) AS s FROM d)),
        |outer_x AS (
        |  SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS docs_outer,
        |    CAST(count(*) AS BIGINT) AS rows_outer,
        |    CAST(count(*) FILTER (s IS NULL) AS BIGINT) AS null_rows
        |  FROM (
        |    SELECT d.doc_id, u.s
        |    FROM d LEFT JOIN (
        |      SELECT doc_id, unnest(sh) AS s FROM d) u
        |      ON d.doc_id = u.doc_id))
        |SELECT docs_inner, docs_outer, rows_inner, rows_outer, null_rows,
        |  docs_outer - docs_inner AS shingleless_docs
        |FROM inner_x CROSS JOIN outer_x""".stripMargin,
  )
}
