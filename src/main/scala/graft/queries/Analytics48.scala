package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-5 additions, batch 49 (SURVEY.md §2.4):
  *
  *  - q188: difference-in-differences — the quasi-experimental
  *    estimator behind "did the program move the needle?": ASIA
  *    nations as the treated group, all others as control, split at
  *    the calendar midpoint of the monthly revenue series. All four
  *    cell aggregates are exact DECIMAL (sum, count) pairs from ONE
  *    pass over the nation-month frame; the four means and the DiD
  *    double difference are the only float arithmetic.
  *  - q190: order-priority mix entropy per nation — Shannon diversity
  *    plus the effective-category count exp(H), the assortment-
  *    diversity index a merchandiser tracks. The ln() terms run on
  *    the bounded (nation, priority) mix frame and round to 10dp
  *    DECIMAL before the order-free sum.
  */
object Analytics48 {
  import Tables.{centsDecimal, t}

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q188_diff_in_diff" -> ((spark, dir) => {
      val nat = t(spark, dir, "nation")
        .join(t(spark, dir, "region"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), (col("r_name") === "ASIA").as("treated"))
      val cust = t(spark, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val monthly = t(spark, dir, "orders")
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"),
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
            .cast("long").as("mx"))
        .agg(sum(centsDecimal(col("o_totalprice"))).cast("decimal(38,0)").as("v"))
      val lim = monthly.agg(
        ((min(col("mx")) + max(col("mx"))) / lit(2)).cast("long").as("cut"))
      val cells = monthly
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .crossJoin(broadcast(lim))
        .groupBy(col("treated"), (col("mx") > col("cut")).as("post"))
        .agg(sum(col("v")).cast("decimal(38,0)").as("s"),
          count(lit(1)).as("n"))
      // fold the 2×2 design into one row of exact cell sums
      val wide = cells.agg(
        sum(when(col("treated") && col("post"), col("s"))).as("s_tp"),
        sum(when(col("treated") && col("post"), col("n"))).as("n_tp"),
        sum(when(col("treated") && !col("post"), col("s"))).as("s_t0"),
        sum(when(col("treated") && !col("post"), col("n"))).as("n_t0"),
        sum(when(!col("treated") && col("post"), col("s"))).as("s_cp"),
        sum(when(!col("treated") && col("post"), col("n"))).as("n_cp"),
        sum(when(!col("treated") && !col("post"), col("s"))).as("s_c0"),
        sum(when(!col("treated") && !col("post"), col("n"))).as("n_c0"))
      wide.select(
        col("n_tp").cast("long").as("n_treated_post"),
        col("n_t0").cast("long").as("n_treated_pre"),
        col("n_cp").cast("long").as("n_control_post"),
        col("n_c0").cast("long").as("n_control_pre"),
        round((col("s_tp").cast("double") / col("n_tp").cast("double")
          - col("s_t0").cast("double") / col("n_t0").cast("double"))
          - (col("s_cp").cast("double") / col("n_cp").cast("double")
            - col("s_c0").cast("double") / col("n_c0").cast("double")),
          4).as("did_cents"))
    }),

    "q190_mix_entropy" -> ((spark, dir) => {
      val cust = t(spark, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val mix = t(spark, dir, "orders")
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
      val tot = mix.groupBy("c_nationkey")
        .agg(sum(col("n")).as("nt"), count(lit(1)).as("n_priorities"))
      mix.join(broadcast(tot), "c_nationkey")
        .select(col("c_nationkey"), col("nt"), col("n_priorities"),
          round((col("n").cast("double") / col("nt").cast("double"))
            * log(col("nt").cast("double") / col("n").cast("double")), 10)
            .cast("decimal(22,10)").as("term"))
        .groupBy(col("c_nationkey"), col("nt"), col("n_priorities"))
        .agg(sum(col("term")).as("h"))
        .select(col("c_nationkey"), col("nt").as("n_orders"),
          col("n_priorities"),
          round(col("h").cast("double"), 6).as("entropy"),
          round(exp(col("h").cast("double")), 4).as("effective_mix"))
        .orderBy("c_nationkey")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "q188_diff_in_diff" ->
      """WITH nat AS (
        |  SELECT n_nationkey, r_name = 'ASIA' AS treated
        |  FROM nation JOIN region ON n_regionkey = r_regionkey),
        |monthly AS (
        |  SELECT c_nationkey,
        |    CAST(EXTRACT(year FROM o_orderdate) * 12
        |      + EXTRACT(month FROM o_orderdate) AS BIGINT) AS mx,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |      AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS v
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |lim AS (
        |  SELECT CAST((min(mx) + max(mx)) // 2 AS BIGINT) AS cut
        |  FROM monthly),
        |cells AS (
        |  SELECT treated, mx > cut AS post,
        |    CAST(sum(v) AS DECIMAL(38,0)) AS s, CAST(count(*) AS BIGINT) AS n
        |  FROM monthly
        |  JOIN nat ON c_nationkey = n_nationkey
        |  CROSS JOIN lim
        |  GROUP BY 1, 2),
        |wide AS (
        |  SELECT
        |    sum(CASE WHEN treated AND post THEN s END) AS s_tp,
        |    sum(CASE WHEN treated AND post THEN n END) AS n_tp,
        |    sum(CASE WHEN treated AND NOT post THEN s END) AS s_t0,
        |    sum(CASE WHEN treated AND NOT post THEN n END) AS n_t0,
        |    sum(CASE WHEN NOT treated AND post THEN s END) AS s_cp,
        |    sum(CASE WHEN NOT treated AND post THEN n END) AS n_cp,
        |    sum(CASE WHEN NOT treated AND NOT post THEN s END) AS s_c0,
        |    sum(CASE WHEN NOT treated AND NOT post THEN n END) AS n_c0
        |  FROM cells)
        |SELECT CAST(n_tp AS BIGINT) AS n_treated_post,
        |  CAST(n_t0 AS BIGINT) AS n_treated_pre,
        |  CAST(n_cp AS BIGINT) AS n_control_post,
        |  CAST(n_c0 AS BIGINT) AS n_control_pre,
        |  round((CAST(s_tp AS DOUBLE) / CAST(n_tp AS DOUBLE)
        |    - CAST(s_t0 AS DOUBLE) / CAST(n_t0 AS DOUBLE))
        |    - (CAST(s_cp AS DOUBLE) / CAST(n_cp AS DOUBLE)
        |      - CAST(s_c0 AS DOUBLE) / CAST(n_c0 AS DOUBLE)), 4)
        |    AS did_cents
        |FROM wide""".stripMargin,

    "q190_mix_entropy" ->
      """WITH mix AS (
        |  SELECT c_nationkey, o_orderpriority,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |tot AS (
        |  SELECT c_nationkey, CAST(sum(n) AS BIGINT) AS nt,
        |    CAST(count(*) AS BIGINT) AS n_priorities
        |  FROM mix GROUP BY 1),
        |h AS (
        |  SELECT c_nationkey, nt, n_priorities,
        |    sum(CAST(round((CAST(n AS DOUBLE) / CAST(nt AS DOUBLE))
        |      * ln(CAST(nt AS DOUBLE) / CAST(n AS DOUBLE)), 10)
        |      AS DECIMAL(22,10))) AS h
        |  FROM mix JOIN tot USING (c_nationkey)
        |  GROUP BY 1, 2, 3)
        |SELECT c_nationkey, nt AS n_orders, n_priorities,
        |  round(CAST(h AS DOUBLE), 6) AS entropy,
        |  round(exp(CAST(h AS DOUBLE)), 4) AS effective_mix
        |FROM h ORDER BY c_nationkey""".stripMargin,
  )
}
