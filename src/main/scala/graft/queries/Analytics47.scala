package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 additions, batch 48 (SURVEY.md §2.4):
  *
  *  - q186: join-size estimation by UNIVERSE sampling — the estimator
  *    an optimizer actually needs for FK joins. Bernoulli-sampling
  *    each side of orders⋈lineitem at rate p would estimate with
  *    |sample|/p² variance blow-up; sampling the JOIN KEY's hash
  *    universe keeps matching pairs together, so |sample join|/p is
  *    unbiased with FK-join variance. The sample predicate is the
  *    deterministic md5-pack hash (q39's discipline) — both engines
  *    replay it bit-identically. Outputs exact vs estimate vs error.
  *  - q187: Pareto 80/20 concentration count — per nation, the
  *    smallest number of customers covering ≥ 80% of revenue. The 80%
  *    test is the exact rational 5·cum ≥ 4·total in DECIMAL cents (no
  *    float thresholds); the per-nation revenue sort is a bounded
  *    window scan. Companion to q144/q163 which report the curve —
  *    this reports the actionable head count.
  */
object Analytics47 {
  import Tables.{centsDecimal, t}

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q186_join_size_estimate" -> ((spark, dir) => {
      val keyIn = graft.functions.Md5Pack(col("k").cast("string")) % 16 === 0
      val o = t(spark, dir, "orders").select(col("o_orderkey").as("k"))
      val l = t(spark, dir, "lineitem").select(col("l_orderkey").as("k"))
      val exact = o.join(l, "k").agg(count(lit(1)).as("exact_rows"))
      val sample = o.filter(keyIn).join(l.filter(keyIn), "k")
        .agg(count(lit(1)).as("sample_rows"))
      exact.crossJoin(broadcast(sample))
        .select(col("exact_rows"), col("sample_rows"),
          (col("sample_rows") * 16).as("estimate_rows"))
        .withColumn("err_pct",
          round(lit(100.0) * (col("estimate_rows") - col("exact_rows"))
            .cast("double") / col("exact_rows").cast("double"), 4))
    }),

    "q187_pareto_coverage" -> ((spark, dir) => {
      val cust = t(spark, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val rev = t(spark, dir, "orders")
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"), col("c_custkey"))
        .agg(sum(centsDecimal(col("o_totalprice"))).cast("decimal(38,0)").as("r"))
      val w = Window.partitionBy("c_nationkey")
        .orderBy(col("r").desc, col("c_custkey"))
      val wCum = w.rowsBetween(Window.unboundedPreceding, 0)
      val ranked = rev
        .withColumn("rk", row_number().over(w))
        .withColumn("cum", sum(col("r")).over(wCum).cast("decimal(38,0)"))
      val tot = rev.groupBy("c_nationkey")
        .agg(sum(col("r")).cast("decimal(38,0)").as("tot"),
          count(lit(1)).as("n_cust"))
      ranked.join(broadcast(tot), "c_nationkey")
        .filter(col("cum") * 5 >= col("tot") * 4)
        .groupBy(col("c_nationkey"), col("n_cust"))
        .agg(min(col("rk")).cast("long").as("n_top"))
        .select(col("c_nationkey"), col("n_cust"), col("n_top"),
          round(col("n_top").cast("double") / col("n_cust").cast("double"),
            6).as("head_frac"))
        .orderBy("c_nationkey")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "q186_join_size_estimate" -> {
      def keyIn(c: String) = s"${Tables.duckMd5Pack(s"CAST($c AS VARCHAR)")} % 16 = 0"
      s"""WITH exact AS (
         |  SELECT CAST(count(*) AS BIGINT) AS exact_rows
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |samp AS (
         |  SELECT CAST(count(*) AS BIGINT) AS sample_rows
         |  FROM (SELECT o_orderkey FROM orders
         |        WHERE ${keyIn("o_orderkey")}) o
         |  JOIN (SELECT l_orderkey FROM lineitem
         |        WHERE ${keyIn("l_orderkey")}) l
         |    ON o_orderkey = l_orderkey)
         |SELECT exact_rows, sample_rows,
         |  sample_rows * 16 AS estimate_rows,
         |  round(100.0 * CAST(sample_rows * 16 - exact_rows AS DOUBLE)
         |    / CAST(exact_rows AS DOUBLE), 4) AS err_pct
         |FROM exact CROSS JOIN samp""".stripMargin
    },

    "q187_pareto_coverage" ->
      """WITH rev AS (
        |  SELECT c_nationkey, c_custkey,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |      AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS r
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |ranked AS (
        |  SELECT c_nationkey,
        |    row_number() OVER (PARTITION BY c_nationkey
        |      ORDER BY r DESC, c_custkey) AS rk,
        |    CAST(sum(r) OVER (PARTITION BY c_nationkey
        |      ORDER BY r DESC, c_custkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS DECIMAL(38,0)) AS cum
        |  FROM rev),
        |tot AS (
        |  SELECT c_nationkey, CAST(sum(r) AS DECIMAL(38,0)) AS tot,
        |    CAST(count(*) AS BIGINT) AS n_cust
        |  FROM rev GROUP BY 1)
        |SELECT ranked.c_nationkey, n_cust,
        |  CAST(min(rk) AS BIGINT) AS n_top,
        |  round(CAST(min(rk) AS DOUBLE) / CAST(n_cust AS DOUBLE), 6)
        |    AS head_frac
        |FROM ranked JOIN tot ON ranked.c_nationkey = tot.c_nationkey
        |WHERE cum * 5 >= tot * 4
        |GROUP BY 1, 2
        |ORDER BY 1""".stripMargin,
  )
}
