package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-5 additions, batch 65 (SURVEY.md §2.4):
  *
  *  - q209: cohort-mean imputation — the feature-engineering staple:
  *    customers who have never ordered get their "average order value"
  *    feature imputed from their nation's cohort mean (computed ONLY
  *    over customers who did order), with an explicit imputed flag so
  *    downstream training can regress on missingness. The mean is an
  *    exact integer (basis-point cents via floor division — positive
  *    operands, so Spark's truncating `div` and DuckDB's flooring `//`
  *    agree bit-for-bit; no decimal-cast rounding anywhere). Shape:
  *    fact groupBy (one shuffle), broadcast 25-row mean grid, no row
  *    explosion. Spend stays in BIGINT cents — overflow would need a
  *    single customer past ~9e16 cents.
  */
object Analytics58 {
  import Tables.{centsDecimal, t}

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q209_value_imputation" -> ((spark, dir) => {
      val perCust = t(spark, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(centsDecimal(col("o_totalprice"))).cast("long").as("spend"),
          count(lit(1)).as("n_orders"))
      val cust = t(spark, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val joined = cust.join(perCust, col("c_custkey") === col("o_custkey"),
        "left")
      val nationMean = joined.filter(col("n_orders").isNotNull)
        .groupBy("c_nationkey")
        .agg(sum(col("spend")).as("tot_spend"),
          sum(col("n_orders")).as("tot_orders"))
        .select(col("c_nationkey").as("m_nationkey"),
          expr("tot_spend * 100 div tot_orders").as("mean_aov_bp"))
      joined.join(broadcast(nationMean),
          col("c_nationkey") === col("m_nationkey"))
        .select(col("c_custkey"), col("c_nationkey"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(expr("spend * 100 div n_orders"), col("mean_aov_bp"))
            .as("aov_bp"),
          col("n_orders").isNull.as("imputed"))
        .orderBy("c_custkey")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "q209_value_imputation" ->
      """WITH per_cust AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |      AS DECIMAL(18,0))) AS BIGINT) AS spend,
        |    CAST(count(*) AS BIGINT) AS n_orders
        |  FROM orders GROUP BY 1),
        |joined AS (
        |  SELECT c_custkey, c_nationkey, spend, n_orders
        |  FROM customer LEFT JOIN per_cust ON c_custkey = o_custkey),
        |nation_mean AS (
        |  SELECT c_nationkey,
        |    CAST(sum(spend) AS BIGINT) * 100
        |      // CAST(sum(n_orders) AS BIGINT) AS mean_aov_bp
        |  FROM joined WHERE n_orders IS NOT NULL GROUP BY 1)
        |SELECT c_custkey, j.c_nationkey,
        |  coalesce(n_orders, 0) AS n_orders,
        |  coalesce(spend * 100 // n_orders, mean_aov_bp) AS aov_bp,
        |  n_orders IS NULL AS imputed
        |FROM joined j JOIN nation_mean m ON j.c_nationkey = m.c_nationkey
        |ORDER BY c_custkey""".stripMargin,
  )
}
