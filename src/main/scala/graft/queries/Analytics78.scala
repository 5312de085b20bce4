package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 additions, batch 86 (SURVEY.md §2.4):
  *
  *  - q239: max–min fair-share (water-filling) allocation — the
  *    scheduler math for dividing a capacity among competing tenants:
  *    demands below the water level are fully served, everyone else
  *    gets the level. Tenants = nations (demand = revenue cents),
  *    capacity = half the total demand. The breakpoint is found with
  *    one ascending cumulative-demand window (`cum + d·(n−i) ≤ C`
  *    feasibility), the level by integer division of the residual, and
  *    the leftover cents go to the lowest-keyed unsaturated tenants
  *    (the q219 largest-remainder discipline) — so the allocations are
  *    integers that sum EXACTLY to the capacity. Everything is
  *    integer arithmetic on the 25-row grid after one fact groupBy.
  */
object Analytics78 {
  import Tables.{centsLong, t}

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q239_maxmin_fairshare" -> ((spark, dir) => {
      val sup = broadcast(t(spark, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey")))
      val demand = t(spark, dir, "lineitem")
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_nationkey")
        .agg(sum(centsLong(col("l_extendedprice"))).as("d"))
      val tot = demand.agg(expr("CAST(sum(d) div 2 AS BIGINT)").as("cap"),
        count(lit(1)).as("n"))
      val w = Window.orderBy(col("d"), col("s_nationkey"))
      val ranked = demand.crossJoin(broadcast(tot))
        .withColumn("i", row_number().over(w))
        .withColumn("cum", sum(col("d")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("feasible",
          col("cum") + col("d") * (col("n") - col("i")) <= col("cap"))
      val k = ranked.agg(
        coalesce(max(when(col("feasible"), col("i"))), lit(0L).cast("int"))
          .as("k"))
      val kCum = ranked.crossJoin(broadcast(k))
        .withColumn("cum_k",
          coalesce(max(when(col("i") === col("k"), col("cum")))
            .over(Window.partitionBy(lit(1))), lit(0L)))
      val leveled = kCum
        .withColumn("m", col("n") - col("k"))
        .withColumn("base", col("cap") - col("cum_k"))
        .withColumn("lvl", expr("CASE WHEN m > 0 THEN base div m END"))
        .withColumn("r", expr("CASE WHEN m > 0 THEN base % m ELSE 0 END"))
      // leftover cents: lowest nationkey among the unsaturated
      val wRem = Window.partitionBy(lit(1))
        .orderBy(col("sat"), col("s_nationkey"))
      leveled
        .withColumn("sat", col("i") <= col("k"))
        .withColumn("rr", row_number().over(wRem))
        .withColumn("alloc",
          when(col("sat"), col("d"))
            .otherwise(col("lvl")
              + when(col("rr") >= 1 && col("rr") <= col("r"), 1L)
                .otherwise(0L)))
        .select(col("s_nationkey"), col("d").as("demand_cents"),
          col("alloc").as("alloc_cents"), col("sat").as("fully_served"))
        .orderBy("s_nationkey")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "q239_maxmin_fairshare" ->
      """WITH demand AS (
        |  SELECT s_nationkey,
        |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |      AS DECIMAL(18,0))) AS BIGINT) AS d
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  GROUP BY 1),
        |tot AS (SELECT CAST(sum(d) // 2 AS BIGINT) AS cap,
        |  CAST(count(*) AS BIGINT) AS n FROM demand),
        |ranked AS (
        |  SELECT *, row_number() OVER (ORDER BY d, s_nationkey) AS i,
        |    sum(d) OVER (ORDER BY d, s_nationkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM demand CROSS JOIN tot),
        |feas AS (
        |  SELECT *, cum + d * (n - i) <= cap AS feasible FROM ranked),
        |kk AS (
        |  SELECT coalesce(max(CASE WHEN feasible THEN i END), 0) AS k,
        |    coalesce(max(CASE WHEN feasible THEN cum END), 0) AS cum_k
        |  FROM feas),
        |lv AS (
        |  SELECT f.*, kk.k, kk.cum_k, f.n - kk.k AS m,
        |    cap - kk.cum_k AS base
        |  FROM feas f CROSS JOIN kk),
        |lv2 AS (
        |  SELECT *,
        |    CASE WHEN m > 0 THEN base // m END AS lvl,
        |    CASE WHEN m > 0 THEN base % m ELSE 0 END AS r,
        |    i <= k AS sat
        |  FROM lv),
        |pos AS (
        |  SELECT *, row_number() OVER (ORDER BY sat, s_nationkey) AS rr
        |  FROM lv2)
        |SELECT s_nationkey, d AS demand_cents,
        |  CAST(CASE WHEN sat THEN d
        |    ELSE lvl + CASE WHEN rr >= 1 AND rr <= r THEN 1 ELSE 0 END
        |  END AS BIGINT) AS alloc_cents,
        |  sat AS fully_served
        |FROM pos ORDER BY s_nationkey""".stripMargin,
  )
}
