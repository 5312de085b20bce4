package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 additions, batch 45 (SURVEY.md §2.4):
  *
  *  - q182: seasonality-strength decomposition (Hyndman's
  *    1 − var(remainder)/var(detrended)) of the monthly revenue
  *    series. The trend is a centered 13-month moving sum kept ×13 so
  *    it stays exact DECIMAL (full windows only); the month-of-year
  *    seasonal means round to 6dp into DECIMAL before subtraction, so
  *    the remainder and both variance sums accumulate exactly — the
  *    final 1 − ratio is the only float step. The series is
  *    month-grain (calendar-bounded at any corpus scale); the one
  *    fact-scale operation is the groupBy(month) rollup underneath.
  */
object Analytics45 {
  import Tables.{centsDecimal, t}

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q182_seasonality_strength" -> ((spark, dir) => {
      val monthly = t(spark, dir, "orders")
        .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("mx"),
          month(col("o_orderdate")).as("moy"))
        .agg(sum(centsDecimal(col("o_totalprice"))).cast("decimal(38,0)").as("v"))
      // month-grain frame: every window below is calendar-bounded
      val w13 = Window.orderBy("mx").rowsBetween(-6, 6)
      val detr = monthly
        .withColumn("t13", sum(col("v")).over(w13).cast("decimal(38,0)"))
        .withColumn("n13", count(lit(1)).over(w13))
        .filter(col("n13") === 13)
        .select(col("mx"), col("moy"),
          (col("v") * 13 - col("t13")).cast("decimal(38,0)").as("d13"))
      val seas = detr.groupBy("moy")
        .agg(round(sum(col("d13")).cast("double")
          / count(lit(1)).cast("double"), 6)
          .cast("decimal(28,6)").as("s13"))
      val resid = detr.join(broadcast(seas), "moy")
        .select(col("d13"), (col("d13") - col("s13"))
          .cast("decimal(38,6)").as("r13"))
      resid.agg(
          count(lit(1)).as("n_months"),
          sum((col("d13") * col("d13")).cast("decimal(38,0)"))
            .cast("decimal(38,0)").as("sdd"),
          sum((col("r13") * col("r13")).cast("decimal(38,6)"))
            .cast("decimal(38,6)").as("srr"))
        .select(col("n_months"),
          round(lit(1.0) - col("srr").cast("double")
            / col("sdd").cast("double"), 6).as("seasonal_strength"))
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "q182_seasonality_strength" ->
      """WITH monthly AS (
        |  SELECT CAST(EXTRACT(year FROM o_orderdate) * 12
        |      + EXTRACT(month FROM o_orderdate) AS BIGINT) AS mx,
        |    CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS moy,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |      AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS v
        |  FROM orders GROUP BY 1, 2),
        |detr AS (
        |  SELECT mx, moy, CAST(v * 13 - t13 AS DECIMAL(38,0)) AS d13
        |  FROM (
        |    SELECT mx, moy, v,
        |      CAST(sum(v) OVER (ORDER BY mx
        |        ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING)
        |        AS DECIMAL(38,0)) AS t13,
        |      count(*) OVER (ORDER BY mx
        |        ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING) AS n13
        |    FROM monthly)
        |  WHERE n13 = 13),
        |seas AS (
        |  SELECT moy, CAST(round(CAST(sum(d13) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE), 6) AS DECIMAL(28,6)) AS s13
        |  FROM detr GROUP BY 1),
        |resid AS (
        |  SELECT d13, CAST(d13 - s13 AS DECIMAL(38,6)) AS r13
        |  FROM detr JOIN seas USING (moy))
        |SELECT CAST(count(*) AS BIGINT) AS n_months,
        |  round(1.0 - CAST(sum(CAST(r13 * r13 AS DECIMAL(38,6)))
        |      AS DOUBLE)
        |    / CAST(sum(CAST(d13 * d13 AS DECIMAL(38,0))) AS DOUBLE), 6)
        |    AS seasonal_strength
        |FROM resid""".stripMargin,
  )
}
