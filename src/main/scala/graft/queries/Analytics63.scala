package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 additions, batch 70 (SURVEY.md §2.4):
  *
  *  - q217: rolling regression slope — the trend detector dashboards
  *    run over daily revenue: a 7-day RANGE-framed window accumulates
  *    the five OLS moment sums in exact DECIMAL (x = epoch day, y =
  *    revenue cents), and the slope division happens once per day in
  *    double from those exact moments. The frame is over the tiny
  *    daily grid (the fact table collapses first), so the window state
  *    is bounded regardless of corpus size.
  *  - q218: grouping_id bit-layout pin — ROLLUP carries a synthetic
  *    `grouping_id()` whose bit order (first grouping column =
  *    HIGHEST bit) differs across engines' documentation more than
  *    their behavior; pinned explicitly against DuckDB's
  *    GROUPING(a, b) so aggregate-lineage code can rely on it.
  */
object Analytics63 {
  import Tables.{centsDecimal, t}

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q217_rolling_slope" -> ((spark, dir) => {
      val daily = t(spark, dir, "lineitem")
        .groupBy(to_date(col("l_shipdate")).as("day"))
        .agg(sum(centsDecimal(col("l_extendedprice"))).cast("decimal(18,0)")
          .as("rev"))
        .select(col("day"),
          datediff(col("day"), lit("1970-01-01").cast("date"))
            .cast("long").as("x"),
          col("rev").as("y"))
      val w = Window.orderBy(col("x"))
        .rangeBetween(-6, Window.currentRow)
      val m = daily.select(col("day"),
        count(lit(1)).over(w).cast("decimal(18,0)").as("n"),
        sum(col("x")).over(w).cast("decimal(38,0)").as("sx"),
        sum(col("y")).over(w).cast("decimal(38,0)").as("sy"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).over(w)
          .cast("decimal(38,0)").as("sxx"),
        sum((col("x") * col("y")).cast("decimal(38,0)")).over(w)
          .cast("decimal(38,0)").as("sxy"))
      m.select(col("day"), col("n").cast("long").as("n_days"),
          when(col("n") > 1,
            round((col("n").cast("double") * col("sxy").cast("double")
              - col("sx").cast("double") * col("sy").cast("double"))
              / (col("n").cast("double") * col("sxx").cast("double")
                - col("sx").cast("double") * col("sx").cast("double")), 4))
            .as("slope_cents_per_day"))
        .orderBy("day")
    }),

    "q218_grouping_id_pin" -> ((spark, dir) => {
      t(spark, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          grouping_id().cast("long").as("gid"),
          grouping(col("l_returnflag")).cast("int").as("g_flag"),
          grouping(col("l_linestatus")).cast("int").as("g_status"))
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "q217_rolling_slope" ->
      """WITH daily AS (
        |  SELECT CAST(l_shipdate AS DATE) AS day,
        |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |      AS DECIMAL(18,0))) AS DECIMAL(18,0)) AS y
        |  FROM lineitem GROUP BY 1),
        |g AS (
        |  SELECT day,
        |    CAST(day - DATE '1970-01-01' AS BIGINT) AS x, y
        |  FROM daily),
        |m AS (
        |  SELECT day,
        |    CAST(count(*) OVER w AS DECIMAL(18,0)) AS n,
        |    CAST(sum(x) OVER w AS DECIMAL(38,0)) AS sx,
        |    CAST(sum(y) OVER w AS DECIMAL(38,0)) AS sy,
        |    CAST(sum(x * x) OVER w AS DECIMAL(38,0)) AS sxx,
        |    CAST(sum(x * y) OVER w AS DECIMAL(38,0)) AS sxy
        |  FROM g
        |  WINDOW w AS (ORDER BY x RANGE BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT day, CAST(n AS BIGINT) AS n_days,
        |  CASE WHEN n > 1 THEN
        |    round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 4)
        |  END AS slope_cents_per_day
        |FROM m ORDER BY day""".stripMargin,

    "q218_grouping_id_pin" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |  CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
        |  CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag ASC NULLS FIRST,
        |  l_linestatus ASC NULLS FIRST""".stripMargin,
  )
}
