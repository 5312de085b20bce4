package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-5 additions, batch 47 (SURVEY.md §2.4):
  *
  *  - q183: hierarchical forecast reconciliation — bottom-up per-nation
  *    last-12-month means vs a top-down split of the naive top-level
  *    forecast (last global month, distributed by each nation's
  *    last-12 revenue share). The month frames are calendar-bounded;
  *    every sum is exact DECIMAL cents and the share division is the
  *    only float step. The op behind "do the regional forecasts add up
  *    to the company number?".
  *  - q184: cube-materialization advisor — for every subset of the
  *    (returnflag, linestatus, shipmonth) dimension lattice, the exact
  *    group count and the scan-reduction factor a materialized rollup
  *    of that subset would buy. All eight cardinalities come from ONE
  *    pass of multi-count-distinct (the q65 Expand machinery); the
  *    lattice frame itself is 8 rows.
  *  - q185: trending parts — recent-window shipment velocity vs the
  *    part's all-time rate, top 10 by ratio with a minimum-support
  *    floor. Rates stay rational (qr·span vs 30·qa in exact DECIMAL)
  *    until the final rounded ratio; the top-k is a bounded sort over
  *    the min-support survivors.
  */
object Analytics46 {
  import Tables.{centsDecimal, t}

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q183_forecast_reconciliation" -> ((spark, dir) => {
      val cust = t(spark, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val monthly = t(spark, dir, "orders")
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"),
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
            .cast("long").as("mx"))
        .agg(sum(centsDecimal(col("o_totalprice"))).cast("decimal(38,0)").as("v"))
      val maxmx = monthly.agg(max(col("mx")).as("maxmx"))
      val last12 = monthly.crossJoin(broadcast(maxmx))
        .filter(col("mx") > col("maxmx") - 12)
      val bu = last12.groupBy("c_nationkey")
        .agg(sum(col("v")).cast("decimal(38,0)").as("f12"))
      val tot = last12.agg(
        sum(col("v")).cast("decimal(38,0)").as("g12"),
        sum(when(col("mx") === col("maxmx"), col("v")).otherwise(lit(0)))
          .cast("decimal(38,0)").as("last_g"))
      bu.crossJoin(broadcast(tot))
        .select(col("c_nationkey"),
          round(col("f12").cast("double") / 12.0, 4).as("bottom_up_cents"),
          round(col("last_g").cast("double") * col("f12").cast("double")
            / col("g12").cast("double"), 4).as("top_down_cents"))
        .withColumn("gap_cents",
          round(col("bottom_up_cents") - col("top_down_cents"), 4))
        .orderBy("c_nationkey")
    }),

    "q184_cube_advisor" -> ((spark, dir) => {
      val base = t(spark, dir, "lineitem").select(
        col("l_returnflag").as("rf"), col("l_linestatus").as("ls"),
        (year(col("l_shipdate")) * 12 + month(col("l_shipdate")))
          .cast("long").as("sm"))
      val counts = base.agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("rf")).as("g_rf"),
        countDistinct(col("ls")).as("g_ls"),
        countDistinct(col("sm")).as("g_sm"),
        countDistinct(col("rf"), col("ls")).as("g_rf_ls"),
        countDistinct(col("rf"), col("sm")).as("g_rf_sm"),
        countDistinct(col("ls"), col("sm")).as("g_ls_sm"),
        countDistinct(col("rf"), col("ls"), col("sm")).as("g_rf_ls_sm"))
      // melt the one-row lattice into (dims, n_groups) — 8-row frame
      counts.select(col("n_rows"), expr(
          "stack(7, 'rf', g_rf, 'ls', g_ls, 'sm', g_sm, " +
            "'rf,ls', g_rf_ls, 'rf,sm', g_rf_sm, 'ls,sm', g_ls_sm, " +
            "'rf,ls,sm', g_rf_ls_sm) AS (dims, n_groups)"))
        .select(col("dims"), col("n_groups"),
          round(col("n_rows").cast("double")
            / col("n_groups").cast("double"), 2).as("reduction"),
          (col("n_rows") >= col("n_groups") * 1000).as("materialize"))
        .orderBy("dims")
    }),

    "q185_trending_parts" -> ((spark, dir) => {
      val li = t(spark, dir, "lineitem").select(col("l_partkey"),
        to_date(col("l_shipdate")).as("d"),
        col("l_quantity").cast("decimal(18,0)").as("q"))
      val span = li.agg(max(col("d")).as("maxd"), min(col("d")).as("mind"))
        .select(col("maxd"),
          (datediff(col("maxd"), col("mind")) + 1).cast("long").as("span"))
      val per = li.crossJoin(broadcast(span))
        .groupBy(col("l_partkey"), col("span"))
        .agg(sum(col("q")).cast("decimal(38,0)").as("qa"),
          sum(when(col("d") > date_sub(col("maxd"), 30), col("q"))
            .otherwise(lit(0))).cast("decimal(38,0)").as("qr"))
        .filter(col("qr") >= 5)
      per.select(col("l_partkey"), col("qa").cast("long").as("qty_all"),
          col("qr").cast("long").as("qty_recent"),
          round((col("qr") * col("span")).cast("double")
            / (col("qa") * 30).cast("double"), 6).as("trend_ratio"))
        .orderBy(col("trend_ratio").desc, col("l_partkey"))
        .limit(10)
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "q183_forecast_reconciliation" ->
      """WITH monthly AS (
        |  SELECT c_nationkey,
        |    CAST(EXTRACT(year FROM o_orderdate) * 12
        |      + EXTRACT(month FROM o_orderdate) AS BIGINT) AS mx,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |      AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS v
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |mm AS (SELECT max(mx) AS maxmx FROM monthly),
        |last12 AS (
        |  SELECT * FROM monthly CROSS JOIN mm WHERE mx > maxmx - 12),
        |bu AS (
        |  SELECT c_nationkey, CAST(sum(v) AS DECIMAL(38,0)) AS f12
        |  FROM last12 GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(v) AS DECIMAL(38,0)) AS g12,
        |    CAST(sum(CASE WHEN mx = maxmx THEN v ELSE 0 END)
        |      AS DECIMAL(38,0)) AS last_g
        |  FROM last12)
        |SELECT c_nationkey,
        |  round(CAST(f12 AS DOUBLE) / 12.0, 4) AS bottom_up_cents,
        |  round(CAST(last_g AS DOUBLE) * CAST(f12 AS DOUBLE)
        |    / CAST(g12 AS DOUBLE), 4) AS top_down_cents,
        |  round(round(CAST(f12 AS DOUBLE) / 12.0, 4)
        |    - round(CAST(last_g AS DOUBLE) * CAST(f12 AS DOUBLE)
        |      / CAST(g12 AS DOUBLE), 4), 4) AS gap_cents
        |FROM bu CROSS JOIN tot
        |ORDER BY c_nationkey""".stripMargin,

    "q184_cube_advisor" ->
      """WITH base AS (
        |  SELECT l_returnflag AS rf, l_linestatus AS ls,
        |    CAST(EXTRACT(year FROM l_shipdate) * 12
        |      + EXTRACT(month FROM l_shipdate) AS BIGINT) AS sm
        |  FROM lineitem),
        |counts AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(count(DISTINCT rf) AS BIGINT) AS g_rf,
        |    CAST(count(DISTINCT ls) AS BIGINT) AS g_ls,
        |    CAST(count(DISTINCT sm) AS BIGINT) AS g_sm,
        |    CAST(count(DISTINCT (rf, ls)) AS BIGINT) AS g_rf_ls,
        |    CAST(count(DISTINCT (rf, sm)) AS BIGINT) AS g_rf_sm,
        |    CAST(count(DISTINCT (ls, sm)) AS BIGINT) AS g_ls_sm,
        |    CAST(count(DISTINCT (rf, ls, sm)) AS BIGINT) AS g_rf_ls_sm
        |  FROM base),
        |lattice AS (
        |  SELECT n_rows, 'rf' AS dims, g_rf AS n_groups FROM counts
        |  UNION ALL SELECT n_rows, 'ls', g_ls FROM counts
        |  UNION ALL SELECT n_rows, 'sm', g_sm FROM counts
        |  UNION ALL SELECT n_rows, 'rf,ls', g_rf_ls FROM counts
        |  UNION ALL SELECT n_rows, 'rf,sm', g_rf_sm FROM counts
        |  UNION ALL SELECT n_rows, 'ls,sm', g_ls_sm FROM counts
        |  UNION ALL SELECT n_rows, 'rf,ls,sm', g_rf_ls_sm FROM counts)
        |SELECT dims, n_groups,
        |  round(CAST(n_rows AS DOUBLE) / CAST(n_groups AS DOUBLE), 2)
        |    AS reduction,
        |  n_rows >= n_groups * 1000 AS materialize
        |FROM lattice ORDER BY dims""".stripMargin,

    "q185_trending_parts" ->
      """WITH li AS (
        |  SELECT l_partkey, CAST(l_shipdate AS DATE) AS d,
        |    CAST(l_quantity AS DECIMAL(18,0)) AS q
        |  FROM lineitem),
        |span AS (
        |  SELECT max(d) AS maxd,
        |    CAST(date_diff('day', min(d), max(d)) + 1 AS BIGINT) AS span
        |  FROM li),
        |per AS (
        |  SELECT l_partkey, span,
        |    CAST(sum(q) AS DECIMAL(38,0)) AS qa,
        |    CAST(sum(CASE WHEN d > maxd - 30 THEN q ELSE 0 END)
        |      AS DECIMAL(38,0)) AS qr
        |  FROM li CROSS JOIN span
        |  GROUP BY 1, 2
        |  HAVING sum(CASE WHEN d > maxd - 30 THEN q ELSE 0 END) >= 5)
        |SELECT l_partkey, CAST(qa AS BIGINT) AS qty_all,
        |  CAST(qr AS BIGINT) AS qty_recent,
        |  round(CAST(qr * span AS DOUBLE) / CAST(qa * 30 AS DOUBLE), 6)
        |    AS trend_ratio
        |FROM per
        |ORDER BY trend_ratio DESC, l_partkey
        |LIMIT 10""".stripMargin,
  )
}
