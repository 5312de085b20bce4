package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-5 additions, batch 57 (SURVEY.md §2.4):
  *
  *  - q194: order backlog curve — open orders per month, where an
  *    order is open from its placement month until its last shipment
  *    month. Computed as +1/−1 interval deltas rolled up to the
  *    calendar-bounded month grain, then one running sum — the
  *    interval-counting discipline of q78 applied to produce the full
  *    operational series (not just peaks). The fact-scale work is the
  *    per-order max-shipdate rollup; everything after is month-grain.
  *  - q195: fulfillment completeness — the share of orders whose LAST
  *    lineitem shipped within 90 days, by priority. Exact counts; the
  *    rate division is the only float.
  *  - q196: supplier-concentration trend — q177's HHI computed per
  *    (nation, year), then an OLS slope over the calendar-bounded year
  *    series per nation: is each market concentrating or fragmenting?
  *    Yearly HHIs round to 6dp DECIMAL before entering the exact
  *    regression sums, so the slope arithmetic is order-free.
  */
object Analytics52 {
  import Tables.{centsDecimal, t}

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q194_backlog_curve" -> ((spark, dir) => {
      val mx = (c: org.apache.spark.sql.Column) =>
        (year(c) * 12 + month(c)).cast("long")
      val spans = t(spark, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(max(col("l_shipdate")).as("last_ship"))
        .join(t(spark, dir, "orders")
          .select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .select(mx(col("o_orderdate")).as("m_open"),
          mx(col("last_ship")).as("m_close"))
      val deltas = spans.select(col("m_open").as("m"), lit(1L).as("d"))
        .unionAll(spans.select((col("m_close") + 1).as("m"),
          lit(-1L).as("d")))
        .groupBy("m").agg(sum(col("d")).as("d"))
      val cum = graft.operators.GlobalPrefixSum.withRunningTotal(
        deltas, "m", "d", "backlog")
      cum.select(col("m").as("month_index"), col("backlog"))
        .filter(col("backlog") > 0 || col("d") =!= 0)
        .select(col("month_index"), col("backlog"))
        .orderBy("month_index")
    }),

    "q195_fulfillment_sla" -> ((spark, dir) => {
      val lag = t(spark, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(max(to_date(col("l_shipdate"))).as("last_ship"))
        .join(t(spark, dir, "orders").select(col("o_orderkey"),
          to_date(col("o_orderdate")).as("od"), col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority"),
          (datediff(col("last_ship"), col("od")) <= 90).as("on_time"))
      lag.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          count_if(col("on_time")).as("n_on_time"))
        .select(col("o_orderpriority"), col("n_orders"), col("n_on_time"),
          round(col("n_on_time").cast("double")
            / col("n_orders").cast("double"), 6).as("sla_rate"))
        .orderBy("o_orderpriority")
    }),

    "q196_hhi_trend" -> ((spark, dir) => {
      val r = t(spark, dir, "lineitem")
        .join(t(spark, dir, "supplier"),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_nationkey"), year(col("l_shipdate")).as("yr"),
          col("s_suppkey"))
        .agg(sum(centsDecimal(col("l_extendedprice"))).cast("decimal(38,0)")
          .as("rev"))
      val hhi = r.groupBy("s_nationkey", "yr").agg(
          round(lit(10000.0)
            * sum((col("rev") * col("rev")).cast("decimal(38,0)"))
              .cast("double")
            / (sum(col("rev")).cast("double")
              * sum(col("rev")).cast("double")), 6)
            .cast("decimal(16,6)").as("h"))
      val s = hhi.groupBy("s_nationkey").agg(
        count(lit(1)).as("n_years"),
        sum(col("yr").cast("decimal(18,0)")).cast("decimal(38,0)").as("sx"),
        sum(col("h")).cast("decimal(38,6)").as("sy"),
        sum((col("yr") * col("yr")).cast("decimal(38,0)"))
          .cast("decimal(38,0)").as("sxx"),
        sum((col("yr").cast("decimal(18,0)") * col("h"))
          .cast("decimal(38,6)")).cast("decimal(38,6)").as("sxy"))
      s.select(col("s_nationkey"), col("n_years"),
          round((col("n_years") * col("sxy") - col("sx") * col("sy"))
            .cast("double")
            / (col("n_years") * col("sxx") - col("sx") * col("sx"))
            .cast("double"), 6).as("hhi_slope_per_year"))
        .orderBy("s_nationkey")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "q194_backlog_curve" ->
      """WITH spans AS (
        |  SELECT CAST(EXTRACT(year FROM o_orderdate) * 12
        |      + EXTRACT(month FROM o_orderdate) AS BIGINT) AS m_open,
        |    CAST(EXTRACT(year FROM last_ship) * 12
        |      + EXTRACT(month FROM last_ship) AS BIGINT) AS m_close
        |  FROM (SELECT l_orderkey, max(l_shipdate) AS last_ship
        |        FROM lineitem GROUP BY 1) s
        |  JOIN orders ON l_orderkey = o_orderkey),
        |deltas AS (
        |  SELECT m, CAST(sum(d) AS BIGINT) AS d FROM (
        |    SELECT m_open AS m, 1 AS d FROM spans
        |    UNION ALL SELECT m_close + 1, -1 FROM spans)
        |  GROUP BY 1),
        |cum AS (
        |  SELECT m, d, sum(d) OVER (ORDER BY m) AS backlog FROM deltas)
        |SELECT m AS month_index, CAST(backlog AS BIGINT) AS backlog
        |FROM cum WHERE backlog > 0 OR d <> 0
        |ORDER BY month_index""".stripMargin,

    "q195_fulfillment_sla" ->
      """WITH lag AS (
        |  SELECT o_orderpriority,
        |    date_diff('day', CAST(o_orderdate AS DATE),
        |      CAST(last_ship AS DATE)) <= 90 AS on_time
        |  FROM (SELECT l_orderkey, max(CAST(l_shipdate AS DATE))
        |          AS last_ship
        |        FROM lineitem GROUP BY 1) s
        |  JOIN orders ON l_orderkey = o_orderkey)
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(count(*) FILTER (on_time) AS BIGINT) AS n_on_time,
        |  round(CAST(count(*) FILTER (on_time) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE), 6) AS sla_rate
        |FROM lag GROUP BY 1 ORDER BY 1""".stripMargin,

    "q196_hhi_trend" ->
      """WITH r AS (
        |  SELECT s_nationkey, EXTRACT(year FROM l_shipdate) AS yr,
        |    s_suppkey,
        |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |      AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS rev
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  GROUP BY 1, 2, 3),
        |hhi AS (
        |  SELECT s_nationkey, yr,
        |    CAST(round(10000.0
        |      * CAST(sum(CAST(rev * rev AS DECIMAL(38,0))) AS DOUBLE)
        |      / (CAST(sum(rev) AS DOUBLE) * CAST(sum(rev) AS DOUBLE)), 6)
        |      AS DECIMAL(16,6)) AS h
        |  FROM r GROUP BY 1, 2),
        |s AS (
        |  SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_years,
        |    CAST(sum(CAST(yr AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS sx,
        |    CAST(sum(h) AS DECIMAL(38,6)) AS sy,
        |    CAST(sum(CAST(yr * yr AS DECIMAL(38,0))) AS DECIMAL(38,0))
        |      AS sxx,
        |    CAST(sum(CAST(CAST(yr AS DECIMAL(18,0)) * h
        |      AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS sxy
        |  FROM hhi GROUP BY 1)
        |SELECT s_nationkey, n_years,
        |  round(CAST(n_years * sxy - sx * sy AS DOUBLE)
        |    / CAST(n_years * sxx - sx * sx AS DOUBLE), 6)
        |    AS hhi_slope_per_year
        |FROM s ORDER BY s_nationkey""".stripMargin,
  )
}
