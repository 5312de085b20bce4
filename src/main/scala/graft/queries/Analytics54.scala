package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-5 additions, batch 60 (SURVEY.md §2.4):
  *
  *  - q199: rounding + collation pins — the numeric and string corners
  *    every oracle comparison in this repo silently relies on:
  *    HALF_UP-away-from-zero decimal rounding (±2.5), double rounding
  *    through the canonical decimal representation (2.675 → 2.68, NOT
  *    the naive binary-expansion 2.67), and binary (codepoint)
  *    collation ('B' < 'a'). Pinned explicitly so an engine or JVM
  *    upgrade that changes them fails one obvious query instead of
  *    corrupting dozens of downstream hashes.
  *  - q200: shipment continuity census — per supplier, the active
  *    month span vs the months actually shipped; suppliers with gap
  *    months surface with exact counts. One groupBy; the span/gap
  *    arithmetic is pure integers.
  *  - q201: Simpson's-paradox detector — the pooled price~quantity
  *    OLS slope next to each return-flag group's own slope, flagging
  *    groups whose within-slope sign contradicts the pooled sign (the
  *    aggregation trap every dashboard metric is one GROUP BY away
  *    from). All moment sums exact DECIMAL per group and pooled;
  *    only the two slope divisions are float.
  */
object Analytics54 {
  import Tables.{centsDecimal, t}

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q199_rounding_collation" -> ((spark, dir) => {
      // anchored to the table so the pin runs through the same scan +
      // codegen path as real queries (constant-folding included)
      val one = t(spark, dir, "orders").limit(1).select(lit(1).as("one"))
      one.select(
          round(lit(BigDecimal("2.5"))).cast("string").as("dec_half_up"),
          round(lit(BigDecimal("-2.5"))).cast("string").as("dec_half_neg"),
          round(lit(2.675), 2).cast("string").as("dbl_repr_round"),
          round(lit(-2.675), 2).cast("string").as("dbl_repr_neg"),
          (lit("B") < lit("a")).cast("string").as("binary_collation_lt"),
          greatest(lit("a"), lit("B")).as("binary_greatest"))
        .select(expr(
          "stack(6, " +
            "'binary_collation_lt', binary_collation_lt, " +
            "'binary_greatest', binary_greatest, " +
            "'dbl_repr_neg', dbl_repr_neg, " +
            "'dbl_repr_round', dbl_repr_round, " +
            "'dec_half_neg', dec_half_neg, " +
            "'dec_half_up', dec_half_up) AS (pin_case, value)"))
        .orderBy("pin_case")
    }),

    "q200_shipment_gaps" -> ((spark, dir) => {
      val m = t(spark, dir, "lineitem")
        .groupBy(col("l_suppkey"),
          (year(col("l_shipdate")) * 12 + month(col("l_shipdate")))
            .cast("long").as("mx"))
        .agg(count(lit(1)).as("n"))
      m.groupBy("l_suppkey")
        .agg(count(lit(1)).as("n_active_months"),
          (max(col("mx")) - min(col("mx")) + 1).as("span_months"))
        .withColumn("n_gap_months",
          col("span_months") - col("n_active_months"))
        .filter(col("n_gap_months") > 0)
        .select(col("l_suppkey"), col("n_active_months"),
          col("span_months"), col("n_gap_months"))
        .orderBy(col("n_gap_months").desc, col("l_suppkey"))
    }),

    "q201_simpsons_detector" -> ((spark, dir) => {
      val x = t(spark, dir, "lineitem").select(
        col("l_returnflag").as("g"),
        col("l_quantity").cast("decimal(18,0)").as("x"),
        centsDecimal(col("l_extendedprice")).as("y"))
      def moments(grouped: Boolean): DataFrame = {
        val base = if (grouped) x.groupBy("g") else x.groupBy()
        base.agg(
          count(lit(1)).cast("decimal(18,0)").as("n"),
          sum(col("x")).cast("decimal(38,0)").as("sx"),
          sum(col("y")).cast("decimal(38,0)").as("sy"),
          sum((col("x") * col("x")).cast("decimal(38,0)"))
            .cast("decimal(38,0)").as("sxx"),
          sum((col("x") * col("y")).cast("decimal(38,0)"))
            .cast("decimal(38,0)").as("sxy"))
      }
      def slope(df: DataFrame) = df.select(
        (if (df.columns.contains("g")) col("g") else lit("__all"))
          .as("g"),
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
          / (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"),
          6).as("slope"))
      val per = slope(moments(grouped = true))
      val pooled = slope(moments(grouped = false))
        .select(col("slope").as("pooled_slope"))
      per.crossJoin(broadcast(pooled))
        .select(col("g").as("l_returnflag"), col("slope"),
          col("pooled_slope"),
          (signum(col("slope")) =!= signum(col("pooled_slope")))
            .as("sign_differs"))
        .orderBy("l_returnflag")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "q199_rounding_collation" ->
      """WITH one AS (SELECT 1 FROM orders LIMIT 1)
        |SELECT 'binary_collation_lt' AS pin_case,
        |  CAST('B' < 'a' AS VARCHAR) AS value FROM one
        |UNION ALL SELECT 'binary_greatest', greatest('a', 'B') FROM one
        |UNION ALL SELECT 'dbl_repr_neg',
        |  CAST(round(CAST(-2.675 AS DOUBLE), 2) AS VARCHAR) FROM one
        |UNION ALL SELECT 'dbl_repr_round',
        |  CAST(round(CAST(2.675 AS DOUBLE), 2) AS VARCHAR) FROM one
        |UNION ALL SELECT 'dec_half_neg',
        |  CAST(round(CAST(-2.5 AS DECIMAL(2,1))) AS VARCHAR) FROM one
        |UNION ALL SELECT 'dec_half_up',
        |  CAST(round(CAST(2.5 AS DECIMAL(2,1))) AS VARCHAR) FROM one
        |ORDER BY pin_case""".stripMargin,

    "q200_shipment_gaps" ->
      """WITH m AS (
        |  SELECT l_suppkey,
        |    CAST(EXTRACT(year FROM l_shipdate) * 12
        |      + EXTRACT(month FROM l_shipdate) AS BIGINT) AS mx,
        |    count(*) AS n
        |  FROM lineitem GROUP BY 1, 2),
        |g AS (
        |  SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_active_months,
        |    CAST(max(mx) - min(mx) + 1 AS BIGINT) AS span_months
        |  FROM m GROUP BY 1)
        |SELECT l_suppkey, n_active_months, span_months,
        |  span_months - n_active_months AS n_gap_months
        |FROM g WHERE span_months - n_active_months > 0
        |ORDER BY n_gap_months DESC, l_suppkey""".stripMargin,

    "q201_simpsons_detector" ->
      """WITH x AS (
        |  SELECT l_returnflag AS g,
        |    CAST(l_quantity AS DECIMAL(18,0)) AS x,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |      AS DECIMAL(18,0)) AS y
        |  FROM lineitem),
        |per AS (
        |  SELECT g,
        |    round(CAST(CAST(count(*) AS DECIMAL(18,0))
        |        * CAST(sum(CAST(x * y AS DECIMAL(38,0))) AS DECIMAL(38,0))
        |        - CAST(sum(x) AS DECIMAL(38,0))
        |          * CAST(sum(y) AS DECIMAL(38,0)) AS DOUBLE)
        |      / CAST(CAST(count(*) AS DECIMAL(18,0))
        |        * CAST(sum(CAST(x * x AS DECIMAL(38,0))) AS DECIMAL(38,0))
        |        - CAST(sum(x) AS DECIMAL(38,0))
        |          * CAST(sum(x) AS DECIMAL(38,0)) AS DOUBLE), 6) AS slope
        |  FROM x GROUP BY g),
        |pooled AS (
        |  SELECT
        |    round(CAST(CAST(count(*) AS DECIMAL(18,0))
        |        * CAST(sum(CAST(x * y AS DECIMAL(38,0))) AS DECIMAL(38,0))
        |        - CAST(sum(x) AS DECIMAL(38,0))
        |          * CAST(sum(y) AS DECIMAL(38,0)) AS DOUBLE)
        |      / CAST(CAST(count(*) AS DECIMAL(18,0))
        |        * CAST(sum(CAST(x * x AS DECIMAL(38,0))) AS DECIMAL(38,0))
        |        - CAST(sum(x) AS DECIMAL(38,0))
        |          * CAST(sum(x) AS DECIMAL(38,0)) AS DOUBLE), 6)
        |      AS pooled_slope
        |  FROM x)
        |SELECT g AS l_returnflag, slope, pooled_slope,
        |  sign(slope) <> sign(pooled_slope) AS sign_differs
        |FROM per CROSS JOIN pooled
        |ORDER BY l_returnflag""".stripMargin,
  )
}
