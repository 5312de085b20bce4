package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-6 additions, batch 135 (SURVEY.md §2.4):
  *
  *  - q343: CUPED variance reduction — the experimentation-platform
  *    adjustment that shrinks an A/B metric's variance with a
  *    pre-period covariate: θ = cov(X, Y)/var(X) from pooled moments,
  *    Y_adj = Y − θ·(X − mean X), and the per-arm means/variances of
  *    both the raw and adjusted outcomes. Units are customers, X is
  *    1996 spend, Y is 1997 spend, the arm is a deterministic key
  *    split. Every cross-row sum is exact DECIMAL cents (order-free);
  *    θ and the variance-reduction ratio are single mirrored double
  *    expressions — one scan, two bounded aggregations.
  */
object Analytics135 {
  import Tables.{centsLong, t}

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q343_cuped" -> ((spark, dir) => {
      val per = t(spark, dir, "orders")
        .filter(year(col("o_orderdate")).isin(1996, 1997))
        .groupBy(col("o_custkey"))
        .agg(
          sum(when(year(col("o_orderdate")) === 1996,
            centsLong(col("o_totalprice"))).otherwise(0L)).as("x"),
          sum(when(year(col("o_orderdate")) === 1997,
            centsLong(col("o_totalprice"))).otherwise(0L)).as("y"))
        .withColumn("arm", (col("o_custkey") % 2).cast("int"))
        .localCheckpoint(true) // feeds the pooled and per-arm passes
      val pooled = per.agg(
        count(lit(1)).as("n"),
        sum(col("x").cast("decimal(38,0)")).as("sx"),
        sum(col("y").cast("decimal(38,0)")).as("sy"),
        sum(expr("cast(x as decimal(38,0)) * x")).as("sxx"),
        sum(expr("cast(x as decimal(38,0)) * y")).as("sxy"))
      // θ and mean X in one mirrored double expression each
      val withTheta = pooled.select(
        col("n"),
        (col("sx").cast("double") / col("n")).as("mean_x"),
        ((col("sxy").cast("double") - col("sx").cast("double")
          * col("sy").cast("double") / col("n"))
          / (col("sxx").cast("double") - col("sx").cast("double")
            * col("sx").cast("double") / col("n"))).as("theta"))
      // y_adj rounds ONCE into DECIMAL before the cross-row sums so the
      // aggregation is order-free (double sums are not); the rounded
      // quantity is an irrational-denominator rational — no half-trap
      val adj = per.crossJoin(broadcast(withTheta))
        .withColumn("y_adj",
          round(col("y").cast("double")
            - col("theta") * (col("x").cast("double") - col("mean_x")), 6)
            .cast("decimal(28,6)"))
      val arms = adj.groupBy("arm").agg(
        count(lit(1)).as("n_arm"),
        sum(col("y").cast("decimal(38,0)")).as("sy_a"),
        sum(expr("cast(y as decimal(38,0)) * y")).as("syy_a"),
        sum(col("y_adj")).cast("decimal(38,6)").as("sa"),
        sum((col("y_adj") * col("y_adj")).cast("decimal(38,12)"))
          .cast("decimal(38,12)").as("saa"))
      arms.select(col("arm"), col("n_arm"),
          (col("sy_a").cast("double") / col("n_arm")).as("mean_y"),
          ((col("syy_a").cast("double") - col("sy_a").cast("double")
            * col("sy_a").cast("double") / col("n_arm"))
            / col("n_arm")).as("var_y"),
          (col("sa").cast("double") / col("n_arm")).as("mean_y_adj"),
          ((col("saa").cast("double") - col("sa").cast("double")
            * col("sa").cast("double") / col("n_arm"))
            / col("n_arm")).as("var_y_adj"))
        .orderBy("arm")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "q343_cuped" ->
      """WITH per AS MATERIALIZED (
        |  SELECT o_custkey,
        |    CAST(sum(CASE WHEN year(o_orderdate) = 1996
        |      THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |        AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
        |    CAST(sum(CASE WHEN year(o_orderdate) = 1997
        |      THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |        AS BIGINT) ELSE 0 END) AS BIGINT) AS y,
        |    CAST(o_custkey % 2 AS INTEGER) AS arm
        |  FROM orders WHERE year(o_orderdate) IN (1996, 1997)
        |  GROUP BY o_custkey),
        |pooled AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
        |    CAST(sum(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
        |    CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0))
        |      AS sxx,
        |    CAST(sum(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0))
        |      AS sxy
        |  FROM per),
        |th AS (
        |  SELECT n, CAST(sx AS DOUBLE) / n AS mean_x,
        |    (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
        |      * CAST(sy AS DOUBLE) / n)
        |    / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
        |      * CAST(sx AS DOUBLE) / n) AS theta
        |  FROM pooled),
        |adj AS (
        |  SELECT arm, y,
        |    CAST(round(CAST(y AS DOUBLE)
        |      - theta * (CAST(x AS DOUBLE) - mean_x), 6)
        |      AS DECIMAL(28,6)) AS y_adj
        |  FROM per CROSS JOIN th),
        |arms AS (
        |  SELECT arm, CAST(count(*) AS BIGINT) AS n_arm,
        |    CAST(sum(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy_a,
        |    CAST(sum(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0))
        |      AS syy_a,
        |    CAST(sum(y_adj) AS DECIMAL(38,6)) AS sa,
        |    CAST(sum(CAST(CAST(y_adj AS DECIMAL(28,6)) * y_adj
        |      AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS saa
        |  FROM adj GROUP BY arm)
        |SELECT arm, n_arm,
        |  CAST(sy_a AS DOUBLE) / n_arm AS mean_y,
        |  (CAST(syy_a AS DOUBLE) - CAST(sy_a AS DOUBLE)
        |    * CAST(sy_a AS DOUBLE) / n_arm) / n_arm AS var_y,
        |  CAST(sa AS DOUBLE) / n_arm AS mean_y_adj,
        |  (CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE)
        |    * CAST(sa AS DOUBLE) / n_arm) / n_arm AS var_y_adj
        |FROM arms ORDER BY arm""".stripMargin,
  )
}
