package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-5 additions, batch 91 (SURVEY.md §2.4):
  *
  *  - q245: inverse-CDF lookup — the other direction of the quantile
  *    family: given a fixed grid of price thresholds, report what
  *    percentile each threshold sits at per return flag
  *    (count(v ≤ x)/n — exact integers, one conditional-count pass,
  *    no sort at all). This is how SLA/alert thresholds get placed:
  *    "how much of the distribution is below X" rather than "what is
  *    the P95". Grid × flags is a bounded cross product folded into
  *    conditional aggregates on ONE scan.
  */
object Analytics82 {
  import Tables.{centsLong, t}

  private val GridCents: Seq[Long] =
    Seq(100000L, 500000L, 1000000L, 2500000L, 5000000L)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q245_inverse_cdf" -> ((spark, dir) => {
      val x = t(spark, dir, "lineitem")
        .select(col("l_returnflag").as("g"),
          centsLong(col("l_extendedprice")).as("v"))
      val aggs = Seq(count(lit(1)).as("n")) ++ GridCents.map(th =>
        count_if(col("v") <= th).as(s"le_$th"))
      val wide = x.groupBy("g").agg(aggs.head, aggs.tail: _*)
      val stacks = GridCents.map(th =>
        s"CAST($th AS BIGINT), le_$th").mkString(", ")
      wide.select(col("g"), col("n"),
          expr(s"stack(${GridCents.length}, $stacks)" +
            " AS (threshold_cents, n_below)"))
        .withColumn("pct_below",
          round(col("n_below").cast("double") / col("n").cast("double"), 6))
        .select("g", "threshold_cents", "n", "n_below", "pct_below")
        .orderBy("g", "threshold_cents")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "q245_inverse_cdf" -> {
      val rows = GridCents.map(th =>
        s"""SELECT g, CAST($th AS BIGINT) AS threshold_cents, n,
           |  le_$th AS n_below,
           |  round(CAST(le_$th AS DOUBLE) / n, 6) AS pct_below FROM w"""
          .stripMargin).mkString("\nUNION ALL\n")
      val les = GridCents.map(th =>
        s"CAST(count(*) FILTER (v <= $th) AS BIGINT) AS le_$th")
        .mkString(",\n    ")
      s"""WITH x AS (
         |  SELECT l_returnflag AS g,
         |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
         |      AS v
         |  FROM lineitem),
         |w AS (
         |  SELECT g, CAST(count(*) AS BIGINT) AS n,
         |    $les
         |  FROM x GROUP BY 1)
         |$rows
         |ORDER BY g, threshold_cents""".stripMargin
    },
  )
}
