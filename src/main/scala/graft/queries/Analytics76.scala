package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 additions, batch 83 (SURVEY.md §2.4):
  *
  *  - q237: Tukey-fence outliers in PURE integers — the box-plot
  *    outlier rule (beyond Q1−1.5·IQR / Q3+1.5·IQR) with the halves
  *    cleared by doubling: 2·fence = 2·Q1 − 3·IQR is integer cents, and
  *    v < fence ⇔ 2v < 2·fence, so the whole rule evaluates without a
  *    single float — no rounding seam for engines to disagree on.
  *    Quartiles are the exact ceil-rank order statistics (the q231
  *    convention). One rank window per flag + one broadcast join.
  */
object Analytics76 {
  import Tables.{centsLong, t}

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q237_tukey_fences" -> ((spark, dir) => {
      val x = t(spark, dir, "lineitem")
        .select(col("l_returnflag").as("g"),
          centsLong(col("l_extendedprice")).as("v"),
          col("l_orderkey"), col("l_linenumber"))
      val w = Window.partitionBy("g").orderBy(col("v"), col("l_orderkey"),
        col("l_linenumber"))
      val ranked = x.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("g")))
      val q1 = ranked.filter(col("rn") === ceil(col("n") / 4))
        .select(col("g").as("g1"), col("v").as("q1"))
      val q3 = ranked.filter(col("rn") === ceil(col("n") * 3 / 4))
        .select(col("g").as("g3"), col("v").as("q3"))
      val fences = q1.join(q3, col("g1") === col("g3"))
        .select(col("g1").as("f_g"), col("q1"), col("q3"),
          (col("q3") - col("q1")).as("iqr"),
          // doubled fences stay integer: 2·(Q1 − 1.5·IQR) = 2Q1 − 3·IQR
          (lit(2) * col("q1") - lit(3) * (col("q3") - col("q1"))).as("lo2"),
          (lit(2) * col("q3") + lit(3) * (col("q3") - col("q1"))).as("hi2"))
      x.join(broadcast(fences), col("g") === col("f_g"))
        .groupBy("g")
        .agg(count(lit(1)).as("n_rows"),
          first(col("q1")).as("q1_cents"),
          first(col("q3")).as("q3_cents"),
          first(col("iqr")).as("iqr_cents"),
          count_if(lit(2) * col("v") < col("lo2")).as("n_low_outliers"),
          count_if(lit(2) * col("v") > col("hi2")).as("n_high_outliers"))
        .orderBy("g")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "q237_tukey_fences" ->
      """WITH x AS (
        |  SELECT l_returnflag AS g,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS v,
        |    l_orderkey, l_linenumber
        |  FROM lineitem),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY g
        |      ORDER BY v, l_orderkey, l_linenumber) AS rn,
        |    count(*) OVER (PARTITION BY g) AS n
        |  FROM x),
        |q1 AS (SELECT g, v AS q1 FROM ranked WHERE rn = ceil(n / 4.0)),
        |q3 AS (SELECT g, v AS q3 FROM ranked WHERE rn = ceil(n * 3 / 4.0)),
        |f AS (
        |  SELECT q1.g, q1.q1, q3.q3, q3.q3 - q1.q1 AS iqr,
        |    2 * q1.q1 - 3 * (q3.q3 - q1.q1) AS lo2,
        |    2 * q3.q3 + 3 * (q3.q3 - q1.q1) AS hi2
        |  FROM q1 JOIN q3 USING (g))
        |SELECT x.g, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(min(f.q1) AS BIGINT) AS q1_cents,
        |  CAST(min(f.q3) AS BIGINT) AS q3_cents,
        |  CAST(min(f.iqr) AS BIGINT) AS iqr_cents,
        |  CAST(count(*) FILTER (2 * x.v < f.lo2) AS BIGINT)
        |    AS n_low_outliers,
        |  CAST(count(*) FILTER (2 * x.v > f.hi2) AS BIGINT)
        |    AS n_high_outliers
        |FROM x JOIN f ON x.g = f.g
        |GROUP BY x.g ORDER BY x.g""".stripMargin,
  )
}
