package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-5 additions, batch 77 (SURVEY.md §2.4):
  *
  * q19's sketches are rows-only because HLL/quantile INTERNALS are
  * engine-specific — but their accuracy CONTRACTS are not. These two
  * queries turn the contracts into oracle-checkable booleans: the
  * approximate value stays engine-internal; what ships is "the sketch
  * kept its advertised bound against the exact answer", which the
  * oracle replays with the exact computation and a literal TRUE. A
  * sketch drifting out of tolerance flips the boolean and fails the
  * hash — the first line of defense a pipeline wants on approximate
  * operators.
  *
  *  - q228: approx_count_distinct (HLL++, rsd 0.05) vs exact distinct
  *    users per event type — relative error must stay under 3·rsd.
  *  - q229: approx_percentile (accuracy 10000) vs the exact
  *    rank-selected median of extended price per return flag — the
  *    approximate median must land within ±0.1% of the exact RANK
  *    position (rank error is the contract for KLL/GK-style sketches,
  *    not value error).
  */
object Analytics70 {
  import Tables.{centsLong, t}

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q228_hll_error_contract" -> ((spark, dir) => {
      t(spark, dir, "events")
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("exact_distinct"),
          approx_count_distinct(col("user_id"), 0.05).as("approx"))
        .select(col("event_type"), col("exact_distinct"),
          (abs(col("approx") - col("exact_distinct")).cast("double")
            / col("exact_distinct").cast("double") <= 0.15)
            .as("within_bound"))
        .orderBy("event_type")
    }),

    "q229_quantile_error_contract" -> ((spark, dir) => {
      val x = t(spark, dir, "lineitem")
        .select(col("l_returnflag"), centsLong(col("l_extendedprice")).as("v"))
      val approx = x.groupBy("l_returnflag")
        .agg(percentile_approx(col("v"), lit(0.5), lit(10000)).as("apx"),
          count(lit(1)).as("n"))
      // rank of the approximate median within the exact distribution:
      // the count of values <= apx must sit within ±0.1% of n/2
      val ranked = x.join(approx, "l_returnflag")
        .groupBy(col("l_returnflag"), col("n"))
        .agg(count_if(col("v") <= col("apx")).as("rank_of_apx"))
      ranked.select(col("l_returnflag"), col("n"),
          (abs(col("rank_of_apx").cast("double")
            - col("n").cast("double") / 2)
            / col("n").cast("double") <= 0.001).as("within_rank_bound"))
        .orderBy("l_returnflag")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "q228_hll_error_contract" ->
      """SELECT event_type,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct,
        |  TRUE AS within_bound
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,

    "q229_quantile_error_contract" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  TRUE AS within_rank_bound
        |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin,
  )
}
