package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 additions, batch 71 (SURVEY.md §2.4):
  *
  *  - q219: largest-remainder (Hamilton) budget allocation — divide a
  *    fixed 10,000,000-cent budget across nations proportional to
  *    revenue so the allocations are integers that sum EXACTLY to the
  *    budget: floor shares first, then the leftover cents go to the
  *    largest fractional remainders (rank ties broken by nation key).
  *    Pure integer arithmetic throughout — remainders compare as
  *    exact `budget·rev mod total` values, never floats. The window
  *    rank runs on the 25-row nation grid.
  *  - q220: calendar-dimension spine — the date-dim build every
  *    warehouse bootstraps: one row per day from the corpus min to max
  *    order date (generated with sequence/explode, NOT read from the
  *    fact table, so gap days exist too), carrying ISO dow, week
  *    start, month/quarter/year keys, and month-end flags. Volume is
  *    date-range-bounded, so the explode is trivially safe at any
  *    corpus size.
  */
object Analytics64 {
  import Tables.{centsDecimal, t}

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q219_budget_allocation" -> ((spark, dir) => {
      val Budget = 10000000L
      val sup = broadcast(t(spark, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey")))
      val rev = t(spark, dir, "lineitem")
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_nationkey")
        .agg(sum(centsDecimal(col("l_extendedprice"))).cast("decimal(38,0)")
          .as("rev"))
      val tot = rev.agg(sum(col("rev")).cast("decimal(38,0)").as("tot"))
      // Spark's decimal `div` IS exact integral division (unlike
      // DuckDB's decimal `//`, which the oracle works around via
      // HUGEINT) — floor and remainder both stay exact integers
      val shares = rev.crossJoin(broadcast(tot))
        .select(col("s_nationkey"), col("rev"),
          expr(s"CAST(rev * $Budget AS DECIMAL(38,0)) div tot")
            .cast("long").as("floor_alloc"),
          expr(s"CAST(rev * $Budget AS DECIMAL(38,0)) % tot")
            .cast("decimal(38,0)").as("rem"))
      val leftover = shares.agg(
        (lit(Budget) - sum(col("floor_alloc"))).cast("long").as("left"))
      val w = Window.orderBy(col("rem").desc, col("s_nationkey"))
      shares.crossJoin(broadcast(leftover))
        .withColumn("rr", row_number().over(w))
        .select(col("s_nationkey"), col("floor_alloc"),
          (col("floor_alloc")
            + when(col("rr") <= col("left"), 1L).otherwise(0L))
            .as("alloc_cents"),
          (col("rr") <= col("left")).as("got_remainder_cent"))
        .orderBy("s_nationkey")
    }),

    "q220_date_dim" -> ((spark, dir) => {
      val bounds = t(spark, dir, "orders")
        .agg(to_date(min(col("o_orderdate"))).as("lo"),
          to_date(max(col("o_orderdate"))).as("hi"))
      bounds
        .select(explode(sequence(col("lo"), col("hi"))).as("d"))
        .select(col("d"),
          (((dayofweek(col("d")) + 5) % 7) + 1).as("dow_iso"),
          date_trunc("week", col("d")).cast("date").as("week_start"),
          year(col("d")).as("y"),
          quarter(col("d")).as("q"),
          month(col("d")).as("m"),
          (col("d") === last_day(col("d"))).as("is_month_end"),
          (year(col("d")) * 100 + month(col("d"))).as("month_key"))
        .orderBy("d")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "q219_budget_allocation" ->
      """WITH rev AS (
        |  SELECT s_nationkey,
        |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |      AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS rev
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  GROUP BY 1),
        |tot AS (SELECT CAST(sum(rev) AS HUGEINT) AS tot FROM rev),
        |shares AS (
        |  -- HUGEINT keeps // as TRUE integer floor division: DuckDB's
        |  -- // on DECIMALs degrades to float division and the cast
        |  -- then rounds, which is what the engine must NOT do
        |  SELECT s_nationkey, rev,
        |    CAST(CAST(rev AS HUGEINT) * 10000000 // tot AS BIGINT)
        |      AS floor_alloc,
        |    CAST(rev AS HUGEINT) * 10000000 % tot AS rem
        |  FROM rev CROSS JOIN tot),
        |lo AS (
        |  SELECT CAST(10000000 - sum(floor_alloc) AS BIGINT) AS leftov
        |  FROM shares),
        |r AS (
        |  SELECT s_nationkey, floor_alloc, leftov,
        |    row_number() OVER (ORDER BY rem DESC, s_nationkey) AS rr
        |  FROM shares CROSS JOIN lo)
        |SELECT s_nationkey, floor_alloc,
        |  floor_alloc + CASE WHEN rr <= leftov THEN 1 ELSE 0 END
        |    AS alloc_cents,
        |  rr <= leftov AS got_remainder_cent
        |FROM r ORDER BY s_nationkey""".stripMargin,

    "q220_date_dim" ->
      """WITH b AS (
        |  SELECT CAST(min(o_orderdate) AS DATE) AS lo,
        |    CAST(max(o_orderdate) AS DATE) AS hi
        |  FROM orders),
        |spine AS (
        |  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY))
        |    AS DATE) AS d
        |  FROM b)
        |SELECT d,
        |  CAST(isodow(d) AS INTEGER) AS dow_iso,
        |  CAST(date_trunc('week', d) AS DATE) AS week_start,
        |  CAST(year(d) AS INTEGER) AS y,
        |  CAST(quarter(d) AS INTEGER) AS q,
        |  CAST(month(d) AS INTEGER) AS m,
        |  d = last_day(d) AS is_month_end,
        |  CAST(year(d) * 100 + month(d) AS INTEGER) AS month_key
        |FROM spine ORDER BY d""".stripMargin,
  )
}
