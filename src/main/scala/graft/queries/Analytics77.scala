package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-5 additions, batch 84 (SURVEY.md §2.4):
  *
  *  - q238: data-driven pivot — Spark's `pivot(col)` WITHOUT a value
  *    list (the engine collects the distinct pivot keys itself — a
  *    bounded driver fetch by contract) checked against an oracle that
  *    spells the columns statically: proves the dynamic column
  *    discovery finds exactly the expected domain, names the columns
  *    identically, and aggregates the same DECIMAL sums. Pivot keys
  *    are the 5 order priorities; rows are return flags.
  */
object Analytics77 {
  import Tables.{centsDecimal, t}

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q238_dynamic_pivot" -> ((spark, dir) => {
      t(spark, dir, "lineitem")
        .join(broadcast(t(spark, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"))),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .pivot(regexp_replace(col("o_orderpriority"), "[^A-Z]", ""))
        .agg(sum(centsDecimal(col("l_extendedprice"))).cast("long"))
        .orderBy("l_returnflag")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "q238_dynamic_pivot" -> {
      val prios = Seq("URGENT", "HIGH", "MEDIUM", "NOTSPECIFIED", "LOW")
      val cols = prios.map { p =>
        s"""CAST(sum(CASE WHEN regexp_replace(o_orderpriority,
           |  '[^A-Z]', '', 'g') = '$p'
           |  THEN CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
           |    AS DECIMAL(18,0)) END) AS BIGINT) AS "$p"""".stripMargin
      }.mkString(",\n  ")
      s"""SELECT l_returnflag,
         |  $cols
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
    },
  )
}
