package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-5 additions, batch 94 (SURVEY.md §2.4):
  *
  *  - q249: shuffle-partition advisor — the sizing arithmetic behind
  *    `spark.sql.shuffle.partitions` and file-compaction targets: per
  *    table, an exact byte estimate (fixed widths for numeric/date
  *    columns + EXACT summed lengths for strings) divided into 128 MiB
  *    targets. All integer math; the string-length sums are the only
  *    data-dependent piece and they are exact, so the advice is
  *    reproducible. One scan per audited table.
  *  - q250: reshape roundtrip — melt the per-nation metric row to
  *    long form (stack) and pivot it back; the roundtripped wide frame
  *    must equal the original cell-for-cell. Pins the
  *    unpivot↔pivot inverse contract the reshape family relies on.
  */
object Analytics85 {
  import Tables.{centsLong, t}

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q249_partition_advisor" -> ((spark, dir) => {
      val Target = 128L * 1024 * 1024
      def audit(name: String, df: DataFrame, fixed: Long,
          strCols: Seq[String]): DataFrame = {
        val strLen = strCols.map(c =>
          sum(length(col(c)).cast("long")).as(s"len_$c"))
        val aggs = Seq(count(lit(1)).as("n_rows")) ++ strLen
        val wide = df.agg(aggs.head, aggs.tail: _*)
        val strSum = strCols.map(c => col(s"len_$c"))
          .reduceOption(_ + _).getOrElse(lit(0L))
        wide.select(lit(name).as("table_name"), col("n_rows"),
          (col("n_rows") * fixed + strSum).as("est_bytes"))
          .withColumn("partitions_128mb",
            greatest(expr(s"CAST(ceil(CAST(est_bytes AS DOUBLE) / $Target) AS BIGINT)"),
              lit(1L)))
      }
      audit("lineitem", t(spark, dir, "lineitem"), 8L * 8 + 2 + 4,
          Seq("l_returnflag", "l_linestatus"))
        .unionByName(audit("orders", t(spark, dir, "orders"), 8 * 3 + 4,
          Seq("o_orderstatus", "o_orderpriority")))
        .unionByName(audit("documents", t(spark, dir, "documents"), 8 * 2,
          Seq("text", "lang", "source")))
        .orderBy("table_name")
    }),

    "q250_reshape_roundtrip" -> ((spark, dir) => {
      val wide = t(spark, dir, "orders")
        .join(broadcast(t(spark, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey"))),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("m_orders"),
          sum(centsLong(col("o_totalprice"))).as("m_spend"),
          countDistinct(col("o_custkey")).as("m_buyers"))
      val long = wide.select(col("c_nationkey"),
        expr("stack(3, 'm_orders', m_orders, 'm_spend', m_spend, " +
          "'m_buyers', m_buyers) AS (metric, value)"))
      val back = long.groupBy("c_nationkey")
        .pivot("metric", Seq("m_orders", "m_spend", "m_buyers"))
        .agg(first(col("value")))
      wide.alias("w").join(back.alias("b"), "c_nationkey")
        .select(col("c_nationkey"),
          (col("w.m_orders") === col("b.m_orders")
            && col("w.m_spend") === col("b.m_spend")
            && col("w.m_buyers") === col("b.m_buyers")).as("roundtrips"),
          col("w.m_orders"), col("w.m_spend"), col("w.m_buyers"))
        .orderBy("c_nationkey")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "q249_partition_advisor" ->
      s"""SELECT 'documents' AS table_name,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(count(*) * 16 + sum(length(text)) + sum(length(lang))
         |    + sum(length(source)) AS BIGINT) AS est_bytes,
         |  greatest(CAST(ceil(CAST(count(*) * 16 + sum(length(text))
         |    + sum(length(lang)) + sum(length(source)) AS DOUBLE)
         |    / ${128L * 1024 * 1024}) AS BIGINT), 1) AS partitions_128mb
         |FROM documents
         |UNION ALL
         |SELECT 'lineitem', CAST(count(*) AS BIGINT),
         |  CAST(count(*) * 70 + sum(length(l_returnflag))
         |    + sum(length(l_linestatus)) AS BIGINT),
         |  greatest(CAST(ceil(CAST(count(*) * 70
         |    + sum(length(l_returnflag)) + sum(length(l_linestatus))
         |    AS DOUBLE) / ${128L * 1024 * 1024}) AS BIGINT), 1)
         |FROM lineitem
         |UNION ALL
         |SELECT 'orders', CAST(count(*) AS BIGINT),
         |  CAST(count(*) * 28 + sum(length(o_orderstatus))
         |    + sum(length(o_orderpriority)) AS BIGINT),
         |  greatest(CAST(ceil(CAST(count(*) * 28
         |    + sum(length(o_orderstatus)) + sum(length(o_orderpriority))
         |    AS DOUBLE) / ${128L * 1024 * 1024}) AS BIGINT), 1)
         |FROM orders
         |ORDER BY table_name""".stripMargin,

    "q250_reshape_roundtrip" ->
      """WITH wide AS (
        |  SELECT c_nationkey,
        |    CAST(count(*) AS BIGINT) AS m_orders,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |      AS DECIMAL(18,0))) AS BIGINT) AS m_spend,
        |    CAST(count(DISTINCT o_custkey) AS BIGINT) AS m_buyers
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1)
        |SELECT c_nationkey, TRUE AS roundtrips, m_orders, m_spend,
        |  m_buyers
        |FROM wide ORDER BY c_nationkey""".stripMargin,
  )
}
