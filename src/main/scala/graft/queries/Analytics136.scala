package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-6 additions, batch 136 (SURVEY.md §2.4):
  *
  *  - q344: bitemporal as-known-at audit — the two-clock warehouse
  *    question SCD2 alone can't answer: what did FY1996 revenue look
  *    like "as known at" 1997-01-01 vs 1999-01-01, where a
  *    deterministic subset of orders receives a price correction
  *    recorded 30 days after the fact (valid time = order date,
  *    transaction time = recording date)? Each order expands to its
  *    transaction-time versions; an as-known-at snapshot is the
  *    tx_from ≤ T < tx_to filter; the per-month delta isolates exactly
  *    the late-arriving corrections. Pure row-local version expansion
  *    plus one aggregation — no windows, no joins beyond the union.
  */
object Analytics136 {
  import Tables.{centsLong, t}

  private val CorrectionCents = 1000L // +$10.00 recorded 30 days later

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q344_bitemporal_audit" -> ((spark, dir) => {
      val o = t(spark, dir, "orders")
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("vd"),
          centsLong(col("o_totalprice")).as("w"),
          (graft.functions.Md5Pack(concat(lit("fix_"),
            col("o_orderkey").cast("string"))) % 7 === 0).as("corrected"))
        .filter(year(col("vd")) === 1996)
      // transaction-time versions: the original row closes at vd+30d
      // when a correction exists; the corrected row opens there
      val v1 = o.select(col("vd"), col("w"),
        col("vd").as("tx_from"),
        when(col("corrected"), date_add(col("vd"), 30))
          .otherwise(lit("9999-12-31").cast("date")).as("tx_to"))
      val v2 = o.filter(col("corrected"))
        .select(col("vd"), (col("w") + CorrectionCents).as("w"),
          date_add(col("vd"), 30).as("tx_from"),
          lit("9999-12-31").cast("date").as("tx_to"))
      val versions = v1.union(v2)
      def knownAt(ts: String): Column =
        (col("tx_from") <= lit(ts).cast("date")) &&
          (col("tx_to") > lit(ts).cast("date"))
      versions
        .groupBy(month(col("vd")).as("m"))
        .agg(
          sum(when(knownAt("1997-01-01"), col("w")).otherwise(0L))
            .as("rev_known_1997"),
          sum(when(knownAt("1999-01-01"), col("w")).otherwise(0L))
            .as("rev_known_1999"))
        .select(col("m"), col("rev_known_1997"), col("rev_known_1999"),
          (col("rev_known_1999") - col("rev_known_1997"))
            .as("late_corrections"))
        .orderBy("m")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "q344_bitemporal_audit" -> {
      val h = Tables.duckMd5Pack("concat('fix_', CAST(o_orderkey AS VARCHAR))")
      s"""WITH o AS (
         |  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS vd,
         |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
         |      AS w,
         |    ($h) % 7 = 0 AS corrected
         |  FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1996),
         |versions AS (
         |  SELECT vd, w, vd AS tx_from,
         |    CASE WHEN corrected THEN vd + 30
         |      ELSE DATE '9999-12-31' END AS tx_to
         |  FROM o
         |  UNION ALL
         |  SELECT vd, w + $CorrectionCents, vd + 30,
         |    DATE '9999-12-31'
         |  FROM o WHERE corrected)
         |SELECT month(vd) AS m,
         |  CAST(sum(CASE WHEN tx_from <= DATE '1997-01-01'
         |    AND tx_to > DATE '1997-01-01' THEN w ELSE 0 END) AS BIGINT)
         |    AS rev_known_1997,
         |  CAST(sum(CASE WHEN tx_from <= DATE '1999-01-01'
         |    AND tx_to > DATE '1999-01-01' THEN w ELSE 0 END) AS BIGINT)
         |    AS rev_known_1999,
         |  CAST(sum(CASE WHEN tx_from <= DATE '1999-01-01'
         |    AND tx_to > DATE '1999-01-01' THEN w ELSE 0 END)
         |    - sum(CASE WHEN tx_from <= DATE '1997-01-01'
         |    AND tx_to > DATE '1997-01-01' THEN w ELSE 0 END) AS BIGINT)
         |    AS late_corrections
         |FROM versions GROUP BY 1 ORDER BY m""".stripMargin
    },
  )
}
