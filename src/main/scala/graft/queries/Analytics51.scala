package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-5 additions, batch 54 (SURVEY.md §2.4):
  *
  *  - q192: skew remediation plan — the advisor output that configures
  *    q42's salted join: per join key whose row count exceeds 10× the
  *    mean, the salt bucket count ⌈count/(2·mean)⌉ that would level
  *    it. Mean kept rational (total/keys) inside integer cross-
  *    multiplications — no float thresholds. One groupBy plus a
  *    broadcast of the two global scalars.
  *  - q193: duplicate-invoice detector — the finance DQ check for
  *    same (customer, amount, date) orders booked under different
  *    keys. Exact group counts; summary row plus the worst group.
  */
object Analytics51 {
  import Tables.{centsDecimal, t}

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q192_skew_remediation" -> ((spark, dir) => {
      // TPC-H keys are uniform by construction, so plant the q42-style
      // deterministic hot key: 3 of every 4 events collapse onto one
      // routing key — the shape a session-id or tenant-id hotspot has
      val keyed = t(spark, dir, "events")
        .select(when(col("event_id") % 4 =!= 0, lit("hot"))
          .otherwise(col("event_type")).as("k"))
      val counts = keyed.groupBy(col("k")).agg(count(lit(1)).as("c"))
      val tot = counts.agg(sum(col("c")).as("n_rows"),
        count(lit(1)).as("n_keys"))
      counts.crossJoin(broadcast(tot))
        // heavy ⟺ c > 2·mean ⟺ c·n_keys > 2·n_rows (integer exact)
        .filter(col("c") * col("n_keys") > col("n_rows") * 2)
        .select(col("k"), col("c").as("n_rows_key"),
          round(col("c").cast("double") * col("n_keys").cast("double")
            / col("n_rows").cast("double"), 4).as("skew_ratio"),
          // ⌈ c·n_keys / (2·n_rows) ⌉ via integer arithmetic
          ((col("c") * col("n_keys") + col("n_rows") * 2 - 1)
            / (col("n_rows") * 2)).cast("long").as("salt_buckets"))
        .orderBy(col("n_rows_key").desc, col("k"))
    }),

    "q193_duplicate_invoices" -> ((spark, dir) => {
      val g = t(spark, dir, "orders")
        .groupBy(col("o_custkey"), centsDecimal(col("o_totalprice")).as("amt"),
          to_date(col("o_orderdate")).as("d"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") >= 2)
      g.agg(count(lit(1)).as("n_dup_groups"),
          coalesce(sum(col("n")), lit(0L)).as("n_dup_orders"),
          coalesce(max(col("n")), lit(0L)).as("max_group"))
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "q192_skew_remediation" ->
      """WITH keyed AS (
        |  SELECT CASE WHEN event_id % 4 <> 0 THEN 'hot'
        |    ELSE event_type END AS k
        |  FROM events),
        |counts AS (
        |  SELECT k, CAST(count(*) AS BIGINT) AS c
        |  FROM keyed GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(c) AS BIGINT) AS n_rows,
        |    CAST(count(*) AS BIGINT) AS n_keys
        |  FROM counts)
        |SELECT k, c AS n_rows_key,
        |  round(CAST(c AS DOUBLE) * CAST(n_keys AS DOUBLE)
        |    / CAST(n_rows AS DOUBLE), 4) AS skew_ratio,
        |  (c * n_keys + n_rows * 2 - 1) // (n_rows * 2) AS salt_buckets
        |FROM counts CROSS JOIN tot
        |WHERE c * n_keys > n_rows * 2
        |ORDER BY n_rows_key DESC, k""".stripMargin,

    "q193_duplicate_invoices" ->
      """WITH g AS (
        |  SELECT o_custkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |      AS DECIMAL(18,0)) AS amt,
        |    CAST(o_orderdate AS DATE) AS d,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM orders GROUP BY 1, 2, 3 HAVING count(*) >= 2)
        |SELECT CAST(count(*) AS BIGINT) AS n_dup_groups,
        |  CAST(coalesce(sum(n), 0) AS BIGINT) AS n_dup_orders,
        |  CAST(coalesce(max(n), 0) AS BIGINT) AS max_group
        |FROM g""".stripMargin,
  )
}
