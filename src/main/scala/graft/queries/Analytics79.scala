package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-5 additions, batch 88 (SURVEY.md §2.4):
  *
  *  - q240: INTERVAL-typed RANGE frame — the date-keyed sliding frame
  *    spec (`RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT
  *    ROW`), a different window code path from q217's integer RANGE:
  *    value-based frames over a temporal order key, driven through the
  *    SQL layer in both engines. Rolling 7-day revenue and shipment
  *    counts per day, exact DECIMAL sums.
  *  - q241: JSON payload serialization pin — builds each nation's
  *    "top-3 suppliers by revenue" API payload with
  *    to_json(array<struct>) and hash-compares the BYTES against
  *    DuckDB's to_json of the equivalent ordered struct list: key
  *    order, quoting, and integer formatting must agree exactly, or
  *    the payload isn't portable. Struct assembly is deterministic
  *    (sort_array on the packed rank key).
  */
object Analytics79 {
  import Tables.{centsLong, t}

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q240_interval_range_frame" -> ((spark, dir) => {
      t(spark, dir, "lineitem")
        .groupBy(to_date(col("l_shipdate")).as("day"))
        .agg(sum((col("l_extendedprice").cast("decimal(18,2)") * 100)
          .cast("decimal(18,0)")).cast("decimal(38,0)").as("rev"),
          count(lit(1)).as("n"))
        .createOrReplaceTempView("daily_rev_v")
      spark.sql(
        """SELECT day,
          |  CAST(sum(rev) OVER w AS BIGINT) AS rev_7d,
          |  CAST(sum(n) OVER w AS BIGINT) AS n_7d,
          |  CAST(count(*) OVER w AS BIGINT) AS days_in_frame
          |FROM daily_rev_v
          |WINDOW w AS (ORDER BY day
          |  RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW)
          |ORDER BY day""".stripMargin)
    }),

    "q241_json_payload" -> ((spark, dir) => {
      val sup = broadcast(t(spark, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey")))
      val rev = t(spark, dir, "lineitem")
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_nationkey", "s_suppkey")
        .agg(sum(centsLong(col("l_extendedprice"))).as("rev"))
      // pack (−rev, suppkey) so ascending sort_array = revenue desc
      rev.groupBy("s_nationkey")
        .agg(slice(sort_array(collect_list(
          struct((-col("rev")).as("neg"), col("s_suppkey").as("sk"),
            col("rev").as("rv")))), 1, 3).as("top3"))
        .select(col("s_nationkey"),
          to_json(transform(col("top3"),
            s => struct(s.getField("sk").as("supplier"),
              s.getField("rv").as("revenue_cents")))).as("payload"))
        .orderBy("s_nationkey")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "q240_interval_range_frame" ->
      """WITH daily AS (
        |  SELECT CAST(l_shipdate AS DATE) AS day,
        |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |      AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS rev,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM lineitem GROUP BY 1)
        |SELECT day,
        |  CAST(sum(rev) OVER w AS BIGINT) AS rev_7d,
        |  CAST(sum(n) OVER w AS BIGINT) AS n_7d,
        |  CAST(count(*) OVER w AS BIGINT) AS days_in_frame
        |FROM daily
        |WINDOW w AS (ORDER BY day
        |  RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW)
        |ORDER BY day""".stripMargin,

    "q241_json_payload" ->
      """WITH rev AS (
        |  SELECT s_nationkey, s_suppkey,
        |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |      AS DECIMAL(18,0))) AS BIGINT) AS rev
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  GROUP BY 1, 2),
        |ranked AS (
        |  SELECT s_nationkey, s_suppkey, rev, row_number() OVER (
        |    PARTITION BY s_nationkey ORDER BY rev DESC, s_suppkey) AS rn
        |  FROM rev)
        |SELECT s_nationkey,
        |  to_json(list(struct_pack(supplier := s_suppkey,
        |    revenue_cents := rev) ORDER BY rn)) AS payload
        |FROM ranked WHERE rn <= 3
        |GROUP BY 1 ORDER BY s_nationkey""".stripMargin,
  )
}
