package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-5 additions, batch 74 (SURVEY.md §2.4):
  *
  *  - q224: JSON shred roundtrip — the serialize→parse→shred stack
  *    pinned end-to-end: each order's lines pack into a sorted JSON
  *    array of structs (to_json), re-parse through from_json with an
  *    explicit array<struct> schema, explode, and re-aggregate; the
  *    oracle computes the same figures STRAIGHT from the table, so a
  *    match proves the whole JSON path lossless (int fields, struct
  *    order, array order). collect_list is made deterministic by
  *    sort_array before serialization.
  *  - q225: snapshot diff — the dataset-regression op: per-customer
  *    order state at an OLD cutoff (90 days before the corpus end)
  *    diffed against the CURRENT state via one full-outer join on the
  *    natural key: added / changed / unchanged, with exact integer
  *    spend deltas. The shape every data-CI system runs nightly.
  */
object Analytics67 {
  import Tables.{centsDecimal, t}

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q224_json_shred_roundtrip" -> ((spark, dir) => {
      val itemSchema = ArrayType(StructType(Seq(
        StructField("p", LongType), StructField("q", LongType))))
      val packed = t(spark, dir, "lineitem")
        .filter(col("l_orderkey") < 500)
        .groupBy("l_orderkey")
        .agg(to_json(sort_array(collect_list(
          struct(col("l_partkey").as("p"),
            col("l_quantity").cast("long").as("q"))))).as("items_json"))
      val shredded = packed
        .select(col("l_orderkey"),
          from_json(col("items_json"), itemSchema).as("items"))
        .select(col("l_orderkey"), explode(col("items")).as("it"))
      shredded.groupBy("l_orderkey")
        .agg(count(lit(1)).as("n_items"),
          sum(col("it.q")).as("sum_q"),
          first(col("it.p")).as("first_part")) // explode preserves array order
        .orderBy("l_orderkey")
    }),

    "q225_snapshot_diff" -> ((spark, dir) => {
      val o = t(spark, dir, "orders")
        .select(col("o_custkey"), to_date(col("o_orderdate")).as("d"),
          centsDecimal(col("o_totalprice")).as("p"))
      val hi = o.agg(date_sub(max(col("d")), 90).as("cutoff"))
      val withCut = o.crossJoin(broadcast(hi))
      val v1 = withCut.filter(col("d") <= col("cutoff"))
        .groupBy(col("o_custkey").as("k1"))
        .agg(count(lit(1)).as("n1"), sum(col("p")).cast("decimal(38,0)")
          .as("s1"))
      val v2 = o
        .groupBy(col("o_custkey").as("k2"))
        .agg(count(lit(1)).as("n2"), sum(col("p")).cast("decimal(38,0)")
          .as("s2"))
      v1.join(v2, col("k1") === col("k2"), "full_outer")
        .select(coalesce(col("k2"), col("k1")).as("o_custkey"),
          when(col("k1").isNull, "added")
            .when(col("n1") =!= col("n2"), "changed")
            .otherwise("unchanged").as("status"),
          coalesce(col("n1"), lit(0L)).as("n_old"),
          col("n2").as("n_new"),
          (col("s2") - coalesce(col("s1"), lit(0).cast("decimal(38,0)")))
            .cast("long").as("spend_delta_cents"))
        .groupBy("status")
        .agg(count(lit(1)).as("n_customers"),
          sum(col("n_new") - col("n_old")).as("orders_added"),
          sum(col("spend_delta_cents")).as("spend_added_cents"))
        .orderBy("status")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "q224_json_shred_roundtrip" ->
      """WITH r AS (
        |  SELECT l_orderkey, l_partkey AS p, CAST(l_quantity AS BIGINT) AS q,
        |    row_number() OVER (PARTITION BY l_orderkey
        |      ORDER BY l_partkey, CAST(l_quantity AS BIGINT)) AS rn
        |  FROM lineitem WHERE l_orderkey < 500)
        |SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(q) AS BIGINT) AS sum_q,
        |  CAST(min(CASE WHEN rn = 1 THEN p END) AS BIGINT) AS first_part
        |FROM r GROUP BY 1 ORDER BY l_orderkey""".stripMargin,

    "q225_snapshot_diff" ->
      """WITH o AS (
        |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |      AS DECIMAL(18,0)) AS p
        |  FROM orders),
        |hi AS (SELECT max(d) - 90 AS cutoff FROM o),
        |v1 AS (
        |  SELECT o_custkey AS k1, CAST(count(*) AS BIGINT) AS n1,
        |    CAST(sum(p) AS DECIMAL(38,0)) AS s1
        |  FROM o CROSS JOIN hi WHERE d <= cutoff GROUP BY 1),
        |v2 AS (
        |  SELECT o_custkey AS k2, CAST(count(*) AS BIGINT) AS n2,
        |    CAST(sum(p) AS DECIMAL(38,0)) AS s2
        |  FROM o GROUP BY 1),
        |diff AS (
        |  SELECT coalesce(k2, k1) AS o_custkey,
        |    CASE WHEN k1 IS NULL THEN 'added'
        |      WHEN n1 <> n2 THEN 'changed'
        |      ELSE 'unchanged' END AS status,
        |    coalesce(n1, 0) AS n_old, n2 AS n_new,
        |    CAST(s2 - coalesce(s1, 0) AS BIGINT) AS delta
        |  FROM v1 FULL OUTER JOIN v2 ON k1 = k2)
        |SELECT status, CAST(count(*) AS BIGINT) AS n_customers,
        |  CAST(sum(n_new - n_old) AS BIGINT) AS orders_added,
        |  CAST(sum(delta) AS BIGINT) AS spend_added_cents
        |FROM diff GROUP BY 1 ORDER BY status""".stripMargin,
  )
}
