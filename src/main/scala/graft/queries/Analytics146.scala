package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-9 additions, batch 146 (SURVEY.md §2.4) — the change feed put
  * to work:
  *
  *  - q380: CDF-DRIVEN INCREMENTAL VIEW MAINTENANCE — the reason a
  *    change data feed exists: a per-nation aggregate view materialized
  *    at v1 is advanced to v3 by folding in ONLY the q376 change rows
  *    (insert = +1/+bal, delete = −1/−bal per group; groups reaching
  *    zero vanish, unseen groups appear), never rescanning the base
  *    table. The maintained view IS the query output, and the pinned
  *    `ivm_ok` contract proves it equals the from-scratch rebuild of
  *    v3 — the incremental ≡ rebuild theorem, this time over the FW
  *    lakehouse history (q341 proved it for a join view over parquet).
  *
  *    Determinism: balance sums fold in DECIMAL(18,2) micro-exact
  *    space on both the incremental and rebuild paths (double addition
  *    is order-dependent; decimal is associative), cast to DOUBLE only
  *    in the final select — the round-6 fixed-decimal rule.
  *
  *    Scale shape: the delta leg reads only files in exactly one of
  *    the two snapshots (the CDF shortcut), the view join is
  *    group-keyed (25 nations), and nothing rescans the unchanged
  *    99.9% of a 100 TB table — the entire point of IVM.
  */
object Analytics146 {
  import Tables.{freshFwBase, t}

  private val FwSchema =
    "s_suppkey:long:8,s_name:string:18,s_nationkey:int:4,s_acctbal:double:24"
  private val FwFixtureMaxKey = 100000L

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q380_fw_cdf_ivm" -> ((spark, dir) => {
      val base = freshFwBase("graft_fw_ivm", dir)
      val src = t(spark, dir, "supplier")
        .filter(col("s_suppkey") <= FwFixtureMaxKey)
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      src.repartitionByRange(4, col("s_suppkey"))
        .write.format("graft.sources.FixedWidth")
        .option("schema", FwSchema).mode("overwrite").save(base.toString)
      val schema = graft.sources.FixedWidth.parseSchema(FwSchema)
      // the same v2 merge + v3 delete history as q376
      val updates = src.filter(col("s_suppkey") % 10 === 3)
        .withColumn("s_acctbal", col("s_acctbal") + 1000.0)
        .unionAll(src.filter(col("s_suppkey") % 10 === 7)
          .select((col("s_suppkey") + 500000L).as("s_suppkey"),
            lit("NEWSUP").as("s_name"),
            lit(99).as("s_nationkey"),
            lit(0.0).as("s_acctbal")))
      graft.sources.FwMaintenance.merge(spark, base.toString, schema,
        updates, "s_suppkey")
      graft.sources.FwMaintenance.deleteByKeys(spark, base.toString,
        schema, src.filter(col("s_suppkey") % 10 === 4)
          .select("s_suppkey"), "s_suppkey")

      def rd(v: Long) = spark.read.format("graft.sources.FixedWidth")
        .option("schema", FwSchema).option("versionAsOf", v)
        .load(base.toString)
      val decBal = expr("cast(round(s_acctbal, 2) as decimal(18,2))")
      def viewOf(df: DataFrame): DataFrame = df.groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_sup"), sum(decBal).as("bal"))

      // the view materialized at v1, advanced by the CDF alone
      val view1 = viewOf(rd(1L))
      val cdf = graft.sources.FwChangeFeed.changesBetween(spark,
        base.toString, FwSchema, 1L, 3L)
      val delta = cdf.groupBy("s_nationkey").agg(
        sum(when(col("_change_type") === "insert", 1L)
          .otherwise(-1L)).as("d_n"),
        sum(when(col("_change_type") === "insert", decBal)
          .otherwise(decBal * -1)).as("d_bal"))
      val maintained = view1.as("v").join(delta.as("d"),
          Seq("s_nationkey"), "full_outer")
        .select(col("s_nationkey"),
          (coalesce(col("n_sup"), lit(0L)) +
            coalesce(col("d_n"), lit(0L))).as("n_sup"),
          (coalesce(col("bal"), lit(0).cast("decimal(18,2)")) +
            coalesce(col("d_bal"), lit(0).cast("decimal(18,2)")))
            .cast("decimal(18,2)").as("bal"))
        .filter(col("n_sup") > 0)
        .persist()
      // the theorem: incremental == rebuild, hashed by the oracle too
      val rebuilt = viewOf(rd(3L))
        .select(col("s_nationkey"), col("n_sup"),
          col("bal").cast("decimal(18,2)").as("bal"))
      val ivmOk = maintained.exceptAll(rebuilt).isEmpty &&
        rebuilt.exceptAll(maintained).isEmpty
      maintained
        .select(col("s_nationkey"), col("n_sup"),
          col("bal").cast("double").as("sum_bal"))
        .withColumn("ivm_ok", lit(ivmOk))
        .orderBy("s_nationkey")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    // the maintained view replayed as the v3 state built from parquet:
    // %10==3 updated (+1000), %10==7 spawns nation-99 rows, %10==4 gone
    "q380_fw_cdf_ivm" -> """
      WITH v3 AS (
        SELECT s_nationkey, s_acctbal + 1000.0 AS bal
        FROM supplier WHERE s_suppkey <= 100000 AND s_suppkey % 10 = 3
        UNION ALL
        SELECT s_nationkey, s_acctbal FROM supplier
        WHERE s_suppkey <= 100000
          AND s_suppkey % 10 NOT IN (3, 4)
        UNION ALL
        SELECT 99, 0.0 FROM supplier
        WHERE s_suppkey <= 100000 AND s_suppkey % 10 = 7)
      SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_sup,
        CAST(CAST(sum(CAST(round(bal, 2) AS DECIMAL(18,2)))
          AS DECIMAL(18,2)) AS DOUBLE) AS sum_bal,
        TRUE AS ivm_ok
      FROM v3 GROUP BY 1 ORDER BY s_nationkey""",
  )
}
