package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-9 additions, batch 147 (SURVEY.md §2.4, lakehouse row) — SQL
  * row-level DML through SupportsRowLevelOperations (group-based COW):
  *
  *  - q381: SQL `UPDATE` — the statement Spark rewrites into a
  *    ReplaceData plan over the operation's group scan: zone maps pick
  *    the candidate files, every row of a picked file flows through
  *    the CASE-WHEN assignment (matching rows updated, neighbors
  *    copied verbatim), superseded files retire into retained history.
  *    The pre-update `VERSION AS OF` pin is checked and the oracle
  *    replays the assignment as a CASE expression.
  *
  *  - q382: SQL `MERGE INTO` with all three clause kinds (matched
  *    UPDATE, matched DELETE, not-matched INSERT) — q376's entire
  *    merge+delete history expressed as the single statement a user
  *    actually writes. The oracle replays the final state from the
  *    parquet original.
  */
object Analytics147 {
  import Tables.{freshFwBase, t}

  private val FwFixtureMaxKey = 100000L

  private def supTable(spark: SparkSession, dir: String, cat: String,
      tag: String): String = {
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.FwCatalog")
    val base = freshFwBase(tag, dir)
    val tbl = s"$cat.ns.sup"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"""CREATE TABLE $tbl (s_suppkey BIGINT, s_name STRING,
      s_nationkey INT, s_acctbal DOUBLE)
      OPTIONS (path '$base', widths '8,18,4,24')""")
    t(spark, dir, "supplier")
      .filter(col("s_suppkey") <= FwFixtureMaxKey)
      .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .repartitionByRange(4, col("s_suppkey"))
      .createOrReplaceTempView(s"${tag}_src")
    spark.sql(s"INSERT INTO $tbl SELECT * FROM ${tag}_src")
    tbl
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q381_fw_sql_update" -> ((spark, dir) => {
      val tbl = supTable(spark, dir, "fwq381", "graft_fw_sqlupd")
      val v1N = spark.table(tbl).count()
      spark.sql(s"""UPDATE $tbl
        SET s_acctbal = s_acctbal + 1000.0, s_name = 'UPD'
        WHERE s_suppkey % 10 = 3""")
      val pinN = spark
        .sql(s"SELECT count(*) AS n FROM $tbl VERSION AS OF 1")
        .collect()(0).getLong(0)
      val pinUpd = spark.sql(
        s"SELECT count(*) AS n FROM $tbl VERSION AS OF 1 WHERE s_name = 'UPD'")
        .collect()(0).getLong(0)
      // an UPDATE changes no row count, and the pin predates the names
      val timeTravelOk = pinN == v1N &&
        spark.table(tbl).count() == v1N && pinUpd == 0L
      spark.table(tbl)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_sup"),
          sum(when(col("s_name") === "UPD", 1L).otherwise(0L))
            .as("n_updated"),
          sum(expr("cast(round(s_acctbal, 2) as decimal(18,2))"))
            .cast("double").as("sum_bal"))
        .withColumn("time_travel_ok", lit(timeTravelOk))
        .orderBy("s_nationkey")
    }),

    "q382_fw_sql_merge" -> ((spark, dir) => {
      val tbl = supTable(spark, dir, "fwq382", "graft_fw_sqlmrg")
      val v1N = spark.table(tbl).count()
      // the q376 history as ONE statement: act U = update (+1000),
      // D = delete, I = brand-new suppliers in nation 99
      t(spark, dir, "supplier")
        .filter(col("s_suppkey") <= FwFixtureMaxKey)
        .select(col("s_suppkey"), col("s_acctbal"))
        .filter(col("s_suppkey") % 10 === 3)
        .select(col("s_suppkey").as("k"), lit("U").as("act"),
          (col("s_acctbal") + 1000.0).as("bal"))
        .unionAll(t(spark, dir, "supplier")
          .filter(col("s_suppkey") <= FwFixtureMaxKey)
          .filter(col("s_suppkey") % 10 === 4)
          .select(col("s_suppkey").as("k"), lit("D").as("act"),
            lit(0.0).as("bal")))
        .unionAll(t(spark, dir, "supplier")
          .filter(col("s_suppkey") <= FwFixtureMaxKey)
          .filter(col("s_suppkey") % 10 === 7)
          .select((col("s_suppkey") + 500000L).as("k"),
            lit("I").as("act"), lit(0.0).as("bal")))
        .createOrReplaceTempView("graft_fw_sqlmrg_delta")
      spark.sql(s"""MERGE INTO $tbl AS tgt
        USING graft_fw_sqlmrg_delta AS src ON tgt.s_suppkey = src.k
        WHEN MATCHED AND src.act = 'D' THEN DELETE
        WHEN MATCHED AND src.act = 'U' THEN
          UPDATE SET s_acctbal = src.bal
        WHEN NOT MATCHED THEN INSERT
          (s_suppkey, s_name, s_nationkey, s_acctbal)
          VALUES (src.k, 'NEWSUP', 99, src.bal)""")
      // the pre-merge pin still reads the original table exactly
      val pinN = spark
        .sql(s"SELECT count(*) AS n FROM $tbl VERSION AS OF 1")
        .collect()(0).getLong(0)
      val timeTravelOk = pinN == v1N
      spark.table(tbl)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_sup"),
          min(col("s_suppkey")).as("min_key"),
          max(col("s_suppkey")).as("max_key"),
          sum(expr("cast(round(s_acctbal, 2) as decimal(18,2))"))
            .cast("double").as("sum_bal"))
        .withColumn("time_travel_ok", lit(timeTravelOk))
        .orderBy("s_nationkey")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    // the UPDATE replayed as a CASE over the parquet original
    "q381_fw_sql_update" -> """
      WITH s AS (
        SELECT s_nationkey,
          CASE WHEN s_suppkey % 10 = 3 THEN 'UPD' ELSE s_name END
            AS s_name,
          CASE WHEN s_suppkey % 10 = 3 THEN s_acctbal + 1000.0
            ELSE s_acctbal END AS bal
        FROM supplier WHERE s_suppkey <= 100000)
      SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_sup,
        CAST(sum(CASE WHEN s_name = 'UPD' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_updated,
        CAST(sum(CAST(round(bal, 2) AS DECIMAL(18,2))) AS DOUBLE)
          AS sum_bal,
        TRUE AS time_travel_ok
      FROM s GROUP BY 1 ORDER BY s_nationkey""",

    // the MERGE replayed as the q380 v3-state construction
    "q382_fw_sql_merge" -> """
      WITH v3 AS (
        SELECT s_suppkey, s_nationkey, s_acctbal + 1000.0 AS bal
        FROM supplier WHERE s_suppkey <= 100000 AND s_suppkey % 10 = 3
        UNION ALL
        SELECT s_suppkey, s_nationkey, s_acctbal FROM supplier
        WHERE s_suppkey <= 100000 AND s_suppkey % 10 NOT IN (3, 4)
        UNION ALL
        SELECT s_suppkey + 500000, 99, 0.0 FROM supplier
        WHERE s_suppkey <= 100000 AND s_suppkey % 10 = 7)
      SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_sup,
        min(s_suppkey) AS min_key, max(s_suppkey) AS max_key,
        CAST(sum(CAST(round(bal, 2) AS DECIMAL(18,2))) AS DOUBLE)
          AS sum_bal,
        TRUE AS time_travel_ok
      FROM v3 GROUP BY 1 ORDER BY s_nationkey""",
  )
}
