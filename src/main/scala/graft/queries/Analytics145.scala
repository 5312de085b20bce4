package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-9 additions, batch 145 (SURVEY.md §2.4, lakehouse row) — the
  * SQL DML + stored-procedure surface:
  *
  *  - q378: SQL `DELETE FROM` through the catalog (SupportsDeleteV2) —
  *    the erasure statement every engine user actually types. The
  *    delete routes to merge-on-read deletion vectors: ZERO data files
  *    rewritten (pinned by a before/after listing contract), the
  *    pre-delete `VERSION AS OF` pin still reads every row (pinned),
  *    and the live result replays in the oracle as an anti-filter.
  *
  *  - q379: the maintenance lifecycle from pure SQL via `CALL`
  *    (ProcedureCatalog): optimize → DELETE → rollback → clone, each
  *    report row checked, with the final read taken FROM THE CLONE so
  *    the whole chain (compaction correctness, rollback restoring the
  *    deleted rows, clone completeness) is load-bearing for the
  *    oracle match, not just asserted.
  */
object Analytics145 {
  import Tables.{freshFwBase, t}

  private val FwFixtureMaxKey = 100000L

  /** Register the catalog, (re)create `cat.ns.sup` over a fresh dir,
    * and fill it from the supplier parquet in one INSERT (= snapshot
    * v1). Returns the SQL table name.
    */
  private def supTable(spark: SparkSession, dir: String, cat: String,
      tag: String): String = {
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.FwCatalog")
    val base = freshFwBase(tag, dir)
    val tbl = s"$cat.ns.sup"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"""CREATE TABLE $tbl (s_suppkey BIGINT, s_name STRING,
      s_nationkey INT, s_acctbal DOUBLE)
      OPTIONS (path '$base', widths '8,18,4,24')""")
    t(spark, dir, "supplier")
      .filter(col("s_suppkey") <= FwFixtureMaxKey)
      .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      // 4 range files at every SF, so q379's compaction always has
      // work (a single-file table makes optimize a clean no-op with
      // no committed version — correct, but not what q379 pins)
      .repartitionByRange(4, col("s_suppkey"))
      .createOrReplaceTempView(s"${tag}_src")
    spark.sql(s"INSERT INTO $tbl SELECT * FROM ${tag}_src")
    tbl
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q378_fw_sql_delete" -> ((spark, dir) => {
      val tbl = supTable(spark, dir, "fwq378", "graft_fw_sqldel")
      val base = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"), "graft_fw_sqldel",
        java.nio.file.Paths.get(dir).getFileName.toString)
      def dataFiles() = new java.io.File(base.toString).listFiles()
        .filter(_.getName.endsWith(".fw"))
        .map(f => (f.getName, f.length(), f.lastModified())).toSeq.sorted
      val before = dataFiles()
      // the statement a user types; 999983 holds nothing — clean no-op
      spark.sql(
        s"DELETE FROM $tbl WHERE s_suppkey IN (1, 3, 5, 7, 9, 999983)")
      val zeroRewrites = dataFiles() == before
      val liveN = spark.table(tbl).count()
      val v1N = spark.sql(s"SELECT count(*) AS n FROM $tbl VERSION AS OF 1")
        .collect()(0).getLong(0)
      val deleted = Seq(1L, 3L, 5L, 7L, 9L).count(_ <=
        t(spark, dir, "supplier").agg(max("s_suppkey")).collect()(0)
          .getLong(0))
      val timeTravelOk = v1N == liveN + deleted
      spark.table(tbl)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_sup"),
          min(col("s_suppkey")).as("min_key"),
          max(col("s_suppkey")).as("max_key"))
        .withColumn("zero_rewrites", lit(zeroRewrites))
        .withColumn("time_travel_ok", lit(timeTravelOk))
        .orderBy("s_nationkey")
    }),

    "q379_fw_sql_call" -> ((spark, dir) => {
      val tbl = supTable(spark, dir, "fwq379", "graft_fw_sqlcall")
      // v2: compaction via CALL; report pins many files -> fewer
      val opt = spark.sql(
        s"CALL fwq379.optimize(tbl => 'ns.sup', target_bytes => ${64L << 20})")
        .collect()(0)
      val optimizeOk = opt.getLong(0) == 2L &&
        opt.getInt(2) <= opt.getInt(1) && opt.getInt(2) >= 1
      // v3: a DV delete the rollback must undo
      spark.sql(s"DELETE FROM $tbl WHERE s_suppkey IN (2, 4, 6)")
      val afterDelete = spark.table(tbl).count()
      val rb = spark.sql(s"CALL fwq379.rollback('ns.sup', 2)").collect()(0)
      val restored = spark.table(tbl).count()
      // keys 2/4/6 exist at every SF: rollback returns exactly them
      val rollbackOk = rb.getInt(0) == 1 && restored == afterDelete + 3
      // clone the restored table and answer FROM THE CLONE
      val dst = freshFwBase("graft_fw_sqlcall_cl", dir)
      val dstDir = new java.io.File(dst.toString)
      dstDir.delete() // clone requires a fresh target
      spark.sql(s"CALL fwq379.clone('ns.sup', '$dst')")
      val clone = spark.read.format("graft.sources.FixedWidth")
        .option("schema",
          "s_suppkey:long:8,s_name:string:18,s_nationkey:int:4,s_acctbal:double:24")
        .load(dst.toString)
      val cloneOk = clone.count() == restored
      clone.groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_sup"),
          sum(expr("cast(round(s_acctbal, 2) as decimal(18,2))"))
            .cast("double").as("sum_bal"))
        .withColumn("optimize_ok", lit(optimizeOk))
        .withColumn("rollback_ok", lit(rollbackOk))
        .withColumn("clone_ok", lit(cloneOk))
        .orderBy("s_nationkey")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    // the SQL DELETE replayed as an anti-filter; both contracts TRUE
    "q378_fw_sql_delete" -> """
      SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_sup,
        min(s_suppkey) AS min_key, max(s_suppkey) AS max_key,
        TRUE AS zero_rewrites, TRUE AS time_travel_ok
      FROM supplier
      WHERE s_suppkey <= 100000
        AND s_suppkey NOT IN (1, 3, 5, 7, 9)
      GROUP BY 1 ORDER BY s_nationkey""",

    // optimize + delete + rollback + clone nets out to the original
    // table (read through the clone), with all three contracts TRUE
    "q379_fw_sql_call" -> """
      SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_sup,
        CAST(sum(CAST(round(s_acctbal, 2) AS DECIMAL(18,2))) AS DOUBLE)
          AS sum_bal,
        TRUE AS optimize_ok, TRUE AS rollback_ok, TRUE AS clone_ok
      FROM supplier WHERE s_suppkey <= 100000
      GROUP BY 1 ORDER BY s_nationkey""",
  )
}
