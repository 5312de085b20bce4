package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-10 additions, batch 151 (SURVEY.md §2.4) — the streaming
  * change feed across copy-on-write commits:
  *
  *  - q390: STREAMING CDF ≡ BATCH CDF over a COW merge. A real
  *    micro-batch stream (readChangeFeed, memory sink) tails a table
  *    across a copy-on-write MERGE commit — the shape the stream used
  *    to refuse — served from the commit's materialized change data
  *    (`_fw_changes/`, the Delta `_change_data` discipline; here the
  *    LAZY path: FwMaintenance.merge does not materialize eagerly, so
  *    the first stream read computes the delta once from retained
  *    history). The pinned `stream_matches_batch` contract proves the
  *    streamed rows are EXACTLY FwChangeFeed.changesBetween's row-grain
  *    multiset delta — carried rows cancel, only genuine pre/post
  *    images stream. Oracle: DuckDB replays the expected delta from
  *    the supplier fixture predicate.
  *
  *    Scale shape: the one-time materialization diffs only the files
  *    in exactly one of the two snapshots (a 1 GB rewrite on a 100 TB
  *    table diffs 2 GB); each later stream read plans the change files
  *    as static record runs — zero shuffles at read time.
  */
object Analytics151 {
  import Tables.{freshFwBase, t}

  private val FwSchema =
    "s_suppkey:long:8,s_name:string:18,s_nationkey:int:4,s_acctbal:double:24"
  private val FwFixtureMaxKey = 100000L

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q390_fw_cdf_stream_cow" -> ((spark, dir) => {
      val base = freshFwBase("graft_fw_cdfsc", dir)
      val src = t(spark, dir, "supplier")
        .filter(col("s_suppkey") <= FwFixtureMaxKey)
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      src.repartitionByRange(2, col("s_suppkey"))
        .write.format("graft.sources.FixedWidth")
        .option("schema", FwSchema).mode("overwrite").save(base.toString)
      val schema = graft.sources.FixedWidth.parseSchema(FwSchema)
      // v2: COW merge — %10==3 updated in place (delete pre-image +
      // insert post-image per key; every carried row cancels)
      graft.sources.FwMaintenance.merge(spark, base.toString, schema,
        src.filter(col("s_suppkey") % 10 === 3)
          .withColumn("s_acctbal", col("s_acctbal") + 1000.0),
        "s_suppkey")
      // tail ONLY the COW commit through a real micro-batch stream
      val sink = "q390_cdf_sink"
      val q = spark.readStream.format("graft.sources.FixedWidth")
        .option("schema", FwSchema).option("readChangeFeed", "true")
        .option("startingVersion", "2").load(base.toString)
        .writeStream.format("memory").queryName(sink).start()
      try q.processAllAvailable() finally q.stop()
      val streamed = spark.table(sink)
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
          col("s_acctbal"), col("_change_type"))
        .persist()
      streamed.count()
      spark.catalog.dropTempView(sink) // rerun-safe
      val batch = graft.sources.FwChangeFeed.changesBetween(spark,
        base.toString, FwSchema, 1L, 2L)
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
          col("s_acctbal"), col("_change_type"))
      val matches = streamed.exceptAll(batch).isEmpty &&
        batch.exceptAll(streamed).isEmpty
      val out = streamed
        .groupBy(col("_change_type"), col("s_nationkey"))
        .agg(count(lit(1)).as("n_rows"),
          sum(expr("cast(round(s_acctbal, 2) as decimal(18,2))"))
            .cast("double").as("sum_bal"),
          min(col("s_suppkey")).as("min_key"),
          max(col("s_suppkey")).as("max_key"))
        .withColumn("stream_matches_batch", lit(matches))
        .orderBy("_change_type", "s_nationkey")
      streamed.unpersist(false)
      out
    }),

    // BATCH readChangeFeed over a mixed history — append, merge-on-read
    // delete, and copy-on-write merge commits in ONE version-range read
    // (the Delta batch CDF surface): same per-version planner as the
    // stream, so the COW commit reads from its materialized change
    // files and the MoR delete from its deletion-vector runs. Oracle
    // replays every commit class from the fixture predicates.
    "q391_fw_cdf_batch" -> ((spark, dir) => {
      val base = freshFwBase("graft_fw_cdfb", dir)
      val src = t(spark, dir, "supplier")
        .filter(col("s_suppkey") <= FwFixtureMaxKey)
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      src.repartitionByRange(2, col("s_suppkey"))
        .write.format("graft.sources.FixedWidth")
        .option("schema", FwSchema).mode("overwrite").save(base.toString)
      val schema = graft.sources.FixedWidth.parseSchema(FwSchema)
      // v2: append — brand-new suppliers
      src.filter(col("s_suppkey") % 10 === 9)
        .select((col("s_suppkey") + 600000L).as("s_suppkey"),
          lit("APPSUP").as("s_name"), lit(77).as("s_nationkey"),
          lit(5.0).as("s_acctbal"))
        .coalesce(1)
        .write.format("graft.sources.FixedWidth")
        .option("schema", FwSchema).mode("append").save(base.toString)
      // v3: merge-on-read delete — deletion vectors, no file moves
      graft.sources.FwMaintenance.deleteByKeysMoR(spark, base.toString,
        schema, src.filter(col("s_suppkey") % 10 === 4)
          .select("s_suppkey"), "s_suppkey")
      // v4: copy-on-write merge — pre/post images via change data
      graft.sources.FwMaintenance.merge(spark, base.toString, schema,
        src.filter(col("s_suppkey") % 10 === 3)
          .withColumn("s_acctbal", col("s_acctbal") + 1000.0),
        "s_suppkey")
      spark.read.format("graft.sources.FixedWidth")
        .option("schema", FwSchema).option("readChangeFeed", "true")
        .option("startingVersion", "2").load(base.toString)
        .groupBy(col("_change_type"), col("_commit_version"))
        .agg(count(lit(1)).as("n_rows"),
          sum(expr("cast(round(s_acctbal, 2) as decimal(18,2))"))
            .cast("double").as("sum_bal"),
          min(col("s_suppkey")).as("min_key"),
          max(col("s_suppkey")).as("max_key"))
        .orderBy("_change_type", "_commit_version")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    // the COW merge's exact delta, replayed from the fixture predicate
    "q390_fw_cdf_stream_cow" -> """
      WITH s AS (
        SELECT s_suppkey, s_nationkey, s_acctbal FROM supplier
        WHERE s_suppkey <= 100000 AND s_suppkey % 10 = 3),
      cdf AS (
        SELECT 'delete' AS ct, s_suppkey, s_nationkey, s_acctbal AS bal
        FROM s
        UNION ALL
        SELECT 'insert', s_suppkey, s_nationkey, s_acctbal + 1000.0
        FROM s)
      SELECT ct AS "_change_type", s_nationkey,
        CAST(count(*) AS BIGINT) AS n_rows,
        CAST(sum(CAST(round(bal, 2) AS DECIMAL(18,2))) AS DOUBLE)
          AS sum_bal,
        min(s_suppkey) AS min_key, max(s_suppkey) AS max_key,
        TRUE AS stream_matches_batch
      FROM cdf GROUP BY 1, 2 ORDER BY 1, 2""",

    // every commit class replayed: v2 append inserts, v3 MoR deletes,
    // v4 COW merge as delete(pre) + insert(post)
    "q391_fw_cdf_batch" -> """
      WITH s AS (
        SELECT s_suppkey, s_nationkey, s_acctbal FROM supplier
        WHERE s_suppkey <= 100000),
      cdf AS (
        SELECT 'insert' AS ct, CAST(2 AS BIGINT) AS v,
          s_suppkey + 600000 AS k, 5.0 AS bal
        FROM s WHERE s_suppkey % 10 = 9
        UNION ALL
        SELECT 'delete', 3, s_suppkey, s_acctbal
        FROM s WHERE s_suppkey % 10 = 4
        UNION ALL
        SELECT 'delete', 4, s_suppkey, s_acctbal
        FROM s WHERE s_suppkey % 10 = 3
        UNION ALL
        SELECT 'insert', 4, s_suppkey, s_acctbal + 1000.0
        FROM s WHERE s_suppkey % 10 = 3)
      SELECT ct AS "_change_type", v AS "_commit_version",
        CAST(count(*) AS BIGINT) AS n_rows,
        CAST(sum(CAST(round(bal, 2) AS DECIMAL(18,2))) AS DOUBLE)
          AS sum_bal,
        min(k) AS min_key, max(k) AS max_key
      FROM cdf GROUP BY 1, 2 ORDER BY 1, 2""",
  )
}
