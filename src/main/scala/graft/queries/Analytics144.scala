package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-9 additions, batch 144 (SURVEY.md §2.4, lakehouse row):
  *
  *  - q376: ROW-GRAIN CHANGE DATA FEED — `FwChangeFeed.changesBetween`
  *    derives `_change_type` insert/delete rows between two snapshot
  *    versions of the fixed-width table across a merge + delete
  *    history (an update = delete pre-image + insert post-image).
  *    Only files in exactly one snapshot are read; COW-copied rows
  *    cancel in the multiset diff. The output pins the CDF algebra
  *    `v1 ⊎ inserts ∖ deletes = v3` as a boolean contract the oracle
  *    fixes TRUE, plus per-type/nation aggregates the oracle replays
  *    from the parquet original.
  *
  *  - q377: DELETION VECTORS (merge-on-read DELETE) — the same erasure
  *    as q364 but via `.fwdv` sidecars: ZERO data files rewritten
  *    (pinned as a boolean contract over the before/after file
  *    listing), live reads skip the voided ordinals, and
  *    `versionAsOf=1` still reads every pre-delete row (also pinned).
  *    The oracle replays the erasure as an anti-filter.
  */
object Analytics144 {
  import Tables.{freshFwBase, t}

  private val FwSchema =
    "s_suppkey:long:8,s_name:string:18,s_nationkey:int:4,s_acctbal:double:24"
  private val FwFixtureMaxKey = 100000L

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q376_fw_row_cdf" -> ((spark, dir) => {
      val base = freshFwBase("graft_fw_cdf2", dir)
      val src = t(spark, dir, "supplier")
        .filter(col("s_suppkey") <= FwFixtureMaxKey)
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      src.repartitionByRange(4, col("s_suppkey"))
        .write.format("graft.sources.FixedWidth")
        .option("schema", FwSchema).mode("overwrite").save(base.toString)
      val schema = graft.sources.FixedWidth.parseSchema(FwSchema)
      // v2: COW merge — %10==3 updated in place, %10==7 spawns new rows
      val updates = src.filter(col("s_suppkey") % 10 === 3)
        .withColumn("s_acctbal", col("s_acctbal") + 1000.0)
        .unionAll(src.filter(col("s_suppkey") % 10 === 7)
          .select((col("s_suppkey") + 500000L).as("s_suppkey"),
            lit("NEWSUP").as("s_name"),
            lit(99).as("s_nationkey"),
            lit(0.0).as("s_acctbal")))
      graft.sources.FwMaintenance.merge(spark, base.toString, schema,
        updates, "s_suppkey")
      // v3: COW delete — %10==4 erased
      graft.sources.FwMaintenance.deleteByKeys(spark, base.toString,
        schema, src.filter(col("s_suppkey") % 10 === 4)
          .select("s_suppkey"), "s_suppkey")
      val cdf = graft.sources.FwChangeFeed.changesBetween(spark,
        base.toString, FwSchema, 1L, 3L).persist()
      // the CDF algebra, pinned: v1 ⊎ inserts ∖ deletes == v3
      def rd(v: Long) = spark.read.format("graft.sources.FixedWidth")
        .option("schema", FwSchema).option("versionAsOf", v)
        .load(base.toString)
      val ins = cdf.filter(col("_change_type") === "insert")
        .drop("_change_type")
      val dels = cdf.filter(col("_change_type") === "delete")
        .drop("_change_type")
      val replayed = rd(1L).unionAll(ins).exceptAll(dels)
      val invariant = replayed.exceptAll(rd(3L)).isEmpty &&
        rd(3L).exceptAll(replayed).isEmpty
      cdf.groupBy("_change_type", "s_nationkey")
        .agg(count(lit(1)).as("n_rows"),
          sum(expr("cast(round(s_acctbal, 2) as decimal(18,2))"))
            .cast("double").as("sum_bal"),
          min(col("s_suppkey")).as("min_key"),
          max(col("s_suppkey")).as("max_key"))
        .withColumn("cdf_invariant", lit(invariant))
        .orderBy("_change_type", "s_nationkey")
    }),

    "q377_fw_deletion_vectors" -> ((spark, dir) => {
      val base = freshFwBase("graft_fw_dv", dir)
      val src = t(spark, dir, "supplier")
        .filter(col("s_suppkey") <= FwFixtureMaxKey)
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      src.repartitionByRange(4, col("s_suppkey"))
        .write.format("graft.sources.FixedWidth")
        .option("schema", FwSchema).mode("overwrite").save(base.toString)
      val schema = graft.sources.FixedWidth.parseSchema(FwSchema)
      def dataFiles() = new java.io.File(base.toString).listFiles()
        .filter(_.getName.endsWith(".fw"))
        .map(f => (f.getName, f.length(), f.lastModified())).toSeq.sorted
      val before = dataFiles()
      val erase = src.filter(col("s_suppkey") % 10 === 4)
        .select(col("s_suppkey"))
        .unionAll(src.limit(5) // keys nothing holds: clean no-ops
          .select((col("s_suppkey") + 900000L).as("s_suppkey")))
      val report = graft.sources.FwMaintenance.deleteByKeysMoR(spark,
        base.toString, schema, erase, "s_suppkey")
      require(report.version == 2L, s"MoR delete should commit v2: $report")
      // the merge-on-read contracts, pinned TRUE by the oracle:
      // no data file was rewritten, and the pre-delete pin still
      // reads every row
      val zeroRewrites = dataFiles() == before
      def rd(opts: Map[String, String]) = {
        val r = spark.read.format("graft.sources.FixedWidth")
          .option("schema", FwSchema)
        opts.foldLeft(r)((r, kv) => r.option(kv._1, kv._2))
          .load(base.toString)
      }
      val liveN = rd(Map.empty).count()
      val v1N = rd(Map("versionAsOf" -> "1")).count()
      val timeTravelOk = v1N == liveN + report.rowsDeleted
      rd(Map.empty)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_sup"),
          min(col("s_suppkey")).as("min_key"),
          max(col("s_suppkey")).as("max_key"))
        .withColumn("zero_rewrites", lit(zeroRewrites))
        .withColumn("time_travel_ok", lit(timeTravelOk))
        .orderBy("s_nationkey")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    // the CDF replayed from parquet: an update is delete(pre-image) +
    // insert(post-image); the v1⊎ins∖del==v3 invariant is pinned TRUE
    "q376_fw_row_cdf" -> """
      WITH s AS (
        SELECT s_suppkey, s_nationkey, s_acctbal FROM supplier
        WHERE s_suppkey <= 100000),
      cdf AS (
        SELECT 'insert' AS ct, s_suppkey, s_nationkey,
          s_acctbal + 1000.0 AS bal FROM s WHERE s_suppkey % 10 = 3
        UNION ALL
        SELECT 'insert', s_suppkey + 500000, 99, 0.0
        FROM s WHERE s_suppkey % 10 = 7
        UNION ALL
        SELECT 'delete', s_suppkey, s_nationkey, s_acctbal
        FROM s WHERE s_suppkey % 10 = 3
        UNION ALL
        SELECT 'delete', s_suppkey, s_nationkey, s_acctbal
        FROM s WHERE s_suppkey % 10 = 4)
      SELECT ct AS "_change_type", s_nationkey,
        CAST(count(*) AS BIGINT) AS n_rows,
        CAST(sum(CAST(round(bal, 2) AS DECIMAL(18,2))) AS DOUBLE)
          AS sum_bal,
        min(s_suppkey) AS min_key, max(s_suppkey) AS max_key,
        TRUE AS cdf_invariant
      FROM cdf GROUP BY 1, 2 ORDER BY 1, 2""",

    // the erasure replayed as an anti-filter; both MoR contracts
    // pinned TRUE
    "q377_fw_deletion_vectors" -> """
      SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_sup,
        min(s_suppkey) AS min_key, max(s_suppkey) AS max_key,
        TRUE AS zero_rewrites, TRUE AS time_travel_ok
      FROM supplier
      WHERE s_suppkey <= 100000 AND s_suppkey % 10 <> 4
      GROUP BY 1 ORDER BY s_nationkey""",
  )
}
