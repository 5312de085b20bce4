package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-9 additions, batch 148 (SURVEY.md §2.4, lakehouse row):
  *
  *  - q383: GDPR ERASURE CASCADE over the SQL + CDF surfaces — the
  *    workflow a real deletion request runs end to end: `DELETE FROM
  *    users WHERE key IN (…)` erases the parent via deletion vectors
  *    (zero rewrites), the row-grain change feed between the
  *    pre/post-delete snapshots yields the erased keys WITHOUT the
  *    caller re-stating them (the feed is the system of record for
  *    what actually died), and those keys drive a merge-on-read
  *    cascade delete on the dependent facts table. Contracts pinned:
  *    both deletes rewrote zero data files, the referential orphan
  *    audit over the live tables is exactly zero, and the pre-delete
  *    pins still read both tables in full.
  *
  *    Scale shape: the parent delete is sidecar-only; the feed reads
  *    only DV deltas; the cascade prunes the facts files by key
  *    envelopes and writes sidecars — a 100 TB facts table erases a
  *    user in O(touched files') sidecar writes, no rewrite anywhere.
  */
object Analytics148 {
  import Tables.{freshFwBase, t}

  private val Keys = Seq(1L, 3L, 5L, 7L, 9L) // present at every SF
  private val UserSchema =
    "s_suppkey:long:8,s_name:string:18,s_nationkey:int:4,s_acctbal:double:24"
  private val FactSchema =
    "l_orderkey:long:10,l_suppkey:long:8,qty:long:4,l_returnflag:string:1"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q383_fw_erasure_cascade" -> ((spark, dir) => {
      spark.conf.set("spark.sql.catalog.fwq383", "graft.sources.FwCatalog")
      val users = freshFwBase("graft_fw_casc_u", dir)
      val facts = freshFwBase("graft_fw_casc_f", dir)
      t(spark, dir, "supplier")
        .filter(col("s_suppkey") <= 100000L)
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
        .repartitionByRange(4, col("s_suppkey"))
        .write.format("graft.sources.FixedWidth")
        .option("schema", UserSchema).mode("overwrite")
        .save(users.toString)
      t(spark, dir, "lineitem")
        .filter(col("l_suppkey") <= 100000L)
        .select(col("l_orderkey"), col("l_suppkey"),
          col("l_quantity").cast("long").as("qty"), col("l_returnflag"))
        .repartitionByRange(4, col("l_suppkey"))
        .write.format("graft.sources.FixedWidth")
        .option("schema", FactSchema).mode("overwrite")
        .save(facts.toString)
      spark.sql("DROP TABLE IF EXISTS fwq383.ns.users")
      spark.sql(s"""CREATE TABLE fwq383.ns.users (s_suppkey BIGINT,
        s_name STRING, s_nationkey INT, s_acctbal DOUBLE)
        OPTIONS (path '$users', widths '8,18,4,24')""")

      def dataFiles(p: java.nio.file.Path) =
        new java.io.File(p.toString).listFiles()
          .filter(_.getName.endsWith(".fw"))
          .map(f => (f.getName, f.length(), f.lastModified())).toSeq.sorted
      val usersBefore = dataFiles(users)
      val factsBefore = dataFiles(facts)

      // 1. the erasure request, as SQL (v2 = a DV-only commit)
      spark.sql(s"DELETE FROM fwq383.ns.users WHERE s_suppkey IN " +
        Keys.mkString("(", ", ", ")"))
      // 2. the CHANGE FEED names what actually died — the cascade
      //    never re-trusts the request's key list
      val erased = graft.sources.FwChangeFeed.changesBetween(spark,
        users.toString, UserSchema, 1L, 2L)
        .filter(col("_change_type") === "delete")
        .select(col("s_suppkey").as("l_suppkey"))
      // 3. cascade: merge-on-read delete on the facts table
      val report = graft.sources.FwMaintenance.deleteByKeysMoR(spark,
        facts.toString,
        graft.sources.FixedWidth.parseSchema(FactSchema),
        erased, "l_suppkey")

      val fw = (p: java.nio.file.Path, sch: String) =>
        spark.read.format("graft.sources.FixedWidth")
          .option("schema", sch).load(p.toString)
      val fwAt = (p: java.nio.file.Path, sch: String, v: Long) =>
        spark.read.format("graft.sources.FixedWidth")
          .option("schema", sch).option("versionAsOf", v).load(p.toString)
      val zeroRewrites = dataFiles(users) == usersBefore &&
        dataFiles(facts) == factsBefore
      // referential audit: no live fact references an erased user
      val orphans = fw(facts, FactSchema).as("f")
        .join(fw(users, UserSchema).as("u"),
          col("f.l_suppkey") === col("u.s_suppkey"), "left_anti")
        .count()
      val noOrphans = orphans == 0L
      val pinsOk =
        fwAt(users, UserSchema, 1L).count() ==
          fw(users, UserSchema).count() + Keys.size &&
        fwAt(facts, FactSchema, 1L).count() ==
          fw(facts, FactSchema).count() + report.rowsDeleted

      fw(facts, FactSchema)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"), sum(col("qty")).as("sum_qty"),
          min(col("l_suppkey")).as("min_supp"),
          max(col("l_suppkey")).as("max_supp"))
        .withColumn("zero_rewrites", lit(zeroRewrites))
        .withColumn("no_orphans", lit(noOrphans))
        .withColumn("pins_ok", lit(pinsOk))
        .orderBy("l_returnflag")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    // the cascade replayed as an anti-filter on the facts source; all
    // three contracts pinned TRUE
    "q383_fw_erasure_cascade" -> s"""
      SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        min(l_suppkey) AS min_supp, max(l_suppkey) AS max_supp,
        TRUE AS zero_rewrites, TRUE AS no_orphans, TRUE AS pins_ok
      FROM lineitem
      WHERE l_suppkey <= 100000
        AND l_suppkey NOT IN ${Keys.mkString("(", ", ", ")")}
      GROUP BY 1 ORDER BY l_returnflag""",
  )
}
