package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-9 additions, batch 149 (SURVEY.md §2.4, lakehouse row) —
  * write-side transactional guarantees for the FW source:
  *
  *  - q384: IDEMPOTENT APPENDS (the Delta `txn` action) — a batch
  *    append carrying `txnAppId`/`txnVersion` stamps its (app,
  *    version) pair into the manifest version it commits; a RETRY of
  *    the same job version (the crashed-orchestrator / at-least-once
  *    scheduler case) finds the high-water mark already at or above
  *    its txnVersion, sweeps its tmp files, and returns WITHOUT
  *    committing — so the retried write is exactly-once at the table
  *    level. The query replays a loader that appends twice with the
  *    same txnVersion (one commit) and once with the next (commits),
  *    and proves both the row counts and the version count.
  *
  *    Scale shape: the check is one manifest read inside the commit
  *    lock — O(history length) driver-side JSON, zero record IO; the
  *    dedup never scans data files.
  *
  *  - q385: CHECK CONSTRAINTS enforced at write (the Delta
  *    `ADD CONSTRAINT` discipline, `graft.sources.FwConstraints`) —
  *    a named SQL predicate added to the table (existing rows
  *    validated first) that every subsequent batch write enforces
  *    row-by-row via a codegen'd predicate compiled once per task
  *    from the driver-analyzed expression. A violating batch fails
  *    ATOMICALLY: the whole commit aborts and its tmps are swept, so
  *    the query proves the violating append contributed zero rows,
  *    zero versions — and the valid appends landed.
  *
  *    Scale shape: per-row cost is one generated-code boolean per
  *    constraint (no interpreter, no extra pass); validation of the
  *    existing table is one distributed filter-count.
  *
  *  - q386: WRITE-AUDIT-PUBLISH (Iceberg branch semantics,
  *    `graft.sources.FwRefs`) — a write carrying `branch=audit`
  *    commits its snapshot but moves only the `audit` ref; `main`
  *    freezes at the pre-stage version and every un-pinned read
  *    resolves through it, so production readers cannot see unaudited
  *    data. While the stage is pending, every OTHER commit path
  *    (plain append, compaction, truncate, row-level DML) refuses
  *    loudly BEFORE publishing a byte — a snapshot is a full listing,
  *    so committing around a stage would silently leak it. The audit
  *    query runs against `branch=audit`; `publish` fast-forwards main
  *    atomically (one refs-file rename).
  *
  *  - q387: TAGS + RETENTION — an immutable named pin on a committed
  *    version (`FwMaintenance.tag`). Vacuum's history trim retains
  *    every ref'd version, so a release tag outlives any retainLast
  *    window until deleted; reads resolve it via
  *    `.option("branch", name)`.
  *
  *    Scale shape for both: refs are one tiny JSON read-modify-write
  *    under the commit lock — zero record IO at any table size; the
  *    default-view resolution adds one manifest lookup to planning.
  *
  *  - q388: METADATA-ONLY ADD COLUMN (`graft.sources.FwSchemaLog`;
  *    SQL `ALTER TABLE … ADD COLUMN … COMMENT 'width=n'`) — widening
  *    a table rewrites ZERO bytes: the schema log appends the new
  *    spec version and stamps every pre-evolution file with its
  *    layout; readers parse each file at its own record length
  *    (prefix layouts — offsets of existing columns never move) and
  *    surface the missing column as NULL. The query proves the mixed
  *    read: old rows NULL, new rows carry values, counts/filters
  *    exact across both layouts.
  *
  *    Scale shape: evolution cost is one JSON write at any table
  *    size; per-file layout resolution is a driver-side map lookup at
  *    planning. Head-slicing ops (ordinal deletes, streaming offsets)
  *    guard until uniform; compaction groups per layout and stamps
  *    its outputs; a COW pass upgrades old files as a side effect of
  *    any row-level write.
  */
object Analytics149 {
  import Tables.{freshFwBase, t}

  private val FwSchema =
    "s_suppkey:long:8,s_name:string:18,s_nationkey:int:4,s_acctbal:double:24"
  private val FwFixtureMaxKey = 100000L

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q384_fw_idempotent_append" -> ((spark, dir) => {
      val base = freshFwBase("graft_fw_txn", dir)
      val src = t(spark, dir, "supplier")
        .filter(col("s_suppkey") <= FwFixtureMaxKey)
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      // v1: plain overwrite (no txn) — the base even-key half
      src.filter(col("s_suppkey") % 2 === 0)
        .repartition(2)
        .write.format("graft.sources.FixedWidth")
        .option("schema", FwSchema).mode("overwrite").save(base.toString)
      def loaderAppend(slice: DataFrame, jobVersion: Long): Unit =
        slice.repartition(2)
          .write.format("graft.sources.FixedWidth")
          .option("schema", FwSchema)
          .option("txnAppId", "nightly_loader")
          .option("txnVersion", jobVersion.toString)
          .mode("append").save(base.toString)
      val odd = src.filter(col("s_suppkey") % 2 =!= 0)
      loaderAppend(odd, 1L) // v2: commits
      loaderAppend(odd, 1L) // RETRY of job 1: must not commit again
      val sevens = src.filter(col("s_suppkey") % 7 === 0)
      loaderAppend(sevens, 2L) // v3: a NEW job version commits
      loaderAppend(sevens, 2L) // retry of job 2: skipped too
      val versions = spark.read.format("graft.sources.FixedWidth")
        .option("history", "true").option("schema", FwSchema)
        .load(base.toString)
        .agg(count(lit(1)).as("n_versions"))
      spark.read.format("graft.sources.FixedWidth")
        .option("schema", FwSchema).load(base.toString)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_sup"),
          sum(col("s_suppkey")).as("key_sum"))
        .crossJoin(broadcast(versions))
        .orderBy("s_nationkey")
    }),

    "q385_fw_constraints" -> ((spark, dir) => {
      val base = freshFwBase("graft_fw_check", dir)
      val src = t(spark, dir, "supplier")
        .filter(col("s_suppkey") <= FwFixtureMaxKey)
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      src.filter(col("s_suppkey") % 2 === 0)
        .repartition(2)
        .write.format("graft.sources.FixedWidth")
        .option("schema", FwSchema).mode("overwrite").save(base.toString)
      graft.sources.FwConstraints.add(spark, base.toString, FwSchema,
        "key_bound", s"s_suppkey <= $FwFixtureMaxKey")
      // a compliant append commits (v2)
      src.filter(col("s_suppkey") % 2 =!= 0)
        .repartition(2)
        .write.format("graft.sources.FixedWidth")
        .option("schema", FwSchema).mode("append").save(base.toString)
      // a violating append must abort WHOLESALE — even its rows that
      // individually satisfy the constraint
      val caught =
        try {
          src.limit(50)
            .withColumn("s_suppkey",
              col("s_suppkey") + lit(10L * FwFixtureMaxKey))
            .write.format("graft.sources.FixedWidth")
            .option("schema", FwSchema).mode("append").save(base.toString)
          false
        } catch {
          case e: Throwable =>
            var cur = e; var hit = false
            while (cur != null && !hit) {
              hit = cur.getMessage != null &&
                cur.getMessage.contains("CHECK constraint 'key_bound'")
              cur = cur.getCause
            }
            hit
        }
      val versions = spark.read.format("graft.sources.FixedWidth")
        .option("history", "true").option("schema", FwSchema)
        .load(base.toString)
        .agg(count(lit(1)).as("n_versions"))
      spark.read.format("graft.sources.FixedWidth")
        .option("schema", FwSchema).load(base.toString)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_sup"),
          max(col("s_suppkey")).as("max_key"))
        .crossJoin(broadcast(versions))
        .withColumn("violation_caught", lit(caught))
        .orderBy("s_nationkey")
    }),

    "q386_fw_wap" -> ((spark, dir) => {
      val base = freshFwBase("graft_fw_wap", dir)
      val src = t(spark, dir, "supplier")
        .filter(col("s_suppkey") <= FwFixtureMaxKey)
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      def fw = spark.read.format("graft.sources.FixedWidth")
        .option("schema", FwSchema)
      // v1 (the production view)
      src.filter(col("s_suppkey") % 2 === 0)
        .repartition(2)
        .write.format("graft.sources.FixedWidth")
        .option("schema", FwSchema).mode("overwrite").save(base.toString)
      // stage the odd half onto the audit branch (v2; main stays v1)
      src.filter(col("s_suppkey") % 2 =!= 0)
        .repartition(2)
        .write.format("graft.sources.FixedWidth")
        .option("schema", FwSchema).option("branch", "audit")
        .mode("append").save(base.toString)
      val nMainBefore = fw.load(base.toString).count()
      val nBranch = fw.option("branch", "audit").load(base.toString)
        .count()
      // the WAP guard: a plain append while the stage is pending must
      // refuse before publishing anything
      val blocked =
        try {
          src.limit(10)
            .write.format("graft.sources.FixedWidth")
            .option("schema", FwSchema).mode("append").save(base.toString)
          false
        } catch {
          case e: Throwable =>
            var cur = e; var hit = false
            while (cur != null && !hit) {
              hit = cur.getMessage != null &&
                cur.getMessage.contains("pending stage")
              cur = cur.getCause
            }
            hit
        }
      val pub = graft.sources.FwMaintenance.publish(base.toString, "audit")
      val nMainAfter = fw.load(base.toString).count()
      spark.range(1).select(
        lit(nMainBefore).as("n_main_before"),
        lit(nBranch).as("n_branch"),
        lit(blocked).as("blocked_while_staged"),
        lit(pub.publishedVersion).as("published_version"),
        lit(nMainAfter).as("n_main_after"))
    }),

    "q387_fw_tags" -> ((spark, dir) => {
      val base = freshFwBase("graft_fw_tag", dir)
      val src = t(spark, dir, "supplier")
        .filter(col("s_suppkey") <= FwFixtureMaxKey)
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      def fw = spark.read.format("graft.sources.FixedWidth")
        .option("schema", FwSchema)
      src.filter(col("s_suppkey") % 2 === 0)
        .repartition(2)
        .write.format("graft.sources.FixedWidth")
        .option("schema", FwSchema).mode("overwrite").save(base.toString)
      graft.sources.FwMaintenance.tag(base.toString, "rel_1", 1L)
      src.filter(col("s_suppkey") % 2 =!= 0)
        .repartition(2)
        .write.format("graft.sources.FixedWidth")
        .option("schema", FwSchema).mode("append").save(base.toString)
      // retention says keep 1 version; the tag protects v1 anyway
      graft.sources.FwMaintenance.vacuum(spark, base.toString,
        retainLast = 1)
      val nTagged = fw.option("branch", "rel_1").load(base.toString)
        .count()
      val nLive = fw.load(base.toString).count()
      val nVersions = fw.option("history", "true").load(base.toString)
        .count()
      spark.range(1).select(
        lit(nTagged).as("n_tagged"),
        lit(nLive).as("n_live"),
        lit(nVersions).as("n_versions"))
    }),

    // Non-destructive RESTORE: an accidental TRUNCATE (v3) undone by
    // committing v4 = v2's file list — retained files make it pure
    // metadata, and the whole history (including the truncate) stays
    // readable. The destructive sibling is q375's rollback.
    "q389_fw_restore" -> ((spark, dir) => {
      val base = freshFwBase("graft_fw_restore", dir)
      val src = t(spark, dir, "supplier")
        .filter(col("s_suppkey") <= FwFixtureMaxKey)
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      src.filter(col("s_suppkey") % 2 === 0)
        .repartition(2)
        .write.format("graft.sources.FixedWidth")
        .option("schema", FwSchema).mode("overwrite").save(base.toString)
      src.filter(col("s_suppkey") % 2 =!= 0)
        .repartition(2)
        .write.format("graft.sources.FixedWidth")
        .option("schema", FwSchema).mode("append").save(base.toString)
      // the accident: v3 empties the table (files retained)
      graft.sources.FwMaintenance.truncateRetain(base.toString)
      val emptied = spark.read.format("graft.sources.FixedWidth")
        .option("schema", FwSchema).load(base.toString).count()
      val r = graft.sources.FwMaintenance.restore(base.toString, 2L)
      val versions = spark.read.format("graft.sources.FixedWidth")
        .option("history", "true").option("schema", FwSchema)
        .load(base.toString)
        .agg(count(lit(1)).as("n_versions"))
      spark.read.format("graft.sources.FixedWidth")
        .option("schema", FwSchema).load(base.toString)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_sup"),
          sum(col("s_suppkey")).as("key_sum"))
        .crossJoin(broadcast(versions))
        .withColumn("emptied_rows", lit(emptied))
        .withColumn("new_version", lit(r.newVersion))
        .orderBy("s_nationkey")
    }),

    "q388_fw_add_column" -> ((spark, dir) => {
      val base = freshFwBase("graft_fw_addcol", dir)
      val src = t(spark, dir, "supplier")
        .filter(col("s_suppkey") <= FwFixtureMaxKey)
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      // v1 files: the even half, written at the 4-column layout
      src.filter(col("s_suppkey") % 2 === 0)
        .repartition(2)
        .write.format("graft.sources.FixedWidth")
        .option("schema", FwSchema).mode("overwrite").save(base.toString)
      // metadata-only widen: zero bytes rewritten
      graft.sources.FwSchemaLog.addColumn(base.toString, FwSchema,
        "s_bonus:long:10")
      val wide = s"$FwSchema,s_bonus:long:10"
      // head-layout appends: the odd half, bonus = 2*key
      src.filter(col("s_suppkey") % 2 =!= 0)
        .withColumn("s_bonus", col("s_suppkey") * 2L)
        .repartition(2)
        .write.format("graft.sources.FixedWidth")
        .option("schema", wide).mode("append").save(base.toString)
      spark.read.format("graft.sources.FixedWidth")
        .option("schema", wide).load(base.toString)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_sup"),
          sum(when(col("s_bonus").isNull, 1L).otherwise(0L))
            .as("n_old_layout"),
          sum(coalesce(col("s_bonus"), lit(0L))).as("bonus_sum"))
        .orderBy("s_nationkey")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    // every key lands once (even v1 + odd v2); the %7 slice lands a
    // second time via job version 2; the two RETRIES contribute zero
    "q384_fw_idempotent_append" -> """
      WITH s AS (
        SELECT s_suppkey, s_nationkey FROM supplier
        WHERE s_suppkey <= 100000),
      expanded AS (
        SELECT s_suppkey, s_nationkey FROM s
        UNION ALL
        SELECT s_suppkey, s_nationkey FROM s WHERE s_suppkey % 7 = 0)
      SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_sup,
        CAST(sum(s_suppkey) AS BIGINT) AS key_sum,
        CAST(3 AS BIGINT) AS n_versions
      FROM expanded GROUP BY s_nationkey ORDER BY s_nationkey""",

    // the violating append contributed nothing: counts and max keys
    // replay from the bounded supplier predicate alone; 2 versions
    "q385_fw_constraints" -> """
      SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_sup,
        max(s_suppkey) AS max_key,
        CAST(2 AS BIGINT) AS n_versions,
        TRUE AS violation_caught
      FROM supplier WHERE s_suppkey <= 100000
      GROUP BY s_nationkey ORDER BY s_nationkey""",

    // staged = odd half, invisible to main until publish; the blocked
    // plain append contributed nothing
    "q386_fw_wap" -> """
      SELECT
        CAST(sum(CASE WHEN s_suppkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_main_before,
        CAST(count(*) AS BIGINT) AS n_branch,
        TRUE AS blocked_while_staged,
        CAST(2 AS BIGINT) AS published_version,
        CAST(count(*) AS BIGINT) AS n_main_after
      FROM supplier WHERE s_suppkey <= 100000""",

    // the tag pinned v1 (the even half) through a retainLast=1 vacuum;
    // both versions stay in history
    "q387_fw_tags" -> """
      SELECT
        CAST(sum(CASE WHEN s_suppkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_tagged,
        CAST(count(*) AS BIGINT) AS n_live,
        CAST(2 AS BIGINT) AS n_versions
      FROM supplier WHERE s_suppkey <= 100000""",

    // the restore brings every row back; the truncate read 0; 4
    // versions: evens, all, empty, restored
    "q389_fw_restore" -> """
      SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_sup,
        CAST(sum(s_suppkey) AS BIGINT) AS key_sum,
        CAST(4 AS BIGINT) AS n_versions,
        CAST(0 AS BIGINT) AS emptied_rows,
        CAST(4 AS BIGINT) AS new_version
      FROM supplier WHERE s_suppkey <= 100000
      GROUP BY s_nationkey ORDER BY s_nationkey""",

    // evens predate the column (NULL); odds carry bonus = 2*key
    "q388_fw_add_column" -> """
      SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_sup,
        CAST(sum(CASE WHEN s_suppkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_old_layout,
        CAST(sum(CASE WHEN s_suppkey % 2 <> 0 THEN 2 * s_suppkey
          ELSE 0 END) AS BIGINT) AS bonus_sum
      FROM supplier WHERE s_suppkey <= 100000
      GROUP BY s_nationkey ORDER BY s_nationkey""",
  )
}
