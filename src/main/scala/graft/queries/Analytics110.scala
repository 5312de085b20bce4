package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-5 additions, batch 127 (SURVEY.md §2.2 sources):
  *
  *  - q293: custom DataSource V2 end-to-end — the supplier dim rendered
  *    to fixed-width records, re-ingested through
  *    `graft.sources.FixedWidth` (column pruning + filter pushdown +
  *    record-aligned splits), and oracle-checked against the parquet
  *    original. The fixture write is a bounded driver loop over the
  *    DIM table (supplier — 10k rows/SF), the same discipline as
  *    m5_binary_ingest; the read path is the real connector code.
  */
object Analytics110 {
  import Tables.t

  private val FwSchema =
    "s_suppkey:long:8,s_name:string:18,s_nationkey:int:4,s_acctbal:double:24"

  // fixture-builder collects are key-bounded so the driver-side
  // materialization stays O(1) at any scale factor (covers the whole
  // supplier table through sf0.1; the SAME predicate bounds the oracle)
  private val FwFixtureMaxKey = 100000L

  /** Recursive fixture cleanup for partitioned layouts (the flat
    * single-level delete cannot remove `<col>=<value>` subdirs).
    */
  private[queries] def deepClean(base: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(base)) {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(base)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
      finally walk.close()
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q293_fixedwidth_source" -> ((spark, dir) => {
      import java.nio.file.Files
      val base = Tables.freshFwBase("graft_fw", dir)
      val schema = graft.sources.FixedWidth.parseSchema(FwSchema)
      // Double.toString → parse round-trips exactly, so the re-read
      // acctbal is bit-identical to the parquet value DuckDB reads.
      val rows = t(spark, dir, "supplier")
        .filter(col("s_suppkey") <= FwFixtureMaxKey)
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
        .orderBy("s_suppkey").collect()
        .map(r => Seq[Any](r.getLong(0), r.getString(1), r.getInt(2),
          r.getDouble(3)))
      // Two files: planInputPartitions must merge multi-file listings.
      val (half1, half2) = rows.splitAt(rows.length / 2)
      Files.write(base.resolve("part0.fw"),
        graft.sources.FixedWidthWriter.render(schema, half1.toSeq))
      Files.write(base.resolve("part1.fw"),
        graft.sources.FixedWidthWriter.render(schema, half2.toSeq))
      spark.read.format("graft.sources.FixedWidth")
        .option("schema", FwSchema)
        .option("recordsPerSplit", "64")
        .load(base.toString)
        // both predicates reach the reader (see FixedWidthSpec): rows
        // are dropped before materialization, and only the 4 needed
        // slices of each record are ever decoded
        .filter(col("s_acctbal") > 0 && col("s_nationkey") < 13)
        .select("s_suppkey", "s_name", "s_acctbal")
        .orderBy("s_suppkey")
    }),

    // MIN/MAX/COUNT answered from zone-map sidecars + file sizes alone
    // (the round-6 metadata aggregate): the DISTRIBUTED writer emits
    // per-file stats, the re-read aggregation never touches a record,
    // and the oracle replays the same extremes from parquet.
    "q350_fw_minmax_pushdown" -> ((spark, dir) => {
      import java.nio.file.{Files, Paths}
      val base = Paths.get(System.getProperty("java.io.tmpdir"),
        "graft_fw_mm", Paths.get(dir).getFileName.toString)
      Files.createDirectories(base)
      t(spark, dir, "supplier")
        .filter(col("s_suppkey") <= FwFixtureMaxKey)
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
        .repartition(4)
        .write.format("graft.sources.FixedWidth")
        .option("schema", FwSchema)
        .mode("overwrite")
        .save(base.toString)
      spark.read.format("graft.sources.FixedWidth")
        .option("schema", FwSchema)
        .load(base.toString)
        .agg(count(lit(1)).as("n_rows"),
          min(col("s_suppkey")).as("min_key"),
          max(col("s_suppkey")).as("max_key"),
          min(col("s_nationkey")).as("min_nation"),
          max(col("s_acctbal")).as("max_bal"))
    }),

    // COUNT(*) answered from file sizes alone (SupportsPushDownAggregates
    // complete pushdown): records = bytes / rowLen, so the count of a
    // 100 TB fixed-width dataset costs one directory listing and zero
    // record IO. FixedWidthSpec asserts the metadata-only path engaged.
    "q300_fw_count_pushdown" -> ((spark, dir) => {
      import java.nio.file.Files
      val base = Tables.freshFwBase("graft_fw_cnt", dir)
      val schema = graft.sources.FixedWidth.parseSchema(FwSchema)
      val rows = t(spark, dir, "supplier")
        .filter(col("s_suppkey") <= FwFixtureMaxKey)
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
        .orderBy("s_suppkey").collect()
        .map(r => Seq[Any](r.getLong(0), r.getString(1), r.getInt(2),
          r.getDouble(3)))
      Files.write(base.resolve("part0.fw"),
        graft.sources.FixedWidthWriter.render(schema, rows.toSeq))
      spark.read.format("graft.sources.FixedWidth")
        .option("schema", FwSchema)
        .load(base.toString)
        .agg(count(lit(1)).as("n_rows"))
    }),

    // Distributed DSV2 write → read round trip: supplier flows through
    // the FixedWidth WRITER (4 tasks, two-phase tmp→publish commit,
    // overwrite=truncate), is re-read through the connector, and the
    // re-aggregated facts are oracle-checked against the parquet
    // original. Nothing is collected to the driver.
    "q304_fw_write_roundtrip" -> ((spark, dir) => {
      import java.nio.file.{Files, Paths}
      val base = Paths.get(System.getProperty("java.io.tmpdir"),
        "graft_fw_wr", Paths.get(dir).getFileName.toString)
      Files.createDirectories(base)
      t(spark, dir, "supplier")
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
        .repartition(4)
        .write.format("graft.sources.FixedWidth")
        .option("schema", FwSchema)
        .mode("overwrite")
        .save(base.toString)
      spark.read.format("graft.sources.FixedWidth")
        .option("schema", FwSchema)
        .load(base.toString)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_sup"),
          sum(expr("cast(round(s_acctbal, 2) as decimal(18,2))"))
            .cast("double").as("sum_bal"),
          min(col("s_suppkey")).as("min_key"),
          max(col("s_suppkey")).as("max_key"))
        .orderBy("s_nationkey")
    }),

    // TIME TRAVEL end-to-end: two batch commits create snapshot
    // versions 1 and 2 in the _fw_versions.json manifest; both are then
    // read back WITH versionAsOf pins and aggregated. The oracle
    // replays each snapshot's contents from the parquet original (v1 =
    // the even-key half, v2 = everything), so the hash match proves the
    // manifest captured exactly the post-commit file sets — the
    // Delta-style reproducibility contract a 100 TB training-data
    // pipeline needs to re-run yesterday's job on yesterday's table.
    "q359_fw_time_travel" -> ((spark, dir) => {
      val base = Tables.freshFwBase("graft_fw_tt", dir)
      val src = t(spark, dir, "supplier")
        .filter(col("s_suppkey") <= FwFixtureMaxKey)
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      // v1: the even-key half; v2: append the rest
      src.filter(col("s_suppkey") % 2 === 0)
        .repartition(2)
        .write.format("graft.sources.FixedWidth")
        .option("schema", FwSchema).mode("overwrite").save(base.toString)
      src.filter(col("s_suppkey") % 2 =!= 0)
        .repartition(2)
        .write.format("graft.sources.FixedWidth")
        .option("schema", FwSchema).mode("append").save(base.toString)
      def readAt(v: Int) = spark.read
        .format("graft.sources.FixedWidth")
        .option("schema", FwSchema)
        .option("versionAsOf", v.toString)
        .load(base.toString)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_sup"),
          min(col("s_suppkey")).as("min_key"),
          max(col("s_suppkey")).as("max_key"))
        .withColumn("version", lit(v.toLong))
      readAt(1).unionAll(readAt(2))
        .select(col("version"), col("s_nationkey"), col("n_sup"),
          col("min_key"), col("max_key"))
        .orderBy("version", "s_nationkey")
    }),

    // TIMESTAMP travel over the same fixture: commit times come from
    // the public FwMaintenance.commitTimestamps handle (strictly
    // increasing by construction), and three pins prove resolution —
    // AT v1's instant, one millisecond BEFORE v2 (still v1: newest
    // at-or-before), and AT v2's instant as an ISO-8601 string. The
    // oracle knows nothing of wall-clock; it replays the version
    // CONTENTS each pin must resolve to, so the hash match is the
    // timestamp→version mapping theorem.
    "q373_fw_timestamp_travel" -> ((spark, dir) => {
      val base = Tables.freshFwBase("graft_fw_tts", dir)
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
      val ts = graft.sources.FwMaintenance
        .commitTimestamps(base.toString)
      def readAt(pin: String, label: String) = spark.read
        .format("graft.sources.FixedWidth")
        .option("schema", FwSchema)
        .option("timestampAsOf", pin)
        .load(base.toString)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_sup"),
          min(col("s_suppkey")).as("min_key"),
          max(col("s_suppkey")).as("max_key"))
        .withColumn("pin", lit(label))
      readAt(ts(1L).toString, "at_v1")
        .unionAll(readAt((ts(2L) - 1).toString, "before_v2"))
        .unionAll(readAt(
          java.time.Instant.ofEpochMilli(ts(2L)).toString, "at_v2"))
        .select(col("pin"), col("s_nationkey"), col("n_sup"),
          col("min_key"), col("max_key"))
        .orderBy("pin", "s_nationkey")
    }),

    // Zero-copy CLONE: hard-link the latest snapshot into a new table
    // dir, then OVERWRITE the source — the clone must still read the
    // full pre-overwrite contents (links share storage, not
    // lifecycle). The oracle replays the full supplier slice: a clone
    // that broke or went stale would hash-mismatch.
    "q374_fw_clone" -> ((spark, dir) => {
      import java.nio.file.{Files, Paths}
      val tag = Paths.get(dir).getFileName.toString
      val base = Paths.get(System.getProperty("java.io.tmpdir"),
        "graft_fw_clone_src", tag)
      val dst = Paths.get(System.getProperty("java.io.tmpdir"),
        "graft_fw_clone_dst", tag)
      Seq(base, dst).foreach { p =>
        if (Files.exists(p)) {
          val listing = Files.list(p)
          try listing.forEach(f => Files.deleteIfExists(f))
          finally listing.close()
        }
      }
      Files.createDirectories(base)
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
      graft.sources.FwMaintenance
        .cloneTable(spark, base.toString, dst.toString)
      // source rewrite AFTER the clone: the clone must not notice
      src.filter(col("s_suppkey") % 10 === 0)
        .repartition(1)
        .write.format("graft.sources.FixedWidth")
        .option("schema", FwSchema).mode("overwrite").save(base.toString)
      spark.read.format("graft.sources.FixedWidth")
        .option("schema", FwSchema).load(dst.toString)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_sup"),
          min(col("s_suppkey")).as("min_key"),
          max(col("s_suppkey")).as("max_key"))
        .orderBy("s_nationkey")
    }),

    // Hard ROLLBACK: three snapshots, roll back to v2 — newer files
    // are deleted, the manifest trims, and live reads equal v2's
    // contents exactly (the oracle replays them); the history surface
    // pins that exactly two versions remain.
    "q375_fw_rollback" -> ((spark, dir) => {
      val base = Tables.freshFwBase("graft_fw_rollback", dir)
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
      // v3: a duplicate slice rollback must erase
      src.filter(col("s_suppkey") % 7 === 0)
        .repartition(1)
        .write.format("graft.sources.FixedWidth")
        .option("schema", FwSchema).mode("append").save(base.toString)
      graft.sources.FwMaintenance.rollback(spark, base.toString, 2L)
      val versions = spark.read.format("graft.sources.FixedWidth")
        .option("history", "true").option("schema", FwSchema)
        .load(base.toString)
        .agg(count(lit(1)).as("n_versions"))
      spark.read.format("graft.sources.FixedWidth")
        .option("schema", FwSchema).load(base.toString)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_sup"),
          min(col("s_suppkey")).as("min_key"),
          max(col("s_suppkey")).as("max_key"))
        .crossJoin(broadcast(versions))
        .orderBy("s_nationkey")
    }),

    // INCREMENTAL read between snapshots: changesFromVersion=1 reads
    // ONLY the files versions 2+ added (the Delta change-feed idea at
    // file grain — the batch writer never mutates a published file, so
    // the version-n→latest delta IS the file-set difference). The
    // oracle replays the delta's contents (the odd-key half) from
    // parquet: a downstream job can process yesterday→today's additions
    // without re-reading the 100 TB base.
    "q360_fw_incremental" -> ((spark, dir) => {
      val base = Tables.freshFwBase("graft_fw_cdc", dir)
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
      spark.read.format("graft.sources.FixedWidth")
        .option("schema", FwSchema)
        .option("changesFromVersion", "1")
        .load(base.toString)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_new"),
          min(col("s_suppkey")).as("min_key"),
          max(col("s_suppkey")).as("max_key"))
        .orderBy("s_nationkey")
    }),

    // DESCRIBE HISTORY as data: the snapshot manifest read back through
    // the source's history surface (version, file/byte/record counts —
    // one metadata read, zero record IO). The oracle recomputes every
    // column from the fixture predicate: commit sizes are supplier
    // counts, bytes are records x the 55-byte record length.
    "q361_fw_history" -> ((spark, dir) => {
      val base = Tables.freshFwBase("graft_fw_hist", dir)
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
      spark.read.format("graft.sources.FixedWidth")
        .option("history", "true")
        .option("schema", FwSchema)
        .load(base.toString)
        .orderBy("version")
    }),

    // OPTIMIZE-style small-file compaction: 8 tiny files from a
    // fine-grained write (v1) are bin-packed into ONE by streaming
    // byte concatenation (fixed-width files are record-aligned, so
    // compaction never decodes a record) and committed as snapshot v2.
    // The per-nation aggregates prove record preservation against the
    // parquet original; the two boolean contracts — pinned TRUE by the
    // oracle — prove the file count actually collapsed 8→1 and that
    // v2 holds exactly v1's record count, both read from the
    // metadata-only history surface.
    "q362_fw_compaction" -> ((spark, dir) => {
      val base = Tables.freshFwBase("graft_fw_opt", dir)
      t(spark, dir, "supplier")
        .filter(col("s_suppkey") <= FwFixtureMaxKey)
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
        .repartition(8)
        .write.format("graft.sources.FixedWidth")
        .option("schema", FwSchema).mode("overwrite").save(base.toString)
      val report = graft.sources.FwMaintenance.optimize(spark,
        base.toString, targetBytes = 1L << 20)
      require(report.committedVersion.contains(2L),
        s"compaction should commit snapshot v2: $report")
      val hist = spark.read.format("graft.sources.FixedWidth")
        .option("history", "true")
        .option("schema", FwSchema)
        .load(base.toString)
      val contract = hist.agg(
        (max(when(col("version") === 1, col("n_files"))) === 8L &&
          max(when(col("version") === 2, col("n_files"))) === 1L)
          .as("files_compacted_ok"),
        (max(when(col("version") === 1, col("n_records"))) ===
          max(when(col("version") === 2, col("n_records"))))
          .as("records_preserved"))
      spark.read.format("graft.sources.FixedWidth")
        .option("schema", FwSchema)
        .load(base.toString)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_sup"),
          min(col("s_suppkey")).as("min_key"),
          max(col("s_suppkey")).as("max_key"))
        .crossJoin(contract)
        .orderBy("s_nationkey")
    }),

    // Copy-on-write MERGE (upsert): keys ending in 3 get +1000 balance,
    // keys ending in 7 spawn brand-new suppliers under nation 99, and
    // the zone-map key envelopes decide which files rewrite — the
    // Delta MERGE contract at file grain, table side never shuffled.
    // The oracle replays the same upsert in SQL over the parquet
    // original, so the hash match proves update-in-place, insert, and
    // untouched-row preservation simultaneously.
    "q363_fw_merge" -> ((spark, dir) => {
      val base = Tables.freshFwBase("graft_fw_mrg", dir)
      val src = t(spark, dir, "supplier")
        .filter(col("s_suppkey") <= FwFixtureMaxKey)
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      src.repartitionByRange(4, col("s_suppkey"))
        .write.format("graft.sources.FixedWidth")
        .option("schema", FwSchema).mode("overwrite").save(base.toString)
      val updates = src.filter(col("s_suppkey") % 10 === 3)
        .withColumn("s_acctbal", col("s_acctbal") + 1000.0)
        .unionAll(src.filter(col("s_suppkey") % 10 === 7)
          .select((col("s_suppkey") + 500000L).as("s_suppkey"),
            lit("NEWSUP").as("s_name"),
            lit(99).as("s_nationkey"),
            lit(0.0).as("s_acctbal")))
      val report = graft.sources.FwMaintenance.merge(spark,
        base.toString, graft.sources.FixedWidth.parseSchema(FwSchema),
        updates, "s_suppkey")
      require(report.version == 2L, s"merge should commit v2: $report")
      spark.read.format("graft.sources.FixedWidth")
        .option("schema", FwSchema)
        .load(base.toString)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_sup"),
          sum(expr("cast(round(s_acctbal, 2) as decimal(18,2))"))
            .cast("double").as("sum_bal"),
          min(col("s_suppkey")).as("min_key"),
          max(col("s_suppkey")).as("max_key"))
        .orderBy("s_nationkey")
    }),

    // Key-set DELETE (the GDPR-erasure primitive): suppliers whose key
    // ends in 4 are erased by rewriting only the files whose zone-map
    // key envelopes cannot exclude them; keys nothing holds are clean
    // no-ops. The oracle replays the erasure as an anti-filter over the
    // parquet original.
    "q364_fw_delete" -> ((spark, dir) => {
      val base = Tables.freshFwBase("graft_fw_del", dir)
      val src = t(spark, dir, "supplier")
        .filter(col("s_suppkey") <= FwFixtureMaxKey)
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      src.repartitionByRange(4, col("s_suppkey"))
        .write.format("graft.sources.FixedWidth")
        .option("schema", FwSchema).mode("overwrite").save(base.toString)
      val erase = src.filter(col("s_suppkey") % 10 === 4)
        .select(col("s_suppkey"))
        .unionAll(src.limit(5) // keys no file holds: erased as no-ops
          .select((col("s_suppkey") + 900000L).as("s_suppkey")))
      val report = graft.sources.FwMaintenance.deleteByKeys(spark,
        base.toString, graft.sources.FixedWidth.parseSchema(FwSchema),
        erase, "s_suppkey")
      require(report.version == 2L, s"delete should commit v2: $report")
      spark.read.format("graft.sources.FixedWidth")
        .option("schema", FwSchema)
        .load(base.toString)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_sup"),
          min(col("s_suppkey")).as("min_key"),
          max(col("s_suppkey")).as("max_key"))
        .orderBy("s_nationkey")
    }),

    // STRING extremes answered from zone-map sidecars alone (the
    // round-7 string zone maps, Parquet's truncate-and-increment
    // device): the writer stamps exact s_name envelopes (18 ≤ the
    // 24-char cap), so MIN/MAX of strings AND numerics both ride the
    // metadata-only aggregate path — one directory listing for the
    // lexicographic extremes of a 100 TB table. The oracle replays the
    // same extremes from parquet.
    "q365_fw_string_minmax" -> ((spark, dir) => {
      import java.nio.file.{Files, Paths}
      val base = Paths.get(System.getProperty("java.io.tmpdir"),
        "graft_fw_str", Paths.get(dir).getFileName.toString)
      Files.createDirectories(base)
      t(spark, dir, "supplier")
        .filter(col("s_suppkey") <= FwFixtureMaxKey)
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
        .repartition(4)
        .write.format("graft.sources.FixedWidth")
        .option("schema", FwSchema)
        .mode("overwrite")
        .save(base.toString)
      spark.read.format("graft.sources.FixedWidth")
        .option("schema", FwSchema)
        .load(base.toString)
        .agg(count(lit(1)).as("n_rows"),
          min(col("s_name")).as("min_name"),
          max(col("s_name")).as("max_name"),
          min(col("s_suppkey")).as("min_key"),
          max(col("s_acctbal")).as("max_bal"))
    }),

    // HIVE-STYLE PARTITIONED LAYOUT: supplier written one directory per
    // nation (the partition column lives in the dir name, not the
    // records), read back with EXACT partition pruning — the nation
    // predicate decides whole directories, so the other 20+ partitions
    // of a 100 TB table are never listed past their names. The oracle
    // replays the filter over parquet; the row hash also proves the
    // reader injects the directory value back into every row.
    "q366_fw_partition_prune" -> ((spark, dir) => {
      import java.nio.file.{Files, Paths}
      val base = Paths.get(System.getProperty("java.io.tmpdir"),
        "graft_fw_part", Paths.get(dir).getFileName.toString)
      graft.queries.Analytics110.deepClean(base)
      Files.createDirectories(base)
      t(spark, dir, "supplier")
        .filter(col("s_suppkey") <= FwFixtureMaxKey)
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
        .repartition(4)
        .write.format("graft.sources.FixedWidth")
        .option("schema", FwSchema).option("partitionBy", "s_nationkey")
        .mode("overwrite").save(base.toString)
      spark.read.format("graft.sources.FixedWidth")
        .option("schema", FwSchema).option("partitionBy", "s_nationkey")
        .load(base.toString)
        .filter(col("s_nationkey") < 5)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_sup"),
          min(col("s_suppkey")).as("min_key"),
          max(col("s_suppkey")).as("max_key"),
          min(col("s_name")).as("first_name"))
        .orderBy("s_nationkey")
    }),

    // STORAGE-PARTITIONED JOIN: two tables partitioned by nation join
    // on the partition column with ZERO shuffle on either side (the
    // scan reports KeyGroupedPartitioning; v2 bucketing turns the
    // exchange off — the Iceberg SPJ device, spec-pinned plan-side in
    // FixedWidthSpec). The oracle replays the same join over parquet.
    "q367_fw_spj" -> ((spark, dir) => {
      import java.nio.file.{Files, Paths}
      val base1 = Paths.get(System.getProperty("java.io.tmpdir"),
        "graft_fw_spj1", Paths.get(dir).getFileName.toString)
      val base2 = Paths.get(System.getProperty("java.io.tmpdir"),
        "graft_fw_spj2", Paths.get(dir).getFileName.toString)
      graft.queries.Analytics110.deepClean(base1)
      graft.queries.Analytics110.deepClean(base2)
      Files.createDirectories(base1)
      Files.createDirectories(base2)
      val src = t(spark, dir, "supplier")
        .filter(col("s_suppkey") <= FwFixtureMaxKey)
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      src.repartition(4)
        .write.format("graft.sources.FixedWidth")
        .option("schema", FwSchema).option("partitionBy", "s_nationkey")
        .mode("overwrite").save(base1.toString)
      src.filter(col("s_suppkey") % 3 === 0).repartition(2)
        .write.format("graft.sources.FixedWidth")
        .option("schema", FwSchema).option("partitionBy", "s_nationkey")
        .mode("overwrite").save(base2.toString)
      def read(p: java.nio.file.Path) = spark.read
        .format("graft.sources.FixedWidth")
        .option("schema", FwSchema).option("partitionBy", "s_nationkey")
        .load(p.toString)
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      read(base1).groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_all"),
          max(col("s_suppkey")).as("max_all"))
        .join(read(base2).groupBy("s_nationkey")
          .agg(count(lit(1)).as("n_third"),
            max(col("s_suppkey")).as("max_third")), "s_nationkey")
        .orderBy("s_nationkey")
    }),

    // GROUPED metadata aggregates: the per-nation profile of the
    // partitioned table — counts from directory file sizes, key/name
    // extremes from each directory's sidecars — with ZERO record IO
    // (the scan summary says pushed-agg; FixedWidthSpec pins it). The
    // oracle replays the same grouped profile from parquet.
    "q368_fw_grouped_meta" -> ((spark, dir) => {
      import java.nio.file.{Files, Paths}
      val base = Paths.get(System.getProperty("java.io.tmpdir"),
        "graft_fw_gmeta", Paths.get(dir).getFileName.toString)
      graft.queries.Analytics110.deepClean(base)
      Files.createDirectories(base)
      t(spark, dir, "supplier")
        .filter(col("s_suppkey") <= FwFixtureMaxKey)
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
        .repartition(4)
        .write.format("graft.sources.FixedWidth")
        .option("schema", FwSchema).option("partitionBy", "s_nationkey")
        .mode("overwrite").save(base.toString)
      spark.read.format("graft.sources.FixedWidth")
        .option("schema", FwSchema).option("partitionBy", "s_nationkey")
        .load(base.toString)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_sup"),
          min(col("s_suppkey")).as("min_key"),
          max(col("s_suppkey")).as("max_key"),
          min(col("s_name")).as("first_name"))
        .orderBy("s_nationkey")
    }),

    // SORTED-FILE SEEK: supplier written sorted on its key with the
    // writer-VERIFIED sortedBy claim; the key-range scan then
    // binary-searches each file's matching record window (~30 field
    // probes instead of a full pass — the fixed-width analogue of
    // Parquet's page index). The oracle replays the range over
    // parquet; the hash match proves the narrowed window loses and
    // duplicates nothing, including both boundary records.
    "q369_fw_sorted_seek" -> ((spark, dir) => {
      val base = Tables.freshFwBase("graft_fw_seek", dir)
      t(spark, dir, "supplier")
        .filter(col("s_suppkey") <= FwFixtureMaxKey)
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
        .repartitionByRange(2, col("s_suppkey"))
        .sortWithinPartitions("s_suppkey")
        .write.format("graft.sources.FixedWidth")
        .option("schema", FwSchema).option("sortedBy", "s_suppkey")
        .mode("overwrite").save(base.toString)
      spark.read.format("graft.sources.FixedWidth")
        .option("schema", FwSchema)
        .load(base.toString)
        .filter(col("s_suppkey") >= 3L && col("s_suppkey") <= 77L)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_sup"),
          min(col("s_suppkey")).as("min_key"),
          max(col("s_suppkey")).as("max_key"))
        .orderBy("s_nationkey")
    }),

    // VACUUM end-to-end: three snapshots (two appends + a compaction)
    // trim to the newest one; the metadata-only history surface then
    // shows EXACTLY the retained snapshot — version 3, one compacted
    // file, every record — and the live per-nation aggregates prove no
    // data was touched. The oracle replays the aggregates and pins the
    // history row's arithmetic (records, bytes at 55 B/record).
    "q370_fw_vacuum" -> ((spark, dir) => {
      val base = Tables.freshFwBase("graft_fw_vac", dir)
      val src = t(spark, dir, "supplier")
        .filter(col("s_suppkey") <= FwFixtureMaxKey)
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      src.filter(col("s_suppkey") % 2 === 0).repartition(2)
        .write.format("graft.sources.FixedWidth")
        .option("schema", FwSchema).mode("overwrite").save(base.toString)
      src.filter(col("s_suppkey") % 2 =!= 0).repartition(2)
        .write.format("graft.sources.FixedWidth")
        .option("schema", FwSchema).mode("append").save(base.toString)
      val opt = graft.sources.FwMaintenance.optimize(spark,
        base.toString, targetBytes = 1L << 20)
      require(opt.committedVersion.contains(3L), opt.toString)
      val vac = graft.sources.FwMaintenance.vacuum(spark,
        base.toString, retainLast = 1)
      require(vac.versionsDropped == 2, vac.toString)
      val hist = spark.read.format("graft.sources.FixedWidth")
        .option("history", "true").option("schema", FwSchema)
        .load(base.toString)
        .select(col("version"), col("n_files"), col("n_records"))
      spark.read.format("graft.sources.FixedWidth")
        .option("schema", FwSchema)
        .load(base.toString)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_sup"),
          min(col("s_suppkey")).as("min_key"),
          max(col("s_suppkey")).as("max_key"))
        .crossJoin(broadcast(hist))
        .orderBy("s_nationkey")
    }),

    // BUCKETED STORAGE-PARTITIONED JOIN: supplier and its %3 subset
    // both hash-bucketed 8 ways on the key and registered as catalog
    // tables (the FunctionCatalog resolves the bucket transform — the
    // Iceberg contract), then joined on the key with ZERO shuffle on
    // either side at ANY key cardinality. The oracle replays the join
    // over parquet; the spec pins the exchange-free plan.
    "q371_fw_bucketed_spj" -> ((spark, dir) => {
      import java.nio.file.{Files, Paths}
      val base1 = Paths.get(System.getProperty("java.io.tmpdir"),
        "graft_fw_bspj1", Paths.get(dir).getFileName.toString)
      val base2 = Paths.get(System.getProperty("java.io.tmpdir"),
        "graft_fw_bspj2", Paths.get(dir).getFileName.toString)
      graft.queries.Analytics110.deepClean(base1)
      graft.queries.Analytics110.deepClean(base2)
      Files.createDirectories(base1)
      Files.createDirectories(base2)
      val src = t(spark, dir, "supplier")
        .filter(col("s_suppkey") <= FwFixtureMaxKey)
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      def writeBucketed(df: org.apache.spark.sql.DataFrame,
          p: java.nio.file.Path): Unit =
        df.repartition(4)
          .write.format("graft.sources.FixedWidth")
          .option("schema", FwSchema)
          .option("bucketBy", "s_suppkey").option("buckets", "8")
          .mode("overwrite").save(p.toString)
      writeBucketed(src, base1)
      writeBucketed(src.filter(col("s_suppkey") % 3 === 0), base2)
      spark.conf.set("spark.sql.catalog.fwcat_bq",
        "graft.sources.FwCatalog")
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.sql("DROP TABLE IF EXISTS fwcat_bq.ns.sup_all")
      spark.sql("DROP TABLE IF EXISTS fwcat_bq.ns.sup_third")
      spark.sql(
        s"""CREATE TABLE fwcat_bq.ns.sup_all
           |  (s_suppkey BIGINT, s_name STRING, s_nationkey INT,
           |   s_acctbal DOUBLE)
           |  OPTIONS (path '$base1', widths '8,18,4,24',
           |           bucketBy 's_suppkey', buckets '8')""".stripMargin)
      spark.sql(
        s"""CREATE TABLE fwcat_bq.ns.sup_third
           |  (s_suppkey BIGINT, s_name STRING, s_nationkey INT,
           |   s_acctbal DOUBLE)
           |  OPTIONS (path '$base2', widths '8,18,4,24',
           |           bucketBy 's_suppkey', buckets '8')""".stripMargin)
      spark.table("fwcat_bq.ns.sup_all").as("a")
        .join(spark.table("fwcat_bq.ns.sup_third").as("b"), "s_suppkey")
        .groupBy(col("a.s_nationkey").as("s_nationkey"))
        .agg(count(lit(1)).as("n_match"),
          min(col("s_suppkey")).as("min_key"),
          max(col("s_suppkey")).as("max_key"))
        .orderBy("s_nationkey")
    }),

    // The catalog plugin end-to-end in PLAIN SQL: CREATE TABLE with the
    // layout in DDL options, INSERT OVERWRITE ... SELECT through the
    // two-phase writer, aggregate back through the pruning scan —
    // oracle-checked against the parquet original.
    "q308_catalog_sql" -> ((spark, dir) => {
      import java.nio.file.{Files, Paths}
      spark.conf.set("spark.sql.catalog.fwcat_q", "graft.sources.FwCatalog")
      val base = Paths.get(System.getProperty("java.io.tmpdir"),
        "graft_fw_cat", Paths.get(dir).getFileName.toString)
      Files.createDirectories(base)
      spark.sql("DROP TABLE IF EXISTS fwcat_q.ns.nation_fw")
      spark.sql(
        s"""CREATE TABLE fwcat_q.ns.nation_fw
           |  (n_nationkey INT, n_name STRING, n_regionkey INT)
           |  OPTIONS (path '$base', widths '4,25,4')""".stripMargin)
      t(spark, dir, "nation").createOrReplaceTempView("nation_src_q308")
      spark.sql(
        """INSERT OVERWRITE fwcat_q.ns.nation_fw
          |SELECT n_nationkey, n_name, n_regionkey FROM nation_src_q308"""
          .stripMargin)
      spark.sql(
        """SELECT n_regionkey, count(*) AS n_nations,
          |  min(n_name) AS first_name, max(n_nationkey) AS max_key
          |FROM fwcat_q.ns.nation_fw
          |GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin)
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "q293_fixedwidth_source" -> """
      SELECT s_suppkey, s_name, s_acctbal
      FROM supplier
      WHERE s_acctbal > 0 AND s_nationkey < 13 AND s_suppkey <= 100000
      ORDER BY s_suppkey""",

    "q300_fw_count_pushdown" ->
      ("SELECT CAST(count(*) AS BIGINT) AS n_rows FROM supplier " +
        "WHERE s_suppkey <= 100000"),

    "q350_fw_minmax_pushdown" -> ("""
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
        min(s_suppkey) AS min_key, max(s_suppkey) AS max_key,
        min(s_nationkey) AS min_nation,
        max(s_acctbal) AS max_bal
      FROM supplier WHERE s_suppkey <= 100000"""),

    "q304_fw_write_roundtrip" -> """
      SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_sup,
        CAST(sum(CAST(round(s_acctbal, 2) AS DECIMAL(18,2)))
          AS DOUBLE) AS sum_bal,
        min(s_suppkey) AS min_key, max(s_suppkey) AS max_key
      FROM supplier
      GROUP BY s_nationkey ORDER BY s_nationkey""",

    "q308_catalog_sql" -> """
      SELECT n_regionkey, CAST(count(*) AS BIGINT) AS n_nations,
        min(n_name) AS first_name, max(n_nationkey) AS max_key
      FROM nation
      GROUP BY n_regionkey ORDER BY n_regionkey""",

    // snapshot replays: version 1 is the even-key half, version 2 the
    // whole (bounded) table
    "q359_fw_time_travel" -> """
      WITH s AS (
        SELECT s_suppkey, s_nationkey FROM supplier
        WHERE s_suppkey <= 100000),
      v AS (
        SELECT 1 AS version, s_nationkey, s_suppkey FROM s
        WHERE s_suppkey % 2 = 0
        UNION ALL
        SELECT 2 AS version, s_nationkey, s_suppkey FROM s)
      SELECT CAST(version AS BIGINT) AS version, s_nationkey,
        CAST(count(*) AS BIGINT) AS n_sup,
        min(s_suppkey) AS min_key, max(s_suppkey) AS max_key
      FROM v GROUP BY 1, 2 ORDER BY version, s_nationkey""",

    "q373_fw_timestamp_travel" -> """
      WITH s AS (
        SELECT s_suppkey, s_nationkey FROM supplier
        WHERE s_suppkey <= 100000),
      v AS (
        SELECT 'at_v1' AS pin, s_nationkey, s_suppkey FROM s
        WHERE s_suppkey % 2 = 0
        UNION ALL
        SELECT 'before_v2', s_nationkey, s_suppkey FROM s
        WHERE s_suppkey % 2 = 0
        UNION ALL
        SELECT 'at_v2', s_nationkey, s_suppkey FROM s)
      SELECT pin, s_nationkey, CAST(count(*) AS BIGINT) AS n_sup,
        min(s_suppkey) AS min_key, max(s_suppkey) AS max_key
      FROM v GROUP BY 1, 2 ORDER BY pin, s_nationkey""",

    "q374_fw_clone" -> """
      SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_sup,
        min(s_suppkey) AS min_key, max(s_suppkey) AS max_key
      FROM supplier WHERE s_suppkey <= 100000
      GROUP BY 1 ORDER BY s_nationkey""",

    "q375_fw_rollback" -> """
      SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_sup,
        min(s_suppkey) AS min_key, max(s_suppkey) AS max_key,
        CAST(2 AS BIGINT) AS n_versions
      FROM supplier WHERE s_suppkey <= 100000
      GROUP BY 1 ORDER BY s_nationkey""",

    // each commit appended 2 files; records replay from the fixture
    // predicate, bytes = records x (8+18+4+24 widths + newline)
    "q361_fw_history" -> """
      WITH s AS (
        SELECT s_suppkey FROM supplier WHERE s_suppkey <= 100000),
      c AS (
        SELECT count(*) AS total,
          sum(CASE WHEN s_suppkey % 2 = 0 THEN 1 ELSE 0 END) AS even
        FROM s)
      SELECT CAST(1 AS BIGINT) AS version, CAST(2 AS BIGINT) AS n_files,
        CAST(even * 55 AS BIGINT) AS n_bytes,
        CAST(even AS BIGINT) AS n_records,
        CAST(2 AS BIGINT) AS n_added_files,
        CAST(0 AS BIGINT) AS n_removed_files,
        CAST(even AS BIGINT) AS n_added_records,
        CAST(0 AS BIGINT) AS n_removed_records,
        'overwrite' AS operation
      FROM c
      UNION ALL
      SELECT CAST(2 AS BIGINT), CAST(4 AS BIGINT),
        CAST(total * 55 AS BIGINT), CAST(total AS BIGINT),
        CAST(2 AS BIGINT), CAST(0 AS BIGINT),
        CAST(total - even AS BIGINT), CAST(0 AS BIGINT), 'append'
      FROM c
      ORDER BY version""",

    // compaction preserves every record (aggregates replay from
    // parquet) and the contracts pin the 8→1 collapse + count equality
    "q362_fw_compaction" -> """
      SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_sup,
        min(s_suppkey) AS min_key, max(s_suppkey) AS max_key,
        TRUE AS files_compacted_ok, TRUE AS records_preserved
      FROM supplier
      WHERE s_suppkey <= 100000
      GROUP BY 1 ORDER BY s_nationkey""",

    // the upsert replayed in SQL: %10==3 keys updated in place,
    // %10==7 keys re-inserted as new nation-99 suppliers
    "q363_fw_merge" -> """
      WITH s AS (
        SELECT s_suppkey, s_nationkey, s_acctbal FROM supplier
        WHERE s_suppkey <= 100000),
      merged AS (
        SELECT s_suppkey, s_nationkey,
          CASE WHEN s_suppkey % 10 = 3 THEN s_acctbal + 1000.0
               ELSE s_acctbal END AS bal
        FROM s
        UNION ALL
        SELECT s_suppkey + 500000, 99, 0.0 FROM s WHERE s_suppkey % 10 = 7)
      SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_sup,
        CAST(sum(CAST(round(bal, 2) AS DECIMAL(18,2))) AS DOUBLE)
          AS sum_bal,
        min(s_suppkey) AS min_key, max(s_suppkey) AS max_key
      FROM merged GROUP BY 1 ORDER BY s_nationkey""",

    // the erasure replayed as an anti-filter
    "q364_fw_delete" -> """
      SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_sup,
        min(s_suppkey) AS min_key, max(s_suppkey) AS max_key
      FROM supplier
      WHERE s_suppkey <= 100000 AND s_suppkey % 10 <> 4
      GROUP BY 1 ORDER BY s_nationkey""",

    "q365_fw_string_minmax" -> ("""
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
        min(s_name) AS min_name, max(s_name) AS max_name,
        min(s_suppkey) AS min_key,
        max(s_acctbal) AS max_bal
      FROM supplier WHERE s_suppkey <= 100000"""),

    // the seek window replayed over parquet
    "q369_fw_sorted_seek" -> """
      SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_sup,
        min(s_suppkey) AS min_key, max(s_suppkey) AS max_key
      FROM supplier
      WHERE s_suppkey BETWEEN 3 AND 77
      GROUP BY 1 ORDER BY s_nationkey""",

    // post-vacuum live aggregates + the single retained history row
    "q370_fw_vacuum" -> """
      WITH s AS (
        SELECT s_suppkey, s_nationkey FROM supplier
        WHERE s_suppkey <= 100000),
      h AS (
        SELECT CAST(3 AS BIGINT) AS version, CAST(1 AS BIGINT) AS n_files,
          CAST(count(*) AS BIGINT) AS n_records
        FROM s)
      SELECT g.s_nationkey, g.n_sup, g.min_key, g.max_key,
        h.version, h.n_files, h.n_records
      FROM (
        SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_sup,
          min(s_suppkey) AS min_key, max(s_suppkey) AS max_key
        FROM s GROUP BY 1) g, h
      ORDER BY g.s_nationkey""",

    // the bucketed join replayed over parquet (a JOIN b = the %3 rows)
    "q371_fw_bucketed_spj" -> """
      SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_match,
        min(s_suppkey) AS min_key, max(s_suppkey) AS max_key
      FROM supplier
      WHERE s_suppkey <= 100000 AND s_suppkey % 3 = 0
      GROUP BY 1 ORDER BY s_nationkey""",

    // the grouped per-nation profile replayed over parquet
    "q368_fw_grouped_meta" -> """
      SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_sup,
        min(s_suppkey) AS min_key, max(s_suppkey) AS max_key,
        min(s_name) AS first_name
      FROM supplier
      WHERE s_suppkey <= 100000
      GROUP BY 1 ORDER BY s_nationkey""",

    // the nation predicate replayed over parquet
    "q366_fw_partition_prune" -> """
      SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_sup,
        min(s_suppkey) AS min_key, max(s_suppkey) AS max_key,
        min(s_name) AS first_name
      FROM supplier
      WHERE s_suppkey <= 100000 AND s_nationkey < 5
      GROUP BY 1 ORDER BY s_nationkey""",

    // both per-nation aggregates replayed and joined over parquet
    "q367_fw_spj" -> """
      WITH s AS (
        SELECT s_suppkey, s_nationkey FROM supplier
        WHERE s_suppkey <= 100000),
      a AS (
        SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_all,
          max(s_suppkey) AS max_all
        FROM s GROUP BY 1),
      b AS (
        SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_third,
          max(s_suppkey) AS max_third
        FROM s WHERE s_suppkey % 3 = 0 GROUP BY 1)
      SELECT a.s_nationkey, a.n_all, a.max_all, b.n_third, b.max_third
      FROM a JOIN b ON a.s_nationkey = b.s_nationkey
      ORDER BY a.s_nationkey""",

    // the v1→v2 delta is exactly the odd-key half
    "q360_fw_incremental" -> """
      SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_new,
        min(s_suppkey) AS min_key, max(s_suppkey) AS max_key
      FROM supplier
      WHERE s_suppkey <= 100000 AND s_suppkey % 2 <> 0
      GROUP BY 1 ORDER BY s_nationkey""",
  )
}
