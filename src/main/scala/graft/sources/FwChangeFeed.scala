package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

/** Row-grain CHANGE DATA FEED between two snapshot versions (the Delta
  * `_change_type` surface, derived instead of logged): emits each row
  * that exists in `toVersion` but not `fromVersion` tagged `insert`,
  * and each row gone from `fromVersion` tagged `delete`. An UPDATE
  * under copy-on-write is, by construction, one `delete` (pre-image)
  * plus one `insert` (post-image).
  *
  * How it stays cheap at 100 TB: the batch writer never mutates a
  * published file, so only files in exactly ONE of the two snapshots
  * can contribute changes. Both legs read through the existing
  * snapshot machinery — `versionAsOf=to, changesFromVersion=from`
  * lists to-only files, and the mirrored pin lists from-only files —
  * so the scan never touches the (overwhelmingly common) files both
  * versions share; rows a COW rewrite copied verbatim appear in both
  * legs and cancel in the multiset difference. The invariant
  * `from ⊎ inserts ∖ deletes = to` holds exactly.
  *
  * Merge-on-read deletes are the one change that mutates no file: a
  * deletion-vector entry with `from < since ≤ to` voids rows inside a
  * SHARED file. When any such entry exists the file-diff shortcut is
  * invalid, and this falls back to the always-correct full-snapshot
  * multiset diff (still two pinned scans and one shuffle; the
  * detection itself is a few sidecar JSON reads).
  */
object FwChangeFeed {

  def changesBetween(spark: SparkSession, path: String, spec: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion < toVersion,
      s"changesBetween needs fromVersion < toVersion, " +
        s"got $fromVersion..$toVersion")
    def read(pin: Long, minus: Option[Long]): DataFrame = {
      val r = spark.read.format("graft.sources.FixedWidth")
        .option("schema", spec).option("versionAsOf", pin)
      minus.fold(r)(m => r.option("changesFromVersion", m)).load(path)
    }
    val fromFiles = FwVersions.resolve(path, fromVersion).map(_._1).toSet
    val toFiles = FwVersions.resolve(path, toVersion).map(_._1).toSet
    val shared = fromFiles intersect toFiles
    val dvDelta = shared.exists { name =>
      FwDv.read(new java.io.File(path, name).getPath)
        .exists(e => e._1 > fromVersion && e._1 <= toVersion)
    }
    val (addedRows, removedRows) =
      if (dvDelta)
        (read(toVersion, None), read(fromVersion, None))
      else
        (read(toVersion, Some(fromVersion)),
          read(fromVersion, Some(toVersion)))
    addedRows.exceptAll(removedRows)
      .withColumn("_change_type", lit("insert"))
      .unionAll(removedRows.exceptAll(addedRows)
        .withColumn("_change_type", lit("delete")))
  }
}

/** MATERIALIZED per-commit change data (the Delta `_change_data`
  * discipline): a copy-on-write commit's exact row-grain delta, written
  * once as plain fixed-width files under `<table>/_fw_changes/` —
  * `v<version>-delete.fw` (pre-images) and `v<version>-insert.fw`
  * (post-images) — so the streaming change feed can plan a COW commit
  * as static file reads instead of refusing.
  *
  * The delta is [[FwChangeFeed.changesBetween]](v-1, v): because COW
  * inputs retire into RETAINED history, both snapshots stay readable,
  * and the diff touches only the files in exactly one of the two
  * snapshots — at 100 TB an UPDATE that rewrote 1 GB diffs 2 GB, never
  * the table. A compaction/cluster commit diffs to ZERO rows, so the
  * stream rides over it silently instead of breaking.
  *
  * Written eagerly after a row-level COW commit (best-effort), and
  * lazily by the first CDF reader that needs a version (idempotent: a
  * `v<version>._done` marker commits the pair atomically last). If the
  * pre-image files were vacuumed before anyone materialized, the read
  * refuses exactly like before.
  */
object FwChangeData {
  private def dirFor(path: String) = new java.io.File(path, "_fw_changes")
  private def marker(path: String, v: Long) =
    new java.io.File(dirFor(path), s"v$v._done")

  /** All published change-data files for (version, change-type), in
    * deterministic name order. A commit's delta is written as MULTIPLE
    * part files under `v<N>-<ct>.d/` — one per write task, so a large
    * UPDATE's change rows fan out across tasks on BOTH the write and
    * the downstream CDF read instead of funnelling through one task.
    * A single `v<N>-<ct>.fw` written by the earlier one-file layout is
    * still honored (and preferred, so a later torn multi-part attempt
    * can never shadow already-published data).
    */
  def changeFiles(path: String, v: Long, ct: String): Seq[java.io.File] = {
    val legacy = new java.io.File(dirFor(path), s"v$v-$ct.fw")
    if (legacy.isFile) Seq(legacy)
    else {
      val d = new java.io.File(dirFor(path), s"v$v-$ct.d")
      if (!d.isDirectory) Seq.empty
      else d.listFiles().filter(_.getName.endsWith(".fw"))
        .sortBy(_.getName).toSeq
    }
  }

  def exists(path: String, v: Long): Boolean = marker(path, v).isFile

  private def specFile(path: String, v: Long) =
    new java.io.File(dirFor(path), s"v$v.spec")

  /** The layout version `v`'s change data was materialized at — the
    * table head of THAT moment. A later metadata-only ADD COLUMN
    * widens the head, and the CDF reader uses this recorded spec to
    * parse the stored rows at their true prefix layout (NULL-backfill
    * for the columns added since). None for pre-sidecar data, which
    * by construction predates evolution support and reads at head.
    */
  def spec(path: String, v: Long): Option[String] = {
    val f = specFile(path, v)
    if (!f.isFile) None
    else Some(new String(java.nio.file.Files.readAllBytes(f.toPath),
      java.nio.charset.StandardCharsets.UTF_8).trim)
  }

  /** Remove change data for versions a vacuum trimmed away. */
  private[sources] def dropBelow(path: String, minRetained: Long): Unit = {
    val d = dirFor(path)
    if (!d.isDirectory) return
    val name = "v(\\d+)[.-].*".r
    d.listFiles().foreach { f =>
      f.getName match {
        case name(v) if v.toLong < minRetained => FwFiles.deleteTree(f)
        case _ => ()
      }
    }
  }

  /** Remove change data for versions a ROLLBACK trimmed away. Without
    * this, a newly committed COW version that REUSES a rolled-back
    * version number would hit [[exists]]'s short-circuit and silently
    * serve the OLD commit's change rows to batch and streaming
    * readChangeFeed. Mirrors [[dropBelow]]; called inside the rollback
    * lock before the manifest rewrite, so no commit can land a reused
    * version while stale change data survives.
    */
  private[sources] def dropAbove(path: String, maxRetained: Long): Unit = {
    val d = dirFor(path)
    if (!d.isDirectory) return
    val name = "v(\\d+)[.-].*".r
    d.listFiles().foreach { f =>
      f.getName match {
        case name(v) if v.toLong > maxRetained => FwFiles.deleteTree(f)
        case _ => ()
      }
    }
  }

  /** Compute and publish version `v`'s change files. Idempotent;
    * throws if the diff's inputs are no longer readable (vacuumed
    * pre-images) — callers surface that as the stream refusal.
    */
  def materialize(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType, v: Long): Unit = {
    if (exists(path, v)) return
    require(v >= 2, s"version $v has no predecessor to diff against")
    val spec = FixedWidth.specOf(schema)
    val d = dirFor(path)
    d.mkdirs()
    val delta = FwChangeFeed
      .changesBetween(spark, path, spec, v - 1, v)
      .persist()
    try {
      // EXPENSIVE phase, lock-free: compute the delta and write each
      // change-type's part files into a uniquely-named tmp dir. Parts
      // land as the write tasks produced them — NO coalesce(1): a
      // 100 TB UPDATE's delta is terabytes, and one task writing
      // (then every reader re-reading) a single file is the
      // bottleneck. The reader plans one partition per part.
      val tmpDirs = Seq("delete", "insert").map { ct =>
        val tmpDir = new java.io.File(d, s"v$v-$ct-" +
          java.util.UUID.randomUUID().toString.take(8) + ".tmp")
        delta.filter(org.apache.spark.sql.functions
            .col("_change_type") === ct)
          .drop("_change_type")
          .write.format("graft.sources.FixedWidth")
          .option("schema", spec).mode("overwrite")
          .save(tmpDir.getAbsolutePath)
        // keep only data parts — the sink's manifest/sidecar files
        // describe a standalone table, not a change-data fragment
        tmpDir.listFiles().foreach { p =>
          if (!p.getName.endsWith(".fw")) FwFiles.deleteTree(p)
        }
        ct -> tmpDir
      }
      // CHEAP publication phase, under the COMMIT LOCK — the same lock
      // every mutator of `_fw_changes/` holds (vacuum's dropBelow,
      // rollback's dropAbove, concurrent materializers):
      //  - a concurrent materializer already won → discard ours
      //    (identical content, and never mutate marker-published dirs);
      //  - version v vanished (ROLLED BACK mid-compute) → abort: a
      //    later commit reusing the number must not inherit stale rows;
      //  - otherwise sweep any UNMARKED torn leftovers (theirs or an
      //    older build's single-file layout), move the fresh dirs in,
      //    record the layout spec, and publish the marker LAST.
      // Readers gate on the marker and nothing mutates marked state,
      // so they can never observe a half-published version.
      FwVersions.withLock(path) {
        if (exists(path, v)) {
          tmpDirs.foreach { case (_, t) => FwFiles.deleteTree(t) }
        } else {
          require(FwVersions.read(path).exists(_.v == v),
            s"version $v disappeared (rolled back?) while its change " +
              "data materialized; not publishing")
          tmpDirs.foreach { case (ct, tmpDir) =>
            new java.io.File(d, s"v$v-$ct.fw").delete()
            val target = new java.io.File(d, s"v$v-$ct.d")
            FwFiles.deleteTree(target)
            java.nio.file.Files.move(tmpDir.toPath, target.toPath)
          }
          java.nio.file.Files.write(specFile(path, v).toPath,
            spec.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          marker(path, v).createNewFile()
        }
      }
    } finally delta.unpersist(false)
  }
}
