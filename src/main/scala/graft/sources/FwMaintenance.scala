package graft.sources

import org.apache.spark.sql.SparkSession

/** Table-maintenance operations for the fixed-width source. The first
  * is OPTIMIZE-style small-file compaction (the Delta/Iceberg
  * bin-packing idea): many small published `.fw` files are rewritten
  * into few near-`targetBytes` files and the result is committed as a
  * new snapshot version, so the 100 TB failure mode this exists for —
  * a streaming or fine-grained batch producer leaving millions of
  * KB-sized files whose per-file open/seek overhead dwarfs the record
  * IO — is repaired without touching record semantics.
  *
  * Why this is cheap here and at scale: fixed-width records mean ANY
  * byte-level concatenation of whole files is itself a valid file
  * (every file is record-aligned by construction), so compaction is
  * pure streaming byte IO — zero decode, zero re-encode, zero shuffle.
  * Each bin-packed group is one independent task; the job's wall clock
  * is the largest group's byte count at disk bandwidth.
  *
  * Zone-map sidecars survive compaction: a group whose inputs ALL have
  * live sidecars gets the envelope union (exact Long mins/maxes for
  * integral columns, widened finite bounds + OR'd hasNaN for doubles),
  * so post-compaction scans keep pruning. Any statless input poisons
  * only its own group's sidecar (stats are an optimization, never a
  * correctness dependency — `FwStats` reads absence as "never prune").
  *
  * Transactionality is the filesystem's, same as every other writer
  * here: new files ride the tmp→rename publish protocol, inputs are
  * deleted only after every group is published, and the snapshot
  * manifest commits last. CONCURRENT WRITERS are handled with
  * optimistic concurrency (the Delta protocol shape): each
  * read-compute-replace op records the manifest version it planned
  * against, does its expensive work lock-free, then re-checks the
  * version inside the table's commit lock (`FwVersions.withLock`)
  * before publishing — a version committed in between makes the op
  * sweep its tmp outputs and raise ConcurrentModificationException
  * instead of silently losing the other writer's commit. Concurrent
  * LIVE readers of the same table remain the caller's to schedule
  * (versioned readers pinned at pre-compaction snapshots fail loudly
  * once the inputs are deleted — the documented manifest contract for
  * vacuumed files). On a real cluster the remaining hardening step is
  * an intent log so a crash between publish and delete is replayable.
  */
object FwMaintenance {

  /** Commit wall-clock per manifest version (epoch millis; -1 for
    * versions from pre-timestamp manifests) — the public handle a
    * caller needs to pick a `timestampAsOf` pin.
    */
  def commitTimestamps(path: String): Map[Long, Long] =
    FwVersions.read(path).map(r => r.v -> r.ts).toMap

  /** What a compaction run did. `committedVersion` is None when the
    * run was a no-op (nothing worth compacting — no manifest version
    * is burned).
    */
  final case class CompactionReport(
      committedVersion: Option[Long],
      filesBefore: Int,
      filesAfter: Int,
      groups: Int,
      bytesRewritten: Long)

  private final case class GroupPlan(inputs: Vector[(String, Long)],
      index: Int, sv: Int = -1)
  private final case class GroupResult(tmpData: String, sv: Int = -1)

  /** Bin-pack every published `.fw` file smaller than `targetBytes`
    * into groups of combined size ≤ `targetBytes` (greedy, name
    * order — the listing order reads use), rewrite each group as one
    * file, and commit the post-compaction file set as the next
    * snapshot version. Files already ≥ `targetBytes`, and leftover
    * singleton groups (nothing to gain), are untouched.
    */
  def optimize(spark: SparkSession, path: String,
      targetBytes: Long): CompactionReport = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    FwVersions.requireCommitSlot(path, None)
    // schema evolution: same-layout files concatenate safely, so groups
    // simply never cross a schema version; non-head outputs get their
    // layout stamped into the schema log at publish
    val schemaLog0 = FwSchemaLog.read(path)
    def svOf(name: String): Int =
      schemaLog0.map(_.svOf(name)).getOrElse(-1)
    // optimistic concurrency: remember the version this plan reads
    // BEFORE listing files — the publish phase re-checks it under the
    // commit lock and aborts (sweeping its outputs) if another writer
    // committed in between. Partitioned layouts do not version; their
    // compaction keeps the documented single-writer window.
    val planVersion =
      if (partitionDirs(path).isEmpty) Some(FwVersions.currentMax(path))
      else None
    // partitioned layouts compact too — per PARTITION: a group never
    // crosses a `<col>=<value>` directory (the dir name carries the
    // value, so cross-dir concatenation would rewrite history). The
    // hive layout is exactly where the small-files problem lives.
    val flat = FwFiles.list(path)
    val partitioned = partitionDirs(path)
      .flatMap(d => d.listFiles()
        .filter(f => f.isFile && f.getName.endsWith(".fw"))
        .sortBy(_.getName))
    val files = flat ++ partitioned
    val smalls = files.filter(_.length() < targetBytes)

    val groups = Vector.newBuilder[GroupPlan]
    var cur = Vector.empty[(String, Long)]
    var curParent: String = null
    var curSv = -1
    var curBytes = 0L
    var gi = 0
    def close(): Unit = {
      if (cur.size >= 2) { groups += GroupPlan(cur, gi, curSv); gi += 1 }
      cur = Vector.empty; curBytes = 0L
    }
    smalls.foreach { f =>
      val len = f.length()
      val parent = f.getParentFile.getPath
      val sv = svOf(f.getName)
      if (cur.nonEmpty && (curBytes + len > targetBytes
        || parent != curParent || sv != curSv)) close()
      curParent = parent
      curSv = sv
      cur :+= ((f.getPath, len)); curBytes += len
    }
    close()
    val planned = groups.result()
    if (planned.isEmpty)
      return CompactionReport(None, files.length, files.length, 0, 0L)

    // one executor task per group; each streams its inputs into one
    // tmp file and merges the input sidecars — no record ever decodes
    val results = spark.sparkContext
      .parallelize(planned, planned.size)
      .map(g => compactGroup(path, g))
      .collect()

    // publish phase, then input removal, then the snapshot — the same
    // ordering discipline as FwBatchWrite.commit — all inside the
    // commit lock, after the optimistic version re-check: a conflict
    // aborts BEFORE anything destructive, sweeping this run's tmps
    val version = FwVersions.withLock(path) {
      planVersion.foreach { v =>
        try FwVersions.requireVersion(path, v, "compaction")
        catch { case e: java.util.ConcurrentModificationException =>
          results.foreach(r => FwPublish.sweep(r.tmpData)); throw e
        }
      }
      // a compacted pre-evolution group's output IS that layout: stamp
      // it BEFORE the rename publishes the file (readers do not take
      // the commit lock — an unstamped listing would parse it as head)
      schemaLog0.foreach { log0 =>
        val stamps = results.collect {
          case r if r.sv > 0 && r.sv != log0.head =>
            new java.io.File(r.tmpData.stripSuffix(".tmp")).getName -> r.sv
        }
        if (stamps.nonEmpty) {
          val cur = FwSchemaLog.read(path).get
          FwSchemaLog.write(path, cur.copy(fileSv = cur.fileSv ++ stamps))
        }
      }
      results.foreach(r => FwPublish.publish(r.tmpData))
      if (partitioned.isEmpty) {
        // flat tables RETAIN their compacted inputs (and the input
        // sidecars/DVs) for older pins and the change feed — vacuum
        // sweeps them once their versions drop; they leave the live
        // set via the snapshot's exclusion list
        val replaced =
          retireInputs(path, planned.flatMap(_.inputs.map(_._1)))
        Some(FwVersions.commitSnapshotLocked(path, replaced, op = "optimize"))
      } else {
        // partitioned layouts do not version: no manifest can retire
        // an input from the live listing, so inputs delete eagerly
        planned.foreach(_.inputs.foreach { case (p, _) =>
          require(FwPublish.remove(new java.io.File(p)),
            s"could not remove input $p")
        })
        None
      }
    }

    val compacted = planned.map(_.inputs.size).sum
    CompactionReport(
      committedVersion = version,
      filesBefore = files.length,
      filesAfter = files.length - compacted + planned.size,
      groups = planned.size,
      bytesRewritten = planned.map(_.inputs.map(_._2).sum).sum)
  }

  /** What a clustered rewrite did. */
  final case class ZorderReport(
      committedVersion: Option[Long],
      filesBefore: Int,
      filesAfter: Int,
      bytesRewritten: Long)

  /** `OPTIMIZE … ZORDER BY (cols)` — the Delta/Iceberg CLUSTERED
    * compaction: rewrite the table's live rows ordered along a
    * space-filling curve over `cols` into ~`targetBytes` files, and
    * commit the result as ONE copy-on-write snapshot version. Unlike
    * bin-packing [[optimize]] (pure byte concatenation, preserves row
    * placement), this decodes and globally re-orders, so per-file
    * min/max envelopes become tight on EVERY clustered column and a
    * predicate on any one of them prunes files — the q355 secondary-
    * column contract, applied to a real table in place.
    *
    * Each column quantizes to a 16-bit rank by min-max scaling (one
    * metadata-cheap agg pass; NULLs rank lowest), then the key is the
    * Morton interleave (1–3 columns) or the Hilbert distance
    * (2 columns, strictly better locality), both codegen'd. The
    * rewrite itself is `repartitionByRange` on the key (Spark samples
    * the boundaries) + an in-partition sort — one shuffle of exactly
    * the live bytes, every task writing its own output file with its
    * zone-map sidecar; at 100 TB the wall clock is the shuffle, not a
    * driver loop.
    *
    * Commit discipline matches [[optimize]]: optimistic concurrency
    * (plan version re-checked under the commit lock; a racing commit
    * aborts this run, sweeping its outputs), inputs retire into
    * retained history for older pins, and the change feed sees the
    * commit diff to ZERO rows (the rows are identical; only placement
    * moved — deletion vectors materialize, identical to compaction).
    * A side effect of the full rewrite: every output is head-layout,
    * so a schema-evolved table comes out uniform.
    */
  def optimizeZorder(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType, cols: Seq[String],
      targetBytes: Long, curve: String = "morton"): ZorderReport = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{DateType, NumericType}
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    require(cols.nonEmpty && cols.size <= 3,
      s"ZORDER BY takes 1-3 columns, got ${cols.size}")
    require(curve == "morton" || curve == "hilbert",
      s"curve must be morton or hilbert, got '$curve'")
    require(curve != "hilbert" || cols.size == 2,
      "the hilbert curve is 2-D; use morton for 1 or 3 columns")
    requireFlat(path, "optimize zorder")
    // column mapping: callers pass the LOGICAL schema; the rewrite's
    // OUTPUT must be the physicalized layout (dropped fields written
    // NULL) so the published files slice correctly in the table
    val mapLog = FwSchemaLog.read(path).filter(_.hasMapping)
    mapLog.foreach(l => require(FwSchemaLog.structEq(schema, l.logicalHead),
      s"FixedWidth optimize zorder at $path: declare the table's " +
        s"current schema '${FixedWidth.specOf(l.logicalHead)}'"))
    val outLayout = mapLog.map(_.physicalized).getOrElse(schema)
    cols.foreach { c =>
      val f = schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"ZORDER BY column $c is not in the table schema"))
      require(f.dataType.isInstanceOf[NumericType] ||
        f.dataType == DateType ||
        f.dataType == org.apache.spark.sql.types.StringType,
        s"ZORDER BY supports numeric, date and string columns; " +
          s"$c is ${f.dataType.simpleString}")
    }
    FwVersions.requireCommitSlot(path, None)
    val planVersion = FwVersions.currentMax(path)
    val live = FwFiles.list(path)
    if (live.isEmpty) return ZorderReport(None, 0, 0, 0L)
    val liveBytes = live.map(_.length()).sum
    val spec = FixedWidth.specOf(schema)
    val reader = spark.read.format("graft.sources.FixedWidth")
      .option("schema", spec)
    // pin the read at the planned snapshot: a concurrent commit makes
    // the publish-phase version re-check abort instead of clustering
    // a half-seen live set
    val df = (if (planVersion >= 1)
      reader.option("versionAsOf", planVersion.toString) else reader)
      .load(path)
    def asD(c: String) = schema(schema.fieldIndex(c)).dataType match {
      case DateType => unix_date(col(c)).cast("double")
      // strings quantize on their first-6-byte left-aligned rank (48
      // bits, exact in a double): prefix-close strings land in the
      // same cell; pruning correctness stays with the per-file string
      // zone maps (q365's truncate-and-increment bounds), not the rank
      case org.apache.spark.sql.types.StringType =>
        graft.functions.ZOrder.stringRank48(col(c)).cast("double")
      case _ => col(c).cast("double")
    }
    val aggs = cols.flatMap(c =>
      Seq(min(asD(c)).as(s"mn_$c"), max(asD(c)).as(s"mx_$c")))
    val mm = df.agg(aggs.head, aggs.tail: _*).head()
    // string keys quantize by RANK QUANTILE, not min-max scaling: the
    // 6-byte rank is byte-weighted (one high-byte step dwarfs every
    // lower byte), so a linear scale collapses most keys into a sliver
    // of the cell range and the curve stops separating them. One
    // approxQuantile pass per string column yields 255 equal-frequency
    // cut points (the Delta range-partition-id device); the cell is
    // then "boundaries at or below my rank", a codegen'd
    // higher-order-function count — no UDF, no shuffle.
    val strQuantiles: Map[String, Array[Double]] = cols.filter(c =>
      schema(schema.fieldIndex(c)).dataType ==
        org.apache.spark.sql.types.StringType).map { c =>
      val cuts = df.select(asD(c).as("__fw_rank")).na.drop()
        .stat.approxQuantile("__fw_rank",
          (1 to 255).map(_ / 256.0).toArray, 0.001)
      c -> cuts.distinct.sorted
    }.toMap
    // Rank each string key ONCE in an explicit projected column, and
    // find "boundaries at or below my rank" by a nested-CaseWhen BINARY
    // SEARCH over the literal cut points (depth log2(256) = 8 branches
    // per row). Two prior formulations were measured and rejected on
    // this table shape (150k rows, q398): size(filter(array(cuts), ...))
    // runs the interpreted HOF path (ArrayFilter is CodegenFallback) 255
    // elements per row — 2 stages x ~21s of task time; a flat when-sum
    // whole-stage-codegens but still evaluates all 255 branches per row
    // — ~1.8s per pass. The binary search evaluates 8 and costs ~0.26s
    // per pass. Both passes (range sampling + shuffle map) pay it.
    val dfR = strQuantiles.keys.foldLeft(df) { (d, c) =>
      d.withColumn(s"_fw_zrank_$c", asD(c))
    }
    val scaled: Seq[org.apache.spark.sql.Column] =
      cols.zipWithIndex.map { case (c, i) =>
        strQuantiles.get(c) match {
          case Some(cuts) if cuts.nonEmpty =>
            val r = coalesce(col(s"_fw_zrank_$c"), lit(cuts.head - 1.0))
            // returns |{j : cuts(j) <= r}| — identical to the linear
            // count, in ceil(log2(n+1)) comparisons
            def cntLe(lo: Int, hi: Int): org.apache.spark.sql.Column =
              if (lo == hi) lit(lo.toLong)
              else {
                val mid = (lo + hi + 1) / 2
                when(lit(cuts(mid - 1)) <= r, cntLe(mid, hi))
                  .otherwise(cntLe(lo, mid - 1))
              }
            val cnt = cntLe(0, cuts.length)
            (cnt * lit(65535L / (cuts.length + 1))).cast("long")
          case Some(_) => lit(0L) // all-null string column
          case None =>
            if (mm.isNullAt(2 * i)) lit(0L)
            else {
              val mn = mm.getDouble(2 * i)
              val mx = mm.getDouble(2 * i + 1)
              if (mx <= mn) lit(0L)
              else least(floor((coalesce(asD(c), lit(mn)) - lit(mn))
                / lit(mx - mn) * 65535.0), lit(65535.0)).cast("long")
            }
        }
      }
    val zkey = (curve, scaled) match {
      case (_, Seq(a)) => a
      case ("hilbert", Seq(a, b)) => graft.functions.ZOrder.hilbert2(a, b, 16)
      case ("morton", Seq(a, b)) => graft.functions.ZOrder.z2(a, b)
      case (_, Seq(a, b, c3)) => graft.functions.ZOrder.z3(a, b, c3)
    }
    val nFiles = math.max(1L, (liveBytes + targetBytes - 1) / targetBytes)
      .min(1 << 20).toInt
    val uid = java.util.UUID.randomUUID().toString.take(8)
    val tmpDir = new java.io.File(path, s"_fw_zorder_$uid")
    var filesAfter = 0
    try {
      val sorted = dfR.withColumn("_fw_zkey", zkey)
        .repartitionByRange(nFiles, col("_fw_zkey"))
        .sortWithinPartitions("_fw_zkey")
        .drop("_fw_zkey" +:
          strQuantiles.keys.map(c => s"_fw_zrank_$c").toSeq: _*)
      // mapped tables: pad the logical rows out to the physical layout
      val logicalNames = schema.fieldNames.toSet
      val out =
        if (mapLog.isEmpty) sorted
        else sorted.select(outLayout.fields.map(f =>
          if (logicalNames.contains(f.name)) col(f.name)
          else lit(null).cast(f.dataType).as(f.name)).toSeq: _*)
      out.write.format("graft.sources.FixedWidth")
        .option("schema", FixedWidth.specOf(outLayout)).mode("overwrite")
        .save(tmpDir.getAbsolutePath)
      val dir = new java.io.File(path)
      val version = FwVersions.withLock(path) {
        FwVersions.requireVersion(path, planVersion, "optimize zorder")
        val parts = tmpDir.listFiles()
          .filter(_.getName.endsWith(".fw")).sortBy(_.getName)
        parts.zipWithIndex.foreach { case (f, i) =>
          FwPublish.publish(f,
            new java.io.File(dir, f"zorder-$i%05d-$uid.fw"))
        }
        filesAfter = parts.length
        val replaced = retireInputs(path, live.map(_.getPath).toSeq)
        FwVersions.commitSnapshotLocked(path, replaced, op = "optimize-zorder")
      }
      ZorderReport(Some(version), live.length, filesAfter, liveBytes)
    } finally FwFiles.deleteTree(tmpDir)
  }

  /** Runs on an executor: concatenate the group's inputs (exactly the
    * byte lengths recorded at planning — a producer growing a file in
    * place mid-run cannot tear the output off its record boundary)
    * into one tmp file, and merge the input sidecars when every input
    * has one.
    */
  private def compactGroup(dir: String, g: GroupPlan): GroupResult = {
    val name = f"compact-${g.index}%05d-" +
      java.util.UUID.randomUUID().toString.take(8) + ".fw"
    // output lives where its inputs live (the partition subdir for a
    // partitioned group; groups never span directories)
    val outDir = new java.io.File(g.inputs.head._1).getParentFile
    val tmp = new java.io.File(outDir, name + ".tmp")
    val out = new java.io.FileOutputStream(tmp)
    // deletion vectors MATERIALIZE here: a DV'd input copies record by
    // record, dropping the voided ordinals (the DV's own rowLen locates
    // them — compaction needs no schema); clean inputs keep the
    // zero-decode channel path
    val dvs: Vector[Array[Long]] =
      g.inputs.map { case (p, _) => FwDv.ordinalsAsOf(p, None) }
    val anyDv = dvs.exists(_.nonEmpty)
    try {
      val outCh = out.getChannel
      g.inputs.zip(dvs).foreach { case ((p, len), dv) =>
        if (dv.isEmpty) {
          val in = new java.io.FileInputStream(p)
          try {
            val ch = in.getChannel
            var pos = 0L
            while (pos < len) {
              val n = ch.transferTo(pos, len - pos, outCh)
              require(n > 0, s"unexpected EOF copying $p at byte $pos")
              pos += n
            }
          } finally in.close()
        } else {
          val rowLen = FwDv.readRowLen(p).getOrElse(
            throw new IllegalStateException(
              s"$p has a deletion vector without a rowLen")).toInt
          val in = new java.io.BufferedInputStream(
            new java.io.FileInputStream(p))
          try {
            val buf = new Array[Byte](rowLen)
            var records = len / rowLen
            var ordinal = 0L
            var dvIdx = 0
            while (records > 0) {
              records -= 1
              var got = 0
              while (got < rowLen) {
                val n = in.read(buf, got, rowLen - got)
                require(n > 0, s"unexpected EOF in $p")
                got += n
              }
              if (dvIdx < dv.length && dv(dvIdx) == ordinal) dvIdx += 1
              else out.write(buf)
              ordinal += 1
            }
          } finally in.close()
        }
      }
    } finally out.close()

    // inputs may carry sidecars written at different mapping epochs
    // (pre-rename names vs post-rename): re-key every one to CURRENT
    // logical names through _phys before merging, so the merged
    // envelope never unions two different physical columns that
    // happened to share a name across epochs. A legacy sidecar on a
    // mapped table reads as None and poisons the group statless —
    // conservative, never wrong.
    val mapLog = FwSchemaLog.read(dir)
    // a PRE-REORG-era input (live again only after rollback/restore
    // across a reorg) carries sidecar names and _phys indices from a
    // retired era's layout: treat it as statless — the group's merged
    // sidecar must never union two eras' envelopes under one name
    def eraSafe(f: java.io.File): Boolean =
      !mapLog.exists(_.fileTranslation(f.getName).isDefined)
    val stats = g.inputs.map { case (p, len) =>
      val f = new java.io.File(p)
      if (eraSafe(f)) FwStats.readMapped(f, len, mapLog) else None
    }
    val merged: Option[Map[String, FwColStats]] =
      if (stats.exists(_.isEmpty)) None // a statless input: unknown rows
      // a DV'd input's envelope may be wider than its LIVE rows: the
      // output gets no sidecar (absence = never prune, never answer —
      // the statless-input poison discipline)
      else if (anyDv) None
      else Some(mergeStats(stats.flatten))
    // sort certificates survive when provable: every input certified on
    // the SAME column and the per-file envelopes are ordered across the
    // concatenation boundaries — then the byte-concat is itself sorted
    // and seek narrowing keeps working on the compacted file
    val sortedBy: Option[String] = merged.flatMap { _ =>
      val certs = g.inputs.map { case (p, len) =>
        val f = new java.io.File(p)
        if (eraSafe(f)) FwStats.sortedColMapped(f, len, mapLog)
        else None
      }
      certs.head.filter(c => certs.forall(_.contains(c))).filter { c =>
        val envs = stats.flatten.map(_.get(c))
        envs.forall(_.isDefined) &&
          envs.flatten.sliding(2).forall {
            case Seq(a, b) => boundaryOrdered(a, b)
            case _ => true
          }
      }
    }
    merged.foreach { m =>
      // merged stats carry CURRENT logical names; their physical slots
      // come from the physicalized head (logical name -> its slot)
      FwStats.write(FwPublish.stagedSidecar(tmp.getPath),
        m, tmp.length(), sortedBy,
        mapLog.map(_.physicalized.fieldNames.zipWithIndex.toMap).orNull)
    }
    GroupResult(tmp.getPath, g.sv)
  }

  /** prev file's max ≤ next file's min, in the stats' own domain.
    * Inexact string bounds still prove ordering: prev's hi is a valid
    * UPPER bound and next's lo a valid LOWER bound, so hi ≤ lo implies
    * every value of prev ≤ every value of next.
    */
  private def boundaryOrdered(prev: FwColStats, next: FwColStats): Boolean =
    (prev, next) match {
      case (FwIntStats(_, hi), FwIntStats(lo, _)) => hi <= lo
      case (FwDblStats(_, Some(hi), false), FwDblStats(Some(lo), _, false)) =>
        hi <= lo
      case (FwStrStats(_, hi, _), FwStrStats(lo, _, _)) =>
        hi.compareTo(lo) <= 0
      case _ => false // NaN, unbounded, or mixed shapes: no certificate
    }

  /** What a merge run did. Files whose key envelope excluded every
    * update key were never opened — that count is the zone-map win the
    * copy-on-write design exists for.
    */
  final case class MergeReport(
      version: Long,
      filesRewritten: Int,
      filesUntouched: Int,
      rowsUpdated: Long,
      rowsInserted: Long)

  /** What a vacuum did. */
  final case class VacuumReport(
      versionsRetained: Int,
      versionsDropped: Int,
      strayTmpsRemoved: Int,
      orphanFilesRemoved: Int)

  /** Delta-style VACUUM for the flat layout: trim the snapshot
    * manifest to its newest `retainLast` versions, delete published
    * `.fw` files (and their sidecars) no retained version references,
    * and sweep `.tmp` strays left by crashed writers. After a vacuum,
    * a read pinned to a dropped version fails with "no version n" —
    * the clean contract — instead of a missing-file surprise halfway
    * through planning. Like every maintenance op here, run it without
    * concurrent readers of the table.
    */
  def vacuum(spark: SparkSession, path: String,
      retainLast: Int,
      strayTtlMillis: Long = DefaultStrayTtlMillis): VacuumReport = {
    require(retainLast >= 1, s"retainLast must be >= 1: $retainLast")
    require(strayTtlMillis >= 0,
      s"strayTtlMillis must be >= 0: $strayTtlMillis")
    requireFlat(path, "vacuum")
    val dir = new java.io.File(path)
    // the trim + orphan removal is a manifest read-modify-write: hold
    // the commit lock across it so a concurrent commit can neither be
    // lost by the trim nor snapshot files the sweep is removing
    val (dropped, orphans, retainedCount) = FwVersions.withLock(path) {
    val all = FwVersions.read(path)
    // ref'd versions (branches AND tags) outlive the retention window:
    // a release tag must stay readable until the tag itself is deleted
    val refPinned = FwRefs.read(path).map(_.version).toSet
    val lastN = all.sortBy(-_.v).take(retainLast).map(_.v).toSet
    val retained =
      all.filter(r => lastN.contains(r.v) || refPinned.contains(r.v))
        .sortBy(_.v)
    val dropped = all.size - retained.size
    // the trim keeps each retained version's record whole (commit time
    // included), so timestamp travel stays usable across a vacuum
    if (dropped > 0) FwVersions.write(path, retained)

    val referenced: Set[String] =
      retained.flatMap(_.files.map(_._1)).toSet
    // only files that EVER appeared in a manifest are vacuum's to
    // remove: the live (newest) snapshot is always retained, and files
    // outside any manifest (hand-built fixtures, streaming epochs
    // before a batch commit) are not ours to judge
    val everReferenced: Set[String] = all.flatMap(_.files.map(_._1)).toSet
    var orphans = 0
    val sweptNames = Set.newBuilder[String]
    if (all.nonEmpty) FwFiles.listPhysical(path).foreach { f =>
      if (everReferenced.contains(f.getName)
        && !referenced.contains(f.getName)) {
        require(FwPublish.remove(f), s"could not vacuum $f")
        sweptNames += f.getName
        orphans += 1
      }
    }
    // schema-log stamps of swept files die with them (a later write
    // recycling the name must not inherit an old layout)
    val swept = sweptNames.result()
    if (swept.nonEmpty) FwSchemaLog.read(path).foreach { log =>
      FwSchemaLog.write(path, log.copy(fileSv = log.fileSv -- swept))
    }
    // materialized change data of trimmed versions dies with them (a
    // stream can no longer start below the retention floor anyway)
    if (dropped > 0 && retained.nonEmpty)
      FwChangeData.dropBelow(path, retained.map(_.v).min)
    (dropped, orphans, retained.size)
    } // withLock
    // the Delta VACUUM convention: a tmp is a "stray" only once it is
    // older than the retention window — a fresh tmp may belong to an
    // in-flight writer whose commit would fail to publish if we swept
    // it — and the manifest's own tmp name is never ours to sweep
    val cutoff = System.currentTimeMillis() - strayTtlMillis
    val manifestTmp = FwVersions.manifestFor(path).getName + ".tmp"
    var strays = 0
    Option(dir.listFiles()).getOrElse(Array.empty).foreach { f =>
      if (f.isFile && f.getName.endsWith(".tmp")
        && f.getName != manifestTmp
        // lastModified() == 0 signals an I/O error, not 1970: unknown
        // age must read as "possibly in-flight", never as sweepable
        && f.lastModified() > 0L
        && f.lastModified() <= cutoff) {
        f.delete(); strays += 1
      }
    }
    VacuumReport(retainedCount, dropped, strays, orphans)
  }

  /** Default age a `.tmp` must reach before vacuum treats it as a
    * crashed writer's stray rather than an in-flight write (Delta's
    * VACUUM retention convention, scaled to single-box batch sizes).
    */
  val DefaultStrayTtlMillis: Long = 6L * 60 * 60 * 1000

  /** What a key-set delete did. */
  final case class DeleteReport(
      version: Long,
      filesRewritten: Int,
      filesRemoved: Int,
      rowsDeleted: Long)

  private final case class MergePlan(file: String, bytes: Long,
      deleted: Array[Long] = Array.empty)
  private final case class MergeResult(tmpData: String, matched: Seq[Any],
      rowsUpdated: Long, rowsCopied: Long)

  /** What a merge-on-read delete did: zero data bytes rewritten — only
    * `.fwdv` sidecars published.
    */
  final case class MoRDeleteReport(
      version: Long,
      dvFilesWritten: Int,
      rowsDeleted: Long)

  /** Merge-on-read key-set DELETE: instead of rewriting every file the
    * key envelopes cannot exclude (copy-on-write, [[deleteByKeys]]),
    * publish per-file DELETION VECTORS naming the matched record
    * ordinals and burn a snapshot version they apply from. A 10-row
    * erasure on a 100 TB table costs a handful of tiny JSON sidecars —
    * the scan skips the dead ordinals, `versionAsOf` pins before the
    * delete still see the rows, and a later [[optimize]] materializes
    * the vectors away. Same key/envelope contract as [[deleteByKeys]];
    * absent keys are clean no-ops.
    */
  def deleteByKeysMoR(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType,
      keys: org.apache.spark.sql.DataFrame,
      keyCol: String): MoRDeleteReport = {
    import org.apache.spark.sql.functions.col
    val keySet: Set[Any] = keys.select(col(keyCol)).distinct().collect()
      .map { r =>
        require(!r.isNullAt(0), "delete keys must not be null")
        normKey(r.get(0))
      }.toSet
    deleteKeySetMoR(spark, path, schema, keySet, keyCol)
  }

  /** [[deleteByKeysMoR]] with the key set already on the driver — the
    * entry SQL `DELETE FROM fw.ns.t WHERE k = … / k IN (…)` uses (the
    * literals come off the predicate, there is no keys DataFrame).
    * Keys must be pre-normalized to Long/String.
    */
  private[sources] def deleteKeySetMoR(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType,
      keySet: Set[Any], keyCol: String): MoRDeleteReport = {
    requireFlat(path, "deleteByKeysMoR")
    FwVersions.requireCommitSlot(path, None)
    FwSchemaLog.requireUniform(path, "deleteByKeysMoR")
    // column mapping: callers pass the LOGICAL schema; the ordinal
    // scan below slices records, so it must run on the physicalized
    // LAYOUT (the key column keeps its logical name there)
    val mapLog = FwSchemaLog.read(path).filter(_.hasMapping)
    val schema0 = mapLog match {
      case Some(l) =>
        if (FwSchemaLog.structEq(schema, l.physicalized)) schema
        else {
          require(FwSchemaLog.structEq(schema, l.logicalHead),
            s"FixedWidth deleteByKeysMoR at $path: declare the " +
              s"table's current schema " +
              s"'${FixedWidth.specOf(l.logicalHead)}'")
          l.physicalized
        }
      case None => schema
    }
    val planVersion = FwVersions.currentMax(path)
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    val ki = schema0.fieldNames.indexOf(keyCol)
    require(ki >= 0, s"delete key $keyCol is not a table column")
    val keyType = schema0.fields(ki).dataType
    require(Seq(LongType, IntegerType, StringType).contains(keyType),
      s"delete key must be integral or string, got $keyType")
    require(keySet.nonEmpty, "delete with an empty key set is a no-op")

    val files = FwFiles.list(path)
    val touched = pruneTouched(files, keyCol,
      keyType == StringType, keySet, mapLog)
    val bc = spark.sparkContext.broadcast(keySet)
    val rowLen = FixedWidth.widths(schema0).sum + 1
    // already-voided ordinals are not deleted again (rowsDeleted stays
    // the count of rows that actually stopped existing)
    val plans = touched.map(f => MergePlan(f.getPath, f.length(),
      FwDv.ordinalsAsOf(f.getPath, None))).toVector
    val found: Array[(String, Array[Long])] =
      if (plans.isEmpty) Array.empty
      else spark.sparkContext.parallelize(plans, plans.size)
        .map(p => (p.file, matchOrdinals(schema0, ki, p, bc.value)))
        .collect()
    val withHits = found.filter(_._2.nonEmpty)

    FwVersions.withLock(path) {
      FwVersions.requireVersion(path, planVersion, "deleteByKeysMoR")
      // nothing matched: no version burned, no sidecar written
      if (withHits.isEmpty) MoRDeleteReport(planVersion, 0, 0L)
      else {
        val newVersion = FwVersions.currentMax(path) + 1
        withHits.foreach { case (file, ords) =>
          FwDv.write(file, rowLen.toLong,
            FwDv.read(file) :+ ((newVersion, ords)))
        }
        val committed =
          FwVersions.commitSnapshotLocked(path, op = "delete-mor")
        require(committed == newVersion,
          s"MoR delete version skew: wrote since=$newVersion, " +
            s"committed $committed")
        MoRDeleteReport(committed, withHits.length,
          withHits.map(_._2.length.toLong).sum)
      }
    }
  }

  /** Runs on an executor: record ordinals in `plan.file` whose key is
    * in `keys`, excluding ordinals an existing DV already voids.
    */
  private def matchOrdinals(
      schema: org.apache.spark.sql.types.StructType,
      keyIdx: Int, plan: MergePlan, keys: Set[Any]): Array[Long] = {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val widths = FixedWidth.widths(schema)
    val offsets = widths.scanLeft(0)(_ + _)
    val rowLen = widths.sum + 1
    val out = Array.newBuilder[Long]
    val input = new java.io.BufferedInputStream(
      new java.io.FileInputStream(plan.file))
    try {
      val buf = new Array[Byte](rowLen)
      var records = plan.bytes / rowLen
      var ordinal = 0L
      var dvIdx = 0
      while (records > 0) {
        records -= 1
        var got = 0
        while (got < rowLen) {
          val n = input.read(buf, got, rowLen - got)
          require(n > 0, s"unexpected EOF in ${plan.file}")
          got += n
        }
        val voided = dvIdx < plan.deleted.length &&
          plan.deleted(dvIdx) == ordinal
        if (voided) dvIdx += 1
        else {
          var a = offsets(keyIdx)
          var b = offsets(keyIdx) + widths(keyIdx)
          while (a < b && buf(a) == ' ') a += 1
          while (b > a && buf(b - 1) == ' ') b -= 1
          if (a < b) {
            val s = new String(buf, a, b - a,
              java.nio.charset.StandardCharsets.UTF_8)
            val key: Any = schema.fields(keyIdx).dataType match {
              case LongType | IntegerType => s.toLong
              case _ => s
            }
            if (keys.contains(key)) out += ordinal
          }
        }
        ordinal += 1
      }
    } finally input.close()
    out.result()
  }

  private def partitionDirs(path: String): Array[java.io.File] =
    Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.contains("="))
      .sortBy(_.getName)

  /** What a clone did. */
  final case class CloneReport(filesLinked: Int, bytes: Long,
      hardLinked: Boolean)

  /** Zero-copy table CLONE (Delta shallow clone, except nothing ever
    * dangles): hard-link the LATEST snapshot's data files and sidecars
    * into `dst` and commit them there as version 1. Hard links share
    * storage, not lifecycle — a later vacuum/overwrite in the source
    * only unlinks the source's NAME, the clone's inode reference keeps
    * the bytes alive, so the clone never breaks. Falls back to copying
    * when the filesystem refuses links (cross-device).
    */
  def cloneTable(spark: SparkSession, src: String,
      dst: String): CloneReport = {
    requireFlat(src, "clone")
    val versions = FwVersions.read(src)
    require(versions.nonEmpty,
      s"FixedWidth clone: no batch write has committed at $src")
    val latest = versions.maxBy(_.v).files
    val dstDir = new java.io.File(dst)
    dstDir.mkdirs()
    require(Option(dstDir.listFiles()).getOrElse(Array.empty).isEmpty,
      s"FixedWidth clone: destination $dst is not empty")
    var bytes = 0L
    var hard = true
    def link(name: String, forceCopy: Boolean): Unit = {
      val from = new java.io.File(src, name).toPath
      val to = new java.io.File(dst, name).toPath
      if (forceCopy) java.nio.file.Files.copy(from, to)
      else try java.nio.file.Files.createLink(to, from)
      catch {
        case _: UnsupportedOperationException | _: java.io.IOException =>
          hard = false
          java.nio.file.Files.copy(from, to)
      }
    }
    // legacy name-only entries (b = -1) mean "live length" — pin them
    // to the length observed NOW, and COPY them instead of hard-linking:
    // a pin in the manifest only protects versionAsOf reads, while a
    // default live read lists the inode's current length, so a shared
    // inode an external producer keeps appending to would still grow
    // the clone's live view. A private copy is append-proof for both.
    val pinned = latest.map { case (name, b) =>
      (name,
        if (b >= 0) b else new java.io.File(src, name).length(), b < 0)
    }
    pinned.foreach { case (name, b, legacyLive) =>
      link(name, forceCopy = legacyLive)
      bytes += b
      val sc = new java.io.File(FwStats.sidecarFor(
        new java.io.File(src, name).getPath))
      if (sc.isFile) link(sc.getName, forceCopy = legacyLive)
      // deletion vectors ride along REWRITTEN, not linked: the clone's
      // history starts at v1, so every applicable entry pins to
      // since=1 (deleted rows stay deleted in the clone's live AND
      // pinned reads; the source's version numbers mean nothing here)
      val srcData = new java.io.File(src, name).getPath
      val ords = FwDv.ordinalsAsOf(srcData, None)
      if (ords.nonEmpty)
        FwDv.write(new java.io.File(dst, name).getPath,
          FwDv.readRowLen(srcData).get, Seq((1L, ords)))
    }
    FwVersions.commitSnapshotLocked(dst, op = "clone",
      files = Some(pinned.map(p => (p._1, p._2))))
    // table-level metadata rides along: the schema log (without it an
    // evolved clone would mis-parse its pre-evolution files — the
    // file→version stamps are name-keyed and names are preserved) and
    // the CHECK constraints (a clone inherits its source's invariants,
    // the Delta CLONE contract). Refs do NOT copy: branches/tags index
    // the SOURCE's version history, which the clone restarts at v1.
    Seq(FwSchemaLog.fileFor(src) -> FwSchemaLog.fileFor(dst),
      FwConstraints.fileFor(src) -> FwConstraints.fileFor(dst))
      .foreach { case (from, to) =>
        if (from.isFile)
          java.nio.file.Files.copy(from.toPath, to.toPath)
      }
    CloneReport(pinned.size, bytes, hard)
  }

  /** What a rollback did. */
  final case class RollbackReport(versionsDropped: Int, filesRemoved: Int)

  /** Hard ROLLBACK to snapshot `toVersion` (`git reset --hard` for the
    * table, Delta RESTORE's destructive sibling): data files no
    * retained version references are deleted (with sidecars), and the
    * manifest is trimmed to versions ≤ `toVersion`, so live
    * directory-listing reads, pins, history and timestamp travel all
    * agree the newer versions never happened. Refuses when the target
    * snapshot's files no longer survive at their committed lengths
    * (a later TRUNCATE vacuumed them). Single-writer maintenance
    * window, like every op here.
    */
  def rollback(spark: SparkSession, path: String,
      toVersion: Long): RollbackReport = {
    requireFlat(path, "rollback")
    // read-trim-delete under the commit lock: a commit landing midway
    // could otherwise be trimmed away or reference swept files
    FwVersions.withLock(path)(rollbackLocked(path, toVersion))
  }

  /** [[rollback]]'s body, for callers already holding the commit lock
    * (dropStage folds ref-delete + rollback into one critical section).
    */
  private def rollbackLocked(path: String,
      toVersion: Long): RollbackReport = {
    val all = FwVersions.read(path)
    val target = FwVersions.resolve(path, toVersion) // loud if unknown
    val dir = new java.io.File(path)
    target.foreach { case (name, b) =>
      val f = new java.io.File(dir, name)
      require(f.isFile && (b < 0 || f.length() >= b),
        s"FixedWidth rollback: version $toVersion references $name " +
          s"($b bytes), which no longer exists at that length")
    }
    val retained = all.filter(_.v <= toVersion)
    val keepNames = retained.flatMap(_.files.map(_._1)).toSet
    // vacuum's discipline: only files some manifest version EVER
    // referenced are rollback's to delete — files outside any manifest
    // (hand-built fixtures) are not ours to judge
    val everReferenced = all.flatMap(_.files.map(_._1)).toSet
    var removed = 0
    FwFiles.listPhysical(path).foreach { f =>
      if (everReferenced.contains(f.getName)
        && !keepNames.contains(f.getName)) {
        require(FwPublish.remove(f), s"could not roll back $f")
        removed += 1
      }
    }
    // deletion-vector entries from versions being rolled back are
    // themselves rolled back: surviving files drop entries whose
    // `since` exceeds the target (the deleted rows come back, exactly
    // like versionAsOf=toVersion reads them)
    FwFiles.listPhysical(path).foreach { f =>
      val entries = FwDv.read(f.getPath)
      if (entries.exists(_._1 > toVersion)) {
        val kept = entries.filter(_._1 <= toVersion)
        if (kept.isEmpty) FwDv.delete(f.getPath)
        else FwDv.write(f.getPath,
          FwDv.readRowLen(f.getPath).get, kept)
      }
    }
    // materialized change data of rolled-back versions dies with them:
    // a future COW commit reusing a trimmed version number must never
    // hit FwChangeData.exists' short-circuit and serve the OLD
    // commit's change rows (mirror of vacuum's dropBelow)
    FwChangeData.dropAbove(path, toVersion)
    FwVersions.write(path, retained)
    // branches above the target clamp to it; tags above it die with
    // their snapshots
    FwRefs.clampTo(path, toVersion)
    RollbackReport(all.size - retained.size, removed)
  }

  final case class ReorgReport(version: Option[Long], filesBefore: Int,
      filesAfter: Int, bytesBefore: Long, bytesAfter: Long,
      purgedFields: Int)

  /** REORG (APPLY PURGE) — physically reclaim dropped columns. DROP
    * COLUMN is metadata-only: the dropped field keeps occupying its
    * bytes in every file, old and new, readable through time-travel
    * pins — which is exactly wrong for a PII drop. This pass rewrites
    * every live file at the PURGED layout (the logical head: dropped
    * physical fields gone, logical names/order become the new physical
    * head), collapses the column mapping to identity over it, and
    * commits the rewrite as one snapshot under optimistic concurrency.
    * Rows are identical — the change feed sees a zero-row diff, like
    * compaction. Version pins from before the reorg keep reading the
    * RETAINED originals at their recorded layouts through the schema
    * log's era translation ([[FwSchemaLog.Log.fileTranslation]]);
    * vacuuming those pins is what finally erases the purged bytes.
    *
    * Scale shape: one distributed read of the live bytes, one
    * distributed write at the narrower layout (no shuffle at all),
    * per-task zone-map sidecars. The only driver work is the manifest
    * commit.
    */
  def reorg(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): ReorgReport = {
    requireFlat(path, "reorg")
    val log = FwSchemaLog.read(path).getOrElse(
      throw new IllegalArgumentException(
        s"FixedWidth reorg at $path: the table has no schema log — " +
          "no renames/drops on record, nothing to purge"))
    require(log.hasMapping,
      s"FixedWidth reorg at $path: the table carries no column " +
        "mapping — nothing to purge")
    require(FwSchemaLog.structEq(schema, log.logicalHead),
      s"FixedWidth reorg at $path: declare the table's current " +
        s"schema '${FixedWidth.specOf(log.logicalHead)}'")
    FwVersions.requireCommitSlot(path, None)
    val planVersion = FwVersions.currentMax(path)
    val live = FwFiles.list(path)
    val bytesBefore = live.map(_.length()).sum
    val purgedSpec = FixedWidth.specOf(log.logicalHead)
    val purgedFields = log.headSchema.length - log.mapping.get.length
    val spec = FixedWidth.specOf(schema)
    val reader = spark.read.format("graft.sources.FixedWidth")
      .option("schema", spec)
    // pin the read at the planned snapshot: a concurrent commit makes
    // the publish-phase version re-check abort instead of purging a
    // half-seen live set. The logical read is mapping-aware and
    // materializes deletion vectors away, exactly like a COW pass.
    val df = (if (planVersion >= 1)
      reader.option("versionAsOf", planVersion.toString) else reader)
      .load(path)
    val uid = java.util.UUID.randomUUID().toString.take(8)
    val tmpDir = new java.io.File(path, s"_fw_reorg_$uid")
    var filesAfter = 0
    var bytesAfter = 0L
    try {
      // the write runs at the PURGED spec: the logical schema IS,
      // structurally, the new physical head
      df.write.format("graft.sources.FixedWidth")
        .option("schema", purgedSpec).mode("overwrite")
        .save(tmpDir.getAbsolutePath)
      val dir = new java.io.File(path)
      val version = FwVersions.withLock(path) {
        FwVersions.requireVersion(path, planVersion, "reorg")
        // the stamp set must predate the new files: everything known
        // NOW was written at a pre-reorg layout
        val knownBefore: Set[String] =
          (FwFiles.listPhysical(path).map(_.getName) ++
            FwVersions.read(path).flatMap(_.files.map(_._1))).toSet
        val parts = tmpDir.listFiles()
          .filter(_.getName.endsWith(".fw")).sortBy(_.getName)
        parts.zipWithIndex.foreach { case (f, i) =>
          val target = new java.io.File(dir, f"reorg-$i%05d-$uid.fw")
          FwPublish.publish(f, target)
          bytesAfter += target.length()
        }
        filesAfter = parts.length
        val replaced = retireInputs(path, live.map(_.getPath).toSeq)
        val v = FwVersions.commitSnapshotLocked(path, replaced, op = "reorg")
        // log transition LAST, still under the lock: new head = purged
        // spec, mapping collapses, pre-reorg files stamped at their era
        FwSchemaLog.applyReorg(path, knownBefore)
        v
      }
      ReorgReport(Some(version), live.length, filesAfter,
        bytesBefore, bytesAfter, purgedFields)
    } finally FwFiles.deleteTree(tmpDir)
  }

  private def requireFlat(path: String, op: String): Unit =
    require(partitionDirs(path).isEmpty,
      s"FixedWidth $op is a flat-table operation for now; $path holds " +
        "a hive-style partitioned layout (records do not carry the " +
        "partition column, so keyed rewrites cannot route values)")

  /** Retire a COW rewrite's superseded input files. Inputs some
    * manifest version references are RETAINED on disk — data, stats
    * sidecar, and deletion vector — so `versionAsOf` pins before the
    * rewrite keep reading (and keep pruning, and keep honoring their
    * DVs); they leave the live set via the new snapshot's exclusion
    * list, and vacuum sweeps them once their last referencing version
    * expires (the Delta tombstone discipline). Inputs NO version has
    * ever referenced (hand-planted fixture files) delete eagerly: the
    * manifest-aware live listing keeps never-referenced files
    * unconditionally live, so retention would double-count them.
    * Returns the names for [[FwVersions.commitSnapshotLocked]]'s
    * exclusion list.
    */
  private[sources] def retireInputs(path: String,
      inputs: Seq[String]): Set[String] = {
    val ever = FwVersions.read(path).flatMap(_.files.map(_._1)).toSet
    val (retained, eager) = inputs.partition(p =>
      ever.contains(new java.io.File(p).getName))
    eager.foreach { p =>
      require(FwPublish.remove(new java.io.File(p)),
        s"could not remove superseded input $p")
    }
    retained.map(p => new java.io.File(p).getName).toSet
  }

  /** SQL TRUNCATE / unconditional DELETE, with history: every live
    * file retires through [[retireInputs]] — referenced files stay on
    * disk for version pins (a pre-truncate `versionAsOf` still reads
    * everything; vacuum sweeps the history later), never-referenced
    * fixtures delete eagerly — and an EMPTY snapshot commits as the
    * next version. Returns the committed version, or None when the
    * table was already empty (no version burned).
    */
  def truncateRetain(path: String): Option[Long] = {
    requireFlat(path, "truncate")
    FwVersions.withLock(path) {
      FwVersions.requireCommitSlot(path, None)
      val live = FwFiles.list(path)
      if (live.isEmpty) None
      else Some(FwVersions.commitSnapshotLocked(path,
        retireInputs(path, live.map(_.getPath).toSeq), op = "truncate"))
    }
  }

  final case class RestoreReport(restoredVersion: Long,
      newVersion: Long, files: Int)

  /** Non-destructive RESTORE (Delta RESTORE, rollback's history-
    * preserving sibling): commit a NEW snapshot version whose file
    * list is exactly snapshot `toVersion`'s — the mistake (a bad load,
    * an accidental truncate) is undone while every version, pin, and
    * the change feed between then and now stays readable. Works
    * because superseded files are RETAINED on disk until vacuum: the
    * restore just points the head back at them. Refuses when the
    * target's files no longer survive at their recorded lengths
    * (vacuumed away), and — for now — when a surviving file carries
    * deletion-vector entries NEWER than the target (a live read of
    * the restored head applies every DV entry, so those rows would
    * stay dead; compact first to materialize, then restore).
    */
  def restore(path: String, toVersion: Long): RestoreReport = {
    requireFlat(path, "restore")
    FwVersions.withLock(path) {
      FwVersions.requireCommitSlot(path, None)
      val target = FwVersions.resolve(path, toVersion) // loud if unknown
      val dir = new java.io.File(path)
      target.foreach { case (name, b) =>
        val f = new java.io.File(dir, name)
        require(f.isFile && (b < 0 || f.length() >= b),
          s"FixedWidth restore: version $toVersion references $name " +
            s"($b bytes), which no longer exists at that length")
        require(!FwDv.read(f.getPath).exists(_._1 > toVersion),
          s"FixedWidth restore: $name carries deletion-vector entries " +
            s"newer than version $toVersion; run optimize to " +
            "materialize them, then restore")
      }
      val next = FwVersions.commitSnapshotLocked(path, op = "restore",
        files = Some(target))
      RestoreReport(toVersion, next, target.size)
    }
  }

  // ---- Write-audit-publish: branch + tag lifecycle -------------------

  final case class PublishReport(publishedVersion: Long,
      previousMain: Long)

  /** Fast-forward `main` to the audited branch head and close the
    * stage window (the ref dies; its snapshot lives on as `main`).
    * The WAP "publish" step: after this, default readers see the
    * staged data, atomically (one refs-file rename).
    */
  def publish(path: String, branch: String): PublishReport = {
    requireFlat(path, "publish")
    FwVersions.withLock(path) {
      val r = FwRefs.get(path, branch).getOrElse(
        throw new IllegalArgumentException(
          s"FixedWidth: no branch '$branch' to publish at $path"))
      require(!r.isTag, s"FixedWidth: '$branch' is a tag, not a branch")
      val main = FwRefs.mainVersion(path).getOrElse(
        throw new IllegalStateException(
          s"FixedWidth: table at $path has no main ref"))
      require(r.version >= main,
        s"FixedWidth: branch '$branch' (v${r.version}) is behind " +
          s"main (v$main); nothing to publish")
      FwRefs.set(path, "main", r.version, isTag = false)
      FwRefs.delete(path, branch)
      PublishReport(r.version, main)
    }
  }

  final case class DropStageReport(droppedVersions: Int,
      filesRemoved: Int)

  /** Abandon a pending stage: the branch ref dies and every snapshot
    * above `main` rolls back hard (the staged files are physically
    * removed — they were never published, nothing else references
    * them). The WAP "audit failed" path.
    */
  def dropStage(spark: SparkSession, path: String,
      branch: String): DropStageReport = {
    requireFlat(path, "dropStage")
    // ref-delete AND version rollback under ONE lock section: with the
    // ref gone, requireCommitSlot admits plain commits again, so a
    // commit landing between a split delete and rollback would be
    // physically deleted by the rollback — an unrelated write lost
    FwVersions.withLock(path) {
      val r = FwRefs.get(path, branch).getOrElse(
        throw new IllegalArgumentException(
          s"FixedWidth: no branch '$branch' to drop at $path"))
      require(!r.isTag,
        s"FixedWidth: '$branch' is a tag; use deleteTag")
      require(branch != "main", "FixedWidth: cannot drop main")
      FwRefs.delete(path, branch)
      val mainV = FwRefs.mainVersion(path).getOrElse(
        throw new IllegalStateException(
          s"FixedWidth: table at $path has no main ref"))
      val rb = rollbackLocked(path, mainV)
      DropStageReport(rb.versionsDropped, rb.filesRemoved)
    }
  }

  /** Pin a committed version under an immutable name (release marker).
    * Tags resolve in reads via `.option("branch", name)` and protect
    * their version from vacuum's retention trim until deleted.
    */
  def tag(path: String, name: String, version: Long): Unit = {
    requireFlat(path, "tag")
    FwVersions.withLock(path) {
      require(name != "main", "FixedWidth: 'main' is reserved")
      require(FwRefs.get(path, name).isEmpty,
        s"FixedWidth: ref '$name' already exists at $path")
      FwVersions.resolve(path, version) // loud if unknown
      // tagging freezes the default view the same way staging does:
      // refs exist from here on, so un-pinned reads resolve main
      if (FwRefs.mainVersion(path).isEmpty)
        FwRefs.set(path, "main", FwVersions.currentMax(path),
          isTag = false)
      FwRefs.set(path, name, version, isTag = true)
    }
  }

  def deleteTag(path: String, name: String): Unit =
    FwVersions.withLock(path) {
      val r = FwRefs.get(path, name).getOrElse(
        throw new IllegalArgumentException(
          s"FixedWidth: no tag '$name' at $path"))
      require(r.isTag, s"FixedWidth: '$name' is a branch, not a tag")
      FwRefs.delete(path, name)
    }

  /** Copy-on-write MERGE (upsert) keyed on `keyCol`: every table row
    * whose key appears in `updates` is replaced by the update row,
    * update keys matching no table row append as one new file, and the
    * post-merge file set commits as the next snapshot version — the
    * Delta `MERGE WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT`
    * contract at file grain.
    *
    * Scale shape: the TABLE side never shuffles and never decodes a
    * file the merge provably cannot touch — per-file zone-map
    * envelopes on the key column prune the rewrite set the same way
    * they prune scans, so a 100 TB table with a 1 GB delta rewrites
    * only the files whose key ranges intersect the delta (one
    * independent task each). The DELTA side rides a broadcast, the
    * same smallness contract as a broadcast-hash join; a delta too big
    * to broadcast is a backfill, not a merge. A rewrite task that
    * finds no actual match (an envelope false positive) discards its
    * tmp file and keeps the original untouched. Sidecars are
    * recomputed exactly during the rewrite, so pruning survives.
    *
    * Update keys must be unique and non-null (ambiguous multi-updates
    * per key are an error, as in Delta), and the key column must be
    * integral or string — a double key's rendered round-trip is not a
    * reliable identity.
    */
  def merge(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType,
      updates: org.apache.spark.sql.DataFrame,
      keyCol: String): MergeReport = {
    FwVersions.requireCommitSlot(path, None)
    FwSchemaLog.requireUniform(path, "merge")
    requireFlat(path, "merge")
    // column mapping: callers pass the LOGICAL schema and logical
    // update rows; the rewrite slices and renders at the physicalized
    // layout, padding each replacement row out to physical arity
    // (dropped fields render NULL)
    val mapLog = FwSchemaLog.read(path).filter(_.hasMapping)
    mapLog.foreach(l => require(
      FwSchemaLog.structEq(schema, l.logicalHead),
      s"FixedWidth merge at $path: declare the table's current " +
        s"schema '${FixedWidth.specOf(l.logicalHead)}'"))
    val layout = mapLog.map(_.physicalized).getOrElse(schema)
    val slotMap: Array[Int] = mapLog.map(_.writeSlotMap)
      .getOrElse(Array.tabulate(schema.length)(identity))
    // optimistic concurrency: version this plan reads, re-checked
    // under the commit lock before anything publishes
    val planVersion = FwVersions.currentMax(path)
    import org.apache.spark.sql.functions.{col, count}
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    val ki = schema.fieldNames.indexOf(keyCol)
    require(ki >= 0, s"merge key $keyCol is not a table column")
    val kiPhys = layout.fieldNames.indexOf(keyCol)
    val keyType = schema.fields(ki).dataType
    require(Seq(LongType, IntegerType, StringType).contains(keyType),
      s"merge key must be integral or string, got $keyType")
    val aligned = updates.select(schema.fieldNames.map(col).toSeq: _*)
    require(aligned.filter(col(keyCol).isNull).isEmpty,
      "merge updates must not carry null keys")
    val dup = aligned.groupBy(keyCol).agg(count(org.apache.spark.sql
      .functions.lit(1)).as("n")).filter(col("n") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"merge updates must be unique per key; duplicate: ${dup.toSeq}")

    // the delta side: collected + broadcast (the broadcast-join
    // smallness contract); values normalized to the writer's types,
    // padded to PHYSICAL arity
    val upRows: Map[Any, Seq[Any]] = aligned.collect().map { r =>
      val vals = slotMap.map(li => if (li < 0) null else r.get(li))
      normKey(r.get(ki)) -> vals.toSeq
    }.toMap
    require(upRows.nonEmpty, "merge with an empty update set is a no-op")

    val files = FwFiles.list(path)
    val touched = pruneTouched(files, keyCol,
      keyType == StringType, upRows.keySet, mapLog)

    val bc = spark.sparkContext.broadcast(
      upRows.view.mapValues(v => Some(v): Option[Seq[Any]]).toMap)
    val plans = touched.map(f => MergePlan(f.getPath, f.length(),
      FwDv.ordinalsAsOf(f.getPath, None))).toVector
    val results: Array[MergeResult] =
      if (plans.isEmpty) Array.empty
      else spark.sparkContext.parallelize(plans, plans.size)
        .map(p => rewriteFile(layout, kiPhys, p, bc.value))
        .collect()

    val matchedKeys = results.flatMap(_.matched).toSet
    val inserts = upRows.view.filterKeys(k => !matchedKeys.contains(k))
      .values.toVector
    val dir = new java.io.File(path)

    // publish rewrites that actually changed; discard false positives.
    // The whole publish + input-removal + snapshot phase holds the
    // commit lock, after the optimistic version re-check (a conflict
    // sweeps this run's tmps and aborts before anything destructive).
    FwVersions.withLock(path) {
    try FwVersions.requireVersion(path, planVersion, "merge")
    catch { case e: java.util.ConcurrentModificationException =>
      results.foreach(r => FwPublish.sweep(r.tmpData))
      throw e
    }
    var rewritten = 0
    results.foreach { r =>
      if (r.rowsUpdated == 0) FwPublish.sweep(r.tmpData)
      else {
        rewritten += 1
        FwPublish.publish(r.tmpData)
      }
    }
    if (inserts.nonEmpty) {
      val name = "merge-ins-" +
        java.util.UUID.randomUUID().toString.take(8) + ".fw"
      val tmp = new java.io.File(dir, name + ".tmp")
      java.nio.file.Files.write(tmp.toPath,
        FixedWidthWriter.render(layout, inserts))
      FwStats.write(FwPublish.stagedSidecar(tmp.getPath),
        statsOfRows(layout, inserts), tmp.length(),
        phys = layout.fieldNames.zipWithIndex.toMap)
      FwPublish.publish(tmp.getPath)
    }
    // superseded originals retire AFTER their rewrites publish, then
    // the snapshot — retained on disk for version pins and the change
    // feed (the rewrite materializes each input's DV away in the LIVE
    // set; the retained original keeps its own DV for pinned reads)
    val superseded = results.zip(plans).collect {
      case (r, p) if r.rowsUpdated > 0 => p.file
    }
    require(superseded.size == rewritten) // sanity: 1 rewrite per plan
    val version = FwVersions.commitSnapshotLocked(path,
      retireInputs(path, superseded), op = "merge")
    MergeReport(version, rewritten, files.length - rewritten,
      results.map(_.rowsUpdated).sum, inserts.size.toLong)
    } // withLock
  }

  /** Key-set DELETE (the GDPR-erasure primitive): every table row
    * whose key is in `keys` is removed by rewriting only the files the
    * zone-map key envelopes cannot exclude; a file whose every record
    * matched disappears entirely; the result commits as the next
    * snapshot version. Same scale shape as [[merge]]: table side
    * unshuffled and envelope-pruned, key set broadcast. Deleting a key
    * the table does not hold is a no-op, not an error (erasure
    * requests arrive for users who may have nothing stored).
    */
  def deleteByKeys(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType,
      keys: org.apache.spark.sql.DataFrame,
      keyCol: String): DeleteReport = {
    requireFlat(path, "deleteByKeys")
    FwVersions.requireCommitSlot(path, None)
    FwSchemaLog.requireUniform(path, "deleteByKeys")
    // column mapping: the rewrite slices at the physicalized layout
    val mapLog = FwSchemaLog.read(path).filter(_.hasMapping)
    mapLog.foreach(l => require(
      FwSchemaLog.structEq(schema, l.logicalHead),
      s"FixedWidth deleteByKeys at $path: declare the table's " +
        s"current schema '${FixedWidth.specOf(l.logicalHead)}'"))
    val layout = mapLog.map(_.physicalized).getOrElse(schema)
    // optimistic concurrency: version this plan reads, re-checked
    // under the commit lock before anything publishes
    val planVersion = FwVersions.currentMax(path)
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    val ki = layout.fieldNames.indexOf(keyCol)
    require(ki >= 0, s"delete key $keyCol is not a table column")
    val keyType = layout.fields(ki).dataType
    require(Seq(LongType, IntegerType, StringType).contains(keyType),
      s"delete key must be integral or string, got $keyType")
    val keySet: Set[Any] = keys.select(col(keyCol)).distinct().collect()
      .map { r =>
        require(!r.isNullAt(0), "delete keys must not be null")
        normKey(r.get(0))
      }.toSet
    require(keySet.nonEmpty, "delete with an empty key set is a no-op")

    val files = FwFiles.list(path)
    val touched = pruneTouched(files, keyCol,
      keyType == StringType, keySet, mapLog)
    val bc = spark.sparkContext.broadcast(
      keySet.map(k => k -> (None: Option[Seq[Any]])).toMap)
    val plans = touched.map(f => MergePlan(f.getPath, f.length(),
      FwDv.ordinalsAsOf(f.getPath, None))).toVector
    val results: Array[MergeResult] =
      if (plans.isEmpty) Array.empty
      else spark.sparkContext.parallelize(plans, plans.size)
        .map(p => rewriteFile(layout, ki, p, bc.value))
        .collect()

    // publish under the commit lock after the optimistic re-check —
    // a conflict sweeps this run's tmps and aborts cleanly
    FwVersions.withLock(path) {
    try FwVersions.requireVersion(path, planVersion, "delete")
    catch { case e: java.util.ConcurrentModificationException =>
      results.foreach(r => FwPublish.sweep(r.tmpData))
      throw e
    }
    var rewritten = 0
    var removed = 0
    val superseded = Vector.newBuilder[String]
    results.zip(plans).foreach { case (r, p) =>
      if (r.rowsUpdated == 0) FwPublish.sweep(r.tmpData)
      else {
        if (r.rowsCopied == 0) { // every record matched: the file dies
          removed += 1
          FwPublish.sweep(r.tmpData)
        } else {
          rewritten += 1
          FwPublish.publish(r.tmpData)
        }
        // the input retires but is RETAINED (sidecar and DV included)
        // for version pins and the change feed
        superseded += p.file
      }
    }
    val version = FwVersions.commitSnapshotLocked(path,
      retireInputs(path, superseded.result()), op = "delete")
    DeleteReport(version, rewritten, removed,
      results.map(_.rowsUpdated).sum)
    } // withLock
  }

  /** Envelope pruning shared by merge and delete: a live sidecar whose
    * key range excludes every key cannot match. Integral keys also
    * prune on an ABSENT entry (the numeric writer always stamps what it
    * saw, so absence = all-NULL keys); string entries arrived later, so
    * for string keys absence may just mean an older sidecar — stay
    * conservative. Statless files never prune.
    */
  private def pruneTouched(files: Array[java.io.File], keyCol: String,
      stringKey: Boolean, keys: Set[Any],
      mapLog: Option[FwSchemaLog.Log]): Array[java.io.File] = {
    val longKeys: Seq[Long] =
      if (stringKey) Seq.empty
      else keys.map(_.asInstanceOf[Long]).toSeq
    val strKeys: Seq[String] =
      if (stringKey) keys.map(_.asInstanceOf[String]).toSeq
      else Seq.empty
    files.filter { f =>
      // keyCol is a LOGICAL name: resolve the sidecar through the
      // column mapping (a retired-name envelope must not skip a file
      // whose live keys actually match)
      FwStats.readMapped(f, f.length(), mapLog) match {
        case Some(stats) =>
          stats.get(keyCol) match {
            case Some(FwIntStats(lo, hi)) if !stringKey =>
              longKeys.exists(k => k >= lo && k <= hi)
            case Some(FwStrStats(lo, hi, _)) if stringKey =>
              strKeys.exists(k =>
                k.compareTo(lo) >= 0 && k.compareTo(hi) <= 0)
            case Some(_) => true // shape mismatch: stay conservative
            case None => stringKey
          }
        case None => true // no stats: cannot prune
      }
    }
  }

  /** Runs on an executor: stream one file record by record, replacing
    * (Some) or dropping (None) matched rows and copying everything
    * else byte-verbatim, while recomputing the numeric zone map
    * exactly.
    */
  private def rewriteFile(schema: org.apache.spark.sql.types.StructType,
      keyIdx: Int, plan: MergePlan,
      updates: Map[Any, Option[Seq[Any]]]): MergeResult = {
    import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}
    val widths = FixedWidth.widths(schema)
    val offsets = widths.scanLeft(0)(_ + _)
    val rowLen = widths.sum + 1
    val in = new java.io.File(plan.file)
    val tmp = new java.io.File(in.getParentFile, "merge-" +
      java.util.UUID.randomUUID().toString.take(8) + ".fw.tmp")
    val matched = Vector.newBuilder[Any]
    var updated = 0L
    var copied = 0L
    val acc = new StatsAccumulator(schema)
    val input = new java.io.BufferedInputStream(
      new java.io.FileInputStream(in))
    val out = new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(tmp))
    try {
      val buf = new Array[Byte](rowLen)
      var records = plan.bytes / rowLen
      var ordinal = 0L
      var dvIdx = 0
      while (records > 0) {
        records -= 1
        var got = 0
        while (got < rowLen) {
          val n = input.read(buf, got, rowLen - got)
          require(n > 0, s"unexpected EOF in ${plan.file}")
          got += n
        }
        // a record an existing deletion vector voids is DEAD: copying
        // it into the rewrite would resurrect it — emit nothing (the
        // rewrite materializes the DV away; callers drop the .fwdv
        // with the input)
        val voided = dvIdx < plan.deleted.length &&
          plan.deleted(dvIdx) == ordinal
        ordinal += 1
        if (voided) { dvIdx += 1 }
        else {
        def slice(i: Int): String = {
          var a = offsets(i)
          var b = offsets(i) + widths(i)
          while (a < b && buf(a) == ' ') a += 1
          while (b > a && buf(b - 1) == ' ') b -= 1
          if (a == b) null
          else new String(buf, a, b - a,
            java.nio.charset.StandardCharsets.UTF_8)
        }
        val keyStr = slice(keyIdx)
        val key: Any =
          if (keyStr == null) null
          else schema.fields(keyIdx).dataType match {
            case LongType | IntegerType => keyStr.toLong
            case _ => keyStr
          }
        updates.get(key) match {
          case Some(action) if key != null =>
            matched += key
            updated += 1
            action.foreach { vals => // None = delete: emit nothing
              out.write(FixedWidthWriter.render(schema, Seq(vals)))
              acc.addRow(vals)
            }
          case _ =>
            copied += 1
            out.write(buf)
            schema.fields.indices.foreach { i =>
              schema.fields(i).dataType match {
                case LongType | IntegerType =>
                  val s = slice(i)
                  if (s != null) acc.addLong(i, s.toLong)
                case DoubleType =>
                  val s = slice(i)
                  if (s != null) acc.addDouble(i, s.toDouble)
                case org.apache.spark.sql.types.StringType =>
                  val s = slice(i)
                  if (s != null) acc.addString(i, s)
                case _ => ()
              }
            }
        }
        }
      }
    } finally { input.close(); out.close() }
    if (updated > 0)
      FwStats.write(FwPublish.stagedSidecar(tmp.getPath),
        acc.result(), tmp.length(),
        phys = schema.fieldNames.zipWithIndex.toMap)
    MergeResult(tmp.getPath, matched.result(), updated, copied)
  }

  private def normKey(v: Any): Any = v match {
    case l: java.lang.Long => l.longValue
    case i: java.lang.Integer => i.longValue
    case s: String => s
    case other => throw new IllegalArgumentException(
      s"unsupported merge key value: $other")
  }

  private def statsOfRows(schema: org.apache.spark.sql.types.StructType,
      rows: Seq[Seq[Any]]): Map[String, FwColStats] = {
    val acc = new StatsAccumulator(schema)
    rows.foreach(acc.addRow)
    acc.result()
  }

  /** The same exact-envelope accounting as `FwDataWriter`, reusable
    * from maintenance rewrites that see decoded values instead of
    * `InternalRow`s.
    */
  private final class StatsAccumulator(
      schema: org.apache.spark.sql.types.StructType) {
    import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}
    private val n = schema.fields.length
    private val loL = Array.fill(n)(Long.MaxValue)
    private val hiL = Array.fill(n)(Long.MinValue)
    private val loD = Array.fill(n)(Double.PositiveInfinity)
    private val hiD = Array.fill(n)(Double.NegativeInfinity)
    private val nan = Array.fill(n)(false)
    private val seenL = Array.fill(n)(false)
    private val seenD = Array.fill(n)(false)
    private val loS = Array.fill[String](n)(null)
    private val hiS = Array.fill[String](n)(null)

    def addLong(i: Int, v: Long): Unit = {
      seenL(i) = true
      if (v < loL(i)) loL(i) = v
      if (v > hiL(i)) hiL(i) = v
    }
    def addDouble(i: Int, v: Double): Unit = {
      seenD(i) = true
      if (v.isNaN) nan(i) = true
      else {
        if (v < loD(i)) loD(i) = v
        if (v > hiD(i)) hiD(i) = v
      }
    }
    def addString(i: Int, raw: String): Unit = {
      val v = raw.trim // the read-back (pad-trimmed) value
      if (v.nonEmpty) {
        if (loS(i) == null || v.compareTo(loS(i)) < 0) loS(i) = v
        if (hiS(i) == null || v.compareTo(hiS(i)) > 0) hiS(i) = v
      }
    }
    def addRow(vals: Seq[Any]): Unit =
      schema.fields.indices.foreach { i =>
        val v = vals(i)
        if (v != null) schema.fields(i).dataType match {
          case LongType => addLong(i, v.asInstanceOf[Long])
          case IntegerType => addLong(i, v.asInstanceOf[Int].toLong)
          case DoubleType => addDouble(i, v.asInstanceOf[Double])
          case org.apache.spark.sql.types.StringType =>
            addString(i, v.asInstanceOf[String])
          case _ => ()
        }
      }
    def result(): Map[String, FwColStats] =
      schema.fields.indices.flatMap { i =>
        schema.fields(i).dataType match {
          case LongType | IntegerType if seenL(i) =>
            Some(schema.fields(i).name -> FwIntStats(loL(i), hiL(i)))
          case DoubleType if seenD(i) =>
            def fin(d: Double) =
              if (java.lang.Double.isFinite(d)) Some(d) else None
            val (lo, hi) =
              if (loD(i) <= hiD(i)) (fin(loD(i)), fin(hiD(i)))
              else (None, None) // all-NaN column
            Some(schema.fields(i).name -> FwDblStats(lo, hi, nan(i)))
          case org.apache.spark.sql.types.StringType if loS(i) != null =>
            FwStats.strStatsOf(loS(i), hiS(i))
              .map(schema.fields(i).name -> _)
          case _ => None
        }
      }.toMap
  }

  /** Envelope union across the group. A column absent from one input's
    * sidecar contributed no non-null values there (the writer only
    * records columns it saw), so the union over the inputs that have
    * it is the group's true envelope. A type clash on one column
    * (cannot happen from our writer; hand-edited sidecars could) drops
    * just that column.
    */
  private[sources] def mergeStats(
      ms: Seq[Map[String, FwColStats]]): Map[String, FwColStats] =
    ms.flatMap(_.keys).distinct.flatMap { k =>
      val entries = ms.flatMap(_.get(k))
      if (entries.forall(_.isInstanceOf[FwIntStats])) {
        val is = entries.collect { case s: FwIntStats => s }
        Some(k -> FwIntStats(is.map(_.lo).min, is.map(_.hi).max))
      } else if (entries.forall(_.isInstanceOf[FwDblStats])) {
        val ds = entries.collect { case s: FwDblStats => s }
        Some(k -> FwDblStats(
          ds.flatMap(_.lo).minOption,
          ds.flatMap(_.hi).maxOption,
          ds.exists(_.hasNaN)))
      } else if (entries.forall(_.isInstanceOf[FwStrStats])) {
        // bounds stay valid under union; exactness only survives when
        // every input was exact (a truncated bound brackets without
        // naming the true extreme)
        val ss = entries.collect { case s: FwStrStats => s }
        Some(k -> FwStrStats(ss.map(_.lo).min, ss.map(_.hi).max,
          ss.forall(_.exact)))
      } else None
    }.toMap
}
