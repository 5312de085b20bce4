package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** STREAMING CHANGE DATA FEED — `spark.readStream.format(fw)
  * .option("readChangeFeed", "true").option("startingVersion", n)`:
  * each micro-batch emits the row-level changes of the snapshot
  * versions committed since the last batch, tagged `_change_type`
  * (insert/delete) and `_commit_version` — the Delta
  * `readChangeFeed` streaming surface. The version number IS the
  * stream offset, so checkpointed restarts resume mid-history
  * exactly.
  *
  * Per-commit coverage (exact, no diffing):
  *  - APPEND commits: the new files (and the grown byte ranges of
  *    in-place-appended files, per the manifest's snapshot-prefix
  *    lengths) stream as `insert` rows.
  *  - MERGE-ON-READ DELETE commits: the deletion-vector entries
  *    stamped `since = v` name exactly the erased ordinals — those
  *    records stream as `delete` rows (read from the retained bytes,
  *    which a DV never rewrites). GDPR erasure propagates to
  *    downstream consumers as it happens.
  *  - COPY-ON-WRITE commits (merge/update/delete-rewrite/compaction/
  *    truncate-retain) stream from their MATERIALIZED change files
  *    ([[FwChangeData]], the Delta `_change_data` discipline): the
  *    row-level commit writes them eagerly; a commit that predates the
  *    stream materializes lazily on first read (retained history keeps
  *    both snapshots readable). Whole-file churn never reaches
  *    consumers — a compaction commit diffs to zero rows and streams
  *    nothing. Only a commit whose pre-images were vacuumed before
  *    anyone materialized its delta still refuses.
  *
  * Scale shape: planning reads only the manifest and the tiny DV
  * sidecars; each partition is a set of contiguous record runs in one
  * file (DV ordinals collapse into runs), so a batch's IO is exactly
  * the changed bytes.
  */
private[sources] class FwCdfTable(declared: StructType, path: String)
    extends Table with SupportsRead {
  override def name(): String = s"fixedwidth-cdf($path)"
  override def schema(): StructType = FwCdf.readSchema(declared)
  override def partitioning(): Array[Transform] = Array.empty
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = {
    val startingVersion =
      Option(options.get("startingVersion")).map(_.toLong)
    val startingTimestamp = Option(options.get("startingTimestamp"))
    require(startingVersion.isEmpty || startingTimestamp.isEmpty,
      "FixedWidth readChangeFeed: startingVersion and " +
        "startingTimestamp are mutually exclusive")
    val endingVersion =
      Option(options.get("endingVersion")).map(_.toLong)
    val endingTimestamp = Option(options.get("endingTimestamp"))
    require(endingVersion.isEmpty || endingTimestamp.isEmpty,
      "FixedWidth readChangeFeed: endingVersion and endingTimestamp " +
        "are mutually exclusive")
    // A wall-clock start resolves to the NEWEST version committed at
    // or before it (the timestampAsOf discipline, q373) — that
    // version's own changes are included, matching startingVersion's
    // inclusive contract. A timestamp before the first commit refuses
    // loudly via resolveTimestamp instead of silently replaying from
    // v1. Resolved lazily at plan/stream-build time, against the
    // manifest's commit stamps.
    def resolvedStart: Option[Long] = startingVersion.orElse(
      startingTimestamp.map(s =>
        FwVersions.resolveTimestamp(path, FwTable.parseTs(s))))
    def resolvedEnd: Option[Long] = endingVersion.orElse(
      endingTimestamp.map(s =>
        FwVersions.resolveTimestamp(path, FwTable.parseTs(s))))
    new ScanBuilder {
      override def build(): Scan = new Scan with Batch {
        override def readSchema(): StructType = FwCdf.readSchema(declared)
        override def description(): String =
          s"GraftFixedWidthCdf $path"
        // batch CDF: the commit range [startingVersion, endingVersion]
        // planned through the same per-version machinery the stream
        // uses (endingVersion defaults to the current head) — the
        // Delta batch readChangeFeed surface
        override def toBatch: Batch = this
        override def planInputPartitions(): Array[InputPartition] = {
          val from = resolvedStart.getOrElse(
            throw new IllegalArgumentException(
              "FixedWidth readChangeFeed in batch mode needs an " +
                "explicit startingVersion or startingTimestamp (a " +
                "batch read of 'changes since the stream started' " +
                "has no meaning)"))
          val to = resolvedEnd.getOrElse(FwVersions.currentMax(path))
          FwCdf.partitionsBetween(declared, path, from - 1, to)
        }
        override def createReaderFactory(): PartitionReaderFactory =
          new FwCdfReaderFactory(declared)
        override def toMicroBatchStream(
            checkpointLocation: String): MicroBatchStream = {
          require(endingVersion.isEmpty && endingTimestamp.isEmpty,
            "FixedWidth readChangeFeed: endingVersion/endingTimestamp " +
              "are batch-only; a stream follows the live head")
          new FwCdfMicroBatchStream(declared, path, resolvedStart)
        }
      }
    }
  }
}

private[sources] object FwCdf {
  val ChangeType = "_change_type"
  val CommitVersion = "_commit_version"

  def readSchema(declared: StructType): StructType = StructType(
    declared.fields.map(f => StructField(f.name, f.dataType)) ++ Seq(
      StructField(ChangeType, StringType, nullable = false),
      StructField(CommitVersion, LongType, nullable = false)))

  /** The change partitions of versions (a, b] — shared by the batch
    * scan and each micro-batch. See [[FwCdfMicroBatchStream]]'s class
    * doc for the per-commit coverage.
    */
  def partitionsBetween(declared: StructType, path: String,
      a: Long, b: Long): Array[InputPartition] = {
    // metadata-only ADD COLUMN: a range spanning the evolution reads
    // every commit at the HEAD layout — pre-evolution files parse at
    // their own prefix layout (per-file record length from the schema
    // log) and the missing trailing columns surface as NULL, exactly
    // like batch reads of the same files. Column-mapped tables
    // (RENAME/DROP) work too: `declared` is the LOGICAL head; data
    // files read at the PHYSICALIZED layout (each partition carries
    // its layout spec), change-data files at the logical layout they
    // were materialized in.
    val log = FwSchemaLog.requireLogicalHead(path, declared)
    val layout = log.map(_.physicalized).getOrElse(declared)
    val layoutSpec = FixedWidth.specOf(layout)
    val logicalSpec = FixedWidth.specOf(declared)
    val headRowLen = FixedWidth.widths(layout).sum + 1L
    def rowLenOf(name: String): Long =
      log.map(_.rowLenOf(name)).getOrElse(headRowLen)
    def dataColsOf(name: String): Int =
      log.map(_.dataColsOf(name)).getOrElse(-1)
    // pre-REORG-era files replay through position translation — their
    // records are not byte-prefixes of the current head layout
    def transOf(name: String): Option[(String, Array[Int])] =
      log.flatMap(_.fileTranslation(name))
    if (b <= a) return Array.empty
    val manifests: Map[Long, Map[String, Long]] = FwVersions.read(path)
      .map(r => r.v -> r.files.toMap).toMap
    val dir = new java.io.File(path)
    (a + 1 to b).flatMap { v =>
      val prev: Map[String, Long] =
        if (v == 1L) Map.empty
        else manifests.getOrElse(v - 1, throw new IllegalArgumentException(
          s"FixedWidth readChangeFeed: version ${v - 1} was vacuumed; " +
            s"start the read at a retained version"))
      val curr = manifests.getOrElse(v, throw new IllegalArgumentException(
        s"FixedWidth readChangeFeed: no version $v at $path"))
      val removed = prev.keysIterator.filterNot(curr.contains).toSeq
      if (removed.nonEmpty) {
        // COPY-ON-WRITE commit (merge/update/delete-rewrite/compaction/
        // truncate-retain): its exact row-grain delta lives in the
        // materialized change files — written eagerly by the row-level
        // commit, or computed here once (the inputs retired into
        // retained history, so both snapshots are still readable). A
        // compaction commit diffs to zero rows and streams nothing.
        if (!FwChangeData.exists(path, v)) {
          val spark = org.apache.spark.sql.SparkSession.active
          try FwChangeData.materialize(spark, path, declared, v)
          catch { case e: Exception =>
            throw new IllegalArgumentException(
              s"FixedWidth readChangeFeed: version $v supersedes files " +
                s"(${removed.take(3).mkString(", ")}…) — a copy-on-write " +
                "commit whose change data is not materialized and whose " +
                "pre-images are no longer readable (vacuumed?). Start " +
                "the read at a retained version or use " +
                s"FwChangeFeed.changesBetween. [${e.getMessage}]", e)
          }
        }
        // one partition per materialized part file: the COW writer fans
        // the delta out across tasks, and the CDF read keeps that
        // parallelism instead of draining one giant file serially.
        // Change data materialized BEFORE an ADD COLUMN is stored at
        // the then-head layout — its recorded spec sidecar resolves
        // the prefix width, and the reader NULL-backfills the rest.
        // change-data files are stored at the LOGICAL layout of their
        // materialization moment, which must be a (name, width) prefix
        // of the current logical head — true across ADD COLUMN, and
        // across mapping as long as the range's change data predates
        // no rename/drop (else: refuse, re-materialize after rewrite)
        val cdCols = FwChangeData.spec(path, v) match {
          case Some(s) =>
            val stored = FixedWidth.parseSchema(s)
            require(stored.length <= declared.length &&
              FwSchemaLog.structEq(stored, StructType(
                declared.fields.take(stored.length))),
              s"FixedWidth readChangeFeed: change data of version $v " +
                s"was materialized at layout '$s', which is not a " +
                "prefix of the table's current schema")
            stored.length
          case None =>
            // no recorded spec: only safe when the table never evolved
            // (then every layout in history IS the head). On an evolved
            // table this change data may have been materialized by an
            // older build at a NARROWER then-head — assuming the
            // current head would mis-slice every record.
            require(!FwSchemaLog.read(path).exists(l =>
              l.specs.length > 1 || l.hasMapping),
              s"FixedWidth readChangeFeed: change data of version $v " +
                "records no layout spec and the table has evolved — " +
                "its record length is ambiguous. Re-materialize the " +
                "change data (re-run the producing operation on this " +
                "build) or read the range from the file deltas")
            declared.length
        }
        val cdRowLen = FixedWidth.widths(declared)
          .take(cdCols).map(_.toLong).sum + 1L
        Seq("delete", "insert").flatMap { ct =>
          FwChangeData.changeFiles(path, v, ct).flatMap { f =>
            val n = f.length() / cdRowLen
            if (n > 0)
              Some(FwCdfPartition(f.getPath, Array((0L, n)), ct, v,
                if (cdCols == declared.length) -1 else cdCols,
                logicalSpec))
            else None
          }
        }
      } else {
        val inserts = curr.toSeq.sortBy(_._1).flatMap { case (name, len) =>
          val f = new java.io.File(dir, name)
          val rowLen = rowLenOf(name)
          val hi = (if (len < 0) f.length() else len) / rowLen
          val lo = prev.get(name).map(l =>
            (if (l < 0) 0L else l) / rowLen).getOrElse(0L)
          if (hi > lo) {
            val tr = transOf(name)
            Some(FwCdfPartition(f.getPath, Array((lo, hi - lo)),
              "insert", v,
              if (tr.isDefined) -1 else dataColsOf(name), layoutSpec,
              tr.map(_._1).orNull, tr.map(_._2).orNull))
          } else None
        }
        val deletes = curr.keysIterator.toSeq.sorted.flatMap { name =>
          val f = new java.io.File(dir, name)
          val ords = FwDv.read(f.getPath).filter(_._1 == v)
            .flatMap(_._2).distinct.sorted
          if (ords.isEmpty) None
          else {
            val tr = transOf(name)
            Some(FwCdfPartition(f.getPath, runsOf(ords.toArray),
              "delete", v,
              if (tr.isDefined) -1 else dataColsOf(name), layoutSpec,
              tr.map(_._1).orNull, tr.map(_._2).orNull))
          }
        }
        inserts ++ deletes
      }
    }.toArray
  }

  /** Collapse sorted ordinals into (start, count) runs. */
  private def runsOf(ords: Array[Long]): Array[(Long, Long)] = {
    val runs = Array.newBuilder[(Long, Long)]
    var i = 0
    while (i < ords.length) {
      val s = ords(i)
      var j = i + 1
      while (j < ords.length && ords(j) == ords(j - 1) + 1) j += 1
      runs += ((s, (j - i).toLong))
      i = j
    }
    runs.result()
  }
}

private[sources] case class FwCdfOffset(version: Long) extends Offset {
  override def json(): String = s"""{"version":$version}"""
}

private[sources] object FwCdfOffset {
  def parse(json: String): FwCdfOffset = {
    val m = "\"version\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(json)
      .getOrElse(throw new IllegalArgumentException(
        s"bad FixedWidth CDF offset: $json"))
    FwCdfOffset(m.group(1).toLong)
  }
}

/** One file's contribution to a micro-batch: contiguous record runs
  * plus the change tag and the commit version they belong to.
  */
/** `layoutSpec`: the spec the FILE's bytes are laid out in — the
  * physicalized table layout for data files, the materialization-time
  * logical layout for change-data files. `dataCols` counts the LEADING
  * layout fields physically present (-1 = all).
  */
private[sources] case class FwCdfPartition(file: String,
    runs: Array[(Long, Long)], changeType: String, version: Long,
    dataCols: Int = -1, layoutSpec: String = null,
    fileLayout: String = null, fieldMap: Array[Int] = null)
    extends InputPartition

private[sources] class FwCdfMicroBatchStream(declared: StructType,
    path: String, startingVersion: Option[Long]) extends MicroBatchStream {

  /** `startingVersion = n` means "stream changes from version n on";
    * absent, the stream tails only commits AFTER it started (the Delta
    * default).
    */
  override def initialOffset(): Offset =
    FwCdfOffset(startingVersion.map(_ - 1)
      .getOrElse(FwVersions.currentMax(path)))

  override def latestOffset(): Offset =
    FwCdfOffset(FwVersions.currentMax(path))

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] =
    FwCdf.partitionsBetween(declared, path,
      start.asInstanceOf[FwCdfOffset].version,
      end.asInstanceOf[FwCdfOffset].version)

  override def createReaderFactory(): PartitionReaderFactory =
    new FwCdfReaderFactory(declared)

  override def deserializeOffset(json: String): Offset =
    FwCdfOffset.parse(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[sources] class FwCdfReaderFactory(declared: StructType)
    extends PartitionReaderFactory {
  override def createReader(
      p: InputPartition): PartitionReader[InternalRow] =
    new FwCdfReader(declared, p.asInstanceOf[FwCdfPartition])
}

/** Reads each run through the ordinary record reader and appends the
  * constant (_change_type, _commit_version) pair.
  */
private[sources] class FwCdfReader(declared: StructType,
    part: FwCdfPartition) extends PartitionReader[InternalRow] {
  private val ct = UTF8String.fromString(part.changeType)
  private val types = declared.fields.map(_.dataType)
  // the file's byte layout may be wider than the declared output (a
  // column-mapped table's physicalized layout); the inner reader
  // projects the declared (logical) fields out of it by name
  private val layout =
    if (part.layoutSpec == null) declared
    else FixedWidth.parseSchema(part.layoutSpec)
  private var runIdx = 0
  private var cur: FwReader = _

  override def next(): Boolean = {
    while (true) {
      if (cur == null) {
        if (runIdx >= part.runs.length) return false
        val (s, n) = part.runs(runIdx)
        runIdx += 1
        cur = new FwReader(layout, declared.fieldNames, Array.empty,
          FwPartition(part.file, s, n, Array.empty, part.dataCols,
            part.fileLayout, part.fieldMap))
      }
      if (cur.next()) return true
      cur.close()
      cur = null
    }
    false
  }

  override def get(): InternalRow = {
    val r = cur.get()
    val arr = new Array[Any](types.length + 2)
    var i = 0
    while (i < types.length) {
      arr(i) = if (r.isNullAt(i)) null else r.get(i, types(i))
      i += 1
    }
    arr(types.length) = ct
    arr(types.length + 1) = part.version
    new GenericInternalRow(arr)
  }

  override def close(): Unit = if (cur != null) { cur.close(); cur = null }
}
