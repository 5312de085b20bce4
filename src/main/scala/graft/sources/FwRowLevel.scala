package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** GROUP-BASED (copy-on-write) row-level operations — the DSv2 surface
  * behind SQL `UPDATE`, `MERGE INTO`, and the `DELETE FROM` shapes the
  * metadata path declines (range predicates, multi-column conditions).
  * Spark's rewrite rules (`RewriteUpdateTable` / `RewriteMergeIntoTable`
  * / `RewriteDeleteFromTable`) turn the statement into a `ReplaceData`
  * plan: read every row of the files that MAY contain matches through
  * [[FwCowScan]], apply the assignments/actions row-side, and write the
  * replacement through [[FwCowBatchWrite]], which retires exactly the
  * scanned files.
  *
  * The load-bearing contract is GROUP GRAIN: the operation's scan uses
  * pushed predicates ONLY to choose candidate FILES (zone-map pruning —
  * a file whose key envelope excludes the condition is never rewritten),
  * and returns every predicate as a residual, because every record of a
  * selected file must reach the replacement write — a record-level
  * filter here would silently DELETE the non-matching rows of rewritten
  * files. For the same reason the COW scan never seek-narrows.
  *
  * 100 TB posture: an UPDATE keyed inside one file's envelope rewrites
  * one file; a full-table UPDATE rewrites the table once, distributed.
  * Superseded files retire into retained history (pins and the change
  * feed keep working; vacuum sweeps), and the commit is optimistic —
  * planned manifest version re-checked under the commit lock, loser
  * sweeps its tmps and raises ConcurrentModificationException.
  */
private[sources] final class FwRowLevelOperation(schema: StructType,
    path: String, cmd: RowLevelOperation.Command)
    extends RowLevelOperation {
  /** Names of the files the operation's scan planned — the groups the
    * write replaces. Written once by [[FwCowScan.planInputPartitions]]
    * (the scan always plans before any replacement row is written).
    */
  @volatile private[sources] var scannedFiles: Seq[String] = Seq.empty
  private[sources] val planVersion: Long = FwVersions.currentMax(path)

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"fixedwidth COW $cmd"

  /** Declaring `_file` is load-bearing, not cosmetic: with zero
    * metadata attributes Spark's `ReplaceDataExec` falls back to the
    * plain writing task and hands writers the RAW
    * `__row_operation`-prefixed rows (and would write MERGE's
    * to-delete rows). With it, the projecting task strips the
    * operation column, routes metadata separately, and drops deleted
    * rows — the Iceberg contract.
    */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column(FwTable.FileColumn))

  // Column mapping: Spark plans the operation at the LOGICAL schema
  // (`schema`); the byte-level scan and write below run on the
  // physicalized layout, translating at the boundary exactly like the
  // ordinary read/write paths. Resolved lazily at first plan, not at
  // op construction (the analyzer builds this op even for keyed
  // DELETEs the optimizer answers via the metadata path).
  private[sources] lazy val mapLog: Option[FwSchemaLog.Log] =
    FwSchemaLog.read(path).filter(_.hasMapping)
  private[sources] lazy val layout: StructType = mapLog.map { l =>
    require(FwSchemaLog.structEq(schema, l.logicalHead),
      s"FixedWidth: table at $path has renamed/dropped columns; " +
        s"declare its current schema " +
        s"'${FixedWidth.specOf(l.logicalHead)}'")
    l.physicalized
  }.getOrElse(schema)

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new FwCowScanBuilder(schema, path, this)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(info.schema().fieldNames.sameElements(schema.fieldNames),
      s"row-level write schema ${info.schema().fieldNames.mkString(",")}" +
        s" does not match table schema ${schema.fieldNames.mkString(",")}")
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new FwCowBatchWrite(schema, path, FwRowLevelOperation.this)
      }
    }
  }
}

private[sources] object FwRowLevelOperation {
  /** Builder hook for [[FwTable]]: refuses layouts the COW machinery
    * cannot rewrite (partitioned/bucketed — records there do not carry
    * their routing; pinned tables never mutate).
    */
  def builderFor(schema: StructType, properties: Map[String, String],
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    Seq("versionAsOf", "timestampAsOf", "changesFromVersion").foreach(p =>
      require(!properties.contains(p),
        s"FixedWidth: cannot run UPDATE/MERGE/DELETE through a $p pin"))
    Seq("partitionBy", "bucketBy").foreach(p =>
      require(!properties.contains(p),
        "FixedWidth: row-level operations are flat-table only " +
          s"(table declares $p)"))
    val path = properties.get("path")
      .map(p => if (p.startsWith("file:"))
        new java.net.URI(p).getPath else p)
      .getOrElse(throw new IllegalArgumentException(
        "FixedWidth row-level operation requires a path"))
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation =
        new FwRowLevelOperation(schema, path, info.command())
    }
  }
}

/** Group-selection scan builder: predicates prune FILES via zone maps
  * and come back as residuals in full (see [[FwRowLevelOperation]]).
  */
private[sources] final class FwCowScanBuilder(schema: StructType,
    path: String, op: FwRowLevelOperation)
    extends ScanBuilder with SupportsPushDownFilters
    with org.apache.spark.sql.connector.read
      .SupportsPushDownRequiredColumns {
  private var prune: Array[Filter] = Array.empty
  private var wantFile: Boolean = false

  override def pruneColumns(requiredSchema: StructType): Unit =
    // the rewrite asks for every data column plus the operation's
    // `_file` metadata attribute; data columns are never prunable here
    // (the replacement write needs whole rows)
    wantFile = requiredSchema.fieldNames.contains(FwTable.FileColumn)

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    prune = filters.filter(zoneSafe)
    filters // ALL residual: the condition only selects files here
  }
  override def pushedFilters(): Array[Filter] = Array.empty

  private def zoneSafe(f: Filter): Boolean = {
    def known(attr: String) = schema.fieldNames.contains(attr)
    f match {
      case EqualTo(a, _) => known(a)
      case GreaterThan(a, _) => known(a)
      case GreaterThanOrEqual(a, _) => known(a)
      case LessThan(a, _) => known(a)
      case LessThanOrEqual(a, _) => known(a)
      case In(a, vs) => known(a) && vs.nonEmpty
      case IsNotNull(a) => known(a)
      case And(l, r) => zoneSafe(l) && zoneSafe(r)
      case _ => false
    }
  }

  override def build(): Scan =
    new FwCowScan(schema, path, prune, op, wantFile)
}

private[sources] final class FwCowScan(schema: StructType, path: String,
    prune: Array[Filter], op: FwRowLevelOperation, wantFile: Boolean)
    extends Scan with Batch {
  private val recordsPerSplit = 1048576L

  override def readSchema(): StructType = {
    val data = schema.fields
      .map(f => org.apache.spark.sql.types.StructField(f.name, f.dataType))
    org.apache.spark.sql.types.StructType(if (wantFile)
      data :+ org.apache.spark.sql.types.StructField(FwTable.FileColumn,
        org.apache.spark.sql.types.StringType, nullable = false)
    else data)
  }
  override def toBatch: Batch = this
  override def description(): String =
    s"FwCowScan($path, prune=[${prune.mkString(",")}])"

  override def planInputPartitions(): Array[InputPartition] = {
    // schema evolution: each file parses at ITS layout (missing
    // trailing columns NULL); replacements write the head layout, so
    // a COW pass doubles as the old-file upgrade path. On a mapped
    // table the layout is the physicalized head (op.layout).
    val log = FwSchemaLog.requireHead(path, op.layout)
    val all = FwFiles.listAt(path, None, None)
    // zone-map pruning decides which files get REWRITTEN: a pruned
    // file keeps its identity (and is not retired); a kept file is
    // read in full — every record, no seek narrowing (non-matching
    // rows must be copied into the replacement)
    // mapping-aware pruning: a file skipped here is NOT rewritten, so a
    // retired-name envelope match would silently miss rows the DML must
    // touch — resolve through _phys, legacy sidecars never prune
    val kept =
      if (prune.isEmpty) all
      else all.filter(lf =>
        log.exists(_.fileTranslation(lf.file.getName).isDefined) ||
          FwStats.readMapped(lf.file, lf.bytes, log)
            .forall(stats => FwStats.mayMatch(stats, prune)))
    op.scannedFiles = kept.map(_.file.getName).toSeq
    kept.flatMap { lf =>
      val rowLen = log.map(_.rowLenOf(lf.file.getName))
        .getOrElse(FixedWidth.widths(op.layout).sum + 1L)
      // pre-REORG-era files (live again only after a rollback across
      // the reorg) translate head positions instead of prefix-parsing
      val trans = log.flatMap(_.fileTranslation(lf.file.getName))
      val dataCols =
        if (trans.isDefined) -1
        else log.map(_.dataColsOf(lf.file.getName)).getOrElse(-1)
      val n = lf.bytes / rowLen
      require(lf.bytes % rowLen == 0,
        s"FixedWidth: ${lf.file.getPath} length ${lf.bytes} is not a " +
          s"multiple of the record length $rowLen")
      // live read: deletion vectors apply, so a COW rewrite
      // materializes them away instead of resurrecting dead rows
      val dv = FwDv.ordinalsAsOf(lf.file.getPath, None)
      (0L until n by recordsPerSplit).map { start =>
        val cnt = math.min(recordsPerSplit, n - start)
        val slice =
          if (dv.isEmpty) Array.empty[Long]
          else dv.filter(o => o >= start && o < start + cnt)
        FwPartition(lf.file.getPath, start, cnt, slice, dataCols,
          trans.map(_._1).orNull, trans.map(_._2).orNull)
      }
    }.toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // no record-level filtering: the ReplaceData plan re-applies the
    // condition row-side and must see every row of every kept file.
    // Layout for byte offsets, logical names for the projected output.
    val base = new FwReaderFactory(op.layout, schema.fieldNames,
      Array.empty)
    if (wantFile)
      new FwFileAppendReaderFactory(base, schema.fields.map(_.dataType))
    else base
  }
}

/** Publishes the replacement files, retires the scanned originals into
  * retained history, and commits the post-rewrite snapshot — all under
  * the commit lock after the optimistic version re-check.
  */
private[sources] final class FwCowBatchWrite(schema: StructType,
    path: String, op: FwRowLevelOperation) extends BatchWrite {

  // see FwBatchWrite.writeTag: abort must sweep tasks whose commit
  // message never reached the driver
  private val writeTag =
    "-w" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = {
    val inner = new FwCowWriterFactory(op.layout, path,
      // CHECK constraints bind on the driver and gate the COW write
      // exactly like a batch append: an UPDATE/MERGE assigning a
      // violating value must abort, not publish (bound against the
      // layout — constraint names are logical, present there)
      FwConstraints.read(path).map(c =>
        (c.name, c.expr, FwConstraints.bind(op.layout, c.expr))),
      writeTag)
    // column mapping: the rewrite's rows arrive at the LOGICAL arity;
    // expand to the physical layout (dropped fields render NULL —
    // their pre-rewrite bytes are logically dead anyway)
    op.mapLog match {
      case Some(l) =>
        new FwMappedWriterFactory(inner, op.layout, l.writeSlotMap)
      case None => inner
    }
  }

  private def tmps(m: WriterCommitMessage): Seq[String] = m match {
    case FwCommitMessage(t) => Seq(t)
    case FwMultiCommitMessage(ts) => ts
    // Spark passes null for tasks that never committed (same contract
    // FwBatchWrite.abort honors)
    case null => Seq.empty
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val allPaths = messages.flatMap(tmps)
    // Spark runs one dummy task over an empty RDD (so the factory and
    // commit protocol still execute); its 0-byte tmp is not data —
    // drop it rather than publishing an empty file. A rewrite whose
    // every row was deleted also lands here: the retirement below
    // still runs off scannedFiles, so the rows genuinely vanish.
    val (empties, paths) =
      allPaths.partition(p => new java.io.File(p).length() == 0)
    empties.foreach(FwPublish.sweep)
    FwVersions.withLock(path) {
      try {
        FwVersions.requireVersion(path, op.planVersion,
          s"row-level ${op.command()}")
        // stage legality BEFORE publishing — a pending audit branch
        // must fail this commit with zero torn state
        FwVersions.requireCommitSlot(path, None)
      } catch { case e @ (_: java.util.ConcurrentModificationException
          | _: IllegalStateException) =>
        paths.foreach(FwPublish.sweep); throw e
      }
      paths.foreach(FwPublish.publish(_: String))
      // a rewrite that scanned nothing and wrote nothing (the condition
      // statically excluded every file) burns no version
      if (op.scannedFiles.nonEmpty || paths.nonEmpty) {
        val dir = new java.io.File(path)
        val replaced = FwMaintenance.retireInputs(path,
          op.scannedFiles.map(n => new java.io.File(dir, n).getPath))
        committedVersion = Some(FwVersions.commitSnapshotLocked(path,
          replaced, op = s"replace-${op.command().toString.toLowerCase}"))
      }
    }
    // Materialize the commit's change data eagerly (outside the lock —
    // both snapshots are durable) so a streaming change feed plans this
    // COW commit without running the diff itself. Best-effort: a
    // failure here leaves the lazy-materialize path to cover it.
    committedVersion.foreach { v =>
      try FwChangeData.materialize(
        org.apache.spark.sql.SparkSession.active, path, schema, v)
      catch { case e: Exception =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"change-data materialization for $path v$v deferred: " +
            e.getMessage)
      }
    }
  }

  @volatile private var committedVersion: Option[Long] = None

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    messages.flatMap(tmps).foreach(FwPublish.sweep)
    // message-less stragglers (committed after the job failed): their
    // tmps carry this write's tag — sweep by name (flat layout only;
    // COW rewrites never write partition subdirs)
    Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
      .foreach { f =>
        if (f.getName.endsWith(".tmp") && f.getName.contains(writeTag))
          f.delete()
      }
  }
}

private[sources] final class FwCowWriterFactory(schema: StructType,
    path: String,
    checks: Seq[(String, String,
      org.apache.spark.sql.catalyst.expressions.Expression)] = Seq.empty,
    nameTag: String = "")
    extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] = {
    val base = new FwDataWriter(schema, path, partitionId, taskId,
      prefix = "cow", writeStats = true, nameTag = nameTag)
    if (checks.isEmpty) base else new FwConstraintWriter(base, checks)
  }
}
