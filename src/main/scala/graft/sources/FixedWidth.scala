package graft.sources

import java.io.RandomAccessFile
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsDeleteV2, SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Fixed-width record reader as a full DataSource V2 implementation —
  * the engine's "bring your own format" extensibility proof, covering
  * the connector surface the built-in sources use themselves:
  *
  *  - `TableProvider` → `Table` → `ScanBuilder` → `Scan`/`Batch` →
  *    `PartitionReader`, usable as
  *    `spark.read.format("graft.sources.FixedWidth")`.
  *  - **Column pruning** (`SupportsPushDownRequiredColumns`): only the
  *    byte slices of required+filtered fields are ever parsed; a
  *    2-column projection of a 10-field record decodes 2 slices.
  *  - **Filter pushdown** (`SupportsPushDownFilters`): =, <, <=, >, >=,
  *    IsNotNull on any field are evaluated inside the reader, before
  *    row materialization; unsupported filters are returned to Spark
  *    as residuals.
  *  - **Record-aligned splits**: unlike CSV/JSON, fixed-width records
  *    make byte-range splitting EXACT — record i starts at
  *    `i * (recordLen+1)`, so a 100 TB file splits into independent
  *    partitions with zero boundary scanning or line resync. Split
  *    granularity is `recordsPerSplit` (default 1M records/split).
  *
  * Options:
  *  - `schema`: `name:type:width,...` — type ∈ long|int|double|string;
  *    width in BYTES (records must be ASCII-safe; numeric fields are
  *    left-padded with spaces, strings right-padded).
  *  - `recordsPerSplit`: split granularity (default 1048576).
  *  - `maxRecordsPerTrigger`: streaming admission cap — each
  *    micro-batch admits at most this many new records (default
  *    unlimited), so a large backlog drains as bounded, individually
  *    checkpointed batches.
  *
  * Records are `recordLen` bytes + a single `\n`. An all-spaces field
  * reads as NULL (both types); string fields are right-trimmed.
  */
class FixedWidth extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    if (options.getBoolean("history", false)) FwHistory.schema
    else if (options.getBoolean("readChangeFeed", false))
      FwCdf.readSchema(FixedWidth.parseSchema(options.get("schema")))
    else FixedWidth.parseSchema(options.get("schema"))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val props = properties.asScala.toMap
    if (props.get("history").exists(_.equalsIgnoreCase("true")))
      new FwHistoryTable(
        FixedWidth.parseSchema(props("schema")),
        props.get("path")
          .map(p => if (p.startsWith("file:"))
            new java.net.URI(p).getPath else p)
          .getOrElse(throw new IllegalArgumentException(
            "FixedWidth history read requires a path")))
    else if (props.get("readChangeFeed").exists(_.equalsIgnoreCase("true")))
      new FwCdfTable(
        FixedWidth.parseSchema(props("schema")),
        props.get("path")
          .map(p => if (p.startsWith("file:"))
            new java.net.URI(p).getPath else p)
          .getOrElse(throw new IllegalArgumentException(
            "FixedWidth readChangeFeed requires a path")))
    else new FwTable(schema, props)
  }

  override def supportsExternalMetadata(): Boolean = true
}

object FixedWidth {
  /** Last scan summary, for plan-shape tests: readSchema + pushed
    * filters as rendered by the ScanBuilder that Catalyst drove.
    */
  @volatile var lastScanSummary: String = ""
  /** Files skipped by zone-map pruning in the most recent batch plan. */
  @volatile var lastSkippedFiles: Int = 0
  /** Runtime (dynamic-pruning) filters delivered to the last scan. */
  @volatile var lastRuntimeFilters: Int = 0
  /** Partition directories pruned in the most recent partitioned plan. */
  @volatile var lastPrunedPartitions: Int = 0
  /** Records excluded by sorted-file seek narrowing in the last plan. */
  @volatile var lastSeekSkippedRecords: Long = 0L

  def parseSchema(spec: String): StructType = {
    require(spec != null && spec.nonEmpty,
      "FixedWidth requires option schema=name:type:width,...")
    StructType(spec.split(",").map { f =>
      val Array(name, tpe, w) = f.trim.split(":")
      val dt = tpe match {
        case "long" => LongType
        case "int" => IntegerType
        case "double" => DoubleType
        case "string" => StringType
        case other => throw new IllegalArgumentException(
          s"FixedWidth: unsupported field type '$other'")
      }
      StructField(name, dt, nullable = true,
        new MetadataBuilder().putLong("width", w.toInt.toLong).build())
    })
  }

  private[sources] def widths(schema: StructType): Array[Int] =
    schema.fields.map(_.metadata.getLong("width").toInt)

  /** [[parseSchema]]'s inverse: the `name:type:width,...` spec string
    * of a width-bearing schema.
    */
  private[sources] def specOf(schema: StructType): String =
    schema.fields.map { f =>
      val tpe = f.dataType match {
        case LongType => "long"
        case IntegerType => "int"
        case DoubleType => "double"
        case StringType => "string"
        case other => throw new IllegalArgumentException(
          s"FixedWidth: unsupported field type '$other' (${f.name})")
      }
      s"${f.name}:$tpe:${f.metadata.getLong("width")}"
    }.mkString(",")
}

private[sources] object FwTable {
  /** The file-provenance metadata column (`SELECT _file FROM t`) —
    * also the metadata attribute the row-level COW operations request,
    * so `ReplaceData` takes Spark's projecting write path (the plain
    * task would hand writers raw `__row_operation`-prefixed rows).
    */
  val FileColumn = "_file"

  /** `timestampAsOf` accepts epoch millis (all digits) or an ISO-8601
    * instant (`2026-08-15T10:00:00Z`); anything else fails loudly
    * rather than silently resolving to the epoch.
    */
  def parseTs(s: String): Long =
    try {
      if (s.matches("-?\\d+")) s.toLong
      else java.time.Instant.parse(s).toEpochMilli
    } catch {
      // NumberFormatException: a >19-digit all-digit string overflows
      // toLong — same friendly error as an unparseable instant
      case e @ (_: java.time.format.DateTimeParseException
          | _: NumberFormatException) =>
        throw new IllegalArgumentException(
          s"FixedWidth: timestampAsOf must be epoch millis or an " +
            s"ISO-8601 instant, got '$s'", e)
    }
}

private[sources] class FwTable(tableSchema: StructType,
    properties: Map[String, String]) extends Table
    with SupportsRead with SupportsWrite with SupportsDeleteV2
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  /** `_file`: which data file a row lives in — the provenance column
    * every lakehouse exposes, and the carrier for COW row-level ops.
    */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = FwTable.FileColumn
      override def dataType(): DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String =
        "name of the .fw data file holding this row"
    })

  /** SQL UPDATE / MERGE INTO / non-key DELETE — the group-based COW
    * path ([[FwRowLevelOperation]]). Key-shaped DELETEs never get
    * here: Spark's metadata-delete optimization consults
    * [[canDeleteWhere]] first, so `=`/`IN` erasures stay on the cheap
    * deletion-vector path and only genuinely row-level statements pay
    * the rewrite.
    */
  // The column-mapping gate lives in the operation's scan builder,
  // NOT here: Spark's RewriteDeleteFromTable builds this op at
  // ANALYSIS time even for keyed deletes that the optimizer later
  // routes to the metadata-delete path — throwing here would break
  // mapping-aware `DELETE FROM t WHERE k = …`.
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    FwRowLevelOperation.builderFor(declared, properties, info)
  // For writes (and external-metadata reads) Spark hands getTable the
  // DATAFRAME's schema, which has no width metadata — the layout truth
  // is always the `schema` option.
  private val declared: StructType =
    properties.get("schema").map(FixedWidth.parseSchema)
      .getOrElse(tableSchema)

  // COLUMN MAPPING (RENAME/DROP COLUMN, the Delta column-mapping
  // discipline): when the schema log carries a mapping, `declared` is
  // the user-visible LOGICAL schema and every scan/write runs on the
  // PHYSICALIZED layout — the full physical head (true byte offsets,
  // dropped fields as reserved placeholders) with logical names on
  // the mapped fields. Resolved lazily so fresh paths and unmapped
  // tables stay zero-overhead.
  private lazy val mappedLog: Option[FwSchemaLog.Log] = {
    val p = dataPath
    if (p == null) None
    else FwSchemaLog.read(p).filter(_.hasMapping)
  }
  /** The layout schema internal machinery runs on. */
  private lazy val layout: StructType = mappedLog.map { log =>
    require(FwSchemaLog.structEq(declared, log.logicalHead),
      s"FixedWidth: table at $dataPath has renamed/dropped columns; " +
        "declare its current schema " +
        s"'${FixedWidth.specOf(log.logicalHead)}'")
    log.physicalized
  }.getOrElse(declared)

  override def name(): String = s"fixedwidth(${properties.getOrElse("path", "?")})"
  override def schema(): StructType = declared
  override def partitioning(): Array[Transform] =
    properties.get("partitionBy").map(c => Array(
      org.apache.spark.sql.connector.expressions.Expressions.identity(c)))
      .orElse((properties.get("bucketBy"), properties.get("buckets")) match {
        case (Some(c), Some(n)) => Some(Array(
          org.apache.spark.sql.connector.expressions.Expressions
            .bucket(n.toInt, c)))
        case _ => None
      })
      .getOrElse(Array.empty)
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.STREAMING_WRITE, TableCapability.TRUNCATE)
  // catalog-routed reads/writes (SELECT/INSERT on fw.ns.t) carry no
  // per-operation options — the table's own properties hold the path.
  // Spark may URI-qualify the path (file:/...); java.io.File would
  // treat that as a relative path, so strip the scheme here too.
  private def pathFor(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).orElse(properties.get("path"))
      .map(p => if (p.startsWith("file:")) new java.net.URI(p).getPath else p)
      .orNull

  private def bucketsFor(
      options: CaseInsensitiveStringMap): Option[(String, Int)] = {
    val c = Option(options.get("bucketBy"))
      .orElse(properties.get("bucketBy"))
    val n = Option(options.get("buckets"))
      .orElse(properties.get("buckets")).map(_.toInt)
    (c, n) match {
      case (None, None) => None
      case (Some(col), Some(k)) =>
        require(k > 0, s"FixedWidth: buckets must be positive, got $k")
        val f = declared.fields.find(_.name == col).getOrElse(
          throw new IllegalArgumentException(
            s"FixedWidth: bucketBy column $col is not in the schema"))
        require(f.dataType == LongType || f.dataType == IntegerType ||
          f.dataType == StringType,
          s"FixedWidth: bucketBy column must be integral or string, " +
            s"got ${f.dataType}")
        Some((col, k))
      case _ => throw new IllegalArgumentException(
        "FixedWidth: bucketBy and buckets must be given together")
    }
  }

  private def pcolFor(options: CaseInsensitiveStringMap): Option[String] = {
    val p = Option(options.get("partitionBy"))
      .orElse(properties.get("partitionBy"))
    p.foreach { c =>
      val f = declared.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"FixedWidth: partitionBy column $c is not in the schema"))
      require(f.dataType == LongType || f.dataType == IntegerType ||
        f.dataType == StringType,
        s"FixedWidth: partitionBy column must be integral or string, " +
          s"got ${f.dataType}")
    }
    p
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // per-read option first, then the table-level pin a catalog
    // VERSION AS OF / TIMESTAMP AS OF load stamps into properties
    val verPin = Option(options.get("versionAsOf")).map(_.toLong)
      .orElse(properties.get("versionAsOf").map(_.toLong))
    val tsPin = Option(options.get("timestampAsOf"))
      .orElse(properties.get("timestampAsOf"))
    val branchPin = Option(options.get("branch"))
      .orElse(properties.get("branch"))
    require(Seq(verPin, tsPin, branchPin).count(_.isDefined) <= 1,
      "FixedWidth: versionAsOf, timestampAsOf and branch are " +
        "mutually exclusive")
    val changesFrom = Option(options.get("changesFromVersion")).map(_.toLong)
    val path = pathFor(options)
    // WAP default view: once refs exist, an un-pinned read resolves
    // through `main` instead of the live listing — staged data is
    // invisible until published (partitioned/bucketed layouts have no
    // manifest, so they keep the live listing)
    val mainPin =
      if (verPin.isEmpty && tsPin.isEmpty && branchPin.isEmpty &&
        changesFrom.isEmpty && pcolFor(options).isEmpty &&
        bucketsFor(options).isEmpty)
        FwRefs.mainVersion(path)
      else None
    new FwScanBuilder(layout, path,
      Option(options.get("recordsPerSplit")).map(_.toLong).getOrElse(1L << 20),
      Option(options.get("maxRecordsPerTrigger")).map(_.toLong),
      verPin.orElse(tsPin.map(s => FwVersions.resolveTimestamp(
          path, FwTable.parseTs(s))))
        .orElse(branchPin.map(b => FwRefs.resolve(path, b)))
        .orElse(mainPin),
      changesFrom,
      pcolFor(options), bucketsFor(options),
      // the implicit main-pin is a BATCH default view, not a user pin:
      // a stream must keep following main/live instead of tripping the
      // "versionAsOf is batch-only" guard just because a ref exists
      followMain = verPin.isEmpty && tsPin.isEmpty && branchPin.isEmpty &&
        changesFrom.isEmpty && pcolFor(options).isEmpty &&
        bucketsFor(options).isEmpty)
  }

  /** A copy of this table pinned to one snapshot version — what
    * [[FwCatalog.loadTable(ident, version)]] hands Spark for SQL
    * `VERSION AS OF n`.
    */
  private[sources] def atVersion(version: String): FwTable =
    new FwTable(tableSchema, properties + ("versionAsOf" -> version))

  /** A copy pinned to the newest snapshot committed at or before the
    * given epoch-millis instant — SQL `TIMESTAMP AS OF`. Resolution to
    * a concrete version happens at scan time, where the path is
    * known-good.
    */
  private[sources] def atTimestamp(millis: Long): FwTable =
    new FwTable(tableSchema,
      properties + ("timestampAsOf" -> millis.toString))

  /** A copy pinned to a named ref — SQL `VERSION AS OF 'branch'` (the
    * Iceberg branch/tag-read idiom: a non-numeric version string names
    * a ref). Resolution to a version happens at scan time.
    */
  private[sources] def atBranch(name: String): FwTable =
    new FwTable(tableSchema, properties + ("branch" -> name))

  /** Storage location (scheme-stripped) — for catalog procedures. */
  private[sources] def dataPath: String =
    pathFor(CaseInsensitiveStringMap.empty())
  /** Width-bearing schema — for catalog procedures. */
  private[sources] def declaredSchema: StructType = declared
  /** The constructor property map — for catalog ALTER rebuilds. */
  private[sources] def tableProps: Map[String, String] = properties

  // ---- SQL DELETE (SupportsDeleteV2, merge-on-read) ------------------
  /** `DELETE FROM cat.ns.t WHERE <key predicate>` routes here — the
    * group-based v2 delete. Accepted shapes are exactly what
    * [[FwMaintenance.deleteKeySetMoR]] erases via deletion-vector
    * sidecars: ONE `=` or `IN` predicate on a single integral/string
    * column with non-null literals (zero data files rewritten; version
    * pins before the delete keep reading the rows). An EMPTY predicate
    * array — `DELETE FROM t` / TRUNCATE TABLE — retires every live
    * file into retained history ([[FwMaintenance.truncateRetain]]).
    * Everything else declines in [[canDeleteWhere]] so Spark raises
    * its clean cannot-delete analysis error instead of this table
    * guessing at semantics. Pinned tables (versionAsOf/timestampAsOf)
    * and partitioned/bucketed layouts always decline.
    */
  override def canDeleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions
        .filter.Predicate]): Boolean =
    deletePlan(predicates).isDefined

  override def deleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions
        .filter.Predicate]): Unit = {
    val plan = deletePlan(predicates).getOrElse(
      throw new IllegalArgumentException(
        "FixedWidth DELETE supports a single =/IN predicate on one " +
          s"integral or string column; got " +
          predicates.map(_.describe()).mkString(" AND ")))
    val path = dataPath
    require(path != null, "FixedWidth DELETE requires a path")
    plan match {
      case None => FwMaintenance.truncateRetain(path)
      case Some((keyCol, keys)) =>
        // `layout` (not `declared`): the ordinal scan slices records,
        // so a column-mapped table needs the physicalized schema
        FwMaintenance.deleteKeySetMoR(
          org.apache.spark.sql.SparkSession.active, path, layout,
          keys, keyCol)
    }
    ()
  }

  /** None = cannot delete; Some(None) = truncate; Some(Some((col,
    * normalized keys))) = merge-on-read key delete.
    */
  private def deletePlan(
      predicates: Array[org.apache.spark.sql.connector.expressions
        .filter.Predicate]): Option[Option[(String, Set[Any])]] = {
    // a pinned or partitioned table never deletes in place
    if (Seq("versionAsOf", "timestampAsOf", "changesFromVersion",
        "partitionBy", "bucketBy").exists(properties.contains))
      return None
    if (properties.get("path").isEmpty) return None
    // `DELETE FROM t` arrives as no predicates or a literal TRUE —
    // both mean "every row": truncate into retained history
    if (predicates.isEmpty) return Some(None)
    if (predicates.length != 1) return None
    if (predicates.head.name() == "ALWAYS_TRUE"
      || predicates.head.describe() == "TRUE") return Some(None)
    def norm(dt: DataType, v: Any): Option[Any] = (dt, v) match {
      case (_, null) => None
      case (LongType, n: java.lang.Long) => Some(n.longValue)
      case (LongType, n: java.lang.Integer) => Some(n.longValue)
      case (IntegerType, n: java.lang.Integer) => Some(n.longValue)
      case (IntegerType, n: java.lang.Long)
        if n.longValue == n.intValue.toLong => Some(n.longValue)
      case (StringType, s: String) => Some(s)
      case (StringType, s: UTF8String) => Some(s.toString)
      case _ => None
    }
    def keyed(col: String, values: Seq[Any]): Option[(String, Set[Any])] = {
      val i = declared.fieldNames.indexOf(col)
      if (i < 0) return None
      val dt = declared.fields(i).dataType
      if (!Seq(LongType, IntegerType, StringType).contains(dt)) return None
      val normed = values.map(norm(dt, _))
      if (normed.exists(_.isEmpty) || normed.isEmpty) None
      else Some((col, normed.flatten.toSet))
    }
    org.apache.spark.sql.graftbridge
      .predicateToV1(predicates.head) match {
      case Some(EqualTo(c, v)) => keyed(c, Seq(v)).map(Some(_))
      case Some(In(c, vs)) => keyed(c, vs.toSeq).map(Some(_))
      case _ => None
    }
  }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val path = pathFor(info.options)
    require(path != null, "FixedWidth write requires a path")
    require(info.schema().fieldNames.sameElements(declared.fieldNames),
      s"write schema ${info.schema().fieldNames.mkString(",")} does not " +
        s"match table schema ${declared.fieldNames.mkString(",")}")
    val buckets = bucketsFor(info.options)
    require(buckets.isEmpty || pcolFor(info.options).isEmpty,
      "FixedWidth: bucketBy and partitionBy are mutually exclusive")
    val txn = (Option(info.options.get("txnAppId")),
        Option(info.options.get("txnVersion"))) match {
      case (Some(app), Some(v)) =>
        require(buckets.isEmpty && pcolFor(info.options).isEmpty,
          "FixedWidth: txnAppId/txnVersion (idempotent writes) are a " +
            "flat-table contract — partitioned/bucketed layouts do " +
            "not version")
        val tv =
          try v.toLong
          catch {
            case _: NumberFormatException =>
              throw new IllegalArgumentException(
                s"FixedWidth: txnVersion must be a long, got '$v'")
          }
        Some((app, tv))
      case (None, None) => None
      case _ => throw new IllegalArgumentException(
        "FixedWidth: txnAppId and txnVersion must be set together")
    }
    val stage = Option(info.options.get("branch"))
      .filter(_ != "main")
    require(stage.isEmpty ||
      (buckets.isEmpty && pcolFor(info.options).isEmpty),
      "FixedWidth: branch writes (write-audit-publish) are a " +
        "flat-table contract — partitioned/bucketed layouts do not " +
        "version")
    val wb = new FwWriteBuilder(layout, path, pcolFor(info.options),
      Option(info.options.get("sortedBy")).map { c =>
        require(declared.fieldNames.contains(c),
          s"FixedWidth: sortedBy column $c is not in the schema")
        c
      }, buckets, txn, stage)
    // column mapping: incoming rows carry the LOGICAL fields; the
    // layout has every physical field. Wrap each task writer so rows
    // expand to physical arity (dropped fields render NULL).
    mappedLog match {
      case None => wb
      case Some(log) => new FwMappedWriteBuilder(wb, layout,
        log.writeSlotMap)
    }
  }
}

/** Decorates the write stack of a column-mapped table: every incoming
  * LOGICAL row (the table's user-visible fields) expands to the full
  * PHYSICAL layout before reaching the byte-level writers — mapped
  * fields copy through, dropped fields render NULL (all-spaces). The
  * expansion is a per-row array copy, fused into the task's write
  * loop; nothing about the commit protocol changes.
  */
private[sources] class FwMappedWriteBuilder(inner: FwWriteBuilder,
    layout: StructType, slotMap: Array[Int])
    extends WriteBuilder with SupportsTruncate {
  override def truncate(): WriteBuilder = { inner.truncate(); this }
  override def build(): Write = {
    val w = inner.build()
    new Write {
      override def toBatch: BatchWrite = {
        val b = w.toBatch
        new BatchWrite {
          override def createBatchWriterFactory(
              info: PhysicalWriteInfo): DataWriterFactory =
            new FwMappedWriterFactory(
              b.createBatchWriterFactory(info), layout, slotMap)
          override def commit(messages: Array[WriterCommitMessage]): Unit =
            b.commit(messages)
          override def abort(messages: Array[WriterCommitMessage]): Unit =
            b.abort(messages)
        }
      }
      override def toStreaming
          : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
        val s = w.toStreaming
        new org.apache.spark.sql.connector.write.streaming.StreamingWrite {
          override def createStreamingWriterFactory(info: PhysicalWriteInfo)
              : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
            new FwMappedStreamingWriterFactory(
              s.createStreamingWriterFactory(info), layout, slotMap)
          override def commit(epochId: Long,
              messages: Array[WriterCommitMessage]): Unit =
            s.commit(epochId, messages)
          override def abort(epochId: Long,
              messages: Array[WriterCommitMessage]): Unit =
            s.abort(epochId, messages)
        }
      }
    }
  }
}

/** Serializable factory wrappers (ship to executors). */
private[sources] class FwMappedWriterFactory(inner: DataWriterFactory,
    layout: StructType, slotMap: Array[Int]) extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new FwMappedRowWriter(inner.createWriter(partitionId, taskId),
      layout, slotMap)
}

private[sources] class FwMappedStreamingWriterFactory(
    inner: org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory,
    layout: StructType, slotMap: Array[Int])
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new FwMappedRowWriter(
      inner.createWriter(partitionId, taskId, epochId), layout, slotMap)
}

/** Logical→physical row expansion for one task's writes. */
private[sources] class FwMappedRowWriter(
    inner: DataWriter[InternalRow], layout: StructType,
    slotMap: Array[Int]) extends DataWriter[InternalRow] {
  private val types = layout.fields.map(_.dataType)

  private def expand(row: InternalRow): InternalRow = {
    val arr = new Array[Any](slotMap.length)
    var i = 0
    while (i < slotMap.length) {
      val li = slotMap(i)
      arr(i) =
        if (li < 0 || row.isNullAt(li)) null
        else types(i) match {
          case LongType => row.getLong(li)
          case IntegerType => row.getInt(li)
          case DoubleType => row.getDouble(li)
          case _ => row.getUTF8String(li)
        }
      i += 1
    }
    new GenericInternalRow(arr)
  }

  override def write(row: InternalRow): Unit = inner.write(expand(row))
  // the COW ReplaceData path routes metadata separately from the row
  override def write(metadata: InternalRow, row: InternalRow): Unit =
    inner.write(metadata, expand(row))
  override def commit(): WriterCommitMessage = inner.commit()
  override def abort(): Unit = inner.abort()
  override def close(): Unit = inner.close()
}

/** Distributed fixed-width writer: each task renders its partition to
  * `part-<pid>-<task>.fw.tmp`; the driver commit publishes all tmps to
  * `.fw` (deleting pre-existing data first under truncate/overwrite),
  * abort removes them. Same two-phase task-file protocol the built-in
  * file sources use, minus the Hadoop committer machinery (local-fs
  * rename is atomic enough here; a production port would swap in
  * FileCommitProtocol).
  */
private[sources] class FwWriteBuilder(schema: StructType, path: String,
    partitionBy: Option[String] = None,
    sortedBy: Option[String] = None,
    bucketBy: Option[(String, Int)] = None,
    txn: Option[(String, Long)] = None,
    stage: Option[String] = None)
    extends WriteBuilder with SupportsTruncate {
  private var truncateFirst = false
  override def truncate(): WriteBuilder = { truncateFirst = true; this }
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new FwBatchWrite(schema, path,
      truncateFirst, partitionBy, sortedBy, bucketBy, txn, stage)
    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      require(partitionBy.isEmpty,
        "FixedWidth: partitionBy is batch-only; streaming epochs do " +
          "not route hive-style partitions")
      // layout claims must fail loudly, not drop silently: a streamed
      // epoch written flat at the root would be invisible to
      // FwBucketScan (it lists only bucket=* dirs), and an uncertified
      // "sorted" claim would poison later seek windows
      require(bucketBy.isEmpty,
        "FixedWidth: bucketBy is batch-only; streamed epochs write " +
          "flat files the bucketed scan never lists")
      require(sortedBy.isEmpty,
        "FixedWidth: sortedBy is batch-only; streaming writers do " +
          "not certify sort order")
      require(txn.isEmpty,
        "FixedWidth: txnAppId/txnVersion are batch-only; streaming " +
          "exactly-once rides the checkpoint epoch, not manifest txns")
      require(stage.isEmpty,
        "FixedWidth: branch writes are batch-only; streaming epochs " +
          "do not version")
      new FwStreamingWrite(schema, path)
    }
  }
}

/** Streaming sink: each epoch's tasks write
  * `epoch-<epoch>-<pid>-<task>.fw.tmp`; the driver publishes them on
  * epoch commit. Readers only ever see whole `.fw` files (and the
  * fixed-width invariant means a published file can never tear a
  * record).
  *
  * EXACTLY-ONCE at the table level: the sink keeps an epoch log
  * (`_fw_epochs.json`, under the table's commit lock). A restarted
  * query replaying an epoch the log already records is swept, not
  * re-published; and because a crash can land BETWEEN publishing an
  * epoch's files and recording it, the commit is made idempotent by
  * construction — it first removes any `.fw` files carrying this
  * epoch's name prefix (leftovers of a torn, unrecorded commit; a
  * RECORDED epoch never reaches this path), then publishes, then
  * records the epoch. The file-sink transaction-log discipline with
  * the log reduced to epoch ids, which works here because an epoch's
  * file names are prefix-stamped with its id.
  */
private[sources] class FwStreamingWrite(schema: StructType, path: String)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory = {
    FwSchemaLog.requireHead(path, schema) // evolved → head layout only
    // CHECK constraints gate EVERY write path (the Delta invariant
    // discipline) — streaming epochs enforce the same driver-bound
    // predicates as batch commits
    val checks = FwConstraints.read(path).map(c =>
      (c.name, c.expr, FwConstraints.bind(schema, c.expr)))
    new FwStreamingWriterFactory(schema, path, checks)
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    FwVersions.withLock(path) {
      if (FwEpochs.committed(path, epochId)) {
        // restart replay of a recorded epoch: sweep, publish nothing
        messages.foreach {
          case FwCommitMessage(tmp) => FwPublish.sweep(tmp)
          case _ => ()
        }
      } else {
        // sweep a torn earlier attempt of this (unrecorded) epoch —
        // the epoch- prefix is streaming-only, so the sweep can never
        // match a committed batch file (part-%05d-…)
        val prefix = f"epoch-$epochId-"
        new java.io.File(path).listFiles().foreach { f =>
          if (f.getName.startsWith(prefix) && f.getName.endsWith(".fw"))
            f.delete()
        }
        messages.foreach {
          case FwCommitMessage(tmp) =>
            if (new java.io.File(tmp).exists()) FwPublish.publish(tmp)
          case _ => () // defensive: never MatchError a commit path
        }
        FwEpochs.record(path, epochId)
      }
    }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case FwCommitMessage(tmp) => FwPublish.sweep(tmp)
      case _ => ()
    }
}

/** The streaming sink's epoch log — committed epoch ids in
  * `_fw_epochs.json`, bounded to the newest [[FwEpochs.Retain]] (a
  * restart replays the checkpoint's LAST epoch, so a deep history is
  * never consulted). Callers hold the table's commit lock.
  */
private[sources] object FwEpochs {
  val Retain = 1000

  private def fileFor(path: String): java.io.File =
    new java.io.File(path, "_fw_epochs.json")

  def read(path: String): Seq[Long] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val f = fileFor(path)
    if (!f.isFile) Seq.empty
    else JsonMethods.parse(
      new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)) \ "epochs" match {
      case JArray(es) => es.map {
        case JInt(n) => n.toLong
        case JLong(n) => n
        case other => throw new IllegalArgumentException(
          s"bad _fw_epochs.json entry: $other")
      }
      case other =>
        throw new IllegalArgumentException(s"bad _fw_epochs.json: $other")
    }
  }

  def committed(path: String, epochId: Long): Boolean =
    read(path).contains(epochId)

  def record(path: String, epochId: Long): Unit = {
    import org.json4s.JsonDSL._
    val epochs = (read(path) :+ epochId).sorted.takeRight(Retain)
    FwPublish.writeJson(fileFor(path), "epochs" -> epochs)
  }
}

private[sources] class FwStreamingWriterFactory(schema: StructType,
    path: String,
    checks: Seq[(String, String,
      org.apache.spark.sql.catalyst.expressions.Expression)] = Seq.empty)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = {
    // `epoch-` prefix: a name batch writers can never produce
    // (part-%05d-…), so the torn-epoch sweep can key on the epoch id
    // without ever matching committed batch data
    val base: DataWriter[InternalRow] =
      new FwDataWriter(schema, path, partitionId, taskId,
        prefix = s"epoch-$epochId")
    if (checks.isEmpty) base else new FwConstraintWriter(base, checks)
  }
}

private[sources] case class FwCommitMessage(tmpPath: String)
    extends WriterCommitMessage
/** One partitioned-write task publishes one tmp file PER partition
  * value it saw.
  */
private[sources] case class FwMultiCommitMessage(tmpPaths: Seq[String])
    extends WriterCommitMessage

private[sources] class FwBatchWrite(schema: StructType, path: String,
    truncateFirst: Boolean, partitionBy: Option[String] = None,
    sortedBy: Option[String] = None,
    bucketBy: Option[(String, Int)] = None,
    txn: Option[(String, Long)] = None,
    stage: Option[String] = None)
    extends BatchWrite {
  // Every tmp this write's tasks produce carries this tag in its file
  // name, so abort can sweep files whose commit message never reached
  // the driver (a task that commits after the job already failed —
  // Spark's message slot for it is null forever).
  private val writeTag =
    "-w" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    // CHECK constraints resolve ONCE on the driver (full analysis
    // against the write schema); the bound expressions ship to tasks
    val checks = FwConstraints.read(path).map(c =>
      (c.name, c.expr, FwConstraints.bind(schema, c.expr)))
    new FwWriterFactory(schema, path, partitionBy, sortedBy, bucketBy,
      checks, writeTag)
  }

  private def tmps(m: WriterCommitMessage): Seq[String] = m match {
    case FwCommitMessage(t) => Seq(t)
    case FwMultiCommitMessage(ts) => ts
    // Spark passes a null slot for every task that never reached
    // commit() — abort-after-task-failure must still sweep the tasks
    // that DID commit, not MatchError on the ones that didn't
    case null => Seq.empty
  }

  // the whole publish phase runs under the table's commit lock: two
  // concurrent batch commits serialize into a legal history (append +
  // append both land with distinct versions; overwrite's truncate and
  // publish can never interleave with another writer's publish)
  override def commit(messages: Array[WriterCommitMessage]): Unit =
    FwVersions.withLock(path)(commitLocked(messages))

  private def commitLocked(messages: Array[WriterCommitMessage]): Unit = {
    // idempotent-append check (the Delta txn discipline): a retried
    // job version at or below the manifest's high-water mark for this
    // app already committed — sweep the tmps and return WITHOUT
    // publishing, so retries are exactly-once at the table level
    val txnDup = txn.exists { case (app, tv) =>
      FwVersions.txnHighWater(path).get(app).exists(_ >= tv)
    }
    if (txnDup) { abort(messages); return }
    require(!(truncateFirst && stage.isDefined),
      "FixedWidth: overwrite cannot stage to a branch — truncate " +
        "physically deletes the files every other ref still reads")
    // stage-vs-commit legality BEFORE any file publishes: an illegal
    // interleave must leave zero torn state
    if (partitionBy.isEmpty && bucketBy.isEmpty)
      FwVersions.requireCommitSlot(path, stage)
    // an evolved table accepts only head-layout writes (a stale-schema
    // writer would publish files the head parse mis-slices)
    FwSchemaLog.requireHead(path, schema)
    if (truncateFirst) {
      // TRUNCATE is scorched-earth: retained COW history dies with the
      // live set (physical listing), and every sidecar — stats AND
      // deletion vectors — goes too, so a recycled file name can never
      // inherit a stale vector
      val all = FwFiles.listPhysical(path) ++
        partitionBy.toSeq.flatMap(c =>
          FwFiles.listPartitioned(path, c).map(_._2)) ++
        bucketBy.toSeq.flatMap(_ =>
          FwFiles.listPartitioned(path, "bucket").map(_._2))
      all.foreach(FwPublish.remove)
      // every file is gone: stale name→schema-version stamps must go
      // too, or a recycled name would inherit the wrong layout
      FwSchemaLog.purgeFiles(path)
    }
    // target lives next to its tmp (the partition subdir for
    // partitioned writes, the table dir otherwise)
    messages.flatMap(tmps).foreach(FwPublish.publish(_: String))
    // every successful batch commit is a snapshot version: the manifest
    // records the full post-commit file set for VERSION AS OF reads.
    // Partitioned/bucketed tables do not version (their layout is the
    // directory tree; snapshot pinning is a flat-table contract).
    if (partitionBy.isEmpty && bucketBy.isEmpty)
      FwVersions.commitSnapshotLocked(path, txn = txn, stageBranch = stage,
        op = if (truncateFirst) "overwrite" else "append")
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    messages.flatMap(tmps).foreach(FwPublish.sweep)
    // Message-less stragglers: a task whose commit raced the job abort
    // published no message, but its tmps carry this write's tag — sweep
    // them by name. Other writers' tags never match, so legal
    // concurrent commits are untouched.
    val root = new java.io.File(path)
    val dirs = root +: Option(root.listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).toSeq
    dirs.foreach { d =>
      Option(d.listFiles()).getOrElse(Array.empty).foreach { f =>
        if (f.getName.endsWith(".tmp") && f.getName.contains(writeTag))
          f.delete()
      }
    }
  }
}

private[sources] class FwWriterFactory(schema: StructType, path: String,
    partitionBy: Option[String] = None,
    sortedBy: Option[String] = None,
    bucketBy: Option[(String, Int)] = None,
    checks: Seq[(String, String,
      org.apache.spark.sql.catalyst.expressions.Expression)] = Seq.empty,
    nameTag: String = "")
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val base: DataWriter[InternalRow] = (partitionBy, bucketBy) match {
      case (Some(pcol), _) =>
        new FwPartitionedDataWriter(schema, path, pcol, partitionId,
          taskId, sortedBy.filter(_ != pcol), nameTag = nameTag)
      case (None, Some((bcol, n))) =>
        new FwBucketedDataWriter(schema, path, bcol, n, partitionId,
          taskId, sortedBy, nameTag = nameTag)
      case _ =>
        new FwDataWriter(schema, path, partitionId, taskId,
          writeStats = true, sortedBy = sortedBy, nameTag = nameTag)
    }
    if (checks.isEmpty) base else new FwConstraintWriter(base, checks)
  }
}

/** Per-task CHECK enforcement: every row passes each constraint's
  * codegen'd predicate before reaching the real writer; an explicit
  * FALSE fails the task (Spark aborts the write, tmps are swept).
  * Compilation happens once per task from the driver-bound expression.
  */
private[sources] class FwConstraintWriter(
    inner: DataWriter[InternalRow],
    checks: Seq[(String, String,
      org.apache.spark.sql.catalyst.expressions.Expression)])
    extends DataWriter[InternalRow] {
  private val preds = checks.map { case (n, e, b) =>
    (n, e, FwConstraints.violationPredicate(b))
  }.toArray

  private def enforce(row: InternalRow): Unit = {
    var i = 0
    while (i < preds.length) {
      if (preds(i)._3.eval(row))
        throw new IllegalArgumentException(
          s"FixedWidth: CHECK constraint '${preds(i)._1}' " +
            s"(${preds(i)._2}) violated")
      i += 1
    }
  }

  override def write(row: InternalRow): Unit = {
    enforce(row); inner.write(row)
  }
  override def write(metadata: InternalRow, row: InternalRow): Unit = {
    enforce(row); inner.write(metadata, row)
  }
  override def commit(): WriterCommitMessage = inner.commit()
  override def abort(): Unit = inner.abort()
  override def close(): Unit = inner.close()
}

/** Hash-bucketed writer: rows route to `bucket=<id>` directories by a
  * STABLE source-owned hash of the bucket column (identity mod n for
  * integrals, `String.hashCode` mod n for strings — both specified
  * algorithms, identical on every JVM). Unlike the hive partition
  * layout, the bucket column stays IN the records; the directory only
  * encodes co-location, which is what lets two tables bucketed the
  * same way join with zero shuffle at any key cardinality.
  */
private[sources] class FwBucketedDataWriter(schema: StructType,
    path: String, bcol: String, numBuckets: Int, partitionId: Int,
    taskId: Long, sortedBy: Option[String] = None, nameTag: String = "")
    extends DataWriter[InternalRow] {
  private val bIdx = schema.fieldNames.indexOf(bcol)
  private val writers =
    scala.collection.mutable.LinkedHashMap.empty[Int, FwDataWriter]

  private def bucketOf(row: InternalRow): Int = {
    require(!row.isNullAt(bIdx),
      s"FixedWidth: bucket column $bcol must be non-null")
    FwBuckets.idOf(schema.fields(bIdx).dataType match {
      case LongType => row.getLong(bIdx)
      case IntegerType => row.getInt(bIdx).toLong
      case _ => row.getUTF8String(bIdx).toString
    }, numBuckets)
  }

  override def write(row: InternalRow): Unit =
    writers.getOrElseUpdate(bucketOf(row), {
      val sub = new java.io.File(path, s"bucket=${bucketOf(row)}")
      new FwDataWriter(schema, sub.getPath, partitionId, taskId,
        writeStats = true, sortedBy = sortedBy, nameTag = nameTag)
    }).write(row)

  override def commit(): WriterCommitMessage =
    FwMultiCommitMessage(writers.values.toSeq.map(_.commit() match {
      case FwCommitMessage(t) => t
    }))
  override def abort(): Unit = writers.values.foreach(_.abort())
  override def close(): Unit = writers.values.foreach(_.close())
}

/** The source-owned bucket function. Both sides of a
  * storage-partitioned join must have been written by THIS function —
  * Spark only pairs equal bucket ids, it never recomputes the hash.
  */
private[sources] object FwBuckets {
  def idOf(v: Any, n: Int): Int = v match {
    case l: Long => java.lang.Math.floorMod(l, n.toLong).toInt
    case s: String => java.lang.Math.floorMod(s.hashCode, n)
    case other => throw new IllegalArgumentException(
      s"unsupported bucket value: $other")
  }
}

/** Hive-style partitioned writer: routes each row to
  * `<pcol>=<value>/part-<pid>-<task>.fw` via one inner [[FwDataWriter]]
  * per value this task sees (the partition column itself is NOT stored
  * in the records — the directory name carries it, the classic
  * hive-layout contract). Partition values must be non-null: a null
  * has no directory spelling, and erasing it silently would un-count
  * rows.
  */
private[sources] class FwPartitionedDataWriter(schema: StructType,
    path: String, pcol: String, partitionId: Int, taskId: Long,
    sortedBy: Option[String] = None, nameTag: String = "")
    extends DataWriter[InternalRow] {
  private val pIdx = schema.fieldNames.indexOf(pcol)
  private val dataSchema = StructType(
    schema.fields.zipWithIndex.collect { case (f, i) if i != pIdx => f })
  private val writers =
    scala.collection.mutable.LinkedHashMap.empty[String, FwDataWriter]

  private def valueOf(row: InternalRow): String = {
    require(!row.isNullAt(pIdx),
      s"FixedWidth: partition column $pcol must be non-null")
    schema.fields(pIdx).dataType match {
      case LongType => row.getLong(pIdx).toString
      case IntegerType => row.getInt(pIdx).toString
      case _ => row.getUTF8String(pIdx).toString
    }
  }

  override def write(row: InternalRow): Unit = {
    val w = writers.getOrElseUpdate(valueOf(row), {
      val sub = new java.io.File(path, s"$pcol=${valueOf(row)}")
      new FwDataWriter(dataSchema, sub.getPath, partitionId, taskId,
        writeStats = true, sortedBy = sortedBy, nameTag = nameTag)
    })
    val vals = new Array[Any](dataSchema.length)
    var i = 0
    var o = 0
    while (i < schema.length) {
      if (i != pIdx) {
        vals(o) =
          if (row.isNullAt(i)) null
          else schema.fields(i).dataType match {
            case LongType => row.getLong(i)
            case IntegerType => row.getInt(i)
            case DoubleType => row.getDouble(i)
            case _ => row.getUTF8String(i)
          }
        o += 1
      }
      i += 1
    }
    w.write(new GenericInternalRow(vals))
  }

  override def commit(): WriterCommitMessage =
    FwMultiCommitMessage(writers.values.toSeq.map(_.commit() match {
      case FwCommitMessage(t) => t
    }))
  override def abort(): Unit = writers.values.foreach(_.abort())
  override def close(): Unit = writers.values.foreach(_.close())
}

private[sources] class FwDataWriter(schema: StructType, path: String,
    partitionId: Int, taskId: Long, prefix: String = "part",
    writeStats: Boolean = false, sortedBy: Option[String] = None,
    nameTag: String = "")
    extends DataWriter[InternalRow] {
  private val widths = FixedWidth.widths(schema)
  // sortedBy is a VERIFIED claim, not a sort: the writer watches the
  // declared column and stamps the sidecar flag only if every row
  // arrived non-null and non-decreasing (the user sorts via
  // sortWithinPartitions; a false claim would corrupt seek narrowing)
  private val sortedIdx: Int =
    sortedBy.map(c => schema.fieldNames.indexOf(c)).getOrElse(-1)
  private var sortedOk: Boolean = sortedIdx >= 0
  private var prevSortVal: Any = _

  private def checkSorted(row: InternalRow): Unit = {
    if (!sortedOk) return
    if (row.isNullAt(sortedIdx)) { sortedOk = false; return }
    val v: Any = schema.fields(sortedIdx).dataType match {
      case LongType => row.getLong(sortedIdx)
      case IntegerType => row.getInt(sortedIdx).toLong
      case DoubleType => row.getDouble(sortedIdx)
      case _ =>
        val s = row.getUTF8String(sortedIdx).toString.trim
        if (s.isEmpty) { sortedOk = false; return } // reads back null
        s
    }
    if (prevSortVal != null) {
      val ok = (prevSortVal, v) match {
        case (a: Long, b: Long) => a <= b
        case (a: Double, b: Double) => a <= b // NaN breaks the claim
        case (a: String, b: String) => a.compareTo(b) <= 0
        case _ => false
      }
      if (!ok) sortedOk = false
    }
    prevSortVal = v
  }
  private val tmp = new java.io.File(path,
    f"$prefix-$partitionId%05d-$taskId$nameTag.fw.tmp")
  tmp.getParentFile.mkdirs()
  private val out = new java.io.BufferedOutputStream(
    new java.io.FileOutputStream(tmp))
  // Per-column zone map over the non-null numeric values of this file.
  // Integral columns track EXACT Long extremes (a double min/max rounds
  // above 2^53 — a rounded envelope can wrongly prune a file or feed a
  // wrong MIN/MAX pushdown answer); double columns track finite extremes
  // plus a hasNaN flag (the Parquet-stats convention: NaN is outside any
  // orderable envelope, so its presence must gate pruning and pushdown).
  private val statLoL = Array.fill(widths.length)(Long.MaxValue)
  private val statHiL = Array.fill(widths.length)(Long.MinValue)
  private val statLoD = Array.fill(widths.length)(Double.PositiveInfinity)
  private val statHiD = Array.fill(widths.length)(Double.NegativeInfinity)
  private val statNaN = Array.fill(widths.length)(false)
  private val statSeenL = Array.fill(widths.length)(false)
  private val statLoS = Array.fill[String](widths.length)(null)
  private val statHiS = Array.fill[String](widths.length)(null)

  /** Metadata-carrying variant (group-based row-level writes tag rows
    * WRITE_WITH_METADATA): the `_file` provenance of the ORIGINAL row
    * has no bearing on where the replacement lands — write data only.
    */
  override def write(metadata: InternalRow, row: InternalRow): Unit =
    write(row)

  override def write(row: InternalRow): Unit = {
    if (sortedIdx >= 0) checkSorted(row)
    val sb = new StringBuilder
    var i = 0
    while (i < widths.length) {
      val w = widths(i)
      if (writeStats && !row.isNullAt(i)) {
        schema.fields(i).dataType match {
          case LongType | IntegerType =>
            val v = if (schema.fields(i).dataType == LongType) row.getLong(i)
              else row.getInt(i).toLong
            statSeenL(i) = true
            if (v < statLoL(i)) statLoL(i) = v
            if (v > statHiL(i)) statHiL(i) = v
          case DoubleType =>
            val v = row.getDouble(i)
            if (v.isNaN) statNaN(i) = true
            else {
              if (v < statLoD(i)) statLoD(i) = v
              if (v > statHiD(i)) statHiD(i) = v
            }
          case StringType =>
            // track the READ-BACK value (pad-trimmed; empty = null) in
            // the reader's comparison order, so the envelope can never
            // disagree with pushed-filter evaluation
            val v = row.getUTF8String(i).toString.trim
            if (v.nonEmpty) {
              if (statLoS(i) == null || v.compareTo(statLoS(i)) < 0)
                statLoS(i) = v
              if (statHiS(i) == null || v.compareTo(statHiS(i)) > 0)
                statHiS(i) = v
            }
          case _ => ()
        }
      }
      val s =
        if (row.isNullAt(i)) ""
        else schema.fields(i).dataType match {
          case LongType => row.getLong(i).toString
          case IntegerType => row.getInt(i).toString
          case DoubleType => row.getDouble(i).toString
          case _ => row.getUTF8String(i).toString
        }
      // widths are BYTE widths on disk: a non-ASCII string inside the
      // char limit would still overflow its slot and silently shear
      // every following record off its rowLen boundary
      val byteLen = s.getBytes(StandardCharsets.UTF_8).length
      require(byteLen <= w,
        s"value '$s' ($byteLen UTF-8 bytes) exceeds width $w of field " +
          schema.fields(i).name)
      schema.fields(i).dataType match {
        case StringType => sb.append(s).append(" " * (w - byteLen))
        case _ => sb.append(" " * (w - byteLen)).append(s)
      }
      i += 1
    }
    sb.append('\n')
    out.write(sb.toString.getBytes(StandardCharsets.UTF_8))
  }

  override def commit(): WriterCommitMessage = {
    out.close()
    if (writeStats) {
      val stats: Map[String, FwColStats] =
        schema.fields.indices.flatMap { i =>
          schema.fields(i).dataType match {
            case LongType | IntegerType if statSeenL(i) =>
              Some(schema.fields(i).name ->
                FwIntStats(statLoL(i), statHiL(i)))
            case DoubleType if statLoD(i) <= statHiD(i) || statNaN(i) =>
              // non-finite extremes (±Inf) are not JSON-representable:
              // publish an unbounded (null) envelope — the file simply
              // never prunes on this column and MIN/MAX declines
              def fin(d: Double) = if (java.lang.Double.isFinite(d)) Some(d)
                else None
              val (lo, hi) =
                if (statLoD(i) <= statHiD(i))
                  (fin(statLoD(i)), fin(statHiD(i)))
                else (None, None) // all-NaN column
              Some(schema.fields(i).name -> FwDblStats(lo, hi, statNaN(i)))
            case StringType if statLoS(i) != null =>
              FwStats.strStatsOf(statLoS(i), statHiS(i))
                .map(schema.fields(i).name -> _)
            case _ => None
          }
        }.toMap
      // sidecar rides the same tmp->publish protocol as the data file;
      // it records the data file's byte length so a later in-place
      // append (streaming producers) invalidates it instead of feeding
      // stale envelopes to pruning/pushdown
      FwStats.write(FwPublish.stagedSidecar(tmp.getPath),
        stats, tmp.length(),
        if (sortedOk && sortedIdx >= 0) sortedBy else None,
        // the write layout IS the physical head for mapped tables
        // (requireHead), so field position = physical slot
        schema.fieldNames.zipWithIndex.toMap)
    }
    FwCommitMessage(tmp.getPath)
  }
  override def abort(): Unit = {
    out.close()
    FwPublish.sweep(tmp.getPath)
  }
  override def close(): Unit = ()
}

private[sources] class FwScanBuilder(fullSchema: StructType, path: String,
    recordsPerSplit: Long, maxRecordsPerTrigger: Option[Long] = None,
    versionAsOf: Option[Long] = None,
    changesFrom: Option[Long] = None,
    partitionBy: Option[String] = None,
    bucketBy: Option[(String, Int)] = None,
    followMain: Boolean = false)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with SupportsPushDownAggregates {
  require(path != null, "FixedWidth requires a path (load(dir) or option path)")
  require((partitionBy.isEmpty && bucketBy.isEmpty)
    || (versionAsOf.isEmpty && changesFrom.isEmpty),
    "FixedWidth: snapshot pins (versionAsOf/changesFromVersion) are " +
      "flat-table contracts; partitioned/bucketed tables do not version")
  require(partitionBy.isEmpty || bucketBy.isEmpty,
    "FixedWidth: bucketBy and partitionBy are mutually exclusive")
  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var aggPushed: Option[Aggregation] = None
  private var wantFile: Boolean = false

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // the `_file` metadata column (SupportsMetadataColumns) rides the
    // required schema like a data column; peel it off into a flag
    wantFile = requiredSchema.fieldNames.contains(FwTable.FileColumn)
    // Catalyst hands back a subset of fullSchema in field order; keep
    // OUR copies of the fields (they carry the width metadata).
    required = StructType(fullSchema.fields
      .filter(f => requiredSchema.fieldNames.contains(f.name)))
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ours, residual) = filters.partition(supported)
    pushed = ours
    residual
  }
  override def pushedFilters(): Array[Filter] = pushed

  /** A filter is source-evaluable iff every referenced column exists and
    * it is one of the simple comparison shapes the reader implements.
    */
  private def supported(f: Filter): Boolean = {
    def known(attr: String) = fullSchema.fieldNames.contains(attr)
    f match {
      case EqualTo(a, _) => known(a)
      case GreaterThan(a, _) => known(a)
      case GreaterThanOrEqual(a, _) => known(a)
      case LessThan(a, _) => known(a)
      case LessThanOrEqual(a, _) => known(a)
      case IsNotNull(a) => known(a)
      case And(l, r) => supported(l) && supported(r)
      case _ => false
    }
  }

  /** COUNT(*) with no grouping and no pushed filters is answerable
    * from file sizes alone (records = bytes / rowLen): zero IO at any
    * data size. Anything else is declined and runs as a normal scan.
    */
  /** Complete pushdown for COUNT(*) plus MIN/MAX of numeric columns —
    * the latter answered from the zone-map sidecars alone, so the
    * extremes of a 100 TB dataset cost one directory listing. MIN/MAX
    * pushes only when EVERY data file carries a sidecar (a file of
    * unknown range could hide the true extreme).
    */
  private def minMaxColumn(e: AnyRef): Option[StructField] = {
    val col = e match {
      case m: org.apache.spark.sql.connector.expressions.aggregate.Min =>
        Some(m.column())
      case m: org.apache.spark.sql.connector.expressions.aggregate.Max =>
        Some(m.column())
      case _ => None
    }
    col.collect {
      case r: org.apache.spark.sql.connector.expressions.NamedReference
          if r.fieldNames.length == 1 =>
        fullSchema.fields.find(_.name == r.fieldNames.head)
    }.flatten.filter(f => f.dataType == LongType ||
      f.dataType == IntegerType || f.dataType == DoubleType ||
      f.dataType == StringType)
  }

  /** Grouped metadata aggregates over a partitioned layout:
    * `GROUP BY <pcol>` with COUNT(*)/MIN/MAX is answerable per
    * DIRECTORY — counts from file sizes, extremes from that dir's
    * sidecars — so the per-partition profile of a 100 TB table costs
    * one tree listing and zero record IO.
    */
  private def partGroupByOk(aggregation: Aggregation): Boolean =
    // mapping is a flat-table layer (ensureMapped refuses k=v layouts);
    // a hand-built mapped+partitioned log must not answer from
    // name-keyed sidecars whose names may be retired. And the
    // per-directory COUNT arithmetic (file bytes / head record length)
    // assumes every file is head-layout — a partitioned table evolved
    // by ADD COLUMN declines until its old files are rewritten.
    !FwSchemaLog.read(path).exists(l => l.hasMapping ||
      !l.uniformOver(partitionBy.toSeq.flatMap(p =>
        FwFiles.listPartitioned(path, p).map { case (_, f) =>
          s"${f.getParentFile.getName}/${f.getName}" }))) &&
    partitionBy.exists { pcol =>
      val groupOnP = aggregation.groupByExpressions.toSeq match {
        case Seq(e) => e.references().toSeq match {
          case Seq(r) => r.fieldNames().sameElements(Array(pcol))
          case _ => false
        }
        case _ => false
      }
      groupOnP && pushed.isEmpty &&
        aggregation.aggregateExpressions.nonEmpty &&
        aggregation.aggregateExpressions.forall(e =>
          e.isInstanceOf[CountStar] ||
            minMaxColumn(e).exists(_.name != pcol)) && {
          val needsStats = aggregation.aggregateExpressions
            .exists(!_.isInstanceOf[CountStar])
          !needsStats || {
            val allStats = FwFiles.listPartitioned(path, pcol)
              .map(f => FwStats.read(f._2))
            allStats.forall(_.isDefined) && {
              val cols = aggregation.aggregateExpressions.toSeq
                .flatMap(minMaxColumn)
              cols.forall(f => allStats.flatten.forall { m =>
                m.get(f.name) match {
                  case None => f.dataType != StringType
                  case Some(_: FwIntStats) =>
                    f.dataType == LongType || f.dataType == IntegerType
                  case Some(FwDblStats(lo, hi, hasNaN)) =>
                    f.dataType == DoubleType && !hasNaN &&
                      lo.isDefined && hi.isDefined
                  case Some(FwStrStats(_, _, exact)) =>
                    f.dataType == StringType && exact
                }
              })
            }
          }
        }
    }

  override def supportCompletePushDown(aggregation: Aggregation): Boolean = {
    // partitioned layouts keep no table-level manifest/sidecar view of
    // the partition column; grouped-by-partition metadata aggregates
    // are the one shape they CAN answer without record IO
    if (partitionBy.isDefined) return partGroupByOk(aggregation)
    if (bucketBy.isDefined) return false // dirs carry no value ranges
    val shapesOk = aggregation.groupByExpressions.isEmpty &&
      pushed.isEmpty && aggregation.aggregateExpressions.nonEmpty &&
      aggregation.aggregateExpressions.forall(e =>
        e.isInstanceOf[CountStar] || minMaxColumn(e).isDefined)
    if (!shapesOk) return false
    val listed = FwFiles.listAt(path, versionAsOf, changesFrom)
    // the metadata COUNT's bytes/rowLen arithmetic, and every sidecar
    // consulted below, assume the HEAD layout — any listed file at an
    // older spec version (in-era prefix or pre-reorg era) declines the
    // pushdown; the row scan, which IS per-file-layout-aware, answers
    // instead. Column-mapped (rename/drop-only) tables DO answer:
    // sidecar lookups resolve through the mapping (`_phys`), so a
    // renamed column reads its own physical envelope and legacy
    // name-keyed sidecars void the pushdown rather than answering from
    // a possibly-retired name.
    val aggLog = FwSchemaLog.read(path)
    if (aggLog.exists(l =>
      !l.uniformOver(listed.map(_.file.getName)))) return false
    // a file with an applicable deletion vector cannot answer from
    // metadata: its byte count overstates COUNT(*) and a deleted
    // record could have held the MIN/MAX — stand down, scan normally
    if (listed.exists(lf =>
        FwDv.ordinalsAsOf(lf.file.getPath, versionAsOf).nonEmpty))
      return false
    val needsStats = aggregation.aggregateExpressions
      .exists(!_.isInstanceOf[CountStar])
    if (!needsStats) return true
    val allStats = listed.map(lf =>
      FwStats.readMapped(lf.file, lf.bytes, aggLog))
    // every file needs a (non-stale) sidecar, and per MIN/MAX column:
    //  - integral columns need exact-Long entries (a legacy double
    //    entry may be rounded beyond 2^53 — decline, scan normally);
    //  - double columns must be NaN-free with finite bounds everywhere
    //    (Spark's MAX of a column containing NaN is NaN; sidecars only
    //    see the finite values, so they cannot answer it).
    allStats.forall(_.isDefined) && {
      val cols = aggregation.aggregateExpressions.toSeq.flatMap(minMaxColumn)
      cols.forall { f =>
        allStats.flatten.forall { m =>
          m.get(f.name) match {
            case None =>
              // numeric columns: the writer always stamps what it saw,
              // so absence = all-NULL. String entries arrived later:
              // absence may just mean an OLDER sidecar — decline.
              f.dataType != StringType
            case Some(_: FwIntStats) =>
              f.dataType == LongType || f.dataType == IntegerType
            case Some(FwDblStats(lo, hi, hasNaN)) =>
              f.dataType == DoubleType && !hasNaN &&
                lo.isDefined && hi.isDefined
            case Some(FwStrStats(_, _, exact)) =>
              // truncated bounds bracket the extreme without naming it
              f.dataType == StringType && exact
          }
        }
      }
    }
  }

  override def pushAggregation(aggregation: Aggregation): Boolean = {
    if (!supportCompletePushDown(aggregation)) return false
    aggPushed = Some(aggregation)
    val aggFields = aggregation.aggregateExpressions.zipWithIndex
      .map {
        case (_: CountStar, i) => StructField(s"count_star_$i", LongType)
        case (e, i) => minMaxColumn(e).get.copy(name = s"min_max_$i")
      }
    // grouped pushdown: the scan's output schema leads with the
    // group-by column, then the aggregates (positional contract)
    val groupFields = partitionBy
      .filter(_ => aggregation.groupByExpressions.nonEmpty)
      .map(p => fullSchema(fullSchema.fieldNames.indexOf(p))).toSeq
    required = StructType(groupFields ++ aggFields)
    true
  }

  override def build(): Scan = {
    val summary = aggPushed match {
      case Some(agg) =>
        val kinds = agg.aggregateExpressions.map {
          case _: CountStar => "count(*)"
          case m: org.apache.spark.sql.connector.expressions.aggregate
              .Min => s"min(${minMaxColumn(m).get.name})"
          case m => s"max(${minMaxColumn(m).get.name})"
        }
        s"pushed-agg=${kinds.mkString(",")} metadata-only"
      case None =>
        s"read=[${required.fieldNames.mkString(",")}] " +
          s"pushed=[${pushed.mkString(",")}]"
    }
    FixedWidth.lastScanSummary = summary
    def specsOf(agg: Aggregation): Array[(String, String, String)] =
      agg.aggregateExpressions.map {
        case _: CountStar => ("count", "", "")
        case m: org.apache.spark.sql.connector.expressions.aggregate
            .Min =>
          val f = minMaxColumn(m).get
          ("min", f.name, f.dataType.typeName)
        case m =>
          val f = minMaxColumn(m).get
          ("max", f.name, f.dataType.typeName)
      }
    require(!wantFile || (aggPushed.isEmpty && partitionBy.isEmpty
      && bucketBy.isEmpty),
      s"FixedWidth: the ${FwTable.FileColumn} metadata column is " +
        "flat-layout row scans only")
    (aggPushed, partitionBy) match {
      case (Some(agg), Some(pcol)) =>
        new FwPartAggScan(fullSchema, required, specsOf(agg), path,
          pcol, summary)
      case (Some(agg), None) =>
        new FwAggScan(fullSchema, required, specsOf(agg), path, summary,
          versionAsOf, changesFrom)
      case (None, Some(pcol)) =>
        new FwPartScan(fullSchema, required, pushed, path, pcol, summary)
      case (None, None) => bucketBy match {
        case Some((bcol, n)) =>
          new FwBucketScan(fullSchema, required, pushed, path, bcol, n,
            summary)
        case None =>
          new FwScan(fullSchema, required, pushed, path, recordsPerSplit,
            summary, maxRecordsPerTrigger, versionAsOf, changesFrom,
            wantFile, followMain)
      }
    }
  }
}

/** Scan over a hash-bucketed layout (`bucket=<id>/…`): the bucket
  * column lives IN the records (the directory only encodes
  * co-location), so pruning and pushdown behave exactly like the flat
  * scan — plus two bucket-level wins:
  *
  *  - **Bucket pruning**: an equality or IN predicate on the bucket
  *    column names its buckets directly (`idOf(v)`), skipping every
  *    other directory without reading a byte.
  *  - **Storage-partitioned joins at ANY key cardinality**: the scan
  *    reports `KeyGroupedPartitioning(bucket(n, col))` with one
  *    `HasPartitionKey` partition per bucket id; two tables written
  *    with the same (column, n) join with ZERO shuffle — the device
  *    that co-locates a billion-key fact-fact join where identity
  *    partitioning would mean a billion directories.
  */
private[sources] class FwBucketScan(fullSchema: StructType,
    required: StructType, pushed: Array[Filter], path: String,
    bcol: String, numBuckets: Int, summary: String)
    extends Scan with Batch
    with SupportsReportStatistics with SupportsRuntimeFiltering
    with SupportsReportPartitioning {
  import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
  import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning}

  private val bType =
    fullSchema.fields(fullSchema.fieldNames.indexOf(bcol)).dataType
  @volatile private var runtime: Array[Filter] = Array.empty
  @volatile private var cachedGroups: Seq[(Int, Seq[(String, Long, Long, Int)])] = _

  /** Bucket ids a filter on the bucket column confines the scan to;
    * None = cannot confine. Only equality shapes map to buckets (a
    * range spans arbitrary hash buckets).
    */
  private def bucketsOf(f: Filter): Option[Set[Int]] = f match {
    case EqualTo(a, v) if a == bcol =>
      domainValue(v).map(x => Set(FwBuckets.idOf(x, numBuckets)))
    case In(a, vs) if a == bcol && vs.nonEmpty =>
      val ds = vs.toSeq.map(domainValue)
      if (ds.forall(_.isDefined))
        Some(ds.flatten.map(FwBuckets.idOf(_, numBuckets)).toSet)
      else None
    case And(l, r) =>
      (bucketsOf(l), bucketsOf(r)) match {
        case (Some(a), Some(b)) => Some(a intersect b)
        case (a, b) => a.orElse(b)
      }
    case _ => None
  }
  private def domainValue(v: Any): Option[Any] = (bType, v) match {
    // exactness matters: truncating 5.7 to 5 would route an equality
    // probe to bucket-of-5 and wrongly MATCH records with value 5; a
    // non-integral constant declines bucket pruning (reads all
    // buckets, record-level eval stays exact)
    case (LongType | IntegerType, x: java.lang.Number) =>
      FwNum.exactLong(x)
    case (StringType, s: String) => Some(s)
    case (StringType, u: UTF8String) => Some(u.toString)
    case _ => None
  }

  private def groups: Seq[(Int, Seq[(String, Long, Long, Int)])] = {
    val cached = cachedGroups
    if (cached != null) return cached
    FixedWidth.lastSeekSkippedRecords = 0L
    val confinements = (pushed ++ runtime).flatMap(bucketsOf)
    val allowed: Option[Set[Int]] =
      if (confinements.isEmpty) None
      else Some(confinements.reduce(_ intersect _))
    val all = FwFiles.listPartitioned(path, "bucket")
      .groupBy(_._1.toInt).toSeq.sortBy(_._1)
    val kept = all.filter { case (id, _) =>
      allowed.forall(_.contains(id))
    }
    FixedWidth.lastPrunedPartitions = all.size - kept.size
    // schema evolution: bucket files stamp under `<dir>/<name>` and
    // parse at THEIR spec version (bucket records carry every field,
    // so the full-schema prefix arithmetic applies directly); a stale
    // declared schema refuses loudly here
    val mapLog = FwSchemaLog.requireHead(path, fullSchema)
    val headRowLen = FixedWidth.widths(fullSchema).sum + 1L
    def keyOf(f: java.io.File) = s"${f.getParentFile.getName}/${f.getName}"
    val computed = kept.map { case (id, files) =>
      // the bucket column is in the records, so ordinary zone maps
      // prune files within a bucket too
      val fs = files.map(_._2).filter { f =>
        FwStats.readMapped(f, f.length(), mapLog) match {
          case Some(st) => FwStats.mayMatch(st, pushed ++ runtime)
          case None => true
        }
      }.map { f =>
        val rowLen = mapLog.map(_.rowLenOf(keyOf(f)))
          .getOrElse(headRowLen)
        val dataCols = mapLog.map(_.dataColsOf(keyOf(f))).getOrElse(-1)
        val n = f.length() / rowLen
        val (lo, hi) = FwStats.sortedColMapped(f, f.length(),
            mapLog) match {
          case Some(c) => FwSeek.narrow(fullSchema, f.getPath, n,
            rowLen, c, pushed)
          case None => (0L, n)
        }
        FixedWidth.lastSeekSkippedRecords += n - (hi - lo)
        (f.getPath, lo, hi - lo,
          if (mapLog.exists(_.svOf(keyOf(f)) != mapLog.get.head))
            dataCols
          else -1)
      }.toVector
      (id, fs)
    }
    cachedGroups = computed
    computed
  }

  override def readSchema(): StructType =
    StructType(required.fields.map(f => StructField(f.name, f.dataType)))
  override def description(): String = s"GraftFixedWidth $summary"
  override def toBatch: Batch = this
  override def toMicroBatchStream(
      checkpointLocation: String): MicroBatchStream =
    throw new UnsupportedOperationException(
      "FixedWidth: bucketBy is batch-only; stream the flat layout " +
        "instead")

  override def outputPartitioning(): Partitioning =
    new KeyGroupedPartitioning(
      Array(Expressions.bucket(numBuckets, bcol)), groups.size)

  override def planInputPartitions(): Array[InputPartition] =
    groups.map { case (id, fs) =>
      FwPartValuePartition(Integer.valueOf(id), fs)
    }.toArray

  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    val rowLen = FixedWidth.widths(fullSchema).sum + 1L
    val rows = groups.map(_._2.map(_._3).sum).sum
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows * rowLen)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
    }
  }

  override def filterAttributes(): Array[NamedReference] =
    Array(Expressions.column(bcol))
  override def filter(filters: Array[Filter]): Unit = {
    runtime = filters
    cachedGroups = null
    FixedWidth.lastRuntimeFilters = filters.length
  }

  override def createReaderFactory(): PartitionReaderFactory =
    // no value injection (injectAt = -1): the records carry every
    // column; runtime filters stay planner-side (In is not a reader
    // shape) while pushed filters evaluate per row as usual
    new FwPartReaderFactory(fullSchema, required.fieldNames, pushed,
      injectAt = -1, bType.typeName)
}

/** Metadata-only aggregates: COUNT(*) from file sizes, MIN/MAX from
  * the zone-map sidecars. One partition, one row, zero record IO.
  */
private[sources] class FwAggScan(fullSchema: StructType,
    aggSchema: StructType, specs: Array[(String, String, String)],
    path: String, summary: String,
    versionAsOf: Option[Long] = None,
    changesFrom: Option[Long] = None) extends Scan with Batch {
  override def readSchema(): StructType = aggSchema
  override def description(): String = s"GraftFixedWidth $summary"
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val rowLen = FixedWidth.widths(fullSchema).sum + 1L
    val files = FwFiles.listAt(path, versionAsOf, changesFrom)
    val count = files.map(_.bytes / rowLen).sum
    // same mapping-aware view the pushdown gate validated coverage on
    val aggLog = FwSchemaLog.read(path)
    val allStats = files.flatMap(lf =>
      FwStats.readMapped(lf.file, lf.bytes, aggLog))
    // Exact per-type extremes: integral answers stay in the Long domain
    // end to end (the pushdown gate already declined any column whose
    // sidecars are not exact-integral / NaN-free).
    def extremeLong(col: String, isMin: Boolean): Option[Long] = {
      val vals = allStats.flatMap(_.get(col)).collect {
        case FwIntStats(lo, hi) => if (isMin) lo else hi
      }
      if (vals.isEmpty) None
      else Some(if (isMin) vals.min else vals.max)
    }
    def extremeDbl(col: String, isMin: Boolean): Option[Double] = {
      val vals = allStats.flatMap(_.get(col)).collect {
        case FwDblStats(lo, hi, false) => (if (isMin) lo else hi).get
      }
      if (vals.isEmpty) None
      else Some(if (isMin) vals.min else vals.max)
    }
    // the pushdown gate admitted only exact (untruncated) string stats
    def extremeStr(col: String, isMin: Boolean): Option[String] = {
      val vals = allStats.flatMap(_.get(col)).collect {
        case FwStrStats(lo, hi, true) => if (isMin) lo else hi
      }
      if (vals.isEmpty) None
      else Some(if (isMin) vals.min else vals.max)
    }
    val values: Array[Any] = specs.map {
      case ("count", _, _) => java.lang.Long.valueOf(count)
      case (kind, col, tpe) => tpe match {
        case "long" => extremeLong(col, kind == "min")
          .map(java.lang.Long.valueOf).orNull
        case "integer" => extremeLong(col, kind == "min")
          .map(l => java.lang.Integer.valueOf(l.toInt)).orNull
        case "string" => extremeStr(col, kind == "min")
          .map(UTF8String.fromString).orNull
        case _ => extremeDbl(col, kind == "min")
          .map(java.lang.Double.valueOf).orNull
      }
    }
    Array(FwAggPartition(values))
  }
  override def createReaderFactory(): PartitionReaderFactory =
    FwAggReaderFactory
}

private[sources] case class FwAggPartition(values: Array[Any])
    extends InputPartition

private[sources] object FwAggReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val part = p.asInstanceOf[FwAggPartition]
      private var emitted = false
      override def next(): Boolean = !emitted && { emitted = true; true }
      override def get(): InternalRow = new GenericInternalRow(part.values)
      override def close(): Unit = ()
    }
}

/** Grouped metadata aggregates: one output row per partition
  * directory — COUNT(*) from that dir's file sizes, MIN/MAX from its
  * sidecars (the pushdown gate already verified coverage). Zero record
  * IO at any table size; empty partitions emit no group, exactly like
  * the aggregation they replace.
  */
private[sources] class FwPartAggScan(fullSchema: StructType,
    aggSchema: StructType, specs: Array[(String, String, String)],
    path: String, pcol: String, summary: String) extends Scan with Batch {
  override def readSchema(): StructType = aggSchema
  override def description(): String = s"GraftFixedWidth $summary"
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val pType = fullSchema.fields(fullSchema.fieldNames.indexOf(pcol))
      .dataType
    val dataSchema = StructType(fullSchema.fields.filter(_.name != pcol))
    val rowLen = FixedWidth.widths(dataSchema).sum + 1L
    val rows = FwFiles.listPartitioned(path, pcol)
      .groupBy(_._1).toSeq.sortBy(_._1)
      .flatMap { case (vs, files) =>
        val count = files.map(_._2.length() / rowLen).sum
        if (count == 0) None // no rows -> no group
        else {
          val stats = files.flatMap(f => FwStats.read(f._2))
          def extreme(col: String, tpe: String, isMin: Boolean): Any =
            tpe match {
              case "long" | "integer" =>
                val vals = stats.flatMap(_.get(col)).collect {
                  case FwIntStats(lo, hi) => if (isMin) lo else hi
                }
                if (vals.isEmpty) null
                else {
                  val v = if (isMin) vals.min else vals.max
                  if (tpe == "long") java.lang.Long.valueOf(v)
                  else java.lang.Integer.valueOf(v.toInt)
                }
              case "string" =>
                val vals = stats.flatMap(_.get(col)).collect {
                  case FwStrStats(lo, hi, true) => if (isMin) lo else hi
                }
                if (vals.isEmpty) null
                else UTF8String.fromString(
                  if (isMin) vals.min else vals.max)
              case _ =>
                val vals = stats.flatMap(_.get(col)).collect {
                  case FwDblStats(lo, hi, false) =>
                    (if (isMin) lo else hi).get
                }
                if (vals.isEmpty) null
                else java.lang.Double.valueOf(
                  if (isMin) vals.min else vals.max)
            }
          val groupVal: Any = pType match {
            case LongType => java.lang.Long.valueOf(vs.toLong)
            case IntegerType => java.lang.Integer.valueOf(vs.toInt)
            case _ => UTF8String.fromString(vs)
          }
          Some((groupVal +: specs.toSeq.map {
            case ("count", _, _) => java.lang.Long.valueOf(count)
            case (kind, col, tpe) => extreme(col, tpe, kind == "min")
          }).toArray)
        }
      }
    Array(FwMetaRowsPartition(rows.toArray))
  }
  override def createReaderFactory(): PartitionReaderFactory =
    FwMetaRowsReaderFactory
}

private[sources] case class FwMetaRowsPartition(rows: Array[Array[Any]])
    extends InputPartition

private[sources] object FwMetaRowsReaderFactory
    extends PartitionReaderFactory {
  override def createReader(
      p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val rows = p.asInstanceOf[FwMetaRowsPartition].rows
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow = new GenericInternalRow(rows(i))
      override def close(): Unit = ()
    }
}

/** Scan over a hive-style partitioned layout (`<pcol>=<value>/…`):
  *
  *  - **Partition pruning**: pushed filters on the partition column
  *    are decided per DIRECTORY, exactly (a partition either wholly
  *    satisfies a comparison against its value or wholly fails), so a
  *    `WHERE region = 7` on a 100 TB table lists one subdirectory and
  *    reads nothing else. Runtime (DPP) filters fold into the same
  *    decision. Data-column zone maps still prune files WITHIN a
  *    surviving partition.
  *  - **Storage-partitioned execution**
  *    (`SupportsReportPartitioning`): the scan reports
  *    `KeyGroupedPartitioning(identity(pcol))` with one input
  *    partition per value, each tagged via `HasPartitionKey` — with
  *    `spark.sql.sources.v2.bucketing.enabled`, joins and aggregations
  *    keyed on the partition column run with ZERO shuffle on this
  *    side (the Iceberg storage-partitioned-join device). At 100 TB
  *    the eliminated exchange IS the query cost.
  *
  * The partition column is not stored in the records; the reader
  * injects the directory's value as a constant.
  */
private[sources] class FwPartScan(fullSchema: StructType,
    required: StructType, pushed: Array[Filter], path: String,
    pcol: String, summary: String)
    extends Scan with Batch
    with SupportsReportStatistics with SupportsRuntimeFiltering
    with SupportsReportPartitioning {
  import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
  import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning}

  private val pIdx = fullSchema.fieldNames.indexOf(pcol)
  private val pType = fullSchema.fields(pIdx).dataType
  private val dataSchema =
    StructType(fullSchema.fields.filter(_.name != pcol))
  @volatile private var runtime: Array[Filter] = Array.empty
  @volatile private var cachedGroups: Seq[(Any, Seq[(String, Long, Long, Int)])] = _

  private def conjuncts(f: Filter): Seq[Filter] = f match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case x => Seq(x)
  }
  private def splitFilters(): (Seq[Filter], Seq[Filter]) =
    (pushed ++ runtime).toSeq.flatMap(conjuncts)
      .partition(_.references.toSet == Set(pcol))

  private def parseP(v: String): Any = pType match {
    case LongType => v.toLong
    case IntegerType => v.toInt
    case _ => v
  }

  /** Exact per-partition decision for the shapes `supported()` admits
    * on the partition column (plus runtime `In`s); an unknown runtime
    * shape keeps the partition — pushed shapes are never unknown, so
    * pushed-filter semantics stay exact.
    */
  private[sources] def evalP(value: Any, f: Filter): Boolean = {
    // Total comparison: None = underivable operand (null, fractional
    // constant against an integral partition value, alien type).
    // Runtime filters (DPP In-lists) can carry shapes Catalyst never
    // pushes — a null join key, a double from an untyped literal — and
    // an exception here fails the whole query at planning time, where
    // the contract for unknown runtime shapes is conservative keep.
    def cmpTo(x: Any): Option[Int] = (value, x) match {
      case (_, null) => None
      case (l: Long, n: java.lang.Number) => FwNum.cmpLong(l, n)
      case (i: Int, n: java.lang.Number) => FwNum.cmpLong(i.toLong, n)
      case (s: String, o: String) => Some(s.compareTo(o))
      case (s: String, u: UTF8String) => Some(s.compareTo(u.toString))
      case _ => None
    }
    f match {
      // a null/incomparable In element matches no partition value
      // (SQL: x IN (null) is never TRUE), so exists over Some(0) is
      // exact; for the range shapes an underivable bound keeps the
      // partition — pushed shapes are always derivable, so pushed
      // pruning stays exact
      case EqualTo(_, v) => cmpTo(v).forall(_ == 0)
      case GreaterThan(_, v) => cmpTo(v).forall(_ > 0)
      case GreaterThanOrEqual(_, v) => cmpTo(v).forall(_ >= 0)
      case LessThan(_, v) => cmpTo(v).forall(_ < 0)
      case LessThanOrEqual(_, v) => cmpTo(v).forall(_ <= 0)
      case In(_, vs) =>
        // a null element matches nothing (SQL IN) and NaN equals
        // nothing — both EXACT no-matches; but an ALIEN-typed element
        // (a shape Catalyst never pushes) keeps the partition rather
        // than pruning on a guess
        def comparable(x: Any): Boolean = (value, x) match {
          case (_: Long | _: Int, _: java.lang.Number) => true
          case (_: String, _: String) => true
          case (_: String, _: UTF8String) => true
          case _ => false
        }
        if (vs.exists(x => x != null && !comparable(x))) true
        else vs.exists(x => cmpTo(x).contains(0))
      case IsNotNull(_) => true // partition values are non-null
      case _ => true // unknown runtime shape: conservative
    }
  }

  private def groups: Seq[(Any, Seq[(String, Long, Long, Int)])] = {
    val cached = cachedGroups
    if (cached != null) return cached
    FixedWidth.lastSeekSkippedRecords = 0L
    val (pFilters, dataFilters) = splitFilters()
    val all = FwFiles.listPartitioned(path, pcol)
      .groupBy(_._1).toSeq.sortBy(_._1)
    val kept = all.filter { case (vs, _) =>
      val v = parseP(vs)
      pFilters.forall(f => evalP(v, f))
    }
    FixedWidth.lastPrunedPartitions = all.size - kept.size
    // schema evolution: partitioned files stamp under `<dir>/<name>`
    // and parse at THEIR spec version; the partition column is not in
    // the records, so the per-file DATA layout is that version's spec
    // minus pcol (removing the same field keeps the prefix property).
    // A stale declared schema refuses loudly here.
    val mapLog = FwSchemaLog.requireHead(path, fullSchema)
    val headRowLen = FixedWidth.widths(dataSchema).sum + 1L
    def keyOf(f: java.io.File) = s"${f.getParentFile.getName}/${f.getName}"
    val computed = kept.map { case (vs, files) =>
      val fs = files.map(_._2).filter { f =>
        FwStats.readMapped(f, f.length(), mapLog) match {
          case Some(st) => FwStats.mayMatch(st, dataFilters.toArray)
          case None => true
        }
      }.map { f =>
        val fileData = mapLog.map(l => StructType(
          l.layoutAt(l.svOf(keyOf(f))).fields.filter(_.name != pcol)))
        val rowLen = fileData
          .map(fd => FixedWidth.widths(fd).sum + 1L)
          .getOrElse(headRowLen)
        // sort certificates narrow each file to its matching window,
        // exactly like the flat scan
        val n = f.length() / rowLen
        val (lo, hi) = FwStats.sortedColMapped(f, f.length(),
            mapLog) match {
          case Some(c) => FwSeek.narrow(dataSchema, f.getPath, n,
            rowLen, c, dataFilters.toArray)
          case None => (0L, n)
        }
        FixedWidth.lastSeekSkippedRecords += n - (hi - lo)
        (f.getPath, lo, hi - lo,
          if (mapLog.exists(_.svOf(keyOf(f)) != mapLog.get.head))
            fileData.map(_.length).getOrElse(-1)
          else -1)
      }.toVector
      (parseP(vs), fs)
    }
    cachedGroups = computed
    computed
  }

  override def readSchema(): StructType = required
  override def description(): String = s"GraftFixedWidth $summary"
  override def toBatch: Batch = this
  override def toMicroBatchStream(
      checkpointLocation: String): MicroBatchStream =
    throw new UnsupportedOperationException(
      "FixedWidth: partitionBy is batch-only; stream the flat layout " +
        "instead")

  override def outputPartitioning(): Partitioning =
    new KeyGroupedPartitioning(
      Array(Expressions.identity(pcol)), groups.size)

  override def planInputPartitions(): Array[InputPartition] =
    groups.map { case (v, fs) => FwPartValuePartition(v, fs) }.toArray

  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    val rowLen = FixedWidth.widths(dataSchema).sum + 1L
    val rows = groups.map(_._2.map(_._3).sum).sum
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows * rowLen)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
    }
  }

  override def filterAttributes(): Array[NamedReference] =
    Array(Expressions.column(pcol))
  override def filter(filters: Array[Filter]): Unit = {
    runtime = filters
    cachedGroups = null
    FixedWidth.lastRuntimeFilters = filters.length
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val (_, dataFilters) = splitFilters()
    new FwPartReaderFactory(dataSchema,
      required.fieldNames.filter(_ != pcol), dataFilters.toArray,
      required.fieldNames.indexOf(pcol), pType.typeName)
  }
}

/** One partition VALUE = one input partition, key exposed for
  * key-grouped (storage-partitioned) execution. Files carry their
  * (startRecord, numRecords) window — whole files normally, narrowed
  * windows when a sort certificate let the planner binary-search.
  */
private[sources] case class FwPartValuePartition(value: Any,
    files: Seq[(String, Long, Long, Int)]) extends InputPartition
    with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](value match {
      case s: String => UTF8String.fromString(s)
      case o => o
    }))
}

private[sources] class FwPartReaderFactory(dataSchema: StructType,
    innerRequired: Array[String], dataFilters: Array[Filter],
    injectAt: Int, pTypeName: String) extends PartitionReaderFactory {
  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[FwPartValuePartition]
    val pkValue: Any = (pTypeName, p.value) match {
      case (_, s: String) => UTF8String.fromString(s)
      case (_, o) => o
    }
    val innerTypes: Array[DataType] = innerRequired.map(n =>
      dataSchema(dataSchema.fieldNames.indexOf(n)).dataType)
    new PartitionReader[InternalRow] {
      private val fileIt = p.files.iterator
      private var inner: FwReader = _
      private var current: InternalRow = _

      @annotation.tailrec
      private def advance(): Boolean =
        if (inner != null && inner.next()) {
          val in = inner.get()
          current =
            if (injectAt < 0) in
            else {
              val out = new Array[Any](innerRequired.length + 1)
              var i = 0
              var o = 0
              while (o < out.length) {
                if (o == injectAt) out(o) = pkValue
                else {
                  out(o) =
                    if (in.isNullAt(i)) null else in.get(i, innerTypes(i))
                  i += 1
                }
                o += 1
              }
              new GenericInternalRow(out)
            }
          true
        } else if (fileIt.hasNext) {
          if (inner != null) inner.close()
          val (f, startRec, numRec, dataCols) = fileIt.next()
          inner = new FwReader(dataSchema, innerRequired, dataFilters,
            FwPartition(f, startRec, numRec, Array.empty, dataCols))
          advance()
        } else false

      override def next(): Boolean = advance()
      override def get(): InternalRow = current
      override def close(): Unit = if (inner != null) inner.close()
    }
  }
}

/** Exact numeric coercion for filter constants against integral
  * columns. `Number.longValue` TRUNCATES (5.7 -> 5, and an
  * out-of-range long wraps through `intValue`), which silently turns
  * a pruning or filter decision wrong; these helpers either derive an
  * exact answer or decline (`None`) so callers can fall back to their
  * own conservative posture.
  */
private[sources] object FwNum {
  /** Exact Long of a boxed Number constant: integral boxes pass
    * through; a floating value converts only when whole and inside
    * Long range (such a double IS an exact integer — doubles with a
    * fractional part only exist below 2^53); genuinely fractional,
    * NaN, infinite, or out-of-range values are None.
    */
  def exactLong(n: java.lang.Number): Option[Long] = n match {
    case _: java.lang.Long | _: java.lang.Integer | _: java.lang.Short
        | _: java.lang.Byte => Some(n.longValue)
    // arbitrary-precision boxes (shapes Catalyst never pushes, but the
    // exactness contract covers ANY Number): longValueExact answers or
    // declines — the double path would round above 2^53 and fabricate
    // a wrong "exact" long (9007199254740993 -> ...992)
    case bd: java.math.BigDecimal =>
      try Some(bd.longValueExact)
      catch { case _: ArithmeticException => None }
    case bi: java.math.BigInteger =>
      try Some(bi.longValueExact)
      catch { case _: ArithmeticException => None }
    case bd: scala.math.BigDecimal =>
      try Some(bd.underlying.longValueExact)
      catch { case _: ArithmeticException => None }
    case bi: scala.math.BigInt =>
      try Some(bi.underlying.longValueExact)
      catch { case _: ArithmeticException => None }
    case _ =>
      val d = n.doubleValue
      // upper bound exclusive: 2^63 as a double is > Long.MaxValue
      if (!java.lang.Double.isNaN(d) && d == Math.rint(d)
        && d >= -9.223372036854776e18 && d < 9.223372036854776e18)
        Some(d.toLong)
      else None
  }

  /** Exact ordering of an integral value against any Number constant.
    * Whole constants compare as Long; a fractional constant is always
    * below 2^53 in magnitude — where double arithmetic is exact — so
    * comparing as Double cannot misorder; NaN orders with nothing
    * (None).
    */
  def cmpLong(l: Long, n: java.lang.Number): Option[Int] =
    exactLong(n) match {
      case Some(x) => Some(java.lang.Long.compare(l, x))
      // big boxes that declined exactLong (fractional/out-of-range)
      // still compare exactly in decimal space — above 2^53 the double
      // path could misorder a fractional BigDecimal
      case None if n.isInstanceOf[java.math.BigDecimal] =>
        Some(new java.math.BigDecimal(l)
          .compareTo(n.asInstanceOf[java.math.BigDecimal]))
      case None if n.isInstanceOf[java.math.BigInteger] =>
        Some(java.math.BigInteger.valueOf(l)
          .compareTo(n.asInstanceOf[java.math.BigInteger]))
      case None if n.isInstanceOf[scala.math.BigDecimal] =>
        Some(scala.math.BigDecimal(l)
          .compare(n.asInstanceOf[scala.math.BigDecimal]))
      case None if n.isInstanceOf[scala.math.BigInt] =>
        Some(scala.math.BigInt(l).compare(n.asInstanceOf[scala.math.BigInt]))
      case None =>
        val d = n.doubleValue
        if (java.lang.Double.isNaN(d)) None
        // out-of-range constants order strictly: comparing via
        // l.toDouble would round Long.MaxValue UP to 2^63 and report
        // a false equality against the constant 2^63 exactly
        else if (d >= 9.223372036854776e18) Some(-1)
        else if (d < -9.223372036854776e18) Some(1)
        // remaining: fractional, hence |d| < 2^53 where doubles are
        // exact and l.toDouble cannot misorder against it
        else Some(java.lang.Double.compare(l.toDouble, d))
    }
}

/** Planner-side binary search over a file verified sorted on one
  * column: pushed range predicates on that column translate to an
  * exact [first, last) record window via O(log n) random-access field
  * probes — the fixed-width analogue of Parquet's page index. The
  * window is exact for the bounds it derives and the reader still
  * evaluates every filter, so any bound it cannot derive (type
  * surprises, odd shapes) just widens back to the whole file.
  */
private[sources] object FwSeek {
  def narrow(schema: StructType, file: String, n: Long, rowLen: Long,
      col: String, filters: Array[Filter]): (Long, Long) = {
    val idx = schema.fieldNames.indexOf(col)
    if (idx < 0 || n == 0) return (0L, n)
    val dt = schema.fields(idx).dataType
    val offset = FixedWidth.widths(schema).take(idx).sum
    val width = FixedWidth.widths(schema)(idx)

    def conjuncts(f: Filter): Seq[Filter] = f match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    // the comparison domain: Long for integral columns, Double for
    // doubles, String otherwise; None = underivable bound
    def domain(v: Any): Option[Any] = (dt, v) match {
      // integral columns accept only exactly-integral constants:
      // truncating a fractional bound (5.7 -> 5) would wrongly exclude
      // records the predicate admits, and the reader never re-checks
      // pushed filters on seek-excluded records. mayMatch widens the
      // same case conservatively; here "no narrowing" is the safe
      // analogue (a whole double like 5.0 still narrows exactly).
      case (LongType | IntegerType, x: java.lang.Number) =>
        FwNum.exactLong(x)
      case (DoubleType, x: java.lang.Number) => Some(x.doubleValue)
      case (StringType, s: String) => Some(s)
      case (StringType, u: UTF8String) => Some(u.toString)
      case _ => None
    }
    def cmp(a: Any, b: Any): Int = (a, b) match {
      case (x: Long, y: Long) => java.lang.Long.compare(x, y)
      case (x: Double, y: Double) => java.lang.Double.compare(x, y)
      case (x: String, y: String) => x.compareTo(y)
      case _ => 0
    }
    // (bound, inclusive) accumulators; tightest wins
    var lo: Option[(Any, Boolean)] = None
    var hi: Option[(Any, Boolean)] = None
    def tightenLo(v: Any, incl: Boolean): Unit = lo = lo match {
      case None => Some((v, incl))
      case Some((cur, ci)) =>
        val c = cmp(v, cur)
        if (c > 0 || (c == 0 && !incl)) Some((v, incl))
        else Some((cur, ci))
    }
    def tightenHi(v: Any, incl: Boolean): Unit = hi = hi match {
      case None => Some((v, incl))
      case Some((cur, ci)) =>
        val c = cmp(v, cur)
        if (c < 0 || (c == 0 && !incl)) Some((v, incl))
        else Some((cur, ci))
    }
    filters.flatMap(conjuncts).foreach {
      case EqualTo(a, v) if a == col =>
        domain(v).foreach { d => tightenLo(d, incl = true)
          tightenHi(d, incl = true) }
      case GreaterThan(a, v) if a == col =>
        domain(v).foreach(tightenLo(_, incl = false))
      case GreaterThanOrEqual(a, v) if a == col =>
        domain(v).foreach(tightenLo(_, incl = true))
      case LessThan(a, v) if a == col =>
        domain(v).foreach(tightenHi(_, incl = false))
      case LessThanOrEqual(a, v) if a == col =>
        domain(v).foreach(tightenHi(_, incl = true))
      case _ => ()
    }
    if (lo.isEmpty && hi.isEmpty) return (0L, n)

    val raf = new RandomAccessFile(file, "r")
    try {
      val buf = new Array[Byte](width)
      def valueAt(rec: Long): Any = {
        raf.seek(rec * rowLen + offset)
        raf.readFully(buf)
        var a = 0
        var b = width
        while (a < b && buf(a) == ' ') a += 1
        while (b > a && buf(b - 1) == ' ') b -= 1
        val s = new String(buf, a, b - a, StandardCharsets.UTF_8)
        dt match {
          case LongType | IntegerType => s.toLong
          case DoubleType => s.toDouble
          case _ => s
        }
      }
      // first record whose value compares >= v (or > v when gt)
      def lowerBound(v: Any, gt: Boolean): Long = {
        var a = 0L
        var b = n
        while (a < b) {
          val mid = (a + b) >>> 1
          val c = cmp(valueAt(mid), v)
          if (c < 0 || (gt && c == 0)) a = mid + 1 else b = mid
        }
        a
      }
      val start = lo match {
        case Some((v, incl)) => lowerBound(v, gt = !incl)
        case None => 0L
      }
      val end = hi match {
        case Some((v, incl)) => lowerBound(v, gt = incl)
        case None => n
      }
      (start, math.max(start, end))
    } finally raf.close()
  }
}

private[graft] object FwFiles {
  /** The LIVE file listing: every published `.fw` in the directory
    * EXCEPT files a copy-on-write rewrite has superseded (referenced
    * by some manifest version but not the newest — retained on disk
    * for time travel and the change feed until VACUUM sweeps them, the
    * Delta tombstone discipline). Files no manifest version has ever
    * referenced (hand-built fixtures, streaming epochs before a batch
    * commit) are always live.
    */
  def list(path: String): Array[java.io.File] =
    list(path, FwVersions.read(path))

  /** [[list]] against manifest `versions` the caller already read. */
  def list(path: String, versions: Seq[FwVersion]): Array[java.io.File] = {
    val physical = listPhysical(path)
    if (versions.isEmpty) physical
    else {
      val latest = versions.maxBy(_.v).files.map(_._1).toSet
      val ever = versions.flatMap(_.files.map(_._1)).toSet
      physical.filter(f =>
        latest.contains(f.getName) || !ever.contains(f.getName))
    }
  }

  /** Delete `f`, and everything under it when it is a directory. */
  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    f.delete()
  }

  /** Every `.fw` on disk, superseded history included — for sweepers
    * (vacuum, rollback, TRUNCATE) that manage the history itself.
    */
  def listPhysical(path: String): Array[java.io.File] = {
    val dir = new java.io.File(path)
    if (dir.isDirectory)
      dir.listFiles().filter(f => f.isFile && f.getName.endsWith(".fw"))
        .sortBy(_.getName)
    else Array(dir)
  }

  /** Hive-style partitioned listing: `(value-string, file)` for every
    * published `.fw` under a `<pcol>=<value>` subdirectory, in
    * (value, name) order. Files outside partition dirs are ignored —
    * a partitioned table's layout truth is its directory tree.
    */
  def listPartitioned(path: String,
      pcol: String): Array[(String, java.io.File)] = {
    val dir = new java.io.File(path)
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.startsWith(pcol + "="))
      .sortBy(_.getName)
      .flatMap { d =>
        val v = d.getName.substring(pcol.length + 1)
        d.listFiles().filter(f => f.isFile && f.getName.endsWith(".fw"))
          .sortBy(_.getName).map(v -> _)
      }
  }

  /** The batch-read file listing, optionally pinned to a snapshot
    * version from the manifest ([[FwVersions]]). A live listing
    * carries current byte lengths; a versioned listing carries the
    * MANIFEST's recorded lengths — snapshot-prefix semantics: a file an
    * external producer later grew in place still reads as exactly the
    * records it held at commit time (fixed-width means any byte prefix
    * is record-aligned), and the whole plan needs zero per-file stat
    * calls. A snapshot file that shrank or vanished (a later TRUNCATE
    * vacuumed it) fails loudly rather than silently returning a
    * partial table.
    */
  def listAt(path: String,
      versionAsOf: Option[Long]): Array[FwListedFile] =
    listAt(path, versionAsOf, None)

  /** `changesFrom` subtracts a base snapshot's FILES from the listing —
    * the incremental read between two versions of an append-only table
    * (Delta change-feed reduced to its file-level essence: the batch
    * writer only ever ADDS files, so "what changed since version n" is
    * exactly the files version n did not have). Composes with
    * `versionAsOf`: changes from n as of m reads the files added in
    * versions n+1..m.
    */
  def listAt(path: String, versionAsOf: Option[Long],
      changesFrom: Option[Long]): Array[FwListedFile] = {
    val full: Array[FwListedFile] = versionAsOf match {
      case None => list(path).map(f => FwListedFile(f, f.length()))
      case Some(v) =>
        val dir = new java.io.File(path)
        FwVersions.resolve(path, v).toArray.map { case (name, bytes) =>
          val f = new java.io.File(dir, name)
          require(f.isFile && (bytes < 0 || f.length() >= bytes),
            s"FixedWidth versionAsOf=$v references $name " +
              s"($bytes bytes), which no longer exists at that length " +
              "(removed or shrunk by a later write); only versions " +
              "whose files survive can be read")
          FwListedFile(f, if (bytes < 0) f.length() else bytes)
        }.sortBy(_.file.getName)
    }
    changesFrom match {
      case None => full
      case Some(base) =>
        val baseNames = FwVersions.resolve(path, base).map(_._1).toSet
        full.filterNot(lf => baseNames.contains(lf.file.getName))
    }
  }
}

/** One file of a batch-read listing: the data file plus the byte
  * length THIS read should honor (current length for live reads, the
  * manifest's recorded length for versioned reads).
  */
private[sources] final case class FwListedFile(file: java.io.File,
    bytes: Long)

/** DESCRIBE HISTORY as a read surface:
  * `spark.read.format(fw).option("history", true).option("schema", …)
  * .load(dir)` returns the snapshot manifest as a table — one metadata
  * read, zero record IO at any table size. Legacy name-only manifest
  * entries fall back to current file lengths.
  */
private[sources] object FwHistory {
  val schema: StructType = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("n_files", LongType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("n_records", LongType, nullable = false),
    // per-commit operation metrics (the Delta operationMetrics /
    // DESCRIBE HISTORY numFiles/numOutputRows discipline), derived
    // metadata-only from consecutive manifest versions: files are
    // immutable once published, so version set-difference IS the
    // commit's add/remove set; deletion-vector removals count via
    // their stamped `since` version
    StructField("n_added_files", LongType, nullable = false),
    StructField("n_removed_files", LongType, nullable = false),
    StructField("n_added_records", LongType, nullable = false),
    StructField("n_removed_records", LongType, nullable = false),
    StructField("operation", StringType, nullable = false)))
}

private[sources] class FwHistoryTable(dataSchema: StructType, path: String)
    extends Table with SupportsRead {
  override def name(): String = s"fixedwidth_history($path)"
  override def schema(): StructType = FwHistory.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan with Batch {
      override def build(): Scan = this
      override def readSchema(): StructType = FwHistory.schema
      override def description(): String =
        s"GraftFixedWidthHistory $path metadata-only"
      override def toBatch: Batch = this
      override def planInputPartitions(): Array[InputPartition] = {
        // bytes→records arithmetic needs the PHYSICAL head row length:
        // on a column-mapped table the user's logical spec is narrower
        // than the bytes on disk
        val rowLen = FwSchemaLog.read(path)
          .map(l => FixedWidth.widths(l.headSchema).sum + 1L)
          .getOrElse(FixedWidth.widths(dataSchema).sum + 1L)
        val dir = new java.io.File(path)
        val manifest = FwVersions.read(path)
        def lenOf(n: String, b: Long): Long =
          if (b >= 0) b else new java.io.File(dir, n).length()
        // merge-on-read deletes move no files; their removed-record
        // count is the DV entries stamped with this commit's version
        // per (file, since): DISTINCT ordinals, matching what the
        // change feed actually emits (FwCdf.partitionsBetween dedups
        // overlapping same-version entries the same way)
        val dvByVersion: Map[Long, Long] = manifest
          .flatMap(_.files.map(_._1)).distinct
          .flatMap(n => FwDv.read(new java.io.File(dir, n).getPath)
            .groupBy(_._1).map { case (since, es) =>
              (since, es.flatMap(_._2).distinct.length.toLong) })
          .groupBy(_._1).map { case (v, xs) => v -> xs.map(_._2).sum }
        var prev = Map.empty[String, Long]
        val rows = manifest.map { case FwVersion(v, files, _, _, op) =>
          val cur = files.toMap
          val added = files.filter { case (n, _) => !prev.contains(n) }
          val removed = prev.filter { case (n, _) => !cur.contains(n) }
          val bytes = files.map { case (n, b) => lenOf(n, b) }.sum
          val addedBytes = added.map { case (n, b) => lenOf(n, b) }.sum
          val removedBytes =
            removed.map { case (n, b) => lenOf(n, b) }.sum
          prev = cur
          Array[Any](v, files.length.toLong, bytes, bytes / rowLen,
            added.length.toLong, removed.size.toLong,
            addedBytes / rowLen,
            removedBytes / rowLen + dvByVersion.getOrElse(v, 0L),
            UTF8String.fromString(op.getOrElse("unknown")))
        }
        Array(FwHistoryPartition(rows.toArray))
      }
      override def createReaderFactory(): PartitionReaderFactory =
        FwHistoryReaderFactory
    }
}

private[sources] case class FwHistoryPartition(rows: Array[Array[Any]])
    extends InputPartition

private[sources] object FwHistoryReaderFactory
    extends PartitionReaderFactory {
  override def createReader(
      p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val rows = p.asInstanceOf[FwHistoryPartition].rows
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow = new GenericInternalRow(rows(i))
      override def close(): Unit = ()
    }
}

/** Per-file zone maps: the batch writer records min/max of every
  * numeric column into a `<file>.fwstats` sidecar (single-line JSON),
  * and the scan skips WHOLE files whose ranges provably exclude the
  * pushed filters — the Parquet row-group-stats / Iceberg-manifest
  * device. Files without a sidecar (hand-built fixtures, streaming
  * epochs) simply never prune: stats are an optimization, not a
  * correctness dependency.
  */
/** One column's zone-map entry. Integral columns carry EXACT Long
  * extremes; double columns carry finite extremes (absent when the file
  * holds no finite value for the column) plus a hasNaN flag.
  */
private[sources] sealed trait FwColStats
private[sources] final case class FwIntStats(lo: Long, hi: Long)
    extends FwColStats
private[sources] final case class FwDblStats(lo: Option[Double],
    hi: Option[Double], hasNaN: Boolean) extends FwColStats

/** String zone-map entry (the Parquet truncate-and-increment device):
  * `lo` is a valid LOWER bound (a long true min is stored as its
  * 24-char prefix, which sorts at-or-before it) and `hi` a valid UPPER
  * bound (a long true max is stored as its prefix with the last
  * incrementable char bumped, which sorts strictly after every string
  * it prefixes). `exact` means neither end was modified, so lo/hi ARE
  * the true min/max — the gate for metadata-only MIN/MAX pushdown;
  * pruning is valid either way. Ordering is Java `String.compareTo`
  * (UTF-16 code units), the SAME ordering the reader's pushed-filter
  * evaluation uses — bounds and evaluation must never disagree.
  */
private[sources] final case class FwStrStats(lo: String, hi: String,
    exact: Boolean) extends FwColStats

/** Per-file DELETION VECTORS — merge-on-read deletes (the Delta/Iceberg
  * deletion-vector device): a key-set delete that would rewrite whole
  * files under copy-on-write instead publishes a `<file>.fwdv` sidecar
  * naming the deleted RECORD ORDINALS; the scan consults it and skips
  * those records. A 10-row delete on a 10 GB file costs one tiny JSON
  * write instead of a 10 GB rewrite; compaction later materializes the
  * DV away (rewriting without the dead records) and deletes it.
  *
  * Versioning: each DV entry carries the snapshot version it applies
  * FROM (`since`), so `versionAsOf` pins before the delete still read
  * the rows — the sidecar is append-only history, not a mutation of
  * the snapshot contract. Entries whose `since` exceeds a rollback
  * target are trimmed by rollback (the delete itself is rolled back).
  *
  * Metadata-surface discipline: zone-map pruning stays valid under a
  * DV (the envelope is a superset), but answers FROM metadata alone
  * (COUNT(*)/MIN/MAX pushdown, exact planner statistics) stand down
  * for any file with an applicable DV — a deleted record could have
  * held the extreme.
  */
private[sources] object FwDv {
  def dvFor(dataPath: String): String = dataPath + "dv"

  /** (since, sorted ordinals) entries, oldest first. */
  def read(dataPath: String): Seq[(Long, Array[Long])] = {
    val f = new java.io.File(dvFor(dataPath))
    if (!f.isFile) Seq.empty
    else {
      import org.json4s._
      jackson.JsonMethods.parse(new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")) \ "dv" match {
        case JArray(es) => es.map { e =>
          val since = e \ "since" match {
            case JInt(n) => n.toLong
            case JLong(n) => n
            case other => throw new IllegalArgumentException(
              s"bad .fwdv since: $other")
          }
          val ords = e \ "ords" match {
            case JArray(vs) => vs.map {
              case JInt(n) => n.toLong
              case JLong(n) => n
              case other => throw new IllegalArgumentException(
                s"bad .fwdv ordinal: $other")
            }.toArray
            case other => throw new IllegalArgumentException(
              s"bad .fwdv ords: $other")
          }
          (since, ords)
        }
        case JNothing => Seq.empty
        case other =>
          throw new IllegalArgumentException(s"bad .fwdv: $other")
      }
    }
  }

  /** Deleted ordinals a read pinned at `versionAsOf` must honor
    * (live reads honor everything), sorted ascending.
    */
  def ordinalsAsOf(dataPath: String,
      versionAsOf: Option[Long]): Array[Long] = {
    val entries = read(dataPath)
    if (entries.isEmpty) Array.empty
    else entries.filter(e => versionAsOf.forall(_ >= e._1))
      .flatMap(_._2).distinct.sorted.toArray
  }

  /** The file's record length (bytes incl. newline), recorded so
    * schema-free consumers (compaction) can locate records to drop.
    */
  def readRowLen(dataPath: String): Option[Long] = {
    val f = new java.io.File(dvFor(dataPath))
    if (!f.isFile) None
    else {
      import org.json4s._
      jackson.JsonMethods.parse(new String(
        java.nio.file.Files.readAllBytes(f.toPath),
        "UTF-8")) \ "rowLen" match {
        case JInt(n) => Some(n.toLong)
        case JLong(n) => Some(n)
        case _ => None
      }
    }
  }

  /** Publish the full entry list (tmp → atomic rename). */
  def write(dataPath: String, rowLen: Long,
      entries: Seq[(Long, Array[Long])]): Unit = {
    import org.json4s.JsonDSL._
    FwPublish.writeJson(new java.io.File(dvFor(dataPath)),
      ("rowLen" -> rowLen) ~ ("dv" -> entries.map { case (since, os) =>
        ("since" -> since) ~ ("ords" -> os.toSeq)
      }))
  }

  /** Delete the DV (and any tmp) alongside its data file. */
  def delete(dataPath: String): Unit = {
    new java.io.File(dvFor(dataPath)).delete()
    new java.io.File(dvFor(dataPath) + ".tmp").delete()
  }
}

private[sources] object FwStats {
  def sidecarFor(dataPath: String): String = dataPath + "stats"

  /** Reserved top-level key: the data file's byte length at sidecar
    * write time. A mismatch on read marks the sidecar stale (the file
    * grew in place after commit) and disables it entirely.
    */
  private val LenKey = "_len"
  /** Reserved top-level key: the column this file is verified sorted
    * (non-decreasing, no nulls) on — the gate for planner seek
    * narrowing.
    */
  private val SortedKey = "_sorted"
  /** Reserved top-level key: column name -> PHYSICAL field index at
    * sidecar write time. Column mapping (RENAME/DROP) changes logical
    * names while physical slots stay append-only forever, so on a
    * mapped table every stats lookup resolves through this map —
    * name-only lookups could match a RETIRED name's envelope after a
    * rename chain reuses it (silent wrong pruning). Sidecars written
    * before this key exist; on a mapped table they are simply ignored
    * (no pruning, no metadata answers — conservative, never wrong).
    */
  private val PhysKey = "_phys"

  def write(path: String, stats: Map[String, FwColStats],
      dataLen: Long, sortedBy: Option[String] = None,
      phys: Map[String, Int] = null): Unit = {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    // stamp the physical index of every column this sidecar names (the
    // stats plus the sort certificate); a column the caller's layout
    // does not know stays unstamped and the read-side coverage check
    // voids the sidecar under mapping rather than guessing
    val physEntries: List[(String, org.json4s.JValue)] =
      if (phys == null) Nil
      else {
        val named = stats.keySet ++ sortedBy
        val covered = named.toSeq.sorted.flatMap(n =>
          phys.get(n).map(i => n -> (org.json4s.JInt(i): org.json4s.JValue)))
        if (covered.isEmpty) Nil
        else List(PhysKey -> org.json4s.JObject(covered.toList))
      }
    val base = org.json4s.JObject(
      List(LenKey -> org.json4s.JLong(dataLen)) ++
        sortedBy.map(c => SortedKey -> org.json4s.JString(c)) ++
        physEntries)
    val obj = stats.toSeq.sortBy(_._1).foldLeft(base) {
      case (o, (c, FwIntStats(lo, hi))) =>
        // exact JSON integers: JLong round-trips any Long bit-for-bit,
        // where a double rendering rounds beyond 2^53
        o ~ (c -> (("min" -> lo) ~ ("max" -> hi)))
      case (o, (c, FwDblStats(lo, hi, hasNaN))) =>
        o ~ (c -> (("min" -> lo) ~ ("max" -> hi) ~ ("nan" -> hasNaN)))
      case (o, (c, FwStrStats(lo, hi, exact))) =>
        o ~ (c -> (("min" -> lo) ~ ("max" -> hi) ~ ("x" -> exact)))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      JsonMethods.compact(JsonMethods.render(obj)).getBytes("UTF-8"))
  }

  def read(dataFile: java.io.File): Option[Map[String, FwColStats]] =
    read(dataFile, dataFile.length())

  /** The column this file's sidecar certifies it sorted on, if any —
    * honoring the same `_len` staleness rule as the stats themselves.
    */
  def sortedCol(dataFile: java.io.File,
      expectedLen: Long): Option[String] = {
    val f = new java.io.File(sidecarFor(dataFile.getPath))
    if (!f.isFile) None
    else try {
      import org.json4s._
      jackson.JsonMethods.parse(new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")) match {
        case JObject(fields) =>
          val m = fields.toMap
          val stale = m.get(LenKey).exists {
            case JInt(n) => n.toLong != expectedLen
            case JLong(n) => n != expectedLen
            case _ => true
          }
          if (stale) None
          else m.get(SortedKey).collect { case JString(c) => c }
        case _ => None
      }
    } catch { case _: Exception => None }
  }

  /** The sidecar's `_phys` map (column name at write time -> physical
    * field index), honoring the `_len` staleness rule. None = legacy
    * sidecar with no physical keying.
    */
  private def physMap(dataFile: java.io.File,
      expectedLen: Long): Option[Map[String, Int]] = {
    val f = new java.io.File(sidecarFor(dataFile.getPath))
    if (!f.isFile) None
    else try {
      import org.json4s._
      jackson.JsonMethods.parse(new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")) match {
        case JObject(fields) =>
          val m = fields.toMap
          val stale = m.get(LenKey).exists {
            case JInt(n) => n.toLong != expectedLen
            case JLong(n) => n != expectedLen
            case _ => true
          }
          if (stale) None
          else m.get(PhysKey).collect {
            case JObject(es) => es.collect {
              case (n, JInt(i)) => n -> i.toInt
              case (n, JLong(i)) => n -> i.toInt
            }.toMap
          }
        case _ => None
      }
    } catch { case _: Exception => None }
  }

  /** Sidecar stats RE-KEYED to the table's CURRENT logical names
    * through the schema log's column mapping. On an unmapped table
    * this is exactly [[read]]. On a mapped table a stats entry resolves
    * name-at-write-time -> physical index (`_phys`) -> current logical
    * name; entries for DROPPED physical slots disappear (no logical
    * name can reference them), and the re-key preserves the
    * absence-means-all-NULL contract (a column physically absent from
    * an old file, or all-NULL when written, has no entry either way).
    * A legacy sidecar with no `_phys`, or one whose `_phys` does not
    * cover every stats entry, returns None under mapping — the file
    * neither prunes nor answers metadata aggregates, because its names
    * may be RETIRED logical names a later rename chain reused.
    */
  def readMapped(dataFile: java.io.File, expectedLen: Long,
      log: Option[FwSchemaLog.Log]): Option[Map[String, FwColStats]] =
    log.filter(_.hasMapping) match {
      case None => read(dataFile, expectedLen)
      case Some(l) =>
        for {
          raw <- read(dataFile, expectedLen)
          phys <- physMap(dataFile, expectedLen)
          if raw.keySet.forall(phys.contains)
          logicalOf = l.mapping.get.map { case (n, pi) => pi -> n }.toMap
        } yield raw.flatMap { case (n, st) =>
          logicalOf.get(phys(n)).map(_ -> st)
        }
    }

  /** [[sortedCol]] resolved through the column mapping: the returned
    * name is the CURRENT logical name of the physical field the file
    * is sorted on (None when the field was dropped, or on a legacy
    * sidecar that cannot prove which physical field it certified).
    */
  def sortedColMapped(dataFile: java.io.File, expectedLen: Long,
      log: Option[FwSchemaLog.Log]): Option[String] =
    log.filter(_.hasMapping) match {
      case None => sortedCol(dataFile, expectedLen)
      case Some(l) =>
        for {
          s <- sortedCol(dataFile, expectedLen)
          phys <- physMap(dataFile, expectedLen)
          pi <- phys.get(s)
          cur <- l.mapping.get.collectFirst { case (n, p) if p == pi => n }
        } yield cur
    }

  /** Sidecar strings are capped at this many chars (the Parquet
    * column-index convention): unbounded-width values must not bloat a
    * metadata file that every planning pass reads.
    */
  private[sources] val StrStatCap = 24

  /** Build a string zone-map entry from the TRUE extremes, truncating
    * long values while preserving bound validity: a truncated min is
    * its prefix (sorts at-or-before), a truncated max is its prefix
    * with the rightmost safely-incrementable char bumped (sorts
    * strictly after everything it prefixed). Chars whose successor is
    * an unpaired surrogate are skipped — the bumped string must stay
    * JSON-serializable. None only when no char of the max's prefix can
    * be bumped (pathological: all ￿); the column then simply
    * carries no stats.
    */
  private[sources] def strStatsOf(trueLo: String,
      trueHi: String): Option[FwStrStats] = {
    val loExact = trueLo.length <= StrStatCap
    val lo = if (loExact) trueLo else trueLo.substring(0, StrStatCap)
    if (trueHi.length <= StrStatCap)
      Some(FwStrStats(lo, trueHi, loExact))
    else {
      def bumpable(c: Char): Boolean =
        c != Char.MaxValue && !(c + 1 >= 0xD800 && c + 1 <= 0xDFFF)
      val p = trueHi.substring(0, StrStatCap).toCharArray
      var i = p.length - 1
      while (i >= 0 && !bumpable(p(i))) i -= 1
      if (i < 0) None
      else {
        p(i) = (p(i) + 1).toChar
        Some(FwStrStats(lo, new String(p, 0, i + 1), exact = false))
      }
    }
  }

  /** `expectedLen` is the byte length THIS read treats as the file's
    * content — a versioned read passes the manifest's recorded length,
    * so a sidecar written at that commit stays usable for the snapshot
    * prefix even after the file grew in place (where the live read
    * correctly voids it).
    */
  def read(dataFile: java.io.File,
      expectedLen: Long): Option[Map[String, FwColStats]] = {
    val f = new java.io.File(sidecarFor(dataFile.getPath))
    if (!f.isFile) None
    else try {
      import org.json4s._
      val parsed = jackson.JsonMethods.parse(
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
      parsed match {
        case JObject(fields) =>
          val m = fields.toMap
          val stale = m.get(LenKey).exists {
            case JInt(n) => n.toLong != expectedLen
            case JLong(n) => n != expectedLen
            case _ => true
          } // legacy sidecars without _len are accepted as-is
          if (stale) None
          else Some(fields.collect {
            case (c, o: JObject) if c != LenKey && c != PhysKey =>
              val cm = o.obj.toMap
              def dbl(k: String): Option[Double] = cm.get(k).flatMap {
                case JDouble(d) => Some(d)
                case JInt(i) => Some(i.toDouble)
                case JLong(l) => Some(l.toDouble)
                case _ => None // JNull: no finite bound
              }
              val hasNaN = cm.get("nan").contains(JBool(true))
              val exact = (cm.get("min"), cm.get("max")) match {
                case (Some(JInt(lo)), Some(JInt(hi)))
                    if lo.isValidLong && hi.isValidLong =>
                  Some(FwIntStats(lo.toLong, hi.toLong))
                case (Some(JLong(lo)), Some(JLong(hi))) =>
                  Some(FwIntStats(lo, hi))
                case _ => None
              }
              val strsOpt = (cm.get("min"), cm.get("max")) match {
                case (Some(JString(lo)), Some(JString(hi))) =>
                  Some(FwStrStats(lo, hi,
                    cm.get("x").contains(JBool(true))))
                case _ => None
              }
              // integer-valued min/max without a nan key = integral
              // column (the writer always stamps nan on double columns)
              val st = strsOpt
                .orElse(exact.filter(_ => !cm.contains("nan")))
                .getOrElse(FwDblStats(dbl("min"), dbl("max"), hasNaN))
              c -> st
          }.toMap)
        case _ => None
      }
    } catch { case _: Exception => None } // corrupt sidecar => no pruning
  }

  /** Conservative test: can any record in a file with these ranges
    * satisfy ALL the pushed filters? Unknown shapes never prune.
    * Long-vs-long comparisons are exact; any comparison involving a
    * double widens the stored envelope by 1 ulp outward (insurance
    * against a non-shortest-round-trip sidecar producer), and a column
    * that has seen NaN never prunes at all — Spark orders NaN above
    * every double and EqualTo(NaN) matches NaN, so no finite envelope
    * can prove absence.
    */
  def mayMatch(stats: Map[String, FwColStats],
      filters: Array[Filter]): Boolean = {
    // -1 / 0 / +1 like a comparator; None = incomparable (never prune)
    sealed trait Bound
    case class LongB(v: Long) extends Bound
    case class DblB(v: Double) extends Bound
    case class StrB(v: String) extends Bound
    def bound(v: Any): Option[Bound] = v match {
      case l: java.lang.Long => Some(LongB(l))
      case i: java.lang.Integer => Some(LongB(i.longValue))
      case s: java.lang.Short => Some(LongB(s.longValue))
      case b: java.lang.Byte => Some(LongB(b.longValue))
      case d: java.lang.Double => Some(DblB(d))
      case fl: java.lang.Float => Some(DblB(fl.doubleValue))
      case s: String => Some(StrB(s))
      case u: UTF8String => Some(StrB(u.toString))
      case _ => None
    }
    // envelope of a column as (lo, hi) in the comparison domain the
    // filter value dictates; None = cannot bound (no prune)
    def env(cs: FwColStats, x: Bound): Option[(Bound, Bound, Bound)] =
      (cs, x) match {
        case (FwIntStats(lo, hi), LongB(_)) =>
          Some((LongB(lo), LongB(hi), x))
        case (FwIntStats(lo, hi), DblB(_)) =>
          // long envelope vs double constant: compare as doubles with
          // the envelope widened outward (toDouble may round inward)
          Some((DblB(Math.nextDown(lo.toDouble)),
            DblB(Math.nextUp(hi.toDouble)), x))
        case (FwDblStats(Some(lo), Some(hi), false), LongB(l)) =>
          Some((DblB(Math.nextDown(lo)), DblB(Math.nextUp(hi)),
            DblB(l.toDouble)))
        case (FwDblStats(Some(lo), Some(hi), false), DblB(_)) =>
          Some((DblB(Math.nextDown(lo)), DblB(Math.nextUp(hi)), x))
        // string bounds need no widening: lo/hi are valid bounds by
        // construction (truncate-and-increment) in the SAME code-unit
        // order the reader evaluates pushed filters with
        case (FwStrStats(lo, hi, _), StrB(_)) =>
          Some((StrB(lo), StrB(hi), x))
        case _ => None // NaN, unbounded envelope, or type mismatch
      }
    def cmp(a: Bound, b: Bound): Int = (a, b) match {
      case (LongB(x), LongB(y)) => java.lang.Long.compare(x, y)
      case (DblB(x), DblB(y)) => java.lang.Double.compare(x, y)
      case (LongB(x), DblB(y)) => java.lang.Double.compare(x.toDouble, y)
      case (DblB(x), LongB(y)) => java.lang.Double.compare(x, y.toDouble)
      case (StrB(x), StrB(y)) => x.compareTo(y)
      case _ => throw new IllegalStateException(
        s"incomparable bounds $a / $b") // env never mixes domains
    }
    def check(a: String, v: Any)(keep: (Bound, Bound, Bound) => Boolean) =
      (stats.get(a), bound(v)) match {
        case (Some(cs), Some(x)) =>
          env(cs, x).forall { case (lo, hi, xx) => keep(lo, hi, xx) }
        case _ => true
      }
    filters.forall {
      case EqualTo(a, v) =>
        check(a, v)((lo, hi, x) => cmp(x, lo) >= 0 && cmp(x, hi) <= 0)
      case GreaterThan(a, v) => check(a, v)((_, hi, x) => cmp(hi, x) > 0)
      case GreaterThanOrEqual(a, v) =>
        check(a, v)((_, hi, x) => cmp(hi, x) >= 0)
      case LessThan(a, v) => check(a, v)((lo, _, x) => cmp(lo, x) < 0)
      case LessThanOrEqual(a, v) =>
        check(a, v)((lo, _, x) => cmp(lo, x) <= 0)
      case _ => true
    }
  }
}

private[sources] class FwScan(fullSchema: StructType, required: StructType,
    pushed: Array[Filter], path: String, recordsPerSplit: Long,
    summary: String, maxRecordsPerTrigger: Option[Long] = None,
    versionAsOf: Option[Long] = None,
    changesFrom: Option[Long] = None,
    wantFile: Boolean = false,
    followMain: Boolean = false)
    extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {

  /** Runtime filters (dynamic pruning from a selective join side)
    * arrive here AFTER planning but BEFORE planInputPartitions: the
    * comparison shapes fold into the pushed set (pruning whole files
    * through the zone maps AND filtering rows in the reader); IN lists
    * become a [min, max] range filter for file pruning — conservative,
    * Spark still applies the exact IN above the scan.
    */
  @volatile private var runtime: Array[Filter] = Array.empty

  // only columns surviving projection: Spark resolves these against
  // the scan OUTPUT, so a pruned-away field would fail analysis
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    required.fieldNames.map(
      org.apache.spark.sql.connector.expressions.Expressions.column)

  override def filter(filters: Array[Filter]): Unit = {
    val usable = filters.flatMap {
      case In(a, vs) if vs.nonEmpty &&
          vs.forall(_.isInstanceOf[java.lang.Number]) =>
        // a range envelope of the IN list: enough to skip files whose
        // zone map lies wholly outside it. Integral lists keep Long
        // bounds (doubleValue rounds above 2^53 and could shave the
        // true envelope); anything else compares as double.
        if (vs.forall(v => v.isInstanceOf[java.lang.Long] ||
            v.isInstanceOf[java.lang.Integer])) {
          val ls = vs.map(_.asInstanceOf[java.lang.Number].longValue())
          Seq(GreaterThanOrEqual(a, ls.min), LessThanOrEqual(a, ls.max))
        } else {
          val ds = vs.map(_.asInstanceOf[java.lang.Number].doubleValue())
          Seq(GreaterThanOrEqual(a, ds.min), LessThanOrEqual(a, ds.max))
        }
      case f @ (_: EqualTo | _: GreaterThan | _: GreaterThanOrEqual |
          _: LessThan | _: LessThanOrEqual) => Seq(f)
      case _ => Seq.empty
    }
    runtime = usable
    FixedWidth.lastRuntimeFilters = filters.length
  }

  private def effectiveFilters: Array[Filter] = pushed ++ runtime
  override def readSchema(): StructType = {
    val data = required.fields.map(f => StructField(f.name, f.dataType))
    StructType(if (wantFile)
      data :+ StructField(FwTable.FileColumn, StringType, nullable = false)
    else data)
  }
  override def description(): String = s"GraftFixedWidth $summary"
  override def toBatch: Batch = this

  /** Exact table statistics from directory metadata alone: the record
    * count IS bytes/rowLen (the same arithmetic the COUNT(*) pushdown
    * uses), and the post-projection size scales by the kept column
    * widths. Catalyst's CBO reads these through DSv2, so a small .fw
    * dimension joins as a BROADCAST side without any manual hint —
    * stats-driven planning, not guesswork.
    */
  /** Per-file schema resolution (metadata-only ADD COLUMN); None for
    * never-evolved tables — the common case stays zero-overhead.
    */
  private lazy val schemaLog: Option[FwSchemaLog.Log] =
    FwSchemaLog.requireHead(path, fullSchema)
  private def rowLenFor(fileName: String): Long =
    schemaLog.map(_.rowLenOf(fileName))
      .getOrElse(FixedWidth.widths(fullSchema).sum + 1L)
  private def dataColsFor(fileName: String): Int =
    schemaLog.map(_.dataColsOf(fileName)).getOrElse(-1)

  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    val listed = FwFiles.listAt(path, versionAsOf, changesFrom)
    // deletion vectors void records without shrinking files: keep the
    // planner's row count exact so CBO broadcast decisions stay honest
    val dvDeleted = listed.map(lf =>
      FwDv.ordinalsAsOf(lf.file.getPath, versionAsOf).length.toLong).sum
    val rows =
      listed.map(lf => lf.bytes / rowLenFor(lf.file.getName)).sum - dvDeleted
    val keptBytes = FixedWidth.widths(required).sum + 1L
    val projectedBytes = rows * keptBytes
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(projectedBytes)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
    }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val all = FwFiles.listAt(path, versionAsOf, changesFrom)
    // zone-map pruning: a file whose sidecar ranges exclude the pushed
    // filters is skipped before a single byte of it is read
    val eff = effectiveFilters
    // pre-REORG-era files (pinned reads only — a reorg rewrites every
    // live file) never consult sidecars: their stats names and _phys
    // indices belong to a retired era's layout
    def translated(lf: FwListedFile) =
      schemaLog.flatMap(_.fileTranslation(lf.file.getName))
    val (kept, skipped) =
      if (eff.isEmpty) (all, Array.empty[FwListedFile])
      // mapping-aware: stats re-key to current logical names through
      // _phys, so a renamed column never prunes on a retired name's
      // envelope (legacy sidecars on a mapped table simply don't prune)
      else all.partition(lf => translated(lf).isDefined ||
        FwStats.readMapped(lf.file, lf.bytes,
          schemaLog).forall(stats => FwStats.mayMatch(stats, eff)))
    FixedWidth.lastSkippedFiles = skipped.length
    FixedWidth.lastSeekSkippedRecords = 0L
    kept.flatMap { lf =>
      val rowLen = rowLenFor(lf.file.getName)
      val trans = translated(lf)
      val dataCols =
        if (trans.isDefined) -1 else dataColsFor(lf.file.getName)
      val n = lf.bytes / rowLen
      require(lf.bytes % rowLen == 0,
        s"FixedWidth: ${lf.file.getPath} length ${lf.bytes} is not a " +
          s"multiple of the record length $rowLen")
      // seek narrowing: a file VERIFIED sorted on a filtered column
      // binary-searches its matching record range — ~30 seeks bound
      // the scan of a billion-record file to exactly the rows a range
      // predicate can touch (the reader still evaluates every filter,
      // so narrowing only ever has to be not-too-narrow, and the
      // search is exact on a non-decreasing column). Cross-era files
      // skip it (their sort certificates name a retired era's fields).
      val (lo, hi) =
        (if (trans.isDefined) None
         else FwStats.sortedColMapped(lf.file, lf.bytes,
           schemaLog)) match {
        case Some(col) => FwSeek.narrow(fullSchema, lf.file.getPath,
          n, rowLen, col, eff)
        case None => (0L, n)
      }
      FixedWidth.lastSeekSkippedRecords += n - (hi - lo)
      // deletion vector: ship each split exactly its window's deleted
      // ordinals (the DV JSON is tiny; the slice keeps tasks minimal)
      val dv = FwDv.ordinalsAsOf(lf.file.getPath, versionAsOf)
      (lo until hi by recordsPerSplit).map { start =>
        val cnt = math.min(recordsPerSplit, hi - start)
        val slice =
          if (dv.isEmpty) Array.empty[Long]
          else dv.filter(o => o >= start && o < start + cnt)
        FwPartition(lf.file.getPath, start, cnt, slice, dataCols,
          trans.map(_._1).orNull, trans.map(_._2).orNull)
      }
    }.toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // runtime filters ride along: the reader decodes (required union
    // filter-referenced) slices and drops rows source-side
    val base =
      new FwReaderFactory(fullSchema, required.fieldNames, effectiveFilters)
    if (wantFile)
      new FwFileAppendReaderFactory(base,
        required.fields.map(_.dataType))
    else base
  }

  /** Streaming view of the same files: the offset of a fixed-width
    * file IS its record count (length / rowLen), so "what's new" is a
    * pure byte-arithmetic fact — append-only producers never need a
    * WAL or listing snapshot. New `.fw` files enter at offset 0.
    */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    // a stream follows the LIVE table; pinning it to a past snapshot is
    // a contradiction, not a silent full-history replay. The implicit
    // main-pin (followMain) is exempt: it is the batch default view,
    // and the stream re-resolves `main` per micro-batch instead.
    require(versionAsOf.isEmpty || followMain,
      "FixedWidth: versionAsOf is batch-only; a stream cannot be pinned " +
        "to a past snapshot")
    require(changesFrom.isEmpty,
      "FixedWidth: changesFromVersion is batch-only; a stream already " +
        "tracks its own incremental offsets")
    // a stream's offset is a record COUNT; deletion vectors void
    // records mid-file, which a count-based cursor cannot express —
    // refuse loudly instead of re-emitting deleted rows
    require(FwFiles.list(path).forall(f =>
      FwDv.read(f.getPath).isEmpty),
      "FixedWidth: this table carries deletion vectors (merge-on-read " +
        "deletes); streaming reads are append-only — compact first to " +
        "materialize the DVs away")
    // a stream's offset is length/rowLen at ONE layout; mixed-layout
    // files would corrupt the cursor
    FwSchemaLog.requireUniform(path, "streaming read")
    new FwMicroBatchStream(fullSchema, required.fieldNames, pushed, path,
      recordsPerSplit, maxRecordsPerTrigger, followMain)
  }
}

/** Offset = per-file record counts, serialized as ONE line of compact
  * JSON (`{"path":count,...}`). Spark's OffsetSeqLog checkpoint format
  * is one line per source offset, so a multi-line serialization would
  * corrupt the offset log as soon as a second .fw file appears.
  */
private[sources] case class FwOffset(counts: Map[String, Long]) extends Offset {
  override def json(): String = {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    JsonMethods.compact(JsonMethods.render(
      counts.toSeq.sortBy(_._1).foldLeft(org.json4s.JObject()) {
        case (o, (p, n)) => o ~ (p -> n)
      }))
  }
}

private[sources] object FwOffset {
  def parse(s: String): FwOffset =
    if (s.isEmpty) FwOffset(Map.empty)
    else if (s.startsWith("{")) {
      import org.json4s._
      FwOffset(jackson.JsonMethods.parse(s) match {
        case JObject(fields) => fields.map {
          case (p, JInt(n)) => p -> n.toLong
          case (p, JLong(n)) => p -> n
          case (p, other) => throw new IllegalArgumentException(
            s"bad FwOffset count for $p: $other")
        }.toMap
        case other => throw new IllegalArgumentException(
          s"bad FwOffset json: $other")
      })
    } else FwOffset(s.split("\n").map { line =>
      // legacy pre-JSON format (count:path per line), still accepted so
      // old single-file checkpoints restart cleanly
      val i = line.indexOf(':')
      line.substring(i + 1) -> line.substring(0, i).toLong
    }.toMap)
}

private[sources] class FwMicroBatchStream(fullSchema: StructType,
    requiredNames: Array[String], pushed: Array[Filter], path: String,
    recordsPerSplit: Long, maxRecordsPerTrigger: Option[Long] = None,
    followMain: Boolean = false)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {
  import org.apache.spark.sql.connector.read.streaming.{ReadLimit, ReadMaxRows}

  private val rowLen = FixedWidth.widths(fullSchema).sum + 1L

  override def initialOffset(): Offset = FwOffset(Map.empty)

  // A file caught mid-append rounds DOWN to its last complete record —
  // throwing here would fail the whole streaming query instead of just
  // picking up the torn tail next batch.
  // With refs on the table (followMain), each batch re-resolves `main`
  // and admits only its snapshot's files: WAP-staged data stays
  // invisible to the stream until published, exactly like batch reads.
  // Published files are immutable, so live length == snapshot length.
  private def availableCounts(): Map[String, Long] = {
    if (followMain) FwRefs.mainVersion(path) match {
      case Some(v) =>
        // the snapshot's RECORDED byte length, not live length(): a
        // file longer on disk than main's manifest says (staged/WAP
        // appends the planner models as grown files) must not leak
        // its tail into the stream
        FwFiles.listAt(path, Some(v), None)
          .map(lf => lf.file.getPath -> lf.bytes / rowLen).toMap
      case None =>
        FwFiles.list(path).map(f => f.getPath -> f.length() / rowLen).toMap
    }
    else FwFiles.list(path).map(f => f.getPath -> f.length() / rowLen).toMap
  }

  override def latestOffset(): Offset = FwOffset(availableCounts())

  /** Admission control: a `maxRecordsPerTrigger` option caps each
    * micro-batch, so a 10^9-record backlog (first start against a full
    * directory, or recovery after downtime) drains as bounded batches
    * instead of one giant catch-up batch that overwhelms executor
    * memory and checkpoints nothing until the very end. The budget is
    * spent in deterministic file order; record counts make the cut
    * exact — no file boundary rounding.
    */
  override def getDefaultReadLimit: ReadLimit =
    maxRecordsPerTrigger.map(n => ReadLimit.maxRows(n))
      .getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val avail = availableCounts()
    limit match {
      case r: ReadMaxRows =>
        val from = start.asInstanceOf[FwOffset].counts
        var budget = r.maxRows()
        FwOffset(avail.toSeq.sortBy(_._1).map { case (file, hi) =>
          val lo = from.getOrElse(file, 0L)
          // hi < lo (a truncated file) admits nothing rather than
          // rewinding the checkpointed position
          val take = math.max(0L, math.min(hi - lo, budget))
          budget -= take
          file -> (lo + take)
        }.toMap)
      case _ => FwOffset(avail)
    }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[FwOffset].counts
    val to = end.asInstanceOf[FwOffset].counts
    to.toSeq.sortBy(_._1).flatMap { case (file, hi) =>
      val lo = from.getOrElse(file, 0L)
      (lo until hi by recordsPerSplit).map(s =>
        FwPartition(file, s, math.min(recordsPerSplit, hi - s)))
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new FwReaderFactory(fullSchema, requiredNames, pushed)

  override def deserializeOffset(json: String): Offset = FwOffset.parse(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** `deleted`: sorted ABSOLUTE record ordinals within this partition's
  * window that a deletion vector voids (empty for DV-less files).
  */
/** `dataCols` = number of LEADING schema fields physically present in
  * this file (-1 = all): files written before a metadata-only ADD
  * COLUMN parse at their own prefix layout, missing columns are NULL.
  */
/** `fileLayout`/`fieldMap`: set for files from a PRE-REORG era, whose
  * records are NOT a byte-prefix of the current head (REORG APPLY
  * PURGE removed dropped fields from the middle of the record).
  * `fileLayout` is the file's OWN layout spec and `fieldMap(i)` the
  * file field holding head field `i` (-1 = absent, reads NULL). When
  * null, prefix semantics via `dataCols` apply as before.
  */
private[sources] case class FwPartition(file: String, startRecord: Long,
    numRecords: Long, deleted: Array[Long] = Array.empty,
    dataCols: Int = -1, fileLayout: String = null,
    fieldMap: Array[Int] = null)
    extends InputPartition

private[sources] class FwReaderFactory(fullSchema: StructType,
    requiredNames: Array[String], pushed: Array[Filter])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new FwReader(fullSchema, requiredNames, pushed,
      partition.asInstanceOf[FwPartition])
}

/** Wraps a reader factory to append the `_file` metadata column (the
  * partition's file name, constant per split) after the data columns.
  */
private[sources] class FwFileAppendReaderFactory(
    inner: PartitionReaderFactory, dataTypes: Array[DataType])
    extends PartitionReaderFactory {
  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] = {
    val in = inner.createReader(partition)
    val fname = UTF8String.fromString(new java.io.File(
      partition.asInstanceOf[FwPartition].file).getName)
    new PartitionReader[InternalRow] {
      override def next(): Boolean = in.next()
      override def get(): InternalRow = {
        val r = in.get()
        val arr = new Array[Any](dataTypes.length + 1)
        var i = 0
        while (i < dataTypes.length) {
          arr(i) = if (r.isNullAt(i)) null else r.get(i, dataTypes(i))
          i += 1
        }
        arr(dataTypes.length) = fname
        new GenericInternalRow(arr)
      }
      override def close(): Unit = in.close()
    }
  }
}

/** Per-partition reader: seeks straight to `startRecord`, then decodes
  * ONLY the byte slices of (required ∪ filter-referenced) fields and
  * applies pushed filters before materializing the output row.
  */
private[sources] class FwReader(fullSchema: StructType,
    requiredNames: Array[String], pushed: Array[Filter], part: FwPartition)
    extends PartitionReader[InternalRow] {
  // per-head-field byte location inside THIS file's records:
  // (offset, width), width -1 = field absent (reads NULL).
  // - prefix path (fileLayout == null): a pre-evolution file holds the
  //   first `dataCols` fields, trailing fields are absent;
  // - translated path: a pre-REORG file follows its OWN layout and
  //   `fieldMap` names the file field holding each head field
  private val (fieldOff, fieldW, rowLen) =
    if (part.fileLayout == null) {
      val widths = FixedWidth.widths(fullSchema)
      val offsets = widths.scanLeft(0)(_ + _)
      val presentCols =
        if (part.dataCols < 0) fullSchema.length else part.dataCols
      (Array.tabulate(fullSchema.length)(i =>
        if (i < presentCols) offsets(i) else -1),
        Array.tabulate(fullSchema.length)(i =>
          if (i < presentCols) widths(i) else -1),
        offsets(presentCols) + 1)
    } else {
      val fs = FixedWidth.parseSchema(part.fileLayout)
      val fw = FixedWidth.widths(fs)
      val fo = fw.scanLeft(0)(_ + _)
      (Array.tabulate(fullSchema.length) { i =>
        val j = part.fieldMap(i); if (j < 0) -1 else fo(j)
      }, Array.tabulate(fullSchema.length) { i =>
        val j = part.fieldMap(i); if (j < 0) -1 else fw(j)
      }, fo(fs.length) + 1)
    }

  private def refs(f: Filter): Set[String] = f.references.toSet
  private val neededNames: Set[String] =
    requiredNames.toSet ++ pushed.flatMap(refs)
  // field index -> parse slot (only needed fields get a slot)
  private val neededIdx: Array[Int] =
    fullSchema.fieldNames.zipWithIndex.collect {
      case (n, i) if neededNames.contains(n) => i
    }
  private val slotOf: Map[String, Int] =
    neededIdx.zipWithIndex.map { case (fi, slot) =>
      fullSchema.fieldNames(fi) -> slot
    }.toMap
  private val outSlots: Array[Int] = requiredNames.map(slotOf)

  private val raf = new RandomAccessFile(part.file, "r")
  raf.seek(part.startRecord * rowLen.toLong)
  private val buf = new Array[Byte](rowLen)
  private val slots = new Array[Any](neededIdx.length)
  private var remaining = part.numRecords
  private var ordinal = part.startRecord // absolute record index
  private var dvIdx = 0 // pointer into the sorted deleted-ordinal array
  private var current: InternalRow = _

  override def next(): Boolean = {
    while (remaining > 0) {
      remaining -= 1
      // deletion-vector skip: both the scan cursor and the DV are in
      // ascending ordinal order, so one forward pointer suffices
      // (ordinals below this window — a planner that shipped the whole
      // file's DV — just fast-forward past)
      while (dvIdx < part.deleted.length && part.deleted(dvIdx) < ordinal)
        dvIdx += 1
      if (dvIdx < part.deleted.length && part.deleted(dvIdx) == ordinal) {
        dvIdx += 1
        ordinal += 1
        raf.seek(ordinal * rowLen.toLong)
      } else {
      ordinal += 1
      raf.readFully(buf)
      var s = 0
      while (s < neededIdx.length) {
        slots(s) = parseField(neededIdx(s))
        s += 1
      }
      if (pushed.forall(eval)) {
        current = new GenericInternalRow(
          outSlots.map(slots(_)).asInstanceOf[Array[Any]])
        return true
      }
      }
    }
    false
  }
  override def get(): InternalRow = current
  override def close(): Unit = raf.close()

  private def parseField(i: Int): Any = {
    if (fieldW(i) < 0) return null
    val start = fieldOff(i)
    var a = start
    var b = start + fieldW(i)
    while (a < b && buf(a) == ' ') a += 1
    while (b > a && buf(b - 1) == ' ') b -= 1
    if (a == b) null
    else {
      val s = new String(buf, a, b - a, StandardCharsets.UTF_8)
      fullSchema.fields(i).dataType match {
        case LongType => java.lang.Long.valueOf(s)
        case IntegerType => java.lang.Integer.valueOf(s)
        case DoubleType => java.lang.Double.valueOf(s)
        case _ =>
          // strings keep INTERNAL spaces; only the pad is trimmed
          UTF8String.fromString(s)
      }
    }
  }

  private def cmp(attr: String, value: Any): Option[Int] = {
    val v = slots(slotOf(attr))
    if (v == null) None
    else v match {
      // FwNum keeps integral-vs-constant ordering exact under
      // fractional or out-of-int-range constants (longValue/intValue
      // would truncate/wrap and fabricate matches)
      case l: java.lang.Long =>
        FwNum.cmpLong(l, value.asInstanceOf[Number])
      case i: java.lang.Integer =>
        FwNum.cmpLong(i.longValue, value.asInstanceOf[Number])
      case d: java.lang.Double =>
        Some(java.lang.Double.compare(d, value.asInstanceOf[Number].doubleValue))
      case u: UTF8String => Some(u.toString.compareTo(value.toString))
      case other => throw new IllegalStateException(s"unexpected $other")
    }
  }

  private def eval(f: Filter): Boolean = f match {
    case EqualTo(a, v) => cmp(a, v).contains(0)
    case GreaterThan(a, v) => cmp(a, v).exists(_ > 0)
    case GreaterThanOrEqual(a, v) => cmp(a, v).exists(_ >= 0)
    case LessThan(a, v) => cmp(a, v).exists(_ < 0)
    case LessThanOrEqual(a, v) => cmp(a, v).exists(_ <= 0)
    case IsNotNull(a) => slots(slotOf(a)) != null
    case And(l, r) => eval(l) && eval(r)
    case other => throw new IllegalStateException(s"unpushable filter $other")
  }
}

/** Writer-side helper for tests/queries: render rows into the fixed
  * layout (numerics left-padded, strings right-padded; overflow is an
  * error, not silent truncation).
  */
object FixedWidthWriter {
  def render(schema: StructType, values: Seq[Seq[Any]]): Array[Byte] = {
    val widths = FixedWidth.widths(schema)
    val sb = new StringBuilder
    values.foreach { row =>
      row.zipWithIndex.foreach { case (v, i) =>
        val w = widths(i)
        val s = if (v == null) "" else v.toString
        val byteLen = s.getBytes(StandardCharsets.UTF_8).length
        require(byteLen <= w,
          s"value '$s' ($byteLen UTF-8 bytes) exceeds width $w of field " +
            schema.fields(i).name)
        schema.fields(i).dataType match {
          case StringType => sb.append(s).append(" " * (w - byteLen))
          case _ => sb.append(" " * (w - byteLen)).append(s)
        }
      }
      sb.append('\n')
    }
    sb.toString.getBytes(StandardCharsets.UTF_8)
  }
}
