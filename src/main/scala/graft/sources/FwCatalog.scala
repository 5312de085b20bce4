package graft.sources

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Catalog plugin exposing fixed-width datasets to plain SQL — the
  * third connector surface next to the batch/streaming read and write
  * paths: register with
  *
  *   spark.conf.set("spark.sql.catalog.fw", "graft.sources.FwCatalog")
  *
  * and then
  *
  *   CREATE TABLE fw.ns.t (id BIGINT, name STRING)
  *     OPTIONS (path '/data/t', widths '8,12')
  *   INSERT INTO fw.ns.t SELECT ...
  *   SELECT * FROM fw.ns.t
  *
  * DDL carries the layout: widths come from the `widths` option
  * (comma list, aligned with the column list; types from the column
  * DDL), the storage location from `path`. Table metadata lives in
  * the catalog instance (per session); the DATA is whatever `.fw`
  * files sit at `path` — `DROP TABLE` removes only metadata, like an
  * external table. All reads/writes route through the same
  * FwTable/FwScan/FwBatchWrite machinery, so pruning, pushdown,
  * metadata-only COUNT(*) and the two-phase writer work from SQL
  * unchanged.
  */
class FwCatalog extends TableCatalog with SupportsNamespaces
    with FunctionCatalog with ProcedureCatalog {
  private var catalogName: String = _
  private val tables = new ConcurrentHashMap[Identifier, FwTable]()

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name
  override def name(): String = catalogName

  // ---- ProcedureCatalog: maintenance ops as SQL CALL -----------------
  // `CALL fw.optimize('ns.t', 1048576)` etc — see FwProcedures for the
  // procedure set; named args and implicit casts come from the
  // analyzer's InvokeProcedures rule.
  override def listProcedures(
      namespace: Array[String]): Array[Identifier] =
    FwProcedures.names.map(n => Identifier.of(namespace, n)).toArray

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    FwProcedures.load(this, ident.name()).getOrElse(
      throw new IllegalArgumentException(
        s"FixedWidth catalog has no procedure ${ident.name()}; " +
          s"available: ${FwProcedures.names.mkString(", ")}"))

  // ---- FunctionCatalog: the `bucket` transform function -------------
  // Storage-partitioned joins over bucket(n, col) layouts require the
  // TABLE's catalog to resolve the transform to a bound V2 function
  // (the Iceberg device): Spark checks both sides bind to the same
  // canonical function before zipping bucket ids instead of shuffling.
  override def listFunctions(
      namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(namespace, "bucket"))

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name().equalsIgnoreCase("bucket")) FwBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)

  override def listTables(namespace: Array[String]): Array[Identifier] =
    tables.keySet().asScala.filter(_.namespace.sameElements(namespace))
      .toArray

  override def loadTable(ident: Identifier): Table = {
    val t = tables.get(ident)
    if (t == null) throw new NoSuchTableException(ident)
    t
  }

  /** SQL time travel: `SELECT ... FROM cat.ns.t VERSION AS OF n` routes
    * here; the returned table is pinned to snapshot n of the
    * [[FwVersions]] manifest (resolution — and the loud failure
    * for unknown versions — happens at scan time, where the path is
    * known-good).
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val t = tables.get(ident)
    if (t == null) throw new NoSuchTableException(ident)
    // numeric → snapshot pin; anything else names a branch or tag
    // (the Iceberg VERSION AS OF 'ref' idiom) — resolution, and the
    // loud unknown-ref failure, happen at scan time
    if (version.matches("\\d+")) t.atVersion(version)
    else t.atBranch(version)
  }

  /** SQL `TIMESTAMP AS OF ts` — Spark hands the instant as epoch
    * MICROseconds; the manifest stores commit times in millis, so the
    * pin floors to the containing millisecond.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val t = tables.get(ident)
    if (t == null) throw new NoSuchTableException(ident)
    t.atTimestamp(Math.floorDiv(timestamp, 1000L))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: java.util.Map[String, String]): Table = {
    if (tables.containsKey(ident))
      throw new TableAlreadyExistsException(ident)
    // PARTITIONED BY (col): exactly one identity transform maps onto
    // the source's hive-style partitionBy layout
    val partitionBy: Option[String] = partitions.toSeq match {
      case Seq() => None
      case Seq(t) =>
        t.references().toSeq match {
          case Seq(r) if t.name() == "identity" && r.fieldNames().length == 1 =>
            Some(r.fieldNames().head)
          case _ => throw new IllegalArgumentException(
            "fixedwidth supports only PARTITIONED BY (<one column>), " +
              s"got $t")
        }
      case many => throw new IllegalArgumentException(
        "fixedwidth supports only a single partition column, got " +
          many.mkString(", "))
    }
    val props = properties.asScala
    // OPTIONS(...) keys surface both bare and as "option.<key>"
    // depending on the DDL path — accept either
    def opt(key: String): Option[String] =
      props.get(key).orElse(props.get(TableCatalog.OPTION_PREFIX + key))
    // Spark normalizes the `path` option into the LOCATION property,
    // URI-qualified (file:/...) — strip the scheme back to a local path
    val path = opt("path").orElse(props.get(TableCatalog.PROP_LOCATION))
      .map(p => if (p.startsWith("file:"))
        new java.net.URI(p).getPath else p)
      .getOrElse(throw new IllegalArgumentException(
        s"CREATE TABLE $ident requires OPTIONS (path '...')"))
    val widths = opt("widths").getOrElse(
      throw new IllegalArgumentException(
        s"CREATE TABLE $ident requires OPTIONS (widths 'w1,w2,...')"))
      .split(",").map(_.trim.toInt)
    require(widths.length == schema.fields.length,
      s"widths has ${widths.length} entries for ${schema.fields.length} columns")
    // re-encode DDL schema + widths as the option spec FwTable expects
    val spec = schema.fields.zip(widths).map { case (f, w) =>
      val tpe = f.dataType.typeName match {
        case "long" | "bigint" => "long"
        case "integer" => "int"
        case "double" => "double"
        case "string" => "string"
        case other => throw new IllegalArgumentException(
          s"fixedwidth does not support column type $other (${f.name})")
      }
      s"${f.name}:$tpe:$w"
    }.mkString(",")
    val bucketProps = (opt("bucketBy"), opt("buckets")) match {
      case (Some(c), Some(n)) =>
        require(partitionBy.isEmpty,
          "fixedwidth: bucketBy and PARTITIONED BY are mutually exclusive")
        Map("bucketBy" -> c, "buckets" -> n)
      case (None, None) => Map.empty[String, String]
      case _ => throw new IllegalArgumentException(
        "fixedwidth: bucketBy and buckets must be given together")
    }
    val table = new FwTable(FixedWidth.parseSchema(spec),
      Map("path" -> path, "schema" -> spec) ++
        partitionBy.map("partitionBy" -> _) ++ bucketProps)
    new java.io.File(path).mkdirs()
    tables.put(ident, table)
    table
  }

  /** `ALTER TABLE t ADD COLUMN c BIGINT COMMENT 'width=10'` —
    * metadata-only schema evolution: the column appends to the schema
    * log ([[FwSchemaLog.addColumn]]), no data file is touched, old
    * files read NULL for it. The COMMENT carries the fixed-width
    * layout width (DDL has no other slot for it). Other ALTER shapes
    * stay unsupported: fixed-width offsets make renames/drops/type
    * changes a rewrite, not metadata.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val t = tables.get(ident)
    if (t == null) throw new NoSuchTableException(ident)
    val fw = t match {
      case f: FwTable => f
      case other => throw new IllegalArgumentException(
        s"$ident is not a fixedwidth table: $other")
    }
    // Validate EVERY change before applying ANY, so a multi-column
    // `ADD COLUMNS (a, b)` fully applies or fully fails — applying
    // per-change against a pre-ALTER spec snapshot would half-evolve
    // the schema log when a later column is rejected.
    sealed trait Op
    final case class AddOp(colSpec: String) extends Op
    final case class RenameOp(from: String, to: String) extends Op
    final case class DropOp(name: String) extends Op
    val ops: Seq[Op] = changes.map {
      case add: TableChange.AddColumn =>
        require(add.fieldNames().length == 1,
          "fixedwidth: ADD COLUMN supports top-level columns only")
        val name = add.fieldNames().head
        val tpe = add.dataType().typeName match {
          case "long" | "bigint" => "long"
          case "integer" => "int"
          case "double" => "double"
          case "string" => "string"
          case other => throw new IllegalArgumentException(
            s"fixedwidth does not support column type $other ($name)")
        }
        val width = Option(add.comment())
          .flatMap { c =>
            val m = java.util.regex.Pattern
              .compile("width=(\\d+)").matcher(c)
            if (m.find()) Some(m.group(1).toInt) else None
          }
          .getOrElse(throw new IllegalArgumentException(
            "fixedwidth: ADD COLUMN needs its layout width — declare " +
              s"it as COMMENT 'width=<n>' (column $name)"))
        AddOp(s"$name:$tpe:$width")
      // RENAME/DROP COLUMN are metadata-only through the schema log's
      // column mapping (the Delta column-mapping discipline): logical
      // names move, byte offsets never do — no data file is touched
      case rn: TableChange.RenameColumn =>
        require(rn.fieldNames().length == 1,
          "fixedwidth: RENAME COLUMN supports top-level columns only")
        RenameOp(rn.fieldNames().head, rn.newName())
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames().length == 1,
          "fixedwidth: DROP COLUMN supports top-level columns only")
        DropOp(del.fieldNames().head)
      case other =>
        throw new UnsupportedOperationException(
          s"fixedwidth: unsupported ALTER ($other) — offsets make " +
            "type changes a rewrite, not metadata; ADD/RENAME/DROP " +
            "COLUMN evolve in place")
    }
    val path = fw.dataPath
    val baseSpec = fw.tableProps.getOrElse("schema",
      throw new IllegalStateException(s"table $ident has no spec"))
    // dry-run the whole batch against the logical spec so a bad later
    // change rejects BEFORE any log mutation — this fold must carry
    // EVERY validation the apply phase performs (reserved prefix,
    // colSpec shape/width), or a late rejection would leave the log
    // half-evolved, violating the fully-applies-or-fully-fails contract
    ops.foldLeft(FixedWidth.parseSchema(baseSpec).fieldNames.toVector) {
      (names, op) => op match {
        case AddOp(cs) =>
          val parsed = FixedWidth.parseSchema(cs) // shape/type/width
          require(parsed.length == 1,
            s"fixedwidth: colSpec must describe exactly one column: $cs")
          val n = parsed.fieldNames.head
          require(!n.startsWith(FwSchemaLog.DroppedPrefix),
            s"fixedwidth: '${FwSchemaLog.DroppedPrefix}' is a " +
              "reserved name prefix")
          require(!names.contains(n),
            s"fixedwidth: column $n already exists")
          names :+ n
        case RenameOp(from, to) =>
          val i = names.indexOf(from)
          require(i >= 0, s"fixedwidth: no column $from to rename")
          require(!names.contains(to),
            s"fixedwidth: column $to already exists")
          require(!to.startsWith(FwSchemaLog.DroppedPrefix),
            s"fixedwidth: '${FwSchemaLog.DroppedPrefix}' is a " +
              "reserved name prefix")
          names.updated(i, to)
        case DropOp(n) =>
          require(names.contains(n), s"fixedwidth: no column $n to drop")
          require(names.size > 1,
            s"fixedwidth: cannot drop the last column $n")
          names.filterNot(_ == n)
      }
    }
    if (ops.exists(op => !op.isInstanceOf[AddOp]))
      FwSchemaLog.ensureLog(path, baseSpec)
    ops.foldLeft(baseSpec) { (spec, op) =>
      op match {
        case AddOp(colSpec) =>
          FwSchemaLog.addColumn(path, spec, colSpec)
        case RenameOp(from, to) =>
          FwSchemaLog.renameColumn(path, from, to)
        case DropOp(name) =>
          FwSchemaLog.dropColumn(path, name)
      }
      FixedWidth.specOf(FwSchemaLog.read(path).get.logicalHead)
    }
    val finalSpec =
      FixedWidth.specOf(FwSchemaLog.read(path).get.logicalHead)
    val replaced = new FwTable(FixedWidth.parseSchema(finalSpec),
      fw.tableProps + ("schema" -> finalSpec))
    tables.put(ident, replaced)
    replaced
  }

  override def dropTable(ident: Identifier): Boolean =
    tables.remove(ident) != null

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val t = tables.remove(oldIdent)
    if (t == null) throw new NoSuchTableException(oldIdent)
    // RENAME TO may arrive catalog-qualified; rename is same-catalog by
    // contract, so strip our own name from the namespace if present
    val ns = newIdent.namespace()
    val normalized =
      if (ns.nonEmpty && ns.head == catalogName)
        Identifier.of(ns.drop(1), newIdent.name())
      else newIdent
    // TableCatalog contract: rename onto an existing identifier throws
    // (and the source table must survive the failed rename)
    if (tables.containsKey(normalized)) {
      tables.put(oldIdent, t)
      throw new TableAlreadyExistsException(normalized)
    }
    tables.put(normalized, t)
  }

  // --- namespaces: implicit, existence = any table under the prefix,
  // plus anything explicitly created ---
  private val namespaces =
    ConcurrentHashMap.newKeySet[Seq[String]]()

  override def listNamespaces(): Array[Array[String]] =
    (namespaces.asScala.map(_.toArray) ++
      tables.keySet().asScala.map(_.namespace())).toSet.toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    listNamespaces().filter(ns =>
      ns.length > namespace.length && ns.startsWith(namespace))

  override def loadNamespaceMetadata(namespace: Array[String]): java.util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(namespace)
    java.util.Collections.emptyMap()
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || namespaces.contains(namespace.toSeq) ||
      tables.keySet().asScala.exists(_.namespace().sameElements(namespace))

  override def createNamespace(namespace: Array[String],
      metadata: java.util.Map[String, String]): Unit =
    namespaces.add(namespace.toSeq)

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("fixedwidth namespaces carry no metadata")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    if (cascade)
      tables.keySet().asScala.filter(_.namespace().sameElements(namespace))
        .foreach(tables.remove)
    namespaces.remove(namespace.toSeq)
  }
}

/** The `bucket` transform as a V2 function: what lets Spark resolve a
  * `bucket(n, col)` KeyGroupedPartitioning reported by [[FwBucketScan]]
  * and verify both join sides bind to the SAME canonical function
  * before planning a storage-partitioned join. The implementation is
  * [[FwBuckets.idOf]] — the exact hash the bucketed writer routed with.
  */
private[sources] object FwBucketFunction
    extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
  import org.apache.spark.sql.connector.catalog.functions.BoundFunction
  import org.apache.spark.sql.types._

  override def name(): String = "bucket"
  override def description(): String =
    "bucket(n, col): the fixed-width source's stable bucket id"

  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 2,
      s"bucket expects (numBuckets, value), got $inputType")
    inputType.fields(1).dataType match {
      case vt @ (LongType | IntegerType | StringType) =>
        new FwBucketBound(vt)
      case other => throw new UnsupportedOperationException(
        s"bucket does not support $other")
    }
  }
}

private[sources] final class FwBucketBound(
    vt: org.apache.spark.sql.types.DataType)
    extends org.apache.spark.sql.connector.catalog.functions
      .ScalarFunction[Integer] {
  import org.apache.spark.sql.types._
  override def inputTypes(): Array[DataType] = Array(IntegerType, vt)
  override def resultType(): DataType = IntegerType
  override def name(): String = "bucket"
  // canonical identity: join sides are SPJ-compatible iff this matches
  override def canonicalName(): String = s"graft.fw.bucket(${vt.typeName})"
  override def produceResult(
      input: org.apache.spark.sql.catalyst.InternalRow): Integer = {
    val n = input.getInt(0)
    val v: Any = vt match {
      case LongType => input.getLong(1)
      case IntegerType => input.getInt(1).toLong
      case _ => input.getUTF8String(1).toString
    }
    Integer.valueOf(FwBuckets.idOf(v, n))
  }
}
