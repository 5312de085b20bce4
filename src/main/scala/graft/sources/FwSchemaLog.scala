package graft.sources

import org.apache.spark.sql.types.StructType

/** Schema evolution for the FW source — metadata-only `ADD COLUMN`
  * (the Delta/Iceberg promise: widening a 100-TB table must not
  * rewrite a byte of it).
  *
  * `_fw_schemas.json` holds the table's schema SPEC history (version
  * 1..head, each appending columns to the previous — appends only:
  * existing widths/types/names never change, so every older record
  * layout is a strict byte-level PREFIX of the head layout) plus a
  * file→schema-version map. The map is maintained by exclusion:
  * `addColumn` stamps every file known at evolution time with the
  * pre-evolution head, so any file NOT in the map was written at the
  * current head (writers are required to carry the head schema).
  * Readers parse each file with ITS schema and surface the missing
  * trailing columns as NULL — the scan stays exact-arithmetic
  * (per-file record lengths), zone maps and seek narrowing keep
  * working (prefix offsets are unchanged), and old snapshots read
  * correctly through the same per-file resolution.
  */
object FwSchemaLog {
  /** Reserved name prefix for physically-present-but-dropped fields in
    * the [[Log.physicalized]] layout; user columns may not use it.
    */
  val DroppedPrefix = "__fw_dropped_"

  /** `mapping`, when present, is the COLUMN-MAPPING layer (the Delta
    * column-mapping discipline): the user-visible LOGICAL schema is an
    * ordered list of (logicalName, physicalFieldIndex) over the head
    * physical layout. RENAME COLUMN changes a logical name in place;
    * DROP COLUMN removes an entry — both metadata-only, because byte
    * offsets belong to the PHYSICAL fields, which stay append-only
    * forever (a dropped field keeps occupying its bytes in every file,
    * old and new; honest fixed-width trade-off, reclaimed only by a
    * full rewrite). None = identity (the table never renamed/dropped).
    */
  /** `reorgs` records every REORG (APPLY PURGE) boundary: an entry
    * `(sv, m)` says spec version `sv` is a REWRITTEN physical head —
    * not an append — whose field `j` holds field `m(j)` of the
    * immediately-preceding head layout (`specs(sv-2)`). Files from
    * before a boundary are NOT byte-prefixes of the current head (the
    * purge removed dropped fields from the MIDDLE of the record);
    * pinned reads of them translate head positions through the
    * boundary maps ([[Log.fileTranslation]]) instead of prefix
    * arithmetic. Within an era the append-only prefix invariant holds
    * exactly as before.
    */
  final case class Log(specs: Vector[String], fileSv: Map[String, Int],
      mapping: Option[Vector[(String, Int)]] = None,
      reorgs: Vector[(Int, Vector[Int])] = Vector.empty) {
    val head: Int = specs.length
    private val schemas: Vector[StructType] =
      specs.map(FixedWidth.parseSchema)
    private val lens: Vector[Long] =
      schemas.map(s => FixedWidth.widths(s).sum + 1L)
    def headSchema: StructType = schemas.last
    def svOf(fileName: String): Int = fileSv.getOrElse(fileName, head)
    def rowLenOf(fileName: String): Long = lens(svOf(fileName) - 1)
    def dataColsOf(fileName: String): Int =
      schemas(svOf(fileName) - 1).length
    /** The full table layout at spec version `sv` (1-based). */
    def layoutAt(sv: Int): StructType = schemas(sv - 1)
    /** True when every name in `files` parses at the head layout. */
    def uniformOver(files: Iterable[String]): Boolean =
      files.forall(svOf(_) == head)

    def hasMapping: Boolean = mapping.isDefined

    /** First spec version of the CURRENT era: files at sv >= this are
      * byte-prefixes of the head layout; older files need
      * [[fileTranslation]].
      */
    def eraStart: Int = reorgs.lastOption.map(_._1).getOrElse(1)

    /** For a file from a PRE-REORG era: its own layout spec plus, per
      * head field, the index of the file field holding it (-1 when
      * the column was added after the file was written). None for
      * current-era files — plain prefix semantics apply to them.
      */
    def fileTranslation(fileName: String): Option[(String, Array[Int])] = {
      val sv = svOf(fileName)
      if (sv >= eraStart) None
      else {
        // walk the boundaries newest-first down to the file's era;
        // each map sends a head position into the previous era's head
        var idx = Array.tabulate(headSchema.length)(identity)
        reorgs.reverseIterator.foreach { case (r, m) =>
          if (r > sv) idx = idx.map(j => if (j < 0) -1 else m(j))
        }
        // within its era the file is a PREFIX of that era's head
        val fileCols = schemas(sv - 1).length
        Some((specs(sv - 1),
          idx.map(j => if (j >= 0 && j < fileCols) j else -1)))
      }
    }

    /** The user-visible schema: mapped fields in mapping order, each
      * carrying its PHYSICAL field's type and width under its logical
      * name. Identity (= [[headSchema]]) when no mapping exists.
      */
    def logicalHead: StructType = mapping match {
      case None => headSchema
      case Some(m) => StructType(m.map { case (n, pi) =>
        headSchema.fields(pi).copy(name = n) })
    }

    /** The LAYOUT schema every scan/write runs on: the full physical
      * head (every field's true byte offsets), with logical names
      * substituted on mapped fields and reserved `__fw_dropped_<i>`
      * names on dropped ones — so required-column/filter name lookups
      * resolve while offsets stay physical. Old files remain strict
      * PREFIXES of this layout (dataCols), exactly as before mapping.
      */
    def physicalized: StructType = mapping match {
      case None => headSchema
      case Some(m) =>
        val byPhys = m.map { case (n, pi) => pi -> n }.toMap
        StructType(headSchema.fields.zipWithIndex.map { case (f, i) =>
          f.copy(name = byPhys.getOrElse(i, s"$DroppedPrefix$i")) })
    }

    /** For writers on a mapped table: physical slot -> index of the
      * logical input field that feeds it, or -1 for a dropped field
      * (rendered NULL — all-spaces — in every new record).
      */
    def writeSlotMap: Array[Int] = {
      val m = mapping.getOrElse(
        return Array.tabulate(headSchema.length)(identity))
      val byPhys = m.zipWithIndex.map { case ((_, pi), li) => pi -> li }
        .toMap
      Array.tabulate(headSchema.length)(i => byPhys.getOrElse(i, -1))
    }
  }

  def fileFor(path: String): java.io.File =
    new java.io.File(path, "_fw_schemas.json")

  def read(path: String): Option[Log] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val f = fileFor(path)
    if (!f.isFile) None
    else {
      val doc = JsonMethods.parse(
        new String(java.nio.file.Files.readAllBytes(f.toPath),
          java.nio.charset.StandardCharsets.UTF_8))
      val specs = doc \ "versions" match {
        case JArray(vs) => vs.map {
          case JString(s) => s
          case other => throw new IllegalArgumentException(
            s"bad _fw_schemas.json version: $other")
        }.toVector
        case other => throw new IllegalArgumentException(
          s"bad _fw_schemas.json: $other")
      }
      val files = doc \ "files" match {
        case JObject(fs) => fs.map {
          case (name, JInt(sv)) => name -> sv.toInt
          case (name, JLong(sv)) => name -> sv.toInt
          case other => throw new IllegalArgumentException(
            s"bad _fw_schemas.json file entry: $other")
        }.toMap
        case _ => Map.empty[String, Int]
      }
      val mapping = doc \ "mapping" match {
        case JArray(es) => Some(es.map {
          case JArray(List(JString(n), JInt(pi))) => (n, pi.toInt)
          case JArray(List(JString(n), JLong(pi))) => (n, pi.toInt)
          case other => throw new IllegalArgumentException(
            s"bad _fw_schemas.json mapping entry: $other")
        }.toVector)
        case _ => None
      }
      def int(v: JValue): Int = v match {
        case JInt(i) => i.toInt
        case JLong(i) => i.toInt
        case other => throw new IllegalArgumentException(
          s"bad _fw_schemas.json reorg entry: $other")
      }
      val reorgs = doc \ "reorgs" match {
        case JArray(es) => es.map {
          case JArray(List(sv, JArray(m))) => (int(sv), m.map(int).toVector)
          case other => throw new IllegalArgumentException(
            s"bad _fw_schemas.json reorg entry: $other")
        }.toVector
        case _ => Vector.empty[(Int, Vector[Int])]
      }
      Some(Log(specs, files, mapping, reorgs))
    }
  }

  /** Callers hold the table's commit lock. */
  private[sources] def write(path: String, log: Log): Unit = {
    import org.json4s.JsonDSL._
    val base = ("versions" -> log.specs) ~
      ("files" -> log.fileSv.toSeq.sortBy(_._1).map {
        case (n, sv) => n -> sv
      }.toMap)
    val withMapping = log.mapping match {
      case Some(m) => base ~ ("mapping" -> m.map {
        case (n, pi) => Seq(org.json4s.JString(n),
          org.json4s.JInt(pi)): Seq[org.json4s.JValue]
      })
      case None => base
    }
    val doc =
      if (log.reorgs.isEmpty) withMapping
      else withMapping ~ ("reorgs" -> log.reorgs.map { case (sv, m) =>
        Seq(org.json4s.JInt(sv),
          org.json4s.JArray(m.map(i =>
            org.json4s.JInt(i): org.json4s.JValue).toList))
          : Seq[org.json4s.JValue]
      })
    FwPublish.writeJson(fileFor(path), doc)
  }

  /** Metadata-only column append: every `.fw` file the table knows
    * (live, retained history, every manifest version) is stamped with
    * the pre-evolution head so later readers parse it at its true
    * layout; then the widened spec becomes the new head. No data file
    * is touched.
    */
  def addColumn(path: String, currentSpec: String,
      colSpec: String): Unit = {
    require(new java.io.File(path).isDirectory,
      s"no FixedWidth table at $path")
    FwVersions.withLock(path) {
      val existing = read(path)
      existing.foreach { log =>
        // on a mapped table the caller's "current" is the LOGICAL head
        require(specEq(FixedWidth.specOf(log.logicalHead), currentSpec),
          s"FixedWidth: currentSpec does not match the evolved head " +
            s"schema '${FixedWidth.specOf(log.logicalHead)}'")
      }
      val newSpec = s"$currentSpec,$colSpec"
      val widened = FixedWidth.parseSchema(newSpec) // validates shape
      val cur = FixedWidth.parseSchema(currentSpec)
      require(widened.length == cur.length + 1,
        s"FixedWidth: colSpec must describe exactly one column: $colSpec")
      val newName = widened.fields.last.name
      require(!cur.fieldNames.contains(newName),
        s"FixedWidth: column $newName already exists")
      require(!newName.startsWith(DroppedPrefix),
        s"FixedWidth: '$DroppedPrefix' is a reserved name prefix")
      val oldHead = existing.map(_.head).getOrElse(1)
      val oldSpecs = existing.map(_.specs).getOrElse(Vector(currentSpec))
      // stamp everything known now at the old head. Partitioned and
      // bucketed layouts keep their files in `<k>=<v>` subdirectories;
      // those stamp under the RELATIVE key `<dir>/<name>` (bare names
      // can collide across partition directories — two writes from
      // different Spark apps may reuse a (partitionId, taskId) pair),
      // and their scans look files up by the same relative key.
      val partitioned: Seq[String] =
        Option(new java.io.File(path).listFiles())
          .getOrElse(Array.empty).toSeq
          .filter(d => d.isDirectory && d.getName.contains("="))
          .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty)
            .filter(f => f.isFile && f.getName.endsWith(".fw"))
            .map(f => s"${d.getName}/${f.getName}"))
      val known: Set[String] =
        (FwFiles.listPhysical(path).map(_.getName) ++ partitioned ++
          FwVersions.read(path).flatMap(_.files.map(_._1))).toSet
      val prior = existing.map(_.fileSv).getOrElse(Map.empty)
      val stamped = prior ++
        known.filterNot(prior.contains).map(_ -> oldHead)
      // the PHYSICAL head always appends, mapping or not; on a mapped
      // table the new logical entry points at the new physical slot —
      // a previously-dropped field of the same name stays dropped
      // (Delta semantics: re-ADD never resurrects old data). Physical
      // field names stay unique: a re-ADD colliding with a retired
      // physical name gets a suffixed physical name (invisible to
      // users — the mapping owns the logical name).
      val physHead = oldSpecs.last
      val physFields = FixedWidth.parseSchema(physHead)
      val physIdx = physFields.length
      val physName =
        if (!physFields.fieldNames.contains(newName)) newName
        else s"$newName${DroppedPrefix}r$physIdx"
      val Array(_, tpeStr, wStr) = colSpec.trim.split(":")
      val physSpec = s"$physHead,$physName:$tpeStr:$wStr"
      FixedWidth.parseSchema(physSpec) // validate the widened layout
      val newMapping = existing.flatMap(_.mapping)
        .map(m => m :+ ((newName, physIdx)))
      write(path, Log(oldSpecs :+ physSpec, stamped, newMapping))
    }
  }

  /** Metadata-only RENAME COLUMN: the logical name changes, the
    * physical field (and every byte on disk) stays. Introduces the
    * mapping layer on first use.
    */
  def renameColumn(path: String, from: String, to: String): Unit =
    FwVersions.withLock(path) {
      val log = ensureMapped(path)
      val m = log.mapping.get
      val idx = m.indexWhere(_._1 == from)
      require(idx >= 0, s"FixedWidth: no column $from to rename")
      require(!m.exists(_._1 == to),
        s"FixedWidth: column $to already exists")
      require(!to.startsWith(DroppedPrefix),
        s"FixedWidth: '$DroppedPrefix' is a reserved name prefix")
      write(path, log.copy(mapping =
        Some(m.updated(idx, (to, m(idx)._2)))))
    }

  /** Metadata-only DROP COLUMN: the logical entry disappears; the
    * physical field keeps occupying its bytes in every file (old AND
    * new — writers render it NULL), reclaimed only by a full rewrite.
    * A later ADD COLUMN of the same name is a NEW physical field; the
    * dropped data never resurfaces.
    */
  def dropColumn(path: String, name: String): Unit =
    FwVersions.withLock(path) {
      val log = ensureMapped(path)
      val m = log.mapping.get
      require(m.exists(_._1 == name),
        s"FixedWidth: no column $name to drop")
      require(m.size > 1,
        s"FixedWidth: cannot drop the last column $name")
      write(path, log.copy(mapping = Some(m.filterNot(_._1 == name))))
    }

  /** The REORG (APPLY PURGE) log transition — called under the commit
    * lock AFTER the rewritten live files are published. Every file
    * known before the rewrite is stamped at the pre-reorg head (pinned
    * reads keep their recorded layouts), the PURGED spec — the logical
    * head, i.e. the physical head minus dropped fields, under the
    * current logical names — becomes the new physical head, the
    * mapping collapses away (logical names ARE the physical names
    * now), and the era boundary map (new head position -> pre-reorg
    * physical position) is appended for cross-era translation.
    */
  private[sources] def applyReorg(path: String,
      knownBefore: Set[String]): Unit = {
    val log = read(path).getOrElse(throw new IllegalStateException(
      s"FixedWidth reorg: no schema log at $path"))
    val m = log.mapping.getOrElse(throw new IllegalStateException(
      s"FixedWidth reorg: table at $path carries no column mapping"))
    val purgedSpec = FixedWidth.specOf(log.logicalHead)
    val purgeMap = m.map(_._2)
    val stamped = log.fileSv ++
      knownBefore.filterNot(log.fileSv.contains).map(_ -> log.head)
    write(path, Log(log.specs :+ purgedSpec, stamped, None,
      log.reorgs :+ ((log.specs.length + 1, purgeMap))))
  }

  /** Current log with the mapping layer materialized (identity over
    * the physical head when the table never renamed/dropped before).
    * Caller holds the commit lock. The table must have a declared spec
    * on record — callers pass it via [[ensureLog]] when absent.
    */
  private def ensureMapped(path: String): Log = {
    // same flat-table contract as ADD COLUMN: partitioned/bucketed
    // layouts keep sidecars whose `_phys` indices are relative to the
    // pcol-less data schema — a mapping over them would resolve stats
    // against the wrong slots
    require(!Option(new java.io.File(path).listFiles())
      .getOrElse(Array.empty)
      .exists(d => d.isDirectory && d.getName.contains("=")),
      s"FixedWidth: RENAME/DROP COLUMN are flat-table operations; " +
        s"$path holds a partitioned or bucketed layout")
    val log = read(path).getOrElse(throw new IllegalArgumentException(
      s"FixedWidth: no schema log at $path — rename/drop need the " +
        "table's spec on record; create it via ensureLog(path, spec)"))
    if (log.hasMapping) log
    else log.copy(mapping = Some(
      log.headSchema.fieldNames.zipWithIndex.toVector))
  }

  /** Seed the schema log for a table that never evolved (so rename/
    * drop have a physical baseline on record). Stamps nothing: every
    * existing file already IS the head layout.
    */
  def ensureLog(path: String, currentSpec: String): Unit =
    FwVersions.withLock(path) {
      read(path) match {
        case Some(log) =>
          require(specEq(FixedWidth.specOf(log.logicalHead), currentSpec),
            s"FixedWidth: currentSpec does not match the evolved head " +
              s"schema '${FixedWidth.specOf(log.logicalHead)}'")
        case None =>
          FixedWidth.parseSchema(currentSpec) // validate
          write(path, Log(Vector(currentSpec), Map.empty))
      }
    }

  /** Guard for operations that slice records at the head layout (COW
    * merge/delete ordinal matching, streaming offsets): they are only
    * sound when every file they may touch already IS head-layout.
    * Compaction does NOT need this — it groups per layout and stamps
    * its outputs; row-level SQL DML doesn't either — its COW scan is
    * per-file-layout-aware and upgrades as it rewrites.
    */
  private[sources] def requireUniform(path: String, op: String): Unit =
    read(path).foreach { log =>
      val live = FwFiles.list(path).map(_.getName)
      require(log.uniformOver(live),
        s"FixedWidth $op at $path: the table carries files at older " +
          "schema versions (metadata-only ADD COLUMN); this operation " +
          "slices records at the head layout and would mis-parse " +
          "them — rewrite old files first (e.g. a COW pass on a " +
          "uniform table) or run the op before evolving")
    }

  /** Truncate wipes every file; stale name→sv entries must die with
    * them or a recycled file name would inherit the wrong layout.
    * Callers hold the commit lock.
    */
  private[sources] def purgeFiles(path: String): Unit =
    read(path).foreach(log => write(path, log.copy(fileSv = Map.empty)))

  /** Spec equality on structure (names, types, widths), ignoring
    * incidental whitespace.
    */
  private def specEq(a: String, b: String): Boolean = {
    val sa = FixedWidth.parseSchema(a)
    val sb = FixedWidth.parseSchema(b)
    sa.fields.map(f => (f.name, f.dataType)).sameElements(
      sb.fields.map(f => (f.name, f.dataType))) &&
      FixedWidth.widths(sa).sameElements(FixedWidth.widths(sb))
  }

  /** Structural schema equality: names, types, widths. */
  private[sources] def structEq(a: StructType, b: StructType): Boolean =
    a.fields.map(f => (f.name, f.dataType)).sameElements(
      b.fields.map(f => (f.name, f.dataType))) &&
      FixedWidth.widths(a).sameElements(FixedWidth.widths(b))

  /** LAYOUT validation for the scan/write machinery: the schema every
    * internal reader/writer runs on must be the head LAYOUT — the
    * physical head, with the mapping's logical names applied when one
    * exists ([[Log.physicalized]]). A logical schema reaching a
    * mapped table's byte-level machinery fails HERE, loudly, before it
    * can mis-slice a record.
    */
  private[sources] def requireHead(path: String,
      schema: StructType): Option[Log] = {
    val log = read(path)
    log.foreach { l =>
      require(structEq(schema, l.physicalized),
        s"FixedWidth: table at $path has evolved to layout " +
          s"'${FixedWidth.specOf(l.physicalized)}'; reads and writes " +
          "must carry the head schema")
    }
    log
  }

  /** BOUNDARY validation: what a USER must declare for this table —
    * the logical head (after renames/drops), or the plain head when no
    * mapping exists.
    */
  private[sources] def requireLogicalHead(path: String,
      schema: StructType): Option[Log] = {
    val log = read(path)
    log.foreach { l =>
      require(structEq(schema, l.logicalHead),
        s"FixedWidth: table at $path has evolved; declare its current " +
          s"schema '${FixedWidth.specOf(l.logicalHead)}'")
    }
    log
  }

}
