package graft.sources

/** Named refs over the FW snapshot history — the Iceberg branch/tag
  * idea reduced to the manifest: `_fw_refs.json` maps names to
  * committed versions. Two kinds:
  *
  *  - BRANCHES move. `main` is the default read view: once a refs file
  *    exists, an un-pinned batch read resolves through `main` instead
  *    of the live listing — which is what makes WRITE-AUDIT-PUBLISH
  *    possible: a write carrying `branch=audit` commits its snapshot
  *    version and moves only the `audit` ref, `main` stays frozen at
  *    the pre-stage version (created on first stage if absent), so
  *    production readers cannot see unaudited data; `publish`
  *    fast-forwards `main` to the audited version under the commit
  *    lock.
  *  - TAGS are immutable pins (release markers). Writes never move
  *    them; vacuum's history trim retains every ref'd version, so a
  *    tag outlives any retention window until it is deleted.
  *
  * Refs are a FLAT-table contract (they point into the snapshot
  * manifest). One pending stage branch at a time: a snapshot is a full
  * directory listing, so a second concurrent stage (or a plain write
  * below a pending one) would fold the staged files into an unrelated
  * commit — the guard in [[FwVersions.commitSnapshotLocked]] turns
  * that silent leak into a loud error.
  */
object FwRefs {
  final case class Ref(name: String, version: Long, isTag: Boolean)

  def fileFor(path: String): java.io.File =
    new java.io.File(path, "_fw_refs.json")

  def read(path: String): Seq[Ref] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val f = fileFor(path)
    if (!f.isFile) Seq.empty
    else JsonMethods.parse(
      new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)) \ "refs" match {
      case JArray(rs) => rs.map { r =>
        val JString(name) = r \ "name"
        val v = r \ "v" match {
          case JInt(n) => n.toLong
          case JLong(n) => n
          case other => throw new IllegalArgumentException(
            s"bad _fw_refs.json version: $other")
        }
        val JString(kind) = r \ "kind"
        Ref(name, v, kind == "tag")
      }
      case other =>
        throw new IllegalArgumentException(s"bad _fw_refs.json: $other")
    }
  }

  /** Callers hold the table's commit lock. */
  private[sources] def write(path: String, refs: Seq[Ref]): Unit = {
    import org.json4s.JsonDSL._
    val target = fileFor(path)
    if (refs.isEmpty) target.delete()
    else FwPublish.writeJson(target, "refs" -> refs.map(r =>
      ("name" -> r.name) ~ ("v" -> r.version) ~
        ("kind" -> (if (r.isTag) "tag" else "branch"))))
  }

  def get(path: String, name: String): Option[Ref] =
    read(path).find(_.name == name)

  /** The default-view pin: Some(version) once a refs file carries
    * `main`, None for legacy live-listing tables.
    */
  def mainVersion(path: String): Option[Long] =
    get(path, "main").map(_.version)

  /** Resolve a ref name for a read, loudly. */
  def resolve(path: String, name: String): Long =
    get(path, name).map(_.version).getOrElse(
      throw new IllegalArgumentException(
        s"FixedWidth table at $path has no branch or tag '$name'; " +
          s"available: ${read(path).map(_.name).sorted.mkString(", ")}"))

  /** Callers hold the commit lock. */
  private[sources] def set(path: String, name: String, version: Long,
      isTag: Boolean): Unit = {
    val others = read(path).filterNot(_.name == name)
    write(path, others :+ Ref(name, version, isTag))
  }

  /** Callers hold the commit lock. */
  private[sources] def delete(path: String, name: String): Unit =
    write(path, read(path).filterNot(_.name == name))

  /** The stage branch whose head is above `main`, if any — the table's
    * open write-audit window.
    */
  def pendingStage(path: String): Option[Ref] = {
    val main = mainVersion(path).getOrElse(return None)
    read(path).find(r => !r.isTag && r.name != "main" && r.version > main)
  }

  /** After a hard rollback to `target`: branches above it clamp down
    * to it, tags above it die (their snapshot is gone). Callers hold
    * the commit lock.
    */
  private[sources] def clampTo(path: String, target: Long): Unit = {
    val refs = read(path)
    if (refs.nonEmpty)
      write(path, refs.flatMap { r =>
        if (r.version <= target) Some(r)
        else if (r.isTag) None
        else Some(r.copy(version = target))
      })
  }
}
