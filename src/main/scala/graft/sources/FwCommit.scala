package graft.sources

import org.json4s._
import org.json4s.jackson.JsonMethods

// The steps of the FixedWidth commit protocol, each written once: the
// manifest record with its one parser and one writer, the one
// version-append step (FwVersions.commitSnapshotLocked), the staged-file
// publish, sweep and removal, and the atomic metadata write (FwPublish).
// Every writer in this package commits through them.

/** One snapshot version of the manifest: the file set visible after the
  * commit (`files`: name and pinned byte length, -1 for a legacy
  * name-only entry, read at the file's live length), the commit time
  * (`ts`, epoch millis, -1 when the version predates timestamps), the
  * writer's `(appId, txnVersion)` idempotency record if it carried one,
  * and the operation name (absent in pre-op manifests; history shows
  * "unknown").
  */
private[sources] final case class FwVersion(v: Long,
    files: Seq[(String, Long)], ts: Long = -1L,
    txn: Option[(String, Long)] = None, op: Option[String] = None)

/** Snapshot-version manifest: `_fw_versions.json` in the table
  * directory records, per successful BATCH commit, the complete `.fw`
  * file set visible after that commit — the Delta/Iceberg snapshot
  * idea reduced to its append-only essence. Readers pin a snapshot
  * with the `versionAsOf` option (or SQL `VERSION AS OF n` through
  * [[FwCatalog]]); because published files are immutable, an old
  * version is exactly its manifest file list, no tombstones needed.
  * A truncating write starts a fresh file set but HISTORY keeps
  * growing — older versions stay readable until their files are
  * actually gone, at which point reads fail loudly.
  *
  * The manifest is one line of compact JSON written through
  * [[FwPublish.writeJson]] (tmp → atomic rename), so a crashed writer
  * can never leave a torn manifest. Streaming epochs do not version
  * (an epoch is not a user-visible snapshot boundary); streaming reads
  * ignore the manifest entirely.
  */
private[sources] object FwVersions {
  def manifestFor(path: String): java.io.File =
    new java.io.File(path, "_fw_versions.json")

  private def lockFor(path: String): java.io.File =
    new java.io.File(path, "_fw_versions.lock")

  /** A commit lock held longer than this is a crashed writer's (the
    * critical section is a directory listing plus one JSON publish —
    * milliseconds); it gets broken so the table never wedges.
    */
  val LockStaleMillis: Long = 60L * 1000
  private val LockWaitMillis: Long = 30L * 1000

  /** Serialize a manifest read-modify-write against every other
    * committer of this table: an O_EXCL lock-file create is atomic on
    * POSIX and object stores with if-none-match, so two writers cannot
    * both hold it. This is the mutual exclusion HALF of optimistic
    * concurrency — writers still do their expensive work outside the
    * lock and only re-check + publish inside (see
    * [[requireVersion]]).
    */
  def withLock[A](path: String)(body: => A): A = {
    val lf = lockFor(path)
    val deadline = System.currentTimeMillis() + LockWaitMillis
    var acquired = false
    while (!acquired) {
      try { java.nio.file.Files.createFile(lf.toPath); acquired = true }
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          val lm = lf.lastModified()
          // lm == 0 means the lock vanished between exists and stat
          // (or stat failed): just retry
          if (lm > 0 && System.currentTimeMillis() - lm > LockStaleMillis)
            lf.delete() // crashed writer; break it
          else if (System.currentTimeMillis() > deadline)
            throw new IllegalStateException(
              s"FixedWidth: could not acquire commit lock $lf within " +
                s"${LockWaitMillis / 1000}s (held by a live writer?)")
          else Thread.sleep(20)
      }
    }
    try body finally lf.delete()
  }

  /** Newest committed version, 0 when no batch write has committed. */
  def currentMax(path: String): Long = {
    val all = read(path)
    if (all.isEmpty) 0L else all.map(_.v).max
  }

  /** The optimistic-concurrency check: callers that planned a
    * read-compute-replace against version `planned` call this INSIDE
    * [[withLock]] right before publishing; a version committed in
    * between means the plan is stale and must abort (sweeping its tmp
    * outputs) instead of silently losing the other writer's commit.
    */
  def requireVersion(path: String, planned: Long, op: String): Unit = {
    val cur = currentMax(path)
    if (cur != planned)
      throw new java.util.ConcurrentModificationException(
        s"FixedWidth $op at $path planned against version $planned " +
          s"but version $cur has since committed; re-plan and retry")
  }

  /** Every version, in manifest order — the one manifest parser. Each
    * field keeps the tolerance its history needs: a name-only file
    * entry reads as -1 bytes, a missing or non-integer `ts` as -1, a
    * missing `txn` or `op` stays absent; a malformed byte length or txn
    * version throws.
    */
  def read(path: String): Seq[FwVersion] = {
    val f = manifestFor(path)
    if (!f.isFile) Seq.empty
    else JsonMethods.parse(
      new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)) \ "versions" match {
      case JArray(vs) => vs.map { e =>
        val JInt(n) = e \ "v"
        val JArray(files) = e \ "files"
        FwVersion(n.toLong,
          files.map {
            case JString(name) => (name, -1L)
            case fe =>
              val JString(name) = fe \ "n"
              (name, long(fe \ "b", "byte length"))
          },
          ts = e \ "ts" match {
            case JInt(t) => t.toLong
            case JLong(t) => t
            case _ => -1L
          },
          txn = e \ "txn" match {
            case JObject(_) =>
              val JString(app) = e \ "txn" \ "a"
              Some((app, long(e \ "txn" \ "tv", "txn version")))
            case _ => None
          },
          op = e \ "op" match {
            case JString(o) => Some(o)
            case _ => None
          })
      }
      case other =>
        throw new IllegalArgumentException(s"bad _fw_versions.json: $other")
    }
  }

  private def long(j: JValue, what: String): Long = j match {
    case JInt(b) => b.toLong
    case JLong(b) => b
    case other => throw new IllegalArgumentException(
      s"bad _fw_versions.json $what: $other")
  }

  /** Replace the manifest wholesale — the one manifest writer. Field
    * order per version is `v`, `files[n, b]`, `ts`, `txn{a, tv}`, `op`;
    * a ts of -1 and an absent txn or op are omitted.
    */
  def write(path: String, versions: Seq[FwVersion]): Unit = {
    import org.json4s.JsonDSL._
    val doc: JObject = "versions" ->
      versions.map { r =>
        val base = ("v" -> r.v) ~ ("files" -> r.files.map { case (n, b) =>
          ("n" -> n) ~ ("b" -> b): JObject
        })
        val withTs = if (r.ts >= 0) base ~ ("ts" -> r.ts) else base
        val withTxn = r.txn.fold(withTs) { case (app, tv) =>
          withTs ~ ("txn" -> (("a" -> app) ~ ("tv" -> tv)))
        }
        r.op.fold(withTxn)(o => withTxn ~ ("op" -> o))
      }
    FwPublish.writeJson(manifestFor(path), doc)
  }

  /** The file list of `version`, loudly when the manifest lacks it. */
  def resolve(path: String, version: Long): Seq[(String, Long)] = {
    val all = read(path)
    all.find(_.v == version).map(_.files).getOrElse {
      val have =
        if (all.isEmpty) "none (no batch write has committed here)"
        else s"${all.map(_.v).min}..${all.map(_.v).max}"
      throw new IllegalArgumentException(
        s"FixedWidth table at $path has no version $version; " +
          s"available: $have")
    }
  }

  /** Highest committed txnVersion per application id — the idempotency
    * high-water marks a new transactional commit checks against (the
    * Delta `txn` action reduced to the manifest: a retried job
    * re-presenting an (app, ver) pair at or below the mark is a
    * duplicate and must not commit again).
    */
  def txnHighWater(path: String): Map[String, Long] =
    read(path).flatMap(_.txn).groupBy(_._1)
      .map { case (app, vs) => app -> vs.map(_._2).max }

  /** Delta-style timestamp travel: the NEWEST version whose commit
    * time is at or before `tsMillis`. Versions from pre-timestamp
    * manifests (ts unknown) are never eligible — an explicit error
    * beats silently reading an arbitrary snapshot.
    */
  def resolveTimestamp(path: String, tsMillis: Long): Long = {
    val ts = read(path).filter(_.ts >= 0)
    val eligible = ts.filter(_.ts <= tsMillis)
    if (eligible.nonEmpty) eligible.maxBy(r => (r.ts, r.v)).v
    else {
      val have =
        if (ts.isEmpty)
          "none (no timestamped version has committed here)"
        else s"commits span ${ts.map(_.ts).min}..${ts.map(_.ts).max}"
      throw new IllegalArgumentException(
        s"FixedWidth table at $path has no version at or before " +
          s"timestamp $tsMillis; available: $have")
    }
  }

  /** The stage-vs-commit compatibility check, WITHOUT side effects —
    * commit paths call this (inside the lock) BEFORE publishing any
    * file, so an illegal commit fails with zero torn state; the
    * snapshot itself re-runs it and then mutates refs.
    */
  def requireCommitSlot(path: String, stageBranch: Option[String]): Unit = {
    val pending = FwRefs.pendingStage(path)
    stageBranch match {
      case Some(b) =>
        require(b != "main",
          "FixedWidth: branch=main is the default commit path — omit " +
            "the option instead of staging to main")
        require(FwRefs.get(path, b).forall(!_.isTag),
          s"FixedWidth: '$b' is a tag; tags are immutable")
        pending.filter(_.name != b).foreach { p =>
          throw new IllegalStateException(
            s"FixedWidth: branch '${p.name}' already has a pending " +
              s"stage at version ${p.version}; publish or drop it " +
              s"before staging '$b'")
        }
        require(currentMax(path) >= 1,
          "FixedWidth: staging requires a committed base version — " +
            "write the table once before opening an audit branch")
      case None =>
        pending.foreach { p =>
          throw new IllegalStateException(
            s"FixedWidth: branch '${p.name}' has a pending stage at " +
              s"version ${p.version}; publish or drop it before " +
              "committing to main")
        }
    }
  }

  /** Append the next version — the one version-append step, for
    * callers inside [[withLock]] (every committer holds the lock across
    * publish + input removal + snapshot, so its read-compute-replace is
    * atomic vs other committers). Returns the new version number.
    *
    * The snapshot is the live listing (name + byte length per file: it
    * pins a record-aligned PREFIX of each immutable file, and versioned
    * planning reads the manifest once instead of stat()ing every file),
    * or `files` verbatim when given (RESTORE re-commits an old version's
    * list, CLONE its source's latest). `excluding`: file names THIS
    * commit supersedes (a COW rewrite's inputs) — they stay on disk for
    * older pins but leave the live set, so the new snapshot must not
    * list them. `txn`: the
    * writer's (appId, txnVersion) idempotency record, stamped into the
    * new version so a retry of the same job version is detectable.
    * `stageBranch`: commit to a side branch — `main` (and therefore
    * every default reader) does not move; a plain commit fast-forwards
    * `main` when refs exist. Either way, a snapshot is a full
    * directory listing, so while a stage is pending every OTHER commit
    * path must refuse (it would fold the staged files into its own
    * snapshot — a silent leak into `main`).
    */
  def commitSnapshotLocked(path: String,
      excluding: Set[String] = Set.empty,
      txn: Option[(String, Long)] = None,
      stageBranch: Option[String] = None,
      op: String = "append",
      files: Option[Seq[(String, Long)]] = None): Long = {
    requireCommitSlot(path, stageBranch)
    // first stage freezes the default view where it stands
    if (stageBranch.isDefined && FwRefs.mainVersion(path).isEmpty)
      FwRefs.set(path, "main", currentMax(path), isTag = false)
    val prior = read(path)
    val next = if (prior.isEmpty) 1L else prior.map(_.v).max + 1L
    val snapshot = files.getOrElse(
      FwFiles.list(path, prior)
        .filter(f => !excluding.contains(f.getName))
        .map(f => (f.getName, f.length())).toSeq.sortBy(_._1))
    // commit time, forced strictly increasing so two commits inside
    // one millisecond stay distinguishable to timestamp travel
    val now = math.max(System.currentTimeMillis(),
      prior.foldLeft(-1L)((m, r) => math.max(m, r.ts)) + 1)
    write(path, prior :+ FwVersion(next, snapshot, now, txn,
      Some(stageBranch.fold(op)(b => s"stage:$b"))))
    stageBranch match {
      case Some(b) => FwRefs.set(path, b, next, isTag = false)
      case None =>
        if (FwRefs.mainVersion(path).isDefined)
          FwRefs.set(path, "main", next, isTag = false)
    }
    next
  }
}

/** Staged data files and the metadata files beside them.
  *
  * A writer stages each data file under a name no reader lists
  * (`x.fw.tmp` next to its target, or `x.fw` inside a scratch directory
  * of the table), with its zone-map sidecar staged beside it
  * ([[stagedSidecar]]). Inside the commit lock it either publishes it
  * ([[publish]]) or sweeps it ([[sweep]]); a published file that leaves
  * the table goes with its sidecar and deletion vector ([[remove]]).
  * Every table metadata file — manifest, epoch log, refs, schema log,
  * constraints, deletion vectors — is replaced through [[writeJson]].
  */
private[sources] object FwPublish {
  /** The sidecar staged beside `staged`: `x.fwstats.tmp` for
    * `x.fw.tmp`, `x.fwstats` for a data file staged under its final
    * name in a scratch directory.
    */
  def stagedSidecar(staged: String): String =
    if (staged.endsWith(".tmp"))
      FwStats.sidecarFor(staged.stripSuffix(".tmp")) + ".tmp"
    else FwStats.sidecarFor(staged)

  /** Publish a staged data file as `target`, then its sidecar if one
    * was staged. The data file goes first everywhere: readers list data
    * files and read a missing sidecar as "never prune", so the window
    * between the two renames only costs pruning; the reverse order
    * could leave, after a failed data rename, a published sidecar that
    * no data file owns and that no sweep looks for.
    */
  def publish(staged: java.io.File, target: java.io.File): Unit = {
    move(staged, target)
    val sc = new java.io.File(stagedSidecar(staged.getPath))
    if (sc.isFile)
      move(sc, new java.io.File(FwStats.sidecarFor(target.getPath)))
  }

  /** [[publish]] under the staged name minus its `.tmp`. */
  def publish(staged: String): java.io.File = {
    val f = new java.io.File(staged)
    val target = new java.io.File(f.getParentFile,
      f.getName.stripSuffix(".tmp"))
    publish(f, target)
    target
  }

  private def move(from: java.io.File, to: java.io.File): Unit =
    require(from.renameTo(to), s"could not publish $from -> $to")

  /** Drop a staged data file and its staged sidecar. */
  def sweep(staged: String): Unit = {
    new java.io.File(staged).delete()
    new java.io.File(stagedSidecar(staged)).delete()
  }

  /** Delete a published data file with its sidecar and deletion
    * vector; true when the data file is gone.
    */
  def remove(data: java.io.File): Boolean = {
    new java.io.File(FwStats.sidecarFor(data.getPath)).delete()
    FwDv.delete(data.getPath)
    data.delete()
  }

  /** Replace a metadata file atomically: compact JSON to
    * `<target>.tmp`, then an atomic rename over the target, so a
    * crashed writer never leaves a torn file.
    */
  def writeJson(target: java.io.File, doc: JValue): Unit = {
    val tmp = new java.io.File(target.getPath + ".tmp")
    java.nio.file.Files.write(tmp.toPath,
      JsonMethods.compact(JsonMethods.render(doc))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp.toPath, target.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }
}
