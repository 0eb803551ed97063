package graft.iceberg

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID
import scala.jdk.CollectionConverters._

/** Storage for table files. Local-FS implementation here; the interface is
  * the narrow surface an S3 implementation needs (put / conditional-put /
  * get / list), mirroring how the reference talks to object storage. The
  * committer only ever moves METADATA through this — row data is written by
  * Spark executors directly. */
trait TableIO {
  /** Stable identity of the table location — cache key for immutable files. */
  def root: String
  def put(relPath: String, bytes: Array[Byte]): Unit

  /** Atomic create-if-absent — the commit point. Returns false if the path
    * already exists (a concurrent committer won the version). */
  def putIfAbsent(relPath: String, bytes: Array[Byte]): Boolean
  def get(relPath: String): Array[Byte]
  def exists(relPath: String): Boolean
  def list(relPrefix: String): Seq[String]

  /** Recursive file listing with modification times — the input to orphan
    * GC (mtime gates "old enough to be a crash leftover, not an in-flight
    * write"). Returns (relPath, mtimeMs) for every regular file under the
    * prefix; an absent prefix is an empty table, not an error. */
  def listFilesRecursive(relPrefix: String): Seq[(String, Long)]
  def delete(relPath: String): Unit
}

object TableIO {
  /** Whether a table root is a scheme-qualified URI (`hdfs://…`, `s3a://…`,
    * `file://…`) rather than a plain local path. */
  def hasScheme(root: String): Boolean = root.matches("^[a-zA-Z][a-zA-Z0-9+.-]*://.*")

  /** The Spark session's Hadoop configuration when one exists (so
    * `spark.hadoop.*` settings — s3a credentials, endpoints, HA namenodes —
    * reach every FileSystem the engine opens), else Hadoop defaults. The
    * active session is thread-local; shutdown hooks and non-Spark threads
    * have none and fall back to the default session. */
  def hadoopConf(): org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  /** Pick the binding for a table root. Remote scheme-qualified URIs
    * (`hdfs://…`, `s3a://…`) or `GRAFT_TABLE_IO=hadoop` go through
    * [[HadoopTableIO]]. Local roots — plain paths AND `file://` URIs —
    * keep [[LocalTableIO]]: its O_EXCL create is the only atomic
    * create-if-absent the local filesystem has (Hadoop's LocalFileSystem
    * checks existence non-atomically, which would silently void the commit
    * CAS for two processes sharing a local warehouse). */
  def forRoot(root: String,
              conf: org.apache.hadoop.conf.Configuration = null): TableIO = {
    val c = Option(conf).getOrElse(hadoopConf())
    if (sys.env.get("GRAFT_TABLE_IO").contains("hadoop")) new HadoopTableIO(root, c)
    else if (root.startsWith("file:"))
      new LocalTableIO(new org.apache.hadoop.fs.Path(root).toUri.getPath)
    else if (hasScheme(root)) new HadoopTableIO(root, c)
    else new LocalTableIO(root)
  }
}

final class LocalTableIO(val root: String) extends TableIO {
  private def abs(rel: String): Path = Paths.get(root, rel)
  override def put(relPath: String, bytes: Array[Byte]): Unit = {
    val p = abs(relPath)
    Files.createDirectories(p.getParent)
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp" + UUID.randomUUID().toString)
    Files.write(tmp, bytes)
    Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }
  override def putIfAbsent(relPath: String, bytes: Array[Byte]): Boolean = {
    val p = abs(relPath)
    Files.createDirectories(p.getParent)
    // ATOMICALLY-WHOLE create-if-absent: write the temp fully, then
    // hard-link it into place — link(2) fails atomically when the target
    // exists (the CAS), and the content appears all-or-nothing. The
    // previous CREATE_NEW-then-write exposed an EMPTY/partial file between
    // create and write; a concurrent committer reading that window would
    // misclassify a REAL in-flight commit as a dead writer's torn artifact
    // (caught by the torn-file commit fuzz as lost commits).
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp" + UUID.randomUUID().toString)
    Files.write(tmp, bytes)
    try { Files.createLink(p, tmp); true }
    catch {
      case _: java.nio.file.FileAlreadyExistsException => false
      // Mounts without hard-link support (NFS/SMB/FAT, some overlay
      // volumes) reject link(2) outright. Fall back to an O_EXCL create —
      // still an atomic create-if-absent, at the cost of re-exposing the
      // empty-between-create-and-write window such filesystems can't avoid
      // (same trade NioCheckpointFileManager makes for its atomic rename).
      case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
        try {
          Files.write(p, bytes, java.nio.file.StandardOpenOption.CREATE_NEW,
            java.nio.file.StandardOpenOption.WRITE)
          true
        } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    }
    finally Files.deleteIfExists(tmp)
  }
  override def get(relPath: String): Array[Byte]  = Files.readAllBytes(abs(relPath))
  override def exists(relPath: String): Boolean   = Files.exists(abs(relPath))
  override def list(relPrefix: String): Seq[String] = {
    val dir = abs(relPrefix)
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.map(p => relPrefix + "/" + p.getFileName.toString).toSeq
      finally s.close()
    }
  }
  override def listFilesRecursive(relPrefix: String): Seq[(String, Long)] = {
    val dir = abs(relPrefix)
    // a regular-file prefix lists itself (OrphanGc fans list() entries out
    // to tasks without knowing which are directories)
    if (Files.isRegularFile(dir))
      return Seq((Paths.get(root).relativize(dir).toString, Files.getLastModifiedTime(dir).toMillis))
    if (!Files.isDirectory(dir)) return Nil
    val walk = Files.walk(dir)
    try walk.iterator().asScala
      .filter(Files.isRegularFile(_))
      .map(p => (Paths.get(root).relativize(p).toString, Files.getLastModifiedTime(p).toMillis))
      .toSeq
    finally walk.close()
  }
  override def delete(relPath: String): Unit = Files.deleteIfExists(abs(relPath))
}

final case class CommitConflict(msg: String) extends RuntimeException(msg)

/** Result of a successful commit. */
final case class CommitResult(snapshotId: Long, version: Int, metadata: TableMetadata)

/** Hand-rolled Iceberg v2 snapshot committer — the one genuinely custom
  * component of the engine (SURVEY §7.1). Driver-side, metadata-only: it
  * never sees row data, only `DataFile` descriptors, so it is identical at
  * sf0.001 and at 100 TB.
  *
  * Behavior matched to the reference:
  *  - append commit with carry-forward (cumulative) manifest lists
  *    (`/root/reference/src/storage/iceberg_storage.rs:1022-1161,958-1018`)
  *  - replace (compaction) commit with status=2 delete entries and CAS on
  *    the expected base snapshot (`iceberg_storage.rs:1165-1308`)
  *  - snapshot summary with standard counts plus `zombi.watermark.{p}` /
  *    `zombi.high_watermark.{p}` keys (`iceberg_storage.rs:285-300`,
  *    `iceberg.rs:562-610`)
  *  - "last metadata version wins" atomicity via create-if-absent on
  *    `v{N}.metadata.json` (`iceberg_storage.rs:360-374,1000-1010`)
  *  - active-file resolution over all manifests: status 0/1 adds, status 2
  *    removes (`iceberg_storage.rs:541-632`)
  */
final class IcebergCommitter(val io: TableIO, val topic: String = "events",
                             val schema: IcebergSchema = IcebergSchema.default) {
  import IcebergCommitter.{Active, NewManifest}
  private val metaDir = "metadata"

  def versionFile(v: Int): String = s"$metaDir/v$v.metadata.json"

  /** Highest committed version, or 0 if the table does not exist yet. */
  def currentVersion(): Int = {
    val vs = io.list(metaDir).flatMap { p =>
      val name = p.substring(p.lastIndexOf('/') + 1)
      if (name.startsWith("v") && name.endsWith(".metadata.json"))
        name.stripPrefix("v").stripSuffix(".metadata.json").toIntOption
      else None
    }
    if (vs.isEmpty) 0 else vs.max
  }

  /** Current (version, metadata) = the highest PARSEABLE version file.
    *
    * A writer that died mid-write on a create-reserving store (HDFS/ABFS)
    * can leave a partial `v{N}.metadata.json` at the top of the chain; a
    * naive "current = max version" then wedges every read and commit on a
    * parse error forever. Torn versions are NEVER deleted in-band — a
    * parse-check-then-delete heal has an unfixable TOCTOU hole (the
    * torn-file fuzz caught it losing real commits: healer B reads torn vM,
    * healer A deletes it AND re-commits a REAL vM, then B's stale delete
    * destroys A's commit). Instead the slot is simply SKIPPED: readers
    * resolve downward to the first parseable version, and
    * [[publishNext]] burns past torn slots upward. A torn file occupies
    * its version number forever (bounded garbage, bytes of metadata);
    * correctness needs no deletes at all.
    *
    * Failure classes: NOT-FOUND skips (a hole left by an external actor);
    * any other read error PROPAGATES (it may hide a perfectly valid
    * commit); read-ok-but-unparseable skips (torn artifact). */
  private def resolveCurrent(): (Int, Option[TableMetadata]) = {
    var v = currentVersion()
    while (v > 0) {
      val bytes =
        try Some(io.get(versionFile(v)))
        catch {
          case _: java.nio.file.NoSuchFileException | _: java.io.FileNotFoundException => None
        }
      bytes.foreach { b =>
        try return (v, Some(IcebergCommitter.cachedMetadataFromBytes(io, versionFile(v), b)))
        catch { case _: Exception => () } // torn: skip, never delete
      }
      v -= 1
    }
    (0, None)
  }

  /** The version [[load]] actually resolves to (highest parseable) — what
    * optimistic writers must CAS against, as opposed to [[currentVersion]]'s
    * raw listing max, which may be a torn artifact's burned slot. */
  def resolvedVersion(): Int = resolveCurrent()._1

  def load(): Option[TableMetadata] = resolveCurrent()._2

  /** Random positive 63-bit id — matching the reference's
    * `generate_snapshot_id` (`/root/reference/src/storage/iceberg.rs:1118-1125`).
    * nanoTime would have a per-JVM origin and can collide across restarts. */
  private def newSnapshotId(): Long =
    UUID.randomUUID().getMostSignificantBits & 0x7fffffffffffffffL

  /** Append `added` files as a new snapshot. Retries are the CALLER's job on
    * CommitConflict (matching the reference, which re-queues pending files).
    * `extraSummary` lets callers stamp commit provenance (e.g. the streaming
    * batch id for replay-safe exactly-once). `expectedBaseVersion` makes the
    * append OPTIMISTIC: when the appended sequences were derived from the
    * watermarks of version V, a foreign commit advancing the table past V
    * must fail this commit (the sequences could overlap) instead of
    * appending silently. */
  def commitAppend(added: Seq[DataFile], watermarks: Map[Int, Long] = Map.empty,
                   extraSummary: Map[String, String] = Map.empty,
                   expectedBaseVersion: Option[Int] = None): CommitResult =
    synchronized { commit(added, Nil, expectedSnapshotId = None, operation = "append", watermarks,
                          extraSummary, expectedBaseVersion) }

  /** Compaction commit: optimistic replace. Fails with CommitConflict if the
    * current snapshot is not `expectedBase` (another writer committed).
    * MERGE passes `operation = "overwrite"` (the Iceberg name for a
    * replace that also adds rows) and the post-insert `watermarks` so a
    * merge's appended tail advances F7/F9 like any other append; plain
    * compaction/delete rewrites keep the defaults (watermarks carry
    * forward from the parent summary).
    *
    * `dataPreserving = true` stamps `zombi.data-preserving` in the summary:
    * the CALLER asserts the commit's LIVE ROW SET is identical to its
    * parent's (a compaction/MoR-fold rewrite — never a CoW delete or
    * merge). Streaming consumers ([[appendsBetween]], the changefeed) may
    * CROSS a stamped replace emitting nothing, which is what lets a
    * checkpointed tail survive the auto-maintenance clock's vacuums.
    * Rollback/time-travel guards deliberately do NOT honor the stamp —
    * the replace still physically deletes the files it replaced. The
    * commit enforces the cheap half of the claim itself (a fold can only
    * shrink the physical row count: added ≤ removed, and only a pure
    * replace qualifies); the caller holds the mask arithmetic for the
    * exact conservation bracket (see Compaction's commit-site assert). */
  def commitReplace(removed: Seq[DataFile], added: Seq[DataFile], expectedBase: Long,
                    watermarks: Map[Int, Long] = Map.empty,
                    operation: String = "replace",
                    removedDeletes: Seq[DataFile] = Nil,
                    dataPreserving: Boolean = false): CommitResult = {
    if (dataPreserving) {
      require(operation == "replace",
        s"dataPreserving applies only to operation=replace, not '$operation' (a merge/CoW delete changes rows)")
      require(added.map(_.recordCount).sum <= removed.map(_.recordCount).sum,
        "a data-preserving replace can only fold rows away: added " +
          s"${added.map(_.recordCount).sum} > removed ${removed.map(_.recordCount).sum}")
    }
    val extra = if (dataPreserving) Map("zombi.data-preserving" -> "true") else Map.empty[String, String]
    synchronized { commit(added, removed, expectedSnapshotId = Some(expectedBase), operation, watermarks,
                          extra, None, removedDeletes = removedDeletes) }
  }

  /** Merge-on-read row-level DELETE commit: delete files — positional
    * (Iceberg v2 DataFile content=1) or equality (content=2) — enter the
    * table through their own delete manifest; data files are untouched,
    * readers anti-join the positions/keys at scan. CAS on `expectedBase`:
    * positions were derived from that snapshot's files (a compaction would
    * renumber them), and equality keys from its row set — any foreign
    * commit in between must fail this commit instead of corrupting rows. */
  def commitDeletes(deleteFiles: Seq[DataFile], expectedBase: Long): CommitResult = {
    require(deleteFiles.nonEmpty && deleteFiles.forall(f => f.content == 1 || f.content == 2),
      "commitDeletes takes position (content=1) or equality (content=2) delete files")
    synchronized { commit(Nil, Nil, expectedSnapshotId = Some(expectedBase), operation = "delete",
                          Map.empty, Map.empty, None, addedDeletes = deleteFiles) }
  }

  /** Write-audit-publish, stage half: commits the snapshot into the
    * metadata WITHOUT advancing the current pointer — readers keep seeing
    * the parent until [[publish]] fast-forwards. Iceberg's stage-only
    * commit (`wap` pattern): the staged snapshot is fully formed (own
    * manifest list on top of the current head, summary watermarks), so an
    * audit job can read it by id via [[activeDataFilesAt]]. */
  def commitStaged(added: Seq[DataFile], watermarks: Map[Int, Long] = Map.empty): CommitResult =
    synchronized { commit(added, Nil, expectedSnapshotId = None, operation = "append", watermarks,
                          Map("zombi.staged" -> "true"), None, stageOnly = true) }

  /** Write-audit-publish, publish half: fast-forwards the current pointer
    * to a staged snapshot. Requires the target's parent to BE the current
    * head — the audit window saw exactly the state the stage built on; a
    * foreign commit in between means the staged snapshot must be rebuilt
    * (no cherry-pick re-parenting here). CAS-versioned like every commit. */
  def publish(snapshotId: Long): Int = synchronized {
    val (baseVersion, baseMeta) = resolveCurrent()
    val base = baseMeta.getOrElse(
      throw new IllegalArgumentException(s"cannot publish $snapshotId on an empty table"))
    val snap = base.snapshots.find(_.snapshotId == snapshotId).getOrElse(
      throw new IllegalArgumentException(s"unknown snapshot $snapshotId"))
    if (base.currentSnapshotId.contains(snapshotId)) return baseVersion
    if (snap.parentSnapshotId != base.currentSnapshotId)
      throw CommitConflict(
        s"staged snapshot $snapshotId was built on ${snap.parentSnapshotId}, " +
          s"but the table advanced to ${base.currentSnapshotId} — restage")
    casPublish(baseVersion, pointTo(base, snapshotId))
  }

  /** `base` with the current pointer moved to `snapshotId`, logged — the
    * pointer change [[publish]] and [[rollbackTo]] commit. */
  private def pointTo(base: TableMetadata, snapshotId: Long): TableMetadata = {
    val now = System.currentTimeMillis()
    base.copy(lastUpdatedMs = now, currentSnapshotId = Some(snapshotId),
              snapshotLog = base.snapshotLog :+ SnapshotLogEntry(snapshotId, now))
  }

  /** THE CAS publish step every metadata change ends in: take the next
    * version above `baseVersion` ([[publishNext]]), then advance the
    * version hint, returning the version won. A lost race deletes the
    * files this operation wrote (`written`: its manifests and manifest
    * list, never anything a competitor can reference) and raises
    * [[CommitConflict]] — retries are the caller's job. */
  private def casPublish(baseVersion: Int, next: TableMetadata, written: Seq[String] = Nil): Int = {
    val won = publishNext(baseVersion, next.toJson.getBytes("UTF-8")).getOrElse {
      written.foreach(io.delete)
      throw CommitConflict(s"a competitor committed past version $baseVersion (lost the race)")
    }
    io.put(s"$metaDir/version-hint.text", won.toString.getBytes("UTF-8"))
    won
  }

  private def commit(
      added: Seq[DataFile],
      removed: Seq[DataFile],
      expectedSnapshotId: Option[Long],
      operation: String,
      watermarks: Map[Int, Long],
      extraSummary: Map[String, String],
      expectedBaseVersion: Option[Int],
      stageOnly: Boolean = false,
      addedDeletes: Seq[DataFile] = Nil,
      removedDeletes: Seq[DataFile] = Nil
  ): CommitResult = {
    val (baseVersion, baseMeta) = resolveCurrent()
    val base = baseMeta.getOrElse(TableMetadata.create(s"table://$topic", schema))

    expectedBaseVersion.foreach { exp =>
      if (exp != baseVersion)
        throw CommitConflict(s"sequences derived at version $exp but table advanced to $baseVersion")
    }
    expectedSnapshotId.foreach { exp =>
      if (!base.currentSnapshotId.contains(exp))
        throw CommitConflict(s"expected base snapshot $exp but current is ${base.currentSnapshotId}")
    }

    // new manifests are written (and their list entries stamped) under the
    // table's DEFAULT spec — after a partition-spec evolution, old
    // manifests keep their spec id and readers route per manifest
    val curSpec = base.partitionSpecs.find(_.specId == base.defaultSpecId)
      .getOrElse(base.partitionSpecs.head)
    // layout/spec consistency: writers derive their directory layout from
    // the default spec BEFORE writing, but the manifest's spec id resolves
    // HERE, at commit time — an evolution landing in between would
    // otherwise stamp flat files into an event_date-partitioned manifest
    // (a spec violation external readers mis-project). Fail as a CAS
    // conflict instead: the caller's conflict path already cleans up and
    // the batch is rewritten under the new layout.
    locally {
      val wantsDate = curSpec.fields.exists(_.name == "event_date")
      added.filter(_.content == 0).foreach { f =>
        if (f.filePath.contains("/event_date=") != wantsDate)
          throw CommitConflict(
            s"${f.filePath} was written under a different partition layout than the " +
              "current default spec (the spec evolved between write and commit) — rewrite the batch")
      }
    }

    // One new manifest holding this commit's added + deleted DATA entries
    // (skipped when the commit touches only delete files), plus — for
    // merge-on-read commits — a SECOND manifest (content=1, meta
    // content="deletes") holding position-delete file entries. Data and
    // delete files never share a manifest (the Iceberg v2 rule that lets
    // readers route by the list entry's content int alone).
    val snapshotId = newSnapshotId()
    val dataEntries =
      added.map(f => ManifestEntry(1, snapshotId, f)) ++
        removed.map(f => ManifestEntry(2, snapshotId, f))
    // delete files carry their kind in DataFile.content (1=position,
    // 2=equality); the manifest LIST entry's content stays 1 for both —
    // the Iceberg list enum is data(0)/deletes(1)
    val deleteEntries =
      addedDeletes.map(f => ManifestEntry(1, snapshotId, f)) ++
        removedDeletes.map(f => ManifestEntry(2, snapshotId, f))
    // the data manifest is written unconditionally for data-bearing commits
    // (byte-compatible with every pre-MoR commit); a pure delete commit
    // writes only its delete manifest
    val manifests =
      (if (dataEntries.nonEmpty || deleteEntries.isEmpty) Seq(NewManifest(0, curSpec.specId, dataEntries)) else Nil) ++
        (if (deleteEntries.nonEmpty) Seq(NewManifest(1, curSpec.specId, deleteEntries)) else Nil)
    // Carry forward the parent's manifest list (cumulative list semantics).
    val parentList = currentManifestsOf(base)
    commitSnapshot(baseVersion, base, snapshotId, parentList, carried = parentList, manifests,
                   operation, watermarks, extraSummary, stageOnly)
  }

  /** THE snapshot builder [[commit]] and [[rewriteManifests]] share: write
    * `manifests`, list them after `carried` in a new manifest list, derive
    * the summary, and CAS-publish the snapshot on top of `base`.
    * `parentList` is the base snapshot's list (a commit carries all of it,
    * a manifest rewrite none). */
  private def commitSnapshot(baseVersion: Int, base: TableMetadata, snapshotId: Long,
                             parentList: Seq[ManifestListEntry], carried: Seq[ManifestListEntry],
                             manifests: Seq[NewManifest], operation: String,
                             watermarks: Map[Int, Long], extraSummary: Map[String, String],
                             stageOnly: Boolean = false): CommitResult = {
    val seqNum     = base.lastSequenceNumber + 1
    val mapper     = TableMetadata.mapper
    val schemaJson = mapper.writeValueAsString(currentSchemaOf(base).toNode(mapper))
    val written    = scala.collection.mutable.ArrayBuffer.empty[String]
    // list-entry counts follow entry status: 0 existing, 1 added, 2
    // deleted; an entry without an explicit data sequence inherits seqNum
    val newList = manifests.map { m =>
      val spec  = base.partitionSpecs.find(_.specId == m.specId).getOrElse(base.partitionSpecs.head)
      val name  = s"$metaDir/${UUID.randomUUID()}-m${written.size}.avro"
      val bytes = ManifestIO.writeManifest(m.entries, schemaJson, spec.fieldsJson(mapper),
                                           if (m.content == 1) "deletes" else "data", specId = m.specId)
      io.put(name, bytes)
      written += name
      def files(status: Int) = m.entries.filter(_.status == status).map(_.dataFile)
      val (existing, adds, dels) = (files(0), files(1), files(2))
      ManifestListEntry(
        manifestPath = name,
        manifestLength = bytes.length.toLong,
        partitionSpecId = m.specId,
        content = m.content,
        sequenceNumber = seqNum,
        minSequenceNumber = m.entries.map(_.dataSequenceNumber.getOrElse(seqNum)).minOption.getOrElse(seqNum),
        addedSnapshotId = snapshotId,
        addedFilesCount = adds.size,
        existingFilesCount = existing.size,
        deletedFilesCount = dels.size,
        addedRowsCount = adds.map(_.recordCount).sum,
        existingRowsCount = existing.map(_.recordCount).sum,
        deletedRowsCount = dels.map(_.recordCount).sum
      )
    }
    val listEntries = carried ++ newList
    val listName    = s"$metaDir/snap-$snapshotId-1-${UUID.randomUUID()}.avro"
    io.put(listName, ManifestIO.writeManifestList(listEntries))

    // Cumulative totals over the whole manifest list (adds + existing −
    // deletes), matching the reference's fold (`iceberg_storage.rs:973-983`).
    // `existing` counts are nonzero only for manifests written by
    // [[rewriteManifests]] (coalesced carries). DATA manifests only:
    // delete files are tracked by their own keys below, never folded into
    // record/file totals.
    def fileTotal(content: Int): Long = listEntries.filter(_.content == content)
      .map(e => (e.addedFilesCount + e.existingFilesCount - e.deletedFilesCount).toLong).sum
    val totalRows = listEntries.filter(_.content == 0)
      .map(e => e.addedRowsCount + e.existingRowsCount - e.deletedRowsCount).sum
    // per-KIND delete totals need per-file content (a delete manifest may
    // mix position and equality files — a fold commit removes both kinds at
    // once), which the list entries don't carry — walk the path-cached
    // carried delete manifests; delete-free tables walk nothing
    val allDeleteEntries =
      carried.filter(_.content == 1).flatMap(mf => IcebergCommitter.cachedManifest(io, mf.manifestPath)) ++
        manifests.filter(_.content == 1).flatMap(_.entries)
    def deleteRowTotal(kind: Int): Long = allDeleteEntries
      .filter(_.dataFile.content == kind)
      .map(e => if (e.status == 2) -e.dataFile.recordCount else e.dataFile.recordCount).sum
    def newFiles(content: Int, status: Int): Seq[DataFile] =
      manifests.filter(_.content == content).flatMap(_.entries).filter(_.status == status).map(_.dataFile)
    val (added, removed) = (newFiles(0, 1), newFiles(0, 2))

    val parentSummary = base.currentSnapshot.map(_.summary).getOrElse(Map.empty)
    val wmKeys = watermarks.map { case (p, wm) => s"zombi.watermark.$p" -> wm.toString } ++
      watermarks.map { case (p, wm) => s"zombi.high_watermark.$p" -> wm.toString }
    // Watermarks are monotonic: carry forward any partition not updated
    // here — and ONLY watermarks. A blanket zombi.* carry would leak
    // per-snapshot MARKERS to every descendant: zombi.rewrite-manifests on
    // a child would let rollback/diff guards cross a real replace, and
    // zombi.staged would make published-stage descendants look staged.
    val carriedWm = parentSummary.filter { case (k, _) =>
      (k.startsWith("zombi.watermark.") || k.startsWith("zombi.high_watermark.")) &&
        !wmKeys.contains(k)
    }
    // delete-file accounting keys appear only once the table actually has
    // (or had) a delete manifest — delete-free tables keep byte-identical
    // summaries to the pre-MoR writer
    val deleteKeys =
      if ((parentList ++ newList).exists(_.content == 1))
        Map("added-delete-files"     -> newFiles(1, 1).size.toString,
            "removed-delete-files"   -> newFiles(1, 2).size.toString,
            "total-delete-files"     -> fileTotal(1).toString,
            "total-position-deletes" -> deleteRowTotal(1).toString,
            "total-equality-deletes" -> deleteRowTotal(2).toString)
      else Map.empty[String, String]
    val summary = Map(
      "operation"          -> operation,
      "added-data-files"   -> added.size.toString,
      "added-records"      -> added.map(_.recordCount).sum.toString,
      "added-files-size"   -> added.map(_.fileSizeInBytes).sum.toString,
      "deleted-data-files" -> removed.size.toString,
      "deleted-records"    -> removed.map(_.recordCount).sum.toString,
      "total-records"      -> totalRows.toString,
      "total-data-files"   -> fileTotal(0).toString
    ) ++ deleteKeys ++ carriedWm ++ wmKeys ++ extraSummary

    val now = System.currentTimeMillis()
    val snapshot = Snapshot(snapshotId, base.currentSnapshotId, now, listName, summary, base.currentSchemaId)
    // stageOnly: the snapshot enters the metadata but the current pointer
    // (and the snapshot log, which records pointer changes) stay put.
    val next = base.copy(
      lastSequenceNumber = seqNum,
      lastUpdatedMs = now,
      currentSnapshotId = if (stageOnly) base.currentSnapshotId else Some(snapshotId),
      snapshots = base.snapshots :+ snapshot,
      snapshotLog =
        if (stageOnly) base.snapshotLog
        else base.snapshotLog :+ SnapshotLogEntry(snapshotId, now)
    )
    CommitResult(snapshotId, casPublish(baseVersion, next, written.toSeq :+ listName), next)
  }

  /** CAS publish: create-if-absent starting at `baseVersion + 1`, BURNING
    * PAST torn slots (see [[resolveCurrent]] — torn versions are never
    * deleted, so a dead writer's partial file permanently occupies its
    * number and the next commit simply takes the next one). Returns the
    * version actually won, or None when a PARSEABLE competitor holds the
    * slot (a real commit — the race is genuinely lost) or the winner is
    * unreadable (it may be a valid commit we cannot see yet — concede,
    * never assume garbage on a read fault). */
  private def publishNext(baseVersion: Int, json: Array[Byte]): Option[Int] = {
    var v = baseVersion + 1
    var rounds = 0
    while (rounds < 100) {
      rounds += 1
      if (io.putIfAbsent(versionFile(v), json)) return Some(v)
      val winner =
        try Right(io.get(versionFile(v)))
        catch {
          case _: java.nio.file.NoSuchFileException | _: java.io.FileNotFoundException => Left(true)
          case _: Exception => Left(false)
        }
      winner match {
        case Left(true)  => () // vanished under us (external actor) — retry the slot
        case Left(false) => return None
        case Right(bytes) =>
          val parses =
            try { TableMetadata.fromJson(new String(bytes, "UTF-8")); true }
            catch { case _: Exception => false }
          if (parses) return None // a real competitor's commit
          v += 1                  // torn artifact burned this slot — advance
      }
    }
    None
  }

  /** Manifest-list entries of a snapshot — time travel: every snapshot's
    * manifest list is retained in metadata, so any historical state is
    * reconstructible until expired. Manifest and manifest-list files are
    * immutable (UUID names, written once), so parses are cached per
    * absolute path — repeated metadata queries never re-read the full
    * chain (the reference caches the same way,
    * `/root/reference/src/storage/iceberg_storage.rs:50-53,763-898`).
    * An UNKNOWN snapshot id fails loud: after [[expireSnapshots]] removes
    * a snapshot, a time-travel read of it must error ("expired"), never
    * silently return an empty table. */
  private def manifestsOf(meta: TableMetadata, snapshotId: Long): Seq[ManifestListEntry] = {
    val s = meta.snapshots.find(_.snapshotId == snapshotId).getOrElse(
      throw new IllegalArgumentException(
        s"unknown snapshot $snapshotId — not in the table metadata (expired or never committed)"))
    IcebergCommitter.cachedManifestList(io, s.manifestList)
  }

  /** Manifest entries of a snapshot against an ALREADY-LOADED metadata, in
    * manifest-list order, routed by the list entry's content int — data
    * (0) and delete (1) manifests are disjoint by construction, so the
    * filter is the complete routing rule. A multi-snapshot reader (the
    * changefeed) resolves every snapshot of its range from ONE consistent
    * metadata instead of N racing re-loads. */
  def entriesOf(meta: TableMetadata, snapshotId: Long, content: Int = 0): Seq[ManifestEntry] =
    manifestsOf(meta, snapshotId).filter(_.content == content)
      .flatMap(mf => IcebergCommitter.cachedManifest(io, mf.manifestPath))

  /** THE active-file fold, over a snapshot's manifests of one list content
    * (0 data, 1 deletes) in list order: a status-2 entry removes a file by
    * path, every other entry keeps it (`iceberg_storage.rs:541-632`). */
  private def activeEntries(meta: TableMetadata, snapshotId: Long, content: Int): Seq[Active] = {
    val active = scala.collection.mutable.LinkedHashMap.empty[String, Active]
    manifestsOf(meta, snapshotId).filter(_.content == content).foreach { mf =>
      IcebergCommitter.cachedManifest(io, mf.manifestPath).foreach { e =>
        if (e.status == 2) active.remove(e.dataFile.filePath)
        else active.put(e.dataFile.filePath,
          Active(e, e.dataSequenceNumber.getOrElse(mf.sequenceNumber), mf.partitionSpecId))
      }
    }
    active.values.toSeq
  }

  /** Manifest-list entries of the current snapshot (for the `$manifests`
    * metadata relation). */
  def currentManifests(): Seq[ManifestListEntry] =
    load().toSeq.flatMap(m => currentManifestsOf(m))

  /** [[currentManifests]] against an already-loaded metadata — for probes
    * that must read several metadata facets without re-parsing the (large,
    * snapshot-count-proportional) JSON per facet. */
  def currentManifestsOf(meta: TableMetadata): Seq[ManifestListEntry] =
    meta.currentSnapshot.toSeq.flatMap(s =>
      IcebergCommitter.cachedManifestList(io, s.manifestList))

  /** Active files: adds (status 0/1) minus later deletes (status 2), by path. */
  def activeDataFiles(): Seq[DataFile] = load().toSeq.flatMap(activeFilesOf(_, 0))

  /** Active delete files (position content=1 AND equality content=2) —
    * the merge-on-read read path anti-joins their rows at scan; compaction
    * folds and removes them. */
  def activeDeleteFiles(): Seq[DataFile] = load().toSeq.flatMap(activeFilesOf(_, 1))

  /** Active files of a FILE content kind (0 data, 1 position deletes, 2
    * equality deletes) paired with their DATA SEQUENCE NUMBER — the
    * Iceberg ordering equality deletes are scoped by: an equality delete
    * applies only to data files with a SMALLER sequence number, so
    * compaction can fold one exactly when no live data file predates it. */
  def activeFilesWithSeq(content: Int): Seq[(DataFile, Long)] = {
    val listContent = math.min(content, 1) // both delete kinds share the delete manifests
    load().toSeq.flatMap(m => m.currentSnapshotId.toSeq.flatMap(activeEntries(m, _, listContent)))
      .collect { case a if content == 0 || a.entry.dataFile.content == content => (a.entry.dataFile, a.dataSeq) }
  }

  /** Active files as of a historical snapshot (time-travel read). */
  def activeDataFilesAt(snapshotId: Long): Seq[DataFile] =
    load().toSeq.flatMap(activeFilesAtOf(_, snapshotId, 0))

  /** Active delete files as of a historical snapshot — the MoR guard for
    * time-travel reads must check deletes AT the read snapshot (a
    * delete-era snapshot stays delete-bearing forever, even after a later
    * compaction folds the files out of the CURRENT snapshot). */
  def activeDeleteFilesAt(snapshotId: Long): Seq[DataFile] =
    load().toSeq.flatMap(activeFilesAtOf(_, snapshotId, 1))

  /** Roll the table back to a historical snapshot (Iceberg's
    * rollback-to-snapshot): a CAS metadata commit that re-points
    * current-snapshot-id at `snapshotId` and appends to the snapshot log.
    * The abandoned snapshots STAY in the metadata — time travel still
    * resolves them, and `expireSnapshots` GCs their now-orphaned files
    * later. Requires the abandoned range to be append-only: a
    * replace/overwrite commit physically deleted the files it replaced,
    * so a snapshot behind one could reference files that no longer exist.
    * Returns the metadata version that won (unchanged when the table is
    * already at the target). */
  def rollbackTo(snapshotId: Long): Int = synchronized {
    val (baseVersion, baseMeta) = resolveCurrent()
    val base = baseMeta.getOrElse(
      throw new IllegalArgumentException(s"cannot roll back an empty table to $snapshotId"))
    require(base.snapshots.exists(_.snapshotId == snapshotId), s"unknown snapshot $snapshotId")
    if (base.currentSnapshotId.contains(snapshotId)) return baseVersion
    // Walk the PARENT chain from the head: the target must be an ancestor
    // (list position lies once staged snapshots or earlier rollbacks
    // exist), and every abandoned snapshot on the chain must be an append
    // — a replace physically deleted the files it replaced, so a state
    // behind one could dangle.
    val headId = base.currentSnapshotId.getOrElse(
      throw new IllegalArgumentException(s"no current snapshot to roll back from"))
    val (walk, rest) = ancestors(base, headId).span(_.snapshotId != snapshotId)
    val abandoned = walk.toSeq
    abandoned.foreach { s =>
      val op = s.summary.getOrElse("operation", "append")
      // manifest rewrites delete nothing physical — safe to roll across
      require(op == "append" || s.summary.get("zombi.rewrite-manifests").contains("true"),
        s"rollback across snapshot ${s.snapshotId} ('$op') would reference physically deleted files")
    }
    if (!rest.hasNext) throw new IllegalArgumentException(brokenChain(abandoned,
      s"snapshot $snapshotId is not an ancestor of the current head $headId"))
    casPublish(baseVersion, pointTo(base, snapshotId))
  }

  /** `id` and its ancestors, newest first, while they are in `meta` — THE
    * parent-chain walk (rollback, incremental scans, the changefeed, the
    * lag guard's recovery point). It stops at table creation or at the
    * first parent expiry removed; a caller that needs to tell the two
    * apart reads the last snapshot's `parentSnapshotId`. */
  def ancestors(meta: TableMetadata, id: Long): Iterator[Snapshot] = {
    val byId = meta.snapshots.iterator.map(s => s.snapshotId -> s).toMap
    Iterator.unfold(Option(id))(_.flatMap(byId.get).map(s => (s, s.parentSnapshotId)))
  }

  /** Why an [[ancestors]] walk ended short of its target: a parent expiry
    * removed (named), else table creation (`notAncestor`). */
  private def brokenChain(walk: Seq[Snapshot], notAncestor: String): String =
    walk.lastOption.flatMap(_.parentSnapshotId)
      .fold(notAncestor)(id => s"snapshot $id missing from metadata")

  /** Incremental append scan (Iceberg `appendsBetween` semantics): the data
    * files added AFTER `fromSnapshotId` up to the current head — the CDC
    * feed a downstream consumer reads instead of re-scanning the table.
    *
    * The range may contain, besides appends: manifest rewrites (file
    * identity unchanged) and DATA-PRESERVING replaces (`zombi.data-
    * preserving` — compaction/MoR folds, live row set identical), which
    * both contribute nothing — what Iceberg's own incremental scans do,
    * and what lets a checkpointed tail survive the maintenance clock's
    * vacuums instead of dying at every compaction. A data-preserving
    * replace is crossable ONLY while it merged files the consumer has
    * already read: if it removed a file an in-range append added (the
    * replaced file is physically deleted — its rows are unreadable as a
    * distinct unit), the scan refuses and the consumer must re-read.
    * Any other operation (overwrite/CoW delete/MoR delete rewrites rows —
    * a file-level diff cannot represent it) refuses loudly as before. */
  // A caller holding a snapshot id PROVES the table existed — an absent/
  // unreadable metadata here must fail loudly, never read as "no new
  // files": a streaming tail that swallowed it would commit an empty
  // batch (skipping appends forever) or reset and re-read the table.
  private def loadForDiff(ref: Long): TableMetadata =
    load().getOrElse(throw new IllegalStateException(
      s"table metadata unreadable while holding snapshot $ref — refusing to diff"))

  def appendsSince(fromSnapshotId: Long): Seq[DataFile] = {
    val meta = loadForDiff(fromSnapshotId)
    val head = meta.currentSnapshotId.getOrElse(
      throw new IllegalArgumentException(s"no current snapshot to diff against $fromSnapshotId"))
    appendsBetween(meta, fromSnapshotId, head, skipDeleteSnapshots = false)
  }

  /** [[appendsSince]] between two PINNED snapshots — the micro-batch form
    * a streaming tail plans with (start offset, end offset).
    * `skipDeleteSnapshots` (Iceberg's streaming-skip-delete-snapshots
    * knob): OPT-IN to cross MoR delete commits emitting nothing — an
    * append-only consumer that knowingly forgoes retractions; without it
    * a delete in range refuses loudly. */
  def appendsBetween(fromSnapshotId: Long, toSnapshotId: Long,
                     skipDeleteSnapshots: Boolean = false): Seq[DataFile] =
    appendsBetween(loadForDiff(fromSnapshotId), fromSnapshotId, toSnapshotId, skipDeleteSnapshots)

  // ONE metadata load feeds validation and both file resolutions: a
  // replace committed between two loads must never slip an unvalidated
  // range past the guard.
  private def appendsBetween(meta: TableMetadata, fromSnapshotId: Long, toSnapshotId: Long,
                             skipDeleteSnapshots: Boolean): Seq[DataFile] = {
    val known = meta.snapshots.iterator.map(_.snapshotId).toSet
    require(known(toSnapshotId), s"unknown snapshot $toSnapshotId")
    if (fromSnapshotId == toSnapshotId) return Seq.empty
    // Walk the PARENT chain from `to` back to `from` — not snapshot-list
    // order: a rollback re-points current without creating a snapshot, so
    // a list-position range would validate abandoned appends as live and
    // return a diff the consumer cannot apply. Unreachable base = the
    // base was abandoned by a rollback → refuse. A walk that runs up to an
    // expired `from` (the parent of the chain's oldest retained snapshot)
    // still holds all of (from, to].
    val (walk, rest) = ancestors(meta, toSnapshotId).span(_.snapshotId != fromSnapshotId)
    val range = walk.toSeq
    if (!rest.hasNext && !range.lastOption.flatMap(_.parentSnapshotId).contains(fromSnapshotId)) {
      if (!known(fromSnapshotId)) {
        // a tail lagging past retention: name the restart point (same lag-
        // guard contract as the changefeed), same exception type as any
        // unknown id so existing callers' handling is unchanged
        val oldest = oldestRetainedAncestorOf(meta, toSnapshotId)
        throw new IllegalArgumentException(
          s"unknown snapshot $fromSnapshotId — not in the table metadata (expired or never " +
            s"committed); history before ${oldest.timestampMs} is expired — restart the tail " +
            s"from snapshot ${oldest.snapshotId} or a full read")
      }
      throw new IllegalArgumentException(brokenChain(range,
        s"snapshot $fromSnapshotId is not an ancestor of $toSnapshotId " +
          "(abandoned by a rollback?) — fall back to a full read"))
    }
    // Forward walk: emit the files each APPEND added; a manifest REWRITE
    // changes no file identity and a DATA-PRESERVING replace changes no
    // live row — both contribute nothing. (For an append-only range this
    // equals the head-active ∖ base-active set diff; with a replace in
    // range the diff would wrongly emit the compaction's merged outputs.)
    val emitted      = scala.collection.mutable.ArrayBuffer.empty[DataFile]
    val emittedPaths = scala.collection.mutable.Set.empty[String]
    range.reverseIterator.foreach { s =>
      val op = s.summary.getOrElse("operation", "append")
      if (s.summary.get("zombi.rewrite-manifests").contains("true")) ()
      else if (op == "append") {
        val added = entriesOf(meta, s.snapshotId)
          .filter(e => e.status == 1 && e.snapshotId == s.snapshotId).map(_.dataFile)
        emitted ++= added
        emittedPaths ++= added.map(_.filePath)
      } else if (op == "replace" && s.summary.get("zombi.data-preserving").contains("true")) {
        // crossable only while it merged files the consumer already read:
        // an unread in-range append it folded away is physically gone
        val removed = entriesOf(meta, s.snapshotId)
          .filter(e => e.status == 2 && e.snapshotId == s.snapshotId).map(_.dataFile)
        removed.find(f => emittedPaths.contains(f.filePath)).foreach { f =>
          throw new IllegalStateException(
            s"snapshot ${s.snapshotId} compacted away ${f.filePath}, appended inside the " +
              s"unconsumed range ($fromSnapshotId, $toSnapshotId] — the file is physically " +
              "deleted; fall back to a full read")
        }
      } else if (op == "delete" && skipDeleteSnapshots) {
        // MoR delete: adds no data file — crossed emitting nothing under
        // the explicit opt-in (the tail forgoes retractions); in-range
        // appended rows it masked still emit, by append-tail semantics
        ()
      } else
        throw new IllegalArgumentException(
          s"incremental append scan requires an append-only range; snapshot ${s.snapshotId} is '$op'" +
            (if (op == "delete") " (set skipDeleteSnapshots=true to cross MoR deletes without retractions)"
             else ""))
    }
    emitted.toSeq
  }

  /** ADDITIVE Iceberg schema evolution, CAS-committed like any snapshot:
    * appends `next` to the metadata's schema list under a fresh schema-id
    * and makes it current. Compatibility is Iceberg's: every existing field
    * keeps its id, name, and type (adds only — renames/drops/retypes are
    * rejected); readers project old data files against the CURRENT schema,
    * so rows written before the evolution read the added columns as null.
    * Returns false (no-op) when `next` already matches the current schema.
    * A commit racing in between raises [[CommitConflict]], exactly as in
    * [[commit]]/[[expireSnapshots]]. */
  def evolveSchema(next: IcebergSchema): Boolean = synchronized {
    val (baseVersion, baseMeta) = resolveCurrent()
    require(baseVersion > 0, "cannot evolve the schema of a table with no committed metadata")
    val meta = baseMeta.get
    val cur  = currentSchemaOf(meta)
    def key(f: IcebergField) = (f.id, f.name, f.fieldType)
    if (next.fields.map(key) == cur.fields.map(key)) return false
    val nextById = next.fields.map(f => f.id -> f).toMap
    cur.fields.foreach { f =>
      val nf = nextById.getOrElse(f.id,
        throw new IllegalArgumentException(s"schema evolution dropped field ${f.name} (id ${f.id})"))
      require(nf.name == f.name && nf.fieldType == f.fieldType,
        s"schema evolution must not mutate field ${f.name} (id ${f.id}): got ${nf.name}:${nf.fieldType}")
    }
    val newId   = meta.schemas.map(_.schemaId).max + 1
    val updated = meta.copy(
      schemas = meta.schemas :+ next.copy(schemaId = newId),
      currentSchemaId = newId,
      lastUpdatedMs = System.currentTimeMillis())
    casPublish(baseVersion, updated)
    true
  }

  /** Create a named TAG pinning `snapshotId` (a user entry in the Iceberg
    * `refs` map): time travel by NAME (`VERSION AS OF 'name'` through the
    * catalog and the V2 source), plus retention protection — a tagged
    * snapshot is retained by [[expireSnapshots]] until the tag is
    * dropped, and compaction's eager physical delete skips files the tag
    * still references (manual redaction like `deleteWhere` stays eager —
    * right-to-be-forgotten overrides a tag). CAS-committed like every
    * metadata change. Derived names (`main`,
    * `stage-*`) and existing names are refused. TAGS ONLY by design:
    * `main` is the single branch — this engine has one write lineage, and
    * in-flight audit work already surfaces as derived stage tags. */
  def createTag(name: String, snapshotId: Long): Int = synchronized {
    require(name.matches("[a-zA-Z][a-zA-Z0-9._-]{0,127}"), s"invalid ref name: '$name'")
    require(name != "main" && !name.startsWith("stage-"),
      s"ref name '$name' collides with a derived ref (main / stage-*)")
    val (baseVersion, baseMeta) = resolveCurrent()
    val base = baseMeta.getOrElse(
      throw new IllegalArgumentException(s"cannot tag a table with no committed metadata"))
    require(base.snapshots.exists(_.snapshotId == snapshotId),
      s"unknown snapshot $snapshotId — not in the table metadata (expired or never committed)")
    require(!base.storedRefs.contains(name), s"ref '$name' already exists — drop it first")
    val next = base.copy(lastUpdatedMs = System.currentTimeMillis(),
      storedRefs = base.storedRefs + (name -> SnapshotRef(snapshotId, "tag")))
    casPublish(baseVersion, next)
  }

  /** Drop a user tag — the snapshot becomes expirable again. Unknown names
    * refuse loudly (a silent no-op would hide a typo from a retention
    * runbook that believes it released the snapshot). */
  def dropTag(name: String): Int = synchronized {
    val (baseVersion, baseMeta) = resolveCurrent()
    val base = baseMeta.getOrElse(throw new IllegalArgumentException(s"no committed metadata"))
    require(base.storedRefs.contains(name),
      s"unknown ref '$name' (have: ${base.storedRefs.keys.toSeq.sorted.mkString(", ")})")
    val next = base.copy(lastUpdatedMs = System.currentTimeMillis(),
      storedRefs = base.storedRefs - name)
    casPublish(baseVersion, next)
  }

  /** Every file path a stored user TAG's snapshot still references — the
    * set a replace's EAGER physical delete must skip (expire retains
    * tagged snapshots as readable state, so deleting their files out from
    * under the retention guard would break the tag's contract). ONE
    * definition shared by compaction and merge; manual redaction
    * (`deleteWhere`) stays eager on purpose. */
  def tagProtectedPaths(meta: TableMetadata): Set[String] =
    meta.storedRefs.values.map(_.snapshotId).toSet.flatMap(livePathsAt(meta, _))

  /** Every data and delete file path live at a snapshot. */
  private def livePathsAt(meta: TableMetadata, snapshotId: Long): Seq[String] =
    (activeFilesAtOf(meta, snapshotId, 0) ++ activeFilesAtOf(meta, snapshotId, 1)).map(_.filePath)

  /** The OLDEST ancestor of `headId` still resolvable in `meta` — the
    * RECOVERY POINT a lagging incremental consumer can restart from once
    * expiry has truncated the history it needed. Walks the parent chain
    * until it leaves the metadata (or reaches table creation). */
  def oldestRetainedAncestorOf(meta: TableMetadata, headId: Long): Snapshot =
    ancestors(meta, headId).reduceOption((_, older) => older).getOrElse(
      throw new IllegalArgumentException(s"unknown snapshot $headId — not in the table metadata"))

  /** Resolve a `VERSION AS OF` value against an already-loaded metadata:
    * a numeric snapshot id, or a ref NAME from the refs map (user tags +
    * derived `main`/`stage-*`). Unknown values fail loud, listing what
    * exists — never an empty read. */
  def resolveVersionOf(meta: TableMetadata, version: String): Long =
    version.toLongOption match {
      case Some(sid) =>
        require(meta.snapshots.exists(_.snapshotId == sid),
          s"no snapshot $sid (have: ${meta.snapshots.map(_.snapshotId).mkString(",")})")
        sid
      case None =>
        meta.refs.get(version).map(_.snapshotId).getOrElse(throw new IllegalArgumentException(
          s"no ref '$version' (have: ${meta.refs.keys.toSeq.sorted.mkString(", ")})"))
    }

  /** Partition-spec evolution, CAS-committed like [[evolveSchema]]: append
    * `fields` as a NEW spec under a fresh spec id and make it the default.
    * The aging-table move (e.g. add `identity(event_date)` once volume
    * justifies date dirs): files already written keep their original spec —
    * manifests are routed per spec id, so readers project each file under
    * the layout it was written with — while every subsequent commit stamps
    * the new spec. No-op (false) when `fields` already equals the default
    * spec. Rejects removing the identity log-partition field: sequences,
    * watermarks, and the MoR keys are all scoped by it. */
  def evolvePartitionSpec(fields: Seq[PartitionField]): Boolean = synchronized {
    val (baseVersion, baseMeta) = resolveCurrent()
    require(baseVersion > 0, "cannot evolve the partition spec of a table with no committed metadata")
    val meta = baseMeta.get
    val cur  = meta.partitionSpecs.find(_.specId == meta.defaultSpecId).getOrElse(meta.partitionSpecs.head)
    if (cur.fields == fields) return false
    require(fields.exists(f => f.sourceId == FieldIds.Partition && f.transform == "identity"),
      "every spec must keep identity(partition) — sequences, watermarks, and MoR keys are scoped by it")
    val newId = meta.partitionSpecs.map(_.specId).max + 1
    val next = meta.copy(
      partitionSpecs = meta.partitionSpecs :+ PartitionSpec(newId, fields),
      defaultSpecId = newId,
      lastPartitionId = math.max(meta.lastPartitionId, fields.map(_.fieldId).max),
      lastUpdatedMs = System.currentTimeMillis())
    casPublish(baseVersion, next)
    true
  }

  /** The current schema (from the latest committed metadata), if any. */
  def currentSchema(): Option[IcebergSchema] =
    load().map(currentSchemaOf)

  /** [[currentSchema]] against an already-loaded metadata — lets a read
    * derive schema, data files, and delete files from ONE consistent
    * snapshot load instead of three. */
  def currentSchemaOf(m: TableMetadata): IcebergSchema =
    m.schemas.find(_.schemaId == m.currentSchemaId).getOrElse(m.schemas.head)

  /** Active files of a content kind against an already-loaded metadata —
    * the single-load companion of [[activeDataFiles]]/[[activeDeleteFiles]]. */
  def activeFilesOf(meta: TableMetadata, content: Int): Seq[DataFile] =
    meta.currentSnapshotId.toSeq.flatMap(activeFilesAtOf(meta, _, content))

  /** Active files of a content kind AT a snapshot, against an
    * already-loaded metadata — so a scan's MoR guard and its file listing
    * resolve against the SAME snapshot instead of two racing loads. */
  def activeFilesAtOf(meta: TableMetadata, snapshotId: Long, content: Int): Seq[DataFile] =
    activeEntries(meta, snapshotId, content).map(_.entry.dataFile)

  /** Snapshot expiration + metadata GC — the maintenance op that keeps a
    * per-trigger-committing table's metadata BOUNDED (a 100 TB table at a
    * 5 s trigger accretes ~17k snapshots/day; every one carries a manifest
    * list and parses on every metadata load forever without this).
    *
    * Retention = the union of three guards, so a careless call can never
    * corrupt the live table:
    *  - the most recent `keepLast` PUBLISHED snapshots (by commit
    *    timestamp, ranked over snapshotLog-present snapshots only — an
    *    unpublished WAP stage must not consume a retention slot and
    *    silently shrink the published history below `keepLast`);
    *  - every snapshot at or after `keepNewerThanTsMs` (an ABSOLUTE epoch
    *    timestamp, Iceberg's `expire_snapshots(older_than)` knob; the
    *    default retains nothing extra). The name says timestamp on
    *    purpose: a caller passing an AGE (e.g. 7 days ≈ epoch 1970) would
    *    silently expire everything but `keepLast` — values that cannot be
    *    a plausible epoch are rejected loudly instead;
    *  - the CURRENT snapshot, unconditionally — after a rollback the
    *    current snapshot is OLD, and a timestamp cut alone would expire
    *    the very state readers see.
    * Unpublished write-audit-publish stages are protected, not silently
    * GC'd: expiring a LIVE stage (parent == current head) or the PARENT of
    * any retained unpublished stage refuses loudly — publish or re-stage
    * first. (A dead stage — parent no longer current — is unpublishable
    * anyway and expires like any snapshot.)
    *
    * Physical GC: manifest lists of expired snapshots, manifests referenced
    * by no retained snapshot, and data AND delete files referenced by no
    * retained snapshot's active set are deleted. Time travel to an expired
    * id fails loud afterwards ("unknown snapshot"), never empty. */
  def expireSnapshots(keepLast: Int, keepNewerThanTsMs: Long = Long.MaxValue): Seq[Long] = synchronized {
    // age-vs-epoch guard: an AGE passed where the epoch cutoff belongs
    // (e.g. 604800000 for "7 days") reads as 1970 and expires everything
    // but keepLast — no real table predates 2001 (epoch 1e12), so reject
    require(keepNewerThanTsMs >= 1_000_000_000_000L,
      s"keepNewerThanTsMs=$keepNewerThanTsMs is not a plausible epoch timestamp — " +
        "it looks like a relative age; pass an absolute cutoff (now - age)")
    // CAS discipline as in commit(): everything below derives from the
    // metadata at baseVersion, and the putIfAbsent targets EXACTLY
    // baseVersion + 1 — a commit landing in between makes this throw
    // CommitConflict instead of being silently erased by a stale rewrite.
    val (baseVersion, baseMeta) = resolveCurrent()
    if (baseVersion == 0) return Nil
    val meta = baseMeta.get
    // keepLast ranks PUBLISHED snapshots only: an unpublished stage in the
    // ranking would consume a slot and retain fewer published snapshots
    // than asked. LIVE stages (parent == current head — still publishable)
    // are retained separately: GCing in-flight audit work from a nightly
    // vacuum would be destruction, and refusing would wedge maintenance
    // for as long as the audit runs. DEAD stages (parent moved on —
    // unpublishable) expire like any snapshot.
    val published = meta.snapshots.filter(s => meta.snapshotLog.exists(_.snapshotId == s.snapshotId))
    val ranked    = if (published.nonEmpty) published else meta.snapshots
    val liveStages = meta.snapshots.filter(s =>
      s.summary.get("zombi.staged").contains("true") &&
        !meta.snapshotLog.exists(_.snapshotId == s.snapshotId) &&
        s.parentSnapshotId == meta.currentSnapshotId).map(_.snapshotId)
    // user-TAGGED snapshots are retained unconditionally: a tag is the
    // operator's explicit "keep this readable" — expire refuses to drop it
    // (drop the tag first); a refusal-by-exception here would instead
    // wedge every nightly vacuum for as long as the tag lives
    val keepIds: Set[Long] =
      ranked.sortBy(_.timestampMs).takeRight(math.max(1, keepLast)).map(_.snapshotId).toSet ++
        meta.snapshots.filter(_.timestampMs >= keepNewerThanTsMs).map(_.snapshotId) ++
        meta.currentSnapshotId ++ liveStages ++ meta.storedRefs.values.map(_.snapshotId)
    val keep    = meta.snapshots.filter(s => keepIds(s.snapshotId))
    val expired = meta.snapshots.filterNot(s => keepIds(s.snapshotId))
    if (expired.isEmpty) return Nil

    // WAP guard: a staged snapshot is one the metadata carries but the
    // snapshot log never saw (publish appends the log entry).
    val expiredIds = expired.map(_.snapshotId).toSet
    meta.snapshots
      .filter(s => s.summary.get("zombi.staged").contains("true") &&
        !meta.snapshotLog.exists(_.snapshotId == s.snapshotId))
      .foreach { st =>
        if (expiredIds(st.snapshotId) && st.parentSnapshotId == meta.currentSnapshotId)
          throw new IllegalStateException(
            s"snapshot ${st.snapshotId} is a LIVE unpublished write-audit-publish stage — " +
              "publish or abandon it before expiring")
        if (!expiredIds(st.snapshotId) && st.parentSnapshotId.exists(expiredIds))
          throw new IllegalStateException(
            s"snapshot ${st.parentSnapshotId.get} is the base of unpublished stage " +
              s"${st.snapshotId} — publish the stage (or expire it too) first")
      }

    val keptManifests = keep.flatMap(s => IcebergCommitter.cachedManifestList(io, s.manifestList))
      .map(_.manifestPath).toSet
    // files (BOTH contents — a delete-era retained snapshot still needs its
    // delete files to read masked) referenced by any retained active set
    val keptFiles = keep.flatMap(s => livePathsAt(meta, s.snapshotId)).toSet
    val allManifests = allManifestPaths(meta)
    val allFiles = filePathsIn(allManifests)
    // (all ∖ kept) == (expired-referenced ∖ kept): a manifest referenced
    // only by kept snapshots is subtracted either way — reusing the union
    // avoids a second per-expired-snapshot list walk
    val expiredManifests = allManifests -- keptManifests

    val next = meta.copy(
      lastUpdatedMs = System.currentTimeMillis(),
      snapshots = keep,
      snapshotLog = meta.snapshotLog.filter(e => keepIds(e.snapshotId))
    )
    casPublish(baseVersion, next)

    expired.foreach { s => io.delete(s.manifestList); IcebergCommitter.invalidateList(io, s.manifestList) }
    expiredManifests.foreach { m => io.delete(m); IcebergCommitter.invalidateManifest(io, m) }
    (allFiles -- keptFiles).foreach(io.delete)
    expired.map(_.snapshotId)
  }

  /** Manifest rewrite (`rewrite_manifests`) — the other half of metadata
    * health next to [[expireSnapshots]]: the carry-forward list accretes
    * one manifest per commit, so file planning walks N_commits Avro objects
    * forever on a per-trigger-committing table. This coalesces the CURRENT
    * snapshot's ACTIVE entries into ONE data manifest (plus one delete
    * manifest when delete files are live) under the usual CAS commit.
    *
    * Invariants: the active file sets are IDENTICAL before and after (file
    * identity untouched — nothing physical moves or deletes); every
    * coalesced entry carries its ORIGINAL data sequence number explicitly
    * (the v2 per-entry field), so equality-delete scoping survives the
    * coalesce; old manifests stay on disk for retained historical
    * snapshots and are GC'd by [[expireSnapshots]] with them. The snapshot
    * is stamped `zombi.rewrite-manifests` so incremental append scans and
    * rollback may CROSS it — unlike a data replace, a row-level diff across
    * it is still exact. Returns None when already coalesced. */
  def rewriteManifests(): Option[CommitResult] = synchronized {
    val (baseVersion, baseMeta) = resolveCurrent()
    if (baseVersion == 0) return None
    val meta = baseMeta.get
    val cur  = meta.currentSnapshot.getOrElse(return None)
    val parentList = currentManifestsOf(meta)
    // already coalesced = no (content, spec) GROUP holds more than one
    // manifest — a spec-evolved table legitimately keeps one manifest per
    // live spec, and a content-only count would make every nightly vacuum
    // commit a spurious full rewrite forever
    if (parentList.groupBy(mf => (mf.content, mf.partitionSpecId)).values.forall(_.size <= 1))
      return None

    // a coalesced manifest may hold ONE spec only (readers route specs per
    // manifest), so a spec-evolved table coalesces into one manifest per
    // live spec. Entries are status 0 (existing) with their original
    // adding snapshot id and explicit data sequence: the spec's shape for
    // carried entries — list-entry counts go under the existing columns,
    // which the totals fold includes. ONLY watermarks carry forward
    // (per-snapshot markers like zombi.staged must never leak downstream).
    val snapshotId = newSnapshotId()
    val manifests = Seq(0, 1).flatMap { content =>
      activeEntries(meta, cur.snapshotId, content).groupBy(_.specId).toSeq.sortBy(_._1).map {
        case (specId, group) =>
          NewManifest(content, specId, group.map(a =>
            ManifestEntry(0, a.entry.snapshotId, a.entry.dataFile, dataSequenceNumber = Some(a.dataSeq))))
      }
    }
    Some(commitSnapshot(baseVersion, meta, snapshotId, parentList, carried = Nil, manifests,
                        operation = "replace", watermarks = Map.empty,
                        extraSummary = Map("zombi.rewrite-manifests" -> "true")))
  }

  /** Union of every manifest path any snapshot's list carries. Expire's
    * physical GC walks this UNION, not each snapshot's list: the
    * carry-forward list makes snapshot i reference O(i) manifests, so a
    * per-snapshot entry walk is QUADRATIC in chain length (the shape a
    * per-trigger-committing table's nightly vacuum pays at ~17k
    * snapshots/day) while the union parses each manifest exactly once. */
  private def allManifestPaths(meta: TableMetadata): Set[String] =
    meta.snapshots.iterator
      .flatMap(s => IcebergCommitter.cachedManifestList(io, s.manifestList))
      .map(_.manifestPath).toSet

  private def filePathsIn(manifestPaths: Set[String]): Set[String] =
    manifestPaths.iterator
      .flatMap(p => IcebergCommitter.cachedManifest(io, p))
      .map(_.dataFile.filePath).toSet

  /** THE sequence watermark — the F9 startup seed, the sequencers, and the
    * append/merge insert guards: per partition, the max of the current
    * summary watermark and the active files' sequence upper bounds, from
    * one metadata load, no data read (`/root/reference/src/flusher/mod.rs:244-329`).
    * The summary never regresses: a delete of a partition's top sequence
    * lowers the file bounds but not it, and a sequencer seeded from the
    * bounds alone re-issues that burned sequence — which an old equality
    * tombstone on the same key then masks. The bounds cover tables whose
    * summary predates watermark keys. */
  def maxCommittedSequencePerPartition(): Map[Int, Long] =
    load().map(maxCommittedSequenceOf).getOrElse(Map.empty)

  /** [[maxCommittedSequencePerPartition]] against an already-loaded metadata. */
  def maxCommittedSequenceOf(meta: TableMetadata): Map[Int, Long] =
    (summaryWatermarksOf(meta).toSeq ++ IcebergCommitter.watermarksOf(activeFilesOf(meta, 0)).toSeq)
      .groupMapReduce(_._1)(_._2)(math.max)

  /** Watermarks embedded in the current snapshot summary (F7). */
  def summaryWatermarks(): Map[Int, Long] = load().map(summaryWatermarksOf).getOrElse(Map.empty)

  private def summaryWatermarksOf(meta: TableMetadata): Map[Int, Long] =
    meta.currentSnapshot.map(_.summary).getOrElse(Map.empty).collect {
      case (k, v) if k.startsWith("zombi.watermark.") => k.stripPrefix("zombi.watermark.").toInt -> v.toLong
    }
}

/** Process-wide parse caches for IMMUTABLE table files: a `v{N}.metadata.json`
  * is created once via create-if-absent, and manifests / manifest lists get
  * UUID names — so a (table root, path) key can never go stale. The caches
  * are size-bounded LRUs (a long-running gateway otherwise accumulates every
  * metadata version ever written), and entries for files physically removed
  * by [[IcebergCommitter.expireSnapshots]] are dropped eagerly. */
object IcebergCommitter {
  import graft.core.Lru

  /** A manifest a snapshot writes: list content (0 data, 1 deletes), spec
    * id, and its entries. */
  private final case class NewManifest(content: Int, specId: Int, entries: Seq[ManifestEntry])

  /** An active manifest entry, its DATA SEQUENCE NUMBER resolved by the v2
    * inheritance rule (an explicit per-entry number, written by
    * [[IcebergCommitter.rewriteManifests]], wins; absent, the manifest-list entry's is
    * inherited), and the owning manifest's partition-spec id. */
  private final case class Active(entry: ManifestEntry, dataSeq: Long, specId: Int)


  /** Per-partition max sequence upper bound of `dataFiles` — exact per
    * partition because files are single-partition (`partition=P/` dirs;
    * identity bounds, lower == upper). */
  def watermarksOf(dataFiles: Seq[DataFile]): Map[Int, Long] =
    dataFiles
      .flatMap(f => for { p <- f.lowerInt(FieldIds.Partition); s <- f.upperLong(FieldIds.Sequence) } yield p -> s)
      .groupMapReduce(_._1)(_._2)(math.max)

  private val metaCache     = new Lru[TableMetadata](512)
  private val listCache     = new Lru[Seq[ManifestListEntry]](2048)
  private val manifestCache = new Lru[Seq[ManifestEntry]](8192)

  private def key(io: TableIO, rel: String) = io.root + "/" + rel

  private[iceberg] def cachedMetadata(io: TableIO, rel: String): TableMetadata =
    metaCache.get(key(io, rel))(TableMetadata.fromJson(new String(io.get(rel), "UTF-8")))
  /** As [[cachedMetadata]] but parsing ALREADY-READ bytes — lets callers
    * separate read failures (propagate) from parse failures (torn file). */
  private[iceberg] def cachedMetadataFromBytes(io: TableIO, rel: String, bytes: Array[Byte]): TableMetadata =
    metaCache.get(key(io, rel))(TableMetadata.fromJson(new String(bytes, "UTF-8")))
  private[iceberg] def cachedManifestList(io: TableIO, rel: String): Seq[ManifestListEntry] =
    listCache.get(key(io, rel))(ManifestIO.readManifestList(io.get(rel)))
  private[iceberg] def cachedManifest(io: TableIO, rel: String): Seq[ManifestEntry] =
    manifestCache.get(key(io, rel))(ManifestIO.readManifest(io.get(rel)))
  private[iceberg] def invalidateList(io: TableIO, rel: String): Unit =
    listCache.remove(key(io, rel))
  private[iceberg] def invalidateManifest(io: TableIO, rel: String): Unit =
    manifestCache.remove(key(io, rel))
}
