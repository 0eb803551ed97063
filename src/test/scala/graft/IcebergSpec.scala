package graft

import graft.iceberg._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Committer unit coverage: round-trips, commit semantics, CAS conflicts,
  * watermark carry-forward — the paths the reference exercises in
  * `tests/crash_recovery_tests.rs` and its iceberg unit tests. */
class IcebergSpec extends AnyFunSuite {

  private def df(path: String, records: Long, part: Int, seqHi: Long): DataFile =
    DataFile(
      content = 0,
      filePath = path,
      fileFormat = "PARQUET",
      recordCount = records,
      fileSizeInBytes = records * 100,
      lowerBounds = Map(
        FieldIds.Partition -> Bounds.encodeInt(part),
        FieldIds.Sequence  -> Bounds.encodeLong(1L)
      ),
      upperBounds = Map(
        FieldIds.Partition -> Bounds.encodeInt(part),
        FieldIds.Sequence  -> Bounds.encodeLong(seqHi)
      )
    )

  private def freshCommitter(): IcebergCommitter = {
    val root = TestSpark.tempDir("graft-iceberg-test-").toString
    new IcebergCommitter(new LocalTableIO(root), "t")
  }

  test("bounds encoding round-trips (property)") {
    val p = Prop.forAll(Gen.chooseNum(Long.MinValue, Long.MaxValue)) { v =>
      Bounds.decodeLong(Bounds.encodeLong(v)) == v
    } && Prop.forAll(Gen.chooseNum(Int.MinValue, Int.MaxValue)) { v =>
      Bounds.decodeInt(Bounds.encodeInt(v)) == v
    }
    assert(SCTest.check(SCTest.Parameters.default, p).passed)
  }

  test("manifest Avro round-trips entries, stats, and bounds") {
    val entries = Seq(
      ManifestEntry(1, 42L, df("data/partition=0/a.parquet", 10, 0, 10)),
      ManifestEntry(2, 43L, df("data/partition=1/b.parquet", 5, 1, 5))
    )
    val bytes = ManifestIO.writeManifest(entries, "{}", "[]")
    val back  = ManifestIO.readManifest(bytes)
    assert(back.map(_.status) === Seq(1, 2))
    assert(back.map(_.dataFile.filePath) === entries.map(_.dataFile.filePath))
    assert(back.head.dataFile.upperLong(FieldIds.Sequence) === Some(10L))
    assert(back(1).dataFile.lowerInt(FieldIds.Partition) === Some(1))
  }

  test("manifest list Avro round-trips") {
    val e = ManifestListEntry("metadata/m1.avro", 123L, 0, 0, 7L, 7L, 42L, 2, 0, 1, 100L, 0L, 50L)
    val back = ManifestIO.readManifestList(ManifestIO.writeManifestList(Seq(e)))
    assert(back === Seq(e))
  }

  test("table metadata JSON round-trips") {
    val meta = TableMetadata.create("table://t")
    val back = TableMetadata.fromJson(meta.toJson)
    assert(back.tableUuid === meta.tableUuid)
    assert(back.schemas.head.fields.map(_.id) === (1 to 8))
    assert(back.partitionSpecs.head.fields.map(_.name) === Seq("partition"))
    assert(back.currentSnapshotId === None)
    assert(back.sortOrders.head.fields.map(_.sourceId) === Seq(FieldIds.TimestampMs, FieldIds.Sequence))
  }

  test("append commit exposes files, totals, and watermarks") {
    val c = freshCommitter()
    val r1 = c.commitAppend(Seq(df("data/partition=0/a.parquet", 10, 0, 10)), Map(0 -> 10L))
    assert(r1.version === 1)
    assert(c.activeDataFiles().map(_.filePath) === Seq("data/partition=0/a.parquet"))
    val summary = c.load().get.currentSnapshot.get.summary
    assert(summary("total-records") === "10")
    assert(summary("total-data-files") === "1")
    assert(c.summaryWatermarks() === Map(0 -> 10L))
  }

  test("second append is cumulative (carry-forward manifest list)") {
    val c = freshCommitter()
    c.commitAppend(Seq(df("data/partition=0/a.parquet", 10, 0, 10)), Map(0 -> 10L))
    c.commitAppend(Seq(df("data/partition=1/b.parquet", 7, 1, 7)), Map(1 -> 7L))
    assert(c.activeDataFiles().size === 2)
    val summary = c.load().get.currentSnapshot.get.summary
    assert(summary("total-records") === "17")
    assert(summary("total-data-files") === "2")
    // F7 watermark carry-forward: partition 0 not updated in commit 2.
    assert(c.summaryWatermarks() === Map(0 -> 10L, 1 -> 7L))
    assert(c.maxCommittedSequencePerPartition() === Map(0 -> 10L, 1 -> 7L))
  }

  test("replace commit removes files and fails on a stale base (CAS)") {
    val c  = freshCommitter()
    val a  = df("data/partition=0/a.parquet", 10, 0, 10)
    val b  = df("data/partition=0/b.parquet", 10, 0, 20)
    val r1 = c.commitAppend(Seq(a, b), Map(0 -> 20L))
    val merged = df("data/partition=0/m.parquet", 20, 0, 20)

    intercept[CommitConflict] {
      c.commitReplace(Seq(a, b), Seq(merged), expectedBase = r1.snapshotId + 1)
    }
    val r2 = c.commitReplace(Seq(a, b), Seq(merged), expectedBase = r1.snapshotId)
    assert(c.activeDataFiles().map(_.filePath) === Seq("data/partition=0/m.parquet"))
    assert(c.load().get.currentSnapshot.get.summary("total-records") === "20")
    // replacing with a now-stale base again must conflict
    intercept[CommitConflict] {
      c.commitReplace(Seq(merged), Seq(a), expectedBase = r1.snapshotId)
    }
    assert(r2.version === 2)
  }

  test("metadata version CAS primitive: create-if-absent is exclusive") {
    val c = freshCommitter()
    // The commit point is putIfAbsent on v{N}.metadata.json — exactly one
    // of two racing writers can win a given version.
    assert(c.io.putIfAbsent("metadata/v9.metadata.json", Array[Byte](1)))
    assert(!c.io.putIfAbsent("metadata/v9.metadata.json", Array[Byte](2)))
    assert(c.io.get("metadata/v9.metadata.json").toSeq === Seq[Byte](1))
  }

  test("version numbering continues past an externally written version") {
    val c = freshCommitter()
    c.commitAppend(Seq(df("data/partition=0/a.parquet", 1, 0, 1)))
    // Another writer claims v2; our next commit must land on v3, not clobber.
    c.io.put(c.versionFile(2), c.load().get.toJson.getBytes("UTF-8"))
    val r = c.commitAppend(Seq(df("data/partition=1/b.parquet", 1, 1, 1)))
    assert(r.version === 3)
  }

  test("time travel: activeDataFilesAt reconstructs any historical snapshot") {
    val c  = freshCommitter()
    val a  = df("data/partition=0/a.parquet", 10, 0, 10)
    val b  = df("data/partition=0/b.parquet", 10, 0, 20)
    val r1 = c.commitAppend(Seq(a))
    val r2 = c.commitAppend(Seq(b))
    val m  = df("data/partition=0/m.parquet", 20, 0, 20)
    val r3 = c.commitReplace(Seq(a, b), Seq(m), r2.snapshotId)
    assert(c.activeDataFilesAt(r1.snapshotId).map(_.filePath) === Seq("data/partition=0/a.parquet"))
    assert(c.activeDataFilesAt(r2.snapshotId).map(_.filePath).toSet ===
      Set("data/partition=0/a.parquet", "data/partition=0/b.parquet"))
    assert(c.activeDataFilesAt(r3.snapshotId).map(_.filePath) === Seq("data/partition=0/m.parquet"))
  }

  test("snapshot expiration keeps history metadata consistent and GCs orphans") {
    val c = freshCommitter()
    val a = df("data/partition=0/a.parquet", 10, 0, 10)
    val b = df("data/partition=0/b.parquet", 10, 0, 20)
    val m = df("data/partition=0/m.parquet", 20, 0, 20)
    // materialize the data files so physical GC is observable
    Seq(a, b, m).foreach(f => c.io.put(f.filePath, Array[Byte](1)))
    c.commitAppend(Seq(a))
    val r2 = c.commitAppend(Seq(b))
    c.commitReplace(Seq(a, b), Seq(m), r2.snapshotId)

    val expired = c.expireSnapshots(keepLast = 1)
    assert(expired.size === 2)
    val meta = c.load().get
    assert(meta.snapshots.size === 1)
    assert(meta.currentSnapshotId === meta.snapshots.headOption.map(_.snapshotId))
    // current read unchanged; replaced files physically gone
    assert(c.activeDataFiles().map(_.filePath) === Seq("data/partition=0/m.parquet"))
    assert(c.io.exists("data/partition=0/m.parquet"))
    assert(!c.io.exists("data/partition=0/a.parquet"))
    assert(!c.io.exists("data/partition=0/b.parquet"))
    // expiring again is a no-op
    assert(c.expireSnapshots(keepLast = 1) === Nil)
  }

  test("manifest entry Avro round-trips the explicit data sequence number") {
    val entries = Seq(
      ManifestEntry(0, 42L, df("data/partition=0/a.parquet", 10, 0, 10), dataSequenceNumber = Some(7L)),
      ManifestEntry(1, 43L, df("data/partition=1/b.parquet", 5, 1, 5)) // inherited (null)
    )
    val back = ManifestIO.readManifest(ManifestIO.writeManifest(entries, "{}", "[]"))
    assert(back.map(_.dataSequenceNumber) === Seq(Some(7L), None))
    assert(back.map(_.status) === Seq(0, 1))
  }

  test("rewriteManifests coalesces the list, preserving files, sequences, and history") {
    val c = freshCommitter()
    val a = df("data/partition=0/a.parquet", 10, 0, 10)
    val b = df("data/partition=0/b.parquet", 10, 0, 20)
    val e = df("data/partition=1/e.parquet", 10, 1, 10)
    val d = DataFile(content = 2, filePath = "data/deletes/d.parquet", fileFormat = "PARQUET",
      recordCount = 3, fileSizeInBytes = 100, lowerBounds = Map.empty, upperBounds = Map.empty)
    val r1 = c.commitAppend(Seq(a))                     // data seq 1
    val r2 = c.commitAppend(Seq(b))                     // data seq 2
    c.commitDeletes(Seq(d), r2.snapshotId)              // delete seq 3
    c.commitAppend(Seq(e))                              // data seq 4
    val seqsBefore    = c.activeFilesWithSeq(0).map { case (f, sq) => f.filePath -> sq }.toMap
    val delSeqsBefore = c.activeFilesWithSeq(2).map { case (f, sq) => f.filePath -> sq }.toMap
    assert(seqsBefore === Map(a.filePath -> 1L, b.filePath -> 2L, e.filePath -> 4L))
    assert(delSeqsBefore === Map(d.filePath -> 3L))
    assert(c.currentManifests().size === 4)

    val res = c.rewriteManifests()
    assert(res.isDefined)
    // one data manifest + one delete manifest; active sets and SEQUENCE
    // NUMBERS identical — the equality-delete scoping input survives
    assert(c.currentManifests().size === 2)
    assert(c.currentManifests().map(_.content).sorted === Seq(0, 1))
    assert(c.activeFilesWithSeq(0).map { case (f, sq) => f.filePath -> sq }.toMap === seqsBefore)
    assert(c.activeFilesWithSeq(2).map { case (f, sq) => f.filePath -> sq }.toMap === delSeqsBefore)
    // summary totals recomputed correctly from existing-only manifests
    val sum = c.load().get.currentSnapshot.get.summary
    assert(sum("total-records") === "30")
    assert(sum("total-data-files") === "3")
    assert(sum("total-equality-deletes") === "3")
    // pre-rewrite snapshots still resolve; a second rewrite is a no-op
    assert(c.activeDataFilesAt(r1.snapshotId).map(_.filePath) === Seq(a.filePath))
    assert(c.rewriteManifests() === None)
    // incremental scan and rollback may CROSS the rewrite... and a
    // subsequent append carries the coalesced list forward
    val r5 = c.commitAppend(Seq(df("data/partition=1/f.parquet", 10, 1, 20)))
    assert(c.appendsBetween(res.get.snapshotId, r5.snapshotId).map(_.filePath) ===
      Seq("data/partition=1/f.parquet"))
    assert(c.currentManifests().size === 3)
    val sum2 = c.load().get.currentSnapshot.get.summary
    assert(sum2("total-records") === "40")
    assert(sum2("total-data-files") === "4")
    // the totals fold still counts the coalesced (existing) rows
    c.rollbackTo(res.get.snapshotId) // crosses only the append — fine
    assert(c.activeDataFiles().size === 3)
  }

  test("partition-spec evolution: ids, defaults, guards, and rewrite routing") {
    val c = freshCommitter()
    c.commitAppend(Seq(df("data/partition=0/a.parquet", 10, 0, 10)))
    assert(c.evolvePartitionSpec(PartitionSpec.dateFields))
    val meta = c.load().get
    assert(meta.partitionSpecs.map(_.specId) === Seq(0, 1))
    assert(meta.defaultSpecId === 1)
    assert(meta.lastPartitionId === 1001)
    // no-op on identical fields; refusal on dropping identity(partition)
    assert(!c.evolvePartitionSpec(PartitionSpec.dateFields))
    intercept[IllegalArgumentException] {
      c.evolvePartitionSpec(Seq(PartitionField(FieldIds.EventDate, 1001, "event_date", "identity")))
    }
    // new commits stamp the new spec id in the manifest list; old keep 0
    c.commitAppend(Seq(df("data/partition=0/event_date=2024-01-01/b.parquet", 10, 0, 20)))
    assert(c.currentManifests().map(_.partitionSpecId) === Seq(0, 1))
    // a manifest rewrite may NOT merge specs: one coalesced manifest each
    c.commitAppend(Seq(df("data/partition=1/event_date=2024-01-02/e.parquet", 10, 1, 10)))
    assert(c.rewriteManifests().isDefined)
    assert(c.currentManifests().map(_.partitionSpecId).sorted === Seq(0, 1))
    assert(c.activeDataFiles().size === 3)
    // IDEMPOTENT even with both specs live: one manifest per (content,
    // spec) group IS coalesced — a content-only count would make every
    // nightly vacuum churn a spurious rewrite forever
    assert(c.rewriteManifests() === None)
    // layout/spec consistency: the spec evolved, so a FLAT file (written
    // under the old layout) must be refused at commit time as a conflict
    intercept[CommitConflict] {
      c.commitAppend(Seq(df("data/partition=1/f.parquet", 10, 1, 20)))
    }
    c.commitAppend(Seq(df("data/partition=1/event_date=2024-01-03/f.parquet", 10, 1, 20)))
    assert(c.activeDataFiles().size === 4)
  }

  test("the rewrite-manifests marker never leaks to descendant snapshots") {
    val c = freshCommitter()
    c.commitAppend(Seq(df("data/partition=0/a.parquet", 10, 0, 10)), Map(0 -> 10L))
    c.commitAppend(Seq(df("data/partition=0/b.parquet", 10, 0, 20)), Map(0 -> 20L))
    val rw = c.rewriteManifests().get
    // a plain append after the rewrite: crossable-marker ABSENT, watermarks
    // still carried (the carry-forward is watermark-keys-only now)
    val s3 = c.commitAppend(Seq(df("data/partition=0/e.parquet", 10, 0, 30)))
    val s3snap = c.load().get.snapshots.find(_.snapshotId == s3.snapshotId).get
    assert(!s3snap.summary.contains("zombi.rewrite-manifests"),
      "a leaked marker would let rollback/diff guards cross real replaces")
    assert(s3snap.summary("zombi.watermark.0") === "20")
    // a REAL replace after the rewrite must still be uncrossable
    val m = df("data/partition=0/m.parquet", 30, 0, 30)
    c.commitReplace(c.activeDataFiles(), Seq(m), s3.snapshotId)
    intercept[IllegalArgumentException] { c.appendsBetween(rw.snapshotId, c.load().get.currentSnapshotId.get) }
    intercept[IllegalArgumentException] { c.rollbackTo(rw.snapshotId) }
  }

  test("user tags: stored-ref round-trip, expire protection, derived-name guards") {
    val c = freshCommitter()
    val a = df("data/partition=0/a.parquet", 10, 0, 10)
    val b = df("data/partition=0/b.parquet", 10, 0, 20)
    val e = df("data/partition=0/e.parquet", 10, 0, 30)
    Seq(a, b, e).foreach(f => c.io.put(f.filePath, Array[Byte](1)))
    val r1 = c.commitAppend(Seq(a))
    val r2 = c.commitAppend(Seq(b))
    val r3 = c.commitAppend(Seq(e))
    c.createTag("keep-r1", r1.snapshotId)
    // stored next to the derived refs, and JSON round-trips
    val meta = c.load().get
    assert(meta.storedRefs("keep-r1") === SnapshotRef(r1.snapshotId, "tag"))
    assert(meta.refs("keep-r1").snapshotId === r1.snapshotId)
    assert(meta.refs("main") === SnapshotRef(r3.snapshotId, "branch"))
    assert(TableMetadata.fromJson(meta.toJson).storedRefs === meta.storedRefs)
    // name guards: derived, duplicate, malformed, unknown target
    assertThrows[IllegalArgumentException](c.createTag("main", r1.snapshotId))
    assertThrows[IllegalArgumentException](c.createTag("stage-1", r1.snapshotId))
    assertThrows[IllegalArgumentException](c.createTag("keep-r1", r2.snapshotId))
    assertThrows[IllegalArgumentException](c.createTag("bad name!", r1.snapshotId))
    assertThrows[IllegalArgumentException](c.createTag("ghost", 424242L))
    // expire keepLast=1 would drop r1 and r2 — the tag protects exactly r1
    assert(c.expireSnapshots(keepLast = 1) === Seq(r2.snapshotId))
    assert(c.activeDataFilesAt(r1.snapshotId).map(_.filePath) === Seq(a.filePath))
    assert(c.resolveVersionOf(c.load().get, "keep-r1") === r1.snapshotId)
    assertThrows[IllegalArgumentException](c.resolveVersionOf(c.load().get, "nope"))
    // the chain r3 → r1 now crosses the expired r2: walks from the head
    // name the missing snapshot, not a non-ancestor
    Seq(intercept[IllegalArgumentException](c.rollbackTo(r1.snapshotId)),
        intercept[IllegalArgumentException](c.appendsBetween(r1.snapshotId, r3.snapshotId)))
      .foreach(ex => assert(ex.getMessage === s"snapshot ${r2.snapshotId} missing from metadata"))
    // dropping the tag releases the snapshot to the next expiry
    c.dropTag("keep-r1")
    assertThrows[IllegalArgumentException](c.dropTag("keep-r1"))
    assert(c.expireSnapshots(keepLast = 1) === Seq(r1.snapshotId))
    assertThrows[IllegalArgumentException](c.activeDataFilesAt(r1.snapshotId))
  }

  test("expiration retains the CURRENT snapshot even when a rollback made it old") {
    val c = freshCommitter()
    val a = df("data/partition=0/a.parquet", 10, 0, 10)
    val b = df("data/partition=0/b.parquet", 10, 0, 20)
    val e = df("data/partition=0/e.parquet", 10, 0, 30)
    Seq(a, b, e).foreach(f => c.io.put(f.filePath, Array[Byte](1)))
    val r1 = c.commitAppend(Seq(a))
    val r2 = c.commitAppend(Seq(b))
    val r3 = c.commitAppend(Seq(e))
    c.rollbackTo(r1.snapshotId)
    // a timestamp cut alone would keep only r3 and expire the CURRENT r1
    val expired = c.expireSnapshots(keepLast = 1)
    assert(expired === Seq(r2.snapshotId))
    assert(c.load().get.currentSnapshotId === Some(r1.snapshotId))
    assert(c.activeDataFiles().map(_.filePath) === Seq("data/partition=0/a.parquet"))
    // expired id fails loud, never empty
    intercept[IllegalArgumentException] { c.activeDataFilesAt(r2.snapshotId) }
    // r3 (retained by keepLast) and r1 (current) still time travel
    assert(c.activeDataFilesAt(r3.snapshotId).size === 3)
    assert(c.io.exists("data/partition=0/b.parquet")) // referenced by retained r3
  }

  test("expiration retention is the UNION of keepLast and the timestamp cut") {
    val c = freshCommitter()
    val r1 = c.commitAppend(Seq(df("data/partition=0/a.parquet", 10, 0, 10)))
    Thread.sleep(3)
    val r2 = c.commitAppend(Seq(df("data/partition=0/b.parquet", 10, 0, 20)))
    Thread.sleep(3)
    val r3 = c.commitAppend(Seq(df("data/partition=0/e.parquet", 10, 0, 30)))
    val t2 = c.load().get.snapshots.find(_.snapshotId == r2.snapshotId).get.timestampMs
    // keepLast=1 would retain only r3 — the keepNewerThanTsMs cut
    // (Iceberg's expire_snapshots(older_than)) must ALSO retain everything
    // at or after r2's commit time
    val expired = c.expireSnapshots(keepLast = 1, keepNewerThanTsMs = t2)
    assert(expired === Seq(r1.snapshotId))
    assert(c.load().get.snapshots.map(_.snapshotId).toSet === Set(r2.snapshotId, r3.snapshotId))
    assert(c.activeDataFilesAt(r2.snapshotId).size === 2)
  }

  test("the timestamp cut rejects a relative age loudly (the epoch-1970 foot-gun)") {
    val c = freshCommitter()
    c.commitAppend(Seq(df("data/partition=0/a.parquet", 10, 0, 10)))
    // 7 days in ms passed where an epoch belongs would read as 1970 and
    // expire everything but keepLast — refused, never silently applied
    val ex = intercept[IllegalArgumentException] {
      c.expireSnapshots(keepLast = 1, keepNewerThanTsMs = 7L * 24 * 60 * 60 * 1000)
    }
    assert(ex.getMessage.contains("age"))
    assert(c.load().get.snapshots.size === 1, "the refused call must not touch metadata")
  }

  test("keepLast ranks PUBLISHED snapshots — a fresh stage consumes no retention slot") {
    val c = freshCommitter()
    val r1 = c.commitAppend(Seq(df("data/partition=0/a.parquet", 10, 0, 10)))
    Thread.sleep(2)
    val r2 = c.commitAppend(Seq(df("data/partition=0/b.parquet", 10, 0, 20)))
    Thread.sleep(2)
    c.commitStaged(Seq(df("data/partition=0/s1.parquet", 5, 0, 25)))
    // keepLast=2 must retain BOTH published snapshots: under an all-snapshot
    // ranking the fresh stage would eat a slot and r1 would expire
    assert(c.expireSnapshots(keepLast = 2) === Nil)
    assert(c.load().get.snapshots.map(_.snapshotId).toSet.contains(r1.snapshotId))
    assert(c.load().get.snapshots.map(_.snapshotId).toSet.contains(r2.snapshotId))
  }

  test("expiration retains live unpublished stages; a retained dead stage's base refuses") {
    // LIVE stages (parent == current head) are retained, never GC'd — a
    // nightly vacuum must not destroy (or be wedged by) in-flight audit work
    val c1 = freshCommitter()
    val r1 = c1.commitAppend(Seq(df("data/partition=0/a.parquet", 10, 0, 10)))
    val s1 = c1.commitStaged(Seq(df("data/partition=0/s1.parquet", 5, 0, 15)))
    Thread.sleep(2) // distinct timestamps so takeRight ordering is stable
    val s2 = c1.commitStaged(Seq(df("data/partition=0/s2.parquet", 5, 0, 15)))
    assert(c1.expireSnapshots(keepLast = 1) === Nil)
    val ids1 = c1.load().get.snapshots.map(_.snapshotId).toSet
    assert(ids1 === Set(r1.snapshotId, s1.snapshotId, s2.snapshotId),
      "live stages and their (current) base must all survive")
    // both stages remain publishable after the expire
    c1.publish(s1.snapshotId)
    assert(c1.load().get.currentSnapshotId === Some(s1.snapshotId))
    // base of a RETAINED (dead) stage expired -> refuse. Stages never rank
    // in keepLast, so the stage is retained here via the timestamp cut
    // while its (older) base falls outside both guards.
    val c2 = freshCommitter()
    val b1 = c2.commitAppend(Seq(df("data/partition=0/a.parquet", 10, 0, 10)))
    Thread.sleep(2)
    val st = c2.commitStaged(Seq(df("data/partition=0/s1.parquet", 5, 0, 15)))
    Thread.sleep(2)
    c2.commitAppend(Seq(df("data/partition=0/b.parquet", 10, 0, 20)))
    Thread.sleep(2)
    c2.commitAppend(Seq(df("data/partition=0/e.parquet", 10, 0, 30)))
    val tSt = c2.load().get.snapshots.find(_.snapshotId == st.snapshotId).get.timestampMs
    val ex2 = intercept[IllegalStateException] {
      c2.expireSnapshots(keepLast = 1, keepNewerThanTsMs = tSt)
    }
    assert(ex2.getMessage.contains(b1.snapshotId.toString))
    // expiring the dead stage TOGETHER with its base is allowed
    assert(c2.expireSnapshots(keepLast = 2).size === 2)
  }

  test("expiration GCs delete files with their snapshots; orphan sweep keeps live ones") {
    val c = freshCommitter()
    val a = df("data/partition=0/a.parquet", 10, 0, 10)
    val m = df("data/partition=0/m.parquet", 8, 0, 10)
    val d = DataFile(content = 1, filePath = "data/deletes/d.parquet", fileFormat = "PARQUET",
      recordCount = 2, fileSizeInBytes = 100, lowerBounds = Map.empty, upperBounds = Map.empty)
    Seq(a.filePath, d.filePath).foreach(p => c.io.put(p, Array[Byte](1)))
    val r1 = c.commitAppend(Seq(a))
    c.commitDeletes(Seq(d), r1.snapshotId)
    // the LIVE delete file is referenced metadata, never an orphan
    assert(OrphanGc.remove(TestSpark.spark, c.io.root, olderThanMs = -1) === Nil)
    assert(c.io.exists(d.filePath))
    // fold: rewrite a -> m, retiring the delete file in the same commit
    c.io.put(m.filePath, Array[Byte](1))
    val r2 = c.load().get.currentSnapshotId.get
    c.commitReplace(Seq(a), Seq(m), r2, removedDeletes = Seq(d))
    val expired = c.expireSnapshots(keepLast = 1)
    assert(expired.size === 2)
    // no retained snapshot references a or d -> physically gone; m kept
    assert(!c.io.exists(a.filePath))
    assert(!c.io.exists(d.filePath))
    assert(c.io.exists(m.filePath))
  }

  test("time-travel resolvers fail loud on an id the metadata does not carry") {
    val c = freshCommitter()
    c.commitAppend(Seq(df("data/partition=0/a.parquet", 10, 0, 10)))
    intercept[IllegalArgumentException] { c.activeDataFilesAt(12345L) }
    intercept[IllegalArgumentException] { c.activeDeleteFilesAt(12345L) }
  }

  test("distributed orphan GC (job path): same contract, listing never driver-materialized") {
    val spark = TestSpark.spark
    val c = freshCommitter()
    val committed = df("data/partition=0/kept.parquet", 10, 0, 10)
    c.io.put(committed.filePath, Array[Byte](1))
    c.commitAppend(Seq(committed))
    c.io.put("data/partition=1/staged.parquet", Array[Byte](1))
    c.io.put("staged/batch-7.marker", "data/partition=1/staged.parquet".getBytes("UTF-8"))
    c.io.put("data/partition=0/orphan1.parquet", Array[Byte](1))
    c.io.put("data/partition=2/orphan2.parquet", Array[Byte](1))
    val root = c.io.root

    // plan shape: the file listing and manifest parse run as executor-side
    // MapPartitions feeding one left_anti join — per-file rows never appear
    // in a driver-built local relation (only dir names / marker paths may)
    val plan = OrphanGc.orphans(spark, root, olderThanMs = -1)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("MapPartitions"), plan)
    assert(plan.contains("LeftAnti"), plan)

    // in-flight protection, then exactly the unreferenced-and-old files
    assert(OrphanGc.remove(spark, root, olderThanMs = 60000) === Nil)
    val gone = OrphanGc.remove(spark, root, olderThanMs = -1)
    assert(gone === Seq("data/partition=0/orphan1.parquet", "data/partition=2/orphan2.parquet"))
    assert(c.io.exists("data/partition=0/kept.parquet"))
    assert(c.io.exists("data/partition=1/staged.parquet"))
    assert(!c.io.exists("data/partition=0/orphan1.parquet"))
    assert(!c.io.exists("data/partition=2/orphan2.parquet"))
    assert(c.activeDataFiles().map(_.filePath) === Seq("data/partition=0/kept.parquet"))
    assert(OrphanGc.remove(spark, root, olderThanMs = -1) === Nil)
  }

  test("a torn metadata version from a crashed writer is skipped, never wedges reads or commits") {
    val c = freshCommitter()
    c.commitAppend(Seq(df("data/partition=0/a.parquet", 10, 0, 10)))
    // a dead writer left a partial v2.metadata.json (unparseable prefix) —
    // on create-reserving stores this is the torn-file shape
    c.io.put(c.versionFile(2), """{"format-version":2,"table-uu""".getBytes("UTF-8"))
    // reads resolve to the highest PARSEABLE version (previously: wedged
    // forever on the unparseable max); the torn file is NEVER deleted —
    // an in-band heal-delete can destroy a racing committer's real commit
    assert(c.load().get.snapshots.size === 1)
    assert(c.resolvedVersion() === 1)
    assert(c.io.exists(c.versionFile(2)), "torn slots are burned, not healed in-band")
    // the next commit burns past the torn slot
    val r3 = c.commitAppend(Seq(df("data/partition=1/b.parquet", 5, 1, 5)))
    assert(r3.version === 3, "torn v2 occupies its slot; the commit takes v3")
    assert(c.activeDataFiles().map(_.filePath).toSet ===
      Set("data/partition=0/a.parquet", "data/partition=1/b.parquet"))
    // a REAL competitor's (parse-valid) metadata is adopted as the new
    // base, never deleted
    val competitor = c.load().get.copy(lastUpdatedMs = 1L)
    c.io.put(c.versionFile(4), competitor.toJson.getBytes("UTF-8"))
    val r5 = c.commitAppend(Seq(df("data/partition=2/c.parquet", 1, 2, 1)))
    assert(r5.version === 5, "valid external version becomes the base")
    assert(c.io.exists(c.versionFile(4)))
  }

  test("a TRANSIENT read error never heals (deletes) a valid committed version") {
    val root = TestSpark.tempDir("graft-iceberg-test-").toString
    val local = new LocalTableIO(root)
    val c0 = new IcebergCommitter(local, "t")
    c0.commitAppend(Seq(df("data/partition=0/a.parquet", 10, 0, 10)))
    val v2 = c0.commitAppend(Seq(df("data/partition=1/b.parquet", 5, 1, 5))).version
    // an IO that fails READS of the current version file (network blip) —
    // the committer must surface the error, not delete the valid winner
    val flaky = new TableIO {
      override def root: String = local.root
      override def put(p: String, b: Array[Byte]): Unit = local.put(p, b)
      override def putIfAbsent(p: String, b: Array[Byte]): Boolean = local.putIfAbsent(p, b)
      override def get(p: String): Array[Byte] =
        if (p == s"metadata/v$v2.metadata.json") throw new java.io.IOException("transient")
        else local.get(p)
      override def exists(p: String): Boolean = local.exists(p)
      override def list(p: String): Seq[String] = local.list(p)
      override def listFilesRecursive(p: String): Seq[(String, Long)] = local.listFilesRecursive(p)
      override def delete(p: String): Unit = local.delete(p)
    }
    val c = new IcebergCommitter(flaky, "t")
    intercept[java.io.IOException](c.load())
    intercept[java.io.IOException](c.commitAppend(Seq(df("data/partition=2/c.parquet", 1, 2, 1))))
    assert(local.exists(s"metadata/v$v2.metadata.json"), "the valid version must survive read faults")
    // once reads recover, the table is fully intact
    assert(c0.activeDataFiles().size === 2)
  }

  test("a fully-pruned read returns an empty typed DataFrame, not an error") {
    val spark = TestSpark.spark
    val root  = TestSpark.tempDir("graft-prune-empty-").toString
    val c     = graft.table.EventTable.ingestAndCommit(spark, "/root/testdata/sf0.001", root)
    val none  = graft.table.EventTable.pruneByTimeRange(c, Long.MaxValue - 1, Long.MaxValue)
    assert(none.isEmpty)
    val df = graft.table.EventTable.readCommitted(spark, root, none)
    assert(df.count() === 0L)
    // committed reads return all-nullable columns on BOTH the empty and
    // non-empty paths (a user-schema parquet read is nullable regardless
    // of metadata required flags) — pin the layout, not the required bits.
    assert(df.schema === org.apache.spark.sql.types.StructType(
      graft.table.EventTable.committedReadSchema.map(_.copy(nullable = true))))
    val nonEmpty = graft.table.EventTable.readCommitted(
      spark, root, c.activeDataFiles())
    assert(nonEmpty.schema === df.schema,
      "empty and non-empty reads of the same table must agree on schema")
  }

  test("unknown table loads as None; version 0") {
    val c = freshCommitter()
    assert(c.currentVersion() === 0)
    assert(c.load() === None)
    assert(c.activeDataFiles() === Nil)
    assert(c.maxCommittedSequencePerPartition() === Map.empty)
  }

  test("TableIO.hadoopConf: a thread with no active session still gets the session's spark.hadoop.* keys") {
    val spark = TestSpark.spark
    spark.conf.set("spark.hadoop.graft.probe.key", "probe-value")
    try {
      @volatile var seen: Option[String] = None
      @volatile var hadActive            = true
      val t = new Thread(() => {
        // the active session is an inheritable thread-local: clear it to
        // stand in for a shutdown hook or a non-Spark worker thread
        org.apache.spark.sql.SparkSession.clearActiveSession()
        hadActive = org.apache.spark.sql.SparkSession.getActiveSession.isDefined
        seen = Option(TableIO.hadoopConf().get("spark.hadoop.graft.probe.key"))
      })
      t.start(); t.join()
      assert(!hadActive, "the probe thread must run without an active session")
      assert(seen === Some("probe-value"))
    } finally spark.conf.unset("spark.hadoop.graft.probe.key")
  }

  test("HadoopTableIO: rename-CAS only on namenode-enforced schemes (lost-commit guard)") {
    // Object-store FileContext bindings emulate no-overwrite rename with a
    // CLIENT-SIDE exists check — two racing committers can both pass it and
    // both report success. Only schemes whose rename is rejected server-side
    // may take the rename-CAS publish; everything else must keep the
    // conditional-create path (whole-object PUT on S3A, O_EXCL locally).
    val conf = new org.apache.hadoop.conf.Configuration()
    val io = new HadoopTableIO("file:///tmp/graft-scheme-probe", conf)
    assert(io.renameCasSchemes === Set("hdfs", "webhdfs", "swebhdfs"))
    // viewfs mounts may target ANY filesystem, so the scheme alone cannot
    // guarantee a namenode-enforced rename — excluded by default too
    for (bad <- Seq("file", "s3a", "abfs", "gs", "oss", "viewfs"))
      assert(!io.renameCasSchemes.contains(bad), s"$bad must NOT take the rename-CAS path")
    // per-connector override once a deployment verifies server-atomicity
    conf.set("graft.cas.rename.schemes", "hdfs, custom")
    assert(new HadoopTableIO("file:///tmp/graft-scheme-probe", conf)
      .renameCasSchemes === Set("hdfs", "custom"))
  }

  test("HadoopTableIO: full commit/replace/expire lifecycle through file://") {
    val dir = TestSpark.tempDir("graft-hadoop-io-").toString
    // constructed directly: forRoot deliberately keeps file:// on the
    // O_EXCL LocalTableIO (Hadoop's local create-if-absent is not atomic);
    // this exercises the Hadoop binding itself against the local store
    val io = new HadoopTableIO("file://" + dir)
    assert(TableIO.forRoot("hdfs://nn/x") match {
      case _: HadoopTableIO => true
      case _ => false
    }, "remote schemes must select the Hadoop binding")
    // the CAS primitive through the Hadoop create(overwrite=false) path
    assert(io.putIfAbsent("metadata/v9.metadata.json", Array[Byte](1)))
    assert(!io.putIfAbsent("metadata/v9.metadata.json", Array[Byte](2)))
    assert(io.get("metadata/v9.metadata.json").toSeq === Seq[Byte](1))
    io.delete("metadata/v9.metadata.json")
    assert(!io.exists("metadata/v9.metadata.json"))

    val c = new IcebergCommitter(io, "t")
    val a = df("data/partition=0/a.parquet", 10, 0, 10)
    val b = df("data/partition=0/b.parquet", 10, 0, 20)
    val m = df("data/partition=0/m.parquet", 20, 0, 20)
    Seq(a, b, m).foreach(f => c.io.put(f.filePath, Array[Byte](1)))
    c.commitAppend(Seq(a), Map(0 -> 10L))
    val r2 = c.commitAppend(Seq(b), Map(0 -> 20L))
    assert(c.activeDataFiles().size === 2)
    assert(c.summaryWatermarks() === Map(0 -> 20L))
    intercept[CommitConflict] {
      c.commitReplace(Seq(a, b), Seq(m), expectedBase = r2.snapshotId + 1)
    }
    c.commitReplace(Seq(a, b), Seq(m), expectedBase = r2.snapshotId)
    assert(c.activeDataFiles().map(_.filePath) === Seq("data/partition=0/m.parquet"))
    val expired = c.expireSnapshots(keepLast = 1)
    assert(expired.size === 2)
    assert(c.io.exists("data/partition=0/m.parquet"))
    assert(!c.io.exists("data/partition=0/a.parquet"))
    assert(!c.io.exists("data/partition=0/b.parquet"))
    // local roots — plain paths AND file:// URIs — keep the O_EXCL binding
    assert(TableIO.forRoot(dir).isInstanceOf[LocalTableIO])
    assert(TableIO.forRoot("file://" + dir).isInstanceOf[LocalTableIO])
  }

  test("scheme-qualified root: ingest, commit, read, and delete through the Hadoop data plane") {
    val spark = TestSpark.spark
    val dir   = TestSpark.tempDir("graft-hadoop-table-").toString
    val root  = "file://" + dir
    val c     = graft.table.EventTable.ingestAndCommit(spark, "/root/testdata/sf0.001", root)
    // metadata CAS stays on the O_EXCL local binding (decoded from the URI);
    // the DATA plane below (write moves, footer stats, reads, delete
    // rewrite) resolves every path through the root's Hadoop FileSystem
    assert(c.io.isInstanceOf[LocalTableIO])
    assert(c.io.root === dir)
    val expected = graft.core.EventLog.log(spark, "/root/testdata/sf0.001").count()
    assert(graft.table.EventTable.readCommitted(spark, root).count() === expected)
    // manifest stats present (footer job ran through the Hadoop path)
    assert(c.maxCommittedSequencePerPartition().nonEmpty)
    // copy-on-write delete: URI path matching + rewrite + replace commit
    import org.apache.spark.sql.functions.col
    val res = graft.table.EventTable.deleteWhere(spark, root, col("sequence") === 1L)
    assert(res.deletedRows > 0)
    assert(graft.table.EventTable.readCommitted(spark, root).count() === expected - res.deletedRows)
  }

  test("appendsSince: exact appended-file diff; refuses a range holding a rewrite") {
    val c  = freshCommitter()
    val a  = df("data/partition=0/a.parquet", 10, 0, 10)
    val b  = df("data/partition=0/b.parquet", 10, 0, 20)
    val e  = df("data/partition=1/e.parquet", 5, 1, 5)
    val r0 = c.commitAppend(Seq(a), Map(0 -> 10L))
    c.commitAppend(Seq(b), Map(0 -> 20L))
    val r2 = c.commitAppend(Seq(e), Map(1 -> 5L))
    // two appends after r0: the diff is exactly {b, e}, head-relative empty
    assert(c.appendsSince(r0.snapshotId).map(_.filePath).toSet ===
      Set(b.filePath, e.filePath))
    assert(c.appendsSince(r2.snapshotId).isEmpty)
    assertThrows[IllegalArgumentException](c.appendsSince(12345L)) // unknown id
    // pinned-range form (the streaming tail's micro-batch planner): the
    // diff stops at `to` even though the head may be further along
    assert(c.appendsBetween(r0.snapshotId, r2.snapshotId).map(_.filePath).toSet ===
      Set(b.filePath, e.filePath))
    assert(c.appendsBetween(r0.snapshotId, r0.snapshotId).isEmpty)
    // a replace (compaction) inside the range: file diff ≠ row diff → refuse
    val merged = df("data/partition=0/m.parquet", 20, 0, 20)
    c.commitReplace(Seq(a, b), Seq(merged), expectedBase = r2.snapshotId)
    assertThrows[IllegalArgumentException](c.appendsSince(r0.snapshotId))
    // ...but a range starting AT the replace is append-only again
    val head = c.load().get.currentSnapshotId.get
    assert(c.appendsSince(head).isEmpty)
  }

  test("appendsBetween crosses data-preserving replaces; refuses ones that merged unread appends") {
    val c  = freshCommitter()
    val a  = df("data/partition=0/a.parquet", 10, 0, 10)
    val b  = df("data/partition=0/b.parquet", 10, 0, 20)
    c.commitAppend(Seq(a), Map(0 -> 10L))
    val r1 = c.commitAppend(Seq(b), Map(0 -> 20L))
    // compaction-style replace of files that PRECEDE the range: crossable
    val m  = df("data/partition=0/m.parquet", 20, 0, 20)
    val r2 = c.commitReplace(Seq(a, b), Seq(m), r1.snapshotId, dataPreserving = true)
    assert(c.load().get.snapshots.find(_.snapshotId == r2.snapshotId).get
      .summary.get("zombi.data-preserving").contains("true"))
    assert(c.appendsSince(r1.snapshotId).isEmpty,
      "a data-preserving replace contributes nothing — and must not refuse")
    // appends around it flow through; the replace's outputs never emit
    val e  = df("data/partition=1/e.parquet", 5, 1, 5)
    val r3 = c.commitAppend(Seq(e), Map(1 -> 5L))
    assert(c.appendsBetween(r1.snapshotId, r3.snapshotId).map(_.filePath) === Seq(e.filePath))
    // a DP replace that merged an IN-RANGE append: the file is physically
    // deleted — refuse loudly, never silently skip or duplicate
    val m2 = df("data/partition=1/m2.parquet", 5, 1, 5)
    c.commitReplace(Seq(e), Seq(m2), r3.snapshotId, dataPreserving = true)
    val ex = intercept[IllegalStateException](c.appendsSince(r1.snapshotId))
    assert(ex.getMessage.contains("compacted away"))
    assert(c.appendsSince(r3.snapshotId).isEmpty, "from PAST the merged append it crosses again")
    // the stamp does NOT loosen rollback (replaced files are physically gone)
    assertThrows[IllegalArgumentException](c.rollbackTo(r1.snapshotId))
    // stamp guards: only a pure shrink-only replace may claim preservation
    val big = df("data/partition=0/big.parquet", 999, 0, 20)
    assertThrows[IllegalArgumentException](
      c.commitReplace(Seq(m), Seq(big), c.load().get.currentSnapshotId.get, dataPreserving = true))
    assertThrows[IllegalArgumentException](
      c.commitReplace(Seq(m), Seq(m2), c.load().get.currentSnapshotId.get,
        operation = "overwrite", dataPreserving = true))
    // skipDeleteSnapshots: a MoR delete in range refuses by default,
    // crosses (emitting nothing) under the explicit opt-in
    val del = df("deletes/partition=1/d.parquet", 2, 1, 5).copy(content = 1)
    c.commitDeletes(Seq(del), c.load().get.currentSnapshotId.get)
    val f2   = df("data/partition=1/f2.parquet", 4, 1, 9)
    val head = c.commitAppend(Seq(f2), Map(1 -> 9L))
    assertThrows[IllegalArgumentException](c.appendsBetween(r3.snapshotId, head.snapshotId))
    assert(c.appendsBetween(r3.snapshotId, head.snapshotId, skipDeleteSnapshots = true)
      .map(_.filePath) === Seq(f2.filePath))
  }

  test("rollbackTo: repoints current, keeps abandoned snapshots, refuses rewrites in range") {
    val c  = freshCommitter()
    val a  = df("data/partition=0/a.parquet", 10, 0, 10)
    val b  = df("data/partition=0/b.parquet", 10, 0, 20)
    val r0 = c.commitAppend(Seq(a), Map(0 -> 10L))
    val r1 = c.commitAppend(Seq(b), Map(0 -> 20L))
    val vBefore = c.currentVersion()

    val won = c.rollbackTo(r0.snapshotId)
    assert(won > vBefore, "rollback is a CAS metadata commit")
    val meta = c.load().get
    assert(meta.currentSnapshotId.contains(r0.snapshotId))
    assert(c.activeDataFiles().map(_.filePath) === Seq(a.filePath))
    // abandoned snapshot stays resolvable (time travel) and logged
    assert(meta.snapshots.exists(_.snapshotId == r1.snapshotId))
    assert(c.activeDataFilesAt(r1.snapshotId).map(_.filePath).toSet ===
      Set(a.filePath, b.filePath))
    assert(meta.snapshotLog.last.snapshotId === r0.snapshotId)
    // watermark recovery follows the restored snapshot's manifests
    assert(c.maxCommittedSequencePerPartition()(0) === 10L)

    // no-op at the target; unknown id refuses
    assert(c.rollbackTo(r0.snapshotId) === c.currentVersion())
    assertThrows[IllegalArgumentException](c.rollbackTo(424242L))

    // CDC × rollback interplay: r1 was abandoned by the rollback, so an
    // incremental scan from it must REFUSE (its file b is not on the
    // current lineage — a list-order diff would return a wrong delta),
    // while a scan from the restored head sees the post-rollback appends.
    assertThrows[IllegalArgumentException](c.appendsSince(r1.snapshotId))
    val e2 = df("data/partition=1/e2.parquet", 5, 1, 5)
    c.commitAppend(Seq(e2), Map(1 -> 5L))
    assert(c.appendsSince(r0.snapshotId).map(_.filePath) === Seq(e2.filePath))

    // a replace in the abandoned range refuses (its inputs were
    // physically deleted — the restored state could dangle)
    val postAppendHead = c.load().get.currentSnapshotId.get
    val merged = df("data/partition=0/m.parquet", 10, 0, 10)
    val r2 = c.commitReplace(Seq(a), Seq(merged), expectedBase = postAppendHead)
    assertThrows[IllegalArgumentException](c.rollbackTo(r0.snapshotId))
    assert(c.load().get.currentSnapshotId.contains(r2.snapshotId), "failed rollback must not move the table")
  }

  test("commitStaged/publish: staged snapshot invisible until the fast-forward; stale stage refuses") {
    val c  = freshCommitter()
    val a  = df("data/partition=0/a.parquet", 10, 0, 10)
    val b  = df("data/partition=0/b.parquet", 10, 0, 20)
    val r0 = c.commitAppend(Seq(a), Map(0 -> 10L))
    val st = c.commitStaged(Seq(b), Map(0 -> 20L))
    // invisible to readers, absent from the log, watermark unchanged...
    assert(c.load().get.currentSnapshotId.contains(r0.snapshotId))
    assert(c.activeDataFiles().map(_.filePath) === Seq(a.filePath))
    assert(c.load().get.snapshotLog.last.snapshotId === r0.snapshotId)
    assert(c.summaryWatermarks()(0) === 10L)
    // ...but fully formed for the audit read by id
    assert(c.activeDataFilesAt(st.snapshotId).map(_.filePath).toSet ===
      Set(a.filePath, b.filePath))
    assert(c.load().get.snapshots.find(_.snapshotId == st.snapshotId)
      .exists(_.summary.get("zombi.staged").contains("true")))

    val won = c.publish(st.snapshotId)
    assert(won === c.currentVersion())
    assert(c.load().get.currentSnapshotId.contains(st.snapshotId))
    assert(c.activeDataFiles().map(_.filePath).toSet === Set(a.filePath, b.filePath))
    assert(c.summaryWatermarks()(0) === 20L)
    assert(c.publish(st.snapshotId) === won, "publish at target is a no-op")
    assertThrows[IllegalArgumentException](c.publish(424242L))

    // a stage built on a superseded head refuses to publish (no cherry-pick)
    val stale = c.commitStaged(Seq(df("data/partition=1/s.parquet", 5, 1, 5)), Map(1 -> 5L))
    c.commitAppend(Seq(df("data/partition=2/f.parquet", 5, 2, 5)), Map(2 -> 5L))
    assertThrows[CommitConflict](c.publish(stale.snapshotId))
    // an unpublished staged snapshot never blocks a rollback on the live lineage
    c.rollbackTo(st.snapshotId)
    assert(c.load().get.currentSnapshotId.contains(st.snapshotId))
  }

  test("refs: main tracks the pointer through publish/rollback; stage tags retire with their snapshots") {
    val c  = freshCommitter()
    val a  = df("data/partition=0/a.parquet", 10, 0, 10)
    val b  = df("data/partition=0/b.parquet", 10, 0, 20)
    val r0 = c.commitAppend(Seq(a), Map(0 -> 10L))
    assert(c.load().get.refs === Map("main" -> SnapshotRef(r0.snapshotId, "branch")))

    // an unpublished stage surfaces as a tag; main stays on the audit base
    val st = c.commitStaged(Seq(b), Map(0 -> 20L))
    val staged = c.load().get.refs
    assert(staged("main") === SnapshotRef(r0.snapshotId, "branch"))
    assert(staged(s"stage-${st.snapshotId}") === SnapshotRef(st.snapshotId, "tag"))

    // the refs an EXTERNAL engine sees: parse the committed JSON raw
    val json = new String(c.io.get(c.versionFile(c.resolvedVersion())), "UTF-8")
    val rf = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json).get("refs")
    assert(rf.get("main").get("snapshot-id").asLong === r0.snapshotId)
    assert(rf.get("main").get("type").asText === "branch")
    assert(rf.get(s"stage-${st.snapshotId}").get("type").asText === "tag")

    // publish retires the tag and fast-forwards main
    c.publish(st.snapshotId)
    assert(c.load().get.refs === Map("main" -> SnapshotRef(st.snapshotId, "branch")))

    // rollback moves main back (the branch IS the pointer)
    c.rollbackTo(r0.snapshotId)
    assert(c.load().get.refs("main") === SnapshotRef(r0.snapshotId, "branch"))

    // a DEAD stage (head moved past its parent) keeps its tag until
    // expiration removes the snapshot — then the tag retires with it,
    // while main's target is protected by the unconditional current-keep
    val dead = c.commitStaged(Seq(df("data/partition=1/d.parquet", 5, 1, 5)), Map(1 -> 5L))
    val r2   = c.commitAppend(Seq(df("data/partition=2/e.parquet", 5, 2, 5)), Map(2 -> 5L))
    assert(c.load().get.refs.contains(s"stage-${dead.snapshotId}"))
    c.expireSnapshots(keepLast = 1)
    assert(c.load().get.refs === Map("main" -> SnapshotRef(r2.snapshotId, "branch")),
      "expire keeps every ref target it retains and retires tags of expired stages")
  }

  test("schema evolution: additive commit, compatibility guards, version bump") {
    val c = freshCommitter()
    c.commitAppend(Seq(df("data/partition=0/a.parquet", 10, 0, 10)), Map(0 -> 10L))
    val base = c.currentSchema().get

    // no-op when identical (field ids compared, not schemaId)
    assert(!c.evolveSchema(base.copy(schemaId = 99)))
    assert(c.currentVersion() === 1)

    // additive evolution commits a new metadata version and schema id
    val added = base.copy(fields =
      base.fields :+ IcebergField(200, "extra", "string", required = false))
    assert(c.evolveSchema(added))
    assert(c.currentVersion() === 2)
    val cur = c.currentSchema().get
    assert(cur.schemaId === 1)
    assert(cur.fields.exists(_.name == "extra"))
    // old schema retained in metadata history
    assert(c.load().get.schemas.map(_.schemaId) === Seq(0, 1))

    // dropping a field is rejected
    intercept[IllegalArgumentException] {
      c.evolveSchema(cur.copy(fields = cur.fields.filterNot(_.name == "sequence")))
    }
    // retyping a field is rejected
    intercept[IllegalArgumentException] {
      c.evolveSchema(cur.copy(fields =
        cur.fields.map(f => if (f.name == "extra") f.copy(fieldType = "long") else f)))
    }

    // appends after evolution embed the CURRENT schema and stamp its id
    val r = c.commitAppend(Seq(df("data/partition=0/b.parquet", 5, 11, 15)), Map(0 -> 15L))
    assert(r.metadata.currentSnapshot.get.schemaId === 1)
  }

  test("conformance: committed manifests parse with the stock Avro reader and embed the reference v2 schemas") {
    // Third-party read-back check (SURVEY §7.4). DuckDB's iceberg
    // extension cannot be installed offline (zero egress — documented in
    // TESTDATA.md), so this is the survey's sanctioned fallback: a
    // byte-level conformance check of what a commit actually writes.
    // The files are opened with the STOCK Apache Avro reader and NO
    // expected schema — decoding is driven purely by the writer schema
    // embedded in the container, exactly the first thing any external
    // Iceberg engine does — and that embedded schema is compared against
    // the reference's schema JSON transcribed below from
    // `/root/reference/src/storage/iceberg.rs:851-929`, NOT against
    // ManifestIO's schema object, so writer/reader drifting together
    // still breaks this test.
    import org.apache.avro.Schema
    import org.apache.avro.file.DataFileStream
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    val refEntrySchema = new Schema.Parser().parse(
      """{"type": "record", "name": "manifest_entry", "fields": [
        |  {"name": "status", "type": "int"},
        |  {"name": "snapshot_id", "type": ["null", "long"], "default": null},
        |  {"name": "sequence_number", "type": ["null", "long"], "default": null},
        |  {"name": "file_sequence_number", "type": ["null", "long"], "default": null},
        |  {"name": "data_file", "type": {"type": "record", "name": "r2", "fields": [
        |    {"name": "content", "type": "int", "default": 0},
        |    {"name": "file_path", "type": "string"},
        |    {"name": "file_format", "type": "string"},
        |    {"name": "record_count", "type": "long"},
        |    {"name": "file_size_in_bytes", "type": "long"},
        |    {"name": "column_sizes", "type": ["null", {"type": "map", "values": "long"}], "default": null},
        |    {"name": "value_counts", "type": ["null", {"type": "map", "values": "long"}], "default": null},
        |    {"name": "null_value_counts", "type": ["null", {"type": "map", "values": "long"}], "default": null},
        |    {"name": "lower_bounds", "type": ["null", {"type": "map", "values": "bytes"}], "default": null},
        |    {"name": "upper_bounds", "type": ["null", {"type": "map", "values": "bytes"}], "default": null},
        |    {"name": "split_offsets", "type": ["null", {"type": "array", "items": "long"}], "default": null}
        |  ]}}
        |]}""".stripMargin)
    val refListSchema = new Schema.Parser().parse(
      """{"type": "record", "name": "manifest_file", "fields": [
        |  {"name": "manifest_path", "type": "string"},
        |  {"name": "manifest_length", "type": "long"},
        |  {"name": "partition_spec_id", "type": "int"},
        |  {"name": "content", "type": "int"},
        |  {"name": "sequence_number", "type": "long"},
        |  {"name": "min_sequence_number", "type": "long"},
        |  {"name": "added_snapshot_id", "type": "long"},
        |  {"name": "added_files_count", "type": "int"},
        |  {"name": "existing_files_count", "type": "int"},
        |  {"name": "deleted_files_count", "type": "int"},
        |  {"name": "added_rows_count", "type": "long"},
        |  {"name": "existing_rows_count", "type": "long"},
        |  {"name": "deleted_rows_count", "type": "long"}
        |]}""".stripMargin)

    val root = TestSpark.tempDir("graft-iceberg-conform-").toString
    val c = new IcebergCommitter(new LocalTableIO(root), "t")
    c.commitAppend(Seq(df("data/partition=0/a.parquet", 10, 0, 10)), Map(0 -> 10L))
    val metaFiles = new java.io.File(root, "metadata").listFiles().toSeq
    val manifest = metaFiles.find(_.getName.endsWith("-m0.avro"))
      .getOrElse(fail("no *-m0.avro manifest written"))
    val snapList = metaFiles.find(_.getName.startsWith("snap-"))
      .getOrElse(fail("no snap-*.avro manifest list written"))
    def open(f: java.io.File) = new DataFileStream[GenericRecord](
      new java.io.FileInputStream(f), new GenericDatumReader[GenericRecord]())

    val ms = open(manifest)
    try {
      assert(ms.getSchema === refEntrySchema,
        s"embedded manifest_entry writer schema diverges from the reference shape:\n${ms.getSchema}")
      // Iceberg-required container metadata keys (iceberg.rs:793-810)
      assert(ms.getMetaString("format-version") === "2")
      assert(ms.getMetaString("content") === "data")
      Seq("schema", "schema-id", "partition-spec", "partition-spec-id").foreach(k =>
        assert(ms.getMeta(k) != null, s"missing required container metadata key '$k'"))
      assert(ms.hasNext, "manifest must contain the committed entry")
      val rec = ms.next()
      assert(rec.get("status") === 1, "fresh append entries carry status=1 (added)")
      val dataFile = rec.get("data_file").asInstanceOf[GenericRecord]
      assert(dataFile.get("file_path").toString === "data/partition=0/a.parquet")
      assert(dataFile.get("record_count") === 10L)
      assert(dataFile.get("file_format").toString === "PARQUET")
    } finally ms.close()

    val ls = open(snapList)
    try {
      assert(ls.getSchema === refListSchema,
        s"embedded manifest_file writer schema diverges from the reference shape:\n${ls.getSchema}")
      assert(ls.getMetaString("format-version") === "2")
      assert(ls.hasNext, "manifest list must reference the manifest")
      val rec = ls.next()
      assert(rec.get("manifest_path").toString.endsWith("-m0.avro"))
      assert(rec.get("added_rows_count") === 10L)
      assert(rec.get("added_files_count") === 1)
      assert(!ls.hasNext, "single-commit table lists exactly one manifest")
    } finally ls.close()
  }
}
