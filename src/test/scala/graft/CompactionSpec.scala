package graft

import graft.iceberg._
import graft.table.{Compaction, EventTable}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

class CompactionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def df(path: String, bytes: Long): DataFile =
    DataFile(0, path, "PARQUET", bytes / 100, bytes, Map.empty, Map.empty)

  test("C1 selection at reference defaults: small files, >=3 per group, budget by whole groups") {
    val cfg = Compaction.Config() // <64MB, >=3 files, <=10/run
    val big    = df("data/partition=0/big.parquet", 100L * 1024 * 1024)
    val g0     = (1 to 6).map(i => df(s"data/partition=0/f$i.parquet", 1000))
    val g1     = (1 to 6).map(i => df(s"data/partition=1/f$i.parquet", 1000))
    val g2     = (1 to 2).map(i => df(s"data/partition=2/f$i.parquet", 1000))
    val picked = Compaction.selectCandidates(big +: (g0 ++ g1 ++ g2), cfg)
    // big file excluded; partition=2 group too small; 6+6 > 10 budget →
    // whole second group skipped (the reference takes whole groups only,
    // `/root/reference/src/storage/compaction.rs:139-171`).
    assert(picked.map(_.filePath).toSet === g0.map(_.filePath).toSet)
  }

  test("C1 distributed selection matches the driver selection on every fixture") {
    val cfg = Compaction.Config()
    val big  = df("data/d0/big.parquet", 100L * 1024 * 1024)
    val g0   = (1 to 4).map(i => df(s"data/d0/s$i.parquet", 1024))
    val g1   = (1 to 2).map(i => df(s"data/d1/s$i.parquet", 1024))
    val g2   = (1 to 8).map(i => df(s"data/d2/s$i.parquet", 1024))
    for (fixture <- Seq(Seq.empty[DataFile], Seq(big), big +: (g0 ++ g1 ++ g2),
                        (1 to 10).map(i => df(s"data/g/s$i.parquet", 1024)))) {
      val driver = Compaction.selectCandidates(fixture, cfg).map(_.filePath).toSet
      // threshold 0 forces the job path — the default routes small sets to
      // the driver fold, which would make this test vacuous
      val job = Compaction.selectCandidatesDistributed(spark, fixture, cfg, threshold = 0)
        .map(_.filePath).toSet
      assert(job === driver, s"fixture size ${fixture.size}")
    }
  }

  test("C1: a group exactly at the budget is taken") {
    val cfg = Compaction.Config()
    val g   = (1 to 10).map(i => df(s"data/partition=0/f$i.parquet", 1000))
    assert(Compaction.selectCandidates(g, cfg).size === 10)
  }

  test("C1: a lone file is never a size group, so minFilesPerGroup = 1 compaction ends") {
    val cfg  = Compaction.Config(minFilesPerGroup = 1)
    val lone = (0 to 2).map(p => df(s"data/partition=$p/f.parquet", 1000))
    val pair = (1 to 2).map(i => df(s"data/partition=9/f$i.parquet", 1000))
    assert(Compaction.selectCandidates(lone ++ pair, cfg).toSet === pair.toSet)
    assert(Compaction.selectCandidatesDistributed(spark, lone ++ pair, cfg, threshold = 0).toSet === pair.toSet)
    import spark.implicits._
    def events(tag: String, parts: Int) =
      (0 until parts).flatMap(p => (1 to 5).map(i => (p, s"$tag-$i", 1000L + i, s"$tag-$p-$i")))
        .toDF("partition", "payload", "timestamp_ms", "idempotency_key")
    val root = TestSpark.tempDir("graft-compact-lone-").toString
    graft.streaming.StreamIngest.appendEvents(spark, root, events("a", 3))
    graft.streaming.StreamIngest.appendEvents(spark, root, events("b", 1))
    var runs = 0 // bounded, so a regression fails instead of looping
    while (runs < 5 && Compaction.compact(spark, root, cfg).isDefined) runs += 1
    assert(runs === 1, "one pass merges partition 0's two files; the lone files stay put")
    assert(EventTable.readCommitted(spark, root).count() === 20L)
  }

  test("C2+C3: compaction merges fragments and preserves every row") {
    val root = TestSpark.tempDir("graft-compact-spec-").toString
    EventTable.ingestAndCommit(spark, "/root/testdata/sf0.001", root, fragmentInto = Some(32))
    val committer   = new IcebergCommitter(new LocalTableIO(root), EventTable.Topic)
    val filesBefore = committer.activeDataFiles().size
    val rowsBefore  = EventTable.readCommitted(spark, root).count()
    assert(filesBefore >= 24, s"fragmented ingest should produce many files, got $filesBefore")

    while (Compaction.compact(spark, root).isDefined) ()

    val filesAfter = committer.activeDataFiles().size
    assert(filesAfter <= graft.core.EventLog.NumPartitions, s"expected ~1 file per partition, got $filesAfter")
    assert(EventTable.readCommitted(spark, root).count() === rowsBefore)
    // physical cleanup happened: no orphan small files left behind
    assert(EventTable.listParquet(root).size === filesAfter)
  }

  test("copy-on-write delete rewrites only files with matches; rows and files reconcile") {
    val root = TestSpark.tempDir("graft-delete-spec-").toString
    EventTable.ingestAndCommit(spark, "/root/testdata/sf0.001", root, fragmentInto = Some(16))
    val committer = new IcebergCommitter(new LocalTableIO(root), EventTable.Topic)
    val before    = committer.activeDataFiles().map(_.filePath).toSet
    val rowsBefore = EventTable.readCommitted(spark, root).count()

    // delete everything in ONE log partition: files of other partitions
    // (partition=P dirs) contain no matches and must survive untouched
    val res = EventTable.deleteWhere(spark, root, col("partition") === 3)
    assert(res.deletedRows > 0)
    assert(res.rewrittenFiles > 0 && res.untouchedFiles > 0)

    val after = committer.activeDataFiles().map(_.filePath).toSet
    val untouched = before.filterNot(_.contains("partition=3"))
    assert(untouched.subsetOf(after), "files without matches must keep their identity")
    assert(!after.exists(_.contains("partition=3")) ||
           EventTable.readCommitted(spark, root).filter(col("partition") === 3).count() == 0)
    assert(EventTable.readCommitted(spark, root).count() === rowsBefore - res.deletedRows)
    // replaced files are physically gone; listing reconciles with manifests
    assert(EventTable.listParquet(root).size === after.size)

    // deleting with no matches is a no-op commit-wise
    val versionBefore = committer.currentVersion()
    val noop = EventTable.deleteWhere(spark, root, col("partition") === 3)
    assert(noop.deletedRows === 0 && noop.snapshotId.isEmpty)
    assert(committer.currentVersion() === versionBefore)
  }

  test("MoR deletes, the changefeed, and folding all work on a spec-evolved mixed-layout table") {
    val root = TestSpark.tempDir("graft-specmor-").toString
    val c = EventTable.ingestAndCommit(spark, "/root/testdata/sf0.001", root, fragmentInto = Some(8))
    assert(c.evolvePartitionSpec(graft.iceberg.PartitionSpec.dateFields))
    val batch = graft.table.TailBatch.of(EventTable.readCommitted(spark, root),
                                         n = 5, maxPart = 2, kShift = Some(222000L), prefix = "y")
    EventTable.appendBatch(spark, root, batch)
    val base   = c.load().get.currentSnapshotId.get
    val before = EventTable.readCommitted(spark, root).count()
    // positional masks hit BOTH layouts (flat spec-0 files and dated
    // spec-1 files) — the read is a union of scans, so _metadata-based
    // identity must be annotated per scan, not on the union
    val r = EventTable.deleteWhereMor(spark, root, col("sequence") % 5 === 1)
    assert(r.deletedRows > 0)
    assert(EventTable.readCommitted(spark, root).count() === before - r.deletedRows)
    assert(spark.read.format("graft").load(root).count() === before - r.deletedRows,
      "the V2 scan must fold masks over both layouts")
    // the changefeed resolves the masked rows against the mixed parent
    val head = c.load().get.currentSnapshotId.get
    val feed = EventTable.changesBetween(spark, root, base, head)
    assert(feed.filter(col("_change_type") === "delete").count() === r.deletedRows)
    // compaction folds across specs (rewrite lands in the evolved layout).
    // The dated tail files sit alone in their dirs (below minFilesPerGroup)
    // and under the default 30% tombstone ratio, so the size rules alone
    // would CORRECTLY never finish the fold — drive it with a lowered
    // ratio trigger, which is exactly the knob an operator would turn.
    while (Compaction.compact(spark, root,
      Compaction.Config(deleteRatioTrigger = 0.01, maxFilesPerRun = 10000)).isDefined) ()
    assert(c.activeDeleteFiles().isEmpty)
    assert(EventTable.readCommitted(spark, root).count() === before - r.deletedRows)
    assert(c.activeDataFiles().exists(_.filePath.contains("/event_date=")),
      "compaction rewrites must land in the current (evolved) layout")
  }

  test("vacuum restores every bounded-metadata invariant in one call") {
    val root = TestSpark.tempDir("graft-vacuum-").toString
    val c = EventTable.ingestAndCommit(spark, "/root/testdata/sf0.001", root, fragmentInto = Some(32))
    // grow history: a tail append, two MoR delete passes
    val batch = graft.table.TailBatch.of(EventTable.readCommitted(spark, root),
                                         n = 5, maxPart = 2, kShift = Some(333000L), prefix = "u")
    EventTable.appendBatch(spark, root, batch)
    val r1 = EventTable.deleteWhereMor(spark, root, col("partition") === 3)
    val r2 = EventTable.deleteWhereMor(spark, root, col("sequence") % 10 === 7)
    assert(r1.deletedRows > 0 && r2.deletedRows > 0)
    val expect = EventTable.readCommitted(spark, root).count()
    assert(c.load().get.snapshots.size >= 4)

    val r = graft.table.Maintenance.vacuum(spark, root,
      Compaction.Config(deleteRatioTrigger = 0.01, maxFilesPerRun = 10000),
      keepSnapshots = 1)
    assert(r.compactions > 0, "vacuum must drive the fold")
    assert(c.activeDeleteFiles().isEmpty, "vacuum must fold every delete file")
    assert(r.manifestsCoalesced || c.currentManifests().size <= 2,
      "vacuum must leave a coalesced manifest list")
    // retention: only the vacuum-era current snapshot (+ its rewrite) remain
    assert(c.load().get.snapshots.size <= 2, s"history must be bounded: ${c.load().get.snapshots.size}")
    assert(r.expiredSnapshots > 0)
    // the data is untouched and still reads through every surface
    assert(EventTable.readCommitted(spark, root).count() === expect)
    assert(spark.read.format("graft").load(root).count() === expect)
    // idempotent: a second vacuum finds nothing to do
    val r2nd = graft.table.Maintenance.vacuum(spark, root, keepSnapshots = 1)
    assert(r2nd.compactions === 0 && !r2nd.manifestsCoalesced && r2nd.expiredSnapshots <= 1)
    assert(EventTable.readCommitted(spark, root).count() === expect)
  }

  test("changefeed refuses rewrites in range and expired endpoints") {
    val root = TestSpark.tempDir("graft-feed-spec-").toString
    EventTable.ingestAndCommit(spark, "/root/testdata/sf0.001", root, fragmentInto = Some(32))
    val committer = new IcebergCommitter(new LocalTableIO(root), EventTable.Topic)
    val base = committer.load().get.currentSnapshotId.get
    val r = EventTable.deleteWhereMor(spark, root, col("partition") === 3)
    assert(r.deletedRows > 0)
    // feed across the delete commit works and reconstructs the masked rows
    val head1 = committer.load().get.currentSnapshotId.get
    val feed = EventTable.changesBetween(spark, root, base, head1)
    assert(feed.filter(col("_change_type") === "delete").count() === r.deletedRows)
    assert(feed.filter(col("_change_type") === "insert").count() === 0)
    // a compaction is DATA-PRESERVING: a feed whose range holds only the
    // replace (its merged changes all precede the range) crosses it
    // emitting nothing...
    while (Compaction.compact(spark, root).isDefined) ()
    val head2 = committer.load().get.currentSnapshotId.get
    assert(head2 !== head1)
    assert(EventTable.changesBetween(spark, root, head1, head2).count() === 0L,
      "a consumed-range compaction must cross emitting nothing")
    // ...but a range still NEEDING the files the compaction physically
    // deleted (the delete commit's parent-live resolution) refuses loudly
    val ex = intercept[IllegalStateException] {
      EventTable.changesBetween(spark, root, base, head2)
    }
    assert(ex.getMessage.contains("compacted away"), ex.getMessage.take(300))
    // an expired base refuses NAMING THE RECOVERY POINT (the lag guard):
    // a consumer that outlived retention must learn where to restart
    committer.expireSnapshots(keepLast = 1)
    val lag = intercept[IllegalStateException] {
      EventTable.changesBetween(spark, root, base, head2)
    }
    assert(lag.getMessage.contains("history expired") &&
           lag.getMessage.contains("restart from snapshot"), lag.getMessage.take(300))
  }

  test("a user tag keeps its snapshot readable across compaction's eager delete") {
    val root = TestSpark.tempDir("graft-tagcomp-").toString
    val c = EventTable.ingestAndCommit(spark, "/root/testdata/sf0.001", root, fragmentInto = Some(8))
    val base     = c.load().get.currentSnapshotId.get
    val baseRows = EventTable.readCommitted(spark, root).count()
    c.createTag("audit", base)
    val batch = graft.table.TailBatch.of(EventTable.readCommitted(spark, root),
                                         n = 5, maxPart = 2, kShift = Some(246000L), prefix = "k")
    EventTable.appendBatch(spark, root, batch)
    while (Compaction.compact(spark, root).isDefined) ()
    // eager delete skipped the tagged snapshot's files: it reads IN FULL
    assert(EventTable.readCommitted(spark, root, atSnapshot = Some(base)).count() === baseRows,
      "a tagged snapshot must survive compaction's eager physical delete")
    assert(EventTable.readCommitted(spark, root).count() === baseRows + 10)
    // dropping the tag lapses the protection; expire GCs the files
    c.dropTag("audit")
    val expired = c.expireSnapshots(keepLast = 1)
    assert(expired.contains(base))
    intercept[Exception] {
      EventTable.readCommitted(spark, root, atSnapshot = Some(base)).count()
    }
  }

  test("delete-ratio trigger selects a delete-heavy file the size rules never would") {
    val root = TestSpark.tempDir("graft-ratio-spec-").toString
    // NO fragmentation: one file per partition dir — below minFilesPerGroup,
    // so the size-based rules can never pick anything
    EventTable.ingestAndCommit(spark, "/root/testdata/sf0.001", root)
    val committer  = new IcebergCommitter(new LocalTableIO(root), EventTable.Topic)
    val rowsBefore = EventTable.readCommitted(spark, root).count()
    // tombstone ~half of partition 3's rows — far past the 30% trigger
    val r = EventTable.deleteWhereMor(spark, root,
      col("partition") === 3 && col("sequence") % 2 === 0)
    assert(r.deletedRows > 0)
    assert(committer.activeDeleteFiles().size === 1)
    // a size-only config finds nothing (candidates under min group size);
    // the ratio trigger must still select the delete-heavy partition-3 file
    val res = Compaction.compact(spark, root)
    assert(res.isDefined, "the delete-ratio trigger must fire for a mostly-tombstoned file")
    assert(committer.activeDeleteFiles().isEmpty,
      "folding the single delete-heavy file must retire its delete file")
    assert(EventTable.readCommitted(spark, root).count() === rowsBefore - r.deletedRows)
    assert(EventTable.readCommitted(spark, root)
      .filter(col("partition") === 3 && col("sequence") % 2 === 0).count() === 0)
    // untouched partitions kept their identity (only partition 3 rewritten)
    assert(Compaction.compact(spark, root).isEmpty, "nothing left to trigger")
    // an under-threshold table does NOT fire: mask a sliver of partition 2
    val r2 = EventTable.deleteWhereMor(spark, root,
      col("partition") === 2 && col("sequence") % 50 === 1)
    assert(r2.deletedRows > 0)
    assert(Compaction.compact(spark, root).isEmpty,
      "a 2% tombstone ratio must not trigger a rewrite")
  }

  test("merge-on-read delete masks rows without rewriting files; compaction folds the delete files in") {
    val root = TestSpark.tempDir("graft-mor-spec-").toString
    // 32 fragments → every partition dir qualifies as a compaction group
    // (≥3 files), so the fold loop can eventually cover every live
    // reference of the partition-spanning delete file
    EventTable.ingestAndCommit(spark, "/root/testdata/sf0.001", root, fragmentInto = Some(32))
    val committer  = new IcebergCommitter(new LocalTableIO(root), EventTable.Topic)
    val before     = committer.activeDataFiles().map(f => f.filePath -> f.fileSizeInBytes).toSet
    val rowsBefore = EventTable.readCommitted(spark, root).count()

    // pass 1: everything in one log partition; pass 2: a scattered slice —
    // two delete files, overlapping file coverage
    val r1 = EventTable.deleteWhereMor(spark, root, col("partition") === 3)
    val r2 = EventTable.deleteWhereMor(spark, root, col("sequence") % 10 === 7)
    assert(r1.deletedRows > 0 && r2.deletedRows > 0)
    assert(committer.activeDataFiles().map(f => f.filePath -> f.fileSizeInBytes).toSet === before,
      "merge-on-read must leave every data file byte-identical")
    assert(committer.activeDeleteFiles().size === 2)
    val masked = rowsBefore - r1.deletedRows - r2.deletedRows
    assert(EventTable.readCommitted(spark, root).count() === masked)
    assert(EventTable.readCommitted(spark, root).filter(col("partition") === 3).count() === 0)
    // a re-delete of already-masked rows is a no-op (no commit, no file)
    val versionBefore = committer.currentVersion()
    val noop = EventTable.deleteWhereMor(spark, root, col("partition") === 3)
    assert(noop.deletedRows === 0 && noop.snapshotId.isEmpty)
    assert(committer.currentVersion() === versionBefore)
    // copy-on-write ops refuse to run over unfolded deletes (resurrection)
    intercept[IllegalArgumentException] {
      EventTable.deleteWhere(spark, root, col("partition") === 2)
    }

    // compaction FOLDS: deletes applied to the rewrite, delete files
    // removed from the table and from disk, masked rows stay gone
    while (Compaction.compact(spark, root).isDefined) ()
    assert(committer.activeDeleteFiles().isEmpty,
      "a full compaction must fold and remove every delete file")
    assert(EventTable.readCommitted(spark, root).count() === masked,
      "folding must not resurrect masked rows")
    assert(EventTable.readCommitted(spark, root).filter(col("sequence") % 10 === 7).count() === 0)
    // physical reconciliation: no delete parquet left on disk
    assert(EventTable.listParquet(root).size === committer.activeDataFiles().size)
    // and the folded table is CoW-operable again
    val cow = EventTable.deleteWhere(spark, root, col("partition") === 2)
    assert(cow.deletedRows > 0)
  }

  test("equality delete tombstones by key without scanning; compaction folds by sequence-number scope") {
    import org.apache.spark.sql.functions.lit
    val root = TestSpark.tempDir("graft-eqdel-spec-").toString
    EventTable.ingestAndCommit(spark, "/root/testdata/sf0.001", root, fragmentInto = Some(32))
    val committer  = new IcebergCommitter(new LocalTableIO(root), EventTable.Topic)
    val before     = committer.activeDataFiles().map(f => f.filePath -> f.fileSizeInBytes).toSet
    val rowsBefore = EventTable.readCommitted(spark, root).count()

    val keys = EventTable.readCommitted(spark, root)
      .filter(col("sequence") % 7 === 2).select("partition", "sequence")
    val r = EventTable.deleteWhereEq(spark, root, keys)
    assert(r.keys > 0 && r.deleteFiles === 1)
    assert(committer.activeDataFiles().map(f => f.filePath -> f.fileSizeInBytes).toSet === before,
      "equality delete must not touch any data file")
    assert(EventTable.readCommitted(spark, root).count() === rowsBefore - r.keys)
    assert(EventTable.readCommitted(spark, root).filter(col("sequence") % 7 === 2).count() === 0)
    // a key above the partition watermark would tombstone a FUTURE append —
    // refused loudly, never committed. The check folds executor-side (a
    // fat CDC batch never transits the driver) but the refusal still
    // NAMES offenders from the limit(5) sample.
    val exWm = intercept[IllegalArgumentException] {
      EventTable.deleteWhereEq(spark, root,
        spark.range(1).select(lit(0).as("partition"), lit(99999999L).as("sequence")))
    }
    assert(exWm.getMessage.contains("watermark") && exWm.getMessage.contains("99999999"),
      s"the refusal must name the offending key: ${exWm.getMessage.take(200)}")
    assert(committer.activeDeleteFiles().size === 1)

    // folding: rewrites apply the keys; the file is removed once no live
    // data file predates it (the data-sequence-number scope)
    while (Compaction.compact(spark, root).isDefined) ()
    assert(committer.activeDeleteFiles().isEmpty,
      "a full compaction must fold the equality-delete file")
    assert(EventTable.readCommitted(spark, root).count() === rowsBefore - r.keys,
      "folding must not resurrect tombstoned rows")
    assert(EventTable.listParquet(root).size === committer.activeDataFiles().size)
  }

  test("copy-on-write merge updates matched payloads, appends inserts, leaves unmatched files alone") {
    import org.apache.spark.sql.functions.expr
    import spark.implicits._
    val root = TestSpark.tempDir("graft-merge-spec-").toString
    EventTable.ingestAndCommit(spark, "/root/testdata/sf0.001", root, fragmentInto = Some(16))
    val committer  = new IcebergCommitter(new LocalTableIO(root), EventTable.Topic)
    val before     = committer.activeDataFiles().map(_.filePath).toSet
    val rowsBefore = EventTable.readCommitted(spark, root).count()
    val wmBefore   = committer.summaryWatermarks()
    val wm5        = wmBefore(5)

    val updates = Seq(
      (0, 1L, 111L, """{"k": 777}""", "u1"), // matched → payload replaced
      (0, 2L, 112L, """{"k": 778}""", "u2"),
      (5, wm5 + 1, 113L, """{"k": -1}""", "m1"), // beyond watermark → inserted
      (5, wm5 + 2, 114L, """{"k": -2}""", "m2"))
      .toDF("partition", "sequence", "timestamp_ms", "payload", "idempotency_key")
      .withColumn("payload", col("payload").cast("binary"))
    val res = EventTable.mergeUpsert(spark, root, updates)
    assert(res.updatedRows === 2 && res.insertedRows === 2)
    assert(res.rewrittenFiles > 0 && res.untouchedFiles > 0 && res.snapshotId.nonEmpty)

    // files of partitions the merge never touched keep their identity
    val after = committer.activeDataFiles().map(_.filePath).toSet
    assert(before.filterNot(p => p.contains("partition=0") || p.contains("partition=5"))
      .subsetOf(after), "files without matches must keep their identity")
    assert(EventTable.listParquet(root).size === after.size, "replaced files physically gone")

    val table = EventTable.readCommitted(spark, root)
    assert(table.count() === rowsBefore + 2)
    val got = table.filter(col("partition") === 0 && col("sequence") <= 2)
      .select(col("sequence"), expr("cast(payload as string)").as("p")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) === """{"k": 777}""" && got(2L) === """{"k": 778}""")
    // inserted rows are readable at the partition tail
    assert(table.filter(col("partition") === 5 && col("sequence") > wm5).count() === 2)

    // watermarks: only the inserted-into partition advances; F7 and F9 agree
    val wmAfter = committer.summaryWatermarks()
    assert(wmAfter(5) === wm5 + 2)
    assert(wmAfter.filterNot(_._1 == 5) === wmBefore.filterNot(_._1 == 5))
    assert(committer.maxCommittedSequencePerPartition()(5) === wm5 + 2)

    // guard rails: duplicate batch keys and below-watermark inserts must refuse
    val dup = updates.unionByName(updates.limit(1))
    assertThrows[IllegalArgumentException](EventTable.mergeUpsert(spark, root, dup))
    // a sequence inside the committed range whose row was deleted is BURNED:
    // re-inserting it would corrupt F9's max-sequence recovery, so it refuses
    EventTable.deleteWhere(spark, root, col("partition") === 3 && col("sequence") === 1L)
    val resurrect = Seq((3, 1L, 99L, """{"k": 0}""", "b2"))
      .toDF("partition", "sequence", "timestamp_ms", "payload", "idempotency_key")
      .withColumn("payload", col("payload").cast("binary"))
    assertThrows[IllegalArgumentException](EventTable.mergeUpsert(spark, root, resurrect))
    // ...including the TOP sequence: deleting it lowers the FILE bounds
    // but never the summary watermark, so only the summary-merged guard
    // refuses the resurrection
    val wm3 = wmBefore(3)
    EventTable.deleteWhere(spark, root, col("partition") === 3 && col("sequence") === wm3)
    val resurrectTop = Seq((3, wm3, 99L, """{"k": 0}""", "b3"))
      .toDF("partition", "sequence", "timestamp_ms", "payload", "idempotency_key")
      .withColumn("payload", col("payload").cast("binary"))
    assertThrows[IllegalArgumentException](EventTable.mergeUpsert(spark, root, resurrectTop))
    assertThrows[IllegalArgumentException](EventTable.appendBatch(spark, root, resurrectTop))

    // an empty batch is a no-op: no new snapshot, nothing rewritten
    val versionBefore = committer.currentVersion()
    val noop = EventTable.mergeUpsert(spark, root, updates.limit(0))
    assert(noop.updatedRows === 0 && noop.insertedRows === 0 && noop.snapshotId.isEmpty)
    assert(committer.currentVersion() === versionBefore)
  }

  test("compaction of a schema-EVOLVED table keeps the added column (projected rewrite)") {
    val root = TestSpark.tempDir("graft-compact-evo-").toString
    val log  = graft.core.EventLog.log(spark, "/root/testdata/sf0.001")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val half = log.agg(org.apache.spark.sql.functions.max("event_id")).head().getLong(0) / 2
    val cfg1 = graft.extract.TableSchemaConfig(fields = Seq(graft.extract.FieldSpec("k", "k", "Int32")))
    val cfg2 = graft.extract.TableSchemaConfig(fields = Seq(
      graft.extract.FieldSpec("k", "k", "Int32"), graft.extract.FieldSpec("k_str", "k", "Utf8")))
    // both halves fragmented so compaction has mixed-schema candidate groups
    EventTable.appendExtracted(spark, log.filter(s"event_id <= $half"), root, cfg1, fragmentInto = Some(16))
    EventTable.appendExtracted(spark, log.filter(s"event_id > $half"), root, cfg2, fragmentInto = Some(16))
    log.unpersist()

    val before    = EventTable.readCommittedProjected(spark, root)
    val nBefore   = before.count()
    val kStrBefore = before.filter(col("k_str").isNotNull).count()
    assert(kStrBefore > 0)

    while (Compaction.compact(spark, root).isDefined) ()

    val after = EventTable.readCommittedProjected(spark, root)
    assert(after.count() === nBefore)
    // a footer-inferred rewrite would have dropped k_str from mixed groups
    assert(after.filter(col("k_str").isNotNull).count() === kStrBefore)
  }

  test("empty and non-empty projected reads return the identical StructType") {
    // The empty branch once derived nullability from metadata required
    // flags while the non-empty branch hardcoded nullable=true — the
    // same table must present one schema regardless of row count.
    val root = TestSpark.tempDir("graft-proj-schema-").toString
    EventTable.ingestAndCommit(spark, "/root/testdata/sf0.001", root)
    val nonEmpty = EventTable.readCommittedProjected(spark, root).schema
    val empty    = EventTable.readCommittedProjected(spark, root, Seq.empty).schema
    assert(empty === nonEmpty)
  }

  test("C3 rollback: a concurrent commit aborts compaction and removes rewrites") {
    val root = TestSpark.tempDir("graft-compact-conflict-").toString
    EventTable.ingestAndCommit(spark, "/root/testdata/sf0.001", root, fragmentInto = Some(32))
    val committer  = new IcebergCommitter(new LocalTableIO(root), EventTable.Topic)
    val rowsBefore = EventTable.readCommitted(spark, root).count()
    val active     = committer.activeDataFiles().map(_.filePath).toSet

    intercept[CommitConflict] {
      Compaction.compact(
        spark, root,
        beforeCommit = () => {
          // another writer lands an (empty) append between selection and commit
          committer.commitAppend(Nil)
          ()
        }
      )
    }
    // active set unchanged, rewritten orphans physically removed
    assert(committer.activeDataFiles().map(_.filePath).toSet === active)
    assert(EventTable.listParquet(root).toSet === active)
    assert(EventTable.readCommitted(spark, root).count() === rowsBefore)
  }

  test("C3 rollback never fires past the commit: a post-commit failure keeps the new files") {
    // the r19-advice hazard: an IllegalArgumentException surfacing AFTER
    // commitReplace (tag resolution, an eager-delete refusal) must NOT
    // trigger the orphan rollback — at that point the rewritten files are
    // data files of a COMMITTED snapshot and deleting them corrupts the
    // table. The exception still propagates.
    val root = TestSpark.tempDir("graft-compact-postfail-").toString
    EventTable.ingestAndCommit(spark, "/root/testdata/sf0.001", root, fragmentInto = Some(32))
    val committer  = new IcebergCommitter(new LocalTableIO(root), EventTable.Topic)
    val rowsBefore = EventTable.readCommitted(spark, root).count()
    val baseBefore = committer.load().get.currentSnapshotId.get
    val err = intercept[IllegalArgumentException] {
      Compaction.compact(spark, root,
        afterCommit = () => throw new IllegalArgumentException("post-commit tail failure"))
    }
    assert(err.getMessage.contains("post-commit tail failure"))
    // the replace snapshot LANDED and every row survives — nothing deleted
    assert(committer.load().get.currentSnapshotId.get !== baseBefore,
      "the replace snapshot must stay committed")
    assert(EventTable.readCommitted(spark, root).count() === rowsBefore,
      "a post-commit failure must not delete committed data files")
  }

  test("MoR CAS: a foreign commit between delete derivation and commit aborts and cleans up") {
    // positions (and eq keys) derive from a snapshot; a foreign commit in
    // between must fail the delete commit (a compaction would renumber
    // positions) and leave NO delete parquet behind — the compaction
    // rollback discipline applied to the delete path. The engine has no
    // beforeCommit hook here, so race the CAS directly: derive the base,
    // land a foreign commit, then commitDeletes against the stale base.
    val root = TestSpark.tempDir("graft-mor-cas-").toString
    EventTable.ingestAndCommit(spark, "/root/testdata/sf0.001", root, fragmentInto = Some(16))
    val committer = new IcebergCommitter(new LocalTableIO(root), EventTable.Topic)
    val staleBase = committer.load().get.currentSnapshotId.get
    committer.commitAppend(Nil) // the foreign commit
    val ghost = DataFile(1, "data/deletes/ghost.parquet", "PARQUET", 1L, 10L, Map.empty, Map.empty)
    intercept[CommitConflict] { committer.commitDeletes(Seq(ghost), staleBase) }
    assert(committer.activeDeleteFiles().isEmpty, "a conflicted delete must not land")
    // and compaction racing a delete commit aborts + removes its rewrites
    val r = EventTable.deleteWhereMor(spark, root, col("sequence") % 11 === 5)
    assert(r.deletedRows > 0)
    val rowsMasked = EventTable.readCommitted(spark, root).count()
    val active     = committer.activeDataFiles().map(_.filePath).toSet
    intercept[CommitConflict] {
      Compaction.compact(spark, root, beforeCommit = () => { committer.commitAppend(Nil); () })
    }
    assert(committer.activeDataFiles().map(_.filePath).toSet === active)
    assert(committer.activeDeleteFiles().nonEmpty, "the losing compaction must not fold the deletes")
    assert(EventTable.readCommitted(spark, root).count() === rowsMasked,
      "masked rows stay masked through the aborted fold")
  }

  test("C4: an extracted-schema table compacts and keeps its typed columns") {
    val root = TestSpark.tempDir("graft-compact-extracted-").toString
    val cfg  = graft.extract.ExtractQueries.config
    EventTable.ingestAndCommitExtracted(spark, "/root/testdata/sf0.001", root, cfg, fragmentInto = Some(32))
    val sumBefore = EventTable.readCommitted(spark, root).agg(org.apache.spark.sql.functions.sum("k")).head().getLong(0)
    while (Compaction.compact(spark, root).isDefined) ()
    val after = EventTable.readCommitted(spark, root)
    assert(after.columns.contains("k") && after.columns.contains("_payload_overflow"))
    assert(!after.columns.contains("payload"))
    assert(after.agg(org.apache.spark.sql.functions.sum("k")).head().getLong(0) === sumBefore)
    // committed Iceberg schema carries the extraction field IDs
    val meta = new IcebergCommitter(new LocalTableIO(root), EventTable.Topic).load().get
    assert(meta.schemas.head.fields.exists(f => f.name == "k" && f.id === graft.iceberg.FieldIds.ExtractedStart))
    assert(meta.schemas.head.fields.exists(f => f.name == "_payload_overflow" && f.id === graft.iceberg.FieldIds.PayloadOverflow))
    assert(!meta.schemas.head.fields.exists(_.name == "payload"))
  }

  test("DELETE keeps rows whose predicate evaluates NULL (SQL three-valued semantics)") {
    import org.apache.spark.sql.functions.{concat, expr, get_json_object, lit, when}
    val root = TestSpark.tempDir("graft-delete-null-").toString
    // every 13th event's payload loses its `$.k` key → predicate is NULL there
    EventTable.ingestAndCommit(spark, "/root/testdata/sf0.001", root, fragmentInto = Some(8),
      mapLog = _.withColumn("props",
        when(expr("event_id % 13 = 0"),
             concat(lit("{\"nk\": "), get_json_object(col("props"), "$.k"), lit("}")))
          .otherwise(col("props"))))
    val kOf = expr("cast(get_json_object(cast(payload as string), '$.k') as int)")
    val before     = EventTable.readCommitted(spark, root)
    val nullKeyed  = before.filter(kOf.isNull).count()
    val matched    = before.filter(kOf % 7 === 0).count()
    assert(nullKeyed > 0 && matched > 0)

    val res = EventTable.deleteWhere(spark, root, kOf % 7 === 0)
    assert(res.deletedRows === matched, "count must use the same coalesced predicate as the filter")

    val after = EventTable.readCommitted(spark, root)
    assert(after.filter(kOf.isNull).count() === nullKeyed, "NULL-predicate rows must survive a DELETE")
    assert(after.filter(kOf % 7 === 0).count() === 0)
  }

  test("DELETE with a predicate over a schema-EVOLVED column resolves for pre-evolution files") {
    val root = TestSpark.tempDir("graft-delete-evo-").toString
    val log  = graft.core.EventLog.log(spark, "/root/testdata/sf0.001")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val half = log.agg(org.apache.spark.sql.functions.max("event_id")).head().getLong(0) / 2
    val cfg1 = graft.extract.TableSchemaConfig(fields = Seq(graft.extract.FieldSpec("k", "k", "Int32")))
    val cfg2 = graft.extract.TableSchemaConfig(fields = Seq(
      graft.extract.FieldSpec("k", "k", "Int32"), graft.extract.FieldSpec("k_str", "k", "Utf8")))
    EventTable.appendExtracted(spark, log.filter(s"event_id <= $half"), root, cfg1, fragmentInto = Some(4))
    EventTable.appendExtracted(spark, log.filter(s"event_id > $half"), root, cfg2, fragmentInto = Some(4))
    log.unpersist()

    val before   = EventTable.readCommittedProjected(spark, root)
    val nBefore  = before.count()
    val toDelete = before.filter(col("k_str") === "5").count()
    val nullStr  = before.filter(col("k_str").isNull).count()
    assert(toDelete > 0 && nullStr > 0)

    // pre-evolution files have no k_str in their footers: the match-count
    // scan must project against the CURRENT schema or this fails to resolve
    val res = EventTable.deleteWhere(spark, root, col("k_str") === "5")
    assert(res.deletedRows === toDelete)

    val after = EventTable.readCommittedProjected(spark, root)
    assert(after.count() === nBefore - toDelete)
    assert(after.filter(col("k_str").isNull).count() === nullStr, "old-file rows (NULL k_str) survive")
    assert(after.filter(col("k_str") === "5").count() === 0)
  }

  test("DELETE still rewrites when the table root contains URI-hostile characters") {
    val root = TestSpark.tempDir("graft delete spec ").toString // space in path
    EventTable.ingestAndCommit(spark, "/root/testdata/sf0.001", root, fragmentInto = Some(8))
    val rowsBefore = EventTable.readCommitted(spark, root).count()
    val res = EventTable.deleteWhere(spark, root, col("partition") === 3)
    assert(res.deletedRows > 0 && res.rewrittenFiles > 0,
           "percent-encoded input_file_name must still match manifest paths")
    assert(EventTable.readCommitted(spark, root).count() === rowsBefore - res.deletedRows)
  }

  test("fragmented and compacted tables agree with the directly ingested table") {
    val rootA = TestSpark.tempDir("graft-compare-a-").toString
    val rootB = TestSpark.tempDir("graft-compare-b-").toString
    EventTable.ingestAndCommit(spark, "/root/testdata/sf0.001", rootA)
    EventTable.ingestAndCommit(spark, "/root/testdata/sf0.001", rootB, fragmentInto = Some(32))
    while (Compaction.compact(spark, rootB).isDefined) ()
    val a = EventTable.readCommitted(spark, rootA).select("partition", "sequence", "timestamp_ms")
    val b = EventTable.readCommitted(spark, rootB).select("partition", "sequence", "timestamp_ms")
    assert(a.exceptAll(b).count() === 0L)
    assert(b.exceptAll(a).count() === 0L)
  }

  private def events(part: Int, n: Int, tag: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    (1 to n).map(i => (part, s"$tag-$i", 1700000000000L + i, s"$tag-$part-$i"))
      .toDF("partition", "payload", "timestamp_ms", "idempotency_key")
  }

  test("a deleted top sequence stays burned: the next append does not reuse it") {
    import graft.streaming.StreamIngest
    val root = TestSpark.tempDir("graft-burned-top-").toString
    StreamIngest.appendEvents(spark, root, events(0, 20, "a"))
    val del = EventTable.deleteWhere(spark, root, col("sequence") === 20)
    assert(del.deletedRows === 1)
    StreamIngest.appendEvents(spark, root, events(0, 1, "b"))
    val seqs = EventTable.readCommitted(spark, root).filter(col("payload").cast("string") === "b-1")
      .select("sequence").collect().map(_.getLong(0))
    assert(seqs.toSeq === Seq(21L), "sequence 20 was deleted, so it is burned, not free")
  }

  test("an old equality tombstone never masks an acknowledged append after a partial fold") {
    import graft.streaming.StreamIngest
    import org.apache.spark.sql.functions.lit
    val root = TestSpark.tempDir("graft-burned-eq-").toString
    for (r <- 1 to 3) StreamIngest.appendEvents(spark, root, events(0, 10, s"p0r$r").union(events(1, 10, s"p1r$r")))
    val committer = new IcebergCommitter(new LocalTableIO(root), EventTable.Topic)
    EventTable.deleteWhereEq(spark, root, spark.range(1)
      .select(lit(0).as("partition"), lit(30L).as("sequence"))
      .union(spark.range(1).select(lit(1).as("partition"), lit(5L).as("sequence"))))
    val p0Files = committer.activeDataFiles().count(_.lowerInt(FieldIds.Partition).contains(0))
    assert(Compaction.compact(spark, root, Compaction.Config(maxFilesPerRun = p0Files)).isDefined)
    // partition 0 folded, partition 1 still predates the tombstone
    assert(committer.activeDeleteFiles().nonEmpty)
    assert(EventTable.watermarksOf(committer.activeDataFiles()).get(0).contains(29L))
    assert(committer.maxCommittedSequencePerPartition().get(0).contains(30L))
    StreamIngest.appendEvents(spark, root, events(0, 1, "late"))
    val late = EventTable.readCommitted(spark, root).filter(col("payload").cast("string") === "late-1")
      .select("sequence").collect().map(_.getLong(0))
    assert(late.toSeq === Seq(31L))
    assert(EventTable.readCommitted(spark, root).filter(col("partition") === 0).count() === 30)
    assert(spark.read.format("graft").load(root).filter(col("partition") === 0).count() === 30)
  }
}
