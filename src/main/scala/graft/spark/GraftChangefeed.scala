package graft.spark

import graft.table.EventTable
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** STREAMING CDC source: `spark.readStream.format("graft")
  * .option("changefeed", "true").load(root)` — the committed table as a
  * continuous feed of `_change_type` ∈ {insert, delete} rows, one
  * micro-batch per snapshot range, with the exact per-snapshot resolution
  * of the batch changefeed ([[EventTable.changesBetween]] / tt3):
  *
  *  - offsets are SNAPSHOT IDS (the same exactly-once cursor as the
  *    append-tail stream): each batch covers the parent-chain range
  *    (from, to], checkpointed like any structured stream;
  *  - an APPEND snapshot contributes its added files' rows as inserts;
  *  - a merge-on-read DELETE snapshot contributes the rows its new delete
  *    files masked, resolved against the parent's LIVE set (prior masks
  *    excluded; a row matched by both of the commit's delete kinds emits
  *    once);
  *  - a manifest REWRITE contributes nothing, and so does a
  *    DATA-PRESERVING replace (`zombi.data-preserving`: compaction / MoR
  *    fold — live row set identical), provided it only merged files whose
  *    changes precede the range ([[EventTable.validateFeedRange]]) — so a
  *    checkpointed feed SURVIVES the maintenance clock's vacuums;
  *  - any other REPLACE (CoW rewrite changes rows) fails the batch
  *    LOUDLY — a file diff cannot represent it — as does a range crossing
  *    expire-truncated history (the parent-chain walk hits an unknown
  *    snapshot), so the stream never silently skips or duplicates changes.
  *
  * `option("fromSnapshot", id)` starts the feed AFTER snapshot `id`
  * (exclusive); `option("fromTimestamp", epochMs)` resolves the newest
  * HEAD ANCESTOR committed strictly before the timestamp (so every commit
  * at or after it is delivered) — if expiry already truncated history
  * past the timestamp, the feed refuses naming the oldest retained
  * snapshot as the recovery point, never silently starts late. Without
  * either option the feed starts at the head observed at query start
  * (changes since stream start). An empty table starts at −1 and the
  * first committed snapshot's chain emits from table creation. A range
  * walk that hits expired history mid-stream (a consumer lagging past
  * the maintenance clock's retention) fails the same loud way, naming
  * the restart point.
  *
  * Scale shape: a batch reads only the files the range's commits added
  * (inserts) plus the parent-live files of each delete commit, with
  * masks resolved from the cached driver mask index — consumers tail
  * SMALL ranges per trigger, never a re-scan of the table. */
final class GraftChangefeedTable(tableRoot: String, tableSchema: StructType,
                                 fromSnapshot: Option[Long],
                                 fromTimestampMs: Option[Long] = None) extends Table with SupportsRead {
  override def name(): String = s"graft-changefeed:$tableRoot"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftChangefeedScanBuilder(tableRoot, tableSchema, fromSnapshot, fromTimestampMs)
}

final class GraftChangefeedScanBuilder(tableRoot: String, tableSchema: StructType,
                                       fromSnapshot: Option[Long],
                                       fromTimestampMs: Option[Long])
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = tableSchema
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
  override def build(): Scan =
    new GraftChangefeedScan(tableRoot, required, fromSnapshot, fromTimestampMs)
}

final class GraftChangefeedScan(tableRoot: String, required: StructType,
                                fromSnapshot: Option[Long],
                                fromTimestampMs: Option[Long]) extends Scan {
  override def readSchema(): StructType = required
  override def description(): String = s"GraftChangefeedScan $tableRoot"
  override def toMicroBatchStream(checkpointLocation: String):
      org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftChangefeedStream(tableRoot, required, fromSnapshot, fromTimestampMs)
}

final class GraftChangefeedStream(protected val tableRoot: String, required: StructType,
                                  fromSnapshot: Option[Long],
                                  fromTimestampMs: Option[Long] = None) extends SnapshotOffsets {
  // validated at CONSTRUCTION, not in initialOffset: Spark only calls
  // initialOffset when no checkpoint exists, so a resumed query carrying
  // conflicting start options would otherwise silently ignore them — the
  // loud-refusal contract applies regardless of checkpoint state
  require(fromSnapshot.isEmpty || fromTimestampMs.isEmpty,
    "changefeed options fromSnapshot and fromTimestamp are mutually exclusive")

  override def initialOffset(): org.apache.spark.sql.connector.read.streaming.Offset = {
    // a named base must exist NOW — failing at first plan would bury the
    // refusal behind a checkpointed −1
    fromSnapshot.foreach { id =>
      val meta = committer.load().getOrElse(
        throw new IllegalArgumentException(s"changefeed fromSnapshot=$id but $tableRoot has no metadata"))
      require(meta.snapshots.exists(_.snapshotId == id),
        s"changefeed fromSnapshot=$id is not a known snapshot of $tableRoot (expired?)")
    }
    val from = fromSnapshot
      .orElse(fromTimestampMs.map(resolveFromTimestamp))
      .getOrElse(headOffset().snapshotId)
    GraftOffset(from)
  }

  /** The newest HEAD ANCESTOR committed strictly before `ts` — so the feed
    * delivers every commit at or after the timestamp. Ancestry (not the
    * snapshot list) guarantees the (from, head] walk resolves even across
    * rollback-abandoned branches. When expiry already truncated history
    * past `ts`, refuse naming the recovery point — a feed that silently
    * started late would be missing changes its consumer believes it has. */
  private def resolveFromTimestamp(ts: Long): Long = {
    val meta = committer.load().getOrElse(throw new IllegalArgumentException(
      s"changefeed fromTimestamp=$ts but $tableRoot has no metadata"))
    val head  = meta.currentSnapshotId.getOrElse(return -1L)
    val chain = committer.ancestors(meta, head).toSeq
    chain.find(_.timestampMs < ts).map(_.snapshotId).getOrElse {
      if (chain.lastOption.flatMap(_.parentSnapshotId).isDefined) {
        val oldest = chain.last
        throw new IllegalStateException(
          s"changefeed history before ${oldest.timestampMs} is expired — cannot start from " +
            s"fromTimestamp=$ts; restart from snapshot ${oldest.snapshotId} (or a full read)")
      }
      -1L // every retained ancestor is at or after ts: from table creation
    }
  }
  override def stop(): Unit = ()

  override def planInputPartitions(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      end: org.apache.spark.sql.connector.read.streaming.Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[GraftOffset].snapshotId
    val to   = end.asInstanceOf[GraftOffset].snapshotId
    // metadata unreadable mid-stream: planning "empty" would advance the
    // checkpoint silently — fail the batch, the stream retries
    if (to == -1L && from != -1L)
      throw new IllegalStateException(
        s"table $tableRoot metadata unreadable while the checkpoint holds snapshot $from")
    if (to == -1L || from == to) return Array.empty[InputPartition]

    val meta = committer.load().getOrElse(throw new IllegalStateException(
      s"table $tableRoot metadata unreadable while planning changefeed $from -> $to"))
    // the checkpointed END of a replayed batch can itself have expired
    // while the stream was down — validate it BEFORE the walk, or the
    // lag guard's own recovery-point resolution would crash on it
    if (!meta.snapshots.exists(_.snapshotId == to)) {
      val recovery = meta.currentSnapshotId
        .map(h => committer.oldestRetainedAncestorOf(meta, h))
        .map(r => s"snapshot ${r.snapshotId} (history before ${r.timestampMs} is expired) or ")
        .getOrElse("")
      throw new IllegalStateException(
        s"changefeed history expired: end snapshot $to of range ($from, $to] is no longer " +
          s"in metadata — restart from ${recovery}a full read")
    }
    // from = -1 walks to table creation; validation admits DATA-PRESERVING
    // replaces (compaction/MoR folds), which contribute nothing below, so
    // a checkpointed feed survives the maintenance clock's vacuums
    val ordered      = EventTable.feedRange(committer, meta, from, to)
    val deleteInputs = EventTable.validateFeedRange(committer, meta, ordered, from, to)

    val spark = org.apache.spark.sql.SparkSession.active
    val parts = scala.collection.mutable.ArrayBuffer.empty[InputPartition]
    ordered.filterNot(EventTable.feedSkips).foreach { s =>
      s.summary.getOrElse("operation", "append") match {
        case "append" =>
          committer.entriesOf(meta, s.snapshotId)
            .filter(e => e.status == 1 && e.snapshotId == s.snapshotId)
            .foreach(e => parts += GraftInputPartition(tableRoot, e.dataFile.filePath,
              changeType = Some("insert")))
        case "delete" =>
          val inputs = deleteInputs(s.snapshotId) // resolved once, in validation
          val newDels     = inputs.newDels
          val parentFiles = inputs.parentFiles
          if (newDels.nonEmpty && parentFiles.nonEmpty) {
            val priorDels = EventTable.pruneDeleteFiles(parentFiles, inputs.parentDeletes)
            // INLINE-TIER ONLY, on purpose: the batch scan escalates
            // inline -> broadcast at inlineMaskRows, but a streaming batch
            // has no clean broadcast lifecycle per trigger (one leak per
            // delete commit otherwise), and planInputPartitions holds every
            // per-file slice at once — so past the inline tier the right
            // answer is a fold (the auto-maintenance clock's job) + a full
            // re-read, refused loudly here rather than shipped as
            // hundreds of MB of task binaries.
            val totalRows = (newDels ++ priorDels).map(_.recordCount).sum
            require(totalRows <= GraftScan.inlineMaskCap(spark),
              s"changefeed delete snapshot ${s.snapshotId} resolves $totalRows mask rows " +
                s"(> inline cap ${GraftScan.inlineMaskCap(spark)}): the delete commit " +
                "predates a fold — vacuum the table and replay from a full read instead")
            // both mask sets ride the cached driver index reads; the prior
            // masks drop rows already dead at the parent, this commit's
            // masks keep exactly the rows it deleted
            val (dropPosBy, dropEqBy) = GraftScan.deleteMasksFor(tableRoot, priorDels)
            val (keepPosBy, keepEqBy) = GraftScan.deleteMasksFor(tableRoot, newDels)
            parentFiles.foreach { f =>
              val hit = GraftScan.maskedPartition(tableRoot, f, keepPosBy, keepEqBy)
              // a parent file none of this commit's masks touch emits nothing
              if (hit.delPositions.nonEmpty || hit.eqSeqs.nonEmpty)
                parts += GraftScan.maskedPartition(tableRoot, f, dropPosBy, dropEqBy).copy(
                  keepPositions = hit.delPositions, keepSeqs = hit.eqSeqs, changeType = Some("delete"))
            }
          }
        case other => throw new IllegalStateException( // unreachable: validated above
          s"changefeed snapshot ${s.snapshotId} has unvalidated operation '$other'")
      }
    }
    parts.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = GraftReaderFactory(required)
}
