package graft.streaming

import graft.core.EventLog
import graft.iceberg.{DataFile, IcebergCommitter, TableIO}
import graft.table.EventTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** Continuous ingestion (SURVEY §2.1 S1/S2/S5 + §2.3 F1/F5/F8/F9/F10/F12),
  * Spark-first.
  *
  * The reference's write path — HTTP bulk writes → WriteCombiner
  * micro-batcher → flusher loop → snapshot batching → watermark-after-commit
  * (`/root/reference/src/api/handlers.rs:467-707`,
  * `src/storage/combiner.rs:98-368`, `src/flusher/mod.rs:514-761,1232-1360`)
  * — maps onto Structured Streaming:
  *
  *  - a file micro-batch source IS the combiner: each trigger's batch is one
  *    atomic bulk write (S5 is free)
  *  - [[KeyedDedup]] (flatMapGroupsWithState on the keyed state store —
  *    per-executor RocksDB by default, heap-backed opt-in for TTL-bounded
  *    state) is the idempotency index: within-batch AND cross-batch dedup
  *    as keyed state, O(batch) per trigger; `foreachBatch` adds only the
  *    bloom-short-circuited join against keys committed BEFORE the stream
  *    started, then sequence continuation from the table's high watermarks
  *    (S6 seeded like the reference's AtomicU64 from the durable HWM) and
  *    the size-targeted sorted write (F2/F3)
  *  - SNAPSHOT BATCHING (F5): staged files accumulate across batches and
  *    commit only at ≥ minFiles / ≥ minBytes / ≥ maxAge, exactly the
  *    reference thresholds (`flusher/mod.rs:53-98,665-761`)
  *  - EXACTLY-ONCE (F8/F10): every staged batch writes a marker listing its
  *    files; a snapshot commit stamps `graft.batch-id-max` and deletes the
  *    markers. Files without a marker or snapshot reference are invisible
  *    orphans (same invariant as the reference's uncommitted S3 uploads).
  *    On restart, [[reconcile]] re-adopts staged-but-uncommitted batches
  *    (F9's manifest read-back plus marker replay), and a replayed batch id
  *    that is already committed or staged is skipped — so a crash at ANY
  *    point between staging and commit neither loses nor duplicates data
  *  - `finish()` is F12's flush_now: force-commit whatever is pending.
  */
final class StreamIngest(
    spark: SparkSession,
    val tableRoot: String,
    snapshotMinFiles: Int = 10,
    snapshotMinBytes: Long = 1L << 30,
    snapshotMaxAgeMs: Long = 30L * 60 * 1000,
    targetFileSize: Long = EventTable.DefaultTargetFileSize,
    dedupStateTtlMs: Option[Long] = None,
    dedupStateBackend: String = StreamIngest.RocksDbState,
    shufflePartitions: Option[Int] = None
) {
  val committer = new IcebergCommitter(TableIO.forRoot(tableRoot), EventTable.Topic)

  private val pending      = scala.collection.mutable.LinkedHashMap.empty[Long, Seq[DataFile]]
  private var pendingSince = 0L
  // metadata version the current pending group's FIRST sequences were
  // derived from — the optimistic-append CAS base (-1 = unset, e.g. for
  // marker-adopted batches whose derivation predates this instance)
  private var wmBaseVersion = -1

  reconcile()

  // ---- replay bookkeeping -------------------------------------------------

  def lastCommittedBatchId(): Long =
    committer
      .load()
      .map(_.snapshots.flatMap(_.summary.get("graft.batch-id-max").map(_.toLong)))
      .filter(_.nonEmpty)
      .map(_.max)
      .getOrElse(-1L)

  private def markerPath(batchId: Long) = s"staged/batch-$batchId.marker"

  private def stagedBatchIds(): Seq[Long] =
    committer.io
      .list("staged")
      .flatMap { p =>
        val name = p.substring(p.lastIndexOf('/') + 1)
        if (name.startsWith("batch-") && name.endsWith(".marker"))
          name.stripPrefix("batch-").stripSuffix(".marker").toLongOption
        else None
      }
      .sorted

  /** F9/F10 on startup: adopt staged-but-uncommitted batches back into the
    * pending set (their files are already on disk); drop markers of batches
    * that did commit. Data files referenced by neither are orphans and stay
    * invisible ([[graft.iceberg.OrphanGc.remove]] reclaims them).
    *
    * A marker whose data files are INCOMPLETE (e.g. a crash mid-abandon
    * deleted some files after the marker was written) is a failed stage,
    * not a recoverable one: adopting it would commit a hole, and loading
    * it would previously throw and brick startup. The batch never
    * committed, so dropping the marker plus its surviving files is safe —
    * checkpoint replay re-processes that batch id from the source. */
  def reconcile(): Unit = {
    val committedMax = lastCommittedBatchId()
    stagedBatchIds().foreach { id =>
      if (id <= committedMax) committer.io.delete(markerPath(id))
      else {
        val paths = new String(committer.io.get(markerPath(id)), "UTF-8").split('\n').filter(_.nonEmpty).toSeq
        if (paths.forall(committer.io.exists)) {
          pending.update(id, EventTable.collectDataFiles(spark, tableRoot, paths))
          if (pendingSince == 0L) pendingSince = System.currentTimeMillis()
        } else {
          paths.foreach(committer.io.delete)
          committer.io.delete(markerPath(id))
        }
      }
    }
  }

  /** Committed + pending high watermark per partition — the sequence seed. */
  def watermarks(): Map[Int, Long] = {
    val committed = committer.maxCommittedSequencePerPartition()
    val staged    = EventTable.watermarksOf(pending.values.flatten.toSeq)
    (committed.keySet ++ staged.keySet).map { p =>
      p -> math.max(committed.getOrElse(p, 0L), staged.getOrElse(p, 0L))
    }.toMap
  }

  // ---- cross-batch idempotency (S7) at scale ------------------------------
  //
  // The old shape anti-joined EVERY micro-batch against a re-scan of the
  // whole committed table — full-table IO per trigger at 100 TB. Replaced by
  // three complementary mechanisms, none of which re-reads the table:
  //
  //  1. BOOTSTRAP SNAPSHOT: keys present when this instance started, read
  //     ONCE and cached; per batch only a join against the cached side.
  //  2. BLOOM SHORT-CIRCUIT (the reference's fast path,
  //     `/root/reference/src/storage/rocksdb.rs:504-576`): a bloom filter
  //     over the bootstrap keys, broadcast to executors; rows that MISS are
  //     definitely new and bypass the exact join entirely — in the common
  //     no-duplicate case almost the whole batch skips the shuffle.
  //  3. KEYS SEEN SINCE START: in the streaming path these live in the
  //     KEYED STATE STORE ([[KeyedDedup]]) — O(batch) per
  //     trigger; in the direct-call path they are read from only the files
  //     THIS instance wrote (incremental, never the whole table).

  /** Files already in the table when this instance started (committed +
    * marker-adopted pending) — the fixed base the bootstrap snapshot covers. */
  private val bootstrapFiles: Seq[DataFile] =
    (committer.activeDataFiles() ++ pending.values.flatten).toSeq

  /** Files written by THIS instance (kept after commits clear `pending`). */
  private val sinceStartFiles = scala.collection.mutable.ArrayBuffer.empty[DataFile]

  /** The write layout, resolved ONCE per instance (not per trigger — two
    * metadata round-trips on the hot path for a value that changes only on
    * an explicit admin evolution). A mid-stream evolution is caught LOUDLY
    * by the commit-time layout/spec consistency check; restart the stream
    * to pick up the new layout. */
  private val dateLayout: Boolean = EventTable.dateLayoutOf(committer)

  /** Previous batch's post-dedup row count — the sequencing-shuffle width
    * hint for the next batch (saves a dedicated count job per trigger);
    * updated exactly from the written files' footers. */
  private var lastBatchRows: Option[Long] = None

  /** Last EXACT per-partition (rows, bytes) profile, from a two-phase
    * sequencing pass — reused as the bucketing profile by the fused
    * single-pass path (streaming batches are similar-sized; bucketing
    * granularity affects file sizes, never results). */
  private var lastStats: Option[Map[Int, (Long, Long)]] = None

  /** (cached key frame, broadcast bloom over "part:key") — built lazily so
    * the common fresh-table case pays nothing; None when the committed
    * table holds no non-null key. */
  private lazy val bootstrap: Option[(DataFrame, org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter])] =
    if (bootstrapFiles.isEmpty) None
    else {
      // Persisted PRE-PARTITIONED on the join keys: the per-trigger
      // left_anti join needs ClusteredDistribution(part_id, idempotency_key)
      // on this side, and InMemoryTableScan advertises the cached plan's
      // outputPartitioning — so every trigger reuses this one-time shuffle
      // instead of re-exchanging the (at scale, enormous) committed-keys
      // frame per micro-batch. Small tables broadcast anyway; this is for
      // the 100 TB shape where the keys side must stay shuffle-free. Null
      // keys never dedup (no equi-join match), so they are left out of both.
      val keys = EventTable
        .readCommitted(spark, tableRoot, bootstrapFiles)
        .select(col("partition").cast("int").as("part_id"), col("idempotency_key"))
        .filter(col("idempotency_key").isNotNull)
        .repartition(col("part_id"), col("idempotency_key"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      if (keys.isEmpty) { keys.unpersist(); None } // no committed key to dedup against
      else {
        val expected = math.max(1000L, bootstrapFiles.map(_.recordCount).sum)
        val bloom = keys.stat.bloomFilter(
          concat(col("part_id").cast("string"), lit(":"), col("idempotency_key")), expected, 0.01)
        Some((keys, spark.sparkContext.broadcast(bloom)))
      }
    }

  private def sinceStartKeys(): DataFrame =
    EventTable
      .readCommitted(spark, tableRoot, sinceStartFiles.toSeq)
      .select(col("partition").cast("int").as("part_id"), col("idempotency_key"))

  // ---- the batch pipeline -------------------------------------------------

  /** One micro-batch = one atomic bulk write (S2). Skips already-staged /
    * already-committed batch ids, making checkpoint replay a no-op.
    * `upstreamDeduped` marks batches that already passed [[KeyedDedup]]
    * (the streaming path): within-batch and since-start dedup are then
    * keyed-state facts and only the bootstrap join remains. */
  /** Per-phase flush timing — the reference's flush-duration histograms
    * (`/root/reference/src/metrics/registry.rs`, flusher timings); also
    * printed per batch when GRAFT_TIMING is set, for throughput triage. */
  private def timed[T](phase: String, batchId: Long)(f: => T): T = {
    val t0  = System.nanoTime()
    val out = f
    val ms  = (System.nanoTime() - t0) / 1e6
    metrics.observeMs(s"graft_flush_phase_ms_$phase", ms)
    if (sys.env.contains("GRAFT_TIMING"))
      println(f"[graft-timing] batch=$batchId $phase%-10s ${ms}%.0f ms")
    out
  }

  def processBatch(batch: DataFrame, batchId: Long, upstreamDeduped: Boolean = false): Unit = {
    if (batchId <= lastCommittedBatchId() || pending.contains(batchId)) {
      maybeCommit(force = false)
      return
    }
    val based      = if (upstreamDeduped) batch else EventLog.deduped(batch)
    val needsSince = !upstreamDeduped && sinceStartFiles.nonEmpty
    val multiPass  = bootstrap.isDefined || needsSince
    val base =
      if (multiPass) based.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) else based
    val afterBoot = bootstrap match {
      case None => base
      case Some((keysDf, bloomB)) =>
        // codegen'd bloom gate (graft.functions.BloomMightContain) — keeps
        // the widest ingest stage UDF-free inside whole-stage codegen.
        // coalesce(…, false): a NULL idempotency_key (no-dedup event) must
        // land in the not-seen branch — a null _maybe would fail BOTH
        // filters and silently drop the row.
        val tagged = base.withColumn(
          "_maybe", coalesce(graft.functions.BloomMightContain(
            bloomB, concat(col("part_id").cast("string"), lit(":"), col("idempotency_key"))),
            lit(false)))
        tagged
          .filter(!col("_maybe"))
          .drop("_maybe")
          .unionByName(
            tagged
              .filter(col("_maybe"))
              .drop("_maybe")
              .join(keysDf, Seq("part_id", "idempotency_key"), "left_anti"))
    }
    val afterSince =
      if (needsSince) afterBoot.join(sinceStartKeys(), Seq("part_id", "idempotency_key"), "left_anti")
      else afterBoot
    // Caching is per-path: the STREAMING branch shuffles this slice once by
    // part_id and every consumer shares that map output (skipped stages) —
    // a cache would only add a serialize/deserialize per batch. The BULK
    // branch persists below, because the range partitioner's sampling job
    // adds a third traversal that precedes the shuffle.
    val deduped = afterSince
    val withRaw =
      try {
        // resolvedVersion, not currentVersion: the CAS base must be the
        // version load() actually resolves (highest parseable) — a torn
        // artifact above it occupies a burned slot, not a table state
        if (pending.isEmpty && wmBaseVersion < 0) wmBaseVersion = committer.resolvedVersion()
        // STREAMING batches (upstreamDeduped) sequence with the reference's
        // own per-partition model — one shuffle on part_id, a running
        // counter per partition — making the whole micro-batch ONE Spark
        // job: sequences are assigned lazily inside the write, which runs
        // clustered on the same tasks (no counts pass, no bucket
        // re-shuffle). File bucketing uses the PREVIOUS batch's size
        // profile, accumulated for free inside the sequencing tasks
        // (streaming batches are similar-sized; bucketing granularity
        // affects file sizes, never results — writeData caps record count
        // per file as the no-profile guardrail). Direct bulk appends keep
        // the exact two-phase range path: one batch may be a whole table
        // load, where a single partition's slice is itself huge.
        if (upstreamDeduped) {
          val wm = watermarks()
          val seq = timed("sequence", batchId) {
            EventLog.assignSequencesPerPartition(deduped, base = wm)
          }
          val sequenced = EventLog.deriveDateHour(seq)
          timed("write", batchId) {
            EventTable.writeFiles(EventTable.committedSchema(sequenced), tableRoot, targetFileSize,
                                  precomputedStats = Some(lastStats.getOrElse(Map.empty).toSeq
                                    .map { case (p, (r, b)) => (p, r, b) }),
                                  clustered = true, seqBase = wm,
                                  dateLayout = dateLayout)
          }
          // the next batch's bucketing profile comes from the written
          // files' own footers (exact rows + uncompressed bytes), which the
          // write returns — no in-job accumulator side channel
        } else {
          // Bulk path: persisted because the range partitioner's SAMPLING
          // job traverses the dedup chain once more before the shuffle map
          // stage runs — three consumers total (sample, counts, write), of
          // which only the last two share the shuffle output.
          val cached = deduped.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            val wm = watermarks()
            val (seq, stats) = timed("sequence", batchId) {
              EventLog.assignSequencesWithStats(cached, base = wm,
                                                byteColumn = Some("props"),
                                                rowsHint = lastBatchRows)
            }
            lastStats = Some(stats)
            val sequenced = EventLog.deriveDateHour(seq)
            timed("write", batchId) {
              EventTable.writeFiles(EventTable.committedSchema(sequenced), tableRoot, targetFileSize,
                                    precomputedStats = Some(stats.toSeq.map { case (p, (r, b)) => (p, r, b) }),
                                    seqBase = wm,
                                    dateLayout = dateLayout)
            }
          } finally cached.unpersist()
        }
      } finally {
        if (multiPass) base.unpersist()
      }

    // Marker AFTER the data write: files without a marker are orphans.
    val written = withRaw.map(_._1)
    committer.io.put(markerPath(batchId), written.map(_.filePath).mkString("\n").getBytes("UTF-8"))
    lastBatchRows = Some(written.map(_.recordCount).sum) // exact, from footers
    if (upstreamDeduped) lastStats = Some(EventTable.profileOf(withRaw))
    pending.update(batchId, written)
    sinceStartFiles ++= written
    if (pending.size == 1) pendingSince = System.currentTimeMillis()
    maybeCommit(force = false)
  }

  /** F5 snapshot batching + F8 watermark-after-commit. */
  def maybeCommit(force: Boolean): Option[Long] = {
    val files = pending.values.flatten.toSeq
    if (files.isEmpty) return None
    val bytes    = files.map(_.fileSizeInBytes).sum
    val age      = System.currentTimeMillis() - pendingSince
    val ripe     = files.size >= snapshotMinFiles || bytes >= snapshotMinBytes || age >= snapshotMaxAgeMs
    if (!force && !ripe) return None
    val batchMax = pending.keys.max
    val res = committer.commitAppend(
      files,
      EventTable.watermarksOf(files),
      Map("graft.batch-id-max" -> batchMax.toString),
      // CAS on the version the sequences were derived from: a foreign
      // commit in between could make them overlap — fail instead
      expectedBaseVersion = if (wmBaseVersion >= 0) Some(wmBaseVersion) else None
    )
    pending.keys.toSeq.foreach(id => committer.io.delete(markerPath(id)))
    pending.clear()
    pendingSince = 0L
    wmBaseVersion = -1
    Some(res.snapshotId)
  }

  /** F12 flush_now / shutdown flush. Returns the committed snapshot id, if
    * anything was pending. */
  def finish(): Option[Long] = maybeCommit(force = true)

  /** Roll back ONE staged-but-uncommitted batch (marker + data files) —
    * the cleanup an optimistic append uses after losing a commit race,
    * before recomputing sequences against the advanced table. Only the
    * given batch is touched; batches adopted from a crashed stream's
    * staging stay recoverable. */
  def abandonBatch(batchId: Long): Unit = {
    pending.remove(batchId).foreach { files =>
      files.foreach(f => committer.io.delete(f.filePath))
      committer.io.delete(markerPath(batchId))
    }
    if (pending.isEmpty) { pendingSince = 0L; wmBaseVersion = -1 }
  }

  /** Next unused batch id — continues past both committed and staged ids so
    * a library append can never collide with a crashed stream's staging. */
  def nextBatchId(): Long =
    math.max(lastCommittedBatchId(), pending.keys.maxOption.getOrElse(-1L)) + 1

  /** A3: staged-but-uncommitted file count and byte sum (the reference's
    * pending-file accounting, `iceberg_storage.rs:1654-1712`). */
  def pendingStats: (Int, Long) = {
    val files = pending.values.flatten.toSeq
    (files.size, files.map(_.fileSizeInBytes).sum)
  }

  /** A5: ingestion metrics, fed by a [[IngestMetricsListener]] while a
    * stream runs (counters + batch-duration histogram, Prometheus-ready
    * via `metrics.render()`). */
  val metrics = new graft.serve.Metrics

  /** The stream's OWN session — a clone sharing the SparkContext (and so
    * executors, caches, listeners) whose conf is private to this stream.
    * Streaming-only settings bind here, never to the caller's session:
    *
    *  - dedup-state WIDTH (`spark.sql.shuffle.partitions`): the state
    *    partition count binds to THIS stream's checkpoint at creation, so
    *    sizing it to the deployment's key cardinality is a per-stream
    *    choice. Every micro-batch pays a fixed open/commit per state
    *    partition per trigger (the dominant cost when batches are small
    *    relative to the configured width); a deployment with a huge key
    *    space sizes UP, a bounded one sizes DOWN — same tuning the
    *    reference exposes as RocksDB shard count. Previously this mutated
    *    the shared session and silently narrowed unrelated queries'
    *    parallelism if the stream outlived `runFileStream`'s restore.
    *  - state BACKEND: both are exactly-once and checkpoint-durable; the
    *    choice is a size/latency tradeoff. DEFAULT per-executor RocksDB
    *    (the same storage the reference's idempotency index uses) with
    *    per-batch changelog checkpointing: state can outgrow the heap,
    *    which unbounded key retention at 100 TB will. HeapState (Spark's
    *    HDFSBacked provider) is the opt-in for TTL-bounded deployments —
    *    A/B-benched at sf0.1: within noise of RocksDB, so the scale-safe
    *    backend stays the default.
    *  - [[NioCheckpointFileManager]]: offset/commit-log and state
    *    changelog IO without the Hadoop local-FS permission-stat forks
    *    (~80 ms/trigger measured); delegates to stock Spark for
    *    non-local checkpoint locations.
    */
  private lazy val streamSession: SparkSession = {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.streaming.checkpointFileManagerClass",
      classOf[NioCheckpointFileManager].getName)
    shufflePartitions.foreach(n => ss.conf.set("spark.sql.shuffle.partitions", n.toString))
    if (dedupStateBackend == StreamIngest.RocksDbState) {
      ss.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      ss.conf.set("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      // numRows tracking costs a get per put (the store counts rows for the
      // progress metric); the dedup index only ever needs existence checks,
      // so skip it — the standard setting for write-heavy dedup state
      ss.conf.set("spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows", "false")
    } else
      ss.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    ss
  }

  /** Start (without blocking) an ingestion stream over ANY raw-event-shaped
    * streaming source — the composition point for alternative corpora
    * (e.g. [[graft.sources.JsonlCorpus.readStream]] mapped to the event
    * schema). `mkSource` receives the ingester's TUNED streaming session
    * (RocksDB dedup state, NIO checkpoint manager, shuffle sizing) — a
    * source built on an arbitrary session would silently drop those. */
  def startSourceStream(mkSource: SparkSession => DataFrame,
                        trigger: Trigger = Trigger.ProcessingTime("1 second")): org.apache.spark.sql.streaming.StreamingQuery =
    KeyedDedup(mkSource(streamSession), dedupStateTtlMs)
      .writeStream
      .trigger(trigger)
      .option("checkpointLocation", s"$tableRoot/checkpoint")
      .foreachBatch((b: DataFrame, id: Long) => processBatch(b, id, upstreamDeduped = true))
      .start()

  /** Start (without blocking) the file-source ingestion stream — the
    * reference's F1 timer-loop shape when driven by
    * `Trigger.ProcessingTime(...)` (`flusher/mod.rs:514-650` — wake on
    * interval, flush what arrived). The caller owns the query lifecycle. */
  def startFileStream(stagingDir: String, schema: StructType, maxFilesPerTrigger: Int = 1,
                      trigger: Trigger = Trigger.ProcessingTime("1 second")): org.apache.spark.sql.streaming.StreamingQuery =
    startSourceStream(
      _.readStream.schema(schema).option("maxFilesPerTrigger", maxFilesPerTrigger).parquet(stagingDir),
      trigger)

  /** Drive any raw-event-shaped source stream to completion — the
    * ingest-a-backlog mode (`Trigger.AvailableNow`). */
  def runSourceStream(mkSource: SparkSession => DataFrame,
                      trigger: Trigger = Trigger.AvailableNow()): Unit = {
    val listener = new IngestMetricsListener(metrics)
    streamSession.streams.addListener(listener)
    try {
      val q = startSourceStream(mkSource, trigger)
      q.awaitTermination()
      finish()
    } finally streamSession.streams.removeListener(listener)
  }

  /** Drive a file-source stream over staged raw-event chunks to completion. */
  def runFileStream(stagingDir: String, schema: StructType, maxFilesPerTrigger: Int = 1,
                    trigger: Trigger = Trigger.AvailableNow()): Unit =
    runSourceStream(
      _.readStream.schema(schema).option("maxFilesPerTrigger", maxFilesPerTrigger).parquet(stagingDir),
      trigger)
}

/** A5: the Spark-native metrics tap — a StreamingQueryListener feeding the
  * Prometheus registry (the reference's `/metrics` counters/histograms,
  * `/root/reference/src/metrics/registry.rs:79-660`, sourced here from the
  * engine's own progress events instead of hand-placed counters). */
final class IngestMetricsListener(metrics: graft.serve.Metrics)
    extends org.apache.spark.sql.streaming.StreamingQueryListener {
  import org.apache.spark.sql.streaming.StreamingQueryListener._
  override def onQueryStarted(event: QueryStartedEvent): Unit =
    metrics.inc("graft_stream_queries_started_total")
  override def onQueryProgress(event: QueryProgressEvent): Unit = {
    metrics.inc("graft_stream_batches_total")
    metrics.inc("graft_stream_rows_total", event.progress.numInputRows)
    metrics.observeMs("graft_stream_batch_duration_ms",
      Option(event.progress.durationMs.get("triggerExecution")).map(_.toDouble).getOrElse(0.0))
    if (sys.env.contains("GRAFT_TIMING"))
      println(s"[graft-timing] trigger=${event.progress.batchId} rows=${event.progress.numInputRows} " +
        s"durations=${event.progress.durationMs}")
  }
  override def onQueryTerminated(event: QueryTerminatedEvent): Unit =
    metrics.inc("graft_stream_queries_terminated_total")
}

object StreamIngest {
  /** Dedup-state backends (see the constructor note in [[StreamIngest]]). */
  val RocksDbState = "rocksdb"
  val HeapState    = "heap"

  /** Library-level bulk append — the batch analogue of a gateway bulk write
    * (S2): the engine dedupes (within the batch and against the table),
    * continues sequences from the committed watermarks, writes the sorted
    * size-targeted layout, and commits one snapshot. Input columns:
    * `partition` (int), `payload` (string/binary), `timestamp_ms` (long),
    * optional nullable `idempotency_key`. Returns the snapshot id. */
  def appendEvents(spark: SparkSession, tableRoot: String, events: DataFrame): Option[Long] = {
    val hasKey = events.columns.contains("idempotency_key")
    // rows WITHOUT a key are passed through as NULL — every dedup stage
    // (window, bootstrap bloom gate, anti-join, keyed state) skips null
    // keys, same as the hot buffer. A synthetic per-row key is NOT safe
    // here: monotonically_increasing_id() is deterministic per layout, so
    // two same-shaped appends would synthesize IDENTICAL keys and the
    // second call's rows would anti-join away against the committed table.
    val keyCol =
      if (hasKey) col("idempotency_key").cast("string")
      else lit(null).cast("string")
    val batch = events.select(
      col("partition").cast("int").as("part_id"),
      col("timestamp_ms").cast("long").as("timestamp_ms"),
      col("payload").cast("string").as("props"),
      keyCol.as("idempotency_key"),
      monotonically_increasing_id().as("event_id") // arrival-order tiebreak
    )
    // OPTIMISTIC append: a concurrent writer advancing the table between
    // our watermark read and the commit raises CommitConflict — roll back
    // ONLY this append's staged files and redo against fresh watermarks
    // (the reference re-queues pending files the same way).
    var attempt = 0
    while (true) {
      // thresholds high so the commit happens in finish() — one append,
      // one snapshot, and the returned id is that snapshot's
      val ing = new StreamIngest(spark, tableRoot,
        snapshotMinFiles = Int.MaxValue, snapshotMinBytes = Long.MaxValue)
      val id = ing.nextBatchId()
      try {
        ing.processBatch(batch, id)
        return ing.finish()
      } catch {
        case _: graft.iceberg.CommitConflict if attempt < 5 =>
          ing.abandonBatch(id)
          attempt += 1
      }
    }
    None // unreachable
  }

  /** Stage the raw write stream as N event_id-contiguous parquet chunks
    * with ascending mtimes so the file source replays arrival order — each
    * chunk models one bulk-write burst (S2). All chunks are written by ONE
    * dynamic-partition job (the chunk id is a partition column), then moved
    * into place with explicitly ascending timestamps — replay order comes
    * from the stamped mtimes, not from N sequential write jobs.
    *
    * `replicate > 1` synthesizes a larger backlog from the same source:
    * copy i shifts event_ids by `i * (maxId + 1)` and timestamps by the
    * stream's time span, and prefixes idempotency keys with `r<i>:` so
    * copies never dedup against each other while each copy's own retry
    * pairs still do — the shape needed to MEASURE per-trigger fixed-cost
    * amortization at 10× instead of arguing it. */
  def stageChunks(spark: SparkSession, sfDir: String, stagingDir: String, nChunks: Int,
                  replicate: Int = 1): StructType = {
    val raw0   = EventLog.raw(spark, sfDir)
    val bounds = raw0.agg(max("event_id"), min("timestamp_ms"), max("timestamp_ms")).head()
    val maxId0 = bounds.getLong(0)
    val tsSpan = bounds.getLong(2) - bounds.getLong(1) + 1L
    val raw =
      if (replicate <= 1) raw0
      else (0 until replicate).map { i =>
        if (i == 0) raw0
        else raw0
          .withColumn("event_id", col("event_id") + lit(i * (maxId0 + 1)))
          .withColumn("timestamp_ms", col("timestamp_ms") + lit(i.toLong * tsSpan))
          .withColumn("idempotency_key", concat(lit(s"r$i:"), col("idempotency_key")))
      }.reduce(_ unionByName _)
    val maxId = (maxId0 + 1) * replicate - 1
    val span  = maxId / nChunks + 1
    val tmp = java.nio.file.Paths.get(graft.core.FsUtil.tempDir("graft-stage-chunks-"), "out")
    raw
      .withColumn("_chunk", (col("event_id") / span).cast("int"))
      .repartition(nChunks, col("_chunk"))
      .write
      .partitionBy("_chunk")
      .parquet(tmp.toString)
    val now = System.currentTimeMillis()
    val dst = java.nio.file.Paths.get(stagingDir)
    java.nio.file.Files.createDirectories(dst)
    (0 until nChunks).foreach { i =>
      val dir = tmp.resolve(s"_chunk=$i")
      if (java.nio.file.Files.isDirectory(dir)) {
        val s = java.nio.file.Files.list(dir)
        try s.iterator().asScala.filter(_.toString.endsWith(".parquet")).foreach { f =>
          val target = dst.resolve(s"chunk-$i-${f.getFileName}")
          java.nio.file.Files.move(f, target)
          java.nio.file.Files.setLastModifiedTime(target,
            java.nio.file.attribute.FileTime.fromMillis(now - (nChunks - i).toLong * 2000L))
        } finally s.close()
      }
    }
    graft.core.FsUtil.deleteRecursively(tmp.getParent) // only the job's markers are left
    raw.schema
  }
}

/** One streamed table per (JVM, sfDir): the full chunked-stream pipeline,
  * shared by queries. */
object StreamedTables {
  private val memo = new graft.core.FileMemo[String]

  /** Staging-vs-ingest decomposition of the LAST table build: staging is the
    * producer simulation (writing the raw burst files the stream consumes),
    * ingest is the engine (stream pickup → dedup → sequence → write →
    * commit). The reference's ev/s baseline measures its server ingesting
    * already-formed requests, so the comparable number is `events /
    * ingestSec` — surfaced by [[graft.Bench]] alongside the query timings. */
  @volatile var lastBuild: Option[StreamedTables.BuildStats] = None
  final case class BuildStats(sfDir: String, events: Long, stagingSec: Double, ingestSec: Double)

  def tableRoot(spark: SparkSession, sfDir: String): String =
    memo.getOrElseUpdate(sfDir) { tmp =>
      val root    = tmp("graft-stream-")
      val staging = tmp("graft-staging-")
      val t0      = System.nanoTime()
      val schema  = StreamIngest.stageChunks(spark, sfDir, staging, nChunks = 4)
      val t1      = System.nanoTime()
      // Dedup-state width sized to this deployment's key cardinality
      // (tens of thousands of keys per trigger): 8 state partitions keep
      // the per-trigger store open/commit cost proportional to the work.
      // A cluster ingesting an unbounded key space sizes this to executor
      // count instead — the knob is per-stream, bound to its checkpoint.
      new StreamIngest(spark, root, shufflePartitions = Some(8)).runFileStream(staging, schema)
      val t2 = System.nanoTime()
      // input events = staged chunk rows (pre-dedup), footer counts only
      val events = spark.read.schema(schema).parquet(staging).count()
      lastBuild = Some(BuildStats(sfDir, events, (t1 - t0) / 1e9, (t2 - t1) / 1e9))
      if (sys.env.contains("GRAFT_TIMING"))
        println(f"[graft-timing] s5 build: staging=${(t1 - t0) / 1e9}%.2fs ingest=${(t2 - t1) / 1e9}%.2fs events=$events")
      root
    }
}
