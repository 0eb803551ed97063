package graft

import graft.core.EventLog
import graft.streaming.StreamIngest
import graft.table.EventTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Crash/replay safety of the streaming slice — the CP-5/CP-6 analogues of
  * `/root/reference/tests/crash_recovery_tests.rs`: no duplicates after a
  * batch replay, no loss after a crash between staging and commit. */
class StreamIngestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("the streamed changefeed equals changesBetween as a multiset over a mixed range") {
    import graft.extract.{FieldSpec, TableSchemaConfig}
    val root = TestSpark.tempDir("graft-cfeq-").toString
    val log  = EventLog.log(spark, sf).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val half = log.agg(max("event_id")).head().getLong(0) / 2
      val c = EventTable.appendExtracted(spark, log.filter(col("event_id") <= half), root,
        TableSchemaConfig(fields = Seq(FieldSpec("k", "k", "Int32"))), fragmentInto = Some(8))
      val base = c.load().get.currentSnapshotId.get
      // the range: one data-preserving compaction of pre-range files, an
      // append that evolves the schema (k_str), a positional MoR delete
      // and an equality delete (some of its keys already pos-masked)
      assert(graft.table.Compaction.compact(spark, root,
        graft.table.Compaction.Config(minFilesPerGroup = 1)).isDefined, "fixture expects a compaction")
      EventTable.appendExtracted(spark, log.filter(col("event_id") > half), root,
        TableSchemaConfig(fields = Seq(FieldSpec("k", "k", "Int32"), FieldSpec("k_str", "k", "Utf8"))))
      val r1 = EventTable.deleteWhereMor(spark, root, col("sequence") % 7 === 2)
      val keys = EventTable.readCommittedProjected(spark, root)
        .filter(col("sequence") % 11 === 3).select("partition", "sequence")
      val r2 = EventTable.deleteWhereEq(spark, root, keys)
      assert(r1.deletedRows > 0 && r2.keys > 0)
      val head = c.load().get.currentSnapshotId.get

      val sink = TestSpark.tempDir("graft-cfeq-sink-").toString
      graft.table.TailBatch.drain(spark, sink) {
        spark.readStream.format("graft")
          .option("changefeed", "true").option("fromSnapshot", base.toString).load(root)
      }
      val streamed = spark.read.parquet(s"$sink/data")
      val batch = EventTable.changesBetween(spark, root, base, head)
        .select(streamed.schema.fields.map(f => col(f.name).cast(f.dataType)).toIndexedSeq: _*)
      assert(Seq("k", "k_str", "_change_type").forall(streamed.columns.contains), streamed.columns.mkString(","))
      assert(streamed.filter(col("k_str").isNotNull).count() > 0, "the evolved column must stream")
      assert(streamed.filter(col("_change_type") === "delete").count() > 0)
      assert(streamed.count() === batch.count())
      assert(streamed.exceptAll(batch).count() === 0L, "streamed rows missing from the batch feed")
      assert(batch.exceptAll(streamed).count() === 0L, "batch rows missing from the streamed feed")
    } finally log.unpersist()
  }

  test("changefeed stream: checkpoint replay never duplicates; a replace in range fails loud") {
    val root = TestSpark.tempDir("graft-cfstream-").toString
    val c    = EventTable.ingestAndCommit(spark, sf, root, fragmentInto = Some(8))
    val base = c.load().get.currentSnapshotId.get
    val sink = TestSpark.tempDir("graft-cfsink-").toString
    val prevCfm = spark.conf.getOption("spark.sql.streaming.checkpointFileManagerClass")
    spark.conf.set("spark.sql.streaming.checkpointFileManagerClass",
      classOf[graft.streaming.NioCheckpointFileManager].getName)
    try {
      def run(): Unit = {
        val q = spark.readStream.format("graft")
          .option("changefeed", "true").option("fromSnapshot", base.toString)
          .load(root)
          .writeStream.format("parquet")
          .option("path", s"$sink/data").option("checkpointLocation", s"$sink/_cp")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      def sinkDf() = spark.read.parquet(s"$sink/data")
      // batch 1: an append → 10 inserts
      val batch = graft.table.TailBatch.of(EventTable.readCommitted(spark, root),
                                           n = 5, maxPart = 2, kShift = Some(123000L), prefix = "q")
      EventTable.appendBatch(spark, root, batch)
      run()
      assert(sinkDf().count() === 10L)
      assert(sinkDf().filter(col("_change_type") === "insert").count() === 10L)
      // replay with NO new commits → zero new change rows
      run()
      assert(sinkDf().count() === 10L, "an idle replay must emit nothing")
      // batch 2: a MoR delete → exactly its masked rows, change type delete
      val r1 = EventTable.deleteWhereMor(spark, root, col("sequence") % 11 === 4)
      assert(r1.deletedRows > 0)
      run()
      assert(sinkDf().count() === 10L + r1.deletedRows)
      assert(sinkDf().filter(col("_change_type") === "insert").count() === 10L,
        "the resumed feed must not re-emit earlier inserts")
      assert(sinkDf().filter(col("_change_type") === "delete").count() === r1.deletedRows)
      // the streamed feed equals the batch feed over the same range
      val head = c.load().get.currentSnapshotId.get
      val batchFeed = EventTable.changesBetween(spark, root, base, head)
        .selectExpr("cast(partition as int)", "sequence", "_change_type")
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2))).toSet
      val streamed = sinkDf()
        .selectExpr("cast(partition as int)", "sequence", "_change_type")
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2))).toSet
      assert(streamed === batchFeed, "streamed and batch changefeeds must agree row-for-row")
      // a compaction whose merged changes were all CONSUMED is data-
      // preserving: the resumed feed crosses it emitting nothing (the
      // lowered ratio trigger drives the FULL fold so the CoW delete
      // below is admissible)
      var compacted = false
      while (graft.table.Compaction.compact(spark, root,
        graft.table.Compaction.Config(deleteRatioTrigger = 0.01, maxFilesPerRun = 10000)).isDefined)
        compacted = true
      assert(compacted, "fixture expects the fragmented table to compact")
      run()
      assert(sinkDf().count() === 10L + r1.deletedRows,
        "a consumed-range compaction must be crossed emitting nothing")
      // but a row-changing replace (CoW delete) still fails the batch LOUDLY
      val r2 = EventTable.deleteWhere(spark, root, col("sequence") % 13 === 5)
      assert(r2.deletedRows > 0, "fixture expects the CoW delete to match rows")
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] { run() }
      assert(ex.getMessage.contains("changefeed") || ex.getMessage.contains("rewrite"),
        s"unexpected failure: ${ex.getMessage.take(400)}")
    } finally prevCfm match {
      case Some(v) => spark.conf.set("spark.sql.streaming.checkpointFileManagerClass", v)
      case None    => spark.conf.unset("spark.sql.streaming.checkpointFileManagerClass")
    }
  }

  test("checkpointed changefeed AND append-tail streams survive Maintenance.vacuum between triggers") {
    val root = TestSpark.tempDir("graft-vacsurv-").toString
    val c    = EventTable.ingestAndCommit(spark, sf, root, fragmentInto = Some(8))
    val base = c.load().get.currentSnapshotId.get
    val n0   = EventTable.readCommitted(spark, root).count()
    val cfSink   = TestSpark.tempDir("graft-vacsurv-cf-").toString
    val tailSink = TestSpark.tempDir("graft-vacsurv-tail-").toString
    val prevCfm = spark.conf.getOption("spark.sql.streaming.checkpointFileManagerClass")
    spark.conf.set("spark.sql.streaming.checkpointFileManagerClass",
      classOf[graft.streaming.NioCheckpointFileManager].getName)
    try {
      def runCf(): Unit = {
        val q = spark.readStream.format("graft")
          .option("changefeed", "true").option("fromSnapshot", base.toString).load(root)
          .writeStream.format("parquet")
          .option("path", s"$cfSink/data").option("checkpointLocation", s"$cfSink/_cp")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      def runTail(): Unit = {
        // the fixture commits a MoR delete mid-stream; the append tail
        // opts in to cross it (Iceberg's streaming-skip-delete-snapshots)
        val q = spark.readStream.format("graft")
          .option("skipDeleteSnapshots", "true").load(root)
          .writeStream.format("parquet")
          .option("path", s"$tailSink/data").option("checkpointLocation", s"$tailSink/_cp")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      def cfDf()   = spark.read.parquet(s"$cfSink/data")
      def tailDf() = spark.read.parquet(s"$tailSink/data")
      // consume the bootstrap state, then an append + a MoR delete
      runTail()
      assert(tailDf().count() === n0)
      val b1 = graft.table.TailBatch.of(EventTable.readCommitted(spark, root),
                                        n = 5, maxPart = 2, kShift = Some(321000L), prefix = "v")
      EventTable.appendBatch(spark, root, b1)
      val r1 = EventTable.deleteWhereMor(spark, root, col("sequence") % 17 === 3)
      assert(r1.deletedRows > 0)
      runCf(); runTail()
      val cfN   = 10L + r1.deletedRows
      assert(cfDf().count() === cfN)
      assert(tailDf().count() === n0 + 10L)
      // THE VACUUM between triggers: compaction (fold) + manifest rewrite +
      // expire + orphan GC — retention wide enough to keep the checkpoints
      val report = graft.table.Maintenance.vacuum(spark, root,
        compactionCfg = graft.table.Compaction.Config(deleteRatioTrigger = 0.01, maxFilesPerRun = 10000),
        keepSnapshots = 64)
      assert(report.compactions > 0, "fixture expects the vacuum to compact (replace commits)")
      assert(report.manifestsCoalesced, "fixture expects a manifest rewrite")
      assert(c.activeDeleteFiles().isEmpty, "fixture expects the vacuum to FOLD the MoR deletes")
      // both consumers cross the maintenance commits emitting NOTHING
      runCf(); runTail()
      assert(cfDf().count() === cfN, "the changefeed must cross a vacuum emitting nothing")
      assert(tailDf().count() === n0 + 10L, "the tail must cross a vacuum emitting nothing")
      // and keep consuming exactly-once afterwards: no duplicate, no loss
      val b2 = graft.table.TailBatch.of(EventTable.readCommitted(spark, root),
                                        n = 5, maxPart = 2, kShift = Some(654000L), prefix = "w")
      EventTable.appendBatch(spark, root, b2)
      runCf(); runTail()
      assert(cfDf().filter(col("_change_type") === "insert").count() === 20L)
      assert(cfDf().count() === cfN + 10L)
      assert(tailDf().count() === n0 + 20L)
      val dupKeys = tailDf().groupBy("partition", "sequence").count().filter(col("count") > 1).count()
      assert(dupKeys === 0L, "the tail must never duplicate a (partition, sequence) row")
      // an append left UNCONSUMED across a vacuum whose compaction merges it
      // away refuses LOUDLY (the file is physically deleted), never silently
      val b3 = graft.table.TailBatch.of(EventTable.readCommitted(spark, root),
                                        n = 9, maxPart = 2, kShift = Some(987000L), prefix = "x")
      EventTable.appendBatch(spark, root, b3)
      graft.table.Maintenance.vacuum(spark, root, keepSnapshots = 64,
        compactionCfg = graft.table.Compaction.Config(minFilesPerGroup = 1))
      val exCf = intercept[org.apache.spark.sql.streaming.StreamingQueryException] { runCf() }
      assert(exCf.getMessage.contains("compacted away"),
        s"unexpected changefeed failure: ${exCf.getMessage.take(400)}")
      val exTail = intercept[org.apache.spark.sql.streaming.StreamingQueryException] { runTail() }
      assert(exTail.getMessage.contains("compacted away"),
        s"unexpected tail failure: ${exTail.getMessage.take(400)}")
    } finally prevCfm match {
      case Some(v) => spark.conf.set("spark.sql.streaming.checkpointFileManagerClass", v)
      case None    => spark.conf.unset("spark.sql.streaming.checkpointFileManagerClass")
    }
  }

  test("a caught-up changefeed resumes after expiry removed its checkpointed snapshot") {
    val root = TestSpark.tempDir("graft-cfexp-").toString
    val c    = EventTable.ingestAndCommit(spark, sf, root, fragmentInto = Some(4))
    val base = c.load().get.currentSnapshotId.get
    val sink = TestSpark.tempDir("graft-cfexp-sink-").toString
    def drain(): Unit = graft.table.TailBatch.drain(spark, sink) {
      spark.readStream.format("graft")
        .option("changefeed", "true").option("fromSnapshot", base.toString).load(root)
    }
    def append(kShift: Long, prefix: String): Unit =
      EventTable.appendBatch(spark, root, graft.table.TailBatch.of(
        EventTable.readCommitted(spark, root), n = 5, maxPart = 2, kShift = Some(kShift), prefix = prefix))
    append(246000L, "e")
    drain() // caught up: the checkpoint holds the head
    val caughtUp = c.load().get.currentSnapshotId.get
    // K appends, then keep only those K: the checkpointed snapshot is
    // expired, but (checkpoint, head] is still whole in metadata
    append(357000L, "f"); append(468000L, "g")
    c.expireSnapshots(keepLast = 2)
    assert(!c.load().get.snapshots.exists(_.snapshotId == caughtUp),
      "fixture expects the checkpointed snapshot to be expired")
    drain()
    val inserts = spark.read.parquet(s"$sink/data").filter(col("_change_type") === "insert")
      .groupBy(substring(col("idempotency_key"), 1, 1).as("batch")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(inserts === Map("e" -> 10L, "f" -> 10L, "g" -> 10L),
      "the resumed feed must deliver exactly the appends after the expired checkpoint")
  }

  test("a caught-up append tail resumes after expiry removed its checkpointed snapshot") {
    val root = TestSpark.tempDir("graft-tailexp-").toString
    val c    = EventTable.ingestAndCommit(spark, sf, root, fragmentInto = Some(4))
    val n0   = EventTable.readCommitted(spark, root).count()
    val sink = TestSpark.tempDir("graft-tailexp-sink-").toString
    def drain(): Unit = graft.table.TailBatch.drain(spark, sink)(spark.readStream.format("graft").load(root))
    def append(kShift: Long, prefix: String): Unit =
      EventTable.appendBatch(spark, root, graft.table.TailBatch.of(
        EventTable.readCommitted(spark, root), n = 5, maxPart = 2, kShift = Some(kShift), prefix = prefix))
    drain() // bootstrap: the whole table
    append(246000L, "e")
    drain() // caught up: the checkpoint holds the head
    val caughtUp = c.load().get.currentSnapshotId.get
    append(357000L, "f"); append(468000L, "g")
    c.expireSnapshots(keepLast = 2)
    assert(!c.load().get.snapshots.exists(_.snapshotId == caughtUp),
      "fixture expects the checkpointed snapshot to be expired")
    drain()
    val tail = spark.read.parquet(s"$sink/data")
    assert(tail.count() === n0 + 30L)
    val appended = tail.filter(col("idempotency_key").rlike("^[efg]"))
      .groupBy(substring(col("idempotency_key"), 1, 1).as("batch")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(appended === Map("e" -> 10L, "f" -> 10L, "g" -> 10L),
      "the resumed tail must deliver exactly the appends after the expired checkpoint")
  }

  test("changefeed fromTimestamp resolves head ancestry; expired history names the restart point") {
    val root = TestSpark.tempDir("graft-cfts-").toString
    val c    = EventTable.ingestAndCommit(spark, sf, root, fragmentInto = Some(4))
    Thread.sleep(10)
    val cut = System.currentTimeMillis() // after ingest, before the tail
    Thread.sleep(10)
    val batch = graft.table.TailBatch.of(EventTable.readCommitted(spark, root),
                                         n = 5, maxPart = 2, kShift = Some(135000L), prefix = "s")
    EventTable.appendBatch(spark, root, batch)
    val prevCfm = spark.conf.getOption("spark.sql.streaming.checkpointFileManagerClass")
    spark.conf.set("spark.sql.streaming.checkpointFileManagerClass",
      classOf[graft.streaming.NioCheckpointFileManager].getName)
    def runFeed(sink: String, opts: Map[String, String]): Unit = {
      val r = spark.readStream.format("graft").option("changefeed", "true")
      val q = opts.foldLeft(r) { case (b, (k, v)) => b.option(k, v) }.load(root)
        .writeStream.format("parquet")
        .option("path", s"$sink/data").option("checkpointLocation", s"$sink/_cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    try {
    // from the cut: exactly the tail's 10 inserts (the ingest predates it)
    val s1 = TestSpark.tempDir("graft-cfts-s1-").toString
    runFeed(s1, Map("fromTimestamp" -> cut.toString))
    assert(spark.read.parquet(s"$s1/data").count() === 10L)
    // from before ALL history: the whole chain replays from table creation
    val n0 = EventTable.readCommitted(spark, root).count()
    val s2 = TestSpark.tempDir("graft-cfts-s2-").toString
    runFeed(s2, Map("fromTimestamp" -> "1000000000000"))
    assert(spark.read.parquet(s"$s2/data").count() === n0)
    // the two start options are mutually exclusive
    val s3 = TestSpark.tempDir("graft-cfts-s3-").toString
    val exBoth = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runFeed(s3, Map("fromTimestamp" -> cut.toString, "fromSnapshot" -> "1"))
    }
    assert(exBoth.getMessage.contains("mutually exclusive"))
    // RESUME shape (r19 advice): Spark skips initialOffset when a
    // checkpoint exists, so the pair must refuse at stream CONSTRUCTION —
    // a resumed query with conflicting options never silently drops them
    val exResume = intercept[IllegalArgumentException] {
      new graft.spark.GraftChangefeedStream(root,
        org.apache.spark.sql.types.StructType(Nil), Some(1L), Some(cut))
    }
    assert(exResume.getMessage.contains("mutually exclusive"))
    // lag guard: once expiry truncates history past the timestamp, the
    // feed refuses NAMING the restart point, never silently starts late
    val expired = new graft.iceberg.IcebergCommitter(
      graft.iceberg.TableIO.forRoot(root), EventTable.Topic).expireSnapshots(keepLast = 1)
    assert(expired.nonEmpty)
    val s4 = TestSpark.tempDir("graft-cfts-s4-").toString
    val exLag = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runFeed(s4, Map("fromTimestamp" -> "1000000000000"))
    }
    assert(exLag.getMessage.contains("expired") &&
           exLag.getMessage.contains("restart from snapshot"), exLag.getMessage.take(400))
    } finally prevCfm match {
      case Some(v) => spark.conf.set("spark.sql.streaming.checkpointFileManagerClass", v)
      case None    => spark.conf.unset("spark.sql.streaming.checkpointFileManagerClass")
    }
  }

  private def batchCounts() =
    EventLog
      .log(spark, sf)
      .groupBy("part_id")
      .agg(count(lit(1)).as("n"), max("sequence").as("mx"))
      .collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2)))
      .toMap

  private def committedCounts(root: String) =
    EventTable
      .readCommitted(spark, root)
      .groupBy(col("partition").cast("int").as("p"))
      .agg(count(lit(1)).as("n"), max("sequence").as("mx"))
      .collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2)))
      .toMap

  test("changefeed refuses a delete commit past the inline mask cap, naming the operator action") {
    // the r18 migration contract, asserted as a message shape: a delete
    // snapshot resolving more mask rows than the INLINE tier
    // (spark.graft.mor.inlineMaskRows) fails its micro-batch loudly —
    // streams have no per-trigger broadcast lifecycle — and the error
    // tells the operator what to do (fold via vacuum, replay fresh).
    val root = TestSpark.tempDir("graft-cfcap-").toString
    val c    = EventTable.ingestAndCommit(spark, sf, root, fragmentInto = Some(4))
    val base = c.load().get.currentSnapshotId.get
    val r = EventTable.deleteWhereMor(spark, root, col("sequence") % 3 === 1)
    assert(r.deletedRows > 4, "need more masked rows than the lowered cap")
    val prevCfm = spark.conf.getOption("spark.sql.streaming.checkpointFileManagerClass")
    spark.conf.set("spark.sql.streaming.checkpointFileManagerClass",
      classOf[graft.streaming.NioCheckpointFileManager].getName)
    spark.conf.set("spark.graft.mor.inlineMaskRows", "4")
    try {
      val sink = TestSpark.tempDir("graft-cfcap-sink-").toString
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        val q = spark.readStream.format("graft").option("changefeed", "true")
          .option("fromSnapshot", base.toString).load(root)
          .writeStream.format("parquet")
          .option("path", s"$sink/data").option("checkpointLocation", s"$sink/_cp")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      assert(ex.getMessage.contains("inline cap") && ex.getMessage.contains("vacuum"),
        s"the refusal must name the cap and the operator action: ${ex.getMessage.take(400)}")
    } finally {
      spark.conf.unset("spark.graft.mor.inlineMaskRows")
      prevCfm match {
        case Some(v) => spark.conf.set("spark.sql.streaming.checkpointFileManagerClass", v)
        case None    => spark.conf.unset("spark.sql.streaming.checkpointFileManagerClass")
      }
    }
  }

  test("streamed ingest converges to the batch-derived table; listener feeds metrics") {
    val root    = TestSpark.tempDir("graft-stream-spec-").toString
    val staging = TestSpark.tempDir("graft-stream-stage-").toString
    val schema  = StreamIngest.stageChunks(spark, sf, staging, nChunks = 3)
    val ing     = new StreamIngest(spark, root)
    ing.runFileStream(staging, schema)
    assert(committedCounts(root) === batchCounts())
    // A5: the StreamingQueryListener observed the run
    assert(ing.metrics.counter("graft_stream_batches_total") >= 3L)
    assert(ing.metrics.counter("graft_stream_rows_total") > 0L)
    assert(ing.metrics.render().contains("graft_stream_batch_duration_ms_count"))
  }

  test("a replayed batch id is a no-op (no duplicate files, no duplicate rows)") {
    val root = TestSpark.tempDir("graft-replay-spec-").toString
    val raw  = EventLog.raw(spark, sf)
    val ing  = new StreamIngest(spark, root, snapshotMinFiles = 1)
    ing.processBatch(raw, batchId = 0L)
    val files = EventTable.listParquet(root).size
    val rows  = EventTable.readCommitted(spark, root).count()
    ing.processBatch(raw, batchId = 0L) // checkpoint replay after commit
    assert(EventTable.listParquet(root).size === files)
    assert(EventTable.readCommitted(spark, root).count() === rows)
  }

  test("crash between staging and commit: reconcile + flush loses nothing, duplicates nothing") {
    val root = TestSpark.tempDir("graft-crash-spec-").toString
    val raw  = EventLog.raw(spark, sf).cache()
    val mid  = raw.agg(expr("percentile_approx(event_id, 0.5)")).head().get(0).toString.toDouble.toLong

    // Instance A stages two batches but thresholds keep them uncommitted.
    val a = new StreamIngest(spark, root, snapshotMinFiles = 1000)
    a.processBatch(raw.filter(col("event_id") <= mid), batchId = 0L)
    a.processBatch(raw.filter(col("event_id") > mid), batchId = 1L)
    // A3: pending accounting reflects the staged-but-uncommitted files
    val (nPending, pendingBytes) = a.pendingStats
    assert(nPending > 0 && pendingBytes > 0L)
    assert(new graft.iceberg.IcebergCommitter(new graft.iceberg.LocalTableIO(root), EventTable.Topic).load() === None,
      "nothing must be committed yet")
    // A crashes here (in-memory pending lost). Instance B reconciles from
    // markers and force-flushes (F9/F10 + F12).
    val b = new StreamIngest(spark, root, snapshotMinFiles = 1000)
    b.finish()
    assert(committedCounts(root) === batchCounts())
  }

  test("crash between staging and commit on the FUSED streaming path (upstreamDeduped)") {
    // Same crash shape as above, but through the streaming branch of
    // processBatch: per-partition sequencing fused into the write, size
    // profile carried batch-to-batch. Input is pre-deduped, as KeyedDedup
    // would deliver it.
    val root = TestSpark.tempDir("graft-crash-fused-spec-").toString
    val raw  = graft.core.EventLog.deduped(EventLog.raw(spark, sf)).cache()
    val mid  = raw.agg(expr("percentile_approx(event_id, 0.5)")).head().get(0).toString.toDouble.toLong

    val a = new StreamIngest(spark, root, snapshotMinFiles = 1000)
    a.processBatch(raw.filter(col("event_id") <= mid), batchId = 0L, upstreamDeduped = true)
    a.processBatch(raw.filter(col("event_id") > mid), batchId = 1L, upstreamDeduped = true)
    assert(new graft.iceberg.IcebergCommitter(graft.iceberg.TableIO.forRoot(root), EventTable.Topic).load() === None,
      "nothing must be committed yet")
    // A crashes; B adopts the staged batches from markers and flushes.
    val b = new StreamIngest(spark, root, snapshotMinFiles = 1000)
    b.finish()
    assert(committedCounts(root) === batchCounts())
    // replaying batch 1 through the fused path after commit is a no-op
    val files = EventTable.listParquet(root).size
    b.processBatch(raw.filter(col("event_id") > mid), batchId = 1L, upstreamDeduped = true)
    assert(EventTable.listParquet(root).size === files)
    assert(committedCounts(root) === batchCounts())
  }

  test("a marker whose data files are incomplete is dropped on reconcile, not adopted (and does not brick startup)") {
    val root = TestSpark.tempDir("graft-marker-crash-").toString
    val raw  = EventLog.raw(spark, sf).cache()
    val io   = new graft.iceberg.LocalTableIO(root)

    val a = new StreamIngest(spark, root, snapshotMinFiles = 1000)
    a.processBatch(raw.filter(col("event_id") < 100), batchId = 0L)
    // crash mid-abandon: one of the marker's data files is gone, marker stays
    val markerFiles = new String(io.get("staged/batch-0.marker"), "UTF-8").split('\n').filter(_.nonEmpty)
    assert(markerFiles.nonEmpty)
    io.delete(markerFiles.head)

    // startup must treat the incomplete stage as failed: drop the marker
    // AND the surviving files (the batch never committed), not throw
    val b = new StreamIngest(spark, root, snapshotMinFiles = 1000)
    assert(b.pendingStats === ((0, 0L)))
    assert(io.list("staged").isEmpty)
    assert(markerFiles.forall(f => !io.exists(f)), "surviving files of the failed stage are removed")

    // replaying the batch id re-ingests cleanly (it was never committed)
    b.processBatch(raw.filter(col("event_id") < 100), batchId = 0L)
    b.finish()
    val expect = EventLog.deduped(raw.filter(col("event_id") < 100)).count()
    assert(EventTable.readCommitted(spark, root).count() === expect)
  }

  test("a replayed-but-staged batch is skipped after restart") {
    val root = TestSpark.tempDir("graft-replay2-spec-").toString
    val raw  = EventLog.raw(spark, sf)
    val a    = new StreamIngest(spark, root, snapshotMinFiles = 1000)
    a.processBatch(raw, batchId = 0L)
    val staged = EventTable.listParquet(root).size
    // restart; checkpoint replays batch 0 before anything commits
    val b = new StreamIngest(spark, root, snapshotMinFiles = 1000)
    b.processBatch(raw, batchId = 0L)
    assert(EventTable.listParquet(root).size === staged)
    b.finish()
    assert(committedCounts(root) === batchCounts())
  }

  test("a streamed table compacts like a batch-ingested one (S x C interaction)") {
    val root    = TestSpark.tempDir("graft-stream-compact-").toString
    val staging = TestSpark.tempDir("graft-stream-compact-stage-").toString
    val schema  = StreamIngest.stageChunks(spark, sf, staging, nChunks = 3)
    new StreamIngest(spark, root).runFileStream(staging, schema)
    val before = EventTable.listParquet(root).size
    // streamed micro-batches leave >=3 small files per partition dir
    while (graft.table.Compaction.compact(spark, root,
      graft.table.Compaction.Config(minFilesPerGroup = 2)).isDefined) ()
    assert(EventTable.listParquet(root).size < before)
    assert(committedCounts(root) === batchCounts())
  }

  test("F1 timer-loop: ProcessingTime trigger picks up files as they arrive") {
    val root    = TestSpark.tempDir("graft-timer-spec-").toString
    val srcDir  = TestSpark.tempDir("graft-timer-src-").toString
    val staging = TestSpark.tempDir("graft-timer-stage-").toString
    val schema  = StreamIngest.stageChunks(spark, sf, srcDir, nChunks = 3)
    val ing     = new StreamIngest(spark, root, snapshotMinFiles = 1)
    val q = ing.startFileStream(staging, schema,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
    try {
      // events "arrive" over time: drop one staged chunk in at a time
      val chunks = new java.io.File(srcDir).listFiles.filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      chunks.foreach { f =>
        java.nio.file.Files.copy(f.toPath, java.nio.file.Paths.get(staging, f.getName))
        Thread.sleep(300)
      }
      val deadline = System.currentTimeMillis() + 60000
      var ok = false
      while (!ok && System.currentTimeMillis() < deadline) {
        ok = try committedCounts(root) == batchCounts() catch { case _: Exception => false }
        if (!ok) Thread.sleep(300)
      }
      assert(ok, "continuously-triggered ingest must converge to the batch-derived table")
    } finally { q.stop(); ing.finish() }
    assert(committedCounts(root) === batchCounts())
  }

  test("cross-batch duplicate keys: since-start path (same instance) drops them") {
    val root = TestSpark.tempDir("graft-xdup-spec-").toString
    val raw  = EventLog.raw(spark, sf).cache()
    val ing  = new StreamIngest(spark, root, snapshotMinFiles = 1)
    // batches OVERLAP on event ids [80, 100): same idempotency keys re-sent
    ing.processBatch(raw.filter(col("event_id") < 100), batchId = 0L)
    ing.processBatch(raw.filter(col("event_id") >= 80 && col("event_id") < 200), batchId = 1L)
    val expected = raw.filter(col("event_id") < 200)
      .select("part_id", "idempotency_key").distinct().count()
    val committed = EventTable.readCommitted(spark, root)
    assert(committed.count() === expected)
    assert(committed.select("partition", "idempotency_key").distinct().count() === expected)
  }

  test("cross-batch duplicate keys: bootstrap path (new instance over existing table) drops them") {
    val root = TestSpark.tempDir("graft-xdup2-spec-").toString
    val raw  = EventLog.raw(spark, sf).cache()
    val a    = new StreamIngest(spark, root, snapshotMinFiles = 1)
    a.processBatch(raw.filter(col("event_id") < 100), batchId = 0L)
    // restart: instance B's bootstrap snapshot + bloom must cover A's keys
    val b = new StreamIngest(spark, root, snapshotMinFiles = 1)
    b.processBatch(raw.filter(col("event_id") >= 80 && col("event_id") < 200), batchId = 1L)
    val expected = raw.filter(col("event_id") < 200)
      .select("part_id", "idempotency_key").distinct().count()
    val committed = EventTable.readCommitted(spark, root)
    assert(committed.count() === expected)
    assert(committed.select("partition", "idempotency_key").distinct().count() === expected)
  }

  test("NULL-key events pass the bootstrap bloom gate and the streaming state op intact") {
    val root = TestSpark.tempDir("graft-nullkey-spec-").toString
    val raw  = EventLog.raw(spark, sf).cache()
    val a = new StreamIngest(spark, root, snapshotMinFiles = 1)
    a.processBatch(raw.filter(col("event_id") < 100), batchId = 0L)
    // restart → bootstrap bloom active; resend batch 0's keys PLUS 50
    // key-less events (no idempotency: reference semantics = never dedup)
    val nullKeyed = raw.filter(col("event_id") >= 100 && col("event_id") < 150)
      .withColumn("idempotency_key", lit(null).cast("string"))
    val b = new StreamIngest(spark, root, snapshotMinFiles = 1)
    b.processBatch(raw.filter(col("event_id") < 100).unionByName(nullKeyed), batchId = 1L)
    val committed = EventTable.readCommitted(spark, root)
    val keyed     = raw.filter(col("event_id") < 100)
      .select("part_id", "idempotency_key").distinct().count()
    assert(committed.filter(col("idempotency_key").isNull).count() === 50,
      "every key-less row lands — a null gate/window result must not drop or collapse them")
    assert(committed.count() === keyed + 50)
  }

  test("appendEvents: library bulk append dedupes, continues sequences, commits") {
    import spark.implicits._
    val root = TestSpark.tempDir("graft-append-spec-").toString
    def mk(ids: Range, keyed: Boolean) =
      ids.map(i => (i % 4, s"payload-$i", 1000L + i, if (keyed) s"k$i" else null))
        .toDF("partition", "payload", "timestamp_ms", "idempotency_key")
    assert(StreamIngest.appendEvents(spark, root, mk(0 until 100, keyed = true)).isDefined)
    // second append OVERLAPS keys 50..99 → only 50 new rows land
    assert(StreamIngest.appendEvents(spark, root, mk(50 until 150, keyed = true)).isDefined)
    val committed = EventTable.readCommitted(spark, root)
    assert(committed.count() === 150L)
    committed.groupBy("partition")
      .agg(count(lit(1)).as("n"), max("sequence").as("mx"), countDistinct("sequence").as("nd"))
      .collect().foreach { r =>
        assert(r.getAs[Long]("mx") === r.getAs[Long]("n"), "sequences stay dense across appends")
        assert(r.getAs[Long]("nd") === r.getAs[Long]("n"))
      }
    // key-less rows never dedup against each other
    assert(StreamIngest.appendEvents(spark, root, mk(0 until 10, keyed = false)).isDefined)
    assert(EventTable.readCommitted(spark, root).count() === 160L)
    // ...and never against a PREVIOUS append's key-less rows either: an
    // identically-shaped second key-less batch must land in full (a
    // deterministic synthetic key would collide across calls and silently
    // anti-join these rows away against the committed table)
    assert(StreamIngest.appendEvents(spark, root, mk(0 until 10, keyed = false)).isDefined)
    val afterSecond = EventTable.readCommitted(spark, root)
    assert(afterSecond.count() === 170L)
    assert(afterSecond.filter(col("idempotency_key").isNull).count() === 20L,
      "key-less appends land with NULL keys, not synthetic ones")
  }

  test("appendEvents: a second keyless append on a keyless table lands in full") {
    import spark.implicits._
    val root = TestSpark.tempDir("graft-append-keyless-").toString
    def mk(ids: Range) = ids.map(i => (i % 4, s"payload-$i", 1000L + i)).toDF("partition", "payload", "timestamp_ms")
    assert(StreamIngest.appendEvents(spark, root, mk(0 until 20)).isDefined)
    // the bootstrap dedup over a table holding only null keys
    assert(StreamIngest.appendEvents(spark, root, mk(0 until 20)).isDefined)
    val committed = EventTable.readCommitted(spark, root)
    assert(committed.count() === 40L)
    assert(committed.filter(col("idempotency_key").isNull).count() === 40L)
  }

  test("appendEvents: concurrent appends retry on conflict, never overlap sequences") {
    import spark.implicits._
    val root = TestSpark.tempDir("graft-append-race-").toString
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = (0 until 4).map { t =>
        pool.submit(new java.util.concurrent.Callable[Option[Long]] {
          override def call(): Option[Long] = {
            val df = (0 until 50)
              .map(i => (i % 4, s"t$t-p$i", 1000L + i, s"t$t-k$i"))
              .toDF("partition", "payload", "timestamp_ms", "idempotency_key")
            StreamIngest.appendEvents(spark, root, df)
          }
        })
      }
      futures.foreach(f => assert(f.get(120, java.util.concurrent.TimeUnit.SECONDS).isDefined))
    } finally pool.shutdown()
    val committed = EventTable.readCommitted(spark, root)
    assert(committed.count() === 200L)
    committed.groupBy("partition")
      .agg(count(lit(1)).as("n"), max("sequence").as("mx"), countDistinct("sequence").as("nd"))
      .collect().foreach { r =>
        assert(r.getAs[Long]("mx") === r.getAs[Long]("n"), "dense, non-overlapping sequences")
        assert(r.getAs[Long]("nd") === r.getAs[Long]("n"))
      }
    // no orphan markers left behind by retries
    assert(new graft.iceberg.LocalTableIO(root).list("staged").isEmpty)
  }

  test("dedup state TTL: keys idle past the cleanup watermark are evicted and re-admitted") {
    import spark.implicits._
    val root    = TestSpark.tempDir("graft-ttl-spec-").toString
    val staging = TestSpark.tempDir("graft-ttl-stage-").toString
    def chunk(ids: Range, keyPrefix: String): org.apache.spark.sql.DataFrame =
      ids.map(i => (i.toLong, 1000L + i, i.toLong, "ev", 1.0, s"p$i", i % 4, s"$keyPrefix$i"))
        .toDF("event_id", "timestamp_ms", "user_id", "event_type", "value", "props", "part_id", "idempotency_key")
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit =
      df.coalesce(1).write.parquet(s"$staging/$name")
    val schema = chunk(0 until 10, "k").schema

    // short TTL: keys idle >1s are evicted like the reference's cleanup
    // watermark — a later retry of the same key is accepted again.
    // HeapState covers the TTL-bounded opt-in backend (other streaming
    // tests run the default RocksDB path).
    val ing = new StreamIngest(spark, root, snapshotMinFiles = 1, dedupStateTtlMs = Some(1000L),
                               dedupStateBackend = StreamIngest.HeapState)
    val q = ing.startFileStream(s"$staging/*/", schema,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("200 milliseconds"))
    def committedRows(): Long =
      try EventTable.readCommitted(spark, root).count() catch { case _: Exception => 0L }
    def awaitRows(n: Long): Unit = {
      val deadline = System.currentTimeMillis() + 60000
      while (committedRows() < n && System.currentTimeMillis() < deadline) Thread.sleep(200)
      assert(committedRows() === n)
    }
    try {
      stage(chunk(0 until 10, "k"), "c1")
      awaitRows(10)
      Thread.sleep(1500) // let the k-keys idle past the TTL
      // an unrelated batch fires the timeout processing that evicts them
      stage(chunk(100 until 110, "q"), "c2")
      awaitRows(20)
      // same k-keys again: WITHOUT eviction these would all be dropped
      stage(chunk(0 until 10, "k"), "c3")
      awaitRows(30)
    } finally { q.stop(); ing.finish() }
    assert(committedRows() === 30L, "TTL-evicted keys must be re-admitted")
  }

  test("w2 append mode: events arriving later than the watermark are dropped") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val staging = TestSpark.tempDir("graft-late-stage-").toString
    val hour = 3600L * 1000
    // burst 1: three events in hour 0, one in hour 4 (advances the
    // watermark to hour 3 once the batch completes)
    Seq(1000L, 2000L, 3000L, 4 * hour).toDF("timestamp_ms")
      .coalesce(1).write.parquet(s"$staging/c1")
    Thread.sleep(1100)
    // burst 2: another on-time event — the batch that finalizes and evicts
    // the hour-0 window (state eviction happens one batch behind the
    // watermark advance)
    Seq(4 * hour + 1000).toDF("timestamp_ms").coalesce(1).write.parquet(s"$staging/c2")
    Thread.sleep(1100)
    // burst 3: a LATE event back in hour 0 — beyond the 1h watermark and
    // past the window's eviction; must be discarded
    Seq(2500L).toDF("timestamp_ms").coalesce(1).write.parquet(s"$staging/c3")

    val q = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL("timestamp_ms LONG"))
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$staging/*/")
      .withColumn("ts", timestamp_millis(col("timestamp_ms")))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("w2_late_drop")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val rows = spark.table("w2_late_drop")
      .select(unix_millis(col("window.start")).as("w"), col("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    // hour-0 window closed with the on-time events only; the late arrival
    // was discarded and did NOT resurrect a second hour-0 entry
    assert(rows.filter(_._1 == 0L).toSeq === Seq(0L -> 3L), s"got ${rows.toSeq}")
  }

  test("sequence continuation across batches: dense, no overlap") {
    val root = TestSpark.tempDir("graft-seqcont-spec-").toString
    val raw  = EventLog.raw(spark, sf)
    val mid  = 500L
    val ing  = new StreamIngest(spark, root, snapshotMinFiles = 1)
    ing.processBatch(raw.filter(col("event_id") < mid), batchId = 0L)
    ing.processBatch(raw.filter(col("event_id") >= mid), batchId = 1L)
    val perPart = EventTable
      .readCommitted(spark, root)
      .groupBy("partition")
      .agg(count(lit(1)).as("n"), min("sequence").as("mn"), max("sequence").as("mx"),
           countDistinct("sequence").as("nd"))
      .collect()
    perPart.foreach { r =>
      assert(r.getAs[Long]("mn") === 1L)
      assert(r.getAs[Long]("mx") === r.getAs[Long]("n"))
      assert(r.getAs[Long]("nd") === r.getAs[Long]("n"))
    }
  }

  test("streamed JSONL corpus -> committed snapshots: cold read matches the input byte-for-byte") {
    // The composition a corpus user actually runs: documents land as gzip
    // JSONL drops, stream in incrementally (file source, one file per
    // trigger), flow through the SAME dedup/sequence/commit pipeline as the
    // event gateway, and the committed cold tier must reproduce every text.
    val root  = TestSpark.tempDir("graft-jsonl-ingest-").toString
    val jsonl = TestSpark.tempDir("graft-jsonl-drop-").toString
    graft.sources.JsonlCorpus.write(spark, sf, jsonl, nFiles = 3)
    val ing = new StreamIngest(spark, root, snapshotMinFiles = 1)
    ing.runSourceStream { ss =>
      graft.sources.JsonlCorpus.readStream(ss, jsonl, maxFilesPerTrigger = 1)
        .select(
          col("doc_id").as("event_id"),
          (lit(1700000000000L) + col("doc_id")).as("timestamp_ms"),
          col("doc_id").as("user_id"),
          col("lang").as("event_type"),
          col("n_chars").cast("double").as("value"),
          col("text").as("props"),
          pmod(col("doc_id"), lit(EventLog.NumPartitions)).cast("int").as("part_id"),
          concat(lit("doc-"), col("doc_id")).as("idempotency_key"))
    }
    val committed = EventTable.readCommitted(spark, root)
      .select(col("idempotency_key"), col("payload").cast("string").as("text"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val input = spark.read.parquet(s"$sf/documents.parquet")
      .select(concat(lit("doc-"), col("doc_id")).as("k"), col("text"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(committed === input)
  }
}
