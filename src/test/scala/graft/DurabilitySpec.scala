package graft

import graft.serve._
import graft.table.EventTable
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** INV-2 analogue: a 202-acknowledged write survives a gateway crash (the
  * reference gets this from RocksDB's WAL, `rocksdb.rs:579-592`), and the
  * bounded flush loop drains a backlog in several size-capped passes with
  * dense sequences (the reference's `max_segment_size`,
  * `flusher/mod.rs:338-456`). */
class DurabilitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def segmentFiles(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".wal")).toSeq.sortBy(_.getFileName.toString)
    finally s.close()
  }

  private def replayedSeqs(dir: java.nio.file.Path): Seq[Long] = {
    val seqs = scala.collection.mutable.ArrayBuffer.empty[Long]
    val wal  = new WriteAheadLog(dir)
    wal.replay(e => seqs += e.sequence, (_, _, _) => ())
    wal.close()
    seqs.toSeq
  }

  test("gateway crash after 202: restart replays the WAL, flush loses nothing") {
    val dir = TestSpark.tempDir("graft-wal-crash-").toString
    val a   = new GatewayServer(spark, dir)
    (1 to 5).foreach(i => a.hot.write("walt", i % 2, s"p$i".getBytes, 1000L + i, Some(s"k$i")))
    // crash: instance A is abandoned with NOTHING flushed (its in-memory
    // buffer is lost); B rebuilds from the WAL on disk
    val b = new GatewayServer(spark, dir)
    assert(b.hot.size("walt") === 5, "all accepted events must survive the crash")
    // the idempotency index also survives: a replayed duplicate still
    // returns the original offset and consumes no sequence
    val (off, dup) = b.hot.write("walt", 1, "retry".getBytes, 2000L, Some("k1"))
    assert(dup && off === b.hot.write("walt", 1, "again".getBytes, 2001L, Some("k1"))._1)
    assert(b.flushNow("walt").isDefined)
    assert(EventTable.readCommitted(spark, s"$dir/walt").count() === 5)
  }

  test("sequence counters survive even after all events were flushed and evicted") {
    val dir = TestSpark.tempDir("graft-wal-seq-").toString
    val a   = new GatewayServer(spark, dir)
    (1 to 3).foreach(i => a.hot.write("seqt", 0, s"p$i".getBytes, 1000L + i, None))
    a.flushNow("seqt") // evicts + compacts the WAL down to seq-marks
    // crash + restart: WAL has no events left, only marks
    val b = new GatewayServer(spark, dir)
    val (off, _) = b.hot.write("seqt", 0, "next".getBytes, 5000L, None)
    assert(off === 4L, s"sequence must continue past the evicted prefix, got $off")
  }

  test("concurrent cleanups + writes: no acked event is ever dropped from the WAL") {
    // The flush daemon and POST /tables/{t}/flush run cleanup concurrently
    // over ONE shared HotBuffer/WAL. Unserialized, the first compaction's
    // drain-and-disarm could swallow the capture a second cleanup just
    // armed, and a write acked between the first swap and the second
    // compact would vanish from the rewritten log — INV-2 broken on crash
    // replay. Stress the interleaving, then crash-replay and check every
    // event still live in the buffer is recoverable.
    val dir = TestSpark.tempDir("graft-wal-race-")
    val wal = new WriteAheadLog(dir)
    val hot = new HotBuffer(Some(wal))
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failed = new java.util.concurrent.atomic.AtomicReference[Throwable](null)
    def guarded(body: => Unit): Runnable = () =>
      try body catch { case t: Throwable => failed.compareAndSet(null, t); stop.set(true) }
    val writer = new Thread(guarded {
      var i = 0
      while (!stop.get()) {
        hot.write("race", i % 2, s"p$i".getBytes, 1000L + i, None)
        i += 1
      }
    })
    def cleaner = new Thread(guarded {
      while (!stop.get()) {
        val wm = hot.highWatermarks("race")
        if (wm.nonEmpty) hot.cleanup("race", wm)
      }
    })
    val (c1, c2) = (cleaner, cleaner)
    Seq(writer, c1, c2).foreach(_.start())
    Thread.sleep(1500)
    stop.set(true)
    Seq(writer, c1, c2).foreach(_.join(10000))
    assert(failed.get() === null, s"worker thread died: ${failed.get()}")
    wal.close()
    // crash: rebuild from disk only; every event still live in the buffer
    // (acked, not yet evicted by a cleanup) must come back, and sequence
    // counters must not regress
    val recovered = new HotBuffer(Some(new WriteAheadLog(dir)))
    val liveBefore = Seq(0, 1).flatMap(p =>
      hot.readPartition("race", p, 0L, Int.MaxValue).map(e => (e.partition, e.sequence)))
    val liveAfter = Seq(0, 1).flatMap(p =>
      recovered.readPartition("race", p, 0L, Int.MaxValue).map(e => (e.partition, e.sequence))).toSet
    val missing = liveBefore.filterNot(liveAfter)
    assert(missing.isEmpty, s"acked live events lost from the WAL: ${missing.take(10)}")
    assert(recovered.highWatermarks("race") === hot.highWatermarks("race"),
      "sequence counters must survive the crash intact")
  }

  test("failed WAL append rolls the buffer back: the retry is acked AND durable") {
    // Buffer state is inserted before the WAL append; if the append fails
    // WITHOUT rollback, the un-logged event (and its idempotency entry)
    // stays in the buffer, and the client's retry with the same key is
    // acked 202 via the dup path without EVER reaching the log — an acked
    // write lost on crash (INV-2). With rollback, the failed request
    // leaves no trace and the retry is logged normally.
    val dir = TestSpark.tempDir("graft-wal-appendfail-")
    val wal = new WriteAheadLog(dir)
    val hot = new HotBuffer(Some(wal))
    wal.failNextAppend = true
    intercept[java.io.IOException] { hot.write("t", 0, "a".getBytes, 100L, Some("k1")) }
    assert(hot.size("t") === 0, "failed write must leave no buffer state")
    val (off, dup) = hot.write("t", 0, "a".getBytes, 100L, Some("k1"))
    assert(!dup && off === 1L, "the retry must be logged, not swallowed by the dup path")
    wal.close()
    val rebuilt = new HotBuffer(Some(new WriteAheadLog(dir)))
    assert(rebuilt.size("t") === 1, "the retried write must survive the crash")
    val (off2, dup2) = rebuilt.write("t", 0, "again".getBytes, 200L, Some("k1"))
    assert(dup2 && off2 === 1L, "the replayed idempotency entry must dedup")
  }

  test("failed bulk WAL append rolls back the whole batch") {
    val dir = TestSpark.tempDir("graft-wal-bulkfail-")
    val wal = new WriteAheadLog(dir)
    val hot = new HotBuffer(Some(wal))
    val recs = Seq[(Array[Byte], Int, Long, Option[String])](
      ("a".getBytes, 0, 100L, Some("ka")),
      ("b".getBytes, 1, 101L, None),
      ("c".getBytes, 0, 102L, Some("kc")))
    wal.failNextAppend = true
    intercept[java.io.IOException] { hot.writeBulk("t", recs) }
    assert(hot.size("t") === 0)
    // sequence counters walked back: the retry reuses 1..N cleanly
    assert(hot.writeBulk("t", recs) === Seq(1L, 1L, 2L))
    wal.close()
    val rebuilt = new HotBuffer(Some(new WriteAheadLog(dir)))
    assert(rebuilt.size("t") === 3)
  }

  test("failed roll: the WAL stays appendable and loses nothing") {
    // A roll opens the next segment before it closes the head; if that
    // fails, the head must stay the append target — without that, every
    // later append hits a closed stream and the gateway 500s all writes
    // until restart.
    val dir = TestSpark.tempDir("graft-wal-rollfail-")
    val wal = new WriteAheadLog(dir)
    val hot = new HotBuffer(Some(wal))
    hot.write("t", 0, "a".getBytes, 100L, None)
    wal.failNextRoll = true
    intercept[java.io.IOException] { hot.cleanup("t", Map(0 -> 1L)) }
    assert(segmentFiles(dir).size === 1 && wal.segments === 1, "the failed roll must leave no partial segment")
    hot.write("t", 0, "b".getBytes, 101L, None) // would throw on a closed stream
    wal.close()
    assert(replayedSeqs(dir) === Seq(1L, 2L), "both events must survive the failed roll")
    // and a later roll over the same WAL succeeds and drops the committed segments
    val wal2 = new WriteAheadLog(dir)
    val hot2 = new HotBuffer(Some(wal2))
    hot2.write("t", 0, "c".getBytes, 102L, None)
    hot2.cleanup("t", Map(0 -> 2L))
    wal2.close()
    assert(replayedSeqs(dir) === Seq(3L))
  }

  test("torn WAL tail: replay keeps the intact prefix and drops the partial frame") {
    val dir = TestSpark.tempDir("graft-wal-torn-")
    val wal = new WriteAheadLog(dir)
    wal.appendEvent(StoredEvent(1L, "t", 0, "aaa".getBytes, 100L, Some("k1")))
    wal.appendEvent(StoredEvent(2L, "t", 0, "bbb".getBytes, 200L, None))
    wal.close()
    // simulate a crash mid-append: chop the last 3 bytes of the last segment
    val log = segmentFiles(dir).last
    val ch  = java.nio.channels.FileChannel.open(log, java.nio.file.StandardOpenOption.WRITE)
    try ch.truncate(Files.size(log) - 3) finally ch.close()
    val replayed = scala.collection.mutable.ArrayBuffer.empty[StoredEvent]
    val wal2     = new WriteAheadLog(dir)
    wal2.replay(replayed += _, (_, _, _) => ())
    assert(replayed.map(_.sequence) === Seq(1L))
    // and the log is clean for further appends after truncation
    wal2.appendEvent(StoredEvent(2L, "t", 0, "ccc".getBytes, 300L, None))
    wal2.close()
    val again = scala.collection.mutable.ArrayBuffer.empty[StoredEvent]
    val wal3  = new WriteAheadLog(dir)
    wal3.replay(again += _, (_, _, _) => ())
    assert(again.map(_.sequence) === Seq(1L, 2L))
  }

  test("a torn frame in a middle segment cuts it there and drops the later segments") {
    val dir = TestSpark.tempDir("graft-wal-tornmid-")
    val wal = new WriteAheadLog(dir)
    val hot = new HotBuffer(Some(wal))
    def write(n: Int): Unit = (1 to n).foreach(i => hot.write("t", 0, s"p$i".getBytes, 100L + i, None))
    write(2); hot.cleanup("t", Map.empty) // segment 1: events 1-2
    write(2); hot.cleanup("t", Map.empty) // segment 2: events 3-4
    write(1)                              // segment 3 (head): event 5
    wal.close()
    val Seq(_, mid, last) = segmentFiles(dir)
    // corrupt the payload of the middle segment's last frame (event 4)
    val bytes = Files.readAllBytes(mid)
    bytes(bytes.length - 1) = (bytes(bytes.length - 1) ^ 0xff).toByte
    Files.write(mid, bytes)
    val rebuilt = new HotBuffer(Some(new WriteAheadLog(dir)))
    assert(rebuilt.readPartition("t", 0, 0L, 10).map(_.sequence) === Seq(1L, 2L, 3L),
      "replay must stop at the torn frame: no sequence gap")
    assert(!Files.exists(last), "segments after the torn one must be deleted")
    assert(rebuilt.highWatermarks("t") === Map(0 -> 3L))
    assert(rebuilt.write("t", 0, "next".getBytes, 200L, None) === ((4L, false)))
  }

  test("a legacy single-file hot.wal with leading seq-marks replays whole") {
    // a compacted log of the single-file format: counters first, then the
    // live events
    val dir = TestSpark.tempDir("graft-wal-legacy-")
    val legacy = dir.resolve("hot.wal")
    val out = new java.io.DataOutputStream(Files.newOutputStream(legacy))
    def frame(body: java.io.DataOutputStream => Unit): Unit = {
      val b = new java.io.ByteArrayOutputStream(); val d = new java.io.DataOutputStream(b)
      body(d); d.flush()
      val crc = new java.util.zip.CRC32(); crc.update(b.toByteArray)
      out.writeInt(b.size()); out.writeLong(crc.getValue); out.write(b.toByteArray)
    }
    def mark(p: Int, s: Long) = frame { d => d.writeByte(1); d.writeUTF("t"); d.writeInt(p); d.writeLong(s) }
    def event(s: Long, key: Option[String]) = frame { d =>
      d.writeByte(0); d.writeUTF("t"); d.writeInt(0); d.writeLong(s); d.writeLong(1000L + s)
      d.writeBoolean(key.isDefined); key.foreach(d.writeUTF); d.writeInt(1); d.write('x')
    }
    mark(0, 5L); mark(1, 7L)
    event(6L, Some("k6")); event(7L, None)
    out.close()
    val hot = new HotBuffer(Some(new WriteAheadLog(dir)))
    assert(hot.readPartition("t", 0, 0L, 10).map(_.sequence) === Seq(6L, 7L))
    assert(hot.highWatermarks("t") === Map(0 -> 7L, 1 -> 7L))
    assert(hot.write("t", 0, "retry".getBytes, 2000L, Some("k6")) === ((6L, true)))
    assert(hot.write("t", 1, "next".getBytes, 2000L, None) === ((8L, false)))
    // once its events are committed, the legacy file is deleted like any segment
    hot.cleanup("t", Map(0 -> 7L))
    assert(!Files.exists(legacy))
  }

  test("S4: a chunked body without Content-Length cannot bypass the byte budget") {
    val dir = TestSpark.tempDir("graft-chunked-").toString
    val gw  = new GatewayServer(spark, dir, maxInflightBytes = 64 * 1024)
    val port = gw.start()
    try {
      val http = java.net.http.HttpClient.newHttpClient()
      // 1 MiB streamed body -> chunked transfer encoding, no Content-Length;
      // the server must charge incrementally and reject at the 64 KiB budget
      val resp = http.send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(s"http://127.0.0.1:$port/tables/chk"))
          .header("Content-Type", "application/json")
          .POST(java.net.http.HttpRequest.BodyPublishers.ofInputStream(() =>
            new java.io.ByteArrayInputStream(Array.fill[Byte](1 << 20)('x'))))
          .build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() === 503, s"got ${resp.statusCode()}: ${resp.body()}")
      assert(resp.body().contains("SERVER_OVERLOADED"))
    } finally gw.stop()
  }

  test("orphan GC: stale staging dirs are swept") {
    val root = TestSpark.tempDir("graft-sweep-").toString
    val stale = java.nio.file.Paths.get(root, ".staging", "dead-beef")
    Files.createDirectories(stale)
    Files.writeString(stale.resolve("part-0.parquet"), "x")
    Files.setLastModifiedTime(java.nio.file.Paths.get(root, ".staging", "dead-beef"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 2 * 3600 * 1000))
    assert(EventTable.sweepStaging(root) === 1)
    assert(!Files.exists(stale))
    // fresh staging dirs (an in-flight write) are left alone
    val fresh = java.nio.file.Paths.get(root, ".staging", "in-flight")
    Files.createDirectories(fresh)
    assert(EventTable.sweepStaging(root) === 0)
    assert(Files.exists(fresh))
  }

  test("segments left by a crash between roll and delete are replayed in order, and the next cleanup deletes them") {
    val dir = TestSpark.tempDir("graft-wal-rolled-")
    val wal = new WriteAheadLog(dir)
    (1 to 3).foreach { i =>
      wal.appendEvent(StoredEvent(i.toLong, "t", 0, s"p$i".getBytes, 100L + i, Some(s"k$i")))
      wal.roll(Map(("t", 0) -> i.toLong))
    }
    wal.close() // crash: rolled three times, nothing deleted
    assert(segmentFiles(dir).size === 4)
    val hot = new HotBuffer(Some(new WriteAheadLog(dir)))
    assert(hot.readPartition("t", 0, 0L, 10).map(_.sequence) === Seq(1L, 2L, 3L))
    assert(hot.write("t", 0, "retry".getBytes, 200L, Some("k2")) === ((2L, true)))
    hot.cleanup("t", Map(0 -> 3L))
    assert(segmentFiles(dir).size === 1, s"only the new head may remain: ${segmentFiles(dir)}")
    // the counter survives in the head's seq-marks
    val again = new HotBuffer(Some(new WriteAheadLog(dir)))
    assert(again.size("t") === 0)
    assert(again.write("t", 0, "next".getBytes, 300L, None) === ((4L, false)))
  }

  test("a steady write + flush loop keeps a bounded number of WAL segments") {
    Seq(0L, 2000L).foreach { retainMs =>
      val dir  = TestSpark.tempDir("graft-wal-bound-")
      val hot  = new HotBuffer(Some(new WriteAheadLog(dir)))
      var prev = Map.empty[Int, Long]
      (1 to 40).foreach { i =>
        (1 to 20).foreach(k => hot.write("t", k % 4, s"p$i-$k".getBytes, 1000L * i, None))
        // a flush commits what was acked before it started; later writes wait
        hot.cleanup("t", prev, retainMs, nowMs = 1000L * i)
        prev = hot.highWatermarks("t")
        val n = segmentFiles(dir).size
        assert(n <= 2 + retainMs / 1000L + 1, s"retainMs=$retainMs: $n segments after flush $i")
      }
    }
  }

  test("a future-dated event under retention does not keep WAL segments past retainMs") {
    val dir = TestSpark.tempDir("graft-wal-future-")
    val wal = new WriteAheadLog(dir)
    val hot = new HotBuffer(Some(wal))
    val (t0, retainMs) = (1000000L, 2000L)
    hot.write("t", 0, "future".getBytes, t0 + 86400000L, None)
    val futureSeg = segmentFiles(dir).last
    (1 to 5).foreach { i =>
      hot.write("t", 0, s"p$i".getBytes, t0, None)
      hot.cleanup("t", hot.highWatermarks("t"), retainMs, nowMs = t0 + 1000L * i)
    }
    assert(hot.readPartition("t", 0, 0L, 10).map(_.sequence) === Seq(1L),
      "the future-dated event stays hot in memory")
    assert(!Files.exists(futureSeg), "its segment is deleted once closed longer than retainMs")
    assert(segmentFiles(dir).size <= 2 + retainMs / 1000L)
    wal.close()
    // after a restart it is served cold only
    val restarted = new HotBuffer(Some(new WriteAheadLog(dir)))
    assert(!restarted.readPartition("t", 0, 0L, 10).exists(_.sequence == 1L))
  }

  test("bounded flush drains a backlog in multiple size-capped passes, sequences dense") {
    val dir = TestSpark.tempDir("graft-flushcap-").toString
    // ~100 B/event incl. overhead; cap one pass at ~1 KiB → several passes
    val gw = new GatewayServer(spark, dir, maxFlushBytes = 1024)
    (1 to 40).foreach(i => gw.hot.write("capt", i % 4, ("x" * 40).getBytes, 1000L + i, None))
    assert(gw.flushNow("capt").isDefined)
    val committed = EventTable.readCommitted(spark, s"$dir/capt")
    assert(committed.count() === 40)
    import org.apache.spark.sql.functions._
    committed.groupBy("partition")
      .agg(count(lit(1)).as("n"), min("sequence").as("mn"), max("sequence").as("mx"),
           countDistinct("sequence").as("nd"))
      .collect().foreach { r =>
        assert(r.getAs[Long]("mn") === 1L)
        assert(r.getAs[Long]("mx") === r.getAs[Long]("n"))
        assert(r.getAs[Long]("nd") === r.getAs[Long]("n"))
      }
    // the cap actually forced multiple snapshot commits
    val c = new graft.iceberg.IcebergCommitter(
      new graft.iceberg.LocalTableIO(s"$dir/capt"), "capt")
    assert(c.load().get.snapshots.size >= 3,
      s"expected several size-capped passes, got ${c.load().get.snapshots.size}")
    // nothing left pending
    assert(gw.hot.pendingForFlush("capt", c.maxCommittedSequencePerPartition()).isEmpty)
  }

  test("flush is tick-bounded: commits what was acked before the call, later arrivals wait") {
    val dir = TestSpark.tempDir("graft-flushtick-").toString
    val gw  = new GatewayServer(spark, dir)
    val stop    = new java.util.concurrent.atomic.AtomicBoolean(false)
    val written = new java.util.concurrent.atomic.AtomicLong(0)
    val failed  = new java.util.concurrent.atomic.AtomicReference[Throwable](null)
    // a producer that keeps posting for as long as the flush runs: an
    // unbounded drain would chase it and never return
    val writer = new Thread(() =>
      try while (!stop.get()) {
        val i = written.incrementAndGet()
        gw.hot.write("tickt", (i % 4).toInt, ("y" * 40).getBytes, 1000L + i, Some(s"k$i"))
        if (i % 20 == 0) Thread.sleep(1)
      } catch { case t: Throwable => failed.set(t) })
    writer.start()
    var before = Map.empty[Int, Long]
    try {
      while (written.get() < 500) Thread.sleep(5)
      before = gw.hot.highWatermarks("tickt")
      val call   = new Thread(() => try gw.flushNow("tickt") catch { case t: Throwable => failed.set(t) })
      call.start()
      call.join(120000)
      assert(!call.isAlive, "flushNow must return while the producer keeps posting")
      // events posted after the call returned are certainly past its bound
      val after = written.get()
      while (written.get() < after + 50) Thread.sleep(5)
    } finally { stop.set(true); writer.join() }
    assert(failed.get() == null, String.valueOf(failed.get()))

    val c    = new graft.iceberg.IcebergCommitter(new graft.iceberg.LocalTableIO(s"$dir/tickt"), "tickt")
    val wm   = c.maxCommittedSequencePerPartition()
    assert(before.forall { case (p, h) => wm.getOrElse(p, 0L) >= h },
      s"committed $wm must cover the marks read before the call $before")
    val high = gw.hot.highWatermarks("tickt")
    assert(high.exists { case (p, h) => h > wm.getOrElse(p, 0L) }, "later events must stay pending")
    val pending = gw.hot.pendingForFlush("tickt", wm)
    assert(pending.nonEmpty && pending.forall(e => e.sequence > wm.getOrElse(e.partition, 0L)))
    // the next call commits the rest: every written event exactly once,
    // sequences dense per partition
    gw.flushNow("tickt")
    val committed = EventTable.readCommitted(spark, s"$dir/tickt")
    assert(committed.count() === written.get())
    import org.apache.spark.sql.functions._
    committed.groupBy("partition")
      .agg(count(lit(1)).as("n"), min("sequence").as("mn"), max("sequence").as("mx"),
           countDistinct("sequence").as("nd"))
      .collect().foreach { r =>
        assert(r.getAs[Long]("mn") === 1L)
        assert(r.getAs[Long]("mx") === r.getAs[Long]("n"))
        assert(r.getAs[Long]("nd") === r.getAs[Long]("n"))
      }
  }
}
