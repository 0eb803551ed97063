package graft

import graft.serve._
import graft.table.EventTable
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** INV-2 analogue: a 202-acknowledged write survives a gateway crash (the
  * reference gets this from RocksDB's WAL, `rocksdb.rs:579-592`), and the
  * bounded flush loop drains a backlog in several size-capped passes with
  * dense sequences (the reference's `max_segment_size`,
  * `flusher/mod.rs:338-456`). */
class DurabilitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

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

  test("failed compaction swap: the WAL stays appendable and loses nothing") {
    // The swap closes the append stream before the atomic rename; if the
    // rename throws, the failure path must reopen the stream on the (still
    // intact) old log — without that, every later append hits a closed
    // stream and the gateway 500s all writes until restart.
    val dir = TestSpark.tempDir("graft-wal-swapfail-")
    val wal = new WriteAheadLog(dir)
    val e1  = StoredEvent(1L, "t", 0, "a".getBytes, 100L, None)
    val e2  = StoredEvent(2L, "t", 0, "b".getBytes, 101L, None)
    wal.appendEvent(e1)
    wal.failNextSwap = true
    intercept[java.io.IOException] { wal.compact(Map(("t", 0) -> 1L), Seq(e1)) }
    wal.appendEvent(e2) // would throw on a closed stream before the fix
    wal.close()
    val replayed = scala.collection.mutable.ArrayBuffer.empty[Long]
    new WriteAheadLog(dir).replay(e => replayed += e.sequence, (_, _, _) => ())
    assert(replayed.toSeq === Seq(1L, 2L), "both events must survive the failed swap")
    // and a later compaction over the same WAL succeeds normally
    val wal2 = new WriteAheadLog(dir)
    wal2.compact(Map(("t", 0) -> 2L), Seq(e2))
    val after = scala.collection.mutable.ArrayBuffer.empty[Long]
    wal2.close()
    new WriteAheadLog(dir).replay(e => after += e.sequence, (_, _, _) => ())
    assert(after.toSeq === Seq(2L))
  }

  test("torn WAL tail: replay keeps the intact prefix and drops the partial frame") {
    val dir = TestSpark.tempDir("graft-wal-torn-")
    val wal = new WriteAheadLog(dir)
    wal.appendEvent(StoredEvent(1L, "t", 0, "aaa".getBytes, 100L, Some("k1")))
    wal.appendEvent(StoredEvent(2L, "t", 0, "bbb".getBytes, 200L, None))
    wal.close()
    // simulate a crash mid-append: chop the last 3 bytes
    val log = dir.resolve("hot.wal")
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

  test("orphan GC: stale staging dirs and WAL compact tmps are swept") {
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

    val walDir = TestSpark.tempDir("graft-walsweep-")
    Files.writeString(walDir.resolve("hot.wal.compact.abc"), "garbage")
    new WriteAheadLog(walDir).close()
    assert(!Files.exists(walDir.resolve("hot.wal.compact.abc")),
      "stale compact tmp must be swept on open")
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
