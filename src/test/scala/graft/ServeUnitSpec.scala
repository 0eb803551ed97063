package graft

import org.scalatest.funsuite.AnyFunSuite

/** The runnable-server wiring: reference-parity env config and the flusher
  * timer loop driving periodic commits. */
class ServeMainSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("env config parses with the reference's names and defaults") {
    val d = graft.serve.Serve.config(Map.empty)
    assert(d.port === 8080 && d.flushIntervalSecs === 300L &&
      d.maxInflight === 10000 && d.maxInflightBytes === 64L * 1024 * 1024)
    val c = graft.serve.Serve.config(Map(
      "ZOMBI_PORT" -> "9090", "ZOMBI_DATA_DIR" -> "/tmp/x",
      "ZOMBI_FLUSH_INTERVAL_SECS" -> "5", "ZOMBI_HOT_RETENTION_SECS" -> "60",
      "ZOMBI_MAX_INFLIGHT_WRITES" -> "123", "ZOMBI_MAX_INFLIGHT_BYTES_MB" -> "1"))
    assert(c.port === 9090 && c.dataDir === "/tmp/x" && c.flushIntervalSecs === 5L)
    assert(c.retentionMs === 60000L && c.maxInflight === 123 && c.maxInflightBytes === 1048576L)
  }

  test("F1: the flush daemon commits hot topics on its interval") {
    val dir = TestSpark.tempDir("graft-daemon-").toString
    val gw  = new graft.serve.GatewayServer(spark, dir)
    (1 to 5).foreach(i => gw.hot.write("dt", i % 2, s"p$i".getBytes, 1000L + i, None))
    val daemon = graft.serve.Serve.flushDaemon(gw, intervalMs = 300L)
    daemon.start()
    try {
      val deadline = System.currentTimeMillis() + 30000
      def committed(): Long =
        try graft.table.EventTable.readCommitted(spark, s"$dir/dt").count()
        catch { case _: Exception => 0L }
      while (committed() < 5L && System.currentTimeMillis() < deadline) Thread.sleep(200)
      assert(committed() === 5L, "the timer loop must flush without an explicit request")
    } finally daemon.interrupt()
  }
}

import graft.serve._
import org.scalatest.funsuite.AnyFunSuite

/** Unit coverage for the serving layer: hot buffer, proto codec,
  * content negotiation, retry classification, metrics rendering. */
class ServeUnitSpec extends AnyFunSuite {

  test("hot buffer: sequences are per-partition monotonic; duplicates keep the original offset") {
    val h = new HotBuffer
    assert(h.write("t", 0, "a".getBytes, 1, Some("k1"))._1 === 1L)
    assert(h.write("t", 0, "b".getBytes, 2, Some("k2"))._1 === 2L)
    assert(h.write("t", 1, "c".getBytes, 3, None)._1 === 1L)
    val (off, dup) = h.write("t", 0, "retry".getBytes, 4, Some("k1"))
    assert((off, dup) === (1L, true))
    assert(h.highWatermarks("t") === Map(0 -> 2L, 1 -> 1L))
  }

  test("hot buffer: seeded watermarks continue numbering; cleanup respects retention") {
    val h = new HotBuffer
    h.seed("t", Map(0 -> 100L))
    assert(h.write("t", 0, "x".getBytes, 1000, None)._1 === 101L)
    h.write("t", 0, "y".getBytes, 5000, None)
    // watermark covers both, but the second is inside the retention window
    val evicted = h.cleanup("t", Map(0 -> 102L), retainMs = 2000, nowMs = 6000)
    assert(evicted === 1)
    assert(h.readPartition("t", 0, 0L, 10).map(_.sequence) === Seq(102L))
  }

  test("hot buffer: flush input is bounded by the captured marks, which spend no budget") {
    val h = new HotBuffer
    (1 to 10).foreach(i => h.write("t", 0, "x".getBytes, i, None))
    (1 to 3).foreach(i => h.write("t", 1, "y".getBytes, i, None))
    val upTo = Some(Map(0 -> 6L, 1 -> 3L))
    def seqs(committed: Map[Int, Long], maxBytes: Long) =
      h.pendingForFlush("t", committed, maxBytes, upTo).map(e => (e.partition, e.sequence))
    assert(seqs(Map(0 -> 3L), Long.MaxValue) === Seq((0, 4L), (0, 5L), (0, 6L), (1, 1L), (1, 2L), (1, 3L)))
    // a 5-event budget (65 B each): partition 0's events past its mark
    // must not use it up before partition 1 is reached
    assert(seqs(Map(0 -> 3L), 5 * 65L) === Seq((0, 4L), (0, 5L), (0, 6L), (1, 1L), (1, 2L)))
    assert(seqs(Map(0 -> 6L, 1 -> 3L), Long.MaxValue).isEmpty)
  }

  test("hot buffer: merged read is time-ordered with since filter and limit") {
    val h = new HotBuffer
    h.write("t", 0, "a".getBytes, 30, None)
    h.write("t", 1, "b".getBytes, 10, None)
    h.write("t", 0, "c".getBytes, 20, None)
    assert(h.readAll("t", None, 10).map(_.timestampMs) === Seq(10L, 20L, 30L))
    assert(h.readAll("t", Some(15), 1).map(_.timestampMs) === Seq(20L))
  }

  test("proto codec: Event round-trip; zero timestamp and empty key semantics") {
    val e = ProtoCodec.decodeEvent(ProtoCodec.encodeEvent(
      ProtoCodec.ProtoEvent("payload".getBytes, 1234L, Some("key"))))
    assert(new String(e.payload) === "payload")
    assert(e.timestampMs === 1234L)
    assert(e.idempotencyKey === Some("key"))
    val zero = ProtoCodec.decodeEvent(ProtoCodec.encodeEvent(ProtoCodec.ProtoEvent("p".getBytes, 0L, None)))
    assert(zero.timestampMs === 0L) // caller substitutes server time
    assert(zero.idempotencyKey === None)
  }

  test("proto codec: bulk request round-trip and unknown-field skipping") {
    val recs = Seq(
      ProtoCodec.ProtoBulkRecord("a".getBytes, 3, 10L, Some("k")),
      ProtoCodec.ProtoBulkRecord("b".getBytes, 0, 0L, None)
    )
    val back = ProtoCodec.decodeBulkRequest(ProtoCodec.encodeBulkRequest(recs))
    assert(back.map(r => (new String(r.payload), r.partition, r.timestampMs, r.idempotencyKey)) ===
      Seq(("a", 3, 10L, Some("k")), ("b", 0, 0L, None)))
    intercept[ProtoCodec.ProtoError](ProtoCodec.decodeEvent(Array[Byte](0x0a, 0x7f)))
  }

  test("content negotiation honors q-values and falls back to 406") {
    import ArrowOutput.negotiate
    assert(negotiate(None) === Some("application/json"))
    assert(negotiate(Some("application/json")) === Some("application/json"))
    assert(negotiate(Some("application/vnd.apache.arrow.stream")) === Some("application/vnd.apache.arrow.stream"))
    assert(negotiate(Some("application/json;q=0.5, application/vnd.apache.arrow.stream;q=0.9")) ===
      Some("application/vnd.apache.arrow.stream"))
    assert(negotiate(Some("*/*")) === Some("application/json"))
    assert(negotiate(Some("text/csv")) === None)
    assert(negotiate(Some("application/json;q=0")) === None)
  }

  test("retry: retryable statuses retried with backoff, 4xx fails fast") {
    var calls = 0
    val slept = scala.collection.mutable.ArrayBuffer.empty[Long]
    val res = Retry.withRetry(Retry.Config(maxAttempts = 5, baseDelayMs = 10, maxDelayMs = 100), slept += _)(
      () => { calls += 1; if (calls < 3) 503 else 200 }, Retry.isRetryableStatus)
    assert(res === 200 && calls === 3)
    assert(slept.size === 2 && slept.forall(_ >= 1))

    calls = 0
    val bad = Retry.withRetry(Retry.Config(maxAttempts = 5, baseDelayMs = 1, maxDelayMs = 2), _ => ())(
      () => { calls += 1; 404 }, Retry.isRetryableStatus)
    assert(bad === 404 && calls === 1)
  }

  test("metrics render Prometheus counters and cumulative histogram buckets") {
    val m = new Metrics
    m.inc("x_total"); m.inc("x_total")
    m.observeMs("lat_ms", 3.0); m.observeMs("lat_ms", 700.0)
    m.gauge("g")(42.0)
    val txt = m.render()
    assert(txt.contains("x_total 2"))
    assert(txt.contains("g 42.0"))
    assert(txt.contains("""lat_ms_bucket{le="5.0"} 1"""))
    assert(txt.contains("""lat_ms_bucket{le="+Inf"} 2"""))
    assert(txt.contains("lat_ms_count 2"))
  }

  test("arrow events encoder round-trips all known columns including nulls") {
    val events = Seq(
      StoredEvent(1L, "t", 0, "p1".getBytes, 100L, Some("k")),
      StoredEvent(2L, "t", 1, "p2".getBytes, 200L, None)
    )
    val bytes        = ArrowOutput.encodeEvents(events, ArrowOutput.KnownColumns)
    val (cols, rows) = ArrowOutput.decode(bytes)
    assert(cols === ArrowOutput.KnownColumns)
    assert(rows.size === 2)
    assert(rows.head.getLong(0) === 1L)
    assert(rows.head.getString(1) === "t")
    assert(rows(1).get(5) === null)
    intercept[ArrowOutput.UnknownColumn](ArrowOutput.validateProjection(Seq("nope")))
  }
}
