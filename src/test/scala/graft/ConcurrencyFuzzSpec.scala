package graft

import graft.serve.{HotBuffer, ProtoCodec}
import graft.table.EventTable
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.Executors
import scala.jdk.CollectionConverters._

/** L3 concurrency + L6 fuzz analogues of the reference's
  * `tests/concurrency_tests.rs` and its three fuzz targets. */
class ConcurrencyFuzzSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("L3: parallel writes assign dense, unique sequences per partition") {
    val h    = new HotBuffer
    val pool = Executors.newFixedThreadPool(8)
    try {
      val futures = (0 until 8).map { t =>
        pool.submit(new Runnable {
          override def run(): Unit =
            (0 until 200).foreach(i => h.write("t", i % 4, s"$t-$i".getBytes, i.toLong, None))
        })
      }
      futures.foreach(_.get())
    } finally pool.shutdown()
    (0 until 4).foreach { p =>
      val seqs = h.readPartition("t", p, 0L, 10000).map(_.sequence)
      assert(seqs.size === 400)
      assert(seqs.distinct.size === 400)
      assert(seqs.max === 400L)
    }
  }

  test("L3: concurrent HTTP writes through the gateway stay consistent") {
    val gw   = new graft.serve.GatewayServer(spark, TestSpark.tempDir("graft-conc-").toString)
    val port = gw.start()
    val pool = Executors.newFixedThreadPool(8)
    try {
      val futures = (0 until 8).map { t =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            val http = HttpClient.newHttpClient()
            (0 until 25).foreach { i =>
              val r = http.send(
                HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/tables/conc"))
                  .header("Content-Type", "application/json")
                  .POST(HttpRequest.BodyPublishers.ofString(s"""{"payload":"$t-$i","partition":0,"timestamp_ms":$i}"""))
                  .build(),
                HttpResponse.BodyHandlers.ofString())
              assert(r.statusCode() === 202)
            }
          }
        })
      }
      futures.foreach(_.get())
      val seqs = gw.hot.readPartition("conc", 0, 0L, 10000).map(_.sequence)
      assert(seqs.size === 200)
      assert(seqs.distinct.size === 200)
      assert(seqs.max === 200L)
    } finally { pool.shutdown(); gw.stop() }
  }

  test("L3: concurrent flush and compact on one table never lose or duplicate rows") {
    val dir  = TestSpark.tempDir("graft-fc-race-").toString
    val gw   = new graft.serve.GatewayServer(spark, dir)
    val port = gw.start()
    val http = HttpClient.newHttpClient()
    def post(path: String): Int = http.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .POST(HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.ofString()).statusCode()
    try {
      // seed a fragmented table so compaction has candidates
      (0 until 100).foreach(i => gw.hot.write("ct", i % 4, s"seed$i".getBytes, 1000L + i, None))
      gw.flushNow("ct")
      val pool = Executors.newFixedThreadPool(2)
      val flusher = pool.submit(new Runnable {
        override def run(): Unit = (0 until 10).foreach { r =>
          (0 until 20).foreach(i => gw.hot.write("ct", i % 4, s"w$r-$i".getBytes, 2000L + r * 100 + i, None))
          assert(post("/tables/ct/flush") === 200)
        }
      })
      val compactor = pool.submit(new Runnable {
        override def run(): Unit = (0 until 10).foreach { _ =>
          val code = post("/tables/ct/compact")
          assert(code == 200 || code == 409, s"unexpected compact status $code")
          Thread.sleep(20)
        }
      })
      flusher.get(); compactor.get(); pool.shutdown()
      gw.flushNow("ct")

      val committed = EventTable.readCommitted(spark, s"$dir/ct")
      assert(committed.count() === 300L, "no concurrent interleaving may lose or duplicate rows")
      assert(committed.select("partition", "sequence").distinct().count() === 300L)
      // every file the current snapshot references must physically exist
      // (the old rollback race deleted a concurrent flush's files)
      val c = new graft.iceberg.IcebergCommitter(
        new graft.iceberg.LocalTableIO(s"$dir/ct"), "ct")
      val missing = c.activeDataFiles().filterNot(f =>
        java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/ct", f.filePath)))
      assert(missing.isEmpty, s"snapshot references missing files: ${missing.map(_.filePath)}")
    } finally gw.stop()
  }

  test("L3/L6: racing committers + torn-file chaos — every reported commit survives, versions stay parseable") {
    import graft.iceberg._
    val root  = TestSpark.tempDir("graft-cas-fuzz-").toString
    val local = new LocalTableIO(root)
    def df(path: String, records: Long): DataFile =
      DataFile(0, path, "PARQUET", records, records * 100,
        Map(FieldIds.Partition -> Bounds.encodeInt(0), FieldIds.Sequence -> Bounds.encodeLong(1L)),
        Map(FieldIds.Partition -> Bounds.encodeInt(0), FieldIds.Sequence -> Bounds.encodeLong(records)))
    val committed = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    // chaos: a dead writer keeps leaving torn metadata at the next version
    val chaos = new Thread(() => {
      val c = new IcebergCommitter(local, "t")
      while (!stop.get()) {
        val v = c.currentVersion() + 1
        try local.putIfAbsent(c.versionFile(v), s"""{"torn-prefix-$v":""".getBytes("UTF-8"))
        catch { case _: Exception => () }
        Thread.sleep(3)
      }
    })
    chaos.setDaemon(true); chaos.start()
    val pool = Executors.newFixedThreadPool(4)
    try {
      val futures = (0 until 4).map { t =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            val c = new IcebergCommitter(local, "t") // one committer per "process"
            (0 until 15).foreach { i =>
              val path = s"data/partition=0/f-$t-$i.parquet"
              var done = false
              var tries = 0
              while (!done && tries < 50) {
                try { c.commitAppend(Seq(df(path, 1))); committed.add(path); done = true }
                catch { case _: CommitConflict => tries += 1 }
              }
              assert(done, s"writer $t starved on commit $i")
            }
          }
        })
      }
      futures.foreach(_.get())
    } finally { stop.set(true); pool.shutdown() }
    // every commit that REPORTED success is in the final table state, and
    // the whole version chain resolves despite the torn-file chaos
    val fin = new IcebergCommitter(local, "t")
    val active = fin.activeDataFiles().map(_.filePath).toSet
    assert(committed.asScala.toSet.subsetOf(active),
      s"lost commits: ${committed.asScala.toSet -- active}")
    assert(active.size === committed.size)
    assert(fin.load().get.snapshots.size === committed.size)
  }

  test("L6 fuzz: arbitrary bytes never crash the proto decoder unexpectedly") {
    val prop = Prop.forAll(Gen.containerOf[Array, Byte](Gen.chooseNum(Byte.MinValue, Byte.MaxValue))) { bytes =>
      def safe(f: => Any): Boolean =
        try { f; true } catch { case _: ProtoCodec.ProtoError => true; case _: Throwable => false }
      safe(ProtoCodec.decodeEvent(bytes)) &&
      safe(ProtoCodec.decodeBulkRequest(bytes))
    }
    assert(SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop).passed)
  }

  test("L6 fuzz: proto round-trip is lossless for arbitrary payload/key/ts (property)") {
    val gen = for {
      payload <- Gen.containerOf[Array, Byte](Gen.chooseNum(Byte.MinValue, Byte.MaxValue))
      ts      <- Gen.chooseNum(0L, Long.MaxValue)
      key     <- Gen.option(Gen.alphaNumStr.suchThat(_.nonEmpty))
      part    <- Gen.chooseNum(0, Int.MaxValue)
    } yield (payload, ts, key, part)
    val prop = Prop.forAll(gen) { case (payload, ts, key, part) =>
      val e = ProtoCodec.decodeEvent(ProtoCodec.encodeEvent(ProtoCodec.ProtoEvent(payload, ts, key)))
      val b = ProtoCodec.decodeBulkRequest(
        ProtoCodec.encodeBulkRequest(Seq(ProtoCodec.ProtoBulkRecord(payload, part, ts, key)))).head
      e.payload.sameElements(payload) && e.timestampMs == ts && e.idempotencyKey == key &&
      b.payload.sameElements(payload) && b.partition == part && b.idempotencyKey == key
    }
    assert(SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(100), prop).passed)
  }

  test("L6 fuzz: table-name validation accepts exactly the reference pattern") {
    val valid   = Gen.identifier.map(_.take(64)).suchThat(s => s.nonEmpty && s.head.isLetter)
    val invalid = Gen.oneOf("", "9start", "has space", "a" * 129, "dot.ted", "sla/sh")
    val re      = "^[a-zA-Z][a-zA-Z0-9_-]{0,127}$".r
    val prop = Prop.forAll(valid)(s => re.findFirstIn(s).isDefined) &&
      Prop.forAll(invalid)(s => re.findFirstIn(s).isEmpty)
    assert(SCTest.check(SCTest.Parameters.default, prop).passed)
  }
}
