package graft.serve

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import scala.jdk.CollectionConverters._

/** Gateway load harness — the L5 tier of the reference's test pyramid
  * (`/root/reference/testing_strategy.md:496-575`, `tools/zombi_load.py`):
  * sustained HTTP load against the WHOLE serving path (gateway → admission
  * → hot buffer [+WAL] → flush → snapshot commit), reporting ev/s and
  * p50/p99 latency per scenario. The in-JVM storage hot path alone is
  * timed by perfbench's `serve.hot.write_bulk_us_p50` and
  * `serve.wal.append_us_p50`.
  *
  * Scenarios mirror the reference's no-S3 set:
  *
  * | scenario        | reference analogue | verifies                       |
  * |-----------------|--------------------|--------------------------------|
  * | single-write    | `single-write`     | single-event POST throughput   |
  * | bulk-write      | `bulk-write`       | bulk JSON throughput           |
  * | bulk-write-pb   | `peak-bulk`        | bulk protobuf throughput       |
  * | read-throughput | `read-throughput`  | hot offset-range GET           |
  * | write-read-lag  | `write-read-lag`   | write→read visibility latency  |
  * | mixed-workload  | `mixed-workload`   | 70/30 write/read concurrency   |
  * | burst           | burst producer     | duty-cycle on/off load drains; |
  * |                 | (backpressure ph1) | worst-cycle p99 stays bounded  |
  * | sustained-soak  | `stress` profile   | 2nd half holds ≥60% ev/s, p99  |
  * |                 |                    | within 5× on identical load    |
  * | partition-skew  | hot-partition prod | single-partition ceiling +     |
  * |                 |                    | dense monotone order survives  |
  * | backpressure    | `backpressure`     | 503 under overload + recovery  |
  * | consistency     | `consistency`      | INV-2 no loss, INV-3 order,    |
  * |                 |                    | flush → cold read converges    |
  *
  * Run standalone (spins an in-process gateway + local Spark):
  * {{{ sbt "runMain graft.serve.LoadHarness --profile quick --seconds 10" }}}
  * or against a live server: {{{ --url http://host:8080 }}}.
  * Prints one JSON line per scenario and exits non-zero if consistency or
  * recovery fails.
  */
object LoadHarness {
  final case class Result(scenario: String, seconds: Double, requests: Long, events: Long,
                          errors: Long, rejected503: Long, p50Ms: Double, p99Ms: Double,
                          ok: Boolean, note: String = "", minMs: Double = 0) {
    def evPerSec: Long = if (seconds <= 0) 0 else (events / seconds).toLong
    def json: String = {
      val n = if (note.isEmpty) "" else s""","note":"$note""""
      f"""{"scenario":"$scenario","seconds":$seconds%.2f,"requests":$requests,"events":$events,""" +
        f""""ev_per_sec":$evPerSec,"min_ms":$minMs%.2f,"p50_ms":$p50Ms%.2f,"p99_ms":$p99Ms%.2f,""" +
        f""""errors":$errors,"rejected_503":$rejected503,"ok":$ok$n}"""
    }
  }

  private val payload = "x" * 100 // ~100 B events, the reference's default shape

  private def client(threads: Int): HttpClient =
    HttpClient.newBuilder().executor(java.util.concurrent.Executors.newFixedThreadPool(threads,
      (r: Runnable) => { val t = new Thread(r); t.setDaemon(true); t } // let the JVM exit after main
    )).build()

  private def post(c: HttpClient, url: String, body: Array[Byte],
                   contentType: String = "application/json"): HttpResponse[String] =
    c.send(HttpRequest.newBuilder(URI.create(url))
        .header("Content-Type", contentType)
        .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def get(c: HttpClient, url: String): HttpResponse[String] =
    c.send(HttpRequest.newBuilder(URI.create(url)).GET().build(), HttpResponse.BodyHandlers.ofString())

  /** Timed closed-loop worker pool: each of `concurrency` threads issues
    * `op(threadId, i)` back-to-back until the deadline; per-op latency is
    * recorded locally and merged for percentiles (no coordination in the
    * hot loop). `op` returns (events, isError, is503). */
  private def loop(scenario: String, seconds: Int, concurrency: Int)
                  (op: (Int, Long) => (Long, Boolean, Boolean)): Result = {
    val stop     = new AtomicBoolean(false)
    val events   = new AtomicLong(0)
    val errors   = new AtomicLong(0)
    val rejected = new AtomicLong(0)
    val requests = new AtomicLong(0)
    val lats     = new java.util.concurrent.ConcurrentLinkedQueue[Array[Long]]()
    val t0 = System.nanoTime()
    val threads = (0 until concurrency).map { tid =>
      val t = new Thread(() => {
        val local = scala.collection.mutable.ArrayBuffer.empty[Long]
        var i = 0L
        while (!stop.get()) {
          val s = System.nanoTime()
          try {
            val (ev, err, r503) = op(tid, i)
            local += System.nanoTime() - s
            requests.incrementAndGet()
            events.addAndGet(ev)
            if (err) errors.incrementAndGet()
            if (r503) rejected.incrementAndGet()
          } catch { case _: Exception => errors.incrementAndGet() }
          i += 1
        }
        lats.add(local.toArray)
      })
      t.setDaemon(true); t.start(); t
    }
    Thread.sleep(seconds * 1000L)
    stop.set(true)
    threads.foreach(_.join(10000))
    val sec = (System.nanoTime() - t0) / 1e9
    val all = lats.asScala.toArray.flatten.sorted
    def pct(p: Double): Double =
      if (all.isEmpty) 0 else all(math.min(all.length - 1, (all.length * p).toInt)) / 1e6
    Result(scenario, sec, requests.get(), events.get(), errors.get(), rejected.get(),
           pct(0.50), pct(0.99), ok = errors.get() == 0, minMs = pct(0.0))
  }

  private def singleBody(part: Int, key: String): Array[Byte] =
    s"""{"payload":"$payload","partition":$part,"timestamp_ms":${System.currentTimeMillis()},"idempotency_key":"$key"}"""
      .getBytes("UTF-8")

  private def bulkJsonBody(tid: Int, i: Long, n: Int): Array[Byte] = {
    val recs = (0 until n).map { j =>
      s"""{"payload":"$payload","partition":${j % 8},"timestamp_ms":${System.currentTimeMillis()},"idempotency_key":"lb-$tid-$i-$j"}"""
    }
    s"""{"records":[${recs.mkString(",")}]}""".getBytes("UTF-8")
  }

  private def bulkProtoBody(tid: Int, i: Long, n: Int): Array[Byte] =
    ProtoCodec.encodeBulkRequest((0 until n).map(j => ProtoCodec.ProtoBulkRecord(
      payload = payload.getBytes("UTF-8"), partition = j % 8,
      timestampMs = System.currentTimeMillis(), idempotencyKey = Some(s"pb-$tid-$i-$j"))))

  // ---------------------------------------------------------------- scenarios

  def singleWrite(base: String, table: String, seconds: Int, concurrency: Int): Result = {
    val c = client(concurrency)
    loop("single-write", seconds, concurrency) { (tid, i) =>
      val r = post(c, s"$base/tables/$table", singleBody((i % 8).toInt, s"sw-$tid-$i"))
      (1L, r.statusCode() != 202, r.statusCode() == 503)
    }
  }

  def bulkWrite(base: String, table: String, seconds: Int, concurrency: Int,
                proto: Boolean = false, perReq: Int = 100): Result = {
    val c = client(concurrency)
    val (name, ct) =
      if (proto) ("bulk-write-pb", "application/x-protobuf") else ("bulk-write", "application/json")
    loop(name, seconds, concurrency) { (tid, i) =>
      val body = if (proto) bulkProtoBody(tid, i, perReq) else bulkJsonBody(tid, i, perReq)
      val r = post(c, s"$base/tables/$table/bulk", body, ct)
      (perReq.toLong, r.statusCode() != 202, r.statusCode() == 503)
    }
  }

  def readThroughput(base: String, table: String, seconds: Int, concurrency: Int): Result = {
    val c = client(concurrency)
    loop("read-throughput", seconds, concurrency) { (tid, i) =>
      val r = get(c, s"$base/tables/$table?partition=${i % 8}&offset=${(i * 7) % 1000}&limit=100")
      (0L, r.statusCode() != 200, false)
    }
  }

  def writeReadLag(base: String, table: String, seconds: Int): Result = {
    val c = client(2)
    loop("write-read-lag", seconds, concurrency = 1) { (tid, i) =>
      val part = (i % 8).toInt
      val w = post(c, s"$base/tables/$table", singleBody(part, s"lag-$tid-$i"))
      if (w.statusCode() != 202) (0L, true, w.statusCode() == 503)
      else {
        val off = w.body().split("\"offset\":")(1).takeWhile(ch => ch.isDigit || ch == '-').toLong
        var visible = false
        var spins   = 0
        while (!visible && spins < 1000) {
          visible = get(c, s"$base/tables/$table?partition=$part&offset=$off&limit=1").body().contains("\"sequence\"")
          spins += 1
        }
        (1L, !visible, false) // latency recorded by loop() covers write→visible
      }
    }
  }

  def mixedWorkload(base: String, table: String, seconds: Int, concurrency: Int): Result = {
    val c = client(concurrency)
    loop("mixed-workload", seconds, concurrency) { (tid, i) =>
      if (i % 10 < 7) {
        val r = post(c, s"$base/tables/$table", singleBody((i % 8).toInt, s"mx-$tid-$i"))
        (1L, r.statusCode() != 202, r.statusCode() == 503)
      } else {
        val r = get(c, s"$base/tables/$table?partition=${i % 8}&limit=100")
        (0L, r.statusCode() != 200, false)
      }
    }
  }

  /** Overload phase must surface 503s (S4 admission), and plain writes must
    * succeed immediately after — the reference's two-phase `backpressure`.
    * `requireRejects` only when the target's admission budgets are sized to
    * be saturable from this client (the standalone small-budget gateway):
    * against a production-budget `--url` server, a single-machine client
    * cannot reach overload, so zero 503s there is expected, not a failure. */
  def backpressure(base: String, table: String, seconds: Int, concurrency: Int,
                   requireRejects: Boolean = true): Result = {
    val c = client(concurrency * 2)
    val big = loop("backpressure", math.max(1, seconds / 2), concurrency * 2) { (tid, i) =>
      val r = post(c, s"$base/tables/$table/bulk", bulkJsonBody(tid, i, 2000))
      (if (r.statusCode() == 202) 2000L else 0L, r.statusCode() != 202 && r.statusCode() != 503,
       r.statusCode() == 503)
    }
    // recovery: the next plain writes must all be admitted
    val rec = (0 until 20).forall { i =>
      post(c, s"$base/tables/$table", singleBody(i % 8, s"rec-$i")).statusCode() == 202
    }
    // overload SHOULD produce 503s (when saturable), and the server must
    // recover; client-side connection errors under deliberate overload are
    // expected, not failures
    big.copy(ok = (big.rejected503 > 0 || !requireRejects) && rec,
             note = s"rejected=${big.rejected503} recovered=$rec")
  }

  /** Duty-cycle burst load (the reference's burst-producer shape —
    * `tools/scenarios/backpressure.py` phase 1 run as repeated on/off
    * cycles rather than one sustained ramp): bulk writes at double
    * concurrency for an on-phase, then a full idle gap, repeated. What it
    * catches that sustained load can't: admission/queue state must DRAIN
    * during the gap — a server that survives sustained load by letting a
    * queue grow shows compounding p99 across cycles. Reported percentiles
    * are the WORST cycle's (merging percentiles across phases underreports
    * exactly the degradation this scenario hunts); ev/s is the duty-cycle
    * average including gaps. 503 shedding is admission working, not an
    * error. */
  def burst(base: String, table: String, seconds: Int, concurrency: Int): Result = {
    val c = client(concurrency * 2)
    val phaseSec = 2
    val cycles   = math.max(2, seconds / (phaseSec * 2))
    val t0 = System.nanoTime()
    val phases = (0 until cycles).map { i =>
      val r = loop("burst", phaseSec, concurrency * 2) { (tid, i) =>
        val resp = post(c, s"$base/tables/$table/bulk", bulkJsonBody(tid, i, 500))
        (if (resp.statusCode() == 202) 500L else 0L,
         resp.statusCode() != 202 && resp.statusCode() != 503, resp.statusCode() == 503)
      }
      // no idle gap after the LAST on-phase: the trailing sleep belongs to
      // no cycle and would deflate the duty-cycle ev/s
      if (i < cycles - 1) Thread.sleep(phaseSec * 1000L)
      r
    }
    val sec = (System.nanoTime() - t0) / 1e9
    // the drain gate: a server absorbing bursts into a growing queue shows
    // compounding p99 cycle over cycle — the LAST cycle must stay within
    // 5x the first (plus a 100 ms floor against short-cycle noise)
    val drained = phases.size < 2 ||
      phases.last.p99Ms <= phases.head.p99Ms * 5 + 100
    // percentiles come from the single worst-p99 cycle (p50 and p99 from
    // the SAME cycle — independent maxes could mix two different cycles
    // into a latency profile no cycle actually had)
    val worst = phases.maxBy(_.p99Ms)
    Result("burst", sec, phases.map(_.requests).sum, phases.map(_.events).sum,
           phases.map(_.errors).sum, phases.map(_.rejected503).sum,
           worst.p50Ms, worst.p99Ms,
           ok = phases.map(_.errors).sum == 0 && drained,
           note = f"cycles=$cycles on/off=${phaseSec}s/${phaseSec}s worst_cycle_p99=${worst.p99Ms}%.2f drained=$drained",
           minMs = phases.map(_.minMs).min)
  }

  /** Sustained soak, split into halves: the second half must hold ≥60% of
    * the first half's throughput and its p99 must stay within 5× — the
    * degradation signature of a leak (hot-buffer growth, WAL fsync queue,
    * lock convoy) is a second half that is measurably worse than the
    * first on IDENTICAL load. Percentiles reported are the second
    * (aged) half's — those are the ones a long-running deployment lives
    * with. */
  def soak(base: String, table: String, seconds: Int, concurrency: Int): Result = {
    val c = client(concurrency)
    def half(tag: String, sec: Int): Result = loop("sustained-soak", sec, concurrency) { (tid, i) =>
      val r = post(c, s"$base/tables/$table", singleBody((i % 8).toInt, s"soak-$tag-$tid-$i"))
      (1L, r.statusCode() != 202, r.statusCode() == 503)
    }
    val h1 = half("a", seconds / 2)
    val h2 = half("b", seconds - seconds / 2)
    val holdRate = h1.evPerSec == 0 || h2.evPerSec >= h1.evPerSec * 0.6
    val holdP99  = h1.p99Ms <= 0 || h2.p99Ms <= h1.p99Ms * 5
    Result("sustained-soak", h1.seconds + h2.seconds, h1.requests + h2.requests,
           h1.events + h2.events, h1.errors + h2.errors, h1.rejected503 + h2.rejected503,
           h2.p50Ms, h2.p99Ms,
           ok = h1.errors + h2.errors == 0 && holdRate && holdP99,
           note = s"ev_s_half1=${h1.evPerSec} ev_s_half2=${h2.evPerSec} hold=$holdRate p99_hold=$holdP99",
           minMs = math.min(h1.minMs, h2.minMs))
  }

  /** Hot-partition write skew: every worker hammers partition 0 — the
    * write-side twin of a skewed shuffle key. Sequence assignment is
    * serial PER PARTITION, so this measures the single-partition ceiling
    * (the uniform scenarios spread that serialization over 8 partitions),
    * and the order invariant must survive the contention: offsets on the
    * hot partition read back dense and monotone from 0. */
  def partitionSkew(base: String, table: String, seconds: Int, concurrency: Int): Result = {
    val c = client(concurrency)
    val r = loop("partition-skew", seconds, concurrency) { (tid, i) =>
      val resp = post(c, s"$base/tables/$table", singleBody(0, s"ps-$tid-$i"))
      (1L, resp.statusCode() != 202, resp.statusCode() == 503)
    }
    // density check from wherever the page starts — offset 0 may have been
    // hot-retention-evicted under this volume, which is correct behavior
    val b = get(c, s"$base/tables/$table?partition=0&limit=100&fields=sequence").body()
    val seqs = "\"sequence\":(\\d+)".r.findAllMatchIn(b).map(_.group(1).toLong).toSeq
    val ordered = seqs.nonEmpty && seqs == (seqs.head until seqs.head + seqs.size)
    r.copy(ok = r.errors == 0 && ordered, note = s"hot=p0 ordered=$ordered")
  }

  /** INV-2/INV-3 + flush: write a known set, verify the hot read returns
    * every event in arrival order per partition, then force flush+commit
    * and verify the cold tier converges to the same count. */
  def consistency(base: String, table: String, perPartition: Int): Result = {
    val c  = client(8)
    val t0 = System.nanoTime()
    val parts = 0 until 8
    var errors = 0L
    parts.foreach { p =>
      val recs = (0 until perPartition).map(j =>
        s"""{"payload":"c-$p-$j","partition":$p,"timestamp_ms":${1700000000000L + j},"idempotency_key":"cs-$p-$j"}""")
      if (post(c, s"$base/tables/$table/bulk", s"""{"records":[${recs.mkString(",")}]}""".getBytes("UTF-8"))
            .statusCode() != 202) errors += 1
    }
    // INV-2 + INV-3 on the hot tier: dense offsets, arrival order
    val hotOk = parts.forall { p =>
      val b = get(c, s"$base/tables/$table?partition=$p&limit=${perPartition * 2}&fields=sequence,payload").body()
      val seqs = "\"sequence\":(\\d+)".r.findAllMatchIn(b).map(_.group(1).toLong).toSeq
      val pays = "\"payload\":\"(c-\\d+-\\d+)\"".r.findAllMatchIn(b).map(_.group(1)).toSeq
      seqs.size == perPartition &&
        seqs == seqs.sorted &&
        pays == (0 until perPartition).map(j => s"c-$p-$j")
    }
    // flush → commit → cold read converges (the reference's cold-storage check)
    val flushOk = post(c, s"$base/tables/$table/flush", Array.emptyByteArray).statusCode() == 200
    val coldOk = flushOk && parts.forall { p =>
      val b = get(c, s"$base/tables/$table?partition=$p&tier=cold&limit=${perPartition * 2}&fields=sequence").body()
      "\"sequence\":(\\d+)".r.findAllMatchIn(b).size == perPartition
    }
    val sec = (System.nanoTime() - t0) / 1e9
    Result("consistency", sec, parts.size.toLong + 1, parts.size.toLong * perPartition, errors, 0,
           0, 0, ok = errors == 0 && hotOk && coldOk,
           note = s"hot_order=$hotOk flush=$flushOk cold=$coldOk")
  }

  // ---------------------------------------------------------------- driver

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val seconds     = opts.getOrElse("seconds", "10").toInt
    val concurrency = opts.getOrElse("concurrency", "16").toInt
    val profile     = opts.getOrElse("profile", "quick")

    // standalone mode: in-process gateway + local Spark (for flush/cold).
    // Backpressure gets its OWN small-budget gateway so overload is
    // reachable from a single-machine client (the production budgets need
    // thousands of in-flight requests to saturate).
    val external = opts.contains("url")
    val (base, bpBase, shutdown) = opts.get("url") match {
      case Some(u) => (u, u, () => ())
      case None =>
        val spark = org.apache.spark.sql.SparkSession.builder()
          .master("local[8]").config("spark.sql.shuffle.partitions", "8")
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.ui.enabled", "false").getOrCreate()
        spark.sparkContext.setLogLevel("WARN")
        val dir  = graft.core.FsUtil.tempDir("graft-load-")
        val main = new GatewayServer(spark, dir)
        val bpDir = graft.core.FsUtil.tempDir("graft-load-bp-")
        val bp   = new GatewayServer(spark, bpDir, maxInflight = 8, maxInflightBytes = 256 * 1024,
                                     walEnabled = false)
        val p  = main.start()
        val bq = bp.start()
        (s"http://127.0.0.1:$p", s"http://127.0.0.1:$bq", () => { main.stop(); bp.stop(); spark.stop() })
    }

    val quick = profile == "quick"
    val results = scala.collection.mutable.ArrayBuffer.empty[Result]
    try {
      results += singleWrite(base, "load_single", seconds, concurrency)
      results += bulkWrite(base, "load_bulk", seconds, concurrency)
      if (!quick) results += bulkWrite(base, "load_bulkpb", seconds, concurrency, proto = true)
      results += readThroughput(base, "load_single", seconds, concurrency)
      if (!quick) results += writeReadLag(base, "load_lag", seconds)
      results += mixedWorkload(base, "load_mixed", seconds, concurrency)
      results += burst(base, "load_burst", seconds, concurrency)
      if (!quick) results += soak(base, "load_soak", seconds * 2, concurrency)
      results += partitionSkew(base, "load_skew", seconds, concurrency)
      results += backpressure(bpBase, "load_bp", seconds, concurrency, requireRejects = !external)
      results += consistency(base, "load_consist", perPartition = 500)
    } finally shutdown()

    results.foreach(r => println(r.json))
    val totalEv = results.filter(_.scenario.contains("write")).map(_.evPerSec)
    println(s"""{"summary":{"scenarios":${results.size},"all_ok":${results.forall(_.ok)},""" +
      s""""max_write_ev_per_sec":${if (totalEv.isEmpty) 0 else totalEv.max}}}""")
    if (!results.forall(_.ok)) sys.exit(1)
  }
}
