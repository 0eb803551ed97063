package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Path
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types._

import graft.iceberg.{IcebergCommitter, TableIO}
import graft.serve.{GatewayServer, HotBuffer, Serve, StoredEvent, WriteAheadLog}
import graft.table.EventTable

/** gateway_ingest: an open-loop producer against an in-process gateway with
  * the write-ahead log on and the flush daemon running (1 s interval,
  * maintenance on, default policy). */
object GatewayIngest {
  /** Offered load, fixed for the benchmark: requests per second. */
  val RatePerS      = 120.0
  val Senders       = 3      // POST client threads; the tail reader is the fourth
  val TailReadsPerS = 20.0
  val FlushMs       = 1000L
  val PollMs        = 20L
  val Setups        = 5
  // traffic before the measured window, to reach steady state (JIT, first
  // flushes); its requests are checked for correctness but not timed
  val WarmupS       = 3.0
  val Topic         = "bench"
  // events stay in the hot tier for 2 s after their flush, so a retry
  // within that window is deduplicated against them
  val RetentionMs   = 2000L

  private val mapper = new ObjectMapper()

  /** Per-request outcome: partitions and offsets of an accepted POST. */
  final case class Ack(status: Int, parts: Vector[Int], offsets: Vector[Long])

  def run(ctx: Ctx): Outcome = {
    val spark  = ctx.spark
    val tracer = ctx.tracer
    val http   = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

    def post(port: Int, body: String, single: Boolean): (Int, String) = {
      val path = if (single) s"/tables/$Topic" else s"/tables/$Topic/bulk"
      val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build()
      val r = http.send(req, HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), r.body())
    }

    // ---- set-up, several times: a fresh warehouse, a started gateway, a
    // first event acknowledged and committed; the last one is measured
    val warm = Gen.Req(-1, 0, Vector(Gen.Rec(0, "warmup", s"s${ctx.seed}-warmup")), single = true, -1)
    var gw: GatewayServer = null
    var dir: Path = null
    var port = 0
    val setupS = (1 to Setups).map { k =>
      if (gw != null) gw.stop()
      dir = ctx.work.resolve(s"gateway-$k")
      Files.deleteTree(dir)
      val (_, s) = Timing.secs {
        gw = new GatewayServer(spark, dir.toString, retentionMs = RetentionMs)
        port = gw.start()
        val (st, _) = post(port, Gen.body(warm), single = true)
        require(st == 202, s"warm-up POST returned $st")
        gw.flushNow(Topic)
      }
      s
    }
    ctx.heap.mark()
    val root   = dir.resolve(Topic).toString
    val reader = new IcebergCommitter(TableIO.forRoot(root), Topic) // read-only: watermarks, end state

    // ---- inputs, generated before the clock starts
    val nWarm = (RatePerS * WarmupS).toInt
    val n     = nWarm + math.max(1, (RatePerS * ctx.seconds).toInt)
    val plan  = Gen.traffic(ctx.seed, RatePerS, n)
    val body  = plan.map(Gen.body)
    val acks  = new Array[Ack](n)

    // ---- background: flush daemon (the real one, or a traced twin that
    // makes the same calls in the same order), watermark poller, tail reader
    val flushSpans = new ConcurrentLinkedQueue[(Double, Long)]() // (ms, events committed)
    val daemon =
      if (!ctx.trace) Serve.flushDaemon(gw, FlushMs, maintain = true)
      else {
        val g = gw
        val t = new Thread(() => {
          try while (!Thread.currentThread().isInterrupted) {
            Thread.sleep(FlushMs)
            Timing.inGroup(spark, "flush") {
              g.hot.topics.foreach { topic =>
                // every call is recorded, also one cut short by the end of
                // the run: under steady load a call drains (and commits)
                // until the buffer is empty, so it can span many commits
                val before = reader.summaryWatermarks().values.sum
                val t0     = System.nanoTime()
                try tracer.span("serve.flush")(g.flushNow(topic))
                catch { case ie: InterruptedException => throw ie; case _: Exception => () }
                finally flushSpans.add(((System.nanoTime() - t0) / 1e6, reader.summaryWatermarks().values.sum - before))
              }
              g.maintainableTopics().foreach { topic =>
                try if (tracer.span("serve.maintain")(g.maintainIfNeeded(topic)).isDefined) tracer.count("serve.maintain.n")
                catch { case ie: InterruptedException => throw ie; case _: Exception => () }
              }
            }
          } catch { case _: InterruptedException => () }
        }, "perfbench-flush")
        t.setDaemon(true)
        t
      }

    @volatile var polling = true
    // (time, watermarks, CPU snapshot) at each change of the watermarks,
    // i.e. just after each commit
    val polls   = new ConcurrentLinkedQueue[(Long, Map[Int, Long], Cpu.Snap)]()
    var backlog = 0L
    val g0      = gw
    val poller  = new Thread(() => {
      var last = Map.empty[Int, Long]
      while (polling) {
        val t  = System.nanoTime()
        val wm = try reader.summaryWatermarks() catch { case _: Exception => last }
        if (wm != last) { polls.add((t, wm, Cpu.snap())); last = wm }
        val hw = g0.hot.highWatermarks(Topic)
        backlog = math.max(backlog, hw.map { case (p, h) => math.max(0L, h - wm.getOrElse(p, 0L)) }.sum)
        Thread.sleep(PollMs)
      }
    }, "perfbench-poller")
    poller.setDaemon(true)

    @volatile var lastP0 = 1L
    val t0Ns = System.nanoTime() + 200000000L // first request due 200 ms after the threads start
    def dueNs(i: Int): Long = t0Ns + (plan(i).dueMs * 1e6).toLong
    val rejected = new java.util.concurrent.atomic.AtomicLong()

    def send(i: Int): Boolean = {
      val q  = plan(i)
      val s  = System.nanoTime()
      val (st, resp) = post(port, body(i), q.single)
      tracer.record("serve.post", s, System.nanoTime())
      if (st == 503) rejected.incrementAndGet()
      if (st != 202) { acks(i) = Ack(st, Vector.empty, Vector.empty); false }
      else {
        val j = mapper.readTree(resp)
        val offs =
          if (q.single) Vector(j.get("offset").asLong)
          else j.get("offsets").elements().asScala.map(_.asLong).toVector
        val parts = q.records.map(_.partition)
        acks(i) = Ack(st, parts, offs)
        parts.indices.foreach(k => if (parts(k) == 0 && offs(k) > lastP0) lastP0 = offs(k))
        offs.size == q.records.size
      }
    }

    val nTail = math.max(1, (TailReadsPerS * (WarmupS + ctx.seconds)).toInt)
    def tailDue(i: Int): Long = t0Ns + (i * 1e9 / TailReadsPerS).toLong
    def tailRead(i: Int): Boolean = {
      val from = math.max(1L, lastP0 - 50)
      val req = HttpRequest.newBuilder(URI.create(
        s"http://127.0.0.1:$port/tables/$Topic?partition=0&offset=$from&limit=100")).GET().build()
      val s = System.nanoTime()
      val r = http.send(req, HttpResponse.BodyHandlers.ofString())
      tracer.record("serve.tail_read", s, System.nanoTime())
      r.statusCode() == 200 && r.body().contains("\"records\"")
    }

    // ---- measured window
    daemon.start()
    poller.start()
    val senders = (0 until Senders).map { k =>
      val ids = (k until n by Senders)
      val out = new ConcurrentLinkedQueue[OpenLoop.Sample]()
      val t = new Thread(() => OpenLoop.drive(ids, dueNs, SystemClock, send).foreach(out.add), s"perfbench-post-$k")
      t.start()
      (t, out)
    }
    val tailOut = new ConcurrentLinkedQueue[OpenLoop.Sample]()
    val tailT = new Thread(() => OpenLoop.drive(0 until nTail, tailDue, SystemClock, tailRead).foreach(tailOut.add),
      "perfbench-tail")
    tailT.start()
    senders.foreach(_._1.join())
    tailT.join()
    val windowEndNs = System.nanoTime()

    // ---- drain: the daemon keeps flushing until every acked offset is
    // committed (at most 30 s) and the hot tier's retention has passed;
    // then it is stopped between ticks, and a final flush runs
    val ackedTop = acks.filter(a => a != null && a.status == 202)
      .flatMap(a => a.parts.zip(a.offsets)).groupMapReduce(_._1)(_._2)(math.max)
    val drainBy = System.nanoTime() + 30000000000L
    while (!ackedTop.forall { case (p, o) => reader.summaryWatermarks().getOrElse(p, 0L) >= o } &&
           System.nanoTime() < drainBy) Thread.sleep(PollMs)
    Thread.sleep(RetentionMs + FlushMs)
    daemon.interrupt()
    daemon.join(60000)
    val (_, finalFlushS) = Timing.secs(gw.flushNow(Topic))
    polling = false
    poller.join()
    polls.add((System.nanoTime(), reader.summaryWatermarks(), Cpu.snap()))
    ctx.heap.mark()


    val all     = senders.flatMap(_._2.asScala).sortBy(_.id)
    val okAll   = all.filter(_.ok)
    val samples = all.filter(_.id >= nWarm) // the measured window
    val tails   = tailOut.asScala.toVector.filter(_.id >= (TailReadsPerS * WarmupS).toInt)
    val okReqs  = samples.filter(_.ok)

    // ---- visibility: first poll whose watermarks cover every offset of a request
    val pollSeq = polls.asScala.toVector.sortBy(_._1)
    def visibleAt(a: Ack): Option[Long] = {
      val need = a.parts.zip(a.offsets).groupMapReduce(_._1)(_._2)(math.max)
      pollSeq.find { case (_, wm, _) => need.forall { case (p, o) => wm.getOrElse(p, 0L) >= o } }.map(_._1)
    }
    val visibleMs = okReqs.flatMap(s => visibleAt(acks(s.id)).map(v => (v - s.dueNs) / 1e6))
    val invisible = okAll.count(s => visibleAt(acks(s.id)).isEmpty)

    // ---- correctness
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    if (invisible > 0) errors += s"$invisible acked requests never became visible"
    val committed = EventTable.readCommitted(spark, root)
      .select(col("partition").cast("int"), col("sequence"), col("idempotency_key")).collect()
    val seen = committed.groupBy(r => (r.getInt(0), r.getLong(1))).view.mapValues(_.length).toMap
    val acked = (okAll.flatMap(s => acks(s.id).parts.zip(acks(s.id).offsets)) :+ ((0, 1L))).distinct
    val missing = acked.count(k => !seen.contains(k))
    if (missing > 0) errors += s"$missing acked offsets missing from the committed table"
    val dupSeq = seen.count(_._2 > 1)
    if (dupSeq > 0) errors += s"$dupSeq (partition, sequence) pairs committed more than once"
    committed.groupBy(_.getInt(0)).foreach { case (p, rows) =>
      val seqs = rows.map(_.getLong(1)).sorted
      if (!seqs.sameElements(1L to seqs.length.toLong)) errors += s"partition $p sequences are not dense 1..${seqs.length}"
    }
    val dupKeys = committed.groupBy(_.getString(2)).count(_._2.length > 1)
    if (dupKeys > 0) errors += s"$dupKeys idempotency keys committed more than once"
    val resendMismatch = okAll.count { s =>
      val o = plan(s.id).resendOf
      o >= 0 && acks(o) != null && acks(o).status == 202 && acks(o).offsets != acks(s.id).offsets
    }
    if (resendMismatch > 0) errors += s"$resendMismatch re-sent requests got offsets different from the original"
    val uniqueKeys = okAll.flatMap(s => plan(s.id).records.map(_.key)).distinct.size + 1
    if (committed.length != uniqueKeys) errors += s"committed ${committed.length} rows for $uniqueKeys distinct keys"

    val windowS     = (windowEndNs - dueNs(nWarm)) / 1e9
    val windowEvents = okReqs.filter(s => plan(s.id).resendOf < 0).map(s => plan(s.id).events).sum
    val ackMs   = okReqs.map(_.latencyMs)
    val tailMs  = tails.filter(_.ok).map(_.latencyMs)
    // CPU from the window's first commit to the commit that made every
    // acked event visible, but for the benchmark's watermark poller:
    // admission, WAL, hot buffer, tail reads, flushes, commits, maintenance,
    // and the client side of the requests. Over the events those commits
    // added, and over the requests acknowledged meanwhile (each with its
    // share of flushing). Ending at the drained state, rather than at a
    // commit inside the window, leaves no flushed batch half counted.
    val first   = pollSeq.find { case (t, _, _) => t >= dueNs(nWarm) }
    val drained = pollSeq.find { case (_, wm, _) => ackedTop.forall { case (p, o) => wm.getOrElse(p, 0L) >= o } }
    val (cpuPerKEv, cpuPerAck) = (first, drained) match {
      case (Some((t1, w1, c1)), Some((t2, w2, c2))) if t2 > t1 =>
        val cpu   = Cpu.msBetween(c1 - poller.getId, c2 - poller.getId)
        val acked = okAll.count(s => s.doneNs >= t1)
        (cpu / ((w2.values.sum - w1.values.sum) / 1e3), cpu / math.max(1, acked))
      case _ =>
        errors += "no commit in the measured window, or the acked events never all became visible"
        (Double.NaN, Double.NaN)
    }
    val e2e = Map(
      "setup_s"     -> Stats.median(setupS),
      "op_cpu_ms"   -> cpuPerAck,
      "work_cpu_ms" -> cpuPerKEv)

    // ---- traced-only probes of single layers, fed the run's own batches
    val layers: Map[String, Double] =
      if (!ctx.trace) Map.empty
      else {
        val post    = samples.map(s => (s.doneNs - s.sentNs) / 1e6)
        val flushes = flushSpans.asScala.toVector
        val flushMs = flushes.map(_._1)
        val events  = flushes.map(_._2).sum
        val maint   = tracer.durationsMs("serve.maintain")
        val perCall = if (flushes.isEmpty) 1000 else math.max(1, (events / flushes.size).toInt)
        val files   = reader.activeDataFiles()
        val meta    = reader.load()
        Map(
          "serve.post_ms_p50"        -> Stats.median(post),
          "serve.post_ms_p99"        -> Stats.tail(post)._1,
          "serve.rejected_503"       -> rejected.get.toDouble,
          "gen.late_ms_p99"          -> Stats.tail(samples.map(_.lateMs))._1,
          "serve.hot.backlog_max"    -> backlog.toDouble,
          "serve.flush.n"            -> flushes.size.toDouble,
          "serve.flush_ms_p50"       -> (if (flushMs.isEmpty) 0.0 else Stats.median(flushMs)),
          "serve.flush_ms_max"       -> (if (flushMs.isEmpty) 0.0 else flushMs.max),
          "serve.flush.events_per_call" -> (if (flushes.isEmpty) 0.0 else events.toDouble / flushes.size),
          "serve.maintain.n"         -> tracer.counted("serve.maintain.n").toDouble,
          "serve.maintain_ms_max"    -> (if (maint.isEmpty) 0.0 else maint.max),
          "table.data_files_end"     -> files.size.toDouble,
          "table.bytes_per_event"    -> files.map(_.fileSizeInBytes).sum.toDouble / math.max(1, committed.length),
          "iceberg.snapshots_end"    -> meta.map(_.snapshots.size).getOrElse(0).toDouble,
          "iceberg.manifests_end"    -> reader.currentManifests().size.toDouble) ++
          Timing.sparkLayers(ctx.tap, _ == "flush") ++
          hotProbe(ctx, plan.take(400)) ++
          writeProbe(ctx, plan, perCall)
      }
    gw.stop()

    Outcome(
      attempted = all.size + tailOut.size,
      failed = all.count(!_.ok) + tailOut.asScala.count(!_.ok),
      errors = errors.toSeq, e2e = e2e, layers = layers,
      detail = Map(
        "rate_req_per_s" -> RatePerS, "requests" -> n, "warmup_requests" -> nWarm,
        "events_committed" -> committed.length,
        "window_s" -> windowS, "setup_s_each" -> setupS, "final_flush_s" -> finalFlushS,
        "ack_ms" -> Stats.summary(ackMs),
        "events_acked_per_s" -> windowEvents / windowS,
        "visible_ms" -> Stats.summary(visibleMs),
        "tail_read_ms" -> Stats.summary(tailMs),
        "ack_p50_ms_by_second" -> okReqs.groupBy(s => ((s.dueNs - dueNs(nWarm)) / 1000000000L).toInt).toSeq.sortBy(_._1)
          .map(kv => Stats.median(kv._2.map(_.latencyMs))), "gen_late_ms" -> Stats.summary(samples.map(_.lateMs)),
        "resends" -> plan.count(_.resendOf >= 0)))
  }

  /** The run's request batches replayed straight into the hot buffer, with
    * and without a write-ahead log, and into the log alone (µs per batch). */
  private def hotProbe(ctx: Ctx, reqs: Seq[Gen.Req]): Map[String, Double] = {
    val dir = ctx.work.resolve("probe-wal")
    Files.deleteTree(dir)
    def recs(q: Gen.Req) = q.records.map(r => (r.payload.getBytes("UTF-8"), r.partition, System.currentTimeMillis(), Option(r.key)))
    def timeUs(f: => Unit): Double = { val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e3 }
    val plain = new HotBuffer(None)
    val bare  = reqs.map(q => ctx.tracer.span("serve.hot.write_bulk")(timeUs(plain.writeBulk("probe", recs(q)))))
    val wal   = new WriteAheadLog(dir.resolve("hot"))
    val logged = new HotBuffer(Some(wal))
    val withWal = reqs.map(q => ctx.tracer.span("serve.hot.write_bulk_wal")(timeUs(logged.writeBulk("probe", recs(q)))))
    val log2  = new WriteAheadLog(dir.resolve("log"))
    var seq   = 0L
    val appends = reqs.map { q =>
      val evs = q.records.map { r => seq += 1; StoredEvent(seq, "probe", r.partition, r.payload.getBytes("UTF-8"), 0L, Some(r.key)) }
      ctx.tracer.span("serve.wal.append")(timeUs(log2.appendEvents(evs)))
    }
    wal.close(); log2.close()
    Map("serve.hot.write_bulk_us_p50" -> Stats.median(bare), "serve.wal.append_us_p50" -> Stats.median(appends),
      "serve.hot.write_bulk_wal_us_p50" -> Stats.median(withWal))
  }

  /** Phase probe: batches of the run's flush size written, footer-scanned
    * and committed the way a flush does, one phase per public call. */
  private def writeProbe(ctx: Ctx, plan: Seq[Gen.Req], perCall: Int): Map[String, Double] = {
    val spark = ctx.spark
    val root  = ctx.work.resolve("probe-table").toString
    Files.deleteTree(ctx.work.resolve("probe-table"))
    val c      = new IcebergCommitter(TableIO.forRoot(root), Topic)
    val schema = StructType(Seq(
      StructField("sequence", LongType, nullable = false), StructField("topic", StringType, nullable = false),
      StructField("payload", BinaryType, nullable = false), StructField("timestamp_ms", LongType, nullable = false),
      StructField("idempotency_key", StringType, nullable = true), StructField("partition", IntegerType, nullable = false)))
    val recs = plan.filter(_.resendOf < 0).flatMap(_.records).toVector
    val seqs = new Array[Long](Gen.Partitions)
    val now  = System.currentTimeMillis()
    val timings = (0 until 5).map { b =>
      val batch = (0 until perCall).map { k =>
        val r = recs((b * perCall + k) % recs.size)
        seqs(r.partition) += 1
        Row(seqs(r.partition), Topic, r.payload.getBytes("UTF-8"), now, s"${r.key}-$b", r.partition)
      }
      val df = spark.createDataFrame(spark.sparkContext.parallelize(batch, math.max(1, batch.size / 10000)), schema)
        .withColumn("event_date", expr("date_add(date '1970-01-01', cast(timestamp_ms div 86400000 as int))"))
        .withColumn("event_hour", expr("cast((timestamp_ms div 3600000) % 24 as int)"))
        .select("sequence", "topic", "payload", "timestamp_ms", "idempotency_key", "event_date", "event_hour", "partition")
      Timing.inGroup(spark, "probe") {
        ctx.tracer.span("table.flush_probe") {
          val (files, w) = Timing.secs(ctx.tracer.span("table.write")(EventTable.writeData(df, root)))
          val (data, s)  = Timing.secs(ctx.tracer.span("table.stats")(EventTable.collectDataFiles(spark, root, files)))
          val (_, cm)    = Timing.secs(ctx.tracer.span("iceberg.commit")(c.commitAppend(data, EventTable.watermarksOf(data))))
          (w * 1e3, s * 1e3, cm * 1e3)
        }
      }
    }
    // the first round pays one-off codegen; phases are summarised over the rest
    val steady = timings.drop(1)
    Map("table.write_ms_p50" -> Stats.median(steady.map(_._1)), "table.stats_ms_p50" -> Stats.median(steady.map(_._2)),
      "iceberg.commit_ms_p50" -> Stats.median(steady.map(_._3)), "iceberg.commit_ms_max" -> steady.map(_._3).max)
  }
}
