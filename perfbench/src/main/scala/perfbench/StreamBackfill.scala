package perfbench

import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.iceberg.{IcebergCommitter, TableIO}
import graft.streaming.StreamIngest
import graft.table.{Compaction, EventTable}

/** stream_backfill: a staged backlog of raw events through the streaming
  * ingester (dedup, sequencing, parquet writes, few large commits), then
  * seeded committed reads over the fragmented table, compaction, and the
  * same reads over the compacted table. No gateway code runs here. */
object StreamBackfill {
  val Events  = 120000L
  val Chunks  = 4
  val Setups  = 3
  val Ingests = 2
  val Reads   = 24

  /** One seeded committed read: a time range, a partition, or a sequence
    * range within a partition. */
  final case class Read(kind: String, part: Int, lo: Long, hi: Long)

  def reads(seed: Long, n: Int, tMin: Long, tMax: Long, maxSeq: Map[Int, Long]): Vector[Read] = {
    val r = new SplittableRandom(seed ^ 0x5ca1ab1eL)
    Vector.tabulate(n) { i =>
      val p = r.nextInt(Gen.Partitions)
      i % 3 match {
        case 0 =>
          val w  = (tMax - tMin) / 15 // two days of the thirty
          val lo = tMin + (r.nextDouble() * (tMax - tMin - w)).toLong
          Read("time", -1, lo, lo + w)
        case 1 => Read("partition", p, 0L, Long.MaxValue)
        case _ =>
          val top = maxSeq.getOrElse(p, 1L)
          val lo  = 1L + (r.nextDouble() * math.max(1L, top - 500)).toLong
          Read("sequence", p, lo, lo + 500)
      }
    }
  }

  def run(ctx: Ctx): Outcome = {
    val spark  = ctx.spark
    val tracer = ctx.tracer
    val data   = ctx.work.resolve("stream-input")
    Files.deleteTree(data)
    Gen.writeTables(Map("events" -> Gen.events(spark, ctx.seed, Events)), data)

    // ---- set-up, several times: stage the backlog as ordered chunks
    val staged = (1 to Setups).map { k =>
      val dir = ctx.work.resolve(s"stream-stage-$k")
      Files.deleteTree(dir)
      val (schema, s) = Timing.secs(StreamIngest.stageChunks(spark, data.toString, dir.toString, Chunks))
      (dir, schema, s)
    }

    ctx.heap.mark()

    // expected table contents, from the staged input itself
    val stagedDf  = spark.read.schema(staged.head._2).parquet(staged.head._1.toString)
    val stagedN   = stagedDf.count()
    val expectRows = stagedDf.filter(col("idempotency_key").isNotNull)
      .select("part_id", "idempotency_key").distinct().count() +
      stagedDf.filter(col("idempotency_key").isNull).count()

    // ---- measured: staged copies ingested, each into a fresh table; the
    // first warms the JIT and Spark's codegen, so the rate is taken over
    // the others together
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    val ingests = staged.take(Ingests).zipWithIndex.map { case ((dir, schema, _), k) =>
      val root = ctx.work.resolve(s"stream-table-$k").toString
      Files.deleteTree(ctx.work.resolve(s"stream-table-$k"))
      val ((_, s), cpuMs) = Cpu.ms(Timing.secs(Timing.inGroup(spark, "stream") {
        tracer.span("streaming.run_file_stream")(new StreamIngest(spark, root, shufflePartitions = Some(8))
          .runFileStream(dir.toString, schema))
      }))
      val committed = EventTable.readCommitted(spark, root)
      val stats = committed.groupBy(col("partition")).agg(count(lit(1)), countDistinct(col("sequence")),
        min(col("sequence")), max(col("sequence"))).collect()
      val rows = stats.map(_.getLong(1)).sum
      if (rows != expectRows) errors += s"table $k: committed $rows rows, expected $expectRows distinct keys"
      stats.foreach { r =>
        if (!(r.getLong(1) == r.getLong(2) && r.getLong(3) == 1L && r.getLong(4) == r.getLong(1)))
          errors += s"table $k partition ${r.get(0)}: sequences not dense (${r.getLong(1)} rows, ${r.getLong(2)} distinct, ${r.getLong(3)}..${r.getLong(4)})"
      }
      (root, s, stats.map(r => r.get(0).toString.toInt -> r.getLong(4)).toMap, rows, cpuMs)
    }
    val evPerS     = stagedN * (ingests.size - 1) / ingests.drop(1).map(_._2).sum
    val cpuPerKEv  = ingests.drop(1).map(_._5).sum / (stagedN * (ingests.size - 1) / 1e3)

    // ---- seeded reads: fragmented, compacted, and the same answers both times
    val (root, _, maxSeq, _, _) = ingests.last
    val bounds = EventTable.readCommitted(spark, root).agg(min("timestamp_ms"), max("timestamp_ms")).head()
    val plan   = reads(ctx.seed, Reads, bounds.getLong(0), bounds.getLong(1), maxSeq)
    val c      = new IcebergCommitter(TableIO.forRoot(root), EventTable.Topic)
    def read(q: Read): (Long, Long) = {
      val files = if (q.part >= 0) EventTable.pruneByPartition(c, q.part) else null
      var df: DataFrame = EventTable.readCommitted(spark, root, files)
      df = q.kind match {
        case "time"      => df.filter(col("timestamp_ms") >= q.lo && col("timestamp_ms") < q.hi)
        case "partition" => df.filter(col("partition") === q.part)
        case _           => df.filter(col("partition") === q.part && col("sequence") >= q.lo && col("sequence") < q.hi)
      }
      ResultHash.of(df)
    }
    // (wall ms, CPU ms, answer) per read
    def phase(name: String): Vector[(Double, Double, (Long, Long))] = Timing.inGroup(spark, name) {
      plan.map { q =>
        val ((res, s), cpuMs) = Cpu.ms(Timing.secs(tracer.span(name)(read(q))))
        (s * 1e3, cpuMs, res)
      }
    }
    val frag = phase("table.scan_frag")
    val filesBefore = c.activeDataFiles().size
    val (_, compactS) = Timing.secs(Timing.inGroup(spark, "compact")(tracer.span("table.compact")(Compaction.compact(spark, root))))
    val filesAfter = c.activeDataFiles().size
    val compacted = phase("table.scan_compacted")
    ctx.heap.mark()
    val differ = plan.indices.count(i => frag(i)._3 != compacted(i)._3)
    if (differ > 0) errors += s"$differ reads answered differently after compaction"
    val empty = frag.count(_._3._1 == 0)

    val scanMs = frag.map(_._1) ++ compacted.map(_._1)
    val e2e = Map(
      "setup_s"     -> Stats.median(staged.map(_._3)),
      // the mean of the two phases' medians: one median over both would
      // fall between a fragmented and a compacted read of the same kind
      "op_cpu_ms"   -> (Stats.median(frag.map(_._2)) + Stats.median(compacted.map(_._2))) / 2,
      "work_cpu_ms" -> cpuPerKEv)

    val layers: Map[String, Double] =
      if (!ctx.trace) Map.empty
      else {
        ctx.tap.foreach(_.settle())
        val trig  = ctx.tap.map(_.triggers.asScala.toVector).getOrElse(Vector.empty)
        val tms   = trig.flatMap(_._1.get("triggerExecution")).map(_.toDouble)
        val files = c.activeDataFiles()
        Map(
          "streaming.triggers"          -> trig.size.toDouble,
          "streaming.trigger_ms_p50"    -> (if (tms.isEmpty) 0.0 else Stats.median(tms)),
          "streaming.add_batch_ms_sum"  -> trig.flatMap(_._1.get("addBatch")).sum.toDouble,
          "streaming.wal_commit_ms_sum" -> trig.flatMap(_._1.get("walCommit")).sum.toDouble,
          // rows the streams read minus rows they committed, per ingest
          "streaming.dedup_dropped"     -> (trig.map(_._2).sum - ingests.map(_._4).sum).toDouble / ingests.size,
          "table.scan_frag_ms_p50"      -> Stats.median(frag.map(_._1)),
          "table.scan_compacted_ms_p50" -> Stats.median(compacted.map(_._1)),
          "table.compact_ms"            -> compactS * 1e3,
          "table.data_files_end"        -> files.size.toDouble,
          "table.bytes_per_event"       -> files.map(_.fileSizeInBytes).sum.toDouble / math.max(1L, expectRows),
          "iceberg.snapshots_end"       -> c.load().map(_.snapshots.size).getOrElse(0).toDouble,
          "iceberg.manifests_end"       -> c.currentManifests().size.toDouble) ++
          Timing.sparkLayers(ctx.tap)
      }

    Outcome(
      attempted = ingests.size + frag.size + compacted.size + 1,
      failed = 0, errors = errors.toSeq, e2e = e2e, layers = layers,
      detail = Map(
        "events_staged" -> stagedN, "rows_committed" -> expectRows, "chunks" -> Chunks,
        "stage_s_each" -> staged.map(_._3), "ingest_s_each" -> ingests.map(_._2),
        "ingest_cpu_ms_each" -> ingests.map(_._5),
        "stream_ev_per_s" -> evPerS, "scan_ms" -> Stats.summary(scanMs, cap = 0.9),
        "scan_cpu_ms" -> Stats.summary(frag.map(_._2) ++ compacted.map(_._2), cap = 0.9),
        "scan_frag_ms" -> Stats.summary(frag.map(_._1)), "scan_compacted_ms" -> Stats.summary(compacted.map(_._1)),
        "compact_s" -> compactS, "data_files_before_compact" -> filesBefore, "data_files_after_compact" -> filesAfter,
        "empty_reads" -> empty))
  }
}
