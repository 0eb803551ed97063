package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

/** What a workload run sees. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double, trace: Boolean,
                     work: Path, tracer: Tracer, tap: Option[SparkTap], heap: HeapMarks)

/** What a workload run reports. `e2e` and `layers` are keyed by the
  * metric names in [[Metrics]]; `errors` lists failed correctness checks. */
final case class Outcome(attempted: Long, failed: Long, errors: Seq[String],
                         e2e: Map[String, Double], layers: Map[String, Double], detail: Map[String, Any])

/** The metric names and units, as declared in BENCHMARK.json. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "peak_heap_mb" -> "MB", "op_cpu_ms" -> "ms", "work_cpu_ms" -> "ms")

  /** Query modules with per-layer metrics. `streaming` has none: the sweep
    * runs no streaming query (each first builds a streamed table, about 7 s
    * of first touch per session); stream_backfill measures that path. */
  val modules: Seq[String] = Seq("core", "table", "llm", "extract", "serve", "sources", "analytics")

  val perLayer: Seq[(String, String)] = Seq(
    "serve.post_ms_p50" -> "ms", "serve.post_ms_p99" -> "ms", "serve.rejected_503" -> "count", "gen.late_ms_p99" -> "ms",
    "serve.hot.write_bulk_us_p50" -> "us", "serve.wal.append_us_p50" -> "us", "serve.hot.backlog_max" -> "events",
    "serve.flush.n" -> "count", "serve.flush_ms_p50" -> "ms", "serve.flush_ms_max" -> "ms",
    "serve.flush.events_per_call" -> "events", "serve.maintain.n" -> "count", "serve.maintain_ms_max" -> "ms",
    "table.write_ms_p50" -> "ms", "table.stats_ms_p50" -> "ms", "table.data_files_end" -> "count",
    "table.bytes_per_event" -> "B",
    "iceberg.commit_ms_p50" -> "ms", "iceberg.commit_ms_max" -> "ms", "iceberg.snapshots_end" -> "count",
    "iceberg.manifests_end" -> "count",
    "streaming.triggers" -> "count", "streaming.trigger_ms_p50" -> "ms", "streaming.add_batch_ms_sum" -> "ms",
    "streaming.wal_commit_ms_sum" -> "ms", "streaming.dedup_dropped" -> "events",
    "table.scan_frag_ms_p50" -> "ms", "table.scan_compacted_ms_p50" -> "ms", "table.compact_ms" -> "ms") ++
    modules.flatMap(m => Seq(s"query.$m.warm_s" -> "s", s"query.$m.first_s" -> "s",
      s"query.$m.cpu_s" -> "s", s"query.$m.shuffle_mb" -> "MB")) ++ Seq(
    "core.memo.builds_setup" -> "count", "core.memo.builds_warm" -> "count", "spark.cached_mb_end" -> "MB",
    "spark.cpu_s" -> "s", "spark.shuffle_mb" -> "MB", "spark.spill_mb" -> "MB", "spark.tasks" -> "count")
}

/** Heap retained after full collections, taken at the phase boundaries a
  * workload marks (end of set-up, end of the measured phase); the peak
  * over those marks is reported. A full collection first makes the figure
  * independent of how full the young generation happened to be. Spark's
  * context cleaner then drops the blocks of the objects that collection
  * found dead, on its own thread, so collections repeat 0.3 s apart until
  * one frees less than 1 MB (at most six): a fixed count read the heap
  * before or after the cleaner had run, by chance. */
final class HeapMarks {
  private val bean = java.lang.management.ManagementFactory.getMemoryMXBean
  @volatile private var peak = 0L
  def mark(): Unit = {
    def used(): Long = { System.gc(); bean.getHeapMemoryUsage.getUsed }
    var last = used()
    var k    = 1
    var done = false
    while (!done && k < 6) {
      Thread.sleep(300)
      val now = used()
      done = last - now < (1L << 20)
      last = math.min(last, now)
      k += 1
    }
    peak = math.max(peak, last)
  }
  def peakMb: Double = peak / 1048576.0
}

/** CPU time of the JVM's Java threads: the engine, Spark's task and
  * scheduler threads, the HTTP server and the benchmark's own clients; not
  * the collector's or the compiler's threads. A thread is not charged for
  * time it waits for a processor, nor, on a guest that accounts steal, for
  * time the host gave its processor to another guest. So these figures hold
  * still on a busy shared host, where wall times do not.
  *
  * A snapshot maps thread id to CPU ns. The CPU spent between two snapshots
  * is taken per thread, so a thread that ends in between drops only what it
  * spent after the first one, never its whole total. */
object Cpu {
  type Snap = Map[Long, Long]
  private val mx = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  def snap(): Snap = {
    val ids = mx.getAllThreadIds
    val ns  = mx.getThreadCpuTime(ids)
    ids.indices.iterator.filter(i => ns(i) >= 0).map(i => ids(i) -> ns(i)).toMap
  }

  /** CPU ms spent by all threads between two snapshots. */
  def msBetween(a: Snap, b: Snap): Double = b.iterator.map { case (id, ns) => ns - a.getOrElse(id, 0L) }.sum / 1e6

  /** `body`'s result and the CPU ms every thread spent while it ran. */
  def ms[T](body: => T): (T, Double) = {
    val a = snap()
    val r = body
    (r, msBetween(a, snap()))
  }
}

object Timing {
  def secs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r  = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Spark task totals for the job groups `p` accepts, as per-layer metrics. */
  def sparkLayers(tap: Option[SparkTap], p: String => Boolean = _ => true): Map[String, Double] =
    tap.map { t =>
      t.settle()
      val x = t.totals(p)
      Map("spark.cpu_s" -> x.cpuNs / 1e9, "spark.shuffle_mb" -> x.shuffleBytes / 1048576.0,
        "spark.spill_mb" -> x.spillBytes / 1048576.0, "spark.tasks" -> x.tasks.toDouble)
    }.getOrElse(Map.empty)

  /** Run `body` with the calling thread's Spark job group set to `group`. */
  def inGroup[T](spark: SparkSession, group: String)(body: => T): T = {
    spark.sparkContext.setJobGroup(group, group, interruptOnCancel = false)
    try body finally spark.sparkContext.clearJobGroup()
  }
}
