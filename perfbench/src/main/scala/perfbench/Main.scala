package perfbench

import java.nio.file.{Files => F, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point. One JVM runs one workload:
  *
  *   perfbench.Main --workload <gateway_ingest|stream_backfill|query_sweep>
  *     --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <dir>
  *     --expected <query_sweep fixture>
  *
  * The last line of standard output is the result object. Exit code 0 only
  * when every correctness check passed and no operation failed. */
object Main {
  val Workloads = Seq("gateway_ingest", "stream_backfill", "query_sweep")

  def args(a: Array[String]): Map[String, String] =
    a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def session(work: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      // the sweep's generated classes outnumber the default 100 entries;
      // with it, each pass recompiles what its query order evicted
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // the UI is off, so the status store's job, stage and SQL history is
      // only heap: keep it short, so retained heap reflects the engine
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The result line: end-to-end metrics untraced, per-layer metrics traced. */
  def resultLine(o: Outcome, trace: Boolean): String = {
    val (want, got) = if (trace) (Metrics.perLayer, o.layers) else (Metrics.endToEnd, o.e2e)
    val metrics = want.map { case (name, unit) =>
      name -> Map("value" -> got.getOrElse(name, 0.0), "unit" -> unit)
    }
    Json.render(scala.collection.immutable.ListMap(
      "correct" -> o.errors.isEmpty, "attempted" -> math.max(1L, o.attempted), "failed" -> o.failed,
      "metrics" -> scala.collection.immutable.ListMap(metrics: _*)))
  }

  def exitCode(o: Outcome): Int = if (o.errors.isEmpty && o.failed == 0) 0 else 1

  def main(argv: Array[String]): Unit = {
    val a        = args(argv)
    val work     = Paths.get(a.getOrElse("work", "perfbench/.work")).toAbsolutePath
    val cores    = Runtime.getRuntime.availableProcessors()
    F.createDirectories(work)
    if (a.contains("derive")) {
      val spark = session(work, cores)
      try QuerySweep.derive(spark, Paths.get(a("derive")).toAbsolutePath) finally spark.stop()
      return
    }
    val workload = a.getOrElse("workload", "")
    require(Workloads.contains(workload), s"--workload must be one of ${Workloads.mkString(", ")}")
    val seed  = a("seed").toLong
    val secs  = a.getOrElse("seconds", "10").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val out   = Paths.get(a.getOrElse("out", "perfbench/out")).toAbsolutePath
    F.createDirectories(out)

    val heap  = new HeapMarks
    val spark = session(work, cores)
    val tap   = if (trace) Some(new SparkTap) else None
    tap.foreach(spark.sparkContext.addSparkListener)
    val ctx   = Ctx(spark, seed, secs, trace, work, new Tracer(trace), tap, heap)
    val (o0, wallS) = Timing.secs(workload match {
      case "gateway_ingest"  => GatewayIngest.run(ctx)
      case "stream_backfill" => StreamBackfill.run(ctx)
      case "query_sweep"     => QuerySweep.run(ctx, Paths.get(a("expected")))
    })
    val o = o0.copy(e2e = o0.e2e + ("peak_heap_mb" -> heap.peakMb))

    val tag = s"$workload-s$seed-t${if (trace) 1 else 0}"
    val extraLayers = o.layers -- Metrics.perLayer.map(_._1)
    F.writeString(out.resolve(s"$tag.json"), Json.render(Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> secs, "trace" -> trace, "wall_s" -> wallS,
      "cores" -> cores, "errors" -> o.errors, "end_to_end" -> o.e2e, "per_layer" -> o.layers,
      "detail" -> (o.detail ++ (if (extraLayers.nonEmpty) Map("extra_layers" -> extraLayers) else Map.empty)))))
    if (trace) ctx.tracer.dump(out.resolve(s"$tag-spans.json"))
    o.errors.foreach(e => System.err.println(s"[perfbench] CHECK FAILED: $e"))
    println(resultLine(o, trace))
    spark.stop()
    System.out.flush()
    sys.exit(exitCode(o))
  }
}
