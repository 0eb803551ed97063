package perfbench

import java.nio.file.{Files => F, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.core.SessionMemo

/** query_sweep: a fixed set of the engine's registered queries, run over a
  * fixed generated dataset in a seeded order. A first-touch pass in a fresh
  * session is set-up; warm passes follow on the last set-up session, each
  * result consumed in full and checked against its expected hash. */
object QuerySweep {
  /** The dataset is fixed (seed and scale) so expected hashes can be committed. */
  val DataSeed = 42L
  val Scale    = 0.02
  val Sessions = 2
  val MinWarmPasses = 4
  /** Untimed passes between set-up and the timed ones: the JIT is still
    * compiling the queries' hot paths for the first few runs of each. */
  val SettlePasses = 1

  /** One or two queries per module, chosen for a bounded first touch: every
    * run pays two first-touch passes, one in a cold JVM. */
  val Queries: Seq[String] = Seq(
    "s7_idempotency_dedup",
    "ingest_committed_read",
    "d1_exact_dedup",
    "x1_payload_extract",
    "q6_arrow_roundtrip",
    "src_jsonl_read",
    "tpch_q3_shipping", "tpch_q18_large_orders")

  /** Query name → module, from each module's public query map. */
  lazy val moduleOf: Map[String, String] = Seq(
    "core"      -> graft.core.HotQueries.queries.keySet,
    "table"     -> graft.table.IcebergQueries.queries.keySet,
    "llm"       -> (graft.llm.LlmQueries.queries.keySet ++ graft.llm.CorpusQueries.queries.keySet),
    "extract"   -> graft.extract.ExtractQueries.queries.keySet,
    "streaming" -> graft.streaming.StreamQueries.queries.keySet,
    "serve"     -> graft.serve.ServeQueries.queries.keySet,
    "sources"   -> (graft.sources.SegmentQueries.queries.keySet ++ graft.sources.JsonlCorpus.queries.keySet),
    "analytics" -> (graft.analytics.TpchQueries.queries.keySet ++ graft.analytics.JoinQueries.queries.keySet)
  ).flatMap { case (m, ks) => ks.map(_ -> m) }.toMap

  /** Expected hashes: query → (hash, oracle verdict). */
  def loadExpected(p: Path): Map[String, (String, String)] = {
    val n = new ObjectMapper().readTree(p.toFile).get("queries")
    n.fields().asScala.map(e => e.getKey -> (e.getValue.get("hash").asText, e.getValue.get("oracle").asText)).toMap
  }

  /** Generate the dataset into `dir` unless a complete copy is there
    * already (it depends on nothing but [[DataSeed]] and [[Scale]]). */
  def generate(spark: SparkSession, dir: Path, scale: Double = Scale): Double = Timing.secs {
    if (!F.exists(dir.resolve("_complete"))) {
      Files.deleteTree(dir)
      Gen.writeTables(Gen.tables(spark, DataSeed, scale), dir)
      F.writeString(dir.resolve("_complete"), "")
    }
  }._2

  /** Run one query and hash its result, with its wall and CPU ms; a throw
    * is an error, never a time. */
  final case class Run(query: String, ms: Double, cpuMs: Double, hash: Option[String], error: Option[String])

  def runOne(s: SparkSession, dir: String, q: String, group: String, tracer: Tracer): Run = {
    val t0 = System.nanoTime()
    val c0 = Cpu.snap()
    try {
      val h = Timing.inGroup(s, group)(tracer.span(group.takeWhile(_ != ':') + "." + q)(
        ResultHash.of(SparkEntry.queries(q)(s, dir))))
      Run(q, (System.nanoTime() - t0) / 1e6, Cpu.msBetween(c0, Cpu.snap()), Some(ResultHash.hex(h)), None)
    } catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        Run(q, Double.NaN, Double.NaN, None, Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"))
    }
  }

  def run(ctx: Ctx, expectedPath: Path, queries: Seq[String] = Queries, scale: Double = Scale): Outcome = {
    val spark    = ctx.spark
    val dir      = ctx.work.resolveSibling(s"query-data-seed$DataSeed-sf$scale")
    val genS     = generate(spark, dir, scale)
    val expected = loadExpected(expectedPath)
    val errors   = scala.collection.mutable.ArrayBuffer.empty[String]
    val missing  = queries.filterNot(expected.contains)
    if (missing.nonEmpty) errors += s"no expected hash for ${missing.mkString(",")}"

    def check(r: Run, where: String): Unit = (r.error, r.hash) match {
      case (Some(e), _) => errors += s"$where ${r.query} threw $e"
      case (_, Some(h)) if expected.get(r.query).exists(_._1 != h) =>
        errors += s"$where ${r.query} hash $h != expected ${expected(r.query)._1}"
      case _ => ()
    }

    // ---- set-up: a first-touch pass in each of several fresh sessions
    var session: SparkSession = null
    var buildsSetup = 0L
    val firsts = (1 to Sessions).map { k =>
      if (session != null) SessionMemo.release(session)
      session = spark.newSession()
      val b0   = SessionMemo.buildCount
      val runs = Gen.shuffled(ctx.seed + k, queries).map(q => runOne(session, dir.toString, q, s"first:${moduleOf(q)}:$q", ctx.tracer))
      buildsSetup = SessionMemo.buildCount - b0
      runs.foreach(check(_, s"first-touch $k"))
      runs
    }
    ctx.heap.mark()
    val setupS = firsts.map(_.filter(_.error.isEmpty).map(_.ms).sum / 1e3)

    // ---- settle, then timed warm passes until the run's time is spent
    // (at least four)
    val settle = (1 to SettlePasses).flatMap { k =>
      val runs = Gen.shuffled(ctx.seed * 17 + k, queries)
        .map(q => runOne(session, dir.toString, q, s"settle:${moduleOf(q)}:$q", ctx.tracer))
      runs.foreach(check(_, s"settle pass $k"))
      runs
    }
    val b0 = SessionMemo.buildCount
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    val warm = scala.collection.mutable.ArrayBuffer.empty[Run]
    var passes = 0
    while (passes < MinWarmPasses || System.nanoTime() < deadline) {
      passes += 1
      val runs = Gen.shuffled(ctx.seed * 31 + passes, queries)
        .map(q => runOne(session, dir.toString, q, s"warm:${moduleOf(q)}:$q", ctx.tracer))
      runs.foreach(check(_, s"warm pass $passes"))
      warm ++= runs
    }
    val buildsWarm = SessionMemo.buildCount - b0
    ctx.heap.mark()
    val ok      = warm.filter(_.error.isEmpty)
    val medians = ok.groupBy(_.query).map { case (q, rs) => q -> Stats.median(rs.map(_.ms).toSeq) }
    val cpu     = ok.groupBy(_.query).map { case (q, rs) => q -> Stats.median(rs.map(_.cpuMs).toSeq) }
    val sweepS  = medians.values.sum / 1e3

    val e2e = Map(
      "setup_s"     -> Stats.median(setupS),
      "op_cpu_ms"   -> Stats.midMedian(cpu.values.toSeq),
      "work_cpu_ms" -> cpu.values.sum)

    val layers: Map[String, Double] =
      if (!ctx.trace) Map.empty
      else {
        ctx.tap.foreach(_.settle())
        val byModule = Metrics.modules.flatMap { m =>
          val tot = ctx.tap.map(_.totals(_.startsWith(s"warm:$m:"))).get
          Seq(
            s"query.$m.warm_s"     -> medians.filter(kv => moduleOf(kv._1) == m).values.sum / 1e3,
            s"query.$m.first_s"    -> firsts.head.filter(r => moduleOf(r.query) == m && r.error.isEmpty).map(_.ms).sum / 1e3,
            s"query.$m.cpu_s"      -> tot.cpuNs / 1e9 / passes,
            s"query.$m.shuffle_mb" -> tot.shuffleBytes / 1048576.0 / passes)
        }
        val cached = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
        val warmTot = ctx.tap.map(_.totals(_.startsWith("warm:"))).get
        byModule.toMap ++ Map(
          "core.memo.builds_setup" -> buildsSetup.toDouble, "core.memo.builds_warm" -> buildsWarm.toDouble,
          "spark.cached_mb_end" -> cached,
          "spark.cpu_s" -> warmTot.cpuNs / 1e9 / passes, "spark.shuffle_mb" -> warmTot.shuffleBytes / 1048576.0 / passes,
          "spark.spill_mb" -> warmTot.spillBytes / 1048576.0 / passes, "spark.tasks" -> warmTot.tasks.toDouble / passes)
      }
    SessionMemo.release(session)

    val attempts = firsts.flatten ++ settle ++ warm
    Outcome(
      attempted = attempts.size, failed = attempts.count(_.error.isDefined),
      errors = errors.toSeq, e2e = e2e, layers = layers,
      detail = Map(
        "queries" -> queries.size, "warm_passes" -> passes, "data_gen_s" -> genS, "scale" -> scale,
        "setup_s_each" -> setupS, "sweep_warm_s" -> sweepS, "queries_per_s" -> medians.size / sweepS,
        "query_ms" -> Stats.summary(medians.values.toSeq, cap = 0.9),
        "query_p50_ms" -> Stats.midMedian(medians.values.toSeq),
        "warm_ms" -> Stats.summary(ok.map(_.ms).toSeq, cap = 0.9),
        "not_oracle_checked" -> queries.filter(q => expected.get(q).exists(_._2 != "pass")),
        "per_query" -> queries.map { q =>
          q -> Map("module" -> moduleOf(q), "first_ms" -> firsts.head.find(_.query == q).map(_.ms),
            "warm_ms" -> medians.get(q), "warm_cpu_ms" -> cpu.get(q),
            "warm_cpu_ms_each" -> ok.filter(_.query == q).map(_.cpuMs))
        }.toMap))
  }

  /** Fixture derivation: each query's result written the way the engine's
    * correctness dump writes it (for the DuckDB oracle compare), and its
    * hash from two separate runs, which must agree. */
  def derive(spark: SparkSession, out: Path): Unit = {
    val data = out.resolve("data")
    generate(spark, data)
    val dump = out.resolve("results")
    F.createDirectories(dump)
    val tracer = new Tracer(false)
    val s = spark.newSession()
    val hashes = Queries.map { q =>
      val a = runOne(s, data.toString, q, s"derive:$q", tracer)
      val b = runOne(s, data.toString, q, s"derive:$q", tracer)
      val stable = a.hash.isDefined && a.hash == b.hash
      try SparkEntry.queries(q)(s, data.toString).coalesce(1).write.mode("overwrite").parquet(dump.resolve(q).toString)
      catch { case e: Exception => System.err.println(s"[derive] $q: ${e.getMessage}") }
      q -> Map("hash" -> a.hash, "stable" -> stable, "error" -> a.error.orElse(b.error))
    }.toMap
    val sql = SparkEntry.oracleSql.filter(kv => Queries.contains(kv._1))
    F.writeString(dump.resolve("oracle_sql.json"), Json.render(sql))
    F.writeString(out.resolve("hashes.json"), Json.render(Map("data_seed" -> DataSeed, "scale" -> Scale, "queries" -> hashes)))
  }
}
