package perfbench

import java.nio.file.{Files => F, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own logic: percentile rule, open-loop accounting, result
  * hashing, seeded generators, and that a wrong answer fails the run. */
class BenchLogicSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder().master("local[2]").appName("perfbench-test")
    .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", "2").getOrCreate()

  test("tail percentile is the highest one with at least ten samples beyond it") {
    assert(Stats.tailQuantile(1000) == 0.99)
    assert(Stats.tailQuantile(100) == 0.9)
    assert(Stats.tailQuantile(40) == 0.75)
    assert(Stats.tailQuantile(20) == 0.5) // too few samples: the median
    val xs = (1 to 100).map(_.toDouble)
    val (v, q) = Stats.tail(xs)
    assert(q == 0.9 && v == 90.0)
    assert(xs.count(_ > v) == 10)
    val big = (1 to 5000).map(_.toDouble)
    assert(Stats.tail(big)._1 == 4950.0) // capped at p99, 50 beyond
    assert(Stats.midMedian(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5 && Stats.midMedian(Seq(3.0, 1.0, 2.0)) == 2.0)
  }

  test("CPU between snapshots is taken per thread, and a thread that ends drops only its last part") {
    // thread 1 ended after the first snapshot, 2 spent 2 ms, 3 started and spent 4 ms
    assert(Cpu.msBetween(Map(1L -> 5000000000L, 2L -> 1000000L), Map(2L -> 3000000L, 3L -> 4000000L)) == 6.0)
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
    def spin(ms: Long): Unit = {
      val t0 = mx.getCurrentThreadCpuTime
      while (mx.getCurrentThreadCpuTime - t0 < ms * 1000000L) {}
    }
    val (_, spent) = Cpu.ms(spin(60))
    assert(spent >= 60 && spent < 400, spent)
  }

  test("open loop: a stalled send is charged to the requests due behind it") {
    var now = 0L
    val clock = new Clock {
      def nanoTime(): Long = now
      def sleepUntil(t: Long): Unit = if (now < t) now = t
    }
    val ms = 1000000L
    // requests due every 10 ms; request 0 stalls for 35 ms, the rest take 1 ms
    val samples = OpenLoop.drive(0 until 5, i => i * 10 * ms, clock,
      i => { now += (if (i == 0) 35 else 1) * ms; true })
    assert(samples.map(_.latencyMs) == Seq(35.0, 26.0, 17.0, 8.0, 1.0))
    assert(samples.map(_.lateMs) == Seq(0.0, 25.0, 16.0, 7.0, 0.0))
    // a send that throws is a failure, not a fast success
    val failed = OpenLoop.drive(Seq(0), _ => 0L, clock, _ => throw new RuntimeException("boom"))
    assert(failed.map(_.ok) == Seq(false))
  }

  test("result hash ignores row order and partitioning, and sees every column") {
    val df = spark.range(500).select(col("id"), (col("id") * 3 % 7).as("k"),
      map(lit("a"), col("id")).as("m"), array(col("id"), lit(1L)).as("arr"))
    val h = ResultHash.of(df)
    assert(ResultHash.of(df.orderBy(desc("id"))) == h)
    assert(ResultHash.of(df.repartition(7)) == h)
    assert(h._1 == 500)
    assert(ResultHash.of(df.withColumn("k", col("k") + 1)) != h)
    assert(ResultHash.of(df.filter(col("id") =!= 17)) != h)
  }

  test("generators: the same seed gives the same inputs, another seed other inputs") {
    assert(Gen.traffic(7, 100, 300) == Gen.traffic(7, 100, 300))
    assert(Gen.traffic(7, 100, 300) != Gen.traffic(8, 100, 300))
    val t = Gen.traffic(7, 100, 2000)
    assert(t.exists(_.resendOf >= 0) && t.exists(_.single) && t.exists(!_.single))
    assert(t.filter(_.resendOf >= 0).forall(r => t(r.resendOf).records == r.records))
    assert(ResultHash.of(Gen.events(spark, 7, 2000)) == ResultHash.of(Gen.events(spark, 7, 2000)))
    assert(ResultHash.of(Gen.events(spark, 7, 2000)) != ResultHash.of(Gen.events(spark, 8, 2000)))
    val a = StreamBackfill.reads(7, 30, 0L, 1000000L, Map(0 -> 5000L))
    assert(a == StreamBackfill.reads(7, 30, 0L, 1000000L, Map(0 -> 5000L)))
    assert(a != StreamBackfill.reads(8, 30, 0L, 1000000L, Map(0 -> 5000L)))
    assert(Gen.shuffled(7, QuerySweep.Queries) == Gen.shuffled(7, QuerySweep.Queries))
    assert(Gen.shuffled(7, QuerySweep.Queries) != Gen.shuffled(8, QuerySweep.Queries))
  }

  test("a wrong expected hash fails the run; the right one passes") {
    val work = F.createTempDirectory(Paths.get("target"), "sweep-").toAbsolutePath
    val q    = "s7_idempotency_dedup"
    val ctx  = Ctx(spark, 1L, 0.0, trace = false, work.resolve("query_sweep"), new Tracer(false), None, new HeapMarks)
    val data = ctx.work.resolveSibling(s"query-data-seed${QuerySweep.DataSeed}-sf0.001")
    QuerySweep.generate(spark, data, 0.001)
    val right = QuerySweep.runOne(spark.newSession(), data.toString, q, "test", new Tracer(false)).hash.get
    assert(!right.startsWith("0:"))
    def expect(h: String) = {
      val p = work.resolve(s"expected-$h.json")
      F.writeString(p, s"""{"queries":{"$q":{"hash":"$h","oracle":"pass"}}}""")
      p
    }
    val good = QuerySweep.run(ctx, expect(right), Seq(q), 0.001)
    assert(good.errors.isEmpty && Main.exitCode(good) == 0)
    assert(Main.resultLine(good, trace = false).startsWith("""{"correct":true,"""))

    val bad = QuerySweep.run(ctx, expect("0:0000000000000000"), Seq(q), 0.001) // an injected wrong hash
    assert(bad.errors.nonEmpty && bad.errors.forall(_.contains("!= expected")))
    assert(Main.exitCode(bad) == 1)
    assert(Main.resultLine(bad, trace = false).startsWith("""{"correct":false,"""))
  }

  test("the sweep fixture matches the generated dataset, and every query in it returns rows") {
    val doc = new com.fasterxml.jackson.databind.ObjectMapper().readTree(Paths.get("expected", "query_sweep.json").toFile)
    assert(doc.get("data_seed").asLong == QuerySweep.DataSeed && doc.get("scale").asDouble == QuerySweep.Scale)
    QuerySweep.Queries.foreach(q => assert(!doc.get("queries").get(q).get("hash").asText.startsWith("0:"), q))
  }

  test("the metric names match BENCHMARK.json") {
    val doc = new com.fasterxml.jackson.databind.ObjectMapper().readTree(Paths.get("..", "BENCHMARK.json").toFile)
    def names(k: String) = {
      val it = doc.get(k).elements()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).map(n => n.get("name").asText -> n.get("unit").asText).toSeq
    }
    assert(names("end_to_end") == Metrics.endToEnd)
    assert(names("per_layer") == Metrics.perLayer)
    val wl = doc.get("workloads").elements()
    assert(Iterator.continually(wl).takeWhile(_.hasNext).map(_.next().get("name").asText).toSeq == Main.Workloads)
  }
}
