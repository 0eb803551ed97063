package graft

import graft.llm.StreamingNearDup
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Behavior of the incremental near-dup operator: state survives across
  * query restarts (a later drop pairs against earlier documents), every
  * pair is emitted exactly once, and a hot bucket stops admitting at the
  * cap instead of going quadratic. */
class StreamingNearDupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docsDf(rows: (Long, String)*) =
    rows.toSeq.toDF("doc_id", "text")

  private def runPairs(staging: String, ckpt: String, sink: String, maxBucket: Int = 256): Unit = {
    val src = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType))))
      .option("maxFilesPerTrigger", 1).parquet(staging)
    val q = StreamingNearDup.pairs(src, maxBucket).toDF().writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .format("parquet").option("path", sink)
      .outputMode("append").start()
    q.awaitTermination()
  }

  private def readPairs(sink: String): Seq[(Long, Long, Long)] =
    spark.read.parquet(sink).select("doc_a", "doc_b", "est_permille").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

  test("a document arriving in a LATER drop pairs against state from an earlier run") {
    val staging = TestSpark.tempDir("graft-snd-stage-").toString
    val ckpt    = TestSpark.tempDir("graft-snd-ckpt-").toString
    val sink    = TestSpark.tempDir("graft-snd-sink-").toString
    val textA   = "the quick brown fox jumps over the lazy dog"
    docsDf(0L -> textA, 3L -> "completely different words entirely here now")
      .coalesce(1).write.mode("append").parquet(staging)
    runPairs(staging, ckpt, sink)
    val afterFirst = readPairs(sink)
    assert(!afterFirst.exists(p => p._1 == 5L || p._2 == 5L))

    // drop 2, SAME checkpoint: the restart must resume bucket state, so the
    // new exact-dup pairs with doc 0 from run 1 (est 1000 — identical sigs)
    docsDf(5L -> textA).coalesce(1).write.mode("append").parquet(staging)
    runPairs(staging, ckpt, sink)
    val all = readPairs(sink)
    val p05 = all.filter(p => p._1 == 0L && p._2 == 5L)
    assert(p05.nonEmpty, s"cross-drop duplicate must surface, got $all")
    assert(p05.forall(_._3 === 1000L), "identical docs estimate full Jaccard")
    // exactly once per shared band, and never against the unrelated doc
    assert(p05.size <= graft.llm.LlmQueries.Bands)
    assert(!all.exists(p => (p._1 == 3L || p._2 == 3L) && p._3 > 500L))
  }

  test("a hot bucket stops admitting at the cap: bounded pairs + surfaced overflow") {
    val staging = TestSpark.tempDir("graft-snd-hot-stage-").toString
    val ckpt    = TestSpark.tempDir("graft-snd-hot-ckpt-").toString
    val sink    = TestSpark.tempDir("graft-snd-hot-sink-").toString
    val boiler  = "lorem ipsum dolor sit amet consectetur adipiscing elit"
    val cap     = 3
    docsDf((0L until 10L).map(i => i -> boiler): _*)
      .coalesce(1).write.mode("append").parquet(staging)
    runPairs(staging, ckpt, sink, maxBucket = cap)
    val pairs = readPairs(sink)
    // per band: C(cap,2)=3 pairs max, never C(10,2)=45 — the quadratic guard
    assert(pairs.size <= 3 * graft.llm.LlmQueries.Bands, s"got ${pairs.size} pairs")
    assert(pairs.nonEmpty)

    // the overflow audit reports the refused arrivals on a fresh replay
    val ckpt2 = TestSpark.tempDir("graft-snd-hot-ckpt2-").toString
    val src = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType))))
      .option("maxFilesPerTrigger", 1).parquet(staging)
    val sink2 = TestSpark.tempDir("graft-snd-hot-ovf-").toString
    val q = StreamingNearDup.overflow(src, cap).toDF("band", "band_hash", "n_refused")
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt2)
      .format("parquet").option("path", sink2)
      .outputMode("append").start()
    q.awaitTermination()
    val refused = spark.read.parquet(sink2).select("n_refused").collect().map(_.getLong(0))
    assert(refused.nonEmpty && refused.sum >= (10 - cap).toLong,
      s"overflow must be surfaced, got ${refused.toSeq}")
  }

  test("state TTL is a dedup horizon: duplicates inside it pair, beyond it do not") {
    def runWithTtl(staging: String, ckpt: String, sink: String, ttlMs: Long): Unit = {
      val src = spark.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType))))
        .option("maxFilesPerTrigger", 1).parquet(staging)
      val q = StreamingNearDup.pairs(src, stateTtlMs = Some(ttlMs)).toDF().writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", sink)
        .outputMode("append").start()
      q.awaitTermination()
    }
    val textA = "the quick brown fox jumps over the lazy dog"
    // inside the horizon: the drop-2 duplicate pairs against drop 1
    val (st1, ck1, sk1) = (TestSpark.tempDir("graft-ttl-in-s").toString,
      TestSpark.tempDir("graft-ttl-in-c").toString,
      TestSpark.tempDir("graft-ttl-in-k").toString)
    docsDf(0L -> textA).coalesce(1).write.mode("append").parquet(st1)
    runWithTtl(st1, ck1, sk1, ttlMs = 3600 * 1000L)
    docsDf(5L -> textA).coalesce(1).write.mode("append").parquet(st1)
    runWithTtl(st1, ck1, sk1, ttlMs = 3600 * 1000L)
    assert(readPairs(sk1).exists(p => p._1 == 0L && p._2 == 5L),
      "a duplicate inside the TTL horizon must pair")

    // beyond the horizon: the idle bucket restarts empty, so no pair
    val (st2, ck2, sk2) = (TestSpark.tempDir("graft-ttl-out-s").toString,
      TestSpark.tempDir("graft-ttl-out-c").toString,
      TestSpark.tempDir("graft-ttl-out-k").toString)
    docsDf(0L -> textA).coalesce(1).write.mode("append").parquet(st2)
    runWithTtl(st2, ck2, sk2, ttlMs = 300L)
    Thread.sleep(1200)
    docsDf(5L -> textA).coalesce(1).write.mode("append").parquet(st2)
    runWithTtl(st2, ck2, sk2, ttlMs = 300L)
    assert(!readPairs(sk2).exists(p => p._1 == 0L && p._2 == 5L),
      "a duplicate beyond the TTL horizon must NOT pair (state expired)")
  }

  test("stepBucket TTL: members expire individually by age even under steady bucket traffic") {
    import graft.llm.StreamingNearDup.{BandRow, BucketState, stepBucket}
    val sig = Seq.fill(graft.llm.LlmQueries.MinHashK)("x")
    val ttl = Some(100L)
    // t=0: A arrives. t=60: B arrives (bucket traffic keeps flowing).
    // t=150: C arrives — A (age 150) is past the horizon and must be gone
    // even though the BUCKET was active at t=60; B (age 90) still pairs.
    val (s1, o1, _) = stepBucket(0, BucketState(Nil, Nil, 0L), Seq(BandRow(0, "h", 1L, sig)), 10, 0L, ttl)
    assert(o1.isEmpty && s1.ids === List(1L))
    val (s2, o2, _) = stepBucket(0, s1, Seq(BandRow(0, "h", 2L, sig)), 10, 60L, ttl)
    assert(o2.map(p => (p.doc_a, p.doc_b)) === Seq((1L, 2L)))
    val (s3, o3, _) = stepBucket(0, s2, Seq(BandRow(0, "h", 3L, sig)), 10, 150L, ttl)
    assert(o3.map(p => (p.doc_a, p.doc_b)) === Seq((2L, 3L)),
      "the expired member must not pair; the in-horizon member must")
    assert(s3.ids.toSet === Set(2L, 3L), "expiry frees the old member's slot")
  }

  test("stepBucket properties: conservation, cap, exactly-once, order-independence across splits") {
    import graft.llm.StreamingNearDup.{BandRow, BucketState, stepBucket}
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.propBoolean
    val sigGen = Gen.listOfN(graft.llm.LlmQueries.MinHashK, Gen.chooseNum(0, 5).map(_.toString))
    val rowGen = for { id <- Gen.chooseNum(0L, 40L); sig <- sigGen }
      yield BandRow(0, "h", id, sig)
    val gen = for {
      rows <- Gen.listOf(rowGen)
      cap  <- Gen.chooseNum(1, 12)
      cut  <- Gen.chooseNum(0, rows.size)
    } yield (rows, cap, cut)
    val prop = Prop.forAll(gen) { case (rows, cap, cut) =>
      val empty = BucketState(Nil, Nil, 0L)
      // one big trigger
      val (st1, out1, ref1) = stepBucket(0, empty, rows, cap)
      // the same arrivals split across two triggers at an arbitrary cut
      val (stA, outA, refA) = stepBucket(0, empty, rows.take(cut), cap)
      val (stB, outB, refB) = stepBucket(0, stA, rows.drop(cut), cap)
      val distinctIds = rows.map(_.doc_id).distinct.size
      val admitted    = st1.ids.size
      (admitted == math.min(distinctIds, cap)) :| "cap binds exactly" &&
      (st1.ids.distinct.size == st1.ids.size) :| "state never holds a doc twice" &&
      (out1.size == admitted.toLong * (admitted - 1) / 2) :| "emitted = C(admitted, 2) pairs" &&
      (out1.map(p => (p.doc_a, p.doc_b)).distinct.size == out1.size) :| "each pair exactly once" &&
      (out1.forall(p => p.doc_a < p.doc_b)) :| "pairs ordered" &&
      (out1.forall(p => p.est_permille >= 0 && p.est_permille <= 1000)) :| "estimate in [0,1000]" &&
      (ref1 == st1.overflowed) :| "refusals accumulate in state" &&
      // split-invariance: WHICH docs are admitted depends on per-trigger
      // order (first-come under the cap), but with no overflow the final
      // state set and total emitted pair set must not depend on the cut
      ((ref1 > 0 || refA + refB > 0) ||
        (stB.ids.toSet == st1.ids.toSet &&
         outA.concat(outB).map(p => (p.doc_a, p.doc_b)).toSet ==
           out1.map(p => (p.doc_a, p.doc_b)).toSet)) :| "no-overflow runs are cut-invariant"
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), prop)
    assert(res.passed, res.status.toString)
  }
}
