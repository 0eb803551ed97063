package graft

import graft.core.EventLog
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** INV-1/2/3/4/5 properties of the canonical log (mirrors
  * `/root/reference/tests/property_tests.rs` + `SPEC.md:747-758`). */
class EventLogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** (event_id, timestamp_ms, part_id, idempotency_key) rows. */
  private def toDf(rows: Seq[(Long, Long, Int, String)]): DataFrame =
    rows.toDF("event_id", "timestamp_ms", "part_id", "idempotency_key")

  private val genRows: Gen[List[(Long, Long, Int, String)]] = for {
    n    <- Gen.chooseNum(1, 60)
    rows <- Gen.listOfN(
      n,
      for {
        ts   <- Gen.chooseNum(0L, 500L)
        part <- Gen.chooseNum(0, 3)
        key  <- Gen.chooseNum(0, 30) // small pool → frequent duplicate keys
      } yield (ts, part, s"k$key")
    )
  } yield rows.zipWithIndex.map { case ((ts, p, k), i) => (i.toLong, ts, p, k) }

  private def check(p: Prop): Unit =
    assert(SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), p).passed)

  test("INV-1: sequences are dense 1..n per partition (property)") {
    check(Prop.forAll(genRows) { rows =>
      val out = EventLog
        .assignSequences(toDf(rows))
        .select("part_id", "sequence")
        .collect()
        .groupBy(_.getInt(0))
        .view
        .mapValues(_.map(_.getLong(1)).sorted.toList)
      out.forall { case (_, seqs) => seqs == (1L to seqs.size).toList }
    })
  }

  test("assignSequences matches the single-shuffle window row_number (property)") {
    check(Prop.forAll(genRows) { rows =>
      val df = toDf(rows)
      val viaWindow = df
        .withColumn(
          "sequence",
          row_number().over(Window.partitionBy("part_id").orderBy("timestamp_ms", "event_id")).cast("long")
        )
        .select("event_id", "sequence")
        .collect()
        .map(r => r.getLong(0) -> r.getLong(1))
        .toMap
      val viaTwoPhase = EventLog
        .assignSequences(df)
        .select("event_id", "sequence")
        .collect()
        .map(r => r.getLong(0) -> r.getLong(1))
        .toMap
      viaWindow == viaTwoPhase
    })
  }

  test("per-partition sequencing matches the two-phase path (property)") {
    check(Prop.forAll(genRows) { rows =>
      val df   = toDf(rows).withColumn("props", concat(lit("p"), col("event_id")))
      val base = Map(0 -> 7L, 2 -> 100L)
      val viaTwoPhase = EventLog
        .assignSequences(df, base)
        .select("event_id", "sequence")
        .collect()
        .map(r => r.getLong(0) -> r.getLong(1))
        .toMap
      val viaPerPartition = EventLog
        .assignSequencesPerPartition(df, base)
        .select("event_id", "sequence")
        .collect()
        .map(r => r.getLong(0) -> r.getLong(1))
        .toMap
      viaTwoPhase == viaPerPartition
    })
  }

  test("INV-2/3: sequence order preserves (timestamp_ms, event_id) arrival order") {
    val out = EventLog
      .assignSequences(toDf(Seq((0L, 10L, 0, "a"), (1L, 5L, 0, "b"), (2L, 5L, 0, "c"), (3L, 7L, 1, "d"))))
      .collect()
      .map(r => (r.getAs[Int]("part_id"), r.getAs[Long]("sequence"), r.getAs[Long]("event_id")))
    assert(out.toSet === Set((0, 1L, 1L), (0, 2L, 2L), (0, 3L, 0L), (1, 1L, 3L)))
  }

  test("base offsets continue numbering from persisted watermarks") {
    val out = EventLog
      .assignSequences(toDf(Seq((0L, 1L, 0, "a"), (1L, 2L, 0, "b"), (2L, 1L, 1, "c"))), base = Map(0 -> 100L))
      .select("part_id", "sequence")
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)))
      .toSet
    assert(out === Set((0, 101L), (0, 102L), (1, 1L)))
  }

  test("INV-5: partition isolation — other partitions don't shift a partition's sequences") {
    val both    = Seq((0L, 1L, 0, "a"), (1L, 2L, 0, "b"), (2L, 1L, 1, "c"), (3L, 3L, 1, "d"))
    val onlyP0  = both.filter(_._3 == 0)
    def seqsOf(rows: Seq[(Long, Long, Int, String)], p: Int) =
      EventLog
        .assignSequences(toDf(rows))
        .filter(col("part_id") === p)
        .select("event_id", "sequence")
        .collect()
        .map(r => r.getLong(0) -> r.getLong(1))
        .toSet
    assert(seqsOf(both, 0) === seqsOf(onlyP0, 0))
  }

  test("NULL-key events are never deduped (reference: key-less writes skip dedup)") {
    // 5 null-key rows sharing a partition + 3 copies of one keyed event
    val df = toDf(Seq((0L, 10L, 0, "dup"), (1L, 11L, 0, "dup"), (2L, 12L, 0, "dup")))
      .unionByName(Seq((10L, 20L, 0), (11L, 21L, 0), (12L, 22L, 0), (13L, 23L, 1), (14L, 24L, 1))
        .toDF("event_id", "timestamp_ms", "part_id")
        .withColumn("idempotency_key", lit(null).cast("string")))
    val out = EventLog.deduped(df)
    assert(out.filter($"idempotency_key".isNull).count() === 5, "all key-less rows survive")
    assert(out.filter($"idempotency_key" === "dup").select("event_id").as[Long].collect().toSeq === Seq(0L),
      "keyed duplicates still collapse to the first arrival")
  }

  test("INV-4: the sf0.001 log has no duplicate (part_id, idempotency_key)") {
    val dups = EventLog
      .log(spark, "/root/testdata/sf0.001")
      .groupBy("part_id", "idempotency_key")
      .count()
      .filter(col("count") > 1)
      .count()
    assert(dups === 0L)
  }

  test("retries share the original's partition, so every retry is dedupable") {
    val raw = EventLog.raw(spark, "/root/testdata/sf0.001")
    val multi = raw
      .groupBy("idempotency_key")
      .agg(count(lit(1)).as("n"), countDistinct("part_id").as("nparts"))
      .filter(col("n") > 1)
    assert(multi.count() > 0, "synthetic retries must exist")
    assert(multi.filter(col("nparts") > 1).count() === 0L)
  }

  test("hot: each session gets its own persisted frame, and release unpersists it") {
    val dir = "/root/testdata/sf0.001"
    val s1  = spark.newSession()
    val s2  = spark.newSession()
    try {
      val h1 = EventLog.hot(s1, dir)
      val h2 = EventLog.hot(s2, dir)
      assert(h1.sparkSession eq s1)
      assert(h2.sparkSession eq s2, "a second session must not get the first session's frame")
      assert(EventLog.hot(s2, dir) eq h2, "memoized within the session")
      assert(h2.storageLevel !== org.apache.spark.storage.StorageLevel.NONE)
      graft.core.SessionMemo.release(s2)
      assert(h2.storageLevel === org.apache.spark.storage.StorageLevel.NONE,
        "release must unpersist the retired session's hot frame")
      assert(h1.storageLevel !== org.apache.spark.storage.StorageLevel.NONE, "other sessions keep theirs")
    } finally {
      graft.core.SessionMemo.release(s1)
      graft.core.SessionMemo.release(s2)
    }
  }
}
