package graft

import graft.serve.{HotBuffer, WriteAheadLog}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Model-based property check: the HotBuffer must agree with a naive
  * reference model under arbitrary interleavings of writes (with duplicate
  * keys), reads, watermark cleanups and, with a WAL, crash-restarts — the
  * L2 invariant style of
  * `/root/reference/tests/property_tests.rs` applied to the serving tier. */
class HotBufferModelSpec extends AnyFunSuite {

  sealed trait Op
  case class W(partition: Int, key: Option[String], ts: Long) extends Op
  case class Clean(watermarks: Map[Int, Long])                extends Op
  /** Close the WAL and rebuild the buffer from its directory. */
  case object Crash                                           extends Op

  private val genWrite: Gen[Op] = for {
    p   <- Gen.chooseNum(0, 2)
    key <- Gen.option(Gen.chooseNum(0, 8).map(k => s"k$k"))
    ts  <- Gen.chooseNum(0L, 100L)
  } yield W(p, key, ts)

  private def genClean(maxWm: Long): Gen[Op] =
    Gen.mapOf(Gen.zip(Gen.chooseNum(0, 2), Gen.chooseNum(0L, maxWm))).map(Clean(_))

  private val genOp: Gen[Op] = Gen.frequency(8 -> genWrite, 1 -> genClean(5L))

  /** Naive single-threaded model: per-partition lists + key→offset maps. */
  private final class Model {
    var seqs    = Map.empty[Int, Long].withDefaultValue(0L)
    var idem    = Map.empty[(Int, String), Long]
    var events  = Map.empty[Int, List[(Long, Long)]].withDefaultValue(Nil) // (seq, ts)

    def write(p: Int, key: Option[String], ts: Long): (Long, Boolean) =
      key.flatMap(k => idem.get((p, k))) match {
        case Some(orig) => (orig, true)
        case None =>
          val next = seqs(p) + 1
          seqs += p -> next
          events += p -> (events(p) :+ (next, ts))
          key.foreach(k => idem += (p, k) -> next)
          (next, false)
      }

    def clean(wms: Map[Int, Long]): Unit = wms.foreach { case (p, wm) =>
      val (drop, keep) = events(p).partition(_._1 <= wm)
      events += p -> keep
      // evicted events free their idempotency keys
      idem = idem.filterNot { case ((ip, _), seq) => ip == p && drop.exists(_._1 == seq) }
    }
  }

  private def sameState(h: HotBuffer, m: Model): Boolean = (0 to 2).forall { p =>
    h.readPartition("t", p, 0L, 1000).map(e => (e.sequence, e.timestampMs)) == m.events(p)
  } && h.highWatermarks("t") == m.seqs.filter(_._2 > 0)

  test("HotBuffer matches the naive model under random op sequences (property)") {
    val prop = Prop.forAll(Gen.listOfN(60, genOp)) { ops =>
      val h = new HotBuffer
      val m = new Model
      val resultsMatch = ops.zipWithIndex.forall {
        case (W(p, key, ts), i) =>
          h.write("t", p, Array.emptyByteArray, ts, key) == m.write(p, key, ts)
        case (Clean(wms), _) =>
          h.cleanup("t", wms); m.clean(wms); true
        case (Crash, _) => false // not generated: no WAL here
      }
      resultsMatch && sameState(h, m)
    }
    assert(SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(100), prop).passed)
  }

  test("HotBuffer with a WAL matches the model across crashes (property)") {
    val genCrashOp = Gen.frequency(8 -> genWrite, 2 -> genClean(20L), 1 -> Gen.const(Crash))
    val prop = Prop.forAll(Gen.listOfN(60, genCrashOp)) { ops =>
      val dir = TestSpark.tempDir("graft-model-wal-")
      var wal = new WriteAheadLog(dir)
      var h   = new HotBuffer(Some(wal))
      val m   = new Model
      // what the gateway has committed: the max-merged cleanup watermarks
      var committed = Map.empty[Int, Long]
      val ok = ops.forall {
        case W(p, key, ts) =>
          h.write("t", p, Array.emptyByteArray, ts, key) == m.write(p, key, ts)
        case Clean(raw) =>
          // a committed watermark never passes the partition's counter
          val wms = raw.map { case (p, wm) => p -> math.min(wm, m.seqs(p)) }
          h.cleanup("t", wms); m.clean(wms)
          committed = committed ++ wms.map { case (p, wm) => p -> math.max(wm, committed.getOrElse(p, 0L)) }
          true
        case Crash =>
          wal.close()
          wal = new WriteAheadLog(dir)
          h = new HotBuffer(Some(wal))
          // every live event and every counter comes back; every live key
          // still dedups to its original offset
          val liveBack = (0 to 2).forall { p =>
            val back = h.readPartition("t", p, 0L, 1000).map(e => (e.sequence, e.timestampMs)).toSet
            m.events(p).forall(back)
          }
          val countersBack = h.highWatermarks("t") == m.seqs.filter(_._2 > 0)
          val keysBack = m.idem.forall { case ((p, k), seq) =>
            h.write("t", p, Array.emptyByteArray, 0L, Some(k)) == ((seq, true))
          }
          // replay may also bring back committed events whose segment is
          // still kept; the gateway's next cleanup evicts them
          h.cleanup("t", committed)
          liveBack && countersBack && keysBack && sameState(h, m)
      }
      wal.close()
      ok && sameState(h, m)
    }
    assert(SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(100), prop).passed)
  }
}
