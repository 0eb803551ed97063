package graft.serve

import scala.collection.mutable

/** The reference's core record (`/root/reference/src/contracts/storage.rs:204-211`). */
final case class StoredEvent(
    sequence: Long,
    topic: String,
    partition: Int,
    payload: Array[Byte],
    timestampMs: Long,
    idempotencyKey: Option[String]
)

/** The L1 hot tier behind the HTTP gateway: per-(topic, partition) event
  * buffers with monotonic sequence assignment (S6), idempotency-key dedup
  * returning the ORIGINAL offset on duplicates (S7, INV-4 —
  * `/root/reference/src/storage/rocksdb.rs:504-576,637-710`), operational
  * reads (Q1/Q2/Q3/Q5), and post-flush cleanup with an optional retention
  * window (F11, `rocksdb.rs:1150-1237`).
  *
  * The reference stores this tier in RocksDB with its WAL on by default
  * (`rocksdb.rs:579-592`): a 202-acknowledged write survives a crash. The
  * optional [[WriteAheadLog]] restores that invariant here — accepted
  * writes are appended before the ack and replayed on construction;
  * [[cleanup]] rolls the log to a new segment and deletes the segments
  * whose events are all committed. All methods are synchronized — this is
  * the single-node front-end, not the distributed path.
  */
final class HotBuffer(wal: Option[WriteAheadLog] = None) {
  private val events = mutable.Map.empty[(String, Int), mutable.ArrayBuffer[StoredEvent]]
  private val seqs   = mutable.Map.empty[(String, Int), Long]
  private val idem   = mutable.Map.empty[(String, Int, String), Long]

  // crash recovery: rebuild buffer + sequence counters + idempotency index
  // from the intact WAL prefix (INV-2)
  wal.foreach(_.replay(
    e => {
      val key = (e.topic, e.partition)
      events.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += e
      if (seqs.getOrElse(key, 0L) < e.sequence) seqs.update(key, e.sequence)
      e.idempotencyKey.foreach(k => idem.update((e.topic, e.partition, k), e.sequence))
    },
    (t, p, s) => if (seqs.getOrElse((t, p), 0L) < s) seqs.update((t, p), s)
  ))

  /** Seed sequence counters from committed watermarks (F9 — the reference
    * seeds its AtomicU64 from the persisted HWM, `sequence.rs:59-82`). */
  def seed(topic: String, watermarks: Map[Int, Long]): Unit = synchronized {
    watermarks.foreach { case (p, wm) =>
      val k = (topic, p)
      if (seqs.getOrElse(k, 0L) < wm) seqs.update(k, wm)
    }
  }

  /** Buffer insert WITHOUT the WAL append — callers append (single or
    * batched) and must hold this buffer's monitor. */
  private def insert(topic: String, partition: Int, payload: Array[Byte], timestampMs: Long,
                     idempotencyKey: Option[String]): (Long, Boolean, Option[StoredEvent]) =
    idempotencyKey.flatMap(k => idem.get((topic, partition, k))) match {
      case Some(orig) => (orig, true, None)
      case None =>
        val key  = (topic, partition)
        val next = seqs.getOrElse(key, 0L) + 1
        seqs.update(key, next)
        val e = StoredEvent(next, topic, partition, payload, timestampMs, idempotencyKey)
        events.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += e
        idempotencyKey.foreach(k => idem.update((topic, partition, k), next))
        (next, false, Some(e))
    }

  /** Undo freshly-inserted events after a FAILED WAL append. Without this,
    * a failed append left an un-logged event (and its idempotency entry)
    * in the buffer: the client's retry with the same key would hit the dup
    * path and be acked 202 without EVER reaching the log — an acked write
    * lost on crash (INV-2 broken). Rolling back leaves no trace, so the
    * 500'd request can be retried safely. Caller holds the monitor and
    * passes events in REVERSE insertion order so per-partition sequence
    * counters walk back correctly. */
  private def rollback(evs: Seq[StoredEvent]): Unit = evs.foreach { ev =>
    val key = (ev.topic, ev.partition)
    events.get(key).foreach { buf =>
      val i = buf.lastIndexWhere(_ eq ev)
      if (i >= 0) buf.remove(i)
    }
    if (seqs.get(key).contains(ev.sequence)) seqs.update(key, ev.sequence - 1)
    ev.idempotencyKey.foreach(k => idem.remove((ev.topic, ev.partition, k)))
  }

  /** Returns (offset, isDuplicate); duplicates return the original offset
    * and consume no sequence number. */
  def write(topic: String, partition: Int, payload: Array[Byte], timestampMs: Long,
            idempotencyKey: Option[String]): (Long, Boolean) = synchronized {
    val (off, dup, e) = insert(topic, partition, payload, timestampMs, idempotencyKey)
    e.foreach { ev => // durable BEFORE the 202 ack
      try wal.foreach(_.appendEvent(ev))
      catch { case t: Throwable => rollback(Seq(ev)); throw t }
    }
    (off, dup)
  }

  /** S2 bulk: the whole batch admits atomically under ONE lock pass and
    * lands in the WAL with ONE flush ([[WriteAheadLog.appendEvents]]).
    * Appending each record's frame individually from inside the lock cost
    * a flush syscall per event — 500 syscalls per bulk request — and that
    * lock convoy was the burst-load worst-cycle p99. Durability is
    * unchanged: the batch is WAL-appended before this returns (before the
    * 202 ack); duplicates return their original offsets and are not
    * re-logged. */
  def writeBulk(topic: String,
                records: Seq[(Array[Byte], Int, Long, Option[String])]): Seq[Long] = synchronized {
    val fresh = Seq.newBuilder[StoredEvent]
    val offs = records.map { case (payload, partition, ts, key) =>
      val (off, _, e) = insert(topic, partition, payload, ts, key)
      e.foreach(fresh += _)
      off
    }
    val fs = fresh.result()
    try wal.foreach(_.appendEvents(fs))
    catch { case t: Throwable => rollback(fs.reverse); throw t }
    offs
  }

  def topics: Seq[String] = synchronized { events.keys.map(_._1).toSeq.distinct.sorted }

  def partitions(topic: String): Seq[Int] = synchronized {
    events.keys.collect { case (t, p) if t == topic => p }.toSeq.sorted
  }

  /** Q1: offset range scan within one partition. The buffer is
    * sequence-ordered (writes append increasing sequences; cleanup and WAL
    * replay preserve order), so the range start is a BINARY SEARCH — the
    * O(log n + limit) seek the reference gets from a RocksDB prefix
    * iterator, not a scan from the buffer head. */
  def readPartition(topic: String, partition: Int, fromSeq: Long, limit: Int): Seq[StoredEvent] =
    synchronized {
      val buf = events.getOrElse((topic, partition), mutable.ArrayBuffer.empty)
      val lo  = seek(buf, fromSeq)
      buf.slice(lo, math.min(buf.size, lo + limit)).toSeq
    }

  /** Index of the first event with sequence >= `fromSeq` (binary search
    * over the sequence-ordered buffer). */
  private def seek(buf: mutable.ArrayBuffer[StoredEvent], fromSeq: Long): Int = {
    var lo = 0
    var hi = buf.size
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (buf(mid).sequence < fromSeq) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Q2+Q3: all-partition merge read ordered by event time, with optional
    * since filter (`rocksdb.rs:1017-1062`). */
  def readAll(topic: String, sinceMs: Option[Long], limit: Int): Seq[StoredEvent] = synchronized {
    events.iterator
      .collect { case ((t, _), buf) if t == topic => buf }
      .flatten
      .filter(e => sinceMs.forall(e.timestampMs >= _))
      .toSeq
      .sortBy(e => (e.timestampMs, e.partition, e.sequence))
      .take(limit)
  }

  /** Buffered events in `(committed, upTo]` per partition — the flush
    * input. `upTo` is the bound a flush captured when it started (absent:
    * no bound); events past it are neither returned nor charged to the
    * budget. `maxBytes` bounds one flush pass (the reference's
    * `max_segment_size`, its `src/flusher/mod.rs:338-456`):
    * per-partition SEQUENCE-CONTIGUOUS prefixes are taken until the budget
    * is spent (at least one event is always taken so a pass makes
    * progress), so repeated passes cover a backlog with dense sequences
    * preserved. Each partition's first uncommitted event is found by
    * binary search, as in [[readPartition]], not by walking the retained
    * committed prefix. */
  def pendingForFlush(topic: String, committed: Map[Int, Long],
                      maxBytes: Long = Long.MaxValue,
                      upTo: Option[Map[Int, Long]] = None): Seq[StoredEvent] = synchronized {
    var budget = maxBytes
    val out    = Seq.newBuilder[StoredEvent]
    events.toSeq.collect { case ((t, p), buf) if t == topic => (p, buf) }.sortBy(_._1)
      .foreach { case (p, buf) =>
        val hi = upTo.fold(Long.MaxValue)(_.getOrElse(p, 0L))
        var i  = seek(buf, committed.getOrElse(p, 0L) + 1)
        while (budget > 0L && i < buf.size && buf(i).sequence <= hi) {
          val e = buf(i)
          out += e
          budget -= e.payload.length.toLong + 64L
          i += 1
        }
      }
    out.result()
  }

  /** Per-partition high watermark (highest assigned sequence). */
  def highWatermarks(topic: String): Map[Int, Long] = synchronized {
    seqs.collect { case ((t, p), s) if t == topic => p -> s }.toMap
  }

  def size(topic: String): Int = synchronized {
    events.iterator.collect { case ((t, _), buf) if t == topic => buf.size }.sum
  }

  /** Buffered event count per partition — the per-(topic,partition) hot
    * storage gauge. */
  def partitionSizes(topic: String): Map[Int, Int] = synchronized {
    events.iterator.collect { case ((t, p), buf) if t == topic => p -> buf.size }.toMap
  }

  /** F11: evict events covered by the committed watermark, except those
    * within the retention window; drop idempotency entries for evicted
    * events (the reference's cleanup-watermark semantics). Then roll the
    * WAL to a new segment headed by every sequence counter, and delete the
    * closed segments whose events are all committed and that closed at
    * least `retainMs` ago. Appends take this monitor too, so none races the
    * roll. */
  def cleanup(topic: String, watermarks: Map[Int, Long], retainMs: Long = 0L,
              nowMs: Long = System.currentTimeMillis()): Int = synchronized {
    var n = 0
    watermarks.foreach { case (p, wm) =>
      events.get((topic, p)).foreach { buf =>
        val (drop, keep) = buf.partition(e => e.sequence <= wm && e.timestampMs < nowMs - retainMs)
        n += drop.size
        // a replayed committed event may share its key with a later live one
        drop.foreach(e => e.idempotencyKey.foreach { k =>
          if (idem.get((topic, p, k)).contains(e.sequence)) idem.remove((topic, p, k))
        })
        buf.clear(); buf ++= keep
      }
    }
    wal.foreach { w =>
      w.roll(seqs, nowMs)
      w.dropCommitted(watermarks.map { case (p, wm) => (topic, p) -> wm }, retainMs, nowMs)
    }
    n
  }
}
