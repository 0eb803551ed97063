package graft.serve

import java.io.{BufferedOutputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream, EOFException, FileOutputStream}
import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, StandardOpenOption}
import java.util.zip.CRC32
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Local write-ahead log for the hot tier (INV-2 analogue).
  *
  * The reference's hot buffer is RocksDB with its WAL on by default
  * (`/root/reference/src/storage/rocksdb.rs:579-592`,
  * `/root/reference/SPEC.md:183-201`): an event acknowledged with 202 is
  * durable before the flusher ever runs. Our [[HotBuffer]] is in-memory, so
  * this log restores that invariant: every accepted write is appended here
  * before the 202, and a restarting gateway replays the log to rebuild the
  * buffer — a crash between accept and flush loses nothing.
  *
  * The log is a run of segment files `hot-<id>.wal`, as RocksDB recycles
  * whole WAL files once their memtables flush. Appends go to the head
  * segment. [[roll]] (called by [[HotBuffer.cleanup]] after each flush)
  * closes the head and opens the next one; [[dropCommitted]] deletes each
  * closed segment whose events are all at or under the committed
  * watermarks and that closed at least `retainMs` ago. No live event is
  * ever rewritten.
  *
  * Format: length-prefixed CRC32-framed records. Replay reads the segments
  * in id order and stops at the first torn/corrupt record: it cuts that
  * segment there and deletes the later ones, so a crash mid-append leaves
  * a bad tail, never a bad prefix or a sequence gap. Two record types:
  *  - event: the full [[StoredEvent]]
  *  - seq-mark: (topic, partition, sequence) — one per counter at the head
  *    of every segment, so sequence counters survive after the segments
  *    holding a partition's events are deleted
  * A legacy single-file `hot.wal` (same format) replays as the oldest
  * segment.
  *
  * Durability level matches RocksDB's default WAL: records are flushed to
  * the OS page cache per append (survives process crash); pass
  * `fsyncEachAppend = true` to also survive power loss, at a latency cost.
  */
final class WriteAheadLog(dir: Path, fsyncEachAppend: Boolean = false) {
  import WriteAheadLog._
  Files.createDirectories(dir)

  // segments already on disk, read (then registered as closed) by [[replay]]
  private var found: Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.filter(p => idOf(p).isDefined).toSeq.sortBy(idOf(_).get)
    finally s.close()
  }
  private var closed = Vector.empty[Closed]
  // max-merged committed watermark per (topic, partition), from cleanup
  private val committed = mutable.Map.empty[(String, Int), Long]

  private var headId: Long = found.lastOption.flatMap(idOf).getOrElse(0L) + 1
  private var head: Path = _
  private var out: DataOutputStream = _
  private var fileOut: FileOutputStream = _
  // bytes known durably flushed (through the OS page cache) to the head —
  // the clean-tail watermark a failed append truncates back to
  private var committedLen: Long = 0L
  // highest event sequence per (topic, partition) in the head
  private val headMax = mutable.Map.empty[(String, Int), Long]

  // TEST-ONLY: the next appendFrames throws after buffering its frames but
  // before the flush — simulating a mid-append IO failure, exercising the
  // clean-tail recovery plus the HotBuffer rollback
  private[graft] var failNextAppend: Boolean = false
  // TEST-ONLY: the next roll throws after creating the next segment, before
  // the swap — the head must stay the append target
  private[graft] var failNextRoll: Boolean = false
  openHead(segmentPath(dir, headId))

  private def openHead(path: Path): Unit = {
    fileOut = new FileOutputStream(path.toFile, true)
    out = new DataOutputStream(new BufferedOutputStream(fileOut, 1 << 16))
    head = path
    committedLen = Files.size(path)
  }

  private def encode(tpe: Byte)(write: DataOutputStream => Unit): Array[Byte] = {
    val body = new ByteArrayOutputStream()
    val d    = new DataOutputStream(body)
    d.writeByte(tpe)
    write(d)
    d.flush()
    body.toByteArray
  }

  private def writeFrame(o: DataOutputStream)(bytes: Array[Byte]): Unit = {
    val crc = new CRC32(); crc.update(bytes)
    o.writeInt(bytes.length)
    o.writeLong(crc.getValue)
    o.write(bytes)
  }

  private def frameBytes(frames: Seq[Array[Byte]]): Long = frames.iterator.map(b => 12L + b.length.toLong).sum

  /** Replay rejects frames above this as corrupt and TRUNCATES the log
    * there — so append must never produce one: an oversized admitted
    * event would otherwise silently discard every acked event logged
    * after it on the next restart. */
  val MaxFrameBytes: Int = 64 << 20

  private def checkFrame(bytes: Array[Byte]): Unit =
    if (bytes.length > MaxFrameBytes)
      throw new IllegalArgumentException(
        s"event frame of ${bytes.length} bytes exceeds the $MaxFrameBytes-byte WAL replay cap")

  /** Write + flush a batch of pre-encoded frames to the head. On ANY
    * failure the head is restored to its last clean tail (close, truncate
    * to [[committedLen]], reopen) — continuing to append past a torn tail
    * would make every later acked event unreachable to replay (which stops
    * at the first torn frame). The caller ([[HotBuffer]]) rolls its buffer
    * state back too, so a failed append leaves NO trace: the client's
    * retry is safe. */
  private def appendFrames(frames: Seq[Array[Byte]]): Unit = synchronized {
    try {
      frames.foreach(writeFrame(out))
      if (failNextAppend) {
        failNextAppend = false
        throw new java.io.IOException("injected append failure (test hook)")
      }
      out.flush()
      if (fsyncEachAppend) fileOut.getFD.sync()
      committedLen += frameBytes(frames)
    } catch {
      case t: Throwable =>
        recoverTail()
        throw t
    }
  }

  /** Restore a clean tail after a failed append: bytes past
    * [[committedLen]] may be torn; truncate back and reopen so later
    * appends stay replayable. Caller holds the monitor. */
  private def recoverTail(): Unit = {
    try out.close() catch { case _: Exception => () }
    try truncate(head, committedLen) catch { case _: Exception => () }
    try openHead(head) catch { case _: Exception => () }
  }

  private def eventBody(e: StoredEvent)(d: DataOutputStream): Unit = {
    d.writeUTF(e.topic)
    d.writeInt(e.partition)
    d.writeLong(e.sequence)
    d.writeLong(e.timestampMs)
    d.writeBoolean(e.idempotencyKey.isDefined)
    e.idempotencyKey.foreach(d.writeUTF)
    d.writeInt(e.payload.length)
    d.write(e.payload)
  }

  private def seqMarks(counters: Iterable[((String, Int), Long)]): Seq[Array[Byte]] =
    counters.toSeq.sortBy(_._1).map { case ((t, p), s) =>
      encode(1) { d => d.writeUTF(t); d.writeInt(p); d.writeLong(s) }
    }

  def appendEvent(e: StoredEvent): Unit = appendEvents(Seq(e))

  /** Bulk append: every event framed individually (replay sees the same
    * record stream as N single appends) but ONE flush — and one fsync when
    * enabled — for the whole batch. A 500-record bulk write was paying 500
    * flush syscalls inside the hot-buffer lock; under double-concurrency
    * burst load that lock convoy was the gateway's worst-cycle p99. The
    * durability point is unchanged: the batch is in the OS page cache (or
    * on disk with fsync) before this returns, i.e. before the 202 ack. */
  def appendEvents(es: Iterable[StoredEvent]): Unit = {
    if (es.isEmpty) return
    val frames = es.iterator.map(e => encode(0)(eventBody(e))).toArray
    frames.foreach(checkFrame) // validate ALL before writing ANY (atomic batch)
    synchronized {
      appendFrames(frames.toSeq)
      es.foreach(e => raise(headMax, (e.topic, e.partition), e.sequence))
    }
  }

  /** Close the head and make a new segment, headed by one seq-mark per
    * entry of `counters`, the append target. A no-op while the head holds
    * no event. If the next segment cannot be written, the current head
    * stays the append target and the error is rethrown. The caller holds
    * the monitor its appends take ([[HotBuffer]]'s), so `counters` is
    * current and no append meets a closed stream. */
  def roll(counters: collection.Map[(String, Int), Long], nowMs: Long = System.currentTimeMillis()): Unit =
    synchronized {
      if (headMax.isEmpty) return
      val next  = segmentPath(dir, headId + 1)
      val marks = seqMarks(counters)
      val nf    = new FileOutputStream(next.toFile, true)
      val no    = new DataOutputStream(new BufferedOutputStream(nf, 1 << 16))
      try {
        if (failNextRoll) {
          failNextRoll = false
          throw new java.io.IOException("injected roll failure (test hook)")
        }
        marks.foreach(writeFrame(no))
        no.flush()
        if (fsyncEachAppend) nf.getFD.sync()
      } catch {
        case t: Throwable =>
          try no.close() catch { case _: Exception => () }
          Files.deleteIfExists(next)
          throw t
      }
      try out.close() catch { case _: Exception => () } // every frame is already flushed
      closed :+= Closed(head, committedLen, headMax.toMap, nowMs)
      headMax.clear()
      headId += 1
      head = next; out = no; fileOut = nf
      committedLen = frameBytes(marks)
    }

  /** Max-merge `watermarks` into the committed marks, then delete every
    * closed segment whose events are all at or under them and that closed
    * at least `retainMs` before `nowMs`. Retention is wall clock from the
    * close, never event time: a future-dated event cannot pin a segment. */
  def dropCommitted(watermarks: Iterable[((String, Int), Long)], retainMs: Long,
                    nowMs: Long = System.currentTimeMillis()): Unit = synchronized {
    watermarks.foreach { case (k, wm) => raise(committed, k, wm) }
    closed = closed.filter { s =>
      val done = nowMs - s.closedAtMs >= retainMs &&
        s.maxSeq.forall { case (k, seq) => seq <= committed.getOrElse(k, 0L) }
      if (done) Files.deleteIfExists(s.path)
      !done
    }
  }

  /** Segment files on disk (closed + head). */
  def segments: Int = synchronized(closed.size + 1)

  /** Bytes on disk across the segments. */
  def bytes: Long = synchronized(closed.iterator.map(_.bytes).sum + committedLen)

  /** Replay every intact record of the segments found on open, oldest
    * first, then head the new segment with the replayed counters. At the
    * first torn or corrupt frame the segment is cut there and every later
    * one is deleted. Call once, before the first append. */
  def replay(onEvent: StoredEvent => Unit, onSeqMark: (String, Int, Long) => Unit): Unit = synchronized {
    val counters = mutable.Map.empty[(String, Int), Long]
    var torn = false
    found.foreach { path =>
      if (torn) Files.deleteIfExists(path)
      else {
        val maxSeq = mutable.Map.empty[(String, Int), Long]
        val good = readFrames(path) { d =>
          d.readByte() match {
            case 0 =>
              val topic = d.readUTF(); val part = d.readInt()
              val seq = d.readLong(); val ts = d.readLong()
              val key = if (d.readBoolean()) Some(d.readUTF()) else None
              val payload = new Array[Byte](d.readInt()); d.readFully(payload)
              raise(maxSeq, (topic, part), seq)
              raise(counters, (topic, part), seq)
              onEvent(StoredEvent(seq, topic, part, payload, ts, key))
              true
            case 1 =>
              val (t, p, s) = (d.readUTF(), d.readInt(), d.readLong())
              raise(counters, (t, p), s)
              onSeqMark(t, p, s)
              true
            case _ => false
          }
        }
        if (good < Files.size(path)) { truncate(path, good); torn = true }
        closed :+= Closed(path, good, maxSeq.toMap, Files.getLastModifiedTime(path).toMillis)
      }
    }
    found = Nil
    if (counters.nonEmpty) appendFrames(seqMarks(counters))
  }

  /** Feed each intact frame body of `path` to `onFrame` (false: corrupt);
    * returns the length of the intact prefix. */
  private def readFrames(path: Path)(onFrame: DataInputStream => Boolean): Long = {
    val in = new DataInputStream(new java.io.BufferedInputStream(Files.newInputStream(path), 1 << 16))
    var good = 0L
    try {
      var ok = true
      while (ok) {
        try {
          val len = in.readInt()
          val crcExpect = in.readLong()
          if (len < 1 || len > MaxFrameBytes) ok = false
          else {
            val bytes = new Array[Byte](len)
            in.readFully(bytes)
            val crc = new CRC32(); crc.update(bytes)
            ok = crc.getValue == crcExpect &&
              onFrame(new DataInputStream(new java.io.ByteArrayInputStream(bytes)))
            if (ok) good += 12L + len
          }
        } catch { case _: EOFException => ok = false }
      }
    } finally in.close()
    good
  }

  def close(): Unit = synchronized { out.close() }
}

object WriteAheadLog {
  /** A closed segment: its size, the highest event sequence it holds per
    * (topic, partition), and when it closed (wall clock). */
  private final case class Closed(path: Path, bytes: Long, maxSeq: Map[(String, Int), Long], closedAtMs: Long)

  private val Segment = """hot-(\d{20})\.wal""".r

  private def segmentPath(dir: Path, id: Long): Path = dir.resolve(f"hot-$id%020d.wal")

  /** A segment's id; the legacy single-file log is segment 0. */
  private def idOf(p: Path): Option[Long] = p.getFileName.toString match {
    case Segment(id) => Some(id.toLong)
    case "hot.wal"   => Some(0L)
    case _           => None
  }

  private def raise(m: mutable.Map[(String, Int), Long], k: (String, Int), v: Long): Unit =
    if (m.getOrElse(k, 0L) < v) m.update(k, v)

  private def truncate(path: Path, len: Long): Unit = {
    val ch = FileChannel.open(path, StandardOpenOption.WRITE)
    try ch.truncate(len) finally ch.close()
  }
}
