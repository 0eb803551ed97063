package perfbench

/** Time source for the open-loop sender, replaceable in tests. */
trait Clock {
  def nanoTime(): Long
  def sleepUntil(tNs: Long): Unit
}

object SystemClock extends Clock {
  def nanoTime(): Long = System.nanoTime()
  def sleepUntil(tNs: Long): Unit = {
    var left = tNs - System.nanoTime()
    while (left > 0) {
      java.util.concurrent.locks.LockSupport.parkNanos(left)
      left = tNs - System.nanoTime()
    }
  }
}

/** An open-loop sender: each request has a due time fixed in advance, and a
  * sender never waits for the system to be ready before the next one is
  * due. A sender that falls behind sends at once, and the request's latency
  * is still counted from its due time — so a stall is charged to every
  * request that was due while it lasted, not only to the stalled one. */
object OpenLoop {
  final case class Sample(id: Int, dueNs: Long, sentNs: Long, doneNs: Long, ok: Boolean) {
    def latencyMs: Double = (doneNs - dueNs) / 1e6
    def lateMs: Double    = (sentNs - dueNs) / 1e6
  }

  /** Send `ids` in order, each at `due(id)` or as soon after as the sender
    * is free; `send` returns whether the request succeeded. A send that
    * throws counts as failed and is never timed as a success. */
  def drive(ids: Seq[Int], due: Int => Long, clock: Clock, send: Int => Boolean): Seq[Sample] = {
    val out = Vector.newBuilder[Sample]
    val it  = ids.iterator
    while (it.hasNext) {
      val id = it.next()
      val d  = due(id)
      clock.sleepUntil(d)
      val sent = clock.nanoTime()
      val ok   = try send(id) catch { case _: Exception => false }
      out += Sample(id, d, sent, clock.nanoTime(), ok)
    }
    out.result()
  }
}
