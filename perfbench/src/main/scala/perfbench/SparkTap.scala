package perfbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark's own task metrics, totalled per job group (the caller sets the
  * group with `SparkContext.setJobGroup` around the calls it measures), plus
  * the progress events of every streaming query in the application. A
  * plain SparkListener sees the streaming events too — they travel on the
  * same bus — so queries started from the engine's own cloned session are
  * covered without reaching into it. */
final class SparkTap extends SparkListener {
  final class Totals {
    var tasks = 0L; var cpuNs = 0L; var shuffleBytes = 0L; var spillBytes = 0L
    def add(o: Totals): Unit = { tasks += o.tasks; cpuNs += o.cpuNs; shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes }
  }

  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val byGroup    = new ConcurrentHashMap[String, Totals]()
  @volatile private var lastEventNs = System.nanoTime()

  /** One record per streaming trigger: (durations by phase in ms, input rows). */
  val triggers = new java.util.concurrent.ConcurrentLinkedQueue[(Map[String, Long], Long)]()

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    lastEventNs = System.nanoTime()
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    stageGroup.put(e.stageInfo.stageId, g)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    lastEventNs = System.nanoTime()
    val m = e.taskMetrics
    val t = byGroup.computeIfAbsent(stageGroup.getOrDefault(e.stageId, ""), _ => new Totals)
    t.synchronized {
      t.tasks += 1
      if (m != null) {
        t.cpuNs += m.executorCpuTime
        t.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: StreamingQueryListener.QueryProgressEvent =>
      lastEventNs = System.nanoTime()
      val d = p.progress.durationMs
      val phases = Seq("triggerExecution", "addBatch", "walCommit", "commitOffsets", "getBatch")
        .flatMap(k => Option(d.get(k)).map(v => k -> v.longValue)).toMap
      triggers.add((phases, p.progress.numInputRows))
    case _ => ()
  }

  /** Wait until the listener bus has been quiet for 300 ms (at most 5 s),
    * so totals include every task that already ended. */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (System.nanoTime() - lastEventNs < 300000000L && System.nanoTime() < deadline) Thread.sleep(50)
  }

  /** Totals over the groups accepted by `p`. */
  def totals(p: String => Boolean = _ => true): Totals = {
    val out = new Totals
    byGroup.forEach((g, t) => if (p(g)) t.synchronized(out.add(t)))
    out
  }
}
