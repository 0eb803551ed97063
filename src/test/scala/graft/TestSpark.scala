package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole suite. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession
      .builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A fresh temp dir that is deleted when the test JVM exits
    * ([[graft.core.FsUtil.tempDir]]), as a `Path`. */
  def tempDir(prefix: String): java.nio.file.Path =
    java.nio.file.Paths.get(graft.core.FsUtil.tempDir(prefix))

  /** Spark jobs `body` starts on this thread, counted by a listener under a
    * private job group. The listener bus is FIFO, so once a fence job
    * submitted after `body` has been delivered, so has every job of `body`. */
  def jobsDuring(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc    = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID}"
    val jobs  = new java.util.concurrent.atomic.AtomicInteger(0)
    val fence = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some(`group`)                   => jobs.incrementAndGet(); ()
          case Some(g) if g == s"$group-fence" => fence.countDown()
          case _                               => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "jobs under count")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-fence", "listener fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(fence.await(30, java.util.concurrent.TimeUnit.SECONDS), "listener fence never arrived")
    } finally sc.removeSparkListener(listener)
    jobs.get()
  }
}
