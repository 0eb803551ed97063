package graft.serve

import org.apache.spark.sql.SparkSession

/** The runnable server — the analogue of the reference's single binary
  * (`/root/reference/src/main.rs:280-360`): read `ZOMBI_*` environment
  * configuration with the reference's names and defaults, start the HTTP
  * gateway over a local Spark session, and run the flusher timer loop
  * (F1: wake every `ZOMBI_FLUSH_INTERVAL_SECS`, flush every hot topic;
  * the reference's `src/flusher/mod.rs:514-650`). Shutdown stops
  * admission, then flushes every acknowledged event (F12).
  */
object Serve {
  final case class Config(
      port: Int,
      dataDir: String,
      flushIntervalSecs: Long,
      retentionMs: Long,
      maxInflight: Int,
      maxInflightBytes: Long,
      catalog: Option[CatalogClient],
      namespace: String,
      autoMaintenance: Boolean
  )

  /** Reference-parity env parsing (`main.rs:280-360`, `flusher/mod.rs:53-98`). */
  def config(env: Map[String, String]): Config = Config(
    port = env.get("ZOMBI_PORT").flatMap(_.toIntOption).getOrElse(8080),
    dataDir = env.getOrElse("ZOMBI_DATA_DIR",
      env.getOrElse("ZOMBI_STORAGE_PATH", "./zombi-data")),
    flushIntervalSecs = env.get("ZOMBI_FLUSH_INTERVAL_SECS").flatMap(_.toLongOption).getOrElse(300L),
    retentionMs = env.get("ZOMBI_HOT_RETENTION_SECS").flatMap(_.toLongOption).getOrElse(0L) * 1000L,
    maxInflight = env.get("ZOMBI_MAX_INFLIGHT_WRITES").flatMap(_.toIntOption).getOrElse(10000),
    maxInflightBytes =
      env.get("ZOMBI_MAX_INFLIGHT_BYTES_MB").flatMap(_.toLongOption).getOrElse(64L) * 1024 * 1024,
    catalog = env.get("ZOMBI_CATALOG_URL").map(url => new CatalogClient(url)),
    namespace = env.getOrElse("ZOMBI_CATALOG_NAMESPACE", "zombi"),
    // our addition (the reference has no snapshot history to bound): the
    // flush clock also drives threshold-gated vacuums; opt out with 0
    autoMaintenance = !env.get("ZOMBI_AUTO_MAINTENANCE").contains("0")
  )

  def gateway(spark: SparkSession, cfg: Config): GatewayServer =
    new GatewayServer(
      spark,
      cfg.dataDir,
      port = cfg.port,
      namespace = cfg.namespace,
      maxInflight = cfg.maxInflight,
      maxInflightBytes = cfg.maxInflightBytes,
      retentionMs = cfg.retentionMs,
      catalog = cfg.catalog
    )

  /** F1: the flusher timer thread — wake on interval and flush, per topic,
    * what was acknowledged by then; events arriving during the flush wait
    * for the next tick, so each tick commits its own backlog and returns
    * (the reference's timer loop, `flusher/mod.rs:514-650`). With
    * `maintain` on, the SAME clock then probes each topic's metadata
    * thresholds and vacuums the ones that crossed one
    * ([[GatewayServer#maintainIfNeeded]] — the reference's timer loop runs
    * every eroding invariant, and snapshot/manifest/delete-mask accretion
    * is this engine's). The probe is summary-reads only, so per-tick over
    * all topics is cheap; a triggered vacuum interleaves with flushes via
    * the per-table step lock. */
  def flushDaemon(gw: GatewayServer, intervalMs: Long, maintain: Boolean = true): Thread = {
    val t = new Thread(() => {
      try while (!Thread.currentThread().isInterrupted) {
        Thread.sleep(intervalMs)
        gw.hot.topics.foreach { topic =>
          try gw.flushNow(topic)
          catch {
            // a long-running flush/vacuum surfaces the shutdown hook's
            // interrupt as an exception from inside Spark — swallowing it
            // would consume the interrupt and keep the daemon walking the
            // remaining topics until some later sleep happens to be hit
            case ie: InterruptedException => throw ie
            case _: Exception             => () // next tick retries (F10)
          }
        }
        // the maintenance probe covers COMMITTED tables too (library-path
        // writers accrete snapshots/masks without ever holding hot events)
        if (maintain) gw.maintainableTopics().foreach { topic =>
          try gw.maintainIfNeeded(topic)
          catch {
            case ie: InterruptedException => throw ie // prompt shutdown
            case _: Exception             => () // same contract: next tick
          }
        }
      } catch { case _: InterruptedException => () }
    }, "graft-flush-daemon")
    t.setDaemon(true)
    t
  }

  def main(args: Array[String]): Unit = {
    val cfg = config(sys.env)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft-serve")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_SHUFFLE_PARTITIONS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val gw   = gateway(spark, cfg)
    val port = gw.start()
    val daemon = flushDaemon(gw, cfg.flushIntervalSecs * 1000L, maintain = cfg.autoMaintenance)
    daemon.start()
    // F12. Registered with Hadoop's hook manager ahead of Spark's own hook
    // (priority FileSystem.SHUTDOWN_HOOK_PRIORITY + 30), which stops the
    // SparkContext: a plain JVM hook would run concurrently with it and
    // flush on a stopped context.
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(() => {
      daemon.interrupt()
      // stop admission first, so the final flush (which commits what was
      // acknowledged before it started) covers every acked event
      gw.stop()
      gw.hot.topics.foreach(t => try gw.flushNow(t) catch { case _: Exception => () })
      graft.core.SessionMemo.release(spark) // free memoized cached frames
    }, org.apache.hadoop.fs.FileSystem.SHUTDOWN_HOOK_PRIORITY + 40)
    println(s"""{"status":"serving","port":$port,"data_dir":"${cfg.dataDir}","flush_interval_secs":${cfg.flushIntervalSecs}}""")
    Thread.currentThread().join() // serve until killed
  }
}
