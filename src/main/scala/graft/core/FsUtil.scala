package graft.core

import java.nio.file.{Files, Path, Paths}

/** Small java.nio filesystem helpers shared across the engine (the local
  * hot paths deliberately use nio, not Hadoop's LocalFileSystem — see
  * [[graft.streaming.NioCheckpointFileManager]]'s rationale). */
object FsUtil {

  /** Recursive best-effort delete: children before parents, missing
    * entries tolerated (concurrent cleanup is never an error). No-op on a
    * non-existent root. */
  def deleteRecursively(root: Path): Unit =
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    }

  def deleteRecursively(root: String): Unit = deleteRecursively(Paths.get(root))

  /** Scheme-aware recursive delete: a path with a URI scheme (hdfs://,
    * s3a://, file://) goes through Hadoop's FileSystem — the index-root
    * sidecars are object-store-resident on a real cluster — while a bare
    * local path keeps the nio fast path. The FileSystem opens with the
    * ACTIVE SESSION's Hadoop conf ([[graft.iceberg.TableIO.hadoopConf]]):
    * a bare `new Configuration()` never sees `spark.hadoop.*` settings
    * (s3a credentials, endpoints, HA namenodes), so on the object-store
    * deployment this path exists for every delete would throw, be
    * swallowed by the best-effort catch, and leak the sidecar. Best-effort
    * like [[deleteRecursively]] (eviction/exit sweeps tolerate races). */
  def deleteTree(path: String): Unit =
    if (graft.iceberg.TableIO.hasScheme(path)) {
      val hp = new org.apache.hadoop.fs.Path(path)
      hp.getFileSystem(graft.iceberg.TableIO.hadoopConf()).delete(hp, true)
      ()
    } else deleteRecursively(path)

  // paths swept when the JVM exits — ONE process-wide hook however many
  // callers register, so hooks never accumulate per session/fixture
  private val sweepOnExit = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val hookInstalled: Unit = Runtime.getRuntime.addShutdownHook(new Thread(() =>
    sweepOnExit.forEach(p => try deleteTree(p) catch { case _: Exception => () })))

  /** Delete `path` recursively at JVM shutdown (idempotent; an earlier
    * explicit delete just makes the sweep a no-op). */
  def deleteOnExit(path: String): Unit = { hookInstalled; sweepOnExit.add(path); () }

  /** A fresh local temp dir that is swept at JVM exit: a fixture cached
    * for the process lifetime has no earlier point to delete it, and one
    * deleted sooner just makes the sweep a no-op. */
  def tempDir(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix).toString
    deleteOnExit(dir)
    dir
  }
}
