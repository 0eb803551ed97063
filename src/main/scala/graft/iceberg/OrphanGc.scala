package graft.iceberg

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.util.SerializableConfiguration

/** Orphan-file GC: physically delete `data/` files referenced by NO
  * snapshot (any status, any retained snapshot) and NO staged-batch marker.
  * Such files are crash leftovers — a writer that died between its data
  * write and its marker/commit — invisible to every reader but
  * accumulating storage forever.
  *
  *  - `olderThanMs` protects in-flight writes that have finished their
  *    data files but not yet published a marker or snapshot: only files
  *    older than the horizon are eligible. The horizon must comfortably
  *    exceed the longest write→commit window of any UNMARKED writer (batch
  *    ingest / compaction / delete rewrites stage files in `data/` for the
  *    duration of their footer-stats pass + commit — only streamed batches
  *    carry markers). The 24 h default dwarfs any such window; operators
  *    with faster guarantees can pass a tighter horizon.
  *  - References cover BOTH contents: live position/equality delete files
  *    sit under `data/deletes/`, and sweeping one would silently unmask
  *    its rows.
  *  - Status-2 (deleted) manifest entries count as references on purpose:
  *    their physical files are removed by compaction/DELETE themselves, and
  *    a file still named by history belongs to `expireSnapshots`, not to
  *    this sweep.
  *
  * It is a SCHEDULED-MAINTENANCE operation (admin `POST /tables/{t}/gc`,
  * `Maintenance.vacuum`), never an inline step, and it runs as a Spark job
  * in the shape Iceberg's own `remove_orphan_files` action uses — at 100 TB
  * a table carries ~800k files, too many to list and match on the driver:
  *  - the driver enumerates only NAMESPACE-SIZED inputs — the first level
  *    of `data/` (partition dirs), the manifest-LIST files (one per
  *    snapshot), and the staged-batch markers;
  *  - executors do everything proportional to file count: each task lists
  *    its `data/` subtree (path + mtime) and parses its slice of manifests
  *    into referenced paths;
  *  - eligibility is one `left_anti` join: listing minus (manifest entries
  *    ∪ staged markers), mtime-gated by the horizon.
  *
  * Only the RESULT (the orphans themselves — crash leftovers, bounded by
  * failure frequency, not table size) is ever collected to the driver.
  *
  * Reference behavior: the stranded-upload reclamation in
  * `/root/reference/src/storage/iceberg_storage.rs` (uncommitted S3 uploads
  * invisible to readers but accumulating storage).
  */
object OrphanGc {

  /** Executors rebuild their TableIO from (root, broadcast Hadoop conf) so
    * `spark.hadoop.*` settings (s3a credentials, endpoints) reach every
    * FileSystem a task opens. */
  private def executorIo(root: String, conf: Broadcast[SerializableConfiguration]): TableIO =
    TableIO.forRoot(root, conf.value.value)

  /** Candidate-orphan frame: one `path` per file under `data/` older than
    * the horizon and referenced by NO manifest entry (any status, any
    * retained snapshot) and NO staged-batch marker. */
  def orphans(spark: SparkSession, root: String, olderThanMs: Long): DataFrame = {
    import spark.implicits._
    val io        = TableIO.forRoot(root)
    val committer = new IcebergCommitter(io)
    val cutoff    = System.currentTimeMillis() - olderThanMs
    val confB     = spark.sparkContext.broadcast(new SerializableConfiguration(TableIO.hadoopConf()))
    val par       = spark.sparkContext.defaultParallelism

    // listing: driver sees partition-dir NAMES only; files+mtimes stream
    // out of executor-side recursive listings, one task per subtree slice
    val firstLevel = io.list("data")
    val listing =
      if (firstLevel.isEmpty) spark.emptyDataset[(String, Long)].toDF("path", "mtime")
      else spark.createDataset(firstLevel)
        .repartition(math.max(1, math.min(firstLevel.size, par)))
        .mapPartitions { dirs =>
          val tio = executorIo(root, confB)
          dirs.flatMap(d => tio.listFilesRecursive(d))
        }.toDF("path", "mtime")

    // references: manifest lists are snapshot-count-sized (driver); the
    // manifests themselves — the file-count-proportional part — parse in
    // executors
    val manifestPaths = committer.load().toSeq.flatMap(_.snapshots)
      .flatMap(s => IcebergCommitter.cachedManifestList(io, s.manifestList))
      .map(_.manifestPath).distinct
    val refs =
      if (manifestPaths.isEmpty) spark.emptyDataset[String].toDF("path")
      else spark.createDataset(manifestPaths)
        .repartition(math.max(1, math.min(manifestPaths.size, par)))
        .mapPartitions { paths =>
          val tio = executorIo(root, confB)
          paths.flatMap(p => ManifestIO.readManifest(tio.get(p)).map(_.dataFile.filePath))
        }.toDF("path")

    // staged-batch markers: tiny (in-flight batches only), driver-read
    val staged = io.list("staged").filter(_.endsWith(".marker"))
      .flatMap(m => new String(io.get(m), "UTF-8").split('\n').filter(_.nonEmpty))
    val stagedDf = staged.toDF("path")

    listing.filter($"mtime" < cutoff)
      .join(refs.union(stagedDf).distinct(), Seq("path"), "left_anti")
      .select("path")
  }

  /** Run the sweep and delete; returns the deleted paths sorted.
    * Deletes run executor-side (object-store DELETE is a per-file
    * round-trip — serializing them on the driver would make the reclaim
    * latency-bound); only the path LIST is collected, which is safe —
    * orphans are crash leftovers, bounded by failure frequency, never by
    * table size. */
  def remove(spark: SparkSession, root: String, olderThanMs: Long = 24L * 60 * 60 * 1000): Seq[String] = {
    import spark.implicits._
    val out = orphans(spark, root, olderThanMs).as[String].collect().sorted.toSeq
    if (out.nonEmpty) {
      val confB = spark.sparkContext.broadcast(new SerializableConfiguration(TableIO.hadoopConf()))
      val slices = math.max(1, math.min(out.size, spark.sparkContext.defaultParallelism))
      spark.sparkContext.parallelize(out, slices).foreachPartition { paths =>
        val tio = executorIo(root, confB)
        paths.foreach(tio.delete)
      }
    }
    out
  }
}
