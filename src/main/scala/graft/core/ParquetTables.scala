package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The one reader for a parquet TABLE — a directory of parquet files or a
  * single-file table, never an explicit file list or a glob.
  *
  * A bare `spark.read.parquet(path)` infers the schema on every call: Spark
  * runs a one-task job that opens a footer and ships the Hadoop conf,
  * ~80 ms of driver CPU per read on a warm session, paid again by every
  * query constructor that names the table. Here the schema Spark's own
  * inference returns on the first read is kept, and later reads declare
  * it (`read.schema(cached)`), which runs no job. The cache key is
  *  - the qualified path;
  *  - the file-set [[stamp]], so a rewritten or appended table re-infers;
  *  - the session's parquet confs (`spark.sql.parquet.*`,
  *    `spark.sql.legacy.parquet.*`), which change what inference returns:
  *    `nanosAsLong` turns a nanosecond `ts` into a LONG.
  * The cache is process-wide and LRU-bounded; a miss runs its inference
  * job outside the cache lock. */
object ParquetTables {
  private val schemas = new Lru[StructType](256)

  def read(s: SparkSession, path: String): DataFrame = {
    val p    = new Path(path)
    val fs   = p.getFileSystem(s.sessionState.newHadoopConf())
    val conf = s.conf.getAll
      .filter { case (k, _) => k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") }
      .toSeq.sorted.mkString(",")
    val key  = s"${fs.makeQualified(p)}@${stampOf(fs, p)}@$conf"
    schemas.peek(key) match {
      case Some(schema) => s.read.schema(schema).parquet(path)
      case None =>
        val df = s.read.parquet(path)
        schemas.put(key, df.schema)
        df
    }
  }

  /** MD5 over the file set under `path` (recursive Hadoop listing, sorted
    * per-file path:length:mtime — an aggregated max(mtime)+total-length
    * stamp would collide for a table rewritten within one millisecond at
    * the same total size). Works on any Hadoop filesystem, s3a included;
    * also keys the derived-sink caches built from a table. */
  def stamp(s: SparkSession, path: String): String = {
    val p = new Path(path)
    stampOf(p.getFileSystem(s.sessionState.newHadoopConf()), p)
  }

  private def stampOf(fs: FileSystem, p: Path): String = {
    val it    = fs.listFiles(p, true)
    val files = Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toSeq
    val detail = files.map(f => s"${f.getPath}:${f.getLen}:${f.getModificationTime}").sorted.mkString(";")
    java.security.MessageDigest.getInstance("MD5")
      .digest(detail.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }
}
