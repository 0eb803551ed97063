package graft.table

import graft.iceberg.DataFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.Job
import org.apache.parquet.hadoop.{ParquetOutputFormat, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.{LocalOutputFile, OutputFile, PositionOutputStream}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.optimizer.CollapseProject
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetWriteSupport}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration
import java.util.concurrent.{Callable, ExecutionException, LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.util.{Failure, Success, Try}

/** The one table-file writer: a single Spark job whose tasks write sorted
  * parquet straight to final table paths and return each file's
  * [[DataFile]] stats from the writer's own footer — or, for rows already
  * in driver memory ([[localRows]]), the same per-task writer run on
  * driver threads with no job at all ([[writeLocal]]).
  *
  * Spark's `DataFrameWriter.parquet` (FileFormatWriter) ships the session
  * Hadoop `Configuration` inside every task closure twice (job description
  * + stats tracker) — ~25 ms of deserialization per task — and adds the
  * FileOutputCommitter protocol (`_temporary`, task/job commit renames,
  * `_SUCCESS`). Here the write conf is prepared ONCE on the driver by
  * Spark's own [[ParquetFileFormat.prepareWrite]] (schema, codec,
  * timestamp/rebase settings stay Spark's) and shipped as one broadcast.
  * Local roots write through parquet's nio [[LocalOutputFile]] (no Hadoop
  * LocalFileSystem: no `chmod` fork per file or directory, no `.crc`
  * sidecars); scheme roots through [[HadoopOutputFile]] — the same split
  * [[FileStats]] makes for reads.
  *
  * Every file gets a fresh UUID name, so a retried task attempt never
  * collides with a dead attempt's partial file; files a failed job leaves
  * behind are unreferenced orphans that [[graft.iceberg.OrphanGc]] reclaims.
  */
object TaskWriter extends Serializable {

  /** Write `df` — each task's rows already sorted so equal `keys` values are
    * contiguous — one file per run of equal keys, rolling over every
    * `maxRecords` rows. `keys` are directory keys: they are left out of the
    * files and handed (as one projected row) to `relPathOf`, which names a
    * new table-root-relative file for them. Returns the written files'
    * (stats, uncompressed bytes), sorted by path. */
  def write(df: DataFrame, tableRoot: String, keys: Seq[String], maxRecords: Long)
           (relPathOf: InternalRow => String): Seq[(DataFile, Long)] = {
    val spark                     = df.sparkSession
    val (conf, keyRefs, dataRefs) = prepare(spark, df.schema, keys)
    val confB = spark.sparkContext.broadcast(new SerializableConfiguration(conf))
    val qe    = df.queryExecution
    try SQLExecution.withNewExecutionId(qe, Some("writeFiles")) {
      qe.toRdd.mapPartitions { rows =>
        writeTask(rows, tableRoot, confB.value.value, UnsafeProjection.create(keyRefs),
                  UnsafeProjection.create(dataRefs), maxRecords, relPathOf).iterator
      }.collect().toSeq.sortBy(_._1.filePath)
    } finally confB.destroy()
  }

  /** `df`'s rows when its optimized plan is a driver-local relation — the
    * optimizer (`ConvertToLocalRelation`) folded every projection over rows
    * built on the driver into new driver rows — so no job is needed to
    * reach them. The projections are collapsed first, so the fold (and
    * every optimizer rule, each of which walks the relation's rows) runs
    * once over the batch instead of once per `withColumn`. A plan with any
    * other leaf is not optimized here. */
  def localRows(df: DataFrame): Option[Seq[InternalRow]] = {
    val plan = df.queryExecution.analyzed
    if (!plan.collectLeaves().forall(_.isInstanceOf[LocalRelation])) None
    else df.sparkSession.sessionState.executePlan(CollapseProject(plan)).optimizedPlan match {
      case l: LocalRelation => Some(l.data)
      case _                => None
    }
  }

  /** [[write]] for rows already on the driver, with no Spark job: the rows
    * are grouped by the first key (the log partition), and each group is
    * sorted by `order` with Spark's generated ordering and written by the
    * same [[writeTask]] on the shared [[writerPool]] — the reference
    * flusher's per-partition fan-out. Every group's write ends before a failure is
    * rethrown, so a failed call leaves only finished or abandoned orphan
    * files behind. */
  def writeLocal(spark: SparkSession, rows: Seq[InternalRow], schema: StructType, tableRoot: String,
                 keys: Seq[String], order: Seq[String], maxRecords: Long)
                (relPathOf: InternalRow => String): Seq[(DataFile, Long)] = {
    val (conf, keyRefs, dataRefs) = prepare(spark, schema, keys)
    val sortOrder = refs(schema, order).map(SortOrder(_, Ascending))
    val first     = schema.fieldIndex(keys.head)
    val groupKey  = InternalRow.getAccessor(schema(first).dataType, nullable = true)
    val writers   = writerPool(spark.sparkContext.defaultParallelism)
    val writes = rows.groupBy(groupKey(_, first)).values.toSeq.map { group =>
      writers.submit(new Callable[Seq[(DataFile, Long)]] {
        def call(): Seq[(DataFile, Long)] =
          writeTask(group.sorted(GenerateOrdering.generate(sortOrder)).iterator, tableRoot, conf,
                    UnsafeProjection.create(keyRefs), UnsafeProjection.create(dataRefs), maxRecords, relPathOf)
      })
    }
    writes.map(w => Try(w.get())).flatMap { // every write has ended here
      case Success(files)                 => files
      case Failure(e: ExecutionException) => throw e.getCause
      case Failure(e)                     => throw e
    }.sortBy(_._1.filePath)
  }

  /** The write conf, prepared ONCE by Spark's own `prepareWrite` for the
    * data columns, and the key and data column references into `schema`. */
  private def prepare(spark: SparkSession, schema: StructType, keys: Seq[String])
      : (Configuration, Seq[BoundReference], Seq[BoundReference]) = {
    val dataSchema = StructType(schema.filterNot(f => keys.contains(f.name)))
    val job        = Job.getInstance(spark.sessionState.newHadoopConf())
    new ParquetFileFormat().prepareWrite(spark, job, Map("compression" -> "zstd"), dataSchema)
    (job.getConfiguration, refs(schema, keys), refs(schema, dataSchema.fieldNames.toIndexedSeq))
  }

  private def refs(schema: StructType, fields: Seq[String]): Seq[BoundReference] =
    fields.map { n => val i = schema.fieldIndex(n); BoundReference(i, schema(i).dataType, schema(i).nullable) }

  /** The driver writers' threads, shared by every [[writeLocal]] call: as
    * many as the first writing session's `defaultParallelism`, daemons that
    * end after a minute idle. */
  private var pool: ThreadPoolExecutor = _

  private def writerPool(threads: Int): ThreadPoolExecutor = synchronized {
    if (pool == null) {
      val n = new AtomicInteger(0)
      pool = new ThreadPoolExecutor(threads, threads, 60L, TimeUnit.SECONDS, new LinkedBlockingQueue[Runnable](),
        (r: Runnable) => { val t = new Thread(r, s"graft-file-writer-${n.incrementAndGet()}"); t.setDaemon(true); t })
      pool.allowCoreThreadTimeOut(true)
    }
    pool
  }

  /** A new data file's name for a (partition, bucket[, event_date]) key:
    * `data/partition=P/b<B>-<uuid>.parquet`, or under the evolved date
    * spec `data/partition=P/event_date=D/pP-bB-<uuid>.parquet` (a null
    * date lands under Hive's default-partition dir). */
  def dataFilePath(k: InternalRow): String = {
    require(!k.isNullAt(0) && !k.isNullAt(1), "data rows need a non-null partition and sequence")
    val (p, b, u) = (k.getInt(0), k.getInt(1), java.util.UUID.randomUUID())
    if (k.numFields == 2) s"data/partition=$p/b$b-$u.parquet"
    else {
      val d = if (k.isNullAt(2)) "__HIVE_DEFAULT_PARTITION__" else java.time.LocalDate.ofEpochDay(k.getInt(2)).toString
      s"data/partition=$p/event_date=$d/p$p-b$b-$u.parquet"
    }
  }

  private def writeTask(rows: Iterator[InternalRow], tableRoot: String, conf: Configuration,
                        keyOf: UnsafeProjection, dataOf: UnsafeProjection, maxRecords: Long,
                        relPathOf: InternalRow => String): Seq[(DataFile, Long)] = {
    val out = Seq.newBuilder[(DataFile, Long)]
    var key: InternalRow = null
    var file: OpenFile   = null
    var n = 0L
    try {
      rows.foreach { row =>
        val k = keyOf(row)
        if (file == null || n >= maxRecords || k != key) {
          if (file != null) out += file.finish()
          key  = k.copy()
          file = new OpenFile(tableRoot, relPathOf(key), conf)
          n    = 0L
        }
        file.writer.write(dataOf(row))
        n += 1
      }
      if (file != null) out += file.finish()
      file = null
      out.result()
    } finally if (file != null) file.abandon()
  }

  /** One file being written, with the stream it writes through — the
    * closed stream's position is the file length, so no status call. */
  private final class OpenFile(tableRoot: String, relPath: String, conf: Configuration) {
    private var stream: PositionOutputStream = _
    private val target: OutputFile = {
      val abs = new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(tableRoot), relPath)
      if (Option(abs.toUri.getScheme).forall(_ == "file")) {
        val p = java.nio.file.Paths.get(abs.toUri.getPath)
        java.nio.file.Files.createDirectories(p.getParent)
        new LocalOutputFile(p)
      } else HadoopOutputFile.fromPath(abs, conf)
    }
    private val capturing = new OutputFile {
      def create(blockSize: Long): PositionOutputStream = { stream = target.create(blockSize); stream }
      def createOrOverwrite(blockSize: Long): PositionOutputStream = { stream = target.createOrOverwrite(blockSize); stream }
      def supportsBlockSize(): Boolean = target.supportsBlockSize()
      def defaultBlockSize(): Long = target.defaultBlockSize()
    }
    val writer: ParquetWriter[InternalRow] = new RowWriterBuilder(capturing)
      .withConf(conf)
      .withCompressionCodec(CompressionCodecName.fromConf(conf.get(ParquetOutputFormat.COMPRESSION)))
      .withRowGroupSize(ParquetOutputFormat.getLongBlockSize(conf))
      .withPageSize(ParquetOutputFormat.getPageSize(conf))
      .withDictionaryPageSize(ParquetOutputFormat.getDictionaryPageSize(conf))
      .withDictionaryEncoding(ParquetOutputFormat.getEnableDictionary(conf))
      .withWriterVersion(ParquetOutputFormat.getWriterVersion(conf))
      .build()

    def finish(): (DataFile, Long) = {
      writer.close()
      FileStats.fromFooter(relPath, writer.getFooter, stream.getPos)
    }

    /** Failure path: release the handle without writing a footer. */
    def abandon(): Unit = if (stream != null) try stream.close() catch { case _: Exception => () }
  }

  private final class RowWriterBuilder(file: OutputFile)
      extends ParquetWriter.Builder[InternalRow, RowWriterBuilder](file) {
    override def self(): RowWriterBuilder = this
    override def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] = new ParquetWriteSupport()
  }
}
