package graft.table

import graft.core.EventLog
import graft.iceberg._
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** The flush pipeline (SURVEY §2.3 F2–F4) + cold read, Spark-first.
  *
  * Reference behaviors matched:
  *  - per-partition flush with SIZE-CAPPED segments
  *    (`/root/reference/src/flusher/mod.rs:338-456`, 128 MB target
  *    `flusher/mod.rs:90`): each log partition is split into
  *    `ceil(bytes / targetFileSize)` sequence-contiguous buckets, so output
  *    files approach the target size at any scale — 8 files at sf0.1,
  *    ~800k files at 100 TB, never one micro-file per (date,hour,partition)
  *  - single-partition files sorted `(timestamp_ms, sequence)`
  *    (`/root/reference/src/storage/parquet.rs:657-683`) under a Hive
  *    `partition=P/` layout; `event_date`/`event_hour` ride along as data
  *    columns whose min/max land in the manifest bounds, so date/hour/time
  *    pruning is manifest-stat-driven (the Iceberg-native pattern —
  *    `/root/reference/SPEC.md:306-318` delegates pruning to file stats too)
  *  - per-file column statistics from parquet FOOTERS → Iceberg big-endian
  *    bounds (the reference's `storage/parquet.rs:479-604`), taken by each
  *    write task from the footer it just wrote — no second pass over files
  *
  * Scale notes: the write is one Spark job with at most one shuffle, keyed
  * on (partition, size-bucket) — none for callers whose rows are already
  * clustered per partition; bucket sizing comes from a cheap columnar
  * pre-agg (count + payload bytes per partition, the reference's
  * `payload+64B` estimate, `flusher/mod.rs:361-390`). Driver work is
  * O(#files) metadata only.
  */
object EventTable {
  val Topic = "events"

  /** Reference flush target: 128 MB data files (`flusher/mod.rs:90`). */
  val DefaultTargetFileSize: Long = 128L * 1024 * 1024

  /** Committed 8-column schema (SURVEY §1.2) as read back from the table. */
  val committedReadSchema: StructType = StructType(Seq(
    StructField("sequence", LongType, nullable = false),
    StructField("topic", StringType, nullable = false),
    StructField("payload", BinaryType, nullable = false),
    StructField("timestamp_ms", LongType, nullable = false),
    StructField("idempotency_key", StringType, nullable = true),
    StructField("event_date", DateType, nullable = false),
    StructField("event_hour", IntegerType, nullable = false),
    StructField("partition", IntegerType, nullable = false)
  ))

  /** Canonical log projected to the reference's 8-column committed schema. */
  def committedSchema(log: DataFrame): DataFrame =
    log.select(
      col("sequence"),
      lit(Topic).as("topic"),
      col("props").cast("binary").as("payload"),
      col("timestamp_ms"),
      col("idempotency_key"),
      expr("date_add(date '1970-01-01', event_date_days)").as("event_date"),
      col("event_hour"),
      col("part_id").as("partition")
    )

  /** F2+F3: size-targeted, sorted, partition-clustered Zstd parquet write
    * with F4 stats from the writer itself. Returns EXACTLY the files this
    * call wrote, as (DataFile, uncompressed bytes — Σ block totalByteSize,
    * the next streamed batch's bucketing profile), sorted by path.
    *
    * Two-phase like the reference's `flush_partition`: (1) a cheap agg
    * estimates bytes per log partition (`payload + 64B` per row); (2) each
    * partition is cut into sequence-contiguous buckets of ~`targetFileSize`
    * and shuffled so each bucket is written by one task. Files are always
    * single-`partition` (the Hive dir guarantees it) and sorted
    * `(timestamp_ms, sequence)` within.
    *
    * The write is ONE Spark job of [[TaskWriter]] tasks: each task writes
    * every (partition, bucket) run it holds straight to its final
    * `data/partition=P/b<B>-<uuid>.parquet` name and returns the file's
    * stats from the footer it just wrote — no staging dir, no rename, no
    * footer re-read. Input whose plan folds to a driver-local relation (a
    * gateway flush batch) runs the same layout and task writer on driver
    * threads instead, with no job. Exactness guarantees, both load-bearing
    * for concurrent writers and the manifest-totals arithmetic:
    *  - the returned list is the job's own output, never a before/after
    *    directory diff that could adopt (or later delete) a concurrent
    *    writer's files; files are invisible until a snapshot references
    *    them by NAME, and a failed job's leftovers are orphans
    *    ([[graft.iceberg.OrphanGc]]);
    *  - rows arrive sorted by (partition, bucket), so each pair yields
    *    exactly one file even when two buckets hash to the same shuffle
    *    task — file count is exactly Σ ceil(bytes/target) at any scale.
    *
    * `fragmentInto = Some(n)` overrides the target to `totalBytes / n` —
    * used by tests/compaction scenarios to force a fragmented layout.
    */
  def writeFiles(df: DataFrame, tableRoot: String,
                 targetFileSize: Long = DefaultTargetFileSize,
                 fragmentInto: Option[Int] = None,
                 precomputedStats: Option[Seq[(Int, Long, Long)]] = None,
                 clustered: Boolean = false,
                 seqBase: Map[Int, Long] = Map.empty,
                 dateLayout: Boolean = false): Seq[(DataFile, Long)] = {
    val spark = df.sparkSession
    import spark.implicits._
    // reference's estimate: payload + 64B/row; extracted tables have no
    // payload column, so fall back to a flat per-row estimate. Callers that
    // already counted rows/bytes (the fused sequencing pass) skip the job.
    val rowBytes =
      if (df.columns.contains("payload")) length(col("payload")) + lit(64L) else lit(80L)
    val stats = precomputedStats.map(_.toArray).getOrElse(
      df.groupBy(col("partition"))
        .agg(count(lit(1)).as("rows"), sum(rowBytes).as("bytes"))
        .collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))))
    val target = fragmentInto match {
      case Some(n) => math.max(1024L, stats.map(_._3).sum / n)
      case None    => targetFileSize
    }
    val chunks = stats.map { case (p, rows, bytes) =>
      val buckets = math.max(1L, (bytes + target - 1) / target)
      // a partition under the size target is ONE file, full stop — a finite
      // chunk here would spill a tiny tail file whenever the actual batch
      // carries a few more rows than the (possibly previous-batch) profile
      val chunk = if (buckets == 1) Long.MaxValue else math.max(1L, (rows + buckets - 1) / buckets)
      (p, chunk, buckets)
    }
    val totalBuckets = math.max(1, chunks.map(_._3).sum.toInt)

    // Chunk lookup must not DROP uncovered partitions: `stats` may be an
    // approximate profile (e.g. a streaming batch reusing the previous
    // batch's) — a partition it doesn't cover still writes (single bucket,
    // chunk = Long.MaxValue). Bounded profiles ride as a LITERAL MAP
    // expression (no broadcast exchange or hash-join build per call — a
    // measurable per-trigger cost on the streaming path); a huge profile
    // (very wide bulk load) falls back to a broadcast join rather than
    // bloating the plan tree.
    val (withChunk, chunkCol) =
      if (chunks.length > 1024) {
        val chunkDf = chunks.map { case (p, chunk, _) => (p, chunk) }.toSeq.toDF("partition", "seq_chunk")
        (df.join(broadcast(chunkDf), Seq("partition"), "left"), coalesce(col("seq_chunk"), lit(Long.MaxValue)))
      } else if (chunks.nonEmpty) {
        val m = typedLit(chunks.map { case (p, chunk, _) => p -> chunk }.toMap)
        (df, coalesce(element_at(m, col("partition")), lit(Long.MaxValue)))
      } else (df, lit(Long.MaxValue))
    // `seqBase` anchors bucket 0 at each partition's pre-write watermark so
    // bucket boundaries align with THIS write's sequence range: an append
    // whose sequences continue from an arbitrary watermark still cuts
    // ceil(bytes/target) files, instead of straddling an absolute-sequence
    // boundary and emitting an extra fragment per partition per batch.
    val baseCol =
      if (seqBase.isEmpty) lit(0L)
      else coalesce(element_at(typedLit(seqBase), col("partition")), lit(0L))
    // one projection: every analysis pass walks a driver-local input's rows
    val bucketed = withChunk
      .withColumn("bucket", ((col("sequence") - lit(1L) - baseCol) / chunkCol).cast("int"))
      .drop("seq_chunk")
    // `dateLayout` = the evolved spec (identity partition + event_date):
    // event_date becomes a directory key too. It derives from timestamp_ms,
    // so each (partition, bucket) run splits into contiguous sorted runs.
    val keys  = Seq("partition", "bucket") ++ (if (dateLayout) Seq("event_date") else Nil)
    val order = keys ++ Seq("timestamp_ms", "sequence")
    // Guardrail for clustered writes whose bucketing profile may not cover
    // every partition (e.g. a stream's first batch): cap records per file so
    // an unprofiled huge partition still splits near the size target instead
    // of producing one giant file. Bytes/row comes from the profile itself
    // when one exists (footer-exact for streamed batches — event rows with
    // payloads run hundreds of bytes, where a flat 64 B assumption would
    // overshoot the target severalfold); batch 0 falls back to 64 B.
    // Unclustered writes keep the session's `spark.sql.files.maxRecordsPerFile`.
    val maxRecords =
      if (clustered) {
        val (pr, pb) = stats.foldLeft((0L, 0L)) { case ((r, b), (_, rr, bb)) => (r + rr, b + bb) }
        val bytesPerRow = if (pr > 0 && pb > 0) math.max(1L, pb / pr) else 64L
        math.max(1L, target / bytesPerRow)
      } else spark.sessionState.conf.maxRecordsPerFile
    val cap = if (maxRecords > 0) maxRecords else Long.MaxValue
    TaskWriter.localRows(bucketed) match {
      // rows built on the driver (a gateway flush batch): every projection
      // above folded into them, so driver threads write them, one log
      // partition each, with no Spark job
      case Some(rows) =>
        TaskWriter.writeLocal(spark, rows, bucketed.schema, tableRoot, keys, order, cap)(TaskWriter.dataFilePath)
      case None =>
        // `clustered` callers (the streaming per-partition sequencing pass)
        // already hold each log partition whole on one task — write straight
        // from those tasks instead of paying a bucket re-shuffle.
        val sorted = order.map(col)
        val arranged =
          if (clustered) bucketed.sortWithinPartitions(sorted: _*)
          else bucketed.repartition(totalBuckets, col("partition"), col("bucket")).sortWithinPartitions(sorted: _*)
        TaskWriter.write(arranged, tableRoot, keys, cap)(TaskWriter.dataFilePath)
    }
  }

  /** [[writeFiles]]' table-root-relative paths — the same single write. */
  def writeData(df: DataFrame, tableRoot: String,
                targetFileSize: Long = DefaultTargetFileSize,
                fragmentInto: Option[Int] = None,
                precomputedStats: Option[Seq[(Int, Long, Long)]] = None,
                clustered: Boolean = false,
                seqBase: Map[Int, Long] = Map.empty,
                dateLayout: Boolean = false): Seq[String] =
    writeFiles(df, tableRoot, targetFileSize, fragmentInto, precomputedStats, clustered, seqBase,
               dateLayout).map(_._1.filePath)

  /** GC for crashed writes of earlier versions, whose writer staged each
    * job in a private `.staging/<uuid>` dir before moving files into
    * `data/`; tables they wrote may still hold such dirs. They are
    * invisible to every reader (snapshots reference files by name), so any
    * entry older than `olderThanMs` is garbage. Called from compaction —
    * the table-maintenance entry point. */
  def sweepStaging(tableRoot: String, olderThanMs: Long = 60L * 60 * 1000): Int = {
    val rootP   = new org.apache.hadoop.fs.Path(tableRoot)
    val fs      = rootP.getFileSystem(graft.iceberg.TableIO.hadoopConf())
    val staging = new org.apache.hadoop.fs.Path(rootP, ".staging")
    if (!fs.exists(staging)) return 0
    val cutoff = System.currentTimeMillis() - olderThanMs
    var n = 0
    fs.listStatus(staging).foreach { d =>
      if (d.getModificationTime < cutoff) { fs.delete(d.getPath, true); n += 1 }
    }
    n
  }

  /** File count at or under which footer stats are read by a DRIVER thread
    * pool instead of a Spark job: a distributed 8–16-file footer pass costs
    * ~90 ms/trigger on the streaming hot path (≈half of it job scheduling),
    * where 16 threaded local reads take ~25 ms. Large file lists (bulk
    * loads, 100 TB compactions — ~800k footers) stay a distributed job. */
  val DriverFooterThreshold = 64

  /** F4 stats re-read from the footers of files already on disk: the
    * marker-adopted files of a crashed stream (`StreamIngest.reconcile`)
    * and external callers. The engine's own writes get theirs from
    * [[writeFiles]]. Collected as a DISTRIBUTED job (one task per slice of
    * the file list — at 100 TB this is ~800k footer reads spread over the
    * cluster, not hours of driver time), or on a driver thread pool below
    * [[DriverFooterThreshold]] where job scheduling would dominate.
    * Missing/empty footer stats omit the bound entry (consumers fall back
    * to conservative defaults) instead of encoding sentinel values. */
  def collectDataFiles(spark: SparkSession, tableRoot: String, newFiles: Seq[String]): Seq[DataFile] = {
    if (newFiles.isEmpty) return Nil
    val root = tableRoot
    if (newFiles.size <= DriverFooterThreshold) {
      val conf = spark.sessionState.newHadoopConf()
      val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(newFiles.size, 16))
      try {
        newFiles
          .map(rel => pool.submit(new java.util.concurrent.Callable[DataFile] {
            // Configuration is mutated during FileSystem init — copy per task
            override def call(): DataFile =
              FileStats.dataFileAndRaw(root, rel, new Configuration(conf))._1
          }))
          .map(_.get())
          .sortBy(_.filePath)
      } finally pool.shutdown()
    } else {
      // Ship the SESSION Hadoop conf to the footer tasks (Configuration is
      // Writable, not Serializable) so s3a/abfs credentials and endpoints
      // configured via spark.hadoop.* reach the executor-side reads.
      val confW = new org.apache.spark.util.SerializableConfiguration(spark.sessionState.newHadoopConf())
      spark.sparkContext
        .parallelize(newFiles, math.min(newFiles.size, 64))
        .map(rel => FileStats.dataFileAndRaw(root, rel, confW.value)._1)
        .collect()
        .toSeq
        .sortBy(_.filePath)
    }
  }

  /** Per-partition (rows, uncompressed bytes) profile of a written file set —
    * exact (footer record counts; files are single-partition), used as the
    * NEXT streaming batch's bucketing profile. Bucketing granularity affects
    * file sizes, never results. */
  def profileOf(files: Seq[(DataFile, Long)]): Map[Int, (Long, Long)] =
    files
      .flatMap { case (f, raw) => f.lowerInt(FieldIds.Partition).map(p => (p, f.recordCount, raw)) }
      .groupMapReduce(_._1)(t => (t._2, t._3)) { case ((r1, b1), (r2, b2)) => (r1 + r2, b1 + b2) }

  /** Table-root-relative paths of all data parquet files (layout is fixed:
    * `data/partition=P/<file>.parquet`). */
  def listParquet(tableRoot: String): Seq[String] = {
    val rootP   = new org.apache.hadoop.fs.Path(tableRoot)
    val fs      = rootP.getFileSystem(graft.iceberg.TableIO.hadoopConf())
    val dataDir = new org.apache.hadoop.fs.Path(rootP, "data")
    if (!fs.exists(dataDir)) Nil
    else {
      val out    = scala.collection.mutable.ArrayBuffer.empty[String]
      val prefix = fs.makeQualified(dataDir).toString
      val it     = fs.listFiles(dataDir, true)
      while (it.hasNext) {
        val p = it.next().getPath
        // root-relative path at ANY nesting depth (the evolved date spec
        // nests event_date= under partition=)
        if (p.getName.endsWith(".parquet"))
          out += "data" + p.toString.stripPrefix(prefix)
      }
      out.toSeq.sorted
    }
  }

  /** Full ingest → sorted size-targeted write → distributed stats → Iceberg
    * append commit. Returns the committer for follow-up metadata queries. */
  def ingestAndCommit(spark: SparkSession, sfDir: String, tableRoot: String,
                      targetFileSize: Long = DefaultTargetFileSize,
                      fragmentInto: Option[Int] = None,
                      mapLog: DataFrame => DataFrame = identity): IcebergCommitter = {
    // fused pipeline: the sequencing counts pass also produces the
    // per-partition byte estimate the size-targeted writer needs
    val (seq, stats) = EventLog.assignSequencesWithStats(
      EventLog.deduped(EventLog.raw(spark, sfDir)), byteColumn = Some("props"))
    // mapLog lets fixtures perturb row CONTENT (e.g. payloads missing a JSON
    // key) after sequencing — it must not change row count or partitioning,
    // or the precomputed size stats below would be wrong.
    val log = mapLog(EventLog.deriveDateHour(seq))
    val committer = new IcebergCommitter(TableIO.forRoot(tableRoot), Topic)
    val dataFiles = writeFiles(committedSchema(log), tableRoot, targetFileSize, fragmentInto,
              precomputedStats = Some(stats.toSeq.map { case (p, (r, b)) => (p, r, b) }),
              dateLayout = dateLayoutOf(committer)).map(_._1)
    committer.commitAppend(dataFiles, watermarksOf(dataFiles))
    committer
  }

  /** §1.3 end-to-end: ingest with schema-on-flush extraction — `payload` is
    * replaced by the config's typed columns (Iceberg field IDs 100+) and a
    * `_payload_overflow` remainder column (ID 99), and the committed table
    * carries the extended Iceberg schema. C4: such tables compact through
    * the same path (the schema travels with the DataFrame). */
  def ingestAndCommitExtracted(spark: SparkSession, sfDir: String, tableRoot: String,
                               cfg: graft.extract.TableSchemaConfig,
                               fragmentInto: Option[Int] = None): IcebergCommitter =
    appendExtracted(spark, EventLog.log(spark, sfDir), tableRoot, cfg, fragmentInto)

  /** Append an already-derived log slice with schema-on-flush extraction.
    * If the table exists and `cfg` ADDS fields relative to its current
    * schema, the Iceberg schema is EVOLVED first (additive CAS,
    * [[IcebergCommitter.evolveSchema]]) — the lakehouse flow for "the
    * extraction config grew a field": old files stay as written and read
    * the new columns as null via [[readCommittedProjected]]. */
  def appendExtracted(spark: SparkSession, log: DataFrame, tableRoot: String,
                      cfg: graft.extract.TableSchemaConfig,
                      fragmentInto: Option[Int] = None): IcebergCommitter = {
    val extracted = graft.extract.PayloadExtractor.extract(log, col("props"), cfg)
    val df = extracted.select(
      Seq(
        col("sequence"),
        lit(Topic).as("topic"),
        col("timestamp_ms"),
        col("idempotency_key"),
        expr("date_add(date '1970-01-01', event_date_days)").as("event_date"),
        col("event_hour")
      ) ++ cfg.fields.map(f => col(f.name)) ++ Seq(
        col("_payload_overflow"),
        col("part_id").as("partition")
      ): _*
    )
    val names     = cfg.fields.map(f => f.name -> f.dataType)
    val schema    = IcebergSchema.withExtraction(names)
    val committer = new IcebergCommitter(TableIO.forRoot(tableRoot), Topic, schema)
    if (committer.currentVersion() > 0) {
      // a default-schema past keeps its payload field through the
      // evolution (Iceberg may not drop a field — see withExtraction)
      val keep = committer.currentSchema()
        .exists(_.fields.exists(_.id == graft.iceberg.FieldIds.Payload))
      committer.evolveSchema(IcebergSchema.withExtraction(names, keepPayload = keep))
    }
    val dataFiles = writeFiles(df, tableRoot, fragmentInto = fragmentInto,
                               dateLayout = dateLayoutOf(committer)).map(_._1)
    committer.commitAppend(dataFiles, watermarksOf(dataFiles))
    committer
  }

  private def sparkTypeOf(icebergType: String): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    icebergType match {
      case "long"    => LongType
      case "string"  => StringType
      case "int"     => IntegerType
      case "double"  => DoubleType
      case "boolean" => BooleanType
      case "date"    => DateType
      case "binary"  => BinaryType
      case other     => throw new IllegalArgumentException(s"unmapped iceberg type $other")
    }
  }

  /** Iceberg-semantics read: project every data file against the table's
    * CURRENT schema (not the files' own footers) — columns added by schema
    * evolution read as null in files written before it. The explicit
    * schema also skips footer-merge inference entirely. */
  def readCommittedProjected(spark: SparkSession, tableRoot: String,
                             files: Seq[DataFile] = null,
                             morCols: Boolean = false): DataFrame = {
    val committer = new IcebergCommitter(TableIO.forRoot(tableRoot), Topic)
    val meta      = committer.load()
    val schema    = meta.map(committer.currentSchemaOf).getOrElse(IcebergSchema.default)
    val active    = Option(files).getOrElse(
      meta.map(m => committer.activeFilesOf(m, 0)).getOrElse(Nil))
    readProjected(spark, tableRoot, schema, active, morCols)
  }

  /** The projected-read body against an ALREADY-RESOLVED schema and file
    * list — so [[readCommitted]] pays exactly ONE metadata load for
    * schema + data files + delete files (they also come from the same
    * consistent snapshot, instead of three racing loads). */
  /** `morCols = true` appends the MoR identity columns (`_mor_fkey`,
    * `_mor_pos`) AT SCAN LEVEL, inside each per-layout load — required by
    * every position-delete consumer because `_metadata` is a hidden
    * per-scan column that does NOT propagate through the mixed-spec Union
    * below (Union.metadataOutput is empty); resolving it on the unioned
    * frame throws on any spec-evolved table. */
  private def readProjected(spark: SparkSession, tableRoot: String,
                            schema: IcebergSchema, active: Seq[DataFile],
                            morCols: Boolean = false): DataFrame = {
    import org.apache.spark.sql.types.{StructField, StructType}
    val fields = schema.fields
    // `partition` is a DIRECTORY key (data/partition=N/), not a column in
    // the files: it is omitted from the read schema so partition
    // discovery appends it LAST — the layout every committed read has
    // always produced — while the data columns come from the metadata
    // schema (no footer-inference wave, evolved columns of older files
    // read as null). Under the evolved date spec `event_date` is a
    // directory key too — and a MIXED-SPEC table cannot load in one
    // spark.read (Hive discovery refuses conflicting directory depths),
    // so files split by spec layout into two loads unioned by name.
    val dataFields = fields.filterNot(_.name == "partition")
    if (active.isEmpty) {
      // typed empty frame in the same layout. Nullability is nullable=true
      // to MATCH the non-empty branch (a user-schema parquet read returns
      // nullable columns regardless of metadata required flags, and
      // evolved columns genuinely are null in pre-evolution files) — the
      // two paths must return identical StructTypes for the same table.
      val part = fields.find(_.name == "partition")
      val st = StructType(
        dataFields.map(f => StructField(f.name, sparkTypeOf(f.fieldType), nullable = true)) ++
          part.map(f => StructField(f.name, sparkTypeOf(f.fieldType), nullable = true)) ++
          (if (morCols) Seq(StructField("_mor_fkey", org.apache.spark.sql.types.StringType),
                            StructField("_mor_pos", LongType)) else Nil))
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], st)
    } else {
      def load(files: Seq[DataFile], dirKeys: Set[String]): DataFrame = {
        val st = StructType(
          dataFields.filterNot(f => dirKeys(f.name))
            .map(f => StructField(f.name, sparkTypeOf(f.fieldType), nullable = true)))
        val df = spark.read.schema(st).option("basePath", s"$tableRoot/data")
          .parquet(files.map(f => s"$tableRoot/${f.filePath}"): _*)
        if (!morCols) df
        else df.withColumn("_mor_fkey", expr(morFileKey))
          .withColumn("_mor_pos", col("_metadata.row_index"))
      }
      val (dated, legacy) = active.partition(_.filePath.contains("/event_date="))
      val loads =
        legacy.headOption.map(_ => load(legacy, Set.empty)).toSeq ++
          dated.headOption.map(_ => load(dated, Set("event_date"))).toSeq
      loads.reduce(_ unionByName _)
    }
  }

  /** Rewrite-read for compaction/delete: files may predate a schema
    * evolution, so the slice is PROJECTED against the current metadata
    * schema — a footer-inferred read could silently drop evolved columns
    * from the rewritten files. The payload (pre-evolution byte identity)
    * is preserved because the projection is by name over the same columns
    * the writer emits. */
  private[table] def readForRewrite(spark: SparkSession, tableRoot: String,
                                    files: Seq[DataFile],
                                    morCols: Boolean = false): DataFrame =
    readCommittedProjected(spark, tableRoot, files, morCols)

  /** Outcome of a copy-on-write delete. */
  final case class DeleteResult(rewrittenFiles: Int, untouchedFiles: Int,
                                deletedRows: Long, snapshotId: Option[Long])

  /** Copy-on-write row-level DELETE — the redaction/right-to-be-forgotten
    * path a training-data lakehouse needs. One scan tags every row with its
    * source file and counts matches per file (map-side, one shuffle of
    * O(#files) groups); ONLY files containing matches are rewritten (same
    * sorted size-targeted layout), then atomically swapped in a single
    * replace-snapshot (CAS — a concurrent commit raises
    * [[graft.iceberg.CommitConflict]]). Untouched files are never read
    * twice, rewritten, or moved. Replaced files are physically deleted —
    * for redaction that is the point; combine with
    * `expireSnapshots(keepLast = 1)` to also forget the historical
    * snapshots that referenced them. */
  def deleteWhere(spark: SparkSession, tableRoot: String,
                  predicate: org.apache.spark.sql.Column): DeleteResult = {
    val committer = new IcebergCommitter(TableIO.forRoot(tableRoot), Topic)
    val meta      = committer.load().getOrElse(return DeleteResult(0, 0, 0L, None))
    val base      = meta.currentSnapshotId.getOrElse(return DeleteResult(0, 0, 0L, None))
    // fail loud, never resurrect: a copy-on-write rewrite of a file whose
    // rows are masked by position-delete files would renumber positions
    // and bring the masked rows back — fold the deletes (compaction) first
    require(committer.activeDeleteFiles().isEmpty,
      "table has merge-on-read delete files: run compaction to fold them before copy-on-write DELETE")
    val active    = committer.activeDataFiles()
    if (active.isEmpty) return DeleteResult(0, 0, 0L, None)

    // SQL DELETE semantics: a predicate evaluating NULL (e.g. a JSON key
    // missing from a row) must NOT delete the row. Coalesce once and use the
    // SAME three-valued collapse for both the match count and the survivor
    // filter, so deletedRows exactly equals rows removed.
    val pred = coalesce(predicate, lit(false))
    // Projected read (current metadata schema, not per-file footers) so a
    // predicate over a schema-evolved column resolves for pre-evolution files.
    // Files match by the scan-level MoR identity (`_mor_fkey`, [[morKeyOf]]),
    // never by full path: no URI decoding, no root normalization.
    val matchCounts = readCommittedProjected(spark, tableRoot, active, morCols = true)
      .groupBy(col("_mor_fkey"))
      .agg(count(when(pred, 1)).as("m"))
      .filter(col("m") > 0)
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
    // a Set, not a scan per active file: O(files + matched) on the driver
    val matchedKeys = matchCounts.iterator.map(_._1).toSet
    val affected    = active.filter(f => matchedKeys.contains(morKeyOf(f.filePath)))
    if (affected.isEmpty) return DeleteResult(0, active.size, 0L, None)

    val survivors = readForRewrite(spark, tableRoot, affected).filter(not(pred))
    val added     = writeFiles(survivors, tableRoot, dateLayout = dateLayoutOf(committer)).map(_._1)
    try {
      val res = committer.commitReplace(affected, added, base)
      affected.foreach(f => committer.io.delete(f.filePath))
      DeleteResult(affected.size, active.size - affected.size,
                   matchCounts.map(_._2).sum, Some(res.snapshotId))
    } catch {
      case c: graft.iceberg.CommitConflict =>
        // roll back ONLY this delete's staged rewrite, exactly like compaction
        added.foreach(f => committer.io.delete(f.filePath))
        throw c
    }
  }

  /** Outcome of a merge-on-read delete. */
  final case class MorDeleteResult(deleteFiles: Int, deletedRows: Long, snapshotId: Option[Long])

  /** Merge-on-read row-level DELETE — the scale-safe alternative to
    * [[deleteWhere]] under scattered update keys: instead of rewriting
    * every file containing a match (copy-on-write degrades toward a
    * full-table rewrite when matches scatter at 100 TB), the matching rows'
    * (file_path, position) pairs are written to Iceberg-v2-style
    * POSITIONAL DELETE FILES and committed through a content=1 delete
    * manifest ([[graft.iceberg.IcebergCommitter.commitDeletes]]). Data
    * files are untouched; every committed read anti-joins the positions at
    * scan ([[applyPositionDeletes]]); compaction folds deletes into
    * rewrites and drops the delete files ([[Compaction.compact]]).
    *
    * Scale shape: ONE scan over the table (the position column is the
    * parquet reader's `_metadata.row_index` — physical, no window, no
    * shuffle); prior deletes are excluded via the same broadcast anti-join
    * so `deletedRows` is exact and re-deletes never duplicate; the
    * written delete set is matched-rows-sized. NULL predicates keep rows,
    * like [[deleteWhere]] (SQL three-valued semantics). */
  def deleteWhereMor(spark: SparkSession, tableRoot: String,
                     predicate: org.apache.spark.sql.Column): MorDeleteResult = {
    val committer = new IcebergCommitter(TableIO.forRoot(tableRoot), Topic)
    val meta      = committer.load().getOrElse(return MorDeleteResult(0, 0L, None))
    val base      = meta.currentSnapshotId.getOrElse(return MorDeleteResult(0, 0L, None))
    val active    = committer.activeDataFiles()
    if (active.isEmpty) return MorDeleteResult(0, 0L, None)

    val pred    = coalesce(predicate, lit(false))
    val prior   = committer.activeDeleteFiles()
    val priorP  = prior.filter(_.content == 1)
    val priorEq = prior.filter(_.content == 2)
    val raw = readCommittedProjected(spark, tableRoot, active, morCols = true)
    // already-masked rows (both delete kinds) are excluded so deletedRows
    // is exact and re-deletes never duplicate
    val afterP =
      if (priorP.isEmpty) raw
      else raw.filter(!posMaskedCol(spark, tableRoot, priorP))
    val live =
      if (priorEq.isEmpty) afterP
      else afterP.filter(!eqMaskedCol(spark, tableRoot, priorEq))
    // scan key → spec-relative path, driver-known from the manifests (the
    // stored file_path is the full relative path the Iceberg spec wants)
    import spark.implicits._
    val rel = active.map(f => morKeyOf(f.filePath) -> f.filePath)
      .toDF("_mor_fkey", "file_path")
    val delRows = live.filter(pred)
      .join(broadcast(rel), "_mor_fkey")
      .select(col("file_path"), col("_mor_pos").cast("long").as("pos"))
    val written = writeDeleteFiles(spark, tableRoot, delRows)
    if (written.isEmpty) return MorDeleteResult(0, 0L, None)
    try {
      val res = committer.commitDeletes(written, base)
      MorDeleteResult(written.size, written.map(_.recordCount).sum, Some(res.snapshotId))
    } catch {
      case c: graft.iceberg.CommitConflict =>
        written.foreach(f => committer.io.delete(f.filePath))
        throw c
    }
  }

  /** Write a delete parquet under `data/deletes/`, returning descriptors
    * of the given `content` kind (1 = positional: (file_path, pos)
    * spec-sorted; 2 = equality: the (partition, sequence) key rows).
    * Returns Nil when no rows matched (no file, no commit). One file per
    * call: delete sets are batch-sized by contract (compaction folds them
    * before they grow). */
  private def writeDeleteFiles(spark: SparkSession, tableRoot: String,
                               delRows: DataFrame, content: Int = 1,
                               sortCols: Seq[String] = Seq("file_path", "pos")): Seq[DataFile] = {
    val written = TaskWriter.write(delRows.coalesce(1).sortWithinPartitions(sortCols.map(col): _*),
                                   tableRoot, keys = Nil, maxRecords = Long.MaxValue)(
      _ => s"data/deletes/${java.util.UUID.randomUUID()}.parquet")
    written.map { case (f, _) =>
      // Manifest bounds for SCAN-SIDE delete-file pruning (a pruned scan
      // must not pay the tombstone read for deletes that cannot touch its
      // surviving files — pruneDeleteFiles):
      //  - equality files carry their (partition, sequence) KEY bounds
      //    straight from the footer stats the writer returned;
      //  - positional files carry the TARGET partition range, parsed from
      //    the stored file_path values (footer string min/max is
      //    lexicographic — partition=10 < partition=2 — so one tiny Spark
      //    job over the batch-sized file parses instead).
      // Absent bounds stay conservative: every reader keeps the file.
      val range =
        if (content != 1) None
        else Some(spark.read.parquet(s"$tableRoot/${f.filePath}")
          .selectExpr("cast(regexp_extract(file_path, 'partition=([0-9]+)', 1) as int) AS p")
          .agg(min(col("p")), max(col("p"))).head()).filterNot(_.isNullAt(0))
      f.copy(content = content,
             lowerBounds = f.lowerBounds ++ range.map(r => FieldIds.Partition -> Bounds.encodeInt(r.getInt(0))),
             upperBounds = f.upperBounds ++ range.map(r => FieldIds.Partition -> Bounds.encodeInt(r.getInt(1))))
    }
  }

  /** Outcome of an equality (keyed) merge-on-read delete. */
  final case class EqDeleteResult(deleteFiles: Int, keys: Long, snapshotId: Option[Long])

  /** EQUALITY merge-on-read DELETE — the CDC-writer path (Iceberg v2
    * content=2): delete a batch of rows BY KEY (partition, sequence) with
    * NO table scan at all. The key batch is written as an equality-delete
    * parquet and committed through the delete manifest; readers anti-join
    * the keys at scan, compaction folds once every data file whose
    * manifest bounds could contain a key has been rewritten. This is the
    * O(batch) delete a streaming CDC pipeline commits per micro-batch —
    * [[deleteWhereMor]] scans to resolve a PREDICATE to positions;
    * this resolves nothing, which is the whole point at 100 TB.
    *
    * Keys are deduplicated; a key matching no row is a harmless tombstone
    * (folded away with the file). `keys` must be batch-sized (it rides
    * read-side broadcasts until folded). */
  def deleteWhereEq(spark: SparkSession, tableRoot: String, keys: DataFrame): EqDeleteResult = {
    val committer = new IcebergCommitter(TableIO.forRoot(tableRoot), Topic)
    val meta      = committer.load().getOrElse(return EqDeleteResult(0, 0L, None))
    val base      = meta.currentSnapshotId.getOrElse(return EqDeleteResult(0, 0L, None))
    val keyRows = keys.select(col("partition").cast("int").as("partition"),
                              col("sequence").cast("long").as("sequence"))
      .distinct()
    // keys must reference ALREADY-WRITTEN sequences: a tombstone beyond the
    // watermark would match (and silently swallow) a FUTURE append — the
    // sequence-number scoping of the fold rule relies on keys never
    // resurrecting. The check is DISTRIBUTED (watermarks are a partitions-
    // sized broadcast; violations fold executor-side) so a fat CDC
    // tombstone batch never transits the driver — only a limit(5)
    // offender sample does, to keep the refusal loud AND named.
    import spark.implicits._
    val wmDf = committer.summaryWatermarks().toSeq.toDF("partition", "wm")
    val beyond = keyRows
      .join(broadcast(wmDf), Seq("partition"), "left")
      .filter(col("sequence") > coalesce(col("wm"), lit(0L)))
      .select(col("partition"), col("sequence"))
      .limit(5).collect()
    require(beyond.isEmpty,
      s"equality-delete keys beyond the partition watermark (would tombstone future appends): " +
        beyond.take(5).mkString(", "))
    val written = writeDeleteFiles(spark, tableRoot, keyRows, content = 2,
                                   sortCols = Seq("partition", "sequence"))
    if (written.isEmpty) return EqDeleteResult(0, 0L, None)
    try {
      val res = committer.commitDeletes(written, base)
      EqDeleteResult(written.size, written.map(_.recordCount).sum, Some(res.snapshotId))
    } catch {
      case c: graft.iceberg.CommitConflict =>
        written.foreach(f => committer.io.delete(f.filePath))
        throw c
    }
  }

  /** Outcome of a copy-on-write MERGE (upsert). */
  final case class MergeResult(rewrittenFiles: Int, untouchedFiles: Int,
                               updatedRows: Long, insertedRows: Long, snapshotId: Option[Long])

  /** Copy-on-write MERGE keyed on `(partition, sequence)` — the corrections
    * path: a batch row whose key exists in the table REPLACES that row's
    * `payload` (timestamps, keys, and sequence are immutable event-log
    * identity); a row whose key is new is APPENDED. `updates` must be a
    * corrections feed (batch-sized), not a second corpus: its keys are the
    * file-pruning decision values and are collected driver-side, exactly
    * like compaction's candidate list. Insert keys must land BEYOND the
    * partition watermark — sequences below it are either taken or burned
    * by a delete, and resurrecting a burned sequence would corrupt F9's
    * max-sequence recovery.
    *
    * Scale shape: manifest partition+sequence bounds prune the probe to
    * candidate files only (bounds alone cannot CONFIRM membership —
    * deletes burn gaps inside a file's range — so candidates are
    * row-probed with a broadcast join, O(matched) rows collected); only
    * files holding ≥1 match are rewritten; untouched files keep their
    * identity; one atomic replace-snapshot (`"overwrite"`) swaps in the
    * rewritten + inserted files and advances the summary watermarks.
    */
  def mergeUpsert(spark: SparkSession, tableRoot: String, updates: DataFrame): MergeResult = {
    import spark.implicits._
    val committer = new IcebergCommitter(TableIO.forRoot(tableRoot), Topic)
    val meta      = committer.load().getOrElse(return MergeResult(0, 0, 0L, 0L, None))
    val base      = meta.currentSnapshotId.getOrElse(return MergeResult(0, 0, 0L, 0L, None))
    // same resurrection hazard as deleteWhere: fold MoR deletes first
    require(committer.activeDeleteFiles().isEmpty,
      "table has merge-on-read delete files: run compaction to fold them before MERGE")
    val active    = committer.activeDataFiles()
    if (active.isEmpty) return MergeResult(0, 0, 0L, 0L, None)

    val up = updates.select(
      col("partition").cast("int").as("partition"),
      col("sequence").cast("long").as("sequence"),
      col("timestamp_ms").cast("long").as("timestamp_ms"),
      col("payload").cast("binary").as("payload"),
      col("idempotency_key").cast("string").as("idempotency_key"))

    val keys = up.select("partition", "sequence").collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    if (keys.isEmpty) return MergeResult(0, active.size, 0L, 0L, None) // empty batch: no-op, no snapshot
    require(keys.length == keys.toSet.size, "merge batch carries duplicate (partition, sequence) keys")
    val byPart = keys.groupBy(_._1).view.mapValues(_.map(_._2)).toMap

    // Manifest-level pruning: only files whose (partition, [min,max] seq)
    // bounds cover some batch key are scanned at all. Files without bounds
    // are conservatively kept.
    val candidates = active.filter { f =>
      (for {
        p  <- f.lowerInt(FieldIds.Partition)
        lo <- f.lowerLong(FieldIds.Sequence)
        hi <- f.upperLong(FieldIds.Sequence)
      } yield byPart.get(p).exists(_.exists(s => s >= lo && s <= hi))).getOrElse(true)
    }

    // Row-probe the candidates: which keys truly exist, and in which files.
    val keyDf = keys.toSeq.toDF("partition", "sequence")
    val probe =
      if (candidates.isEmpty) Array.empty[Row]
      else readCommittedProjected(spark, tableRoot, candidates, morCols = true)
        .join(broadcast(keyDf), Seq("partition", "sequence"))
        .select(col("_mor_fkey"), col("partition"), col("sequence"))
        .collect() // ≤ |updates| rows — bounded decision values
    val matchedKeys  = probe.map(r => (r.getInt(1), r.getLong(2))).toSet
    val matchedFiles = probe.map(_.getString(0)).toSet
    val affected     = candidates.filter(f => matchedFiles.contains(morKeyOf(f.filePath)))

    // Burned-sequence guard: unmatched keys at or below the watermark
    // were taken or deleted, never free
    val wm = committer.maxCommittedSequenceOf(meta)
    val insertKeys = keys.filterNot(matchedKeys)
    insertKeys.foreach { case (p, s) =>
      require(s > wm.getOrElse(p, 0L),
        s"insert key ($p, $s) is at or below partition $p's watermark ${wm.getOrElse(p, 0L)}: " +
          "unmatched sequences in committed ranges are burned (deleted), not insertable")
    }

    val matchedDf = matchedKeys.toSeq.toDF("partition", "sequence")
    // Rewritten survivors: affected files re-read (projected against the
    // current schema), matched rows' payload swapped in from the batch.
    val schemaDf = readCommittedProjected(spark, tableRoot, Seq.empty)
    val rewritten =
      if (affected.isEmpty) schemaDf
      else {
        val repl = up.select(col("partition"), col("sequence"), col("payload").as("_new_payload"))
        val baseRows = readForRewrite(spark, tableRoot, affected)
        baseRows
          .join(broadcast(repl), Seq("partition", "sequence"), "left")
          .withColumn("payload", coalesce(col("_new_payload"), col("payload")))
          .select(baseRows.columns.map(col).toIndexedSeq: _*)
      }
    // Insert rows aligned to the committed schema: derived date/hour from
    // the batch timestamp; evolved columns the batch doesn't carry are null.
    val inserts = alignToCommitted(spark, tableRoot,
      up.join(broadcast(matchedDf), Seq("partition", "sequence"), "left_anti"))

    val added    = writeFiles(rewritten.unionByName(inserts), tableRoot,
                              dateLayout = dateLayoutOf(committer)).map(_._1)
    // Watermarks only ADVANCE (a rewrite of early files must not regress one).
    val newWm = watermarksOf(added).filter { case (p, s) => s > wm.getOrElse(p, 0L) }
    try {
      val res = committer.commitReplace(affected, added, base, watermarks = newWm, operation = "overwrite")
      // a routine upsert must not break a tag out from under the retention
      // guard — same eager-delete skip as compaction (ONE definition);
      // deleteWhere stays eager on purpose (redaction overrides a tag)
      val protectedPaths = committer.tagProtectedPaths(res.metadata)
      affected.filterNot(f => protectedPaths.contains(f.filePath))
        .foreach(f => committer.io.delete(f.filePath))
      MergeResult(affected.size, active.size - affected.size,
                  matchedKeys.size.toLong, insertKeys.length.toLong, Some(res.snapshotId))
    } catch {
      case c: graft.iceberg.CommitConflict =>
        added.foreach(f => committer.io.delete(f.filePath))
        throw c
    }
  }

  /** Batch rows (partition, sequence, timestamp_ms, payload,
    * idempotency_key) projected onto the table's CURRENT metadata schema:
    * topic constant, event_date/event_hour derived from the batch
    * timestamp, evolved columns the batch doesn't carry null. Shared by
    * the merge insert arm and [[appendBatch]]. */
  private def alignToCommitted(spark: SparkSession, tableRoot: String, batch: DataFrame): DataFrame = {
    val schemaDf = readCommittedProjected(spark, tableRoot, Seq.empty)
    val b = batch
      .withColumn("topic", lit(Topic))
      .withColumn("event_date",
        expr("date_add(date '1970-01-01', cast(timestamp_ms div 86400000 as int))"))
      .withColumn("event_hour", expr("cast((timestamp_ms div 3600000) % 24 as int)"))
    b.select(schemaDf.schema.fields.map { f =>
      if (b.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toIndexedSeq: _*)
  }

  /** Plain append commit of a pre-sequenced batch — the building block a
    * backfill or fixture uses next to the streaming path. Rows are
    * aligned to the committed schema ([[alignToCommitted]]), written in
    * the standard sorted layout, and committed as ONE "append" snapshot.
    * Every batch key must land BEYOND its partition's watermark —
    * (partition, sequence) is the event's identity, so an at-or-below
    * key would silently duplicate (or resurrect) a committed one; the
    * guard is the bounded per-partition aggregate (min, count, distinct),
    * never a driver collect of the keys, and the batch is persisted so
    * the validated rows ARE the written rows even for a
    * nondeterministic input plan. `staged = true` routes to
    * [[IcebergCommitter.commitStaged]] — the write half of
    * write-audit-publish: the snapshot exists but readers keep the
    * parent until `publish`. */
  def appendBatch(spark: SparkSession, tableRoot: String, batch: DataFrame,
                  staged: Boolean = false): CommitResult = {
    val committer = new IcebergCommitter(TableIO.forRoot(tableRoot), Topic)
    val wm = committer.maxCommittedSequencePerPartition()
    val b = batch.select(
      col("partition").cast("int").as("partition"),
      col("sequence").cast("long").as("sequence"),
      col("timestamp_ms").cast("long").as("timestamp_ms"),
      col("payload").cast("binary").as("payload"),
      col("idempotency_key").cast("string").as("idempotency_key"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val stats = b.groupBy("partition")
        .agg(min("sequence").as("mn"), count(lit(1)).as("n"),
             countDistinct("sequence").as("nd"))
        .collect() // one bounded row per partition
      stats.foreach { r =>
        val (p, mn, n, nd) = (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))
        require(n == nd, s"append batch carries duplicate sequences in partition $p")
        require(mn > wm.getOrElse(p, 0L),
          s"append key ($p, $mn) is at or below partition $p's watermark ${wm.getOrElse(p, 0L)}: " +
            "committed sequences are taken or burned, never re-appendable")
      }
      val rows  = alignToCommitted(spark, tableRoot, b)
      val added = writeFiles(rows, tableRoot, dateLayout = dateLayoutOf(committer)).map(_._1)
      val newWm = watermarksOf(added).filter { case (p, s) => s > wm.getOrElse(p, 0L) }
      if (staged) committer.commitStaged(added, newWm) else committer.commitAppend(added, newWm)
    } finally b.unpersist()
  }

  /** Whether the table's DEFAULT partition spec carries the evolved
    * event_date directory key — the writer-layout switch every rewrite
    * path consults, so post-evolution writes (appends, compactions,
    * delete/merge rewrites) land in the new layout while old files keep
    * theirs. */
  private[graft] def dateLayoutOf(committer: IcebergCommitter): Boolean =
    committer.load().exists { m =>
      m.partitionSpecs.find(_.specId == m.defaultSpecId)
        .exists(_.fields.exists(_.name == "event_date"))
    }

  /** Per-partition high watermark from file bounds ([[IcebergCommitter.watermarksOf]]). */
  def watermarksOf(dataFiles: Seq[DataFile]): Map[Int, Long] = IcebergCommitter.watermarksOf(dataFiles)

  /** Cold read over the committed snapshot: manifest-driven file listing.
    * `basePath` recovers the identity `partition` column from the Hive
    * paths. An empty file list (e.g. everything pruned) yields an empty
    * DataFrame with the committed schema rather than a read error. */
  def readCommitted(spark: SparkSession, tableRoot: String, files: Seq[DataFile] = null,
                    atSnapshot: Option[Long] = None): DataFrame = {
    // The metadata schema drives the read (the projected path): schema
    // INFERENCE would open parquet footers just to rediscover what the
    // Iceberg metadata already states — measured ~0.2 s of the cold
    // first-touch on a 32-file table, and a listing-scale cost at 100 TB
    // — and a footer-inferred read of a schema-evolved table could
    // silently drop evolved columns from files that predate them.
    //
    // Merge-on-read: when the table carries delete files (x8 positional /
    // x9 equality), the scan is anti-joined against them — EVERY committed
    // reader is MoR-correct, including pruned reads (deletes of
    // pruned-away files simply match nothing). Delete-free tables skip
    // this entirely (one cached manifest-list filter, no plan change).
    // `atSnapshot` pins the MoR resolution (and, when `files` is null, the
    // file listing) to a HISTORICAL snapshot: a time-travel or diff read
    // must apply the deletes active AT that snapshot — resolving at the
    // current head would wrongly mask a pre-delete read with later
    // tombstones, and wrongly skip masks after a fold (the V2 scan's
    // activeFilesAtOf discipline, carried to the batch reader).
    val committer = new IcebergCommitter(TableIO.forRoot(tableRoot), Topic)
    val meta      = committer.load()
    val schema    = meta.map(committer.currentSchemaOf).getOrElse(IcebergSchema.default)
    def filesOf(content: Int): Seq[DataFile] = meta.map { m =>
      atSnapshot match {
        case Some(id) => committer.activeFilesAtOf(m, id, content)
        case None     => committer.activeFilesOf(m, content)
      }
    }.getOrElse(Nil)
    val scanned = Option(files).getOrElse(filesOf(0))
    // tombstone-read pruning: deletes that cannot touch the scanned files
    // (by manifest bounds) are never even opened — the pruned-scan payoff
    val dels    = pruneDeleteFiles(scanned, filesOf(1))
    // annotate only when applyDeletes will actually consume (and then
    // drop) the identity columns — the empty-scan early return below must
    // keep the standard committed layout
    val df = readProjected(spark, tableRoot, schema, scanned,
                           morCols = scanned.nonEmpty && dels.exists(_.content == 1))
    // empty scan = the typed-empty-frame branch (no file scan → no
    // _metadata column, and nothing for deletes to apply to anyway)
    if (dels.isEmpty || scanned.isEmpty) df
    else applyDeletes(spark, tableRoot, dels, df)
  }

  /** The scan-side file identity for position-delete matching: the LAST
    * TWO path segments (`partition=P/<name>.parquet`). A bare basename is
    * NOT unique in tables written by earlier versions, whose
    * dynamic-partition writer named every file of one task
    * `part-<task>-<job uuid>`, so two partition dirs of the same job
    * collide on basename (measured: 5 of 150 delete rows mis-matching at
    * sf0.001). Two segments are unique within a table (all data files live
    * in `data/partition=P/`), and avoid `input_file_name`-style full-path
    * URI-encoding mismatches. */
  private[table] val morFileKey   = "substring_index(_metadata.file_path, '/', -2)"
  private[graft] val morStoredKey = "substring_index(file_path, '/', -2)"
  private[graft] def morKeyOf(relPath: String): String = {
    val i = relPath.lastIndexOf('/')
    val j = if (i <= 0) -1 else relPath.lastIndexOf('/', i - 1)
    relPath.substring(j + 1)
  }

  /** The OTHER path-derived MoR identity next to [[morKeyOf]]: the
    * identity log partition recovered from the Hive `partition=P` path
    * segment. ONE definition shared by the V2 scan's mask keying (inline
    * and broadcast), the changefeed resolution, and footer-stat recovery —
    * divergent copies of path-identity parsing are exactly the round-16
    * basename-collision class. */
  private[graft] def pathPartitionOpt(relPath: String): Option[Int] =
    relPath.split('/').collectFirst {
      case seg if seg.startsWith("partition=") => seg.stripPrefix("partition=").toInt
    }

  /** [[pathPartitionOpt]] with the mask-keying default: −1 (a key no
    * equality mask is ever stored under) when the segment is absent. */
  private[graft] def pathPartitionOf(relPath: String): Int =
    pathPartitionOpt(relPath).getOrElse(-1)

  /** Delete files that can affect ANY of the given data files, decided on
    * MANIFEST BOUNDS ONLY — the tombstone-read pruning every masked reader
    * runs before touching a delete parquet. A time- or partition-pruned
    * scan of a year-long table must not pay the full delete-file read for
    * tombstones that cannot touch its surviving files:
    *
    *  - EQUALITY deletes prune on (partition range, sequence range)
    *    overlap with the surviving set — their bounds are the key bounds
    *    the delete writer recorded from the file footer;
    *  - POSITIONAL deletes prune on target-partition overlap (their
    *    bounds are the parsed `partition=` range of the stored paths) —
    *    positions don't map to sequences, so partition is the tightest
    *    manifest-level key; per-file identity pruning happens after the
    *    read, when masks attach to partitions.
    *
    * A delete file WITHOUT bounds (pre-round-18 tables) is conservatively
    * kept — correctness never depends on this pruning. */
  private[graft] def pruneDeleteFiles(scanned: Seq[DataFile], dels: Seq[DataFile]): Seq[DataFile] = {
    if (dels.isEmpty) return Nil
    if (scanned.isEmpty) return Nil
    // per-partition sequence envelopes of the scan (files single-partition;
    // a file without bounds widens its envelope to everything)
    final case class Env(pLo: Long, pHi: Long, sLo: Long, sHi: Long)
    val envs = scanned.map { f =>
      Env(
        f.lowerInt(FieldIds.Partition).map(_.toLong).getOrElse(Long.MinValue),
        f.upperInt(FieldIds.Partition).map(_.toLong).getOrElse(Long.MaxValue),
        f.lowerLong(FieldIds.Sequence).getOrElse(Long.MinValue),
        f.upperLong(FieldIds.Sequence).getOrElse(Long.MaxValue))
    }
    dels.filter { d =>
      val pLo = d.lowerInt(FieldIds.Partition).map(_.toLong).getOrElse(Long.MinValue)
      val pHi = d.upperInt(FieldIds.Partition).map(_.toLong).getOrElse(Long.MaxValue)
      val sLo = d.lowerLong(FieldIds.Sequence).getOrElse(Long.MinValue)
      val sHi = d.upperLong(FieldIds.Sequence).getOrElse(Long.MaxValue)
      envs.exists { e =>
        e.pLo <= pHi && pLo <= e.pHi &&
          (d.content != 2 || (e.sLo <= sHi && sLo <= e.sHi))
      }
    }
  }

  /** One broadcast [[graft.functions.MorMaskIndex]] per delete-file set,
    * cached — delete files are IMMUTABLE (UUID paths), so the set fully
    * determines the masks; repeated masked reads share one driver collect
    * and one broadcast. Dropped entries are released by ContextCleaner
    * once unreferenced. */
  private val morBcCache =
    new java.util.LinkedHashMap[String,
        org.apache.spark.broadcast.Broadcast[graft.functions.MorMaskIndex]](32, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String,
            org.apache.spark.broadcast.Broadcast[graft.functions.MorMaskIndex]]): Boolean =
        size > 16
    }
  private[table] def morMaskBroadcast(spark: SparkSession, tableRoot: String,
                                      files: Seq[DataFile]):
      org.apache.spark.broadcast.Broadcast[graft.functions.MorMaskIndex] =
    morBcCache.synchronized {
      // the CONTEXT is part of the key: a JVM that restarts its
      // SparkSession would otherwise be served a broadcast whose context
      // is stopped, and every masked read of that snapshot would throw
      // "Attempted to use Broadcast after destroy/stop" until eviction
      val key = spark.sparkContext.applicationId + "|" + tableRoot + "|" +
        files.map(_.filePath).sorted.mkString(",")
      Option(morBcCache.get(key)).getOrElse {
        val (p, e) = graft.spark.GraftScan.deleteMasksFor(tableRoot, files)
        val bc = spark.sparkContext.broadcast(new graft.functions.MorMaskIndex(p, e))
        morBcCache.put(key, bc)
        bc
      }
    }

  /** The position-mask predicate over a morCols-annotated scan. */
  private[table] def posMaskedCol(spark: SparkSession, tableRoot: String,
                                  files: Seq[DataFile]): org.apache.spark.sql.Column =
    graft.functions.PosMasked(morMaskBroadcast(spark, tableRoot, files),
      col("_mor_fkey"), col("_mor_pos").cast("long"))

  /** The equality-mask predicate over the row key columns. */
  private[table] def eqMaskedCol(spark: SparkSession, tableRoot: String,
                                 files: Seq[DataFile]): org.apache.spark.sql.Column =
    graft.functions.EqMasked(morMaskBroadcast(spark, tableRoot, files),
      col("partition").cast("int"), col("sequence").cast("long"))

  /** Apply active delete files to a committed scan — BOTH kinds: POSITION
    * deletes by ([[morFileKey]], `_metadata.row_index`), EQUALITY deletes
    * by the (partition, sequence) row key. The masks ride one cached
    * broadcast and are probed by the codegen'd
    * [[graft.functions.PosMasked]]/[[graft.functions.EqMasked]]
    * predicates: the masked read is a map-side FILTER fused into
    * whole-stage codegen — no per-query delete-parquet re-read, no hash
    * relation build, no join node, no shuffle of the corpus. MoR's size
    * contract is unchanged: deletes stay small because compaction folds
    * them; a mask set too big to broadcast is the signal to fold now. */
  private[table] def applyDeletes(spark: SparkSession, tableRoot: String,
                                  dels: Seq[DataFile], df: DataFrame): DataFrame = {
    val pos = dels.filter(_.content == 1)
    val eq  = dels.filter(_.content == 2)
    val afterPos =
      if (pos.isEmpty) df
      else {
        // the identity columns must come annotated FROM THE SCAN (read
        // with morCols = true): _metadata does not survive the mixed-spec
        // union, so adding them here would throw on a spec-evolved table
        require(df.columns.contains("_mor_fkey") && df.columns.contains("_mor_pos"),
          "applyDeletes with position deletes requires a morCols-annotated read")
        df.filter(!posMaskedCol(spark, tableRoot, pos))
      }
    val out =
      if (eq.isEmpty) afterPos
      else afterPos.filter(!eqMaskedCol(spark, tableRoot, eq))
    if (out.columns.contains("_mor_fkey")) out.drop("_mor_fkey", "_mor_pos") else out
  }

  /** CDC changefeed between two snapshots (tt3): one row per ROW-LEVEL
    * change committed in the parent-chain range (from, to], stamped
    * `_change_type` ∈ {insert, delete} — the feed a downstream sync
    * consumer applies instead of re-scanning the table.
    *
    *  - an APPEND snapshot emits the rows of exactly the files it added
    *    as inserts (manifest entries with its own snapshot id);
    *  - a merge-on-read DELETE snapshot emits the rows its new delete
    *    files masked, resolved against the PARENT snapshot's LIVE set —
    *    earlier masks never re-emit, and a row matched by both of the
    *    commit's delete kinds emits once;
    *  - a manifest REWRITE contributes nothing (no row changed);
    *  - a DATA-PRESERVING replace (`zombi.data-preserving` — compaction /
    *    MoR fold, live row set identical) contributes nothing, PROVIDED it
    *    only merged files whose changes precede the range — if it removed
    *    a file an in-range append/delete resolution still needs, the files
    *    are physically deleted and the feed refuses (re-read instead).
    *    This is what lets an incremental consumer survive the maintenance
    *    clock's vacuums;
    *  - any other operation (overwrite/CoW delete rewrites rows — a file
    *    diff cannot represent it) REFUSES loudly, as does a range
    *    crossing an expired snapshot.
    *
    * Scale shape: each delete snapshot costs one scan of its parent's
    * files with broadcast semi-joins (delete sets are batch-sized by the
    * fold contract) — consumers read SMALL ranges incrementally, per
    * refresh, never a year of history in one call. */
  def changesBetween(spark: SparkSession, tableRoot: String,
                     fromSnapshotId: Long, toSnapshotId: Long): DataFrame = {
    val committer = new IcebergCommitter(TableIO.forRoot(tableRoot), Topic)
    val meta = committer.load().getOrElse(
      throw new IllegalStateException(s"table $tableRoot has no committed metadata"))
    val known = meta.snapshots.map(_.snapshotId).toSet
    require(known(toSnapshotId), s"unknown snapshot $toSnapshotId (expired?)")
    if (!known(fromSnapshotId)) {
      // the typical lagging-consumer case: the base expired — name the
      // recovery point, not a generic unknown-snapshot error
      val oldest = committer.oldestRetainedAncestorOf(meta, toSnapshotId)
      throw new IllegalStateException(
        s"changefeed history expired at ${oldest.timestampMs}: base snapshot $fromSnapshotId " +
          s"is no longer in metadata — restart from snapshot ${oldest.snapshotId} (or a full read)")
    }
    val schema  = committer.currentSchemaOf(meta)
    val ordered = feedRange(committer, meta, fromSnapshotId, toSnapshotId)
    // validate the WHOLE range before building any scan: a replace in the
    // range physically deleted files, so a lazily-discovered refusal would
    // surface as a missing-path read error instead of the real reason.
    // Validation returns each delete commit's resolved inputs — reused
    // below instead of a second manifest walk.
    val deleteInputs = validateFeedRange(committer, meta, ordered, fromSnapshotId, toSnapshotId)
    val parts: Seq[DataFrame] = ordered.filterNot(feedSkips).flatMap { s =>
      s.summary.getOrElse("operation", "append") match {
        case "append" =>
          val added = committer.entriesOf(meta, s.snapshotId)
            .filter(e => e.status == 1 && e.snapshotId == s.snapshotId).map(_.dataFile)
          if (added.isEmpty) None
          else Some(readProjected(spark, tableRoot, schema, added)
            .withColumn("_change_type", lit("insert")))
        case "delete" =>
          val FeedDeleteInputs(newDels, parentFiles, priorDels) =
            deleteInputs(s.snapshotId) // resolved once, in validation
          if (newDels.isEmpty || parentFiles.isEmpty) None
          else {
            val raw = readProjected(spark, tableRoot, schema, parentFiles, morCols = true)
            // live at the parent: strip masks that predate this commit
            val priorP    = priorDels.filter(_.content == 1)
            val priorEq   = priorDels.filter(_.content == 2)
            val afterP =
              if (priorP.isEmpty) raw
              else raw.filter(!posMaskedCol(spark, tableRoot, priorP))
            val live =
              if (priorEq.isEmpty) afterP
              else afterP.filter(!eqMaskedCol(spark, tableRoot, priorEq))
            // the rows THIS commit masked, as ONE disjunctive filter pass —
            // a row matched by both delete kinds emits once by construction
            val newP  = newDels.filter(_.content == 1)
            val newEq = newDels.filter(_.content == 2)
            val hit: Option[org.apache.spark.sql.Column] = Seq(
              if (newP.isEmpty) None else Some(posMaskedCol(spark, tableRoot, newP)),
              if (newEq.isEmpty) None else Some(eqMaskedCol(spark, tableRoot, newEq))
            ).flatten.reduceOption(_ || _)
            hit.map(c => live.filter(c)
              .drop("_mor_fkey", "_mor_pos").withColumn("_change_type", lit("delete")))
          }
        case other => throw new IllegalStateException( // unreachable: validated above
          s"changefeed range snapshot ${s.snapshotId} has unvalidated operation '$other'")
      }
    }
    val empty = readProjected(spark, tableRoot, schema, Nil)
      .withColumn("_change_type", lit(null: String).cast("string"))
    parts.foldLeft(empty)(_ unionByName _)
  }

  /** The parent-chain range (from, to] in commit order — the ONE walk both
    * changefeed forms plan from. `from = -1` walks to table creation (the
    * stream's empty-table start). A snapshot missing from metadata is
    * expired history: the LAG GUARD names the restart point instead of a
    * generic unknown-snapshot error — except `from` itself, which a
    * checkpointed stream may hold after expiry removed it: (from, to] is
    * still whole. A chain that ends without meeting a real `from` refuses:
    * `from` is not an ancestor of `to`. */
  private[graft] def feedRange(committer: IcebergCommitter, meta: graft.iceberg.TableMetadata,
                               from: Long, to: Long): Seq[graft.iceberg.Snapshot] = {
    val (walk, rest) = committer.ancestors(meta, to).span(_.snapshotId != from)
    val range = walk.toSeq
    if (!rest.hasNext) range.lastOption.fold(Option(to))(_.parentSnapshotId) match {
      case Some(`from`)  => () // the walk ran up to an expired `from`
      case Some(expired) =>
        val oldest = committer.oldestRetainedAncestorOf(meta, to)
        throw new IllegalStateException(
          s"changefeed history expired at ${oldest.timestampMs}: snapshot $expired in range " +
            s"($from, $to] is no longer in metadata — restart from " +
            s"snapshot ${oldest.snapshotId} (or a full read)")
      case None if from != -1L =>
        throw new IllegalArgumentException(s"changefeed snapshot $from is not an ancestor of $to")
      case None => () // from = -1: the walk reached table creation
    }
    range.reverse
  }

  /** A snapshot a changefeed crosses emitting nothing: a manifest rewrite
    * (no file identity changes) or a DATA-PRESERVING replace (compaction /
    * MoR fold — live row set identical). */
  private[graft] def feedSkips(s: graft.iceberg.Snapshot): Boolean =
    s.summary.get("zombi.rewrite-manifests").contains("true") ||
      (s.summary.get("operation").contains("replace") &&
        s.summary.get("zombi.data-preserving").contains("true"))

  /** What a changefeed builder needs to resolve one MoR delete snapshot:
    * the commit's own delete files, the parent's live data files, and the
    * parent's active delete files (prior masks). */
  private[graft] final case class FeedDeleteInputs(newDels: Seq[DataFile],
                                                   parentFiles: Seq[DataFile],
                                                   parentDeletes: Seq[DataFile])

  /** ONE range-validation rule for BOTH changefeed forms (batch
    * [[changesBetween]] and the streaming [[graft.spark.GraftChangefeedStream]]):
    * every snapshot in the forward-ordered range must be an append, a MoR
    * delete, a manifest rewrite, or a DATA-PRESERVING replace — and a
    * data-preserving replace is crossable only while every file it removed
    * predates the range's reads. `readPaths` accumulates what the feed
    * will physically open (append-added files; the parent-live files a
    * delete commit resolves against): a replace that removed one of them
    * physically deleted it, so the refusal must carry the real reason
    * instead of surfacing later as a missing-path read error.
    *
    * Returns the per-delete-snapshot resolution inputs so the build pass
    * reuses what validation already resolved instead of re-walking the
    * parent manifests (two extra active-set folds per delete commit per
    * trigger on a delete-heavy feed otherwise). */
  private[graft] def validateFeedRange(committer: IcebergCommitter,
                                       meta: graft.iceberg.TableMetadata,
                                       ordered: Seq[graft.iceberg.Snapshot],
                                       fromSnapshotId: Long,
                                       toSnapshotId: Long): Map[Long, FeedDeleteInputs] = {
    val readPaths = scala.collection.mutable.Set.empty[String]
    val resolved  = scala.collection.mutable.Map.empty[Long, FeedDeleteInputs]
    ordered.foreach { s =>
      val op = s.summary.getOrElse("operation", "append")
      require(op == "append" || op == "delete" || feedSkips(s),
        s"changefeed range contains snapshot ${s.snapshotId} with operation '$op' — " +
          "a row-level diff cannot represent a rewrite; fall back to a full read")
      if (feedSkips(s)) {
        // removed DATA files (the merge) and removed DELETE files (the
        // fold) are both physically deleted — either kind still needed by
        // an earlier in-range read makes the range uncrossable (a
        // manifest rewrite removes none)
        val removed = (committer.entriesOf(meta, s.snapshotId) ++
            committer.entriesOf(meta, s.snapshotId, content = 1))
          .filter(e => e.status == 2 && e.snapshotId == s.snapshotId)
        removed.find(e => readPaths.contains(e.dataFile.filePath)).foreach { e =>
          throw new IllegalStateException(
            s"snapshot ${s.snapshotId} compacted away ${e.dataFile.filePath}, which the " +
              s"unconsumed changefeed range ($fromSnapshotId, $toSnapshotId] still needs — " +
              "the file is physically deleted; fall back to a full read")
        }
      } else if (op == "append") {
        readPaths ++= committer.entriesOf(meta, s.snapshotId)
          .filter(e => e.status == 1 && e.snapshotId == s.snapshotId).map(_.dataFile.filePath)
      } else { // MoR delete: resolution reads the parent's live data files,
               // its own new delete parquet, and the parent's prior masks
        val newDels = committer.entriesOf(meta, s.snapshotId, content = 1)
          .filter(e => e.status == 1 && e.snapshotId == s.snapshotId).map(_.dataFile)
        if (newDels.nonEmpty) {
          val parentId = s.parentSnapshotId.getOrElse(throw new IllegalStateException(
            s"delete snapshot ${s.snapshotId} has no parent"))
          val parentFiles = committer.activeFilesAtOf(meta, parentId, 0)
          val parentDels  = committer.activeFilesAtOf(meta, parentId, 1)
          readPaths ++= newDels.map(_.filePath)
          readPaths ++= parentFiles.map(_.filePath)
          readPaths ++= parentDels.map(_.filePath)
          resolved(s.snapshotId) = FeedDeleteInputs(newDels, parentFiles, parentDels)
        } else resolved(s.snapshotId) = FeedDeleteInputs(Nil, Nil, Nil)
      }
    }
    resolved.toMap
  }

  /** Manifest-level file pruning for a timestamp range (Q3's payoff at
    * scale: skip entire files before Spark ever lists them). Files without
    * timestamp bounds are conservatively kept. */
  def pruneByTimeRange(committer: IcebergCommitter, loMs: Long, hiMs: Long): Seq[DataFile] =
    committer.activeDataFiles().filter { f =>
      val lo = f.lowerLong(FieldIds.TimestampMs).getOrElse(Long.MinValue)
      val hi = f.upperLong(FieldIds.TimestampMs).getOrElse(Long.MaxValue)
      hi >= loMs && lo < hiMs
    }

  /** Manifest-level pruning on the identity `partition` bounds. */
  def pruneByPartition(committer: IcebergCommitter, partition: Int): Seq[DataFile] =
    committer.activeDataFiles().filter { f =>
      val lo = f.lowerInt(FieldIds.Partition).getOrElse(Int.MinValue)
      val hi = f.upperInt(FieldIds.Partition).getOrElse(Int.MaxValue)
      lo <= partition && partition <= hi
    }
}

/** Footer → [[DataFile]] stats, shared by the task writer (the footer it
  * just wrote) and footer re-reads. A standalone object so the closures
  * that call it stay small and serializable. */
object FileStats extends Serializable {
  /** A file's stats from its footer on disk, plus its UNCOMPRESSED data
    * size (Σ block totalByteSize) — the size-profile input for
    * streamed-batch bucketing. Read options come from `conf`: parquet's
    * default options build a fresh Hadoop `Configuration` per file, which
    * re-parses core-default.xml. */
  def dataFileAndRaw(tableRoot: String, relPath: String, conf: Configuration): (DataFile, Long) = {
    // Hadoop Path resolution, so footer reads work for any scheme the
    // table root uses (file://, hdfs://, s3a://) — but local paths go
    // through parquet's nio LocalInputFile: Hadoop's local FileSystem
    // pays a fork-per-status permission load without the native lib.
    val abs = new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(tableRoot), relPath)
    val scheme = Option(abs.toUri.getScheme)
    val inputFile: org.apache.parquet.io.InputFile =
      if (scheme.forall(_ == "file"))
        new org.apache.parquet.io.LocalInputFile(java.nio.file.Paths.get(abs.toUri.getPath))
      else HadoopInputFile.fromPath(abs, conf)
    val reader = ParquetFileReader.open(inputFile, HadoopReadOptions.builder(conf).build())
    val footer = try reader.getFooter finally reader.close()
    fromFooter(relPath, footer, inputFile.getLength)
  }

  /** Stats of one file from its footer. Page-column min/max give the
    * sequence, timestamp, date and hour bounds, and the `partition` bounds
    * of a file that stores it as a column (an equality-delete file); path
    * keys override them. Missing/empty stats omit the bound entry. */
  def fromFooter(relPath: String, footer: ParquetMetadata, fileSize: Long): (DataFile, Long) = {
    var rows = 0L
    var rawBytes = 0L
    var seqMin, tsMin             = Long.MaxValue
    var seqMax, tsMax             = Long.MinValue
    var dateMin, hourMin, partMin = Int.MaxValue
    var dateMax, hourMax, partMax = Int.MinValue
    footer.getBlocks.asScala.foreach { b =>
      rows += b.getRowCount
      rawBytes += b.getTotalByteSize
      b.getColumns.asScala.foreach { c =>
        val st = c.getStatistics
        if (st != null && !st.isEmpty && st.hasNonNullValue) c.getPath.toDotString match {
          case "sequence" =>
            seqMin = math.min(seqMin, st.genericGetMin.asInstanceOf[java.lang.Long])
            seqMax = math.max(seqMax, st.genericGetMax.asInstanceOf[java.lang.Long])
          case "timestamp_ms" =>
            tsMin = math.min(tsMin, st.genericGetMin.asInstanceOf[java.lang.Long])
            tsMax = math.max(tsMax, st.genericGetMax.asInstanceOf[java.lang.Long])
          case "event_date" =>
            dateMin = math.min(dateMin, st.genericGetMin.asInstanceOf[java.lang.Integer])
            dateMax = math.max(dateMax, st.genericGetMax.asInstanceOf[java.lang.Integer])
          case "event_hour" =>
            hourMin = math.min(hourMin, st.genericGetMin.asInstanceOf[java.lang.Integer])
            hourMax = math.max(hourMax, st.genericGetMax.asInstanceOf[java.lang.Integer])
          case "partition" =>
            partMin = math.min(partMin, st.genericGetMin.asInstanceOf[java.lang.Integer])
            partMax = math.max(partMax, st.genericGetMax.asInstanceOf[java.lang.Integer])
          case _ => ()
        }
      }
    }

    // Identity partition value from the Hive path: .../partition=P/file
    EventTable.pathPartitionOpt(relPath).foreach { p => partMin = p; partMax = p }
    // Evolved date spec: event_date is a DIRECTORY key, not a page column —
    // its identity bounds come from the path (files are single-date), so
    // date/time pruning stays manifest-stat-driven on both specs.
    // a null-date row lands under Hive's default-partition sentinel dir —
    // no bounds for it (consumers already treat absent bounds as
    // conservative), never a parse crash after the files moved into data/
    val pathDate = relPath.split('/').collectFirst {
      case seg if seg.startsWith("event_date=") &&
          !seg.endsWith("__HIVE_DEFAULT_PARTITION__") =>
        java.time.LocalDate.parse(seg.stripPrefix("event_date=")).toEpochDay.toInt
    }
    pathDate.foreach { d => dateMin = d; dateMax = d }

    def longBounds(fid: Int, mn: Long, mx: Long): Seq[(Int, Array[Byte], Array[Byte])] =
      if (mn == Long.MaxValue && mx == Long.MinValue) Nil
      else Seq((fid, Bounds.encodeLong(mn), Bounds.encodeLong(mx)))
    def intBounds(fid: Int, mn: Int, mx: Int): Seq[(Int, Array[Byte], Array[Byte])] =
      if (mn == Int.MaxValue && mx == Int.MinValue) Nil
      else Seq((fid, Bounds.encodeInt(mn), Bounds.encodeInt(mx)))

    val bounds =
      longBounds(FieldIds.Sequence, seqMin, seqMax) ++
        longBounds(FieldIds.TimestampMs, tsMin, tsMax) ++
        intBounds(FieldIds.EventDate, dateMin, dateMax) ++
        intBounds(FieldIds.EventHour, hourMin, hourMax) ++
        intBounds(FieldIds.Partition, partMin, partMax)

    (DataFile(
      content = 0,
      filePath = relPath,
      fileFormat = "PARQUET",
      recordCount = rows,
      fileSizeInBytes = fileSize,
      lowerBounds = bounds.map(b => b._1 -> b._2).toMap,
      upperBounds = bounds.map(b => b._1 -> b._3).toMap
    ), rawBytes)
  }
}

/** One committed table per (JVM, sfDir), built lazily — queries over the
  * committed snapshot share a single ingest+commit. */
object CommittedTables {
  private val memo = new graft.core.FileMemo[String]

  def tableRoot(spark: SparkSession, sfDir: String): String =
    memo.getOrElseUpdate(sfDir) { tmp =>
      val root = tmp("graft-table-")
      EventTable.ingestAndCommit(spark, sfDir, root)
      root
    }
}
