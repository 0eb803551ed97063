package graft.spark

import graft.iceberg.{DataFile, FieldIds, IcebergCommitter, TableIO}
import graft.table.EventTable
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapred.FileSplit
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetInputFormat}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, VectorizedParquetRecordReader}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration
import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._

/** DataSource V2: `spark.read.format("graft").load(tableRoot)` — the custom
  * table format SURVEY §4 calls out as the idiomatic end state: reads OUR
  * Iceberg metadata (manifest chain) instead of listing directories, and
  * prunes whole data files against the manifests' sequence / timestamp /
  * partition / date bounds from the filters Catalyst pushes down — at
  * 100 TB the scan plans only the files a query can touch, exactly like the
  * reference intends external engines to (`SPEC.md:306-318`).
  *
  * Column pruning is honored file-side (only requested parquet fields are
  * materialized); pushed filters are ALSO kept as Spark-side residuals, so
  * correctness never depends on pruning.
  */
final class GraftDataSource extends TableProvider with DataSourceRegister
    with org.apache.spark.sql.sources.CreatableRelationProvider {
  override def shortName(): String = "graft"

  private def root(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("graft source requires a path (the table root)"))

  private def isChangefeed(options: java.util.Map[String, String]): Boolean =
    Option(options.get("changefeed")).exists(_.equalsIgnoreCase("true"))

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val base = GraftDataSource.sparkSchema(root(options))
    if (isChangefeed(options))
      StructType(base.fields :+ StructField("_change_type", StringType, nullable = false))
    else base
  }

  override def getTable(schema: StructType, partitioning: Array[Transform], props: JMap[String, String]): Table = {
    // getTable receives the ORIGINAL-case property map while inferSchema got
    // a CaseInsensitiveStringMap — decide through the same wrapper, or a
    // miscased option("changeFeed") would add _change_type to the schema yet
    // build the plain append-tail stream (deletes silently never emitted)
    val opts = new CaseInsensitiveStringMap(props)
    if (isChangefeed(opts))
      new GraftChangefeedTable(opts.get("path"), schema,
        Option(opts.get("fromsnapshot")).map(_.trim.toLong),
        Option(opts.get("fromtimestamp")).map(_.trim.toLong))
    else {
      // option("versionAsOf", <snapshot id | ref name>): the DataFrame-API
      // twin of SQL time travel — ids and refs (user tags, main, stage-*)
      // resolve through the same committer rule as the catalog path
      val pinned = Option(opts.get("versionasof")).map { v =>
        val committer = new IcebergCommitter(TableIO.forRoot(opts.get("path")), EventTable.Topic)
        val meta = committer.load().getOrElse(throw new IllegalArgumentException(
          s"versionAsOf=$v but ${opts.get("path")} has no committed metadata"))
        committer.resolveVersionOf(meta, v.trim)
      }
      new GraftTable(opts.get("path"), schema, pinned)
    }
  }

  override def supportsExternalMetadata(): Boolean = true

  /** `df.write.format("graft").mode("append").save(root)` — the write path
    * routes through the ENGINE's append pipeline (dedup, sequence
    * continuation from committed watermarks, size-targeted sorted layout,
    * one snapshot commit with optimistic-append CAS), never a raw file
    * dump. Input contract: `partition` (int), `payload` (string/binary),
    * `timestamp_ms` (long), optional nullable `idempotency_key`. */
  override def createRelation(
      sqlContext: org.apache.spark.sql.SQLContext,
      mode: org.apache.spark.sql.SaveMode,
      parameters: Map[String, String],
      data: org.apache.spark.sql.DataFrame): org.apache.spark.sql.sources.BaseRelation = {
    import org.apache.spark.sql.SaveMode
    if (mode != SaveMode.Append)
      throw new UnsupportedOperationException(
        s"graft tables are append-only event logs; got mode $mode (use mode(\"append\"))")
    val tableRoot = parameters.getOrElse("path",
      throw new IllegalArgumentException("graft write requires a path (the table root)"))
    val requiredCols = Seq("partition", "payload", "timestamp_ms")
    val missing = requiredCols.filterNot(data.columns.contains)
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"graft append requires columns ${requiredCols.mkString(", ")} " +
          s"(optional idempotency_key); missing: ${missing.mkString(", ")}")
    graft.streaming.StreamIngest.appendEvents(data.sparkSession, tableRoot, data)
    val outer = sqlContext
    new org.apache.spark.sql.sources.BaseRelation {
      override def sqlContext: org.apache.spark.sql.SQLContext = outer
      override def schema: StructType = GraftDataSource.sparkSchema(tableRoot)
    }
  }
}

object GraftDataSource {
  /** Committed schema from the table's own Iceberg metadata. */
  def sparkSchema(tableRoot: String): StructType = {
    val committer = new IcebergCommitter(TableIO.forRoot(tableRoot), EventTable.Topic)
    committer.load() match {
      case None => EventTable.committedReadSchema
      case Some(meta) =>
        StructType(meta.schemas.find(_.schemaId == meta.currentSchemaId).getOrElse(meta.schemas.head).fields.map { f =>
          val dt = f.fieldType match {
            case "long"    => LongType
            case "string"  => StringType
            case "int"     => IntegerType
            case "binary"  => BinaryType
            case "date"    => DateType
            case "double"  => DoubleType
            case "boolean" => BooleanType
            case other     => throw new IllegalArgumentException(s"unsupported iceberg type $other")
          }
          StructField(f.name, dt, nullable = !f.required)
        })
    }
  }
}

final class GraftTable(tableRoot: String, tableSchema: StructType,
                       snapshotId: Option[Long] = None) extends Table with SupportsRead {
  override def name(): String =
    s"graft:$tableRoot" + snapshotId.map(s => s"@$s").getOrElse("")
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    // a time-travel-pinned table is a FROZEN state — only the live table
    // can be tailed as a stream
    if (snapshotId.isEmpty)
      java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
    else java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    // `skipDeleteSnapshots` (Iceberg's streaming-skip-delete-snapshots):
    // OPT-IN for the append tail to cross MoR delete commits emitting
    // nothing — an append-only consumer knowingly forgoes retractions.
    // Default stays the loud refusal.
    new GraftScanBuilder(tableRoot, tableSchema, snapshotId,
      options.getBoolean("skipDeleteSnapshots", false))
}

final class GraftScanBuilder(tableRoot: String, tableSchema: StructType,
                             snapshotId: Option[Long] = None,
                             skipDeleteSnapshots: Boolean = false)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {
  private var required: StructType   = tableSchema
  private var pushed: Array[Filter]  = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // record the prunable ones; return everything as residual — pruning is
    // file-level only, Spark re-applies row-level predicates
    pushed = filters.filter(GraftScanBuilder.prunable)
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    // `partition` is a Hive-path constant appended by the vectorized
    // reader's initBatch, so it must sit LAST in the scan's output schema;
    // Spark re-resolves the plan's references against readSchema() by name,
    // so reordering here is safe.
    required = StructType(
      requiredSchema.fields.filterNot(_.name == "partition") ++
        requiredSchema.fields.filter(_.name == "partition"))

  override def build(): Scan =
    new GraftScan(tableRoot, tableSchema, required, pushed, snapshotId, skipDeleteSnapshots)
}

object GraftScanBuilder {
  private val boundCols = Set("sequence", "timestamp_ms", "partition", "event_date", "event_hour")
  def prunable(f: Filter): Boolean = f match {
    case EqualTo(a, _)            => boundCols(a)
    case In(a, _)                 => boundCols(a)
    case GreaterThan(a, _)        => boundCols(a)
    case GreaterThanOrEqual(a, _) => boundCols(a)
    case LessThan(a, _)           => boundCols(a)
    case LessThanOrEqual(a, _)    => boundCols(a)
    case And(l, r)                => prunable(l) || prunable(r)
    case Or(l, r)                 => prunable(l) && prunable(r)
    case _                        => false
  }
}

/** One committed file to read, plus its merge-on-read masks: `delPositions`
  * = sorted physical row ordinals masked by position-delete files for THIS
  * file; `eqSeqs` = sorted tombstoned sequences relevant to this file
  * (equality deletes pruned to the file's sequence bounds at planning).
  * Masks ship INLINE (task binaries) only under
  * [[GraftScan.inlineMaskCap]]; past it `broadcastMasks` is set and the
  * reader factory resolves this file's masks from a shared Spark broadcast
  * instead — one driver copy, torrent-distributed, so the scan degrades
  * gracefully rather than bloating every task. Past the absolute
  * [[GraftScan.maxMaskCap]] the scan refuses — compact first.
  *
  * A changefeed DELETE partition adds keep masks — `keepPositions` /
  * `keepSeqs`, the rows its delete commit masked: a row is emitted only
  * if it survives the drop masks above AND hits a keep mask. `changeType`
  * is the changefeed's constant `_change_type` value. */
final case class GraftInputPartition(tableRoot: String, relPath: String,
                                     delPositions: Array[Long] = Array.empty,
                                     eqSeqs: Array[Long] = Array.empty,
                                     broadcastMasks: Boolean = false,
                                     keepPositions: Array[Long] = Array.empty,
                                     keepSeqs: Array[Long] = Array.empty,
                                     changeType: Option[String] = None) extends InputPartition

final class GraftScan(tableRoot: String, tableSchema: StructType, required: StructType,
                      pushed: Array[Filter], snapshotId: Option[Long] = None,
                      skipDeleteSnapshots: Boolean = false) extends Scan with Batch
    with SupportsReportStatistics with SupportsRuntimeFiltering {
  override def readSchema(): StructType = required

  /** Runtime (dynamic-partition-pruning) filters: Spark derives them from
    * a join's build side AFTER planning starts and pushes them here BEFORE
    * `planInputPartitions` — they compose with the build-time pushed
    * filters in the same manifest-bound pruning pass, so a fact-scan joined
    * to a filtered dim plans only the files the join keys can touch. All
    * bound-backed columns are offered; Spark sends only join-key filters. */
  @volatile private var runtimeFilters: Array[Filter] = Array.empty
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array("partition", "event_date", "event_hour", "sequence", "timestamp_ms")
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)
  override def filter(filters: Array[Filter]): Unit =
    runtimeFilters = filters.filter(GraftScanBuilder.prunable)

  private def pruneSurvivors(files: Seq[DataFile]): Seq[DataFile] = {
    val all = pushed ++ runtimeFilters // hoisted: never rebuilt per file
    files.filter(f => all.forall(flt => GraftScan.mayMatch(f, flt)))
  }

  /** Manifest-exact statistics for the PRUNED scan: Catalyst's join
    * planning (auto-broadcast under `autoBroadcastJoinThreshold`, join
    * reorder) sees the filtered table's real bytes/rows instead of a
    * directory-size guess — a dim-sized graft table in a join broadcasts
    * without a hint, which at 100 TB is the difference between a hash
    * shuffle of the fact table and none. Bytes are on-disk parquet sizes
    * (the V2 FileScan convention). On an UNPRUNED scan, rows SUBTRACT the
    * unfolded MoR mask rows (every active delete row masks a row of the
    * full table, so the table-wide counts apply exactly) and bytes scale
    * by the live-row fraction — a delete-heavy dim table must not miss
    * auto-broadcast on rows the codegen'd mask filter drops at the scan.
    * A PRUNED scan keeps the raw survivor numbers: a delete file's
    * recordCount may reference files the filters pruned away, so
    * subtracting it could UNDERSTATE (down to zero rows — the estimate
    * that wrongly broadcasts a big fact side); overstate is the only safe
    * error direction there. The SAME safety rule governs mixed delete
    * kinds: positional counts are exact (positions resolve against live
    * rows at write, disjoint across commits), and a lone equality batch
    * is exact by the CDC contract (deduped, real tombstones) — but when
    * BOTH kinds are active an eq key may reference a row a position mask
    * already covers (deleteWhereEq never scans, so it cannot know), and
    * summing the two kinds would double-subtract that row. Subtract
    * max(pos, eq) instead — a lower bound on the union of the masks, so
    * the mixed-kind estimate can only OVERSTATE live rows, never
    * understate into a wrong broadcast. Manifest-only — no delete
    * parquet is opened for an estimate. */
  override def estimateStatistics(): Statistics = {
    val (bytes, rows) = planState match {
      case None => (0L, 0L)
      case Some((_, files, dels)) =>
        val s = pruneSurvivors(files)
        val rawRows  = s.map(_.recordCount).sum
        val rawBytes = s.map(_.fileSizeInBytes).sum
        val maskRows =
          if (s.size == files.size) {
            val relevant = EventTable.pruneDeleteFiles(s, dels)
            val posRows  = relevant.filter(_.content == 1).map(_.recordCount).sum
            // eq tombstones may match NO live row (deleteWhereEq's
            // documented "harmless tombstone"), so their recordCount is
            // an UPPER bound — an inflated one drags the estimate toward
            // the unsafe wrong-broadcast direction. Clamp the eq weight
            // at the rows positions leave unmasked (rawRows − posRows):
            // the subtraction can then never exceed what any real mask
            // union could cover. Within that bound a no-match tombstone
            // still understates live rows — accepted and documented: the
            // CDC contract makes tombstone batches predominantly real,
            // and the clamp caps the worst case at table size.
            val eqRows = math.min(
              relevant.filter(_.content == 2).map(_.recordCount).sum,
              math.max(0L, rawRows - posRows))
            if (posRows > 0L && eqRows > 0L) math.max(posRows, eqRows)
            else posRows + eqRows
          } else 0L
        val liveRows = math.max(0L, rawRows - maskRows)
        val liveBytes =
          if (rawRows <= 0L || maskRows <= 0L) rawBytes
          else math.max(1L, (rawBytes.toDouble * liveRows / rawRows).toLong)
        (liveBytes, liveRows)
    }
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong    = java.util.OptionalLong.of(rows)
    }
  }
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String):
      org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    // belt to the capabilities() suspender: a pinned scan must never
    // silently tail the live head
    snapshotId.foreach(v => throw new UnsupportedOperationException(
      s"cannot stream a time-travel-pinned graft table (snapshot $v) — stream the live table"))
    new GraftMicroBatchStream(tableRoot, required, pushed, skipDeleteSnapshots)
  }

  /** One partition per data file that SURVIVES manifest-bound pruning;
    * `snapshotId` pins the file set to a historical snapshot (SQL
    * `VERSION AS OF` / `TIMESTAMP AS OF` time travel). */
  /** ONE metadata load shared by the file listing, the delete masks and
    * the statistics: separate loads would let a delete+append race the
    * listing (silent masked rows). A Scan plans once; lazy is the
    * per-query memo. */
  private lazy val planState: Option[(graft.iceberg.TableMetadata, Seq[DataFile], Seq[DataFile])] = {
    val committer = new IcebergCommitter(TableIO.forRoot(tableRoot), EventTable.Topic)
    committer.load().map { meta =>
      val readSnap = snapshotId.orElse(meta.currentSnapshotId)
      val dels  = readSnap.map(id => committer.activeFilesAtOf(meta, id, content = 1)).getOrElse(Nil)
      val files = readSnap.map(id => committer.activeFilesAtOf(meta, id, content = 0)).getOrElse(Nil)
      (meta, files, dels)
    }
  }

  // merge-on-read: delete files AT THE READ SNAPSHOT become per-file masks
  // the reader applies: positional rows by file identity + row ordinal,
  // equality keys by (partition, sequence). Time travel composes: a
  // delete-era snapshot reads masked while its delete files exist; after a
  // fold physically deletes them, planning fails loud on the missing
  // parquet (same contract as time travel across any replace). Mask
  // transport escalates inline → broadcast → refuse (see
  // [[GraftScan.planMasks]]). Tombstone-read pruning FIRST: the pushed
  // bounds prune the file list, and only deletes whose manifest bounds can
  // touch a SURVIVING file are ever opened — a one-hour time-pruned scan
  // of a year-long table must not read a year of tombstones. ONE memo so
  // the partitions and the factory's broadcast decision derive from the
  // same planning state.
  // Memoized PER runtime-filter delivery, not once: Spark forces a plan
  // during executed-plan PREPARATION (the columnar-support rules call
  // planInputPartitions before any runtime filter exists) and re-plans at
  // EXECUTION after BatchScanExec delivers the DPP filters — a plain lazy
  // val would hand the second call the memo of the first and the runtime
  // pruning would silently never prune. filter() swaps the runtimeFilters
  // array instance, so a reference check is exactly "filters changed".
  // (A pre-filter plan that escalated masks to a broadcast leaves that
  // broadcast to ContextCleaner, like any superseded batch-scan plan.)
  private var plannedFor: AnyRef = null
  private var plannedVal: (Array[InputPartition], GraftScan.MaskBroadcast) = _
  private def planned: (Array[InputPartition], GraftScan.MaskBroadcast) = synchronized {
    val cur = runtimeFilters
    if (plannedVal == null || !(plannedFor eq cur)) {
      plannedVal = planState match {
        case None => (Array.empty[InputPartition], None)
        case Some((_, files, dels)) =>
          val surviving = pruneSurvivors(files) // build-time AND runtime filters
          val relevant  = EventTable.pruneDeleteFiles(surviving, dels)
          val (mkPartition, bc) = GraftScan.planMasks(tableRoot, relevant)
          (surviving.map(mkPartition).toArray[InputPartition], bc)
      }
      plannedFor = cur
    }
    plannedVal
  }

  override def planInputPartitions(): Array[InputPartition] = planned._1

  override def createReaderFactory(): PartitionReaderFactory =
    GraftReaderFactory(required, masks = planned._2)

  override def description(): String =
    s"GraftScan pruned on [${pushed.mkString(", ")}]"
}

object GraftScan {
  /** All-files delete masks as one value, broadcast-shippable:
    * (positions by target-file key, tombstoned sequences by partition). */
  type Masks = (Map[String, Array[Long]], Map[Int, Array[Long]])
  type MaskBroadcast = Option[org.apache.spark.broadcast.Broadcast[Masks]]

  /** Ceiling on total delete rows shipped INLINE in task binaries — past
    * it masks ride one Spark broadcast instead (every task would
    * otherwise carry a copy). Conf: `spark.graft.mor.inlineMaskRows`. */
  val DefaultInlineMaskRows: Long = 1L << 22

  /** Absolute ceiling on delete rows the scan will plan at all — a bound
    * on DRIVER memory (the masks are collected once to build them); past
    * it the scan refuses loudly ("compact first").
    * Conf: `spark.graft.mor.maxMaskRows`.
    *
    * Over-cap broadcasts have no batch-scan lifecycle hook to destroy
    * them; they are released by Spark's ContextCleaner when the scan's
    * broadcast reference is GC'd (streams destroy theirs eagerly in
    * `stop()`). */
  val DefaultMaxMaskRows: Long = 1L << 25

  /** Delete parquet files opened by [[deleteMasksFor]] since JVM start —
    * observability for the tombstone-read pruning (tests pin that a
    * bounds-pruned scan opens ZERO delete files). */
  val deleteFilesOpened = new java.util.concurrent.atomic.AtomicLong(0)

  def inlineMaskCap(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.get("spark.graft.mor.inlineMaskRows", DefaultInlineMaskRows.toString).toLong
  def maxMaskCap(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.get("spark.graft.mor.maxMaskRows", DefaultMaxMaskRows.toString).toLong

  /** Mask planning with graceful degradation: returns the partition
    * builder plus (when escalated) the broadcast the reader factory must
    * carry. ≤ inline cap → per-file masks inside the partitions (zero
    * extra machinery, the common fold-disciplined case); ≤ max cap → ONE
    * broadcast of the full mask maps, partitions carry only a flag; past
    * that → refuse, compaction is overdue. */
  def planMasks(tableRoot: String,
                dels: Seq[DataFile]): (DataFile => GraftInputPartition, MaskBroadcast) = {
    if (dels.isEmpty) return (f => GraftInputPartition(tableRoot, f.filePath), None)
    val spark     = org.apache.spark.sql.SparkSession.active
    val totalRows = dels.map(_.recordCount).sum
    require(totalRows <= maxMaskCap(spark),
      s"table $tableRoot holds $totalRows merge-on-read delete rows (> ${maxMaskCap(spark)}): " +
        "compact to fold the deletes before scanning through the graft source")
    val masks = deleteMasksFor(tableRoot, dels)
    if (totalRows <= inlineMaskCap(spark))
      (f => maskedPartition(tableRoot, f, masks._1, masks._2), None)
    else {
      val bc = spark.sparkContext.broadcast(masks)
      (f => GraftInputPartition(tableRoot, f.filePath, broadcastMasks = true), Some(bc))
    }
  }

  /** Driver-side mask cache keyed by (table root, delete-file path set):
    * delete files are IMMUTABLE (UUID paths, never rewritten in place), so
    * the key fully determines the masks — repeated scans of a
    * delete-bearing snapshot collect the tombstones once, not per query.
    * Bounded by total cached mask rows; eldest entries fall off (their
    * broadcasts, if any, are released by ContextCleaner once unreferenced). */
  private val maskCache =
    new java.util.LinkedHashMap[String, (Masks, Long)](32, 0.75f, /* accessOrder = */ true)
  private val MaxCachedMaskRows: Long = 1L << 23

  private def maskCacheKey(tableRoot: String, dels: Seq[DataFile]): String =
    tableRoot + "|" + dels.map(_.filePath).sorted.mkString(",")

  /** Driver-side delete masks: positional rows grouped by the target
    * file's identity key (last two path segments — see
    * [[graft.table.EventTable.morKeyOf]]) and equality keys grouped by
    * log partition, both sorted. Loaded once per DELETE-FILE SET via the
    * active session (delete files are batch-sized by the fold contract)
    * and memoized in [[maskCache]]. */
  def deleteMasksFor(tableRoot: String, dels: Seq[DataFile]): Masks = {
    if (dels.isEmpty) return (Map.empty, Map.empty)
    val key = maskCacheKey(tableRoot, dels)
    maskCache.synchronized(Option(maskCache.get(key))).foreach { case (m, _) => return m }
    val masks = readMasks(tableRoot, dels)
    val rows  = dels.map(_.recordCount).sum
    maskCache.synchronized {
      maskCache.put(key, (masks, rows))
      var total = 0L
      val it = maskCache.values().iterator()
      while (it.hasNext) total += it.next()._2
      val evict = maskCache.entrySet().iterator()
      while (total > MaxCachedMaskRows && maskCache.size() > 1 && evict.hasNext) {
        val e = evict.next()
        if (e.getKey != key) { total -= e.getValue._2; evict.remove() }
      }
    }
    masks
  }

  private def readMasks(tableRoot: String, dels: Seq[DataFile]): Masks = {
    deleteFilesOpened.addAndGet(dels.size.toLong)
    val spark = org.apache.spark.sql.SparkSession.active
    import org.apache.spark.sql.functions._
    val pos = dels.filter(_.content == 1)
    val eq  = dels.filter(_.content == 2)
    // dedup + sort run EXECUTOR-side (one map-combined aggregation per
    // key), so the driver collects only the compact per-key arrays —
    // O(keys + mask rows once, in packed arrays) instead of up to
    // maxMaskRows raw (path-string, long) Rows (several GB transient at
    // the 2^25 cap). The key expression is the shared morStoredKey twin
    // of [[graft.table.EventTable.morKeyOf]] — ONE identity definition.
    val posByFile =
      if (pos.isEmpty) Map.empty[String, Array[Long]]
      else spark.read.parquet(pos.map(f => s"$tableRoot/${f.filePath}"): _*)
        .select(expr(graft.table.EventTable.morStoredKey).as("k"), col("pos"))
        .groupBy("k").agg(sort_array(collect_set(col("pos"))).as("ps"))
        .collect()
        .map(r => r.getString(0) -> r.getSeq[Long](1).toArray).toMap
    val eqByPart =
      if (eq.isEmpty) Map.empty[Int, Array[Long]]
      else spark.read.parquet(eq.map(f => s"$tableRoot/${f.filePath}"): _*)
        .select(col("partition").cast("int").as("p"), col("sequence"))
        .groupBy("p").agg(sort_array(collect_set(col("sequence"))).as("ss"))
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Long](1).toArray).toMap
    (posByFile, eqByPart)
  }

  /** Build the input partition for one data file with its delete masks:
    * positions by file identity; equality keys by the file's PATH
    * partition (the same derivation the reader's constant `partition`
    * column uses), pruned to the file's sequence bounds. */
  def maskedPartition(tableRoot: String, f: DataFile,
                      posByFile: Map[String, Array[Long]],
                      eqByPart: Map[Int, Array[Long]]): GraftInputPartition = {
    val dp = posByFile.getOrElse(graft.table.EventTable.morKeyOf(f.filePath), Array.empty[Long])
    val eqs =
      if (eqByPart.isEmpty) Array.empty[Long]
      else {
        val pid = graft.table.EventTable.pathPartitionOf(f.filePath)
        val all = eqByPart.getOrElse(pid, Array.empty[Long])
        if (all.isEmpty) all
        else {
          val lo = f.lowerLong(FieldIds.Sequence).getOrElse(Long.MinValue)
          val hi = f.upperLong(FieldIds.Sequence).getOrElse(Long.MaxValue)
          all.filter(s => s >= lo && s <= hi)
        }
      }
    GraftInputPartition(tableRoot, f.filePath, dp, eqs)
  }

  private def longBounds(f: DataFile, fid: Int): (Long, Long) =
    (f.lowerLong(fid).getOrElse(Long.MinValue), f.upperLong(fid).getOrElse(Long.MaxValue))
  private def intBounds(f: DataFile, fid: Int): (Long, Long) =
    (f.lowerInt(fid).map(_.toLong).getOrElse(Long.MinValue), f.upperInt(fid).map(_.toLong).getOrElse(Long.MaxValue))

  private def bounds(f: DataFile, col: String): Option[(Long, Long)] = col match {
    case "sequence"     => Some(longBounds(f, FieldIds.Sequence))
    case "timestamp_ms" => Some(longBounds(f, FieldIds.TimestampMs))
    case "partition"    => Some(intBounds(f, FieldIds.Partition))
    case "event_date"   => Some(intBounds(f, FieldIds.EventDate))
    case "event_hour"   => Some(intBounds(f, FieldIds.EventHour))
    case _              => None
  }

  private def asLong(v: Any): Option[Long] = v match {
    case i: Int            => Some(i.toLong)
    case l: Long           => Some(l)
    case d: java.sql.Date  => Some(d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate => Some(d.toEpochDay)
    case _                 => None
  }

  /** Conservative: an unhandled shape keeps the file. */
  def mayMatch(f: DataFile, filter: Filter): Boolean = filter match {
    case EqualTo(a, v) =>
      (bounds(f, a), asLong(v)) match {
        case (Some((lo, hi)), Some(x)) => lo <= x && x <= hi
        case _                         => true
      }
    case GreaterThan(a, v) =>
      (bounds(f, a), asLong(v)) match {
        case (Some((_, hi)), Some(x)) => hi > x
        case _                        => true
      }
    case GreaterThanOrEqual(a, v) =>
      (bounds(f, a), asLong(v)) match {
        case (Some((_, hi)), Some(x)) => hi >= x
        case _                        => true
      }
    case LessThan(a, v) =>
      (bounds(f, a), asLong(v)) match {
        case (Some((lo, _)), Some(x)) => lo < x
        case _                        => true
      }
    case LessThanOrEqual(a, v) =>
      (bounds(f, a), asLong(v)) match {
        case (Some((lo, _)), Some(x)) => lo <= x
        case _                        => true
      }
    case In(a, vs) =>
      bounds(f, a) match {
        case Some((lo, hi)) =>
          val xs = vs.toSeq.flatMap(asLong)
          // only prune when every value is understood; partial knowledge
          // must stay conservative
          xs.size != vs.length || xs.exists(x => lo <= x && x <= hi)
        case None => true
      }
    case And(l, r) => mayMatch(f, l) && mayMatch(f, r)
    case Or(l, r)  => mayMatch(f, l) || mayMatch(f, r)
    case _         => true
  }
}

/** Streaming offset = the SNAPSHOT ID the tail has consumed through
  * (−1 = before the first snapshot). Snapshot ids are the natural
  * exactly-once cursor for an Iceberg-style log: a micro-batch is the
  * manifest-level file diff between two ids, resolved by
  * [[IcebergCommitter.appendsBetween]] under the append-only guard. */
final case class GraftOffset(snapshotId: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = snapshotId.toString
}

/** The offset half both snapshot streams share (the append tail and the
  * changefeed): offsets are snapshot ids, the latest offset is the
  * current head (−1 on an empty table), and nothing is acknowledged back
  * to the table on commit. */
trait SnapshotOffsets extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}
  protected def tableRoot: String
  protected def committer = new IcebergCommitter(TableIO.forRoot(tableRoot), EventTable.Topic)

  protected def headOffset(): GraftOffset =
    GraftOffset(committer.load().flatMap(_.currentSnapshotId).getOrElse(-1L))

  // Trigger.AvailableNow: pin the end offset ONCE at query start so every
  // planned batch stops at that head even if writers keep committing.
  @volatile private var availableNowEnd: Option[GraftOffset] = None
  override def prepareForTriggerAvailableNow(): Unit = availableNowEnd = Some(headOffset())
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = availableNowEnd.getOrElse(headOffset())
  override def reportLatestOffset(): Offset = headOffset()
  override def latestOffset(): Offset = headOffset()
  override def deserializeOffset(json: String): Offset = GraftOffset(json.trim.toLong)
  override def commit(end: Offset): Unit = ()
}

/** `spark.readStream.format("graft").load(root)` — the committed table AS
  * a stream: each micro-batch reads exactly the data files appended
  * between the last checkpointed snapshot and the current head (never a
  * re-listing, never a re-read), so a downstream pipeline tails the table
  * with exactly-once file-level semantics. A DATA-PRESERVING replace
  * (compaction / MoR fold) in the range is crossed emitting nothing —
  * matching Iceberg's incremental scans, and letting a checkpointed tail
  * survive the maintenance clock — unless it merged away appends the
  * consumer hasn't read (physically deleted → loud refusal). A
  * row-changing replace/overwrite fails the batch loudly (file diff ≠
  * row diff — resume requires a fresh full read). Partition planning
  * reuses the batch scan's manifest-bound pruning and reader. */
final class GraftMicroBatchStream(protected val tableRoot: String, required: StructType, pushed: Array[Filter],
                                  skipDeleteSnapshots: Boolean = false) extends SnapshotOffsets {
  override def initialOffset(): org.apache.spark.sql.connector.read.streaming.Offset = GraftOffset(-1L)
  override def stop(): Unit = {
    // an over-cap bootstrap broadcast would otherwise pin its mask rows in
    // block storage until ContextCleaner happens to GC the reference
    bootstrapMasks.foreach(b => try b.destroy() catch { case _: Exception => () })
    bootstrapMasks = None
  }

  override def planInputPartitions(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      end: org.apache.spark.sql.connector.read.streaming.Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[GraftOffset].snapshotId
    val to   = end.asInstanceOf[GraftOffset].snapshotId
    // end = -1 with a real checkpointed start means the metadata became
    // unreadable mid-stream: planning "empty" would advance the
    // checkpoint to -1 and the next healthy batch would re-read the whole
    // table into the sink. Fail the batch; the stream retries.
    if (to == -1L && from != -1L)
      throw new IllegalStateException(
        s"table $tableRoot metadata unreadable while the checkpoint holds snapshot $from")
    if (to == -1L || from == to) return Array.empty[InputPartition]
    // merge-on-read for the stream: the BOOTSTRAP batch (from == -1) masks
    // delete files at its end snapshot exactly like the batch scan — a
    // stream commits its progress and can never retract, so masked rows
    // must never enter the sink. Incremental batches read only files
    // appended by the range's append commits (appendsBetween CROSSES
    // data-preserving replaces — compaction/MoR folds — emitting nothing,
    // and REFUSES row-changing delete/overwrite commits), and appended rows
    // postdate every earlier delete (deleteWhereEq pins keys below the
    // watermark), so they need no masks.
    if (from == -1L) {
      val surviving = committer.activeDataFilesAt(to)
        .filter(f => pushed.forall(flt => GraftScan.mayMatch(f, flt)))
      val delsAt = EventTable.pruneDeleteFiles(surviving, committer.activeDeleteFilesAt(to))
      val (mkPartition, bc) = GraftScan.planMasks(tableRoot, delsAt)
      bootstrapMasks = bc
      surviving.map(mkPartition).toArray[InputPartition]
    } else {
      committer.appendsBetween(from, to, skipDeleteSnapshots)
        .filter(f => pushed.forall(flt => GraftScan.mayMatch(f, flt)))
        .map(f => GraftInputPartition(tableRoot, f.filePath))
        .toArray[InputPartition]
    }
  }

  // the bootstrap's over-cap mask broadcast, when planning escalated —
  // destroyed in stop() (the stream, unlike a batch scan, has a lifecycle)
  @volatile private var bootstrapMasks: GraftScan.MaskBroadcast = None

  override def createReaderFactory(): PartitionReaderFactory =
    // the bootstrap is the only batch that can carry masks (incremental
    // batches are append-only by appendsBetween's guard, appended rows
    // postdate every equality tombstone via the watermark pin, and
    // positional deletes reference only pre-existing files)
    GraftReaderFactory(required, masks = bootstrapMasks)
}

final class GraftReaderFactory(required: StructType, masks: GraftScan.MaskBroadcast,
                               conf: Broadcast[SerializableConfiguration]) extends PartitionReaderFactory {
  /** This partition with its delete masks in hand: inline from the task
    * binary, or resolved executor-side from the shared broadcast (same
    * keying as the inline path: file identity + path partition; bounds
    * pruning of the equality slice is a task-binary optimization the
    * broadcast path doesn't need — the reader binary-searches anyway). */
  private def resolved(p: GraftInputPartition): GraftInputPartition =
    if (!p.broadcastMasks) p
    else {
      val (posByFile, eqByPart) = masks.getOrElse(throw new IllegalStateException(
        s"${p.relPath} planned broadcast masks but the factory carries none")).value
      p.copy(delPositions = posByFile.getOrElse(EventTable.morKeyOf(p.relPath), Array.empty[Long]),
             eqSeqs = eqByPart.getOrElse(EventTable.pathPartitionOf(p.relPath), Array.empty[Long]))
    }

  // Columnar ALWAYS: every committed column type is vectorizable, and masks
  // apply batch-side — one delete file must not de-vectorize a 100 TB scan.
  // Spark asks for a row reader only when a partition refuses columnar.
  override def supportColumnarReads(partition: InputPartition): Boolean = true
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("graft reads are columnar")

  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] =
    new GraftFileReader(resolved(partition.asInstanceOf[GraftInputPartition]), required, conf.value.value)
}

object GraftReaderFactory {
  /** The factory for one planned read. The session's Hadoop conf
    * (`spark.hadoop.*`, `sparkContext.hadoopConfiguration`: s3a
    * credentials, endpoints, `fs.<scheme>.impl`) ships once per read as a
    * broadcast — the TaskWriter/OrphanGc pattern — so every executor-side
    * footer and page read resolves the FileSystem the driver resolved. The
    * read-support class and the SQL keys the vectorized decoder's schema
    * converter requires are pinned here, once, to the values Spark's
    * path-form `VectorizedParquetRecordReader.initialize` uses. */
  def apply(required: StructType, masks: GraftScan.MaskBroadcast = None): GraftReaderFactory = {
    val conf = TableIO.hadoopConf()
    conf.set(ParquetInputFormat.READ_SUPPORT_CLASS, classOf[ParquetReadSupport].getName)
    Seq(SQLConf.PARQUET_BINARY_AS_STRING, SQLConf.PARQUET_INT96_AS_TIMESTAMP, SQLConf.CASE_SENSITIVE,
        SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED, SQLConf.LEGACY_PARQUET_NANOS_AS_LONG)
      .foreach(e => conf.setBoolean(e.key, false))
    val bc = org.apache.spark.sql.SparkSession.active.sparkContext
      .broadcast(new SerializableConfiguration(conf))
    new GraftReaderFactory(required, masks, bc)
  }
}

/** Vectorized read of one committed file through Spark's own
  * VectorizedParquetRecordReader — the decoder `spark.read.parquet` uses
  * (column pruning file-side, batch-at-a-time decode), so a scan through
  * `format("graft")` tracks the native reader's speed while keeping OUR
  * manifest-bound file pruning in planInputPartitions. It serves the batch
  * scan, the SQL catalog, the append tail and the changefeed stream.
  *
  * Columns requested but absent from this file's pages ride in as
  * CONSTANT vectors through initBatch: directory keys (`partition` always;
  * `event_date` under the evolved date spec) decode from the Hive path,
  * `_change_type` from the partition, columns added by schema evolution
  * as null. The footer is read once, with the broadcast session conf, and
  * handed to the decoder with its open stream.
  *
  * Masks apply BATCH-SIDE: a row is emitted iff no drop mask hits it
  * (`delPositions`: masked physical ordinals; `eqSeqs`: tombstoned
  * sequences) and — when keep masks are set (a changefeed delete
  * partition) — a keep mask does (`keepPositions`/`keepSeqs`). Survivors
  * of a partly-masked batch are selection-copied into on-heap vectors; a
  * batch with nothing masked ships as a zero-copy view, and an unmasked
  * partition never builds a selection at all. Sequence masks on a
  * projection without `sequence` read it as a HIDDEN extra column. */
final class GraftFileReader(p: GraftInputPartition, required: StructType, sharedConf: Configuration)
    extends PartitionReader[ColumnarBatch] {
  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
  import org.apache.spark.sql.vectorized.ColumnVector

  private val path   = new Path(s"${p.tableRoot}/${p.relPath}")
  private val conf   = new Configuration(sharedConf) // the requested schema is per file
  private val file   = HadoopInputFile.fromPath(path, conf)
  private val stream = file.newStream()
  private val reader = new VectorizedParquetRecordReader(/* useOffHeap = */ false, /* capacity = */ 4096)

  private val seqMasks  = p.eqSeqs.nonEmpty || p.keepSeqs.nonEmpty
  private val selective = p.keepPositions.nonEmpty || p.keepSeqs.nonEmpty
  private val masked    = selective || p.delPositions.nonEmpty || p.eqSeqs.nonEmpty

  // source batch column order: [present..., hidden seq?, const...]
  private val batchOrder: Seq[String] = try {
    val footer = ParquetFileReader.readFooter(file, HadoopReadOptions.builder(conf, path).build(), stream)
    val inPages = footer.getFileMetaData.getSchema.getFields.asScala.map(_.getName).toSet
    require(!seqMasks || inPages.contains("sequence"),
      s"${p.relPath} carries sequence masks but has no sequence column")
    val (present, consts) = required.fields.toSeq.partition(f => inPages.contains(f.name))
    val hidden =
      if (seqMasks && !present.exists(_.name == "sequence")) Seq(StructField("sequence", LongType))
      else Nil
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, StructType(present ++ hidden).json)
    reader.initialize(new FileSplit(path, 0L, file.getLength, Array.empty[String]),
      new TaskAttemptContextImpl(conf, new TaskAttemptID()), Some(file), Some(stream), Some(footer))
    reader.initBatch(StructType(consts), new GenericInternalRow(consts.map(constOf).toArray[Any]))
    reader.enableReturningBatches()
    (present ++ hidden ++ consts).map(_.name)
  } catch { case e: Throwable => reader.close(); stream.close(); throw e }

  private val srcIdx   = required.fields.map(f => batchOrder.indexOf(f.name))
  private val seqIdx   = batchOrder.indexOf("sequence")
  // the raw batch is only safe when it IS the required projection
  private val identity = batchOrder.length == srcIdx.length && srcIdx.zipWithIndex.forall { case (s, i) => s == i }
  // all-kept path: a zero-copy wrapper of the source vectors in the
  // required order (vectors are stable across batches — built once)
  private var view: ColumnarBatch = _
  // masked path: per-batch selection and its copy targets, built on first use
  private val keep = if (masked) new Array[Boolean](4096) else null
  private var outBatch: ColumnarBatch = _

  private var ordinalBase = 0L // physical row index of the current batch's first row
  private var delIdx      = 0  // cursors into the sorted position masks
  private var keepIdx     = 0
  private var current: ColumnarBatch = _

  private def constOf(f: StructField): Any =
    if (f.name == "_change_type" && p.changeType.isDefined) UTF8String.fromString(p.changeType.get)
    else GraftFileReader.pathValue(p.relPath, f)

  override def next(): Boolean = {
    while (reader.nextKeyValue()) {
      val b = reader.getCurrentValue.asInstanceOf[ColumnarBatch]
      if (!masked) { current = viewOf(b); return true }
      val n    = b.numRows()
      val kept = select(b, n)
      ordinalBase += n
      if (kept == n) { current = viewOf(b); return true }
      if (kept > 0)  { current = compact(b, n, kept); return true }
      // fully-masked batch: decode the next one
    }
    false
  }

  /** Fill `keep` for one batch; returns the kept-row count. Keep masks
    * mark first, drop masks clear last, so a drop always wins. */
  private def select(b: ColumnarBatch, n: Int): Int = {
    java.util.Arrays.fill(keep, 0, n, !selective)
    keepIdx = mark(p.keepPositions, keepIdx, n, value = true)
    if (seqMasks) {
      val seqVec = b.column(seqIdx)
      var r = 0
      while (r < n) {
        if (keep(r) || p.keepSeqs.nonEmpty) {
          val s = seqVec.getLong(r)
          keep(r) = (keep(r) || GraftFileReader.hits(p.keepSeqs, s)) && !GraftFileReader.hits(p.eqSeqs, s)
        }
        r += 1
      }
    }
    delIdx = mark(p.delPositions, delIdx, n, value = false)
    var kept = 0
    var r = 0
    while (r < n) { if (keep(r)) kept += 1; r += 1 }
    kept
  }

  /** Set `keep` at the sorted `positions` inside this batch; returns the
    * advanced cursor. */
  private def mark(positions: Array[Long], from: Int, n: Int, value: Boolean): Int = {
    var i = from
    while (i < positions.length && positions(i) < ordinalBase + n) {
      val off = positions(i) - ordinalBase
      if (off >= 0) keep(off.toInt) = value
      i += 1
    }
    i
  }

  private def viewOf(b: ColumnarBatch): ColumnarBatch = {
    if (identity) return b
    if (view == null) view = new ColumnarBatch(srcIdx.map(b.column(_)))
    view.setNumRows(b.numRows())
    view
  }

  private def compact(b: ColumnarBatch, n: Int, kept: Int): ColumnarBatch = {
    if (outBatch == null)
      outBatch = new ColumnarBatch(required.fields.map(f => new OnHeapColumnVector(4096, f.dataType): ColumnVector))
    var i = 0
    while (i < required.fields.length) {
      val dst = outBatch.column(i).asInstanceOf[OnHeapColumnVector]; dst.reset()
      val src = b.column(srcIdx(i))
      val dt  = required.fields(i).dataType
      var r = 0; var o = 0
      while (r < n) {
        if (keep(r)) {
          if (src.isNullAt(r)) dst.putNull(o)
          else dt match {
            case LongType               => dst.putLong(o, src.getLong(r))
            case IntegerType | DateType => dst.putInt(o, src.getInt(r))
            case StringType =>
              val u = src.getUTF8String(r); dst.putByteArray(o, u.getBytes)
            case BinaryType             => dst.putByteArray(o, src.getBinary(r))
            case DoubleType             => dst.putDouble(o, src.getDouble(r))
            case BooleanType            => dst.putBoolean(o, src.getBoolean(r))
            case other => throw new IllegalArgumentException(s"unsupported type $other")
          }
          o += 1
        }
        r += 1
      }
      i += 1
    }
    outBatch.setNumRows(kept)
    outBatch
  }

  override def get(): ColumnarBatch = current
  override def close(): Unit = { reader.close(); if (outBatch != null) outBatch.close() }
}

object GraftFileReader {
  private def hits(sorted: Array[Long], s: Long): Boolean =
    sorted.nonEmpty && java.util.Arrays.binarySearch(sorted, s) >= 0

  /** A directory-key column's typed value, decoded from the file's Hive
    * path segment; null when the path has no such segment. */
  private def pathValue(relPath: String, f: StructField): AnyRef = {
    val raw = relPath.split('/').collectFirst {
      case seg if seg.startsWith(f.name + "=") => seg.substring(f.name.length + 1)
    }
    raw match {
      case None => null // schema-evolved column absent from pre-evolution files
      case Some("__HIVE_DEFAULT_PARTITION__") => null // a null directory-key value
      case Some(v) => f.dataType match {
        case IntegerType => Integer.valueOf(v.toInt)
        case LongType    => java.lang.Long.valueOf(v.toLong)
        // DateType vectors/rows carry epoch DAYS ints; the dir value is the
        // ISO string Spark's dynamic-partition writer emitted
        case DateType    => Integer.valueOf(java.time.LocalDate.parse(v).toEpochDay.toInt)
        case StringType  => UTF8String.fromString(v)
        case other => throw new IllegalArgumentException(
          s"unsupported directory-key type $other for ${f.name}")
      }
    }
  }
}
