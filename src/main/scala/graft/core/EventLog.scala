package graft.core

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField}


/** Canonical partitioned event log — the reference's core abstraction.
  *
  * The reference (`/root/reference/src/contracts/storage.rs:204-211`) models a
  * topic as numeric partitions of `StoredEvent`s, each carrying a
  * per-partition monotonically increasing `sequence` (INV-1,
  * `/root/reference/SPEC.md:749`) assigned at write time
  * (`/root/reference/src/storage/sequence.rs:59-82`), with optional
  * idempotency-key dedup where a duplicate write is dropped and the original
  * offset returned (INV-4, `/root/reference/src/storage/rocksdb.rs:504-576`).
  *
  * Here the driver's `events.parquet` plays the role of the raw write stream:
  *   - `part_id`        = producer-chosen partition. Retries (every 97th
  *                        event re-sends the previous event's idempotency
  *                        key) target the ORIGINAL event's partition, like a
  *                        real producer re-routing a retry — so INV-4 dedup
  *                        is actually exercised on every retry
  *   - `timestamp_ms`   = event time in epoch millis (reference `timestamp_ms`)
  *   - `sequence`       = per-partition dense sequence over arrival order
  *                        (timestamp_ms, event_id) AFTER dedup — matching the
  *                        reference, where a duplicate never consumes a
  *                        sequence number
  *   - `event_date_days`/`event_hour` = derived partition columns, matching
  *     `derive_partition_columns` (`/root/reference/src/storage/parquet.rs:40-49`)
  */
object EventLog {
  /** Number of log partitions the synthetic producer writes to. */
  val NumPartitions = 8

  /** `ts` is parquet TIMESTAMP(NANOS), only readable as raw longs with this
    * session-level legacy flag (Spark has no per-read option for it). Set
    * once, guarded, instead of mutating the conf on every call. */
  private def ensureNanosAsLong(spark: SparkSession): Unit =
    if (!spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** Raw events with millisecond event time and no log derivation — the
    * shared reader for analytics over the write stream itself. Nanos →
    * millis uses integer `div` (float division loses precision at 1.7e18),
    * matching the oracle's `epoch_ms(ts)`. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    ensureNanosAsLong(spark)
    // the reader keys its cached schema on nanosAsLong, so `ts` keeps the
    // type this session reads it as
    val df = ParquetTables.read(spark, s"$sfDir/events.parquet")
    // The generator has shipped `ts` as both nanosecond timestamps (read as
    // LONG nanos under nanosAsLong) and µs TIMESTAMP(_NTZ); accept either.
    // NTZ is interpreted in the session zone — all entry points pin UTC, so
    // unix_micros matches the oracle's epoch_ms(ts) exactly.
    val tsMs = df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000000")
      case _ => expr("unix_micros(cast(ts as timestamp)) div 1000")
    }
    df
      .select(
        col("event_id"),
        tsMs.as("timestamp_ms"),
        col("user_id"),
        col("event_type"),
        col("value"),
        col("props")
      )
  }

  /** Raw write stream: derive partition, event-time ms, idempotency key.
    * Retries join back to their original event for partition routing,
    * mirroring a producer that re-sends to the same partition. */
  def raw(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = events(spark, sfDir)
    val orig = ev.select(col("event_id").as("o_id"), col("user_id").as("o_user"))
    ev.withColumn(
        "retry_of",
        when(col("event_id") % 97 === 0 && col("event_id") > 0, col("event_id") - 1)
      )
      .join(orig, col("retry_of") === col("o_id"), "left")
      .withColumn("part_id", pmod(coalesce(col("o_user"), col("user_id")), lit(NumPartitions)).cast("int"))
      .withColumn("idempotency_key", concat(lit("k"), coalesce(col("retry_of"), col("event_id")).cast("string")))
      .drop("retry_of", "o_id", "o_user")
  }

  /** Idempotency dedup (S7): first write per (part_id, key) wins; retries are
    * dropped. Mirrors the reference's `idem:` lookup short-circuit. */
  def deduped(rawDf: DataFrame): DataFrame = {
    val w = Window
      .partitionBy(col("part_id"), col("idempotency_key"))
      .orderBy(col("timestamp_ms"), col("event_id"))
    rawDf
      .withColumn("_rn", row_number().over(w))
      // a NULL key means "no idempotency" — the reference skips dedup for
      // key-less writes entirely (`src/storage/rocksdb.rs:504-576` looks up
      // only Some(key)), so every null-key row is kept; they'd otherwise
      // collapse to one per partition (window partitioning groups nulls)
      .filter(col("_rn") === 1 || col("idempotency_key").isNull)
      .drop("_rn")
  }

  /** S6 at scale: dense per-partition sequences via the two-phase
    * distributed row_number. A plain `Window.partitionBy(part_id)` puts an
    * entire log partition on ONE task (12.5 TB per task at 100 TB); instead:
    *
    *  1. range-partition by (part_id, timestamp_ms, event_id) into the
    *     session's shuffle parallelism and sort within partitions — global
    *     order, no single-task hotspot;
    *  2. count rows per (range partition, part_id) — a metadata-sized
    *     collect;
    *  3. assign `base(part) + prior-range counts + local running index` per
    *     row. The shuffle output is reused between the count pass and the
    *     assignment pass (skipped stage), so data moves once.
    *
    * `base` carries persisted high watermarks so streaming batches continue
    * numbering where the committed table left off (the reference seeds its
    * AtomicU64 from the durable HWM the same way,
    * `/root/reference/src/storage/sequence.rs:59-82`).
    */
  def assignSequences(deduped: DataFrame, base: Map[Int, Long] = Map.empty): DataFrame =
    assignSequencesWithStats(deduped, base, byteColumn = None)._1

  /** Rows-per-range-task target for the two-phase prefix sum; a batch at or
    * under this fits one range task comfortably — the scale at which the
    * fused [[assignSequencesPerPartition]] path is the better plan. */
  val RangeTaskRows = 65536L

  /** Per-partition sequencing — the reference's own assignment model (one
    * atomic counter per log partition, `src/storage/sequence.rs:59-82`),
    * Spark-shaped: ONE hash shuffle on `part_id` clusters each log
    * partition wholly on one task, and `row_number()` over
    * (part_id | timestamp_ms, event_id) is the running counter, continued
    * from `base` via a literal-map lookup. Entirely Catalyst — the window's
    * required sort IS the arrival-order sort, there is no counts pass, no
    * second shuffle, and no RDD hop (the previous mapPartitions version
    * paid per-row Row boxing plus an external->internal row conversion on
    * the ingest hot path's widest stage). The output stays clustered by
    * log partition, so a size-targeted write runs directly on these tasks.
    *
    * Parallelism = distinct log partitions per batch (each task may own
    * several). That is the reference's own per-partition ordering bound —
    * sequences within a partition are inherently serial. The two-phase
    * range path ([[assignSequencesWithStats]]) remains for bulk loads where
    * a single partition's slice of ONE batch is itself huge (row_number is
    * also Int-typed, so a single BATCH is bounded at 2^31 rows per log
    * partition — far beyond any micro-batch; bulk loads take the range
    * path). */
  def assignSequencesPerPartition(deduped: DataFrame, base: Map[Int, Long] = Map.empty,
                                  width: Int = 0): DataFrame = {
    val spark = deduped.sparkSession
    val n = if (width > 0) width else spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val baseCol =
      if (base.isEmpty) lit(0L)
      else coalesce(element_at(typedLit(base), col("part_id")), lit(0L))
    val w = Window.partitionBy(col("part_id")).orderBy(col("timestamp_ms"), col("event_id"))
    deduped
      .repartition(n, col("part_id")) // satisfies the window's clustering — one exchange total
      .withColumn("sequence", (baseCol + row_number().over(w).cast(LongType)).as("sequence"))
  }

  /** As [[assignSequences]], and — when `byteColumn` names a string column —
    * the counts pass ALSO accumulates the reference's per-partition byte
    * estimate (UTF-8 bytes + 64B/row, `flusher/mod.rs:361-390`) so the
    * size-targeted writer needs no extra stats job. Returns
    * (sequenced frame, partition → (rows, bytes)). */
  def assignSequencesWithStats(deduped: DataFrame, base: Map[Int, Long] = Map.empty,
                               byteColumn: Option[String] = None,
                               rowsHint: Option[Long] = None): (DataFrame, Map[Int, (Long, Long)]) = {
    val spark = deduped.sparkSession
    val conf  = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    // scale-adaptive range parallelism: ~64k rows per task, capped at the
    // session setting — a huge batch uses full parallelism, a small
    // micro-batch doesn't pay 3 stages × conf tasks of scheduling overhead
    val n = rowsHint
      .map(r => math.max(1, math.min(conf.toLong, (r + RangeTaskRows - 1) / RangeTaskRows).toInt))
      .getOrElse(conf)
    val sorted = deduped
      .repartitionByRange(n, col("part_id"), col("timestamp_ms"), col("event_id"))
      .sortWithinPartitions(col("part_id"), col("timestamp_ms"), col("event_id"))
    val schema  = sorted.schema
    val partIdx = schema.fieldIndex("part_id")
    val byteIdx = byteColumn.map(schema.fieldIndex)
    val rdd     = sorted.rdd

    val perRange: Array[Map[Int, (Long, Long)]] = rdd
      .mapPartitionsWithIndex { (i, it) =>
        val m = scala.collection.mutable.Map.empty[Int, (Long, Long)]
        it.foreach { r =>
          val p = r.getInt(partIdx)
          val b = byteIdx.map(bi => r.getString(bi).getBytes("UTF-8").length.toLong + 64L).getOrElse(0L)
          val (cnt, bytes) = m.getOrElse(p, (0L, 0L))
          m.update(p, (cnt + 1L, bytes + b))
        }
        Iterator.single(i -> m.toMap)
      }
      .collect()
      .sortBy(_._1)
      .map(_._2)
    val counts: Array[Map[Int, Long]] = perRange.map(_.view.mapValues(_._1).toMap)
    val totals: Map[Int, (Long, Long)] = perRange.flatten
      .groupMapReduce(_._1)(_._2) { case ((c1, b1), (c2, b2)) => (c1 + c2, b1 + b2) }

    val offsets: Array[Map[Int, Long]] = {
      val running = scala.collection.mutable.Map.empty[Int, Long]
      counts.map { m =>
        val off = m.keys.map(p => p -> (base.getOrElse(p, 0L) + running.getOrElse(p, 0L))).toMap
        m.foreach { case (p, c) => running.update(p, running.getOrElse(p, 0L) + c) }
        off
      }
    }
    val offB = spark.sparkContext.broadcast(offsets)

    val out = rdd.mapPartitionsWithIndex { (i, it) =>
      val cur = scala.collection.mutable.Map.empty[Int, Long] ++ offB.value(i)
      it.map { r =>
        val p = r.getInt(partIdx)
        val s = cur.getOrElse(p, 0L) + 1L
        cur.update(p, s)
        Row.fromSeq(r.toSeq :+ s)
      }
    }
    (spark.createDataFrame(out, schema.add(StructField("sequence", LongType, nullable = false))), totals)
  }

  /** Derived Iceberg partition columns, matching `derive_partition_columns`
    * (`/root/reference/src/storage/parquet.rs:40-49`). */
  def deriveDateHour(df: DataFrame): DataFrame =
    df.withColumn("event_date_days", expr("timestamp_ms div 86400000").cast("int"))
      .withColumn("event_hour", expr("(timestamp_ms div 3600000) % 24").cast("int"))

  /** The committed log view (S6): per-partition monotonic sequences plus the
    * derived Iceberg partition columns. */
  def log(spark: SparkSession, sfDir: String): DataFrame =
    deriveDateHour(assignSequences(deduped(raw(spark, sfDir))))

  /** The HOT-TIER view: the log materialized once per (session, sfDir) —
    * the analogue of the reference's RocksDB hot buffer (L1,
    * `/root/reference/SPEC.md:196-201`), which serves operational reads
    * from memory while the cold Iceberg tier holds history. Spark's
    * in-memory columnar cache still applies filter pushdown and column
    * pruning on scans. */
  private val hotFrames = SessionMemo.frames()

  def hot(spark: SparkSession, sfDir: String): DataFrame =
    hotFrames.getOrElseUpdate(spark, sfDir)(
      log(spark, sfDir).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
}
