package graft.sources

import graft.core.{EventLog, Oracle}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Q8: the legacy (pre-Iceberg) JSON-segment storage mode
  * (`/root/reference/src/storage/s3.rs:187-288`): per-partition segment
  * objects named `{startSeqHex:016x}-{endSeqHex:016x}.json` under
  * `segments/{topic}/{partition}/`. Reads prune whole segments by the
  * sequence range encoded in the NAME (skip segments ending before the
  * requested offset) before any bytes are opened — the same trick our
  * Iceberg path does with manifest bounds.
  *
  * Deprecated in the reference; kept for read compatibility. The writer
  * materializes the layout for tests/queries (the reference writes
  * segments from its flusher) as a DISTRIBUTED job: each
  * (partition, segment-bucket) is shuffled to one task and written there —
  * at scale each write is one object-store put per segment, the same shape
  * as the reference's flusher, with no row data ever on the driver.
  */
object SegmentStore {
  val Topic = "events"

  private def segName(startSeq: Long, endSeq: Long) = f"$startSeq%016x-$endSeq%016x.json"

  /** Materialize the canonical log as JSON segments of `rowsPerSegment`.
    * Sequences are dense from 1 per partition, so bucket
    * `(sequence-1) / rowsPerSegment` reproduces exactly the consecutive
    * runs a sequential writer would cut. */
  def write(log: DataFrame, dir: String, rowsPerSegment: Int = 1000): Unit = {
    log
      .select(col("part_id"), col("sequence"), col("timestamp_ms"), col("event_id"), col("props"),
              ((col("sequence") - 1) / rowsPerSegment).cast("int").as("_seg"))
      .repartition(col("part_id"), col("_seg"))
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        it.toSeq.groupBy(r => (r.getInt(0), r.getInt(5))).foreach { case ((p, _), rows) =>
          val sorted = rows.sortBy(_.getLong(1))
          val segDir = Paths.get(dir, "segments", Topic, p.toString)
          Files.createDirectories(segDir)
          val lines = sorted.map { r =>
            s"""{"sequence":${r.getLong(1)},"timestamp_ms":${r.getLong(2)},"event_id":${r.getLong(3)},"props":${jsonStr(r.getString(4))}}"""
          }
          Files.writeString(
            segDir.resolve(segName(sorted.head.getLong(1), sorted.last.getLong(1))),
            lines.mkString("\n"))
        }
      }
  }

  private def jsonStr(s: String): String = graft.core.JsonUtil.quote(s)

  /** Segment read with name-range pruning: only files whose end sequence is
    * ≥ `fromSeq` are handed to Spark's JSON reader. */
  def read(spark: SparkSession, dir: String, partition: Int, fromSeq: Long): DataFrame = {
    val segDir = Paths.get(dir, "segments", Topic, partition.toString)
    val files =
      if (!Files.isDirectory(segDir)) Nil
      else {
        val s = Files.list(segDir)
        try s.iterator().asScala
          .filter { p =>
            val name = p.getFileName.toString
            name.endsWith(".json") && {
              val end = java.lang.Long.parseLong(name.stripSuffix(".json").split('-')(1), 16)
              end >= fromSeq // prune by name before reading bytes
            }
          }
          .map(_.toString).toSeq.sorted
        finally s.close()
      }
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "sequence LONG, timestamp_ms LONG, event_id LONG, props STRING")
    if (files.isEmpty)
      // typed empty result, not a schema-less frame — column references on
      // a fully-pruned read must still resolve
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else
      spark.read.schema(schema).json(files: _*).filter(col("sequence") >= fromSeq)
  }
}

/** One segment store per (JVM, sfDir), plus the Q8 oracle query. */
object SegmentQueries {
  private val memo = new graft.core.FileMemo[String]

  private def storeDir(spark: SparkSession, sfDir: String): String =
    memo.getOrElseUpdate(sfDir) { tmp =>
      val dir = tmp("graft-segments-")
      SegmentStore.write(EventLog.log(spark, sfDir), dir)
      dir
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q8_segment_read" -> { (s, dir) =>
      SegmentStore
        .read(s, storeDir(s, dir), partition = 2, fromSeq = 40L)
        .orderBy("sequence")
        .limit(300)
        .select("sequence", "timestamp_ms", "event_id", "props")
    }
  )

  def oracles: Map[String, String] = Map(
    "q8_segment_read" -> Oracle.sql(
      """SELECT sequence, timestamp_ms, event_id, props FROM evlog
        |WHERE part_id = 2 AND sequence >= 40 ORDER BY sequence LIMIT 300""".stripMargin)
  )
}
