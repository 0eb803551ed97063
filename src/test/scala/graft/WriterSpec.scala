package graft

import graft.core.EventLog
import graft.iceberg.{DataFile, IcebergCommitter, OrphanGc, TableIO}
import graft.table.{EventTable, FileStats, TaskWriter}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.{CompressionCodecName, ParquetMetadata}
import org.apache.parquet.io.LocalInputFile
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The size-targeted writer's file-count contract: exactly
  * Σ ceil(partition_bytes / target) files — the arithmetic the
  * a4_manifest_totals oracle (and manifest totals at any scale) relies on.
  * Rows reach the task writer sorted by (partition, bucket), and each run
  * of one pair is one file, so the count is exact even when two buckets
  * hash to one shuffle task. The task writer itself is held to Spark's own
  * parquet writer (schema, codec, rows) and to a footer re-read (stats). */
class WriterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf         = "/root/testdata/sf0.001"

  test("writeData emits exactly ceil(bytes/target) files per partition; returns its own files") {
    val df   = EventTable.committedSchema(EventLog.log(spark, "/root/testdata/sf0.001"))
    val root = TestSpark.tempDir("graft-writer-").toString
    val target = 8L * 1024 // force several buckets per partition
    val expected = df
      .groupBy("partition")
      .agg(sum(length(col("payload")) + lit(64L)).as("bytes"))
      .collect()
      .map(r => math.max(1L, (r.getLong(1) + target - 1) / target))
      .sum
    val written = EventTable.writeData(df, root, targetFileSize = target)
    assert(written.size.toLong === expected, "file count must be exactly Σ ceil(bytes/target)")
    assert(EventTable.listParquet(root).toSet === written.toSet,
      "returned list must be exactly what landed in data/")
    // every file holds one partition and rows stay intact
    val back = EventTable.readCommitted(spark,
      { // commit so readCommitted can resolve the files
        val c = new graft.iceberg.IcebergCommitter(new graft.iceberg.LocalTableIO(root), "events")
        val files = EventTable.collectDataFiles(spark, root, written)
        c.commitAppend(files, EventTable.watermarksOf(files))
        root
      })
    assert(back.count() === df.count())
  }

  private def footer(file: Path): ParquetMetadata = {
    val r = ParquetFileReader.open(new LocalInputFile(file))
    try r.getFooter finally r.close()
  }

  private def filesUnder(dir: Path): Seq[Path] = {
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).toSeq finally walk.close()
  }

  test("task-written files match Spark's own parquet writer: schema, ZSTD, rows, per-file sort") {
    val df   = EventTable.committedSchema(EventLog.log(spark, sf))
    val root = TestSpark.tempDir("graft-writer-parity-").toString
    val ref  = TestSpark.tempDir("graft-writer-ref-").resolve("t").toString
    val written = EventTable.writeFiles(df, root, targetFileSize = 16L * 1024)
    assert(written.size > 1)
    df.drop("partition").write.option("compression", "zstd").parquet(ref)
    val refFooter = footer(filesUnder(Paths.get(ref)).find(_.toString.endsWith(".parquet")).get)
    val rowMeta   = "org.apache.spark.sql.parquet.row.metadata"
    written.foreach { case (f, _) =>
      val meta = footer(Paths.get(root, f.filePath))
      assert(meta.getFileMetaData.getSchema === refFooter.getFileMetaData.getSchema, f.filePath)
      assert(meta.getFileMetaData.getKeyValueMetaData.get(rowMeta) ===
               refFooter.getFileMetaData.getKeyValueMetaData.get(rowMeta), f.filePath)
      meta.getBlocks.asScala.flatMap(_.getColumns.asScala).foreach { c =>
        assert(c.getCodec === CompressionCodecName.ZSTD, s"${f.filePath} ${c.getPath}")
      }
    }
    // identical rows (the partition column comes back from the directory)
    val back = spark.read.option("basePath", s"$root/data")
      .parquet(written.map(w => s"$root/${w._1.filePath}"): _*)
      .select(df.columns.map(col).toIndexedSeq: _*)
    assert(back.count() === df.count())
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
    // every file sorted by (timestamp_ms, sequence) in physical row order
    val rows = back.select(col("_metadata.file_path"), col("_metadata.row_index"),
                           col("timestamp_ms"), col("sequence")).collect()
    rows.groupBy(_.getString(0)).foreach { case (file, rs) =>
      val keys = rs.sortBy(_.getLong(1)).map(r => (r.getLong(2), r.getLong(3))).toSeq
      assert(keys === keys.sorted, s"$file is not sorted by (timestamp_ms, sequence)")
    }
  }

  private def sameStats(a: (DataFile, Long), b: (DataFile, Long)): Unit = {
    def norm(f: DataFile) = f.copy(lowerBounds = Map.empty, upperBounds = Map.empty)
    def bounds(m: Map[Int, Array[Byte]]) = m.map { case (k, v) => k -> v.toSeq }
    assert(norm(a._1) === norm(b._1))
    assert(bounds(a._1.lowerBounds) === bounds(b._1.lowerBounds), a._1.filePath)
    assert(bounds(a._1.upperBounds) === bounds(b._1.upperBounds), a._1.filePath)
    assert(a._2 === b._2, s"${a._1.filePath} raw bytes")
  }

  test("writeFiles' returned stats equal a footer re-read, flat and date layouts") {
    val df   = EventTable.committedSchema(EventLog.log(spark, sf))
    val conf = spark.sessionState.newHadoopConf()
    Seq(false, true).foreach { dateLayout =>
      val root    = TestSpark.tempDir("graft-writer-stats-").toString
      val written = EventTable.writeFiles(df, root, targetFileSize = 16L * 1024, dateLayout = dateLayout)
      assert(written.nonEmpty)
      assert(written.forall(_._1.filePath.contains("/event_date=")) === dateLayout)
      assert(EventTable.listParquet(root) === written.map(_._1.filePath))
      written.foreach(w => sameStats(w, FileStats.dataFileAndRaw(root, w._1.filePath, conf)))
      assert(written.map(_._1.recordCount).sum === df.count())
    }
  }

  test("a write whose input throws in one task commits nothing and leaves only reclaimable orphans") {
    val boom = udf { (p: Int) =>
      if (p == 3) { Thread.sleep(3000); throw new IllegalStateException("injected write failure") }
      p
    }
    val df   = EventTable.committedSchema(EventLog.log(spark, sf))
      .repartition(4, col("partition"))
      .withColumn("partition", boom(col("partition")))
    val root = TestSpark.tempDir("graft-writer-crash-").toString
    val c    = new IcebergCommitter(TableIO.forRoot(root), EventTable.Topic)
    val err = intercept[Exception] {
      val files = EventTable.writeFiles(df, root, precomputedStats = Some(Nil), clustered = true).map(_._1)
      c.commitAppend(files, EventTable.watermarksOf(files))
    }
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("injected write failure")), err)
    assert(c.currentVersion() === 0, "nothing may be committed")
    val rootP = Paths.get(root)
    val left  = filesUnder(rootP).map(p => rootP.relativize(p).toString)
    assert(left.nonEmpty && left.forall(_.startsWith("data/")), left)
    Thread.sleep(20) // the orphan horizon is strict (mtime < now)
    import spark.implicits._
    val orphans = OrphanGc.orphans(spark, root, olderThanMs = 0).as[String].collect().toSet
    assert(left.toSet.subsetOf(orphans), s"not reclaimable: ${left.toSet -- orphans}")
    val dirs = { val w = Files.walk(rootP); try w.iterator().asScala.toSeq finally w.close() }
      .filter(Files.isDirectory(_)).map(_.getFileName.toString)
    assert(!dirs.exists(d => d == ".staging" || d == "_temporary"), dirs)
  }

  /** Gateway-shaped events over three days from `spark.range`: a plan with
    * a non-local leaf, so [[EventTable.writeFiles]] writes it as a job. */
  private def rangeEvents(n: Int): DataFrame = spark.range(0, n, 1, 3).select(
    (col("id") + 1).as("sequence"),
    lit("t").as("topic"),
    expr("""cast(concat('{"m":{"v":', id % 97, '},"pad":"', repeat('x', cast(id % 40 as int)), '"}') as binary)""")
      .as("payload"),
    (lit(1700000000000L) + (col("id") * 7919 % 3) * 86400000L + col("id") * 104729 % 86400000L).as("timestamp_ms"),
    when(col("id") % 3 === 0, lit(null).cast("string")).otherwise(concat(lit("k"), col("id"))).as("idempotency_key"),
    (col("id") % 3).cast("int").as("partition"))
    .withColumn("event_date", expr("date_add(date '1970-01-01', cast(timestamp_ms div 86400000 as int))"))

  /** Each written file keyed by its path without the UUID: its rows in
    * physical order (binary as byte lists) and its stats. */
  private def byKey(root: String, written: Seq[(DataFile, Long)]): Map[String, (Seq[Seq[Any]], (DataFile, Long))] = {
    def keyOf(path: String) = path.replaceAll("-[0-9a-f-]{36}\\.parquet$", "")
    val rows = spark.read.option("basePath", s"$root/data").parquet(written.map(w => s"$root/${w._1.filePath}"): _*)
      .select(col("*"), col("_metadata.file_path").as("_file"), col("_metadata.row_index").as("_pos"))
      .collect().toSeq
      .groupBy(r => keyOf(r.getAs[String]("_file").substring(s"file:$root/".length)))
      .map { case (k, rs) =>
        k -> rs.sortBy(_.getAs[Long]("_pos")).map(_.toSeq.dropRight(2).map { case b: Array[Byte] => b.toSeq; case v => v })
      }
    written.map { case (f, raw) => keyOf(f.filePath) -> (rows(keyOf(f.filePath)), (f.copy(filePath = keyOf(f.filePath)), raw)) }.toMap
  }

  test("a driver-local input writes the same files as a job, row for row, with no job") {
    val extract = graft.extract.TableSchemaConfig(fields = Seq(graft.extract.FieldSpec("v", "m.v", "Int32")))
    def extracted(df: DataFrame) = graft.extract.PayloadExtractor.extract(df, col("payload"), extract)
      .select("sequence", "topic", "timestamp_ms", "idempotency_key", "event_date", "v", "_payload_overflow", "partition")
    Seq[(String, Boolean, DataFrame => DataFrame)](
      ("flat", false, identity), ("date", true, identity), ("extracted", false, extracted)
    ).foreach { case (shape, dateLayout, project) =>
      val job   = rangeEvents(3000)
      val local = spark.createDataFrame(job.collect().toList.asJava, job.schema)
      assert(TaskWriter.localRows(project(local)).isDefined && TaskWriter.localRows(project(job)).isEmpty, shape)
      val stats = Some(job.groupBy("partition").agg(count(lit(1)), sum(length(col("payload")) + 64L))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq)
      def write(df: DataFrame) = {
        val root = TestSpark.tempDir(s"graft-writer-$shape-").toString
        (root, EventTable.writeFiles(project(df), root, targetFileSize = 48L * 1024, precomputedStats = stats,
                                     dateLayout = dateLayout))
      }
      val (jobRoot, jobFiles) = write(job)
      var localOut: (String, Seq[(DataFile, Long)]) = null
      assert(TestSpark.jobsDuring { localOut = write(local) } === 0, shape)
      val (a, b) = (byKey(jobRoot, jobFiles), byKey(localOut._1, localOut._2))
      assert(a.size > 5 && a.keySet === b.keySet, shape)
      a.foreach { case (k, (rows, stat)) =>
        assert(b(k)._1 === rows, s"$shape $k rows or their order differ")
        sameStats(b(k)._2, stat)
      }
    }
  }

  test("a driver-side write failing in one partition ends the others first; only orphans stay") {
    val schema = StructType(Seq(
      StructField("sequence", LongType), StructField("timestamp_ms", LongType),
      StructField("payload", BinaryType), StructField("partition", IntegerType)))
    // partition 3's first row has no sequence, so its file cannot be named
    val rows = (0 until 6).flatMap(p => (1 to 20000).map { i =>
      Row(if (p == 3 && i == 1) null else i.toLong, 1000L + i, s"event-$p-$i".getBytes, p)
    })
    val df   = spark.createDataFrame(rows.asJava, schema)
    val root = TestSpark.tempDir("graft-writer-local-crash-").toString
    val c    = new IcebergCommitter(TableIO.forRoot(root), EventTable.Topic)
    val err = intercept[IllegalArgumentException] {
      val files = EventTable.writeFiles(df, root, precomputedStats = Some(Nil)).map(_._1)
      c.commitAppend(files, EventTable.watermarksOf(files))
    }
    assert(err.getMessage.contains("non-null partition and sequence"), err)
    assert(c.currentVersion() === 0, "nothing may be committed")
    // every other partition's write ran to its end before the throw: one
    // finished file each, footer and all
    val rootP = Paths.get(root)
    val left  = filesUnder(rootP)
    assert(left.map(f => footer(f).getBlocks.asScala.map(_.getRowCount).sum).sorted === Seq.fill(5)(20000L))
    Thread.sleep(20) // the orphan horizon is strict (mtime < now)
    import spark.implicits._
    val orphans = OrphanGc.orphans(spark, root, olderThanMs = 0).as[String].collect().toSet
    val rel     = left.map(p => rootP.relativize(p).toString).toSet
    assert(rel.subsetOf(orphans), s"not reclaimable: ${rel -- orphans}")
  }
}
